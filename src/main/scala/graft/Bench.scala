package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

object Bench {
  /** Capture guard (r10 verdict "What's wrong" #1): the committed
    * BENCH_SF1_R10.json was poisoned by a concurrent Spark job on the
    * same box (ta14 read 27.2 s vs 3.1 s idle). A bench capture must
    * know whether it was contended, so the artifact itself carries the
    * evidence: 1-minute loadavg and the set of java processes OUTSIDE
    * this JVM's own ancestor chain, sampled at start AND end of the
    * run. With SPARK_GRAFT_BENCH_STRICT=1 the run refuses to start
    * contended (exit 2) — used for every committed capture; the default
    * is stamp-only so driver automation can never be wedged by a stray
    * JVM it didn't know about.
    */
  private def load1: Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  private def foreignJvms: Seq[Long] = {
    val self = ProcessHandle.current()
    val chain = Iterator.iterate(Option(self))(_.flatMap(h =>
      Option(h.parent().orElse(null)))).takeWhile(_.isDefined)
      .flatten.map(_.pid()).toSet
    def isJava(pid: Long): Boolean =
      try scala.io.Source.fromFile(s"/proc/$pid/comm").mkString.trim == "java"
      catch { case NonFatal(_) => false }
    import scala.jdk.CollectionConverters._
    ProcessHandle.allProcesses().iterator().asScala
      .map(_.pid()).filterNot(chain).filter(isJava).toSeq.sorted
  }

  /** Calibration canary (r11 verdict #3): strict mode proves a capture
    * wasn't CONTENDED, but nothing in the artifact says how fast the BOX
    * was — r11's host measured ~25% slower than r10's on untouched
    * queries, and every cross-round per-query delta that round was
    * noise. The canary is a fixed, deterministic CPU+shuffle micro-task
    * (hash chain over range → 1M-group shuffle → checksum; no parquet,
    * no layers, no disk) timed inside every capture and stamped next to
    * load1/foreign_jvms. Cross-round comparisons divide by the canary
    * ratio before reading per-query deltas (SCALING.md). Work is fixed
    * (64 input slices regardless of cpus) so the number is a property of
    * the box+cpu-count, not of the corpus; the checksum is asserted so a
    * codegen/platform change that altered the WORK can never read as a
    * speed change. On drift the failure message prints the new checksum,
    * which is the value to re-pin [[CanaryChecksum]] to. */
  private val CanaryChecksum = -3864612239909279609L
  private def canaryChecksumOf(spark: SparkSession): Long = {
    import org.apache.spark.sql.functions._
    // bit_xor folds, not sum: ANSI mode overflows a LONG sum of 48M
    // full-range hashes; xor is overflow-free and order-independent
    spark.range(0, 112L * 1000 * 1000, 1, 64)
      .select(col("id"), xxhash64(xxhash64(xxhash64(col("id")))).as("h"))
      .select((pmod(col("h"), lit(1000000L))).as("k"), col("h"))
      .groupBy(col("k"))
      .agg(expr("bit_xor(h)").as("s"), count(lit(1)).as("n"))
      .agg(expr("bit_xor(xxhash64(k, s, n))").as("chk"))
      .head().getLong(0)
  }
  private def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    val r = canaryChecksumOf(spark)
    require(r == CanaryChecksum, s"canary checksum drift: $r")
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val (load1Start, foreignStart) = (load1, foreignJvms)
    if (sys.env.get("SPARK_GRAFT_BENCH_STRICT").contains("1") &&
        foreignStart.nonEmpty) {
      System.err.println(s"[bench] REFUSED (strict): competing java " +
        s"processes ${foreignStart.mkString(",")} (load1=$load1Start). " +
        "Idle the box or unset SPARK_GRAFT_BENCH_STRICT.")
      sys.exit(2)
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // UTC like Verify/S3Job: events timestamps are NTZ-reinterpreted in
      // the session zone (Tables.nanosTsToMicros), so a non-UTC host would
      // bench different instants than the verified semantics
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // noop write materializes the FULL plan (count() would let Catalyst
    // eliminate the final sort and prune every expensive projected
    // column — timing an optimizer-gutted query). Failures are recorded
    // as -1.0 so a broken query can never read as a speedup.
    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // drop caches from the previous run: persist() inside a query must
      // be paid by THIS run (a warm run silently hitting the cold run's
      // cache would time a no-op), and accumulated caches across 37×2
      // runs add eviction noise
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9 }
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0 }
    }
    // each query runs cold once, then THREE warm runs; the headline time
    // per query is the warm MEDIAN, so sub-second queries compare
    // meaningfully across rounds (a single warm sample was dominated by
    // GC/scheduler jitter — r4 verdict #8). The cold pass and the raw
    // warm samples are kept for transparency.
    // optional comma-separated prefix filter (e.g. "dd03,dd04,q20") for
    // targeted soaks — the sf3 dedup-family spot-soak doesn't need the
    // other 49 queries
    // canary before the query loop: first run warms codegen/JIT, the
    // median of the next 3 is the box-speed stamp; one more at the end
    // catches drift DURING the capture
    canary(spark)
    val canaryStartSamples = Seq.fill(3)(canary(spark))
    val canaryStart = canaryStartSamples.sorted.apply(1)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith)) }
    // layer-build attribution (r8 verdict #7): ensure() logs every layer
    // it actually builds; draining per query pins each build to the
    // query that first touched it, so a build migrating between
    // first-touchers across rounds is mechanically visible instead of
    // reading as a per-query regression. Warm medians already exclude
    // build cost (layers persist across clearCache); the drain after the
    // warm runs would catch an unexpected warm-run rebuild.
    graft.operators.DedupPrepare.drainBuildLog()
    val results = selected.map { case (name, fn) =>
      val cold = run(name, fn)
      val coldLayers = graft.operators.DedupPrepare.drainBuildLog()
      val warms =
        if (cold < 0) Seq(-1.0)
        else Seq.fill(3)(run(name, fn)).filter(_ >= 0) match {
          case Nil => Seq(-1.0)
          case ok  => ok
        }
      val layers = coldLayers ++ graft.operators.DedupPrepare.drainBuildLog()
      name -> (warms.sorted.apply(warms.length / 2), cold, warms, layers)
    }
    def jmap(sel: ((Double, Double, Seq[Double], Seq[(String, Double)])) => Double) =
      results.map { case (k, v) => Json.quote(k) + ":" + sel(v) }.mkString("{", ",", "}")
    val total = results.values.map(_._1).filter(_ >= 0).sum
    val nFailed = results.values.count(_._1 < 0)
    val samples = results
      .map { case (k, v) => Json.quote(k) + ":" + v._3.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val layersJson = results.toSeq
      .flatMap { case (q, v) => v._4.map { case (l, s) => (l, q, s) } }
      .map { case (l, q, s) =>
        s"""${Json.quote(l)}:{"sec":${f"$s%.3f"},"by":${Json.quote(q)}}""" }
      .mkString("{", ",", "}")
    // Full-fidelity payload (full query names, cold pass, raw warm samples)
    // goes to a FILE: the single-line form was ~6 KB, and the harness that
    // collects this output keeps only a ~2000-char tail of stdout, which
    // truncated the JSON mid-object two rounds running. stdout gets ONLY a
    // compact line (last, so the tail always contains it whole).
    val canaryEnd = canary(spark)
    val (load1End, foreignEnd) = (load1, foreignJvms)
    val contended = foreignStart.nonEmpty || foreignEnd.nonEmpty
    val captureJson =
      s"""{"contended":$contended,"load1_start":$load1Start,"load1_end":$load1End,""" +
      s""""foreign_jvms_start":${foreignStart.mkString("[", ",", "]")},""" +
      s""""foreign_jvms_end":${foreignEnd.mkString("[", ",", "]")},""" +
      s""""canary_sec":${f"$canaryStart%.3f"},""" +
      s""""canary_samples":${canaryStartSamples.map(s => f"$s%.3f").mkString("[", ",", "]")},""" +
      s""""canary_end_sec":${f"$canaryEnd%.3f"}}"""
    if (contended) System.err.println(
      s"[bench] WARNING: capture contended (start=${foreignStart.mkString(",")} end=${foreignEnd.mkString(",")}) — stamped in the artifact")
    val verbose = s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(_._1)},"queries_cold":${jmap(_._2)},"queries_cold_ex_layers":${jmap(v => v._2 - v._4.map(_._2).sum)},"queries_warm_samples":$samples,"layers":$layersJson,"failed":$nFailed,"capture":$captureJson,"sf":${Json.quote(sfDir)}}"""
    val verbosePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_VERBOSE_PATH", "BENCH_VERBOSE.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(verbosePath),
        (verbose + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] verbose payload written to $verbosePath")
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] verbose write failed (${e.getMessage}); payload follows on stderr")
      System.err.println(verbose) }
    // Compact keys are the unique ID prefix of each query name ("q20",
    // "dd04", …) — all 54 are distinct — and times are trimmed to ≤3
    // decimals, keeping the whole line under ~800 chars (full names alone
    // are 1030 chars and blow the tail budget). -1.0 failures round-trip
    // exactly so a broken query still reads as negative downstream.
    def fmt(d: Double): String = {
      val s = if (d < 0) "-1" else if (d >= 10) f"$d%.2f" else f"$d%.3f"
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".") else s
    }
    val compactQ = results
      .map { case (k, v) => Json.quote(k.takeWhile(_ != '_')) + ":" + fmt(v._1) }
      .mkString("{", ",", "}")
    // Print AFTER spark.stop() with logging silenced: executor/shutdown
    // WARNs otherwise land on the combined stream after the JSON, and the
    // harness parses the LAST line of a ~2000-char tail. Paired with
    // build.sbt's `run / outputStrategy := StdoutOutput` +
    // `showSuccess := false`, this line is the literal final output.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    // canary_sec rides the compact line too (r14 verdict): adjudicating a
    // contended driver box against a strict capture needed the verbose
    // artifact — with the box-speed stamp inline, BENCH_rN.json
    // self-normalizes across rounds.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$compactQ,"failed":$nFailed,"canary_sec":${f"$canaryStart%.3f"},"sf":${Json.quote(sfDir.split('/').last)}}""")
    System.out.flush()
  }
}
