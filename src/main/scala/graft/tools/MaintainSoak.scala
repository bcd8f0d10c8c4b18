package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Curation, LayerMaintenance}

/** Dev tool (r10 verdict #7): END-TO-END soak of the online maintenance
  * loop at scale — N append micro-batches flow through [[LayerMaintenance
  * .maintainStream]] (foreachBatch over a file source, RocksDB state
  * store) against a standing sf10 corpus, with the production compaction
  * cadence interleaved. Per batch it records what the steady-state story
  * must bound:
  *   - ingest wall (gate + corpus append + per-family absorption) —
  *     must stay batch-sized, not corpus-sized;
  *   - probe latency: a FIXED 1000-doc probe against the standing band
  *     layer (the [[Curation.probeStream]] band half — map-side
  *     [[Curation.bandCols]] joined to per-band distinct bucket sets).
  *     This is the reader-side cost append-file fan-out degrades and
  *     [[LayerMaintenance.compact]] restores;
  *   - per-family layer rows + parquet file fan-out + the physical
  *     table each alias resolves to (alias bumps).
  * After the run, the maintained layers are compared row-for-row
  * (count + order-free xxhash64 checksum) against a from-scratch
  * [[LayerMaintenance.ensureMaintained]] build over a copy of the final
  * corpus — the stream ≡ rebuild invariant at sf10, not just in the
  * small-fixture spec.
  *
  * Usage: runMain graft.tools.MaintainSoak [srcDir] [nBatches]
  *          [batchDocs] [compactEvery] [outJson]
  */
object MaintainSoak {
  private val Families = Seq("shingles3", "minhash", "lshbands", "unifreq")

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/repo/testdata/sf10")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(12)
    val batchDocs = args.lift(2).map(_.toInt).getOrElse(5000)
    val compactEvery = args.lift(3).map(_.toInt).getOrElse(4)
    val outPath = args.lift(4).getOrElse("SOAK_SF10.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val corpus = tmp("graft_soak_corpus")
    val staging = tmp("graft_soak_staging")
    val checkpoint = tmp("graft_soak_ckpt")
    val rebuild = tmp("graft_soak_rebuild")

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // ---- standing corpus v0 = everything below the soak's id range
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val cut = maxId + 1 - nBatches.toLong * batchDocs
    docs.filter(col("doc_id") < cut)
      .write.parquet(s"$corpus/documents.parquet")
    val (_, buildV0) = timed(LayerMaintenance.ensureMaintained(spark, corpus))
    println(f"[soak] v0 built (${cut} docs) in $buildV0%.1f s")

    // ---- fixed probe set: 1000 standing docs, probed via the band half
    // of probeStream (keeper manifest excluded — it is a non-maintained
    // per-version layer; the soak measures the MAINTAINED read path)
    val probeDocs = docs.filter(col("doc_id") < 1000)
      .select("doc_id", "text").cache()
    probeDocs.count()
    def probeOnce(): Long = {
      val bands = LayerMaintenance.maintainedLayer(spark, corpus, "lshbands")
      val bcols = Curation.bandCols(col("text"))
      var df = probeDocs
      for (b <- 0 to 3) df = df.withColumn(s"bh$b", bcols(b))
      for (b <- 0 to 3) {
        val bs = bands.filter(col("b") === b)
          .select(col("bh").as(s"k$b")).distinct().withColumn(s"hit$b", lit(1))
        df = df.join(bs, df(s"bh$b") === bs(s"k$b"), "left")
      }
      df.withColumn("n_band_hits",
          (0 to 3).map(b => coalesce(col(s"hit$b"), lit(0))).reduce(_ + _))
        .filter(col("n_band_hits") > 0).count()
    }

    def layerStats(): Seq[(String, String, Long, Int)] = Families.map { fam =>
      val phys = LayerMaintenance.physicalName(spark, corpus, fam)
      val rows = spark.table(phys).count()
      val files = {
        val wh = spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:")
        val d = new java.io.File(wh, phys)
        if (d.isDirectory) d.list().count(_.endsWith(".parquet"))
        else -1
      }
      (fam, phys, rows, files)
    }

    // ---- the stream under test
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(staging)
    val q = LayerMaintenance.maintainStream(spark, stream, corpus, checkpoint)

    val batchRows = (1 to nBatches).map { i =>
      val lo = cut + (i - 1).toLong * batchDocs
      val hi = lo + batchDocs
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.mode("append").parquet(staging)
      val (_, ingestS) = timed(q.processAllAvailable())
      val (hits, probeS) = timed(probeOnce())
      val stats = layerStats()
      val (compactS, compacted) =
        if (i % compactEvery == 0) {
          val (deltas, cs) = timed(LayerMaintenance.compact(spark, corpus))
          (cs, deltas.map(_.family).mkString("+"))
        } else (-1.0, "")
      println(f"[soak] batch $i%2d ingest $ingestS%6.2f s  probe $probeS%5.2f s " +
        f"($hits hits)  files ${stats.map(s => s"${s._1}=${s._4}").mkString(" ")}" +
        (if (compactS >= 0) f"  COMPACT $compactS%.1f s" else ""))
      val statJson = stats.map { case (fam, phys, rows, files) =>
        s"""${graft.Json.quote(fam)}:{"physical":${graft.Json.quote(phys)},"rows":$rows,"files":$files}"""
      }.mkString("{", ",", "}")
      s"""{"batch":$i,"ingest_s":$ingestS,"probe_s":$probeS,"probe_band_hits":$hits,""" +
        s""""layers":$statJson,"compact_s":$compactS,"compacted":${graft.Json.quote(compacted)}}"""
    }
    q.stop()

    // ---- stream ≡ rebuild at sf10: fresh build over the final corpus
    spark.read.parquet(s"$corpus/documents.parquet")
      .write.parquet(s"$rebuild/documents.parquet")
    val (_, rebuildS) = timed(LayerMaintenance.ensureMaintained(spark, rebuild))
    // order-free multiset checksum; the hash sum rides DECIMAL(38,0) —
    // a plain LONG sum of ~1e8 64-bit hashes overflows under ANSI
    def checksum(t: DataFrame): (Long, String) = {
      val r = t.agg(count(lit(1)),
        sum(xxhash64(t.columns.map(col).toIndexedSeq: _*)
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
      (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
    }
    val equiv = Families.map { fam =>
      val (nM, hM) = checksum(LayerMaintenance.maintainedLayer(spark, corpus, fam))
      val (nR, hR) = checksum(LayerMaintenance.maintainedLayer(spark, rebuild, fam))
      val ok = nM == nR && hM == hR
      println(s"[soak] equiv $fam maintained=($nM,$hM) rebuilt=($nR,$hR) " +
        (if (ok) "MATCH" else "MISMATCH"))
      s"""${graft.Json.quote(fam)}:{"rows_maintained":$nM,"rows_rebuilt":$nR,"match":$ok}"""
    }
    val json =
      s"""{"src":${graft.Json.quote(src)},"n_batches":$nBatches,""" +
      s""""batch_docs":$batchDocs,"compact_every":$compactEvery,""" +
      s""""build_v0_s":$buildV0,"rebuild_s":$rebuildS,""" +
      s""""batches":${batchRows.mkString("[", ",", "]")},""" +
      s""""equivalence":${equiv.mkString("{", ",", "}")}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    println(s"[soak] artifact written to $outPath")
    spark.stop()
  }
}
