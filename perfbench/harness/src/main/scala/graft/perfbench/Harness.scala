package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal JSON writing for the harness's result files. */
object Json {
  def str(s: String): String = graft.Json.quote(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def nums(xs: Iterable[Double]): String = arr(xs.map(num))
}

/** Program-side half of the benchmark (see perfbench/run.py, which
  * launches this JVM on the compiled classpath and checks its outputs).
  *
  * usage:
  *   Harness oracle-sql <out.json> <query-prefix,...>
  *   Harness diag   <result.json> <diagRoot> <workDir> <seconds> <trace 0|1>
  *   Harness corpus <result.json> <corpusDir> <workDir> <seconds> <trace 0|1> <query-prefix,...>
  *
  * The untraced mode only calls the program's public entry points
  * (`DiagReport.runRoots`, the `SparkEntry.queries` functions). The traced
  * mode additionally runs the same work staged through each module's
  * public functions, with a [[Tracer]] span around every call.
  */
object Harness {
  def now: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  def session(warehouse: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Peak resident set of this JVM so far (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def treeBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def write(path: String, json: String): Unit =
    Files.writeString(Paths.get(path), json + "\n")

  def main(args: Array[String]): Unit = args(0) match {
    case "oracle-sql" => OracleSql.main(args.drop(1))
    case mode =>
      val (result, work) = (args(1), args(3))
      new File(work).mkdirs()
      val spark = session(s"$work/warehouse")
      val ready = now
      val body = mode match {
        case "diag" =>
          DiagWorkload.run(spark, args(2), work, args(4).toDouble, args(5) == "1")
        case "corpus" =>
          CorpusWorkload.run(spark, args(2), work, args(4).toDouble, args(5) == "1",
            args(6).split(',').toSeq)
        case other => throw new IllegalArgumentException(s"unknown mode $other")
      }
      write(result, Json.obj(Seq("ready_epoch_s" -> Json.num(ready),
        "peak_rss_mb" -> Json.num(peakRssMb)) ++ body))
      spark.sparkContext.setLogLevel("OFF")
      spark.stop()
  }
}

/** Dumps `SparkEntry.oracleSql` and the full names of the selected
  * queries, so the DuckDB fingerprints can be computed before any timed
  * run. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val Array(out, prefixes) = args
    val names = CorpusWorkload.resolve(prefixes.split(',').toSeq)
    val oracle = graft.SparkEntry.oracleSql
    Harness.write(out, Json.obj(Seq(
      "queries" -> Json.arr(names.map(Json.str)),
      "oracle" -> Json.obj(names.flatMap(n => oracle.get(n).map(n -> Json.str(_)))))))
  }
}

/** Metrics folded over a set of spans, for the `<layer>.*` keys. */
object LayerStats {
  /** cpu_s (task CPU + driver-thread CPU), jvm_gc_s (the JVM's GC time
    * over the spans) and tasks of `spans`. With `builds`, only the
    * layer-build jobs inside the spans count: their driver time is not
    * separable from the enclosing query's, so cpu_s is task CPU alone and
    * jvm_gc_s the GC time the build tasks saw (in local mode a pause is
    * counted once per task it stalls). */
  def common(t: Tracer, layer: String, spans: Seq[Span],
      builds: Boolean = false): Seq[(String, Double)] = {
    val f = spans.map(t.fold(_, builds)).foldLeft(new Fold)(_ add _)
    val driverCpu = if (builds) 0L else spans.map(_.driverCpuNs).sum
    Seq(s"$layer.cpu_s" -> (f.cpuNs + driverCpu) / 1e9,
      s"$layer.jvm_gc_s" -> (if (builds) f.gcMs else spans.map(_.gcMs).sum) / 1e3,
      s"$layer.tasks" -> f.tasks.toDouble)
  }

  def exchange(t: Tracer, spans: Seq[Span]): Seq[(String, Double)] = {
    val f = spans.flatMap(s => Seq(t.fold(s), t.fold(s, builds = true)))
      .foldLeft(new Fold)(_ add _)
    Seq("exchange.shuffle_write_mb" -> f.shuffleWriteBytes / 1e6,
      "exchange.fetch_wait_s" -> f.fetchWaitMs / 1e3,
      "exchange.spill_mb" -> f.spillBytes / 1e6)
  }

  /** Median of each metric over several traced samples. */
  def medians(samples: Seq[Seq[(String, Double)]]): Seq[(String, Double)] = {
    val keys = samples.flatMap(_.map(_._1)).distinct
    keys.map(k => k -> Harness.median(samples.flatMap(_.filter(_._1 == k).map(_._2))))
  }

  def json(ms: Seq[(String, Double)]): String =
    Json.obj(ms.map { case (k, v) => k -> Json.num(v) })
}

/** Wall-clock sampling loop shared by the workloads: the first sample is
  * the cold one; later samples run until `seconds` have been spent on
  * them and at least `minSamples` exist. */
object Loop {
  def warm(seconds: Double, minSamples: Int)(sample: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minSamples || (System.nanoTime() - t0) / 1e9 < seconds) {
      sample(i)
      i += 1
    }
  }

  /** Run `op`, recording a failure message instead of throwing. */
  def attempt(failures: mutable.Buffer[String], what: String)(op: => Unit): Unit =
    try op
    catch { case NonFatal(e) =>
      failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      System.err.println(s"[perfbench] $what failed: $e")
    }
}
