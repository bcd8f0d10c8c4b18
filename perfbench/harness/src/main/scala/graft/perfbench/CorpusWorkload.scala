package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{broadcast, col}

import graft.{SparkEntry, Tables}
import graft.functions.GraftFunctions
import graft.operators.DedupPrepare

/** The `corpus_mix` workload: a fixed query mix over a generated corpus.
  * The first pass runs on an empty layer warehouse, so it includes every
  * layer build; later passes read the layers back. Each query starts from
  * an empty cache (`clearCache`) and writes its result as parquet under
  * the pass's own directory, where the checker reads it.
  *
  * Traced mode traces the cold pass and alternates untraced and traced
  * warm passes, starting and ending with an untraced one; each query runs
  * in a span named after its family. It
  * then probes the intake scans (each `Tables.*` base table forced) and
  * the native kernels (`text_metrics`, `simhash60_text`, `tok_split`,
  * `grid_dot`) over the corpus tables. */
object CorpusWorkload {
  val Families = Seq("q" -> "relational", "dd" -> "dedup", "ss" -> "similarity",
    "ta" -> "text", "sp" -> "sampling", "cp" -> "curation", "mm" -> "multimodal")

  def family(query: String): String = {
    val prefix = query.takeWhile(_.isLetter)
    Families.find(_._1 == prefix).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"no family for $query"))
  }

  /** Full query names for the given id prefixes ("q01" -> "q01_workload_share"). */
  def resolve(prefixes: Seq[String]): Seq[String] = {
    val names = SparkEntry.queries.keys.toSeq
    prefixes.map(p => names.find(_.startsWith(p + "_"))
      .getOrElse(throw new IllegalArgumentException(s"unknown query $p")))
  }

  final case class Pass(dir: String, secs: Seq[(String, Double)],
      builds: Seq[(String, Seq[(String, Double)])], spans: Seq[Span]) {
    def total: Double = secs.map(_._2).sum
  }

  def run(spark: SparkSession, dir: String, work: String, seconds: Double,
      trace: Boolean, prefixes: Seq[String]): Seq[(String, String)] = {
    val queries = resolve(prefixes)
    val fns = SparkEntry.queries
    val failures = mutable.ArrayBuffer.empty[String]
    val tracer = if (trace) Some(new Tracer(spark, "corpus")) else None
    var n = 0

    def pass(t: Option[Tracer]): Pass = {
      val out = s"$work/pass-$n"
      n += 1
      val secs = mutable.ArrayBuffer.empty[(String, Double)]
      val builds = mutable.ArrayBuffer.empty[(String, Seq[(String, Double)])]
      val spans = mutable.ArrayBuffer.empty[Span]
      queries.foreach { q =>
        spark.catalog.clearCache()
        DedupPrepare.drainBuildLog()
        def body(): Unit = Loop.attempt(failures, s"$out/$q") {
          secs += q -> Harness.timed(
            fns(q)(spark, dir).write.mode("overwrite").parquet(s"$out/$q"))._2
        }
        t match {
          case Some(tr) =>
            tr.span(s"ops.${family(q)}")(body())
            spans += tr.spans.last
          case None => body()
        }
        builds += q -> DedupPrepare.drainBuildLog()
      }
      spark.catalog.clearCache()
      Pass(out, secs.toSeq, builds.toSeq, spans.toSeq)
    }

    val cold = pass(tracer)
    val storeBytes = Harness.treeBytes(s"$work/warehouse")
    val warm = mutable.ArrayBuffer.empty[Pass]
    val traced = mutable.ArrayBuffer.empty[Pass]
    Loop.warm(seconds, if (trace) 3 else 1) { i =>
      if (tracer.isDefined && i % 2 == 1) traced += pass(tracer)
      else warm += pass(None)
    }
    val warmRebuilds = (warm ++ traced).flatMap(_.builds.flatMap(_._2))
    warmRebuilds.foreach { case (layer, _) =>
      failures += s"warm pass rebuilt layer $layer" }

    def passJson(p: Pass) = Json.obj(Seq("dir" -> Json.str(p.dir),
      "secs" -> Json.obj(p.secs.map { case (q, s) => q -> Json.num(s) })))
    val base = Seq(
      "cold_s" -> Json.num(cold.total),
      "warm_s" -> Json.nums(warm.map(_.total)),
      "input_bytes" -> Harness.treeBytes(dir).toString,
      "store_bytes" -> storeBytes.toString,
      "attempted" -> (n * queries.length).toString,
      "queries" -> Json.arr(queries.map(Json.str)),
      "passes" -> Json.arr((cold +: (warm ++ traced).toSeq).map(passJson)),
      "failures" -> Json.arr(failures.map(Json.str)))
    tracer match {
      case None => base
      case Some(t) =>
        t.drain()
        val layers = tracedMetrics(spark, t, dir, cold, traced.toSeq,
          storeBytes, warmRebuilds.length) ++ Seq(
          "trace.untraced_s" -> Harness.median(warm.map(_.total).toSeq),
          "trace.overhead_frac" ->
            (Harness.median(traced.map(_.total).toSeq) /
              Harness.median(warm.map(_.total).toSeq) - 1))
        base ++ Seq("layers" -> LayerStats.json(layers), "spans" -> t.json)
    }
  }

  private def tracedMetrics(spark: SparkSession, t: Tracer, dir: String, cold: Pass,
      traced: Seq[Pass], storeBytes: Long, warmRebuilds: Int): Seq[(String, Double)] = {
    val coldBuilds = cold.builds.flatMap(_._2)
    val buildSecs = cold.builds.map { case (q, b) => q -> b.map(_._2).sum }.toMap
    val ops = Families.flatMap { case (_, fam) =>
      val coldEx = cold.secs.filter(q => family(q._1) == fam)
        .map { case (q, s) => s - buildSecs.getOrElse(q, 0.0) }.sum
      val warm = Harness.median(traced.map(_.secs.filter(q => family(q._1) == fam)
        .map(_._2).sum))
      Seq(s"ops.$fam.cold_ex_layers_s" -> coldEx, s"ops.$fam.warm_s" -> warm)
    }
    val perPass = LayerStats.medians(traced.map { p =>
      LayerStats.common(t, "ops", p.spans) ++ LayerStats.exchange(t, p.spans)
    })
    val layers = Seq(
      "layers.builds" -> coldBuilds.length.toDouble,
      "layers.build_s" -> coldBuilds.map(_._2).sum,
      "layers.store_mb" -> storeBytes / 1e6,
      "layers.warm_rebuilds" -> warmRebuilds.toDouble) ++
      LayerStats.common(t, "layers", cold.spans, builds = true)
    ops ++ perPass ++ layers ++ intakeProbe(spark, t, dir) ++ functionsProbe(spark, t, dir)
  }

  private val BaseTables: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
    Seq("lineitem" -> Tables.lineitem, "orders" -> Tables.orders,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "nation" -> Tables.nation, "region" -> Tables.region,
      "events" -> Tables.events, "documents" -> Tables.documents,
      "embeddings" -> Tables.embeddings)

  private val ProbeRepeats = 3

  /** Each base table forced through its `Tables` accessor. The input size
    * is that of the files the scans read (raw table or intake layer):
    * Spark's task input bytes miss parquet's vectored reads. */
  private def intakeProbe(spark: SparkSession, t: Tracer, dir: String): Seq[(String, Double)] = {
    val inputBytes = BaseTables.map { case (_, load) =>
      load(spark, dir).inputFiles.map(f =>
        java.nio.file.Files.size(java.nio.file.Paths.get(new java.net.URI(f)))).sum
    }.sum
    val samples = (1 to ProbeRepeats).map { _ =>
      val spans = BaseTables.map { case (name, load) =>
        t.span(s"intake.$name")(Harness.noop(load(spark, dir)))
        t.spans.last
      }
      t.drain()
      Seq("intake.scan_s" -> spans.map(_.seconds).sum) ++
        LayerStats.common(t, "intake", spans)
    }
    LayerStats.medians(samples) :+ ("intake.input_mb" -> inputBytes / 1e6)
  }

  /** The native kernels selected over the raw corpus tables. */
  private def functionsProbe(spark: SparkSession, t: Tracer, dir: String): Seq[(String, Double)] = {
    GraftFunctions.register(spark)
    val docs = Tables.documentsRaw(spark, dir)
    val emb = Tables.embeddingsRaw(spark, dir)
    val nDocs = docs.count().toDouble
    val probes = emb.select(col("embedding").as("probe")).limit(8)
    val nPairs = emb.count().toDouble * probes.count()
    val samples = (1 to ProbeRepeats).map { _ =>
      t.span("functions.text") {
        Harness.noop(docs.selectExpr("text_metrics(text) AS m", "simhash60_text(text) AS h",
          "tok_split(text) AS t"))
      }
      val text = t.spans.last
      t.span("functions.grid_dot") {
        Harness.noop(emb.crossJoin(broadcast(probes))
          .selectExpr("grid_dot(embedding, probe) AS d"))
      }
      val dot = t.spans.last
      t.drain()
      Seq("functions.text_rows_per_s" -> nDocs / text.seconds,
        "functions.grid_dot_rows_per_s" -> nPairs / dot.seconds) ++
        LayerStats.common(t, "functions", Seq(text, dot))
    }
    LayerStats.medians(samples)
  }
}
