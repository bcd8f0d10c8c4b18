package graft.perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.ZipInputStream
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{DiagReport, DiagWorkbook}
import graft.parse.Parsers
import graft.sources.DiagSource

/** The `DiagReport` workload (diag_logs): one cold report in the fresh
  * JVM, then warm reports, each into a fresh output directory.
  *
  * Traced mode alternates untraced reports with staged ones, starting and
  * ending with an untraced one. A staged report runs the pipeline
  * `DiagReport.runRoots` runs, called stage by stage (`DiagSource.index`,
  * `DiagReport.analyze`, each tab forced, each sink) with a span around
  * every stage. After each staged report the sources are forced one by one
  * (status, gossip, info, cfstats, proxyHist, logEvents), and once per run
  * the pure parsers run driver-side over the same files. */
object DiagWorkload {

  def run(spark: SparkSession, root: String, work: String, seconds: Double,
      trace: Boolean): Seq[(String, String)] = {
    val failures = mutable.ArrayBuffer.empty[String]
    val outputs = mutable.ArrayBuffer.empty[String]
    val plain = mutable.ArrayBuffer.empty[Double]
    var n = 0
    def report(): Option[Double] = {
      val out = s"$work/report-$n"
      n += 1
      var secs: Option[Double] = None
      Loop.attempt(failures, out) {
        secs = Some(Harness.timed(DiagReport.runRoots(spark, Seq(root), out))._2)
        outputs += out
      }
      secs
    }
    val cold = report()
    val tracer = if (trace) Some(new Tracer(spark, "diag")) else None
    val traced = mutable.ArrayBuffer.empty[(Double, Seq[(String, Double)])]
    val treeBytes = Harness.treeBytes(root)
    Loop.warm(seconds, if (trace) 3 else 1) { i =>
      tracer match {
        case Some(t) if i % 2 == 1 =>
          val out = s"$work/report-$n"
          n += 1
          Loop.attempt(failures, out) {
            traced += staged(spark, t, root, out, treeBytes)
            outputs += out
          }
        case _ => report().foreach(plain += _)
      }
    }
    val base = Seq(
      "cold_s" -> Json.num(cold.getOrElse(Double.NaN)),
      "warm_s" -> Json.nums(plain),
      "input_bytes" -> treeBytes.toString,
      "attempted" -> n.toString,
      "outputs" -> Json.arr(outputs.map(Json.str)),
      "failures" -> Json.arr(failures.map(Json.str)))
    tracer match {
      case None => base
      case Some(t) =>
        val parse = parseProbe(t, root)
        val untraced = Harness.median(plain.toSeq)
        val tracedTotal = Harness.median(traced.map(_._1).toSeq)
        val layers = LayerStats.medians(traced.map(_._2).toSeq) ++ parse ++ Seq(
          "trace.untraced_s" -> untraced,
          "trace.overhead_frac" -> (tracedTotal / untraced - 1))
        base ++ Seq("layers" -> LayerStats.json(layers), "spans" -> t.json)
    }
  }

  /** One report staged through the modules, plus the per-source probe.
    * Returns the report's traced wall time and its per-layer metrics. */
  private def staged(spark: SparkSession, t: Tracer, root: String, out: String,
      treeBytes: Long): (Double, Seq[(String, Double)]) = {
    DiagSource.invalidate(root)
    val stages = mutable.ArrayBuffer.empty[(String, Span)]
    def stage[T](name: String)(body: => T): T = {
      val r = t.span(name)(body)
      stages += name -> t.spans.last
      r
    }
    var rowsOut = 0L
    var files = 0
    t.span("report") {
      val idx = stage("sources.index")(DiagSource.index(spark, root))
      files = idx.files.size + idx.addLogs.size
      val tabs = stage("analysis.other")(DiagReport.analyze(spark, root))
      val cached = Seq(tabs.nodeTable, tabs.workload, tabs.gc, tabs.tombstones,
        tabs.thresholds, tabs.warnings, tabs.proxyHist)
      cached.foreach(_.persist())
      try {
        stage("analysis.gc")(Harness.noop(tabs.gc))
        stage("analysis.workload")(Harness.noop(tabs.workload))
        stage("analysis.thresholds")(Harness.noop(tabs.thresholds))
        stage("analysis.warnings")(Harness.noop(tabs.warnings))
        stage("analysis.other") {
          Seq(tabs.nodeTable, tabs.tombstones, tabs.proxyHist).foreach(Harness.noop)
        }
        rowsOut = cached.map(_.count()).sum
        // the sinks exactly as DiagReport.write runs them
        new java.io.File(out).mkdirs()
        stage("sink.parquet") {
          (Seq("workload" -> tabs.workload, "gc_pauses" -> tabs.gc,
            "tombstones" -> tabs.tombstones, "threshold_tabs" -> tabs.thresholds,
            "warnings" -> tabs.warnings, "proxy_histograms" -> tabs.proxyHist) ++
            (if (tabs.nodeTable.isEmpty) Nil else Seq("node_table" -> tabs.nodeTable))
          ).foreach { case (name, df) =>
            df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
          }
        }
        stage("sink.summary") {
          Files.writeString(Paths.get(s"$out/summary.json"), DiagReport.summaryJson(tabs))
        }
        stage("sink.workbook")(DiagWorkbook.write(tabs, out))
      } finally cached.foreach(_.unpersist())
      spark.catalog.clearCache()
    }
    val reportSpan = t.spans.last
    t.span("sources.read_parse") {
      val (gc, ts) = DiagSource.logEvents(spark, root, 1000L)
      Seq(DiagSource.status(spark, root).count(), DiagSource.gossip(spark, root).count(),
        DiagSource.nodeInfo(spark, root).count(), DiagSource.cfstats(spark, root).count(),
        DiagSource.proxyHist(spark, root).count(), gc.count(), ts.count())
    }
    val probeSpan = t.spans.last
    spark.catalog.clearCache()
    t.drain()

    def secs(prefix: String) = stages.filter(_._1 == prefix).map(_._2.seconds).sum
    def spansOf(layer: String) = stages.filter(_._1.startsWith(layer + ".")).map(_._2).toSeq
    val reportInput = (reportSpan +: t.spans.filter(_.parent == reportSpan.id).toSeq)
      .map(t.fold(_).inputBytes).sum
    val metrics = Seq(
      "sources.index_s" -> secs("sources.index"),
      "sources.files" -> files.toDouble,
      "sources.read_parse_s" -> probeSpan.seconds,
      "sources.input_mb" -> t.fold(probeSpan).inputBytes / 1e6,
      "sources.read_amplification" -> reportInput.toDouble / treeBytes,
      "analysis.gc_s" -> secs("analysis.gc"),
      "analysis.warnings_s" -> secs("analysis.warnings"),
      "analysis.workload_s" -> secs("analysis.workload"),
      "analysis.thresholds_s" -> secs("analysis.thresholds"),
      "analysis.other_s" -> secs("analysis.other"),
      "analysis.rows_out" -> rowsOut.toDouble,
      "sink.parquet_s" -> secs("sink.parquet"),
      "sink.summary_s" -> secs("sink.summary"),
      "sink.workbook_s" -> secs("sink.workbook"),
      "sink.out_mb" -> Harness.treeBytes(out) / 1e6) ++
      LayerStats.common(t, "sources", spansOf("sources") :+ probeSpan) ++
      LayerStats.common(t, "analysis", spansOf("analysis")) ++
      LayerStats.common(t, "sink", spansOf("sink")) ++
      LayerStats.exchange(t, reportSpan +: spansOf("analysis") ++: spansOf("sink"))
    (reportSpan.seconds, metrics)
  }

  /** The pure parsers, driver-side, over the files the report reads. File
    * reading (and unzipping) happens before the spans open. */
  private def parseProbe(t: Tracer, root: String): Seq[(String, Double)] = {
    val spark = SparkSession.active
    DiagSource.invalidate(root)
    val idx = DiagSource.index(spark, root)
    def local(p: String) = Paths.get(new org.apache.hadoop.fs.Path(p).toUri.getPath)
    def lines(p: String, zip: Boolean): Array[String] =
      if (!zip) Files.readAllLines(local(p), StandardCharsets.UTF_8).toArray(Array.empty[String])
      else {
        val zis = new ZipInputStream(Files.newInputStream(local(p)))
        try {
          if (zis.getNextEntry == null) Array.empty[String]
          else {
            val br = new BufferedReader(new InputStreamReader(zis, StandardCharsets.UTF_8))
            Iterator.continually(br.readLine()).takeWhile(_ != null).toArray
          }
        } finally zis.close()
      }
    val logs = idx.logFiles.map { case (node, p, zip) => (node, lines(p, zip)) }
    val haveCf = idx.forRel("nodetool/cfstats")
    val cfFiles = haveCf ++ idx.forRel("nodetool/tablestats")
      .filterNot(f => haveCf.exists(_._1 == f._1))
    val cf = cfFiles.map { case (node, p) => (node, lines(p, zip = false)) }
    val schema = idx.forRel("driver/schema").headOption
      .map(f => lines(f._2, zip = false)).getOrElse(Array.empty[String])
    val dcs = DiagSource.nodeInfo(spark, root).select("dc").distinct()
      .collect().map(_.getString(0)).toSeq.sorted

    val events = t.span("parse.log") {
      logs.map { case (node, ls) => Parsers.parseLog(node, ls.iterator) }
    }
    val logSpan = t.spans.last
    val metricsN = t.span("parse.cfstats") {
      cf.map { case (node, ls) => Parsers.parseCfstats(node, ls.iterator).size }.sum
    }
    val cfSpan = t.spans.last
    t.span("parse.schema")(Parsers.parseSchema(schema.iterator, dcs))
    val schemaSpan = t.spans.last
    t.drain()
    Seq(
      "parse.log_s" -> logSpan.seconds,
      "parse.log_lines" -> logs.map(_._2.length.toDouble).sum,
      "parse.gc_events" -> events.map(_.gc.size.toDouble).sum,
      "parse.tombstone_events" -> events.map(_.tombstones.size.toDouble).sum,
      "parse.cfstats_s" -> cfSpan.seconds,
      "parse.table_metrics" -> metricsN.toDouble,
      "parse.schema_s" -> schemaSpan.seconds) ++
      LayerStats.common(t, "parse", Seq(logSpan, cfSpan, schemaSpan))
  }
}
