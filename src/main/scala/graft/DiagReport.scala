package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.model._
import graft.operators.DiagAnalysis
import graft.sources.DiagSource

import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

/** End-to-end diag pipeline (the reference's E1, SURVEY.md §3): parse a
  * diagnostic tree, run the analysis layer, emit per-tab parquet and the
  * nested `summary.json` (ref explore.py:578-586, 1718-1790, 1851-1854).
  *
  * The analysis runs distributed and reduces every relation to a
  * report-sized tab (≤ thousands of rows). `analyze` then collects each
  * tab once, all tabs concurrently, and hands the sinks local relations
  * of those rows, so no sink re-runs the analysis. The warnings tab is
  * then built on the driver, from those rows and the schema, status and
  * gossip rows already parsed.
  * usage: DiagReport <diagRoot> <outDir>
  */
object DiagReport {

  /** All computed tabs for a diag root. */
  final case class Tabs(
      nodeTable: DataFrame, workload: DataFrame, gc: DataFrame,
      tombstones: DataFrame, thresholds: DataFrame, warnings: DataFrame,
      proxyHist: DataFrame, clusterName: String,
      /** every non-system (keyspace, table) seen in cfstats — the
        * reference registers a summary_json placeholder for each
        * (explore.py:937-938) even when no metric survives the >0
        * filters (an idle table emits `{}`) */
      seenTables: DataFrame)

  def analyze(spark: SparkSession, root: String,
      tp: Thresholds = Thresholds(), inclSys: Boolean = false): Tabs = {
    import spark.implicits._
    val status = DiagSource.status(spark, root)
    val gossip = DiagSource.gossip(spark, root)
    // the node dimension, read once: every tab query joins these rows
    val info = local(spark, DiagSource.nodeInfo(spark, root))
    val cluster = DiagSource.clusterName(spark, root)
    val ossVer = DiagSource.ossVersion(spark, root)
    val statusRows = status.collect()
    val dcs = statusRows.map(_.dc).distinct.sorted.toSeq
    val catalog = DiagSource.schema(spark, root, dcs)
    val rf = spark.createDataset(catalog.rf)
    val metrics = DiagSource.cfstats(spark, root).persist(StorageLevel.MEMORY_AND_DISK)
    val logs = DiagSource.parsedLogs(spark, root, tp.tpTs)
    val gcEv = logs.flatMap(_._1)
    val tsEv = logs.flatMap(_._2)
    val nodeDc = info.select(col("node_dir").as("node"), col("dc"))

    val ipOf = DiagSource.nodeIpMap(spark, root, statusRows.map(_.ip).toSet)
    val dirIp = ipOf.toSeq.toDF("node_dir", "ip")
    val Seq(nodeTable, workload, gc, tombstones, thresholds, proxyHist, seenTables) =
      try collected(spark, Seq(
        DiagAnalysis.nodeTable(status, gossip, info, ossVer, dirIp),
        DiagAnalysis.workload(metrics, rf, info, inclSys),
        DiagAnalysis.gcPercentiles(gcEv, nodeDc, cluster),
        DiagAnalysis.tombstoneTab(tsEv, nodeDc),
        DiagAnalysis.thresholdTabs(metrics, nodeDc, tp),
        DiagAnalysis.proxyHistTab(DiagSource.proxyHist(spark, root), nodeDc),
        DiagAnalysis.seenTables(metrics, inclSys)))
      finally {
        metrics.unpersist()
        logs.unpersist()
      }
    // gossip is a local relation, so its collect runs no job either
    val warnings = DiagAnalysis.warnings(catalog.objects, statusRows.toSeq,
      gossip.collect().toSeq, ipOf, thresholds, gc, tombstones, tp)
    Tabs(nodeTable, workload, gc, tombstones, thresholds, warnings, proxyHist,
      cluster, seenTables)
  }

  /** `df`'s rows, collected once, as a local relation. */
  private def local(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  /** Each of `dfs` collected once, concurrently, into a local relation.
    * Each relation gets its own thread, so the queries' driver-side
    * planning and codegen overlap as well as their jobs. The pool is made
    * here, so its threads inherit the caller's Spark job group and local
    * properties; each adds one job tag for this call. The first collect
    * to fail cancels the others' jobs through that tag, and the call
    * rethrows that collect's own exception once no pool thread is left. */
  private[graft] def collected(spark: SparkSession, dfs: Seq[DataFrame]): Seq[DataFrame] = {
    val sc = spark.sparkContext
    val tag = s"graft-diag-collect-${UUID.randomUUID}"
    val pool = Executors.newFixedThreadPool(dfs.size, { (r: Runnable) =>
      val t = new Thread(r, "diag-collect")
      t.setDaemon(true)
      t
    })
    val done = new ExecutorCompletionService[DataFrame](pool)
    try {
      val pending = dfs.map(df => done.submit { () =>
        sc.addJobTag(tag)
        sc.setInterruptOnCancel(true) // a cancelled task stops mid-record
        local(spark, df)
      })
      // in completion order, so the first failure is seen at once
      dfs.foreach { _ =>
        try done.take().get()
        catch { case e: ExecutionException if e.getCause != null => throw e.getCause }
      }
      pending.map(_.get())
    } finally {
      // after a failure, cancel the other threads' jobs, and any job a
      // thread starts later, until every thread has ended
      pool.shutdown()
      while (!pool.awaitTermination(50, TimeUnit.MILLISECONDS)) sc.cancelJobsWithTag(tag)
    }
  }

  /** Engine-computed Astra Metrics (the reference leaves these to Excel
    * formulas, explore.py:1801-1826). ONE definition feeds both
    * summary.json and the workbook's Astra Metrics tab — the two
    * deliverables can't drift. */
  final case class AstraMetrics(readTps: Double, writeTps: Double,
      sizeBytes: Double, avgUptimeSec: Double) {
    val secPerMonth: Double = 60.0 * 60 * 24 * 365.25 / 12
    def readTpmo: Double = readTps * secPerMonth
    def writeTpmo: Double = writeTps * secPerMonth
    def dataSizeGb: Double = sizeBytes / 1e9
  }

  def astraMetrics(wlRows: Seq[Row], nodeRows: Seq[Row]): AstraMetrics = {
    def sumOf(c: String) = wlRows
      .map(r => Option(r.getAs[Any](c)).map(_.toString.toDouble).getOrElse(0.0)).sum
    val uptimes = nodeRows.map(_.getAs[Long]("uptime_sec"))
    AstraMetrics(
      readTps = sumOf("read_tps"), writeTps = sumOf("write_tps"),
      sizeBytes = sumOf("size_bytes"),
      avgUptimeSec =
        if (uptimes.isEmpty) 0.0 else uptimes.sum.toDouble / uptimes.length)
  }

  /** Nested summary mirroring the reference's summary_json keys:
    * workload.{ks}.{tbl}.read/write{...}, workload.total_*,
    * dataset_size.{ks}.{tbl}.size + total, warnings.{cat}.{check}[…].
    */
  def summaryJson(tabs: Tabs): String = {
    def jnum(d: Double) =
      if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString
      else d.toString

    val wl = tabs.workload.collect()
    // every cfstats-seen table gets an entry; a block (read / write /
    // size) appears only when its count survived the >0 filter — an
    // idle table is `{}` on both sides (ref explore.py:937-938 register
    // the placeholder, 1718/1748/1788 add blocks only for counted
    // tables); golden-diffed in GoldenReferenceSpec
    val seen = tabs.seenTables.collect()
      .map(r => (r.getString(0), r.getString(1)))
    val wlByTbl = wl.map(r =>
      (r.getAs[String]("keyspace"), r.getAs[String]("table")) -> r).toMap
    val allTbls = (seen ++ wlByTbl.keys).distinct
    def opt(r: Row, n: String): Option[Double] =
      Option(r.getAs[Any](n)).map(_.toString.toDouble)
    val byKs = allTbls.groupBy(_._1)
    val workload = byKs.toSeq.sortBy(_._1).map { case (ks, tbls) =>
      val entries = tbls.map(_._2).distinct.sorted.map { tbl =>
        val blocks = wlByTbl.get((ks, tbl)).toSeq.flatMap { r =>
          def d(n: String) = opt(r, n).getOrElse(0.0)
          val read = opt(r, "reads").map(v =>
            s""""read":{"read_req":${jnum(v)},"avg_tps":${d("read_tps")},"perc_read":${d("perc_read")},"perc_rw":${d("read_perc_rw")}}""")
          val write = opt(r, "writes").map(v =>
            s""""write":{"write_req":${jnum(v)},"avg_tps":${d("write_tps")},"perc_write":${d("perc_write")},"perc_rw":${d("write_perc_rw")}}""")
          read.toSeq ++ write.toSeq
        }
        s"${Json.quote(tbl)}:{${blocks.mkString(",")}}"
      }.mkString(",")
      s"${Json.quote(ks)}:{$entries}"
    }
    def sumOf(col: String) =
      wl.map(r => Option(r.getAs[Any](col)).map(_.toString.toDouble).getOrElse(0.0)).sum
    val am = astraMetrics(wl.toSeq, tabs.nodeTable.collect().toSeq)
    val totalReadPer = sumOf("read_perc_rw")
    val totalWritePer = sumOf("write_perc_rw")

    val ds = byKs.toSeq.sortBy(_._1).map { case (ks, tbls) =>
      val entries = tbls.map(_._2).distinct.sorted.map { tbl =>
        val size = wlByTbl.get((ks, tbl)).flatMap(r => opt(r, "size_bytes"))
          .map(sz => s""""size":${jnum(sz)}""").getOrElse("")
        s"${Json.quote(tbl)}:{$size}"
      }.mkString(",")
      s"${Json.quote(ks)}:{$entries}"
    }
    val totalSize = am.sizeBytes

    val allWarns = tabs.warnings.collect()
    // ref explore.py:304, 685: any unmatched node IP marks the diag
    // incomplete in the summary
    val missingData = if (allWarns.exists(_.getAs[String]("category") == "Missing Data")) 1 else 0
    // the two reference categories always exist (warnings initialized at
    // explore.py:574), and the three per-table guardrail checks always
    // carry a list, empty or not (explore.py:1090-1091)
    val alwaysChecks = Map(
      "Astra Guardrails" -> Seq("Materialized Views", "Secondary Indexes",
        "Storage-Attached Indexes"),
      "Database Health" -> Seq.empty[String])
    val warns = allWarns.groupBy(_.getAs[String]("category"))
    val allCats = (warns.keySet ++ alwaysChecks.keySet).toSeq.sorted
    val warnJson = allCats.map { cat =>
      val rows = warns.getOrElse(cat, Array.empty[Row])
      val byCheck = rows.groupBy(_.getAs[String]("check"))
      val checkNames =
        (byCheck.keySet ++ alwaysChecks.getOrElse(cat, Nil)).toSeq.sorted
      val checks = checkNames.map { check =>
        val msgs = byCheck.getOrElse(check, Array.empty[Row])
        s"${Json.quote(check)}:[" +
          msgs.map(m => Json.quote(m.getAs[String]("message"))).sorted.mkString(",") + "]"
      }.mkString(",")
      s"${Json.quote(cat)}:{$checks}"
    }.mkString(",")

    val wlEntries = (workload ++ Seq(
      s""""total_read_tps":${am.readTps}""", s""""total_read_per":$totalReadPer""",
      s""""total_write_tps":${am.writeTps}""", s""""total_write_per":$totalWritePer"""))
      .mkString(",")
    val dsEntries = (ds ++ Seq(s""""total":${jnum(totalSize)}""")).mkString(",")

    // Astra Metrics (ref explore.py:1801-1826: Excel formulas in the
    // reference — moved into the engine, SURVEY.md §7.5; ONE definition
    // shared with the workbook tab via [[astraMetrics]])
    val metrics = Seq(
      s""""read_tps":${am.readTps}""",
      s""""read_tpmo":${am.readTpmo}""",
      s""""write_tps":${am.writeTps}""",
      s""""write_tpmo":${am.writeTpmo}""",
      s""""data_size_gb":${am.dataSizeGb}""",
      s""""avg_uptime_sec":${am.avgUptimeSec}""").mkString(",")

    // `avg_uptime` is the reference's top-level key (explore.py:1563).
    // Documented deviation: the reference divides by its node-tab row
    // cursor (diag-dir nodes + 1, an off-by-one) and drops down nodes
    // from both sides; this engine averages over ALL status nodes with
    // down nodes contributing 0 — GoldenReferenceSpec pins both.
    // `cluster` and `astra_metrics` are additive keys (no reference
    // counterpart; metrics live in its xlsx as Excel formulas).
    s"""{"cluster":${Json.quote(tabs.clusterName)},"workload":{$wlEntries},""" +
      s""""dataset_size":{$dsEntries},""" +
      s""""astra_metrics":{$metrics},""" +
      s""""avg_uptime":${am.avgUptimeSec},""" +
      s""""missing_data":$missingData,"warnings":{$warnJson}}"""
  }

  /** Write one cluster's tabs + summary under `outDir`. The node tab is
    * gated on having any status data (the reference's `exclude_tab`,
    * explore.py:305-306: a diag with no nodetool/status drops the tab
    * rather than emitting a zero-row one). Each tab feeds up to three
    * sinks (parquet, summary.json, the CSV workbook) plus that gate;
    * `analyze` hands them local relations, so the gate and the sinks'
    * collects read rows without running a job. */
  def write(tabs: Tabs, outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    (Seq(
      "workload" -> tabs.workload,
      "gc_pauses" -> tabs.gc, "tombstones" -> tabs.tombstones,
      "threshold_tabs" -> tabs.thresholds, "warnings" -> tabs.warnings,
      "proxy_histograms" -> tabs.proxyHist
    ) ++ (if (tabs.nodeTable.isEmpty) Nil else Seq("node_table" -> tabs.nodeTable))
    ).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    Files.writeString(Paths.get(s"$outDir/summary.json"), summaryJson(tabs))
    DiagWorkbook.write(tabs, outDir)
  }

  /** Parse the reference's `-tp_*` threshold flags (explore.py:140-171),
    * same names and guardrail-clamping behavior; unknown args are roots. */
  def parseArgs(args: Seq[String]): (Seq[String], Thresholds, Boolean) = {
    var tp = Thresholds()
    var inclSys = false
    val roots = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      def v: Int = {
        i += 1
        require(i < args.length, s"usage: flag $a needs a numeric value")
        args(i).toInt
      }
      def vd: Double = {
        i += 1
        require(i < args.length, s"usage: flag $a needs a numeric value")
        args(i).toDouble
      }
      a match {
        case "-tp_rl" => tp = tp.copy(tpRlMs = v.toDouble)
        case "-tp_wl" => tp = tp.copy(tpWlMs = v.toDouble)
        case "-tp_sstbl" => tp = tp.copy(tpSstbl = v)
        case "-tp_drm" => tp = tp.copy(tpDrm = v.toLong)
        case "-tp_ts" => tp = tp.copy(tpTs = v.toLong)
        case "-tp_gcp" => tp = tp.copy(tpGcpMs = v)
        // clamped by their guardrail ceilings, like the reference
        case "-tp_lpar" => { val x = v; if (x <= tp.grLparMb) tp = tp.copy(tpLparMb = x) }
        case "-tp_tblcnt" => { val x = v; if (x <= tp.grTblCnt) tp = tp.copy(tpTblCnt = x) }
        case "-tp_colcnt" => { val x = v; if (x <= tp.grColCnt) tp = tp.copy(tpColCnt = x) }
        case "-tp_mv" => { val x = v; if (x <= tp.grMv) tp = tp.copy(tpMv = x) }
        case "-tp_si" => { val x = v; if (x <= tp.grSi) tp = tp.copy(tpSi = x) }
        // the reference parses -tp_sai as float (explore.py:168)
        case "-tp_sai" => { val x = vd; if (x <= tp.grSai) tp = tp.copy(tpSai = x) }
        case "-incl_sys" => inclSys = true  // narrow blocklist (explore.py:170-171, 470-476)
        case other => roots += other
      }
      i += 1
    }
    (roots.toSeq, tp, inclSys)
  }

  /** usage: DiagReport [-tp_* <n> …] <diagRoot> [<diagRoot2> …] <outDir> —
    * multiple roots mirror the reference's repeated `-p` (E2,
    * explore.py:526): each cluster is analyzed with fresh state; output
    * lands under `<outDir>/<clusterName>` when more than one root is
    * given. */
  def main(args: Array[String]): Unit = {
    val (pos, tp, inclSys) = parseArgs(args.toSeq)
    require(pos.length >= 2, "usage: DiagReport [-tp_* n ...] <diagRoot>... <outDir>")
    val roots = pos.dropRight(1)
    val outDir = pos.last
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    runRoots(spark, roots, outDir, tp, inclSys)
    spark.stop()
  }

  /** The multi-cluster loop (E2, ref explore.py:526: repeated `-p`
    * roots, fresh state per cluster): single root writes to `outDir`
    * directly; multiple roots write to `<outDir>/<clusterName>`, with
    * duplicate names suffixed `-2`, `-3`, … instead of silently
    * overwriting. Returns each root's destination. */
  def runRoots(spark: SparkSession, roots: Seq[String], outDir: String,
      tp: Thresholds = Thresholds(), inclSys: Boolean = false): Seq[String] = {
    val used = scala.collection.mutable.Set.empty[String]
    roots.map { root =>
      // re-sweep the tree: a prior run (or test) may have rewritten the
      // same root path, and the file index assumes a static snapshot
      graft.sources.DiagSource.invalidate(root)
      val tabs = analyze(spark, root, tp, inclSys)
      val dest =
        if (roots.length == 1) outDir
        else {
          val base = s"$outDir/${tabs.clusterName}"
          val d = if (!used.contains(base)) base
            else Iterator.from(2).map(k => s"$base-$k").find(!used.contains(_)).get
          used += d
          d
        }
      write(tabs, dest)
      dest
    }
  }
}
