package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import graft.model.Thresholds
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** End-to-end pipeline test over the diag_mini fixture (SURVEY.md §5.3):
  * parse → analyze → summary, asserting hand-computed golden values.
  *
  * Golden arithmetic (fixture constants): ks1 rf = dc1:3 + dc2:2 (Σ5);
  * ks2 SimpleStrategy rf 3 per DC (Σ6); per-node counts identical across
  * the 4 nodes (uptime 86400 in dc1, 43200 in dc2).
  */
class DiagPipelineSpec extends AnyFunSuite with SparkTestBase {

  private lazy val tabs = DiagReport.analyze(spark, "src/test/resources/diag_mini")

  test("cluster name discovered") {
    assert(tabs.clusterName == "TestCluster")
  }

  test("workload: RF-normalized sums + ratio-of-total") {
    val wl = tabs.workload.collect().map(r =>
      (r.getAs[String]("keyspace"), r.getAs[String]("table")) -> r).toMap
    val users = wl(("ks1", "users"))
    // reads: 12000/3 ×2 nodes + 12000/2 ×2 nodes
    assert(math.abs(users.getAs[Double]("reads") - 20000.0) < 1e-6)
    // writes: 6000/5 ×4 ; size: 2e9/5 ×4
    assert(math.abs(users.getAs[Double]("writes") - 4800.0) < 1e-6)
    assert(math.abs(users.getAs[Double]("size_bytes") - 1.6e9) < 1e-3)
    val orders = wl(("ks1", "orders"))
    assert(math.abs(orders.getAs[Double]("reads") - 4000.0) < 1e-6)
    assert(math.abs(orders.getAs[Double]("writes") - 7200.0) < 1e-6)
    val legacy = wl(("ks2", "legacy_cf"))
    assert(math.abs(legacy.getAs[Double]("reads") - 80.0) < 1e-6)
    assert(math.abs(legacy.getAs[Double]("writes") - 48.0) < 1e-6)
    // system keyspace excluded; index tables INCLUDED (the reference's
    // is_index is a dead variable, explore.py:925-931 — golden-diffed)
    assert(!wl.keySet.exists(_._1 == "system"))
    val idx = wl(("ks2", "users_by_email_idx"))
    // idx reads: 10/rf(ks2)=10/3 per node × 4; size 1000/Σrf=1000/3
    assert(math.abs(idx.getAs[Double]("reads") - 40.0 / 3) < 1e-9)
    assert(math.abs(idx.getAs[Double]("size_bytes") - 1000.0 / 3) < 1e-6)
    // ratio-of-total: users reads / (24080 + idx 13.3̅)
    assert(math.abs(users.getAs[Double]("perc_read") - 20000.0 / (24080.0 + 40.0 / 3)) < 1e-9)
    // tps: (12000/3)/86400 ×2 + (12000/2)/43200 ×2
    val expTps = 4000.0 / 86400 * 2 + 6000.0 / 43200 * 2
    assert(math.abs(users.getAs[Double]("read_tps") - expTps) < 1e-9)
    // global sort: users (most reads) first
    assert(tabs.workload.head().getAs[String]("table") == "users")
  }

  test("gc percentiles: 3-level rollup, positional picks, zip + AdditionalLogs") {
    val gc = tabs.gc.collect().map(r =>
      (r.getAs[String]("level"), r.getAs[String]("name")) -> r).toMap
    // node 10_0_0_1 sees plain(210,450) + zip(300,600) + AdditionalLogs(1000)
    val n1 = gc(("Node", "10_0_0_1"))
    assert(n1.getAs[Long]("pauses") == 5)
    assert(n1.getAs[Int]("min_ms") == 210 && n1.getAs[Int]("max_ms") == 1000)
    assert(n1.getAs[Int]("p50") == 450) // idx=round_half_up(5·0.5)=3 of [210,300,450,600,1000]
    assert(n1.getAs[Int]("p99") == 1000)
    val n2 = gc(("Node", "10.0.0.2"))
    assert(n2.getAs[Long]("pauses") == 1 && n2.getAs[Int]("p50") == 100)
    val dc1 = gc(("DC", "dc1"))
    assert(dc1.getAs[Long]("pauses") == 6)
    assert(dc1.getAs[Int]("p50") == 300) // idx=3 of [100,210,300,450,600,1000]
    val db = gc(("Database", "TestCluster"))
    assert(db.getAs[Long]("pauses") == 6 && db.getAs[Int]("p99") == 1000)
    assert(db.getAs[java.sql.Timestamp]("ts_of_max").toString.startsWith("2023-03-02 08:00:00"))
    assert(db.getAs[java.sql.Timestamp]("oldest").toString.startsWith("2023-02-28 09:00:00"))
    assert(!gc.contains(("DC", "dc2"))) // no events in dc2
  }

  test("tombstones: sorted desc, dedup keeps max per (ks,tbl), gate applied") {
    val ts = tabs.tombstones.collect()
    assert(ts.map(r => (r.getAs[String]("keyspace"), r.getAs[String]("table"),
      r.getAs[Long]("tombstones"))).toSeq ==
      Seq(("ks2", "legacy_cf", 5000L), ("ks1", "users", 2000L)))
  }

  test("threshold tabs: per-spec filters, ms strip, max-per-table collapse") {
    val th = tabs.thresholds.collect()
      .groupBy(_.getAs[String]("tab")).view.mapValues(_.length).toMap
    assert(th == Map(
      "dropped_mutation" -> 4,   // users 200000 on each node
      "num_tables" -> 1,         // max-per-table collapse
      "large_partition" -> 8,    // users+orders × 4 nodes
      "sstable_count" -> 1,      // users 25, collapsed
      "read_latency" -> 4))      // users 150.5ms (strip "ms")
    val rl = tabs.thresholds.filter("tab = 'read_latency'").head()
    assert(math.abs(rl.getAs[Double]("value") - 150.5) < 1e-9)
    // NaN latencies (idle table) are excluded — Spark orders NaN above all
    assert(!tabs.thresholds.collect().exists(_.getAs[Double]("value").isNaN))
    // large-partition tab reports MB like the reference (explore.py:1462)
    val lp = tabs.thresholds.filter("tab = 'large_partition' AND table = 'users'").head()
    assert(math.abs(lp.getAs[Double]("value") - 260.0) < 1e-9)
  }

  test("guardrail warnings: all categories, *** tier") {
    val msgs = tabs.warnings.collect()
      .map(r => (r.getAs[String]("check"), r.getAs[String]("message"))).toSet
    assert(msgs.contains(("Materialized Views", "3 Materialized Views of ks1.users***")))
    assert(msgs.contains(("Secondary Indexes", "2 Secondary Indexes of ks1.users***")))
    assert(msgs.contains(("Number of Columns", "52 columns in ks2.legacy_cf")))
    assert(msgs.contains(("Number of Tables", "160 tables in database")))
    assert(msgs.contains(("GC Pauses", "P99 GC pause greater than 800")))
    assert(msgs.contains(("Tombstones",
      "Tombstones greater than 1,000 in a single read request")))
    // single-entry Database Health presence warnings (explore.py:1445)
    assert(msgs.contains(("SSTable Count", "SSTable Count greater than 20")))
    assert(msgs.contains(("Read Latency", "Read Latency greater than 100")))
    assert(msgs.contains(("Dropped Mutation", "Dropped Mutation greater than 100000")))
    assert(!msgs.exists(_._1 == "Write Latency")) // none ≥ 100ms in fixture
    assert(msgs.exists { case (c, m) =>
      c == "Large Partitions" && m.contains("ks1.users") && m.endsWith("***") })
    assert(msgs.exists { case (c, m) =>
      c == "Large Partitions" && m.contains("ks1.orders") && !m.endsWith("***") })
    assert(msgs.count { case (c, _) => c == "User-Defined Function" } == 2)
    assert(msgs.count { case (c, _) => c == "User-Defined Aggregate" } == 1)
    // no SAI warning: 1 SAI ≤ tp 8
    assert(!msgs.exists(_._1 == "Storage-Attached Indexes"))
    // down node 10.0.0.9 is in status but has no diag dir
    // (ref explore.py:302-304: unmatched IP → Missing Node Data warning)
    assert(msgs.contains(("Missing Node Data", "10.0.0.9")))
    assert(msgs.count(_._1 == "Missing Node Data") == 1)
    // 10.0.0.4 runs Search + Graph (ref explore.py:698-702: non-Cassandra
    // workloads and Graph are each flagged once)
    assert(msgs.contains(("Not Supported", "Search")))
    assert(msgs.contains(("Not Supported", "Graph")))
    // DSE Core (plain Cassandra) and OSS nodes are NOT flagged
    assert(!msgs.exists { case (c, m) => c == "Not Supported" &&
      (m == "DSE Core" || m == "OSS Cassandra" || m == "") })
  }

  test("node table: status ⋈ gossip ⋈ uptime; OSS/DSE versions") {
    val nt = tabs.nodeTable.collect().map(r => r.getAs[String]("node") -> r).toMap
    assert(nt.size == 5)
    val n1 = nt("10.0.0.1")
    assert(n1.getAs[String]("workload") == "OSS Cassandra")
    assert(n1.getAs[String]("version") == "4.0.11")
    assert(n1.getAs[Long]("uptime_sec") == 86400L)
    assert(n1.getAs[String]("uptime_human") == "1 days 00:00:00")
    assert(nt("10.0.0.3").getAs[String]("uptime_human") == "0 days 12:00:00")
    assert(nt("10.0.0.3").getAs[String]("workload") == "DSE Core")
    assert(nt("10.0.0.3").getAs[String]("version") == "6.0.0")
    assert(nt("10.0.0.4").getAs[String]("workload") == "Search + Graph")
    assert(nt("10.0.0.4").getAs[String]("version") == "6.8.25")
    // down node 10.0.0.9 has no diag dir: defaults
    assert(nt("10.0.0.9").getAs[Long]("uptime_sec") == 0L)
  }

  test("workbook: one CSV per reference tab with the reference layouts") {
    val dir = Files.createTempDirectory("graft_wb").toString
    DiagWorkbook.write(tabs, dir)
    def lines(tab: String): Seq[String] = {
      val p = Paths.get(s"$dir/workbook/$tab.csv")
      assert(Files.exists(p), s"missing tab $tab")
      Files.readAllLines(p).asScala.toSeq
    }
    // all 13 reference tabs exist (explore.py:1127-1138, 443-450)
    val hdr = Map(
      "Node Data" -> "Datacenter,Node,Load,Tokens,Rack,Uptime (sec),Uptime,Workload,Version",
      "Dropped Mutation" -> "Node,DC,Keyspace,Table,Dropped Mutations",
      "Number of Tables" -> "Sample Node,DC,Keyspace,Table,Total Number of Tables",
      "Large Partitions" -> "Node,DC,Keyspace,Table,Partition Size(MB)",
      "SSTable Count" -> "Example Node,DC,Keyspace,Table,SSTable Count",
      "Read Latency" -> "Node,DC,Keyspace,Table,Read Latency (ms)",
      "Write Latency" -> "Node,DC,Keyspace,Table,Write Latency (ms)",
      "Tombstones" -> "Sample DC,Sample Node,Keyspace,Table,Live Rows Read,Tombstones",
      "GC Pauses" -> "Name,Level/DC,Pauses,Max,P99,P98,P95,P90,P75,P50,Min,From,To,Max Date",
      "Data Size" -> "Keyspace,Table,Size (Bytes)")
    // Data Size gains the merged 'Table Size' title row (explore.py:1343)
    hdr.foreach { case (tab, h) =>
      val at = if (tab == "Data Size") 1 else 0
      assert(lines(tab)(at) == h, s"tab $tab header")
    }
    assert(lines("Data Size").head.startsWith("Table Size"))
    // reference title rows (explore.py:1693-1695, 1395-1396), then the
    // side-by-side blocks with the empty separator column
    assert(lines("Workload").head.startsWith("Workload for TestCluster"))
    assert(lines("Workload")(1).startsWith("Reads,,,,,,,Writes"))
    assert(lines("Workload")(2) ==
      "Keyspace,Table,Read Requests,Average TPS,% Reads,R % RW,," +
        "Keyspace,Table,Write Requests,Average TPS,% Writes,W % RW")
    assert(lines("Proxihistogram").head.startsWith(
      "Coordinating Node Read Latency (ms)"))
    assert(lines("Proxihistogram")(1) ==
      "Datacenter,Node,Max,P99,P98,P95,P75,P50,Min,," +
        "Datacenter,Node,Max,P99,P98,P95,P75,P50,Min")
    // workload data: read side sorted desc — users first; Total row closes
    val wlRows = lines("Workload").drop(3)
    assert(wlRows.head.startsWith("ks1,users,20000"))
    assert(wlRows.last.contains("Total"))
    // node tab carries the Avg Uptime footer
    assert(lines("Node Data").last.contains("Avg Uptime"))
    // astra metrics: summary rows + warning sections
    val am = lines("Astra Metrics")
    assert(am.head == "Astra Metrics Data for TestCluster")
    assert(am.exists(_.startsWith("Read TPS,")))
    assert(am.contains("Astra Guardrails"))
    assert(am.exists(_.contains("Missing Node Data")))

    // the reference's primary artifact: a real xlsx workbook (zip of
    // SpreadsheetML parts), 13 sheets, Astra Metrics first
    val xlsx = new java.util.zip.ZipFile(s"$dir/TestCluster_astra_chart.xlsx")
    try {
      val entries = Iterator.continually(xlsx.entries())
        .take(1).flatMap(e => Iterator.continually(e).takeWhile(_.hasMoreElements)
          .map(_.nextElement().getName)).toSet
      assert(entries.contains("[Content_Types].xml"))
      assert(entries.contains("xl/workbook.xml"))
      assert((1 to 13).forall(i => entries.contains(s"xl/worksheets/sheet$i.xml")))
      def part(name: String): String = {
        val in = xlsx.getInputStream(xlsx.getEntry(name))
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      val wb = part("xl/workbook.xml")
      assert(wb.contains("""<sheet name="Astra Metrics" sheetId="1""""))
      assert(wb.contains("""<sheet name="GC Pauses" sheetId="13""""))
      assert(part("xl/worksheets/sheet1.xml")
        .contains("Astra Metrics Data for TestCluster"))
      // numeric cells are native numbers (with the #,##0 uptime format)
      assert(part("xl/worksheets/sheet4.xml").contains("<c r=\"F2\" s=\"1\"><v>86400</v></c>"))
      // styles part present: number formats for counts/ms/percent/TPS
      val styles = part("xl/styles.xml")
      assert(styles.contains("formatCode=\"#,##0\""))
      assert(styles.contains("formatCode=\"#,##0.0000\""))
      // frozen panes: Workload freezes title+block+header rows (the
      // reference's freeze_panes(3,0), explore.py:1129); Data Size
      // freezes (2,2)
      val wlSheet = part("xl/worksheets/sheet2.xml")
      assert(wlSheet.contains(
        "<pane ySplit=\"3\" topLeftCell=\"A4\" activePane=\"bottomRight\" state=\"frozen\""))
      assert(part("xl/worksheets/sheet3.xml").contains(
        "<pane xSplit=\"2\" ySplit=\"2\" topLeftCell=\"C3\""))
      // merged title ranges (explore.py:1343, 1395-1396, 1693-1695)
      assert(wlSheet.contains("<mergeCell ref=\"A1:M1\"/>") &&
        wlSheet.contains("<mergeCell ref=\"A2:F2\"/>") &&
        wlSheet.contains("<mergeCell ref=\"H2:M2\"/>"))
      assert(part("xl/worksheets/sheet3.xml").contains("<mergeCell ref=\"A1:C1\"/>"))
      assert(part("xl/worksheets/sheet5.xml").contains("<mergeCell ref=\"K1:S1\"/>"))
      assert(part("xl/worksheets/sheet1.xml").contains("<mergeCell ref=\"A1:B1\"/>"))
      // cell comments: classic comments part + VML note shapes, wired
      // through the sheet rels (write_cmt, explore.py:210-213)
      assert(entries.contains("xl/comments2.xml") &&
        entries.contains("xl/drawings/vmlDrawing2.vml") &&
        entries.contains("xl/worksheets/_rels/sheet2.xml.rels"))
      assert(part("xl/comments2.xml").contains("<comment ref=\"C3\"") &&
        part("xl/comments2.xml").contains("read requests during the nodes uptime"))
      assert(wlSheet.contains("<legacyDrawing r:id=\"rIdVml\"/>"))
      assert(part("xl/drawings/vmlDrawing2.vml").contains("ObjectType=\"Note\""))
      assert(part("xl/comments3.xml").contains("single set of complete data"))
    } finally xlsx.close()
  }

  test("proxy histograms: pivoted per (dc, node), µs→ms") {
    val ph = tabs.proxyHist.collect()
    assert(ph.length == 4)
    val r = ph.find(_.getAs[String]("node") == "10_0_0_1").get
    assert(r.getAs[String]("dc") == "dc1")
    assert(math.abs(r.getAs[Double]("r_50") - 1.31072) < 1e-9)
    assert(math.abs(r.getAs[Double]("w_Max") - 17.43692) < 1e-9)
  }

  test("Hadoop-FS path transparency: file:-scheme root ≡ plain path (S14)") {
    import graft.sources.DiagSource
    val abs = Paths.get("src/test/resources/diag_mini").toAbsolutePath.toString
    val uri = "file://" + abs
    // discovery, whole-file reads, and the full pipeline all go through
    // the Hadoop FileSystem API — the s3a:// claim rests on exactly this
    // scheme-resolution path
    assert(DiagSource.nodeDirs(spark, uri) == DiagSource.nodeDirs(spark, abs))
    def files(root: String) =
      DiagSource.cfstats(spark, root).collect().map(_.toString).sorted.toSeq
    assert(files(uri) == files(abs) && files(uri).nonEmpty)
    val t2 = DiagReport.analyze(spark, uri)
    assert(t2.clusterName == "TestCluster")
    assert(t2.workload.collect().length == tabs.workload.collect().length)
  }

  test("index cache invalidation: a rewritten tree at the same path is re-swept") {
    import graft.sources.DiagSource
    val root = Files.createTempDirectory("graft_inval").toString
    val n1 = Paths.get(root, "nodes", "10.0.0.1", "nodetool")
    Files.createDirectories(n1)
    Files.write(n1.resolve("status"), "x".getBytes)
    assert(DiagSource.index(spark, root).nodes == Seq("10.0.0.1"))
    // grow the tree in place: the static-snapshot cache misses it...
    val n2 = Paths.get(root, "nodes", "10.0.0.2", "nodetool")
    Files.createDirectories(n2)
    Files.write(n2.resolve("status"), "y".getBytes)
    assert(DiagSource.index(spark, root).nodes == Seq("10.0.0.1"))
    // ...until invalidated (DiagReport.runRoots does this per root)
    DiagSource.invalidate(root)
    assert(DiagSource.index(spark, root).nodes == Seq("10.0.0.1", "10.0.0.2"))
  }

  test("multi-cluster run (E2): per-cluster output dirs, duplicate names suffixed") {
    // the same fixture twice = two clusters with the same name — the
    // second must land in TestCluster-2, not overwrite (ref repeated -p,
    // explore.py:526, where a shared name WOULD silently overwrite)
    val out = Files.createTempDirectory("graft_multi").toString
    val dests = DiagReport.runRoots(spark,
      Seq("src/test/resources/diag_mini", "src/test/resources/diag_mini"), out)
    assert(dests == Seq(s"$out/TestCluster", s"$out/TestCluster-2"))
    dests.foreach { d =>
      assert(Files.exists(Paths.get(s"$d/summary.json")), s"missing summary in $d")
      assert(Files.exists(Paths.get(s"$d/TestCluster_astra_chart.xlsx")))
    }
    // single root keeps the flat layout
    val out1 = Files.createTempDirectory("graft_single").toString
    assert(DiagReport.runRoots(spark,
      Seq("src/test/resources/diag_mini"), out1) == Seq(out1))
    assert(Files.exists(Paths.get(s"$out1/summary.json")))
  }

  test("summary.json: valid JSON, reference keys, totals") {
    val json = DiagReport.summaryJson(tabs)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(json)
    assert(tree.get("cluster").asText() == "TestCluster")
    // total includes the index table (2000/6) — reference parity
    assert(math.abs(tree.get("dataset_size").get("total").asDouble() -
      (1.6e9 + 8e8 + 2e8 + 1000.0 / 3)) < 1e-5)
    // idle table: placeholder {} entries, no size/read/write blocks
    assert(tree.get("dataset_size").get("ks1").get("idle").isEmpty)
    assert(tree.get("workload").get("ks1").get("idle").isEmpty)
    // index table: read block only (writes never counted)
    val idxNode = tree.get("workload").get("ks2").get("users_by_email_idx")
    assert(idxNode.has("read") && !idxNode.has("write"))
    // top-level avg_uptime (reference key, our all-status-nodes semantic)
    assert(tree.get("avg_uptime").asDouble() == (86400.0 * 2 + 43200 * 2) / 5)
    assert(tree.get("workload").get("ks1").get("users").get("read")
      .get("read_req").asDouble() == 20000.0)
    assert(tree.get("warnings").get("Astra Guardrails").get("Materialized Views")
      .get(0).asText().endsWith("***"))
    // the down node 10.0.0.9 has no diag dir → incomplete diag
    // (ref explore.py:304: missing_data flips to 1)
    assert(tree.get("missing_data").asInt() == 1)
    assert(tree.get("warnings").get("Missing Data").get("Missing Node Data")
      .get(0).asText() == "10.0.0.9")
    // Astra Metrics (engine-computed, reference had them as Excel formulas)
    val am = tree.get("astra_metrics")
    assert(math.abs(am.get("data_size_gb").asDouble() - (2.6 + 1000.0 / 3 / 1e9)) < 1e-12)
    val tps = am.get("read_tps").asDouble()
    assert(math.abs(am.get("read_tpmo").asDouble() - tps * 60 * 60 * 24 * 365.25 / 12) < 1e-6)
    // 5 status nodes: 86400×2 + 43200×2 + 0 (down node) over 5
    assert(am.get("avg_uptime_sec").asDouble() == (86400.0 * 2 + 43200 * 2) / 5)
  }

  test("summary.json: a control character in a name stays valid JSON") {
    val json = DiagReport.summaryJson(tabs.copy(clusterName = "Test\u0007Cluster"))
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(tree.get("cluster").asText() == "Test\u0007Cluster")
  }

  test("diag root under a space and a '%': same tabs and summary as the plain path") {
    val src = Paths.get("src/test/resources/diag_mini")
    val root = Files.createTempDirectory("graft diag %41 x").resolve("diag %20 mini")
    Files.walk(src).iterator().asScala.foreach { p =>
      val to = root.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    val t2 = DiagReport.analyze(spark, root.toString)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    Seq[DiagReport.Tabs => DataFrame](_.nodeTable, _.workload, _.gc, _.tombstones,
      _.thresholds, _.warnings, _.proxyHist, _.seenTables)
      .foreach(tab => assert(rows(tab(t2)) == rows(tab(tabs))))
    assert(DiagReport.summaryJson(t2) == DiagReport.summaryJson(tabs))
  }

  test("a CRLF system.log yields the same GC and tombstone events as LF") {
    import graft.sources.DiagSource
    val log = Files.readAllLines(Paths.get(
      "src/test/resources/diag_mini/nodes/10_0_0_1/logs/cassandra/system.log")).asScala
    def events(eol: String) = {
      val root = Files.createTempDirectory("graft_eol")
      val dir = root.resolve("nodes/10.0.0.1/logs/cassandra")
      Files.createDirectories(dir)
      Files.write(dir.resolve("system.log"), log.map(_ + eol).mkString.getBytes("UTF-8"))
      val (gc, ts) = DiagSource.logEvents(spark, root.toString, 0L)
      (gc.collect().toSeq.sortBy(_.toString), ts.collect().toSeq.sortBy(_.toString))
    }
    val lf = events("\n")
    assert(lf._1.nonEmpty && lf._2.nonEmpty)
    assert(events("\r\n") == lf)
  }

  test("a cfstats value the report reads that is not a number fails it, naming where") {
    val err = intercept[Throwable](DiagReport.analyze(spark, DiagPipelineSpec.miniSizedInMiB()))
    val chain = DiagPipelineSpec.messages(err)
    assert(chain.contains(DiagPipelineSpec.NotANumberAt), chain)
  }

  test("gc: a node with no nodetool/info keeps its pauses in a null-DC row") {
    val gc = DiagReport.analyze(spark, DiagPipelineSpec.miniWithoutInfo()).gc.collect()
    def pauses(level: String) =
      gc.filter(_.getAs[String]("level") == level).map(_.getAs[Long]("pauses"))
    assert(pauses("Database").toSeq == Seq(6L))
    assert(pauses("DC").sum == 6L, gc.mkString("\n"))
    val orphan = gc.find(r => r.getAs[String]("level") == "DC" && r.isNullAt(1))
    assert(orphan.map(_.getAs[Long]("pauses")).contains(1L), gc.mkString("\n"))
  }

  test("warnings under lowered thresholds: both tiers of every schema check") {
    def warnings(tp: Thresholds) =
      DiagReport.analyze(spark, "src/test/resources/diag_mini", tp).warnings.collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val hard = warnings(Thresholds(tpMv = 0, tpSi = 0, tpSai = 0, tpColCnt = 3,
      grColCnt = 50))
    val soft = warnings(Thresholds(tpMv = 0, tpSi = 0, tpSai = 0, grMv = 5, grSi = 5,
      grSai = 0))
    // the warnings both runs share: every one the data tabs, status and
    // gossip decide, and the UDF/UDA checks, which have no threshold
    val common = Seq(
      ("Astra Guardrails", "Large Partitions", "Table dc1.ks1.orders partition size 150.0MB"),
      ("Astra Guardrails", "Large Partitions", "Table dc1.ks1.users partition size 260.0MB***"),
      ("Astra Guardrails", "Large Partitions", "Table dc2.ks1.orders partition size 150.0MB"),
      ("Astra Guardrails", "Large Partitions", "Table dc2.ks1.users partition size 260.0MB***"),
      ("Database Health", "Dropped Mutation", "Dropped Mutation greater than 100000"),
      ("Database Health", "GC Pauses", "P99 GC pause greater than 800"),
      ("Database Health", "Read Latency", "Read Latency greater than 100"),
      ("Database Health", "SSTable Count", "SSTable Count greater than 20"),
      ("Database Health", "Tombstones",
        "Tombstones greater than 1,000 in a single read request"),
      ("Missing Data", "Missing Node Data", "10.0.0.9"),
      ("Workload", "Not Supported", "Graph"),
      ("Workload", "Not Supported", "Search"),
      ("Astra Guardrails", "Number of Tables", "160 tables in database"),
      ("Astra Guardrails", "User-Defined Aggregate", "UDA average in ks1"),
      ("Astra Guardrails", "User-Defined Function", "UDF avgstate in ks1"),
      ("Astra Guardrails", "User-Defined Function", "UDF maxof in ks1"))
    def sorted(ws: Seq[(String, String, String)]) = ws.sortBy(w => (w._1, w._2, w._3))
    assert(hard == sorted(common ++ Seq(
      ("Astra Guardrails", "Materialized Views", "3 Materialized Views of ks1.users***"),
      ("Astra Guardrails", "Number of Columns", "4 columns in ks1.users"),
      ("Astra Guardrails", "Number of Columns", "52 columns in ks2.legacy_cf***"),
      ("Astra Guardrails", "Secondary Indexes", "2 Secondary Indexes of ks1.users***"),
      ("Astra Guardrails", "Storage-Attached Indexes",
        "1 Storage-Attached Indexes of ks1.users"))))
    assert(soft == sorted(common ++ Seq(
      ("Astra Guardrails", "Materialized Views", "3 Materialized Views of ks1.users"),
      ("Astra Guardrails", "Number of Columns", "52 columns in ks2.legacy_cf"),
      ("Astra Guardrails", "Secondary Indexes", "2 Secondary Indexes of ks1.users"),
      ("Astra Guardrails", "Storage-Attached Indexes",
        "1 Storage-Attached Indexes of ks1.users***"))))
  }

  test("gc: the one-pass histogram picks what a rank window over the events picks") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.model.GcEvent
    import graft.operators.DiagAnalysis
    // n5 has no DC
    val nodeDc = Seq("n1" -> "dcA", "n2" -> "dcA", "n3" -> "dcB", "n4" -> "dcB")
      .toDF("node", "dc")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    for ((size, seed) <- Seq(1 -> 1, 9 -> 2, 700 -> 3)) {
      val rnd = new scala.util.Random(seed)
      // pauses from a 6-value domain, so ties everywhere; every 7th event
      // is the max pause, each at its own ts
      val ev = (1 to size).map { i =>
        val (pause, at) =
          if (i % 7 == 0) (900, t0 + i * 1000L) else (200 + rnd.nextInt(6), t0 + rnd.nextInt(40) * 60000L)
        GcEvent(s"n${1 + rnd.nextInt(5)}", new java.sql.Timestamp(at), pause)
      }.toDS()
      val lvls = ev.toDF().join(nodeDc, Seq("node"), "left")
        .select(explode(array(
          struct(lit("Node").as("level"), col("node").as("name")),
          struct(lit("DC").as("level"), col("dc").as("name")),
          struct(lit("Database").as("level"), lit("C").as("name")))).as("l"),
          col("ts"), col("pauseMs"))
        .select(col("l.level").as("level"), col("l.name").as("name"), col("ts"), col("pauseMs"))
      val byLevel = Window.partitionBy(col("level"), col("name"))
      val ranked = lvls
        .withColumn("rn", row_number().over(byLevel.orderBy(col("pauseMs"), col("ts"))))
        .withColumn("n", count(lit(1)).over(byLevel))
      def pick(q: Double) = max(when(col("rn") ===
        least(greatest(round(col("n") * q), lit(1L)), col("n")), col("pauseMs")))
      val want = ranked.groupBy(col("level"), col("name"), col("n")).agg(
        min(col("pauseMs")), pick(0.50), pick(0.75), pick(0.90), pick(0.95), pick(0.98),
        pick(0.99), max(col("pauseMs")), min(col("ts")), max(col("ts")),
        max_by(col("ts"), struct(col("pauseMs"), col("ts"))))
      val got = DiagAnalysis.gcPercentiles(ev, nodeDc, "C")
      assert(rows(got) == rows(want), s"$size events")
      if (size > 100) assert(got.collect().exists(r => r.getString(0) == "DC" && r.isNullAt(1)))
    }
  }

  test("the warnings tab is built from the collected tabs without a Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    import graft.operators.DiagAnalysis
    import graft.sources.DiagSource
    val root = "src/test/resources/diag_mini"
    val status = DiagSource.status(spark, root).collect().toSeq
    val gossip = DiagSource.gossip(spark, root).collect().toSeq
    val catalog = DiagSource.schema(spark, root, status.map(_.dc).distinct.sorted)
    val ipOf = DiagSource.nodeIpMap(spark, root, status.map(_.ip).toSet)
    val sc = spark.sparkContext
    val group = s"warnings-${java.util.UUID.randomUUID}"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    val built = try {
      sc.setJobGroup(group, "build the warnings tab")
      val w = DiagAnalysis.warnings(catalog.objects, status, gossip, ipOf,
        tabs.thresholds, tabs.gc, tabs.tombstones, Thresholds())
      val rows = w.collect()
      // the listener bus delivers in order: once this marker job is seen,
      // every job started before it has been seen too
      sc.setJobGroup(s"$group-end", "marker")
      spark.range(1).count()
      eventually(timeout(Span(10, Seconds))) { assert(groups.contains(s"$group-end")) }
      rows
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(!groups.contains(group))
    assert(built.toSeq == tabs.warnings.collect().toSeq)
  }

  test("a cfstats line the report does not read may hold any text") {
    val t2 = DiagReport.analyze(spark, DiagPipelineSpec.miniWithLevels())
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    Seq[DiagReport.Tabs => DataFrame](_.nodeTable, _.workload, _.gc, _.tombstones,
      _.thresholds, _.warnings, _.proxyHist, _.seenTables)
      .foreach(tab => assert(rows(tab(t2)) == rows(tab(tabs))))
  }
}

object DiagPipelineSpec {
  /** A diag_mini copy where node 10.0.0.2 gives ks1.users' `Space used
    * (live)` as `1.2 MiB`, a value the workload tab reads. */
  def miniSizedInMiB(): String =
    miniWithCfstats(_.replaceFirst("Space used \\(live\\): 2000000000",
      "Space used (live): 1.2 MiB"))

  /** Where [[miniSizedInMiB]]'s value is, as the report's error names it. */
  val NotANumberAt = "node 10.0.0.2, table ks1.users, metric Space used (live)"

  /** A diag_mini copy where node 10.0.0.2 adds `SSTables in each level:
    * [1, 0, 0]` to ks1.users, a line no tab reads. */
  def miniWithLevels(): String =
    miniWithCfstats(_.replaceFirst("\t\tSSTable count: 25",
      "\t\tSSTables in each level: [1, 0, 0]\n\t\tSSTable count: 25"))

  /** Every message in `err`'s cause chain, one a line. */
  def messages(err: Throwable): String =
    Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString("\n")

  /** A diag_mini copy without node 10.0.0.2's `nodetool/info`: the node
    * keeps its GC pause but has no DC. */
  def miniWithoutInfo(): String = {
    val root = copyOfMini()
    Files.delete(root.resolve("nodes/10.0.0.2/nodetool/info"))
    root.toString
  }

  private def copyOfMini(): java.nio.file.Path = {
    val src = Paths.get("src/test/resources/diag_mini")
    val root = Files.createTempDirectory("graft_mini").resolve("diag")
    Files.walk(src).iterator().asScala.foreach { p =>
      val to = root.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    root
  }

  private def miniWithCfstats(edit: String => String): String = {
    val root = copyOfMini()
    val cf = root.resolve("nodes/10.0.0.2/nodetool/cfstats")
    val text = Files.readString(cf)
    val edited = edit(text)
    assert(edited != text)
    Files.writeString(cf, edited)
    root.toString
  }
}
