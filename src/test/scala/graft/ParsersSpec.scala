package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.parse.Parsers
import scala.io.Source

/** Pure parser unit tests over the diag_mini fixtures (FIXTURES.md §A) —
  * no Spark involved (SURVEY.md §5.1). */
class ParsersSpec extends AnyFunSuite {

  private val root = "src/test/resources/diag_mini"
  private def lines(rel: String): Iterator[String] = {
    val src = Source.fromFile(s"$root/$rel")
    val ls = src.getLines().toList
    src.close()
    ls.iterator
  }

  test("status: DC carry, row columns, missing node present") {
    val rows = Parsers.parseStatus(lines("nodes/10_0_0_1/nodetool/status")).toList
    assert(rows.length == 5)
    assert(rows.count(_.dc == "dc1") == 2)
    assert(rows.count(_.dc == "dc2") == 3)
    val n1 = rows.find(_.ip == "10.0.0.1").get
    assert(n1.status == "UN" && n1.load == "100.5 GiB" && n1.tokens == 256 && n1.rack == "rack1")
    assert(rows.exists(_.ip == "10.0.0.9")) // down node with no diag dir
  }

  test("gossip: OSS vs DSE blocks, 2- and 3-field DC lines, graph suffix") {
    val g = Parsers.parseGossip(lines("nodes/10_0_0_1/nodetool/gossipinfo"))
    assert(g.map(_.ip) == Seq("10.0.0.1", "10.0.0.2", "10.0.0.3", "10.0.0.4"))
    assert(g(0).dc == "dc1" && g(0).workload == "")          // DC:8:dc1 (3 fields)
    assert(g(1).dc == "dc1")                                  // DC:dc1 (2 fields)
    // unquoted JSON bool graph:false — field must still parse; version read
    assert(g(2).workload == "DSE Core" && !g(2).graph && g(2).dseVersion == "6.0.0")
    assert(g(3).workload == "Search + Graph" && g(3).graph && g(3).dseVersion == "6.8.25")
  }

  test("getParam: token position grab") {
    assert(Parsers.getParam(lines("nodes/10_0_0_1/nodetool/info"), "Uptime", 3)
      .contains("86400"))
    assert(Parsers.getParam(lines("nodes/10_0_0_1/nodetool/describecluster"), "Name:", 1)
      .contains("TestCluster"))
    assert(Parsers.getParam(lines("nodes/10_0_0_1/nodetool/info"), "NoSuchKey", 1).isEmpty)
  }

  test("cfstats: 3-level blocks, index/legacy forms, keyspace-less metric") {
    val m = Parsers.parseCfstats("n1", lines("nodes/10_0_0_1/nodetool/cfstats")).toList
    assert(m.exists(r => r.keyspace == "" && r.metric == "Total number of tables" &&
      r.value.contains(160.0)))
    val users = m.filter(r => r.keyspace == "ks1" && r.table == "users")
    assert(users.exists(r => r.metric == "Local read count" && r.value.contains(12000.0)))
    // a trailing "ms" unit is dropped, and "NaN ms" is NaN
    assert(users.exists(r => r.metric == "Local read latency" && r.value.contains(150.5)))
    val idle = m.filter(r => r.table == "idle" && r.metric == "Local read latency")
    assert(idle.nonEmpty && idle.forall(_.value.exists(_.isNaN)))
    // text that is not a number still makes a row, valued None
    val odd = Parsers.parseCfstats("n1", Iterator("Keyspace : ks", "\tTable: t",
      "\t\tSSTables in each level: [1, 0, 0]", "\t\tLocal read count: ",
      "\t\tSpace used (live): 1.2 MiB")).toList
    assert(odd.map(r => (r.metric, r.value)) == List(
      ("SSTables in each level", None), ("Local read count", None),
      ("Space used (live)", None)))
    val idx = m.filter(_.table == "users_by_email_idx")
    assert(idx.nonEmpty && idx.forall(_.isIndex))
    val legacy = m.filter(_.table == "legacy_cf")
    assert(legacy.nonEmpty && legacy.forall(r => !r.isIndex && r.keyspace == "ks2"))
    // keyspace-level "Read Count" rows carry empty table
    assert(m.exists(r => r.keyspace == "ks1" && r.table == "" && r.metric == "Read Count"))
  }

  test("proxyhistograms: percentile rows, µs→ms") {
    val ph = Parsers.parseProxyHist("n1", lines("nodes/10_0_0_1/nodetool/proxyhistograms")).toList
    assert(ph.map(_.pct).toSet == Set("50%", "75%", "95%", "98%", "99%", "Min", "Max"))
    val p50 = ph.find(_.pct == "50%").get
    assert(math.abs(p50.readMs - 1.31072) < 1e-9)
    assert(math.abs(p50.writeMs - 0.65495) < 1e-9)
  }

  test("schema: all 8 DDL kinds, RF per strategy, PK/CC split, quoted ids") {
    val cat = Parsers.parseSchema(lines("nodes/10_0_0_1/driver/schema"), Seq("dc1", "dc2"))
    val byKind = cat.objects.groupBy(_.kind).view.mapValues(_.size).toMap
    assert(byKind == Map("Table" -> 3, "Type" -> 1, "Index" -> 2,
      "Storage-Attached Index" -> 1, "Materialized Views" -> 3,
      "UDF" -> 2, "UDA" -> 1))
    // RF: NTS per-DC; SimpleStrategy replicated to every known DC
    assert(cat.rf.toSet == Set(
      model.KeyspaceRf("ks1", "dc1", 3.0), model.KeyspaceRf("ks1", "dc2", 2.0),
      model.KeyspaceRf("ks2", "dc1", 3.0), model.KeyspaceRf("ks2", "dc2", 3.0)))
    val users = cat.objects.find(o => o.kind == "Table" && o.name == "users").get
    assert(users.pk == Seq("user_id") && users.cc == Seq("created"))
    val orders = cat.objects.find(o => o.kind == "Table" && o.name == "orders").get
    assert(orders.pk == Seq("order_id", "user_id") && orders.cc == Seq("amount"))
    val legacy = cat.objects.find(_.name == "legacy_cf").get  // quoted identifier
    // inline "id uuid PRIMARY KEY," sets pk AND counts as a field
    assert(legacy.keyspace == "ks2" && legacy.fields.size == 52)
    assert(legacy.pk == Seq("id"))
    // index/MV source attribution
    assert(cat.objects.filter(_.kind == "Index").forall(o =>
      o.srcKeyspace == "ks1" && o.srcTable == "users"))
    assert(cat.objects.filter(_.kind == "Materialized Views").forall(o =>
      o.srcKeyspace == "ks1" && o.srcTable == "users"))
  }

  test("malformed inputs: truncated tombstone line and chopped gossip JSON don't throw") {
    val ev = Parsers.parseLog("n", Iterator(
      "WARN  [R] 2023-03-01 11:30:00,789 ReadCommand.java:576 - Read 10 live rows and"))
    assert(ev.gc.isEmpty && ev.tombstones.isEmpty)
    val g = Parsers.parseGossip(Iterator("/10.0.0.1", "  X_11_PADDING:36:"))
    assert(g.head.workload == "")
  }

  test("system.log: GC both date positions, tombstones both phrasings + gate") {
    val ev = Parsers.parseLog("n1", lines("nodes/10_0_0_1/logs/cassandra/system.log"))
    assert(ev.gc.map(_.pauseMs) == Seq(210, 450))
    assert(ev.gc.head.ts.toString.startsWith("2023-03-01 10:00:00"))
    // 500-tombstone event is below the tp_ts=1000 gate
    assert(ev.tombstones.map(t => (t.keyspace, t.table, t.reads, t.tombstones)).toSet ==
      Set(("ks1", "users", 10L, 2000L), ("ks2", "legacy_cf", 55L, 5000L)))
  }
}
