package graft.model

/** Typed entities of the diagnostic-snapshot data model (SURVEY.md §1.4).
  * Parsers (graft.parse) emit these; everything downstream is relational
  * over their Datasets. Schemas are fixed by the case classes — never
  * inferred.
  */

/** One node row from `nodetool/status` (ref explore.py:274-306). */
final case class StatusRow(
    dc: String, ip: String, status: String, load: String,
    tokens: Int, rack: String)

/** One node block from `nodetool/gossipinfo` (ref explore.py:664-714).
  * `workload`/`dseVersion` are empty for OSS nodes (no DSE gossip state).
  */
final case class GossipNode(
    ip: String, dc: String, workload: String, graph: Boolean,
    dseVersion: String)

/** One metric line from `nodetool/cfstats`/`tablestats`, long format
  * (ref explore.py:907-998): the single relation feeding every
  * threshold/guardrail tab. `table` is empty for keyspace-level metrics
  * (e.g. "Total number of tables" appears before any keyspace too —
  * then `keyspace` is empty as well). `value` is the line's number,
  * parsed once: a trailing `ms` unit is dropped ("NaN ms" is NaN), and
  * text that is not a number is `None`. The parser keeps every line;
  * the analysis fails a report that reads a `None` (DiagAnalysis).
  */
final case class TableMetric(
    node: String, keyspace: String, table: String, isIndex: Boolean,
    metric: String, value: Option[Double])

/** One schema object from the CQL DDL dump (ref explore.py:722-877).
  * kind ∈ Table, Index, Storage-Attached Index, Materialized Views,
  * Type, UDF, UDA — the reference's `type` strings, kept verbatim.
  * srcKeyspace/srcTable attribute indexes and MVs to their base table.
  */
final case class SchemaObject(
    keyspace: String, name: String, kind: String,
    srcKeyspace: String, srcTable: String,
    fields: Map[String, String], pk: Seq[String], cc: Seq[String],
    cql: String)

/** Per-DC replication factor of a keyspace (ref explore.py:745-785).
  * SimpleStrategy emits one row per known DC with the same rf
  * (documented intent — SURVEY.md §4); total RF = sum over DCs.
  */
final case class KeyspaceRf(keyspace: String, dc: String, rf: Double)

/** One GC pause event from system.log (ref explore.py:320-341). */
final case class GcEvent(node: String, ts: java.sql.Timestamp, pauseMs: Int)

/** One tombstone-warning event from system.log (ref explore.py:342-357). */
final case class TombstoneEvent(
    node: String, keyspace: String, table: String, reads: Long,
    tombstones: Long)

/** One percentile row from `nodetool/proxyhistograms`, µs→ms
  * (ref explore.py:1495-1509). */
final case class ProxyHistRow(
    node: String, pct: String, readMs: Double, writeMs: Double)

/** Engine thresholds (reference CLI `-tp_*` flags, explore.py:23-44);
  * `gr*` are the hard guardrail limits. */
final case class Thresholds(
    tpMv: Int = 2, tpSi: Int = 1, tpSai: Double = 8, tpTblCnt: Int = 155,
    tpColCnt: Int = 45, tpLparMb: Int = 100, tpRlMs: Double = 100,
    tpWlMs: Double = 100, tpSstbl: Int = 20, tpGcpMs: Int = 800,
    tpDrm: Long = 100000L, tpTs: Long = 1000L,
    grMv: Int = 2, grSi: Int = 1, grSai: Int = 50, grTblCnt: Int = 200,
    grColCnt: Int = 75, grLparMb: Int = 200)

object Model {
  /** Keyspaces excluded from analysis (ref explore.py:469). */
  val SystemKeyspaces: Seq[String] = Seq(
    "OpsCenter", "dse_insights_local", "solr_admin", "test", "dse_system",
    "dse_analytics", "system_auth", "system_traces", "system",
    "dse_system_local", "system_distributed", "system_schema", "dse_perf",
    "dse_insights", "dse_security", "killrvideo", "dse_leases", "dsefs_c4z",
    "HiveMetaStore", "dsefs", "spark_system")
}
