package graft.parse

import graft.model._
import java.sql.Timestamp
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** Pure line-oriented parsers for the diagnostic file formats
  * (SURVEY.md §2.1 S2–S10). Each is `Iterator[String] ⇒ Iterator[T]` /
  * `Seq[T]` with no Spark dependency — unit-testable standalone, wrapped
  * in `mapPartitions` by graft.sources.DiagSource (per-file state never
  * crosses files because the source reads whole files).
  *
  * Behavior is derived from /root/reference/explore.py (cited per
  * method); where the reference's code and evident intent diverge the
  * *intent* is implemented and the deviation documented (SURVEY.md §4).
  */
object Parsers {

  private val IpRe = """[0-9]+(?:\.[0-9]+){3}""".r

  /** Extract the (first) IPv4 in a string, or "" (ref explore.py:242-247
    * joins all matches; real inputs contain at most one). */
  def extractIp(s: String): String = IpRe.findAllIn(s).mkString

  /** `nodetool/status` (ref explore.py:274-306): carry the current
    * `Datacenter:` header; rows are lines with ≥3 dots; columns are
    * status, ip, load-value, load-unit, tokens, …, rack(index 7). */
  def parseStatus(lines: Iterator[String]): Iterator[StatusRow] = {
    var dc = ""
    lines.flatMap { line =>
      if (line.contains("Datacenter:")) {
        dc = line.split(":").lift(1).map(_.trim).getOrElse(""); None
      } else if (line.count(_ == '.') >= 3) {
        val v = line.split("\\s+").filter(_.nonEmpty)
        // toIntOption: a malformed token count skips the row — the parser
        // contract is skip-what-you-can't-parse, never throw (a throw
        // kills the whole file's task)
        if (v.length >= 8)
          v(4).toIntOption.map(tok =>
            StatusRow(dc, v(1), v(0), v(2) + " " + v(3), tok, v(7)))
        else None
      } else None
    }
  }

  /** `nodetool/gossipinfo` (ref explore.py:664-714): blocks start at
    * `/<ip>` headers; `DC:` lines carry 2 or 3 colon-fields; DSE nodes
    * embed a JSON gossip state under X_11_PADDING / DSE_GOSSIP_STATE.
    * OSS nodes yield empty workload/dseVersion (caller substitutes
    * "OSS Cassandra" + the `nodetool/version` release).
    */
  def parseGossip(lines: Iterator[String]): Seq[GossipNode] = {
    final case class B(ip: String, var dc: String = "", var workload: String = "",
        var graph: Boolean = false, var dseVersion: String = "")
    val blocks = scala.collection.mutable.ArrayBuffer.empty[B]
    lines.foreach { line =>
      if (line.startsWith("/")) {
        // a bare "/" line has no address field — skip the block header
        line.split("/").lift(1).foreach(ip => blocks += B(ip.trim))
      } else if (blocks.nonEmpty) {
        val b = blocks.last
        if (line.contains("DC:")) {
          val parts = line.split(":")
          b.dc = (if (parts.length > 2) parts(2) else parts(1)).trim
        } else if ((line.contains("X_11_PADDING") || line.contains("DSE_GOSSIP_STATE"))
            && line.indexOf('{') >= 0) {
          val json = line.substring(line.indexOf('{'))
          // minimal JSON field grabs (payload is flat); values may be
          // quoted strings OR bare JSON literals (graph:false on DSE 6)
          def field(k: String): Option[String] = {
            val re = ("\"" + k + "\"\\s*:\\s*(?:\"([^\"]*)\"|([A-Za-z0-9.+-]+))").r
            re.findFirstMatchIn(json).map(m => Option(m.group(1)).getOrElse(m.group(2)))
          }
          field("workload").foreach { w =>
            b.workload = if (w == "Cassandra") "DSE Core" else w
          }
          val g = field("graph")
          b.graph = g.contains("true")
          // ref explore.py:699-705: dse_version only read when graph
          // present; otherwise "DSE pre 5.0"
          b.dseVersion =
            if (g.isDefined) field("dse_version").getOrElse("DSE pre 5.0")
            else "DSE pre 5.0"
          if (b.graph) b.workload += " + Graph"
        }
      }
    }
    blocks.map(b => GossipNode(b.ip, b.dc, b.workload, b.graph, b.dseVersion)).toSeq
  }

  /** `get_param` (ref explore.py:425-438): first line containing `key`
    * → whitespace token at `pos`. */
  def getParam(lines: Iterator[String], key: String, pos: Int): Option[String] =
    lines.collectFirst {
      case l if l.contains(key) =>
        val t = l.split("\\s+").filter(_.nonEmpty)
        if (pos < t.length) Some(t(pos)) else None
    }.flatten

  /** `nodetool/cfstats` / `tablestats` (ref explore.py:907-998): 3-level
    * block parse. `Keyspace:` / `Table:` / `Table (index):` /
    * `Column Family:` headers set context; every other `metric: value`
    * line becomes a long-format row; a blank line closes the table.
    * Keyspace-less lines (e.g. "Total number of tables") emit with
    * empty keyspace/table. Each value is parsed to a number here, once:
    * a trailing `ms` unit is dropped ("150.5 ms" → 150.5, "NaN ms" →
    * NaN), and text that is not a number ("[1, 0, 0]") is `None`.
    */
  def parseCfstats(node: String, lines: Iterator[String]): Iterator[TableMetric] = {
    var ks = ""
    var tbl = ""
    var isIndex = false
    lines.flatMap { raw =>
      val line = raw.trim
      if (line.isEmpty) { tbl = ""; None }
      else if (line.contains("Keyspace")) {
        val i = line.indexOf(':')
        if (i >= 0) { ks = line.substring(i + 1).trim; None } else None
      } else if (line.startsWith("Table (index):")) {
        tbl = line.substring(line.indexOf(':') + 1).trim; isIndex = true; None
      } else if (line.startsWith("Table:") || line.startsWith("Column Family:")) {
        tbl = line.substring(line.indexOf(':') + 1).trim; isIndex = false; None
      } else if (line.contains(":")) {
        val i = line.indexOf(':')
        val metric = line.substring(0, i).trim
        val value = line.substring(i + 1).trim.stripSuffix("ms").trim.toDoubleOption
        Some(TableMetric(node, ks, tbl, isIndex, metric, value))
      } else None
    }
  }

  /** `nodetool/proxyhistograms` (ref explore.py:1495-1509): percentile
    * rows (`50%…Max/Min`), read/write cols in µs → ms; malformed
    * numeric cells become 0.0. */
  def parseProxyHist(node: String, lines: Iterator[String]): Iterator[ProxyHistRow] =
    lines.flatMap { line =>
      if (line.contains("%") || line.contains("Min") || line.contains("Max")) {
        val v = line.trim.split("\\s+").filter(_.nonEmpty)
        if (v.length >= 3) {
          val (r, w) =
            try ((v(1).toDouble / 1000, v(2).toDouble / 1000))
            catch { case _: NumberFormatException => (0.0, 0.0) }
          Some(ProxyHistRow(node, v(0), r, w))
        } else None
      } else None
    }

  /** Result of the CQL DDL parse: schema objects + per-DC keyspace RF. */
  final case class SchemaCatalog(objects: Seq[SchemaObject], rf: Seq[KeyspaceRf])

  private val RfPair = """'([^']+)'\s*:\s*'?([0-9]+(?:\.[0-9]+)?)'?""".r

  /** `driver/schema` CQL DDL (ref explore.py:722-877): line-oriented
    * recognition of the 8 statement kinds. Notes vs the reference:
    *  - RF: one KeyspaceRf row per DC for NetworkTopologyStrategy;
    *    SimpleStrategy (`'replication_factor'`) applies its value to
    *    every DC in `knownDcs` (documented intent of 769-785).
    *  - CREATE AGGREGATE/FUNCTION name extraction strips IF NOT EXISTS /
    *    OR REPLACE then takes the identifier (the reference's token
    *    positions are off-by-N on some variants — intent implemented).
    *  - PRIMARY KEY single-`(` ⇒ pk=first id, cc=rest; double-`(` ⇒
    *    pk=ids in the inner parens, cc=ids after (856-864).
    */
  def parseSchema(lines: Iterator[String], knownDcs: Seq[String]): SchemaCatalog = {
    val objects = scala.collection.mutable.ArrayBuffer.empty[SchemaObject]
    val rfs = scala.collection.mutable.ArrayBuffer.empty[KeyspaceRf]
    var ks = ""
    // current open CREATE TABLE/TYPE/MV block
    var cur: SchemaObject = null
    def unq(s: String) = s.stripPrefix("\"").stripSuffix("\"")
    def close(): Unit = if (cur != null) { objects += cur; cur = null }
    def splitQualified(tok: String): (String, String) = {
      val base = tok.takeWhile(_ != '(')
      val parts = base.split("\\.")
      if (parts.length >= 2) (unq(parts(0)), unq(parts(1))) else (ks, unq(parts(0)))
    }

    def handleLine(raw: String): Unit = {
      val line = raw.trim
      if (line.isEmpty) close()
      else {
        val toks = line.split("\\s+").filter(_.nonEmpty)
        if (line.contains("CREATE KEYSPACE")) {
          close()
          ks = unq(toks(2))
          val pairs = RfPair.findAllMatchIn(line)
            .map(m => m.group(1) -> m.group(2).toDouble)
            .filter(_._1 != "class").toSeq
          val byDc = pairs.filter { case (k, _) => k != "replication_factor" }
          if (byDc.nonEmpty)
            byDc.foreach { case (dc, rf) => rfs += KeyspaceRf(ks, dc, rf) }
          else pairs.find(_._1 == "replication_factor").foreach { case (_, rf) =>
            knownDcs.foreach(dc => rfs += KeyspaceRf(ks, dc, rf))
          }
        } else if (line.contains("CREATE CUSTOM INDEX")) {
          close()
          val name = unq(toks(3))
          val on = line.split("ON")(1).trim
          val (sks, stbl) = splitQualified(on.split("\\s+")(0))
          objects += SchemaObject(ks, name, "Storage-Attached Index", sks,
            stbl.takeWhile(c => c != '(' && c != ';'), Map.empty, Nil, Nil, line)
        } else if (line.contains("CREATE INDEX")) {
          close()
          val name = unq(toks(2))
          val on = line.split("ON")(1).trim
          val (sks, stbl) = splitQualified(on.split("\\s+")(0))
          objects += SchemaObject(ks, name, "Index", sks,
            stbl.takeWhile(c => c != '(' && c != ';'), Map.empty, Nil, Nil, line)
        } else if (line.contains("CREATE TYPE")) {
          close()
          val (tks, name) = splitQualified(toks(2))
          cur = SchemaObject(tks, name, "Type", "", "", Map.empty, Nil, Nil, line)
        } else if (line.contains("CREATE AGGREGATE")) {
          close()
          val cleaned = line.replace("IF NOT EXISTS ", "")
          val (aks, name) = splitQualified(cleaned.split("\\s+")(2))
          objects += SchemaObject(aks, name, "UDA", "", "", Map.empty, Nil, Nil, line)
        } else if (line.contains("CREATE OR REPLACE FUNCTION") || line.contains("CREATE FUNCTION")) {
          close()
          val cleaned = line.replace("OR REPLACE ", "")
          val (fks, name) = splitQualified(cleaned.split("\\s+")(2))
          objects += SchemaObject(fks, name, "UDF", "", "", Map.empty, Nil, Nil, line)
        } else if (line.contains("CREATE TABLE")) {
          close()
          val (tks, name) = splitQualified(toks(2))
          cur = SchemaObject(tks, name, "Table", "", "", Map.empty, Nil, Nil, line)
        } else if (line.contains("CREATE MATERIALIZED VIEW")) {
          close()
          val (mks, name) = splitQualified(toks(3))
          cur = SchemaObject(mks, name, "Materialized Views", "", "", Map.empty, Nil, Nil, line)
        } else if (cur != null) {
          if (cur.kind == "Materialized Views" && line.contains("FROM")) {
            val after = line.split("FROM")(1).trim
            val (sks, stbl) = splitQualified(after.split("\\s+")(0))
            cur = cur.copy(srcKeyspace = sks,
              srcTable = stbl.takeWhile(c => c != ';'), cql = cur.cql + " " + line)
          } else if (line.contains("PRIMARY KEY")) {
            val nOpen = line.count(_ == '(')
            if (nOpen == 0) {
              // inline form: "id uuid PRIMARY KEY," — pk column is also a field
              if (toks.length >= 2)
                cur = cur.copy(pk = Seq(toks(0)),
                  fields = cur.fields + (toks(0) -> toks(1).stripSuffix(",")),
                  cql = cur.cql + " " + line)
            } else if (nOpen == 1) {
              val ids = line.split("\\(")(1).split("\\)")(0).split(",\\s*").map(_.trim)
              cur = cur.copy(pk = Seq(ids.head), cc = ids.tail.toSeq,
                cql = cur.cql + " " + line)
            } else if (nOpen == 2) {
              val afterInner = line.split("\\(")(2)
              val pk = afterInner.split("\\)")(0).split(",\\s*").map(_.trim).toSeq
              val ccPart = afterInner.split("\\)", 2)(1)
                .dropWhile(c => c == ',' || c == ' ')
              val cc = ccPart.split("\\)")(0).split(",\\s*")
                .map(_.trim).filter(_.nonEmpty).toSeq
              cur = cur.copy(pk = pk, cc = cc, cql = cur.cql + " " + line)
            }
          } else if (line != ");" && !line.contains("AND ") && !line.contains(" WITH ")) {
            // field line: "name type," (ref explore.py:865-874)
            if (toks.length >= 2 && toks(0) != "CREATE")
              cur = cur.copy(
                fields = cur.fields + (toks(0) -> toks(1).stripSuffix(",")),
                cql = cur.cql + " " + line)
          } else {
            cur = cur.copy(cql = cur.cql + " " + line)
          }
        }
      }
    }
    // a malformed DDL line (truncated CREATE, stray tokens) skips — it
    // must not kill the whole schema file's task; real DDL dumps are
    // machine-generated, so the happy path never takes this exit
    lines.foreach(l => try handleLine(l) catch { case _: Exception => () })
    close()
    SchemaCatalog(objects.toSeq, rfs.toSeq)
  }

  private val LogTsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Events extracted from one system.log (ref explore.py:317-361). */
  final case class LogEvents(gc: Seq[GcEvent], tombstones: Seq[TombstoneEvent])

  /** system.log scan: GC pauses (`GCInspector.java:` lines — date token
    * at position 2 or 3, pause between "GC in" and "ms.") and tombstone
    * warnings (`tombstone cells` lines — live-rows count via
    * "live rows and" / "live and", reads via "- Read", ks.tbl parsed
    * from the logged query text). `tpTs` gates tombstone rows like the
    * reference (explore.py:349).
    *
    * Deviation: the reference's first branch tests the literal
    * 'lives rows and' (a typo that never matches real logs); the intent
    * 'live rows and' is implemented.
    */
  /** One GC pause from a single log line, if it is a GCInspector line —
    * GC lines are self-contained, so this also serves line-at-a-time
    * streaming ingest (graft.streaming.EventStreams.gcLogStream). */
  def parseGcLine(node: String, line: String): Option[GcEvent] = {
    if (!line.contains("GCInspector.java:")) return None
    val toks = line.split("\\s+").filter(_.nonEmpty)
    val datePos = if (toks.length > 2 && toks(2).count(_ == '-') == 2) 2 else 3
    if (toks.length <= datePos + 1) return None
    val dt = toks(datePos)
    val tm = toks(datePos + 1).split(",")(0)
    val pauseStr = {
      val i = line.indexOf("GC in"); val j = line.indexOf("ms.")
      if (i >= 0 && j > i) line.substring(i + 6, j).trim else ""
    }
    try {
      val ldt = LocalDateTime.parse(dt + " " + tm, LogTsFmt)
      // log wall-clock is interpreted as UTC (the reference hardcodes
      // tz='UTC', explore.py:1042) — NOT the JVM default timezone, so
      // results are identical across hosts
      Some(GcEvent(node,
        Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC)), pauseStr.toInt))
    } catch { case _: Exception => None }
  }

  /** S10 as a line-level parse: tombstone-warning lines are
    * self-contained, so the streaming twin can parse them statelessly.
    * Returns the event plus the line's timestamp when one parses (the
    * batch relation never carried it; the stream watermarks on it —
    * a ts-less line still yields `(None, event)` so batch semantics
    * don't change). Skip-not-throw like the rest of the log parsers.
    */
  def parseTombstoneLine(node: String, line: String, tpTs: Long)
      : Option[(Option[Timestamp], TombstoneEvent)] = {
    if (!line.contains("tombstone cells")) return None
    // whole branch guarded: a line truncated right after "live rows and"
    // (rotation/copy boundary) must skip, not kill the task
    try {
      val tombstones: Long =
        if (line.contains("live rows and"))
          line.split("live rows and")(1).trim.split("\\s+")(0).toLong
        else if (line.contains("live and"))
          line.split("live and")(1).trim.split("\\s+")(0).toLong
        else 0L
      if (tombstones < tpTs) return None
      val reads = line.split("- Read")(1).trim.split("\\s+")(0).toLong
      val query =
        if (line.contains("cells for query")) line.split("cells for query")(1).trim
        else if (line.contains("tombstone cells in")) line.split("tombstone cells in")(1).trim
        else ""
      if (!query.contains(".")) return None
      val beforeDot = query.split("\\.")(0).split("\\s+")
      val ksName = beforeDot(beforeDot.length - 1)
      val tblName = query.split("\\.")(1).split("\\s+")(0)
      // same two date positions as GC lines (levels/thread tags shift it)
      val ts: Option[Timestamp] = try {
        val toks = line.split("\\s+").filter(_.nonEmpty)
        val datePos = if (toks.length > 2 && toks(2).count(_ == '-') == 2) 2 else 3
        if (toks.length <= datePos + 1) None
        else {
          val ldt = LocalDateTime.parse(
            toks(datePos) + " " + toks(datePos + 1).split(",")(0), LogTsFmt)
          Some(Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC)))
        }
      } catch { case _: Exception => None }
      Some((ts, TombstoneEvent(node, ksName, tblName, reads, tombstones)))
    } catch { case _: Exception => None }
  }

  def parseLog(node: String, lines: Iterator[String], tpTs: Long = 1000L): LogEvents = {
    val gc = scala.collection.mutable.ArrayBuffer.empty[GcEvent]
    val ts = scala.collection.mutable.ArrayBuffer.empty[TombstoneEvent]
    lines.foreach { line =>
      if (line.contains("GCInspector.java:")) {
        parseGcLine(node, line).foreach(gc += _)
      } else {
        parseTombstoneLine(node, line, tpTs).foreach(ts += _._2)
      }
    }
    LogEvents(gc.toSeq, ts.toSeq)
  }
}
