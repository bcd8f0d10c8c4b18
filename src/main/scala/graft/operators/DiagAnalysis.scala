package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.model._

import scala.jdk.CollectionConverters._

/** Relational analysis layer over the parsed diag relations (SURVEY.md
  * §2.2–§2.8 mapped onto the real reference pipelines): workload
  * aggregation with RF normalization, multi-level GC percentiles,
  * threshold/guardrail tabs, tombstone dedup, proxy-histogram pivot.
  *
  * Scale posture: the only large relation is `TableMetric` (and the log
  * events); every dimension (RF, node→DC, uptime, schema shape) is tiny
  * and explicitly `broadcast()`. Aggregations shuffle once on their group
  * key; ratio-of-total windows run on already-aggregated relations.
  */
object DiagAnalysis {

  import Model.SystemKeyspaces

  private def notSystem(ksCol: Column, inclSys: Boolean): Column =
    if (inclSys) !ksCol.isin("OpsCenter") else !ksCol.isin(SystemKeyspaces: _*)

  /** A cfstats row's number, for the rows a tab reads. A row whose text
    * was not a number fails the query with an error naming the row: the
    * parser keeps every line, and the analysis refuses to read a number
    * that is not there. */
  private val number: Column = coalesce(col("value"), raise_error(concat(
    lit("cfstats value is not a number: node "), col("node"), lit(", table "),
    col("keyspace"), lit("."), col("table"), lit(", metric "), col("metric"))))

  /** Node tab (ref explore.py:1521-1563): status ⋈ gossip ⋈ info uptime;
    * OSS nodes get "OSS Cassandra" + release version (674-712). */
  def nodeTable(status: Dataset[StatusRow], gossip: Dataset[GossipNode],
      nodeInfo: DataFrame, ossVer: String, dirIp: DataFrame): DataFrame = {
    val st = status.toDF()
    val go = gossip.toDF().select(col("ip"),
      when(col("workload") === "", "OSS Cassandra").otherwise(col("workload")).as("workload"),
      when(col("dseVersion") === "" || col("workload") === "", ossVer)
        .otherwise(col("dseVersion")).as("version"))
    val info = nodeInfo.select(col("node_dir"), col("uptime_sec"))
    val up = coalesce(col("uptime_sec"), lit(0L))
    // "dd days hh:mm:ss" — the reference renders this as an Excel formula
    // (explore.py:1554); here it's an engine column
    val human = concat(floor(up / 86400).cast("long"), lit(" days "),
      lpad((up % 86400 / 3600).cast("long").cast("string"), 2, "0"), lit(":"),
      lpad((up % 3600 / 60).cast("long").cast("string"), 2, "0"), lit(":"),
      lpad((up % 60).cast("string"), 2, "0"))
    st.join(broadcast(go), Seq("ip"), "left")
      .join(broadcast(dirIp), Seq("ip"), "left")
      .join(broadcast(info), Seq("node_dir"), "left")
      .select(col("dc"), col("ip").as("node"), col("load"), col("tokens"),
        col("rack"), up.as("uptime_sec"), human.as("uptime_human"),
        coalesce(col("workload"), lit("OSS Cassandra")).as("workload"),
        coalesce(col("version"), lit(ossVer)).as("version"))
      .orderBy("dc", "node")
  }

  /** Workload + dataset-size aggregation (ref explore.py:907-998,
    * 1730-1790): per (keyspace, table) —
    *   reads  = Σ_nodes read_count ÷ rf(dc of node, ks)   [per-DC RF]
    *   writes = Σ_nodes write_count ÷ total_rf(ks)
    *   size   = Σ_nodes space_live ÷ total_rf(ks)
    *   *_tps  = Σ_nodes (normalized count ÷ node uptime)
    * plus ratio-of-total columns (A5/W1) computed on the aggregate.
    * Zero/negative counts are dropped before summing (944/967/984);
    * a missing RF falls back to 1.0 (the `except:` paths).
    */
  def workload(metrics: Dataset[TableMetric], rf: Dataset[KeyspaceRf],
      nodeInfo: DataFrame, inclSys: Boolean = false): DataFrame = {
    // index tables are INCLUDED: the reference sets is_index but never
    // reads it (explore.py:925-931 — dead variable), so secondary-index
    // "tables" flow into workload, dataset size and the totals;
    // golden-diffed against explore.py output in GoldenReferenceSpec
    val m = metrics.toDF()
      .filter(col("keyspace") =!= "" && notSystem(col("keyspace"), inclSys))
    val totalRf = rf.toDF().groupBy(col("keyspace"))
      .agg(sum(col("rf")).as("rf_total"))
    val dcRf = rf.toDF().select(col("keyspace"), col("dc"), col("rf").as("rf_dc"))
    val nd = nodeInfo.select(col("node_dir").as("node"), col("dc"),
      col("uptime_sec"))

    val base = m.filter(col("metric").isin(
        "Space used (live)", "Local read count", "Local write count"))
      .withColumn("v", number)
      .filter(col("v") > 0)
      .join(broadcast(nd), Seq("node"), "left")
      .join(broadcast(totalRf), Seq("keyspace"), "left")
      .join(broadcast(dcRf), Seq("keyspace", "dc"), "left")
      .withColumn("norm", when(col("metric") === "Local read count",
          col("v") / coalesce(col("rf_dc"), lit(1.0)))
        .otherwise(col("v") / coalesce(col("rf_total"), lit(1.0))))
      // explicit uptime-0 guard: such a node contributes its counts but
      // no TPS term (the reference would crash on the division,
      // explore.py:936/985 — float(count)/float(node_uptime[node]));
      // relying on Spark's silent x/0→NULL here hid the semantics
      .withColumn("tps",
        when(col("uptime_sec") > 0, col("norm") / col("uptime_sec")))

    val agg = base.groupBy(col("keyspace"), col("table")).agg(
      sum(when(col("metric") === "Local read count", col("norm"))).as("reads"),
      sum(when(col("metric") === "Local write count", col("norm"))).as("writes"),
      sum(when(col("metric") === "Space used (live)", col("norm"))).as("size_bytes"),
      sum(when(col("metric") === "Local read count", col("tps"))).as("read_tps"),
      sum(when(col("metric") === "Local write count", col("tps"))).as("write_tps"))
    // grand totals as a 1-row aggregate broadcast back (the q15 pattern):
    // the agg relation is schema-sized, but an empty-partition window
    // would still drag every row through one task
    val tot = agg.agg(
      sum(col("reads")).as("total_reads"), sum(col("writes")).as("total_writes"))
    agg.crossJoin(broadcast(tot))
      .withColumn("total_rw", col("total_reads") + col("total_writes"))
      .withColumn("perc_read", col("reads") / col("total_reads"))
      .withColumn("perc_write", col("writes") / col("total_writes"))
      .withColumn("read_perc_rw", col("reads") / col("total_rw"))
      .withColumn("write_perc_rw", col("writes") / col("total_rw"))
      .orderBy(coalesce(col("reads"), lit(0.0)).desc, col("keyspace"), col("table"))
  }

  /** Distinct non-system (keyspace, table) pairs seen in cfstats — the
    * summary_json placeholder set (ref explore.py:924-938: every table
    * encountered registers `{}` under workload and dataset_size, index
    * tables included). */
  def seenTables(metrics: Dataset[TableMetric], inclSys: Boolean): DataFrame =
    metrics.toDF()
      .filter(col("keyspace") =!= "" && col("table") =!= "" &&
        notSystem(col("keyspace"), inclSys))
      .select(col("keyspace"), col("table")).distinct()

  /** Multi-level GC percentile rollup (ref explore.py:332-341, 365-398,
    * 1072-1077): the same events at Database → DC → Node, positional
    * (exact, non-interpolated) percentiles picked at index
    * round_half_up(n·q) clamped to [1,n], plus Pauses count,
    * oldest/newest timestamp, and the timestamp of the max pause.
    * A node with no DC (no `nodetool/info`) counts under a null-named DC
    * row, so the DC rows' pauses sum to the Database row's.
    * Documented deviation: Python's round() is banker's rounding, so at
    * exact .5 rank boundaries (n·q ties) the reference picks the lower
    * sample and this engine the upper; HALF_UP is used consistently here
    * and in the oracle-checked q04/q20 (SURVEY.md §4 policy: implement
    * one documented semantic rather than replicate tie quirks).
    */
  def gcPercentiles(gc: Dataset[GcEvent], nodeDc: DataFrame,
      clusterName: String): DataFrame = {
    val ev = gc.toDF().join(broadcast(nodeDc), Seq("node"), "left")
    // explode each event into its three rollup levels (a rollup can't
    // feed a per-level percentile pick, so the level column is
    // materialized explicitly — same 3× row multiplier a rollup pays)
    val lvls = ev
      .select(col("dc"), col("node"), col("ts"), col("pauseMs"))
      .withColumn("lvl", explode(array(
        struct(lit("Node").as("level"), col("node").as("name")),
        struct(lit("DC").as("level"), col("dc").as("name")),
        struct(lit("Database").as("level"), lit(clusterName).as("name")))))
      .select(col("lvl.level").as("level"), col("lvl.name").as("name"),
        col("ts"), col("pauseMs"))
    // one histogram row per (level, name, pauseMs): pauseMs is an
    // integer, so the relation is bounded by the pause-value domain and
    // the Database level never sorts every event in one partition. The
    // running count picks each percentile; the max pause's row is unique
    // per group, so its newest ts is max_by(ts, struct(pauseMs, ts)).
    val hist = lvls.groupBy(col("level"), col("name"), col("pauseMs")).agg(
      count(lit(1)).as("c"), min(col("ts")).as("oldest"), max(col("ts")).as("newest"))
    val byPause = Window.partitionBy(col("level"), col("name")).orderBy(col("pauseMs"))
    def pick(q: Double) = min(when(col("cum") >=
      least(greatest(round(col("pauses") * q), lit(1L)), col("pauses")), col("pauseMs")))
    hist
      .withColumn("cum", sum(col("c")).over(byPause))
      // the group total over the same ordered spec: one window operator
      .withColumn("pauses", sum(col("c")).over(
        byPause.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .groupBy(col("level"), col("name"), col("pauses")).agg(
        min(col("pauseMs")).as("min_ms"), pick(0.50).as("p50"), pick(0.75).as("p75"),
        pick(0.90).as("p90"), pick(0.95).as("p95"), pick(0.98).as("p98"),
        pick(0.99).as("p99"), max(col("pauseMs")).as("max_ms"),
        min(col("oldest")).as("oldest"), max(col("newest")).as("newest"),
        max_by(col("newest"), col("pauseMs")).as("ts_of_max"))
      .withColumn("level_rank",
        when(col("level") === "Database", 0).when(col("level") === "DC", 1).otherwise(2))
      .orderBy("level_rank", "name")
      .drop("level_rank")
  }

  /** Tombstone tab (ref explore.py:1069, 1594-1602): sort desc by
    * tombstone count, dedup on (keyspace, table) keeping the max-count
    * row (first-wins after sort ≡ max — A11). */
  def tombstoneTab(ts: Dataset[TombstoneEvent], nodeDc: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("keyspace"), col("table"))
      .orderBy(col("tombstones").desc, col("node"))
    ts.toDF().join(broadcast(nodeDc), Seq("node"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .select(col("dc"), col("node"), col("reads"), col("tombstones"),
        col("keyspace"), col("table"))
      .orderBy(col("tombstones").desc, col("keyspace"), col("table"))
  }

  /** One threshold tab, a row of the reference's sheets_data
    * (explore.py:443-450): the cfstats `metric` rows at or over the
    * tab's `threshold`, each value divided by `perUnit` (1e6: the
    * reference reports the Large Partitions tab in MB, explore.py:1462).
    * `maxPerTable` keeps one row per table. `title` names the workbook
    * tab, with `headers`, and the tab's warning; a non-empty `health`
    * tab flips "<title> greater than <threshold>" (explore.py:1442-1446).
    * The workbook prints a `decimal` tab's values (ms, MB) with 2
    * decimals, the others as thousands-grouped counts. */
  final case class TabSpec(name: String, title: String, metric: String,
      threshold: Thresholds => Double, headers: Seq[String],
      maxPerTable: Boolean = false, perUnit: Double = 1.0, health: Boolean = false,
      decimal: Boolean = false)

  /** The reference's cfstats-driven tabs: the one place that names a
    * threshold metric and its threshold. */
  val tabSpecs: Seq[TabSpec] = Seq(
    TabSpec("dropped_mutation", "Dropped Mutation", "Dropped Mutations", _.tpDrm.toDouble,
      Seq("Node", "DC", "Keyspace", "Table", "Dropped Mutations"), health = true),
    TabSpec("num_tables", "Number of Tables", "Total number of tables", _.tpTblCnt.toDouble,
      Seq("Sample Node", "DC", "Keyspace", "Table", "Total Number of Tables"),
      maxPerTable = true),
    TabSpec("large_partition", "Large Partitions", "Compacted partition maximum bytes",
      _.tpLparMb * 1e6, Seq("Node", "DC", "Keyspace", "Table", "Partition Size(MB)"),
      perUnit = 1e6, decimal = true),
    TabSpec("sstable_count", "SSTable Count", "SSTable count", _.tpSstbl.toDouble,
      Seq("Example Node", "DC", "Keyspace", "Table", "SSTable Count"),
      maxPerTable = true, health = true),
    TabSpec("read_latency", "Read Latency", "Local read latency", _.tpRlMs,
      Seq("Node", "DC", "Keyspace", "Table", "Read Latency (ms)"), health = true,
      decimal = true),
    TabSpec("write_latency", "Write Latency", "Local write latency", _.tpWlMs,
      Seq("Node", "DC", "Keyspace", "Table", "Write Latency (ms)"), health = true,
      decimal = true))

  /** Threshold tabs (P3/P4, ref explore.py:1424-1492): one filter of the
    * metric relation joined to the spec relation, then one ranking;
    * `maxPerTable` keeps the row per (tab, ks, tbl) with the max value
    * (the reference's *intended* semantics of the `extra` flag — its
    * `hasattr` bug makes it last-wins; SURVEY.md §4 documents
    * implementing the intent). Returns (tab, node, dc, keyspace, table,
    * value).
    */
  def thresholdTabs(metrics: Dataset[TableMetric], nodeDc: DataFrame,
      tp: Thresholds): DataFrame = {
    val sp = metrics.sparkSession.createDataFrame(tabSpecs.map(t =>
        (t.name, t.metric, t.threshold(tp), t.perUnit, t.maxPerTable)))
      .toDF("tab", "metric", "threshold", "perUnit", "maxPerTable")
    val rank = Window.partitionBy(col("tab"), col("keyspace"), col("table"))
      .orderBy(col("value").desc, col("node"))
    // the reference excludes the FULL system list here regardless of
    // -incl_sys (explore.py:1429-1431 uses system_keyspace, not
    // dni_keyspace) — only the workload pass narrows
    metrics.toDF()
      .filter(notSystem(col("keyspace"), inclSys = false))
      .join(broadcast(sp), Seq("metric"))
      // NaN guard: idle tables print "NaN ms" latencies, and Spark
      // orders NaN ABOVE every number (unlike Python's NaN>=x == False)
      // — without this the latency tabs flood with idle tables
      .filter(number >= col("threshold") && !isnan(col("value")))
      .join(broadcast(nodeDc), Seq("node"), "left")
      .select(col("tab"), col("node"), col("dc"), col("keyspace"), col("table"),
        (col("value") / col("perUnit")).as("value"), col("maxPerTable"))
      .withColumn("rn", row_number().over(rank))
      .filter(!col("maxPerTable") || col("rn") === 1)
      .drop("rn", "maxPerTable")
      .orderBy("tab", "keyspace", "table", "node")
  }

  private def tier(hard: Boolean) = if (hard) "***" else ""

  /** Astra Guardrails read off the schema (ref explore.py:1085-1119,
    * 809-838): (category, check, message) rows. `***` marks the
    * hard-guardrail tier (P4). Implements collect-all intent for the
    * UDF/UDA and column-count warnings (the reference's `.append =` bug
    * records only the first — SURVEY.md §4). `Parsers.parseSchema`
    * never leaves a field null.
    */
  def schemaWarnings(schema: Seq[SchemaObject], tp: Thresholds): Seq[Row] = {
    val gr = "Astra Guardrails"
    // like thresholdTabs: guardrails always exclude the full system list
    // (explore.py:1094, 1105 use system_keyspace)
    val so = schema.filterNot(o => SystemKeyspaces.contains(o.keyspace))
    // MV / SI / SAI counts per source table (1085-1099)
    val perKind = Seq(
      ("Materialized Views", "Materialized Views", tp.grMv, tp.tpMv.toDouble),
      ("Index", "Secondary Indexes", tp.grSi, tp.tpSi.toDouble),
      ("Storage-Attached Index", "Storage-Attached Indexes", tp.grSai, tp.tpSai)
    ).flatMap { case (kind, checkName, grLmt, tpLmt) =>
      so.filter(o => o.kind == kind && o.srcTable.nonEmpty)
        .groupBy(o => (o.srcKeyspace, o.srcTable)).toSeq
        .collect { case ((ks, tbl), objs) if objs.size > tpLmt =>
          Row(gr, checkName, s"${objs.size} $checkName of $ks.$tbl${tier(objs.size > grLmt)}")
        }
    }
    // column count per table (1101-1119)
    val colCnt = so.filter(o => o.kind == "Table" && o.fields.size > tp.tpColCnt)
      .map(o => Row(gr, "Number of Columns", s"${o.fields.size} columns in " +
        s"${o.keyspace}.${o.name}${tier(o.fields.size > tp.grColCnt)}"))
    // UDF / UDA presence (809-838)
    val udfuda = Seq(("UDA", "User-Defined Aggregate"), ("UDF", "User-Defined Function"))
      .flatMap { case (kind, checkName) =>
        so.filter(_.kind == kind)
          .map(o => Row(gr, checkName, s"$kind ${o.name} in ${o.keyspace}"))
      }
    perKind ++ udfuda ++ colCnt
  }

  /** Unsupported-workload warnings (ref explore.py:696-702): any DSE
    * workload other than plain Cassandra (parsed to 'DSE Core') gets a
    * 'Workload'/'Not Supported' warning with the raw workload name, and
    * Graph-enabled nodes add a 'Graph' warning — deduplicated, like the
    * reference's add_to_warning. Empty workload = OSS node, no warning.
    */
  def workloadWarnings(gossip: Seq[GossipNode]): Seq[Row] = {
    val unsupported = gossip.map(_.workload.replaceAll(" \\+ Graph$", ""))
      .filter(w => w != "" && w != "DSE Core")
    val graph = gossip.filter(_.graph).map(_ => "Graph")
    (unsupported ++ graph).distinct.map(Row("Workload", "Not Supported", _))
  }

  /** Missing-node detection (ref explore.py:302-304, 683-686): an IP
    * seen in nodetool/status or gossipinfo with no matching node
    * directory (`dirIps`) yields a 'Missing Data'/'Missing Node Data'
    * warning row, and its presence flips summary_json.missing_data to 1.
    * Documented deviation: the reference also silently drops such nodes
    * from the node tab; this engine keeps the row (with zero/default
    * fields) so a down node stays visible alongside its warning.
    */
  def missingNodeWarnings(status: Seq[StatusRow], gossip: Seq[GossipNode],
      dirIps: Set[String]): Seq[Row] =
    (status.map(_.ip) ++ gossip.map(_.ip)).distinct.filterNot(dirIps)
      .map(Row("Missing Data", "Missing Node Data", _))

  private val WarningSchema =
    StructType(Seq("category", "check", "message").map(StructField(_, StringType)))

  /** The warnings tab, built on the driver once the data tabs are
    * collected: the schema, workload and missing-node warnings from the
    * rows the report already holds (`ipOf` maps node dir → IP), plus
    * the warnings that the collected threshold, gc and tombstone tabs
    * decide (ref explore.py:1442-1464, 388-389, 358-361), ordered by
    * (category, check, message). Every input is local, so this runs no
    * Spark job.
    */
  def warnings(schema: Seq[SchemaObject], status: Seq[StatusRow], gossip: Seq[GossipNode],
      ipOf: Map[String, String], thresholds: DataFrame, gc: DataFrame,
      tombstones: DataFrame, tp: Thresholds): DataFrame = {
    val gr = "Astra Guardrails"
    val dh = "Database Health"
    def fmtNum(d: Double) = if (d == d.floor) d.toLong.toString else d.toString
    def value(r: Row) = r.getAs[Double]("value")
    val byTab = thresholds.collect().groupBy(_.getAs[String]("tab"))
    def tab(name: String) = byTab.getOrElse(name, Array.empty[Row])
    val presence = tabSpecs.filter(t => t.health && tab(t.name).nonEmpty)
      .map(t => Row(dh, t.title, s"${t.title} greater than ${fmtNum(t.threshold(tp))}"))
    // table count (1448-1452): one warning off the max observed value
    val tables = tab("num_tables").map(value).maxOption.map(v => Row(gr,
      "Number of Tables", s"${v.toLong} tables in database${tier(v >= tp.grTblCnt)}"))
    // one per (dc, ks, tbl) (1453-1461), sized as the reference prints
    // int(bytes)/1000000, a Python float ("260.0MB"): for whole byte
    // counts, the tab's MB value
    val partitions = tab("large_partition")
      .groupBy(r => Seq("dc", "keyspace", "table").map(r.getAs[String]))
      .map { case (where, rows) =>
        val mb = rows.map(value).max
        Row(gr, "Large Partitions", s"Table ${where.mkString(".")} partition size " +
          s"${mb}MB${tier(mb >= tp.grLparMb)}")
      }
    val gcPauses = gc.collect()
      .filter(r => r.getAs[String]("level") == "Database" && r.getAs[Int]("p99") > tp.tpGcpMs)
      .map(_ => Row(dh, "GC Pauses", s"P99 GC pause greater than ${tp.tpGcpMs}"))
    // the threshold is comma-grouped like the reference's "{:,}".format(tp_ts)
    val tombstoneWarn = if (tombstones.isEmpty) None else Some(Row(dh, "Tombstones",
      "Tombstones greater than %,d in a single read request"
        .formatLocal(java.util.Locale.US, tp.tpTs)))
    // orderBy's order: strings by their UTF-8 bytes (no field is null)
    val text = Ordering.by[String, UTF8String](UTF8String.fromString)
    val rows = (schemaWarnings(schema, tp) ++ missingNodeWarnings(status, gossip,
      ipOf.values.toSet) ++ workloadWarnings(gossip) ++ presence ++ tables ++ partitions ++
      gcPauses ++ tombstoneWarn).sortBy(r => (r.getString(0), r.getString(1),
        r.getString(2)))(Ordering.Tuple3(text, text, text))
    thresholds.sparkSession.createDataFrame(rows.asJava, WarningSchema)
  }

  /** Proxy-histogram tab (ref explore.py:1500-1509, 1516-1560): one row
    * per (dc, node) with read/write ms per percentile label. */
  def proxyHistTab(ph: Dataset[ProxyHistRow], nodeDc: DataFrame): DataFrame = {
    val labels = Seq("Max", "99%", "98%", "95%", "75%", "50%", "Min")
    val base = ph.toDF().join(broadcast(nodeDc), Seq("node"), "left")
    val aggs = labels.flatMap { l =>
      val safe = l.replace("%", "")
      Seq(
        max(when(col("pct") === l, col("readMs"))).as(s"r_$safe"),
        max(when(col("pct") === l, col("writeMs"))).as(s"w_$safe"))
    }
    base.groupBy(col("dc"), col("node")).agg(aggs.head, aggs.tail: _*)
      .orderBy("dc", "node")
  }
}
