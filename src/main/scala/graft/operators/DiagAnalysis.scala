package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
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
    * 1072-1077): the same events bucketed at Database → DC → Node via
    * `rollup`, positional (exact, non-interpolated) percentiles picked
    * at index round_half_up(n·q) clamped to [1,n], plus Pauses count,
    * oldest/newest timestamp, and the timestamp of the max pause.
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
    // distributed histogram selection (Relational.histPercentiles): the
    // Database level no longer sorts every GC event in one window
    // partition. pauseMs is an integer, so the identity bucketing already
    // bounds the prefix-sum relation by the pause-value domain.
    val pcts = Relational.histPercentiles(lvls, Seq("level", "name"), "pauseMs",
      identity, (n, q) => least(greatest(round(n * q), lit(1L)), n),
      Seq(0.50 -> "p50", 0.75 -> "p75", 0.90 -> "p90",
        0.95 -> "p95", 0.98 -> "p98", 0.99 -> "p99"))
    val base = lvls.groupBy(col("level"), col("name")).agg(
      min(col("ts")).as("oldest"),
      max(col("ts")).as("newest"),
      max_by(col("ts"), struct(col("pauseMs"), col("ts"))).as("ts_of_max"))
    pcts
      .withColumnRenamed("n", "pauses")
      .withColumnRenamed("min_v", "min_ms").withColumnRenamed("max_v", "max_ms")
      .join(base, Seq("level", "name"))
      .select(col("level"), col("name"), col("pauses"), col("min_ms"),
        col("p50"), col("p75"), col("p90"), col("p95"), col("p98"), col("p99"),
        col("max_ms"), col("oldest"), col("newest"), col("ts_of_max"))
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
    * tab flips "<title> greater than <threshold>" (explore.py:1442-1446). */
  final case class TabSpec(name: String, title: String, metric: String,
      threshold: Thresholds => Double, headers: Seq[String],
      maxPerTable: Boolean = false, perUnit: Double = 1.0, health: Boolean = false)

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
      perUnit = 1e6),
    TabSpec("sstable_count", "SSTable Count", "SSTable count", _.tpSstbl.toDouble,
      Seq("Example Node", "DC", "Keyspace", "Table", "SSTable Count"),
      maxPerTable = true, health = true),
    TabSpec("read_latency", "Read Latency", "Local read latency", _.tpRlMs,
      Seq("Node", "DC", "Keyspace", "Table", "Read Latency (ms)"), health = true),
    TabSpec("write_latency", "Write Latency", "Local write latency", _.tpWlMs,
      Seq("Node", "DC", "Keyspace", "Table", "Write Latency (ms)"), health = true))

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

  /** Astra Guardrails read off the schema (ref explore.py:1085-1119,
    * 809-838): returns (category, check, message) rows. `***` marks the
    * hard-guardrail tier (P4). Implements collect-all intent for the
    * UDF/UDA and column-count warnings (the reference's `.append =` bug
    * records only the first — SURVEY.md §4).
    */
  def schemaWarnings(spark: SparkSession, schema: Seq[SchemaObject],
      tp: Thresholds): DataFrame = {
    import spark.implicits._
    val gr = "Astra Guardrails"
    // like thresholdTabs: guardrails always exclude the full system list
    // (explore.py:1094, 1105 use system_keyspace)
    val so = spark.createDataset(schema).toDF()
      .filter(notSystem(col("keyspace"), inclSys = false))

    // MV / SI / SAI counts per source table (1085-1099)
    val perKind = Seq(
      ("Materialized Views", "Materialized Views", tp.grMv, tp.tpMv),
      ("Index", "Secondary Indexes", tp.grSi, tp.tpSi),
      ("Storage-Attached Index", "Storage-Attached Indexes", tp.grSai, tp.tpSai)
    ).map { case (kind, checkName, grLmt, tpLmt) =>
      so.filter(col("kind") === kind && col("srcTable") =!= "")
        .groupBy(col("srcKeyspace"), col("srcTable"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > tpLmt)
        .select(lit(gr).as("category"), lit(checkName).as("check"),
          concat(col("n"), lit(s" $checkName of "), col("srcKeyspace"),
            lit("."), col("srcTable"),
            when(col("n") > grLmt, "***").otherwise("")).as("message"))
    }

    // column count per table (1101-1119)
    val colCnt = so.filter(col("kind") === "Table")
      .select(col("keyspace"), col("name"), size(col("fields")).as("n"))
      .filter(col("n") > tp.tpColCnt)
      .select(lit(gr).as("category"), lit("Number of Columns").as("check"),
        concat(col("n"), lit(" columns in "), col("keyspace"), lit("."),
          col("name"),
          when(col("n") > tp.grColCnt, "***").otherwise("")).as("message"))

    // UDF / UDA presence (809-838)
    val udfuda = Seq(("UDA", "User-Defined Aggregate"), ("UDF", "User-Defined Function"))
      .map { case (kind, checkName) =>
        so.filter(col("kind") === kind)
          .select(lit(gr).as("category"), lit(checkName).as("check"),
            concat(lit(s"$kind "), col("name"), lit(" in "), col("keyspace")).as("message"))
      }

    (perKind ++ udfuda :+ colCnt).reduce(_.unionByName(_))
  }

  /** The full warnings tab: `others` (schema, missing-node and workload
    * warnings) plus the warnings that the collected threshold, gc and
    * tombstone tabs decide (ref explore.py:1442-1464, 388-389, 358-361),
    * ordered by (category, check, message). Every input is a local
    * relation, so this runs no Spark job.
    */
  def warnings(others: DataFrame, thresholds: DataFrame, gc: DataFrame,
      tombstones: DataFrame, tp: Thresholds): DataFrame = {
    val gr = "Astra Guardrails"
    val dh = "Database Health"
    def tier(hard: Boolean) = if (hard) "***" else ""
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
    // orderBy's order: strings by their UTF-8 bytes, nulls first
    val text = Ordering.Option(Ordering.by[String, UTF8String](UTF8String.fromString))
    val rows = (others.collect() ++ presence ++ tables ++ partitions ++ gcPauses ++
      tombstoneWarn).sortBy(r => (Option(r.getString(0)), Option(r.getString(1)),
        Option(r.getString(2))))(Ordering.Tuple3(text, text, text))
    others.sparkSession.createDataFrame(rows.toSeq.asJava, others.schema)
  }

  /** Unsupported-workload warnings (ref explore.py:696-702): any DSE
    * workload other than plain Cassandra (parsed to 'DSE Core') gets a
    * 'Workload'/'Not Supported' warning with the raw workload name, and
    * Graph-enabled nodes add a 'Graph' warning — deduplicated, like the
    * reference's add_to_warning. Empty workload = OSS node, no warning.
    */
  def workloadWarnings(gossip: Dataset[GossipNode]): DataFrame = {
    val g = gossip.toDF()
    val raw = regexp_replace(col("workload"), " \\+ Graph$", "")
    val unsupported = g.select(raw.as("message"))
      .filter(col("message") =!= "" && col("message") =!= "DSE Core")
    val graphWarn = g.filter(col("graph")).select(lit("Graph").as("message"))
    unsupported.unionByName(graphWarn).distinct()
      .select(lit("Workload").as("category"), lit("Not Supported").as("check"),
        col("message"))
  }

  /** Missing-node detection (ref explore.py:302-304, 683-686): an IP
    * seen in nodetool/status or gossipinfo with no matching node
    * directory yields a 'Missing Data'/'Missing Node Data' warning row,
    * and its presence flips summary_json.missing_data to 1. Documented
    * deviation: the reference also silently drops such nodes from the
    * node tab; this engine keeps the row (with zero/default fields) so a
    * down node stays visible alongside its warning.
    */
  def missingNodeWarnings(status: Dataset[StatusRow], gossip: Dataset[GossipNode],
      dirIp: DataFrame): DataFrame = {
    val seen = status.toDF().select(col("ip"))
      .unionByName(gossip.toDF().select(col("ip")))
      .distinct()
    seen.join(broadcast(dirIp.select(col("ip"))), Seq("ip"), "left_anti")
      .select(lit("Missing Data").as("category"),
        lit("Missing Node Data").as("check"), col("ip").as("message"))
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
