package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.{Q, Tables}

/** Reference-parity relational operators (SURVEY.md §2.2–§2.8) expressed as
  * idiomatic Catalyst-optimized DataFrame pipelines over the oracle tables.
  *
  * Each query mirrors a concrete reference computation (cited per query into
  * /root/reference/explore.py) re-mapped onto the TPC-H-ish testdata per
  * FIXTURES.md §B. Scale posture: grouped aggregations shuffle on their group
  * keys (low cardinality → tiny shuffle); all dimension joins are explicit
  * `broadcast()`; ratio-of-total windows run over the already-aggregated
  * (tiny) relation, never the fact table.
  */
object Relational {

  private val D18_2 = DecimalType(18, 2)
  private val D4_2  = DecimalType(4, 2)

  /** Exact-decimal sum of a double column, returned as double. */
  private def dsum(c: Column): Column = sum(c.cast(D18_2)).cast("double")

  /** Exact positional percentiles WITHOUT a full-data single-partition
    * sort. The rank-window form (`row_number` over the group, pick
    * rn == idx) puts the whole dataset in one window partition at the
    * "all"/Database rollup level — one task sorts everything, a
    * scale-killer at 100 TB. Selection here is distributed in three
    * bounded steps instead:
    *   1. value histogram: groupBy (keys, value) — a point-mass value
    *      collapses to one row, and the shuffle key includes the value,
    *      so even the "all" group spreads over all partitions;
    *   2. coarse buckets (`bucketOf`, any monotone coarsening): prefix
    *      sum over the per-key BUCKET relation, whose cardinality is
    *      value-domain / bucket-width — independent of row count;
    *   3. within-bucket prefix sum over that bucket's histogram rows.
    * The value at global rank idx is the smallest value whose cumulative
    * count reaches idx — identical to the rank-window pick for every idx
    * formula, ties included (the rank ordering among equal values never
    * changes which value sits at a global position).
    *
    * Returns one row per key group: keys ++ (n, min_v, <qs names>, max_v).
    * `idxOf(n, q)` must yield the caller's 1-based target rank.
    */
  def histPercentiles(rows: DataFrame, keys: Seq[String], valueCol: String,
      bucketOf: Column => Column, idxOf: (Column, Double) => Column,
      qs: Seq[(Double, String)]): DataFrame = {
    val k = keys.map(col)
    val hist = rows.groupBy(k :+ col(valueCol): _*)
      .agg(count(lit(1)).as("__c"))
      .withColumn("__b", bucketOf(col(valueCol)))
    val bstats = hist.groupBy(k :+ col("__b"): _*).agg(sum(col("__c")).as("__bc"))
    val wb = Window.partitionBy(k: _*).orderBy(col("__b"))
    val boff = bstats
      .withColumn("__off", sum(col("__bc")).over(wb) - col("__bc"))
      .select(k :+ col("__b") :+ col("__off"): _*)
    val n = bstats.groupBy(k: _*).agg(sum(col("__bc")).as("__n"))
    val win = Window.partitionBy(k :+ col("__b"): _*).orderBy(col(valueCol))
    val cum = hist.join(boff, keys :+ "__b")
      .withColumn("__cum", col("__off") + sum(col("__c")).over(win))
      .join(n, keys)
    val picks = qs.map { case (q, nm) =>
      min(when(col("__cum") >= idxOf(col("__n"), q), col(valueCol))).as(nm)
    }
    val aggs = min(col(valueCol)).as("min_v") +: picks :+ max(col(valueCol)).as("max_v")
    cum.groupBy(k :+ col("__n"): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("__n", "n")
  }

  /** The q04/q20 target-rank formula: round-half-up(n·q) clamped to [1,n]. */
  private[graft] def idxHalfUp(n: Column, q: Double): Column =
    least(greatest(floor(n * q + 0.5), lit(1L)), n)

  // ---------------------------------------------------------------- q01
  /** Workload-share core (SURVEY §7.2): grouped SUMs (A1–A3), grand totals
    * (A4), ratio-of-total (A5/W1), global desc sort (O1).
    * Ref: explore.py:939-998 (per-table sums), 1745-1750 (% of total).
    */
  def q01(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // exact decimal partial sums; grand totals as a 1-row aggregate
    // broadcast back (the q15/workload pattern) — an empty-partition
    // window would drag even this 6-row relation through one task and
    // is the wrong shape to copy at scale
    val agg = li.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
      sum(col("l_quantity").cast(D18_2)).as("qty_d"),
      sum(col("l_extendedprice").cast(D18_2)).as("price_d"),
      count(lit(1)).as("n_rows"))
    val tot = agg.agg(sum(col("price_d")).as("tot_price"),
      sum(col("n_rows")).as("tot_rows"))
    agg.crossJoin(broadcast(tot))
      .withColumn("sum_qty", col("qty_d").cast("double"))
      .withColumn("sum_price", col("price_d").cast("double"))
      .withColumn("share_price",
        col("price_d").cast("double") / col("tot_price").cast("double"))
      .withColumn("share_rows",
        col("n_rows").cast("double") / col("tot_rows").cast("double"))
      .select("l_returnflag", "l_linestatus", "sum_qty", "sum_price",
        "n_rows", "share_price", "share_rows")
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q01Sql: String =
    """WITH agg AS (
      |  SELECT l_returnflag, l_linestatus,
      |         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_d,
      |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS price_d,
      |         COUNT(*) AS n_rows
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag, l_linestatus,
      |       CAST(qty_d AS DOUBLE) AS sum_qty,
      |       CAST(price_d AS DOUBLE) AS sum_price,
      |       n_rows,
      |       CAST(price_d AS DOUBLE) / CAST(SUM(price_d) OVER () AS DOUBLE) AS share_price,
      |       CAST(n_rows AS DOUBLE) / CAST(SUM(n_rows) OVER () AS DOUBLE) AS share_rows
      |FROM agg ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q02
  /** Broadcast dimension-join chain (J1/J2/J4) + exact decimal revenue.
    * Ref: explore.py:592-628, 674-712 (dict-lookup joins → broadcast hash).
    * lineitem ⋈ supplier ⋈ nation ⋈ region, all dims broadcast — at 100 TB
    * the fact side streams, zero shuffle for the joins.
    */
  def q02(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val su = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val na = Tables.nation(s, dir).select("n_nationkey", "n_name", "n_regionkey")
    val re = Tables.region(s, dir).select("r_regionkey", "r_name")
    val one = lit(1).cast(DecimalType(3, 2))
    li.join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
      .join(broadcast(na), su("s_nationkey") === na("n_nationkey"))
      .join(broadcast(re), na("n_regionkey") === re("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(col("l_extendedprice").cast(D18_2) * (one - col("l_discount").cast(D4_2)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  val q02Sql: String =
    """SELECT r_name, n_name,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n_items
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q03
  /** RF-normalization with missing-dim fallback (J3): value ÷ coalesce(rf,1).
    * Ref: explore.py:939-943, 962-966 — `except: count = raw` ⇒ coalesce.
    * The rf dimension is deliberately partial (n_nationkey < 20) to exercise
    * the fallback path; dim is broadcast.
    */
  def q03(s: SparkSession, dir: String): DataFrame = {
    val o  = Tables.orders(s, dir)
    val c  = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val rf = Tables.nation(s, dir)
      .filter(col("n_nationkey") < 20)
      .select(col("n_nationkey").as("rf_nationkey"),
        ((col("n_nationkey") % 3) + 1).cast("double").as("rf"))
    // customer is fact-scale, NOT a broadcastable dimension — shuffle join
    // (AQE picks the strategy); only the tiny rf dim is broadcast
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(rf), col("c_nationkey") === col("rf_nationkey"), "left")
      .withColumn("norm",
        (col("o_totalprice") / coalesce(col("rf"), lit(1.0))).cast(DecimalType(18, 4)))
      .groupBy(col("c_nationkey"))
      .agg(sum(col("norm")).cast("double").as("sum_norm"), count(lit(1)).as("n_orders"))
      .orderBy("c_nationkey")
  }

  val q03Sql: String =
    """WITH rfdim AS (
      |  SELECT n_nationkey AS rf_nationkey,
      |         CAST((n_nationkey % 3) + 1 AS DOUBLE) AS rf
      |  FROM nation WHERE n_nationkey < 20)
      |SELECT c_nationkey,
      |       CAST(SUM(CAST(o_totalprice / COALESCE(rf, 1.0) AS DECIMAL(18,4))) AS DOUBLE) AS sum_norm,
      |       COUNT(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |LEFT JOIN rfdim ON c_nationkey = rf_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q04
  /** Positional multi-percentile (A6): the reference's exact semantics —
    * sort, pick index round(n·q)−1, clamped (explore.py:365-398) — via
    * the distributed histogram selection ([[histPercentiles]]): no
    * interpolation, no collect, and no per-group full sort (a group is
    * 1/|types| of the data — still a scale-killer as one window
    * partition). The oracle keeps the rank-window form; the picked
    * values are identical by construction.
    */
  def q04(s: SparkSession, dir: String): DataFrame =
    histPercentiles(Tables.events(s, dir), Seq("event_type"), "value",
        floor, idxHalfUp,
        Seq(0.50 -> "p50", 0.75 -> "p75", 0.90 -> "p90",
          0.95 -> "p95", 0.98 -> "p98", 0.99 -> "p99"))
      .select("event_type", "n", "min_v", "p50", "p75", "p90", "p95",
        "p98", "p99", "max_v")
      .orderBy("event_type")

  val q04Sql: String = {
    def pick(q: String, name: String) =
      s"MAX(CASE WHEN rn = LEAST(GREATEST(CAST(FLOOR(n * $q + 0.5) AS BIGINT), 1), n) THEN value END) AS $name"
    s"""WITH ranked AS (
       |  SELECT event_type, event_id, value,
       |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM events)
       |SELECT event_type, n, MIN(value) AS min_v,
       |       ${pick("0.50", "p50")}, ${pick("0.75", "p75")}, ${pick("0.90", "p90")},
       |       ${pick("0.95", "p95")}, ${pick("0.98", "p98")}, ${pick("0.99", "p99")},
       |       MAX(value) AS max_v
       |FROM ranked GROUP BY 1, 2 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- q05
  /** Multi-level rollup (A6 levels) + count/min/max/argmax (A7–A9).
    * Ref: explore.py:332-341, 1072-1077 — the same events bucketed at
    * database and per-type level; argmax = timestamp of the max value,
    * tie-broken by unique event_id via STRUCT ordering (value first,
    * then id) — a packed scalar key like value*1e8+id lets the id term
    * override sub-id_range/1e8 value gaps (r2 verdict "What's wrong"
    * #2). The oracle mirrors it collision-free in two passes: max value
    * per group, then MAX_BY(ts, event_id) among the max-value rows.
    */
  def q05(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    ev.rollup(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("oldest"),
        max(col("ts")).as("newest"),
        max_by(col("ts"), struct(col("value"), col("event_id"))).as("ts_of_max"),
        // grouping() distinguishes the rollup total from a genuine NULL
        // event_type group: a bare coalesce(event_type, '__ALL__') would
        // label both '__ALL__' (engine collision) while the oracle's
        // equi-join on level silently DROPPED the NULL group (r3 ADVICE)
        grouping(col("event_type")).as("g"))
      .withColumn("level", when(col("g") === 1, lit("__ALL__"))
        .otherwise(coalesce(col("event_type"), lit("__NULL__"))))
      .select("level", "n_events", "oldest", "newest", "ts_of_max")
      .orderBy("level")
  }

  val q05Sql: String =
    """WITH lvls AS (
      |  SELECT COALESCE(event_type, '__NULL__') AS level, ts, value, event_id FROM events
      |  UNION ALL
      |  SELECT '__ALL__', ts, value, event_id FROM events),
      |agg AS (
      |  SELECT level, COUNT(*) AS n_events, MIN(ts) AS oldest,
      |         MAX(ts) AS newest, MAX(value) AS mv
      |  FROM lvls GROUP BY 1),
      |am AS (
      |  SELECT l.level, MAX_BY(l.ts, l.event_id) AS ts_of_max
      |  FROM lvls l JOIN agg a ON l.level = a.level AND l.value = a.mv
      |  GROUP BY 1)
      |SELECT a.level, a.n_events, a.oldest, a.newest, m.ts_of_max
      |FROM agg a JOIN am m USING (level) ORDER BY level""".stripMargin

  // ---------------------------------------------------------------- q06
  /** Two-level threshold/guardrail predicate with severity (P3/P4).
    * Ref: explore.py:1085-1119, 1440-1464 — `> guardrail` ⇒ "***",
    * `> test-param` ⇒ warn. Filter pushes to the parquet scan.
    */
  def q06(s: SparkSession, dir: String): DataFrame = {
    val (warn, guard) = (100.0, 150.0)
    Tables.events(s, dir)
      // explicit base-column predicate (not `severity IS NOT NULL` on the
      // derived CASE column) so it reaches the parquet scan as a
      // PushedFilter — verified via explain("formatted")
      .filter(col("value") > warn)
      .withColumn("severity",
        when(col("value") > guard, "guardrail").otherwise("warn"))
      .select("event_id", "event_type", "value", "severity")
      .orderBy("event_id")
  }

  val q06Sql: String =
    """SELECT event_id, event_type, value,
      |       CASE WHEN value > 150.0 THEN 'guardrail'
      |            WHEN value > 100.0 THEN 'warn' END AS severity
      |FROM events WHERE value > 100.0 ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q07
  /** Top-1-per-group (A10/W2): the reference's *intended* max-per-key
    * (explore.py:1477-1492; actual code is last-wins — documented intent
    * implemented, SURVEY §4). row_number window, unique-key tiebreak.
    *
    * Hot-key bound: `Window.partitionBy(o_custkey)` serializes each key
    * into one task — intrinsic to per-key order, cost O(hot·log hot)
    * for that task's sort, no cross product. Pinned by
    * AdversarialScaleSpec's 40%-hot-key fixture (all-tied values must
    * still break by the unique id). Per-key PRE-aggregation can't
    * apply: the tiebreak needs the full per-key order.
    */
  def q07(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey")
  }

  val q07Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q08
  /** Dedup-after-sort = first-wins = max-per-key (A11).
    * Ref: explore.py:1594-1602 — tombstone tab dedup on (ks,tbl) after
    * `sort desc` ⇒ keeps the max-count row. Same shape as W2 but keyed on
    * a different relation; kept separate to pin A11's semantics.
    * Hot-key bound: same O(hot·log hot) single-task sort as q07 —
    * see q07's Scaladoc; pinned by the same adversarial fixture.
    */
  def q08(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")
  }

  val q08Sql: String =
    """SELECT user_id, event_id, event_type, value FROM (
      |  SELECT user_id, event_id, event_type, value,
      |         ROW_NUMBER() OVER (PARTITION BY user_id
      |                            ORDER BY value DESC, event_id) AS rn
      |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q09
  /** DISTINCT + lexical sort (A11/O3). Ref: explore.py:1079-1083 (dc_list). */
  def q09(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select("event_type").distinct().orderBy("event_type")

  val q09Sql: String =
    "SELECT DISTINCT event_type FROM events ORDER BY event_type"

  // ---------------------------------------------------------------- q10
  /** Conditional warning collection (A12): collect_set of flagged keys per
    * category, emitted as a sorted joined string so both engines agree on
    * order. Ref: explore.py:230-239, 1444-1464.
    */
  def q10(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("value") > 150.0)
      .groupBy(col("event_type"))
      .agg(
        concat_ws(",", sort_array(collect_set(col("user_id").cast("string"))))
          .as("flagged_users"),
        count(lit(1)).as("n_flags"))
      .orderBy("event_type")

  val q10Sql: String =
    """SELECT event_type,
      |       COALESCE(STRING_AGG(DISTINCT CAST(user_id AS VARCHAR), ','
      |                           ORDER BY CAST(user_id AS VARCHAR)), '') AS flagged_users,
      |       COUNT(*) AS n_flags
      |FROM events WHERE value > 150.0 GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q11
  /** UNION ALL across slices (U1/U2) + anti-join blocklist (U3/P2).
    * Ref: explore.py:1043-1066 (log-file union), 469-476 (system-keyspace
    * blocklist ⇒ left_anti against a tiny broadcast DF).
    */
  def q11(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val jan = ev.filter(month(col("ts")) === 1)
    val feb = ev.filter(month(col("ts")) === 2)
    import s.implicits._
    val blocklist = Seq("error", "debug").toDF("event_type")
    jan.unionByName(feb)
      .join(broadcast(blocklist), Seq("event_type"), "left_anti")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  val q11Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM (SELECT * FROM events WHERE DATE_PART('month', ts) = 1
      |      UNION ALL
      |      SELECT * FROM events WHERE DATE_PART('month', ts) = 2)
      |WHERE event_type NOT IN ('error', 'debug')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q12
  /** String/regex scalar family (§2.8): regexp extraction, token counting,
    * contains-predicate. Ref: explore.py:242-247 (regex extract), 320-326
    * (substring-between), 914-924 (split/strip).
    */
  def q12(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("first_word", regexp_extract(col("text"), "^(\\w+)", 1))
      .withColumn("n_words", size(split(trim(col("text")), " +")))
      .withColumn("has_spark", col("text").contains("spark").cast("int"))
      .select("doc_id", "first_word", "n_words", "has_spark", "n_chars")
      .transform(Present.sorted(_, "doc_id"))

  val q12Sql: String =
    """SELECT doc_id,
      |       REGEXP_EXTRACT(text, '^(\w+)', 1) AS first_word,
      |       CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), ' +')) AS INT) AS n_words,
      |       CAST(CONTAINS(text, 'spark') AS INT) AS has_spark,
      |       n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q13
  /** JSON extraction (§2.8): the gossip-payload pattern — pull a typed field
    * out of an embedded JSON string. Ref: explore.py:694-705 (json.loads of
    * DSE_GOSSIP_STATE → workload/graph/dse_version).
    */
  def q13(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .filter(col("k") > 80)
      .select("event_id", "event_type", "k")
      .transform(Present.sorted(_, "event_id"))

  val q13Sql: String =
    """SELECT event_id, event_type, CAST(props->>'$.k' AS INT) AS k
      |FROM events WHERE CAST(props->>'$.k' AS INT) > 80
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q14
  /** Date/time scalar family (§2.8): month bucketing + the reference's
    * TPS→TPMo arithmetic (explore.py:1814-1820: ×60·60·24·365.25/12) moved
    * from the Excel sink into the engine (SURVEY §7.5).
    */
  def q14(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .withColumn("orders_per_mo_equiv", col("n_orders") * (365.25 / 12))
      .orderBy("month")

  val q14Sql: String =
    """SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month,
      |       COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |       COUNT(*) * (365.25 / 12) AS orders_per_mo_equiv
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q15
  /** Partitioned ratio-of-total window (A5/W1 over a real partition key):
    * customer share of spend within each order priority.
    * Ref: explore.py:1745-1750 re-keyed per group.
    */
  def q15(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"), col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(D18_2)).as("spend_d"))
    // unlike q01's 6-row aggregate, this relation scales with customer
    // count — a ratio-of-total WINDOW would sort 1/|priorities| of it in
    // each of ~5 window partitions. The totals relation is 5 rows:
    // aggregate it separately (map-side partials) and broadcast it back.
    val tot = agg.groupBy(col("o_orderpriority"))
      .agg(sum(col("spend_d")).as("tot_d"))
    agg.join(broadcast(tot), Seq("o_orderpriority"))
      .withColumn("spend", col("spend_d").cast("double"))
      .withColumn("share", col("spend_d").cast("double") / col("tot_d").cast("double"))
      .select("o_orderpriority", "o_custkey", "spend", "share")
      .orderBy("o_orderpriority", "o_custkey")
  }

  val q15Sql: String =
    """WITH agg AS (
      |  SELECT o_orderpriority, o_custkey,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_d
      |  FROM orders GROUP BY 1, 2)
      |SELECT o_orderpriority, o_custkey,
      |       CAST(spend_d AS DOUBLE) AS spend,
      |       CAST(spend_d AS DOUBLE) / CAST(SUM(spend_d) OVER (PARTITION BY o_orderpriority) AS DOUBLE) AS share
      |FROM agg ORDER BY o_orderpriority, o_custkey""".stripMargin

  // ---------------------------------------------------------------- q16
  /** AVG (A13) computed as exact-sum ÷ count (engines differ on decimal AVG
    * result types, so the division is explicit). Ref: explore.py:1557-1563.
    */
  def q16(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_cust"),
        (sum(col("c_acctbal").cast(D18_2)).cast("double") / count(lit(1))).as("avg_bal"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"))
      .orderBy("n_name")
  }

  val q16Sql: String =
    """SELECT n_name, COUNT(*) AS n_cust,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal,
      |       MIN(c_acctbal) AS min_bal,
      |       MAX(c_acctbal) AS max_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q17
  /** Shape counts (A14): counts + distinct counts per group.
    * Ref: explore.py:1093-1119 (#MV/SI per source table, #columns).
    */
  def q17(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_parts"),
        countDistinct(col("p_type")).as("n_types"),
        countDistinct(col("p_size")).as("n_sizes"))
      .orderBy("p_brand")

  val q17Sql: String =
    """SELECT p_brand, COUNT(*) AS n_parts,
      |       COUNT(DISTINCT p_type) AS n_types,
      |       COUNT(DISTINCT p_size) AS n_sizes
      |FROM part GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q18
  /** Semi/anti join (U3 generalized): per-nation counts of customers with
    * and without orders. Ref: the P2 blocklist is anti-join semantics
    * (explore.py:469-476); semi is its dual.
    */
  def q18(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val o = Tables.orders(s, dir).select(col("o_custkey"))
    val withO    = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_with_orders"))
    val withoutO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_without_orders"))
    withO.join(withoutO, Seq("c_nationkey"), "full_outer")
      .na.fill(0L, Seq("n_with_orders", "n_without_orders"))
      .orderBy("c_nationkey")
  }

  val q18Sql: String =
    """WITH w AS (
      |  SELECT c_nationkey, COUNT(*) AS n_with_orders FROM customer
      |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  GROUP BY 1),
      |wo AS (
      |  SELECT c_nationkey, COUNT(*) AS n_without_orders FROM customer
      |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  GROUP BY 1)
      |SELECT COALESCE(w.c_nationkey, wo.c_nationkey) AS c_nationkey,
      |       COALESCE(n_with_orders, 0) AS n_with_orders,
      |       COALESCE(n_without_orders, 0) AS n_without_orders
      |FROM w FULL OUTER JOIN wo ON w.c_nationkey = wo.c_nationkey
      |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q19
  /** Tumbling event-time window aggregation — the batch twin of the
    * Structured Streaming pipeline in graft.streaming (SURVEY §2.9):
    * hour-aligned windows over the event stream.
    */
  def q19(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("n"), col("sum_value"))
      .orderBy("hour_start")

  val q19Sql: String =
    """SELECT DATE_TRUNC('hour', ts) AS hour_start, COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q20
  /** 3-level rollup of positional percentiles + argmax timestamps over
    * a continuous value (A6–A9, the shape of the reference's Database →
    * DC → Node GC rollup, explore.py:332-341, 365-398, 1072-1077;
    * DiagAnalysis.gcPercentiles serves the integer-valued GC tab with a
    * one-pass histogram instead). Levels are
    * materialized by exploding each event into its level rows, then the
    * percentiles come from the distributed histogram selection
    * ([[histPercentiles]]) — the "all" level no longer sorts the whole
    * dataset in one window partition. The timestamp aggregates are plain
    * (partially-aggregated, shuffle-on-key) group-bys joined back on.
    */
  def q20(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      // '__NULL__' sentinel: a NULL event_type must form its own group,
      // not a NULL name that every equi-join downstream (pcts ⋈ base
      // here, lvls ⋈ agg in the oracle) silently drops (r3 ADVICE)
      .withColumn("grp", coalesce(col("event_type"), lit("__NULL__")))
      .withColumn("sub", concat(col("grp"), lit("#"), (col("user_id") % 4).cast("string")))
    // Explode-to-levels, NOT a hierarchical partial-merge: a rewrite
    // that shuffled the raw events once to a per-(grp,sub,value) hist
    // and re-aggregated upward was MEASURED SLOWER (4.7 s vs 2.5 s warm
    // at sf0.1) — `value` is a continuous double, so the "histogram" is
    // ~one row per event and nothing collapses, while the cache
    // materialization it required is pure overhead. The explode's 3N
    // shuffle already runs map-side partial aggregation, which is the
    // intrinsic cost of 3-level positional percentiles on a continuous
    // domain.
    val lvls = ev.select(col("ts"), col("value"), col("event_id"),
      explode(array(
        struct(lit("all").as("level"), lit("__ALL__").as("name")),
        struct(lit("grp").as("level"), col("grp").as("name")),
        struct(lit("sub").as("level"), col("sub").as("name")))).as("l"))
      .select(col("l.level").as("level"), col("l.name").as("name"),
        col("ts"), col("value"), col("event_id"))
    val pcts = histPercentiles(lvls, Seq("level", "name"), "value",
      floor, idxHalfUp, Seq(0.50 -> "p50", 0.95 -> "p95", 0.99 -> "p99"))
    val base = lvls.groupBy(col("level"), col("name")).agg(
      min(col("ts")).as("oldest"), max(col("ts")).as("newest"),
      // struct ordering: max value wins, event_id only splits exact ties
      // (see q05 — the packed scalar key could override small value gaps)
      max_by(col("ts"), struct(col("value"), col("event_id"))).as("ts_of_max"))
    pcts.withColumnRenamed("n", "pauses")
      .join(base, Seq("level", "name"))
      .select("level", "name", "pauses", "min_v", "p50", "p95", "p99",
        "max_v", "oldest", "newest", "ts_of_max")
      .orderBy("level", "name")
  }

  val q20Sql: String = {
    def pick(q: String, name: String) =
      s"MAX(CASE WHEN rn = LEAST(GREATEST(CAST(FLOOR(n * $q + 0.5) AS BIGINT), 1), n) THEN value END) AS $name"
    s"""WITH lvls AS (
       |  SELECT 'all' AS level, '__ALL__' AS name, ts, value, event_id FROM events
       |  UNION ALL
       |  SELECT 'grp', COALESCE(event_type, '__NULL__'), ts, value, event_id FROM events
       |  UNION ALL
       |  SELECT 'sub', COALESCE(event_type, '__NULL__') || '#' || CAST(user_id % 4 AS VARCHAR), ts, value, event_id FROM events),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY level, name ORDER BY value, event_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY level, name) AS n
       |  FROM lvls),
       |agg AS (
       |  SELECT level, name, n AS pauses, MIN(value) AS min_v,
       |       ${pick("0.50", "p50")}, ${pick("0.95", "p95")}, ${pick("0.99", "p99")},
       |       MAX(value) AS max_v,
       |       MIN(ts) AS oldest, MAX(ts) AS newest
       |  FROM ranked GROUP BY level, name, n),
       |am AS (
       |  SELECT l.level, l.name, MAX_BY(l.ts, l.event_id) AS ts_of_max
       |  FROM lvls l JOIN agg a ON l.level = a.level AND l.name = a.name
       |                        AND l.value = a.max_v
       |  GROUP BY 1, 2)
       |SELECT a.level, a.name, a.pauses, a.min_v, a.p50, a.p95, a.p99,
       |       a.max_v, a.oldest, a.newest, m.ts_of_max
       |FROM agg a JOIN am m USING (level, name) ORDER BY level, name""".stripMargin
  }

  // ---------------------------------------------------------------- q21
  /** Gap-based sessionization — the standard large-scale event-pipeline
    * operator (no reference counterpart; north-star §2.9 adjacency):
    * per user, a new session starts when the gap to the previous event
    * exceeds 30 minutes (lag window), session id = running sum of
    * session-start flags, then per-session aggregates. One shuffle on
    * user_id serves both windows and the final group-by.
    *
    * Hot-key bound: the user_id window serializes each key into one
    * task — intrinsic to gap semantics (the running sum needs the full
    * per-key order, so per-key pre-aggregation can't apply). Cost is
    * O(hot·log hot) for that task's sort, no blow-up; pinned by
    * AdversarialScaleSpec's 40%-hot-key fixture (200 exact sessions
    * out of a 20k-event single-user history). The streaming twin
    * ([[graft.streaming.EventStreams.sessionize]]) is the mitigation
    * when one key's history outgrows a task: its state is
    * O(open sessions per key), not O(events per key).
    */
  def q21(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sec = unix_timestamp(col("ts"))
    val flagged = ev
      .withColumn("prev_sec", lag(sec, 1).over(w))
      .withColumn("new_session",
        when(col("prev_sec").isNull || sec - col("prev_sec") > 1800L, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(w))
    flagged.groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ts"),
        max(col("ts")).as("end_ts"),
        (max(unix_timestamp(col("ts"))) - min(unix_timestamp(col("ts"))))
          .as("duration_sec"))
      .orderBy("user_id", "session_idx")
  }

  val q21Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |         CASE WHEN LAG(ts) OVER w IS NULL
      |                OR CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts,
      |         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_idx
      |  FROM flagged)
      |SELECT user_id, session_idx, COUNT(*) AS n_events,
      |       MIN(ts) AS start_ts, MAX(ts) AS end_ts,
      |       CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) - CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS duration_sec
      |FROM sessions GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q23
  /** Broadcast range join — histogram bucket assignment against a
    * DATA-DERIVED bin table: per event_type, the positional percentiles
    * (p50/p95/p99 from [[histPercentiles]]) define four half-open value
    * bins [min,p50) [p50,p95) [p95,p99) [p99,∞), and every event is
    * range-joined into its bin. The bin table is 4 rows per event_type —
    * broadcast it and the "range join" is a broadcast hash join on
    * event_type with the range predicate evaluated map-side: no shuffle
    * of the fact table, no O(N·bins) nested loop. This is the scalable
    * shape for every value-bucketing / SLA-banding query; a naive
    * value-theta join would be the cross-product trap.
    *
    * Determinism: bin edges are PICKED data values (exact doubles both
    * engines), bins are half-open so every value lands in exactly one,
    * and empty bins drop on both sides (inner join).
    */
  /** The q23 bin table: per event_type, half-open value bins at
    * [min,p50) [p50,p95) [p95,p99) [p99,∞) — columns (bt, bin_id, lo,
    * hi), `hi` NULL on the last bin. Also the static side of the
    * stream-static join twin (EventStreams.windowedBinCounts). */
  def valueBins(ev: DataFrame): DataFrame = {
    val pct = histPercentiles(ev, Seq("event_type"), "value", floor, idxHalfUp,
      Seq(0.50 -> "p50", 0.95 -> "p95", 0.99 -> "p99"))
    pct.select(col("event_type"), explode(array(
        struct(lit(1).as("bin_id"), col("min_v").as("lo"), col("p50").as("hi")),
        struct(lit(2).as("bin_id"), col("p50").as("lo"), col("p95").as("hi")),
        struct(lit(3).as("bin_id"), col("p95").as("lo"), col("p99").as("hi")),
        struct(lit(4).as("bin_id"), col("p99").as("lo"),
          lit(null).cast("double").as("hi")))).as("b"))
      // "bt", not "event_type": bins share the events scan lineage, so
      // an identically-named join key is an ambiguous self-join column
      .select(col("event_type").as("bt"), col("b.bin_id").as("bin_id"),
        col("b.lo").as("lo"), col("b.hi").as("hi"))
  }

  def q23(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val bins = valueBins(ev)
    ev.join(broadcast(bins),
        col("event_type") === col("bt") &&
          col("value") >= col("lo") &&
          (col("hi").isNull || col("value") < col("hi")))
      .groupBy(col("event_type"), col("bin_id"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("event_type"), col("bin_id"), col("n_events"),
        col("lo"), col("hi"))
      .orderBy("event_type", "bin_id")
  }

  val q23Sql: String = {
    def pick(q: String, name: String) =
      s"MAX(CASE WHEN rn = LEAST(GREATEST(CAST(FLOOR(n * $q + 0.5) AS BIGINT), 1), n) THEN value END) AS $name"
    s"""WITH ranked AS (
       |  SELECT event_type, event_id, value,
       |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM events),
       |pct AS (
       |  SELECT event_type, MIN(value) AS min_v,
       |         ${pick("0.50", "p50")}, ${pick("0.95", "p95")}, ${pick("0.99", "p99")}
       |  FROM ranked GROUP BY event_type, n),
       |bins AS (
       |  SELECT event_type, 1 AS bin_id, min_v AS lo, p50 AS hi FROM pct
       |  UNION ALL SELECT event_type, 2, p50, p95 FROM pct
       |  UNION ALL SELECT event_type, 3, p95, p99 FROM pct
       |  UNION ALL SELECT event_type, 4, p99, NULL FROM pct)
       |SELECT e.event_type, b.bin_id, COUNT(*) AS n_events, b.lo, b.hi
       |FROM events e JOIN bins b ON e.event_type = b.event_type
       |  AND e.value >= b.lo AND (b.hi IS NULL OR e.value < b.hi)
       |GROUP BY 1, 2, 4, 5 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- q24
  /** KMV distinct-count sketch vs exact — the custom MERGEABLE AGGREGATE
    * (north-star "novel sketch"; graft.functions.KmvKth, a
    * TypedImperativeAggregate): per event_type, the k=64 smallest
    * distinct 60-bit user hashes travel as the partial state (≤ k longs
    * per partition vs exact distinct shuffling every value), and the
    * estimate is ONE exact division over the k-th hash. KMV is fully
    * deterministic, so the oracle reproduces the sketch itself with a
    * rank window — estimate and all — bit-for-bit.
    */
  def q24(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val K = 64
    val ev = Tables.events(s, dir)
    ev.select(col("event_type"), col("user_id"),
        Dedup.h60(concat(lit("u"), col("user_id").cast("string"))).as("h"))
      .groupBy(col("event_type"))
      .agg(call_function("kmv_kth", col("h"), lit(K)).as("kmv"),
        countDistinct(col("user_id")).as("exact_distinct"))
      .select(col("event_type"),
        col("kmv.n_kept").as("n_kept"), col("kmv.kth").as("kth"),
        when(col("kmv.kth").isNull, col("kmv.n_kept").cast("double"))
          // (k-1)·2^60: 6 significant bits — the double product is exact
          .otherwise(lit((K - 1).toDouble * 1152921504606846976.0) /
            col("kmv.kth").cast("double")).as("est_distinct"),
        col("exact_distinct"))
      .orderBy("event_type")
  }

  val q24Sql: String =
    """WITH h AS (
      |  -- user_id IS NOT NULL mirrors the aggregate's null-skipping
      |  -- contract: KmvKth.update ignores NULL inputs, while
      |  -- 'u' || NULL would keep a NULL hash row here and inflate nd
      |  SELECT DISTINCT event_type,
      |         CAST(concat('0x', substr(md5('u' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM events WHERE user_id IS NOT NULL),
      |r AS (
      |  SELECT event_type, h,
      |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
      |         COUNT(*) OVER (PARTITION BY event_type) AS nd
      |  FROM h),
      |k AS (
      |  SELECT event_type, CAST(LEAST(nd, 64) AS BIGINT) AS n_kept,
      |         MAX(CASE WHEN rn = 64 THEN h END) AS kth
      |  FROM r GROUP BY event_type, nd),
      |x AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
      |      FROM events GROUP BY 1)
      |SELECT k.event_type, n_kept, kth,
      |       CASE WHEN kth IS NULL THEN CAST(n_kept AS DOUBLE)
      |            ELSE (63.0 * 1152921504606846976.0) / CAST(kth AS DOUBLE) END AS est_distinct,
      |       exact_distinct
      |FROM k JOIN x USING (event_type) ORDER BY event_type""".stripMargin

  /** Registry of this family. */
  val qs: Seq[Q] = Seq(
    Q("q01_workload_share", "A1–A5/W1/O1 grouped sums + ratio-of-total", q01, Some(q01Sql)),
    Q("q02_dim_join_revenue", "J1/J2/J4 broadcast dim-join chain", q02, Some(q02Sql)),
    Q("q03_rf_normalize", "J3 RF-normalize with coalesce fallback", q03, Some(q03Sql)),
    Q("q04_percentiles_positional", "A6 positional percentiles", q04, Some(q04Sql)),
    Q("q05_rollup_minmax_argmax", "A6–A9 rollup + min/max/argmax", q05, Some(q05Sql)),
    Q("q06_threshold_severity", "P3/P4 two-level guardrail severity", q06, Some(q06Sql)),
    Q("q07_top1_per_group", "A10/W2 top-1 per group", q07, Some(q07Sql)),
    Q("q08_dedup_keep_max", "A11 dedup-after-sort = max-per-key", q08, Some(q08Sql)),
    Q("q09_distinct_sorted", "A11/O3 distinct + sort", q09, Some(q09Sql)),
    Q("q10_warnings_collect", "A12 conditional collect_set", q10, Some(q10Sql)),
    Q("q11_union_anti_blocklist", "U1–U3 union + anti-join blocklist", q11, Some(q11Sql)),
    Q("q12_scalar_text", "§2.8 string/regex scalars", q12, Some(q12Sql)),
    Q("q13_json_extract", "§2.8 JSON field extraction", q13, Some(q13Sql)),
    Q("q14_date_arithmetic", "§2.8 date bucketing + TPMo arithmetic", q14, Some(q14Sql)),
    Q("q15_ratio_window_partitioned", "A5/W1 partitioned ratio window", q15, Some(q15Sql)),
    Q("q16_avg_exact", "A13 avg as exact-sum ÷ count", q16, Some(q16Sql)),
    Q("q17_shape_counts", "A14 count-distinct shape counts", q17, Some(q17Sql)),
    Q("q18_semi_anti_join", "U3 semi/anti join duals", q18, Some(q18Sql)),
    Q("q19_window_hourly", "§2.9 tumbling event-time window (batch twin)", q19, Some(q19Sql)),
    Q("q20_rollup_percentiles_3level", "A6–A9 3-level percentile rollup + argmax", q20, Some(q20Sql)),
    Q("q21_sessionize", "gap-based sessionization (lag + running-sum windows)", q21, Some(q21Sql)),
    Q("q23_range_join_bins", "broadcast range join into percentile-derived bins", q23, Some(q23Sql)),
    Q("q24_kmv_distinct", "KMV sketch distinct-count vs exact (custom aggregate)", q24, Some(q24Sql)),
  )
}
