package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  * All engine queries take `(spark, sfDir)` and read through here so the
  * scan is a plain parquet FileScan — Catalyst pushes filters/pruning into
  * it (verified via `.explain("formatted")`: `PushedFilters`/`ReadSchema`).
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  /** `events.parquet` stores `ts` as TIMESTAMP(NANOS), which Spark's parquet
    * reader rejects. Read nanos as long and convert with *integer* division
    * (ns → µs; a double division would lose precision above 2^53). The
    * testdata's sub-microsecond component is verified zero, so this is
    * lossless and matches DuckDB's TIMESTAMP_NS view of the same file.
    */
  def eventsRaw(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    nanosTsToMicros(load(s, d, "events"))
  }
  /** Batch events serve through the evsrc INTAKE layer (see the intake
    * doc below): the raw single-file table caps scan parallelism at its
    * row-group count (10 at sf10 — a 10-task ceiling on 32 cores for
    * every q04/q05/q20/q22 pass), and the user_id bucketing makes every
    * per-user window/as-of/aggregate downstream exchange-free. The
    * STREAMING reader (EventStreams.fromParquetDir) keeps reading the
    * raw arrival files — a stream must see files as they land.
    * Like the other intake accessors this is SIZE-GATED
    * ([[graft.operators.DedupPrepare.rawNeedsIntake]]): a tiny corpus
    * whose single-task scan costs less than the bucketed layer's task
    * floor (one task per session shuffle partition) serves raw. */
  def events(s: SparkSession, d: String): DataFrame =
    graft.operators.DedupPrepare.intakeEvents(s, d)

  /** Normalize `ts` to session-local TIMESTAMP regardless of how the
    * corpus generation encoded it (also used by the streaming reader,
    * graft.streaming.EventStreams.fromParquetDir):
    *  - TIMESTAMP(NANOS) read as long (legacy.parquet.nanosAsLong) —
    *    integer ns→µs division, lossless (sub-µs verified zero);
    *  - plain timestamp[us] without a timezone — Spark infers
    *    TIMESTAMP_NTZ, which batch tolerates but streaming watermarks
    *    reject; cast reinterprets the wall-clock in the session zone
    *    (pinned UTC), the same instants DuckDB sees;
    *  - already TIMESTAMP — no-op. */
  def nanosTsToMicros(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  /** The corpus tables serve through the INTAKE layers (r15 opt, guide
    * §6 "one huge unsplittable file… fix at the source; otherwise
    * repartition immediately after the read"): the generator-provided
    * documents/embeddings parquet arrive as ONE ROW GROUP (500k docs /
    * 88 MB at sf10), so every raw scan — and therefore every text/vector
    * kernel above it — ran in ONE task while 31 cores idled; this was
    * the invisible floor under the whole map-side query family. Intake
    * rewrites the table once per corpus fingerprint into the engine's
    * own layout (doc_id/vec_id buckets, one per session shuffle
    * partition — `DedupPrepare.layerBuckets` — one file each): scans
    * parallelize, and every doc_id- or vec_id-keyed join/groupBy
    * downstream is co-bucketed with the other layers. This is ingest —
    * the move-the-bytes-once step a 100 TB deployment performs on
    * arrival — NOT result caching: the layer is a row-identical copy of
    * the raw parquet, built from it on first touch and fingerprint-keyed
    * like every prep table (a rewritten corpus mints a new layer).
    * Raw accessors remain for the intake builds themselves. */
  def documentsRaw(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddingsRaw(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
  def documents(s: SparkSession, d: String): DataFrame =
    graft.operators.DedupPrepare.intakeDocuments(s, d)
  def embeddings(s: SparkSession, d: String): DataFrame =
    graft.operators.DedupPrepare.intakeEmbeddings(s, d)
}

/** One registered engine query: a DataFrame program plus (optionally) the
  * ANSI-SQL oracle the driver runs in DuckDB over the same parquet tables.
  *
  * Determinism rules every query here follows (so the driver's hash compare
  * is stable across engines):
  *  - money/measure sums go through an exact DECIMAL cast (float addition
  *    order never reaches the result);
  *  - ratios divide two exact values as doubles (single IEEE op, no
  *    accumulation);
  *  - percentiles are *positional* (reference semantics,
  *    /root/reference/explore.py:365-398) — picked values, not interpolated;
  *  - every result is fully ordered by a unique key prefix;
  *  - ties in top-1-per-group are broken by a unique id.
  */
final case class Q(
    name: String,
    doc: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])
