package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DedupPrepare, LayerMaintenance}

/** Layer bucket sizing: a corpus's layers are bucketed by the session's
  * shuffle parallelism, read once per corpus generation, so
  *  (a) every layer of one corpus carries the same bucket count (its
  *      co-bucketed joins stay exchange-free) even if the session conf
  *      moves mid-generation,
  *  (b) appends and compactions keep a standing table's own catalog
  *      count, whatever the session conf says by then, and
  *  (c) [[DedupPrepare.invalidate]] re-resolves the count.
  */
class LayerBucketsSpec extends AnyFunSuite with SparkTestBase {

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  private def corpus(ids: Seq[Long], dir: String, mode: String): Unit = {
    import spark.implicits._
    ids.map { i =>
      val t = s"alpha bravo tok$i charlie tok${i % 5} delta echo tok${i % 11} fox"
      (i, t, "en", "u", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.mode(mode).parquet(s"$dir/documents.parquet")
  }

  private def freshCorpus(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_lb_$tag").toString
    corpus(0L until 80L, d, "overwrite")
    d
  }

  private def buckets(dir: String, family: String): Int =
    DedupPrepare.tableBuckets(spark,
      LayerMaintenance.physicalName(spark, dir, family))

  /** Run `f` with the session's shuffle-partition count set to `n`. */
  private def withShufflePartitions[T](n: Int)(f: => T): T = {
    val prev = spark.conf.get(ShufflePartitions)
    spark.conf.set(ShufflePartitions, n.toString)
    try f finally spark.conf.set(ShufflePartitions, prev)
  }

  test("every layer of one corpus is written with the session's " +
      "shuffle-partition count, and keeps it for the generation") {
    val dir = freshCorpus("gen")
    val session = spark.conf.get(ShufflePartitions).toInt
    DedupPrepare.shingles3(spark, dir)
    assert(buckets(dir, "shingles3") == session)
    // the conf moves after the corpus's first build: later layers of the
    // same generation still share the first count
    withShufflePartitions(session + 1) {
      DedupPrepare.lshBands(spark, dir) // builds minhash, then the bands
    }
    val counts = Seq("shingles3", "minhash", "lshbands")
      .map(f => f -> buckets(dir, f))
    assert(counts.forall(_._2 == session), s"bucket counts: $counts")
  }

  test("two layers of one corpus report the same bucketSpec count") {
    val dir = freshCorpus("pair")
    DedupPrepare.shingles3(spark, dir)
    DedupPrepare.minhashSig(spark, dir)
    val specs = Seq("shingles3", "minhash").map { f =>
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(
          LayerMaintenance.physicalName(spark, dir, f))).bucketSpec.get
    }
    assert(specs.map(_.numBuckets).distinct.size == 1, s"specs: $specs")
    assert(specs.map(_.bucketColumnNames) ==
      Seq(Seq("doc_id"), Seq("doc_id")))
  }

  test("appends and compactions keep the table's own count after the " +
      "session's shuffle partitions change") {
    val dir = freshCorpus("maint")
    val built = spark.conf.get(ShufflePartitions).toInt
    LayerMaintenance.ensureMaintained(spark, dir)
    val families = Seq("shingles3", "minhash", "lshbands", "unifreq")
    assert(families.forall(buckets(dir, _) == built))
    withShufflePartitions(built + 2) {
      corpus(80L until 100L, dir, "append")
      import spark.implicits._
      val batch = spark.read.parquet(s"$dir/documents.parquet")
        .filter($"doc_id" >= 80L)
      val report = LayerMaintenance.appendIngest(spark, dir, batch)
      assert(report.exists(_.action == "appended"), s"report: $report")
      // appended in place (aliased) or merge-rewritten: all keep `built`
      for (f <- families)
        assert(buckets(dir, f) == built, s"$f after append")
      val compacted = LayerMaintenance.compact(spark, dir)
      assert(compacted.exists(_.action == "compacted"), s"report: $compacted")
      for (f <- families)
        assert(buckets(dir, f) == built, s"$f after compact")
    }
  }

  test("invalidate(dir) re-resolves the count") {
    val dir = freshCorpus("inval")
    val before = spark.conf.get(ShufflePartitions).toInt
    DedupPrepare.shingles3(spark, dir)
    withShufflePartitions(before + 1) {
      assert(DedupPrepare.layerBuckets(spark, dir) == before, "memoized")
      DedupPrepare.invalidate(dir)
      assert(DedupPrepare.layerBuckets(spark, dir) == before + 1)
      // the standing layer is untouched; a first build after the
      // invalidate takes the re-resolved count
      DedupPrepare.minhashSig(spark, dir)
      assert(buckets(dir, "shingles3") == before)
      assert(buckets(dir, "minhash") == before + 1)
    }
  }
}
