package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, DedupPrepare}

/** The kepts singleton prune (r16): the by-shingle kept relation drops
  * df-1 rows at write time because they cannot form a self-join pair.
  * Pins:
  *  (a) the layer is EXACTLY the df ≥ 2 subset of the unpruned kept
  *      relation, with the denormalized per-doc count `n` still taken
  *      over ALL kept shingles (including the pruned singletons) — on
  *      the sf0.001 corpus plus one seeded doc whose shingles occur
  *      nowhere else, so the prune provably has something to drop;
  *  (b) dd04's output equals the pair self-join composed over the
  *      UNPRUNED kept relation (the oracle's definition, recomputed
  *      here engine-side) on the real sf0.001 corpus.
  */
class KeptsPruneSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  /** sf0.001 plus one doc built from tokens that occur nowhere else:
    * its shingles are df-1 singletons by construction. */
  private val seedTokens = (1 to 4).map(i => s"zqkeptsingleton$i")
  private lazy val seededDir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_kepts").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val text = seedTokens.mkString(" ")
    val seed = Seq((docs.agg(max(col("doc_id"))).head().getLong(0) + 1, text,
      "en", "u", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.select(seed.columns.map(col): _*).unionByName(seed)
      .write.parquet(s"$d/documents.parquet")
    d
  }

  /** The unpruned kept relation with denominators — the pre-r16 layer
    * body, recomputed from the same upstream layers. */
  private def unprunedKept(dir: String) = {
    val sh = DedupPrepare.shingles3(spark, dir)
    val df = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val kept = sh.join(df.filter(col("df") <= DedupPrepare.DfCut)
      .select(col("s")), Seq("s"))
    val n = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    kept.join(n, Seq("doc_id")).select(col("s"), col("doc_id"), col("n"))
  }

  test("kepts == df>=2 subset of the unpruned kept relation, n unpruned") {
    val unpruned = unprunedKept(seededDir)
    val df2 = unpruned.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("s"))
    val expected = unpruned.join(df2, Seq("s"))
      .select(col("s"), col("doc_id"), col("n"))
    val got = DedupPrepare.keptByShingle(spark, seededDir)
      .select(col("s"), col("doc_id"), col("n"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "kepts layer != df>=2 subset with unpruned denominators")
    // the prune actually prunes: the seeded doc's singleton shingles
    // are kept before the prune and gone after it
    val seeded = seedTokens.sliding(3).map(_.mkString(" ")).toSeq
    def present(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.filter(col("s").isin(seeded: _*)).select(col("s")).distinct()
        .collect().map(_.getString(0)).toSet
    assert(present(unpruned) == seeded.toSet,
      "seeded singleton shingles missing from the unpruned kept relation")
    assert(present(got).isEmpty, "seeded singleton shingles survived the prune")
  }

  test("dd04 == the pair self-join over the UNPRUNED kept relation") {
    val kept = unprunedKept(dir)
    val expected = kept.as("a").hint("merge").join(kept.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("c"),
        max(col("a.n")).as("n1"), max(col("b.n")).as("n2"))
      .withColumn("jaccard", col("c").cast("double") /
        (col("n1") + col("n2") - col("c")).cast("double"))
      .select(col("d1"), col("d2"), col("c").as("n_common"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("d1"), col("d2"))
      .limit(20)
    val got = Dedup.dd04(spark, dir)
    assert(got.collect().map(_.toSeq).toSeq ==
      expected.collect().map(_.toSeq).toSeq,
      "dd04 over the pruned layer != unpruned composition")
  }
}
