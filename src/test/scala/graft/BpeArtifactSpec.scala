package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Pins the COMMITTED model-scale BPE artifact (r11 verdict #2):
  * `artifacts/bpemerges_sf1_32k.parquet`, the real 32,768-merge table.
  * It was trained over the sf1.0 word dict
  * {{{
  * graft.functions.GraftFunctions.register(spark)
  * val words = spark.read.parquet("testdata/sf1.0/documents.parquet")
  *   .select(explode(call_function("tok_split", col("text"))).as("tok"))
  *   .filter(col("tok") =!= "")
  * TextAnalysis.bpeMergesBatched(spark, words, 32768, k = 64)
  * }}}
  * and the result written rank-ordered as one parquet part; its train
  * wall and SHA-256 are in SCALING.md round 12. The training main is
  * `git show deaae21:src/main/scala/graft/tools/BpeTrain32k.scala`.
  *
  * These are the properties a real tokenizer export must satisfy to
  * serve ta17/ta18/sp11 through the ta17With swap hook — shape, greedy
  * well-formedness, reconstruction, and fertility strictly better than
  * the 8-merge dev table's on the same corpus. */
class BpeArtifactSpec extends AnyFunSuite with SparkTestBase {

  private val artifactPath = "artifacts/bpemerges_sf1_32k.parquet"
  private val dir = "/root/testdata/sf0.001"

  private def artifact = {
    assert(new java.io.File(artifactPath).isFile,
      s"committed BPE artifact missing: $artifactPath (trained by " +
        "git show deaae21:src/main/scala/graft/tools/BpeTrain32k.scala)")
    spark.read.parquet(artifactPath)
  }

  private def wordDict =
    Tables.documents(spark, dir)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")

  test("artifact shape: 32768 contiguous ranks, well-formed merge rows") {
    val rows = artifact.orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.length == 32768)
    assert(rows.map(_._1).toSeq == (1L to 32768L))
    assert(rows.forall { case (_, l, r) => l.nonEmpty && r.nonEmpty })
    // each merge's surface is buildable from earlier symbols: every l/r
    // is a single char or an earlier merge's surface (the BPE layout
    // invariant id assignment depends on)
    val surfaces = scala.collection.mutable.HashSet.empty[String]
    for ((_, l, r) <- rows) {
      assert(l.codePointCount(0, l.length) == 1 || surfaces(l),
        s"left symbol '$l' is neither a char nor an earlier surface")
      assert(r.codePointCount(0, r.length) == 1 || surfaces(r),
        s"right symbol '$r' is neither a char nor an earlier surface")
      surfaces += (l + r)
    }
    // greedy training never re-learns a surface
    assert(surfaces.size == rows.length, "duplicate merge surface")
  }

  test("artifact encodes a foreign corpus dict: reconstruction + id bounds") {
    val words = wordDict.distinct()
    val lex = TextAnalysis.bpeWordsFrom(spark, words, artifact).collect()
    assert(lex.nonEmpty)
    val alphaSize = words
      .select(explode(regexp_extract_all(col("tok"), lit("."), lit(0))).as("s"))
      .distinct().count()
    for (r <- lex) {
      val (tok, subs, ids) =
        (r.getString(0), r.getSeq[String](1).toList, r.getSeq[Long](2).toList)
      assert(subs.mkString("") == tok, s"reconstruction failed for '$tok'")
      assert(ids.length == subs.length && r.getLong(3) == subs.length)
      assert(ids.forall(id => id >= 0 && id < alphaSize + 32768),
        s"id out of layout range for '$tok': $ids")
    }
  }

  test("model-scale vocab strictly beats the 8-merge dev table on fertility") {
    val words = wordDict.distinct()
    def totalSubs(lex: Array[org.apache.spark.sql.Row]): Long =
      lex.map(_.getLong(3)).sum
    val big = TextAnalysis.bpeWordsFrom(spark, words, artifact).collect()
    val dev = TextAnalysis.bpeWords(spark, dir).collect()
    assert(big.length == dev.length)
    assert(totalSubs(big) < totalSubs(dev),
      s"32k merges did not compress vs 8 merges: ${totalSubs(big)} >= ${totalSubs(dev)}")
    // and ta17 serves it through the swap hook with sane fertility
    val served = TextAnalysis.ta17With(spark, dir,
      TextAnalysis.bpeWordsFrom(spark, words, artifact)).collect()
    assert(served.nonEmpty)
    for (r <- served) {
      val fert = r.getDouble(r.fieldIndex("bpe_per_tok"))
      assert(fert >= 1.0 - 1e-12, s"fertility < 1 for doc ${r.getLong(0)}")
      assert(r.getString(r.fieldIndex("ids8")).nonEmpty)
    }
  }
}
