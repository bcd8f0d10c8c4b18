package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{ClfMargin, GraftFunctions}
import graft.operators.{Dedup, Sampling, TextAnalysis, TextFeatures}

/** The shared per-doc text-feature layer (round 15): pins
  *  (a) the `tok_hash131` scalar kernel ≡ [[ClfMargin.poly131]]
  *      (fixtures + fuzz, codegen on/off),
  *  (b) every layer-served query ≡ its pre-layer legacy form —
  *      dd01/dd05/sp03/ta12/ta13/ta14 — on an edge-case corpus (empty
  *      and whitespace-only docs, single tokens, unicode, exact-dup
  *      groups, repeated tokens/bigrams) AND on the real sf0.001
  *      corpus,
  *  (c) the ta13 weights-as-data swap contract survives the layer
  *      (swapped weight table changes scores identically on both
  *      paths), and
  *  (d) vocab dictionary invariants (bijective striped ids, feat
  *      column = poly131 mod ClfFeatDim).
  */
class DocFeatsSpec extends AnyFunSuite with SparkTestBase {

  private val fixtures = Seq(
    "", " ", "\t", " \t \n ",
    "single",
    "hello world hello world hello",
    "unicode café touché über naïve 世界 世界",
    "the of and to in is a the of the of",
    "MiXeD CaSe tokens mixed case TOKENS",
    "a b c d e f g a b c a b",
    "punct!!! lots, of; punct... (here) [ok]?",
    "1 22 333 4444 55555 1 22 333")

  private def withCodegen[T](on: Boolean)(f: => T): T = {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", on.toString)
    try f finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("tok_hash131 == ClfMargin.poly131 (fixtures + fuzz, codegen on/off)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(150)
    val alphabet = Seq("a", "Z", "9", "é", "世", "😀", ".", "_")
    val fuzz = (0 until 300).map(_ =>
      (0 until rnd.nextInt(12)).map(_ =>
        alphabet(rnd.nextInt(alphabet.size))).mkString)
    val toks = (fixtures.flatMap(_.split("\\s+")) ++ fuzz).distinct
    for (cg <- Seq(true, false)) withCodegen(cg) {
      val got = toks.toDF("tok")
        .select(col("tok"), call_function("tok_hash131", col("tok")).as("h"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      toks.foreach { t =>
        assert(got(t) == ClfMargin.poly131(t),
          s"tok_hash131 codegen=$cg tok=$t")
      }
    }
  }

  /** Edge-case corpus: every structural corner the layer must encode. */
  private lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_docfeats").toString
    val bodies = fixtures ++ Seq(
      "hello world hello world hello", // exact dup of fixture 6 → sig group
      "  hello world hello world hello  ", // normalizes INTO the group
      "tail" + "x" * 6 + " appears once only zq", // singleton tokens
      "\tedge tabs split\n" // tab/newline edges: empty split fields
    )
    val docs = bodies.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "u", t.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(3).write.parquet(s"$d/documents.parquet")
    d
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  private def pinPair(name: String,
      served: org.apache.spark.sql.DataFrame,
      legacy: org.apache.spark.sql.DataFrame): Unit = {
    assert(served.columns.toSeq == legacy.columns.toSeq,
      s"$name: column drift")
    assert(served.schema.map(_.dataType) == legacy.schema.map(_.dataType),
      s"$name: type drift")
    assert(rows(served) == rows(legacy), s"$name: layer-served != legacy")
  }

  test("edge corpus: every layer-served query equals its legacy form") {
    pinPair("dd01", Dedup.dd01(spark, dir), Dedup.dd01Legacy(spark, dir))
    pinPair("dd05", Dedup.dd05(spark, dir), Dedup.dd05Legacy(spark, dir))
    pinPair("sp03", Sampling.sp03(spark, dir),
      Sampling.sp03Over(Tables.documents(spark, dir)))
    pinPair("ta12", TextAnalysis.ta12(spark, dir),
      TextAnalysis.ta12Legacy(spark, dir))
    pinPair("ta13", TextAnalysis.ta13(spark, dir),
      TextAnalysis.ta13With(spark, dir, TextAnalysis.clfWeights(spark, dir)))
    pinPair("ta14", TextAnalysis.ta14(spark, dir),
      TextAnalysis.ta14Legacy(spark, dir))
  }

  test("edge corpus: r15-opt layer-served queries equal their legacy forms") {
    pinPair("ta09", TextAnalysis.ta09(spark, dir),
      TextAnalysis.ta09Legacy(spark, dir))
    pinPair("ta17", TextAnalysis.ta17(spark, dir),
      TextAnalysis.ta17With(spark, dir, TextAnalysis.bpeWords(spark, dir)))
    // ta18 and sp11 are deterministic functions of the per-doc BPE
    // counts relation; pinning the layered counts ≡ the kernel counts
    // covers the only input that changed for both
    pinPair("bpecnt", TextAnalysis.bpeDocCountsLayered(spark, dir),
      TextAnalysis.bpeDocCounts(spark, dir))
    pinPair("ta16", TextAnalysis.ta16(spark, dir),
      TextAnalysis.ta16With(spark, dir, TextAnalysis.vocabLayer(spark, dir)))
  }

  test("ta15 whitespace-only docs: layer path follows the declared oracle gate") {
    import org.apache.spark.sql.functions.sum
    // the edge corpus holds docs like "\t" and " \t \n " — zero
    // non-empty tokens. Both forms exclude them (the oracle's
    // n_tokens > 0 rule), so the size-gated dispatch cannot change rows.
    val served = TextAnalysis.ta15(spark, dir)
    pinPair("ta15", served, TextAnalysis.ta15Legacy(spark, dir))
    val realTokenDocs = TextFeatures.docFeats(spark, dir)
      .filter(col("n_tokens") > 0).count()
    assert(served.agg(sum("n_docs")).collect()(0).getLong(0) == realTokenDocs,
      "ta15 must count exactly the docs with ≥1 non-empty token")
    assert(spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").contains("\t") && trim(col("text")).rlike("^\\s+$"))
      .count() > 0,
      "edge corpus lost its whitespace-only docs with a tab — keep one")
  }

  test("sf0.001 corpus: every layer-served query equals its legacy form") {
    val d = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$d/documents.parquet").exists())
    pinPair("dd01", Dedup.dd01(spark, d), Dedup.dd01Legacy(spark, d))
    pinPair("dd05", Dedup.dd05(spark, d), Dedup.dd05Legacy(spark, d))
    pinPair("sp03", Sampling.sp03(spark, d),
      Sampling.sp03Over(Tables.documents(spark, d)))
    pinPair("ta12", TextAnalysis.ta12(spark, d),
      TextAnalysis.ta12Legacy(spark, d))
    pinPair("ta13", TextAnalysis.ta13(spark, d),
      TextAnalysis.ta13With(spark, d, TextAnalysis.clfWeights(spark, d)))
    pinPair("ta14", TextAnalysis.ta14(spark, d),
      TextAnalysis.ta14Legacy(spark, d))
    pinPair("ta09", TextAnalysis.ta09(spark, d),
      TextAnalysis.ta09Legacy(spark, d))
    pinPair("ta15", TextAnalysis.ta15(spark, d),
      TextAnalysis.ta15Legacy(spark, d))
    pinPair("ta17", TextAnalysis.ta17(spark, d),
      TextAnalysis.ta17With(spark, d, TextAnalysis.bpeWords(spark, d)))
    pinPair("bpecnt", TextAnalysis.bpeDocCountsLayered(spark, d),
      TextAnalysis.bpeDocCounts(spark, d))
    pinPair("ta16", TextAnalysis.ta16(spark, d),
      TextAnalysis.ta16With(spark, d, TextAnalysis.vocabLayer(spark, d)))
  }

  test("ta13 swap contract survives the layer: swapped weights, same plans") {
    import spark.implicits._
    // a deliberately different weight table (same schema/domain)
    val w2 = spark.range(0, TextAnalysis.ClfFeatDim.toLong)
      .select(col("id").cast("int").as("feature"),
        (col("id") % 7L * 100L - 300L).as("w_milli"))
    val swappedServed = TextAnalysis.ta13Layered(spark, dir, w2)
    val swappedLegacy = TextAnalysis.ta13With(spark, dir, w2)
    pinPair("ta13-swapped", swappedServed, swappedLegacy)
    // and the swap actually changed something vs the default weights
    val default = TextAnalysis.ta13(spark, dir)
    assert(rows(swappedServed.select("doc_id", "score")) !=
      rows(default.select("doc_id", "score")),
      "swapped weights produced identical scores — swap hook inert")
  }

  test("vocab invariants: bijective ids, feat = poly131 mod ClfFeatDim") {
    GraftFunctions.register(spark)
    val v = TextFeatures.vocab(spark, dir)
    val n = v.count()
    assert(n > 0)
    assert(v.select("tok").distinct().count() == n)
    assert(v.select("tok_id").distinct().count() == n, "striped ids collide")
    // stripe arithmetic: tok_id mod stripes recovers the stripe hash
    val badStripe = v.filter(
      pmod(col("tok_id").cast("long"), lit(TextFeatures.VocabStripes.toLong))
        =!= pmod(xxhash64(col("tok")), lit(TextFeatures.VocabStripes.toLong)))
      .count()
    assert(badStripe == 0L, "stripe arithmetic broken")
    val badFeat = v.filter(
      pmod(call_function("tok_hash131", col("tok")),
        lit(TextAnalysis.ClfFeatDim.toLong)).cast("int") =!= col("feat"))
      .count()
    assert(badFeat == 0L, "vocab feat column wrong")
  }

  test("docfeats layer: n_tokens/histograms consistent per doc") {
    val df = TextFeatures.docFeats(spark, dir)
    // n_tokens = |ids| = Σ uni.c = Σ clf.c, and empty docs round-trip
    val bad = df.filter(
      col("n_tokens") =!= size(col("ids")) ||
      col("n_tokens") =!= coalesce(
        aggregate(col("uni"), lit(0), (a, x) => a + x.getField("c")), lit(0)) ||
      col("n_tokens") =!= coalesce(
        aggregate(col("clf"), lit(0), (a, x) => a + x.getField("c")), lit(0)))
    assert(bad.count() == 0, "docfeats internal accounting broken")
    // the corpus has at least one zero-token doc and one dup group
    assert(df.filter(col("n_tokens") === 0).count() >= 2)
    assert(df.groupBy("sig").count().filter(col("count") >= 3).count() >= 1)
  }
}
