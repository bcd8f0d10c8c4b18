package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Multimodal}

/** Specs for the dedup/similarity operator plumbing that the driver's
  * DuckDB oracle can't isolate: the hot-bucket cap and the restructured
  * (no-explode) MinHash signature.
  */
class OperatorsSpec extends AnyFunSuite with SparkTestBase {

  test("argmax struct ordering: max-value row wins even 1e-9 apart with large ids") {
    import spark.implicits._
    // q05/q20 regression: the old packed key value*1e8 + event_id let the
    // id term dominate any value gap smaller than id_range/1e8 — here the
    // LOWER value carries a huge id and would have (wrongly) won
    val df = Seq(
      (1.000000001, 1L, "right"),
      (1.000000000, 999999999999L, "wrong")
    ).toDF("value", "event_id", "tag")
    val viaStruct = df.agg(
      max_by(col("tag"), struct(col("value"), col("event_id")))).head.getString(0)
    val viaPacked = df.agg(
      max_by(col("tag"), col("value") * 1e8 + col("event_id"))).head.getString(0)
    assert(viaStruct == "right")
    assert(viaPacked == "wrong") // documents exactly why the key changed
    // and on an exact value tie the id still splits it deterministically
    val tie = Seq((1.0, 1L, "low"), (1.0, 2L, "high")).toDF("value", "event_id", "tag")
    assert(tie.agg(max_by(col("tag"), struct(col("value"), col("event_id"))))
      .head.getString(0) == "high")
  }

  test("capPerKey keeps the cap lowest-ord members per key") {
    import spark.implicits._
    // key "hot" has 5 members, "cold" has 2; cap at 3
    val df = Seq(
      ("hot", 5L), ("hot", 3L), ("hot", 1L), ("hot", 4L), ("hot", 2L),
      ("cold", 10L), ("cold", 11L)
    ).toDF("k", "id")
    val kept = Dedup.capPerKey(df, Seq("k"), "id", 3)
      .groupBy("k").agg(sort_array(collect_list("id")).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(kept("hot") == Seq(1L, 2L, 3L))
    assert(kept("cold") == Seq(10L, 11L))
  }

  test("capPerKey bounds a skewed bucket's pair join") {
    import spark.implicits._
    val skewed = (1 to 50).map(i => ("b0", i.toLong)).toDF("k", "id")
    val capped = Dedup.capPerKey(skewed, Seq("k"), "id", 10)
    val pairs = capped.as("x").join(capped.as("y"),
      $"x.k" === $"y.k" && $"x.id" < $"y.id").count()
    assert(pairs == 45L) // 10*9/2, not 50*49/2
  }

  test("no-explode MinHash signature equals the explicit per-i minimum") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs today"),
      (3L, "the quick brown fox jumps over the lazy cat")
    ).toDF("doc_id", "text")
    val sig = Dedup.minhashSig(docs)
      .select("doc_id", "mh00", "mh07", "mh15")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    // recompute with the naive exploded form (the shape dd02 used to have)
    val P = 2147483647L
    val sh = Dedup.wordShingles(docs, 3)
      .withColumn("hh", Dedup.h60(col("s")) % P)
      .select(col("doc_id"), explode(sequence(lit(0), lit(15))).as("i"), col("hh"))
      .withColumn("mh", ((lit(1L) + col("i") * 604271L) * col("hh")
        + (lit(7L) + col("i") * 202409L)) % P)
      .groupBy("doc_id", "i").agg(min("mh").as("mh"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap

    for (d <- Seq(1L, 2L, 3L)) {
      assert(sig(d)._1 == sh((d, 0)), s"mh00 doc $d")
      assert(sig(d)._2 == sh((d, 7)), s"mh07 doc $d")
      assert(sig(d)._3 == sh((d, 15)), s"mh15 doc $d")
    }
  }

  test("connectedComponents: min-label fixpoint on chains, cliques, singleton pairs") {
    import spark.implicits._
    // components: {1,2,3,4} (a chain, diameter 3), {10,11,12} (triangle),
    // {20,21} (single edge); edge directions mixed on purpose
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (21L, 20L)
    ).toDF("d1", "d2")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> (1L, 4L), 2L -> (1L, 4L), 3L -> (1L, 4L), 4L -> (1L, 4L),
      10L -> (10L, 3L), 11L -> (10L, 3L), 12L -> (10L, 3L),
      20L -> (20L, 2L), 21L -> (20L, 2L)))
    // empty pair relation converges to an empty result, not an NPE
    assert(Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("d1", "d2"))
      .collect().isEmpty)
  }

  test("split assignment is a pure function of doc_id: stable across plans") {
    import graft.operators.Sampling
    val dir = "/root/testdata/sf0.001"
    val a = Sampling.sp01(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getAs[Int]("bucket"), r.getAs[String]("split"))).toMap
    // independent plan: recompute the bucket from the hash definition on a
    // repartitioned scan — a layout- or partitioning-sensitive assignment
    // (anything rand()-like) would diverge here
    val b = Tables.documents(spark, dir).repartition(17)
      .select(col("doc_id"),
        (Dedup.h60(concat(lit("split:"), col("doc_id"))) % 100L).cast("int").as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a.nonEmpty && a.keySet == b.keySet)
    a.foreach { case (id, (bucket, split)) =>
      assert(bucket == b(id), s"doc $id bucket")
      val expected = if (bucket < 90) "train" else if (bucket < 95) "val" else "test"
      assert(split == expected, s"doc $id split")
    }
    // every split non-empty at sf0.001, train largest
    val n = a.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(n.keySet == Set("train", "val", "test"))
    assert(n("train") > n("val") && n("train") > n("test"))
  }

  test("tokens_h60 kernel equals the HOF tokenize+md5 pipeline") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val docs = Seq(
      "The quick  Brown\tFox\njumps",   // mixed case, tabs/newlines, dup after lower
      "  leading and trailing   ",       // trim
      "",                                // empty text → single empty token
      "ÜNICÖDE ünicöde ß straße",        // non-ASCII lowercasing
      "one one one two"                  // distinct collapse
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = docs.selectExpr("doc_id", "tokens_h60(text) AS hs")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = docs.selectExpr("doc_id",
      """transform(
           array_distinct(split(lower(trim(text)), '\\s+')),
           w -> CAST(conv(substring(md5(CAST(w AS BINARY)), 1, 15), 16, 10) AS BIGINT)) AS hs""")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native == hof)
  }

  test("sp03 contamination flags only cross-split exact content collisions") {
    import spark.implicits._
    import graft.operators.Sampling
    // build a doc set where we KNOW the split buckets, then inject
    // content collisions across and within splits
    val base = (0L until 400L).map(i => (i, s"unique text $i", "en", "s", 10L))
    val df0 = base.toDF("doc_id", "text", "lang", "source", "n_chars")
    val buckets = Sampling.sp01Buckets(df0).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val trainIds = buckets.filter(_._2 < 90).keys.toSeq.sorted
    val evalIds = buckets.filter(_._2 >= 90).keys.toSeq.sorted
    assert(trainIds.nonEmpty && evalIds.size >= 2)
    // eval doc evalIds(0) duplicates a train doc (normalized: case+ws);
    // eval doc evalIds(1) duplicates ANOTHER EVAL doc only (no train hit)
    val docs = base.map { case (id, text, l, s0, n) =>
      val t =
        if (id == evalIds(0)) s"UNIQUE   Text ${trainIds.head}"
        else if (id == trainIds.head) s"unique text ${trainIds.head}"
        else if (evalIds.size > 2 && id == evalIds(1)) s"unique text ${evalIds(2)}"
        else text
      (id, t, l, s0, n)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.createOrReplaceTempView("spec_docs")
    val got = Sampling.sp03Over(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got.contains(evalIds(0)) && got(evalIds(0)) == trainIds.head)
    assert(!got.contains(evalIds(1))) // eval↔eval collision is NOT contamination
  }

  test("xlsx column references cross the AA boundary correctly") {
    assert(DiagXlsx.colRef(0) == "A" && DiagXlsx.colRef(25) == "Z")
    assert(DiagXlsx.colRef(26) == "AA" && DiagXlsx.colRef(27) == "AB")
    assert(DiagXlsx.colRef(51) == "AZ" && DiagXlsx.colRef(52) == "BA")
    assert(DiagXlsx.colRef(701) == "ZZ" && DiagXlsx.colRef(702) == "AAA")
  }

  test("PNG parser decodes a real-world 1x1 RGBA png") {
    // the canonical 67-byte 1x1 transparent PNG (not built by synthPayload)
    val png = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNk" +
        "YPhfDwAChwGA60e6kgAAAABJRU5ErkJggg==")
    val Some((w, h, ch, off)) = Multimodal.parsePng(png)
    assert((w, h, ch) == (1, 1, 4)) // colortype 6 = truecolour+alpha
    assert(off == 33)
    assert(Multimodal.parseJpeg(png).isEmpty)
  }

  test("JPEG parser scans past APP0 to the SOF0 frame header") {
    val bb = java.nio.ByteBuffer.allocate(2 + 18 + 13)
    bb.put(Array(0xFF, 0xD8).map(_.toByte)) // SOI
    bb.put(Array(0xFF, 0xE0).map(_.toByte)).putShort(16) // APP0, JFIF
    bb.put("JFIF".getBytes).put(new Array[Byte](10))
    bb.put(Array(0xFF, 0xC0).map(_.toByte)).putShort(11) // SOF0
    bb.put(8.toByte).putShort(2).putShort(3).put(1.toByte) // h=2 w=3 ncomp=1
    bb.put(new Array[Byte](3))
    val Some((w, h, ch, _)) = Multimodal.parseJpeg(bb.array())
    assert((w, h, ch) == (3, 2, 1))
    assert(Multimodal.parsePng(bb.array()).isEmpty)
  }

  test("histPercentiles equals the rank-window pick on tie-heavy random data") {
    import spark.implicits._
    import graft.operators.Relational
    val rnd = new scala.util.Random(42)
    // heavy ties (values 0..9) + a continuous tail, multiple group sizes
    val rows = (1 to 800).map { i =>
      val g = s"g${i % 3}"
      val v = if (i % 2 == 0) (rnd.nextInt(10)).toDouble else rnd.nextDouble() * 50
      (g, v, i.toLong)
    }.toDF("k", "value", "id")
    val qs = Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")

    val hist = Relational.histPercentiles(rows, Seq("k"), "value",
        floor, Relational.idxHalfUp, qs)
      .select("k", "n", "min_v", "p50", "p90", "p99", "max_v")
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap

    val byK = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
    val ranked = rows
      .withColumn("rn", row_number().over(byK.orderBy(col("value"), col("id"))))
      .withColumn("n", count(lit(1)).over(byK))
    def pick(q: Double): org.apache.spark.sql.Column =
      max(when(col("rn") === Relational.idxHalfUp(col("n"), q), col("value")))
    val win = ranked.groupBy(col("k"), col("n")).agg(
      min(col("value")).as("min_v"),
      pick(0.5).as("p50"), pick(0.9).as("p90"), pick(0.99).as("p99"),
      max(col("value")).as("max_v"))
      .select("k", "n", "min_v", "p50", "p90", "p99", "max_v")
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap

    assert(hist == win)
  }

  test("JPEG parser returns None on truncated bytes instead of crashing") {
    // truncated exactly at the SOF component-count byte
    val atNcomp = Array(0xFF, 0xD8, 0xFF, 0xC0, 0x00, 0x05, 0x08, 0x00,
      0x02, 0x00, 0x01).map(_.toByte)
    assert(Multimodal.parseJpeg(atNcomp).isEmpty)
    // fill bytes running off the end of the array
    val fillRunoff = Array(0xFF, 0xD8, 0xFF, 0xFF, 0xFF, 0xFF).map(_.toByte)
    assert(Multimodal.parseJpeg(fillRunoff).isEmpty)
  }

  test("synthPayload round-trips through the byte-level parsers") {
    for (id <- 0L to 5L) {
      val p = Multimodal.synthPayload(id, "hello media world", 17L)
      val parsed = if (id % 2 == 0) Multimodal.parsePng(p) else Multimodal.parseJpeg(p)
      val Some((w, h, ch, off)) = parsed
      assert(w == (17 * 7 % 1920 + 1) && h == (17 * 13 % 1080 + 1))
      assert(ch == Array(1, 3, 4)((id % 3).toInt))
      assert(new String(p.drop(off), "UTF-8") == "hello media world")
    }
  }

  test("q05/q20: NULL event_type is its own __NULL__ group — not dropped, not merged with __ALL__") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nullgrp").toString
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val ts1 = java.sql.Timestamp.valueOf("2026-01-01 01:00:00")
    Seq(
      (1L, ts0, 1L, Option("click"), 10.0, "{}"),
      (2L, ts1, 2L, Option.empty[String], 99.0, "{}"),
      (3L, ts1, 3L, Option("view"), 30.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val q5 = graft.operators.Relational.q05(spark, dir).collect()
    assert(q5.map(_.getString(0)).toSeq ==
      Seq("__ALL__", "__NULL__", "click", "view"))
    assert(q5.find(_.getString(0) == "__ALL__").get.getLong(1) == 3L)
    val nul = q5.find(_.getString(0) == "__NULL__").get
    assert(nul.getLong(1) == 1L)
    assert(nul.getTimestamp(4) == ts1) // argmax sees the NULL group's own max
    val q20 = graft.operators.Relational.q20(spark, dir).collect()
    val grpNames = q20.filter(_.getString(0) == "grp").map(_.getString(1)).toSeq
    assert(grpNames.sorted == Seq("__NULL__", "click", "view"))
    assert(q20.exists(r => r.getString(0) == "sub" &&
      r.getString(1).startsWith("__NULL__#")))
    // the 'all' level still counts every event exactly once
    assert(q20.find(_.getString(0) == "all").get.getLong(2) == 3L)
  }

  test("ta06: scan predicate ⟺ kernel-null on whitespace/one-token edge docs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ta06").toString
    Seq(
      (1L, "a b a", "en", "u", 5L),
      (2L, "solo", "en", "u", 4L),        // one token → no bigrams
      (3L, " \t \n ", "en", "u", 6L),     // whitespace only → no tokens
      (4L, "x\ty", "en", "u", 3L),        // tab separator still two tokens
      (5L, "", "en", "u", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextAnalysis.ta06(spark, dir).collect()
    // the cheap rlike("\\S\\s+\\S") predicate must drop EXACTLY the docs
    // whose ngram_stats would be NULL — 2, 3, 5 here
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 4L))
    val d1 = out(0)
    assert(d1.getLong(1) == 2L && d1.getLong(2) == 2L) // "a b","b a"
    assert(d1.getString(4) == "a b")
  }

  test("ta07: planted + in-text PII all counted, redaction re-scan is clean") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ta07").toString
    Seq(
      (0L, "", "en", "u", 0L),                       // planting alone: 2 emails (0%3==0), 1 ip, 1 phone
      (1L, "plain words only", "en", "u", 16L),      // 1 email, 1 ip, 1 phone
      (6L, "mail bob.smith+x@site.org from 1.2.3.4 call 555-111-2222", "en", "u", 56L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextAnalysis.ta07(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 6L))
    def row(id: Long) = out.find(_.getLong(0) == id).get
    assert((row(0).getInt(1), row(0).getInt(2), row(0).getInt(3), row(0).getInt(4)) == ((2, 1, 1, 4)))
    assert((row(1).getInt(1), row(1).getInt(2), row(1).getInt(3), row(1).getInt(4)) == ((1, 1, 1, 3)))
    // doc 6: text PII adds on top of the planted spans (and 6%3==0 adds the cc email)
    assert((row(6).getInt(1), row(6).getInt(2), row(6).getInt(3), row(6).getInt(4)) == ((3, 2, 2, 7)))
    // redaction removed every span: no raw @ survives, re-scan audit is 1
    out.foreach { r =>
      assert(!r.getString(5).contains("@"), s"doc ${r.getLong(0)} leaked: ${r.getString(5)}")
      assert(r.getInt(6) == 1)
    }
  }

  test("sp06: greedy pack respects cap, resets per lang, emits bin totals from the fold") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sp06").toString
    def words(k: Int) = Seq.fill(k)("w").mkString(" ")
    Seq(
      (1L, words(100), "en", "u", 0L),  // en seq0: 100
      (2L, words(100), "en", "u", 0L),  // en seq0: 200
      (3L, words(56), "en", "u", 0L),   // en seq0: 256 — exact boundary stays
      (4L, words(1), "en", "u", 0L),    // 257 > cap → en seq1: 1
      (5L, "", "en", "u", 0L),          // 0 tokens joins the open bin
      (6L, words(300), "en", "u", 0L),  // oversize → en seq2, alone
      (7L, words(10), "de", "u", 0L),   // lang change → de seq0
      (8L, words(250), "de", "u", 0L))  // 260 > cap → de seq1
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Sampling.sp06(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq == (1L to 8L))
    // (doc_id, seq_id, seq_tokens, n_in_seq)
    val got = out.map(r => (r.getLong(0), r.getInt(4), r.getLong(5), r.getInt(6))).toSeq
    assert(got == Seq(
      (1L, 0, 256L, 3), (2L, 0, 256L, 3), (3L, 0, 256L, 3),
      (4L, 1, 1L, 2), (5L, 1, 1L, 2),
      (6L, 2, 300L, 1),
      (7L, 0, 10L, 1), (8L, 1, 250L, 1)))
    // every doc lands in exactly one bin
    assert(out.map(_.getInt(3)).sum == 100 + 100 + 56 + 1 + 0 + 300 + 10 + 250)
  }

  test("ta08: each gate rule fires, in priority order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ta08").toString
    val short = "one two three"
    val noLang = "zz yy xx ww vv uu tt ss rr qq pp"          // 11 tokens, 0 stop hits
    val repet = Seq.fill(10)("the cat").mkString(" ")        // dup_frac 17/19
    val lowQ = "the alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    val keeper = (1 to 60).map(i => s"the w$i").mkString(" ") // 120 tokens, dup 0, stop-rich
    Seq(
      (1L, short, "en", "u", short.length.toLong),
      (2L, noLang, "en", "u", noLang.length.toLong),
      (3L, repet, "en", "u", repet.length.toLong),
      (4L, lowQ, "en", "u", lowQ.length.toLong),
      (5L, keeper, "en", "u", keeper.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextAnalysis.ta08(spark, dir).collect()
    val reasons = out.map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(reasons == Map(1L -> "too_short", 2L -> "no_lang_signal",
      3L -> "repetitive", 4L -> "low_quality", 5L -> "keep"))
    assert(out.map(_.getInt(6)).toSeq == Seq(0, 0, 0, 0, 1))
    // priority: the repetitive doc ALSO scores low — rule 3 wins over 4
    assert(out.find(_.getLong(0) == 3L).get.getDouble(3) > 0.3)
  }

  test("ta09: rarity matches a reference fold; head tokens score via broadcast") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ta09").toString
    val texts = Map(
      1L -> "the the the rare1",
      2L -> "the unique2",
      3L -> "the the zz zz",
      // 1200 "the" pushes it over RarityHeadCut -> the broadcast head
      // branch must produce these rows, not the shuffle tail
      4L -> Seq.fill(1200)("the").mkString(" "))
    texts.toSeq.map { case (id, t) => (id, t, "en", "u", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // reference fold with the same grid arithmetic
    val toks = texts.map { case (id, t) =>
      id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }
    val cnt = toks.values.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(cnt("the") > graft.operators.TextAnalysis.RarityHeadCut)
    val out = graft.operators.TextAnalysis.ta09(spark, dir).collect()
    assert(out.length == 4)
    for (r <- out) {
      val ts = toks(r.getLong(0))
      assert(r.getLong(1) == ts.size)                          // n_tokens
      assert(r.getLong(2) == ts.count(t => cnt(t) == 1))       // n_hapax
      assert(r.getDouble(3) == ts.map(cnt(_).toLong).sum.toDouble / ts.size)
      val grid = ts.map(t => math.floor(1.0 / cnt(t) * 1e9 + 0.5).toLong).sum
      assert(r.getDouble(4) == grid.toDouble / 1e9 / ts.size)  // rarity
    }
  }

  test("ta12: cross-entropy matches a reference fold; ppl = 2^xent on the grid") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ta12").toString
    val texts = Map(
      1L -> "the the the rare1",
      2L -> "the unique2",
      3L -> "the the zz zz",
      // head token over RarityHeadCut -> broadcast branch must carry it
      4L -> Seq.fill(1200)("the").mkString(" "),
      5L -> "")
    texts.toSeq.map { case (id, t) => (id, t, "en", "u", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val toks = texts.map { case (id, t) =>
      id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }
    val cnt = toks.values.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    val nTot = toks.values.map(_.size).sum
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    val out = graft.operators.TextAnalysis.ta12(spark, dir).collect()
    // the zero-token doc has no LM terms and is excluded, like ta09
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    for (r <- out) {
      val ts = toks(r.getLong(0))
      assert(r.getLong(1) == ts.size) // n_tokens
      val grid = ts.map(t =>
        math.floor((lg2(nTot.toDouble) - lg2(cnt(t).toDouble)) * 1e9 + 0.5).toLong).sum
      val xent = grid.toDouble / 1e9 / ts.size
      assert(r.getDouble(2) == xent)
      assert(r.getDouble(3) ==
        math.floor(math.pow(2.0, xent) * 1e6 + 0.5) / 1e6) // ppl
    }
    // all-head doc: every token is the corpus's most common -> lowest
    // xent; the hapax-heavy doc 2 is the most surprising per token
    val byDoc = out.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(byDoc(4L) == byDoc.values.min && byDoc(2L) == byDoc.values.max)
  }

  test("ta13: margin folds exact integer weight-millis; sigmoid on the grid") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ta13").toString
    val texts = Map(
      1L -> "Hello   world",   // multi-space: empty tokens must not count
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "",                // no tokens -> excluded
      4L -> "zzz")
    texts.toSeq.map { case (id, t) => (id, t, "en", "u", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def h60(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val out = graft.operators.TextAnalysis.ta13(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    // the weight TABLE's fixture formula: feature-hash the token
    // (poly131, the r10 cheap hash — the table itself stays md5-keyed),
    // then hash the feature id —
    // w(tok) = h60(str(poly131(tok) mod D)) mod 2001 − 1000
    def w(tok: String): Long =
      h60((graft.functions.ClfMargin.poly131(tok) %
        graft.operators.TextAnalysis.ClfFeatDim).toString) % 2001L - 1000L
    for (r <- out) {
      val ts = texts(r.getLong(0)).toLowerCase.split("\\s+").filter(_.nonEmpty)
      assert(r.getInt(1) == ts.length) // n_tokens
      val milli = ts.map(w).sum
      val margin = (milli.toDouble / 1000.0) / ts.length
      assert(r.getDouble(2) == margin)
      val sig = 1.0 / (1.0 + math.exp(-margin))
      val g = (if (sig >= 0) math.floor(sig * 1e9 + 0.5)
               else math.ceil(sig * 1e9 - 0.5)).toLong
      assert(r.getDouble(3) == g.toDouble / 1e9)       // score
      assert(r.getInt(4) == (if (g.toDouble / 1e9 >= 0.5) 1 else 0))
    }

    // weights-as-data (r8 verdict #2): swapping the table provably
    // changes scores under an IDENTICAL plan — i.e. a real fastText
    // export deploys as a table drop-in, no code change
    import org.apache.spark.sql.functions.{col, lit}
    val allPos = spark.range(0, graft.operators.TextAnalysis.ClfFeatDim.toLong)
      .select(col("id").cast("int").as("feature"), lit(500L).as("w_milli"))
    val swapped = graft.operators.TextAnalysis.ta13With(spark, dir, allPos)
    val sout = swapped.collect()
    // uniform +0.5 weight: every doc's margin is exactly 0.5, keep = 1
    assert(sout.forall(r => r.getDouble(2) == 0.5 && r.getInt(4) == 1))
    assert(sout.map(_.getDouble(3)).toSet != out.map(_.getDouble(3)).toSet)
    // the plan is byte-for-byte the same shape: zero shuffles, no join —
    // the weight table lives inside the plan as a literal. Fresh
    // DataFrames: after an action AQE folds exchanges into leaf query
    // stages and the census would undercount.
    for (df <- Seq(graft.operators.TextAnalysis.ta13(spark, dir),
                   graft.operators.TextAnalysis.ta13With(spark, dir, allPos))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Join"), "ta13 serving must not join")
      assert(PlanAudit.exchangeCount(df) == 1) // presentation sort only
    }
  }

  test("ta14: bigram LM folds pruned-bigram and backoff terms exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ta14").toString
    // "a b" occurs 3× (survives the min-count-2 prune), "b c" once
    // (pruned -> backoff), singles exercise the first-token-only path
    val texts = Map(
      1L -> "a b c",            // first "a" + bigram (a,b) + backoff (b,c)
      2L -> "a b",              // first + matched bigram
      3L -> "a b",              // first + matched bigram
      4L -> "zzz",              // first-token-only
      5L -> "")                 // excluded
    texts.toSeq.map { case (id, t) => (id, t, "en", "u", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.operators.DedupPrepare.invalidate(dir)
    val toks = texts.map { case (id, t) =>
      id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }
    val cnt = toks.values.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    val nTot = toks.values.map(_.size).sum // 9
    val bgCnt = toks.values.filter(_.size >= 2)
      .flatMap(ts => ts.zip(ts.tail)).groupBy(identity)
      .map { case (k, v) => k -> v.size }
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    def grid(x: Double) = (if (x >= 0) math.floor(x * 1e9 + 0.5)
                           else math.ceil(x * 1e9 - 0.5)).toLong
    val out = graft.operators.TextAnalysis.ta14(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    for (r <- out) {
      val ts = toks(r.getLong(0))
      val terms = grid(lg2(nTot.toDouble) - lg2(cnt(ts.head).toDouble)) +:
        ts.zip(ts.tail).map { case (t1, t2) =>
          if (bgCnt((t1, t2)) >= 2)
            grid(lg2(cnt(t1).toDouble) - lg2(bgCnt((t1, t2)).toDouble))
          else grid(lg2(nTot.toDouble) - lg2(0.4 * cnt(t2).toDouble))
        }
      assert(r.getLong(1) == ts.size)                   // n_tokens
      assert(r.getLong(2) == ts.zip(ts.tail).count(p => bgCnt(p) >= 2))
      assert(r.getLong(3) == ts.zip(ts.tail).count(p => bgCnt(p) < 2))
      val xent = terms.sum.toDouble / 1e9 / ts.size
      assert(r.getDouble(4) == xent)
      assert(r.getDouble(5) == math.floor(math.pow(2.0, xent) * 1e6 + 0.5) / 1e6)
    }
    // the matched bigram (a,b) costs log2(c(a)) - log2(c(a,b)) =
    // log2(3) - log2(3) = 0 bits: docs 2/3 score first-token cost only
    val d2 = out.find(_.getLong(0) == 2L).get
    assert(d2.getDouble(4) ==
      grid(lg2(nTot.toDouble) - lg2(3.0)).toDouble / 1e9 / 2)

    // weights-as-data (ta13's contract on the LM tables): a swapped
    // model — every per-token cost forced to exactly 2 bits — changes
    // scores with the same plan, i.e. a trained KenLM export quantized
    // to the grid drops into the two tables without a code change
    val g2 = 2L * 1000000000L
    val upSwap = cnt.keys.toSeq.map(t => (t, cnt(t).toLong, g2, g2))
      .toDF("tok", "c", "g_uni", "g_back")
    val bpSwap = Seq(("a", "b", g2)).toDF("t1", "t2", "g")
    val sout = graft.operators.TextAnalysis.ta14With(spark, dir, upSwap, bpSwap)
      .collect()
    // every term costs 2.0 bits -> xent 2.0, ppl 4.0 for every doc
    assert(sout.nonEmpty)
    assert(sout.forall(r => r.getDouble(4) == 2.0 && r.getDouble(5) == 4.0))
    // ...and the SHIPPED partial-aggregate plan serves the same swapped
    // model identically (the swap-hook contract carries to the r12 plan)
    val pout = graft.operators.TextAnalysis
      .ta14PartialWith(spark, dir, upSwap, bpSwap).collect()
    assert(pout.toSeq == sout.toSeq)
  }

  test("ta14 partial-aggregate plan == sharing-point plan, all head branches") {
    // the r12 adoption's parity pin: the per-branch partial-aggregate
    // form (shipped as ta14) is bit-identical to the repartition-sharing
    // reference form under (a) no head, (b) a PARTIAL head (misses probe
    // the full model), (c) a covers-all head (shuffle branch elided) —
    // on a fuzz corpus big enough that every branch carries rows
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ta14par").toString
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "ffff", "g", "hi", "jj", "klm")
    val texts = (1L to 120L).map { id =>
      val n = 1 + rnd.nextInt(12)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "),
        "en", "u", n.toLong)
    }
    texts.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.operators.DedupPrepare.invalidate(dir)
    val ta = graft.operators.TextAnalysis
    val up = ta.uniProb(spark, dir)
    val bp = ta.bigramProb(spark, dir).persist()
    assert(bp.count() >= 4, "fixture must learn several bigrams")
    // a partial head: half the model rows (so real head MISSES exist)
    val half = bp.orderBy(col("c12").desc, col("t1"), col("t2"))
      .limit((bp.count() / 2).toInt).select("t1", "t2", "g")
    for (head <- Seq(None, Some((half, false)), Some((bp.select("t1", "t2", "g"), true)))) {
      val ref = ta.ta14With(spark, dir, up, bp, head)
      val got = ta.ta14PartialWith(spark, dir, up, bp, head)
      assert(got.columns.toSeq == ref.columns.toSeq)
      assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0,
        s"partial != sharing under head=$head")
    }
    bp.unpersist()
  }

  test("mm05: decoded dHash equals the closed form; mod-768 twins dedup") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mm05").toString
    // doc 770 ≡ 2 (mod 768): same additive pixel offset (docId*31 mod
    // 256), same colorType (mod 3) — with equal n_chars the IMAGES are
    // byte-identical, so their perceptual hashes must collide
    val docs = Seq(2L -> "aaaa", 770L -> "bbbb", 4L -> "ccccccccc", 7L -> "odd")
    docs.map { case (id, t) => (id, t, "en", "u", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Multimodal.mm05(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 4L, 7L, 770L)) // r9: JPEGs too
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(770L).getLong(3) == 2L && byId(770L).getInt(5) == 1) // keeper, is_dup
    assert(byId(2L).getLong(4) == 2L && byId(2L).getInt(5) == 0)     // group_n
    // independent closed-form dHash (no decode): pins decode -> formula.
    // PNG (even ids): per-pixel formula over min(nc,3) channels; JPEG
    // (odd ids): per-8×8-block formula through the fixed-point RGB
    // transform for 3-component streams
    def clamp(v: Int) = math.max(0, math.min(255, v))
    for ((id, t) <- docs) {
      val n = t.length.toLong
      val w = (n * 7 % 12 + 4).toInt
      val h = (n * 13 % 12 + 4).toInt
      def lum(x: Int, y: Int): Int =
        if (id % 2 == 0) {
          val nc = Array(1, 3, 4)((id % 3).toInt)
          val cmin = math.min(nc, 3)
          (0 until cmin).map(c => ((id * 31 + x * 7 + y * 13 + c * 5) % 256).toInt)
            .sum / cmin
        } else {
          def jv(c: Int) = ((id * 31 + (x / 8) * 7 + (y / 8) * 13 + c * 5) % 256).toInt
          if (id % 3 == 0) jv(0)
          else {
            val (yv, cb, cr) = (jv(0), jv(1), jv(2))
            val r = clamp(yv + Math.floorDiv(91881 * (cr - 128) + 32768, 65536))
            val g = clamp(yv - Math.floorDiv(22554 * (cb - 128) + 46802 * (cr - 128) + 32768, 65536))
            val b = clamp(yv + Math.floorDiv(116130 * (cb - 128) + 32768, 65536))
            (r + g + b) / 3
          }
        }
      var lo = 0L
      var hi = 0L
      for (j <- 0 until 8; i <- 0 until 8) {
        val y = j * h / 8
        val b = if (lum((i + 1) * w / 9, y) > lum(i * w / 9, y)) 1L else 0L
        if (j < 4) lo |= b << (j * 8 + i) else hi |= b << ((j - 4) * 8 + i)
      }
      assert(byId(id).getLong(1) == hi && byId(id).getLong(2) == lo,
        s"dHash mismatch for doc $id")
    }
  }

  test("cp04: batch probes corpus indexes — exact > neardup > ingest") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cp04").toString
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      // corpus (doc_id % 10 != 7)
      1L -> base,
      2L -> ((1 to 50).map(i => s"alpha$i").mkString(" ")),
      3L -> "a short unrelated corpus doc",
      // batch (doc_id % 10 == 7)
      7L -> ("  " + base.toUpperCase + "  "), // normalizes to doc 1 -> exact
      17L -> ((1 to 50).map(i => s"alpha$i").mkString(" ") + " extra"), // near-dup of 2
      27L -> "completely fresh crawl content never seen before")
    docs.map { case (id, t) => (id, t, "en", "u", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Curation.cp04(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(7L, 17L, 27L)) // batch only
    val byId = out.map(r => r.getLong(0) ->
      (r.getString(4), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(byId(7L) == ("drop_exact", 1L))
    assert(byId(17L) == ("drop_neardup", 2L))
    assert(byId(27L) == ("ingest", -1L))
    // the near-dup went through the band probe, not the sig manifest
    val r17 = out.find(_.getLong(0) == 17L).get
    assert(r17.getLong(1) >= 1L && r17.getLong(2) >= 1L) // n_cand, n_near
    val r27 = out.find(_.getLong(0) == 27L).get
    assert(r27.getLong(1) == 0L && r27.getLong(2) == 0L)
  }

  test("sp07: binding language keeps all, others derate; weight-0 lang drops") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sp07").toString
    val docs = (1 to 8).map(i => (i.toLong, "en")) ++
      (9 to 11).map(i => (i.toLong, "de")) ++
      Seq((12L, "fr"), (13L, "fr"), (14L, "es"), (15L, "xx"))
    docs.map { case (id, l) => (id, s"text $id", l, "u", 7L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // n/w: en 8/40=.2, de 3/30=.1, fr 2/20=.1, es 1/10=.1 -> scale .1
    val out = graft.operators.Sampling.sp07(spark, dir).collect()
    val byLang = out.map(r => r.getString(0) -> r).toMap
    assert(byLang.keySet == Set("en", "de", "fr", "es", "xx"))
    assert(byLang("en").getDouble(3) == 0.5)
    for (l <- Seq("de", "fr", "es")) assert(byLang(l).getDouble(3) == 1.0)
    assert(byLang("xx").getDouble(3) == 0.0 && byLang("xx").getLong(4) == 0L)
    assert(byLang("de").getLong(4) == 3L && byLang("fr").getLong(4) == 2L &&
      byLang("es").getLong(4) == 1L)                   // rate-1 langs keep all
    assert(byLang("en").getLong(4) <= 8L)
    val total = out.map(_.getLong(4)).sum.toDouble
    assert(out.map(_.getDouble(5)).sum == out.map(_.getLong(4).toDouble / total).sum)
    // deterministic: a re-run reproduces the decision bit-for-bit
    assert(graft.operators.Sampling.sp07(spark, dir).collect().toSeq ==
      out.toSeq)
  }

  test("sp10: temperature flattens shares; binding source keeps all; exact micro-weights") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sp10").toString
    // heavily skewed sources: A 100 docs, B 50, C 10 (N=160)
    val docs = (1 to 100).map(i => (i.toLong, "srcA")) ++
      (101 to 150).map(i => (i.toLong, "srcB")) ++
      (151 to 160).map(i => (i.toLong, "srcC"))
    docs.map { case (id, src) => (id, s"text $id", "en", src, 7L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Sampling.sp10(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("srcA", "srcB", "srcC"))
    // micro-weights: exactly floor(p^tau * 1e6 + .5) of the observed share
    val n = Map("srcA" -> 100L, "srcB" -> 50L, "srcC" -> 10L)
    val w = n.map { case (s, c) =>
      s -> math.floor(math.pow(c.toDouble / 160.0,
        graft.operators.Sampling.MixTemperature) * 1e6 + 0.5).toLong }
    for ((s, r) <- out) {
      assert(r.getLong(1) == n(s))
      assert(r.getDouble(2) == n(s).toDouble / 160.0)  // p_obs
      assert(r.getLong(3) == w(s))                     // w_micro
    }
    // binding source = argmin(n/w); under tau < 1, n/w ∝ n^(1-tau)
    // grows with n, so the TAIL source binds and keeps everything at
    // rate exactly 1 while the head sources derate — the flattening
    val binding = n.keys.minBy(s => n(s).toDouble / w(s).toDouble)
    assert(binding == "srcC")
    assert(out(binding).getDouble(5) == 1.0)
    assert(out(binding).getLong(6) == n(binding)) // rate-1 source keeps all
    // tau < 1 flattens: target ratios are compressed vs observed ratios
    val tsA = out("srcA").getDouble(4); val tsC = out("srcC").getDouble(4)
    assert(tsA / tsC < (100.0 / 10.0) && tsA / tsC > 1.0)
    // every source's achieved share sums to 1 and kept <= n
    assert(out.values.forall(r => r.getLong(6) <= r.getLong(1)))
    assert(math.abs(out.values.map(_.getDouble(7)).sum - 1.0) < 1e-12)
    // deterministic: a re-run reproduces the decision bit-for-bit
    assert(graft.operators.Sampling.sp10(spark, dir).collect().toSeq ==
      out.values.toSeq.sortBy(_.getString(0)))
  }

  test("ta15: log2 buckets are integer-exact at power-of-two boundaries") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ta15").toString
    // token counts 1,2,3,8 hit bucket 0 / 1 / 1 / 3 — 8 is the classic
    // floor(log2) libm trap (2.999... vs 3.0); empty doc must drop
    val docs = Seq(
      (1L, "a", "en"), (2L, "a b", "en"), (3L, "a b c", "en"),
      (4L, (1 to 8).map(i => s"t$i").mkString(" "), "en"),
      (5L, "", "en"), (6L, "x y z w", "de"))
    docs.map { case (id, t, l) => (id, t, l, "u", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextAnalysis.ta15(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    assert(out.keySet == Set(("en", 0), ("en", 1), ("en", 3), ("de", 2)))
    assert(out(("en", 0)).getLong(2) == 1L && out(("en", 3)).getLong(2) == 8L)
    assert(out(("en", 1)).getLong(3) == 2L)  // docs 2 and 3
    assert(out(("en", 1)).getLong(4) == 5L)  // 2 + 3 tokens
    // en total 14 tokens: shares and the cumulative mass are exact
    assert(out(("en", 0)).getDouble(5) == 1.0 / 4.0)  // doc_share (4 en docs)
    assert(out(("en", 1)).getDouble(6) == 5.0 / 14.0)
    assert(out(("en", 3)).getDouble(7) == 1.0)        // last bucket cum = all
    assert(out(("en", 1)).getDouble(7) == 6.0 / 14.0) // 1 + 5 of 14
    assert(out(("de", 2)).getDouble(7) == 1.0)
  }

  test("dd13: containment 1.0 for a wrapped doc where Jaccard < 1; exact counts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dd13").toString
    // doc 2 = doc 1's text REPEATED: its distinct 3-shingle set is doc
    // 1's 18 shingles plus exactly the 2 wrap-around shingles at the
    // repeat boundary — a strict superset, so containment is exactly 1
    // while Jaccard is 18/20. The near-identical sets co-bucket in the
    // LSH bands (the 2 extra shingles rarely displace a band's mins —
    // fixed fixture, deterministic). Docs 3/4 are exact duplicates:
    // containment AND Jaccard exactly 1.
    val a = (1 to 20).map(i => f"tok$i%02d").mkString(" ")
    val docs = Seq((1L, a), (2L, a + " " + a), (3L, "alpha beta gamma delta"),
      (4L, "alpha beta gamma delta"))
    docs.map { case (id, t) => (id, t, "en", "u", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Dedup.dd13(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(out.contains((1L, 2L)) && out.contains((3L, 4L)))
    val w = out((1L, 2L))
    assert(w.getLong(2) == 18L && w.getLong(3) == 18L && w.getLong(4) == 20L)
    assert(w.getDouble(5) == 1.0)          // containment: A wholly inside B
    assert(w.getDouble(6) == 18.0 / 20.0)  // Jaccard sees the size gap
    assert(w.getLong(7) == 1L)             // the smaller doc is the contained one
    val e = out((3L, 4L))
    assert(e.getDouble(5) == 1.0 && e.getDouble(6) == 1.0)
    // ordering: containment desc, then (d1, d2)
    val top = graft.operators.Dedup.dd13(spark, dir).collect().map(_.getDouble(5))
    assert(top.sameElements(top.sorted(Ordering[Double].reverse)))
  }

  test("ss08: radius semantics — theta floor, no dup pairs, consistent with ss04") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.operators.Similarity.ss08(spark, dir).collect()
    val theta = graft.operators.Similarity.RangeTheta
    assert(out.nonEmpty)
    assert(out.forall(_.getDouble(2) >= theta))
    // each (query, neighbor) exactly once, and n_in_range is the group size
    val pairs = out.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length)
    val sizes = out.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(out.forall(r => r.getLong(3) == sizes(r.getLong(0)).toLong))
    // same routing + capped membership as ss04 (nprobe=2): every top-5
    // neighbor ss04 scores at >= theta must be IN the radius result
    // with the identical grid-exact cosine
    val rangeSet = out.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val knn = graft.operators.Similarity.ss04(spark, dir).collect()
      .filter(_.getAs[Double]("cosine") >= theta)
    assert(knn.nonEmpty) // the fixture produces in-radius top-k rows
    for (r <- knn) {
      val k = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(rangeSet.get(k).contains(r.getAs[Double]("cosine")), s"missing $k")
    }
  }

  test("ta10: diagnostics match a hand-computed corpus; top-100 ties break by token") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ta10").toString
    // en: tokens = [a a a b b c], vocab 3, hapax {c}, top100 covers all
    // de: 102 distinct tokens once each + "x" 5 times -> top100 excludes
    //     exactly the 2 lexicographically-last of the once-tokens
    val deToks = (1 to 102).map(i => f"t$i%03d") ++ Seq.fill(5)("x")
    Seq((1L, "a a a b b", "en"), (2L, "c", "en"),
        (3L, deToks.mkString(" "), "de"))
      .map { case (id, t, l) => (id, t, l, "u", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextAnalysis.ta10(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val en = out("en")
    assert(en.getLong(1) == 2 && en.getLong(2) == 6 && en.getLong(3) == 3)
    assert(en.getDouble(4) == 3.0 / 6.0)       // ttr
    assert(en.getDouble(5) == 1.0 / 3.0)       // hapax_share (c)
    assert(en.getDouble(6) == 1.0)             // 3 types <= 100 -> full coverage
    val de = out("de")
    assert(de.getLong(2) == 107 && de.getLong(3) == 103)
    // top100 = x(5) + 99 once-tokens (t001..t099; t100..t102 lose the tie)
    assert(de.getDouble(6) == (5.0 + 99.0) / 107.0)
    assert(de.getDouble(5) == 102.0 / 103.0)
  }

  test("sp09: only over-cap sources derate; boundary is exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft_sp09").toString
    // 100 docs: srcBig owns 40 (over the 10% cap of 10), six small
    // sources own exactly 10 each (AT cap — the boundary keeps all)
    val docs = (1 to 40).map(i => (i.toLong, "srcBig")) ++
      (41 to 100).map(i => (i.toLong, s"src${(i - 41) / 10}"))
    docs.map { case (id, src) => (id, s"text $id", "en", src, 7L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Sampling.sp09(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet ==
      Set("srcBig", "src0", "src1", "src2", "src3", "src4", "src5"))
    val big = out("srcBig")
    assert(big.getLong(2) == 10L && big.getDouble(3) == 0.25) // cap 10 of 40
    for (s0 <- (0 to 5).map(i => s"src$i")) {
      assert(out(s0).getDouble(3) == 1.0)
      assert(out(s0).getLong(4) == 10L)      // at-cap sources keep all
    }
    // the big source's kept count equals the hash rule exactly
    val expectBig = (1L to 40L).toDF("doc_id")
      .withColumn("m",
        graft.operators.Dedup.h60(concat(lit("cap:"), col("doc_id"))) % 1000000L)
      .filter(col("m") < 250000L).count()
    assert(big.getLong(4) == expectBig)
    assert(math.abs(out.values.map(_.getDouble(5)).sum - 1.0) < 1e-12)
  }

  test("ta11: site templates flagged per source; short docs absent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ta11").toString
    // srcA: 4 docs opening with the same 4-token nav -> the two shared
    // leading shingles have df=4 > 0.5*4; everything else is unique
    val docs = (1 to 4).map { i =>
      (i.toLong, s"nav home about contact u$i v$i w$i", "en", "srcA")
    } ++ Seq(
      (5L, "x5 y5 z5 p5", "en", "srcB"),
      (6L, "x6 y6 z6 p6", "en", "srcB"),
      (7L, "too short", "en", "srcB"))       // <3 tokens: no shingles
    docs.map { case (id, t, l, src) => (id, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextAnalysis.ta11(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))  // doc 7 has no shingles
    for (i <- 1L to 4L)
      assert(out(i) == (("srcA", 5L, 2L, 0.4)))  // 5 shingles, 2 template
    for (j <- 5L to 6L)
      assert(out(j) == (("srcB", 2L, 0L, 0.0)))  // df=1 everywhere
  }

  test("sp08: each epoch is a fresh exact permutation; offsets splice shards") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sp08").toString
    val n = 500
    (1 to n).map(i => (i.toLong, s"text $i", "en", "u", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Sampling.sp08(spark, dir).collect()
    assert(out.length == 2 * n)
    val byEpoch = out.groupBy(_.getInt(1))
    assert(byEpoch.keySet == Set(0, 1))
    for ((_, rows) <- byEpoch) {
      // positions are exactly 1..N — the shard offsets spliced correctly
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to n).toSeq)
      // position order is shard-major: pos-sorted rows have nondecreasing shard
      val shardsByPos = rows.sortBy(_.getLong(3)).map(_.getInt(2)).toSeq
      assert(shardsByPos == shardsByPos.sorted)
      // with 500 docs over 256 shards, a real spread (not all one shard)
      assert(rows.map(_.getInt(2)).distinct.length > 100)
    }
    // the two epochs are DIFFERENT permutations of the same doc set
    def perm(e: Int) = byEpoch(e).map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(perm(0).keySet == perm(1).keySet)
    assert(perm(0) != perm(1))
    // deterministic: a re-run reproduces the permutation bit-for-bit
    assert(graft.operators.Sampling.sp08(spark, dir).collect().toSeq == out.toSeq)
  }

  test("ss05 on clusterable data: learned IVF recall is high (low recall is the data)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ssfix").toString
    // 8 well-separated block clusters in R^64: cluster g lives on dims
    // [8g, 8g+8) with deterministic per-vector jitter; cross-cluster
    // cosine ~ 0, within-cluster ~ 1. vec_id i -> cluster i % 8, so the
    // 10 audit queries (vec_id < 10) span all clusters.
    val vecs = (0 until 200).map { i =>
      val g = i % 8
      val emb = Array.tabulate(64) { d =>
        val base = if (d >= 8 * g && d < 8 * g + 8) 1.0f else 0.0f
        base + 0.02f * (((i * 31 + d * 17) % 7) - 3)
      }
      (i.toLong, emb.toSeq, g)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding",
        "CAST(label AS INT) AS label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val audit = graft.operators.Similarity.ss05(spark, dir).collect()
    assert(audit.length == 10)
    def mean(c: String) =
      audit.map(r => r.getDouble(r.fieldIndex(c))).sum / 10.0
    val r1 = mean("recall_ivf1")
    val r2 = mean("recall_ivf2")
    val rivfpq = mean("recall_ivfpq")
    info(f"clustered-fixture mean recall@5: ivf1=$r1%.2f ivf2=$r2%.2f ivfpq=$rivfpq%.2f")
    // the method is sound when the data has neighborhood structure —
    // the sf0.01 corpus's ~0.28 is the isotropic data, not the index
    assert(r1 >= 0.8, s"ivf1 recall $r1 — learned cells failed clusterable data")
    assert(r2 >= r1 - 1e-9)
    // IVF-PQ's exact rerank must recover IVF-alone recall here: the
    // 25-member true cells fit the 256-candidate ADC shortlist (the r14
    // operating point from the committed clustered-corpus sweep, sized
    // for the corpus-proportional ~500-member cells), so the composed
    // index cannot degrade below the coarse route at all — this is the
    // operating-point pin on the separable fixture
    assert(rivfpq >= r1 - 1e-9,
      s"ivfpq recall $rivfpq < ivf1 recall $r1 — rerank lost the cell")
    // r15 adaptive routing on the SEPARABLE fixture: the distance-ratio
    // stop must (a) dominate np1 per (query, rank) — its cell set is a
    // superset of the np1 route by construction — and (b) actually stay
    // NARROW here: well-separated clusters put the 2nd centroid far
    // outside β, so the mean probe width must sit well under the npMax
    // budget (this is the "clustered guard unchanged" half of the
    // committed ADAPTIVE_PROBE_SWEEP_R15 artifact)
    val ad = graft.operators.Similarity.ss12(spark, dir).collect()
    val np1 = graft.operators.Similarity.ss02(spark, dir).collect()
    def byQ(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getAs[Long]("query_id"))
        .view.mapValues(_.map(_.getAs[Double]("cosine")).sorted.reverse).toMap
    val (ca, c1) = (byQ(ad), byQ(np1))
    for (qid <- c1.keys; i <- 0 until 5)
      assert(ca(qid)(i) >= c1(qid)(i),
        s"q$qid rank ${i + 1}: adaptive cosine below np1")
    val meanProbes = graft.operators.Similarity.bestCellsAdaptive(spark, dir)
      .groupBy("query_id").count().collect().map(_.getLong(1)).sum / 10.0
    assert(meanProbes <= 2.0,
      f"adaptive probed $meanProbes%.1f cells/query on separable data — stop rule inert")

    // r15 opt pin: the restructured ss05 (one wide rank-carried probe
    // sliced for h1/h2/ss07-candidates + one shared PqServe) must equal
    // the pre-r15 composition of the STANDALONE pipelines bit-for-bit —
    // the standalone queries themselves are unchanged, so composing
    // them reconstructs the old audit exactly
    import org.apache.spark.sql.functions.{col, lit, coalesce, sum => fsum, count => fcount}
    val S = graft.operators.Similarity
    def hit(df: org.apache.spark.sql.DataFrame, name: String) =
      df.select(col("query_id"), col("neighbor_id"), lit(1L).as(name))
    val legacyAudit = S.ss01(spark, dir).select(col("query_id"), col("neighbor_id"))
      .join(hit(S.ss02(spark, dir), "h1"), Seq("query_id", "neighbor_id"), "left")
      .join(hit(S.ss04(spark, dir), "h2"), Seq("query_id", "neighbor_id"), "left")
      .join(hit(S.ss03(spark, dir), "h3"), Seq("query_id", "neighbor_id"), "left")
      .join(hit(S.ss06(spark, dir), "h4"), Seq("query_id", "neighbor_id"), "left")
      .join(hit(S.ss07(spark, dir), "h5"), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(fcount(lit(1)).as("n_exact"),
        fsum(coalesce(col("h1"), lit(0L))).cast("long").as("hit_ivf1"),
        fsum(coalesce(col("h2"), lit(0L))).cast("long").as("hit_ivf2"),
        fsum(coalesce(col("h3"), lit(0L))).cast("long").as("hit_lsh"),
        fsum(coalesce(col("h4"), lit(0L))).cast("long").as("hit_pq"),
        fsum(coalesce(col("h5"), lit(0L))).cast("long").as("hit_ivfpq"))
    val got = S.ss05(spark, dir)
      .select("query_id", "n_exact", "hit_ivf1", "hit_ivf2", "hit_lsh",
        "hit_pq", "hit_ivfpq")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val want = legacyAudit.collect().map(_.toSeq)
      .sortBy(_.head.asInstanceOf[Long].toString)
    assert(got.toSeq == want.toSeq,
      "restructured ss05 != standalone-pipeline composition")
  }

  test("dd07 on clusterable data: IVF-cell blocking recovers the exact top pairs, label-free") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ddfix").toString
    // same separable 8-block fixture as the ss05/ss06 tests: the learned
    // k-means cells recover the true clusters, so blocking on them must
    // not lose the global top-cosine pairs (r7 verdict #1 — the blocking
    // key is now unsupervised, and this pins that it still FINDS things)
    val vecs = (0 until 200).map { i =>
      val g = i % 8
      val emb = Array.tabulate(64) { d =>
        val base = if (d >= 8 * g && d < 8 * g + 8) 1.0f else 0.0f
        base + 0.02f * (((i * 31 + d * 17) % 7) - 3)
      }
      (i.toLong, emb.toSeq, g)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding",
        "CAST(label AS INT) AS label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val q = Dedup.dd07(spark, dir)
    // the pair path must never read the ground-truth label column — a
    // real corpus has none (grep-clean contract from the r7 verdict).
    // Physical plan: the logical Relation node prints the file's FULL
    // schema, but FileScan prints only the pruned read columns
    assert(!q.queryExecution.executedPlan.toString.contains("label"),
      "dd07 physical plan reads the ground-truth label column")
    val blocked = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact (unblocked) top-20 over all 19 900 pairs, same grid-dot path
    graft.functions.GraftFunctions.register(spark)
    val e = graft.Tables.embeddings(spark, dir)
      .withColumn("n2", call_function("grid_dot", col("embedding"), col("embedding")))
      .select(col("vec_id"), col("embedding"), col("n2"))
    val exact = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine",
        call_function("grid_dot", col("a.embedding"), col("b.embedding")).cast("double") /
          (sqrt(col("a.n2").cast("double")) * sqrt(col("b.n2").cast("double"))))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"), col("cosine"))
      .orderBy(col("cosine").desc, col("v1"), col("v2")).limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (blocked & exact).size.toDouble / exact.size
    info(f"clustered-fixture dd07 pair recall vs exact top-20: $recall%.2f")
    assert(recall >= 0.9, s"IVF-blocked pair recall $recall on separable data")
  }

  test("ss06 on clusterable data: PQ-ADC recall is high (low recall is the data)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pqfix").toString
    // same separable block-cluster fixture as the ss05 test: cluster g
    // lives on dims [8g, 8g+8), i.e. exactly one PQ sub-block carries
    // each cluster's signal. The property a quantizer owes is
    // NEIGHBORHOOD CONFINEMENT — every ADC neighbor comes from the true
    // cluster — not exact-rank overlap: within a cluster the vectors
    // differ only by jitter the codes definitionally discard, so the
    // tail of the top-5 is tie-ranked among co-coded members (measured:
    // exactly 4/5 exact-rank overlap on this fixture).
    val vecs = (0 until 200).map { i =>
      val g = i % 8
      val emb = Array.tabulate(64) { d =>
        val base = if (d >= 8 * g && d < 8 * g + 8) 1.0f else 0.0f
        base + 0.02f * (((i * 31 + d * 17) % 7) - 3)
      }
      (i.toLong, emb.toSeq, g)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding",
        "CAST(label AS INT) AS label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val exact = graft.operators.Similarity.ss01(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val pq = graft.operators.Similarity.ss06(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert(pq.keySet == exact.keySet && pq.keySet.size == 10)
    // confinement: every ADC neighbor is a true-cluster member
    // (query i's cluster is i % 8, neighbor n's is n % 8)
    val stray = pq.toSeq.flatMap { case (q, ns) => ns.filter(_ % 8 != q % 8) }
    assert(stray.isEmpty, s"PQ neighbors left the true cluster: $stray")
    val recall = exact.keys.toSeq
      .map(q => (exact(q) & pq(q)).size.toDouble / exact(q).size).sum / 10.0
    info(f"clustered-fixture PQ-ADC mean recall@5: $recall%.2f")
    // the codes are sound when neighborhoods exist — the sf0.01
    // corpus's ~0.16 is the isotropic data, not the quantizer
    assert(recall >= 0.6, s"PQ recall $recall — codebooks failed clusterable data")
  }

  test("mm04 decoder: a JDK-encoder PNG round-trips known pixel sums") {
    // javax.imageio is an INDEPENDENT encoder with its own filter
    // heuristics — if the hand-rolled inflate+unfilter reproduces exact
    // per-channel sums from its output, the decode is real, not a
    // fixture echo (r7 verdict #8)
    val (w, h) = (23, 17)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val exp = new Array[Long](3)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 11 + y * 3) % 256
      val g = (x * 5 + y * 7) % 256
      val b = (x + y * 19) % 256
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
      exp(0) += r; exp(1) += g; exp(2) += b
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val dec = graft.operators.Multimodal.decodePngPixels(bos.toByteArray)
    assert(dec.isDefined, "decoder rejected a JDK-written PNG")
    val (dw, dh, ch, px) = dec.get
    assert((dw, dh, ch) == ((w, h, 3)))
    val sums = new Array[Long](3)
    px.zipWithIndex.foreach { case (v, k) => sums(k % 3) += (v & 0xFF) }
    assert(sums.toSeq == exp.toSeq)
  }

  test("mm04 fixture: writer/decoder round-trip across all five PNG filters") {
    import graft.operators.Multimodal
    for (docId <- Seq(0L, 2L, 4L); nChars <- Seq(29L, 101L, 997L)) {
      val dec = Multimodal.decodePngPixels(Multimodal.pngPixelPayload(docId, nChars))
      assert(dec.isDefined)
      val (w, h, ch, px) = dec.get
      // h >= 5 in at least some cases => every filter type 0..4 exercised
      px.zipWithIndex.foreach { case (v, k) =>
        val stride = w * ch
        val y = k / stride; val i = k % stride
        val x = i / ch; val c = i % ch
        assert((v & 0xFF) ==
          ((docId * 31 + x * 7 + y * 13 + c * 5) % 256).toInt,
          s"pixel ($x,$y,$c) of doc $docId")
      }
    }
  }

  test("mm04 encoder head: weights-as-data projection; swap hook changes f7 only") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft_mm04w").toString
    // ids cover both containers (even PNG / odd JPEG) and all channel
    // variants (doc_id % 3); n_chars drives the fixture dimensions
    val docs = Seq((1L, 29L), (2L, 31L), (3L, 37L), (4L, 41L), (5L, 43L), (6L, 47L))
    docs.map { case (id, n) => (id, "x" * n.toInt, "en", "u", n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val out = graft.operators.Multimodal.mm04(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap

    // hand-compute f7 for the even (PNG) docs from the FIXTURE pixel
    // formula + the encw fixture weights — fully independent of the
    // decoder AND of the layer parquet
    for ((id, n) <- docs if id % 2 == 0) {
      val w = (n * 7 % 12 + 4).toInt; val h = (n * 13 % 12 + 4).toInt
      val nc = (id % 3) match { case 0 => 1; case 1 => 3; case _ => 4 } // pngPixelPayload's colortype cycle
      val sums = new Array[Long](4); var tot = 0L; var mn = 255L; var mx = 0L
      for (y <- 0 until h; x <- 0 until w; c <- 0 until nc) {
        val v = (id * 31 + x * 7 + y * 13 + c * 5) % 256
        sums(c) += v; tot += v; mn = math.min(mn, v); mx = math.max(mx, v)
      }
      val np = w.toLong * h
      val xs = Array.tabulate(8) {
        case c if c < 4 => if (c < nc) Math.floorDiv(sums(c) * 1000L, np * 255L) else 0L
        case 4 => Math.floorDiv(tot * 1000L, np * nc * 255L)
        case 5 => Math.floorDiv(mn * 1000L, 255L)
        case 6 => Math.floorDiv(mx * 1000L, 255L)
        case 7 => 1000L
      }
      val sm = (0 until 8).map(d => (h60(s"enc:$d") % 2001L - 1000L) * xs(d)).sum
      val sig = 1.0 / (1.0 + math.exp(-(sm.toDouble / 1e6)))
      val exp = (math.floor(sig * 1e9 + 0.5) / 1e9).toFloat
      assert(out(id).getFloat(9) == exp, s"doc $id f7")
    }

    // swap hook: zero weights except bias 2000 -> margin exactly 2.0
    // for EVERY doc regardless of pixels; f0..f6 + content_md5 unchanged
    val swapW = spark.range(0, 8)
      .select(col("id").cast("int").as("dim"),
        org.apache.spark.sql.functions.when(col("id") === 7, 2000L)
          .otherwise(0L).as("w_milli"))
    val sw = graft.operators.Multimodal.mm04With(spark, dir, swapW)
    val sout = sw.collect().map(r => r.getLong(0) -> r).toMap
    val f7c = (math.floor((1.0 / (1.0 + math.exp(-2.0))) * 1e9 + 0.5) / 1e9).toFloat
    assert(sout.values.forall(_.getFloat(9) == f7c))
    assert(docs.exists { case (id, _) => out(id).getFloat(9) != f7c })
    for ((id, _) <- docs; j <- 1 to 8)
      assert(out(id).get(j) == sout(id).get(j), s"doc $id col $j must not move")
    // identical serving plan: the model ships inside the closure — no
    // join, and the only exchange is the presentation sort. Fresh
    // DataFrames: after an action AQE folds exchanges into leaf query
    // stages and the census would undercount (the ta13 lesson).
    for (df <- Seq(graft.operators.Multimodal.mm04(spark, dir),
                   graft.operators.Multimodal.mm04With(spark, dir, swapW))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Join"), "mm04 serving must not join")
      assert(PlanAudit.exchangeCount(df) == 1)
    }
  }

  test("Present pool: a long session's presentation caches stay bounded") {
    import spark.implicits._
    import graft.operators.Present
    // r7 verdict #3: before the pool, every presentation-sorted query
    // left one cached result for the life of the session. Run more
    // queries than the pool holds; the oldest must be unpersisted.
    val dfs = (1 to Present.CachePool + 4).map { i =>
      (1 to 50).map(j => (j.toLong * i, i)).toDF("id", "k")
    }
    dfs.foreach(d => Present.sorted(d, "id").count())
    assert(Present.pooledCount <= Present.CachePool)
    // eviction really unpersisted the oldest and kept the newest
    assert(dfs.head.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(dfs.last.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    // and an evicted query is still CORRECT on re-action (recompute)
    assert(Present.sorted(dfs.head, "id").count() == 50)
  }

  test("cp03: every stage fires; span pass sees only doc-level-dedup survivors") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cp03").toString
    val probe = (1L to 300L).toDF("doc_id")
    val buckets = graft.operators.Sampling.sp01Buckets(probe)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val train = (1L to 300L).filter(buckets(_) < 90)
    val eval_ = (1L to 300L).filter(buckets(_) >= 90)
    // every doc alternates "the <tok>": gate-passing (stop ratio 0.5,
    // zero bigram repetition) with fully controlled token content
    def toks(tags: Seq[String]) = tags.flatMap(t => Seq("the", t)).mkString(" ")
    def uniq(tag: String, n: Int) = (1 to n).map(i => s"$tag$i")
    val c1 = uniq("c1x", 6) // 12-token boilerplate chunk (> SpanK)
    val c2 = uniq("c2x", 6)
    val Seq(tShort, tDupA, tDupB, tNearA, tNearB, tSpanX, tSpanP1, tSpanP2) =
      train.take(8)
    val tContam = train.drop(8).find(t => eval_.exists(_ > t)).get
    val eContam = eval_.find(_ > tContam).get
    val docs = Seq(
      tShort -> "one two three",                          // gate: too_short
      tDupA -> toks(uniq("d", 30)),                       // exact pair —
      tDupB -> ("  " + toks(uniq("d", 30)).toUpperCase),  // same normalized
      // near pair: one differing token — same length/stop profile, so
      // quality ties and the min-id member keeps
      tNearA -> toks(uniq("n", 30)),
      tNearB -> toks(uniq("n", 29) :+ "nX"),
      // span trio: X is covered 24/34 by chunks it shares with P1/P2,
      // but pairwise 3-gram Jaccard with either stays under the 0.2
      // LSH-verify cut (P1/P2 carry 28 unique tokens), so NO doc-level
      // dedup fires and the span stage is the only thing left to catch X
      tSpanX -> (toks(c1) + " " + toks(c2) + " " + toks(uniq("xu", 5))),
      tSpanP1 -> (toks(c1) + " " + toks(uniq("pu", 14))),
      tSpanP2 -> (toks(c2) + " " + toks(uniq("qu", 14))),
      tContam -> toks(uniq("k", 30)), eContam -> toks(uniq("k", 30)))
    docs.map { case (id, t) => (id, t, "en", "u", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Curation.cp03(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getInt(3), r.getDouble(4)))).toMap
    assert(out(tShort)._2 == "too_short")
    assert(out(math.min(tDupA, tDupB))._2 == "keep")
    assert(out(math.max(tDupA, tDupB))._2 == "exact_dup")
    // near pair: quality tie -> min id keeps; and crucially the KEEPER
    // is NOT span_dup — its spans are "shared" only with its dropped
    // twin, which the survivor-restricted span pass no longer counts
    assert(out(math.min(tNearA, tNearB))._2 == "keep",
      s"near keeper: ${out(math.min(tNearA, tNearB))}")
    assert(out(math.max(tNearA, tNearB))._2 == "near_dup")
    // span trio: only X crosses the 0.5 coverage cut
    assert(out(tSpanX)._2 == "span_dup" && out(tSpanX)._4 >= 0.5,
      s"spanX: ${out(tSpanX)}")
    assert(out(tSpanP1)._2 == "keep" && out(tSpanP1)._4 > 0.0 &&
      out(tSpanP1)._4 < 0.5, s"spanP1: ${out(tSpanP1)}")
    assert(out(tSpanP2)._2 == "keep")
    assert(out(tContam) == (("train", "contaminated", 0, 0.0)))
    assert(out(eContam)._2 == "exact_dup")
  }

  test("cp01: every stage fires with the documented precedence") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cp01").toString
    // the split is a doc_id hash — probe it to pick train/eval ids
    val probe = (1L to 300L).toDF("doc_id")
    val buckets = graft.operators.Sampling.sp01Buckets(probe)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val train = (1L to 300L).filter(buckets(_) < 90)
    val eval_ = (1L to 300L).filter(buckets(_) >= 90)
    def good(tag: String) = (1 to 60).map(i => s"the $tag$i").mkString(" ")
    val Seq(tShort, tDupA, tDupB, tKeep) = train.take(4)
    // contamination needs the TRAIN copy to be the keeper (min doc_id)
    val tContam = train.drop(4).find(t => eval_.exists(_ > t)).get
    val eContam = eval_.find(_ > tContam).get
    val eKeep = eval_.find(_ != eContam).get
    val docs = Seq(
      tShort -> "one two three",                         // gate: too_short
      tDupA -> good("d"), tDupB -> ("  " + good("d").toUpperCase), // dup pair
      tContam -> good("c"), eContam -> good("c"),        // train⋂eval text
      tKeep -> good("k"), eKeep -> good("e"))
    docs.map { case (id, t) => (id, t, "en", "u", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Curation.cp01(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getInt(3))).toMap
    assert(out(tShort) == (("train", "too_short", 0)))
    assert(out(math.min(tDupA, tDupB))._2 == "keep")
    assert(out(math.max(tDupA, tDupB))._2 == "exact_dup")
    assert(out(tContam) == (("train", "contaminated", 0))) // keeper, but leaked
    assert(out(eContam)._2 == "exact_dup")                 // loses to the keeper
    assert(out(tKeep) == (("train", "keep", 1)))
    assert(out(eKeep)._3 == 1)                             // eval docs ship
  }

  test("cp02: mixture-kept train keepers pack in shuffle order under the cap") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft_cp02").toString
    val probe = (1L to 400L).toDF("doc_id")
    val buckets = graft.operators.Sampling.sp01Buckets(probe)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val train = (1L to 400L).filter(buckets(_) < 90)
    val eval_ = (1L to 400L).filter(buckets(_) >= 90)
    def good(tag: String, l: String) = {
      val s0 = if (l == "de") "der" else "the"
      (1 to 60).map(i => s"$s0 $tag$i").mkString(" ")   // 120 tokens, gate-keep
    }
    val Seq(tShort, tDupA, tDupB) = train.take(3)
    val tContam = train.drop(3).find(t => eval_.exists(_ > t)).get
    val eContam = eval_.find(_ > tContam).get
    val enIds = train.drop(3).filter(_ != tContam).take(8)
    val deIds = train.drop(3).filter(t => t != tContam && !enIds.contains(t)).take(12)
    val docs =
      Seq(tShort -> ("one two three", "en"),
        tDupA -> (good("d", "en"), "en"), tDupB -> (("  " + good("d", "en").toUpperCase), "en"),
        tContam -> (good("c", "en"), "en"), eContam -> (good("c", "en"), "en")) ++
      enIds.map(i => i -> (good(s"e$i", "en"), "en")) ++
      deIds.map(i => i -> (good(s"g$i", "de"), "de"))
    docs.map { case (id, (t, l)) => (id, t, l, "u", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // kept en = 8 named + the dup keeper = 9; en binds (9/40 < 12/30),
    // so all en kept and de rate = 30 * (9/40) / 12 = 0.5625
    val deKept = deIds.toDF("doc_id")
      .withColumn("m",
        graft.operators.Dedup.h60(concat(lit("mix:"), col("doc_id"))) % 1000000L)
      .filter(col("m") < 562500L).collect().map(_.getLong(0)).toSet
    val out = graft.operators.Curation.cp02(spark, dir).collect()
    val ids = out.map(_.getLong(0)).toSet
    val expected = enIds.toSet ++ deKept   // dup keeper tDupA? see below
    // excluded: gate-fail, dup non-keeper, contaminated keeper, all eval
    assert(!ids.contains(tShort) && !ids.contains(math.max(tDupA, tDupB)))
    assert(!ids.contains(tContam) && !ids.contains(eContam))
    // the dup KEEPER survives the pipeline (it's clean content)
    assert(ids == expected + math.min(tDupA, tDupB))
    // bins: every sequence's total respects the cap (no doc exceeds it
    // here), docs in a bin share a shard, bins pack ≥1 docs
    for (r <- out) {
      assert(r.getLong(5) <= graft.operators.Sampling.PackCap)
      assert(r.getInt(6) >= 1 && r.getInt(6) <= 2) // 120-token docs -> ≤2 per bin
    }
    // determinism
    assert(graft.operators.Curation.cp02(spark, dir).collect().toSeq == out.toSeq)
  }

  test("sp05: cutoff boundary is exact and straddling users count once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sp05").toString
    val cut = java.sql.Timestamp.valueOf("2024-01-22 00:00:00")
    val before = java.sql.Timestamp.valueOf("2024-01-21 23:59:59")
    Seq(
      (1L, before, 1L, Option("click"), 1.0, "{}"), // train
      (2L, cut, 1L, Option("click"), 2.0, "{}"),    // AT cutoff → eval (>=)
      (3L, before, 2L, Option("click"), 3.0, "{}"), // train-only user
      (4L, cut, 3L, Option("click"), 4.0, "{}"))    // eval-only user
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = graft.operators.Sampling.sp05(spark, dir).collect()
    assert(r.length == 1)
    val c = r.head
    assert(c.getLong(1) == 2L && c.getLong(2) == 2L)   // n_train, n_eval
    assert(c.getLong(3) == 2L && c.getLong(4) == 2L)   // users each side
    assert(c.getLong(5) == 1L)                          // only user 1 straddles
  }

  test("DedupPrepare: rewriting the corpus at the same path invalidates the prep layer") {
    import spark.implicits._
    import graft.operators.DedupPrepare
    val dir = java.nio.file.Files.createTempDirectory("graft_fpr").toString
    def writeDocs(texts: Seq[String]): Unit =
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "unit", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeDocs(Seq("one two three four"))
    assert(DedupPrepare.shingles3(spark, dir).count() == 2L) // 4 words → 2 3-shingles
    // rewrite IN PLACE with a different corpus: before the fingerprint
    // tag the table name was path-only, so this served the stale layer
    writeDocs(Seq("a b c d e f", "a b c d e f g"))
    // the fingerprint is memoized per dir (one FS listing per corpus per
    // JVM) — without invalidate() the stale layer is still served, by
    // contract (same as DiagSource.invalidate)
    assert(DedupPrepare.shingles3(spark, dir).count() == 2L)
    DedupPrepare.invalidate(dir)
    assert(DedupPrepare.shingles3(spark, dir).count() == 4L + 5L)
    // and the superseded fingerprint's warehouse dir is GC'd — exactly
    // one shingles3 layer remains for this corpus
    val wh = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_").takeRight(24).toLowerCase
    val layers = wh.listFiles().map(_.getName)
      .filter(n => n.startsWith("graft_prep_shingles3_") && n.contains(safe))
    assert(layers.length == 1, layers.mkString(", "))
  }

  test("cp05: batch ingest re-labels standing docs — keeper displacement + new contamination") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cp05").toString
    // pick ids by the REAL split hash: B = a batch id (≡7 mod 10) whose
    // copy lands in an eval bucket, S < B a standing train doc sharing
    // B's text (newly contaminated in v2); B2 < K so the batch doc
    // displaces K's min-id keeper (keep → exact_dup)
    val bkt = spark.range(0, 1000)
      .select(col("id"), (Dedup.h60(concat(lit("split:"), col("id"))) % 100L).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val B  = (7L until 1000L by 10).find(b => bkt(b) >= 90).get
    val S  = (0L until B).find(s => s % 10 != 7 && bkt(s) < 90).get
    val B2 = (7L until 1000L by 10).find(_ != B).get
    val K  = ((B2 + 1) until 1000L).find(k => k % 10 != 7 && k != S).get
    // gate-passing text: 16+ distinct tokens, en stopwords, no punct
    val base = "the quick brown fox jumps over a lazy dog while it is running far away today"
    val fillers = Seq(901L, 902L, 903L)
      .filterNot(i => Seq(S, B, B2, K).contains(i))
      .map(i => (i, base + s" filler$i"))
    val docs = Seq(
      (S, base + " alpha"), (B, base + " alpha"),
      (B2, base + " bravo"), (K, base + " bravo")) ++ fillers
    docs.map { case (id, t) => (id, t, "en", "u", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Curation.cp05(spark, dir).collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    val batchIds = docs.map(_._1).filter(_ % 10 == 7).toSet
    // every batch doc surfaces as added, with no v1 reason
    assert(out.filter(_.getString(1) == "added").map(_.getLong(0)).toSet == batchIds)
    assert(batchIds.forall(b => byId(b).isNullAt(2)))
    // B itself deduped against the standing keeper it shares text with
    assert(byId(B).getString(3) == "exact_dup")
    // S stayed keeper (S < B) but B's copy sits in an eval bucket:
    // yesterday's clean train doc is newly contaminated
    assert(byId(S).getString(1) == "changed")
    assert(byId(S).getString(2) == "keep" && byId(S).getString(3) == "contaminated")
    assert(byId(S).getInt(4) == -1)
    // K was its group's keeper; B2 < K arrives and displaces it
    assert(byId(K).getString(1) == "changed")
    assert(byId(K).getString(2) == "keep" && byId(K).getString(3) == "exact_dup")
    assert(byId(K).getInt(4) == -1)
    // and nothing else moved
    assert(out.count(_.getString(1) == "changed") == 2)
  }

  test("ta16: ranked vocab ids, OOV hash buckets, model-swap hook") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ta16").toString
    // f01/f02 appear 3×, f03..f16 2× — exactly VocabSize in-vocab tokens
    // (ids: count desc then tok asc → f01=0, f02=1, f03=2, …); o1/o2
    // appear once and rank 17th/18th → OOV under the 16-entry vocab
    val fs = (1 to 16).map(i => f"f$i%02d")
    val all = fs.mkString(" ")
    val docs = Seq((1L, all), (3L, all), (2L, "f01 f02 o1 o2"))
    docs.map { case (id, t) => (id, t, "en", "u", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(graft.operators.TextAnalysis.VocabSize == 16)
    val h = (t: String) => spark.range(1)
      .select(Dedup.h60(lit(t)) % graft.operators.TextAnalysis.OovBuckets)
      .head.getLong(0)
    val out = graft.operators.TextAnalysis.ta16(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) == 16 && out(1L).getInt(2) == 0)
    assert(out(1L).getString(4) == "0,1,2,3,4,5,6,7") // first 8 of the encode
    assert(out(2L).getInt(1) == 4 && out(2L).getInt(2) == 2)
    assert(out(2L).getDouble(3) == 0.5)
    assert(out(2L).getString(4) == s"0,1,${16 + h("o1")},${16 + h("o2")}")
    // swap hook: a different vocab table changes the encode in place
    val alt = Seq(("f01", 5L)).toDF("tok", "id")
    val out2 = graft.operators.TextAnalysis.ta16With(spark, dir, alt).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out2(2L).getString(4).startsWith(s"5,${16 + h("f02")},"))
    assert(out2(2L).getInt(2) == 3) // f02 is OOV under the swapped vocab
  }

  test("ss09: predicate pre-filters the probe — en-only neighbors, dominates post-filtering") {
    val dir = "/root/testdata/sf0.001"
    val en = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("lang") === graft.operators.Similarity.FilterLang)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val out = graft.operators.Similarity.ss09(spark, dir).collect()
    assert(out.nonEmpty)
    // every neighbor satisfies the predicate, ≤5 per query, ranks dense
    assert(out.forall(r => en(r.getLong(3))))
    val perQ = out.groupBy(_.getLong(0))
    assert(perQ.values.forall(rs => rs.length <= 5 &&
      rs.map(_.getInt(2)).sorted.sameElements(1 to rs.length)))
    // pre-filtering dominates post-filtering: every en neighbor in
    // ss04's unfiltered top-5 appears here with the identical cosine …
    val s9 = out.map(r => (r.getLong(0), r.getLong(3)) -> r.getDouble(4)).toMap
    val s4 = graft.operators.Similarity.ss04(spark, dir).collect()
    for (r <- s4 if en(r.getAs[Long]("neighbor_id"))) {
      val k = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(s9.get(k).contains(r.getAs[Double]("cosine")), s"missing $k")
    }
    // … and the filtered top-5 reaches neighbors post-filtering loses
    // (an ss04 top-5 slot burned on a non-en doc is a missing result)
    val s4pairs = s4.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(out.exists(r => !s4pairs((r.getLong(0), r.getLong(3)))))
  }

  test("ta17: BPE training learns the hand-derivable merges; encode + swap hook") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ta17").toString
    // word dict: aaab×2, ab×2, b×1 — round 1 pair counts (a,a)=4 and
    // (a,b)=4 TIE, broken (l,r)-ascending → (a,a); round 2 (a,b)=4 over
    // (aa,a)=2; round 3 (aa,ab)=2; round 4 has no pairs left → early
    // stop at 3 merges. "aaa" → [aa, a] pins the left-to-right
    // non-overlapping application rule. ids: a=0, b=1, aa=2, ab=3, aaab=4.
    val docs = Seq((1L, "aaab aaab ab"), (2L, "ab b"))
    docs.map { case (id, t) => (id, t, "en", "u", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val mg = graft.operators.TextAnalysis.bpeMerges(spark, dir)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(mg.toSeq == Seq((1L, "a", "a"), (2L, "a", "b"), (3L, "aa", "ab")))
    // lexicon: reconstruction invariant + id layout
    val lex = graft.operators.TextAnalysis.bpeWords(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getSeq[String](1), r.getSeq[Long](2), r.getLong(3))).toMap
    assert(lex.keySet == Set("aaab", "ab", "b"))
    for ((tok, (subs, ids, n)) <- lex) {
      assert(subs.mkString("") == tok, s"reconstruction broke for $tok")
      assert(n == subs.length && ids.length == subs.length)
    }
    assert(lex("aaab")._2 == Seq(4L) && lex("ab")._2 == Seq(3L)
      && lex("b")._2 == Seq(1L))
    val out = graft.operators.TextAnalysis.ta17(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 3 && out(1L).getLong(2) == 3
      && out(1L).getString(4) == "4,4,3")
    assert(out(2L).getLong(1) == 2 && out(2L).getLong(2) == 2
      && out(2L).getString(4) == "3,1")
    // swap hook: a character-identity lexicon (the "no merges learned"
    // tokenizer) changes every count under the identical serving plan
    val alt = Seq(
      ("aaab", Seq("a", "a", "a", "b"), Seq(0L, 0L, 0L, 1L), 4L),
      ("ab", Seq("a", "b"), Seq(0L, 1L), 2L),
      ("b", Seq("b"), Seq(1L), 1L)).toDF("tok", "subs", "ids", "n_sub")
    val sw = graft.operators.TextAnalysis.ta17With(spark, dir, alt).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(sw(1L).getLong(2) == 10
      && sw(1L).getString(4) == "0,0,0,1,0,0,0,1")
    // swap-hook plan contract: an alternative lexicon serves under the
    // IDENTICAL plan shape. ta17With is the swap surface — ta17 itself
    // is layer-served since r15 (DocFeatsSpec pins ta17 ≡
    // ta17With(bpeWords) value-for-value), so the shape comparison is
    // between the two kernel-path instantiations
    assert(PlanAudit.exchangeCount(
        graft.operators.TextAnalysis.ta17With(spark, dir, alt)) ==
      PlanAudit.exchangeCount(graft.operators.TextAnalysis.ta17With(
        spark, dir, graft.operators.TextAnalysis.bpeWords(spark, dir))))
  }

  test("ta17 lexicon on the test corpus: reconstruction, contiguous ranks, no null ids") {
    val dir = "/root/testdata/sf0.001"
    val mg = graft.operators.TextAnalysis.bpeMerges(spark, dir)
      .orderBy("rank").collect().map(_.getLong(0))
    assert(mg.toSeq == (1L to mg.length.toLong))
    val lex = graft.operators.TextAnalysis.bpeWords(spark, dir).collect()
    assert(lex.nonEmpty)
    for (r <- lex) {
      val (tok, subs) = (r.getString(0), r.getSeq[String](1))
      assert(subs.mkString("") == tok, s"reconstruction broke for $tok")
      assert(r.getSeq[Any](2).forall(_ != null), s"null id in $tok")
      assert(r.getLong(3) == subs.length)
    }
  }
}
