package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, DedupPrepare, LayerMaintenance}

/** Incremental layer maintenance (r8 verdict #4): build the maintained
  * layers at corpus v1, append an ingest batch, and prove
  *  (a) every appended/merged layer reads EQUAL to a from-scratch build
  *      over corpus v2,
  *  (b) a real consumer query (dd03's verified pair relation) agrees,
  *  (c) the append reports per-family internal costs (the ≪-rebuild
  *      claim is measured at soak scale in
  *      `artifacts/INGESTBENCH_SF10_R14.log` and SCALING.md — spec scale
  *      is overhead-dominated),
  *  (d) compaction restores single-file buckets and the
  *      fingerprint-keyed table name with content unchanged, and
  *  (e) the capped band layer stays exactly capped across the ingest
  *      boundary, admitting only up to cap − n_old per bucket.
  */
class LayerMaintenanceSpec extends AnyFunSuite with SparkTestBase {

  private def doc(id: Long, text: String) = (id, text, "en", "u", text.length.toLong)

  private def writeDocs(dir: String, rows: Seq[(Long, String, String, String, Long)],
      mode: String): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4).write.mode(mode).parquet(s"$dir/documents.parquet")
  }

  // distinct-ish text with some cross-doc shingle overlap so the layers
  // are non-trivial (shared trigrams, shared band buckets)
  private def body(i: Long): String =
    s"alpha bravo charlie tok$i delta echo tok${i % 7} foxtrot golf " +
      s"hotel tok${i % 13} india juliet"

  private def layers = Seq("shingles3", "minhash", "lshbands", "unifreq", "pixels")

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  /** The docfeats layer DECODED through its dictionary: int token ids
    * are an internal, append-order-dependent encoding (an appended
    * vocab ranks new tokens after standing ones; a rebuild interleaves
    * them), so append ≡ rebuild is asserted on the decoded content —
    * per-position tokens, per-token/per-feature histogram counts, and
    * the direct columns — not on raw id values. */
  private def docfeatsCanon(dir: String): Seq[String] = {
    val df = LayerMaintenance.maintainedLayer(spark, dir, "docfeats")
    val v = LayerMaintenance.maintainedLayer(spark, dir, "tokdict")
      .select(col("tok_id"), col("tok"))
    val seq = df.select(col("doc_id"), col("sig"), col("simhash"),
        col("n_tokens"), posexplode_outer(col("ids")).as(Seq("pos", "tok_id")))
      .join(v, Seq("tok_id"), "left")
      .select(lit("seq"), col("doc_id"), col("sig"), col("simhash"),
        col("n_tokens"), col("pos"), col("tok"))
    val uni = df.select(col("doc_id"), explode(col("uni")).as("u"))
      .select(col("doc_id"), col("u.id").as("tok_id"), col("u.c").as("c"))
      .join(v, Seq("tok_id"))
      .select(lit("uni"), col("doc_id"), col("tok"), col("c"))
    val clf = df.select(col("doc_id"), explode(col("clf")).as("x"))
      .select(lit("clf"), col("doc_id"), col("x.f"), col("x.c"))
    sortedRows(seq) ++ sortedRows(uni) ++ sortedRows(clf)
  }

  /** Vocab invariants after any maintenance: ids unique (the dictionary
    * is a bijection) and feat = poly131(tok) mod ClfFeatDim. */
  private def assertVocabSane(dir: String): Unit = {
    val v = LayerMaintenance.maintainedLayer(spark, dir, "tokdict")
    val n = v.count()
    assert(v.select("tok").distinct().count() == n)
    assert(v.select("tok_id").distinct().count() == n, "vocab ids collide")
    val bad = v.filter(pmod(call_function("tok_hash131", col("tok")),
      lit(graft.operators.TextAnalysis.ClfFeatDim.toLong)).cast("int")
      =!= col("feat")).count()
    assert(bad == 0L, s"$bad vocab rows with wrong feat")
  }

  test("append ≡ rebuild, consumer queries agree, compact restores invariants") {
    val dirA = java.nio.file.Files.createTempDirectory("graft_lm_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_lm_b").toString
    val v1 = (0L until 1200L).map(i => doc(i, body(i)))
    val batch = (5000L until 5060L).map(i => doc(i, body(i)))

    writeDocs(dirA, v1, "overwrite")
    val t0 = System.nanoTime()
    LayerMaintenance.ensureMaintained(spark, dirA)
    val buildSecs = (System.nanoTime() - t0) / 1e9

    // ingest: batch files land in the corpus dir, then the layers absorb
    writeDocs(dirA, batch, "append")
    import spark.implicits._
    val batchDf = batch.toDF("doc_id", "text", "lang", "source", "n_chars")
    val report = LayerMaintenance.appendIngest(spark, dirA, batchDf)
    // internal per-family times, measured while holding the layer lock:
    // suites share one JVM session and run concurrently, so wall-clock
    // around the call would count OTHER suites' ensure() builds as
    // append cost (observed flake in the full run)
    val appendSecs = report.map(_.secs).sum
    assert(report.map(_.action).sorted == Seq("appended", "appended", "appended", "appended", "appended",
        "merged", "merged"))

    // from-scratch reference: corpus v2 built in one shot
    writeDocs(dirB, v1 ++ batch, "overwrite")
    LayerMaintenance.ensureMaintained(spark, dirB)

    for (f <- layers) {
      assert(sortedRows(LayerMaintenance.maintainedLayer(spark, dirA, f)) ==
        sortedRows(LayerMaintenance.maintainedLayer(spark, dirB, f)),
        s"layer $f: appended != rebuilt")
    }
    // docfeats/vocab: equality modulo the id encoding (see docfeatsCanon)
    assert(docfeatsCanon(dirA) == docfeatsCanon(dirB),
      "docfeats: appended != rebuilt (decoded)")
    assertVocabSane(dirA)

    // a consumer query through ensure() resolves the alias and agrees
    assert(sortedRows(Dedup.dd03(spark, dirA)) == sortedRows(Dedup.dd03(spark, dirB)))
    // layer-served consumers across the ingest boundary: the appended
    // docfeats/vocab serve the SAME answers as a from-scratch build
    assert(sortedRows(graft.operators.TextAnalysis.ta14(spark, dirA)) ==
      sortedRows(graft.operators.TextAnalysis.ta14(spark, dirB)))
    assert(sortedRows(Dedup.dd01(spark, dirA)) ==
      sortedRows(Dedup.dd01(spark, dirB)))

    // Cost is NOT asserted here: at spec scale (1200 docs) both sides
    // are fixed-per-job-overhead-dominated and the suite runs
    // concurrently in a shared session, so the comparison flakes in
    // either direction. The measured ≪ evidence is the committed
    // `artifacts/INGESTBENCH_SF10_R14.log`, summarized in SCALING.md
    // (append cost stays batch-sized while rebuild grows with the
    // corpus). Printed for visibility:
    info(f"append internal $appendSecs%.1f s vs v1 build wall $buildSecs%.1f s")

    // pre-compact: appended layers live under their PRE-ingest names
    val preName = LayerMaintenance.physicalName(spark, dirA, "shingles3")
    val expected = LayerMaintenance.expectedName(spark, dirA, "shingles3")
    assert(preName != expected, "append should alias, not re-key")

    val creport = LayerMaintenance.compact(spark, dirA)
    assert(creport.map(_.action) ==
      Seq("compacted", "compacted", "compacted", "compacted", "compacted"))
    for (f <- layers) {
      assert(sortedRows(LayerMaintenance.maintainedLayer(spark, dirA, f)) ==
        sortedRows(LayerMaintenance.maintainedLayer(spark, dirB, f)),
        s"layer $f: compaction changed content")
    }
    // compacted tables re-key to the current fingerprint name and are
    // single-file-per-bucket again (≤ 1 data file per bucket)
    assert(LayerMaintenance.physicalName(spark, dirA, "shingles3") == expected)
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), expected)
    val dataFiles = Option(wh.listFiles()).getOrElse(Array.empty)
      .count(f => f.getName.endsWith(".parquet"))
    assert(dataFiles <= DedupPrepare.tableBuckets(spark, expected),
      s"$dataFiles files after compact")

    // consumer still agrees after compaction
    assert(sortedRows(Dedup.dd03(spark, dirA)) == sortedRows(Dedup.dd03(spark, dirB)))
  }

  test("ingest contract: non-fresh batch ids are rejected") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lm_c").toString
    val v1 = (0L until 100L).map(i => doc(i, body(i)))
    writeDocs(dir, v1, "overwrite")
    LayerMaintenance.ensureMaintained(spark, dir)
    val clash = Seq(doc(50L, body(999L)))
    writeDocs(dir, clash, "append")
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      LayerMaintenance.appendIngest(spark, dir,
        clash.toDF("doc_id", "text", "lang", "source", "n_chars"))
    }
    assert(e.getMessage.contains("must be fresh"))
  }

  test("capped band layer stays exactly capped across the ingest boundary") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lm_d").toString
    // 990 identical docs: every band bucket of the clique holds 990
    val v1 = (0L until 990L).map(i => doc(i, "same same same same same text here"))
    writeDocs(dir, v1, "overwrite")
    LayerMaintenance.ensureMaintained(spark, dir)
    // 30 more identical docs arrive: only cap − 990 = 10 (lowest batch
    // ids) may join each bucket
    val batch = (2000L until 2030L).map(i => doc(i, "same same same same same text here"))
    writeDocs(dir, batch, "append")
    import spark.implicits._
    LayerMaintenance.appendIngest(spark, dir,
      batch.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val bands = LayerMaintenance.maintainedLayer(spark, dir, "lshbands")
    val perBucket = bands.groupBy("b", "bh").count()
    assert(perBucket.agg(max("count")).head.getLong(0) == Dedup.BucketCap.toLong)
    val admitted = bands.filter(col("doc_id") >= 2000L)
      .select("doc_id").distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(admitted == (2000L until 2010L).toSeq)
  }

  test("no silent caps: capped builds and appends write queryable truncation audits") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lm_cap").toString
    // 1100 identical docs: every band bucket of the clique holds 1100
    // candidates but the layer caps at 1000 — the build must SAY so
    val v1 = (0L until 1100L).map(i => doc(i, "same same same same same text here"))
    writeDocs(dir, v1, "overwrite")
    DedupPrepare.drainCapLog()
    DedupPrepare.lshBands(spark, dir)
    val physical = LayerMaintenance.physicalName(spark, dir, "lshbands")
    val audit = spark.table(DedupPrepare.capAuditName(physical)).collect()
    assert(audit.length == 1)
    val a = audit.head
    assert(a.getAs[String]("layer") == "lshbands")
    assert(a.getAs[Long]("cap") == Dedup.BucketCap.toLong)
    assert(a.getAs[Long]("keys_total") == 4L)     // 4 bands, one bucket each
    assert(a.getAs[Long]("keys_capped") == 4L)
    assert(a.getAs[Long]("rows_in") == 4400L)
    assert(a.getAs[Long]("rows_kept") == 4000L)
    assert(a.getAs[Long]("rows_dropped") == 400L)
    val logged = DedupPrepare.drainCapLog()
    assert(logged.exists(e => e.layer == "lshbands" && e.rowsDropped == 400L))

    // ingest a batch into the already-full buckets: admission drops ALL
    // of it, and the audit table gains an append row saying exactly that
    LayerMaintenance.ensureMaintained(spark, dir)
    val batch = (9000L until 9030L).map(i => doc(i, "same same same same same text here"))
    writeDocs(dir, batch, "append")
    import spark.implicits._
    LayerMaintenance.appendIngest(spark, dir,
      batch.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val audit2 = spark.table(DedupPrepare.capAuditName(physical))
      .filter(col("layer") === "lshbands/append").collect()
    assert(audit2.length == 1)
    val b = audit2.head
    assert(b.getAs[Long]("rows_in") == 120L)
    assert(b.getAs[Long]("rows_kept") == 0L)
    assert(b.getAs[Long]("rows_dropped") == 120L)
    assert(b.getAs[Long]("keys_capped") == 4L)
  }

  // gate-passing ingest body: ≥10 tokens, en stopword signal, low
  // bigram duplication — survives TextAnalysis.gateDf so the streaming
  // ingest path actually appends it
  private def streamBody(i: Long): String =
    s"the quick tok$i fox of and jumps to over in the lazy tok${i % 5} dog is a good"

  test("at-least-once replay: re-delivered batch is healed, not double-appended") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lm_rp").toString
    val v1 = (0L until 200L).map(i => doc(i, streamBody(i)))
    writeDocs(dir, v1, "overwrite")
    LayerMaintenance.ensureMaintained(spark, dir)
    val batch = (3000L until 3030L).map(i => doc(i, streamBody(i)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    // first delivery: normal ingest
    val r1 = LayerMaintenance.ingestBatch(spark, batch, dir)
    assert(r1.map(_.action).sorted == Seq("appended", "appended", "appended", "appended", "appended",
        "merged", "merged"))
    val corpus1 = sortedRows(spark.read.parquet(s"$dir/documents.parquet"))
    val layers1 = layers.map(f =>
      f -> sortedRows(LayerMaintenance.maintainedLayer(spark, dir, f))).toMap

    // re-delivery of the SAME batch (foreachBatch at-least-once): corpus
    // append skipped, every layer absorption skipped — nothing changes
    val r2 = LayerMaintenance.ingestBatch(spark, batch, dir)
    assert(r2.map(_.action).sorted ==
      Seq("replayed", "replayed", "replayed", "replayed", "replayed",
        "unchanged", "unchanged"),
      r2.toString)
    assert(sortedRows(spark.read.parquet(s"$dir/documents.parquet")) == corpus1)
    for (f <- layers)
      assert(sortedRows(LayerMaintenance.maintainedLayer(spark, dir, f)) ==
        layers1(f), s"replay changed layer $f")
  }

  test("crash between corpus write and absorption: replay completes the layers") {
    import spark.implicits._
    val dirC = java.nio.file.Files.createTempDirectory("graft_lm_cr").toString
    val dirR = java.nio.file.Files.createTempDirectory("graft_lm_crr").toString
    val v1 = (0L until 200L).map(i => doc(i, streamBody(i)))
    for (d <- Seq(dirC, dirR)) writeDocs(d, v1, "overwrite")
    LayerMaintenance.ensureMaintained(spark, dirC)
    val arrivals = (4000L until 4030L).map(i => doc(i, streamBody(i)))

    // simulate the first attempt crashing AFTER the corpus append but
    // BEFORE any layer absorbed: the batch's files are in the corpus,
    // the layers never saw it
    writeDocs(dirC, arrivals, "append")
    // the re-delivery: corpus write must be skipped (ids already
    // standing), layer absorption must run to completion
    val r = LayerMaintenance.ingestBatch(spark,
      arrivals.toDF("doc_id", "text", "lang", "source", "n_chars"), dirC)
    assert(r.map(_.action).sorted == Seq("appended", "appended", "appended", "appended", "appended",
        "merged", "merged"), r.toString)

    // corpus has exactly one copy, layers equal a from-scratch rebuild
    writeDocs(dirR, arrivals, "append")
    assert(sortedRows(spark.read.parquet(s"$dirC/documents.parquet")) ==
      sortedRows(spark.read.parquet(s"$dirR/documents.parquet")))
    LayerMaintenance.ensureMaintained(spark, dirR)
    for (f <- layers)
      assert(sortedRows(LayerMaintenance.maintainedLayer(spark, dirC, f)) ==
        sortedRows(LayerMaintenance.maintainedLayer(spark, dirR, f)),
        s"healed vs rebuilt: $f")
    assert(docfeatsCanon(dirC) == docfeatsCanon(dirR),
      "healed vs rebuilt: docfeats (decoded)")
  }

  test("streaming maintenance: N micro-batches ≡ one-shot batch ≡ rebuild; alias bumped per batch") {
    import spark.implicits._
    val dirS = java.nio.file.Files.createTempDirectory("graft_lm_s").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_lm_sb").toString
    val dirR = java.nio.file.Files.createTempDirectory("graft_lm_sr").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_lm_ck").toString
    val v1 = (0L until 300L).map(i => doc(i, streamBody(i)))
    val arrivals = (1000L until 1060L).map(i => doc(i, streamBody(i)))
    // one junk arrival the gate must reject (too short → never appended)
    val junk = doc(1060L, "tiny")

    for (d <- Seq(dirS, dirB, dirR)) writeDocs(d, v1, "overwrite")
    LayerMaintenance.ensureMaintained(spark, dirS)
    LayerMaintenance.ensureMaintained(spark, dirB)

    // STREAM path: 3 micro-batches through maintainStream's foreachBatch
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, String, Long)](spark)
    val q = LayerMaintenance.maintainStream(spark,
      mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"), dirS, ck)
    try {
      mem.addData(arrivals.take(20)); q.processAllAvailable()
      // after batch 1 the append alias must already be live: the
      // expected (new-fingerprint) name resolves to the standing table
      assert(LayerMaintenance.physicalName(spark, dirS, "shingles3") !=
        LayerMaintenance.expectedName(spark, dirS, "shingles3"))
      mem.addData(arrivals.slice(20, 40)); q.processAllAvailable()
      mem.addData(arrivals.drop(40) :+ junk); q.processAllAvailable()
    } finally q.stop()

    // BATCH path: the same arrivals as ONE ingestBatch call
    val report = LayerMaintenance.ingestBatch(spark,
      (arrivals :+ junk).toDF("doc_id", "text", "lang", "source", "n_chars"), dirB)
    assert(report.map(_.action).sorted == Seq("appended", "appended", "appended", "appended", "appended",
        "merged", "merged"))

    // REBUILD path: corpus v2 built from scratch
    writeDocs(dirR, v1 ++ arrivals, "overwrite")
    LayerMaintenance.ensureMaintained(spark, dirR)

    // the junk doc was gated out everywhere: corpora are identical
    for (d <- Seq(dirS, dirB))
      assert(sortedRows(spark.read.parquet(s"$d/documents.parquet")) ==
        sortedRows(spark.read.parquet(s"$dirR/documents.parquet")), s"corpus $d")
    for (f <- layers)
      assert(sortedRows(LayerMaintenance.maintainedLayer(spark, dirS, f)) ==
        sortedRows(LayerMaintenance.maintainedLayer(spark, dirR, f)),
        s"stream vs rebuild: $f") // transitively pins batch ≡ rebuild too
    for (f <- layers)
      assert(sortedRows(LayerMaintenance.maintainedLayer(spark, dirB, f)) ==
        sortedRows(LayerMaintenance.maintainedLayer(spark, dirR, f)),
        s"batch vs rebuild: $f")
    assert(docfeatsCanon(dirS) == docfeatsCanon(dirR),
      "stream vs rebuild: docfeats (decoded)")
    assert(docfeatsCanon(dirB) == docfeatsCanon(dirR),
      "batch vs rebuild: docfeats (decoded)")
    assertVocabSane(dirS)
  }
}
