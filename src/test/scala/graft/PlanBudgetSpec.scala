package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape budgets: the exchange (shuffle) count of every registered
  * query's initial physical plan, pinned exactly. A shuffle that creeps
  * into a map-side operator — or a broadcast that silently degrades to a
  * shuffle join — is a 100 TB regression long before it is a local bench
  * regression; this spec catches it at plan-build time. Budgets are the
  * measured census (`runMain graft.PlanAudit -counts`) at sf0.001 with
  * the test session's 4 shuffle partitions; an intentional plan change
  * updates the budget here alongside the operator.
  */
class PlanBudgetSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  /** name → exact exchange count of the pre-AQE plan. The interesting
    * tiers: 1 = map-side + presentation sort only (the whole ta/mm
    * family); 2-5 = shuffle-on-key aggregates and joins; the teens =
    * multi-stage pipelines (histogram percentiles, k-NN probe chains);
    * ss05 = sum of its four audited pipelines by construction. */
  private val budget = Map(
    // dd01 (r9): keeper via groupBy(sig)+join-back, not a sig window —
    // partial-agg shuffle + keeper-side exchange + presentation sort
    "dd01_exact_dedup" -> 3, "dd02_minhash_sig" -> 1,
    "dd03_minhash_lsh_pairs" -> 6, "dd04_ngram_jaccard_topk" -> 1,
    "dd05_simhash_sig" -> 1, "dd06_simhash_hamming" -> 1,
    // dd12: bucketed band self-join (no exchange) -> distinct + the
    // two kept joins + pair agg + final sort
    "dd12_ngram_jaccard_lsh" -> 5,
    // dd13 (r9): dd12's exact gated shape, containment scoring
    "dd13_shingle_containment" -> 5,
    // dd07: +1 exchange in r8 — the join against the materialized IVF
    // assignment that replaced the ground-truth label blocking key
    "dd07_embedding_neardup" -> 4,
    // dd08/dd10: reads of the materialized cluster layers (r8) + sort;
    // dd09: cluster-layer read + quality join + two-pass argmax
    "dd08_neardup_clusters" -> 1,
    "dd09_cluster_keeper" -> 7, "dd10_semantic_clusters" -> 1,
    // dd11: span layer bucketed by h (groupBy + join-back exchange-free)
    // + doc_id window exchange + final sort; at sf0.001 the tiny dup-h
    // side additionally broadcast-joins (one BroadcastExchange)
    "dd11_substring_spans" -> 3,
    "mm01_media_decode_meta" -> 1, "mm02_frame_sample" -> 1,
    "mm03_resize_plan" -> 1, "mm04_feature_extract" -> 1,
    // mm05 (r9): map-side decode+dHash into a pooled relation; keeper
    // via groupBy(phash)+join-back (dd01's shape) + presentation sort
    "mm05_phash_dedup" -> 3,
    "q01_workload_share" -> 5, "q02_dim_join_revenue" -> 5,
    "q03_rf_normalize" -> 4, "q04_percentiles_positional" -> 12,
    "q05_rollup_minmax_argmax" -> 2, "q06_threshold_severity" -> 1,
    // q08/q21/sp05/q24 (r15 evsrc intake): the user_id-bucketed events
    // layer satisfies the per-user clustering directly — q08's
    // top-1-per-user window, q21's session windows, sp05's
    // (event_type, user_id) partial agg and q24's per-user distinct all
    // lost their input exchange
    "q07_top1_per_group" -> 2, "q08_dedup_keep_max" -> 1,
    "q09_distinct_sorted" -> 2, "q10_warnings_collect" -> 2,
    "q11_union_anti_blocklist" -> 4, "q12_scalar_text" -> 1,
    "q13_json_extract" -> 1, "q14_date_arithmetic" -> 2,
    "q15_ratio_window_partitioned" -> 5, "q16_avg_exact" -> 3,
    "q17_shape_counts" -> 3, "q18_semi_anti_join" -> 5,
    "q19_window_hourly" -> 2, "q20_rollup_percentiles_3level" -> 14,
    "q21_sessionize" -> 1, "q22_asof_join" -> 2,
    "q23_range_join_bins" -> 14, "q24_kmv_distinct" -> 2,
    "sp01_split_assign" -> 1, "sp02_stratified_sample" -> 2,
    "sp03_contamination_exact" -> 3, "sp04_contamination_ngram" -> 4,
    "sp05_temporal_split_audit" -> 2, "sp06_sequence_pack" -> 2,
    // sp07/sp09: 7 -> 3 in r8 — the empty-partition windows became
    // 1-row broadcast-totals joins over persisted bounded audit
    // relations (counts are of the tree-walk census, which reads a
    // persisted subplan's exchanges once, not per reference)
    "sp07_mixture_resample" -> 3, "cp01_corpus_manifest" -> 1,
    "cp02_training_batches" -> 5,
    // cp03: a read of the materialized v2 manifest + presentation sort
    // (the cluster closure / keeper argmax / span pass are layer-write
    // costs, like cp01's gate pass)
    "cp03_manifest_v2" -> 1,
    // cp04: batch-sized probes of the built sig + band indexes — the
    // candidate distinct, the verify-chain joins/aggs and the final
    // left-join assembly; every input is a bucketed layer read
    // (r15: 13 -> 14 — batch sigs read from docfeats instead of a text
    // scan + md5: one layer-read join more, one corpus text scan less)
    // (14 -> 12 when layer buckets came to match the session's shuffle
    // partitions: the two verify-chain aggregates feeding the final
    // left joins are already hash-partitioned like the bucketed side,
    // so their re-shuffle to the old 32-bucket count is gone)
    "cp04_incremental_ingest" -> 12,
    // cp05 (r9): diff of two published doc_id-bucketed manifests —
    // the version join + presentation sort, nothing corpus-derived
    // at query time
    "cp05_corpus_version_diff" -> 2,
    "sp08_shuffle_order" -> 5, "sp09_source_cap" -> 3,
    // sp10 (r9): sp07's broadcast-totals shape — source counts agg,
    // kept counts agg, presentation sort; the pow weights live on the
    // source-bounded pooled audit relation
    "sp10_temperature_mixture" -> 3,
    // ss02/ss04 (r13): the query-time capPerKey membership window (and
    // its per-query norm derivation) moved into the built cap+spill
    // ivfmem layer — every probe path lost 2 exchanges.
    // r15 (embsrc intake): the raw embeddings scan became a
    // vec_id-bucketed layer read, so every vec_id/query_id-keyed
    // groupBy in the probe chains (qel norms, exploded dots) rides the
    // bucket partitioning — each probe path lost 3 more exchanges
    "ss01_knn_bruteforce" -> 3, "ss02_knn_ivf" -> 7,
    "ss03_knn_lsh" -> 5, "ss04_knn_ivf_multiprobe" -> 7,
    // ss12 (r15): adaptive distance-ratio-stop routing — ss02's probe
    // shape exactly (the stop filter rides the same routing window)
    "ss12_knn_ivf_adaptive" -> 7,
    // ss05 (r15 restructure): ONE rank-carried nprobe=2 probe serves
    // h1/h2 and ss07's candidates; ss06/ss07 share one pooled PqServe
    // (lut/rn2); + the embsrc bucketing drops (59 -> 29)
    "ss05_knn_recall_audit" -> 29,
    // ss06: reads the materialized code+codebook layers; the censused
    // exchanges are the small derived aggs (cbn/rn2/lut/qn2), the
    // scored partial-sum and the per-query window + final sort
    // (r15 embsrc: qsub/qn2/lut fold onto the bucket partitioning)
    "ss06_knn_pq" -> 5,
    // ss07: composes the two built indexes — IVF routing (cell probe
    // chain) + ADC partial-sum over candidate codes + shortlist window
    // + broadcast exact rerank + final sort (r15 embsrc: -7, same
    // vec_id-keyed eliding as ss02/ss06)
    "ss07_knn_ivfpq" -> 13,
    // ss08 (r9, r10 de-dedup'd): ss04's routing chain (cell probe) +
    // capped-cell scan; the theta filter REPLACES the top-k rank window
    // — no per-query window over the scan, and no per-pair dedup at all
    // (ivfAssign is one-cell-per-vector, so a pair joins at most once)
    "ss08_range_search" -> 7,
    // ss09 (r9): ss04's routing + built-member scan with the
    // metadata predicate joined into the membership BEFORE scoring —
    // +1 for the predicate side's exchange
    "ss09_knn_filtered" -> 8,
    // ss10 (r10): ss08's radius chain (7) + ss09's predicate-side
    // exchange (+1) — the composition adds nothing else
    "ss10_range_filtered" -> 8,
    // ss11 (r13): assignment ⋈ membership accounting — the two layer
    // reads, the two groupings' exchanges fold into one pooled join
    "ss11_ivf_cap_audit" -> 3,
    "ta01_langid" -> 1, "ta02_quality_score" -> 1,
    "ta03_token_counts" -> 1, "ta04_fingerprint" -> 1,
    "ta05_lexical_stats" -> 1, "ta06_repetition_stats" -> 1,
    "ta07_pii_scrub" -> 1, "ta08_quality_gate" -> 1,
    "ta09_rarity_score" -> 4, "ta10_corpus_diagnostics" -> 6,
    "ta11_boilerplate" -> 1,
    // ta12 (r15 layer-served): per-doc unigram histogram explode off
    // the bucketed docfeats read, head broadcast + tail int join, one
    // per-doc agg + sort; the corpus-total crossJoin is GONE — the
    // total folds into the uniprobid layer at build (6 -> 4)
    "ta12_lm_perplexity" -> 4,
    // ta13: zero-shuffle map-side column program + presentation sort
    // (r15: the fold runs over the stored clf histogram; weights still
    // arrive as an in-plan literal from the model-table load)
    "ta13_hash_classifier" -> 1,
    // ta14 (r15 layer-served): the r12 per-branch partial-aggregate
    // shape over the docfeats id stream — bigrams are a map-side
    // transform of the stored int sequence (no tokenize), the head
    // broadcast keys on one packed long, and the first/backoff unigram
    // probes join the int-keyed uniprobid layer (11 -> 8: the string
    // model-table exchanges collapsed into the id-keyed layer builds)
    "ta14_bigram_lm" -> 8,
    // ta15 (r15 layer-served): docfeats n_tokens + the pruned documents
    // lang join (both doc_id-bucketed — the join itself is exchange-
    // free; +1 is the (lang,bucket) agg moving off the map-side scan)
    // -> bounded-relation share windows -> final sort
    "ta15_length_histogram" -> 4,
    // ta16 (r12): zero-shuffle map-side encode (vocab arrives as a
    // BROADCAST hash map probed by the VocabDocStats kernel — the r9
    // typedlit map's element_at probes were O(|vocab|) linear scans)
    // + presentation sort
    "ta16_vocab_encode" -> 1,
    // ta17 (r15 layer-served): histogram fold (n_tokens/n_bpe) + the
    // first-8 ids8 probe, both against the broadcast id-keyed lexicon
    // over bucketed docfeats reads, joined on doc_id + final sort —
    // five SMALL exchanges replace the corpus text scan + kernel
    // (the kernel swap surface ta17With keeps its 1-exchange shape,
    // pinned in OperatorsSpec)
    "ta17_bpe_encode" -> 5,
    // ta18 (r12): kernel per-doc counts (0) + bucket agg (1) + per-lang
    // share window (1) + sort (1) — the r10 count join's 2 are gone
    "ta18_bpe_length_histogram" -> 3,
    // sp11 (r15 layer-served): the docfeats histogram fold's agg + lang
    // left-join exchanges (+2) replace the kernel text scan; then the
    // sp06 pack repartition (1) + presentation sort (1)
    "sp11_bpe_pack" -> 4)

  /** sf1.0 budgets where they differ from the small tree — all four are
    * SIZE-DRIVEN STRATEGY FLIPS (a side outgrowing the broadcast
    * threshold, or an SMJ landing on already-partitioned sides), i.e.
    * exactly what stats-based planning is for. Measured census
    * (`PlanAudit -counts`, `testdata/sf1.0`, Zipfian corpus, r6);
    * pinning BOTH scales means a plan regression at either can no
    * longer hide inside a "flips are allowed" tolerance (r5 verdict
    * #5). Queries absent here budget identically at both scales. */
  private val sf1Overrides = Map(
    "dd03_minhash_lsh_pairs" -> 8,  // verify-chain joins exceed broadcast threshold
    "q20_rollup_percentiles_3level" -> 12, // argmax join -> SMJ on partitioned sides
    "sp04_contamination_ngram" -> 5, // train-side gram relation outgrows broadcast
    "dd11_substring_spans" -> 2,     // dup-h side outgrows broadcast -> bucketed SMJ
    "dd12_ngram_jaccard_lsh" -> 7,   // kept/denominator sides outgrow broadcast
    "dd13_shingle_containment" -> 7, // same flip as dd12 (shared gated shape)
    "cp04_incremental_ingest" -> 14) // verify-chain sides outgrow broadcast (dd03's flip; r15 +1 = the docfeats batch-sig join, same delta as the base budget; 16 -> 14 with the base budget's bucket-count drop)

  private val sf1Dir = "testdata/sf1.0"

  /** sf10 budgets for the round-9-censused operator set (the r8/r9
    * newcomers + the r9 rewrites) where they differ from sf1.0 — both
    * flips are size-driven strategy selection (r6 precedent):
    * cp04's two verify-chain joins land back on co-bucketed SMJ
    * instead of broadcast at sf10 stats, and one of ss07's derived agg
    * sides flips to reuse. Only this set is pinned at sf10 — a full
    * 75-query sf10 plan build pays every layer build and would double
    * the suite's wall time for no extra signal. */
  private val sf10Set = Set(
    "dd01_exact_dedup", "dd12_ngram_jaccard_lsh", "ss07_knn_ivfpq",
    "cp03_manifest_v2", "cp04_incremental_ingest", "ta12_lm_perplexity",
    "ta13_hash_classifier", "ta14_bigram_lm", "mm05_phash_dedup")
  private val sf10Overrides = Map(
    "cp04_incremental_ingest" -> 13, // broadcast -> co-bucketed SMJ
    // r13: 21 -> 19 — the members-layer read replaced the query-time
    // cap window, and at sf10 stats one derived agg side is reused.
    // r15 embsrc intake: 19 -> 14 (the vec_id-keyed eliding, +1 vs the
    // sf0.001 census's 13 from the same agg-side reuse as before)
    "ss07_knn_ivfpq" -> 14,
    // ta14 (r15 layered plan): at sf10 the bigram model outgrows the
    // head cap (biprobid > BigramHeadK rows), so the head-miss branch
    // and its backoff legs materialize (coversAll elides them at
    // ≤sf1.0): the miss-probe join + backoff/tail branch aggs. 15 -> 12
    // once layer buckets matched the 4 shuffle partitions: the per-doc
    // aggregate over the doc_id-bucketed docfeats read keeps its
    // partitioning (-1), and the 4-file biprobid layer's size estimate
    // falls under the broadcast threshold (12 MB on disk vs 15 MB in 32
    // files), so both miss-probe sort-merge joins become broadcasts (-2)
    "ta14_bigram_lm" -> 12)
  private val sf10Dir = "testdata/sf10"

  test("every registered query has a budget (new queries must be budgeted)") {
    assert(SparkEntry.queries.keySet == budget.keySet)
    assert(sf1Overrides.keySet.subsetOf(budget.keySet))
  }

  private def auditAgainst(d: String, expected: String => Int): Unit = {
    val off = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, d)
      assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"),
        s"$name has a cartesian product")
      val ex = PlanAudit.exchangeCount(df)
      if (ex == expected(name)) None else Some(s"$name: $ex != ${expected(name)}")
    }
    assert(off.isEmpty, s"plan-shape drift:\n${off.mkString("\n")}")
  }

  test("exchange counts match the pinned budgets") {
    auditAgainst(dir, budget)
  }

  test("exchange counts match the pinned sf1.0 budgets (soak tree)") {
    // the soak tree is generated (tools/gen_sf.py 1.0 testdata/sf1.0)
    // and not shipped in-repo; pin it whenever it is present
    assume(new java.io.File(sf1Dir).isDirectory,
      s"$sf1Dir absent — generate it to pin the sf1.0 budgets")
    auditAgainst(sf1Dir, n => sf1Overrides.getOrElse(n, budget(n)))
  }

  test("newcomer exchange counts match the pinned sf10 budgets (soak tree)") {
    assume(new java.io.File(sf10Dir).isDirectory,
      s"$sf10Dir absent — generate it (tools/gen_sf.py 10 $sf10Dir) to pin sf10")
    val off = sf10Set.toSeq.sorted.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, sf10Dir)
      val expect = sf10Overrides.getOrElse(name,
        sf1Overrides.getOrElse(name, budget(name)))
      val ex = PlanAudit.exchangeCount(df)
      if (ex == expect) None else Some(s"$name: $ex != $expect")
    }
    assert(off.isEmpty, s"sf10 plan-shape drift:\n${off.mkString("\n")}")
  }

  test("no cartesian products; nested-loop joins only where broadcast-by-design") {
    // a BroadcastNestedLoop is legitimate in exactly two shapes here:
    // the ss01/ss05 exact baseline (10-row broadcast query set × scan)
    // and q01's ratio-of-total crossJoin of a broadcast 1-ROW aggregate
    // (q15's totals join has a partition equi-key, so it hash-joins).
    // ss03's 8×64 hyperplane crossJoin moved into the materialized
    // lshsig index BUILD (r6), so its query plan no longer carries one.
    // Anywhere else a nested loop means an equi-key was lost — the set
    // is pinned so a new one must be justified here.
    val allowedNl = Set(
      "ss01_knn_bruteforce", "ss05_knn_recall_audit", // 10-row broadcast
      "q01_workload_share",                           // 1-row totals
      // r8: mixRates/sp07/sp09 swapped their empty-partition windows
      // for the same 1-row broadcast-totals crossJoin (r7 verdict #2)
      "sp07_mixture_resample", "sp09_source_cap", "sp10_temperature_mixture",
      "cp02_training_batches")
      // (ta12 left the set in r15: its corpus-total scalar now folds
      // into the uniprobid layer at build, so no query-time crossJoin)
    val nl = Set.newBuilder[String]
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name has a cartesian product")
      if (plan.contains("BroadcastNestedLoop")) nl += name
    }
    assert(nl.result() == allowedNl,
      "nested-loop joins outside the documented broadcast-by-design set")
  }

  test("no unpartitioned window in any query plan (zero-WindowExec-warning invariant)") {
    // the r8 "zero `WindowExec: No Partition Defined` warnings in a full
    // bench run" property, pinned as a plan-walk so it can't silently
    // regress a third time (r9 verdict #1: ta16's vocab layer snuck one
    // back in at layer-build time — that side is guarded by the ensure()
    // check below; this test covers the 82 query plans themselves)
    val off = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      PlanAudit.unpartitionedWindows(SparkEntry.queries(name)(spark, dir))
        .map(w => s"$name: $w")
    }
    assert(off.isEmpty,
      s"unpartitioned window(s) in query plan:\n${off.mkString("\n")}")
  }

  test("layer builds refuse unpartitioned windows (ensure() guard fires)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_winguard_").toString
    val e = intercept[IllegalArgumentException] {
      graft.operators.DedupPrepare.ensure(spark, "winguard", tmp, () =>
        spark.range(10).toDF("doc_id")
          .withColumn("r", row_number().over(Window.orderBy(col("doc_id")))),
        Seq("doc_id"), Seq("doc_id"))
    }
    assert(e.getMessage.contains("unpartitioned window"))
  }
}
