package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Plan-shape regression guards: the properties that make these
  * operators scale must stay visible in the physical plan — a change
  * that silently loses pushdown or broadcasts would pass correctness
  * tests but regress at scale.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("resume scan pushes the range predicate and prunes columns") {
    val p = plan("cdc_resume_scan")
    assert(p.contains("event_id") && p.contains(">= 500"), p.take(800))
    // pruned read schema: only the three selected columns reach the scan
    assert(!p.contains("props"), "props column must be pruned from the scan")
  }

  test("q1 aggregates with map-side partial aggregation") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial_"), p.take(800))
  }

  test("dimension joins broadcast (q5, broadcast_part)") {
    assert(plan("q5_regional_revenue").contains("BroadcastHashJoin"))
    assert(plan("join_broadcast_part_revenue").contains("BroadcastHashJoin"))
  }

  test("top-k plans TakeOrderedAndProject, not a full sort") {
    assert(plan("sort_topk_lineitems").contains("TakeOrderedAndProject"))
  }

  test("zipf fit pre-trims the vocabulary with TakeOrderedAndProject before ranking") {
    val p = plan("text_zipf_fit")
    assert(p.contains("TakeOrderedAndProject"),
      "top-1000 trim must plan per-partition top-k, not a global single-partition window: " + p.take(800))
  }

  test("hard-negative mining keeps the ANN search shape (no cartesian, broadcast panel)") {
    val p = plan("sim_hard_negatives")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("BroadcastHashJoin"), "query panel must broadcast: " + p.take(600))
    assert(!p.contains("windowspecdefinition(vec_id"),
      "assignment must stay the native projection, not a per-vector window")
  }

  test("per-source cap plans WindowGroupLimit on both sides of the exchange") {
    val p = plan("pipeline_source_cap")
    assert(p.contains("WindowGroupLimit"),
      "rank<=cap must rewrite to a window group limit, not rank-then-filter the corpus: " + p.take(800))
  }

  test("semi/anti joins plan as such (no row explosion)") {
    assert(plan("join_semi_open_orders").contains("LeftSemi"))
    assert(plan("join_anti_no_orders").contains("LeftAnti"))
  }

  test("q4 existence join plans as a semi join") {
    assert(plan("q4_priority_late_ship").contains("LeftSemi"))
  }

  test("q10/q18 top-k joins keep TakeOrderedAndProject") {
    assert(plan("q10_returned_revenue").contains("TakeOrderedAndProject"))
    assert(plan("q18_large_orders").contains("TakeOrderedAndProject"))
  }

  test("q14/q19 broadcast the part dimension") {
    assert(plan("q14_promo_revenue").contains("BroadcastHashJoin"))
    assert(plan("q19_bracket_revenue").contains("BroadcastHashJoin"))
  }

  test("theta join stays an equi hash join with a residual condition, not a cartesian") {
    val p = plan("join_theta_linepairs")
    assert(!p.contains("CartesianProduct"), "theta join must key on l_orderkey")
    assert(p.contains("Join"), p.take(400))
  }

  test("edit-distance pairs fan out the probe side and broadcast the build side") {
    val p = plan("text_edit_distance_pairs")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("BroadcastNestedLoop"), p.take(600))
    assert(p.contains("hashpartitioning"), "probe side must be fanned out across cores")
  }

  test("banded edit-distance pairs stay an equi hash join on (prefix, band), never a nested loop") {
    val p = plan("text_edit_distance_pairs_banded")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p.take(600))
    assert(!p.contains("BroadcastNestedLoop"),
      "banded candidates must meet through the (p12, band) bucket keys, not a full scan per row")
    assert(!p.contains("CartesianProduct"), p.take(600))
    // the +/-10 residual runs AFTER the bucket join as a cheap filter
    assert(p.contains("abs"), "length residual must be present as a post-join filter")
  }

  test("containment pairs stream i<j candidates off posting lists, never a doc-level self-join") {
    for (q <- Seq("dedup_containment_pairs", "dedup_containment_capped")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("BroadcastNestedLoop"), q)
      // candidate generation is the pipelined double Generate over the
      // per-word posting list (posexplode + slice-explode), not a join
      // of exploded word rows against themselves
      assert(p.contains("Generate"), q)
      assert(p.contains("slice"), s"$q must stream i<j pairs via slice off the sorted list")
      // the final size lookups ride broadcasts onto the surviving pairs
      assert(p.contains("BroadcastHashJoin"), q)
    }
  }

  test("LSH candidate generation is a hash equi-join on (band, bucket), not a nested loop") {
    val p = plan("sim_lsh_topk")
    assert(!p.contains("BroadcastNestedLoop"),
      "OR-of-bands predicate would plan as BNLJ = full scan per query")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
  }

  test("LSH signatures are the native sign_bits expression, not interpreted lambdas") {
    val p = plan("sim_lsh_topk")
    assert(p.contains("sign_bits"), p.take(600))
    assert(!p.contains("zip_with"),
      "signature must not fall back to the interpreted aggregate/zip_with fold")
    val q = plan("dedup_embedding_pairs_lsh")
    assert(q.contains("element_sign_bits"), q.take(600))
  }

  test("IVF cell assignment is a projection over the broadcast codebook, not a window") {
    val p = plan("sim_ivf_topk")
    assert(!p.contains("windowspecdefinition(vec_id"),
      "per-row argmax against broadcast data must not shuffle the corpus")
  }

  test("decontamination broadcasts the benchmark shingles (no shuffle of the corpus side)") {
    val p = plan("pipeline_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"),
      "benchmark side is small by construction and must broadcast")
  }

  test("bloom decontamination prefilters with the codegen'd might_contain before the confirm join") {
    val p = plan("pipeline_decontaminate_bloom")
    assert(p.contains("might_contain"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"),
      "the confirm join's probe side is bloom-prefiltered and the build side broadcasts")
  }

  test("chunking is a pure explode projection (no join, no shuffle but the output sort)") {
    val p = plan("pipeline_chunk_overlap")
    val exchanges = "Exchange (\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.forall(_ == "rangepartitioning"),
      s"chunking must stay narrow except for the output sort: $exchanges\n" + p.take(600))
    assert(!p.contains("Join"), p.take(600))
  }

  test("approx top-k aggregates a sketch with a map-side partial, not a group-by hash map") {
    val p = plan("agg_approx_topk")
    assert(p.contains("approx_top_k"), p.take(800))
    assert(p.contains("partial_approx_top_k") || p.contains("partial_"),
      "sketch must combine map-side: " + p.take(800))
  }

  test("funnel's three window passes share one user_id exchange") {
    val p = plan("events_funnel_steps")
    val exchanges = "hashpartitioning\\(user_id".r.findAllMatchIn(p).size
    assert(exchanges <= 1,
      s"sequential funnel windows must reuse the same partitioning, found $exchanges\n" + p.take(800))
  }

  test("split assignment is a pure projection (no exchange, no join)") {
    val p = plan("pipeline_split_assign")
    // the ONLY exchange allowed is the output sort's rangepartitioning
    val exchanges = "Exchange (\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.forall(_ == "rangepartitioning"),
      s"hash-split must not shuffle except for the output sort: $exchanges\n" + p.take(600))
    assert(!p.contains("Join"), p.take(600))
  }

  test("minhash pair generation has no join (posting-list explode)") {
    val p = plan("dedup_minhash_pairs")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "pairs must come from per-bucket posting lists, not a self-join")
  }

  test("q7's dimension sides all broadcast; no cartesian from the pair filter") {
    val p = plan("q7_volume_shipping")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the region-pair filter must ride the broadcast dims, not a nested loop")
    assert("BroadcastHashJoin".r.findAllMatchIn(p).size >= 3, p.take(800))
  }

  test("q21 reads lineitem once (sole-late attribution is one grouped pass, not self-joins)") {
    val p = plan("q21_late_sole_supplier")
    val lineitemScans = "lineitem\\.parquet".r.findAllMatchIn(p).size
    assert(lineitemScans == 1,
      s"expected a single lineitem scan, found $lineitemScans\n" + p.take(800))
  }

  test("q22's average balance and dormancy checks don't shuffle the customer side twice") {
    val p = plan("q22_dormant_prospects")
    assert(p.contains("LeftAnti"), "dormancy must plan as an anti join")
    assert(!p.contains("CartesianProduct"),
      "the one-row scalar average must broadcast, not cartesian")
  }

  test("entropy gate is a pure projection (no join, no aggregate exchange)") {
    val p = plan("text_entropy")
    assert(!p.contains("Join"), p.take(600))
    // allowed exchanges: the fanOut repartition + the output sort
    val exchanges = "Exchange (\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.forall(e => e == "rangepartitioning" || e == "hashpartitioning"),
      s"unexpected exchange kinds: $exchanges")
    assert(!p.contains("HashAggregate"),
      "entropy must fold inside the row, not aggregate across rows")
  }

  test("weighted sample is one lang-partitioned window, no join") {
    val p = plan("sample_weighted")
    assert(!p.contains("Join"), p.take(600))
    val langExchanges = "hashpartitioning\\(lang".r.findAllMatchIn(p).size
    assert(langExchanges <= 1,
      s"bottom-k per language must shuffle on lang once, found $langExchanges")
  }

  test("q2's argmin stages share one l_partkey partitioning (no per-stage re-shuffle)") {
    val p = plan("q2_min_price_supplier")
    assert(!p.contains("Expand"), "argmin must not expand")
    val keyed = "Exchange hashpartitioning\\(([^,]+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keyed.forall(_.startsWith("l_partkey")),
      s"every hash exchange must key on l_partkey alone: $keyed")
  }

  test("q16's single distinct stacks aggregates instead of Expand") {
    val p = plan("q16_supplier_variety")
    assert(!p.contains("Expand"),
      "one distinct column must plan as partial-dedup aggregates, not Expand")
  }

  test("cross-entropy broadcasts the vocabulary and the total") {
    val p = plan("text_cross_entropy")
    assert(p.contains("BroadcastHashJoin"), "the word-frequency join must broadcast")
    assert(!p.contains("SortMergeJoin"), p.take(600))
  }

  test("histogram is a map-side-combine aggregate") {
    val p = plan("agg_histogram")
    assert(p.contains("partial_count") || p.contains("partial_"), p.take(600))
    assert(!p.contains("Join"), p.take(600))
  }

  test("retention reuses the user_id exchange between the cohort agg and the join") {
    val p = plan("events_retention_cohorts")
    val userExchanges = "hashpartitioning\\(user_id".r.findAllMatchIn(p).size
    assert(userExchanges <= 1,
      s"cohort agg and join must share one user_id partitioning, found $userExchanges\n" + p.take(800))
  }

  test("anomaly z-score computes all three window aggregates in one user_id pass") {
    val p = plan("events_anomaly_zscore")
    val userExchanges = "hashpartitioning\\(user_id".r.findAllMatchIn(p).size
    assert(userExchanges <= 1,
      s"count/avg/stddev share one RANGE frame and must share one exchange, found $userExchanges\n" + p.take(800))
    val windowOps = "\\bWindow\\b".r.findAllMatchIn(p).size
    assert(windowOps <= 1, s"expected a single Window operator, found $windowOps\n" + p.take(800))
  }

  test("KL drift: one corpus-sized shuffle; corpus frequencies derive from source counts") {
    val p = plan("text_kl_by_source")
    assert(!p.contains("SortMergeJoin"),
      "per-source totals and corpus frequencies are vocabulary-bounded and must broadcast")
    // at most one explode of the corpus in the final plan: the (source,
    // word) counts are localCheckpointed (their own single explode job)
    // and every rollup must reuse that pinned relation, not re-explode
    // the documents scan per consumer
    val generates = "Generate explode".r.findAllMatchIn(p).size
    assert(generates <= 1, s"expected at most one corpus explode, found $generates\n" + p.take(800))
    assert(p.contains("ExistingRDD"),
      "the shared (source, word) counts must be the checkpointed relation")
  }

  test("last-touch attribution shares one user_id exchange for the window carry") {
    val p = plan("events_attribution_last_touch")
    val userExchanges = "hashpartitioning\\(user_id".r.findAllMatchIn(p).size
    assert(userExchanges <= 1, s"found $userExchanges\n" + p.take(800))
    assert(!p.contains("Join"), "attribution is a window carry, not a self-join")
  }

  test("time-weighted average shares one user_id exchange between window and agg") {
    val p = plan("events_time_weighted_avg")
    val userExchanges = "hashpartitioning\\(user_id".r.findAllMatchIn(p).size
    assert(userExchanges <= 1, s"found $userExchanges\n" + p.take(800))
  }

  test("MAD broadcasts the per-class medians between the two percentile passes") {
    val p = plan("agg_mad_robust")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"),
      "the median table is bounded by the event-type domain and must broadcast")
  }

  test("BPE merge step takes top-20 via TakeOrderedAndProject, not a global sort") {
    val p = plan("text_bpe_merge_step")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("k-means update: native assignment, map-side-combined centroid sums") {
    val p = plan("sim_kmeans_update")
    assert(p.contains("nearest_cell"),
      "assignment must be the native zero-exchange argmax projection: " + p.take(600))
    assert(!p.contains("windowspecdefinition(vec_id"),
      "assignment must not shuffle the corpus through a per-vector window")
    // the exploded (cid, pos, val) rows must partial-aggregate before the
    // shuffle: the exchange then carries only partitions x k x dim rows
    assert(p.contains("partial_avg"),
      "centroid means must combine map-side: " + p.take(800))
    val hashExchanges = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(hashExchanges <= 1,
      s"one (cid,pos) exchange expected, found $hashExchanges\n" + p.take(800))
  }

  test("recall eval: broadcast panel joins, native assignment, no BNLJ row explosion") {
    val p = plan("sim_recall_eval")
    assert(p.contains("nearest_cell"),
      "IVF legs must assign via the native literal-codebook projection: " + p.take(600))
    // the exact ground-truth pass and the shortlist join both broadcast
    // the 8-query panel — the corpus side must never shuffle for them
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      "query panel must broadcast: " + p.take(600))
    // the q_id =!= n_id disequality alone would BNLJ the whole corpus;
    // it must ride on the broadcast of the tiny panel, never on a
    // corpus-vs-corpus nested loop (panel side is 8 rows, acceptable)
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("k-center step: pure-projection coverage sims, heap top-k, no exchange before the 8-row final") {
    val p = plan("sample_kcenter_step")
    assert(p.contains("nearest_cell"),
      "assignment must be the native literal-codebook projection: " + p.take(600))
    assert(p.contains("TakeOrderedAndProject"),
      "the 8 coverage holes must come from a heap top-k, not a global sort: " + p.take(600))
    assert(!p.contains("Exchange hashpartitioning"),
      "no hash exchange belongs in a projection + top-k plan: " + p.take(600))
  }

  test("quality LR step: one corpus pass with map-side-combined gradient partials") {
    val p = plan("text_quality_lr_step")
    assert(p.contains("partial_sum") || p.contains("partial_"),
      "gradient terms must partial-aggregate before any exchange: " + p.take(800))
    // a 4-value global aggregate: nothing may hash-shuffle the corpus
    assert(!p.contains("Exchange hashpartitioning"),
      "the gradient is a global agg — no hash exchange expected: " + p.take(800))
  }

  test("scd2 history: both windows share ONE hash exchange on the key") {
    val p = plan("cdc_scd2_history")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1,
      s"change-detect lag and interval lead/row_number must reuse the same " +
        s"user_id partitioning (got $exchanges hash exchanges): " + p.take(800))
  }

  test("zorder stats: codegen'd integer morton key, no cartesian, partial aggs") {
    val p = plan("layout_zorder_stats")
    assert(!p.contains("CartesianProduct"),
      "bounds must broadcast (1 row), never cartesian: " + p.take(600))
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("UDF"),
      "the morton key must stay pure integer arithmetic (codegen), no UDF")
    assert(p.contains("partial_"),
      "bucket stats must map-side combine before the 64-group exchange: " + p.take(600))
  }

  test("domain reweight: corpus touched by one partial-agg pass, stats broadcast back") {
    val p = plan("pipeline_domain_reweight_step")
    assert(p.contains("partial_"),
      "domain sums must partial-aggregate: " + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("pagerank step: edge contributions equi-join and partial-aggregate, no cartesian") {
    val p = plan("graph_pagerank_step")
    assert(!p.contains("CartesianProduct"),
      "rank mass must flow through the src equi-join: " + p.take(600))
    assert(p.contains("partial_"),
      "per-destination sums must map-side combine: " + p.take(600))
  }

  test("decay aggregate: 1-row max broadcasts back, rollup partial-aggregates") {
    val p = plan("agg_decay_halflife")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("partial_"), p.take(600))
  }

  test("incremental dedup: the archive never joins through a shuffle") {
    val p = plan("pipeline_incremental_dedup")
    assert(p.contains("BroadcastHashJoin"),
      "batch hashes must broadcast so the archive streams map-side: " + p.take(600))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "a shuffled join would reshuffle the archive — the thing this " +
        "operator exists to avoid: " + p.take(800))
  }

  test("funnel latency: exact grouped percentiles over the converted population, no global sort") {
    val p = plan("events_funnel_latency")
    // the percentile must stay the exact grouped aggregate with
    // map-side partials (deterministic, and it runs on the TINY
    // converted population), never an approximation...
    assert(p.contains("partial_percentile"),
      "exact grouped percentile with map-side partials expected: " + p.take(800))
    assert(!p.contains("approx_percentile"), p.take(600))
    // ...and never a rewrite that globally sorts the measure column
    // (rank-arithmetic percentile over a full sort — the scale trap)
    assert(!p.contains("rangepartitioning(secs") && !p.contains("Sort [secs"),
      "secs must not be globally sorted: " + p.take(800))
    // the funnel windows keep the ONE user_id partitioning
    assert(p.contains("windowspecdefinition(user_id"), p.take(600))
  }

  test("incremental neardup: the archive index never joins through a shuffle") {
    val p = plan("pipeline_incremental_neardup")
    assert(p.contains("BroadcastHashJoin"),
      "batch band rows must broadcast so the archive index streams map-side: " + p.take(600))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "a shuffled join would reshuffle the archive index — the thing this " +
        "operator exists to avoid: " + p.take(800))
    // and the corpus-side text work must be the BATCH only: the raw
    // documents scan feeds the plan exactly twice (batch bands + the
    // flag join-back); archive signatures come from the sidecar parquet
    assert(p.contains("minhash_archive2_"),
      "archive signatures must come from the persisted sidecar: " + p.take(800))
  }

  test("neardup confirm: one archive text scan, no cartesian, candidates off the sidecar") {
    val p = plan("pipeline_neardup_confirmed")
    assert(!p.contains("CartesianProduct"), p.take(600))
    // r18: the candidate-pair table is pinned (localCheckpoint) at
    // build time, so the sidecar scan no longer appears in the FINAL
    // plan — it appears exactly once inside the pair derivation, which
    // the "incremental neardup" test above still pins end-to-end. Here
    // assert the pinned pair table is what the confirm stage consumes
    // (checkpoint RDD scans, not a re-derivation)...
    assert(p.contains("Scan ExistingRDD"),
      "confirm must consume the pinned candidate table: " + p.take(600))
    assert(!p.contains("minhash_archive2_"),
      "sidecar must be read once at pair build, not re-scanned per consumer: " + p.take(600))
    // ...and the raw corpus text reaches the plan at most once now (the
    // batch flag join-back; the two hit-word fetches are pinned too)
    val scans = "documents.parquet".r.findAllIn(p).length
    assert(scans <= 1, s"expected <=1 corpus scans, got $scans: " + p.take(800))
  }

  test("auc eval: centroids broadcast to the scoring join, no cartesian") {
    val p = plan("eval_auc_centroid")
    assert(p.contains("BroadcastHashJoin"),
      "the labels x d centroid table must broadcast: " + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("partial_"), p.take(600))
  }

  test("kn bigram: heap top-k over the vocab-bounded stats, no cartesian") {
    val p = plan("text_kn_bigram")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-100 must be a heap top-k, not a global sort: " + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("pca power step: row-local projection, one d-group partial-agg exchange") {
    val p = plan("sim_pca_power_step")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("partial_"),
      "the back-projection must map-side combine to partitions x d sums: " + p.take(600))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1,
      s"one d-group exchange expected, got $exchanges: " + p.take(800))
  }

  test("perplexity bucket: seed LM broadcasts, scoring pass scans the corpus once") {
    val p = plan("text_perplexity_bucket")
    assert(p.contains("BroadcastHashJoin"),
      "the vocab-bounded seed model must broadcast to the scoring join: " + p.take(600))
    // the single-aggregation refactor: the |V| and N_seed rollups read
    // the checkpointed word-count relation, so the corpus file appears
    // in exactly ONE scan (the scoring pass)
    val corpusScans = "documents.parquet".r.findAllIn(p).length
    assert(corpusScans == 1,
      s"expected one corpus scan, got $corpusScans: " + p.take(800))
  }

  test("sq top-k: partial group-limits bound the shortlist before any exchange") {
    val p = plan("sim_sq_topk")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      "the top-C shortlist must map-side group-limit, not sort whole partitions: " + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(600))
    // both the 2-scalar bounds and the 8-query panel broadcast
    assert("BroadcastExchange".r.findAllIn(p).length >= 2, p.take(800))
  }

  test("calibration bins: one corpus pass, map-side partials, no join") {
    val p = plan("eval_calibration_bins")
    assert(p.contains("partial_sum"), p.take(600))
    assert(!p.contains("Join"), "a join would mean a second corpus pass: " + p.take(600))
    val corpusScans = "documents.parquet".r.findAllIn(p).length
    assert(corpusScans == 1, s"expected one corpus scan, got $corpusScans")
  }

  test("time travel: one user_id exchange for the history, 2-row as-of panel broadcasts") {
    val p = plan("cdc_time_travel")
    val userExchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userExchanges == 1,
      s"the change-detect and interval windows must share one user_id shuffle, got $userExchanges: " + p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
      "the as-of panel is 2 rows — it must broadcast against the history: " + p.take(800))
  }

  test("epoch plan: one partial-agg corpus pass, totals row broadcasts back") {
    val p = plan("pipeline_epoch_plan")
    assert(p.contains("partial_sum"), p.take(600))
    assert(!p.contains("SortMergeJoin"), "planning arithmetic must not shuffle-join: " + p.take(600))
    val corpusScans = "documents.parquet".r.findAllIn(p).length
    assert(corpusScans == 1, s"expected one corpus scan, got $corpusScans")
  }

  test("dataset card: one Expand-fed corpus pass serves all grouping-set levels") {
    val p = plan("pipeline_dataset_card")
    assert(p.contains("Expand"), "grouping sets must plan through Expand: " + p.take(600))
    assert(!p.contains("Join"), "a join would mean per-level corpus passes: " + p.take(600))
    val corpusScans = "documents.parquet".r.findAllIn(p).length
    assert(corpusScans == 1, s"expected one corpus scan, got $corpusScans")
  }

  test("bradley-terry: one lang window pass, strength vector broadcasts into step 2") {
    val p = plan("eval_bradley_terry_step")
    assert(p.contains("BroadcastHashJoin"),
      "the |sources|-row strength vector must broadcast: " + p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "nothing in the MM step justifies a shuffled join: " + p.take(800))
  }

  test("lsh tuning: posting-list Generate pipeline, no cartesian, sizes broadcast") {
    // the histogram BUILD (paid once per (dir, sample, session)) keeps
    // the capped-jaccard shape...
    val p = graft.llm.DedupQueries.tuningHistFresh(spark, dir, sample = false)
      .queryExecution.executedPlan.toString
    assert(p.contains("Generate"), p.take(600))
    assert(p.contains("BroadcastHashJoin"), "doc-size lookups must broadcast: " + p.take(600))
    assert(!p.contains("CartesianProduct"), "the config fan-out is an explode, not a cross join")
    // ...and the cached QUERY never re-scans the corpus: the sweep runs
    // off the checkpointed <=1001-row histogram
    val q = plan("dedup_lsh_tuning")
    assert(!q.contains("documents.parquet"),
      "cached tuning sweep must not re-read the corpus: " + q.take(600))
    assert(!q.contains("CartesianProduct"))
  }

  test("judge agreement: both verdicts fuse into one rollup Expand pass, no join") {
    val p = plan("eval_judge_agreement")
    assert(p.contains("Expand"), "rollup must plan through Expand: " + p.take(600))
    assert(!p.contains("Join"), "both judges are projections over the same row: " + p.take(600))
    val corpusScans = "documents.parquet".r.findAllIn(p).length
    assert(corpusScans == 1, s"expected one corpus scan, got $corpusScans")
  }

  test("temperature mix: one corpus pass, alpha fan-out is an explode, no join") {
    val p = plan("pipeline_temperature_mix")
    assert(p.contains("Generate"), "alpha fan-out must be an explode: " + p.take(600))
    assert(!p.contains("Join"), "all mixing arithmetic lives on the tiny table: " + p.take(600))
    val corpusScans = "documents.parquet".r.findAllIn(p).length
    assert(corpusScans == 1, s"expected one corpus scan, got $corpusScans")
  }

  test("length batches: both strategies number off ONE lang exchange, no join") {
    val p = plan("pipeline_length_batches")
    assert(!p.contains("Join"), p.take(600))
    val corpusScans = "documents.parquet".r.findAllIn(p).length
    assert(corpusScans == 1, s"expected one corpus scan, got $corpusScans")
    val langExchanges = "Exchange hashpartitioning\\(lang#".r.findAllIn(p).length
    assert(langExchanges == 1,
      s"both strategy windows must share one lang exchange, got $langExchanges: " + p.take(800))
  }

  test("psi drift: one corpus pass, dense-bin agg, reference via tiny window, no join") {
    val p = plan("eval_psi_drift")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(600))
    assert(!p.contains("Join"), "the reference histogram is a window, not a join: " + p.take(600))
    val corpusScans = "documents.parquet".r.findAllIn(p).length
    assert(corpusScans == 1, s"expected one corpus scan, got $corpusScans")
  }

  test("resample: in-hour pick is an algebraic max_by aggregate, fill window partitions by user") {
    val p = plan("events_resample_hourly")
    assert(p.contains("max_by"),
      "per-hour last observation must be an aggregate, not a window over raw events: " + p.take(600))
    assert(p.contains("windowspecdefinition(user_id"),
      "forward-fill must partition by user (embarrassingly parallel): " + p.take(600))
  }

  test("markov entropy: transition stream windows per user, never globally") {
    val p = plan("events_markov_entropy")
    assert(p.contains("windowspecdefinition(user_id"), p.take(600))
    assert(!p.contains("ntile"), p.take(300))
  }

  test("rfm: quintile thresholds broadcast back — no ntile, no global per-user sort") {
    val p = plan("events_rfm_segments")
    assert("(?<!perce)ntile\\(".r.findFirstIn(p).isEmpty,
      "tiles must come from broadcast thresholds, not a single-partition ntile window: " + p.take(600))
    assert(p.contains("percentile"), p.take(600))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row threshold panel must broadcast: " + p.take(600))
  }

  test("basket affinity: Generate-pipelined pairs (no self-join), top-100 trims before lift enrichment") {
    val p = plan("join_basket_affinity")
    assert(p.contains("TakeOrderedAndProject"),
      "pair trim must be per-partition top-k: " + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("Generate"),
      "i<j pairs must stream off the basket arrays, not a lineitem self-join: " + p.take(600))
    assert(!p.contains("SortMergeJoin"),
      "the only joins are the 100-row enrichment — they must broadcast: " + p.take(800))
  }

  test("dsir: the 512-row LM broadcasts into the scoring join") {
    val p = plan("text_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("heaps fit: prefix-bucket growth needs no cartesian (bounds and fit broadcast)") {
    val p = plan("text_heaps_fit")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("source affinity: posting-list Generate pipeline, sizes broadcast, no cartesian") {
    val p = plan("dedup_source_affinity")
    assert(p.contains("Generate") && p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("matryoshka recall: panel broadcasts, d fan-out explodes after the one corpus join") {
    val p = plan("sim_recall_matryoshka")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the 8-query panel must broadcast: " + p.take(600))
    assert(p.contains("Generate"),
      "truncation levels must explode AFTER the join, not multiply it: " + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("approx percentile twin: partial sketch combine, no global sort of the measure") {
    val p = plan("agg_percentiles_approx")
    // the sketch must aggregate with map-side partials (fixed-size
    // state merged at the final agg — the property that makes it the
    // 100 TB form next to the value-buffering exact percentile)
    assert(p.contains("partial_percentile_approx"),
      "approx_percentile with map-side partial sketches expected: " + p.take(800))
    // and no rewrite may globally sort the measure column (the 3-row
    // output orderBy is fine; a rank-arithmetic percentile over a full
    // sort of o_totalprice is not)
    assert(!p.contains("rangepartitioning(o_totalprice") && !p.contains("Sort [o_totalprice"),
      "o_totalprice must not be globally sorted: " + p.take(800))
    assert(!p.contains("windowspecdefinition"), p.take(600))
  }

  test("bucketed co-located join: SortMergeJoin with NO exchange on either side") {
    val p = plan("join_bucketed_colocated")
    assert(p.contains("SortMergeJoin"), p.take(600))
    // the bucket layout must satisfy the join's distribution directly —
    // any hashpartitioning exchange on a join key means the pre-paid
    // write-time shuffle was wasted
    assert(!p.contains("Exchange hashpartitioning(l_orderkey")
      && !p.contains("Exchange hashpartitioning(o_orderkey"),
      "join keys must not re-shuffle — the bucket layout provides the distribution: " + p.take(900))
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      "scan must actually read the bucketed layout: " + p.take(900))
  }

  test("partition pruning: the event_type predicate prunes at the LISTING, value pushes to the scan") {
    val p = plan("layout_partition_pruning")
    assert(p.contains("PartitionFilters: [") && p.contains("event_type#"),
      "partition column predicate must prune directories: " + p.take(900))
    assert(!p.contains("PartitionFilters: []"),
      "empty PartitionFilters = the layout is not pruning: " + p.take(900))
    assert(p.contains("PushedFilters: [") && p.contains("GreaterThan(value"),
      "the data predicate must reach the parquet scan: " + p.take(900))
  }

  test("graph beam search: the corpus never joins through a shuffle") {
    val p = plan("sim_graph_topk")
    assert(p.contains("BroadcastHashJoin"),
      "panel/beam/candidate ids must broadcast so the corpus and the " +
        "graph sidecar stream map-side: " + p.take(600))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "a shuffled join would re-shuffle the corpus for a <=192-id fetch: " + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("windowspecdefinition(vec_id"),
      "assignment must stay the native NearestCell projection")
  }

  test("phash pairs: hash is a partition-local projection, candidates stream join-free off buckets") {
    val p = plan("multimodal_phash_pairs")
    assert(p.contains("Generate"),
      "i<j candidates must stream off the bucket posting lists: " + p.take(600))
    assert(!p.contains("Join"),
      "the whole pipeline is projection + one bucket shuffle — no join anywhere: " + p.take(600))
  }

  test("dim stats: map-side partials reduce the posexplode fan before the d-key exchange") {
    val p = plan("sim_dim_stats")
    assert(p.contains("partial_sum") || p.contains("partial_"),
      "per-dimension sums must combine map-side — the wire carries " +
        "O(tasks x d), not the N x d explode: " + p.take(800))
    assert(!p.contains("Join"),
      "one table, one aggregation — no join anywhere: " + p.take(600))
  }

  test("anisotropy: one corpus pass per leg, tiny-frame cross only") {
    val p = plan("sim_anisotropy")
    assert(p.contains("partial_"),
      "unit-vector sums must combine map-side: " + p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the 1-row x 1-row combine must not shuffle-join: " + p.take(600))
    assert(!p.contains("windowspecdefinition"),
      "no window over corpus rows — the pairwise mean collapses algebraically")
  }

  test("pagerank centrality under the byte cap: the driver fold plans one local relation") {
    val p = plan("sim_pagerank_central")
    assert(p.contains("LocalTableScan"),
      "the per-cell top-3 folded on the driver returns as a local relation: " + p.take(800))
    assert(!p.contains("FileScan") && !p.contains("Parquet") && !p.contains("Exchange"),
      "no scan and no exchange may follow the driver fold: " + p.take(800))
  }

  test("pagerank centrality: sidecar-only dataflow, map-side per-cell top-3") {
    // threshold -1 turns the driver fold off: the distributed loop runs
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = try plan("sim_pagerank_central")
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(!p.contains("FileScan") && !p.contains("Parquet"),
      "iteration state and edges are pinned sidecar frames — the corpus " +
        "parquet must never be scanned by the query's own plan: " + p.take(800))
    assert(p.contains("WindowGroupLimit"),
      "the per-cell top-3 must group-limit map-side before the cid " +
        "exchange, not rank the full N-row score frame: " + p.take(800))
  }

  test("length trim: bounds broadcast back, keep-pass aggregates map-side") {
    val p = plan("curate_length_trim")
    assert(p.contains("BroadcastHashJoin"),
      "the O(|sources|) bounds row must broadcast to the second corpus " +
        "pass, not shuffle it: " + p.take(800))
    assert(p.contains("partial_"),
      "the keep-flag aggregation must combine map-side: " + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("semantic decontamination: panel broadcasts, corpus streams, top-3 group-limits map-side") {
    val p = plan("pipeline_decontaminate_semantic")
    assert(p.contains("BroadcastHashJoin"),
      "the eval panel (and the 24-row report) must broadcast: " + p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the corpus must never shuffle for a panel-bounded probe: " + p.take(800))
    assert(p.contains("WindowGroupLimit"),
      "per-eval top-3 must group-limit before the q_id exchange: " + p.take(800))
    assert(!p.contains("windowspecdefinition(vec_id"),
      "assignment must stay the native NearestCell projection")
  }

  test("centered anisotropy: mean re-enters as a literal, no corpus shuffle join") {
    val p = plan("sim_center_anisotropy")
    assert(p.contains("partial_"),
      "centered unit-vector sums must combine map-side: " + p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the 64-value mean is an array literal — the corpus must never " +
        "shuffle-join against it: " + p.take(800))
    assert(!p.contains("windowspecdefinition"),
      "no window over corpus rows — the pairwise mean collapses algebraically")
  }

  test("bpe fertility: embarrassingly-parallel scan, |langs|-key agg, no join") {
    val p = plan("text_bpe_fertility")
    assert(p.contains("partial_"),
      "lang aggregation must combine map-side: " + p.take(800))
    assert(!p.contains("Join"),
      "the merge chain is a projection, not a join against a merge table: " + p.take(600))
  }

  test("concurrency: within-hour windows partition by hour; only the tiny carry is single-partition") {
    val p = plan("events_concurrency")
    assert(p.contains("hashpartitioning(hour"),
      "the within-hour running sum must partition by hour, not sort globally: " + p.take(800))
    val singles = "Exchange SinglePartition".r.findAllIn(p).length
    assert(singles <= 2,
      s"only the calendar-bounded carry/spine may be single-partition (got $singles): " + p.take(800))
  }

  test("NB langid: model broadcasts, one doc-keyed join, argmax is row-local") {
    val p = plan("text_nb_langid")
    assert(p.contains("BroadcastHashJoin"),
      "the vocabulary-bounded model must broadcast: " + p.take(800))
    // the designed shape: hits reduce per doc_id, then ONE doc-keyed
    // equi-join against the stats projection — never a (doc, lang)
    // dense join (5x the rows) and never a per-doc window argmax
    val smjCount = "SortMergeJoin".r.findAllIn(p).length +
      "ShuffledHashJoin".r.findAllIn(p).length
    assert(smjCount <= 1, s"only the doc-keyed stats join may shuffle (got $smjCount): " + p.take(800))
    assert("(SortMergeJoin|ShuffledHashJoin) \\[doc_id#\\d+L?, ".r.findFirstIn(p).isEmpty,
      "no (doc, lang)-keyed dense join — the shuffle join keys on doc_id alone")
    assert(!p.contains("windowspecdefinition(doc_id"),
      "per-doc argmax must be the row-local array_max, not a per-doc window")
  }

  test("KMV: per-type k-smallest rewrites to WindowGroupLimit") {
    val p = plan("agg_kmv_distinct")
    assert(p.contains("WindowGroupLimit"),
      "rank<=k must group-limit so at most k rows per type survive: " + p.take(800))
  }

  test("CUPED: per-arm sufficient statistics combine map-side") {
    val p = plan("events_ab_cuped")
    assert(p.contains("partial_"),
      "the 6-statistic reduction must have map-side partials: " + p.take(800))
    assert(!p.contains("CartesianProduct"),
      "the 1-row boundary frame must broadcast, never cartesian: " + p.take(600))
  }

  test("hourly-series family: one (type, hour) reduction with partials, no cartesian") {
    Seq("events_autocorr", "events_forecast_backtest", "events_seasonality_strength")
      .foreach { q =>
        val p = plan(q)
        assert(p.contains("partial_"), s"$q: counts must combine map-side: " + p.take(600))
        assert(!p.contains("CartesianProduct"), s"$q: no cartesian: " + p.take(600))
      }
  }

  test("fuzzy match: corpus reduces to the vocabulary map-side; the pairwise broadcasts") {
    val p = plan("join_fuzzy_match")
    assert(p.contains("partial_"),
      "vocabulary frequencies must partial-aggregate before any pairwise: " + p.take(600))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the bounded-vocab self-join must broadcast, never shuffle the corpus: " + p.take(600))
    // the native expression must survive into the physical plan (a UDF
    // would show as ScalaUDF and break codegen)
    assert(p.contains("jaro_winkler") && !p.contains("ScalaUDF"), p.take(800))
  }

  test("theilsen: corpus reduces to the daily frame before the pairwise self-join") {
    val p = plan("eval_theilsen_trend")
    assert(p.contains("partial_"),
      "daily counts must combine map-side: " + p.take(600))
    assert(!p.contains("CartesianProduct"),
      "the day-pair join keys on event_type: " + p.take(600))
  }

  test("count-min: counters combine map-side (the sketch-merge monoid)") {
    val p = plan("agg_countmin_audit")
    assert(p.contains("partial_"),
      "per-(d,cell) counter sums must partial-aggregate: " + p.take(600))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the 256-row counter table must broadcast back over the top-k probe: " + p.take(600))
  }

  test("quantile norm: per-source ranks partition by source; position join is an equi-join") {
    val p = plan("curate_quantile_norm")
    assert(!p.contains("CartesianProduct"),
      "pooled positions must equi-join on pos: " + p.take(600))
    assert(p.contains("windowspecdefinition(source"),
      "the per-source rank must partition by source, not run global: " + p.take(800))
  }

  test("graph assortativity: sidecar-only dataflow — the corpus parquet is never scanned") {
    val pl = graft.SparkEntry.queries("sim_graph_assort")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!pl.contains("embeddings.parquet"),
      "assortativity must read only the edge sidecar: " + pl.take(800))
  }

  test("mmr: greedy rounds run off the pinned candidate frame, never rescanning the corpus") {
    val p = plan("sim_mmr_rerank")
    // candidate generation materializes once (localCheckpoint); every
    // greedy round reads the pinned 80-row frame, so the final plan has
    // NO corpus file scan and no cartesian anywhere
    assert(p.contains("ExistingRDD"),
      "the candidate frame must be pinned (4 consumers): " + p.take(600))
    assert(!p.contains("embeddings.parquet"),
      "greedy rounds must not rescan the corpus: " + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("power analysis: one map-side-combinable moment pass, scalar math after") {
    val p = plan("events_power_analysis")
    assert(p.contains("partial_"), "moments must combine map-side: " + p.take(600))
    assert(!p.contains("Exchange hashpartitioning(event_type") ||
      p.split("Exchange").length <= 3,
      "a single reduction, not repeated shuffles: " + p.take(600))
  }

  test("kendall tau: ONE corpus scan; dominance windows run over the pinned cell frame") {
    val p = plan("eval_kendall_tau")
    val scans = "documents".r.findAllIn(p).size
    assert(scans <= 1, s"corpus must be scanned at most once, saw $scans: " + p.take(800))
    assert(p.contains("ExistingRDD"),
      "the cell frame must be pinned (4 consumers): " + p.take(600))
  }

  test("kendall tau: the dominance grid is bounded by corpus-independent constants (r16 #6)") {
    // both axes are a-priori grids: quality ≤ 1001 milli levels, length
    // ≤ 4096 fixed-width buckets — so distinct(qm) × distinct(len) can
    // never exceed 1001 × 4096 regardless of corpus size. Pin the axis
    // bounds on the live frame (the qm bound would catch a scoring
    // change that un-grids quality; the len bound catches un-bucketing).
    import org.apache.spark.sql.functions._
    val scored = graft.ops.Tables.table(spark, dir, "documents")
      .select(expr("least(n_chars div 16, 4095)").as("len"))
    val lenLevels = scored.select(countDistinct(col("len"))).head().getLong(0)
    assert(lenLevels <= 4096, s"len axis must stay on the fixed grid: $lenLevels")
    val r = graft.SparkEntry.queries("eval_kendall_tau")(spark, dir).collect().head
    assert(r.getLong(0) > 0 && !r.isNullAt(6), "tau_b must be defined on the fixture")
  }

  test("pareto frontier: no dense grid — one window over the bounded per-level frame (r16 #6)") {
    val p = plan("curate_pareto_frontier")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the qm × len densification must be gone: " + p.take(800))
    // the skyline reduction: per-qm max, then a running max — both
    // visible as aggregate + window, with the frontier cells broadcast
    // back into the listing join
    assert(p.contains("BroadcastHashJoin"), p.take(600))
  }

  test("mann-whitney: rank sums come from the level table, never a global row sort") {
    val p = plan("eval_mannwhitney")
    assert(p.contains("partial_"), "histogram must combine map-side: " + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("nelson-aalen: one user_id exchange, grid windows over the bounded reduction") {
    val p = plan("events_nelson_aalen")
    assert(p.contains("partial_"), "grid reduction must combine map-side: " + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("burst hysteresis: per-type windows only — no single-partition window over raw events") {
    val p = plan("events_burst_hysteresis")
    assert(p.contains("partial_"), "hourly reduction must combine map-side: " + p.take(600))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the |types|-row threshold frame must broadcast: " + p.take(800))
  }

  test("er threshold sweep: the scored pair pass broadcasts the vocabulary") {
    val p = plan("dedup_er_threshold_sweep")
    // the sweep itself is driver arithmetic on the collected bounded
    // frame; the emitted plan is the tiny result relation — the
    // pairwise scoring must never appear as a shuffle join here
    assert(!p.contains("SortMergeJoin"), p.take(600))
  }

  test("word-keyed model frames broadcast ONLY under the vocab NDV cap (r16 #1)") {
    // the five text-model queries join the corpus against a
    // vocabulary-sized frame: under the cap it broadcasts (bench
    // shape); above it the hint must NOT be applied — the plan degrades
    // to a shuffle join instead of failing the job at 100 TB.
    val wordJoined = Seq("text_cross_entropy", "text_tfidf_keyword",
      "text_kl_by_source", "text_perplexity_bucket", "text_keyphrase_rake")
    def bhjCount(q: String): Int =
      "BroadcastHashJoin".r.findAllIn(plan(q)).length
    wordJoined.foreach { q =>
      assert(bhjCount(q) > 0, s"$q should broadcast the small fixture vocab")
    }
    // isolate the HINT from Spark's own size-based auto-broadcast (which
    // is allowed to keep firing on tiny frames — that IS the graceful
    // path): with size-based broadcast off, only the guard's hint can
    // produce a BroadcastHashJoin.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val hinted = wordJoined.map(q => q -> bhjCount(q)).toMap
      wordJoined.foreach { q =>
        assert(hinted(q) > 0,
          s"$q: under the cap the guard's hint must force the broadcast even at threshold=-1")
      }
      spark.conf.set(graft.ops.VocabGuard.ConfKey, "0")
      wordJoined.foreach { q =>
        val over = bhjCount(q)
        assert(over < hinted(q),
          s"$q: word-frame broadcast must disappear above the cap " +
            s"(broadcast joins: $over at cap=0 vs ${hinted(q)} hinted)")
        assert(plan(q).contains("SortMergeJoin"),
          s"$q: the word join must degrade to a shuffle join, not vanish")
      }
      // the degraded path computes the SAME answer
      val shuffled = graft.SparkEntry.queries("text_cross_entropy")(spark, dir).collect()
      spark.conf.unset(graft.ops.VocabGuard.ConfKey)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      val bcast = graft.SparkEntry.queries("text_cross_entropy")(spark, dir).collect()
      assert(shuffled.toSeq == bcast.toSeq,
        "guarded-broadcast and shuffle paths must agree row-for-row")
    } finally {
      spark.conf.unset(graft.ops.VocabGuard.ConfKey)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("vocab NDV statistic is session-cached per table bytes") {
    val n1 = graft.ops.VocabGuard.vocabNdv(spark, dir)
    assert(n1 > 0, "fixture vocabulary must be non-empty")
    // second call must serve from the BlockGuard cache (same value,
    // no recompute observable — equality is the cheap proxy here; the
    // recompute-on-mtime behavior is pinned by BlockGuardSpec)
    assert(graft.ops.VocabGuard.vocabNdv(spark, dir) == n1)
    assert(n1 < graft.ops.VocabGuard.DefaultMaxRows,
      "fixture vocab must sit under the default cap or every bench run degrades")
  }
}
