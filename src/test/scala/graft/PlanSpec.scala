package graft

import graft.queries.AllQueries

/** Physical-plan audits (builder-prompt: ".explain the plan and iterate
  * until it's the plan you'd want"): filters reach the parquet scan,
  * dimension joins broadcast, aggregations partial-aggregate map-side.
  * Pinned here so a regression in plan shape fails CI, not just the bench.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The query's executed plan text with every `InMemoryRelation` printed
    * as a leaf: the cached relation's nested plan (its own, already
    * materialized scan and exchange) is cut, so assertions count only the
    * query's own operators — the same view perfbench's plan counts take.
    */
  private def planOf(name: String): String = {
    val plan = AllQueries.queries(name)(spark, dir).queryExecution.executedPlan
    // depth of a tree line = column where the node text starts, after the
    // ":", "|", "+-" and space drawing characters
    def depth(l: String): Int = l.indexWhere(c => !" :|+-".contains(c))
    val out = new StringBuilder
    var cut = Int.MaxValue
    for (l <- plan.toString.linesIterator) {
      val d = depth(l)
      if (d <= cut) {
        cut = if (l.startsWith("InMemoryRelation", d)) d else Int.MaxValue
        out.append(l).append('\n')
      }
    }
    out.toString
  }

  // The session-cached Tables.load path scans an InMemoryRelation, so
  // parquet pushdown is asserted on the direct-read path (what a cluster
  // job over larger-than-memory data uses).
  private def uncachedRangePlan: String = {
    import org.apache.spark.sql.functions._
    Tables.loadUncached(spark, dir, "orders")
      .filter(col("o_totalprice") >= 450000.0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .queryExecution.executedPlan.toString
  }

  test("f1_range: filter is pushed into the parquet scan") {
    val plan = uncachedRangePlan
    assert(plan.contains("PushedFilters:"), "expected PushedFilters in scan")
    assert(plan.contains("GreaterThanOrEqual(o_totalprice,450000.0)"),
      s"totalprice filter not pushed:\n$plan")
  }

  test("f1_range: scan reads only the needed columns") {
    val plan = uncachedRangePlan
    // ReadSchema must not include o_custkey / o_orderpriority
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("o_custkey"), readSchema)
    assert(!readSchema.contains("o_orderpriority"), readSchema)
  }

  test("j11_broadcast_dims: all three dimension joins broadcast") {
    val plan = planOf("j11_broadcast_dims")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts == 3, s"expected 3 broadcast joins, got $broadcasts")
    assert(!plan.contains("SortMergeJoin"), "fact should never sort-merge here")
  }

  test("ANN full-scan rank: bounded two-phase top-k, never a per-query window") {
    // quantizedTopK / pqAdcTopK / bruteForceTopK scan the whole corpus per
    // query; ranking them with row_number() over (partition by query_id)
    // funnels the entire scored corpus into ONE task per query. The fix is
    // CollectTopK partial aggregation (k-bounded buffers map-side); a
    // Window in these plans is the 100 TB scale-killer regressing.
    for (q <- Seq("sim_cosine_topk", "sim_quantized", "sim_pq",
        "sim_ivf_ann", "sim_lsh_ann", "q2_topn_similar",
        "text_tfidf_topk", "sim_nn_descent")) {
      val plan = planOf(q)
      assert(!plan.contains("Window"),
        s"$q: per-query window rank over the unpruned corpus:\n${plan.take(3000)}")
      assert(plan.contains("collect_top_k"),
        s"$q: expected bounded collect_top_k aggregation:\n${plan.take(3000)}")
    }
  }

  test("round-7 queries: equi joins only — no cartesian anywhere") {
    // j12: tags→contigs equi on seqbin_id, introns/flags pre-grouped;
    // s1_set_view: membership left-semi + broadcast locus dims;
    // q2_boundaries: broadcast allele lib + contig equi re-join
    for (q <- Seq("j12_tag_introns", "s1_set_view", "q2_boundaries")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"),
        s"$q grew a cartesian:\n${plan.take(2500)}")
    }
    assert(planOf("s1_set_view").contains("LeftSemi"),
      "set_view membership must compose as a semi join")
  }

  test("g6_presence_matrix: one exchange — range partitioning feeds the aggregate") {
    // the ordered presence matrix range-partitions the projected fact
    // BEFORE aggregating (RangePartitioning satisfies the groupBy's
    // ClusteredDistribution); a trailing orderBy would add a second
    // exchange AND re-execute the aggregation for range sampling
    val plan = planOf("g6_presence_matrix")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges:\n$plan")
    assert(plan.contains("rangepartitioning"),
      s"expected range partitioning exchange:\n${plan.take(2000)}")
  }

  test("mm_interleave: image-placement join broadcasts — no SortMergeJoin") {
    // imgsAt (≤ one row per image) hides behind two aggregates, so
    // without an explicit broadcast() the chunk⋈imgsAt left join shuffled
    // every wide chunk row on (doc_id, pos) as a SortMergeJoin — the
    // round-7 mm_interleave regression
    val plan = planOf("mm_interleave")
    assert(!plan.contains("SortMergeJoin"),
      s"expected broadcast-only joins:\n${plan.take(2000)}")
  }

  test("a1_breakdown: hash aggregate with map-side partial aggregation") {
    val plan = planOf("a1_breakdown")
    val hashAggs = "HashAggregate".r.findAllIn(plan).size
    assert(hashAggs >= 2, s"expected partial+final HashAggregate:\n$plan")
  }

  test("s7_list_semi: pasted list becomes a broadcast semi join") {
    val plan = planOf("s7_list_semi")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"expected broadcast left-semi:\n$plan")
  }

  test("f6_extended_attr: attribute dimension joins as broadcast semi") {
    val plan = planOf("f6_extended_attr")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"expected broadcast left-semi for the attribute dim:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "entity table must not shuffle for a curated dimension lookup")
  }

  test("q4_longcontig_seeded: contig side never shuffles (broadcast joins only)") {
    val plan = planOf("q4_longcontig_seeded")
    assert(!plan.contains("SortMergeJoin"),
      s"seeded scan must broadcast candidates + library, not shuffle contigs:\n${plan.take(3000)}")
  }

  test("text_lang_id: columnar marker scoring — no explode, no join") {
    // the small-vocabulary path scores per-doc in one projection pass; a
    // Generate (explode) or any join in the plan means the 50× row
    // blow-up crept back (languageIdByJoin stays for large vocabularies)
    val plan = planOf("text_lang_id")
    assert(!plan.contains("Generate"),
      s"columnar lang-id must not explode:\n${plan.take(2000)}")
    assert(!plan.contains("Join"),
      s"columnar lang-id must not join:\n${plan.take(2000)}")
  }

  test("s9_replicate_profiles: replica dimension joins as broadcast") {
    val plan = planOf("s9_replicate_profiles")
    assert(plan.contains("BroadcastHashJoin"),
      s"replicated dim must broadcast:\n${plan.take(2000)}")
  }

  test("mm_tile: 2D patch gather is a narrow plan — no shuffle before the sort") {
    val plan = planOf("mm_tile")
    // the only allowed shuffle is the presentation orderBy (range, or
    // SinglePartition when SmallSort sizes it small); the tiling itself
    // (explode + aggregate-concat) must add NO hash exchange
    assert(!plan.contains("Exchange hashpartitioning"),
      s"tiling must not shuffle:\n${plan.take(3000)}")
    assert("Exchange (rangepartitioning|SinglePartition)".r
        .findAllIn(plan).size == 1,
      s"expected only the final sort exchange:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), "tiling is per-row, no join expected")
  }

  test("api_status_variation: fused families — one aggregation per family") {
    // 3 clause families (status, variations, tag counts) = 3 fused
    // aggregations; the unfused compiler did one PER CLAUSE (4 here) plus
    // extra joins. partial+final pairs → at most 8 HashAggregates, and the
    // membership joins must not exceed one per family + entity lookups.
    val plan = planOf("api_status_variation")
    val aggs = "HashAggregate".r.findAllIn(plan).size
    assert(aggs <= 8, s"clause families must stay fused (got $aggs):\n${plan.take(3000)}")
  }

  test("text_ngram_entropy: two-level aggregation with map-side partials") {
    val plan = planOf("text_ngram_entropy")
    val hashAggs = "HashAggregate".r.findAllIn(plan).size
    assert(hashAggs >= 4, s"expected partial+final at both levels:\n${plan.take(2000)}")
  }

  test("text_chunk: chunking is narrow — no join, no hash shuffle") {
    val plan = planOf("text_chunk")
    assert(!plan.contains("Join"), "chunking is per-row, no join expected")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"chunking must not shuffle:\n${plan.take(2000)}")
  }

  test("text_decontaminate: benchmark gram set broadcasts, corpus unshuffled") {
    val plan = planOf("text_decontaminate")
    assert(plan.contains("BroadcastHashJoin"),
      s"eval grams must broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus text must never shuffle for a join:\n${plan.take(2000)}")
  }

  test("pack_sequences: exactly one hash shuffle (the shard re-key)") {
    val plan = planOf("pack_sequences")
    // one Exchange hashpartitioning for groupBy(shard); final orderBy adds
    // a range exchange; nothing else may shuffle
    val hash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hash == 1, s"packing is one shuffle by shard key (got $hash):\n${plan.take(3000)}")
    assert(!plan.contains("Join"), "packing needs no join")
  }

  test("split_hash: split label is a narrow projection before the aggregate") {
    val plan = planOf("split_hash")
    assert(!plan.contains("Join"), "hash split needs no join")
    // groupBy(split) partial-aggregates map-side: partial+final pair
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected map-side partial aggregation:\n${plan.take(2000)}")
  }

  test("mix_epochs: weights broadcast; the corpus never sort-merge joins") {
    val plan = planOf("mix_epochs")
    assert(plan.contains("BroadcastHashJoin"), s"weights should broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"), "corpus must not shuffle for the weights join")
  }

  test("text_quality_model: pure scoring pipeline — no join, partial aggregation") {
    val plan = planOf("text_quality_model")
    assert(!plan.contains("Join"), "model inference needs no join")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected map-side partial aggregation:\n${plan.take(2000)}")
  }

  test("dedup_semantic: cell assignment is a narrow map, not a windowed argmax") {
    val plan = planOf("dedup_semantic")
    // the nlist× blow-up + per-vector argmax shuffle form would show a
    // Window (row_number) — the fold-over-broadcast-array form shows none
    assert(!plan.contains("Window"), s"assignment regressed to window argmax:\n${plan.take(2000)}")
  }

  test("text_hash_features: featurization is narrow — no join, no hash shuffle") {
    val plan = planOf("text_hash_features")
    assert(!plan.contains("Join"), "hashing-trick features need no join")
    // the only exchange allowed is the final presentation sort
    assert(!plan.contains("hashpartitioning"),
      s"featurization must not shuffle the corpus:\n${plan.take(2000)}")
  }

  test("curate_host_cap: one window keyed on host; no corpus self-join") {
    val plan = planOf("curate_host_cap")
    assert("Window".r.findAllIn(plan).size == 1,
      s"expected exactly one window (the per-host rank):\n${plan.take(2000)}")
    assert(!plan.contains("Join"), "host cap is rank-and-filter, not a join")
  }

  test("dedup_incremental: signatures re-attach as ids-only joins, no cartesian") {
    val plan = planOf("dedup_incremental")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"candidate generation must stay bucket-keyed:\n${plan.take(2000)}")
  }

  test("text_unigram_surprisal: token stream collapses before any join") {
    // the (doc, word) pre-aggregation is PINNED before the vocab join
    // (unigramSurprisal materializes dw per call): the joins in the final
    // plan must consume the pinned collapsed table — no Generate (explode)
    // may appear at or above the join level
    val df = AllQueries.queries("text_unigram_surprisal")(spark, dir)
    val analyzed = df.queryExecution.optimizedPlan.toString
    assert(analyzed.contains("Join"), s"expected the vocab join:\n$analyzed")
    assert(!analyzed.contains("Generate"),
      s"explode must be collapsed inside the pinned pre-aggregation, " +
        s"never feed the join:\n$analyzed")
    assert(analyzed.contains("LogicalRDD") || analyzed.contains("Scan ExistingRDD"),
      s"expected the pinned (doc, word) table:\n$analyzed")
  }

  test("quality_percentile_gate: histogram quantile — cut dim broadcasts, corpus never sort-merge joins") {
    val plan = planOf("quality_percentile_gate")
    assert(plan.contains("BroadcastHashJoin"),
      s"percentile cuts must broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus side must not shuffle for the gate join:\n${plan.take(2000)}")
  }

  test("shard_concat: exactly one hash shuffle (the shard re-key)") {
    val plan = planOf("shard_concat")
    val hashExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"expected one shard-key exchange, got $hashExchanges:\n${plan.take(2000)}")
  }

  test("sim_ivf_ann: no windows at all — probe cells narrow, rank bounded") {
    // the probe-cell selection is a narrow array fold and the candidate
    // rank is a bounded CollectTopK aggregation; ANY window here means one
    // of them regressed to a per-query/per-vector shuffle
    val plan = planOf("sim_ivf_ann")
    assert("Window \\[".r.findAllIn(plan).isEmpty,
      s"probe-cell selection or rank regressed to a window:\n${plan.take(2000)}")
  }

  test("pcr_products: primer detection is narrow — zero exchanges, no join") {
    val plan = planOf("pcr_products")
    assert(!plan.contains("Join"), s"PCR pairing must stay in-row:\n${plan.take(2000)}")
    // the only allowed exchange is the final orderBy's range partitioning
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 0, s"expected no hash exchange:\n${plan.take(2000)}")
  }

  test("gc_status_matrix: one designation aggregation + narrow densify, no grid join") {
    val plan = planOf("gc_status_matrix")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"densify must be an explode, not a grid join:\n${plan.take(2000)}")
  }

  test("text_bm25: df/corpus stats broadcast; global top-k is TakeOrdered, not a window") {
    val plan = planOf("text_bm25")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k should be TakeOrdered:\n${plan.take(2000)}")
    assert(!"Window \\[".r.findAllIn(plan).hasNext,
      s"no window allowed in BM25:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"df dimension should broadcast:\n${plan.take(2000)}")
  }

  test("sim_kmeans: final assignment is a narrow literal fold — no join, no agg") {
    val plan = planOf("sim_kmeans")
    assert(!plan.contains("Join"),
      s"assignment must not join centroids:\n${plan.take(2000)}")
    assert(!plan.contains("HashAggregate"),
      s"final assignment must not aggregate:\n${plan.take(2000)}")
  }

  test("codon_usage: one aggregation, zero joins — aa totals stay in-row") {
    val plan = planOf("codon_usage")
    assert(!plan.contains("Join"),
      s"codon usage must not join:\n${plan.take(2000)}")
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"expected exactly the group-by exchange, got $exchanges:\n${plan.take(2000)}")
  }

  test("seqbin_breakdown: single fact pass — no join, map-side partials") {
    val plan = planOf("seqbin_breakdown")
    assert(!plan.contains("Join"),
      s"the breakdown grid must not join (the reference's 3 per-isolate lookups):\n${plan.take(2000)}")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final aggregation:\n${plan.take(2000)}")
  }

  test("corpus_datacard: one aggregation, no join") {
    val plan = planOf("corpus_datacard")
    assert(!plan.contains("Join"), s"datacard is one rollup:\n${plan.take(2000)}")
  }

  test("text_top_ngrams: heavy hitters = count + TakeOrdered, no global sort") {
    val plan = planOf("text_top_ngrams")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered:\n${plan.take(2000)}")
    assert(!plan.contains("Join"), "ngram mining needs no join")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected map-side partial counts:\n${plan.take(2000)}")
  }

  test("text_boilerplate_strip: strip is an anti join on the content key") {
    val plan = planOf("text_boilerplate_strip")
    assert(plan.contains("LeftAnti"),
      s"expected anti join against the boilerplate dim:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"strip must stay key-equi:\n${plan.take(2000)}")
  }

  test("export_profiles: locus projection is narrow on the numbered defs — no join") {
    // the profile-definition reduce feeds Numbering directly; the export
    // row is a projection of it. Any Join here means a second fact pass
    // crept in (the reference re-queries the warehouse per profile page).
    val plan = planOf("export_profiles")
    assert(!plan.contains("Join"),
      s"export is a projection of the numbered defs:\n${plan.take(2000)}")
  }

  test("seq_comparison: positional diff walk is in-row — no explode, no cartesian") {
    val plan = planOf("seq_comparison")
    assert(!plan.contains("Generate"),
      s"diff scan must stay a HOF, not an explode:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"pair formation must stay key-equi:\n${plan.take(2000)}")
  }

  test("mix_curriculum: global order comes from numbering, not a driver window") {
    val plan = planOf("mix_curriculum")
    // a `Window [` over an empty partitionBy = the single-partition global
    // sort Numbering exists to avoid
    assert(!"Window \\[".r.findAllIn(plan).hasNext,
      s"curriculum order must use two-phase numbering:\n${plan.take(2000)}")
    assert(!plan.contains("Join"), "curriculum keying needs no join")
  }

  test("text_tfidf_topk: df dimension broadcasts; corpus never sort-merge joins") {
    val plan = planOf("text_tfidf_topk")
    assert(plan.contains("BroadcastHashJoin"),
      s"the vocabulary df dim must broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"the term fact must not shuffle for the idf join:\n${plan.take(2000)}")
  }

  test("event_sessionize: windows partition by user — at most two hash exchanges") {
    val plan = planOf("event_sessionize")
    val hash = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hash <= 2,
      s"expected user-keyed window + session rollup only (got $hash):\n${plan.take(2000)}")
    assert(!plan.contains("Join"), "sessionization is window-only")
  }

  test("report_isolate: two fact aggregations, no cartesian, no windowed N50") {
    val plan = planOf("report_isolate")
    // exact N50/L50 come from the typed Aggregator INSIDE the main rollup
    // — a per-order Window sort over the fact would be the regression
    assert(!"Window \\[".r.findAllIn(plan).hasNext,
      s"N50 must fold in the aggregator, not a window:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"report joins must stay key-equi:\n${plan.take(2000)}")
  }

  test("export_dataset: one fact aggregation joined once to the entity table") {
    val plan = planOf("export_dataset")
    val aggExchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(aggExchanges <= 2,
      s"dataset assembly is one rollup + one join (got $aggExchanges exchanges):\n${plan.take(2000)}")
  }

  test("q4_probe_filtered: probe guard is a contig-KEYED join") {
    // the scan kernel's broadcast-library crossings are BNLJ by design;
    // the probe GUARD itself must join hits to probe matches on the
    // contig key (equi), with the distance rule as residual — an unkeyed
    // hit×probe product would be the regression
    val plan = planOf("q4_probe_filtered")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian anywhere:\n${plan.take(2000)}")
    assert("(SortMergeJoin|BroadcastHashJoin) \\[cid".r.findFirstIn(plan).isDefined,
      s"guard join must key on cid:\n${plan.take(3000)}")
  }

  test("bloom_semi_join: membership is a narrow filter; one broadcast semi join") {
    val plan = planOf("bloom_semi_join")
    // the Bloom words are a plan literal — membership must not be a join
    assert(!plan.contains("SortMergeJoin"),
      s"fact side must never sort-merge join:\n${plan.take(3000)}")
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 1 &&
      plan.contains("LeftSemi"),
      s"expected exactly the one exact semi join:\n${plan.take(3000)}")
  }

  test("curate_dsir: model dims broadcast; corpus never sort-merge joins") {
    val plan = planOf("curate_dsir")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast model joins:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side scoring must not sort-merge join:\n${plan.take(3000)}")
  }

  test("text_bpe_encode: encode under frozen merges is narrow — no join, no hash shuffle") {
    val plan = planOf("text_bpe_encode")
    assert(!plan.contains("Join"), s"no join expected:\n${plan.take(2000)}")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"no hash exchange expected:\n${plan.take(2000)}")
  }

  test("a13_kmv_quantile: one sketch aggregation, no window, no join blowup") {
    // the KMV buffer is k pairs per group — the plan must be a plain
    // (object) hash aggregate pair, never a per-group sort window
    val plan = planOf("a13_kmv_quantile")
    assert(!plan.contains("Window"), s"KMV grew a rank window:\n${plan.take(2500)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    assert(plan.contains("Aggregate"), plan.take(2500))
  }

  test("q2_bitscore_rank: broadcast query side, min-struct top-1, no window") {
    val plan = planOf("q2_bitscore_rank")
    assert(plan.contains("Broadcast"),
      s"query side must broadcast:\n${plan.take(2500)}")
    assert(!plan.contains("Window"),
      s"top-1 must be the min-struct aggregate, not a rank window:\n${plan.take(2500)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
  }

  test("text_tokens_maxmatch: frozen-vocab encode is narrow — no join, no shuffle before the sort") {
    val plan = planOf("text_tokens_maxmatch")
    assert(!plan.contains("Join"), s"encode must not join:\n${plan.take(2500)}")
    // only exchanges: the output ORDER BY (range) — never a hash shuffle
    assert(!plan.contains("hashpartitioning"),
      s"no hash exchange expected in tokenize-on-ingest:\n${plan.take(2500)}")
  }

  test("dedup_prefix_join: ids-only candidate join, no cartesian, broadcast verify") {
    // the shipped query materializes eagerly (its executed plan is a
    // checkpoint scan), so the shape is pinned on the LAZY form the
    // operator builds internally — same plan, uncollapsed
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, dir, "documents")
    val plan = graft.pipeline.Dedup.prefixFilterPairs(docs, "doc_id",
        graft.pipeline.Dedup.shingles(col("text"), 3), t = 0.2,
        eager = false, broadcastVerify = Some(true))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"prefix filter must never go all-pairs:\n${plan.take(2500)}")
    assert(!plan.contains("Window"), plan.take(2500))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 2,
      s"both verify attaches must broadcast the token dimension:\n${plan.take(2500)}")
  }

  test("q4_autotag_incremental: pending pairs prune via an anti join") {
    val plan = planOf("q4_autotag_incremental")
    assert(plan.contains("LeftAnti"),
      s"expected the ids-only anti join against existing tags:\n${plan.take(2500)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
  }

  test("sim_label_prop / text_lrs / q2_bitscore_affine: no windows, no cartesian") {
    for (q <- Seq("sim_label_prop", "text_lrs", "q2_bitscore_affine")) {
      val plan = planOf(q)
      assert(!plan.contains("Window"), s"$q grew a window:\n${plan.take(2500)}")
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(2500)}")
    }
  }

  test("text_probe_auc: ranks come from prefix sums, never a global window") {
    // tie-aware AUC ranks over the distinct-score table use
    // Numbering.runningBySort (range shuffle + two linear passes); a
    // Window node here would be the single-partition global sort that
    // breaks at corpus scale.
    val plan = planOf("text_probe_auc")
    assert(!plan.contains("Window"), s"global window in AUC plan:\n${plan.take(2500)}")
  }

  test("text_probe_calibration: bin edges broadcast, no window, no sort-merge") {
    val plan = planOf("text_probe_calibration")
    assert(!plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      s"min/max row should broadcast:\n${plan.take(2500)}")
  }

  test("split_group: group split label is a narrow projection before the aggregate") {
    val plan = planOf("split_group")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      plan.take(2000))
  }

  test("sim_ivfpq: code table never shuffles — query residuals broadcast") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.Similarity
    val emb = Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 8)
    val model = Similarity.ivfPqModel(emb, "vec_id", "embedding",
      nlist = 8, m = 2, dim = 64, kCodes = 8, iters = 1)
    val plan = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", k = 5,
        nlist = 8, nprobe = 3, m = 2, dim = 64, kCodes = 8, iters = 1,
        trainedPq = Some(model), eager = false)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the qres broadcast join:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"the corpus-sized code table must not shuffle:\n${plan.take(3000)}")
    assert(plan.contains("collect_top_k"),
      s"expected the bounded two-phase rank:\n${plan.take(3000)}")
  }

  test("text_bigram_surprisal: bigram stream collapses before any join") {
    // the (doc, p, w) pre-aggregation is PINNED before the count-dim
    // joins (the unigram posture): no Generate may feed a join
    val df = AllQueries.queries("text_bigram_surprisal")(spark, dir)
    val analyzed = df.queryExecution.optimizedPlan.toString
    assert(analyzed.contains("Join"), s"expected the dim joins:\n$analyzed")
    assert(!analyzed.contains("Generate"),
      s"the bigram explode must be collapsed inside the pinned " +
        s"pre-aggregation, never feed a join:\n$analyzed")
    assert(analyzed.contains("LogicalRDD") || analyzed.contains("Scan ExistingRDD"),
      s"expected the pinned (doc, p, w) table:\n$analyzed")
  }

  test("text_tokens_viterbi: frozen-cost decode is narrow — no join, no shuffle before the sort") {
    val plan = planOf("text_tokens_viterbi")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    val beforeSort = plan.split("Sort ").last
    assert(!beforeSort.contains("Exchange hashpartitioning"),
      s"per-doc viterbi must not shuffle:\n$plan")
  }

  test("containment family: inverted-index joins carry ids/hashes only — " +
      "no cartesian, no window; sketch attaches broadcast when eager") {
    // exact op: the df-capped gram join
    val exact = planOf("dedup_containment")
    assert(!exact.contains("CartesianProduct") && !exact.contains("Window"),
      exact.take(2500))
    // sketch op: pin the LAZY form (eager materializes to a checkpoint
    // scan); candidate generation must be the bucket aggregation, never
    // an all-pairs join
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, dir, "documents")
    val lazyPlan = graft.pipeline.Dedup.containmentSketchPairs(docs,
        "doc_id", graft.pipeline.Dedup.shingles(col("text"), 3),
        t = 0.5, k = 16, eager = false)
      .queryExecution.executedPlan.toString
    assert(!lazyPlan.contains("CartesianProduct") &&
      !lazyPlan.contains("Window"), lazyPlan.take(2500))
  }

  test("bounded top-k queries: never a partitionBy window, no sort-merge " +
      "of the corpus against a dimension") {
    // curate_topk_per_source replaces Window.partitionBy(source) with
    // per-group CollectBottomK; curate_token_budget's running sum is
    // runningBySort; text_heaps_curve's prefix sums likewise; a Window
    // node in any of these is the group-sort scale regression.
    for (q <- Seq("curate_topk_per_source", "curate_token_budget",
        "text_heaps_curve", "sim_knn_classify")) {
      val plan = planOf(q)
      assert(!plan.contains("Window"), s"$q grew a window:\n${plan.take(2500)}")
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(2500)}")
    }
  }

  test("shard_rebalance_plan: ring lookup is a pure narrow projection — " +
      "no join, no aggregation, no shuffle before the output sort") {
    val plan = planOf("shard_rebalance_plan")
    assert(!plan.contains("Join"), s"ring must compile as a literal:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("HashAggregate"),
      plan.take(2000))
    val beforeSort = plan.split("Sort ").last
    assert(!beforeSort.contains("Exchange hashpartitioning"),
      s"per-doc ring lookup must not shuffle:\n$plan")
  }

  test("split_exact_alloc: allocation dimension broadcasts back; the " +
      "corpus itself never sort-merge joins") {
    val plan = planOf("split_exact_alloc")
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    assert(!plan.contains("SortMergeJoin"),
      s"boundary attach must broadcast the strata dimension:\n${plan.take(2500)}")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(2500))
  }

  test("round-9 eval/curation additions: no global windows, no cartesian, " +
      "scalar dimensions broadcast") {
    // text_zipf_slope / corpus_gini: ranks come from the two-phase
    // Numbering shape; a Window node means the single-partition sort
    // came back. split_temporal likewise. text_ttr / text_simpson /
    // text_filter_mcnemar are pure narrow+reduce pipelines.
    for (q <- Seq("text_zipf_slope", "corpus_gini", "split_temporal",
        "text_ttr", "text_simpson", "text_filter_mcnemar",
        "corpus_ngram_novelty", "pack_bfd")) {
      val plan = planOf(q)
      assert(!plan.contains("Window"), s"$q grew a window:\n${plan.take(2500)}")
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(2500)}")
    }
    // quality_mad_outlier: the two scalar aggregates attach via broadcast
    // (BroadcastNestedLoopJoin over 1-row sides), never a sort-merge
    val mad = planOf("quality_mad_outlier")
    assert(!mad.contains("SortMergeJoin"),
      s"median/MAD scalars must broadcast:\n${mad.take(2500)}")
    // curate_pareto_front: the bounded level dimension broadcasts back
    val pf = planOf("curate_pareto_front")
    assert(pf.contains("BroadcastHashJoin"), pf.take(2500))
    assert(!pf.contains("SortMergeJoin"), pf.take(2500))
    // sim_range_query: query side broadcasts, corpus side stays narrow
    val rq = planOf("sim_range_query")
    assert(rq.contains("BroadcastNestedLoopJoin") ||
      rq.contains("BroadcastHashJoin"), rq.take(2500))
    assert(!rq.contains("CartesianProduct"), rq.take(2500))
  }

  test("round-10 additions: no cartesian; late-audit scan stays window-free; " +
      "hard-negative corpus side never shuffles wide") {
    // stream_late_audit: the running high-watermark is the two-phase
    // Numbering scan — a Window node means the single-partition sort
    // came back. sim_coreness: ids-only rounds, no windows either.
    for (q <- Seq("stream_late_audit", "sim_coreness")) {
      val plan = planOf(q)
      assert(!plan.contains("Window"), s"$q grew a window:\n${plan.take(2500)}")
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(2500)}")
    }
    // curate_k_anonymity / curate_rand_response: ladder/dim arithmetic —
    // the only non-equi attaches are 1-row scalar broadcasts
    for (q <- Seq("curate_k_anonymity", "curate_rand_response")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(2500)}")
    }
    // search_hard_negatives: queries broadcast against the streamed
    // corpus (non-equi join ⇒ BroadcastNestedLoopJoin), bounded top-k —
    // no window, no cartesian, no sort-merge of the corpus
    val hn = planOf("search_hard_negatives")
    assert(hn.contains("BroadcastNestedLoopJoin"), hn.take(2500))
    assert(!hn.contains("Window"), hn.take(2500))
    assert(!hn.contains("CartesianProduct"), hn.take(2500))
    assert(!hn.contains("SortMergeJoin"), hn.take(2500))
    // sim_mmr is pin-eager (shortlist materializes at construction);
    // the residual plan must still be cartesian-free
    assert(!planOf("sim_mmr").contains("CartesianProduct"))
    // warehouse_scd2: every window carries PARTITION BY user_id — the
    // compaction must never fall back to a single-partition sort
    val scd = planOf("warehouse_scd2")
    assert(!scd.contains("CartesianProduct"), scd.take(2500))
    val badWin = scd.linesIterator
      .filter(l => l.contains("Window") && !l.contains("user_id")).toList
    assert(badWin.isEmpty,
      s"unpartitioned window in warehouse_scd2: $badWin")
    // mix_reweight_round: dimension arithmetic — scalar attaches
    // broadcast, never a cartesian
    val mw = planOf("mix_reweight_round")
    assert(!mw.contains("CartesianProduct"), mw.take(2500))
    // search_e2e: the composed retrieval chain (BM25 + ANN → RRF → MMR →
    // budget pack) — pin-eager like sim_mmr; residual plan cartesian-free
    assert(!planOf("search_e2e").contains("CartesianProduct"))
    // join_asof: merge-scan as-of — windows partition by user, never a
    // range join or cartesian
    val ao = planOf("join_asof")
    assert(!ao.contains("CartesianProduct"), ao.take(2500))
    assert(ao.linesIterator.filter(_.contains("Window"))
      .forall(_.contains("user_id")), s"unpartitioned window:\n${ao.take(2500)}")
    // agg_median_exact: the cumulative walk runs over the ≤50-row value
    // histogram, partitioned by group — no per-row window, no cartesian
    val me = planOf("agg_median_exact")
    assert(!me.contains("CartesianProduct"), me.take(2500))
    // the histogram walk lives in ExactQuantiles, whose group column is
    // the generic "grp" — assert the windows carry a partition spec
    assert(me.linesIterator.filter(_.contains("windowspecdefinition"))
      .forall(_.contains("windowspecdefinition(grp")),
      s"unpartitioned window:\n${me.take(2500)}")
  }

  test("pipeline_e2e: the composed chain has no cartesian product and " +
      "the only windows are the split's strata-dimension ones") {
    val plan = planOf("pipeline_e2e")
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    // exactAllocationSplit legitimately windows over the (stratum × way)
    // DIMENSION (a handful of rows); anything beyond that count means a
    // corpus-sized window crept into the composition
    val windows = "Window".r.findAllIn(plan).size
    val splitAlone = "Window".r.findAllIn(planOf("split_exact_alloc")).size
    assert(windows <= splitAlone,
      s"composition grew windows beyond the split's dimension ones " +
        s"($windows > $splitAlone):\n${plan.take(2500)}")
    // the allocation boundary attach and ring lookup stay broadcast/narrow
    assert(plan.contains("BroadcastHashJoin"), plan.take(2500))
  }

  test("post-gate prefix-join verify attaches are shuffle-hash, never a " +
      "sort of array-carrying pair rows") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // lazy form, broadcast gate forced OFF: the plan must attach the
    // token dimension via ShuffledHashJoin on BOTH id1 and id2 — a
    // sort-merge here would SORT the candidate stream carrying the first
    // doc's token array (the r10 100x knee, tens of GB at scale)
    val docs = (0 until 40).map(i =>
      (i.toLong, (0 until 12).map(j => s"t${(i * 7 + j) % 60}"))).toDF(
      "doc_id", "toks")
    val pairs = graft.pipeline.Dedup.prefixFilterPairs(
      docs, "doc_id", col("toks"), 0.3, eager = false,
      broadcastVerify = Some(false))
    val plan = pairs.queryExecution.executedPlan.toString
    val shj = "ShuffledHashJoin".r.findAllIn(plan).size
    assert(shj >= 2, s"expected >=2 shuffle-hash attaches, got $shj:\n" +
      plan.take(3000))
    // the array-carrying attach joins (on id1/id2) must not be SMJ; the
    // token-key candidate join itself may legitimately sort-merge
    val smjOnIds = plan.linesIterator.exists(l =>
      l.contains("SortMergeJoin") && (l.contains("id1") || l.contains("id2")))
    assert(!smjOnIds, "verify attach fell back to sort-merge:\n" +
      plan.take(3000))
  }

  test("whole-stage codegen covers the predicate pipeline") {
    // AQE only finalizes codegen wrapping at execution time
    val df = AllQueries.queries("f11_composed")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
      s"expected codegen spans in final plan:\n${plan.take(2000)}")
  }
}
