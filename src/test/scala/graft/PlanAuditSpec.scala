package graft

/** Physical-plan audits: the properties that decide 100 TB viability
  * (SURVEY.md §4) are asserted here so they cannot silently regress —
  * filter/column pushdown to the parquet scan, broadcast of small dims,
  * partial aggregation, TakeOrderedAndProject for top-k, and no
  * corpus-side shuffle in the broadcast similarity search. */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan.toString

  test("scan_pruned_filtered pushes the predicate and prunes columns at the scan") {
    val p = plan("scan_pruned_filtered")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate"), p)
    // pruned read schema must not include unprojected wide columns
    assert(!p.contains("l_comment"), p)
  }

  test("join_broadcast broadcasts the dimension tables") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("join_sortmerge keeps the large-large join a shuffle join") {
    val p = plan("join_sortmerge")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
  }

  test("agg_hash_groupby splits into partial and final hash aggregation") {
    val p = plan("agg_hash_groupby")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("topk_global compiles to TakeOrderedAndProject (no full sort)") {
    val p = plan("topk_global")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("sim_topk never shuffles the corpus (broadcast query vector only)") {
    val p = plan("sim_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // the only exchange allowed below the top-k is the broadcast of the
    // single query vector; a repartition/hash exchange of the corpus
    // would be a scale bug
    assert(!p.contains("hashpartitioning"), p)
  }

  test("join_bucketed_colocated joins without re-shuffling either side") {
    val p = plan("join_bucketed_colocated")
    assert(p.contains("Bucketed: true"), p)
    // the join key must NOT be re-partitioned — bucket layout satisfies
    // the join's distribution requirement
    assert(!p.contains("hashpartitioning(o_custkey"), p)
    assert(!p.contains("hashpartitioning(c_custkey"), p)
  }

  test("join_asof shuffles exactly once on the user key (plus final sort)") {
    val p = plan("join_asof")
    // one hashpartitioning for the union+window, one rangepartitioning
    // for the deterministic ORDER BY — and nothing else
    assert("hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("dedup_exact is a single shuffle on the digest") {
    val p = plan("dedup_exact")
    assert("hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("ragged_reduce_hof reduces per event with only the pack shuffle") {
    val p = plan("ragged_reduce_hof")
    assert("hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("sim_ann_ivf runs shuffle-free: scan -> filter -> top-k, no exchange at all") {
    val p = plan("sim_ann_ivf")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("pivot_wide is a hash aggregate, not per-value scans") {
    val p = plan("pivot_wide")
    // one scan of customer only
    assert("customer\\.parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("pivotfirst"), p)
  }

  test("join_lateral decorrelates to a ranked window, not a per-row subquery") {
    val p = plan("join_lateral")
    assert(p.contains("row_number"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("subq_scalar pushes the uncorrelated MAX filter into the scan") {
    val p = plan("subq_scalar")
    assert(p.contains("Subquery"), p)
    // correlated COUNT decorrelates to an aggregate + join, no loops
    assert(p.contains("HashAggregate"), p)
  }

  test("sim_range_search never shuffles the corpus (broadcast query vector only)") {
    val p = plan("sim_range_search")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("hashpartitioning"), p)
  }

  test("vec_centroid broadcasts the centroid table back to the member scan") {
    val p = plan("vec_centroid")
    // centroids (#labels rows) must be the broadcast side; the member
    // embeddings scan must not hash-shuffle for the join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("agg_arg_minmax is one partial+final hash aggregate, no window") {
    val p = plan("agg_arg_minmax")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Window"), p)
  }

  test("text_lm_score broadcasts the vocabulary LM; the corpus never hash-shuffles for it") {
    // r21: the query reads the session memo (shared with
    // text_quality_buckets / sample_curriculum), so the pin audits the
    // BUILDER the memo evaluates once per session
    val p = operators.TextOps.lmScores(graft.Tables.documents(spark, sf001))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    // the token stream shuffles only for the per-doc aggregate, never
    // for the LM join (the LM is vocabulary-sized)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("sample_stratified is one rank window + broadcast target, no second corpus scan") {
    val p = plan("sample_stratified")
    assert("documents\\.parquet".r.findAllIn(p).size <= 2, p) // data pass + tiny count pass
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("AQE re-plans small shuffles at runtime (coalesce or broadcast demotion)") {
    val df = SparkEntry.queries("join_inner_hash")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(300))
    assert(p.contains("AQEShuffleRead") || p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("join_cross is a broadcast nested-loop over dims, never a shuffle product") {
    val p = plan("join_cross")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("join_bloom_prefilter probes with the native codegen'd expression, not a UDF") {
    val p = plan("join_bloom_prefilter")
    // fact scan reads only the three projected lineitem columns
    assert(!p.contains("l_comment") && !p.contains("l_shipdate"), p)
    // native BloomFilterMightContain (VERDICT r3 #5) — no boxed Scala
    // UDF anywhere in the probe path
    assert(p.contains("might_contain"), p)
    assert(!p.contains("UDF"), p)
  }

  test("sim_knn_join bounds per-vector candidates before the rank sort (WindowGroupLimit)") {
    val p = plan("sim_knn_join")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("events_funnel is a single user_id exchange (fold is row-local)") {
    val p = plan("events_funnel")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges\n$p")
  }

  test("events_retention reuses the user_id partitioning between agg and join") {
    val df = SparkEntry.queries("events_retention")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // first-day agg + join back: both hash on user_id → at most the
    // initial scan exchanges on user_id plus the final group-by; a
    // third user_id exchange would mean the reuse broke
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(userExchanges <= 2, s"user_id exchanged $userExchanges times\n$p")
  }

  test("agg_freq_topk partial-aggregates the sketch map-side") {
    val p = plan("agg_freq_topk")
    assert(p.contains("partial_graft_freq_topk") ||
           "ObjectHashAggregate.*graft_freq_topk".r.findFirstIn(p).isDefined, p)
    assert(p.contains("Exchange SinglePartition"), p)
  }

  test("sim_ivf_layout probe is a partition-pruned read of the nprobe cells") {
    val df = SparkEntry.queries("sim_ivf_layout")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [cid"), p)
  }

  test("join_asof_forward is one shuffle on the user key like its backward twin") {
    val p = plan("join_asof_forward")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges\n$p")
  }

  test("events_dau_wau broadcasts the day spine into the range join") {
    val p = plan("events_dau_wau")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("events_markov shuffles the corpus once (lag window), transitions stay bounded") {
    val p = plan("events_markov")
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 user_id exchange, got $exchanges\n$p")
  }

  test("scan_columnar_stats profiles every column in one scan (no self-joins)") {
    val p = plan("scan_columnar_stats")
    assert(!p.contains("Join"), p)
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 scan, got $scans\n$p")
  }

  test("ragged_zip aligns and reduces with only the pack shuffle") {
    val p = plan("ragged_zip")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges\n$p")
  }

  test("text_bpe_pairs explodes AFTER the vocabulary aggregate (vocab-bounded, not corpus-bounded)") {
    val p = plan("text_bpe_pairs")
    // the pair Generate must sit above the word-count HashAggregate:
    // corpus explodes once into words, pairs explode only per distinct word
    val genIdx = p.indexOf("Generate explode")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(genIdx >= 0, p)
    // at least one aggregate below (later in the plan string than) the pair generate
    assert(p.indexOf("HashAggregate", genIdx) >= 0 && aggIdx > genIdx,
      s"pair explode not above the vocabulary aggregate\n$p")
  }

  test("events_inter_arrival is one lag window per type, no self-join") {
    val p = plan("events_inter_arrival")
    assert(!p.contains("Join"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected <=2 exchanges (window + final agg), got $exchanges\n$p")
  }

  test("near-dup pair generation joins on shingle postings, never a blocked all-pairs self-join") {
    // VERDICT r3 #1: the pair space must be Σ_shingle C(df,2) (inverted
    // index on the posting key `g`), not Σ_block |block|² — a join
    // keyed on (lang, source) alone is the quadratic shape
    for (q <- Seq("dedup_ngram_jaccard", "dedup_containment")) {
      val p = plan(q)
      assert(p.contains("Generate explode"), s"$q: no posting explode\n$p")
      assert("Join \\[lang#\\d+, source#\\d+, g#\\d+".r.findFirstIn(p).isDefined,
        s"$q: candidate join not keyed on the shingle posting\n$p")
      // VERDICT r4 #1: the df cap is ACTIVE in the audited plan — stop
      // shingles (df > MaxShingleDf) are dropped via a broadcast
      // anti-join before the pair join, bounding posting-list skew
      assert(p.contains("LeftAnti"),
        s"$q: stop-shingle anti-join missing — posting skew unbounded\n$p")
      // the block-summary LeftOuter join on (lang, source) is fine
      // (block-count rows, not docs); the quadratic shape is an INNER
      // self-join of the doc projection on the block keys alone
      assert("Join \\[lang#\\d+, source#\\d+\\], \\[lang#\\d+, source#\\d+\\], Inner"
               .r.findFirstIn(p).isEmpty,
        s"$q: quadratic (lang, source)-only self-join present\n$p")
    }
  }

  test("dedup_allpairs_prefix joins on the posted shingle prefix, never all-pairs") {
    val p = plan("dedup_allpairs_prefix")
    // candidates come from the prefix-posting equi-join (keyed on g);
    // verification joins arrays back by doc id — no cartesian anywhere
    assert("Join \\[lang#\\d+, source#\\d+, g#\\d+".r.findFirstIn(p).isDefined,
      s"candidate join not keyed on the posted shingle\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup_keep_canonical broadcasts the tiny cluster map and argmaxes without a window sort") {
    val df = SparkEntry.queries("dedup_keep_canonical")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the cluster map (graph nodes only) joins the corpus broadcast —
    // a sort-merge join here would shuffle the whole corpus for a
    // driver-scale map
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // survivor selection is a hash aggregate (struct-max), never a
    // corpus-wide window sort
    assert(!p.contains("Window"), p.take(2000))
  }

  test("pipeline_framed_e2e prunes the framed scan to the pipeline's columns") {
    // AQE hides the scans until execution: run, then audit the final
    // plan string (FramedScan.description embeds each ReadSchema)
    val df = SparkEntry.queries("pipeline_framed_e2e")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val schemas =
      "FramedScan [^,]*, ReadSchema: struct<([^>]*)>".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(schemas.nonEmpty, s"no framed scan in the e2e plan\n${p.take(2000)}")
    // the fixture carries source/n_chars keys the pipeline never asks
    // for: parser-level pruning must keep them out of every ReadSchema
    // (the frame parser then skips their payloads without decoding)
    schemas.foreach { s =>
      assert(!s.contains("source") && !s.contains("n_chars"),
        s"unpruned framed ReadSchema: struct<$s>")
      assert(s.split(",").forall(f =>
        Set("doc_id", "lang", "text").contains(f.split(":")(0))),
        s"unexpected framed ReadSchema: struct<$s>")
    }
  }

  test("sim_ann_ivfpq is one scan into top-k: no joins, no aggregates, no window") {
    val p = plan("sim_ann_ivfpq")
    // both trained indexes are driver-side literals: IVF cell filter
    // and PQ ADC ranking must stay row-local projections — the only
    // plan that reads nprobe/nlist of a 100 TB corpus with no shuffle
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("HashAggregate") && !p.contains("Window"), p.take(2000))
  }

  test("text_bm25 broadcasts the query-bounded df side and cuts with a heap") {
    val p = plan("text_bm25")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("text_lexicon_filter is row-local: no joins, no aggregates, no window") {
    val p = plan("text_lexicon_filter")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("HashAggregate") && !p.contains("Window"), p.take(2000))
  }

  test("events_uplift_qini's only window runs on the post-aggregate band grid") {
    val p = plan("events_uplift_qini")
    // per-user conditional pass + band-grid aggregate; the cumulative
    // Qini window must sit ABOVE the aggregates (≤ 8 input rows), and
    // no per-user ranking window may exist anywhere
    assert("Window".r.findAllIn(p).size == 1, p.take(2000))
    val winIdx = p.indexOf("Window")
    assert(p.indexOf("HashAggregate", winIdx) > 0,
      "the window must consume an aggregate, not the corpus\n" + p.take(2000))
  }

  test("agg_benjamini_hochberg: one lane-grid aggregate, two bounded family windows") {
    val p = plan("agg_benjamini_hochberg")
    assert("Window".r.findAllIn(p).size == 2, p.take(2000))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p.take(2000))
  }

  test("graph_hits and agg_market_basket cut with heaps, never a cartesian product") {
    // graph_hits runs driver-side under HitsLocalMaxEdges (r19): the
    // measured plan is a local relation — zero distributed work; the
    // heap pin moves to the distributed arm below
    val ph = plan("graph_hits")
    assert(ph.contains("LocalTableScan"), ph.take(2000))
    assert(!ph.contains("Exchange"), ph.take(2000))
    val p = plan("agg_market_basket")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("the distributed HITS arm still cuts with heaps, never a cartesian product") {
    import org.apache.spark.sql.functions.col
    val e = Tables.lineitem(spark, sf001)
      .select(col("l_partkey").as("src"), col("l_suppkey").as("dst"))
      .distinct()
    val p = graft.operators.Analytics
      .hitsRoundsDistributed(e, graft.operators.Analytics.HitsIters)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("vec_random_projection pairs by equi-join; projection stays in the scan-side project") {
    val p = plan("vec_random_projection")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("Join"), p.take(2000)) // the successor equi-join
  }

  test("sim_ann_opq keeps the permuted ADC scan shuffle-free: no joins, no aggregates, no window") {
    val p = plan("sim_ann_opq")
    // the trained permutation is a row-local element_at gather and the
    // OPQ codebooks are driver-side literals — serving the permuted
    // layout must cost exactly what sim_ann_pq costs: one corpus scan
    // into TakeOrderedAndProject
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("HashAggregate") && !p.contains("Window"), p.take(2000))
  }

  test("sim_ann_ivfpq_rerank keeps the corpus pass shuffle-free: two stacked top-ks, no join") {
    val p = plan("sim_ann_ivfpq_rerank")
    // ADC shortlist then exact re-rank: the corpus sees ONE scan into
    // TakeOrderedAndProject(30); the exact kernel runs on the
    // constant-size shortlist in a second TakeOrderedAndProject —
    // never as a corpus-wide projection, never via a join
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("HashAggregate") && !p.contains("Window"), p.take(2000))
  }

  test("text_mixture_budget: one corpus shuffle serves both window specs") {
    val p = plan("text_mixture_budget")
    // running-sum and language-total windows share the lang
    // partitioning: Catalyst must stack the two Window nodes over ONE
    // hash Exchange (the only corpus-wide shuffle; the trailing range
    // exchange orders 5 grouped rows). A second corpus shuffle here
    // would double the op's cost for free.
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
    assert("Window".r.findAllIn(p).size >= 2, p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), p.take(3000))
  }

  test("merge_upsert: one shuffle per side, the merge join reuses the entity-key partitioning") {
    val p = plan("merge_upsert")
    // each side condenses via a ranked window (one hash exchange on
    // o_custkey); the full outer join's distribution requirement is
    // satisfied by that same partitioning, so a THIRD hash exchange
    // before the join would be a scale bug (the trailing range
    // exchange orders the merged snapshot)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p.take(3000))
    assert(p.contains("FullOuter"), p.take(3000))
  }

  test("merge_cdc_delete keeps the merge_upsert plan shape (delete arm adds no shuffle)") {
    val p = plan("merge_cdc_delete")
    // the tombstone flag and four-way CASE are row-local projections:
    // still one entity-key exchange per side, the full outer join
    // reuses that partitioning, no third hash exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p.take(3000))
    assert(p.contains("FullOuter"), p.take(3000))
  }

  test("text_winnow_pairs is posting-indexed: equi-join on fp, over-cap drop broadcast") {
    // r21: the query reads the session memo's checkpoint (shared with
    // text_winnow_clusters), so the pin audits the BUILDER the memo
    // evaluates once per session — the plan a production run executes
    val p = operators.TextOps.winnowPairs(
      graft.Tables.documents(spark, sf001),
      operators.TextOps.MinWinnowShared, operators.TextOps.MaxWinnowFpDf)
      .queryExecution.executedPlan.toString
    // the pair join must be an equi-join on the fingerprint (posting
    // buckets, never all-pairs), and the over-cap boilerplate list —
    // small by construction — must drop via a broadcast anti-join
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p.take(3000))
  }

  test("scd2_history: the whole history build rides ONE entity-key shuffle") {
    val p = plan("scd2_history")
    // lag-compression and the version/lead windows share the
    // o_custkey partitioning: Catalyst must stack all Window nodes
    // over a single hash Exchange; filter preserves partitioning, so
    // the post-compression windows need only an in-partition sort
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("export_shuffle_shards and text_pack_sequences never collapse to a single partition") {
    // the scale trap for shuffle-sharding / sequence-packing is a
    // GLOBAL ordered window (ntile / cumsum over a global ORDER BY) —
    // one partition processing the whole corpus. Both ops must key
    // their windows (shard / lang) and show no SinglePartition
    // exchange anywhere below the final tiny ordered report.
    for (q <- Seq("export_shuffle_shards", "text_pack_sequences")) {
      val p = plan(q)
      assert(!p.contains("SinglePartition"), s"$q:\n" + p.take(3000))
      assert(p.contains("hashpartitioning"), s"$q:\n" + p.take(3000))
    }
  }

  test("sample_reservoir_k compiles to TakeOrderedAndProject (bottom-k heaps, no global sort)") {
    val p = plan("sample_reservoir_k")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
  }

  test("sample_weighted keeps the bottom-k plan (A-ES key, no global sort)") {
    val p = plan("sample_weighted")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
  }

  test("events_user_paths: rank cutoff is a WindowGroupLimit, top-20 a TakeOrderedAndProject") {
    // the rn <= 5 filter must push into the window as a per-partition
    // running-rank cutoff (the corpus never fully materializes its
    // rank), and the final top-20 must be heap-based, not a global sort
    val p = plan("events_user_paths")
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("events_attribution_linear: candidate join is a user-key equi-join, never a product") {
    val p = plan("events_attribution_linear")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("graph_neighbor_jaccard: all equi-joins, no cartesian, no nested-loop fallback") {
    // common-neighbor counts come from the degree-oriented triangle
    // enumeration; every downstream join (degrees ×2, common counts)
    // is a key equi-join — a CartesianProduct or BNLJ anywhere means
    // the naive wedge formulation leaked back in
    val p = plan("graph_neighbor_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("graph_triangles reads the edge list from ONE materialization across its three reads") {
    // the oriented edge list is read three times (wedge tail, wedge
    // head, closure); the cooccurEdgesCached memo checkpoints the
    // orderkey self-join + co-occurrence aggregate ONCE per (session,
    // fixture), so the final plan consumes a materialized RDD scan —
    // strictly stronger than per-plan exchange reuse (and shared with
    // graph_kcore). Execute first: checkpointing happens at build time.
    val df = SparkEntry.queries("graph_triangles")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(300))
    assert(p.contains("ExistingRDD") || p.contains("ReusedExchange"), p.take(3000))
  }

  test("events_rfm buckets row-locally: no window anywhere, cuts broadcast back") {
    // the RFM trap is a global NTILE window; the shipped plan must
    // bucket by comparing against BROADCAST percentile cuts instead,
    // and the duplicated per-user subtree (metrics + cut derivation)
    // must dedupe to a ReusedExchange at runtime
    val df = SparkEntry.queries("events_rfm")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(300))
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("ReusedExchange"), p.take(3000))
  }

  test("join_pit_scd2 resolves versions by window, never an interval product") {
    val p = plan("join_pit_scd2")
    // the as-of resolution must be the running struct-max window over
    // the o_custkey partitioning — a range/interval join would show a
    // nested-loop product of facts × versions (the 100 TB explosion)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
    assert("Exchange hashpartitioning\\(o_custkey".r.findAllIn(p).size == 2, p.take(3000))
  }

  test("text_winnowing stacks both per-doc windows over ONE doc_id shuffle") {
    val p = plan("text_winnowing")
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size == 1, p.take(3000))
    assert(!p.contains("SinglePartition"), p.take(3000))
  }

  test("events_attribution resolves on one user_id shuffle, no purchase-by-touch product") {
    val p = plan("events_attribution")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("text_quality_buckets broadcasts the per-lang cuts, no window anywhere") {
    val p = plan("text_quality_buckets")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("win_ewma and win_interpolate shuffle the corpus once on user_id") {
    // both ops stack their windows over a single user_id hash
    // partitioning (interpolate's spine join shares the composite key
    // exchange); neither may fall into a SinglePartition window
    for (q <- Seq("win_ewma", "win_interpolate")) {
      val p = plan(q)
      assert(!p.contains("SinglePartition"), s"$q:\n" + p.take(3000))
      assert(p.contains("hashpartitioning(user_id"), s"$q:\n" + p.take(3000))
    }
    // ewma specifically: ONE corpus window exchange (the trailing
    // range exchange is the ordered output)
    val pe = plan("win_ewma")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(pe).size == 1, pe.take(3000))
  }

  test("topk_pareto_frontier is window-over-aggregated-domain: no join anywhere") {
    // the skyline must come from the running-max window over the
    // per-(brand, price) candidate aggregate — a dominance self-join
    // (the oracle's quadratic NOT EXISTS) in the engine plan would be
    // the 100 TB bug
    val p = plan("topk_pareto_frontier")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("Window"), p.take(3000))
  }

  test("join_fuzzy_string: vocab-sized broadcast equi-join, never a corpus product") {
    val p = plan("join_fuzzy_string")
    // the distance join runs on the aggregated name vocabulary,
    // blocked on the noun token: an equi-join (broadcast at this
    // size), with the O(len²) levenshtein behind the block + length
    // band — a cartesian/BNLJ means blocking leaked out
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("profile_columns reads the table ONCE (single scan under the Expand)") {
    val p = plan("profile_columns")
    // all per-column aggregates (incl. the exact multi-DISTINCT's
    // Expand) must sit over one FileScan — a per-column scan would
    // read the corpus six times
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(3000))
    assert(p.contains("Expand"), p.take(3000))
  }

  test("agg_incremental_maintain merges partial states map-side (partial+final aggs)") {
    val p = plan("agg_incremental_maintain")
    // snapshot and delta partials union then re-aggregate: the merge
    // agg must itself split partial/final (map-side combinable), and
    // no join appears — state merge is union + agg, never a join
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("scan_partition_evolution: BOTH generation scans prune on their own spec") {
    val p = plan("scan_partition_evolution")
    // the month generation prunes on ym, the day generation on ymd —
    // partition filters must be live in each FileScan, and the
    // row-level date filter must still push to the data
    assert(p.contains("PartitionFilters: [isnotnull(ym"), p.take(4000))
    assert(p.contains("PartitionFilters: [isnotnull(ymd"), p.take(4000))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"), p.take(4000))
  }

  test("agg_incremental_retract: broadcast anti/semi repair joins, no product") {
    val p = plan("agg_incremental_retract")
    // the delete-key anti-join and the dirty-key semi filter are both
    // delete-batch-sized: they must broadcast, never shuffle the
    // corpus side, and nothing may degenerate to a product
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p.take(3000))
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    // signed + snapshot partial states stay map-side combinable
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(3000))
  }

  test("agg_group_entropy joins counts to totals without a third exchange") {
    val p = plan("agg_group_entropy")
    // counts (user, type) and totals (user) both hash-partition by
    // user_id-prefixed keys; the join and final agg must reuse those
    // partitionings rather than add exchanges: at most the two
    // aggregation exchanges appear (plus the trailing ordered output)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3, p.take(3000))
  }

  test("vec_standardize broadcasts the dimension stats (no corpus-side stats join shuffle)") {
    val p = plan("vec_standardize")
    // the per-dimension stats table is d rows; joining it back must be
    // a broadcast — hash-partitioning the exploded corpus on `pos`
    // (64 keys!) to meet a shuffle join would be both a skew and a
    // scale bug
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SinglePartition"), p.take(3000))
  }

  test("text_bigram_lm broadcasts the unigram sides; only the bigram join shuffles") {
    // the unigram table is vocabulary-scale and must ride broadcast
    // joins (it joins TWICE, for w1 and w2); a sort-merge there would
    // re-shuffle the exploded corpus per side
    val p = plan("text_bigram_lm")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("agg_weighted_median's two-level fold has no window anywhere (VERDICT r12 #2)") {
    // the de-weakened plan: the old formulation sorted each group's
    // whole distinct-price grid through one task via a 3-value window
    // partition; the binned fold must never reintroduce one
    val p = plan("agg_weighted_median")
    assert(!p.contains("Window"), p.take(3000))
    // the bounds and winning-bin tables ride broadcast joins, never a
    // grid-sized shuffle join
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("dedup_paragraph: first-occurrence rank is digest-partitioned, never global") {
    // the exact-dedup shuffle class: the row_number window must hash
    // on the chunk digest (duplicate-count-sized groups) — a global
    // window would sort the whole exploded corpus through ONE task
    val p = plan("dedup_paragraph")
    assert(p.contains("Window"), p.take(3000))
    assert(p.contains("hashpartitioning(_w"), p.take(3000))
    assert(!p.contains("SinglePartition"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("dq_expectations: one aggregate pass per table, FK via anti join, no window") {
    // the gate must not rescan a table per expectation: each table's
    // row-local checks collapse into one Aggregate (profile_columns
    // explode move); the only join is the FK anti probe
    val p = plan("dq_expectations")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("profile_key_skew: frequency grid hash-agg only — no join, no window") {
    val p = plan("profile_key_skew")
    assert(!p.contains("Window"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    // the grid collapse must partial-aggregate map-side
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("multimodal_pack_shards: ONE media_type exchange, payload reduced before it") {
    // the cumsum window and the shard rollup must share the single
    // per-type partitioning, and the binary payload must shrink to
    // its length BEFORE the exchange (project below the shuffle)
    val p = plan("multimodal_pack_shards")
    assert("Exchange hashpartitioning\\(media_type".r.findAllIn(p).size == 1,
      p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
    assert(!p.contains("payload"), p.take(3000)) // never crosses the wire
  }

  test("agg_mann_whitney's binned prefix has no window anywhere (VERDICT r14 #3)") {
    // the de-weakened plan: the old formulation ran Window.orderBy
    // over the whole distinct-cents grid in ONE task; the two-level
    // fold (broadcast bounds → bin subtotals fold → per-bin seeded
    // fold) must never reintroduce a window, and the offs/bounds
    // tables must ride broadcasts, never a grid-sized shuffle join
    val p = plan("agg_mann_whitney")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("events_quantile_te rides the binned fold: no window, broadcasts only") {
    // exact per-arm quartiles must inherit the de-weakened
    // agg_mann_whitney/agg_weighted_median plan class: the only
    // corpus-scale exchange is the per-user hash-agg; bounds and
    // winning-bin tables ride broadcasts; no window, no grid-sized
    // shuffle join, no global sort before the final 3-row ORDER BY
    val p = plan("events_quantile_te")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("agg_mad broadcasts the per-group medians, no window anywhere") {
    val p = plan("agg_mad")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("join_dpp_partitioned: the fact scan carries a dynamicpruning partition filter") {
    // the dim filter must reach the FACT side at runtime: Catalyst
    // injects dynamicpruningexpression(...) into the partitioned
    // scan's PartitionFilters, so only the dim's surviving buckets
    // are read — the star-schema skip that matters at 100 TB
    val p = plan("join_dpp_partitioned")
    assert(p.toLowerCase.contains("dynamicpruning"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
  }

  test("agg_psi: fixed-grid hash-agg with broadcast totals, no window") {
    // drift must stay one corpus pass: conditional counts collapse to
    // the <= PsiBins grid map-side, totals ride a broadcast, the PSI
    // fold is row-local over the tiny bin table
    val p = plan("agg_psi")
    assert(!p.contains("Window"), p.take(3000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("agg_ks_drift: ECDF is a row-local fold over the sorted bin array, no window") {
    // the supremum scan must never sort data through a window — the
    // cumulative counts live in ONE collected <= KsBins array
    val p = plan("agg_ks_drift")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000)) // the 1-row bounds ride a broadcast
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("graph_assortativity: equi-joins only, single mergeable stats aggregate") {
    val p = plan("graph_assortativity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    // the six sufficient statistics must land in one partial+final agg
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("win_cumsum_reset stacks all three windows on ONE user_id exchange") {
    // the reset is algebra on the running total (tot − tot@last-reset),
    // precisely so the inner cumsum never re-partitions by
    // (user, segment) — a second corpus exchange would be the naive
    // shape's cost
    val p = plan("win_cumsum_reset")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("agg_weighted_median: the corpus collapses to the price grid before any fold") {
    // the r12 de-weak replaced the windowed formulation; what remains
    // load-bearing is that the ONLY corpus-wide work is the grid
    // hash-agg (map-side combined) — every later stage aggregates or
    // broadcast-joins grid- or group-scale rows
    val p = plan("agg_weighted_median")
    assert(p.contains("HashAggregate"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("text_zipf_slope and text_collocations cut ranks with WindowGroupLimit") {
    // both rank filters must compile to the per-partition running-rank
    // cutoff: the (vocabulary-sized) window input never fully sorts
    for (q <- Seq("text_zipf_slope", "text_collocations")) {
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"), s"$q:\n" + p.take(3000))
      assert(!p.contains("CartesianProduct"), s"$q:\n" + p.take(3000))
    }
  }

  test("events_forecast_naive joins two derivatives of ONE daily aggregate") {
    val p = plan("events_forecast_naive")
    // the self-join on (event_type, d−7) must be an equi-join over the
    // aggregated daily domain; the corpus is touched by exactly one
    // aggregate subtree (Spark may re-exchange the shifted side, but
    // never re-scan or product)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert("Scan parquet".r.findAllIn(p).size <= 2, p.take(3000))
  }

  test("sim_knn_classify: BOUNDED labeled set broadcasts, rank cut is WindowGroupLimit") {
    val p = plan("sim_knn_classify")
    // the reference side must BROADCAST (labeled data is small by
    // construction — the corpus streams through a BNLJ, never an
    // all-pairs shuffle), and the constant k cut must bound each
    // vec_id partition before any sort
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    // the broadcast side is PROVABLY bounded: the seeded bottom-k
    // selection compiles to TakeOrderedAndProject with the literal
    // KnnRefSetSize — never the corpus broadcast against itself
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(p.contains(graft.operators.Similarity.KnnRefSetSize.toString), p.take(3000))
  }

  test("sample_balanced: one lang window, min-class cutoff broadcast back") {
    val p = plan("sample_balanced")
    // the data-dependent cutoff is a 1-row aggregate joined by
    // broadcast — the corpus must never shuffle a second time for it
    assert("Exchange hashpartitioning\\(lang".r.findAllIn(p).size <= 2, p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("events_decay_sum: single mergeable agg pass, anchor broadcast, no window") {
    val p = plan("events_decay_sum")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000)) // 1-row maxd
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(3000)) // partial+final
  }

  test("vec_pca_project: fit output and dimension means broadcast into one corpus pass") {
    val p = plan("vec_pca_project")
    // the 64-row loading and mean tables must broadcast — shuffling
    // the exploded corpus on the 64-key dimension id to meet them
    // would be the vec_standardize skew/scale bug
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("vec_outliers: centroids and cutoffs broadcast back, no window") {
    val p = plan("vec_outliers")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p.take(3000))
  }

  test("join_incremental_maintain: four equi-join arms, never a product") {
    val p = plan("join_incremental_maintain")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("events_seasonal_decompose windows the daily GRID, seasonal means broadcast back") {
    val p = plan("events_seasonal_decompose")
    // the corpus must collapse to (type, day) rows before any window,
    // and the type×7 seasonal table must come back by broadcast
    assert(p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("agg_winsorized_mean: cuts broadcast back, clip is row-local, no window") {
    val p = plan("agg_winsorized_mean")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p.take(3000))
  }

  test("vec_matryoshka_recall: every arm is a broadcast-query TakeOrderedAndProject") {
    val p = plan("vec_matryoshka_recall")
    // three corpus passes, each the sim_topk shape: query slice
    // broadcasts, per-partition heaps merge once — no global sort, no
    // corpus shuffle anywhere in the report
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!"Exchange hashpartitioning".r.findFirstIn(p).isDefined ||
           "Exchange hashpartitioning".r.findAllIn(p).size <= 3, p.take(3000))
  }

  test("agg_gini: binned Lorenz — hash-aggs + broadcast bounds, NO window anywhere") {
    val p = plan("agg_gini")
    // the customer domain must never sort through one partition: the
    // binned formulation has NO window at all — per-customer hash-agg,
    // broadcast 1-row bounds, row-local bin, per-bin hash-agg, and a
    // row-local HOF fold over the ≤ GiniBins sorted array
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000)) // 1-row bounds
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("events_survival windows the offset GRID only") {
    val p = plan("events_survival")
    // subjects collapse per user first; every window runs over ≤
    // span-days grid rows (single-partition by design at that scale)
    assert(p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000)) // 1-row maxd/total
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("join_star_schema: every dim broadcasts, the fact never shuffles pre-agg") {
    // the snowflake arm (supplier→nation→region) must collapse
    // broadcast-side and the fact must probe two broadcast hash maps —
    // the only Exchange allowed is the final tiny aggregation
    val p = plan("join_star_schema")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    assert(!p.contains("ShuffledHashJoin"), p.take(4000))
  }

  test("win_drawdown: both running aggregates share ONE user_id exchange") {
    val p = plan("win_drawdown")
    assert(p.contains("Window"), p.take(3000))
    // one shuffle for the window pair + one for the final hash-agg
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p.take(3000))
  }

  test("join_runtime_bloom: Catalyst injects the bloom probe into the fact side") {
    // under the scoped confs the optimizer must plant a
    // bloom_filter_agg subquery on the selective dim and a
    // might_contain probe on the fact scan — rows drop BEFORE the
    // join shuffle writes them
    val p = graft.operators.Joins.withRuntimeBloomConfs(spark) {
      graft.operators.Joins.runtimeBloomJoin(spark, sf001)
        .queryExecution.optimizedPlan.toString
    }
    assert(p.toLowerCase.contains("bloom"), p.take(4000))
  }

  test("vec_hamming_topk: query signatures broadcast, rank cut is WindowGroupLimit") {
    val p = plan("vec_hamming_topk")
    // the 8-signature probe set must ride a broadcast (non-equi join →
    // BroadcastNestedLoopJoin), and the top-K cut must prune map-side
    // before the tiny q_id exchange
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    assert(p.contains("WindowGroupLimit"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("multimodal_phash: candidate pairs come from a band-key equi-join, never all-pairs") {
    // the near-dup self-join must bucket on the (band, key) LSH pair —
    // a CartesianProduct or BNLJ means the brute-force oracle shape
    // leaked into the Spark plan; the exact Hamming gate is a filter
    // AFTER the equi-join, not a join condition that defeats bucketing
    val p = plan("multimodal_phash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(4000))
    assert(p.contains("hashpartitioning"), p.take(4000))
  }

  test("dedup_substring: window numbering is digest-partitioned, never a global window") {
    // first-occurrence-wins must partition by the window digest — an
    // unpartitioned row_number would serialize the corpus through one
    // task; and nothing in the chain may degrade to all-pairs.
    // r21: the query reads the coverage memo (shared with
    // dedup_substring_spans), so the pin audits the BUILDER the memo
    // evaluates once per session
    val p = operators.Dedup.substringDedupDocs(
      graft.Tables.documents(spark, sf001))
      .queryExecution.executedPlan.toString
    assert(p.contains("windowspecdefinition(dg"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("dedup_semdedup: the pair search is a cid equi-join, never all-pairs") {
    // within-cluster comparison must bucket on the cluster id (the
    // cosine gate is a post-join filter, not a join condition that
    // defeats bucketing); at production k the same plan shuffles on
    // thousands of cids — parallelism scales with k
    val p = plan("dedup_semdedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(4000))
  }

  test("text_decontaminate: benchmark n-grams ride a broadcast, corpus grams never shuffle") {
    // the eval-set n-gram table is tiny by construction — the gram
    // probe must be a BroadcastHashJoin against its distinct
    // aggregate, never a SortMergeJoin (which would shuffle the full
    // corpus's exploded n-grams) and never a CartesianProduct
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("sim_hybrid_rrf: both arms broadcast the probe, corpus never shuffles pre-cut") {
    // lexical arm = BroadcastHashJoin on the probe's token set, vector
    // arm = broadcast 1-row probe (BNLJ); both top-20 cuts must be
    // heap-based TakeOrderedAndProject, and nothing may fall back to a
    // CartesianProduct (all-pairs) — corpus-side work is scan-local
    val p = plan("sim_hybrid_rrf")
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("text_curation_funnel: one corpus scan, one digest exchange, no joins") {
    // all gate signals compute row-locally in the same pass; the only
    // hash exchange is the dedup window's digest partitioning, the
    // funnel tallies ride map-side partial aggregates, and no stage
    // re-reads or joins the corpus
    val p = plan("text_curation_funnel")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("join_spatial_grid: candidates from a cell-key equi-join, top-k is a heap") {
    // the distance join must bucket on the (cx, cy) grid key — a
    // CartesianProduct/BNLJ means the brute-force oracle shape leaked
    // in — and the 500-closest cut must be heap-based, not a global
    // sort of the qualifying pairs
    val p = plan("join_spatial_grid")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(4000))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
  }

  test("dedup_url_canonical: canonicalization is row-local — no join, two hash-aggs") {
    val p = plan("dedup_url_canonical")
    assert(!p.contains("Join"), p.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p.take(3000))
  }

  test("agg_grid_hotspots: corpus aggregates once, smoothing is grid-vs-grid, top-10 a heap") {
    // the corpus groupBy sits behind the grid's localCheckpoint (not
    // visible in this plan); what must hold downstream: the 3×3
    // smoothing is a cell-key BROADCAST equi-join of the ≤400-row grid
    // (never a range/cartesian product) and the hotspot cut is a heap
    val p = plan("agg_grid_hotspots")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
  }

  test("text_dsir: model and cuts broadcast onto the corpus, no product joins") {
    val p = plan("text_dsir")
    // the 64-row bucket model and the per-lang cuts must broadcast;
    // the only nested-loop joins are the 1-row totals cross
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("text_novelty: digest-co-partitioned join, no product, no single-partition window") {
    val p = plan("text_novelty")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert(!p.contains("SinglePartition"), p.take(3000))
  }

  test("agg_kmv_intersection: sketches broadcast; only the 5-type pair cross nests") {
    val p = plan("agg_kmv_intersection")
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("sample_curriculum: the percentile window partitions by lang") {
    // (a SinglePartition exchange exists legitimately — the unigram
    // LM's 1-row corpus total; the WINDOW must not be global)
    val p = plan("sample_curriculum")
    assert(p.contains("windowspecdefinition(lang"), p.take(3000))
    assert(p.contains("percent_rank"), p.take(3000))
  }

  test("text_unigram and text_kneser_ney stay product-free") {
    for (q <- Seq("text_unigram", "text_kneser_ney")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n" + p.take(3000))
    }
  }

  test("no shipped plan carries a generator-feed kernel in a pushed-down filter") {
    // The ba29383 class (dedup_cdc_chunks 108×, text_shingle_df 13×):
    // InferFiltersFromGenerate synthesizes size(x) > 0 over an explode
    // child, predicate pushdown substitutes the projection in, and the
    // whole tokenize/shingle/hash kernel re-evaluates per input row
    // below the Generate. Dev.offendingFilters detects both
    // signatures (a HOF lambda inside a Filter condition, or
    // size(<non-attribute>)); this walk keeps the entire query surface
    // clean. dq_expectations is allowlisted: its hit is size() over an
    // inline struct array built from already-aggregated scalars — a
    // one-row frame, not a corpus-scale kernel.
    val allow = Set("dq_expectations")
    val bad = SparkEntry.queries.keys.toSeq.sorted.filterNot(allow).flatMap { n =>
      Dev.offendingFilters(
        SparkEntry.queries(n)(spark, sf001).queryExecution.optimizedPlan)
        .map { case (kind, cond) => s"$n [$kind] $cond" }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("text_shingle_df evaluates the shingle kernel exactly once") {
    val p = plan("text_shingle_df")
    // the kernel lives in ONE Project; no Filter may carry transform()
    assert("transform\\(sequence".r.findAllIn(p).size == 1, p.take(6000))
    assert(p.contains("Generate explode"), p.take(3000))
  }

  test("multimodal_image_decode is row-local: encode+decode kernels inline, scan prunes to doc_id") {
    val p = plan("multimodal_image_decode")
    // the PNG round-trip is pure projection work — the only exchange
    // is the final ORDER BY's range partitioning
    assert(!p.contains("hashpartitioning"), p.take(3000))
    assert(p.contains("graft_image_meta") && p.contains("graft_png_encode_gray"),
      p.take(3000))
    // planted params derive from doc_id alone — nothing else is read
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p.take(3000))
  }

  test("multimodal_wav_vad decodes real PCM row-locally (no hash exchange)") {
    val p = plan("multimodal_wav_vad")
    assert(!p.contains("hashpartitioning"), p.take(3000))
    assert(p.contains("graft_wav_frame_energies") &&
           p.contains("graft_wav_encode_pcm16"), p.take(3000))
  }

  test("dedup_substring_spans: one digest shuffle, broadcast join-back, row-local merge") {
    // r21: audits the builder plan (the query reads the coverage memo
    // — see the dedup_substring pin)
    val p = operators.Dedup.substringDupSpans(
      graft.Tables.documents(spark, sf001))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(dg".r.findAllIn(p).size == 1, p.take(5000))
    assert(p.contains("BroadcastHashJoin"), p.take(5000))
    assert(!p.contains("SortMergeJoin"), p.take(5000))
  }

  test("multimodal_wav_stereo is row-local: encode+downmix inline, scan prunes to doc_id") {
    val p = plan("multimodal_wav_stereo")
    assert(!p.contains("hashpartitioning"), p.take(3000))
    assert(p.contains("graft_wav_encode_stereo") &&
           p.contains("graft_wav_stereo_meta"), p.take(3000))
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p.take(3000))
  }

  test("dq_dp_noise / dq_dp_sum: one partial+final hash-agg each, noise after the grid") {
    Seq("dq_dp_noise", "dq_dp_sum").foreach { q =>
      val p = plan(q)
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$q:\n${p.take(3000)}")
      // exactly the grouping exchange — noise is projection work above it
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"$q:\n${p.take(3000)}")
      assert(!p.contains("Join"), s"$q must not join:\n${p.take(3000)}")
    }
  }

  test("text_html_strip: row-local strip chain, no exchange before the lang grid") {
    val p = plan("text_html_strip")
    // one grouping exchange (the per-lang grid); the regex chain is
    // projection work under it
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("sample_pack_chunks: intra-bucket windows carry a partition key; offsets broadcast back") {
    val p = plan("sample_pack_chunks")
    // the per-doc cumsum window partitions by bucket...
    assert(p.contains("windowspecdefinition(bucket"), p.take(4000))
    // ...and the bucket-offset table re-enters via broadcast, never a
    // corpus-side shuffle join
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
  }

  test("scan_delta_export: metadata-scale joins broadcast; stats parse stays projection") {
    val p = plan("scan_delta_export")
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
  }

  test("sim_ann_graph_pq: ADC scoring is inline projection; the beam probe broadcasts") {
    val p = plan("sim_ann_graph_pq")
    // the final rerank plan: beam ids join the corpus via broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
  }

  test("sim_ann_graph_nnd: the final plan is a bounded rank over the " +
       "LOCAL beam — no build joins, no corpus exchange") {
    // r21: the query serves the session memo's checkpoint (the walk is
    // shared with sim_ann_graph_nnd_recall), so the pin audits the
    // BUILDER walk the memo evaluates once per session
    val p = operators.Similarity.graphBeamSearch(
      graft.Tables.embeddings(spark, sf001),
      operators.Similarity.nndGraphCached(spark, sf001), 10)
      .queryExecution.executedPlan.toString
    // the NN-descent build materializes behind localCheckpoints and
    // the beam (≤ GraphBeam rows by construction) is held as a
    // collected local relation between rounds (r21) — the returned
    // plan must be ONLY the ≤ beam-row rank window over that local
    // relation; any join, hash exchange, or distributed scan here
    // would mean build or search state leaked into the measured plan
    assert(p.contains("LocalTableScan"), p.take(4000))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    assert(!p.contains("Join"), p.take(4000))
    assert(!p.contains("hashpartitioning"), p.take(4000))
    assert(!p.contains("Scan parquet"), p.take(4000))
  }

  test("sim_ann_graph_nnd_append: the measured plan is the same bounded " +
       "rank over the local beam — build AND patch stay index state") {
    val p = plan("sim_ann_graph_nnd_append")
    assert(p.contains("LocalTableScan"), p.take(4000))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    assert(!p.contains("Join"), p.take(4000))
    assert(!p.contains("hashpartitioning"), p.take(4000))
    assert(!p.contains("Scan parquet"), p.take(4000))
  }

  test("sim_ann_graph_nnd_compact: the measured plan joins two " +
       "beam-scale local windows — no corpus scan anywhere") {
    // both builds (compacted live-set graph, full-corpus lazy graph)
    // live behind localCheckpoints and both beams are local relations
    // (r21); the measured plan is the agrees_lazy join of two
    // <= 10-row rank windows. The one thing that must never appear is
    // a parquet scan: embeddings re-entering here would mean an index
    // build leaked into the measured query
    val p = plan("sim_ann_graph_nnd_compact")
    assert(p.contains("LocalTableScan"), p.take(4000))
    assert(!p.contains("Scan parquet"), p.take(4000))
  }

  test("vec_pca_topk: the driver-side fit serves a local relation — " +
       "zero distributed work in the measured plan") {
    // the r18 de-weak: under PcaDriverDimGate the whole fit collapses
    // to driver math on the memoized covariance; the query's plan must
    // carry no exchange, no join, no aggregate — a reappearing
    // distributed round would show up here before it shows in BENCH
    val p = plan("vec_pca_topk")
    assert(!p.contains("Exchange"), p.take(4000))
    assert(!p.contains("Join"), p.take(4000))
    assert(!p.contains("HashAggregate"), p.take(4000))
  }

  test("source_avro / sink_avro_roundtrip: whole-container tasks, " +
       "partial aggregation before the final grid exchange") {
    Seq("source_avro", "sink_avro_roundtrip").foreach { q =>
      val p = plan(q)
      // binaryFile hands whole containers to tasks; the decode is a
      // row-local flatMap (SerializeFromObject feeds the agg) and the
      // count/sum aggregate must split partial/final so container
      // payloads never cross the exchange
      assert(p.contains("BinaryFileScan") || p.contains("binaryFile"), s"$q: ${p.take(2000)}")
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$q: ${p.take(3000)}")
    }
  }

  test("memoized queries are actually SERVED from their checkpointed artifact") {
    // r22 (ADVICE r21 #3): the five r21 builder pins audit the plan
    // the memo evaluates ONCE — this is the complementary query-level
    // assertion that the registered query actually reads the artifact
    // (a Scan ExistingRDD / checkpoint scan), so a wiring regression
    // in a *Cached wrapper (accidentally rebuilding per call) fails
    // loudly instead of silently doubling the work
    Seq("text_lm_score", "text_winnow_pairs", "dedup_substring_spans",
        "sim_ann_graph_nnd", "dedup_minhash_recall_bracket").foreach { q =>
      // evaluate twice: the second call must be checkpoint-served
      SparkEntry.queries(q)(spark, sf001).collect()
      val p = plan(q)
      assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
        s"$q is not served from its memoized artifact:\n${p.take(3000)}")
    }
  }

  test("whole-stage codegen covers the hot paths of the flagship aggregate") {
    // AQE finalizes stages only at execution; run the query, then check
    // the final adaptive plan for codegen stage markers (`*(n)`)
    val df = SparkEntry.queries("agg_hash_groupby")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(300))
    assert(p.contains("*("), p.take(2000))
  }
}
