package graft

/** Physical-plan audit: asserts the load-bearing plan properties that
  * make queries viable at 100 TB — filters reaching the parquet scan,
  * projections pruned, small sides broadcast, top-k never sorting the
  * world, aggregates partial+final. One test per audited query, run on
  * the shared (shipped) session at sf0.001, the scale the checks were
  * written for.
  */
class ExplainAuditSpec extends SparkSpec {

  /** (query, all-of-these-appear, none-of-these-appear) over the
    * formatted physical plan.
    */
  private val checks: Seq[(String, Seq[String], Seq[String])] = Seq(
    // filter + projection must reach the scan: at 100 TB this is the
    // difference between reading 2 columns of matching row groups and
    // reading everything
    ("scan_parquet", Seq("PushedFilters: [IsNotNull(l_shipdate)", "ReadSchema"), Seq.empty),
    // date-partitioned layout: the day filter must prune partitions at
    // listing time (PartitionFilters on the scan), not read-and-filter
    ("scan_hive_partitioned", Seq("PartitionFilters: [isnotnull(day"), Seq.empty),
    ("agg_basic", Seq("HashAggregate", "partial_sum"), Seq("CartesianProduct")),
    // dimension joins must be map-side
    ("join_broadcast", Seq("BroadcastHashJoin"), Seq("SortMergeJoin", "CartesianProduct")),
    ("join_inner_equi", Seq.empty, Seq("CartesianProduct", "BroadcastNestedLoop")),
    // existence joins must stay semi/anti, not materialize the match side
    ("join_semi", Seq("LeftSemi"), Seq.empty),
    ("join_anti", Seq("LeftAnti"), Seq.empty),
    // theta join: the only acceptable nested-loop shape is broadcast
    ("join_range_theta", Seq("BroadcastNestedLoopJoin"), Seq("CartesianProduct")),
    // big-big range join: intervals explode into grid buckets (Generate)
    // and meet points through a bucket EQUI-join — the nested-loop
    // strategies must be absent; that is the operator's whole contract
    ("join_range_bucketed", Seq("Generate", "HashAggregate"),
      Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
    // interval overlap: BOTH sides explode to grid buckets and meet in
    // an equi-join; the canonical-bucket filter replaces any distinct —
    // nested-loop strategies must be absent
    ("join_interval_overlap", Seq("Generate", "HashAggregate"),
      Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
    // fuzzy join: candidates from the shared-q-gram equi-join; the
    // short-string stratum's bounded cross is a BNLJ over a statically
    // tiny side, but a full CartesianProduct (shuffle nested loop over
    // two big sides) must never appear
    ("join_fuzzy_levenshtein", Seq("levenshtein", "Generate"),
      Seq("CartesianProduct")),
    // Jaro-Winkler fuzzy join: candidates from the RAREST-TOKEN-PREFIX
    // equi-join (Generate = token explode, Window = the per-name
    // rarity rank that trims each name to its tokenDiff+1 rarest
    // blocking tokens — the anti-df² device, it must survive
    // optimization), verify via the codegen'd jaro_winkler expression
    // — never a nested loop over names
    ("join_fuzzy_jaro", Seq("jaro_winkler", "Generate", "Window"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // RAG chunking: tokenize + sequence-explode + positional slice is a
    // pure per-row projection — no join, no aggregate; the only
    // exchange is the declared ORDER BY's range partition
    ("chunk_overlap_windows", Seq("Generate"),
      Seq("SortMergeJoin", "BroadcastHashJoin", "HashAggregate")),
    // containment near-dup: a-prefix × full-posting equi-join, verify
    // via the sorted-set intersection kernel — never a nested loop
    ("dedup_docs_containment", Seq("intersect_count_sorted"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // as-of join must be the linear union+window plan, not a range join
    ("join_asof", Seq("Window", "Union"), Seq("CartesianProduct", "BroadcastNestedLoop")),
    // validated m:1 join: the uniqueness guard (Window + raise_error
    // filter) must survive optimization — a safety check the optimizer
    // prunes is no safety check — and must ride on the DIMENSION side
    // only: the join stays broadcast, the fact side exchange-free
    // (maxOccur caps hash exchanges at 1: the window's shuffle of the
    // small unique side is the check's whole cost)
    ("join_validated", Seq("Window", "raise_error", "BroadcastHashJoin"),
      Seq("CartesianProduct", "SortMergeJoin")),
    // snapshot-diff CDC: ONE full-outer sort-merge join on the key,
    // both sides shuffled exactly once (maxOccur caps the exchanges);
    // the new-snapshot derivation filters must reach the scans
    ("snapshot_diff", Seq("SortMergeJoin", "FullOuter"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // weighted median: one scan, ONE hash shuffle feeding BOTH window
    // passes AND the final partial+final aggregate (the groupBy key
    // equals the window partition key, so no re-exchange)
    ("agg_weighted_median", Seq("Window", "partial_min"),
      Seq("CartesianProduct", "Join")),
    // node-similarity top-100 must be a per-partition heap, never a
    // global sort; the pair counts and degrees come from the SHARED
    // bucketed co-purchase tables (no lineitem re-derivation)
    // (the planner rightly DISABLES the bucketed read here — every
    // join is broadcast at audit scale, so nothing needs the bucket
    // partitioning and splitting files wins; assert the shared table
    // is the source instead)
    ("graph_jaccard_neighbors", Seq("TakeOrderedAndProject", "graft_copurchase_edges"),
      Seq("CartesianProduct", "BroadcastNestedLoop", "lineitem.parquet")),
    // frontier BFS: every round is equi-join + anti-join over the
    // shared bucketed edge table, no nested loop, no lineitem re-derive
    ("graph_bfs_levels", Seq("HashAggregate", "Bucketed: true"),
      Seq("CartesianProduct", "BroadcastNestedLoop", "lineitem.parquet")),
    // top-k must plan as TakeOrdered (per-partition heap), never a
    // global sort of all rows
    ("topk_nlargest", Seq("TakeOrderedAndProject"), Seq.empty),
    ("topk_nsmallest", Seq("TakeOrderedAndProject"), Seq.empty),
    // multiset set ops: count-aggregate + replicate, never a join
    ("setop_all_variants", Seq("HashAggregate", "Generate"),
      Seq("Join", "CartesianProduct")),
    // rank-filter must push the limit into the window sort
    ("window_rank_topn", Seq("WindowGroupLimit"), Seq.empty),
    ("groupby_head", Seq("WindowGroupLimit"), Seq("Join", "CartesianProduct")),
    // distinct-style agg: partial on the map side
    ("dedup_exact", Seq("HashAggregate"), Seq.empty),
    // scalar pipelines must stay in whole-stage codegen ("*(n)" spans)
    // with the filter pushed into the scan
    ("scalar_math", Seq("*(1) Project", "PushedFilters: [IsNotNull(l_orderkey)"), Seq.empty),
    // similarity joins must be equi-joins on the block key
    ("vec_sim_join_blocked", Seq.empty, Seq("CartesianProduct", "BroadcastNestedLoop")),
    ("dedup_docs_minhash", Seq.empty, Seq("CartesianProduct", "BroadcastNestedLoop")),
    // the two most expensive queries in the suite: candidate generation
    // must stay equi-join-shaped, and the PPJoin positional filter's
    // groupBy (partial+final HashAggregate over pair counts) must be in
    // the plan — without it every prefix collision reaches the verify
    // join (the round-2 3× regression)
    // ...and below the regime switch's broadcast budget the candidate
    // and verify joins must be EXPLICIT broadcasts (round 9: this plan
    // used to depend on a lucky pre-materialization size estimate)
    ("dedup_docs_ngram_jaccard", Seq("HashAggregate", "BroadcastHashJoin"),
      Seq("CartesianProduct", "BroadcastNestedLoop", "SortMergeJoin")),
    ("dedup_docs_simhash", Seq.empty, Seq("CartesianProduct", "BroadcastNestedLoop")),
    ("dedup_docs_ngram_join", Seq("HashAggregate"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // ANN probes must be equi-joins against the prebuilt key — a probe
    // that recomputes per-corpus-row buckets behind a cross join is
    // brute force with extra steps
    ("ann_cosine_lsh", Seq("BroadcastHashJoin"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    ("ann_cosine_ivf", Seq("BroadcastHashJoin"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // SQL frontend produces the same plan shapes as the DSL: broadcast
    // dims + partial aggregation, and the limit plans as TakeOrdered
    ("sql_q3_shipping", Seq("BroadcastHashJoin", "TakeOrderedAndProject"),
      Seq("CartesianProduct")),
    // batch sliding windows: one Expand (4 rows per event), then a
    // normal partial+final aggregate — not a self-join per offset
    ("ts_sliding_hour", Seq("Expand", "HashAggregate"), Seq("Join")),
    // upsert merge: ONE full-outer sort-merge join on the key (full
    // outer cannot broadcast), never a nested loop
    ("merge_upsert", Seq("SortMergeJoin", "FullOuter"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // ewm must stay ONE window pass over one exchange: the prefix-sum
    // rewrite exists precisely so no UDAF/mapGroups shows up
    ("window_ewm", Seq("Window"),
      Seq("MapGroups", "ObjectHashAggregate", "CartesianProduct")),
    // mode ranks the tiny counts frame: partial+final aggregate then a
    // window over |domain| rows; the raw table never reaches the window
    ("agg_mode", Seq("HashAggregate", "Window"), Seq("CartesianProduct")),
    // cleaning pipeline: projection+filter stay fused in codegen before
    // the single dedup exchange (no join anywhere)
    ("pipe_clean", Seq("Window"), Seq("Join", "CartesianProduct")),
    // six-table TPC-H Q5: dims broadcast, no cartesian anywhere
    ("sql_q5_local_supplier", Seq("BroadcastHashJoin", "HashAggregate"),
      Seq("CartesianProduct")),
    // component resolution: the audited (final) plan joins the corpus
    // against the checkpointed assignment — the iterative star rounds
    // ran eagerly inside resolve(), so only the consumer join is
    // visible here; it must not degenerate to a cartesian
    ("dedup_docs_components", Seq.empty,
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // nearest-centroid assignment: the 10-row centroid table must
    // broadcast into the corpus scan (BNLJ-broadcast is the intended
    // cross shape); the corpus itself must never cartesian-join
    ("vec_cluster_assign", Seq("BroadcastNestedLoopJoin", "HashAggregate"),
      Seq("CartesianProduct")),
    // repetition + PII kernels: pure per-row HOF/regex pipelines — one
    // codegen'd projection over the scan, no join, no extra exchange
    ("text_repetition", Seq("Project"), Seq("Join", "CartesianProduct")),
    ("text_pii_redact", Seq("Project"), Seq("Join", "CartesianProduct")),
    // interpolation: two window frames over ONE user_id exchange, no join
    ("window_interpolate", Seq("Window"), Seq("Join", "CartesianProduct")),
    // corr matrix: ALL 15 co-moments in ONE partial+final aggregate
    // over ONE scan (maxOccur pins the single-scan property — a melt or
    // per-pair design would rescan/reshuffle the fact table per pair)
    ("agg_corr_matrix", Seq("HashAggregate", "partial_sum", "Generate"),
      Seq("Join", "CartesianProduct")),
    // moment sums: map-side partial aggregation, no join
    ("agg_skew_kurt", Seq("HashAggregate", "partial_sum"),
      Seq("Join", "CartesianProduct")),
    // decontamination: the benchmark gram set must broadcast — the
    // exploded corpus side NEVER shuffles (a SortMergeJoin here would
    // shuffle the 100 TB side's grams)
    ("text_decontaminate", Seq("BroadcastHashJoin"),
      Seq("SortMergeJoin", "CartesianProduct")),
    // url stats: explode + aggregate, never a join
    ("text_url_stats", Seq("HashAggregate", "Generate"),
      Seq("Join", "CartesianProduct")),
    // histogram: partial+final aggregate straight over the scan
    ("agg_histogram", Seq("HashAggregate", "partial_count"),
      Seq("Join", "CartesianProduct")),
    // merge indicator: full outer keeps sort-merge shape, no nested loop
    ("join_indicator", Seq("SortMergeJoin", "FullOuter"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // Q10: top-20 must be a TakeOrdered over the joined agg, dims broadcast
    ("sql_q10_returned_items", Seq("TakeOrderedAndProject", "BroadcastHashJoin"),
      Seq("CartesianProduct")),
    // Q14: single partial+final aggregate over one join, no cartesian
    ("sql_q14_promo_share", Seq("HashAggregate"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // Q4: the correlated EXISTS must decorrelate into a semi join (the
    // non-equi l_shipdate > o_orderdate rides as residual condition);
    // NO subquery node may survive to execution
    ("sql_q4_order_priority", Seq("LeftSemi"),
      Seq("Subquery", "CartesianProduct", "BroadcastNestedLoop")),
    // Q17: the correlated scalar avg must decorrelate into a per-key
    // aggregate joined back (partial+final), never per-row execution
    ("sql_q17_small_qty", Seq("HashAggregate", "partial_sum"),
      Seq("Subquery", "CartesianProduct", "BroadcastNestedLoop")),
    // Q21: EXISTS + NOT EXISTS on the same table with an outer-column
    // residual -> one LeftSemi + one LeftAnti, no surviving subquery
    ("sql_q21_waiting_supplier", Seq("LeftSemi", "LeftAnti"),
      Seq("Subquery", "CartesianProduct")),
    // Q20: nested correlation — both INs become semi joins and the
    // correlated scalar decorrelates into a per-key aggregate joined
    // back; no subquery node may survive to execution
    ("sql_q20_potential_promotion", Seq("LeftSemi", "HashAggregate"),
      Seq("Subquery", "CartesianProduct")),
    // Q2: correlated scalar MIN over a 4-table subquery decorrelates to
    // a per-partkey aggregate of the shared ps CTE joined back
    ("sql_q2_min_cost_supplier", Seq("HashAggregate", "TakeOrderedAndProject"),
      Seq("Subquery", "CartesianProduct")),
    // Q13: the priority filter lives in the LEFT OUTER join's ON clause
    // — the plan must keep LeftOuter (an inner rewrite would silently
    // drop the zero-order bucket) and aggregate partial+final
    ("sql_q13_customer_distribution", Seq("LeftOuter", "HashAggregate"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // Q18: IN over grouped HAVING -> aggregate feeding a LEFT SEMI join
    // on l_orderkey; no subquery survives, limit plans as TakeOrdered
    ("sql_q18_large_orders", Seq("LeftSemi", "HashAggregate", "TakeOrderedAndProject"),
      Seq("Subquery", "CartesianProduct", "BroadcastNestedLoop")),
    // Q19: the disjunctive OR-of-ANDs must (a) keep the join equi (the
    // partkey conjunct factors out of the OR — no nested loop), and
    // (b) push each side's OR-residual into its parquet scan: the
    // lineitem-side quantity/discount disjunction and the part-side
    // brand/size disjunction both appear under PushedFilters
    ("sql_q19_discounted_revenue",
      Seq("BroadcastHashJoin",
        "Or(Or(And(And(And(GreaterThanOrEqual(l_quantity",
        "Or(Or(And(EqualTo(p_brand"),
      Seq("CartesianProduct", "BroadcastNestedLoop", "SortMergeJoin")),
    // Q1: the canonical full-scan aggregate — ONE partial+final pass
    // over the scan, no join anywhere
    ("sql_q1_pricing_summary", Seq("HashAggregate", "partial_sum"),
      Seq("Join", "CartesianProduct")),
    // Q6: every predicate (date range, discount band, quantity cap)
    // must reach the parquet scan — at 100 TB this query IS its pushdown
    // (toString truncates the PushedFilters list, so assert the prefix
    // naming all three filtered columns)
    ("sql_q6_revenue_change",
      Seq("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity)"),
      Seq("Join", "CartesianProduct")),
    // Q7: nation joins twice under different aliases — both stay
    // broadcast, the symmetric OR rides as join residual, no cartesian
    ("sql_q7_volume_shipping", Seq("BroadcastHashJoin", "HashAggregate"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // Q8: the 8-table join — dims broadcast, no cartesian anywhere
    ("sql_q8_market_share", Seq("BroadcastHashJoin", "HashAggregate"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // Q9: lineitem joins the grouped CTE of ITSELF — the CTE aggregate
    // must build partial+final, and the self-join must stay equi
    ("sql_q9_product_profit", Seq("HashAggregate", "partial_min"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // Q11: the HAVING threshold is an uncorrelated scalar subquery —
    // planned ONCE as a one-row broadcast into the group filter (a
    // Subquery node here is correct; per-GROUP re-aggregation is not
    // expressible in the plan, so the guard is no-cartesian + partial)
    ("sql_q11_important_stock", Seq("HashAggregate", "partial_sum"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // Q12: conditional pivot-counts in one partial+final aggregate
    ("sql_q12_priority_split", Seq("HashAggregate", "partial_count"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // Q16: NOT IN must plan as a null-aware LEFT ANTI join against the
    // exclusion list, and count(DISTINCT) expands partial+final
    ("sql_q16_supplier_count", Seq("LeftAnti", "HashAggregate"),
      Seq("CartesianProduct")),
    // Q22: correlated NOT EXISTS decorrelates to a left-anti join; the
    // scalar average threshold is a one-row uncorrelated subquery
    ("sql_q22_global_sales", Seq("LeftAnti", "HashAggregate"),
      Seq("CartesianProduct")),
    // pct_change / expanding: one window exchange each, no join
    ("window_pct_change", Seq("Window"), Seq("Join", "CartesianProduct")),
    ("window_expanding", Seq("Window"), Seq("Join", "CartesianProduct")),
    // rolling corr: all five co-moment sums in ONE Window operator over
    // one exchange (a per-sum window would be five sorts) — the
    // single-node property is enforced by maxOccur below
    ("window_rolling_corr", Seq("Window"), Seq("Join", "CartesianProduct")),
    // NFC normalization must stay a scan→project pipeline: the codegen
    // kernel never forces a shuffle or a join
    ("text_normalize", Seq("nfc_normalize"), Seq("Exchange hashpartitioning", "Join")),
    // mergeable sketches: per-day HLLs must build with MAP-SIDE partial
    // aggregation (the whole point — sketches, not rows, cross the wire)
    ("agg_distinct_sketch", Seq("partial_hll_sketch_agg", "partial_hll_union_agg"),
      Seq("CartesianProduct")),
    // KLL quantile sketches: same map-side partial discipline as the
    // HLL row — fixed-size sketches cross the wire, never value rows
    ("agg_quantile_sketch", Seq("partial_kll_sketch_agg", "partial_kll_union_agg"),
      Seq("CartesianProduct", "Join")),
    // frequent-items sketches: same map-side partial discipline —
    // fixed-size Misra-Gries state crosses the wire, never value rows
    ("agg_freq_sketch", Seq("partial_freq_sketch_agg", "partial_freq_union_agg"),
      Seq("CartesianProduct", "Join")),
    // cov matrix: same one-scan/one-pass contract as the corr matrix
    ("agg_cov_matrix", Seq("HashAggregate", "partial_sum", "Generate"),
      Seq("Join", "CartesianProduct")),
    // arbitrary grouping sets: ONE scan expanded map-side (Expand) into
    // one partial+final aggregate — never a union of per-set scans
    ("agg_grouping_sets", Seq("Expand", "HashAggregate", "partial_count"),
      Seq("Join", "CartesianProduct", "Union")),
    // SQL-frontend window functions: supplier revenue reduces in a
    // partial+final aggregate BEFORE any window; the nation dim
    // broadcasts; rank/share/cumulative never nested-loop
    ("sql_window_topshare", Seq("Window", "BroadcastHashJoin", "partial_sum"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // fixed-k per-group sample: the rank filter must push into the
    // window sort (per-partition reservoir heads, not a full sort)
    ("sample_group_fixedk", Seq("WindowGroupLimit"),
      Seq("Join", "CartesianProduct")),
    // corpus-LM scoring: the bigram LM table must BROADCAST back onto
    // the bigram stream — the corpus side never shuffles for the join
    ("text_bigram_lm_score", Seq("BroadcastHashJoin"),
      Seq("SortMergeJoin", "CartesianProduct")),
    // bloom prefilter: the might_contain predicate must sit on the probe
    // side BEFORE the exact semi join — that filter is the whole point
    // (at 100 TB it keeps definite non-matches out of the join shuffle)
    ("join_bloom_prefilter", Seq("might_contain", "LeftSemi"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // SCD-2: one equi join + a union — no window, no nested loop
    ("merge_scd2", Seq("Union"),
      Seq("CartesianProduct", "BroadcastNestedLoop", "Window")),
    // funnel: three per-user min aggregates chained by equi joins on
    // user_id — sequential-constraint funnels must never plan as a
    // window over each user's whole event history or a nested loop
    ("funnel_conversion", Seq("HashAggregate", "partial_min"),
      Seq("CartesianProduct", "BroadcastNestedLoop", "Window")),
    // cohort retention: first-event frame equi-joins back on user_id;
    // the distinct-user count must keep a partial (map-side) stage
    ("cohort_retention", Seq("HashAggregate", "partial_count"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // co-visitation: the per-user item cap must push into the window
    // sort (WindowGroupLimit) BEFORE the pair self-join, and the pair
    // expansion must be an equi join on user_id — the capped-quadratic
    // contract that makes the operator linear in users
    ("covisit_item_pairs", Seq("WindowGroupLimit"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // incremental refresh: partial-state merge is unions + aggregates —
    // no join anywhere
    ("agg_incremental_refresh", Seq("Union", "HashAggregate"),
      Seq("Join", "CartesianProduct")),
    // feature scaling: the per-group moment table must BROADCAST back
    // onto the rows, never shuffle the fact table for it
    ("feature_scale_standard", Seq("BroadcastHashJoin"),
      Seq("SortMergeJoin", "CartesianProduct")),
    // rolling std: one windowed pass over exact frame sums, no join
    ("window_rolling_std", Seq("Window"),
      Seq("Join", "CartesianProduct")),
    // pagerank: every superstep is equi-join + aggregate over the
    // SHARED bucketed edge table (the per-query bounded-clique edge
    // build is gone — lineitem must not appear); never a nested loop;
    // partial aggregation keeps each round's contribution shuffle
    // map-side combined
    ("graph_pagerank", Seq("HashAggregate", "partial_sum", "Bucketed: true"),
      Seq("CartesianProduct", "BroadcastNestedLoop", "lineitem.parquet")),
    // triangle counting: the wedge join and the closing join are both
    // equi-joins (the a≺b canonicalization is a FILTER on the wedge
    // output, never a join condition that degrades to a nested loop);
    // per-node counts map-side combine
    ("graph_triangles", Seq("HashAggregate", "partial_count", "Bucketed: true"),
      Seq("CartesianProduct", "BroadcastNestedLoop", "lineitem.parquet")),
    // tf-idf top terms: the rank filter must push into the window sort
    // (3 rows per doc in the exchange, not the vocabulary); the 1-row
    // corpus-count side rides a broadcast nested loop BY DESIGN (the
    // distributed scalar attach — same shape as vec_cluster_assign)
    ("text_tfidf_topterms", Seq("WindowGroupLimit", "BroadcastNestedLoopJoin"),
      Seq("CartesianProduct")),
    // tf-idf off the tokenize-once table: NO Generate (the stored
    // layout replaces the explode — the pin that locks the layout in),
    // the df join co-located on the tok bucketing (SortMergeJoin with
    // no exchange of its own; maxOccur caps hash exchanges at the one
    // per-doc window shuffle), same group-limit + 1-row broadcast as
    // the raw twin
    // (documents.parquet IS still scanned — for the zero-column 1-row
    // corpus count, which needs no tokenize; Generate absent is the pin
    // that proves the text itself is never re-tokenized. The df join's
    // small side broadcasts at fixture scale — at vocab scale it would
    // sort-merge co-located on the bucketing; either way the maxOccur
    // cap pins the big side exchange-free)
    ("text_tfidf_table", Seq("WindowGroupLimit", "BroadcastNestedLoopJoin",
      "Bucketed: true"),
      Seq("CartesianProduct", "Generate")),
    // BM25 off the token table: never re-tokenizes (no Generate), the
    // query-term IN filter pushes into the parquet scan so the
    // doc-keyed shuffle carries only posting rows, top-10 via
    // TakeOrdered. (The planner auto-disables the bucketed scan here -
    // nothing downstream keys on tok - so the win is the pushed
    // filter, not bucket pruning.)
    ("text_bm25_table", Seq("TakeOrderedAndProject", "In(tok",
      "BroadcastNestedLoopJoin"),
      Seq("CartesianProduct", "Generate")),
    // global line dedup: explode + min-groupBy + equi joins only; the
    // skew-prone boilerplate line must collapse in a partial aggregate
    ("dedup_lines_global", Seq("Generate", "HashAggregate", "partial_min"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // packing: one window pass per (lang, shard) stream + one aggregate
    ("pack_sequences", Seq("Window", "HashAggregate"),
      Seq("Join", "CartesianProduct")),
    // reproducible sampling: pure scan → project → partial+final agg
    // (the only range exchange is the 5-row presentation ORDER BY)
    ("sample_stratified", Seq("HashAggregate"),
      Seq("Join", "CartesianProduct")),
    // weighted mixture: the few-row per-lang threshold table must
    // BROADCAST back onto the corpus, never shuffle the corpus for it
    ("mix_weighted", Seq("BroadcastHashJoin"),
      Seq("CartesianProduct", "SortMergeJoin")),
    // dq report: one scan per row-level constraint batch + the key-
    // distinct aggregate, glued with a union — no join anywhere
    ("dq_constraint_report", Seq("Union", "HashAggregate"),
      Seq("Join", "CartesianProduct")),
    // two-level exact distinct: partial+final aggregates only — the
    // skew-safe shape this query exists to pin
    ("agg_distinct_twolevel", Seq("HashAggregate", "partial_count"),
      Seq("Join", "CartesianProduct", "Expand")),
    // tail = head under reversed order: same pushed rank limit
    ("groupby_tail", Seq("WindowGroupLimit"), Seq("Join", "CartesianProduct")),
    // semantic dedup resolution: the consumer join against the
    // checkpointed component assignment must stay equi (same rationale
    // as dedup_docs_components — the star rounds ran eagerly inside)
    ("dedup_embedding_semantic", Seq.empty,
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // duplicate-span removal: gram stats are a partial+final aggregate
    // (the every-doc boilerplate gram collapses map-side), coverage is
    // the per-doc sort window, explodes are Generates — and the
    // interval/token meet must NEVER be a nested loop or range join
    ("dedup_span_ngram", Seq("Generate", "HashAggregate", "partial_min", "Window"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // CDC apply: base ∪ log folds in ONE max-struct aggregate — no join
    // anywhere in the plan. Struct max has no fixed-size mutable buffer,
    // so it compiles to a SortAggregate — still partial+final: the
    // per-key history collapses map-side before the single exchange
    ("merge_cdc_apply", Seq("Union", "SortAggregate", "partial_max"),
      Seq("Join", "CartesianProduct")),
    // combine_first overlay: ONE full-outer sort-merge join on the key
    // with a coalesce projection — column pruning must reach both scans
    ("join_combine_first", Seq("SortMergeJoin", "FullOuter"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // point-in-time features: ONE union+window pass for all feature
    // streams (backwardMulti) — never a range/nested-loop join
    ("join_pit_features", Seq("Window", "Union"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // k-anonymity profile: two back-to-back partial+final aggregates
    // over one scan, no join
    ("dq_k_anonymity", Seq("HashAggregate", "partial_count"),
      Seq("Join", "CartesianProduct")),
    // k-fold assignment: one zero-join partial+final aggregate
    ("sample_kfold", Seq("HashAggregate", "partial_count"),
      Seq("Join", "CartesianProduct", "Window")),
    // schema-evolution scan: merged-footer read aggregates in one
    // partial+final pass; the evolved column must be in the read schema
    ("scan_schema_evolution", Seq("HashAggregate", "partial_count"),
      Seq("Join", "CartesianProduct")),
    // last-touch attribution: the event log crosses the wire ONCE —
    // one user_id window, never a self-join/as-of formulation
    ("event_attribution", Seq("Window", "HashAggregate"),
      Seq("Join", "CartesianProduct")),
    // label balance: two partial+final aggregates, no join, no window
    ("dq_label_balance", Seq("HashAggregate", "partial_count"),
      Seq("Join", "CartesianProduct", "Window")),
    // incremental join view: BOTH delta joins broadcast — the base
    // tables never shuffle (the whole point of maintaining the view
    // incrementally); any sort-merge join means a base got reshuffled
    ("view_join_delta", Seq("BroadcastHashJoin", "Union", "HashAggregate"),
      Seq("SortMergeJoin", "CartesianProduct", "ShuffledHashJoin")),
    // ordered merge + ffill is a union + ONE window — never a join
    ("join_merge_ordered", Seq("Union", "Window"),
      Seq("Join", "CartesianProduct")),
    // target encoding: category agg + 1-row global broadcast — the
    // blend must never shuffle the fact side twice
    ("encode_target_mean", Seq("HashAggregate", "partial_count", "BroadcastNestedLoop"),
      Seq("SortMergeJoin", "CartesianProduct")),
    // IQR gate: rank window + broadcast fence join + final aggregate
    ("dq_outlier_iqr", Seq("Window", "BroadcastHashJoin", "HashAggregate"),
      Seq("SortMergeJoin", "CartesianProduct")),
    // k-core peeling runs its rounds EAGERLY (per-round checkpoints —
    // the lazy unrolled plan re-derives the edge build 4^rounds times),
    // so like dedup_docs_components the audited plan is the final
    // projection; the per-round shape is spec-asserted instead
    ("graph_kcore_peel", Seq.empty,
      Seq("CartesianProduct", "BroadcastNestedLoop", "Window")),
    // WMA: four lags in ONE window over one keyed exchange — never a
    // collect_list fold, never a self-join
    ("window_rolling_wma", Seq("Window"),
      Seq("Join", "CartesianProduct", "Generate")),
    // TWAP: lead window + same-key aggregate — the groupBy must REUSE
    // the window's user_id partitioning (maxOccur pins 1 exchange)
    ("ts_time_weighted_avg", Seq("Window", "HashAggregate"),
      Seq("Join", "CartesianProduct")),
    // factorize: code tables broadcast back — the fact side never
    // shuffles (maxOccur pins 0 hash exchanges) and the global windows
    // run on the distinct DOMAINS only
    ("encode_label_factorize", Seq("BroadcastHashJoin", "Window"),
      Seq("SortMergeJoin", "CartesianProduct")),
    // idxmax: one struct-max fold, partial+final, no window/join (the
    // struct buffer compiles to SortAggregate, like merge_cdc_apply)
    ("agg_idxmax", Seq("partial_max"),
      Seq("Join", "CartesianProduct", "Window")),
    // k-means fit: centroid tables reach every round as BROADCASTs
    // (the corpus never shuffles for a distance computation); the only
    // aggregates are the argmin and the (cid,pos) sums
    ("vec_kmeans_lloyd", Seq("BroadcastNestedLoopJoin", "HashAggregate"),
      Seq("SortMergeJoin", "CartesianProduct")),
    // entity resolution: the closure ran eagerly (union-find /
    // star-contraction inside resolve); the consumer plan is the
    // vocabulary windows + label joins — no nested loop anywhere
    ("er_fuzzy_entities", Seq("Window"),
      Seq("CartesianProduct")),
    // per-group OLS: five exact moments in ONE partial+final aggregate
    // pass — never a join, window, or per-group collect
    ("agg_group_ols", Seq("HashAggregate", "partial_count"),
      Seq("Join", "CartesianProduct", "Window")),
    // BM25: corpus tokenized ONCE (the stats side is a ReusedExchange
    // of the per-doc aggregate), 1-row stats broadcast, top-10 is
    // TakeOrderedAndProject — never a global sort or per-term pass
    ("text_bm25_topk",
      Seq("Generate", "BroadcastNestedLoopJoin", "TakeOrderedAndProject",
        "ReusedExchange"),
      Seq("SortMergeJoin", "CartesianProduct", "Window")),
    // skew profile: per-key counts reach the 1-row totals as a
    // ReusedExchange, totals broadcast back, top-5 short-circuits
    ("dq_skew_profile",
      Seq("BroadcastNestedLoopJoin", "TakeOrderedAndProject",
        "ReusedExchange"),
      Seq("SortMergeJoin", "CartesianProduct", "Window")),
    // rolling skew: all four running sums (n, S1, S2, S3) in ONE window
    // over one keyed exchange — never a join or a second sort
    ("window_rolling_skew", Seq("Window"),
      Seq("Join", "CartesianProduct", "Generate")),
    // rolling kurt: all five running sums (n, S1, S2, S3, S4) in ONE
    // window over one keyed exchange — the DECIMAL(38,0) quartic sums
    // change nothing about the plan shape
    ("window_rolling_kurt", Seq("Window"),
      Seq("Join", "CartesianProduct", "Generate")),
    // autocorr: lag window + same-key aggregate — the groupBy must
    // REUSE the window's user_id partitioning (maxOccur pins 1 exchange)
    ("window_autocorr", Seq("Window", "HashAggregate"),
      Seq("Join", "CartesianProduct")),
    // OHLC: open/close ride packed struct min/max in the SAME
    // partial+final aggregate as high/low — no ranking window, no join
    // (the struct buffer compiles to SortAggregate, like agg_idxmax)
    ("ts_resample_ohlc", Seq("partial_min", "partial_max"),
      Seq("Join", "CartesianProduct", "Window")),
    // winsorize: rank window picks the fences, fences broadcast back,
    // one final aggregate — the fact side never sort-merge-joins
    ("transform_winsorize", Seq("Window", "BroadcastHashJoin", "HashAggregate"),
      Seq("SortMergeJoin", "CartesianProduct")),
    // quantile-uniform encode: both window functions share ONE
    // segment-keyed window pass — no join, no aggregate
    ("encode_quantile_uniform", Seq("Window"),
      Seq("Join", "CartesianProduct", "HashAggregate")),
    // rolling z-score: same one-window shape as rolling std/skew
    ("window_rolling_zscore", Seq("Window"),
      Seq("Join", "CartesianProduct", "Generate")),
    // SCD-2 lookup rides the as-of union+window core — NEVER a range
    // join (no BNLJ) and no equi-join either: facts ∪ versions sort once
    ("join_scd2_lookup", Seq("Window", "Union"),
      Seq("SortMergeJoin", "BroadcastNestedLoop", "CartesianProduct")),
    // checksum diff: each side folds to 64 rows, alignment is a tagged
    // UNION + pivot aggregate — zero joins of any kind in the plan
    ("dq_table_checksum", Seq("HashAggregate", "Union"),
      Seq("Join", "CartesianProduct")),
    // ref integrity: per-edge anti joins on pre-aggregated child keys;
    // the 1-row totals cross-join must stay a broadcast NLJ
    ("dq_ref_integrity", Seq("HashAggregate"),
      Seq("CartesianProduct")),
    // CDC agg maintenance: base partials ∪ signed rows through keyed
    // aggregates — the log is NEVER joined to the base
    ("agg_refresh_cdc", Seq("HashAggregate", "Union"),
      Seq("Join", "CartesianProduct", "Window")),
    // nth(k): rank-k row via WindowGroupLimit pruning, like head/tail
    ("agg_group_nth", Seq("WindowGroupLimit"),
      Seq("Join", "CartesianProduct", "HashAggregate")),
    // doc assembly: ordering lives INSIDE the aggregate (array_sort of
    // packed structs) — one keyed exchange, never a child-table window
    ("denorm_order_lines", Seq("partial_collect_list"),
      Seq("Join", "CartesianProduct", "Window")),
    // bucketed fact join: the join reads co-located buckets (SMJ at
    // real scale, BHJ at the audit's tiny fixture — both exchange-free
    // on the fact sides); the binding invariant is the maxOccur pin:
    // the ONLY hash exchange in the plan is the priority aggregate
    ("join_bucketed_facts", Seq.empty,
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // groupby().filter: one windowed count, one keyed exchange — the
    // agg+semi-join phrasing would shuffle the table twice
    ("agg_group_filter", Seq("Window"),
      Seq("Join", "CartesianProduct", "HashAggregate")),
    // rolling min/max: one shared window, no join/agg
    ("window_rolling_minmax", Seq("Window"),
      Seq("Join", "CartesianProduct", "HashAggregate", "Generate")),
    // keep-last dedup: rank-1 via WindowGroupLimit, like keep-first
    ("dedup_keep_last", Seq("WindowGroupLimit"),
      Seq("Join", "CartesianProduct", "HashAggregate")),
    // symmetric diff: two EXCEPT aggregates, no join blowup
    ("setop_symmetric_diff", Seq("HashAggregate", "Union"),
      Seq("CartesianProduct", "BroadcastNestedLoop", "Window")),
    // rolling p90: the order statistic rides the SAME one-window shape
    // as rolling median — never a join or a second exchange
    ("window_rolling_quantile", Seq("Window"),
      Seq("Join", "CartesianProduct", "HashAggregate", "Generate")),
    // drawdown: peak, dd, and running-max-dd stack as cumulative frames
    // over ONE keyed exchange — no join, no aggregate
    ("window_drawdown", Seq("Window"),
      Seq("Join", "CartesianProduct", "HashAggregate", "Generate")),
    // gap stats: lag window + same-key aggregate reusing its exchange
    ("ts_gap_stats", Seq("Window", "HashAggregate"),
      Seq("Join", "CartesianProduct", "Generate")),
    // duplicated() flag: one rank window, every row kept — no join
    ("dedup_flag_duplicates", Seq("Window"),
      Seq("Join", "CartesianProduct", "HashAggregate")),
    // entropy/HHI: nation dim broadcasts; two COUNT-level aggregates —
    // the row stream never sort-merge-joins or re-scans
    ("agg_entropy", Seq("BroadcastHashJoin", "HashAggregate"),
      Seq("SortMergeJoin", "CartesianProduct", "Window")),
    // Gini: rank window + same-key aggregate over one exchange
    ("agg_gini", Seq("Window", "HashAggregate"),
      Seq("Join", "CartesianProduct")),
    // MAD: two rank-window median passes; the 5-row median frame
    // BROADCASTS back — the fact side never sort-merge-joins
    ("agg_mad", Seq("Window", "BroadcastHashJoin"),
      Seq("SortMergeJoin", "CartesianProduct")),
    // str.extract: pure codegen projection — no join/agg/window
    ("text_regex_extract", Seq("Project"),
      Seq("Join", "CartesianProduct", "HashAggregate", "Window")),
    // n-gram novelty: explode + first-occurrence aggregate + gram-keyed
    // equi-join — never a nested loop; both join sides arrive hashed on g
    ("text_ngram_novelty", Seq("Generate", "HashAggregate"),
      Seq("CartesianProduct", "BroadcastNestedLoop", "Window")),
    // Zipf: vocabulary agg + top-200 via TakeOrdered (never a global
    // sort); the 200-row fit is driver-negligible by construction
    ("text_zipf_slope", Seq("TakeOrderedAndProject", "HashAggregate"),
      Seq("CartesianProduct", "BroadcastNestedLoop", "SortMergeJoin")),
    // numeric-axis as-of rides the same union+window kernel — never a
    // range join (no BNLJ) and no equi-join of the two event sides
    ("join_asof_numeric", Seq("Window", "Union"),
      Seq("SortMergeJoin", "BroadcastNestedLoop", "CartesianProduct")),
    // expanding std: cumulative co-moment frame, one window, no join
    ("window_expanding_std", Seq("Window"),
      Seq("Join", "CartesianProduct", "HashAggregate", "Generate")),
    // normalized crosstab: nation dim broadcasts, two COUNT-level
    // aggregates, shares in exact integer ppm — no window, no SMJ
    ("agg_crosstab_pct", Seq("BroadcastHashJoin", "HashAggregate"),
      Seq("SortMergeJoin", "CartesianProduct", "Window")),
    // pivot+margins: rollup Expand + ONE aggregate carries all 8
    // columns — never a pivot-then-union second pass or a join
    ("agg_pivot_margins", Seq("Expand", "HashAggregate"),
      Seq("Join", "CartesianProduct", "Window")),
    // weighted sample: per-partition heaps, never a global sort
    ("sample_weighted", Seq("TakeOrderedAndProject"),
      Seq("Join", "CartesianProduct", "Window")),
    // completeness: one multi-distinct aggregate (Expand), one scan —
    // the per-column report never rescans the table
    ("dq_completeness", Seq("Expand", "HashAggregate", "Generate"),
      Seq("Join", "CartesianProduct", "Window")),
    // degree histogram reads the shared bucketed edge table — the
    // src-keyed degree aggregate is exchange-free over the layout
    ("graph_degree_distribution", Seq("HashAggregate"),
      Seq("Join", "CartesianProduct", "Window", "lineitem.parquet")),
    // rolling cov: the one-window co-moment shape, like corr
    ("window_rolling_cov", Seq("Window"),
      Seq("Join", "CartesianProduct", "HashAggregate", "Generate")),
    // temperature mixture: source counts + a 1-row normalizer
    // broadcast back — the corpus never re-shuffles for the weights
    ("mix_temperature_weights", Seq("HashAggregate", "BroadcastNestedLoopJoin"),
      Seq("SortMergeJoin", "CartesianProduct", "Window")),
    // rolling prod/rank/nunique: the k-lag unroll — ONE window over one
    // keyed exchange, pure codegen arithmetic after, never a join or a
    // frame-rescan aggregate
    ("window_rolling_prod", Seq("Window"),
      Seq("Join", "CartesianProduct", "HashAggregate", "Generate")),
    ("window_rolling_rank", Seq("Window"),
      Seq("Join", "CartesianProduct", "HashAggregate", "Generate")),
    ("window_rolling_nunique", Seq("Window"),
      Seq("Join", "CartesianProduct", "HashAggregate", "Generate")),
    // between_time: codegen time-of-day filter straight into one
    // COUNT-level aggregate — no join, no window
    ("ts_between_time", Seq("HashAggregate"),
      Seq("Join", "CartesianProduct", "Window")),
    // corrwith: ONE grouped aggregate carries all (target, feature)
    // co-moments; the per-feature rows unpivot via Generate — the table
    // is never re-scanned per feature and never joined
    ("agg_corrwith", Seq("HashAggregate", "Generate"),
      Seq("Join", "CartesianProduct", "Window")),
    // RFM: within-segment rank windows find the 12 fences, which
    // BROADCAST back onto the per-customer frame — the customer frame
    // never sort-merge-joins against the fences
    // one ranked pass: fences and scoring both reuse the percust
    // exchange (ReusedExchange) — the full-data reduce runs once
    ("seg_rfm", Seq("Window", "BroadcastHashJoin", "ReusedExchange"),
      Seq("CartesianProduct", "BroadcastNestedLoop")),
    // association rules: bounded-vocabulary supports broadcast onto the
    // pair frame; top-30 via TakeOrdered, never a global sort
    ("assoc_rules_lift", Seq("TakeOrderedAndProject", "BroadcastHashJoin"),
      Seq("CartesianProduct")),
    // RRF: each retriever arm ends in TakeOrdered top-20 — the corpus
    // is never globally sorted; the only nested-loop is the 1-row BM25
    // stats broadcast
    ("rag_fusion_rrf", Seq("TakeOrderedAndProject"),
      Seq("CartesianProduct")),
    // RA link prediction reads the shared bucketed edge table — never
    // the raw lineitem scan; top-50 via TakeOrdered. Window = the
    // hub-degree cap's rank prune (r16): a safety bound the optimizer
    // prunes is no bound, so its survival is pinned
    ("graph_resource_alloc", Seq("TakeOrderedAndProject", "HashAggregate",
      "Window"),
      Seq("CartesianProduct", "lineitem.parquet")),
    // the 1/8-sample RA gate keeps the full query's shape: shared
    // bucketed edge table (never raw lineitem), rank-prune Window,
    // TakeOrdered top-50 — the sample filter must not change the plan
    ("graph_ra_sampled", Seq("TakeOrderedAndProject", "HashAggregate",
      "Window"),
      Seq("CartesianProduct", "lineitem.parquet")),
    // Holt-Winters rides the Holt shape: daily aggregate, ONE keyed
    // exchange into the per-user fold — never a join or a spine
    ("ts_hw_forecast", Seq("MapGroups", "HashAggregate"),
      Seq("Join", "CartesianProduct", "Generate")),
    // BPE budget: the collapsed (doc, word) frame is persisted and read
    // by BOTH the vocab and the count branch (InMemoryTableScan) — the
    // optimizer's alternative plans tokenization twice (maxOccur pins
    // the single FileScan)
    ("text_token_count_bpe", Seq("InMemoryTableScan", "Generate"),
      Seq("CartesianProduct")),
    // BPE-budget packing: same persisted-frame discipline, then the
    // running-offset window — never a second tokenize, never a join
    // back to raw documents
    ("pack_sequences_bpe", Seq("InMemoryTableScan", "Window"),
      Seq("CartesianProduct")),
    // ewm-var auto-routing: the lattice Window branch unions the
    // (fixture-empty) scan branch; the router is a count window +
    // filter, never a join
    ("window_ewm_var_auto", Seq("Union", "Window"),
      Seq("CartesianProduct", "Join")),
    // wide rolling min/max (r18): the deque kernel's whole plan is ONE
    // hash exchange + per-partition sort into the typed scan, then the
    // declared ORDER BY's range exchange — never a Window node (that
    // would be the O(frame)/row rescan the kernel replaces) and never
    // a self-join spine
    ("window_rolling_minmax_wide",
      Seq("Exchange hashpartitioning", "MapPartitions",
        "Exchange rangepartitioning"),
      Seq("Window", "CartesianProduct", "SortMergeJoin", "Generate")),
    // map_overlap: the operator's range repartition + boundary stitch
    // live behind the typed-RDD boundary (Scan[obj…]), so the visible
    // plan is the declared ORDER BY's range exchange over the object
    // scan — and must never grow a join/cartesian/explode (a window
    // reformulation or a boundary self-join would surface here)
    ("window_rolling_map_overlap", Seq("Exchange rangepartitioning",
      "Scan[obj"),
      Seq("CartesianProduct", "Generate", "SortMergeJoin", "Window")),
    // day-over-day: daily aggregate then ONE lag window with a calendar
    // guard — never a self-join on day-1 and never a spine upsample
    ("ts_dod_change", Seq("HashAggregate", "Window"),
      Seq("Join", "CartesianProduct", "Generate")),
    // Spearman: four rank windows + the co-moment aggregate all on the
    // group partitioning (the two-rank tie-average identity needs no
    // per-(group,value) count exchange); maxOccur pins the single
    // shuffle and scan
    ("agg_spearman", Seq("Window", "HashAggregate"),
      Seq("Join", "CartesianProduct", "Generate")),
    // expanding corr: six running co-moments over one cumulative frame
    ("window_expanding_corr", Seq("Window"),
      Seq("Join", "CartesianProduct", "HashAggregate", "Generate")),
    // ewm var: four weighted prefix sums sharing the mean's frame
    ("window_ewm_var", Seq("Window"),
      Seq("Join", "CartesianProduct", "HashAggregate", "Generate")),
    // schema drift: one multi-distinct aggregate PER SIDE, 1-row
    // cross — the snapshots are never joined row-to-row
    ("dq_schema_drift", Seq("Expand", "HashAggregate", "Generate"),
      Seq("SortMergeJoin", "BroadcastHashJoin", "Window")),
    // rolling idxmax: ONE running max over the packed (value, position)
    // key — no frame rescan, no join, no second window pass
    ("window_rolling_idxmax", Seq("Window"),
      Seq("Join", "CartesianProduct", "HashAggregate", "Generate")),
    // seasonal anomaly: the 168-cell profile BROADCASTS back onto the
    // stream; top-50 via TakeOrdered — never an SMJ of log vs profile
    ("ts_seasonal_anomaly",
      Seq("BroadcastHashJoin", "HashAggregate", "TakeOrderedAndProject"),
      Seq("SortMergeJoin", "CartesianProduct", "Window")),
    // weighted mean: one map-side-combinable aggregate, no window/join
    ("agg_weighted_mean", Seq("HashAggregate"),
      Seq("Join", "CartesianProduct", "Window")),
    // capped string agg: rank window bounds per-group state, then one
    // aggregate — the concat never sees an unbounded group
    ("agg_string_join", Seq("Window", "HashAggregate"),
      Seq("Join", "CartesianProduct")),
    // variant path: pure codegen projection (parse once, typed probes)
    ("scalar_variant", Seq("Project"),
      Seq("Join", "CartesianProduct", "HashAggregate", "Window", "Generate")),
    // axis=1 stats: one array_sort projection — no explode/unpivot
    ("scalar_rowwise_stats", Seq("Project"),
      Seq("Join", "CartesianProduct", "HashAggregate", "Window", "Generate")),
    // Welch t: BOTH cohorts' moments ride ONE conditional aggregate —
    // the log is never split into two scans or joined to itself
    ("agg_ab_ttest", Seq("HashAggregate"),
      Seq("Join", "CartesianProduct", "Window")),
    // chi-square: count cells + broadcast margins — the log shuffles
    // once; the margin joins never sort-merge
    ("agg_chisq_independence", Seq("HashAggregate", "BroadcastHashJoin"),
      Seq("SortMergeJoin", "CartesianProduct", "Window")),
    // epoch schedule: one tokenize aggregate + a 1-row normalizer
    // broadcast — the corpus is scanned once, never re-shuffled
    ("mix_epoch_schedule", Seq("HashAggregate", "BroadcastNestedLoopJoin"),
      Seq("SortMergeJoin", "CartesianProduct", "Window")),
    // ANOVA: group moments + a k-row global fold — no join, no window
    ("agg_anova_f", Seq("HashAggregate"),
      Seq("Join", "CartesianProduct", "Window")),
    // decomposition: daily agg + ONE centered window + the <=7-row
    // seasonal frame broadcast back — never a series self-join or SMJ
    ("ts_seasonal_decompose",
      Seq("HashAggregate", "Window", "BroadcastHashJoin"),
      Seq("SortMergeJoin", "CartesianProduct")),
    // CUSUM: three window passes over ONE keyed exchange — the
    // recursion's closed form never joins the series to itself
    ("ts_cusum_alarm", Seq("Window"),
      Seq("Join", "CartesianProduct", "HashAggregate", "Generate")))

  // node-count caps: substring presence can't catch "the plan has N of
  // these where 1 suffices" regressions (e.g. a per-sum window spec
  // drift exploding one Window into five sorted Windows)
  private val maxOccur: Map[String, Seq[(String, Int)]] = Map(
    "window_rolling_corr" -> Seq(("Window ", 1), ("Sort ", 2)),
    "agg_corr_matrix" -> Seq(("FileScan ", 1), ("HashAggregate", 2)),
    "agg_cov_matrix" -> Seq(("FileScan ", 1), ("HashAggregate", 2)),
    "agg_grouping_sets" -> Seq(("FileScan ", 1), ("Expand", 1)),
    // exactly 2 hash shuffles: the uniqueness window over the small
    // dimension + the final groupBy — the orders fact side reaches
    // the broadcast join with NO exchange of its own
    "join_validated" -> Seq(("Exchange hashpartitioning", 2)),
    "snapshot_diff" -> Seq(("Exchange hashpartitioning", 2)),
    "agg_weighted_median" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Window ", 2)),
    // exactly ONE hash shuffle: the fold aggregate over the union —
    // any second exchange means the partial-agg collapse regressed
    "merge_cdc_apply" -> Seq(("Exchange hashpartitioning", 1)),
    // ONE keyed exchange for ALL feature streams (backwardMulti: the
    // k running lasts share a single window over a single union) — a
    // second exchange means the chained-per-stream form crept back
    "join_pit_features" -> Seq(("Exchange hashpartitioning", 1),
      ("Window ", 1), ("Sort ", 2)),
    // ONE scan of the event log, window + item agg = exactly 2 hash
    // exchanges — a self-join/as-of formulation would add scans
    "event_attribution" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 2)),
    // the two series union into ONE window exchange — a join
    // formulation would re-key per side
    "join_merge_ordered" -> Seq(("FileScan ", 2),
      ("Exchange hashpartitioning", 1)),
    "sample_kfold" -> Seq(("FileScan ", 1), ("Exchange hashpartitioning", 1)),
    // QI-tuple agg + histogram agg: two shuffles, one scan
    "dq_k_anonymity" -> Seq(("FileScan ", 1), ("Exchange hashpartitioning", 2)),
    // one keyed exchange per side of the full-outer join, nothing else
    "join_combine_first" -> Seq(("Exchange hashpartitioning", 2),
      ("SortMergeJoin", 1)),
    // one scan, one keyed exchange, one window
    "window_rolling_wma" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Window ", 1)),
    // the user_id aggregate reuses the window's partitioning — a
    // second hash exchange means the reuse regressed
    "ts_time_weighted_avg" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Window ", 1)),
    // exactly the two DOMAIN distinct aggregates hash-shuffle (tiny
    // sides); the fact scan feeds the broadcast joins directly, so
    // the fact side pays zero exchanges
    "encode_label_factorize" -> Seq(("Exchange hashpartitioning", 2)),
    "agg_idxmax" -> Seq(("FileScan ", 1), ("Exchange hashpartitioning", 1)),
    // one scan, one keyed exchange: the five moments ride one aggregate
    "agg_group_ols" -> Seq(("FileScan ", 1), ("Exchange hashpartitioning", 1)),
    // ONE corpus scan (stats side reuses the per-doc exchange) — a
    // second FileScan means the tokenize pass stopped being shared.
    // cap 2 on the exchange STRING: the ReusedExchange node's label
    // echoes "Exchange hashpartitioning(...)" for the one real shuffle
    "text_bm25_topk" -> Seq(("FileScan ", 1), ("Exchange hashpartitioning", 2)),
    "dq_skew_profile" -> Seq(("FileScan ", 1), ("Exchange hashpartitioning", 2)),
    // the token-table layout's whole point: df aggregate + tf-df join
    // ride the tok bucketing with NO exchange — the only hash shuffle
    // is the per-doc top-k window
    "text_tfidf_table" -> Seq(("Exchange hashpartitioning", 1)),
    // ONE documents scan: the persisted (doc, word) frame serves both
    // the vocabulary encode and the count join — a second FileScan
    // means tokenization is being paid twice again
    "text_token_count_bpe" -> Seq(("FileScan ", 1)),
    "pack_sequences_bpe" -> Seq(("FileScan ", 1)),
    // one orders scan + one customer scan: the three metrics' ranks,
    // the fence aggregate and the scoring join all ride ONE percust
    // reduce (the r15 ADVICE fix — the old form scanned orders 4x)
    "seg_rfm" -> Seq(("FileScan ", 2)),
    // the two-rank tie-average identity keeps all four rank windows
    // AND the co-moment aggregate on one group exchange — a
    // per-(group,value) count formulation would add a second
    "agg_spearman" -> Seq(("FileScan ", 1), ("Exchange hashpartitioning", 1)),
    // one scan, one keyed exchange, one window carrying all four sums
    "window_rolling_skew" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Window ", 1)),
    "window_rolling_kurt" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Window ", 1)),
    // the user_id aggregate reuses the lag window's partitioning
    "window_autocorr" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Window ", 1)),
    // one scan, one keyed exchange — OHLC is a single aggregate
    "ts_resample_ohlc" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1)),
    // fence side + fact side each scan customer once; the fence
    // window and the final segment aggregate are the two exchanges
    "transform_winsorize" -> Seq(("FileScan ", 2),
      ("Exchange hashpartitioning", 2)),
    "encode_quantile_uniform" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Window ", 1)),
    // the whole point: the fact join itself is exchange-free, so the
    // ONLY hash exchange is the post-join priority aggregate
    "join_bucketed_facts" -> Seq(("Exchange hashpartitioning", 1)),
    // one scan, one keyed exchange, one window (rolling-median shape)
    "window_rolling_quantile" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Window ", 1)),
    // peak/dd/mdd stack over ONE exchange; the dependent second
    // window pass shares the first's sort (Sort cap 2 = one window
    // sort + the declared output ORDER BY's range sort, NOT a window
    // re-sort — Window cap 2 pins the two-pass structure itself)
    "window_drawdown" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Sort ", 2), ("Window ", 2)),
    // the gap aggregate reuses the lag window's partitioning
    "ts_gap_stats" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Window ", 1)),
    "dedup_flag_duplicates" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Window ", 1)),
    // the segment aggregate reuses the rank window's partitioning
    "agg_gini" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Window ", 1)),
    // the lag-unroll rolling family: all lags share ONE window over
    // ONE keyed exchange — a second Window means the specs diverged
    "window_rolling_prod" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Window ", 1)),
    "window_rolling_rank" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Window ", 1)),
    "window_rolling_nunique" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Window ", 1)),
    "window_rolling_idxmax" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Window ", 1)),
    "window_expanding_corr" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Window ", 1)),
    // four weighted prefix sums + the row_number weight share the
    // mean kernel's single exchange; Window 2 = weight pass + sums
    "window_ewm_var" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Window ", 2)),
    // ONE scan, ONE grouped exchange carrying all co-moments
    "agg_corrwith" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1)),
    "agg_ab_ttest" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1)),
    // daily aggregate + lag window = exactly 2 keyed exchanges
    "ts_dod_change" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 2), ("Window ", 1)),
    "agg_weighted_mean" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1)),
    // one keyed exchange for the deque layout + one range exchange
    // for the declared order — a second hash exchange would mean the
    // kernel lost its single-layout guarantee
    "window_rolling_minmax_wide" -> Seq(("FileScan ", 1),
      ("Exchange hashpartitioning", 1), ("Exchange rangepartitioning", 1)))

  // count only the FINAL plan: AdaptiveSparkPlanExec.toString appends
  // the "== Initial Plan ==" section, which would double every node
  private def count(plan: String, needle: String): Int =
    plan.split("== Initial Plan ==")(0)
      .sliding(needle.length).count(_ == needle)

  checks.foreach { case (name, mustHave, mustNotHave) =>
    test(name) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // materialize THIS plan so AQE finalizes and codegen spans appear
      // simple-mode executed plan: shows the AQE final plan including
      // whole-stage-codegen span markers "*(n)" (FormattedMode omits them)
      val plan = df.queryExecution.executedPlan.toString
      val missing = mustHave.filterNot(plan.contains)
      val present = mustNotHave.filter(plan.contains)
      val over = maxOccur.getOrElse(name, Seq.empty)
        .filter { case (s, max) => count(plan, s) > max }
        .map { case (s, max) => s"'$s'>${max} (${count(plan, s)})" }
      assert(missing.isEmpty && present.isEmpty && over.isEmpty,
        s"missing=$missing forbidden-present=$present over=$over\n$plan")
    }
  }
}
