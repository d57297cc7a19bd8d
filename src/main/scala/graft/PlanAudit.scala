package graft
import org.apache.spark.sql.SparkSession
/** Prints condensed physical plans for the headline queries — the
  * explain-plan audit: filter/projection pushdown reaching the scan,
  * broadcast joins where a side is small, top-k compiling to
  * TakeOrderedAndProject, wide whole-stage-codegen spans.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    val interesting = Seq("s1_scan_pushdown", "o1_sort_limit", "j1_broadcast_join",
      "q1_pricing_summary", "a4_dedup_latest", "a1_status_metrics", "dedup_exact", "ann_brute",
      "dedup_minhash", "dedup_simhash", "ann_lsh",
      // training-pipeline layer: the probe side of decontamination must
      // broadcast; selection/packing are single-window plans (one
      // exchange on the stratum key); curation chains two windows
      "dedup_decontaminate", "select_token_budget", "pack_sequences",
      "sample_stratified", "corpus_curation",
      // round 6: the probe n-gram set broadcasts into a map-side
      // semi-join; repetition/PII are shuffle-free projections; semantic
      // dedup is one kernel pass + a within-cell equi-self-join
      "dedup_contaminated_ngrams", "text_repetition", "text_pii", "dedup_semantic",
      // bm25 must broadcast every dimension-table side; profiling is one
      // window + one aggregate; projection is a pure map
      "bm25_topk", "corpus_stats", "emb_project",
      // round 7: the window-scan predicate evaluates at the scan; the
      // five-gate curation keeps per-row gates on the projection, one
      // doc_id exchange for the perplexity join, two windows after; the
      // as-of join must be union + ONE key exchange + window (no range
      // join, no cross product)
      "window_scan", "curation_full", "asof_join", "text_keywords",
      // round 8: tfidf's vocabulary join must NOT be a forced broadcast
      // (AQE decides); the six-gate chain broadcasts only the eval grams;
      // the store anti-join reads slim fingerprints; domain ops are
      // projection + anti-join / two bounded windows; mixture is one
      // stratum window + a literal broadcast; parity is two session
      // forms joined
      "curation_decontam", "dedup_incremental_commit", "url_filter",
      "url_domain_cap", "select_mixture", "session_parity",
      // round 8b: recall joins two top-k lists (tiny); boilerplate =
      // checkpointed gram projection + unhinted repeated-set join;
      // source overlap joins slim (fingerprint, source) pairs only
      "ann_recall", "text_boilerplate", "dedup_source_overlap",
      // round 8c: span dedup = bounded explode + ONE gram-count exchange
      // with the spans→counts join reusing that partitioning; unit dedup
      // is a shuffle-free higher-order projection; classifier inference
      // broadcasts the weight table (never shuffles the corpus on the
      // bucket); centroid scoring broadcasts #labels rows back
      "dedup_spans", "text_dedup_units", "quality_classifier", "emb_centroid_cos",
      // the bigram model join must broadcast ONLY the topK kept table
      // (the backoff side is vocabulary-like, unhinted); scd2 compaction
      // must plan one key exchange across its three window passes
      "text_perplexity2", "scd2_compact",
      // the funnel chain must be one key exchange (windows chained in
      // one sort), not a stepwise join ladder; the DSv2 scan must show
      // its claimed filters + pruned schema in the scan description
      "funnel_steps", "dsv2_scan_pushdown",
      // the hash featurizer must have NO vocabulary join anywhere —
      // one explode, one (id,bucket) aggregate, one window; the
      // classifier curation chain broadcasts only the 4096-row weight
      // table, keeps span counting to one gram exchange, one budget
      // window at the end
      "text_embed_hash", "curation_classifier",
      // round 11: RRF's legs keep their own disciplines and the fusion
      // aggregates retrieval-result cardinality only; containment is the
      // in-block exact baseline (one shingle cut read by both join
      // sides); drift is ONE token shuffle + broadcast totals; leakage
      // joins the pair table twice on the id; the percentile gate
      // broadcasts #strata thresholds back; tolerance as-of must keep
      // the one-exchange merge shape with a pure projection mask
      "retrieval_rrf", "dedup_containment", "corpus_drift",
      "split_leakage", "quality_percentile_gate", "asof_tolerance",
      // round 11c: the KMV row must show ONE hash aggregate carrying
      // both the sketch and the exact side (no second scan); the
      // histogram sketch one (lang,bin) partial agg + a bucket-row
      // window, never a corpus sort; the salted join spreads the fact
      // side and replicates the dim 8x with no broadcast of the fact;
      // snapshot diff joins two SLIM fingerprint projections; the
      // anomaly monitor is one (type,bucket) count + a bucket-row
      // window
      "sketch_distinct", "quantile_sketch", "skew_join",
      "snapshot_diff", "event_anomaly",
      // round 11e: DSIR must broadcast only the 4096-row ratio grid and
      // top-k as TakeOrderedAndProject; winnowing is one doc-key window
      // + a fingerprint-bucket pair join (no cross join); the rerank's
      // second stage must semi-join the corpus down to candidates before
      // tokenizing; the curriculum position is a stratum window + a
      // broadcast stratum dim (NO global sort anywhere in the plan);
      // preference pairs self-join on the computed (stratum, rank) key
      "select_dsir", "dedup_winnow", "retrieval_rerank",
      "curriculum_order", "preference_pairs", "quality_blend",
      // round 11f: the k-anon ladder must scan the corpus ONCE and
      // broadcast all three rolled-up set tables; CDC chunking is one
      // per-doc window + one fingerprint-share hash aggregate (no
      // corpus-quadratic stage); stitch is one boundary equi-join of
      // two slim projections; the interval join must plan an EQUI-join
      // on (key, bucket) — a BroadcastNestedLoopJoin here means the
      // non-equi predicate leaked into the join; rollup is ONE expand +
      // partial/final hash aggregate, dimensions broadcast; triangles:
      // slim 8-byte joins only, the closure probe joins the oriented
      // edge set; pivot is a single hash aggregate, no per-type scans
      "kanon_suppress", "chunk_cdc", "dedup_stitch", "interval_join",
      "sales_rollup", "graph_triangles", "event_pivot", "fuzzy_match",
      "bootstrap_ci", "quality_winsorize",
      // round 11h: Q5 must push the date/region predicates into the
      // scans and broadcast all four dimensions (one fact-fact
      // exchange); collocations is two count aggregates + a
      // vocabulary join, no corpus self-join; the HLL row is ONE hash
      // aggregate carrying sketch and exact side; MaxSim broadcasts
      // the query token bag (nested-loop over broadcast rows, then two
      // hash aggregates); answer decontam is a BroadcastNestedLoopJoin
      // with the corpus streaming; co-visitation is one lag window +
      // one pair count + a pair-table rank window
      "q5_local_supplier", "text_collocations", "sketch_hll",
      "retrieval_maxsim", "decontam_answers", "covisit_topk",
      // round 11i: Q3 must show both pushed date filters + the broadcast
      // customer semi-join before the one fact-fact exchange; Q17's
      // per-part average must be a broadcast join (no self-join of the
      // fact); topk_per_group must be a two-phase ObjectHashAggregate
      // (partial map-side, NO Window/Sort over the events); kcore and
      // active_users rely on AQE broadcast of the shrinking node/grid
      // sides
      "q3_shipping_priority", "q17_small_qty", "topk_per_group",
      "graph_kcore", "active_users_window",
      // round 11j: Q18's HAVING-filtered pre-aggregate must broadcast
      // into BOTH dimension joins (one fact exchange for the agg, no
      // shuffle of orders/customer); Q10 pushes the date window and
      // R-flag into the scans, broadcasts nation; Q4's EXISTS is a
      // LEFT SEMI BroadcastHashJoin/ShuffledHashJoin with the lateness
      // comparison as a join residual, never a row-duplicating inner;
      // keyword_tag broadcasts the lexicon; the rollup merge is union
      // + ONE hash aggregate; the overlap join must be an EQUI join on
      // (key, bucket); the skyline pays one bounded aggregate then a
      // single-partition window over POINTS only; the HLL slide is a
      // register explode bounded by days x 7 x 256, never user-sized;
      // hyperball is per-round edge equi-joins over the sparse
      // register table
      "q18_large_orders", "q10_returned_items", "q4_order_priority",
      "keyword_tag", "rollup_incremental", "interval_overlap",
      "pareto_front", "active_users_hll", "graph_hits", "graph_hyperball",
      // round 11k: Q19's disjuncts must each push a side-local OR
      // approximation into BOTH scans (PushedFilters on part AND
      // lineitem) with the full disjunction as residual; Q16
      // pre-distincts the fact before any join; Q22's scalar stats are
      // a one-row broadcast; Q21 is two grain-descending aggregates +
      // one semi join, no correlated subquery; jaccard_join's candidate
      // join must touch prefix tokens only (no cross join anywhere);
      // asof_native must show AsOfMergeJoin with Catalyst-planned
      // exchanges/sorts; the grouping-sets plan is ONE Expand + one
      // aggregate; the trailing-7d RANGE window runs over the
      // days-sized pre-aggregate
      "q19_disjunctive", "q16_supplier_variety", "q22_idle_balance",
      "q21_blame_supplier", "jaccard_join", "asof_native",
      "sales_grouping_sets", "revenue_trailing_7d",
      // round 11l-n: Q6 must show PushedFilters carrying all three
      // predicates and no join; Q9/Q20 semi-join-reduce the fact before
      // the exchange; Q13 is one outer key exchange + two partial
      // aggregates; assortativity is two degree aggs + one six-sum
      // aggregate; cusum is two ordered windows over the bucket table
      // (no driver loop); dedup_lines is one line-count aggregate + one
      // per-doc collect pass; the residual IVF-PQ plan must stay
      // broadcast-LUT map-side like the raw-vector twin
      "q6_forecast_revenue", "q9_product_profit", "q13_customer_distribution",
      "q20_bulk_suppliers", "graph_assortativity", "event_cusum",
      "dedup_lines", "ann_ivfpq_residual", "retrieval_mmr",
      "select_facility", "survival_conversion", "text_perplexity_kn",
      "emb_whiten", "mm_scene_cuts",
      // round-11 closing batches: Q2 decorrelates to two hash aggs + a
      // slim self-equi-join with every dim broadcast (lineitem scanned
      // once); adamic-adar's wedge join is degree-capped BEFORE the
      // self-join and tops out in TakeOrderedAndProject; benford is one
      // 9-group aggregate; gini windows the bounded histogram only;
      // zipf is one explode+count then bounded windows; phash reduces
      // payloads map-side to (id, hash) before the band join; sprt is
      // one (key, day) count + day-table windows; the skew profile is
      // one key count + TakeOrdered
      "q2_min_cost_supplier", "graph_adamic_adar", "quality_benford",
      "corpus_gini", "vocab_zipf", "mm_phash", "ab_sprt", "skew_profile",
      "dedup_yield", "select_ppl_contrast", "text_code_switch",
      "privacy_ldiversity", "dedup_soft", "event_seasonal",
      // batch 3: U-shaped attribution is one user-key exchange + a
      // channel aggregate; coverage is one explode+count then bounded
      // windows; modularity joins slim (node,label) rows onto the
      // distinct edge set twice, everything after is community-sized
      "attribution_position", "vocab_coverage", "graph_modularity",
      // rfm is one user aggregate + user-table ntile windows; the
      // matryoshka audit is two broadcast brute-force scans + a slim join
      "user_rfm", "ann_matryoshka",
      // c4 is shuffle-free per-row gates; clustering reuses the oriented
      // wedge join with a bounded 3-explode credit pass
      "quality_c4", "graph_clustering",
      // round 12: the clip gate must be ONE shuffle-free projection
      // chain (embeddings, dot, norms, gate all map-side); theil-sen is
      // one (key,day) count + a days-bounded pair self-join + one
      // window; decay is the count + a one-row broadcast anchor; cuped
      // is one user-grain exchange + a one-row moment rollup; qnorm is
      // one group-key window + domain-sized aggregates; t-closeness
      // shares l-diversity's single triple-domain pass; the window
      // sweep is ONE bounded pair join + min-gap aggregate, the sweep
      // reading the bounded table
      "mm_clip_filter", "event_trend_robust", "event_decay", "ab_cuped",
      "quality_qnorm", "privacy_tcloseness", "attribution_window_sweep",
      "retrieval_ndcg",
      // round-12 closing: the gap sweep is ONE lag window + ONE
      // aggregate (no per-threshold re-scan); dp_quantile is one
      // (key,bucket) count + bucket-table windows; the ivf sweep's
      // corpus work is assignment + the cell equi-join (the sweep
      // filters the bounded pair table); seasonal-adjusted joins the
      // broadcast keysx7 profile back onto the days table; pca's only
      // corpus exchange is the dim^2-key pair aggregate; debias and
      // srm are a projection and one user-distinct aggregate
      "session_gap_sweep", "dp_quantile", "ann_ivf_sweep",
      "event_seasonal_adjusted", "emb_pca_top", "emb_debias", "ab_srm",
      "dedup_cluster_sizes",
      // round 13: the unigram-LM trainer's ONE corpus exchange is the
      // word-count aggregate; every EM round (substring explode, cost
      // broadcast, Viterbi HOF folds) runs on the distinct-word table,
      // and tokenize joins the broadcast word→n_pieces table back; the
      // perceptron rows must show NO weight-table join (the model is a
      // literal) — one cached-feature scan + one bucket exchange/epoch
      "spm_train", "spm_tokenize", "classifier_train", "classifier_eval",
      // the suffix-run pass must shuffle (hash, pos) fingerprints only
      // (level hashing is per-row; text never crosses an exchange) and
      // the extension stage joins the bounded diagonal-deduped anchors
      "dedup_substring",
      // eval family: pass@k/ECE/kappa are each ONE map-side-combined
      // aggregate (+ a one-row or classes-domain broadcast tail);
      // bradley-terry touches the corpus once for matches, then each
      // MM round is a pair-table pass + items aggregate + 1-row renorm
      "eval_pass_at_k", "eval_ece", "eval_kappa", "eval_bradley_terry",
      "spm_fertility", "spm_vocab_sweep",
      // the data map's margins are ONE projection over the cached
      // feature table (10 literal-snapshot folds, no joins) + the
      // tertile window; license rollup is one shard aggregate
      "classifier_datamap", "license_propagation", "spm_tokenize_artifact",
      // calibration trio: one corpus binning aggregate each; conformal
      // adds a calibration-side window + 1-row threshold broadcast;
      // isotonic's O(bins^3) segment joins run on the 10-row bin table
      "eval_brier", "eval_conformal", "eval_isotonic",
      // curation self-audit: ONE flags pass (gopher + classifier +
      // length in one plan) + one counter aggregate; ablation is one
      // source aggregate + a 1-row broadcast
      "selection_overlap", "selection_shift", "source_ablation",
      // the bisection median is k slim count rounds over ONE cached
      // column (no sort anywhere); rag support shuffles grams only
      "quantile_bisect", "rag_support", "dedup_substring_scrub",
      // ktruss: per round ONE wedge join over the current edge set +
      // a filter, generations through cutLoop; dp_mean/mcnemar are one
      // aggregate each
      "graph_ktruss", "dp_mean", "eval_mcnemar", "ab_quantile_effect", "ab_poststrat",
      // round 14 graph-ANN: the build must show bucketed/grouped
      // candidate joins + per-node windows (no cartesian anywhere);
      // search is beam-bounded joins against the broadcast query set
      "ann_graph", "ann_graph_topk", "ann_graph_recall",
      // pack: ONE shard exchange then a codegen'd per-shard fold (no
      // window over the corpus, no second scan per strategy side);
      // mrr: two query-bounded top-k legs + one join/aggregate
      "pack_bestfit", "pack_waste", "retrieval_mrr",
      // prefix cache: ONE shard exchange, per-shard sort window + lag
      // + codegen'd LCP fold; scaling curve: one token aggregate then
      // vocab-table work only; auprc: eval-bounded rank window;
      // quality_mad: two group-key rank windows + broadcast joins
      "prompt_prefix_cache", "lm_scaling_curve", "eval_auprc", "quality_mad")
    for (name <- interesting) {
      println(s"===== $name")
      val plan = SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString
      plan.linesIterator
        .filter(l => l.contains("Scan parquet") || l.contains("Scan ExistingRDD") ||
          l.contains("PushedFilters") || l.contains("ReadSchema") ||
          l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") || l.contains("TakeOrderedAndProject") ||
          l.contains("WholeStageCodegen") || l.contains("Exchange") || l.contains("HashAggregate(") ||
          // cache reuse reads (the persist cut points); note the
          // InMemoryRelation line prints its cached CHILD plan inline, so
          // scan lines below one are the cut's content, not extra scans
          l.contains("InMemoryTableScan") || l.contains("InMemoryRelation"))
        .map(_.take(220)).foreach(println)
    }
    spark.stop()
  }
}
