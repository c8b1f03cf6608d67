package graft.tools

import graft.GraftSession
import graft.queries.Registry
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump formatted physical plans for the representative queries
  * into PLANS.md so plan quality is reviewable without running Spark.
  * Regenerate after planner-affecting changes:
  *   sbt "runMain graft.tools.Plans"
  */
object Plans {

  private val picks: Seq[(String, String)] = Seq(
    "q01_pricing_summary" ->
      "Partial+final hash aggregate; decimal sums; pushed shipdate filter.",
    "q02_filter_project" ->
      "All predicates in PushedFilters; ReadSchema pruned to 6 columns.",
    "q03_join_broadcast" ->
      "Two BroadcastHashJoins — the fact side is never shuffled.",
    "q04_join_shuffle" ->
      "Fact-fact equi join (AQE picks broadcast at this SF; SMJ at scale).",
    "q25_range_join" ->
      "Equi join on custkey with the date range as residual — no BNL.",
    "q26_asof_join" ->
      "Union + single window pass — as-of without join multiplicity.",
    "q41_minhash_lsh" ->
      "Band-bucket self-join on long keys; cached shingle hash sets.",
    "q45_cosine_topk" ->
      "Query set broadcast; qcosine (native codegen) inside the projection.",
    "q50_partitioned_sink_roundtrip" ->
      "Partition-pruned read-back: PartitionFilters on l_returnflag.",
    "q42_simhash" ->
      ("ONE native SimhashSig aggregate (long[60] buffer, partial+final "
        + "under ObjectHashAggregate); broadcast band-stats occupancy cap; "
        + "band self-join on long keys."),
    "q47_ann_ivf" ->
      ("Deterministic cell assignment in-projection; broadcast probes + "
        + "query set — the corpus never shuffles."),
    "q76_window_frames" ->
      ("Global RANGE frame distributed: window partitioned by block key g "
        + "(boundary rows carried), then per-priority frames."),
    "q88_shard_pack" ->
      ("Recursive block prefix sum: windows partitioned by g then g2; the "
        + "only global window is over per-superblock totals (corpus/B^2 "
        + "rows); the offsets rejoin reuses g-partitioning, no forced "
        + "broadcast."),
    "q56_gold_revenue" ->
      ("Full silver->gold build: Exact-grid rollup, partitioned write, "
        + "read-back (plan shows the final scan of the gold table)."),
    "q98_semantic_dedup" ->
      ("SemDeDup: quantizer-cell equi self-join (never all-pairs), "
        + "qcosine verify in-projection, keep-lowest canonical."),
    "q99_merge_upsert" ->
      ("MERGE: latest-wins windows and the FULL OUTER join all hash on "
        + "user_id — exactly one exchange per input."),
    "q102_equidepth_bins" ->
      ("Exact deciles WITHOUT a single-buffer percentile: value histogram "
        + "+ operators.BlockScan ranks + 9-row broadcast rank lookup; "
        + "binning is row-local against broadcast cutpoints."),
    "q104_zorder" ->
      ("Native morton2 interleave inside whole-stage codegen; rollup is "
        + "one partial+final aggregate."),
    "q106_grouped_deciles" ->
      ("Per-group exact percentiles, distributed: every window keyed by "
        + "(grp[, block]) — no per-group value buffer."),
    "q108_kmeans_step" ->
      ("Lloyd assignment: seeds broadcast, argmin collapses map-side "
        + "(partial min of (d2, cid) structs), two exchanges total."),
    "q110_fuzzy_join" ->
      ("Record linkage: prefix blocking key feeds an equi self-join; "
        + "Levenshtein verify runs in-block only."),
    "q118_topk_agg" ->
      ("Top-k per group WITHOUT a window sort: the k-bounded TopK "
        + "Aggregator partial-aggregates to <=k values per partition."),
    "q121_skyline" ->
      ("Pareto frontier with NO dominance self-join: distinct metric "
        + "pairs, bucket-partitioned running-max windows, then one merge "
        + "over the tiny union of local frontiers."),
    "q122_scd2" ->
      ("SCD2: change-detect lag, valid_to lead and version rank share a "
        + "single user_id exchange (one Window node after one shuffle)."),
    "q124_robust_stats" ->
      ("Quantile frame (|groups| rows) broadcasts back against the cents "
        + "scan; MAD + winsorized aggregates partial+final."),
    "q126_novelty" ->
      ("Novelty without a gram-keyed join: first-occurrence aggregate "
        + "folds to per-doc novel counts; final join is doc-level only."),
    "q130_embedding_qa" ->
      ("Distributed exact p99 (operators.Quantiles) broadcast back; the "
        + "vector table is scanned once and never reshuffled."),
    "q131_cms" ->
      ("Count-min sketch as relational algebra: DxW bounded-key partial "
        + "aggregate; |keys|xD probe rows broadcast against the grid."),
    "q132_concurrency" ->
      ("Sweep line: operators.BlockScan on the 6-hour block; only the "
        + "|blocks|-row totals cross a global window."),
    "q134_hll" ->
      ("HLL registers: one partial-max shuffle to |groups|x64 rows; "
        + "integer register sums; estimate bound in the projection."),
    "q115_pagerank" ->
      ("Degree join hoisted OUT of the power-iteration loop: deg rides "
        + "the cached edge list, so each iteration is one edges-rank join "
        + "+ one partial-agg shuffle."),
    "q135_triangles" ->
      ("Triangle count via tag-and-union + one conditional aggregate — "
        + "no BroadcastNestedLoopJoin anywhere in the plan."),
    "q136_regression" ->
      ("Five sufficient statistics in ONE partial+final aggregate; Syy "
        + "on the exact decimal grid with a loud int64 overflow guard."),
    "q137_auc" ->
      ("Mann-Whitney AUC without the O(n^2) pair join: per-score rollup "
        + "+ operators.BlockScan prefix sum + two exact dot products."),
    "q141_interval_union" ->
      ("Sweep: +1/-1 deltas, block-partitioned cumsum detects cover "
        + "starts; only block totals cross a global window."),
    "q144_lift" ->
      ("Decile lift: distributed exact decile cuts broadcast back; "
        + "response rollup is one 10-group partial+final aggregate."),
    "q145_tfidf" ->
      ("TF-IDF: (doc,term) partial-agg, |vocab|-row df join, per-doc "
        + "rank window — no global anything."),
    "q146_stratified_split" ->
      ("Hash-gate split: scan -> project, ZERO exchanges at any scale."),
    "q155_sessionize" ->
      ("Gap detection, session ids and the rollup share ONE user_id "
        + "exchange."),
    "q158_oov_rate" ->
      ("K-bounded vocab broadcasts; OOV is a broadcast anti-join over "
        + "(source, term) partials."),
    "q159_key_skew" ->
      ("Key histogram partial-aggregates; every statistic runs over "
        + "|keys| rows, never data."),
    "q161_snapshot_diff" ->
      ("Version delta: ONE co-partitioned full-outer join; "
        + "classification is row-local after it."),
    "q162_ks_test" ->
      ("Exact KS: operators.BlockScan CDF cumsums partition on g; only "
        + "the |blocks|-row offsets window is global."),
    "q163_cdc_apply" ->
      ("CDC compaction: one keyed ranking window, tombstone filter, "
        + "2-group rollup."),
    "q171_source_overlap" ->
      ("Overlap matrix: distinct (source,chunk-fp) grain self-joins ON "
        + "the fingerprint — fan-out bounded by sources-per-chunk."),
    "q172_interp_fill" ->
      ("Linear-interpolation fill: all four ignoreNulls bracket windows "
        + "share ONE user_id exchange; the interpolation itself is "
        + "row-local arithmetic."),
    "q176_abc_class" ->
      ("Pareto ABC classes: operators.BlockScan on the (negated) revenue "
        + "block g; only the bounded block-totals table crosses a global "
        + "ordering; the 1-row total broadcasts."),
    "q179_pct_of_parent" ->
      ("Percent-of-parent: orders pre-aggregate to customer grain, then "
        + "SMJ on custkey (customer is fact-scaled — never broadcast); "
        + "only nation/region broadcast; the parent subtotal windows "
        + "over |nations| group-grain rows."),
    "q192_systematic_sample" ->
      ("Global rank as an operators.BlockScan running count: the one "
        + "unpartitioned ordering reads the block-counts aggregate; "
        + "offsets broadcast back."),
    "q194_sorted_neighborhood" ->
      ("Sliding-window pair generation as an EQUI join: each record "
        + "explodes into W-1 rank+offset probes — bounded fan-out, no "
        + "range join, no BNL."),
    "q198_ewma" ->
      ("Recursive smoother unrolled over the bounded (type, day) grain: "
        + "one partial-agg shuffle to the grain, then a co-partitioned "
        + "self-join of that grain only — the fact table is scanned "
        + "once and never re-joined."),
    "q200_pq_assign" ->
      ("PQ assignment: 4-way subspace explode, fixed codebook broadcast, "
        + "exact integer L2 in a codegen'd lambda, min-then-min argmin, "
        + "32-row occupancy aggregate."),
    "q226_mann_whitney" ->
      ("Rank-sum WITHOUT ranks: value-grain histogram, operators.BlockScan "
        + "on v div 2^16, one reduction to five int64 sufficient stats."),
    "q244_spearman" ->
      ("Two operators.BlockScan 2*avgRank passes, value-keyed rank joins "
        + "back onto the fact, single (ex,ey) product reduction — "
        + "Pearson-on-ranks with zero float ranks."),
    "q233_kcore" ->
      ("Iterative peel: per round one degree partial-agg + two left-semi "
        + "joins on the node key, localCheckpoint-truncated lineage, "
        + "edge-count early exit (monotonicity makes it oracle-equal)."),
    "q249_bom_closure" ->
      ("Transitive closure by iterative DOUBLING: 5 rounds of keyed "
        + "self-join + distinct reach depth 32 — O(log depth) rounds, "
        + "the q48 discipline applied to hierarchies."),
    "q250_ipf_raking" ->
      ("Three pinned IPF rounds over the bounded cell grain: decimal-grid "
        + "margin sums broadcast back, per-round localCheckpoint keeps "
        + "the six-stage plan constant-size (7.8 s -> 1.7 s)."),
    "q253_kaplan_meier" ->
      ("Survival: order-key join, t-grain aggregate, reverse prefix "
        + "at-risk window over the bounded grain, and a broadcast "
        + "t-ordered factor array folded row-locally (identical "
        + "association in both engines)."),
    "q258_rolling_wau" ->
      ("Distinct-over-sliding-window via the window EXPLODE: (user, day) "
        + "distinct, fan-out 7 into trailing windows, distinct + count "
        + "per window day — no holistic window aggregate anywhere."),
    "q271_dpp_prune" ->
      ("Dynamic partition pruning end-to-end: the filtered nation dim's "
        + "values reach the partitioned fact scan's PartitionFilters as "
        + "a dynamicpruning expression — 1 of 25 partitions read."),
    "q261_hits" ->
      ("HITS half-steps: edge-keyed join + node-grain partial agg per "
        + "alternation; max-normalization as a broadcast scalar divide "
        + "(order-free, unlike an L2 norm)."),
    "q275_grid_join" ->
      ("Spatial proximity as EQUI joins: each point fans out to its 9 "
        + "neighbor cells (row-local explode of the literal offset "
        + "array — no join node at all for the fan-out), candidates "
        + "join on the cell key, exact Chebyshev residual — no BNL."),
    "q295_content_fingerprint" ->
      ("Order-independent column fingerprints: per-row portable hashes "
        + "summed exactly (decimal widening) then one modulo — "
        + "partitioning cannot move the result."),
    "q313_quality_gate" ->
      ("Trained-model scoring: one (doc, bucket) partial-agg shuffle, "
        + "the 256-row NB weight table and 1-row class totals broadcast "
        + "back, per-doc decimal-grid dot product — no SMJ anywhere in "
        + "the scoring path."),
    "q315_bpe_merges" ->
      ("Iterative merge training on the word-frequency grain: per round "
        + "one vocab-bounded pair agg, TakeOrdered(1) argmax broadcast "
        + "back as a 1-row join, localCheckpoint truncating the lineage "
        + "(plan shown is the final round's)."),
    "q316_kcenter_select" ->
      ("Farthest-point traversal: a running least() distance column, "
        + "per-round TakeOrdered(1) argmax, single-center broadcast "
        + "update — k linear passes, no pairwise join ever exists."),
    "q321_chunk_packing" ->
      ("Corpus-grain prefix sum via operators.BlockScan on g = doc_id "
        + "div 4096; only the bounded block-totals table crosses an "
        + "unpartitioned window; offsets broadcast back."),
    "q323_holt_trend" ->
      ("Bounded-grain recursion as a group-grain HOF fold: one fact "
        + "pass to the month grain, sorted struct array collected on a "
        + "1-row frame, aggregate() lambda carrying (level, trend) — "
        + "the Spark-native recursive-CTE substitute."),
    "q324_incremental_neardup" ->
      ("Asymmetric incremental candidate join: the band index's probe "
        + "side is pre-filtered to the new batch BEFORE the bucket "
        + "join, so old x old candidates never materialize — per-day "
        + "cost scales with the batch, not the corpus."),
    "q331_dsir_resample" ->
      ("Importance resampling: one corpus feature shuffle, a 256-row "
        + "ratio model and a 1-row weight range broadcast back, the "
        + "keep gate pure integer row-local math — no window, no "
        + "corpus-sized join anywhere."),
    "q333_crossmodal_gate" ->
      ("Media decode via mapPartitions (the sanctioned site) feeding a "
        + "keyed media_id join of two corpus-scaled sides — shuffle "
        + "join by design, never broadcast; the cosine gate is "
        + "row-local quantized-int math."),
    "q334_kn_fluency_gate" ->
      ("Vocabulary-scaled model tables (bigram counts, fan-outs, "
        + "continuation counts) joined on token keys — shuffle joins "
        + "by design; only the 1-row bigram-type total broadcasts; "
        + "per-doc mean on the decimal grid."),
    "q335_curation_mix" ->
      ("Four families composed in one plan: gate features shuffle "
        + "once, the 256-row model broadcasts, the cluster split is "
        + "row-local, one doc_id-keyed join, then a |sources|-grain "
        + "allocator with a 1-row denominator — no window in the "
        + "whole composition."),
    "q339_label_silhouette" ->
      ("Bounded |labels|-row centroid-SUM table broadcast onto every "
        + "vector (nested-loop by design: each vector scores all "
        + "labels); cos(x, S_g) == cos(x, mu_g) so no division enters "
        + "the reduction — then one |labels|-grain rollup."),
    "q346_lsh_band_planning" ->
      ("Two corpus-linear strata (systematic offset pairs; union of "
        + "the guarded candidate generators) collapse to <=20-row "
        + "histograms; the five layout scores are constant-size math "
        + "over broadcast 1-row scalars — multiply-chain powers, no "
        + "pow()."),
    "q351_ivf_nprobe_planning" ->
      ("Exact top-1 reuses the broadcast-query corpus scan; probe "
        + "order is a row-local 4-struct sort; the cum-recall window "
        + "reads the 6-row rank aggregate, never data."),
    "q352_media_phash_dedup" ->
      ("Decode once via mapPartitions; 8-byte phash per asset; 15-bit "
        + "band buckets (q42's builder) with the occupancy cap and a "
        + "broadcast cool table, materialized once for both join sides — "
        + "pair candidates bucket-bounded, never all-pairs."),
    "q354_incremental_semdedup" ->
      ("New-batch vectors probe the corpus index on the cell equi key "
        + "only (old x old never pairs); LEFT join keeps admitted "
        + "vectors; decision agg is keyed on the batch vector."),
    "q356_kmeans_churn" ->
      ("Both assignment passes are broadcast-10-centroid row-local "
        + "argmins collapsed by min-struct partial agg — no windows; "
        + "the only corpus exchanges are the vec-keyed join and the "
        + "(cell, dim) sum."),
    "q358_snapshot_diff" ->
      ("Two snapshot scans diff through ONE key-keyed full-outer "
        + "sort-merge join, then a 4-group partial agg — no window, "
        + "no global sort."),
    "q360_bloom_semijoin_planner" ->
      ("The 3-size bloom bit table is a bounded aggregate and "
        + "broadcasts; probe side is one key-grain partial agg of "
        + "lineitem + 9 row-local position probes per key."),
    "q368_watermark_planning" ->
      ("Per-block running max via partial agg + block prefix (q76's "
        + "discipline) — no single-partition window over the events; "
        + "the 3-point lateness sweep reads the bounded block table."),
    "q372_gate_auc" ->
      ("Mann-Whitney rank-sum over operators.BlockScan-ranked scores, "
        + "never one global sort partition; the AUC is a 1-row exact "
        + "rational."),
    "q373_prefix_filter_join" ->
      ("Lossless SSJoin: prefix tokens explode per doc, candidates "
        + "come from the prefix-token equi self-join (df-bounded), "
        + "verify is the native merge-scan intersect — no LSH miss, "
        + "no cartesian."),
    "q375_mutual_knn_pairs" ->
      ("Two broadcast-bounded passes (A-queries x B scan, B-hits x A "
        + "scan); mutuality is an equi self-join of the two top-1 "
        + "tables; margins ride the same top-2 min-structs."),
    "q377_federated_union_scan" ->
      ("One predicate pushed through the Union into all three format "
        + "legs — the parquet leg carries PushedFilters; no "
        + "post-union filter remains."),
    "q379_dup_mass_curve" ->
      ("All three k-grains explode from ONE cached documents scan; "
        + "the fingerprint df agg and the join back share the "
        + "(k, fp) shuffle key; 33-group rollup, no window."),
    "q380_ivf_cell_rebalance" ->
      ("9 bounded trie levels explode row-locally; occupancy is a "
        + "(depth, cell)-keyed partial+final agg joined back on the "
        + "same key; leaf pick is an integer-encoded min agg — "
        + "no loop, no corpus window."),
    "q381_crossmodal_recall" ->
      ("Both retrieval legs broadcast the bounded query set against "
        + "one corpus scan; per-query top-k windows push the rank "
        + "limit into WindowGroupLimit."),
    "q382_dedup_ladder" ->
      ("Four dedup stages composed survivor-to-survivor: fingerprint "
        + "shuffle, chunk-fp window, banded candidates + verify, "
        + "adaptive cell-bounded pairs (k from the survivor count — "
        + "one broadcast 1-row scalar) — handoffs are broadcast doc_id "
        + "semi/anti joins; only the 5-row stage lag is a global "
        + "window."),
    "q386_mmr_select" ->
      ("K bounded greedy stages: the selected set collapses to one "
        + "<= K-element array per query (collect_list), broadcasts "
        + "back onto the cached relevance frame, max-sim is row-local "
        + "higher-order array math, argmax a max-struct partial+final "
        + "agg — per stage only nq*K rows + partials shuffle, never "
        + "the corpus; localCheckpoint cuts the stage lineage."),
    "q390_incremental_components" ->
      ("Contraction: new edges map endpoints to OLD component labels "
        + "via two broadcast hash joins, then the bounded star rounds "
        + "run on the contracted label graph (~today's edge count, "
        + "not the corpus graph); label splice-back and the merge "
        + "audit are hash joins + one partial+final agg on the "
        + "component key."),
    "q392_trie_ann_recall" ->
      ("Each query explodes 9 prefix levels for two signatures "
        + "(own + least-confident-plane flip), joins the leaf table "
        + "on (depth, cell) — two key lookups per query; candidate "
        + "re-rank and the exact self-audit leg are per-query "
        + "windows over broadcast query sets (rank limit pushed)."),
    "q395_trie_ann_elastic" ->
      ("Quota-elastic stop rule with NO iteration: per-candidate "
        + "first-reaching rank is one min-agg over the rk-grained "
        + "leaf join, the cumulative window runs over a "
        + "query-set-sized frame (per-q_id rank counts), and the "
        + "chosen probe prefix joins back as a broadcast — candidate "
        + "work per query bounded by quota + one leaf's overshoot."),
    "q397_semantic_split_leak" ->
      ("Cross-file composition: the trie-leaf self-join (cell-keyed, "
        + "cap-bounded) supplies semantic pairs; q48's verified "
        + "components supply sides via two hash joins on the pair "
        + "endpoints; the corpus rollups are two broadcast 1-row "
        + "frames — no new candidate generator, no corpus-sized "
        + "exchange beyond the parents'."),
    "q396_shuffle_order_audit" ->
      ("Round-15 block decomposition: local run windows partition by "
        + "(shard, block) — ~8k-row hash-range cells — and the stitch "
        + "window runs at BLOCK grain (2^blkbits rows per shard), "
        + "with S and blkbits derived in-plan from one broadcast "
        + "corpus count; no window partitions corpus-grain input by "
        + "a bounded key (the round-14 weak shape, now also swept "
        + "for by GuardSpec)."),
    "q398_ivf_nprobe_elastic" ->
      ("q395's closed-form stop rule on the 16-cell IVF index: the "
        + "ranked probe list is a per-query array (broadcast), "
        + "first-reaching rank is one min-agg over the cell-keyed "
        + "probe join, the quota pick is a query-set-sized window, "
        + "and only the audit's exact leg scans the corpus — at rest "
        + "the corpus is cell-partitioned, so the probe join is "
        + "partition pruning."))

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans (sf0.001, AQE initial plans)\n\n"
    sb ++= "Generated by `sbt \"runMain graft.tools.Plans\"`. PlanSpec asserts\n"
    sb ++= "the load-bearing properties; this file is for human review.\n\n"
    sb ++= s"Pick policy: one representative per PHYSICAL SHAPE (join\n"
    sb ++= s"strategies, window variants, native aggregates, iterative\n"
    sb ++= s"loops, sinks) rather than all ${Registry.all.size} queries — "
    sb ++= "queries sharing a\nshape share a plan, and PlanSpec asserts "
    sb ++= "every query's load-bearing\nproperties (no BNL/cartesian, "
    sb ++= "pushed filters, pruned schemas)\nmechanically.\n"
    picks.foreach { case (name, note) =>
      val p = Registry.byName(name).run(spark, d)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb ++= s"\n## $name\n\n$note\n\n```\n${p.trim}\n```\n"
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${picks.size} plans)")
    spark.stop()
  }
}
