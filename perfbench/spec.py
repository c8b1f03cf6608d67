"""What the medallion benchmark measures: workloads, metrics and layer map.

This table is the single source for ``BENCHMARK.json`` at the repository
root (``python3 perfbench/spec.py > BENCHMARK.json``) and for the units the
launcher prints.

Every workload reports the same five end-to-end metrics (what each one is
on each workload is in README.md). Per-layer metrics come from one traced
pass that runs both workloads and the stream (and ``medallion_batch`` again
on one core), so every
traced run reports every per-layer metric. ``LAYERS`` names, for each, the
module it measures, the metric it should move and on which workload.
"""
import json

RUN_SECONDS = 10

WORKLOADS = [
    ("medallion_batch",
     "the reference's monthly job: a backfill loads per-file work, each "
     "drop pays fixed cost plus a gold rebuild that grows with silver, the "
     "replay overwrites partitions"),
    ("query_mix",
     "queries, operators and functions hold most of the code and are never "
     "called by the pipeline workloads"),
]
# medallion_stream is not a workload of its own: 22 more runs of it would
# not fit the time one benchmark check may take. Every traced pass runs it,
# and its numbers are the stream.* and traced.* per-layer metrics.

# name, unit, better, bound
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
    ("work_s", "s", "lower", 0.25),
    ("op_ms_p50", "ms", "lower", 0.25),
    ("op_ms_p90", "ms", "lower", 0.25),
]

# Seconds per query family in the 399-query suite at sf0.1 (the
# BENCH_FULL.json record of round 16), the weights of the query_mix sample.
FAMILY_SECONDS = {
    "analytic": 0.704, "corpus": 7.038, "curation": 18.962, "dedup": 38.726,
    "inference": 6.35, "insights": 7.161, "mining": 15.686, "multimodal": 3.186,
    "operations": 14.248, "pipeline": 3.876, "profiling": 3.528,
    "quality": 4.107, "relational": 10.333, "selection": 12.436,
    "similarity": 27.9, "sources": 7.758, "sql": 7.129, "sql_tpch": 14.098,
    "statistics": 7.475, "temporal": 3.316, "text": 1.803, "training": 7.656,
    "warehouse": 11.894,
}

# The query_mix sample, frozen so that every run and every later change
# times the same queries (--seed drives the generated tables). Drawn once:
# 12 queries split over the families by FAMILY_SECONDS share (largest
# remainder: two each to dedup and similarity, one each to the next eight
# families, 73% of suite time), then a uniform draw within each family
# (random.Random(0).sample over the sorted query names outside
# SLOW_ORACLES, families in name order).
MIX_QUERIES = [
    ("curation", "q172_interp_fill"), ("dedup", "q42_simhash"),
    ("dedup", "q194_sorted_neighborhood"), ("mining", "q241_hhi"),
    ("operations", "q363_sampled_card_estimate"),
    ("relational", "q15_approx_distinct"), ("selection", "q344_effective_budget"),
    ("similarity", "q359_int8_rank_fidelity"),
    ("similarity", "q401_ivf_centroid_serve"), ("sources", "q271_dpp_prune"),
    ("sql_tpch", "q70_sql_q19_shape"), ("warehouse", "q127_attribution"),
]

# Queries the query_mix sample never draws: their DuckDB oracle alone takes
# more than 4 s on the generated sf0.01 tables (4 cores), which would not
# leave the output check inside a run's time. Seconds as measured.
SLOW_ORACLES = {
    "q46_ann_lsh": 7.5, "q205_pair_dist_hist": 12.8,
    "q207_confusion_matrix": 12.9, "q208_class_metrics": 13.8,
    "q314_rrf_fusion": 7.4, "q322_ann_recall": 8.1,
    "q350_hard_negatives": 8.6, "q380_ivf_cell_rebalance": 15.3,
    "q382_dedup_ladder": 12.5, "q388_trie_capacity_plan": 7.3,
    "q390_incremental_components": 4.3, "q391_trie_semantic_dedup": 22.1,
    "q392_trie_ann_recall": 23.3, "q394_trie_ann_probe_sweep": 22.5,
    "q395_trie_ann_elastic": 43.7, "q397_semantic_split_leak": 38.0,
    "q399_split_churn": 4.7, "q400_ivf_adaptive_grain": 20.1,
}

B, S, Q = "medallion_batch", "medallion_stream", "query_mix"
DROP, BACK, REPLAY = "op_ms_p50", "work_s", "work_s"
# The stream's own numbers come from the traced pass.
LAT, TAIL, DRAIN = ("traced.land_to_silver_ms_p50", "traced.land_to_silver_ms_p90",
                    "traced.drain_rows_per_s")

# name, unit, better, layer, end-to-end metric it should move, workload
LAYERS = [
    ("orchestrator.run_once_ms", "ms", "lower", "pipeline.Ingest/Orchestrator + MonthLedger", DROP, B),
    ("ingest.ingest_file_ms", "ms", "lower", "pipeline.Ingest", BACK, B),
    ("promote.run_ms", "ms", "lower", "pipeline.Promote", DROP, B),
    ("promote.backfill_run_ms", "ms", "lower", "pipeline.Promote", BACK, B),
    ("promote.driver_ms", "ms", "lower", "pipeline.Promote (listing, planning, commit renames)", DROP, B),
    ("promote.discover_ms", "ms", "lower", "pipeline.Ledgers (ProcessedLog anti-join)", DROP, B),
    ("promote.files_todo_ratio", "ratio", "higher", "pipeline.Ledgers", DROP, B),
    ("taxischema.probe_ms", "ms", "lower", "pipeline.TaxiSchema", BACK, B),
    ("taxischema.probe_jobs", "count", "lower", "pipeline.TaxiSchema", BACK, B),
    ("promote.write_ms", "ms", "lower", "pipeline.Promote (partitioned write)", DROP, B),
    ("promote.rows_out", "count", "higher", "pipeline.Promote (partitioned write)", DROP, B),
    ("promote.files_out", "count", "lower", "pipeline.Promote (partitioned write)", DROP, B),
    ("promote.bytes_out", "bytes", "lower", "pipeline.Promote (partitioned write)", REPLAY, B),
    ("ledgers.commit_ms", "ms", "lower", "pipeline.Ledgers", DROP, B),
    ("ledgers.files", "count", "lower", "pipeline.Ledgers", REPLAY, B),
    ("gold.revenue_ms", "ms", "lower", "pipeline.Gold", DROP, B),
    ("gold.zone_ms", "ms", "lower", "pipeline.Gold", DROP, B),
    ("gold.files_in", "count", "lower", "pipeline.Gold", DROP, B),
    ("gold.bytes_in", "bytes", "lower", "pipeline.Gold", DROP, B),
    ("gold.rescan_ratio", "ratio", "lower", "pipeline.Gold", DROP, B),
    ("batch.drop_uncovered_ms", "ms", "lower", "benchmark (drop wall not under a layer span)", DROP, B),
    ("batch.promote_uncovered_ratio", "ratio", "lower", "pipeline.Promote (share of run not under a job)", DROP, B),
    ("stream.trigger_wait_ms", "ms", "lower", "streaming.StreamingPromote", LAT, S),
    ("stream.trigger_ms", "ms", "lower", "streaming.StreamingPromote", LAT, S),
    ("stream.latest_offset_ms", "ms", "lower", "streaming.StreamingPromote", TAIL, S),
    ("stream.query_planning_ms", "ms", "lower", "streaming.StreamingPromote", TAIL, S),
    ("stream.wal_commit_ms", "ms", "lower", "streaming.StreamingPromote", TAIL, S),
    ("stream.commit_offsets_ms", "ms", "lower", "streaming.StreamingPromote", TAIL, S),
    ("stream.add_batch_ms", "ms", "lower", "streaming.StreamingPromote", DRAIN, S),
    ("stream.batches", "count", "lower", "streaming.StreamingPromote", DRAIN, S),
    ("stream.files_per_batch", "count", "higher", "streaming.StreamingPromote", DRAIN, S),
    ("stream.backlog_files_max", "count", "lower", "streaming.StreamingPromote", DRAIN, S),
    ("stream.generator_late_ms_max", "ms", "lower", "benchmark (open-loop generator lag)", LAT, S),
]

LAYERS += [(f"queries.{f}.s", "s", "lower", f"queries.{f}", "work_s", Q)
           for f in sorted({f for f, _ in MIX_QUERIES})]
LAYERS += [
    ("queries.build_ms", "ms", "lower", "queries (QuerySpec function before the action)", "op_ms_p50", Q),
    ("queries.plan_ms", "ms", "lower", "queries (QueryPlanningTracker phases)", "op_ms_p50", Q),
    ("queries.action_ms", "ms", "lower", "queries (action)", "op_ms_p90", Q),
]
ENGINE = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
          ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"), ("gc_ms", "ms"),
          ("input_bytes", "bytes"), ("output_bytes", "bytes"),
          ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
          ("spill_bytes", "bytes"), ("core_busy_ratio", "ratio")]
for short, wl, moves in (("batch", B, DROP), ("stream", S, LAT),
                         ("mix", Q, "op_ms_p50")):
    LAYERS += [(f"{short}.spark.{m}", u, "higher" if m == "core_busy_ratio" else "lower",
                "Spark engine under GraftSession", moves, wl) for m, u in ENGINE]
LAYERS += [
    ("traced.backfill_s", "s", "lower", "traced medallion_batch backfill", BACK, B),
    ("traced.drop_to_gold_s_p50", "s", "lower", "traced medallion_batch drops", DROP, B),
    ("traced.replay_s", "s", "lower", "traced medallion_batch replay", REPLAY, B),
    ("traced.land_to_silver_ms_p50", "ms", "lower", "traced medallion_stream open loop", LAT, S),
    ("traced.land_to_silver_ms_p90", "ms", "lower", "traced medallion_stream open loop", TAIL, S),
    ("traced.drain_rows_per_s", "rows/s", "higher", "traced medallion_stream burst", DRAIN, S),
    ("traced.query_mix_s", "s", "lower", "traced query_mix pass", "work_s", Q),
    ("traced.query_s_p50", "s", "lower", "traced query_mix pass", "op_ms_p50", Q),
    ("traced.query_s_p90", "s", "lower", "traced query_mix pass", "op_ms_p90", Q),
]
LAYERS += [(f"speedup.{k}", "x", "higher", f"{layer} at local[1] / local[4]", BACK, B)
           for k, layer in (
               ("orchestrator.run_once", "pipeline.Orchestrator"),
               ("ingest.ingest_file", "pipeline.Ingest"),
               ("promote.run", "pipeline.Promote"),
               ("promote.backfill_run", "pipeline.Promote"),
               ("taxischema.probe", "pipeline.TaxiSchema"),
               ("promote.write", "pipeline.Promote"),
               ("gold.revenue", "pipeline.Gold"),
               ("gold.zone", "pipeline.Gold"),
               ("backfill", "medallion_batch backfill"))]
LAYERS += [
    ("trace.listener_ms", "ms", "lower", "benchmark (time inside its own listeners)", "work_s", B),
    ("trace.spans", "count", "lower", "benchmark (spans recorded)", "work_s", B),
]

UNITS = {n: u for n, u, *_ in END_TO_END + LAYERS}


def benchmark_json():
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b, *_ in LAYERS],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
