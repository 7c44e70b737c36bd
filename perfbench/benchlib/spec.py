"""Names, units and directions of every metric the benchmark reports.

BENCHMARK.json lists the same metrics; tests/test_bench.py keeps the two in
step. `LAYERS` also records which end-to-end metric each layer should
move and on which workload, and where it should stay idle.
"""

WORKLOADS = {
    "mr_text": "the reference's own traffic: word count and inverted index over whole "
               "text files, through the MapReduce facade and the apps; work sits in "
               "sources, engine and apps",
    "star_stream": "relational reports over seeded tenants' parquet tables beside op-log "
                   "files folded into RocksDB stream state; work sits in ext, plans, kv "
                   "and streaming",
}

# name -> (unit, better); all from the untraced loop.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "throughput_mb_s": ("MB/s", "higher"),
    "job_s_p50": ("s", "lower"),
    "job_s_tail": ("s", "lower"),
}
# Measured by every run and printed with the others, but kept out of the
# bounded end-to-end set in BENCHMARK.json:
#  - failed_share is 0 on a correct program, and a relative bound on a zero
#    median means nothing; the JSON line carries it as failed/attempted.
#  - peak_heap_mb is G1's post-GC occupancy, which climbs in steps as the
#    old generation fills; where the steps fall in a short loop moves it by
#    25-35% between runs of the same seed, more than any bound allows.
# Both are per-layer metrics of the traced run instead.
REPORTED = {
    "peak_heap_mb": ("MB", "lower"),
    "failed_share": ("ratio", "lower"),
}

# layer -> (metrics {name: (unit, better)}, should move, predicted idle on)
LAYERS = {
    "sources": ({
        "sources.list_s": ("s", "lower"),
        "sources.files": ("count", "higher"),
        "sources.read_mb": ("MB", "lower"),
        "sources.scan_task_s": ("s", "lower"),
        "sources.task_skew": ("ratio", "lower"),
    }, "throughput_mb_s and job_s_p50 on mr_text; task_skew moves job_s_tail "
       "on mr_text", ["star_stream"]),
    "engine": ({
        "engine.plan_s": ("s", "lower"),
        "engine.map_records": ("count", "lower"),
        "engine.shuffle_write_mb": ("MB", "lower"),
        "engine.fetch_wait_s": ("s", "lower"),
        "engine.reduce_task_s": ("s", "lower"),
        "engine.spill_mb": ("MB", "lower"),
        "engine.gc_s": ("s", "lower"),
        "engine.sink_s": ("s", "lower"),
        "engine.sink_mb": ("MB", "lower"),
    }, "job_s_p50, throughput_mb_s and peak_heap_mb on mr_text", ["star_stream"]),
    "apps": ({
        "apps.combine_ratio": ("ratio", "lower"),
        "apps.shuffle_write_mb": ("MB", "lower"),
        "apps.task_s": ("s", "lower"),
        "apps.spill_mb": ("MB", "lower"),
    }, "throughput_mb_s on mr_text", ["star_stream"]),
    "ext": ({
        "ext.plan_s": ("s", "lower"),
        "ext.task_s": ("s", "lower"),
        "ext.read_mb": ("MB", "lower"),
        "ext.rows_read_per_row_out": ("ratio", "lower"),
        "ext.shuffle_write_mb": ("MB", "lower"),
        "ext.broadcast_joins": ("count", "higher"),
        "ext.sort_merge_joins": ("count", "lower"),
        "ext.spill_mb": ("MB", "lower"),
        "ext.gc_s": ("s", "lower"),
    }, "job_s_p50 and throughput_mb_s on star_stream", ["mr_text"]),
    "plans": ({
        "plans.topk_nodes": ("count", "higher"),
        "plans.topk_task_s": ("s", "lower"),
        "plans.topk_shuffle_mb": ("MB", "lower"),
    }, "job_s_p50 on star_stream", ["mr_text"]),
    "kv": ({
        "kv.ops": ("count", "higher"),
        "kv.mutating_ops": ("count", "higher"),
        "kv.keys_out": ("count", "higher"),
        "kv.task_s": ("s", "lower"),
        "kv.sort_spill_mb": ("MB", "lower"),
        "kv.task_skew": ("ratio", "lower"),
    }, "job_s_tail on star_stream (the hot key sets the straggler)", ["mr_text"]),
    "streaming": ({
        "streaming.start_s": ("s", "lower"),
        "streaming.trigger_s": ("s", "lower"),
        "streaming.add_batch_s": ("s", "lower"),
        "streaming.planning_s": ("s", "lower"),
        "streaming.commit_s": ("s", "lower"),
        "streaming.state_rows": ("count", "higher"),
        "streaming.state_rows_updated": ("count", "higher"),
        "streaming.state_mb": ("MB", "lower"),
        "streaming.sink_s": ("s", "lower"),
    }, "job_s_tail and job.ingest_s on star_stream", ["mr_text"]),
}

KINDS = {
    "mr_text": ["wc_facade", "indexer_facade", "wc_apps", "indexer_apps"],
    "star_stream": ["q1", "q3", "q5", "q9", "q18", "rollup", "topk", "kv_replay", "ingest"],
}

OVERHEAD_OF = ["setup_s", "throughput_mb_s", "job_s_p50", "job_s_tail", "peak_heap_mb"]


def per_layer():
    """name -> (unit, better) for every metric of the traced run."""
    out = {}
    for metrics, _, _ in LAYERS.values():
        out.update(metrics)
    for kinds in KINDS.values():
        for k in kinds:
            out[f"job.{k}_s"] = ("s", "lower")
    out.update(REPORTED)
    for m in OVERHEAD_OF:
        out[f"trace.{m}_overhead"] = ("ratio", "lower")
    return out
