"""Metric definitions shared by run.py, diff.py and the tests.

BENCHMARK.json at the repository root lists the same names, units and
directions; tests/test_metrics.py keeps the two in step.
"""

WORKLOADS = {
    "live_ref": "reference shape: 100 users, 2k-event steps; per-step overhead (planning, state "
                "commits, no-data batch) is the work. op_tail_ms: max of the ~4 timed steps",
    "replay_dense": "Zipf(0.9) over 1M users, 20 events/s, 50k-event steps, 1% out of order, 0.5% "
                    "late, 0.5% malformed: parse, hashing, dense sketches. op_tail_ms: max of ~3 steps",
    "batch_rollup": "passes over a 100k-line JSONL file: read, sketch rollup, exact stats, native HLL "
                    "per day; no state store. op_tail_ms: max of the ~3 timed passes",
}

# name -> (unit, better, bound)
END_TO_END = {
    "throughput_eps": ("events/s", "higher", 0.25),
    "op_p50_ms": ("ms", "lower", 0.25),
    "op_tail_ms": ("ms", "lower", 0.25),
    "cpu_ms_per_kevent": ("ms/kevent", "lower", 0.25),
    "setup_s": ("s", "lower", 0.25),
}

# name -> (unit, better)
PER_LAYER = {
    "streaming.microbatches_per_step": ("count", "lower"),
    "streaming.planning_ms": ("ms", "lower"),
    "streaming.wal_ms": ("ms", "lower"),
    "streaming.state_stores_per_step": ("count", "lower"),
    "streaming.state_commit_ms": ("ms", "lower"),
    "streaming.state_removal_ms": ("ms", "lower"),
    "streaming.checkpoint_files_per_step": ("count", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.state_update_ms": ("ms", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_bytes": ("bytes", "lower"),
    "streaming.state_bytes_per_bucket": ("bytes", "lower"),
    "streaming.parse_self_ms_per_kevent": ("ms/kevent", "lower"),
    "streaming.aggregate_self_ms_per_kevent": ("ms/kevent", "lower"),
    "streaming.sink_self_ms_per_kevent": ("ms/kevent", "lower"),
    "streaming.dropped_by_watermark": ("count", "lower"),
    "streaming.parse_rows_in": ("count", "higher"),
    "streaming.parse_dropped": ("count", "lower"),
    "functions.hll_hash_ns": ("ns", "lower"),
    "functions.sparse_add_ns": ("ns", "lower"),
    "functions.dense_add_ns": ("ns", "lower"),
    "functions.merge_us": ("us", "lower"),
    "functions.estimate_us": ("us", "lower"),
    "functions.densify_count": ("count", "lower"),
    "sources.jsonl_read_ms": ("ms", "lower"),
    "sources.jsonl_read.jobs": ("count", "lower"),
    "sources.jsonl_read.shuffle_bytes": ("bytes", "lower"),
    "core.sketch_rollup_ms": ("ms", "lower"),
    "core.sketch_rollup.jobs": ("count", "lower"),
    "core.sketch_rollup.shuffle_bytes": ("bytes", "lower"),
    "core.stats_exact_ms": ("ms", "lower"),
    "core.stats_exact.jobs": ("count", "lower"),
    "core.stats_exact.shuffle_bytes": ("bytes", "lower"),
    "functions.hll_native_ms": ("ms", "lower"),
    "functions.hll_native.jobs": ("count", "lower"),
    "functions.hll_native.shuffle_bytes": ("bytes", "lower"),
    "spark.jobs_per_step": ("count", "lower"),
    "spark.tasks_per_step": ("count", "lower"),
    "spark.task_cpu_ms": ("ms", "lower"),
    "spark.task_offcpu_ms": ("ms", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "jvm.jit_ms": ("ms", "lower"),
    "jvm.jit_share_pct": ("%", "lower"),
    "jvm.gc_ms": ("ms", "lower"),
    "jvm.driver_cpu_ms": ("ms", "lower"),
    "outputs.count_rse_pct": ("%", "lower"),
    "outputs.fail_frac": ("ratio", "lower"),
    "trace.self_time_gap_ms": ("ms", "lower"),
}


def benchmark_json(run_seconds):
    """The BENCHMARK.json document these definitions describe."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, (u, b, x) in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, (u, b) in PER_LAYER.items()],
    }
