"""The benchmark's metric catalogue: names, units and bounds.

``BENCHMARK.json`` at the repository root lists the same metrics;
``test_checks.py`` keeps the two in step.
"""

from __future__ import annotations

# (name, unit, better, bound). Every end-to-end time is CPU time of the
# benchmark's process tree (the Python driver, the JVM and any workers
# it forks) without the JIT compiler threads, less the share of the
# host's steal that fell on it (``spans.busy_cpu``): on a shared host,
# wall time moves with what neighbours take, CPU time much less.
# Wall-clock equivalents are in each run's context line.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("throughput_per_cpu_s", "1/s", "higher", 0.25),
    ("pass_cpu_s", "s", "lower", 0.25),
    ("op_cpu_p50_s", "s", "lower", 0.25),
    ("op_cpu_p75_s", "s", "lower", 0.25),
)

# Layers whose self time a traced pass reports. Spans of the
# ``operators.*`` builder modules fold into ``operators``.
LAYERS = (
    "sources.tables",
    "sources.dialects",
    "cdc.transforms",
    "cdc.materialize",
    "sources.sinks",
    "streaming.ingest",
    "operators",
    "trace",
    "bench",
)

MIX_ENTRIES = (
    "cdc_latest_state",
    "q18_large_volume_customers",
    "events_sliding_window",
    "dedup_minhash_lsh",
)

# (name, unit); every per-layer metric counts a cost, so lower is better
PER_LAYER = (
    ("session.start_s", "s"),
    ("scan.time_s", "s"),
    ("scan.rows", "count"),
    ("scan.bytes", "bytes"),
    ("dialects.normalize.builder_s", "s"),
    ("dialects.normalize.rows_in", "count"),
    ("dialects.normalize.rows_out", "count"),
    ("transforms.builder_s", "s"),
    ("transforms.rows_out", "count"),
    ("transforms.deleted_flagged", "count"),
    ("materialize.latest_state.exec_s", "s"),
    ("materialize.scd2.exec_s", "s"),
    ("materialize.txn_topic.exec_s", "s"),
    ("materialize.sort_s", "s"),
    ("materialize.shuffle_bytes", "bytes"),
    ("materialize.spill_bytes", "bytes"),
    ("materialize.peak_mem_bytes", "bytes"),
    ("materialize.state_ratio", "ratio"),
    ("sinks.topics.exec_s", "s"),
    ("sinks.compacted.exec_s", "s"),
    ("sinks.files_written", "count"),
    ("sinks.bytes_written", "bytes"),
    ("ingest.epoch.add_batch_s", "s"),
    ("ingest.epoch.trigger_s", "s"),
    ("ingest.epoch.wal_commit_s", "s"),
    ("ingest.epoch.jobs", "count"),
    ("ingest.buckets_touched", "count"),
    ("ingest.state_bytes_written", "bytes"),
    ("ingest.write_amplification", "ratio"),
    ("ingest.compact_s", "s"),
    ("ingest.read_state_s", "s"),
    ("query.builder_s", "s"),
    ("query.eager_jobs", "count"),
    ("query.exec_s", "s"),
    ("query.shuffle_bytes", "bytes"),
    ("query.spill_bytes", "bytes"),
    ("query.leaked_cached_frames", "count"),
    *((f"query.{e}.{k}", "s") for e in MIX_ENTRIES for k in ("builder_s", "exec_s")),
    ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("jvm.gc_s", "s"),
    ("jvm.peak_rss_mb", "MB"),
    *((f"layer.{layer}.self_s", "s") for layer in LAYERS),
    ("trace.wall_s", "s"),
    ("trace.self_sum_s", "s"),
    ("trace.overhead_s", "s"),
    ("baseline.local1.pass_s", "s"),
    ("baseline.local1.slowdown", "ratio"),
)


def benchmark_json(command: list[str], paths: list[str], run_seconds: int, workloads: list[dict]) -> dict:
    return {
        "command": command,
        "paths": paths,
        "run_seconds": run_seconds,
        "workloads": workloads,
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": "lower"} for n, u in PER_LAYER
        ],
    }
