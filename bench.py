"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is forced end-to-end with the noop sink (full plan
execution, no driver collect); an untimed warmup pass absorbs JVM/
codegen startup so the timed pass measures steady-state throughput.

`--scaling` evidences the two-cluster-size scaling criterion inside
one box: the same compute-heavy CDC job (64x-replicated orders →
envelope synthesis → latest-state + SCD2 + aggregate) runs in two
fresh subprocesses at 4 and 16 cores by default
($SPARK_GRAFT_SCALE_LO / $SPARK_GRAFT_SCALE_HI), and the report
carries throughput at both plus scaling efficiency.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q18_large_volume_customers",
    "topk_parts_per_brand",
    "sessionize_events",
    "events_hourly_window",
    "cdc_stream_sample",
    "cdc_latest_state",
    "cdc_scd2",
    "cdc_incremental_snapshot",
    "cdc_route_topics",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "token_count",
    "quality_score",
    "fingerprint",
    "q13_customer_distribution",
    "q21_waiting_supplier",
    "cohort_retention",
    "training_mixture",
    "stratified_sample",
    "cdc_signal_snapshot",
    "pivot_event_counts",
    "rollup_revenue",
    # round-4 additions (kept at the tail so per-query comparisons
    # against BENCH_r03 line up on the original 29)
    "dedup_segments",
    "dedup_substring_spans",
    "ann_quantized_topk",
    "unigram_logprob",
    "mixture_weights",
    "sqlserver_cdc_roundtrip",
    "dedup_semantic",
    "tfidf_topterms",
    "chunk_documents",
    "dsir_importance",
    "hll_distinct_users",
    "bloom_decontaminate",
    "weighted_priority_sample",
    "range_join_views_before_purchase",
    "events_sliding_window",
    "window_rank_suite",
    "cdc_compact_retention",
    "cdc_timestamp_router",
    "cms_heavy_hitters",
    "histogram_quantiles",
    "cdc_txn_event_order",
    # round-5 additions
    "bpe_merges",
    "media_decode_stats",
    "bigram_logprob",
    "image_dhash",
    "ibmi_commitment_control",
    "audio_contour",
    "cdc_smt_predicates",
    "cdc_flatten_envelope",
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q16_supplier_part_counts",
    "q20_potential_promotion",
]

REPLICATION = 64   # scaling-job input multiplier over sf orders
# interleaved best-of-N: the sandbox has noisy co-tenants (observed
# load 8-27 from neighbors and 18x wall-clock swings between
# back-to-back identical runs); best-of over interleaved A/B trials is
# the only estimator that survives that.
SCALE_TRIALS = int(os.environ.get("SPARK_GRAFT_SCALE_TRIALS", "2"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _session(cores: int):
    from debezium_spark.session import get_spark

    return get_spark(
        f"bench-{cores}", cores=cores, shuffle_partitions=max(cores * 2, 16)
    )


def run_suite(cores: int, sf_dir: str) -> dict[str, float]:
    spark = _session(cores)
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # untimed warmup pass over EVERY headline query: absorbs JVM +
    # codegen compilation + scan-cache startup per plan, so the timed
    # passes measure steady-state execution (the number that scales),
    # not first-compile latency. Disclosed methodology — same idea as
    # the per-level warm pass in the scaling probe.
    for name in HEADLINE:
        try:
            _noop(qs[name](spark, sf_dir))
        finally:
            spark.catalog.clearCache()
    times: dict[str, float] = {}
    # two timed passes, keep the min per query: the sandbox host has
    # co-tenant CPU spikes that would otherwise randomly inflate
    # whichever queries they landed on
    for name in HEADLINE:
        best = None
        for _ in range(2):
            t0 = time.time()
            _noop(qs[name](spark, sf_dir))
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        times[name] = round(best, 3)
        # Some builders cache intermediates for intra-query reuse
        # (LSH per-doc signatures, IVF cell assignment); drop them
        # between queries so cached frames don't accumulate in
        # executor memory across the suite.
        spark.catalog.clearCache()
    spark.stop()
    return times


SCALE_STAGE_DIR = "/dev/shm/debezium_scale_input"


def stage_scaling_input(sf_dir: str) -> None:
    """Stage a 64x-replicated orders table as 128-file parquet in
    tmpfs (once): multi-file so the scan parallelizes — the sandbox
    tables are single files, a serial Amdahl bottleneck."""
    if os.path.exists(os.path.join(SCALE_STAGE_DIR, "_SUCCESS")):
        return
    from pyspark.sql import functions as F

    spark = _session(8)
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .repartition(128)
        .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(REPLICATION - 1))))
        .withColumn("o_orderkey", F.col("o_orderkey") * REPLICATION + F.col("rep"))
        .drop("rep")
    )
    o.write.mode("overwrite").parquet(SCALE_STAGE_DIR)
    spark.stop()


def scaling_job(cores: int, sf_dir: str) -> dict:
    """The two-cluster-size probe: CDC envelope synthesis over the
    staged replicated orders, a 16-deep hash-chain fingerprint plus an
    md5 masking SMT per event (representative per-event ingest
    compute), then aggregation. All whole-stage-codegen'd — the path a
    1000-executor ingest job spends its cycles on."""
    from pyspark.sql import functions as F

    import debezium_spark.cdc.envelope as env

    spark = _session(cores)
    orders = spark.read.parquet(SCALE_STAGE_DIR)
    real_load = env.load_table
    env.load_table = lambda s, d, n: (
        orders if n == "orders" else real_load(s, d, n)
    )
    try:
        cdc = env.synthesize_cdc_flat(spark, sf_dir)
        enriched = cdc.withColumn("fp", F.xxhash64("key", "seq", "ts_ms"))
        for i in range(16):
            enriched = enriched.withColumn("fp", F.xxhash64("fp", F.lit(i)))
        enriched = enriched.withColumn(
            "mask", F.md5(F.concat_ws(":", "key", "o_orderpriority", "fp"))
        )
        agg = enriched.groupBy("op", "o_orderstatus", "o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod("fp", F.lit(1_000_000))).alias("fps"),
            F.min("mask").alias("m"),
        )
        n_events = cdc.count()
        _noop(agg)  # warm: JIT + codegen + scan cache
        t0 = time.time()
        _noop(agg)
        wall = time.time() - t0
    finally:
        env.load_table = real_load
    spark.stop()
    return {
        "cores": cores,
        "events": n_events,
        "sec": round(wall, 3),
        "events_per_sec": round(n_events / wall, 1),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # default 16, not 32: co-tenant load makes local[32] collapse past
    # real capacity (BASELINE.md "thread-count cliff"); an explicit
    # SPARK_GRAFT_CPUS always wins.
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    if "--scaling-worker" in sys.argv:
        print(json.dumps(scaling_job(cores, sf_dir)))
        return

    if "--scaling" in sys.argv:
        # default comparison is 4 vs 16 cores (N vs 4N): co-tenants on
        # the sandbox host hold ~16 cores, and beyond ~24 local[] threads
        # CFS oversubscription collapses throughput ~7x (see BASELINE.md)
        # — comparisons must stay inside real capacity to measure the
        # engine rather than the scheduler.
        lo = int(os.environ.get("SPARK_GRAFT_SCALE_LO", "4"))
        hi = int(os.environ.get("SPARK_GRAFT_SCALE_HI", "16"))
        stage_scaling_input(sf_dir)
        trials: dict[int, list[dict]] = {lo: [], hi: []}
        for _ in range(SCALE_TRIALS):
            for c in (lo, hi):  # interleaved A/B to cancel drift
                # Pin the worker JVM to its advertised core count:
                # local[4] only bounds task slots — on an idle 32-core
                # host the JVM still spawns ~N_host GC/compiler/IO
                # threads, so the "small cluster" leg silently borrows
                # idle cores and the measured speedup understates the
                # engine's true scaling. ActiveProcessorCount makes
                # each leg an honest N-core machine.
                env = dict(
                    os.environ,
                    SPARK_GRAFT_CPUS=str(c),
                    JAVA_TOOL_OPTIONS=f"-XX:ActiveProcessorCount={c}",
                )
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--scaling-worker"],
                    env=env,
                    capture_output=True,
                    text=True,
                    check=True,
                )
                trials[c].append(json.loads(out.stdout.strip().splitlines()[-1]))
        best = {c: max(ts, key=lambda t: t["events_per_sec"])
                for c, ts in trials.items()}
        speedup = best[hi]["events_per_sec"] / best[lo]["events_per_sec"]
        print(
            json.dumps(
                {
                    "metric": "scaling",
                    "value": round(speedup, 3),
                    "unit": "speedup",
                    "cores_lo": lo,
                    "cores_hi": hi,
                    "throughput_lo": best[lo],
                    "throughput_hi": best[hi],
                    "efficiency": round(speedup / (hi / lo), 3),
                    "trials": {str(c): [t["sec"] for t in ts]
                               for c, ts in trials.items()},
                    "sf": sf,
                }
            )
        )
        return

    times = run_suite(cores, sf_dir)
    print(
        json.dumps(
            {
                "metric": "total_runtime",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "cores": cores,
            }
        )
    )


if __name__ == "__main__":
    main()
