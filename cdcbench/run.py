"""CDC-ingest benchmark for debezium_spark.

    python3 cdcbench/run.py --workload batch_ingest --seed 1 --seconds 3 --trace 0

Run from the repository root. Workloads: ``batch_ingest``,
``stream_drain``, ``query_mix`` (see NOTES.md). The run stages its
seeded input under ``.cdcbench-work/``, sets the session up three
times, warms up once, then runs closed-loop passes for ``--seconds``
and checks every pass's output against DuckDB.

Standard output ends with two JSON lines: the run's context (host,
cores, memory, seed, input properties, wall and CPU seconds of every
step, sample counts, problems), then the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, in CPU seconds of the process tree;
``--trace 1`` reports the per-layer metrics of traced passes and
writes their spans to ``.cdcbench-traces/`` as JSONL.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 3


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("batch_ingest", "stream_drain", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def fit_host(work: Path) -> dict:
    """Size the session to this host through the variables
    ``debezium_spark.session`` reads: every core this process may run
    on, a quarter of the available memory (1-4 GB) for the driver, and
    scratch space inside the work directory."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        info = {ln.split(":")[0]: int(ln.split()[1]) for ln in fh}
    mem_gb = max(1, min(4, info["MemAvailable"] // (4 * 1024 * 1024)))
    local = work / "spark-local"
    tmp = work / "tmp"
    local.mkdir(parents=True)
    tmp.mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_gb}g",
        SPARK_GRAFT_LOCAL_DIR=str(local),
        SPARK_LOCAL_DIRS=str(local),
        TMPDIR=str(tmp),
    )
    return {
        "host": platform.node(),
        "cores": cores,
        "mem_total_gb": round(info["MemTotal"] / 1024 / 1024, 1),
        "driver_mem": f"{mem_gb}g",
    }


def start_session(work: Path, cores: int | None = None):
    from debezium_spark.session import get_spark

    spark = get_spark(
        "cdcbench",
        cores=cores,
        extra_conf={
            # fixed compiler threads, so spans.tree_cpu_seconds can leave
            # out all of their CPU time
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}"
            " -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.sql.streaming.checkpointLocation": str(work / "checkpoints"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def p75(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=4)[2] if len(xs) > 1 else xs[0]


class Clock:
    """Laps on the wall clock and in CPU time of the process tree."""

    def __init__(self):
        import spans

        self._spans = spans
        self._last = spans.stamp()

    def lap(self) -> tuple[float, float, float]:
        """(wall, CPU, unadjusted CPU) seconds since the previous lap;
        CPU is ``spans.busy_cpu``, with the host's steal taken out."""
        now = self._spans.stamp()
        last, self._last = self._last, now
        return now.wall - last.wall, self._spans.busy_cpu(last, now), now.cpu - last.cpu


def run(args: argparse.Namespace, work: Path) -> tuple[dict, dict]:
    host = fit_host(work)
    sys.path.insert(0, str(ROOT))
    import metrics
    import spans
    import workloads

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    w = workloads.WORKLOADS[args.workload](args.seed, str(work), str(ROOT))
    w.tracer = spans.Tracer(False, args.workload, run_id)

    # set-up: session start and staging three times, then one warm-up;
    # each part is timed on the wall clock and in process-tree CPU
    spark = None
    clock = Clock()
    starts, stagings = [], []
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        clock.lap()
        spark = start_session(work)
        starts.append(clock.lap())
        props = w.stage(str(work / f"stage-{i}"))
        stagings.append(clock.lap())
        if i:
            shutil.rmtree(work / f"stage-{i - 1}")
    w.attach(spark)
    w.warm_up()
    warm = clock.lap()
    setup = [statistics.median(a[k] + b[k] for a, b in zip(starts, stagings)) + warm[k]
             for k in (0, 1)]
    pid = spans.jvm_pid(spark)

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        **host,
        "input": props,
        "setup_wall_cpu_s": {"session_start": starts, "stage": stagings, "warm_up": warm,
                             "setup": setup},
    }
    if not args.trace:
        passes: list[tuple[float, float, float]] = []  # (wall, CPU, unadjusted CPU)
        ops: list[tuple[float, float]] = []  # (wall, CPU) per operation
        steal0, jit0 = spans.steal_seconds(), spans.jit_cpu_seconds(pid)
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < args.seconds:
            clock.lap()
            w.safe_pass(len(passes), ops)
            passes.append(clock.lap())

        def summary(k: int) -> dict:  # k = 0: wall clock, 1: CPU
            return {
                "throughput_per_s": w.units / statistics.median(p[k] for p in passes),
                "pass_s": statistics.median(p[k] for p in passes),
                "op_p50_s": statistics.median(o[k] for o in ops),
                "op_p75_s": p75([o[k] for o in ops]),
            }

        cpu = summary(1)
        context.update(
            passes=len(passes),
            op_samples=len(ops),
            wall_metrics=summary(0),
            pass_wall_cpu_rawcpu_s=passes,
            op_wall_s=sorted(o[0] for o in ops),
            op_cpu_s=sorted(o[1] for o in ops),
            timed_steal_s=spans.steal_seconds() - steal0,
            timed_jit_cpu_s=spans.jit_cpu_seconds(pid) - jit0,
            peak_rss_mb=spans.peak_rss_mb(pid),
        )
        values = {
            "setup_s": setup[1],
            "throughput_per_cpu_s": cpu["throughput_per_s"],
            "pass_cpu_s": cpu["pass_s"],
            "op_cpu_p50_s": cpu["op_p50_s"],
            "op_cpu_p75_s": cpu["op_p75_s"],
        }
        units = {n: u for n, u, _, _ in metrics.END_TO_END}
    else:
        values = traced_passes(args, w, spark, work, [a[0] for a in starts])
        spark = w.spark
        units = dict(metrics.PER_LAYER)
        context.update(trace_file=str(trace_path(run_id).relative_to(ROOT)))
        w.tracer.write_jsonl(str(trace_path(run_id)))

    attempted, failed, problems = w.check()
    spark.stop()
    context.update(attempted=attempted, failed=failed,
                   failed_ratio=failed / max(attempted, 1), problems=problems[:20])
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
    }
    return context, result


def trace_path(run_id: str) -> Path:
    return ROOT / ".cdcbench-traces" / f"{run_id}.jsonl"


def traced_passes(args, w, spark, work: Path, starts: list[float]) -> dict:
    """Alternate untraced and traced passes for ``--seconds``; per-layer
    metrics are means over the traced passes, tracing overhead is the
    difference of the two medians.
    Workloads with ``local1_baseline`` then run one untraced pass on a
    single-core session."""
    import metrics
    import spans

    w.qes = spans.QueryExecutions(spark)
    untraced: list[float] = []
    roots: list[dict] = []
    gc_s = 0.0
    t_start = time.perf_counter()
    i = 0
    while not roots or time.perf_counter() - t_start < args.seconds:
        untraced.append(w.safe_pass(i, []))
        w.tracer.enabled = w.qes.active = True
        gc0 = spans.gc_seconds(spark)
        with w.tracer.span("pass", "bench") as root:
            w.safe_pass(i + 1, [])
        gc_s += spans.gc_seconds(spark) - gc0
        w.tracer.enabled = w.qes.active = False
        roots.append(root)
        i += 2
    n = len(roots)
    walls = [r["end"] - r["start"] for r in roots]
    self_s: dict[str, float] = {layer: 0.0 for layer in metrics.LAYERS}
    for r in roots:
        for layer, s in w.tracer.self_times(r["id"]).items():
            key = "operators" if layer.startswith("operators.") else layer
            self_s[key] = self_s.get(key, 0.0) + s
    summed = lambda k: w.summed(k) / n  # noqa: E731
    values = {name: 0.0 for name, _ in metrics.PER_LAYER}
    values.update(
        {
            "session.start_s": statistics.median(starts),
            "scan.time_s": summed("scan_ms") / 1000.0,
            "scan.rows": summed("scan_rows"),
            "scan.bytes": summed("scan_bytes"),
            "catalyst.analysis_s": summed("analysis_ms") / 1000.0,
            "catalyst.optimization_s": summed("optimization_ms") / 1000.0,
            "catalyst.planning_s": summed("planning_ms") / 1000.0,
            "jvm.gc_s": gc_s / n,
            "jvm.peak_rss_mb": spans.peak_rss_mb(spans.jvm_pid(spark)),
            "trace.wall_s": statistics.fmean(walls),
            "trace.self_sum_s": sum(self_s.values()) / n,
            "trace.overhead_s": statistics.median(walls) - statistics.median(untraced),
        }
    )
    values.update({f"layer.{k}.self_s": v / n for k, v in self_s.items() if k in metrics.LAYERS})
    values.update(w.layer_metrics(n))

    if w.local1_baseline:
        spark.stop()
        w.attach(start_session(work, cores=1))
        base = w.safe_pass(i, [])
        values["baseline.local1.pass_s"] = base
        values["baseline.local1.slowdown"] = base / statistics.median(untraced)
    return values


def stop_jvm() -> None:
    """Stop Spark and the JVM this run started, and wait for the JVM to
    exit, so nothing still writes into the work directory when it is
    removed, also after an error or SIGTERM."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still removes its work directory and stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "debezium_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print("cdcbench: debezium_spark sources not found; run from a full checkout",
              file=sys.stderr)
        return 2
    base = ROOT / ".cdcbench-work"
    work = base / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        context, result = run(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        if base.is_dir() and not any(base.iterdir()):
            base.rmdir()
    print(json.dumps(context, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
