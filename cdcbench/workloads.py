"""The three benchmark workloads.

Each workload stages its own seeded input, runs closed-loop passes
with one client, and checks its outputs afterwards. The library is
only called through its public functions; every call sits inside a
span named after the module it lives in, so a traced pass splits its
wall time by layer.
"""

from __future__ import annotations

import inspect
import json
import os
import shutil
import time
import traceback

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import gen
import metrics
import spans

from debezium_spark.cdc.materialize import latest_state, scd2, transaction_topic
from debezium_spark.cdc.transforms import (
    content_based_router,
    extract_new_record_state,
    mask_columns,
)
from debezium_spark.sources.dialects import normalize_ibmi_journal
from debezium_spark.sources.sinks import sink_compacted, sink_to_topics
from debezium_spark.sources.tables import TABLES
from debezium_spark.streaming.ingest import (
    compact_manifest_state,
    read_manifest_state,
    streaming_latest_state_manifest,
)


class Workload:
    """Shared pass bookkeeping. Subclasses define ``stage`` (which sets
    ``units``, the work items of one pass), ``warm_up``, ``run_pass``
    (which appends one (wall, CPU) pair per operation to ``ops``),
    ``check_outputs`` and ``layer_metrics``."""

    name = ""
    local1_baseline = False  # traced runs end with one pass on local[1]

    def __init__(self, seed: int, work: str, root: str):
        self.seed = seed
        self.work = work
        self.root = root
        self.spark = None
        self.tracer = spans.Tracer(False, self.name, "")
        self.qes: spans.QueryExecutions | None = None
        self.summaries: list[tuple[dict, dict]] = []  # (span, plan summary)
        self.extra: dict[str, float] = {}  # per-layer counters of traced passes
        self.errors: list[str] = []

    def attach(self, spark) -> None:
        self.spark = spark

    def safe_pass(self, i: int, ops: list) -> float:
        """One pass; an exception is recorded as a failed operation and
        the run goes on, so one broken pass cannot hide the others."""
        t0 = time.perf_counter()
        try:
            return self.run_pass(i, ops)
        except Exception:
            self.errors.append(traceback.format_exc(limit=5))
            return time.perf_counter() - t0

    def check(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, problems) over every pass, errors included."""
        attempted, failed, problems = self.check_outputs()
        n = len(self.errors)
        return attempted + n, failed + n, problems + self.errors

    # -- traced actions ----------------------------------------------------
    def action(self, name: str, layer: str, fn, *args):
        """Run one Spark action and keep its wall time in ``last_s``; in
        a traced pass, attach the plan summaries of every query it
        executed to its span."""
        with self.tracer.span(name, layer) as sp:
            t0 = time.perf_counter()
            out = fn(*args)
            self.last_s = time.perf_counter() - t0
        if sp is not None:
            self.harvest_queries(sp)
        return out

    def harvest_queries(self, owner: dict) -> None:
        if self.qes is None:
            return
        with self.tracer.span("harvest", "trace"):
            for qe in self.qes.drain():
                self.summaries.append((owner, spans.plan_summary(qe)))

    def timed(self, samples: list, fn, *args):
        """Run ``fn``; append its (wall, CPU) seconds to ``samples``."""
        s0 = spans.stamp()
        out = fn(*args)
        s1 = spans.stamp()
        samples.append((s1.wall - s0.wall, spans.busy_cpu(s0, s1)))
        return out

    def summed(self, key: str, names=None) -> float:
        """Sum of one plan counter over the queries of the named spans
        (all spans when ``names`` is None)."""
        return sum(
            s.get(key, 0.0) for sp, s in self.summaries if names is None or sp["name"] in names
        )


# ==========================================================================
# batch_ingest
# ==========================================================================
class BatchIngest(Workload):
    """Journal normalization, the SMT chain, latest state, SCD2 and the
    transaction topic over one skewed change log, with both sinks."""

    name = "batch_ingest"
    local1_baseline = True
    N_KEYS, N_UPDATES, DELETED_KEYS, HOT_KEYS, HOT_SHARE = 40_000, 140_000, 0.08, 200, 0.3
    CONTROL_SHARE = 0.05

    def stage(self, stage_dir: str) -> dict:
        rng = np.random.default_rng(self.seed)
        log = gen.change_log(
            rng, self.N_KEYS, self.N_UPDATES, self.DELETED_KEYS, self.HOT_KEYS, self.HOT_SHARE
        )
        journal = gen.ibmi_journal(rng, log, self.CONTROL_SHARE)
        gen.write(log, os.path.join(stage_dir, "topic.parquet"))
        gen.write(journal, os.path.join(stage_dir, "journal.parquet"))
        self.stage_dir = stage_dir
        self.events = self.units = log.num_rows
        self.outputs: list[str] = []
        return {**gen.log_properties(log, self.HOT_KEYS), "journal_rows": journal.num_rows}

    def warm_up(self) -> None:
        # the pass after the cold one still spends ~40% more CPU, most of
        # it compiling in the JIT
        for i in range(2):
            out = os.path.join(self.work, f"warmup-{i}")
            self.one_pass(out, [])
            shutil.rmtree(out, ignore_errors=True)

    def run_pass(self, i: int, ops: list) -> float:
        out = os.path.join(self.work, f"pass-{i}")
        self.outputs.append(out)
        t0 = time.perf_counter()
        self.one_pass(out, ops)
        wall = time.perf_counter() - t0
        if self.tracer.enabled:
            with self.tracer.span("harvest", "trace"):
                self.count_deleted_flagged(out)
        return wall

    def one_pass(self, out: str, ops: list) -> None:
        spark, tr = self.spark, self.tracer
        p = lambda d: os.path.join(out, d)  # noqa: E731
        with tr.span("read.parquet", "sources.tables"):
            journal = spark.read.parquet(os.path.join(self.stage_dir, "journal.parquet"))
            topic = spark.read.parquet(os.path.join(self.stage_dir, "topic.parquet"))

        def normalize():
            with tr.span("normalize_ibmi_journal", "sources.dialects"):
                env = normalize_ibmi_journal(journal)
            self.action("envelope.write", "sources.dialects", env.write.parquet, p("envelope"))

        def topics():
            # extract_new_record_state projects the topic column away, so
            # the router runs on the flattened record
            with tr.span("smt_chain", "cdc.transforms"):
                flat = extract_new_record_state(
                    mask_columns(topic, ["o_orderpriority"]), delete_mode="rewrite"
                )
                routed = content_based_router(
                    flat, [(F.col("__deleted"), "cdc.orders.deletes")], default="cdc.orders"
                )
            self.action("sink_to_topics", "sources.sinks", sink_to_topics, routed, p("topics"))

        def latest():
            with tr.span("latest_state", "cdc.materialize"):
                cur = latest_state(topic)
            self.action("latest_state.write", "cdc.materialize", cur.write.parquet, p("latest"))

        def compacted():
            with tr.span("read.parquet", "sources.tables"):
                cur = spark.read.parquet(p("latest"))
            self.action("sink_compacted", "sources.sinks", sink_compacted, cur, p("compacted"))

        def history():
            with tr.span("scd2", "cdc.materialize"):
                h = scd2(topic)
            self.action("scd2.write", "cdc.materialize", h.write.parquet, p("scd2"))

        def txn():
            with tr.span("transaction_topic", "cdc.materialize"):
                t = transaction_topic(topic)
            self.action("txn_topic.write", "cdc.materialize", t.write.parquet, p("txn"))

        for step in (normalize, topics, latest, compacted, history, txn):
            self.timed(ops, step)

    def check_outputs(self) -> tuple[int, int, list[str]]:
        attempted = failed = 0
        problems = []
        for out in self.outputs:
            for step, probs in checks.check_batch(self.stage_dir, out).items():
                attempted += 1
                if probs:
                    failed += 1
                    problems.extend(f"{os.path.basename(out)} {step}: {x}" for x in probs)
        return attempted, failed, problems

    def layer_metrics(self, n_passes: int) -> dict:
        per = lambda v: v / n_passes  # noqa: E731
        spans_named = lambda *names: [s for s in self.tracer.spans if s["name"] in names]  # noqa: E731
        dur = lambda *names: per(sum(s["end"] - s["start"] for s in spans_named(*names)))  # noqa: E731
        mat = {"latest_state.write", "scd2.write", "txn_topic.write"}
        sinks_ = {"sink_to_topics", "sink_compacted"}
        latest_rows = self.summed("write_rows", {"latest_state.write"})
        return {
            "dialects.normalize.builder_s": dur("normalize_ibmi_journal"),
            "dialects.normalize.rows_in": per(self.summed("scan_rows", {"envelope.write"})),
            "dialects.normalize.rows_out": per(self.summed("write_rows", {"envelope.write"})),
            "transforms.builder_s": dur("smt_chain"),
            "transforms.rows_out": per(self.summed("write_rows", {"sink_to_topics"})),
            "transforms.deleted_flagged": per(self.extra.get("deleted_flagged", 0.0)),
            "materialize.latest_state.exec_s": dur("latest_state.write"),
            "materialize.scd2.exec_s": dur("scd2.write"),
            "materialize.txn_topic.exec_s": dur("txn_topic.write"),
            "materialize.sort_s": per(self.summed("sort_ms", mat)) / 1000.0,
            "materialize.shuffle_bytes": per(self.summed("shuffle_bytes", mat)),
            "materialize.spill_bytes": per(self.summed("spill_bytes", mat)),
            "materialize.peak_mem_bytes": max(
                [s.get("peak_mem_bytes", 0.0) for sp, s in self.summaries if sp["name"] in mat],
                default=0.0,
            ),
            "materialize.state_ratio": latest_rows / (self.events * n_passes),
            "sinks.topics.exec_s": dur("sink_to_topics"),
            "sinks.compacted.exec_s": dur("sink_compacted"),
            "sinks.files_written": per(self.summed("write_files", sinks_)),
            "sinks.bytes_written": per(self.summed("write_bytes", sinks_)),
        }

    def count_deleted_flagged(self, out: str) -> None:
        deletes = os.path.join(out, "topics", "topic=cdc.orders.deletes")
        n = sum(
            pq.ParquetFile(os.path.join(deletes, f)).metadata.num_rows
            for f in os.listdir(deletes)
            if f.endswith(".parquet")
        )
        self.extra["deleted_flagged"] = self.extra.get("deleted_flagged", 0.0) + n


# ==========================================================================
# stream_drain
# ==========================================================================
class StreamDrain(Workload):
    """A change backlog drained one file per trigger into the
    manifest-committed state, then compacted and read back."""

    name = "stream_drain"
    N_KEYS, N_UPDATES, DELETED_KEYS, FILES = 10_000, 30_000, 0.05, 16

    def stage(self, stage_dir: str) -> dict:
        rng = np.random.default_rng(self.seed)
        log = gen.change_log(rng, self.N_KEYS, self.N_UPDATES, self.DELETED_KEYS)
        self.backlog = os.path.join(stage_dir, "backlog")
        gen.split_files(log, self.backlog, self.FILES)
        self.schema = None
        self.units = log.num_rows
        self.states: list[str] = []
        self.epochs = spans.EpochListener()
        return {
            **gen.log_properties(log, 0),
            "epochs": self.FILES,
            "rows_per_epoch": log.num_rows // self.FILES,
        }

    def attach(self, spark) -> None:
        super().attach(spark)
        spark.streams.addListener(self.epochs)
        self.schema = spark.read.parquet(self.backlog).schema

    def warm_up(self) -> None:
        # a whole drain of the staged backlog: after a shorter warm-up the
        # JIT still compiles through the timed drain, by an amount that
        # depends on how busy the host is (the next drain in the same JVM
        # took ~30% less CPU)
        root = os.path.join(self.work, "warm-state")
        self.drain(self.backlog, root, [])
        shutil.rmtree(root, ignore_errors=True)

    def run_pass(self, i: int, ops: list) -> float:
        root = os.path.join(self.work, f"state-{i}")  # fresh state root per pass
        self.states.append(root)
        t0 = time.perf_counter()
        self.drain(self.backlog, root, ops)
        return time.perf_counter() - t0

    def drain(self, backlog: str, root: str, ops: list) -> None:
        spark, tr = self.spark, self.tracer
        first = len(self.epochs.epochs)
        self.epochs.mark = spans.stamp()
        with tr.span("readStream", "sources.tables"):
            stream = (
                spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", 1)
                .format("parquet")
                .load(backlog)
            )
        with tr.span("streaming_latest_state_manifest", "streaming.ingest") as sp:
            streaming_latest_state_manifest(spark, stream, root)
        spans.wait_listener_bus(spark.sparkContext)
        epochs = self.epochs.epochs[first:]
        ops.extend((e["duration_ms"]["triggerExecution"] / 1000.0, e["cpu_s"]) for e in epochs)
        if tr.enabled:
            self.harvest_queries(sp)
            with tr.span("harvest", "trace"):
                self.harvest_manifests(root, epochs)
        with tr.span("compact_manifest_state", "streaming.ingest") as sp:
            compact_manifest_state(spark, root)
        if tr.enabled:
            self.harvest_queries(sp)
        with tr.span("read_manifest_state", "streaming.ingest"):
            state = read_manifest_state(spark, root)
        self.action("state.count", "streaming.ingest", state.count)

    def check_outputs(self) -> tuple[int, int, list[str]]:
        attempted = failed = 0
        problems = []
        for root in self.states:
            attempted += self.FILES + 2  # epochs, compaction, read-back
            probs = checks.check_stream(self.backlog, root)
            if probs:
                failed += 1
                problems.extend(f"{os.path.basename(root)}: {x}" for x in probs)
        return attempted, failed, problems

    def harvest_manifests(self, root: str, epochs: list[dict]) -> None:
        mdir = os.path.join(root, "_manifests")
        mans = sorted(
            (int(f[len("manifest-"):-len(".json")]), f)
            for f in os.listdir(mdir)
            if f.startswith("manifest-") and f.endswith(".json")
        )
        prev: dict = {}
        touched = 0
        for _, f in mans:
            with open(os.path.join(mdir, f)) as fh:
                cur = json.load(fh)["buckets"]
            touched += sum(1 for b, d in cur.items() if prev.get(b) != d)
            prev = cur
        state_rows = state_bytes = 0
        data = os.path.join(root, "data")
        for d in os.listdir(data):
            for f in os.listdir(os.path.join(data, d)):
                if f.endswith(".parquet"):
                    path = os.path.join(data, d, f)
                    state_rows += pq.ParquetFile(path).metadata.num_rows
                    state_bytes += os.path.getsize(path)
        batch_rows = sum(e["rows"] for e in epochs)
        x = self.extra
        x["epochs"] = x.get("epochs", 0) + len(epochs)
        x["buckets_touched"] = x.get("buckets_touched", 0) + touched
        x["state_bytes"] = x.get("state_bytes", 0) + state_bytes
        x["state_rows"] = x.get("state_rows", 0) + state_rows
        x["batch_rows"] = x.get("batch_rows", 0) + batch_rows
        x["jobs"] = x.get("jobs", 0) + sum(
            spans.jobs_in_group(self.spark, r) for r in {e["run_id"] for e in epochs}
        )
        for k in ("addBatch", "triggerExecution", "walCommit"):
            x[k] = x.get(k, 0) + sum(e["duration_ms"].get(k, 0) for e in epochs) / 1000.0

    def layer_metrics(self, n_passes: int) -> dict:
        x = self.extra
        n_ep = max(x.get("epochs", 0), 1)
        dur = lambda name: sum(  # noqa: E731
            s["end"] - s["start"] for s in self.tracer.spans if s["name"] == name
        ) / n_passes
        return {
            "ingest.epoch.add_batch_s": x.get("addBatch", 0) / n_ep,
            "ingest.epoch.trigger_s": x.get("triggerExecution", 0) / n_ep,
            "ingest.epoch.wal_commit_s": x.get("walCommit", 0) / n_ep,
            "ingest.epoch.jobs": x.get("jobs", 0) / n_ep,
            "ingest.buckets_touched": x.get("buckets_touched", 0) / n_ep,
            "ingest.state_bytes_written": x.get("state_bytes", 0) / n_passes,
            "ingest.write_amplification": x.get("state_rows", 0) / max(x.get("batch_rows", 0), 1),
            "ingest.compact_s": dur("compact_manifest_state"),
            "ingest.read_state_s": dur("read_manifest_state") + dur("state.count"),
        }


# ==========================================================================
# query_mix
# ==========================================================================
class QueryMix(Workload):
    """A fixed mix of ``queries()`` entries, seed-shuffled per pass."""

    name = "query_mix"
    SF = 0.01
    ENTRIES = metrics.MIX_ENTRIES

    def stage(self, stage_dir: str) -> dict:
        rng = np.random.default_rng(self.seed)
        tables = gen.star_schema(rng, self.SF)
        for t, tbl in tables.items():
            gen.write(tbl, os.path.join(stage_dir, f"{t}.parquet"))
        self.sf_dir = stage_dir
        self.units = len(self.ENTRIES)
        self.order_rng = np.random.default_rng(self.seed + 1)
        self.results: list[tuple[str, list, list]] = []  # (entry, columns, rows)
        self.frames: dict = {}  # entry -> last returned DataFrame
        return {"sf": self.SF, "entries": len(self.ENTRIES), **{f"rows.{t}": tbl.num_rows for t, tbl in tables.items()}}

    def attach(self, spark) -> None:
        import __spark_entry__

        super().attach(spark)
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.per_entry: dict[str, dict[str, float]] = {}

    def warm_up(self) -> None:
        # each entry plans and generates code of its own, so the JIT takes
        # longer to settle than in batch_ingest: over five seeds the
        # end-to-end metrics spread 0.13-0.19 after two warm-up passes and
        # 0.05-0.10 after five; three is what the run-time budget allows
        for _ in range(3):
            self.one_pass([], record=False)

    def run_pass(self, i: int, ops: list) -> float:
        t0 = time.perf_counter()
        self.one_pass(ops, record=True)
        return time.perf_counter() - t0

    def one_pass(self, ops: list, record: bool) -> None:
        spark, tr = self.spark, self.tracer
        sc = spark.sparkContext
        for name in self.order_rng.permutation(self.ENTRIES):
            fn = self.queries[name]
            layer = entry_layer(fn)
            s0 = spans.stamp()
            t0 = s0.wall
            rows = None
            try:
                if tr.enabled:
                    sc.setJobGroup(f"build-{name}", name)
                try:
                    with tr.span(f"{name}.builder", layer) as sp:
                        df = fn(spark, self.sf_dir)
                finally:
                    if tr.enabled:
                        sc._jsc.clearJobGroup()
                built_s = time.perf_counter() - t0
                if tr.enabled:
                    self.count(name, "builder_s", built_s)
                    self.count(name, "eager_jobs", spans.jobs_in_group(spark, f"build-{name}"))
                    self.harvest_queries(sp)  # queries the builder ran eagerly
                rows = self.action(f"{name}.exec", layer, df.collect)
                if tr.enabled:
                    self.count(name, "exec_s", self.last_s)
            except Exception:  # recorded as a failed result; the pass goes on
                traceback.print_exc()
            finally:
                leaked = len(sc._jsc.getPersistentRDDs())
                spark.catalog.clearCache()
            s1 = spans.stamp()
            ops.append((s1.wall - t0, spans.busy_cpu(s0, s1)))
            if tr.enabled:
                self.count(name, "leaked_cached_frames", leaked)
            if record:
                if rows is not None:
                    self.frames[name] = df
                self.results.append((name, None if rows is None else df.columns,
                                     None if rows is None else [tuple(r) for r in rows]))

    def count(self, name: str, key: str, value: float) -> None:
        d = self.per_entry.setdefault(name, {})
        d[key] = d.get(key, 0.0) + value

    def check_outputs(self) -> tuple[int, int, list[str]]:
        co = checks.load_check_oracle(self.root)
        con = checks.oracle_connection(self.sf_dir, TABLES)
        want: dict[str, tuple] = {}
        schemas: dict[str, object] = {}
        failed = 0
        problems = []
        for name, cols, rows in self.results:
            if rows is None:
                failed += 1
                problems.append(f"{name}: error")
                continue
            if name not in want:
                want[name] = checks.run_oracle(con, self.oracles[name])
                schemas[name] = self.frames[name].limit(0).toArrow().schema
            probs = checks.compare_entry(co, (cols, rows, schemas[name]), want[name])
            if probs:
                failed += 1
                problems.extend(f"{name}: {p}" for p in probs)
        return len(self.results), failed, problems

    def layer_metrics(self, n_passes: int) -> dict:
        per = lambda v: v / n_passes  # noqa: E731
        out = {
            "query.builder_s": per(sum(d.get("builder_s", 0) for d in self.per_entry.values())),
            "query.eager_jobs": per(sum(d.get("eager_jobs", 0) for d in self.per_entry.values())),
            "query.exec_s": per(sum(d.get("exec_s", 0) for d in self.per_entry.values())),
            "query.shuffle_bytes": per(self.summed("shuffle_bytes")),
            "query.spill_bytes": per(self.summed("spill_bytes")),
            "query.leaked_cached_frames": per(
                sum(d.get("leaked_cached_frames", 0) for d in self.per_entry.values())
            ),
        }
        for name in self.ENTRIES:
            d = self.per_entry.get(name, {})
            out[f"query.{name}.builder_s"] = per(d.get("builder_s", 0.0))
            out[f"query.{name}.exec_s"] = per(d.get("exec_s", 0.0))
        return out


def entry_layer(fn) -> str:
    """The module that defines a ``queries()`` entry, seen through the
    entry point's wrapper: ``cdc.materialize``, ``operators.dedup``..."""
    inner = inspect.getclosurevars(fn).nonlocals.get("fn", fn)
    return inner.__module__.removeprefix("debezium_spark.")


WORKLOADS = {w.name: w for w in (BatchIngest, StreamDrain, QueryMix)}
