"""Self-tests of the benchmark's correctness gate and metric catalogue.

    python3 -m pytest cdcbench/test_checks.py -q

The checks must pass on right answers and catch one planted wrong
row. The right answers are built here with DuckDB in the layout the
program writes, so these tests need no Spark session.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import duckdb
import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent


def _copy(con, sql: str, out_dir: str, partition: str | None = None) -> None:
    os.makedirs(out_dir, exist_ok=True)
    if partition:
        con.execute(f"COPY ({sql}) TO '{out_dir}' (FORMAT parquet, PARTITION_BY ({partition}))")
    else:
        con.execute(f"COPY ({sql}) TO '{out_dir}/part-0.parquet' (FORMAT parquet)")


@pytest.fixture
def batch_dirs(tmp_path):
    rng = np.random.default_rng(7)
    log = gen.change_log(rng, 200, 600, 0.1, hot_keys=5, hot_share=0.3)
    stage, out = str(tmp_path / "stage"), str(tmp_path / "out")
    gen.write(log, os.path.join(stage, "topic.parquet"))
    gen.write(gen.ibmi_journal(rng, log, 0.05), os.path.join(stage, "journal.parquet"))
    con = duckdb.connect()
    topic = checks.parquet(os.path.join(stage, "topic.parquet"))
    journal = checks.parquet(os.path.join(stage, "journal.parquet"))
    _copy(con, checks.ENVELOPE_SQL.format(src=journal), os.path.join(out, "envelope"))
    _copy(
        con,
        "SELECT key, after_totalprice AS o_totalprice, op = 'd' AS __deleted, "
        "CASE WHEN op = 'd' THEN 'cdc.orders.deletes' ELSE 'cdc.orders' END AS topic "
        f"FROM {topic}",
        os.path.join(out, "topics"),
        partition="topic",
    )
    for d in ("latest", "compacted"):
        _copy(con, checks.LATEST_SQL.format(src=topic), os.path.join(out, d))
    _copy(con, checks.SCD2_SQL.format(src=topic), os.path.join(out, "scd2"))
    _copy(con, checks.TXN_SQL.format(src=topic), os.path.join(out, "txn"))
    return stage, out


def _plant(path: str, sql: str) -> None:
    """Rewrite one output file through ``sql`` over its rows (``t``)."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{path}')")
    con.execute(sql)
    con.execute(f"COPY t TO '{path}' (FORMAT parquet)")


def test_batch_check_passes_right_answers(batch_dirs):
    stage, out = batch_dirs
    assert checks.check_batch(stage, out) == {s: [] for s in checks.check_batch(stage, out)}


@pytest.mark.parametrize(
    "step, path, sql",
    [
        ("compacted", "compacted/part-0.parquet",
         "UPDATE t SET after_totalprice = after_totalprice + 0.01 WHERE key = (SELECT min(key) FROM t)"),
        ("latest_state", "latest/part-0.parquet", "INSERT INTO t SELECT * FROM t LIMIT 1"),
        ("scd2", "scd2/part-0.parquet", "DELETE FROM t WHERE rowid = 3"),
        ("txn_topic", "txn/part-0.parquet",
         "UPDATE t SET event_count = event_count + 1 WHERE status = 'END' AND txn_id = (SELECT min(txn_id) FROM t)"),
        ("normalize", "envelope/part-0.parquet", "UPDATE t SET op = 'u' WHERE op = 'c' AND rowid = (SELECT min(rowid) FROM t WHERE op = 'c')"),
    ],
)
def test_batch_check_catches_planted_row(batch_dirs, step, path, sql):
    stage, out = batch_dirs
    _plant(os.path.join(out, path), sql)
    found = checks.check_batch(stage, out)
    assert found[step], f"planted wrong row in {step} not caught"
    assert not any(p for s, p in found.items() if s != step)


def test_batch_check_catches_misrouted_delete(batch_dirs):
    stage, out = batch_dirs
    topics = os.path.join(out, "topics")
    dst = os.path.join(topics, "topic=cdc.orders", "moved.parquet")
    src_dir = os.path.join(topics, "topic=cdc.orders.deletes")
    src = os.path.join(src_dir, os.listdir(src_dir)[0])
    con = duckdb.connect()
    con.execute(f"COPY (SELECT * FROM read_parquet('{src}') LIMIT 1) TO '{dst}' (FORMAT parquet)")
    assert checks.check_batch(stage, out)["topics"]


def test_stream_check(tmp_path):
    rng = np.random.default_rng(3)
    log = gen.change_log(rng, 100, 300, 0.1)
    backlog, root = str(tmp_path / "backlog"), str(tmp_path / "state")
    gen.split_files(log, backlog, 4)
    con = duckdb.connect()
    state = (
        "SELECT *, CAST(hash(key) % 4 AS INTEGER) AS bucket FROM ("
        "SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) rn "
        f"FROM {checks.parquet(backlog)}) WHERE rn = 1)"
    )
    _copy(con, state, os.path.join(root, "data", "e1"))
    os.makedirs(os.path.join(root, "_manifests"))
    with open(os.path.join(root, "_manifests", "manifest-1.json"), "w") as fh:
        json.dump({"epoch": 1, "buckets": {str(b): "e1" for b in range(4)}}, fh)
    assert checks.check_stream(backlog, root) == []
    # a stale copy of a bucket in an unreferenced epoch dir must be ignored
    _copy(con, state, os.path.join(root, "data", "e0"))
    assert checks.check_stream(backlog, root) == []
    _plant(
        os.path.join(root, "data", "e1", "part-0.parquet"),
        "UPDATE t SET after_totalprice = 1.0 WHERE op <> 'd' AND key = (SELECT min(key) FROM t WHERE op <> 'd')",
    )
    assert checks.check_stream(backlog, root)


def test_mix_compare_catches_planted_row():
    co = checks.load_check_oracle(str(ROOT))
    con = duckdb.connect()
    want = checks.run_oracle(con, "SELECT * FROM (VALUES (1, 'a', 2.5), (2, 'b', 3.25)) t(id, s, x)")
    cols, rows, schema = want
    assert checks.compare_entry(co, (cols, list(reversed(rows)), schema), want) == []
    assert checks.compare_entry(co, (cols, rows + [(3, "c", 1.0)], schema), want)
    assert checks.compare_entry(co, (cols, [rows[0], (2, "b", 3.26)], schema), want)


def test_benchmark_json_matches_catalogue():
    with open(ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    built = metrics.benchmark_json(
        spec["command"], spec["paths"], spec["run_seconds"], spec["workloads"]
    )
    assert spec == built
    assert [w["name"] for w in spec["workloads"]] == ["batch_ingest", "stream_drain", "query_mix"]
