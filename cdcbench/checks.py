"""Correctness checks, run after the timed region.

Every check recomputes the expected answer with DuckDB straight from
the staged input files and compares it with what the program wrote or
returned. A check returns a list of problems; an empty list passes.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import duckdb

FLAT = (
    "key, op, seq, ts_ms, before_totalprice, after_totalprice, "
    "o_custkey, o_orderstatus, o_orderdate, o_orderpriority"
)
LATEST_SQL = f"""
    SELECT {FLAT} FROM (
        SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
        FROM {{src}}
    ) WHERE rn = 1 AND op <> 'd'
"""
ENVELOPE_SQL = """
    SELECT JOKEY AS key,
           CASE JOENTT WHEN 'PT' THEN 'c' WHEN 'PX' THEN 'c' WHEN 'UP' THEN 'u'
                       WHEN 'DL' THEN 'd' WHEN 'DR' THEN 'd' END AS op,
           JOSEQN AS seq, JOTSTP AS ts_ms, before_totalprice, after_totalprice
    FROM {src} WHERE JOCODE = 'R' AND JOENTT <> 'UB'
"""
SCD2_SQL = """
    SELECT key, seq AS valid_from_seq, valid_to_seq,
           valid_to_seq IS NULL AS is_current,
           after_totalprice AS o_totalprice, op
    FROM (SELECT *, lead(seq) OVER (PARTITION BY key ORDER BY seq) AS valid_to_seq
          FROM {src})
    WHERE op <> 'd'
"""
TXN_SQL = """
    WITH b AS (
        SELECT CAST(floor(seq / 100) AS BIGINT) AS txn_id, min(seq) AS begin_seq,
               max(seq) AS end_seq, count(*) AS event_count
        FROM {src} GROUP BY 1
    )
    SELECT txn_id, 'BEGIN' AS status, begin_seq AS marker_seq,
           CAST(NULL AS BIGINT) AS event_count FROM b
    UNION ALL
    SELECT txn_id, 'END', end_seq, event_count FROM b
"""
TOPICS_SQL = """
    SELECT CASE WHEN op = 'd' THEN 'cdc.orders.deletes' ELSE 'cdc.orders' END AS topic,
           count(*) AS n, count(*) FILTER (WHERE op = 'd') AS n_deleted
    FROM {src} GROUP BY 1
"""


def parquet(path: str) -> str:
    """DuckDB source for a parquet file or a Spark output directory."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
    return f"read_parquet('{path}')"


def _diff(con, got: str, want: str, what: str) -> list[str]:
    """Multiset difference both ways; values compare typed and exact.
    Output that cannot be read (missing, wrong columns) is a problem."""
    try:
        extra = con.execute(f"SELECT count(*) FROM (({got}) EXCEPT ALL ({want}))").fetchone()[0]
        missing = con.execute(f"SELECT count(*) FROM (({want}) EXCEPT ALL ({got}))").fetchone()[0]
    except duckdb.Error as e:
        return [f"{what}: unreadable output: {str(e).splitlines()[0]}"]
    if extra or missing:
        return [f"{what}: {extra} unexpected rows, {missing} missing rows"]
    return []


def check_batch(stage_dir: str, out_dir: str) -> dict[str, list[str]]:
    """Problems per batch_ingest step, keyed by step name."""
    con = duckdb.connect()
    topic = parquet(os.path.join(stage_dir, "topic.parquet"))
    journal = parquet(os.path.join(stage_dir, "journal.parquet"))
    out = lambda d: parquet(os.path.join(out_dir, d))  # noqa: E731
    topics_got = (
        "SELECT topic, count(*) AS n, count(*) FILTER (WHERE __deleted) AS n_deleted "
        f"FROM {out('topics')} GROUP BY 1"
    )
    return {
        "normalize": _diff(
            con,
            f"SELECT key, op, seq, ts_ms, before_totalprice, after_totalprice FROM {out('envelope')}",
            ENVELOPE_SQL.format(src=journal),
            "normalized envelope",
        ),
        "topics": _diff(con, topics_got, TOPICS_SQL.format(src=topic), "per-topic counts"),
        "latest_state": _diff(
            con, f"SELECT {FLAT} FROM {out('latest')}", LATEST_SQL.format(src=topic), "latest state"
        ),
        "compacted": _diff(
            con, f"SELECT {FLAT} FROM {out('compacted')}", LATEST_SQL.format(src=topic),
            "compacted sink",
        ),
        "scd2": _diff(
            con,
            "SELECT key, valid_from_seq, valid_to_seq, is_current, o_totalprice, op "
            f"FROM {out('scd2')}",
            SCD2_SQL.format(src=topic),
            "scd2",
        ),
        "txn_topic": _diff(
            con,
            f"SELECT txn_id, status, marker_seq, event_count FROM {out('txn')}",
            TXN_SQL.format(src=topic),
            "transaction topic",
        ),
    }


def manifest_state_sql(state_root: str) -> str:
    """The state the latest committed manifest points at, read the way
    ``read_manifest_state`` documents it: each bucket from its own
    epoch directory only."""
    mdir = os.path.join(state_root, "_manifests")
    latest = max(
        (f for f in os.listdir(mdir) if f.startswith("manifest-") and f.endswith(".json")),
        key=lambda f: int(f[len("manifest-"):-len(".json")]),
    )
    with open(os.path.join(mdir, latest)) as fh:
        buckets = json.load(fh)["buckets"]
    by_dir: dict[str, list[str]] = {}
    for b, d in buckets.items():
        by_dir.setdefault(d, []).append(b)
    parts = [
        f"SELECT {FLAT} FROM {parquet(os.path.join(state_root, 'data', d))} "
        f"WHERE bucket IN ({', '.join(sorted(bs))})"
        for d, bs in sorted(by_dir.items())
    ]
    return " UNION ALL ".join(parts)


def check_stream(backlog_dir: str, state_root: str) -> list[str]:
    con = duckdb.connect()
    try:
        got = f"SELECT * FROM ({manifest_state_sql(state_root)}) WHERE op <> 'd'"
    except (OSError, ValueError, KeyError) as e:
        return [f"manifest state: no readable manifest: {e}"]
    return _diff(con, got, LATEST_SQL.format(src=parquet(backlog_dir)), "manifest state")


# --------------------------------------------------------------------------
# query_mix: the typed, order-insensitive comparison of tools/check_oracle.py
# --------------------------------------------------------------------------
def load_check_oracle(root: str):
    """Import ``tools/check_oracle.py`` from the repository without
    letting its import-time ``sys.path`` edit outlive the import."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(root, "tools", "check_oracle.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def oracle_connection(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def run_oracle(con, sql: str):
    tbl = con.execute(sql).arrow()
    cols = tbl.column_names
    rows = [tuple(tbl.column(c)[i].as_py() for c in cols) for i in range(tbl.num_rows)]
    return cols, rows, tbl.schema


def compare_entry(co, got: tuple, want: tuple) -> list[str]:
    """``got`` and ``want`` are (columns, rows, arrow schema or None).
    Mirrors the per-query verdict of ``check_oracle.main``."""
    scols, srows, sschema = got
    ocols, orows, oschema = want
    problems = []
    if sschema is not None:
        problems.extend("dtype " + m for m in co.dtype_mismatches(sschema, oschema))
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} duck={sorted(ocols)}")
    if not problems:
        sc, oc = co.canon(srows, scols), co.canon(orows, ocols)
        if sc != oc:
            diffs = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
            problems.append(f"values differ, first diffs: {diffs}")
    return problems
