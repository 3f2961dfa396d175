"""Seeded input generators for the CDC benchmark.

Everything here is a pure function of a ``numpy.random.Generator``, so
the same seed stages byte-identical inputs. Three kinds of input:

- ``change_log``: a canonical flat change topic (the columns of
  ``debezium_spark.cdc.envelope.FLAT_COLUMNS``) with a configurable
  share of updates landing on a few hot keys.
- ``ibmi_journal``: the same events in IBM i journal layout, plus the
  ``UB`` before-image rows and non-``R`` journal-control rows that the
  normalizer has to drop.
- ``star_schema``: the TPC-H-style tables plus ``events``,
  ``documents`` and ``embeddings`` that ``queries()`` entries read.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS_EPOCH_MS = 1_700_000_000_000
STATUSES = np.array(["O", "F", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
DAY_US = 86_400_000_000
ORDER_DATE_LO = np.datetime64("1995-01-01", "us")
ORDER_DATE_DAYS = 2404  # through 2001-08-01


def _prices(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.round(rng.uniform(1000.0, 500000.0, n), 2)


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    days = rng.integers(0, ORDER_DATE_DAYS, n)
    return ORDER_DATE_LO + days.astype("timedelta64[D]")


def change_log(
    rng: np.random.Generator,
    n_keys: int,
    n_updates: int,
    deleted_key_share: float,
    hot_keys: int = 0,
    hot_share: float = 0.0,
) -> pa.Table:
    """One create per key, ``n_updates`` updates and a final delete on
    ``deleted_key_share`` of the keys, in one global ``seq`` order.

    ``hot_share`` of the updates go to keys ``0 .. hot_keys-1``; the
    rest are spread uniformly over all keys. ``before_totalprice`` is
    the key's previous ``after_totalprice``, as in a real change log.
    """
    keys = np.arange(n_keys, dtype=np.int64)
    on_hot = rng.random(n_updates) < hot_share if hot_keys else np.zeros(n_updates, bool)
    upd = np.where(
        on_hot,
        rng.integers(0, max(hot_keys, 1), n_updates),
        rng.integers(0, n_keys, n_updates),
    ).astype(np.int64)
    deleted = rng.random(n_keys) < deleted_key_share
    ev_key = np.concatenate([keys, upd, keys[deleted]])
    # event time: creates first, deletes last, updates in between
    t = np.concatenate(
        [
            rng.random(n_keys) * 0.05,
            0.05 + rng.random(n_updates) * 0.9,
            0.95 + rng.random(int(deleted.sum())) * 0.05,
        ]
    )
    kind = np.concatenate(
        [np.zeros(n_keys, np.int8), np.ones(n_updates, np.int8),
         np.full(int(deleted.sum()), 2, np.int8)]
    )
    order = np.argsort(t, kind="stable")
    ev_key, kind = ev_key[order], kind[order]
    n = len(ev_key)
    seq = np.cumsum(rng.integers(1, 4, n)).astype(np.int64)
    op = np.array(["c", "u", "d"])[kind]
    after = np.where(kind == 2, np.nan, _prices(rng, n))
    # previous event of the same key, in seq order
    by_key = np.lexsort((seq, ev_key))
    prev = np.full(n, -1, np.int64)
    same = ev_key[by_key][1:] == ev_key[by_key][:-1]
    prev[by_key[1:][same]] = by_key[:-1][same]
    before = np.where(prev >= 0, after[np.maximum(prev, 0)], np.nan)
    custkey = rng.integers(0, max(n_keys // 10, 1), n_keys).astype(np.int64)
    odate = _dates(rng, n_keys)
    return pa.table(
        {
            "key": ev_key,
            "op": op,
            "seq": seq,
            "ts_ms": TS_EPOCH_MS + seq * 7,
            "before_totalprice": pa.array(before, pa.float64(), from_pandas=True),
            "after_totalprice": pa.array(after, pa.float64(), from_pandas=True),
            "o_custkey": custkey[ev_key],
            "o_orderstatus": STATUSES[rng.integers(0, 3, n)],
            "o_orderdate": pa.array(odate[ev_key], pa.timestamp("us")),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
        }
    )


def ibmi_journal(rng: np.random.Generator, log: pa.Table, control_share: float) -> pa.Table:
    """The change log as IBM i journal entries (``JOSEQN = 4*seq``),
    with a ``UB`` before-image row ahead of every update and
    ``control_share`` extra journal-control rows (``JOCODE`` J/F/C)."""
    op = log.column("op").to_numpy(zero_copy_only=False)
    n = len(op)
    seq = log.column("seq").to_numpy()
    key = log.column("key").to_numpy()
    ts = log.column("ts_ms").to_numpy()
    before = log.column("before_totalprice").to_numpy(zero_copy_only=False)
    after = log.column("after_totalprice").to_numpy(zero_copy_only=False)
    alt = rng.random(n) < 0.2
    entt = np.where(
        op == "c", np.where(alt, "PX", "PT"), np.where(op == "u", "UP", np.where(alt, "DR", "DL"))
    )
    ub = op == "u"
    ctl = rng.random(n) < control_share
    n_ctl = int(ctl.sum())
    parts = [
        ("R", entt, seq * 4, ts, key, before, after),
        ("R", np.full(ub.sum(), "UB"), seq[ub] * 4 - 1, ts[ub], key[ub], before[ub], before[ub]),
        (
            np.array(["J", "F", "C"])[rng.integers(0, 3, n_ctl)],
            np.array(["PR", "SC", "CM"])[rng.integers(0, 3, n_ctl)],
            seq[ctl] * 4 - 2, ts[ctl], key[ctl], before[ctl], after[ctl],
        ),
    ]
    cols = {c: [] for c in ("JOCODE", "JOENTT", "JOSEQN", "JOTSTP", "JOKEY",
                            "before_totalprice", "after_totalprice")}
    for code, ent, s, t, k, b, a in parts:
        m = len(s)
        cols["JOCODE"].append(np.broadcast_to(np.asarray(code), (m,)))
        cols["JOENTT"].append(ent)
        cols["JOSEQN"].append(s)
        cols["JOTSTP"].append(t)
        cols["JOKEY"].append(k)
        cols["before_totalprice"].append(b)
        cols["after_totalprice"].append(a)
    merged = {c: np.concatenate(v) for c, v in cols.items()}
    order = np.argsort(merged["JOSEQN"], kind="stable")
    return pa.table(
        {
            c: pa.array(v[order], from_pandas=True) if v.dtype == np.float64 else v[order]
            for c, v in merged.items()
        }
    )


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def split_files(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` contiguous slices, oldest first:
    each file gets a later mtime, so a file source reading one file per
    trigger drains them in log order."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (1_600_000_000 + i, 1_600_000_000 + i))


# --------------------------------------------------------------------------
# Star schema (the tables ``queries()`` entries read)
# --------------------------------------------------------------------------
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_ADJ = ["small", "red", "blue", "old", "new", "hot", "cold", "green"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "nut"]
PART_TYPES = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
LANGS = np.array(["en", "de", "fr", "es", "zh"])
WORDS = np.array(
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part merge window "
    "order column join vector".split()
)


def star_schema(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_evt, n_doc, n_emb = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (pk % 1000) * 0.1, 1)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": retail,
        }
    )
    odate = _dates(rng, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": STATUSES[rng.integers(0, 3, n_ord)],
            "o_totalprice": _prices(rng, n_ord),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
        }
    )
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_order)
    l_line = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    l_part = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odate[l_order] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": l_part,
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": l_line,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(1.0, 2.3, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * DAY_US, n_evt)
    ).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_evt).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n_evt)],
            "value": np.round(rng.uniform(0.01, 490.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), rng.integers(8, 90))]) for _ in range(n_doc)]
    # ~5% near-duplicates: another document's text with a few words swapped
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        words = texts[int(rng.integers(0, n_doc))].split()
        for j in rng.integers(0, len(words), max(len(words) // 20, 1)):
            words[j] = WORDS[rng.integers(0, len(WORDS))]
        texts[i] = " ".join(words)
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_emb)
    emb = (centers[label] + rng.normal(0.0, 1.2, (n_emb, 64))) / 8.0
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )
    return t


def log_properties(log: pa.Table, hot_keys: int) -> dict:
    """Input properties recorded with every result."""
    key = log.column("key").to_numpy()
    op = log.column("op").to_numpy(zero_copy_only=False)
    n = len(key)
    return {
        "events": n,
        "distinct_keys": int(len(np.unique(key))),
        "hot_keys": hot_keys,
        "hot_key_share": round(float((key < hot_keys).sum()) / n, 4) if hot_keys else 0.0,
        "delete_share": round(float((op == "d").sum()) / n, 4),
    }
