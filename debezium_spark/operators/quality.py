"""Data-quality validation over materialized CDC tables: null rates,
referential integrity, uniqueness, and envelope invariants — the
checks a CDC lakehouse runs after every ingest batch.

All declarative single-pass plans with DuckDB oracles. At 100 TB each
check is one scan + (for FK checks) one broadcast/anti join; they
compose into a single job when run together.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_spark.cdc.envelope import CDC_FLAT_SQL, synthesize_cdc_flat
from debezium_spark.registry import query
from debezium_spark.sources.tables import load_table


def dq_null_rates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null counts over orders (one scan, no shuffle until
    the single-row agg)."""
    o = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
        for c in o.columns
    ]
    return o.agg(*aggs)


def dq_referential_integrity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK violations: orders→customer, lineitem→orders,
    lineitem→part, lineitem→supplier (anti joins; dims broadcast)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")

    def violations(label, child, fk, parent, pk):
        # one branch of the unioned plan — no driver-side .count()
        return (
            child.join(
                F.broadcast(parent.select(pk)),
                child[fk] == parent[pk],
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("n_violations"))
            .select(F.lit(label).alias("fk"), "n_violations")
        )

    checks = [
        violations("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
        violations("lineitem.l_orderkey->orders", l, "l_orderkey", o, "o_orderkey"),
        violations("lineitem.l_partkey->part", l, "l_partkey", p, "p_partkey"),
        violations("lineitem.l_suppkey->supplier", l, "l_suppkey", s, "s_suppkey"),
    ]
    out = checks[0]
    for c2 in checks[1:]:
        out = out.unionByName(c2)
    return out.orderBy("fk")


def dq_uniqueness_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness across the star schema."""
    checks = [
        ("orders.o_orderkey", "orders", "o_orderkey"),
        ("customer.c_custkey", "customer", "c_custkey"),
        ("part.p_partkey", "part", "p_partkey"),
        ("events.event_id", "events", "event_id"),
    ]
    branches = []
    for label, table, pk in checks:
        t = load_table(spark, sf_dir, table)
        # one pass per table: row count and duplicated-key count fall
        # out of the same groupBy — no driver-side .count() loop
        branches.append(
            t.groupBy(pk)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .agg(
                F.sum("cnt").alias("n_rows"),
                F.sum((F.col("cnt") > 1).cast("long")).alias(
                    "n_duplicated_keys"
                ),
            )
            .select(F.lit(label).alias("pk"), "n_rows", "n_duplicated_keys")
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.orderBy("pk")


def dq_envelope_invariants_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC envelope invariants as counted violations (all must be 0):
    creates with before-images, deletes with after-images, updates
    missing either image, duplicate (key, seq)."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    dup_df = (
        cdc.groupBy("key", "seq")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.sum((F.col("cnt") > 1).cast("long")).alias("duplicate_key_seq")
        )
    )
    agg = cdc.agg(
        F.sum(
            ((F.col("op") == "c") & F.col("before_totalprice").isNotNull())
            .cast("long")
        ).alias("creates_with_before"),
        F.sum(
            ((F.col("op") == "d") & F.col("after_totalprice").isNotNull())
            .cast("long")
        ).alias("deletes_with_after"),
        F.sum(
            (
                (F.col("op") == "u")
                & (
                    F.col("before_totalprice").isNull()
                    | F.col("after_totalprice").isNull()
                )
            ).cast("long")
        ).alias("updates_missing_image"),
    )
    return agg.crossJoin(dup_df)  # two 1-row branches, one job


query("dq_null_rates", dq_null_rates_q, """
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN o_orderkey      IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_orderkey,
               CAST(sum(CASE WHEN o_custkey       IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_custkey,
               CAST(sum(CASE WHEN o_orderstatus   IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_orderstatus,
               CAST(sum(CASE WHEN o_totalprice    IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_totalprice,
               CAST(sum(CASE WHEN o_orderdate     IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_orderdate,
               CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_orderpriority
        FROM orders
    """)

query("dq_referential_integrity", dq_referential_integrity_q, """
        SELECT fk, n_violations FROM (
            SELECT 'orders.o_custkey->customer' AS fk,
                   (SELECT count(*) FROM orders o
                    WHERE NOT EXISTS (SELECT 1 FROM customer
                                      WHERE c_custkey = o.o_custkey)) AS n_violations
            UNION ALL
            SELECT 'lineitem.l_orderkey->orders',
                   (SELECT count(*) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM orders
                                      WHERE o_orderkey = l.l_orderkey))
            UNION ALL
            SELECT 'lineitem.l_partkey->part',
                   (SELECT count(*) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM part
                                      WHERE p_partkey = l.l_partkey))
            UNION ALL
            SELECT 'lineitem.l_suppkey->supplier',
                   (SELECT count(*) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM supplier
                                      WHERE s_suppkey = l.l_suppkey))
        ) ORDER BY fk
    """)

query("dq_uniqueness", dq_uniqueness_q, """
        SELECT pk, n_rows, n_duplicated_keys FROM (
            SELECT 'orders.o_orderkey' AS pk,
                   (SELECT count(*) FROM orders) AS n_rows,
                   (SELECT count(*) FROM (SELECT o_orderkey FROM orders
                     GROUP BY o_orderkey HAVING count(*) > 1)) AS n_duplicated_keys
            UNION ALL
            SELECT 'customer.c_custkey', (SELECT count(*) FROM customer),
                   (SELECT count(*) FROM (SELECT c_custkey FROM customer
                     GROUP BY c_custkey HAVING count(*) > 1))
            UNION ALL
            SELECT 'part.p_partkey', (SELECT count(*) FROM part),
                   (SELECT count(*) FROM (SELECT p_partkey FROM part
                     GROUP BY p_partkey HAVING count(*) > 1))
            UNION ALL
            SELECT 'events.event_id', (SELECT count(*) FROM events),
                   (SELECT count(*) FROM (SELECT event_id FROM events
                     GROUP BY event_id HAVING count(*) > 1))
        ) ORDER BY pk
    """)

query("dq_envelope_invariants", dq_envelope_invariants_q, CDC_FLAT_SQL + """
        SELECT
            CAST(sum(CASE WHEN op = 'c' AND before_totalprice IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS creates_with_before,
            CAST(sum(CASE WHEN op = 'd' AND after_totalprice IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS deletes_with_after,
            CAST(sum(CASE WHEN op = 'u' AND (before_totalprice IS NULL
                                        OR after_totalprice IS NULL)
                     THEN 1 ELSE 0 END) AS BIGINT) AS updates_missing_image,
            (SELECT count(*) FROM (SELECT key, seq FROM cdc
              GROUP BY key, seq HAVING count(*) > 1)) AS duplicate_key_seq
        FROM cdc
    """)
