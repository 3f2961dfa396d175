"""Structured Streaming CDC ingest.

Re-expresses Debezium's delivery loop in Spark terms: a file-source
change stream (stand-in for the Kafka topic), watermarked windowed
aggregation for event-time analytics, and one durable state sink,
`streaming_latest_state_manifest` — a foreachBatch merge where each
microbatch folds into the hash buckets it touches (max-seq wins per
key, `cdc.materialize.last_write_wins`) and commits a per-epoch
manifest by atomic rename, so replays and out-of-order batches
converge to the same state. `read_manifest_state` reads that state and
`compact_manifest_state` consolidates it.

The driver-gated wrappers replay the stream to completion with
`processAllAvailable()` so results are deterministic and comparable to
the batch oracles — streaming latest-state must equal batch
latest-state (tested), which is the Debezium at-least-once + idempotent
-consumer contract.

At scale: each epoch of the merge is one Spark plan that runs two
jobs — prior state and batch shuffle once on `bucket`, one sort serves
both the max-seq window and the touched-bucket filter, and an
Observation reports the buckets written without a job of its own. It
rewrites only the buckets a batch touches, but reads and shuffles the
whole state (see the sink comment below); maxFilesPerTrigger bounds
per-batch volume. applyInPandasWithState carries per-key
running aggregates where event-time windows can't express the
semantics.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from debezium_spark.cdc.envelope import synthesize_cdc_flat
from debezium_spark.cdc.materialize import CDC_LATEST_STATE_SQL, last_write_wins
from debezium_spark.registry import query
from debezium_spark.sources.tables import load_table


def _gate_replay(
    spark: SparkSession,
    prefix: str,
    build: Callable[[str, Callable[[DataFrame, str], DataFrame]], DataFrame],
) -> DataFrame:
    """Gate-only harness, not a production path. Runs
    `build(workdir, drain)` in a fresh temp dir, where
    `drain(stream_df, output_mode)` replays a stream to completion
    into a memory sink and returns the sink's table. The frame `build`
    returns is collected into a driver-local frame, so the answer
    outlives the cleanup: every memory-sink temp view is dropped (each
    would otherwise hold its rows in driver memory for the rest of the
    session) and the temp dir is deleted. Production ingest writes to
    a durable sink instead (`streaming_latest_state_manifest`)."""
    workdir = tempfile.mkdtemp(prefix=prefix)
    views: list[str] = []

    def drain(stream_df: DataFrame, output_mode: str) -> DataFrame:
        name = f"{prefix}{uuid.uuid4().hex[:8]}"
        views.append(name)
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.table(name)

    try:
        out = build(workdir, drain)
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        for name in views:
            spark.catalog.dropTempView(name)
        shutil.rmtree(workdir, ignore_errors=True)


def _file_stream(spark: SparkSession, topic: str) -> DataFrame:
    """One file per trigger over a staged parquet 'topic' directory."""
    schema = spark.read.parquet(topic).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(topic)
    )


def stage_stream_dir(spark: SparkSession, sf_dir: str, table: str,
                     workdir: str, n_files: int = 4) -> str:
    """The file streaming source needs a directory of files (the
    'topic'); stage the single-parquet table into one."""
    out = os.path.join(workdir, table)
    load_table(spark, sf_dir, table).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(out)
    return out


def read_event_stream(spark: SparkSession, sf_dir: str, workdir: str) -> DataFrame:
    """File-source stream over the events table (stand-in for Kafka)."""
    return _file_stream(spark, stage_stream_dir(spark, sf_dir, "events", workdir))


def _stage_cdc_topic(spark: SparkSession, sf_dir: str, workdir: str) -> str:
    """Write the synthesized change stream as a 4-file 'topic'."""
    topic = os.path.join(workdir, "topic")
    synthesize_cdc_flat(spark, sf_dir).repartition(4, "key").write.mode(
        "overwrite"
    ).parquet(topic)
    return topic


def _live_state(state: DataFrame) -> DataFrame:
    """Materialized state without tombstones, in cdc_latest_state's
    columns."""
    return state.filter(F.col("op") != "d").select(
        "key",
        F.col("after_totalprice").alias("o_totalprice"),
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        "seq",
    )


def stream_windowed_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-hour aggregation, replayed to completion
    through a memory sink. Deterministic → oracle-checkable."""

    def build(workdir, drain):
        agg = (
            read_event_stream(spark, sf_dir, workdir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        )
        return drain(agg, "complete").select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n", "total_value",
        ).orderBy("window_start", "event_type")

    return _gate_replay(spark, "evt_stream_", build)


query("stream_windowed_counts", stream_windowed_counts_q, """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type,
               count(*) AS n, round(sum(value), 2) AS total_value
        FROM events GROUP BY window_start, event_type
        ORDER BY window_start, event_type
    """)


def stream_cdc_latest_state_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: synthesize change stream → write as a multi-file
    'topic' → file-source readStream (one file per trigger, arbitrary
    order) → manifest-committed state sink, un-checkpointed → final
    materialized state. Must equal the batch cdc_latest_state oracle
    exactly."""

    def build(workdir, drain):
        state_root = os.path.join(workdir, "state")
        stream = _file_stream(spark, _stage_cdc_topic(spark, sf_dir, workdir))
        streaming_latest_state_manifest(spark, stream, state_root)
        return _live_state(read_manifest_state(spark, state_root))

    return _gate_replay(spark, "cdc_stream_", build)


def stream_cdc_bucketed_state_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as stream_cdc_latest_state, through the same sink
    with a checkpoint location — the restartable path, here on a clean
    run (manifest_commit_state reaches it only through a crash and
    restart). Must converge to the identical batch latest-state
    oracle."""

    def build(workdir, drain):
        state_root = os.path.join(workdir, "state")
        stream = _file_stream(spark, _stage_cdc_topic(spark, sf_dir, workdir))
        streaming_latest_state_manifest(
            spark, stream, state_root,
            checkpoint=os.path.join(workdir, "ckpt"),
        )
        return _live_state(read_manifest_state(spark, state_root))

    return _gate_replay(spark, "cdc_bstream_", build)


# streaming replay must converge to the batch latest-state materialization
query("stream_cdc_latest_state", stream_cdc_latest_state_q,
      CDC_LATEST_STATE_SQL)
query("stream_cdc_bucketed_state", stream_cdc_bucketed_state_q,
      CDC_LATEST_STATE_SQL)


def stream_session_windows(spark: SparkSession, sf_dir: str,
                           gap: str = "30 minutes") -> DataFrame:
    """session_window aggregation over the event stream: per (user,
    session) event counts with a 30-minute inactivity gap — the
    streaming twin of analytics.sessionize_events (equivalence is
    tested)."""

    def build(workdir, drain):
        # no watermark: the replayed 'topic' files arrive in arbitrary
        # order, so a watermark would drop whole files as late. Complete
        # mode keeps all session state. A production unbounded stream
        # (ordered source) adds .withWatermark to bound state.
        agg = (
            read_event_stream(spark, sf_dir, workdir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        return drain(agg, "complete").select(
            "user_id", F.col("sw.start").alias("session_start"), "n_events"
        )

    return _gate_replay(spark, "sess_stream_", build)


def stream_sessionize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window aggregation under the external gate: per-session
    (user, start, n_events) rows from the streaming session_window
    must equal the batch lag-gap sessionization. Boundary semantics:
    Spark's session window is [start, last_ts + gap), so a gap of
    exactly `gap` opens a NEW session — the oracle uses >= on the gap
    accordingly."""
    out = stream_session_windows(spark, sf_dir)
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "n_events",
    ).orderBy("user_id", "session_start")


query("stream_sessionize", stream_sessionize_q, """
        WITH flags AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts,
                   sum(new_sess) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
            FROM flags
        )
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               count(*) AS n_events
        FROM sess GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """)


def stream_stream_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (view → purchase
    attribution within 1 hour, same user): the canonical Structured
    Streaming join — both sides watermarked, join condition carries
    the event-time range so the state store can evict rows older than
    the watermark. At scale this is the plan for joining two live CDC
    topics without unbounded state. The join itself runs as a real
    streaming query into a memory sink; the final rollup happens in
    batch on the joined pairs (deterministic input → oracle-exact).

    Watermark note: the staged topic REPLAYS a month of history in
    arbitrary file order, so the replay watermark must cover the full
    span (31 days) or genuinely-joinable rows would be dropped as
    late. A live deployment ingesting near-real-time would use the
    tight production delay (minutes–hours); the 1-hour join range
    bound is what sizes the state either way."""

    def build(workdir, drain):
        views = (
            read_event_stream(spark, sf_dir, workdir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .filter(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"),
                F.col("event_id").alias("v_id"),
            )
            .withWatermark("v_ts", "31 days")
        )
        purchases = (
            read_event_stream(spark, sf_dir, workdir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("value").alias("p_value"),
            )
            .withWatermark("p_ts", "31 days")
        )
        joined = views.join(
            purchases,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("interval 1 hour")),
            "inner",
        )
        return (
            drain(joined, "append")
            .groupBy(F.date_format(
                F.date_trunc("hour", F.col("v_ts")),
                "yyyy-MM-dd HH:mm:ss").alias("view_hour"))
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.countDistinct("v_user").alias("n_users"),
                F.sum(
                    F.round(F.col("p_value") * 100 + 1e-9).cast("long")
                ).alias("purchase_cents"),
            )
            .orderBy("view_hour")
        )

    return _gate_replay(spark, "ssj_stream_", build)


query("stream_stream_join", stream_stream_join_q, """
    WITH v AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'view'),
    p AS (SELECT user_id, ts, value FROM events
          WHERE event_type = 'purchase'),
    j AS (SELECT v.user_id, v.ts AS v_ts, p.value
          FROM v JOIN p ON v.user_id = p.user_id
               AND p.ts >= v.ts
               AND p.ts <= v.ts + INTERVAL 1 HOUR)
    SELECT strftime(date_trunc('hour', v_ts), '%Y-%m-%d %H:%M:%S')
               AS view_hour,
           count(*) AS n_pairs,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(round(value * 100 + 1e-9) AS BIGINT)) AS BIGINT)
               AS purchase_cents
    FROM j GROUP BY 1 ORDER BY view_hour
""")


def stream_stateful_running_counts_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """applyInPandasWithState under the external gate: per-user
    running (count, sum) state updated batch-by-batch over the
    replayed stream; the LAST update per user must equal the batch
    groupBy. Values are integer cents carried in doubles (exact in
    float64 far below 2^53), so the running float accumulation is
    bit-exact and oracle-comparable."""
    from debezium_spark.streaming.state import running_user_counts

    def build(workdir, drain):
        ev = read_event_stream(spark, sf_dir, workdir).withColumn(
            "value",
            F.round(F.col("value") * 100 + 1e-9).cast("double"),
        )
        # the last update per user carries its largest running count
        return (
            last_write_wins(
                drain(running_user_counts(ev), "update"), "user_id", "n_events"
            )
            .select(
                "user_id",
                "n_events",
                F.col("total_value").cast("long").alias("total_cents"),
            )
            .orderBy("user_id")
        )

    return _gate_replay(spark, "state_stream_", build)


query("stream_stateful_running_counts", stream_stateful_running_counts_q, """
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round(value * 100 + 1e-9) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events GROUP BY user_id ORDER BY user_id
""")


def stream_dedup_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup via dropDuplicates state (the streaming
    twin of dedup_exact): the document topic is staged TWICE (every
    document arrives at least twice), and the stream must emit each
    distinct normalized content exactly once. The output aggregates
    content-set invariants (count + hash sum), not surviving doc_ids —
    which copy wins the state race is arbitrary, the content set is
    not. Production streams bound the state with
    dropDuplicatesWithinWatermark; the bounded replay keeps full state
    on purpose."""

    def build(workdir, drain):
        topic = os.path.join(workdir, "documents")
        docs = load_table(spark, sf_dir, "documents")
        docs.repartition(4).write.mode("overwrite").parquet(topic)
        docs.repartition(3).write.mode("append").parquet(topic)
        norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        deduped = _file_stream(spark, topic).select(
            F.md5(norm).alias("content_md5")
        ).dropDuplicates(["content_md5"])
        return drain(deduped, "append").agg(
            F.count(F.lit(1)).alias("n_unique"),
            F.sum(
                F.conv(F.substring("content_md5", 1, 15), 16, 10)
                .cast("long") % 1000000007
            ).alias("content_hash_sum"),
        )

    return _gate_replay(spark, "dedup_stream_", build)


query("stream_dedup_documents", stream_dedup_documents_q, """
    WITH u AS (
        SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ',
                                           'g')) AS content_md5
        FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_unique,
           CAST(sum(CAST(('0x' || substr(content_md5, 1, 15)) AS BIGINT)
                    % 1000000007) AS BIGINT) AS content_hash_sum
    FROM u
""")


def stream_static_enrich_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the canonical CDC consumer
    pattern: a live event stream joined to a slowly-changing dimension
    that lives at rest (here the customer table, keyed by user_id =
    c_custkey). Structured Streaming re-plans the static side every
    microbatch, so on a cluster the dim is a fresh broadcast per
    trigger — no state store involvement at all (unlike stream-stream
    joins), which is why this is THE scale answer for enriching a
    100 TB/day topic against a dimension that fits in executor memory.
    Aggregation runs in complete mode over the enriched stream;
    money sums in integer cents (bit-exact gate)."""

    def build(workdir, drain):
        dim = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"),
            "c_mktsegment",
        )
        enriched = read_event_stream(spark, sf_dir, workdir).join(
            F.broadcast(dim), "user_id", "left"
        )
        agg = enriched.groupBy("c_mktsegment", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("value") * 100 + 1e-9).cast("long")
            ).alias("value_cents"),
        )
        return drain(agg, "complete").orderBy("c_mktsegment", "event_type")

    return _gate_replay(spark, "enr_stream_", build)


query("stream_static_enrich", stream_static_enrich_q, """
    SELECT c.c_mktsegment, e.event_type, count(*) AS n,
           CAST(sum(CAST(round(e.value * 100 + 1e-9) AS BIGINT))
                AS BIGINT) AS value_cents
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2 ORDER BY c_mktsegment, event_type
""")


def stream_sliding_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming aggregation (2h window / 1h slide):
    the Structured Streaming twin of the batch events_sliding_window
    operator — every event feeds two overlapping windows; state is
    keyed by (window, event_type) so the 100 TB layout is identical
    to the tumbling case, just with 2× window keys. Replayed to
    completion through a memory sink (deterministic → exact oracle;
    complete mode because the file replay is historical, SURVEY §6)."""

    def build(workdir, drain):
        agg = (
            read_event_stream(spark, sf_dir, workdir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy(
                F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
        )
        return drain(agg, "complete").select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n", "total_value",
        ).orderBy("window_start", "event_type")

    return _gate_replay(spark, "evt_slide_", build)


query("stream_sliding_counts", stream_sliding_counts_q, """
    WITH exploded AS (
        SELECT unnest([
                   make_timestamp((epoch_us(ts) // 3600000000) * 3600000000),
                   make_timestamp((epoch_us(ts) // 3600000000) * 3600000000 - 3600000000)
               ]) AS w_start,
               event_type, value
        FROM events
    )
    SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM exploded
    GROUP BY w_start, event_type
    ORDER BY window_start, event_type
""")


# --------------------------------------------------------------------------
# The streaming state sink: exactly-once manifest commit.
#
# A bucketed state layout rewritten in place would need a
# transactional table format for multi-bucket atomicity; this sink
# supplies the minimal one — the same commit idea Delta Lake's
# _delta_log and Iceberg's metadata pointer use, reduced to a JSON
# manifest per commit, committed by atomic rename:
#
#   state_root/data/e<epoch>/         immutable per-epoch parquet
#   state_root/_manifests/manifest-<n>.json
#       {"epoch": N, "buckets": {"<bucket>": "e<dir>", ...},
#        "schema": <state schema as JSON>}
#
# `n` numbers commits (0, 1, 2, ...); "epoch" is the last stream epoch
# whose batch the committed state holds. Each stream epoch commits
# one manifest, and so does each compaction (same "epoch" as the
# manifest it compacts), so the two never claim the same number.
#
# Each epoch is ONE Spark plan that runs two jobs (a shuffle map stage,
# then the write). It unions the prior state — every (dir, bucket)
# pair the latest manifest points at, read in one scan with the known
# state schema so no schema-inference job runs — with the batch,
# tagging batch rows `__new`; repartitions on `bucket`; keeps the
# max-seq row per (bucket, key) (`last_write_wins`; `bucket` is a
# function of `key`); and keeps only the buckets where a batch row
# won, found with a max over `Window.partitionBy("bucket")`. One
# Exchange and one Sort serve both windows. The rows go to a NEW epoch
# dir, and an Observation on the written rows collects their bucket
# set during the write, with no job of its own: exactly those buckets
# point at the new dir in the manifest, the others carry forward (so a
# batch of stale redeliveries, which wins no row, moves no pointer).
#
# Trade-offs. The merge reads, shuffles and sorts the whole state, not
# only the touched buckets' rows: the touched set is known only once
# the plan has run. A uniform stream touches every bucket, so there it
# moves the same rows; a sparse stream (a few keys per epoch against a
# large state) moves more. Reduce-side parallelism is bounded by the
# bucket count, the sink's unit of rewrite anyway.
#
# Readers resolve the latest committed manifest and read exactly the
# referenced (dir, bucket) pairs — a crash between data write and
# manifest rename leaves the torn epoch invisible. The schema lets a
# reader return an empty state when no bucket holds a row yet. On
# restart from a checkpoint, Structured Streaming replays the same
# epoch id: if the latest manifest already holds that epoch the batch
# is skipped wholesale (exactly-once), else the epoch dir is rewritten
# in place and committed. Old epoch dirs referenced by no manifest
# entry are garbage, collected by a compaction pass (not needed for
# correctness).
# --------------------------------------------------------------------------


def _latest_manifest(state_root: str) -> tuple[str | None, int]:
    """The path and commit number of the latest manifest (None, -1
    before the first commit)."""
    mdir = os.path.join(state_root, "_manifests")
    best, best_n = None, -1
    if os.path.isdir(mdir):
        for f in os.listdir(mdir):
            m = re.fullmatch(r"manifest-(\d+)\.json", f)
            if m and int(m.group(1)) > best_n:
                best_n = int(m.group(1))
                best = os.path.join(mdir, f)
    return best, best_n


def _read_manifest(state_root: str) -> tuple[int, dict]:
    """The latest committed manifest and its commit number."""
    mpath, n = _latest_manifest(state_root)
    if mpath is None:
        raise FileNotFoundError(f"no committed manifest under {state_root}")
    with open(mpath) as fh:
        return n, json.load(fh)


def _commit_manifest(
    state_root: str, n: int, epoch: int, buckets: dict[str, str], schema: dict
) -> None:
    """The sink's one commit point: write manifest-<n>.json under a
    temp name, then rename it into place (atomic on POSIX)."""
    mpath = os.path.join(state_root, "_manifests", f"manifest-{n}.json")
    tmp = mpath + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump({"epoch": epoch, "buckets": buckets, "schema": schema}, fh)
    os.rename(tmp, mpath)


def _pointed_state(
    spark: SparkSession, state_root: str, buckets: dict[str, str],
    schema: StructType,
) -> DataFrame:
    """The rows of each bucket in the dir `buckets` points it at: ONE
    scan over every pointed dir, read with the given state schema (no
    schema-inference job), that keeps a row only when the file it came
    from sits in its bucket's dir. One scan packs the small per-epoch
    files into few tasks; a scan per dir would cost a task and a
    reader setup per dir. No pointers read as a zero-row frame with
    that schema."""
    if not buckets:  # a zero-partition RDD: no tasks when a plan scans it
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
    data = os.path.join(state_root, "data")
    dir_of = F.create_map(
        *[x for bk, d in sorted(buckets.items()) for x in (F.lit(int(bk)), F.lit(d))]
    )
    # the name of the dir a row's file sits in, by a byte scan: a regex
    # here costs more than the rest of a sparse epoch's merge
    file_dir = F.substring_index(
        F.substring_index(F.col("_metadata.file_path"), "/", -2), "/", 1
    )
    return (
        spark.read.schema(schema)
        .parquet(*[os.path.join(data, d) for d in sorted(set(buckets.values()))])
        .filter(F.try_element_at(dir_of, F.col("bucket")) == file_dir)
    )


def _manifest_merge_batch(
    batch: DataFrame,
    epoch_id: int,
    state_root: str,
    n_buckets: int,
    key: str,
    seq: str,
    crash_before_commit: set[int] | None,
) -> None:
    """One epoch of the manifest protocol: merge the touched buckets
    into a new immutable epoch dir in one plan, then atomically commit
    the manifest. `crash_before_commit`: epoch ids at which to raise
    AFTER the data write but BEFORE the manifest rename — the
    crash-injection hook the kill/restart test uses to prove torn
    epochs stay invisible."""
    os.makedirs(os.path.join(state_root, "_manifests"), exist_ok=True)
    mpath, n = _latest_manifest(state_root)
    man = {"epoch": -1, "buckets": {}}
    if mpath is not None:
        with open(mpath) as fh:
            man = json.load(fh)
    if epoch_id <= man["epoch"]:
        return  # epoch already committed — replay skips wholesale
    b = batch.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))
    )
    prev = _pointed_state(batch.sparkSession, state_root, man["buckets"], b.schema)
    merged = last_write_wins(
        prev.withColumn("__new", F.lit(False))
        .unionByName(b.withColumn("__new", F.lit(True)))
        .repartition("bucket"),
        ["bucket", key], seq,
    )
    written = Observation()
    epoch_dir = f"e{epoch_id}"
    epoch_path = os.path.join(state_root, "data", epoch_dir)
    (
        merged.withColumn(
            "__touched", F.max("__new").over(Window.partitionBy("bucket"))
        )
        .filter("__touched")
        .drop("__new", "__touched")
        .observe(written, F.collect_set("bucket").alias("buckets"))
        .write.mode("overwrite")
        .parquet(epoch_path)
    )
    touched = sorted(written.get["buckets"])
    if not touched:
        shutil.rmtree(epoch_path)  # nothing points at an empty epoch dir
    pointers = {**man["buckets"], **dict.fromkeys(map(str, touched), epoch_dir)}
    if crash_before_commit and epoch_id in crash_before_commit:
        raise RuntimeError(f"injected crash before commit of epoch {epoch_id}")
    _commit_manifest(state_root, n + 1, epoch_id, pointers, b.schema.jsonValue())


def streaming_latest_state_manifest(
    spark: SparkSession,
    stream_df: DataFrame,
    state_root: str,
    n_buckets: int = 16,
    key: str = "key",
    seq: str = "seq",
    crash_before_commit: set[int] | None = None,
    checkpoint: str | None = None,
) -> str:
    """Drain `stream_df` into the manifest-committed bucketed state
    under `state_root` (max-seq wins per key, tombstones kept so a
    lower-seq replay cannot resurrect a deleted key; consumers filter
    op != 'd'). With a `checkpoint` location the stream resumes from
    its offsets after a crash and replays the torn epoch exactly once;
    without one every call starts from the beginning of the topic."""

    def merge(batch: DataFrame, epoch_id: int) -> None:
        _manifest_merge_batch(
            batch, epoch_id, state_root, n_buckets, key, seq,
            crash_before_commit,
        )

    writer = stream_df.writeStream.foreachBatch(merge).outputMode("update")
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return state_root


def read_manifest_state(spark: SparkSession, state_root: str) -> DataFrame:
    """Resolve the latest committed manifest and read exactly the
    (epoch dir, bucket) pairs it references — stale copies of a
    bucket in older epoch dirs are excluded by construction. A
    manifest with no buckets (only empty epochs so far) reads as a
    zero-row frame with the state schema."""
    _, man = _read_manifest(state_root)
    return _pointed_state(
        spark, state_root, man["buckets"], StructType.fromJson(man["schema"])
    )


def manifest_commit_state_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exactly-once contract under the external gate: the
    change stream through the manifest-commit sink — including an
    injected crash between data write and manifest commit on one
    mid-stream epoch, and a checkpointed restart — must still
    converge to the batch latest-state oracle with no loss and no
    duplication."""

    def build(workdir, drain):
        state_root = os.path.join(workdir, "state")
        ckpt = os.path.join(workdir, "ckpt")
        topic = _stage_cdc_topic(spark, sf_dir, workdir)
        # first run crashes before committing epoch 2; the restart
        # (same checkpoint) replays it and runs to completion
        try:
            streaming_latest_state_manifest(
                spark, _file_stream(spark, topic), state_root,
                crash_before_commit={2}, checkpoint=ckpt,
            )
        except Exception:
            pass  # the injected crash surfaces as a stream error
        streaming_latest_state_manifest(
            spark, _file_stream(spark, topic), state_root, checkpoint=ckpt
        )
        return _live_state(read_manifest_state(spark, state_root))

    return _gate_replay(spark, "cdc_manifest_", build)


query("manifest_commit_state", manifest_commit_state_q, CDC_LATEST_STATE_SQL)


def compact_manifest_state(spark: SparkSession, state_root: str) -> str:
    """Compaction for the manifest layout: rewrite the current state
    into one consolidated epoch dir, commit a manifest pointing every
    bucket the latest manifest lists at it, and delete data dirs no
    longer referenced. Bounds the O(epochs) dir growth of a
    long-running stream; correctness never depends on it (readers only
    follow manifest pointers, and the commit is the same atomic rename
    the sink uses). Its manifest takes the next commit number and
    keeps the compacted manifest's "epoch", so a checkpointed stream
    that resumes afterwards commits its next epoch on top of it."""
    n, man = _read_manifest(state_root)
    state = _pointed_state(
        spark, state_root, man["buckets"], StructType.fromJson(man["schema"])
    )
    compact_dir = f"compact-{n}"
    state.write.mode("overwrite").parquet(
        os.path.join(state_root, "data", compact_dir)
    )
    _commit_manifest(
        state_root, n + 1, man["epoch"],
        dict.fromkeys(man["buckets"], compact_dir), man["schema"],
    )
    data_dir = os.path.join(state_root, "data")
    for d in os.listdir(data_dir):
        if d != compact_dir:
            shutil.rmtree(os.path.join(data_dir, d), ignore_errors=True)
    return state_root
