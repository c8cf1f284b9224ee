"""Structured Streaming layer: the events table replayed as a file
stream (SURVEY.md §2B streaming row; §7 step 8).

Each streaming query runs with an ``availableNow`` trigger into a memory
sink and returns the materialized result — deterministic and synchronous,
so the driver harness can treat it like any batch query. Where the
result is batch-expressible (tumbling windows == date_trunc) the query
keeps a full DuckDB oracle; stateful ops get rows-only checks plus
batch-equivalence tests in tests/test_streaming.py.

Scale notes: the same code targets Kafka by swapping ``readStream``
format; windowed aggs shuffle on (window, key) exactly like their
batch date_trunc equivalents. Watermarks bound state ONLY in
append/update output modes (q53's dedup state, q67/q103's join
state, q78's update stream): the complete-mode queries here (q50-q52,
q124) re-emit the whole result per trigger and never evict —
deterministic and right for the harness's availableNow replay, but a
live unbounded deployment of those four switches to append mode (the
watermark calls are already in place for exactly that switch).
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_processing_new_spark.registry import query

_SINK_COUNTER = itertools.count()


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream (ts normalized by the
    batch loader's `_normalize_ts`, then cast to TIMESTAMP for
    watermarks — one source of truth for the dual nanos/micros fixture
    encodings)."""
    from batch_processing_new_spark.sources.readers import _normalize_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # watermarks/windows require TIMESTAMP (not NTZ); pin the session TZ
    # so the instant interpretation — and window rendering — is UTC
    # regardless of the harness session's defaults. DELIBERATELY
    # session-global and not restored: the final stringification of
    # window bounds evaluates lazily at the caller's collect, AFTER
    # this function returns, and must see the same UTC rendering the
    # oracles state. Idempotent (always UTC), and every registered
    # query is session-TZ-robust by construction (TESTDATA.md rules +
    # the perturbation sweeps), so the pin cannot change any other
    # query's output.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    p = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(p).schema
    if os.path.isdir(p):
        # directory-style dataset: stream the directory itself —
        # pathGlobFilter matches LEAF file names, so filtering the
        # parent dir for 'events.parquet' would silently match nothing
        # and yield an empty (but well-formed) stream
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(p)
        )
    else:
        # single-file table: the file source requires a directory;
        # glob-filter the parent down to the one table
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return stream.withColumn(
        "ts", _normalize_ts(schema["ts"].dataType).cast("timestamp")
    )


# Stateful operators fix their state-partition count at the FIRST
# checkpoint, and every micro-batch then pays per-partition state-store
# maintenance (snapshot + delta files) regardless of data volume — so
# the right number tracks key cardinality/throughput, NOT cores.
# 32 partitions on the local fixtures is pure overhead (q67 measured
# 24s -> 9s going 32 -> 8 at sf0.1); a production deployment sets this
# to thousands via the env knob.
STREAM_STATE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8")
)


class _state_partitions:
    """Scope spark.sql.shuffle.partitions around a streaming start: the
    value is captured into the query's state layout at start, then the
    session conf is restored for batch work."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS)
        )

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def run_to_memory(stream_df: DataFrame, query_name_prefix: str = "sq") -> DataFrame:
    """Drive a streaming plan to completion (availableNow) into a memory
    sink; return the materialized table."""
    return _run_to_memory(stream_df, query_name_prefix, "complete")


def run_append_to_memory(stream_df: DataFrame, query_name_prefix: str = "sa") -> DataFrame:
    return _run_to_memory(stream_df, query_name_prefix, "append")


def run_update_to_memory(stream_df: DataFrame, query_name_prefix: str = "su") -> DataFrame:
    return _run_to_memory(stream_df, query_name_prefix, "update")


def _run_to_memory(stream_df: DataFrame, prefix: str, mode: str) -> DataFrame:
    name = f"{prefix}_{next(_SINK_COUNTER)}"
    spark = stream_df.sparkSession
    with _state_partitions(spark):
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # copy the finished result out of the memory sink and DROP the sink
    # table: each run registers a fresh uniquely-named sink (q67/q103's
    # holds the pre-aggregation join pairs), so a long session — the
    # driver's 50-query sweep, determinism_check's double runs — would
    # otherwise pin every streaming query's full output in driver
    # memory forever
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


@query(
    "q50_stream_tumbling_window",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*)                                              AS n_events,
       CAST(CAST(sum(CAST(value AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)     AS total_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q50_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation over the event stream.

    The streaming result must equal the batch date_trunc aggregation —
    that equivalence IS the oracle (watermark completeness at
    availableNow: no late data is dropped because replay is in-order).
    """
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,8)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    res = run_to_memory(agg, "tumble")
    return res.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "n_events",
        "total_value",
    ).orderBy("window_start", "event_type")


@query(
    "q51_stream_sliding_window",
    oracle="""
WITH slides AS (SELECT unnest([0, 30]) AS off_min),
w AS (
    SELECT strftime(date_trunc('hour', ts - to_minutes(off_min)) + to_minutes(off_min),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           value
    FROM events, slides
)
SELECT window_start,
       count(*)                                          AS n_events,
       CAST(CAST(sum(CAST(value AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS total_value
FROM w
GROUP BY 1
ORDER BY 1
""",
)
def q51_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min slide): each event lands in 2
    windows; the oracle replicates the window assignment arithmetic."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,8)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    res = run_to_memory(agg, "slide")
    return res.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "n_events",
        "total_value",
    ).orderBy("window_start")


@query(
    "q52_stream_session_window",
    oracle="""
WITH ordered AS (
    SELECT user_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
    FROM events
),
flagged AS (
    SELECT user_id,
           CASE WHEN prev_ts IS NULL
                  OR ts >= prev_ts + INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
    FROM ordered
)
SELECT user_id,
       sum(new_s)::BIGINT AS n_sessions,
       count(*)::BIGINT AS n_events
FROM flagged
GROUP BY user_id
ORDER BY user_id
""",
)  # oracle states the BATCH gaps-and-islands the finished stream must equal
def q52_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user via F.session_window —
    the streaming twin of batch q21_sessionize (equivalence asserted in
    tests/test_streaming.py)."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    res = run_to_memory(agg, "sess")
    return (
        res.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


@query(
    "q53_stream_dedupe",
    # upgraded from rows-only (VERDICT r03 #5): the fixture is a single
    # parquet file, so availableNow runs ONE data micro-batch — the
    # dedup state never evicts mid-stream and the emitted set is
    # exactly one row per distinct (user_id, event_type), a batch
    # aggregate. The +max(CASE...) term counts a NULL event_type group
    # the way the stateful operator does (NULL is a key value to
    # dropDuplicates, but count(DISTINCT) skips it).
    oracle="""
SELECT user_id,
       CAST(count(DISTINCT event_type)
            + max(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_first_events
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def q53_stream_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: first event per (user_id, event_type)
    within the watermark (dropDuplicatesWithinWatermark).

    Oracle note: on the single-file fixture the availableNow replay is
    one micro-batch, so no state eviction happens before completion
    and the emitted set equals the batch distinct — which is what the
    DuckDB twin states. A multi-file fixture directory would replay as
    several micro-batches and re-emit pairs whose state the advancing
    watermark evicted; the oracle (and the driver check) would then be
    declared rows-only again."""
    events = read_events_stream(spark, sf_dir)
    deduped = (
        events.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "event_id")
    )
    res = run_append_to_memory(deduped, "dedup")
    return res.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_first_events")
    ).orderBy("user_id")


@query(
    "q67_stream_stream_join",
    oracle="""
SELECT p.event_id AS purchase_id, count(*)::BIGINT AS n_views_1h
FROM events p
JOIN events v
  ON v.user_id = p.user_id
 AND v.event_type = 'view'
 AND v.ts > p.ts - INTERVAL 1 HOUR
 AND v.ts <= p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id
ORDER BY purchase_id
""",
)  # oracle states the BATCH semantics the finished stream must equal
def q67_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases joined to views of the same
    user within the preceding hour — the streaming twin of the batch
    banded range join (q43).

    Both sides are watermarked so Spark can bound the join state: a
    buffered view can be evicted once the watermark passes its ts + 1h
    (the join condition's reach). Output counts views per purchase;
    batch equivalence is asserted in tests/test_streaming.py.
    """
    events = read_events_stream(spark, sf_dir)
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "10 minutes")
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "inner",
    )
    res = run_append_to_memory(joined, "ssj")
    return (
        res.groupBy("purchase_id")
        .agg(F.count(F.lit(1)).alias("n_views_1h"))
        .orderBy("purchase_id")
    )


@query(
    "q78_stateful_running_stats",
    oracle="""
SELECT user_id,
       count(*)::BIGINT AS n_events,
       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value,
       max(event_id) AS max_event_id
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)  # oracle states the batch aggregate the final state must equal;
# exactness holds because the state accumulates integer cents
def q78_stateful_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running count/sum/max carried across micro-batches; the final state
    must equal the batch groupBy (tests/test_streaming.py).

    This is the extension point for operators Structured Streaming
    lacks natively — state is explicit, Arrow-batched, and bounded per
    key (three scalars here).

    Scale note: the memory-sink row count is users x micro-batches
    (update-mode emission bound — see running_user_stats' docstring),
    and this keep-last dedup then reduces it back to one row per user.
    That shape is right for the harness's deterministic replay; a
    100 TB deployment wanting final state sizes its triggers to the
    emission budget (measured value-neutral on this operator, TUNING.md
    "Retired one-shot tools") or swaps the memory sink + dedup for a
    foreachBatch keyed upsert (the streaming/incremental.py machinery,
    driver-green as q86).
    """
    from batch_processing_new_spark.streaming.stateful import running_user_stats

    events = read_events_stream(spark, sf_dir)
    res = run_update_to_memory(running_user_stats(events), "stateful")
    # update mode emits one row per user per micro-batch: keep the final
    # state per user (max n_events is the last emission)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        res.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value", "max_event_id")
        .orderBy("user_id")
    )


@query(
    "q103_stream_left_outer_join",
    # upgraded from rows-only (VERDICT r03 #5). The closed-region
    # boundary was derived EMPIRICALLY, then each term verified:
    # Spark's global watermark is the MIN over both watermark nodes of
    # (max event time seen, at millisecond resolution) - 10 min — the
    # purchase stream's own maximum governs here (the last purchase in
    # the fixture is exactly the one unemitted no-view row), not the
    # table-wide max ts. An unmatched purchase emits its NULL row iff
    # p_ts < that watermark; matched purchases emit inner rows
    # unconditionally (single data micro-batch, nothing evicted early).
    oracle="""
WITH wm AS (
    SELECT date_trunc('milliseconds', least(
               (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
               (SELECT max(ts) FROM events WHERE event_type = 'view')
           )) - INTERVAL 10 MINUTE AS wm
),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
j AS (
    SELECT p.event_id AS purchase_id, p.ts AS p_ts, v.event_id AS view_id
    FROM p LEFT JOIN v
      ON v.user_id = p.user_id
     AND v.ts >  p.ts - INTERVAL 1 HOUR
     AND v.ts <= p.ts
)
SELECT purchase_id, count(view_id) AS n_views_1h
FROM j, wm
WHERE view_id IS NOT NULL OR j.p_ts < wm.wm
GROUP BY purchase_id
ORDER BY purchase_id
""",
)
def q103_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every purchase with its count of
    same-user views in the preceding hour — INCLUDING purchases with no
    views, which is what the outer side adds over q67 and what makes
    state eviction semantically load-bearing: an unmatched purchase may
    only emit its NULL row once the watermark proves no matching view
    can still arrive (v_ts <= p_ts, so the match window closes when the
    watermark passes p_ts).

    Purchases inside the final watermark gap (last 10 minutes of the
    stream) therefore stay open and never emit — not a bug but THE
    watermark contract; tests/test_streaming.py asserts exact batch
    equivalence over the closed region.
    """
    events = read_events_stream(spark, sf_dir)
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "10 minutes")
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "left_outer",
    )
    res = run_append_to_memory(joined, "ssloj")
    return (
        res.groupBy("purchase_id")
        .agg(F.count(F.col("view_id")).alias("n_views_1h"))
        .orderBy("purchase_id")
    )


@query(
    "q124_stream_static_join",
    oracle="""
WITH e AS (
    SELECT e.user_id, e.value, c.c_mktsegment,
           date_trunc('day', e.ts) AS d
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
)
SELECT strftime(d, '%Y-%m-%d %H:%M:%S')                   AS day,
       c_mktsegment                                       AS segment,
       count(*)                                           AS n_events,
       CAST(CAST(sum(CAST(value AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)  AS total_value
FROM e
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q124_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the most common production
    streaming shape: the event stream joins a BATCH dimension table
    (customer) that is re-read per micro-batch, then aggregates per
    (day, market segment). No watermark is needed on the static side
    and the dimension broadcast keeps the stream side shuffle-free
    until the windowed aggregate.

    Oracle: with an in-order availableNow replay the result must equal
    the batch join + date_trunc aggregation exactly.
    """
    from batch_processing_new_spark.sources.readers import load_table

    events = read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = events.join(F.broadcast(dim), "user_id")
    agg = (
        joined.withWatermark("ts", "10 minutes")
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,8)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    res = run_to_memory(agg, "sstatic")
    return res.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("day"),
        "segment",
        "n_events",
        "total_value",
    ).orderBy("day", "segment")
