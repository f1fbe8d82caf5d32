"""Streaming operators over the events table shape
(event_id, ts, user_id, event_type, value, props).

Each builder takes a streaming DataFrame (``readStream``) and returns the
transformed streaming DataFrame; callers attach their own sink. Tests drive
them with the parquet source + memory sink + ``processAllAvailable`` (the
batch-equivalent results are oracle-checked via the batch twins in
queries/relational.py).

Scale notes: watermarks bound state; session windows use Spark's native
``session_window`` (state per active session, not per event); the dedup
operator keeps only event_ids inside the watermark horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    """readStream over the events parquet directory (test harness source;
    production swaps in kafka/kinesis — the transforms don't change).

    Timestamp resolution is probed from the file footer (batch read, cheap),
    matching queries.registry.load_table: a TIMESTAMP(NANOS) file surfaces
    ts as bigint under nanosAsLong and gets truncated to µs; a
    TIMESTAMP(MICROS) file streams as a native timestamp untouched.
    Assuming one or the other silently corrupts event time (a µs file read
    as nanos lands in 1970 and the watermark never closes windows).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = spark.read.parquet(f"{sf_dir}/events.parquet")
    nanos = dict(probe.dtypes).get("ts") == "bigint"
    schema = T.StructType(
        [
            f if f.name != "ts" or not nanos else T.StructField("ts", T.LongType())
            for f in EVENTS_SCHEMA.fields
        ]
    )
    # FileStreamSource requires a directory: stream the sf dir, glob-filtered
    # to the events file(s).
    raw = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw


def tumbling_counts(
    events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type — the streaming twin
    of the batch `events_tumbling_window` query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "v",
        )
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows (gap-based) — the streaming twin of the batch
    `events_sessionize` query. State is one row per open session."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once event stream: drop duplicate event_ids within the
    watermark horizon (Spark keeps a bounded dedup state keyed on event_id)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def run_to_memory(spark: SparkSession, streaming_df: DataFrame, name: str, output_mode: str = "append"):
    """Test/demo helper: drive a streaming query to completion synchronously
    against the bounded file source, materializing into an in-memory table."""
    q = (
        streaming_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


def user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    (event count, value total), emitted as an update stream.

    This is the arbitrary-state API the reference has no analogue for —
    state is a (count, total) tuple per user_id, stored by Spark's state
    store (RocksDB/HDFS-backed on a cluster), so cardinality is bounded by
    |users|, not |events|.
    """
    import pandas as pd  # noqa: PLC0415

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("count", T.LongType()), T.StructField("total", T.DoubleType())]
    )

    def update(key, pdfs, state):
        (user_id,) = key
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            count += len(pdf)
            total += float(pdf["value"].sum())
        state.update((count, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [count], "total_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", "NoTimeout"
    )


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment: join a streaming DataFrame against a batch
    dimension table. Spark re-plans the static side per micro-batch (so
    dimension updates are picked up); with the dimension under the
    broadcast threshold the join is stateless — no streaming state at all.
    The planner chooses the strategy from the static side's size estimate
    (a mandatory broadcast hint on an arbitrary caller-provided table
    would be an executor OOM hazard)."""
    return events.join(dim, on, how)


def stream_stream_join(
    purchases: DataFrame,
    views: DataFrame,
    join_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: purchases ⋈ prior views by user within a
    time bound. Both sides are watermarked and the join condition carries
    the time-range predicate, so Spark can expire buffered rows — state is
    bounded by (watermark + join window), the canonical interval-join shape.
    """
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    v = (
        views.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    return p.join(
        v,
        (p.user_id == v.v_user_id)
        & (v.view_ts <= p.purchase_ts)
        & (v.view_ts >= p.purchase_ts - F.expr(f"INTERVAL {join_window}")),
    ).select("purchase_id", "user_id", "purchase_ts", "purchase_value", "view_id", "view_ts")


def asof_join_stream(
    left: DataFrame,
    right: DataFrame,
    by: str = "user_id",
    left_id: str = "event_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tolerance: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of the batch as-of join (operators.asof.asof_join,
    direction='backward' with a tolerance): each left event picks the
    LATEST right event at-or-before its timestamp within ``tolerance``,
    per ``by`` key.

    Spark has no native streaming as-of, so it composes from two
    watermark-bounded stateful operators (chained stateful ops, Spark
    3.4+): (1) a stream-stream interval join — the tolerance becomes the
    time-range predicate, so buffered state is bounded by watermark +
    tolerance, never unbounded history; (2) an event-time aggregation
    per left event that keeps the max-timestamp candidate (max_by — a
    partial-aggregable reduction, not a sort). Left events with no
    candidate in the window simply don't appear (inner semantics); the
    batch operator's NULL-match rows are the difference, asserted in the
    differential test. This is the canonical scale shape: state is
    O(events inside the tolerance window), identical to the batch
    operator's union-and-carry locality."""
    lt = left.withWatermark(ts_col, watermark).select(
        F.col(left_id).alias("__lid"),
        F.col(by).alias("__by"),
        F.col(ts_col).alias("__lts"),
    )
    rt = right.withWatermark(ts_col, watermark).select(
        F.col(by).alias("__rby"),
        F.col(ts_col).alias("__rts"),
        F.col(value_col).alias("__rval"),
    )
    joined = lt.join(
        rt,
        (lt["__by"] == rt["__rby"])
        & (rt["__rts"] <= lt["__lts"])
        & (rt["__rts"] >= lt["__lts"] - F.expr(f"INTERVAL {tolerance}")),
    )
    # event-time grouping key (__lts) lets the aggregation state expire
    # with the watermark PROPAGATED through the join (re-declaring one
    # here is a "redefining watermark" error under chained stateful
    # operators); max_by picks the as-of row without a sort
    # tiebreak on duplicate right timestamps: the same content-hash rule
    # as the batch operator (operators.asof carries the largest
    # xxhash64(value_cols) among ties — Spark's xxhash64 already seeds
    # with 42, so the hash input must be the value column ALONE or the
    # twins compute different hash functions and diverge on ties)
    rank = F.struct(F.col("__rts"), F.xxhash64("__rval").alias("__tie"))
    return (
        joined.groupBy("__lid", "__by", "__lts")
        .agg(
            F.max("__rts").alias("matched_ts"),
            F.max_by("__rval", rank).alias("matched_value"),
        )
        .select(
            F.col("__lid").alias(left_id),
            F.col("__by").alias(by),
            F.col("__lts").alias(ts_col),
            "matched_ts",
            "matched_value",
        )
    )
