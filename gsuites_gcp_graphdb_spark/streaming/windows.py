"""Event-time windowing over the ``events`` table — batch and
Structured Streaming forms (north-star surface; the reference is pure
batch ETL, its nearest analog being the rate-limited incremental
crawl, SURVEY.md §2C).

The batch forms are oracle-checkable (t2); the streaming forms reuse
the identical aggregation expressions over ``readStream`` with
watermarks, so correctness of the window math is established by the
oracle and the streaming tests only need to cover watermark/late-data
semantics.

Money-typed sums are computed in DECIMAL (exact, order-independent)
then cast to double — float sums would be partition-order dependent
and could never hash-match an oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def tumbling_counts(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    """Tumbling event-time windows: per (window, event_type) count +
    exact value sum. DuckDB twin: time_bucket(INTERVAL, ts)."""
    return (
        events.groupBy(
            F.window("ts", width).alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("__sum"),
        )
        .select(
            F.col("w.start").alias("bucket"),
            "event_type",
            "n",
            F.col("__sum").cast("double").alias("value_sum"),
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Sliding windows (width/slide): each event lands in
    width/slide windows. DuckDB twin: unnest over the bucket offsets."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(F.col("w.start").alias("bucket"), "n")
    )


def session_counts_batch(
    events: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a session breaks when
    the per-user gap exceeds ``gap_minutes``. Returns per-user session
    count + max session size. Total tiebreak (ts, event_id) makes lag
    deterministic under equal timestamps.

    DuckDB twin: identical lag/cumsum SQL. The streaming counterpart
    is session_window() below."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros: exact integer microseconds — bit-identical to the
    # oracle's epoch_us(ts), immune to float-seconds rounding.
    gapped = events.select(
        "user_id",
        "ts",
        "event_id",
        (
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts")), 1).over(w)
            > gap_minutes * 60 * 1_000_000
        )
        .cast("int")
        .alias("is_break"),
    ).fillna(0, ["is_break"])
    sessioned = gapped.withColumn(
        "session_id", F.sum("is_break").over(w)
    )
    per_session = sessioned.groupBy("user_id", "session_id").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.max("n_events").cast("bigint").alias("max_session_events"),
        )
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "n_sessions",
            "max_session_events",
        )
    )


def session_window_streaming_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session_window aggregation — works on both batch and
    streaming DataFrames (state-store backed when streaming)."""
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("w"), F.col("user_id")
        )
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def windowed_stream_counts(stream: DataFrame, width: str = "10 minutes") -> DataFrame:
    """Streaming tumbling counts: watermark + window + count. In
    append mode a window emits once the watermark passes its end."""
    return (
        stream.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("bucket"), "event_type", "n")
    )
