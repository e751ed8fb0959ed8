"""Parquet fixture sources (TESTDATA.md).

The reference crawls live Google APIs with pagination + rate limiting
(main.go:189-730, main.go:99-102); our sources are declarative parquet
scans, so pagination/pacing collapse into Spark's own scan planning
(files.maxPartitionBytes) and predicate/column pushdown does the
"crawl only what you need" job (e.g. the ACTIVE-project filter at
main.go:722 becomes a pushed-down filter).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TimestampType regardless of
    how the fixture stored it. Generations of the fixture have used
    TIMESTAMP(NANOS) (read as long via nanosAsLong, exact integer
    `div 1000` to micros — `div` not `/` because epoch nanos ~1.7e18
    exceed double's 2^53 exact range), plain TIMESTAMP(MICROS) (read as
    TIMESTAMP_NTZ by Spark's inferTimestampNTZ), or TIMESTAMP with tz.
    Downstream window/session/unix_micros plans all assume
    TimestampType, so dispatch on the actual scanned type.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        # Session tz is UTC in this environment; NTZ micros -> TIMESTAMP
        # is an exact reinterpretation, matching the oracle's naive read.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# r15 (guide §6 — per-read metadata I/O): every `spark.read.parquet`
# re-infers the schema from file footers (~65 ms of driver time per
# call on this box), and every query path builds its plan fresh, so a
# bench rep pays that per table per rep. The SCHEMA is metadata fully
# determined by the fixture files, so it is inferred ONCE per file
# state and memoized, keyed by the file's (mtime_ns, size) signature —
# a regenerated fixture changes the signature and re-infers, exactly
# the graph_store_prefix staleness discipline. This caches no data and
# no results: every read still scans the parquet itself (same class as
# the declared knn_save index schemas and Spark's own session
# FileStatusCache for listings).
_SCHEMA_CACHE: dict[str, tuple[tuple, object]] = {}


def _path_sig(path: str) -> tuple:
    """(mtime_ns, size) of a file; for a directory, (name, mtime_ns,
    size) of each top-level entry. Not recursive: fixture tables are
    flat single parquet files, so a fixture dir's listing covers every
    byte a query reads (the same signature keys graph_store_prefix)."""
    if os.path.isdir(path):
        return tuple(
            (fn, s.st_mtime_ns, s.st_size)
            for fn in sorted(os.listdir(path))
            for s in (os.stat(os.path.join(path, fn)),)
        )
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # nanosAsLong is a no-op for micros-encoded fixtures but keeps
        # the nanos-encoded generation readable at all. Set BEFORE any
        # read (including the one-time inference) so a nanos-encoded
        # ts infers as long; normalize_events_ts dispatches on the
        # scanned type either way, cached or inferred.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sig = _path_sig(path)
    hit = _SCHEMA_CACHE.get(path)
    if hit is not None and hit[0] == sig:
        df = spark.read.schema(hit[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = (sig, df.schema)
    return normalize_events_ts(df) if name == "events" else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each fixture table as a temp view for spark.sql use."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
