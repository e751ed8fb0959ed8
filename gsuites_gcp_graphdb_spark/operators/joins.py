"""Temporal join operators (SURVEY.md §2C theta/range/as-of row —
absent in the reference, included for the north-star event surface).

Both are compositions of stock DataFrame ops, so Catalyst plans them:

- as_of_join: each left row matches the latest right row with
  right_ts <= left_ts (per key) — the classic event-enrichment join.
  Implemented as union + window (one shuffle on key, no range
  explosion): tag rows, sort by (key, ts), carry the last right row
  forward with last(ignorenulls) — O(n log n) per key vs the naive
  theta-join's O(n*m).
- range_join: left rows matched to right [start, end) intervals per
  key. Implemented as an equi-join on (key, coarse bucket) + residual
  range filter — the bucketed-range-join trick that keeps it an
  equi-shuffle for Catalyst instead of a broadcast-nested-loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def parse_broadcast_threshold(spark) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` as plain bytes.

    Spark accepts the value as a bare byte count or with a k/m/g
    suffix (optionally trailing 'b'), and ``-1`` disables
    broadcasting. Used by skew_join_auto's regime pick."""
    thr = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    mult = units.get(thr.rstrip("b")[-1:], 1)
    digits = "".join(ch for ch in thr if ch.isdigit() or ch == "-")
    return int(digits or "0") * mult


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """For every left row: the most recent right row at-or-before its
    timestamp, per key. Right columns come back suffixed; rows with no
    prior right row keep nulls (left outer semantics)."""
    right_cols = right_cols or [
        c for c in right.columns if c not in (key, right_ts)
    ]
    lt = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(*left.columns).alias("__l"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
          for c in right_cols],
    )
    rt = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(lt.schema["__l"].dataType).alias("__l"),
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
    )
    # right rows sort before left rows at equal ts (side desc) so an
    # exactly-simultaneous right row IS visible to the left row.
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__ts").asc(), F.col("__side").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = lt.unionByName(rt).select(
        "__side",
        "__l",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__c_{c}")
            for c in right_cols
        ],
    )
    out = carried.filter(F.col("__side") == 0).select(
        *[F.col("__l")[c].alias(c) for c in left.columns],
        *[F.col(f"__c_{c}").alias(f"{c}{suffix}") for c in right_cols],
    )
    return out


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-busting equi-join: the left (skewed) side gets a random-ish
    but DETERMINISTIC salt (hash of all columns mod `salt`); the right
    side replicates `salt` times. The hot key's rows spread over
    `salt` reducers instead of one.

    AQE's skew-join split handles moderate skew automatically; this is
    the explicit tool for the pathological hubs the reference warns
    about (allUsers, roles/owner with 1000s of permissions,
    README.md:467-472) where one key exceeds a single executor.
    """
    lsalted = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt)).cast(
            "int"
        ),
    )
    rsalted = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return lsalted.join(rsalted, [key, "__salt"], how).drop("__salt")


def skew_join_auto(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skewed-fact-to-dim equi-join that PICKS the regime, encoding the
    round-6/7 x64 measurement (SCALING.md skew regimes): when the dim
    side fits the broadcast threshold, the plain broadcast join is
    strictly better — the skewed fact never shuffles, so there is no
    hot reducer for salting to fix, and the salt explode is pure
    overhead (measured 0.84s plain vs 1.90s salted on the x64 hub
    fixture); salting earns its 1.4-1.7x only when NEITHER side
    broadcasts and the hot key would overload one SMJ reducer.

    Size source: Catalyst's optimized-plan sizeInBytes estimate of
    each side — the same pre-runtime statistic the planner's
    broadcast decision uses, so the choice here agrees with what
    Catalyst would have picked and simply adds the salted fallback on
    the other side of the threshold. The decision is plan-build-time
    and metadata-only (no job runs).

    THIRD regime (r9, measured on the x64-hub traversal probe):
    salting replicates the right side ``salt`` times, so it only
    earns its 1.4-1.7x when that replication is cheap relative to
    the left shuffle it de-skews. With a 1.2M-row frontier as the
    right side, salted ran 13.3s vs 1.0s plain — AQE's runtime
    skew-split already handles one-sided hot keys, and 16x-ing a
    big dim buries that win. Rule: salt only while salt *
    right_size stays under ~a quarter of the left estimate; beyond
    that, emit the plain join and let AQE split the hot
    partitions."""
    spark = right.sparkSession
    threshold = parse_broadcast_threshold(spark)
    right_size = _plan_size_bytes(right)
    if threshold > 0 and right_size <= threshold:
        return left.join(F.broadcast(right), [key], how)
    # A Catalyst estimate at/near defaultSizeInBytes (Long.Max) means
    # "no usable statistic" (e.g. an ExistingRDD/local relation) —
    # keep the r8 behavior there (salt: the caller reached for this
    # operator because the left side is hub-skewed).
    _UNKNOWN = 1 << 62
    if right_size >= _UNKNOWN:
        return salted_join(left, right, key, salt=salt, how=how)
    left_size = _plan_size_bytes(left)
    # An unknown left estimate leaves the quarter test nothing to
    # compare against; the safe regime is plain + AQE skew-split,
    # never a 16x replication of the right side.
    if left_size >= _UNKNOWN:
        return left.join(right, [key], how)
    if right_size * salt <= max(8 * max(threshold, 0), left_size // 4):
        return salted_join(left, right, key, salt=salt, how=how)
    return left.join(right, [key], how)


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan sizeInBytes estimate for ``df``."""
    # py4j maps scala.math.BigInt through to a Python int already
    return int(
        str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_start: str,
    right_end: str,
    bucket: Column | None = None,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Inner join: left rows to right intervals [start, end) sharing
    ``key``. Both sides explode to coarse time buckets so the join is
    an equi-join on (key, bucket); the exact range predicate applies
    as a residual filter. Intervals spanning b buckets duplicate b
    times on the right (bounded, unlike a full theta join).

    Bucket ids use the same exact integer floor-division as
    interval_overlap_join: float division loses integer precision
    above 2^53 us and truncates toward zero pre-epoch; the result SET
    is bucket-independent (residual filter is exact) but a collapsed
    bucket id would silently degrade candidate pruning."""
    us = bucket_seconds * 1_000_000

    def _b(col: str) -> Column:
        return F.expr(
            f"(unix_micros({col}) - pmod(unix_micros({col}), {us}))"
            f" div {us}"
        )

    lb = left.withColumn("__b", _b(left_ts))
    rb = right.withColumn("__bs", _b(right_start)).withColumn(
        "__be", _b(right_end)
    )
    rexp = rb.withColumn(
        "__b", F.explode(F.sequence(F.col("__bs"), F.col("__be")))
    ).drop("__bs", "__be")
    joined = lb.join(rexp, [key, "__b"]).filter(
        (F.col(left_ts) >= F.col(right_start))
        & (F.col(left_ts) < F.col(right_end))
    )
    return joined.drop("__b")


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 1,
    block_len: int = 6,
) -> DataFrame:
    """Similarity (fuzzy) join on strings — the entity-resolution
    primitive: pair rows whose keys are within ``max_dist`` edits,
    without ever forming the cross product. Candidates come from
    BLOCKING on the first ``block_len`` characters (records disagreeing
    inside the block can't pair, an accepted-blocking tradeoff this
    operator makes explicit rather than hiding); the exact
    levenshtein filter then runs only inside blocks.

    Scale shape: the blocking key turns an O(|L|x|R|) cross join into
    an equi-join shuffled on the block prefix — candidate volume is
    sum of per-block |L_b|x|R_b|, controlled by block_len exactly the
    way the dedup family's df-cut controls posting-list blowup. Skewed
    blocks (a too-common prefix) are AQE's skew-join case; raising
    block_len shrinks blocks geometrically. levenshtein() is a
    built-in (JVM codegen), identical metric in DuckDB, so the
    operator oracle-checks exactly.
    """
    lt = left.select(
        F.col(left_col).alias("left_key"),
        F.substring(F.col(left_col), 1, block_len).alias("__blk"),
    )
    rt = right.select(
        F.col(right_col).alias("right_key"),
        F.substring(F.col(right_col), 1, block_len).alias("__blk"),
    )
    return (
        lt.join(rt, ["__blk"])
        .withColumn(
            "edit_dist", F.levenshtein("left_key", "right_key")
        )
        .filter(F.col("edit_dist") <= max_dist)
        .select("left_key", "right_key", F.col("edit_dist").cast("bigint").alias("edit_dist"))
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_seconds: int | None = None,
) -> DataFrame:
    """Interval-interval OVERLAP join: left [l_start, l_end) rows to
    right [r_start, r_end) rows sharing ``key`` whose intervals
    intersect — the third classic temporal join after as-of
    (point-to-latest) and range (point-in-interval). Overlap test:
    l_start < r_end AND r_start < l_end (half-open semantics; touching
    endpoints do NOT overlap).

    Scale shape: BOTH sides explode to coarse time buckets and the
    join is an equi-join on (key, bucket) + residual overlap filter —
    the same bucketization as range_join, so Catalyst plans a hash
    shuffle, never a BroadcastNestedLoop theta join. An interval
    spanning b buckets duplicates b times; overlapping pairs that
    co-occur in several buckets are deduplicated by the
    dropDuplicates on the pair of interval identities (all original
    columns are preserved; callers keying rows should pass pre-keyed
    frames).

    Bucket sizing trades duplication (long intervals explode to many
    buckets) against join fan-in (busy buckets): the sweet spot is
    near the median interval length. By default the width is DERIVED
    from the data — the EXACT median (percentile 0.5) over both sides'
    span durations, one tiny 1-row aggregate whose result binds the
    bucket constant (the AQE-statistics pattern; the result SET is
    bucket-width-independent, only the plan cost moves). Exact rather
    than percentile_approx: the approx sketch's merge is
    partition-order-dependent, so the derived width — and with it the
    plan's explain shape — would not be strictly reproducible
    run-to-run. Note this derivation makes the builder EAGER (it runs
    one small Spark job at plan-build time); pass ``bucket_seconds``
    to keep it lazy and to pin plan-shape-asserting tests. The round-6
    scale ladder measured 6x between a well- and mis-sized constant
    (hour buckets on week-long spans); auto-sizing removes that
    caller-discipline trap. Pass ``bucket_seconds`` to pin it.

    Bucket ids use exact integer floor-division on unix_micros:
    float division loses integer precision above 2^53 (~1.7e18 us is
    ulp ~512 us) and `div` alone truncates toward zero for pre-1970
    timestamps; `(x - pmod(x, us)) div us` floors exactly."""
    if bucket_seconds is None:
        med = (
            left.select(
                (
                    F.unix_micros(F.col(l_end))
                    - F.unix_micros(F.col(l_start))
                ).alias("__d")
            )
            .unionByName(
                right.select(
                    (
                        F.unix_micros(F.col(r_end))
                        - F.unix_micros(F.col(r_start))
                    ).alias("__d")
                )
            )
            .agg(F.expr("percentile(__d, 0.5)").alias("m"))
            .first()[0]
        )
        us = max(int(med or 0), 1_000_000)
    else:
        us = bucket_seconds * 1_000_000

    def _b(col: str) -> Column:
        return F.expr(
            f"(unix_micros({col}) - pmod(unix_micros({col}), {us}))"
            f" div {us}"
        )

    lb = left.withColumn(
        "__b", F.explode(F.sequence(_b(l_start), _b(l_end)))
    )
    rb = right.withColumn(
        "__b", F.explode(F.sequence(_b(r_start), _b(r_end)))
    )
    joined = (
        lb.join(rb, [key, "__b"])
        .filter(
            (F.col(l_start) < F.col(r_end))
            & (F.col(r_start) < F.col(l_end))
        )
        .drop("__b")
        .dropDuplicates()
    )
    return joined
