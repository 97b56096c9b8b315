"""Unique-visitor views: exact and HyperLogLog.

Parity: `uniquesView` + `ConstructHyperLogLog`/`MergeHyperLogLog`
(`BatchWorkflow.java:428-493`). The reference stores a mergeable
HLL(lgK=14) sketch per (url, hour) and merges sketches up to
coarser granularities — we use Spark's native Apache DataSketches
HLL (`hll_sketch_agg` / `hll_union_agg`, JVM-side, map-side
partial agg) with the same two-level shape, so the only full-data
shuffle is the hourly sketch build.

The exact variant exists because the driver's DuckDB oracle can
check it; it fans hour rows to all granularities *before* a
count-distinct (distinct counts aren't summable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.timebuckets import emit_granularities, hour_bucket

HLL_LGK = 14  # parity: new HyperLogLog(14), BatchWorkflow.java:430


def uniques_exact(df: DataFrame, key: str, ts: str, user: str) -> DataFrame:
    """Exact distinct users per (key, granularity, bucket).

    Two-level like the HLL path: dedup (key, hour, user) FIRST (the
    only shuffle over the full fact table, with map-side partial
    dedup), then fan the much smaller distinct set to the 4
    granularities. Distinct-over-hour-distinct ≡ distinct, so
    results are unchanged — but the 4× explode never touches raw
    facts.
    """
    hourly_users = (
        df.select(F.col(key), hour_bucket(F.col(ts)).alias("hour_bucket"), F.col(user))
        .distinct()
    )
    fanned = hourly_users.select(
        key,
        F.explode(emit_granularities(F.col("hour_bucket"))).alias("gb"),
        F.col(user),
    ).select(
        key,
        F.col("gb.granularity").alias("granularity"),
        F.col("gb.bucket").alias("bucket"),
        user,
    )
    return fanned.groupBy(key, "granularity", "bucket").agg(
        F.count_distinct(F.col(user)).alias("unique_visitors")
    )


def uniques_hll(df: DataFrame, key: str, ts: str, user: str) -> DataFrame:
    """HLL-estimated distinct users per (key, granularity, bucket).

    Two-level: hourly sketches over the fact table (one shuffle with
    map-side partials), then sketch *union* — not re-scan — for the
    coarser granularities, exactly the reference's merge strategy.
    """
    hourly = (
        df.select(F.col(key), hour_bucket(F.col(ts)).alias("hour_bucket"), F.col(user))
        .groupBy(key, "hour_bucket")
        .agg(F.hll_sketch_agg(F.col(user), F.lit(HLL_LGK)).alias("sketch"))
    )
    fanned = hourly.select(
        key,
        F.explode(emit_granularities(F.col("hour_bucket"))).alias("gb"),
        "sketch",
    ).select(key, F.col("gb.granularity").alias("granularity"), F.col("gb.bucket").alias("bucket"), "sketch")
    return fanned.groupBy(key, "granularity", "bucket").agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"))).alias("unique_visitors_est")
    )


def uniques_hll_sketches(df: DataFrame, key: str, ts: str, user: str) -> DataFrame:
    """Raw mergeable HLL sketch BYTES per (key, granularity, bucket)
    — the value the reference actually ships to its serving store
    (`uniquesElephantDB` + `ToSerializedString`,
    `BatchWorkflow.java:367-397`): the serving layer stores the
    sketch, not the estimate, so downstream readers can keep
    merging (e.g. ad-hoc bucket ranges) before estimating.

    Same two-level build as `uniques_hll` (hourly sketches = the
    only full-data shuffle; coarser granularities by sketch union),
    but the final union is NOT collapsed to an estimate — the
    ``sketch`` column is the compact-serialized DataSketches HLL
    binary, directly usable as a key/value export value and
    re-unionable / estimable on read via ``hll_union_agg`` /
    ``hll_sketch_estimate``.
    """
    hourly = (
        df.select(F.col(key), hour_bucket(F.col(ts)).alias("hour_bucket"), F.col(user))
        .groupBy(key, "hour_bucket")
        .agg(F.hll_sketch_agg(F.col(user), F.lit(HLL_LGK)).alias("sketch"))
    )
    fanned = hourly.select(
        key,
        F.explode(emit_granularities(F.col("hour_bucket"))).alias("gb"),
        "sketch",
    ).select(
        key,
        F.col("gb.granularity").alias("granularity"),
        F.col("gb.bucket").alias("bucket"),
        "sketch",
    )
    return fanned.groupBy(key, "granularity", "bucket").agg(
        F.hll_union_agg(F.col("sketch")).alias("sketch")
    )
