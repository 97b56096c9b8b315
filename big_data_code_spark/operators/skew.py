"""Skew-handling primitives: salted aggregation and salted joins.

At 100 TB a handful of hot keys (the reference's equivalent: one
viral URL in the pageview stream) can pin an entire stage on one
task. Two standard remedies, packaged as reusable operators:

- `salted_sum_count`: two-phase aggregate — phase 1 aggregates on
  (key, salt) spreading a hot key over N tasks, phase 2 combines
  the N partials. Works for any algebraic aggregate; sum/count
  cover the engine's rollups (avg = sum/count downstream).
- `salted_broadcast_left_join`: replicate the (small) right side N
  times with explicit salt, salt the left side randomly, join on
  (key, salt) — each hot-key row lands on one of N tasks instead
  of all on one.

AQE's skew-join handling (`spark.sql.adaptive.skewJoin`) covers
sort-merge joins at runtime; these operators cover aggregations and
broadcast shapes AQE doesn't split. Salting is deterministic-free
(`rand`-based) but result-invariant, which the tests assert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_sum_count(
    df: DataFrame, keys: list[str], value: str, n_salt: int = 16
) -> DataFrame:
    """sum+count per key, via a (key, salt) pre-aggregate.

    Returns (keys..., sum_<value>, cnt) — identical to the direct
    groupBy, but a hot key's phase-1 work spreads over ``n_salt``
    reducers.
    """
    salt = (F.rand(seed=42) * n_salt).cast("int")
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(F.sum(value).alias("_s"), F.count(F.lit(1)).alias("_c"))
    )
    return partial.groupBy(*keys).agg(
        F.sum("_s").alias(f"sum_{value}"), F.sum("_c").alias("cnt")
    )


def salted_self_pairs(
    rows: DataFrame,
    key: str,
    id_col: str,
    hot_threshold: int,
    n_salt: int = 16,
) -> DataFrame:
    """Exact unordered self-pairs per ``key`` (id_a < id_b), with
    HOT keys split across ``n_salt`` tasks.

    The LSH band join's failure mode at corpus scale: a
    stop-shingle-heavy band key collects millions of docs and its
    |D|² pair expansion pins one task. AQE's skew-join splits
    oversized *partitions*, but a single hot key still lands in one
    partition. This operator splits the key itself:

    - keys with ≤ ``hot_threshold`` rows take the plain self-join;
    - hot keys get each row assigned a deterministic salt group
      ``g = xxhash64(id) % n_salt``; the left side is replicated to
      every group and joined on (key, g), so pair (a, b) is produced
      exactly once — by the group of ``b`` — and each task sees
      |D|·|D|/n_salt work instead of |D|².

    Exactness is preserved (tested); cost is one small count-per-key
    aggregate plus n_salt× replication of hot rows only.
    """
    sizes = rows.groupBy(key).agg(F.count(F.lit(1)).alias("_n"))
    hot_keys = sizes.where(F.col("_n") > hot_threshold).select(key)
    hot = rows.join(F.broadcast(hot_keys), key)
    cold = rows.join(F.broadcast(hot_keys), key, "left_anti")

    a, b = cold.alias("a"), cold.alias("b")
    cold_pairs = a.join(
        b,
        (F.col(f"a.{key}") == F.col(f"b.{key}"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )

    grouped = hot.withColumn("_g", F.pmod(F.xxhash64(id_col), F.lit(n_salt)))
    replicated = hot.withColumn(
        "_g", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    hot_pairs = (
        replicated.alias("a")
        .join(
            grouped.alias("b"),
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a._g") == F.col("b._g"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
    )
    return cold_pairs.unionByName(hot_pairs)


def salted_broadcast_left_join(
    left: DataFrame, right: DataFrame, key: str, n_salt: int = 8
) -> DataFrame:
    """left ⋈ right on ``key`` with the right side exploded to
    ``n_salt`` salted copies (right must be broadcast-small).

    Equivalent rows to a plain inner join; hot left keys fan over
    ``n_salt`` partitions.
    """
    salted_right = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    salted_left = left.withColumn("_salt", (F.rand(seed=7) * n_salt).cast("int"))
    return (
        salted_left.join(F.broadcast(salted_right), [key, "_salt"])
        .drop("_salt")
    )


def narrow_for_iteration(
    df: DataFrame, sf_dir: str, table: str, target_bytes: int = 64 << 20
) -> DataFrame:
    """Partition-count ceiling for a NARROW frame that an iterative
    driver loop persists and re-scans every round (guide §2.2/§5:
    fewer, larger partitions; an R-round loop multiplies every
    excess task's scheduling cost by R).

    The frame's bytes are bounded above by its SOURCE table's
    on-disk size (it drops the payload columns — e.g. the
    quality-logit z-frame keeps 7 numerics of a documents row), so
    ceil(src_bytes / target_bytes) partitions keeps each partition
    under ~target_bytes at every scale: a small local corpus
    collapses to one partition (24 rounds × 32 near-empty tasks was
    pure scheduler overhead at sf0.1), a 100 TB corpus keeps
    hundreds of thousands. Only ever SHRINKS the partition count —
    on a cluster where the scan is already right-sized this is a
    no-op (no shuffle inserted), so it is scale-adaptive rather
    than a local-mode constant (`widen_for_compute`'s contract,
    mirrored). The size is `sources.tables.fingerprint`'s byte
    count, so a part-file directory counts its files, not its
    inode."""
    import math

    from ..sources.tables import fingerprint, table_path

    size = fingerprint(table_path(sf_dir, table))[2]
    if not size:
        return df
    n = max(1, math.ceil(size / target_bytes))
    if n >= df.rdd.getNumPartitions():
        return df
    return df.repartition(n)


def widen_for_compute(df: DataFrame) -> DataFrame:
    """Input-parallelism floor for compute-heavy map work (guide
    §2.5 "input skew": one small file = one scan task, so an
    expression-heavy map or a generator fan-out directly on the scan
    serializes on one core).

    Round-robin repartitions to the session's default parallelism
    ONLY when the frame's current partitioning is narrower — on a
    real cluster where scans are already wide this is a no-op (no
    shuffle is inserted), so it is scale-adaptive rather than a
    local-mode constant. Use it immediately before per-row work that
    is much heavier than the row's bytes (hash fan-outs, codecs,
    signature computation); do NOT use it before plain aggregations,
    where the scan is already the cheapest pass.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
