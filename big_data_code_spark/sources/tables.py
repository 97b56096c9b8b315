"""Loaders for the driver-generated parquet tables.

Plain ``spark.read.parquet`` relations, so Catalyst keeps full
pushdown / pruning freedom; callers decide the lifetime of any data.

Schema memo. Reading parquet without a schema makes Spark launch one
footer-reading job to infer it. `read_parquet` infers it on the first
read of each version of a path and hands the memoized `StructType` to
every later read, which then runs no job (≙ a Pail's ``pail.meta``,
which records the format so readers never probe the data files). The
memo is keyed on ``(applicationId, path, version)``; the version is
`fingerprint(path)` unless the caller knows a better one (a snapshot
manifest), so a rewritten file or part-file directory re-infers, and
a newer version replaces the entry for its path. Only the schema is
kept, never a DataFrame: each read still builds a fresh relation with
fresh attribute ids, so self-joins of two reads stay unambiguous.
"""

from __future__ import annotations

import hashlib
import os
import stat
import tempfile
from collections.abc import Callable, Hashable

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.types import StructType

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

#: dimension tables small enough to broadcast at any realistic SF
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})

#: (applicationId, abspath) -> (version, schema); see the module docstring
_SCHEMAS: dict[tuple[str, str], tuple[Hashable, StructType]] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def read_parquet(
    spark: SparkSession,
    path: str,
    version: Hashable | None = None,
    read: Callable[[DataFrameReader], DataFrame] | None = None,
) -> DataFrame:
    """``read(reader)`` — default ``reader.parquet(path)`` — with the
    schema inferred once per ``version`` of ``path`` (default
    `fingerprint(path)`; see the module docstring)."""
    slot = (spark.sparkContext.applicationId, os.path.abspath(path))
    version = fingerprint(path) if version is None else version
    read = read or (lambda reader: reader.parquet(path))
    memo = _SCHEMAS.get(slot)
    if memo is not None and memo[0] == version:
        return read(spark.read.schema(memo[1]))
    df = read(spark.read)
    # a private copy: callers may mutate ``df.schema`` (StructType.add)
    _SCHEMAS[slot] = (version, StructType.fromJson(df.schema.jsonValue()))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Timestamps in the driver tables are parquet timestamp[us]
    # with no tz (isAdjustedToUTC=false) → Spark reads TIMESTAMP_NTZ,
    # which is the canonical timestamp type of this engine: every
    # bucket / epoch computation is pure wall-clock arithmetic, so
    # results never depend on spark.sql.session.timeZone (DuckDB's
    # TIMESTAMP has identical semantics). Older data generations
    # stored TIMESTAMP(NANOS), which Spark only reads under the
    # legacy flag; set it best-effort so both layouts load on any
    # externally-built session (the correctness driver hands us one).
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        # legacy NANOS layout: ts arrives as bigint nanos — truncate
        # to µs with integer division (ns epochs overflow a double's
        # 53-bit mantissa; DuckDB truncates ns→µs the same way) and
        # rebuild the NTZ timestamp tz-free.
        from pyspark.sql import functions as F

        from ..functions.timebuckets import us_to_ts

        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", us_to_ts(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for ``spark.sql`` use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def fingerprint(path: str) -> tuple[str, int, int]:
    """Version of one input, a parquet file or a (partitioned) Spark
    part-file directory such as ``table_path(sf_dir, table)``:
    ``(abspath, mtime_ns, bytes)``. A directory reports its newest
    mtime (its own included, so a removed part file counts) and the
    total bytes of its data files — names starting with ``_`` or
    ``.`` (``_SUCCESS``, ``.crc``) are not data. A missing path is
    ``(abspath, 0, 0)``."""
    path = os.path.abspath(path)
    try:
        st = os.stat(path)
    except OSError:
        return (path, 0, 0)
    if not stat.S_ISDIR(st.st_mode):
        return (path, st.st_mtime_ns, st.st_size)
    mtime, size = st.st_mtime_ns, 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                fst = os.stat(os.path.join(root, f))
                mtime, size = max(mtime, fst.st_mtime_ns), size + fst.st_size
    return (path, mtime, size)


def staging_dir(sf_dir: str, table: str, prefix: str) -> str:
    """Scratch dir for data staged from one version of ``table``: the
    name carries a hash of the absolute ``sf_dir`` and the table's
    `fingerprint`, so a rewritten table gets a fresh dir and two
    inputs sharing a basename never collide. Finding it costs the
    fingerprint's stat and no read of the table."""
    _, mtime_ns, size = fingerprint(table_path(sf_dir, table))
    h = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"{prefix}_v2_{h}_{mtime_ns}_{size}")
