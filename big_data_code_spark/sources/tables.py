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

Staging. Data derived from one version of an input table (a JSONL
drop, a chunked stream source, a master dataset) is staged once under
the temp dir by `staged`, the package's only way to create a
`staging_dir`. A reader never sees a half-built dir (≙ a Pail's
atomic ``absorb``, ElephantDB's whole-version swap):

- hit: the dir exists; the cost is the fingerprint stat plus one
  ``isdir``, and nothing is built;
- miss: ``build(private)`` fills a private sibling path that does not
  exist yet (``<prefix>_build_<hex>``), which is then renamed into
  place in one ``os.rename``;
- lost race: if another process committed the dir first, the rename
  fails, the private dir is removed and the winner's dir returned;
  any other rename failure is raised;
- failed build: the private dir is removed and the error raised;
- prune: a miss first removes the prefix's private dirs over an hour
  old (`prune_stale_dirs`), which only a dead process leaves behind.
"""

from __future__ import annotations

import errno
import hashlib
import os
import shutil
import stat
import tempfile
import time
import uuid
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
    """Name of the dir `staged` commits for one version of ``table``:
    it carries a hash of the absolute ``sf_dir`` and the table's
    `fingerprint`, so a rewritten table gets a fresh dir and two
    inputs sharing a basename never collide. Finding it costs the
    fingerprint's stat and no read of the table."""
    _, mtime_ns, size = fingerprint(table_path(sf_dir, table))
    h = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"{prefix}_v2_{h}_{mtime_ns}_{size}")


def prune_stale_dirs(prefix: str) -> None:
    """Remove ``<prefix>*`` dirs under the temp dir that are over an
    hour old: left by dead processes, never by a live concurrent
    run. A concurrent run may remove a dir between the listdir and
    the stat, so a vanished dir is skipped."""
    root = tempfile.gettempdir()
    for d in os.listdir(root):
        if not d.startswith(prefix):
            continue
        p = os.path.join(root, d)
        try:
            stale = time.time() - os.path.getmtime(p) > 3600
        except FileNotFoundError:
            continue
        if stale:
            shutil.rmtree(p, ignore_errors=True)


def staged(sf_dir: str, table: str, prefix: str, build: Callable[[str], object]) -> str:
    """The `staging_dir` of ``table`` under ``prefix``, built by
    ``build(private)`` on a miss and committed with one rename (see
    "Staging" in the module docstring)."""
    out = staging_dir(sf_dir, table, prefix)
    if os.path.isdir(out):
        return out
    prune_stale_dirs(f"{prefix}_build_")
    private = os.path.join(tempfile.gettempdir(), f"{prefix}_build_{uuid.uuid4().hex[:8]}")
    try:
        build(private)
        try:
            os.rename(private, out)
        except OSError as e:  # lost the race unless ``out`` is still missing
            if e.errno not in (errno.EEXIST, errno.ENOTEMPTY) or not os.path.isdir(out):
                raise
    finally:
        shutil.rmtree(private, ignore_errors=True)  # gone already after a commit
    return out
