"""Lifetimes of the derived data a plan holds on to.

Persisted intermediates. `persist(df)` is the package's only way to
cache a frame: an operator that feeds one intermediate to several
branches of its returned (still lazy) plan persists it there, e.g.
`operators.dedup.minhash_lsh_pairs`'s signature table, and an
iterative loop persists the frame every round re-scans. The storage
level (``MEMORY_AND_DISK``: a block that does not fit in memory
spills instead of being recomputed) is decided here and nowhere
else. Every persisted frame is registered for `release_persisted()`
in the same step. The operator cannot unpersist before the caller
materializes the plan, so harness loops that run many queries in
one session (bench.py, tools/driver_check.py) call
`release_persisted()` after each query, and code with its own batch
boundaries wraps each batch in `releasing()`, as
`streaming.speed_layer.run_foreach_batch` does for every
micro-batch once its frame is written. A frame dropped early by its
own `unpersist()` stays registered (a second unpersist is a no-op),
so a query that raises before its early drop strands nothing. In
the batch layer every intermediate is recomputable from the master
dataset: a plan re-run after release recomputes (and re-registers)
its cache, and correctness never depends on the cache being
present.

Serve-once entries. A view that is a pure function of one version
of its input tables is built once and served until that version
changes — the batch layer's rule. `serve_once` is the one store:

- key: ``(applicationId, name, abspath(sf_dir), fingerprints)``,
  one `sources.tables.fingerprint` per input table, so a rewritten
  input misses and a new Spark application never sees another's
  blocks;
- eviction: a miss drops the entry it supersedes, the one for the
  same ``(applicationId, name, abspath(sf_dir))``, so the store holds
  at most one version per input dir;
- a DataFrame is stored as a localCheckpoint scan (a build that
  checkpoints itself is stored as is), so consumers plan over the
  materialized rows, not the build lineage. Entries are not
  release-tracked: they are the index;
- `STATS[name]` counts hits, misses and build seconds.

Parquet schemas are not a serve-once entry: every read needs one,
the master dataset's and key/value domains' too, which have no
``sf_dir``/table, so `sources.tables.read_parquet` (below this
module) keeps them in its own per-path memo.

`bypass(name)` runs `serve_once(..., name, ...)`'s build and returns
it without reading or writing the entry or `STATS` — the registry's
``*_build`` twins, which charge the build to every call.

Recorded plans. `materialize(df)` is the package's one eager local
checkpoint: an iterative operator's round, a de-duplicated edge
list, a serve-once value. A checkpoint truncates the frame's
lineage, so the plan a query returns no longer shows the work that
built it, and a stream's plan never shows in the frame it returns.
Inside a `recording()` block (the registry-wide plan audits in the
tests) `record` appends a physical plan at the three places work
runs out of sight:

- `materialize` appends the frame's pre-execution plan, the same
  lazily-planned value the checkpoint then executes;
- `streaming.speed_layer.run_stream_to_table` appends the stream's
  last executed plan, stateful operators included, after the
  stream has run;
- `streaming.speed_layer.run_foreach_batch` appends each
  micro-batch's frame before writing it.

So a query is audited as its returned plan plus every plan it
recorded on the way. Outside `recording()` the cost is one ``is
None`` check. A non-bypassed `serve_once` miss builds with
recording paused, so what a query records never depends on what the
store already held; each serve-once build is audited through its
``*_build`` twin instead.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterator, Sequence
from contextlib import AbstractContextManager, contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from .sources.tables import fingerprint, table_path

_PERSISTED: list[DataFrame] = []

_STORE: dict[tuple, object] = {}
STATS: dict[str, dict[str, float]] = {}
_BYPASSED: set[str] = set()
_RECORDED: list[str] | None = None


def persist(df: DataFrame) -> DataFrame:
    """``df`` persisted and registered for `release_persisted` (see
    the module docstring)."""
    _PERSISTED.append(df.persist(StorageLevel.MEMORY_AND_DISK))
    return df


def release_persisted(since: int = 0) -> int:
    """Unpersist every tracked DataFrame from position ``since`` of
    the tracking list on (default: all); returns how many."""
    n = 0
    while len(_PERSISTED) > since:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


@contextmanager
def releasing() -> Iterator[None]:
    """Within the block, frames passed to `persist` are released
    when the block exits; those persisted before it stay."""
    since = len(_PERSISTED)
    try:
        yield
    finally:
        release_persisted(since)


def record(plan: Callable[[], object]) -> None:
    """Inside `recording()`, append the string of the JVM physical
    plan ``plan()`` returns (None: nothing ran, nothing is kept);
    outside, ``plan`` is never called."""
    if _RECORDED is not None and (p := plan()) is not None:
        _RECORDED.append(p.toString())


def materialize(df: DataFrame) -> DataFrame:
    """``df`` executed once and truncated to a scan of its rows (see
    the module docstring)."""
    record(lambda: df._jdf.queryExecution().executedPlan())
    return df.localCheckpoint(eager=True)


@contextmanager
def _record_into(plans: list[str] | None) -> Iterator[list[str] | None]:
    global _RECORDED
    prev, _RECORDED = _RECORDED, plans
    try:
        yield plans
    finally:
        _RECORDED = prev


def recording() -> AbstractContextManager[list[str]]:
    """Within the block, every `record` call (see the module
    docstring) appends its physical plan to the yielded list."""
    return _record_into([])


def _is_checkpoint(df: DataFrame) -> bool:
    return df._jdf.queryExecution().logical().nodeName() == "LogicalRDD"


def serve_once(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    tables: Sequence[str],
    build: Callable[[], object],
):
    """``build()`` once per version of ``tables`` under ``sf_dir``,
    then the stored value (see the module docstring)."""
    if name in _BYPASSED:
        return build()
    scope = (spark.sparkContext.applicationId, name, os.path.abspath(sf_dir))
    key = (*scope, tuple(fingerprint(table_path(sf_dir, t)) for t in tables))
    stats = STATS.setdefault(name, {"hits": 0, "misses": 0, "build_s": 0.0})
    if key in _STORE:
        stats["hits"] += 1
        return _STORE[key]
    stats["misses"] += 1
    # a superseded checkpoint's blocks go to the ContextCleaner once
    # this last reference is dropped (unpersist is a no-op on them)
    for k in [k for k in _STORE if k[:3] == scope]:
        del _STORE[k]
    t0 = time.perf_counter()
    with _record_into(None):
        value = build()
        if isinstance(value, DataFrame) and not _is_checkpoint(value):
            value = materialize(value)
    stats["build_s"] += time.perf_counter() - t0
    _STORE[key] = value
    return value


@contextmanager
def bypass(name: str) -> Iterator[None]:
    """Within the block, `serve_once` calls for ``name`` build fresh
    and leave the store and `STATS` untouched."""
    _BYPASSED.add(name)
    try:
        yield
    finally:
        _BYPASSED.discard(name)
