"""Speed layer — Structured Streaming restatement of the Storm /
Trident topologies.

Reference topologies (`TridentSpeedLayer.java`, `UniquesOverTime.java`,
`CassandraState.java`):

- `pageviewsOverTime` (`TridentSpeedLayer.java:64-105`): Kafka spout
  → normalize url → hour bucket → grouped persistent Count into
  Cassandra.  Here: file/Kafka stream → event-time window(1 hour) →
  streaming count. Cassandra's role (queryable, incrementally
  updated state) is played by the sink table.
- `uniquesOverTime` (`UniquesOverTime.java`): HLL sketch per
  (url, bucket) column in Cassandra, merged on update. Here:
  ``hll_sketch_agg`` in the windowed aggregation — same mergeable-
  sketch semantics, Spark-native datasketches.
- `AnalyzeVisits` (`TridentSpeedLayer.java:143-235`): per
  (domain, user) visit state {startTimestamp, lastVisitTimestamp},
  swept every 60 s; a visit expires when now > last + 30 min, and
  emits (domain, is_bounce) where bounce ⇔ start == last. Here:
  ``applyInPandasWithState`` with an event-time timeout — the
  watermark plays the sweep clock, the timeout the 30-min expiry.

All operators take/return unbounded DataFrames and never collect;
at scale the same code runs against Kafka by swapping the source.

A stream runs in one of two ways: `run_stream_to_table` (a memory
sink) or `run_foreach_batch` (a foreachBatch body writing a private
dir). Both record what they executed into `cacheutil.recording()`,
which is how the plan audits see a stream's stateful operators and
per-batch frames.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from .. import cacheutil
from ..cacheutil import persist
from ..functions.timebuckets import ntz_to_ltz
from ..sources.tables import prune_stale_dirs

#: at-rest schema of the pageview stream. events.parquet stores ts
#: as parquet timestamp[us] with no tz → TIMESTAMP_NTZ (the
#: engine's canonical batch timestamp). ``withWatermark`` rejects
#: NTZ event time, so ingress converts instant-preserving to LTZ
#: (`ntz_to_ltz`) and everything downstream stays in the LTZ
#: domain, where ``unix_micros`` / ``unix_timestamp`` / ``window``
#: alignment are epoch-anchored and therefore session-tz-free.
EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
    ]
)

VISIT_TIMEOUT_SECS = 30 * 60  # ≙ THIRTY_MINUTES_SECS


def parse_event_payloads(raw: DataFrame) -> DataFrame:
    """Decode Kafka-style records into the event stream schema:
    ``value`` is a UTF-8 JSON payload ({event_id, ts_ns, user_id,
    event_type}), ``timestamp`` is the broker ingest time kept for
    lag monitoring. Pure column expressions — the same function
    serves the live Kafka reader and the unit tests (which feed it
    a static DataFrame; no broker in this environment).

    Parity: the Kafka spout + scheme of the reference speed layer
    (`TridentSpeedLayer.java:64-80`, pageview deserialization).
    """
    payload = F.from_json(
        F.col("value").cast("string"),
        StructType([
            StructField("event_id", LongType()),
            StructField("ts_ns", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
        ]),
    )
    return raw.select(payload.alias("p"), F.col("timestamp").alias("ingest_ts")).select(
        F.col("p.event_id").alias("event_id"),
        F.timestamp_micros(F.expr("p.ts_ns div 1000")).alias("ts"),
        F.col("p.user_id").alias("user_id"),
        F.col("p.event_type").alias("event_type"),
        "ingest_ts",
    )


def kafka_events_stream(
    spark: SparkSession, bootstrap_servers: str, topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """The production ingress: Kafka topic -> event stream (the
    reference's Kafka spout, `TridentSpeedLayer.java:64-80`). Needs
    the spark-sql-kafka package on the cluster classpath; this
    environment has no broker, so only `parse_event_payloads` (the
    entire transformation surface) is exercised by tests.

    maxOffsetsPerTrigger bounds per-batch intake so a backlogged
    topic cannot OOM the first micro-batch after downtime — the
    100 TB restart posture.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", 5_000_000)
        .load()
    )
    return parse_event_payloads(raw)


def events_file_stream(
    spark: SparkSession,
    src_dir: str,
    max_files_per_trigger: int | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """Parquet-directory stream of pageview events (the local stand-
    in for the Kafka spout). ``max_files_per_trigger=1`` makes each
    file one micro-batch — how the tests drive multi-batch state.
    ``schema`` widens the default 4-column projection when a
    consumer needs more of the payload (e.g. the drift monitor's
    ``value``) — file streams prune to the declared schema, so the
    default stays the narrow one."""
    reader = spark.readStream.schema(schema or EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir).withColumn("ts", ntz_to_ltz("ts"))


def pageviews_over_time_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming pageview counts per url × event-hour.

    ≙ `pageviewsOverTime` (`TridentSpeedLayer.java:64-105`).
    Returns (event_type, hour_bucket, n_views) as an unbounded
    aggregation — run in update/complete mode; partial aggregation
    + state-store keeps the shuffle to one row per (url, hour).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_views"))
        .select(
            "event_type",
            (F.unix_timestamp(F.col("w.start")) / 3600).cast("long").alias("hour_bucket"),
            "n_views",
        )
    )


def uniques_over_time_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming uniques per url × hour as mergeable HLL sketches
    (≙ `UniquesOverTime.java`'s Cassandra HLL column, lgK=14 like
    the reference's ``HyperLogLog(14)``)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(14)).alias("sketch")
        )
        .select(
            "event_type",
            (F.unix_timestamp(F.col("w.start")) / 3600).cast("long").alias("hour_bucket"),
            F.hll_sketch_estimate("sketch").alias("unique_visitors"),
        )
    )


def uniques_sketches_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming uniques per url × hour emitting the RAW mergeable
    HLL sketch (not the estimate) — the value the speed layer hands
    the serving merge, where it is hll_union'd with the batch
    layer's sketches before estimating (distinct counts are NOT
    summable across layers; sketches are — the reference's whole
    reason for storing HLL in both ElephantDB and Cassandra)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(14)).alias("sketch")
        )
        .select(
            "event_type",
            (F.unix_timestamp(F.col("w.start")) / 3600).cast("long").alias("hour_bucket"),
            "sketch",
        )
    )


VISIT_OUTPUT_SCHEMA = StructType(
    [
        StructField("domain", StringType()),
        StructField("user_id", LongType()),
        StructField("n_views", LongType()),
        StructField("is_bounce", BooleanType()),
        StructField("visit_start", TimestampNTZType()),
    ]
)

VISIT_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_views", LongType()),
    ]
)


def _track_visit(key: Any, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
    """Stateful visit tracker — body of `AnalyzeVisits`.

    State per (domain, user): (start, last, n). Emits the finished
    visit when the event-time timeout (last + 30 min) fires; bounce
    ⇔ start == last, exactly the reference's
    ``info.startTimestamp == info.lastVisitTimestamp`` check.
    """
    domain, user = key
    if state.hasTimedOut:
        start_us, last_us, n = state.get
        yield pd.DataFrame(
            {
                "domain": [domain],
                "user_id": [user],
                "n_views": [n],
                "is_bounce": [start_us == last_us],
                "visit_start": [pd.Timestamp(start_us, unit="us")],
            }
        )
        state.remove()
        return

    start_us, last_us, n = state.get if state.exists else (None, None, 0)
    for pdf in pdfs:
        if pdf.empty:
            continue
        # pre-computed bigint epoch µs — Arrow's LTZ→pandas
        # conversion localizes to the session tz, so the timestamp
        # column itself is not safe to epoch-convert Python-side
        ts_us = pdf["ts_us"]
        lo, hi = int(ts_us.min()), int(ts_us.max())
        start_us = lo if start_us is None else min(start_us, lo)
        last_us = hi if last_us is None else max(last_us, hi)
        n += len(pdf)
    if start_us is not None:
        state.update((start_us, last_us, n))
        timeout_ms = last_us // 1000 + VISIT_TIMEOUT_SECS * 1000
        # setTimeoutTimestamp must exceed the current watermark
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(timeout_ms, wm + 1))
    yield pd.DataFrame(
        columns=["domain", "user_id", "n_views", "is_bounce", "visit_start"]
    )


def visits_stream(events: DataFrame, watermark: str = "0 seconds") -> DataFrame:
    """Expired-visit stream: one row per finished visit.

    ≙ `AnalyzeVisits` (`TridentSpeedLayer.java:143-235`). Visits
    still open at end-of-stream stay in state (the reference keeps
    them in the MemoryMapState the same way).
    """
    return (
        events.withColumn("ts_us", F.unix_micros("ts"))
        .withWatermark("ts", watermark)
        .groupBy("event_type", "user_id")
        .applyInPandasWithState(
            _track_visit,
            outputStructType=VISIT_OUTPUT_SCHEMA,
            stateStructType=VISIT_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def bounce_counts(visits: DataFrame) -> DataFrame:
    """(domain, num_visits, num_bounces) over emitted visits —
    ≙ the Trident `CombinedCombinerAggregator` count+sum."""
    return visits.groupBy("domain").agg(
        F.count(F.lit(1)).alias("num_visits"),
        F.sum(F.when(F.col("is_bounce"), 1).otherwise(0)).alias("num_bounces"),
    )


#: state-store partition count for bounded local runs. Streaming
#: aggs pin one state store per shuffle partition and AQE cannot
#: coalesce them, so every trigger commits every store, empty or
#: not. On the no-fork local filesystem (`session.get_spark`) a
#: commit costs ~8-10 ms of task time per store, ~90 ms when each
#: spawned chmod/readlink processes: `streaming_pageviews_hourly`,
#: sf0.1, 4 cores, one trigger over 3600 state rows, summed commit
#: 5 / 64 / 313 ms at 1 / 8 / 32 stores (54 / 765 / 2915 ms on the
#: stock filesystem), trigger 313 / 378 / 856 ms. 8 keeps the
#: stateful stage parallel on a local run's cores for ~65 ms of
#: commits per trigger over 1 store; 32 already doubles the
#: trigger. Production sizes this to key cardinality via
#: spark.sql.shuffle.partitions BEFORE first start (it is frozen
#: into the checkpoint).
STREAM_SHUFFLE_PARTITIONS = 8

#: ...EXCEPT for `applyInPandasWithState` streams, which pay a
#: Python call per state key per micro-batch: there the bottleneck
#: is Python-side, so MORE partitions = more parallel Python
#: workers (measured at sf0.1: 15.2s @ 8 → 10.0s @ 32 for the
#: visit tracker). Partition count never changes results — state is
#: per-key and the watermark/batch protocol is partition-agnostic.
PANDAS_STATE_SHUFFLE_PARTITIONS = 32


def run_stream_to_table(
    stream_df: DataFrame, output_mode: str, shuffle_partitions: int | None = None
) -> DataFrame:
    """Drive a stream with Trigger.AvailableNow into an in-memory
    sink and return the resulting table (test/local harness; in
    production this is a writeStream to the serving store)."""
    spark = stream_df.sparkSession
    name = f"sink_{uuid.uuid4().hex[:10]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(shuffle_partitions or STREAM_SHUFFLE_PARTITIONS),
    )
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    cacheutil.record(lambda: _last_executed_plan(q))
    return spark.table(name)


def _last_executed_plan(q: Any) -> Any:
    """The physical plan of ``q``'s last micro-batch, None if no
    batch ran."""
    last = q._jsq.streamingQuery().lastExecution()
    return None if last is None else last.executedPlan()


def _commit_version(df: DataFrame, store_dir: str, vname: str) -> None:
    """Write ``df`` as version ``vname`` of a versioned store, then
    atomically flip its ``_CURRENT`` pointer to it (write-temp +
    `os.replace`): a crash mid-write leaves the previous version
    live."""
    df.write.mode("overwrite").parquet(os.path.join(store_dir, vname))
    ptr_tmp = os.path.join(store_dir, "._CURRENT.tmp")
    with open(ptr_tmp, "w") as f:
        f.write(vname)
    os.replace(ptr_tmp, os.path.join(store_dir, "_CURRENT"))


def run_foreach_batch(
    stream_df: DataFrame,
    prefix: str,
    seed: DataFrame,
    batch_frame: Callable[[DataFrame, int, str], DataFrame],
    versioned: bool = False,
) -> DataFrame:
    """Drive ``stream_df`` with Trigger.AvailableNow through a
    `foreachBatch` body that writes a private dir, and return the
    dir's final contents materialized off it (`cacheutil.
    materialize`), so the caller may hold the result after the dir
    is gone.

    - The dir is ``<tempdir>/<prefix><random hex>``. Hour-old dirs
      with ``prefix`` (left by dead processes) are pruned first; this
      run's dir is removed when the call returns or raises.
    - ``seed`` (usually zero rows of the written schema) is written
      first, so the final read succeeds even if every micro-batch is
      empty.
    - Micro-batch ``i`` writes ``batch_frame(batch_df, i, dir)``;
      inside `cacheutil.recording()` that frame's physical plan is
      recorded before it is written. Frames the body caches with
      `cacheutil.persist` are released once the batch is written
      (`cacheutil.releasing`), so a long stream holds no cached
      blocks per trigger.
    - ``versioned=False``: every write appends parquet parts to the
      dir, read back as one table. ``versioned=True``: every write
      is a full new version ``v_<i>`` of a versioned store
      (`_commit_version`, the seed is ``v_init``) and the live
      version is read back (`read_store`).
    """
    spark = stream_df.sparkSession
    prune_stale_dirs(prefix)
    sink = os.path.join(tempfile.gettempdir(), f"{prefix}{uuid.uuid4().hex[:10]}")

    def write(frame: DataFrame, vname: str) -> None:
        if versioned:
            _commit_version(frame, sink, vname)
        else:
            frame.write.mode("append").parquet(sink)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        with cacheutil.releasing():
            frame = batch_frame(batch_df, batch_id, sink)
            cacheutil.record(lambda: frame._jdf.queryExecution().executedPlan())
            write(frame, f"v_{batch_id:08d}")

    try:
        write(seed, "v_init")
        q = stream_df.writeStream.foreachBatch(process).trigger(availableNow=True).start()
        q.awaitTermination()
        return cacheutil.materialize(
            read_store(spark, sink) if versioned else spark.read.parquet(sink)
        )
    finally:
        shutil.rmtree(sink, ignore_errors=True)


def sessionize_stream(events: DataFrame, gap: str = "15 minutes") -> DataFrame:
    """Streaming sessionization with Spark's native ``session_window``
    (dynamic-gap merge in the state store) — the built-in counterpart
    of the `AnalyzeVisits` visit tracker for the simple gap rule.

    Two events join the same session iff their gap is at most
    ``gap`` (session windows span [ts, ts+gap] for merging purposes:
    windows that touch are merged — verified by the boundary test).
    On a bounded stream in complete mode the result equals
    the batch islands sessionization with the same rule, so this is
    exactly oracle-checkable.

    Returns (event_type, user_id, session_start_us, session_last_us,
    n_events): one row per finished session.
    """
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("w"), "event_type", "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("last_ts"))
        .select(
            "event_type",
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("last_ts")).alias("session_last_us"),
            "n_events",
        )
    )


def view_purchase_join_stream(
    events: DataFrame, horizon_secs: int = 3600, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join: each purchase joined to the same
    user's view events in the preceding ``horizon_secs``. The
    attribution join of the speed layer — watermarks bound both
    join-state buffers, the time-range predicate lets Spark evict
    matched rows.

    On a bounded stream the append-mode result equals the batch
    interval join with the same predicate → exact oracle.
    """
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("v_ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {horizon_secs} SECONDS")),
    )
    return joined.select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "view_id",
        F.unix_micros("p_ts").alias("purchase_us"),
        F.unix_micros("v_ts").alias("view_us"),
    )


def funnel_hourly_stream(events: DataFrame, horizon_secs: int = 3600) -> DataFrame:
    """Streaming hourly funnel: attributed purchases per event-hour
    — a THREE-stateful-operator chain (stream-stream interval join →
    watermark-evicted dedup → event-time window agg) all in append
    mode, the shape a real-time conversion dashboard runs.

    A purchase is *attributed* iff the same user viewed within the
    preceding ``horizon_secs``; the join can emit one row per
    matching view, so `dropDuplicates([purchase_id, p_ts])` (state
    evicted by the p_ts watermark) collapses to one row per
    purchase before the hourly count.

    Watermark is assigned BEFORE the type filters so flush
    sentinels (a non-view/purchase domain) still advance it — the
    window agg needs the final watermark past the LAST hour
    window's end, which is why the funnel's staged source uses
    (180, 360)-min sentinels instead of the visit-timeout (31, 62).
    On a bounded flushed stream the append result equals the batch
    interval-join + hourly count → exact oracle.

    Returns (hour_bucket, n_attributed).
    """
    base = events.withWatermark("ts", "0 seconds")
    views = base.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    purchases = base.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {horizon_secs} SECONDS")),
    )
    attributed = joined.select("purchase_id", "p_ts").dropDuplicates(
        ["purchase_id", "p_ts"]
    )
    return (
        attributed.groupBy(F.window("p_ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_attributed"))
        .select(
            (F.unix_timestamp(F.col("w.start")) / 3600).cast("long").alias("hour_bucket"),
            "n_attributed",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """At-least-once → effectively-once: drop duplicate event_ids
    within the watermark horizon. The reference gets idempotence
    from Trident transactional state + the pageview nonce; Spark's
    `dropDuplicatesWithinWatermark` keeps the nonce-dedup state
    bounded by event time instead of unbounded."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def _resolve_store_version(store_dir: str) -> str | None:
    """Path of the live version dir of a versioned serving store,
    or None if the store has no committed version yet."""
    ptr = os.path.join(store_dir, "_CURRENT")
    if not os.path.isfile(ptr):
        return None
    with open(ptr) as f:
        vname = f.read().strip()
    path = os.path.join(store_dir, vname)
    return path if os.path.isdir(path) else None


def read_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Read the live version of a versioned serving store (the
    ElephantDB-domain read path: always the committed version,
    never a half-written one)."""
    current = _resolve_store_version(store_dir)
    if current is None:
        raise FileNotFoundError(f"no committed version in {store_dir}")
    return spark.read.parquet(current)


def upsert_to_keyvalue_sink(
    agg_stream: DataFrame, store_dir: str, key_cols: list[str],
    checkpoint_dir: str | None = None,
) -> "object":
    """writeStream → serving store, the Cassandra-analog path:
    every micro-batch upserts its (url, hour) rows into a
    parquet-backed key/value dir via foreachBatch. Update output
    mode means each batch carries only changed keys; the merge
    overwrites those keys and keeps the rest — idempotent on
    replay (last write per key wins with identical values).

    With ``checkpoint_dir`` the query is restartable: offsets and
    aggregate state recover from the checkpoint, so a restarted
    query resumes with cumulative counts instead of recounting —
    the exactly-once contract the reference gets from Trident
    transactional state (`TridentSpeedLayer.java`).

    Crash safety: the store is VERSIONED — each batch writes a full
    new version dir (``v_<batch_id>``) and then atomically flips the
    ``_CURRENT`` pointer file (`os.replace`, atomic on POSIX). A
    crash mid-write leaves the previous version live; replaying the
    batch from the checkpoint overwrites the orphaned dir and flips
    the pointer then. This mirrors the reference's versioned
    ElephantDB domains (`BatchWorkflow.java:341-426`), where a new
    domain version is shipped wholesale and swapped in. Readers go
    through ``read_store``.
    """

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        with cacheutil.releasing():
            new = persist(batch_df)
            current = _resolve_store_version(store_dir)
            if current is not None:
                existing = spark.read.parquet(current)
                keep = existing.join(
                    new.select(*key_cols).distinct(), key_cols, "left_anti"
                )
                merged = keep.unionByName(new)
            else:
                merged = new
            _commit_version(merged, store_dir, f"v_{batch_id:08d}")
            # prune superseded versions, RETAINING the most recent
            # prior one: a reader that resolved _CURRENT just before
            # the flip may still be mid-scan on it (the ElephantDB
            # pattern keeps the previous domain version live for
            # in-flight queries); older versions go.
            versions = sorted(
                d for d in os.listdir(store_dir) if d.startswith("v_")
            )
            for d in versions[:-2]:
                shutil.rmtree(os.path.join(store_dir, d), ignore_errors=True)

    writer = (
        agg_stream.writeStream.outputMode("update")
        .foreachBatch(merge_batch)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def enrich_with_static_stream(events: DataFrame, categories: DataFrame) -> DataFrame:
    """Stream-static join: each streaming event broadcast-joined to
    a static dimension (event_type → category), then counted per
    category × event-hour. The static side is re-read per
    micro-batch by Spark (picking up dimension updates) and never
    holds join state — the cheap enrichment pattern the speed layer
    uses before writing to the serving store."""
    enriched = events.withWatermark("ts", "1 hour").join(
        F.broadcast(categories), "event_type"
    )
    return (
        enriched.groupBy("category", F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "category",
            F.unix_micros(F.col("window.start")).alias("hour_start_us"),
            "n_events",
        )
    )
