"""SuperWebAnalytics batch-layer views over the driver test tables.

The ``events`` table plays the pageview stream: ``event_type`` is
the page/"url" dimension, ``user_id`` the PersonID, ``ts`` the
pedigree timestamp. Each query here mirrors a view built by the
reference batch layer (`BatchWorkflow.java`), with the DuckDB
oracle SQL alongside.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.urls import normalize_url
from ..operators.graph import connected_components
from ..operators.rollup import multi_granularity_rollup
from ..operators.sessionize import visit_stats
from ..operators.uniques import uniques_exact, uniques_hll, uniques_hll_sketches
from ..serving.keyvalue import N_SHARDS_DEFAULT
from ..sources.tables import load_table


def pageviews_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pageview counts per page at h/d/w/m granularities.

    Parity: `pageviewBatchView` (`BatchWorkflow.java:284-302`).
    """
    events = load_table(spark, sf_dir, "events")
    return multi_granularity_rollup(
        events,
        key="event_type",
        ts="ts",
        agg=F.sum("cnt"),
        key_name="event_type",
        value_name="total_views",
    )


PAGEVIEWS_OVER_TIME_SQL = """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
         count(*) AS cnt
  FROM events
  GROUP BY 1, 2
),
fanned AS (
  SELECT event_type,
         g.granularity,
         CASE g.granularity
           WHEN 'h' THEN hour_bucket
           WHEN 'd' THEN hour_bucket // 24
           WHEN 'w' THEN (hour_bucket // 24) // 7
           ELSE (hour_bucket // 24) // 28
         END AS bucket,
         cnt
  FROM hourly
  CROSS JOIN (VALUES ('h'), ('d'), ('w'), ('m')) AS g(granularity)
)
SELECT event_type, granularity, bucket,
       CAST(sum(cnt) AS BIGINT) AS total_views
FROM fanned
GROUP BY 1, 2, 3
"""


def keyvalue_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving-layer export as a relation: every row of the
    pageviews batch view keyed and sharded exactly as the key/value
    bulk-load lays it out.

    Parity: `ToUrlBucketedKey` / `pageviewElephantDB` / the
    `ShardingScheme` family (`BatchWorkflow.java:304-426`). Key =
    ``url + "/" + granularity + "-" + bucket``; shard = md5-mod
    (`serving.keyvalue.md5_mod_shard`, the oracle-exact hash
    family). `serving.keyvalue.export_key_value` writes this same
    relation partitioned by shard; returning it as a DataFrame makes
    the 2.3 export path driver-checkable without a filesystem side
    effect.
    """
    from ..serving.keyvalue import N_SHARDS_DEFAULT, md5_mod_shard, url_bucketed_key

    view = pageviews_over_time(spark, sf_dir)
    key = url_bucketed_key(
        F.col("event_type"), F.col("granularity"), F.col("bucket")
    )
    return view.select(
        md5_mod_shard(key, N_SHARDS_DEFAULT).alias("shard"),
        key.alias("key"),
        F.col("total_views"),
    )


KEYVALUE_EXPORT_SQL = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
         count(*) AS cnt
  FROM events
  GROUP BY 1, 2
),
fanned AS (
  SELECT event_type,
         g.granularity,
         CASE g.granularity
           WHEN 'h' THEN hour_bucket
           WHEN 'd' THEN hour_bucket // 24
           WHEN 'w' THEN (hour_bucket // 24) // 7
           ELSE (hour_bucket // 24) // 28
         END AS bucket,
         cnt
  FROM hourly
  CROSS JOIN (VALUES ('h'), ('d'), ('w'), ('m')) AS g(granularity)
),
view AS (
  SELECT event_type, granularity, bucket,
         CAST(sum(cnt) AS BIGINT) AS total_views
  FROM fanned
  GROUP BY 1, 2, 3
),
keyed AS (
  SELECT event_type || '/' || granularity || '-' || CAST(bucket AS VARCHAR) AS key,
         total_views
  FROM view
)
SELECT CAST(('0x' || substr(md5(key), 1, 7)) AS BIGINT) % {N_SHARDS_DEFAULT} AS shard,
       key, total_views
FROM keyed
"""


def keyvalue_export_ranged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-sharded serving export manifest (r6) — the third member
    of the reference's `ShardingScheme` family
    (`BatchWorkflow.java:304-426` ships hash-mod and url-only):
    shard = a contiguous slice of the 52-bit md5-proxy key space,
    `(proxy * N) div 2^52`. Contiguous hash ranges are what
    operable key/value stores actually pre-split on (HBase/Bigtable
    region splits, Hadoop's TotalOrderPartitioner): a shard can be
    split or merged by moving ONE boundary, where hash-mod resharding
    moves (N-1)/N of every shard. Emits the shard-grain MANIFEST the
    bulk-load planner reads — key count, value mass, key bounds per
    shard.

    100 TB shape: one map pass computes key/proxy/shard (whole-stage
    codegen), one map-side-combinable groupBy(shard). Uniformity
    comes from the md5 proxy, so no sampling pass is needed (the
    TotalOrderPartitioner's sampler exists because it range-shards
    RAW keys; hashing first makes fixed uniform boundaries exact).
    Integer-only math — engine-exact. Returns (shard, n_keys,
    total_views, min_key, max_key).
    """
    from ..serving.keyvalue import url_bucketed_key

    view = pageviews_over_time(spark, sf_dir)
    key = url_bucketed_key(
        F.col("event_type"), F.col("granularity"), F.col("bucket")
    )
    keyed = view.select(
        key.alias("key"),
        F.conv(F.substring(F.md5(key), 1, 13), 16, 10).cast("long").alias("p"),
        "total_views",
    )
    return (
        keyed.select(
            F.expr(f"(p * {N_SHARDS_DEFAULT}) div {2**52}").alias("shard"),
            "key",
            "total_views",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("total_views").cast("long").alias("total_views"),
            F.min("key").alias("min_key"),
            F.max("key").alias("max_key"),
        )
    )


KEYVALUE_EXPORT_RANGED_SQL = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
         count(*) AS cnt
  FROM events
  GROUP BY 1, 2
),
fanned AS (
  SELECT event_type,
         g.granularity,
         CASE g.granularity
           WHEN 'h' THEN hour_bucket
           WHEN 'd' THEN hour_bucket // 24
           WHEN 'w' THEN (hour_bucket // 24) // 7
           ELSE (hour_bucket // 24) // 28
         END AS bucket,
         cnt
  FROM hourly
  CROSS JOIN (VALUES ('h'), ('d'), ('w'), ('m')) AS g(granularity)
),
view AS (
  SELECT event_type, granularity, bucket,
         CAST(sum(cnt) AS BIGINT) AS total_views
  FROM fanned
  GROUP BY 1, 2, 3
),
keyed AS (
  SELECT event_type || '/' || granularity || '-' || CAST(bucket AS VARCHAR) AS key,
         ('0x' || substr(md5(event_type || '/' || granularity || '-'
                             || CAST(bucket AS VARCHAR)), 1, 13))::BIGINT AS p,
         total_views
  FROM view
)
SELECT (p * {N_SHARDS_DEFAULT}) // {2**52} AS shard,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(total_views) AS BIGINT) AS total_views,
       min(key) AS min_key, max(key) AS max_key
FROM keyed
GROUP BY 1
"""


def keyvalue_export_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch BYTES through the serving-layer key/value export
    (r4) — the last reference wire-format analog:
    `uniquesElephantDB` ships the raw serialized sketch as the
    domain value (`ToSerializedString`,
    `BatchWorkflow.java:367-397`), so readers can merge-then-
    estimate. This relation is that export: key =
    ``url/granularity-bucket``, shard = md5-mod, value = the
    mergeable DataSketches HLL binary from
    `operators.uniques.uniques_hll_sketches`.

    Driver-hashability + accuracy contract in one: the binary value
    itself is engine-specific, so the registered projection DECODES
    it in-plan (``hll_sketch_estimate`` over the value column —
    proving the blob in the export is a valid, estimable sketch),
    emits the byte length, and flags the estimate against the exact
    count (the `uniques_over_time_hll` tolerance pattern). The
    oracle restates key, shard, exact count, and asserts the flag;
    the filesystem roundtrip (export → read one shard → union +
    estimate) is covered in `tests/test_swa_batch.py`.
    """
    from ..serving.keyvalue import N_SHARDS_DEFAULT, md5_mod_shard, url_bucketed_key

    events = load_table(spark, sf_dir, "events")
    sketches = uniques_hll_sketches(events, key="event_type", ts="ts", user="user_id")
    key = url_bucketed_key(F.col("event_type"), F.col("granularity"), F.col("bucket"))
    kv = sketches.select(
        md5_mod_shard(key, N_SHARDS_DEFAULT).alias("shard"),
        key.alias("key"),
        F.col("sketch").alias("value"),
        "event_type",
        "granularity",
        "bucket",
    )
    exact = uniques_exact(events, key="event_type", ts="ts", user="user_id")
    return kv.join(exact, ["event_type", "granularity", "bucket"]).select(
        "shard",
        "key",
        (F.length("value") > 0).alias("value_ok"),
        F.col("unique_visitors").cast("long").alias("exact_uniques"),
        (
            F.abs(F.hll_sketch_estimate(F.col("value")) - F.col("unique_visitors"))
            <= 0.05 * F.col("unique_visitors")
        ).alias("within_5pct"),
    )


# The sketch binary is engine-specific, so the oracle checks the
# serving CONTRACT: the exact key/shard layout, the exact uniques
# the sketch must approximate, the in-tolerance flag, and that a
# non-empty sketch blob was exported (`value_ok` computed in-plan,
# asserted `true`; a corrupt blob would additionally fail
# hll_sketch_estimate in-plan long before the hash compare).
KEYVALUE_EXPORT_HLL_SQL = f"""
WITH hourly_users AS (
  SELECT DISTINCT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
         user_id
  FROM events
),
fanned AS (
  SELECT event_type,
         g.granularity,
         CASE g.granularity
           WHEN 'h' THEN hour_bucket
           WHEN 'd' THEN hour_bucket // 24
           WHEN 'w' THEN (hour_bucket // 24) // 7
           ELSE (hour_bucket // 24) // 28
         END AS bucket,
         user_id
  FROM hourly_users
  CROSS JOIN (VALUES ('h'), ('d'), ('w'), ('m')) AS g(granularity)
),
view AS (
  SELECT event_type, granularity, bucket,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_uniques
  FROM fanned
  GROUP BY 1, 2, 3
),
keyed AS (
  SELECT event_type || '/' || granularity || '-' || CAST(bucket AS VARCHAR) AS key,
         exact_uniques
  FROM view
)
SELECT CAST(('0x' || substr(md5(key), 1, 7)) AS BIGINT) % {N_SHARDS_DEFAULT} AS shard,
       key, true AS value_ok, exact_uniques, true AS within_5pct
FROM keyed
"""


def uniques_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct visitors per page×granularity×bucket.

    Parity: `uniquesView` (`BatchWorkflow.java:471-493`), exact
    variant so the DuckDB oracle can check it bit-for-bit.
    """
    events = load_table(spark, sf_dir, "events")
    return uniques_exact(events, key="event_type", ts="ts", user="user_id")


UNIQUES_OVER_TIME_SQL = """
WITH fanned AS (
  SELECT event_type, user_id,
         g.granularity,
         CASE g.granularity
           WHEN 'h' THEN CAST(floor(epoch(ts) / 3600) AS BIGINT)
           WHEN 'd' THEN CAST(floor(epoch(ts) / 3600) AS BIGINT) // 24
           WHEN 'w' THEN (CAST(floor(epoch(ts) / 3600) AS BIGINT) // 24) // 7
           ELSE (CAST(floor(epoch(ts) / 3600) AS BIGINT) // 24) // 28
         END AS bucket
  FROM events
  CROSS JOIN (VALUES ('h'), ('d'), ('w'), ('m')) AS g(granularity)
)
SELECT event_type, granularity, bucket,
       CAST(count(DISTINCT user_id) AS BIGINT) AS unique_visitors
FROM fanned
GROUP BY 1, 2, 3
"""


def uniques_over_time_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-sketch uniques (approximate, mergeable — the reference's
    actual serving representation), made oracle-checkable via a
    tolerance contract: the plan joins the sketch estimate to the
    exact count and emits ``(key, exact_uniques, within_5pct)``
    where ``within_5pct`` is computed IN-PLAN. The DuckDB oracle
    restates the exact count and asserts ``true`` — so an
    out-of-tolerance sketch flips the flag and hash-mismatches.
    The serving path is `operators.uniques.uniques_hll` alone (no
    exact join); this query is its accuracy contract."""
    events = load_table(spark, sf_dir, "events")
    est = uniques_hll(events, key="event_type", ts="ts", user="user_id")
    exact = uniques_exact(events, key="event_type", ts="ts", user="user_id")
    return est.join(exact, ["event_type", "granularity", "bucket"]).select(
        "event_type",
        "granularity",
        "bucket",
        F.col("unique_visitors").cast("long").alias("exact_uniques"),
        (
            F.abs(F.col("unique_visitors_est") - F.col("unique_visitors"))
            <= 0.05 * F.col("unique_visitors")
        ).alias("within_5pct"),
    )


UNIQUES_HLL_SQL = """
WITH fanned AS (
  SELECT event_type, user_id,
         g.granularity,
         CASE g.granularity
           WHEN 'h' THEN CAST(floor(epoch(ts) / 3600) AS BIGINT)
           WHEN 'd' THEN CAST(floor(epoch(ts) / 3600) AS BIGINT) // 24
           WHEN 'w' THEN (CAST(floor(epoch(ts) / 3600) AS BIGINT) // 24) // 7
           ELSE (CAST(floor(epoch(ts) / 3600) AS BIGINT) // 24) // 28
         END AS bucket
  FROM events
  CROSS JOIN (VALUES ('h'), ('d'), ('w'), ('m')) AS g(granularity)
)
SELECT event_type, granularity, bucket,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_uniques,
       true AS within_5pct
FROM fanned
GROUP BY 1, 2, 3
"""


def bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visits + bounces per domain (event_type plays the domain).

    Parity: `bouncesView`/`AnalyzeVisits`
    (`BatchWorkflow.java:507-559`): visit gap > 15 min, bounce =
    1-pageview visit.
    """
    events = load_table(spark, sf_dir, "events")
    return visit_stats(events, group_key="event_type", user_key="user_id", ts="ts")


BOUNCE_RATE_SQL = """
WITH ev AS (
  SELECT event_type, user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
flagged AS (
  SELECT event_type, user_id, es,
         CASE WHEN lag(es) OVER w IS NULL
                OR es - lag(es) OVER w > 900 THEN 1 ELSE 0 END AS is_new
  FROM ev
  WINDOW w AS (PARTITION BY event_type, user_id ORDER BY es)
),
sess AS (
  SELECT event_type, user_id,
         sum(is_new) OVER (PARTITION BY event_type, user_id ORDER BY es
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
per_session AS (
  SELECT event_type, user_id, session_id, count(*) AS n_events
  FROM sess
  GROUP BY 1, 2, 3
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS num_visits,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS num_bounces
FROM per_session
GROUP BY 1
"""


def dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct facts — `deduplicatePageviews`
    (`BatchWorkflow.java:223-233`): DISTINCT over the pageview's
    identity (person, page, timestamp)."""
    events = load_table(spark, sf_dir, "events")
    return events.select("user_id", "event_type", "ts").distinct()


DEDUP_EVENTS_SQL = """
SELECT DISTINCT user_id, event_type, ts FROM events
"""


def normalize_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — `NormalizeURL`
    (`BatchWorkflow.java:183-221`): keep protocol://host/path, drop
    query string and fragment. URLs are synthesized deterministically
    from event columns (the test tables carry no raw URLs); the
    operator itself is `functions.urls.normalize_url` (parse_url
    built-ins, no Python UDF).
    """
    events = load_table(spark, sf_dir, "events")
    url = F.concat(
        F.lit("https://site"),
        (F.col("user_id") % 7).cast("string"),
        F.lit(".example.com/page/"),
        (F.col("event_id") % 100).cast("string"),
        F.when(F.col("event_id") % 3 == 0, F.lit("?ref=abc#frag")).otherwise(F.lit("")),
    )
    return events.select(
        F.col("event_id"),
        url.alias("url"),
        normalize_url(url).alias("normalized_url"),
    )


NORMALIZE_URLS_SQL = """
WITH raw AS (
  SELECT event_id,
         'https://site' || CAST(user_id % 7 AS VARCHAR)
           || '.example.com/page/' || CAST(event_id % 100 AS VARCHAR)
           || CASE WHEN event_id % 3 = 0 THEN '?ref=abc#frag' ELSE '' END
           AS url
  FROM events
)
SELECT event_id, url,
       regexp_replace(url, '[?#].*$', '') AS normalized_url
FROM raw
"""


def _equiv_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic equiv graph over observed user ids
    (the test tables carry no explicit EquivEdge facts): each user
    links to its block-of-10 hub, and the lower half of each block
    chains to its successor — components are id-blocks of 10 with
    diameter > 1, exercising the iteration."""
    events = load_table(spark, sf_dir, "events")
    users = events.select(F.col("user_id").alias("u")).distinct()
    star = users.select(F.col("u").alias("src"), (F.col("u") - F.col("u") % 10).alias("dst"))
    chain = users.where(F.col("u") % 10 < 5).select(
        F.col("u").alias("src"), (F.col("u") + 1).alias("dst")
    )
    return star.union(chain)


EQUIV_EDGES_CTE = """
users AS (SELECT DISTINCT user_id AS u FROM events),
edges AS (
  SELECT u AS a, u - (u % 10) AS b FROM users
  UNION ALL
  SELECT u AS a, u + 1 AS b FROM users WHERE u % 10 < 5
),
undirected AS (
  SELECT a, b FROM edges WHERE a <> b
  UNION
  SELECT b, a FROM edges WHERE a <> b
),
nodes AS (SELECT DISTINCT a AS node FROM undirected),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT u.a, reach.r FROM undirected u JOIN reach ON u.b = reach.node
),
mapping AS (
  SELECT node AS user_id, CAST(min(r) AS BIGINT) AS canonical_id
  FROM reach
  GROUP BY node
)
"""


def user_id_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equiv-graph connected components, min-id labeling.

    Parity: `normalizeUserIds` (`BatchWorkflow.java:623-687`).
    """
    from ..cacheutil import serve_once

    def build() -> DataFrame:
        edges = _equiv_edges(spark, sf_dir)
        mapping = connected_components(edges, "src", "dst")
        return mapping.select(
            F.col("node").alias("user_id"), F.col("component").alias("canonical_id")
        )

    # four consumers (this query, normalized_events,
    # uniques_over_time_normalized, cross_device_sessions) start from
    # the mapping; CC runs eagerly, so each would re-run it
    return serve_once(spark, "equiv_map", sf_dir, ("events",), build)


USER_ID_NORMALIZATION_SQL = (
    "WITH RECURSIVE " + EQUIV_EDGES_CTE + "SELECT user_id, canonical_id FROM mapping"
)


def normalized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewrite facts onto canonical user ids — `MakeNormalizedPageview`
    applied via a left join + coalesce (`BatchWorkflow.java:607-687`)."""
    events = load_table(spark, sf_dir, "events")
    mapping = user_id_normalization(spark, sf_dir)
    return (
        events.join(F.broadcast(mapping), "user_id", "left")
        .select(
            "event_id",
            F.col("user_id"),
            F.coalesce(F.col("canonical_id"), F.col("user_id")).alias("canonical_user_id"),
            "event_type",
        )
    )


NORMALIZED_EVENTS_SQL = (
    "WITH RECURSIVE "
    + EQUIV_EDGES_CTE
    + """
SELECT e.event_id, e.user_id,
       CAST(coalesce(m.canonical_id, e.user_id) AS BIGINT)
         AS canonical_user_id,
       e.event_type
FROM events e
LEFT JOIN mapping m ON e.user_id = m.user_id
"""
)



def uniques_over_time_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full composition: equiv-graph user-ID
    normalization applied to the facts BEFORE the uniques rollup —
    two visits by the same person under different ids count once
    (`normalizeUserIds` → `uniquesView`, `BatchWorkflow.java:
    561-687` + `471-493`). One broadcast of the (small) mapping,
    then the standard two-level distinct rollup."""
    events = load_table(spark, sf_dir, "events")
    mapping = user_id_normalization(spark, sf_dir)
    normalized = events.join(F.broadcast(mapping), "user_id", "left").select(
        "event_type",
        "ts",
        F.coalesce("canonical_id", "user_id").alias("canonical_user"),
    )
    return uniques_exact(
        normalized, key="event_type", ts="ts", user="canonical_user"
    )


UNIQUES_NORMALIZED_SQL = (
    "WITH RECURSIVE "
    + EQUIV_EDGES_CTE
    + """,
norm AS (
  SELECT e.event_type, e.ts,
         CAST(coalesce(m.canonical_id, e.user_id) AS BIGINT) AS canonical_user
  FROM events e
  LEFT JOIN mapping m ON e.user_id = m.user_id
),
fanned AS (
  SELECT event_type, canonical_user,
         g.granularity,
         CASE g.granularity
           WHEN 'h' THEN CAST(floor(epoch(ts) / 3600) AS BIGINT)
           WHEN 'd' THEN CAST(floor(epoch(ts) / 3600) AS BIGINT) // 24
           WHEN 'w' THEN (CAST(floor(epoch(ts) / 3600) AS BIGINT) // 24) // 7
           ELSE (CAST(floor(epoch(ts) / 3600) AS BIGINT) // 24) // 28
         END AS bucket
  FROM norm
  CROSS JOIN (VALUES ('h'), ('d'), ('w'), ('m')) AS g(granularity)
)
SELECT event_type, granularity, bucket,
       CAST(count(DISTINCT canonical_user) AS BIGINT) AS unique_visitors
FROM fanned
GROUP BY 1, 2, 3
"""
)


def person_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten: drop EVERY fact belonging to users who
    filed a deletion request (here: any `error` event with
    value < 0.5), then recompute the hourly batch view from the
    remaining master data.

    This is the reference's human-fault-tolerance story made
    literal — the batch layer never edits in place; it deletes from
    the immutable master dataset and *recomputes* the views
    ("Big Data" ch. 2/18 rationale behind `BatchWorkflow`'s full
    recomputation design). The purge set is a broadcast anti join
    (never a NOT IN collected to the driver), so the 100 TB fact
    scan stays one pass.
    """
    events = load_table(spark, sf_dir, "events")
    purge = (
        events.where((F.col("event_type") == "error") & (F.col("value") < 0.5))
        .select("user_id")
        .distinct()
    )
    return (
        events.join(F.broadcast(purge), "user_id", "left_anti")
        .groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


PERSON_PURGE_SQL = """
SELECT event_type,
       CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
       CAST(count(*) AS BIGINT) AS cnt
FROM events
WHERE user_id NOT IN (SELECT user_id FROM events
                      WHERE event_type = 'error' AND value < 0.5)
GROUP BY 1, 2
"""


INCR_CUTOFF_FRACTION = 0.8


def incremental_pageviews_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch-view maintenance (the book's ch. 18
    incremental-vs-recompute tradeoff, made checkable): the hourly
    partial view of ``events ≤ cutoff`` is merged with the hourly
    partials of the new batch (``events > cutoff``) by algebraic
    sum, and h/d/w/m granularities re-derive from the merged hourly
    table. Only the new batch is scanned at update time; the merge
    shuffle is sized by the hourly view, not the fact table.

    Oracle = the FULL recompute rollup (`PAGEVIEWS_OVER_TIME_SQL`):
    incremental maintenance must be indistinguishable from
    recomputation — the master-dataset guarantee behind the Lambda
    batch layer (`BatchWorkflow.java:284-302`).
    """
    from ..operators.rollup import hourly_counts, merge_hourly, rollup_from_hourly

    from ..functions.timebuckets import epoch_us, us_to_ts

    events = load_table(spark, sf_dir, "events")
    # The batch/delta boundary is an INPUT in production: the batch
    # ledger records the max event time the last completed view
    # covered (what the reference notes when it ships a domain).
    # This harness has no ledger, so the bounded run derives a
    # stand-in cutoff from one min/max scan — a harness-only driver
    # action, not the production path (same note as
    # `lambda_merged_pageviews`, plans/speed.py).
    lo, hi = events.agg(
        F.min(epoch_us("ts")), F.max(epoch_us("ts"))
    ).first()
    cutoff = us_to_ts(F.lit(lo + int((hi - lo) * INCR_CUTOFF_FRACTION)))
    base = hourly_counts(
        events.where(F.col("ts") <= cutoff), "event_type", "ts", "event_type"
    )
    delta = hourly_counts(
        events.where(F.col("ts") > cutoff), "event_type", "ts", "event_type"
    )
    merged = merge_hourly(base, delta, "event_type")
    return rollup_from_hourly(merged, F.sum("cnt"), "event_type", "total_views")


#: incremental == full recompute, so the oracle IS the full rollup.
INCREMENTAL_PAGEVIEWS_SQL = PAGEVIEWS_OVER_TIME_SQL


def rolling_7d_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per observed day (sliding WAU) —
    the sliding-window complement of the bucketed `uniques_over_time`
    (`BatchWorkflow.java:471-493`).

    COUNT(DISTINCT) over a RANGE window has no scalable native path
    (per-row set state), so the shape is: distinct (day, user) — the
    ONLY fact-table shuffle — then fan each day-user pair to the ≤7
    window end-days it contributes to (explode over a 0..6 literal;
    ×7 on the already-small distinct table), clip to observed days
    via a broadcast semi join, and re-distinct per end-day. The HLL
    variant of the same window union is `uniques_over_time_hll`'s
    mergeable-sketch path.
    """
    events = load_table(spark, sf_dir, "events")
    du = (
        events.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    )
    days = du.select(F.col("day").alias("wday")).distinct()
    fanned = du.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "day",
    ).select(F.date_add("day", F.col("off")).alias("wday"), "user_id")
    return (
        fanned.join(F.broadcast(days), "wday", "left_semi")
        .groupBy("wday")
        .agg(F.count_distinct("user_id").alias("wau_7d"))
    )


ROLLING_7D_UNIQUES_SQL = """
WITH du AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM du),
fanned AS (
  SELECT day + o.off AS wday, user_id
  FROM du CROSS JOIN (SELECT CAST(unnest(range(0, 7)) AS INTEGER) AS off) o
)
SELECT f.wday,
       CAST(count(DISTINCT f.user_id) AS BIGINT) AS wau_7d
FROM fanned f
JOIN days d ON f.wday = d.day
GROUP BY 1
"""


def current_person_properties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Master-dataset read path, driver-checked end to end: seed
    person-property facts from events (property name/value derived
    deterministically per event so Spark and the oracle build the
    identical fact set), run them through the Thrift-union fact
    constructor, then derive each person's CURRENT value as the
    max-true-as-of fact — the book's age-update example (ref
    `schema.thrift` PersonProperty / PersonPropertyValue,
    `BatchWorkflow.java:146-181`).

    Plan: fact construction is pure projection; the read side is one
    shuffle on (person, property) + a row_number window — the same
    compaction shape at any scale.
    """
    from .. import schema

    events = load_table(spark, sf_dir, "events")
    props = events.select(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit("age"))
        .otherwise(F.lit("location"))
        .alias("pname"),
        (F.col("event_id") % 97).cast("string").alias("pval"),
        F.unix_timestamp("ts").alias("as_of"),
    )
    facts = schema.person_property_facts(props, "user_id", "pname", "pval", "as_of")
    return schema.current_person_properties(facts).select(
        "user_id",
        "property_name",
        "property_value",
        F.col("as_of_secs").cast("bigint").alias("as_of_secs"),
    )


CURRENT_PERSON_PROPERTIES_SQL = """
WITH props AS (
  SELECT user_id,
         CASE WHEN event_id % 2 = 0 THEN 'age' ELSE 'location' END AS property_name,
         CAST(event_id % 97 AS VARCHAR) AS property_value,
         CAST(floor(epoch(ts)) AS BIGINT) AS as_of_secs
  FROM events
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, property_name
            ORDER BY as_of_secs DESC, property_value DESC) AS rn
  FROM props
)
SELECT user_id, property_name, property_value, as_of_secs
FROM ranked WHERE rn = 1
"""


#: Day boundary for the delta-export demonstration: the previously
#: shipped store saw events before this day; the new batch appends
#: the rest (the events calendar spans 19723-19752 at every SF).
DELTA_EXPORT_CUT_DAY = 19738


def keyvalue_export_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental serving export — ship only the keys whose value
    CHANGED since the last shipped store (the ElephantDB full-swap
    made incremental shipping unnecessary in the reference; at
    100 TB the delta is the difference between shipping gigabytes
    and shipping everything). The "previous" store is the pageview
    view over events before DELTA_EXPORT_CUT_DAY; the "current" one
    sees all events; a FULL OUTER join on the serving key emits
    new/updated keys with both values (unchanged keys — the bulk —
    are filtered out; deletions cannot happen in an append-only
    view, asserted in tests).

    100 TB shape: two combinable rollups (the h/d/w/m fan-out),
    one key-equi full join, a changed-only filter — cost tracks the
    CHANGED key set, and the filter pushes the old-store scan's
    day bound into parquet.

    Returns (key, old_views, new_views, change ∈ new|updated).
    """
    from ..serving.keyvalue import url_bucketed_key

    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")

    def view(events) -> DataFrame:
        v = multi_granularity_rollup(
            events,
            key="event_type",
            ts="ts",
            agg=F.sum("cnt"),
            key_name="event_type",
            value_name="total_views",
        )
        key = url_bucketed_key(
            F.col("event_type"), F.col("granularity"), F.col("bucket")
        )
        return v.select(key.alias("key"), "total_views")

    prev = view(ev.where(day < DELTA_EXPORT_CUT_DAY)).withColumnRenamed(
        "total_views", "old_views"
    )
    cur = view(ev).withColumnRenamed("total_views", "new_views")
    return (
        cur.join(prev, "key", "full")
        .where(
            F.col("old_views").isNull()
            | (F.col("new_views") != F.col("old_views"))
        )
        .select(
            "key",
            F.col("old_views").cast("long").alias("old_views"),
            F.col("new_views").cast("long").alias("new_views"),
            F.when(F.col("old_views").isNull(), F.lit("new"))
            .otherwise(F.lit("updated"))
            .alias("change"),
        )
    )


_DELTA_VIEW_CTE = """
  SELECT event_type || '/' || g.granularity || '-' || CAST(
           CASE g.granularity
             WHEN 'h' THEN hour_bucket
             WHEN 'd' THEN hour_bucket // 24
             WHEN 'w' THEN (hour_bucket // 24) // 7
             ELSE (hour_bucket // 24) // 28
           END AS VARCHAR) AS key,
         CAST(sum(cnt) AS BIGINT) AS total_views
  FROM (
    SELECT event_type,
           CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
           count(*) AS cnt
    FROM events {where}
    GROUP BY 1, 2)
  CROSS JOIN (VALUES ('h'), ('d'), ('w'), ('m')) AS g(granularity)
  GROUP BY 1
"""

KEYVALUE_EXPORT_DELTA_SQL = f"""
WITH prev AS ({_DELTA_VIEW_CTE.format(
    where=f"WHERE CAST(floor(epoch(ts) / 86400) AS BIGINT)"
          f" < {DELTA_EXPORT_CUT_DAY}")}),
cur AS ({_DELTA_VIEW_CTE.format(where="")})
SELECT coalesce(c.key, p.key) AS key,
       CAST(p.total_views AS BIGINT) AS old_views,
       CAST(c.total_views AS BIGINT) AS new_views,
       CASE WHEN p.key IS NULL THEN 'new' ELSE 'updated' END AS change
FROM cur c FULL JOIN prev p ON c.key = p.key
WHERE p.key IS NULL OR c.total_views <> p.total_views
"""


#: Users with user_id % 10 == EQUIV_DELTA_RESIDUE play the "newly
#: observed ids" delta batch for the incremental normalization.
EQUIV_DELTA_RESIDUE = 3


def user_id_normalization_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental user-ID normalization (r9) — the absorb step the
    reference's append-only master implies for ITS core batch view
    (`normalizeUserIds`, `BatchWorkflow.java:623-687`; the book's
    ch. 6 incremental-vs-recompute discussion made concrete): when
    a batch of newly observed ids lands with fresh equiv edges, do
    NOT re-run connected components over the whole graph — collapse
    the stored base mapping to its representatives, rewrite the
    delta edges through it, and run CC on that contracted graph
    only (base reps + delta nodes — delta-sized, not corpus-sized).

    Exactness: CC is CONFLUENT — merging the delta into the
    contracted graph yields the identical fixpoint as a full
    recompute (each base representative is already the min id of
    its cluster, so the min over the contracted merged cluster IS
    the global min) — which makes the oracle the FULL-recompute
    closure itself: the strongest possible incremental contract,
    same shape as `sessionize_incremental`'s rebuild-equality.

    100 TB shape: one CC over the base (the stored mapping's local
    stand-in, exactly like `sessionize_incremental` recomputes the
    master slice), one broadcast-rewrite of the delta edges, one CC
    over the contracted delta graph, one mapping compose join. The
    per-ingest cost is the delta's, not the graph's.

    Returns (user_id, canonical_id, is_new) — `is_new` marks the
    delta batch's ids.
    """
    events = load_table(spark, sf_dir, "events")
    users = events.select(F.col("user_id").alias("u")).distinct()
    is_delta = F.col("u") % 10 == EQUIV_DELTA_RESIDUE
    base_u = users.where(~is_delta)
    delta_u = users.where(is_delta)

    def _edges(us: DataFrame) -> DataFrame:
        star = us.select(
            F.col("u").alias("src"), (F.col("u") - F.col("u") % 10).alias("dst")
        )
        chain = us.where(F.col("u") % 10 < 5).select(
            F.col("u").alias("src"), (F.col("u") + 1).alias("dst")
        )
        return star.union(chain)

    base_map = connected_components(_edges(base_u), "src", "dst").select(
        F.col("node").alias("user_id"), F.col("component").alias("base_id")
    )
    # rewrite delta edges through the base mapping (endpoints the
    # base graph never saw — genuinely new ids — pass through
    # unchanged); the contracted merge graph is delta-sized
    de = _edges(delta_u)
    rw = (
        de.join(
            base_map.select(F.col("user_id").alias("src"), F.col("base_id").alias("bs")),
            "src",
            "left",
        )
        .join(
            base_map.select(F.col("user_id").alias("dst"), F.col("base_id").alias("bd")),
            "dst",
            "left",
        )
        .select(
            F.coalesce("bs", F.col("src")).alias("src"),
            F.coalesce("bd", F.col("dst")).alias("dst"),
        )
    )
    merge = connected_components(rw, "src", "dst").select(
        F.col("node").alias("rep"), F.col("component").alias("merged_id")
    )
    # ONE uniform compose over the full node grain (a delta-residue
    # id can already sit in the base graph via a base user's chain
    # edge, so node->rep->merged must be resolved per node, never
    # per batch): rep = base mapping if known else the node itself;
    # canonical = merged component of the rep if the delta touched
    # it, else the rep. Output grain matches the full-CC oracle
    # (every edge endpoint, self-loop hubs included).
    all_e = _edges(users)
    nodes = (
        all_e.select(F.col("src").alias("node"))
        .unionByName(all_e.select(F.col("dst").alias("node")))
        .distinct()
    )
    return (
        nodes.join(
            base_map.withColumnRenamed("user_id", "node"), "node", "left"
        )
        .select("node", F.coalesce("base_id", F.col("node")).alias("rep"))
        .join(merge, "rep", "left")
        .select(
            F.col("node").alias("user_id"),
            F.coalesce("merged_id", F.col("rep")).alias("canonical_id"),
            (F.col("node") % 10 == EQUIV_DELTA_RESIDUE).alias("is_new"),
        )
    )


USER_ID_NORMALIZATION_INCREMENTAL_SQL = (
    "WITH RECURSIVE "
    + EQUIV_EDGES_CTE
    + f"""
SELECT user_id, canonical_id,
       user_id % 10 = {EQUIV_DELTA_RESIDUE} AS is_new
FROM mapping
"""
)
