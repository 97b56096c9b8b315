"""Advanced / semi-structured capabilities: JSON extraction, as-of
join, exact percentiles, pivot — each with a DuckDB oracle.

The events stream links to orders via ``user = o_custkey % 150``
(the test tables carry no explicit FK between them); the mapping is
declared identically in the Spark plan and the oracle SQL.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cacheutil import materialize, persist
from ..functions.timebuckets import epoch_us
from ..operators.asof import asof_join
from ..sources.tables import load_table
from .llm import _dlit

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull ``$.k`` out of the JSON
    props column JVM-side, then aggregate per event_type — the
    scan reads only (event_type, props)."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("k_sum"),
            F.count(F.when(F.col("k") > 50, 1)).alias("k_over_50"),
        )
    )


PROPS_JSON_EXTRACT_SQL = """
SELECT event_type,
       CAST(sum(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS k_sum,
       CAST(count(CASE WHEN json_extract(props, '$.k')::BIGINT > 50
                       THEN 1 END) AS BIGINT) AS k_over_50
FROM events
GROUP BY 1
"""


def asof_last_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each order picks up the last event value of its
    user at/before the order date (`operators/asof.py`; oracle =
    DuckDB's native ASOF JOIN)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 150).alias("user_id"),
        "o_orderdate",
    )
    # unique per (user, ts): max value among same-timestamp events
    events = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    out = asof_join(
        orders, events, on="user_id", left_ts="o_orderdate", right_ts="ts",
        value_cols=["value"],
    )
    return out.select(
        "o_orderkey",
        "user_id",
        epoch_us("asof_ts").alias("asof_ts_us"),
        F.round("asof_value", 4).alias("last_event_value"),
    )


ASOF_LAST_EVENT_VALUE_SQL = """
WITH o AS (
  SELECT o_orderkey, o_custkey % 150 AS user_id, o_orderdate
  FROM orders
),
e AS (
  SELECT user_id, ts, max(value) AS value
  FROM events
  GROUP BY 1, 2
)
SELECT o.o_orderkey, o.user_id,
       epoch_us(e.ts) AS asof_ts_us,
       round(e.value, 4) AS last_event_value
FROM o ASOF LEFT JOIN e
  ON o.user_id = e.user_id AND e.ts <= o.o_orderdate
"""


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) of event value per
    type — Spark ``percentile`` ≡ SQL ``quantile_cont``."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        F.round(F.min("value"), 4).alias("v_min"),
        F.round(F.max("value"), 4).alias("v_max"),
    )


VALUE_PERCENTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95,
       round(min(value), 4) AS v_min,
       round(max(value), 4) AS v_max
FROM events
GROUP BY 1
"""


def value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approx-percentile SCALE path as a registry query (r4):
    ``approx_percentile`` (KLL-style mergeable sketch, map-side
    combinable — the only shape that works at 100 TB where exact
    percentiles need a full sort) checked through the tolerance
    contract: the plan joins the sketch estimates to the exact
    percentiles and emits within-2%-of-value-spread flags computed
    IN-PLAN; the oracle restates the exact percentiles and asserts
    the flags (the `uniques_over_time_hll` pattern). Spread-relative
    tolerance (2% of max-min) keeps the contract meaningful when a
    percentile sits near zero.

    Returns (event_type, p50, p95, p50_ok, p95_ok).
    """
    events = load_table(spark, sf_dir, "events")
    approx = events.groupBy("event_type").agg(
        F.approx_percentile("value", F.lit(0.5), F.lit(10000)).alias("ap50"),
        F.approx_percentile("value", F.lit(0.95), F.lit(10000)).alias("ap95"),
    )
    exact = events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        (F.max("value") - F.min("value")).alias("spread"),
    )
    return approx.join(exact, "event_type").select(
        "event_type",
        "p50",
        "p95",
        (F.abs(F.col("ap50") - F.col("p50")) <= 0.02 * F.col("spread")).alias("p50_ok"),
        (F.abs(F.col("ap95") - F.col("p95")) <= 0.02 * F.col("spread")).alias("p95_ok"),
    )


VALUE_PERCENTILES_APPROX_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95,
       true AS p50_ok,
       true AS p95_ok
FROM events
GROUP BY 1
"""


def user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event counts, one column per event type
    (explicit value list → no extra distinct pass, deterministic
    schema)."""
    events = load_table(spark, sf_dir, "events")
    out = (
        events.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in EVENT_TYPES],
    )


USER_EVENT_PIVOT_SQL = """
SELECT user_id,
       CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_click,
       CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_error,
       CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchase,
       CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS n_signup,
       CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_view
FROM events
GROUP BY 1
"""


def hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-spine resampling: per event_type, one row for EVERY hour
    between the type's first and last event, zero-filled where no
    events landed — the gap-filling join every time-series rollup
    needs before charting/windowing.

    Spine = sequence(min_hour, max_hour) exploded per key (tiny:
    keys × hours), left-joined to the hourly aggregate. No shuffle
    touches raw facts beyond the one hourly rollup.
    """
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour_bucket"),
    ).agg(F.count(F.lit(1)).alias("n_views"))
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hour_bucket").alias("lo"), F.max("hour_bucket").alias("hi"))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi")).alias("hour_bucket"),
        )
    )
    return spine.join(hourly, ["event_type", "hour_bucket"], "left").select(
        "event_type",
        "hour_bucket",
        F.coalesce("n_views", F.lit(0)).cast("long").alias("n_views"),
    )


HOURLY_GAP_FILL_SQL = """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
         CAST(count(*) AS BIGINT) AS n_views
  FROM events
  GROUP BY 1, 2
),
spine AS (
  SELECT event_type, unnest(generate_series(min(hour_bucket), max(hour_bucket)))
           AS hour_bucket
  FROM hourly
  GROUP BY event_type
)
SELECT s.event_type, s.hour_bucket,
       COALESCE(h.n_views, 0) AS n_views
FROM spine s
LEFT JOIN hourly h
  ON s.event_type = h.event_type AND s.hour_bucket = h.hour_bucket
"""


def user_event_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the per-user event-count matrix back to long
    (user_id, event_type, n) form, dropping zero cells — the inverse
    of `user_event_pivot`, via the native ``unpivot`` operator."""
    wide = user_event_pivot(spark, sf_dir)
    long = wide.unpivot(
        ids=["user_id"],
        values=[f"n_{t}" for t in EVENT_TYPES],
        variableColumnName="etype_col",
        valueColumnName="n",
    )
    return long.where(F.col("n") > 0).select(
        "user_id",
        F.expr("substring(etype_col, 3)").alias("event_type"),
        F.col("n").cast("long").alias("n"),
    )


USER_EVENT_UNPIVOT_SQL = """
SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2
"""


SCD2_BATCH_TS = 1_000


def scd2_customer_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge: customers as the open dimension, a deterministic
    update batch (every 5th customer's balance +100), applied via
    `operators/cdc.scd2_apply`. Output = full dimension with closed
    history + new open versions."""
    from ..operators.cdc import scd2_apply

    cust = load_table(spark, sf_dir, "customer")
    current = cust.select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = cust.where(F.col("c_custkey") % 5 == 0).select(
        "c_custkey", F.round(F.col("c_acctbal") + 100.0, 2).alias("acctbal")
    )
    return scd2_apply(current, updates, "c_custkey", ["acctbal"], SCD2_BATCH_TS)


SCD2_CUSTOMER_UPDATES_SQL = f"""
WITH upd AS (
  SELECT c_custkey, round(c_acctbal + 100.0, 2) AS new_bal
  FROM customer WHERE c_custkey % 5 = 0
)
SELECT c.c_custkey,
       round(c.c_acctbal, 2) AS acctbal,
       CAST(0 AS BIGINT) AS valid_from,
       CASE WHEN u.c_custkey IS NOT NULL THEN CAST({SCD2_BATCH_TS} AS BIGINT)
            ELSE NULL END AS valid_to,
       u.c_custkey IS NULL AS is_current
FROM customer c LEFT JOIN upd u ON c.c_custkey = u.c_custkey
UNION ALL
SELECT c_custkey, new_bal AS acctbal,
       CAST({SCD2_BATCH_TS} AS BIGINT) AS valid_from,
       NULL AS valid_to, TRUE AS is_current
FROM upd
"""


RANGE_JOIN_WINDOW_SECS = 60


def _near_pair_succ_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared kernel of the near-pairs family (r10): per-event
    IN-WINDOW SUCCESSOR COUNTS by merge-counting, with zero pair
    materialization. Canonicalize each unordered in-window pair to
    its EARLIER endpoint (ties on us broken by event_id); then an
    event's pair contribution is the count of later events within
    RANGE_JOIN_WINDOW_SECS, which is a rank lookup: rank the union
    of POINTS (us) and QUERIES (us + w) per type on (us, kind, eid)
    with points first at ties, and a query's union rank r satisfies
    r = #points(us ≤ us_a + w) + pos(a), so
    succ_win = r − 2·pos(a) — the classic merge-count. Two two-pass
    rank passes (n and 2n rows), NO join: work is O(n log n) at ANY
    density, where the old bucketized all-pairs join paid the full
    density²·window pair mass just to count it (the r10 sf100 probe
    walled on it at 1000-tile density).

    Returns one row per event with ≥ 1 in-window successor:
    (event_type, succ_win).
    """
    from ..operators.ranking import two_pass_ranks

    events = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("event_id").alias("eid"),
        epoch_us("ts").alias("us"),
    )
    w = RANGE_JOIN_WINDOW_SECS * 1_000_000
    ranked = two_pass_ranks(
        events,
        [F.col("us"), F.col("eid")],
        [{"partition": ("event_type",), "rank": "pos"}],
    )
    pts = ranked.select(
        "event_type",
        F.col("us").alias("sort_us"),
        F.lit(0).alias("kind"),
        "eid",
        F.lit(None).cast("long").alias("pos"),
    )
    qrs = ranked.select(
        "event_type",
        (F.col("us") + F.lit(w)).alias("sort_us"),
        F.lit(1).alias("kind"),
        "eid",
        F.col("pos"),
    )
    merged = two_pass_ranks(
        pts.unionByName(qrs),
        [F.col("sort_us"), F.col("kind"), F.col("eid")],
        [{"partition": ("event_type",), "rank": "r"}],
    )
    return (
        merged.where(F.col("kind") == 1)
        .select(
            "event_type",
            (F.col("r") - 2 * F.col("pos")).cast("long").alias("succ_win"),
        )
        .where(F.col("succ_win") >= 1)
    )


def events_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range "join" via merge-counting (re-planned r10): COUNT of
    same-type event pairs within RANGE_JOIN_WINDOW_SECS per type.
    The output is a count, so no pair ever needs to exist: the
    merge-count kernel (`_near_pair_succ_counts`) yields each
    event's in-window successor count in O(n log n) and the type
    rollup sums them — pair mass ∝ density²·window is now only the
    VALUE of the answer, not the work to compute it (the old
    bucketized equi-join paid it as intermediate rows; the r8
    "output-bound" caveat is gone because nothing is output at pair
    grain). The all-pairs DuckDB oracle is unchanged — both
    canonicalizations count every unordered pair exactly once.
    """
    return (
        _near_pair_succ_counts(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.sum("succ_win").cast("long").alias("n_pairs"))
    )


EVENTS_NEAR_PAIRS_SQL = f"""
SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_pairs
FROM events a
JOIN events b
  ON a.event_type = b.event_type
 AND a.event_id < b.event_id
 AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= {RANGE_JOIN_WINDOW_SECS} * 1000000
GROUP BY 1
"""


#: Max reported partners per left event for the capped range join —
#: the growth lever `events_near_pairs` lacks (its output is pair
#: mass, which grows with density²·window; this constant bounds it
#: to n·cap). Shared plan↔oracle (the SEMDEDUP_TARGET_CELL pattern).
NEAR_PAIRS_EVENT_CAP = 8


def events_near_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output- AND work-bounded range join (re-contracted r10). The
    r8 version capped OUTPUT at NEAR_PAIRS_EVENT_CAP partners per
    left event but materialized the full density² pair mass before
    ranking (left = smaller event_id forced a full-partner rank) —
    the r10 sf100 probe caught it walling at 1000-tile density. The
    v2 contract assigns each unordered in-window pair to its
    EARLIER endpoint (us ties broken by event_id — a canonical
    endpoint exactly like the old min-eid rule, just time-aligned),
    under which partners ranked by (Δt, event_id) are precisely the
    successors in (us, eid) order — so the capped count per event
    is min(succ_win, cap), a pure function of the merge-count
    kernel's successor count: `_near_pair_succ_counts`, O(n log n)
    at ANY density, no joins, no fan-out. Truncation stays
    measured, never hidden (the no-silent-caps report).

    Returns (event_type, n_pairs_capped, n_events_with_partners,
    n_events_at_cap).
    """
    cap = NEAR_PAIRS_EVENT_CAP
    return _near_pair_succ_counts(spark, sf_dir).groupBy("event_type").agg(
        F.sum(F.least(F.col("succ_win"), F.lit(cap)))
        .cast("long")
        .alias("n_pairs_capped"),
        F.count(F.lit(1)).cast("long").alias("n_events_with_partners"),
        F.sum(F.when(F.col("succ_win") >= cap + 1, 1).otherwise(0))
        .cast("long")
        .alias("n_events_at_cap"),
    )


EVENTS_NEAR_PAIRS_CAPPED_SQL = f"""
WITH r AS (
  SELECT event_type, epoch_us(ts) AS us,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY epoch_us(ts), event_id) AS pos
  FROM events),
hits AS (
  SELECT a.event_type, t.k
  FROM r a
  CROSS JOIN range(1, {NEAR_PAIRS_EVENT_CAP} + 2) t(k)
  JOIN r b ON a.event_type = b.event_type AND b.pos = a.pos + t.k
  WHERE b.us - a.us <= {RANGE_JOIN_WINDOW_SECS} * 1000000)
SELECT event_type,
       CAST(sum(CASE WHEN k <= {NEAR_PAIRS_EVENT_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pairs_capped,
       CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_events_with_partners,
       CAST(sum(CASE WHEN k = {NEAR_PAIRS_EVENT_CAP} + 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_events_at_cap
FROM hits GROUP BY 1
"""


def hourly_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF interpolation: resample to an hourly spine, then carry
    the last observed hourly average forward through empty hours
    (the other gap-fill policy next to `hourly_gap_fill`'s
    zero-fill). `last(ignorenulls)` over an unbounded-preceding
    window — one partial-agg shuffle + one window sort, never
    touching raw facts twice.

    The spine starts at each key's first observed hour, so no
    leading NULLs survive.

    The hourly average is computed from integer-exact cent sums
    (value has 2 decimals) — a native avg(double) is
    accumulation-order-dependent, and at sf0.1 a half-ulp
    difference flipped the 4th-decimal rounding vs the oracle.
    sum(long)/100.0/n is one deterministic op sequence on both
    engines, and the result ships UNROUNDED: cross-engine
    round(double, 4) itself disagrees within an ulp of a .00005
    boundary, while the raw bits never do.
    """
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    hourly = events.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour_bucket"),
    ).agg(
        (F.sum(cents) / F.lit(100.0) / F.count(F.lit(1))).alias("avg_value")
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hour_bucket").alias("lo"), F.max("hour_bucket").alias("hi"))
        .select("event_type", F.explode(F.sequence("lo", "hi")).alias("hour_bucket"))
    )
    joined = spine.join(hourly, ["event_type", "hour_bucket"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "event_type",
        "hour_bucket",
        F.last("avg_value", ignorenulls=True).over(w).alias("filled_value"),
        F.col("avg_value").isNull().alias("was_gap"),
    )


HOURLY_LOCF_SQL = """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
         sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0
           / count(*) AS avg_value
  FROM events
  GROUP BY 1, 2
),
spine AS (
  SELECT event_type, unnest(generate_series(min(hour_bucket), max(hour_bucket)))
           AS hour_bucket
  FROM hourly
  GROUP BY event_type
)
SELECT s.event_type, s.hour_bucket,
       last_value(h.avg_value IGNORE NULLS)
         OVER (PARTITION BY s.event_type ORDER BY s.hour_bucket
               ROWS UNBOUNDED PRECEDING) AS filled_value,
       h.avg_value IS NULL AS was_gap
FROM spine s
LEFT JOIN hourly h
  ON s.event_type = h.event_type AND s.hour_bucket = h.hour_bucket
"""


def sales_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((nation), (segment), ()) with
    per-column grouping() flags — the non-hierarchical cousin of
    `sales_rollup`. Catalyst expands the sets into one Expand +
    single hash aggregate (one shuffle for all three groupings)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    joined.createOrReplaceTempView("gs_joined")
    return spark.sql("""
        SELECT n_name, c_mktsegment,
               CAST(grouping(n_name) AS BIGINT) AS g_nation,
               CAST(grouping(c_mktsegment) AS BIGINT) AS g_segment,
               round(sum(o_totalprice), 2) AS total_sales,
               count(*) AS n_orders
        FROM gs_joined
        GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
    """)


SALES_GROUPING_SETS_SQL = """
SELECT n_name, c_mktsegment,
       CAST(grouping(n_name) AS BIGINT) AS g_nation,
       CAST(grouping(c_mktsegment) AS BIGINT) AS g_segment,
       round(sum(o_totalprice), 2) AS total_sales,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
"""


def log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog upsert compaction: keep only the LATEST record per
    (user_id, event_type) key — the batch analog of a compacted
    Kafka topic / the serving layer's key→latest-value contract.
    Deterministic tiebreak on event_id so replays compact
    identically.

    Plan: ONE shuffle on the key, row_number over (ts, event_id)
    DESC inside each partition — no self-join against a max-ts
    aggregate (which would scan the facts twice).
    """
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id", "event_type",
            F.col("event_id").alias("last_event_id"),
            epoch_us("ts").alias("last_ts_us"),
            F.round("value", 2).alias("last_value"),
        )
    )


LOG_COMPACTION_SQL = """
SELECT user_id, event_type,
       event_id AS last_event_id,
       CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
       round(value, 2) AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-level funnel: for each signup, did the same user
    purchase within 6 hours? Daily signup count, converted count,
    conversion rate.

    Plan: signups ⋈ purchases equi-join on user_id with the time
    window as a join-side filter, then EXISTS-style distinct on the
    signup id (left-semi shape via groupBy on the signup key), then
    one small day rollup. At 100 TB the user_id equi-join shuffles
    both filtered streams once; AQE handles hot users.
    """
    events = load_table(spark, sf_dir, "events")
    signups = events.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("s_id"), F.col("user_id").alias("s_user"),
        F.col("ts").alias("s_ts"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converted = (
        signups.join(
            purchases,
            (F.col("s_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("s_ts"))
            & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 6 HOURS")),
            "left_semi",
        )
        .select("s_id")
    )
    per_signup = signups.join(
        converted.withColumn("converted", F.lit(1)), "s_id", "left"
    )
    return (
        per_signup.groupBy(F.to_date("s_ts").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_signups"),
            F.sum(F.coalesce("converted", F.lit(0))).alias("n_converted"),
        )
        .select(
            "day", "n_signups", "n_converted",
            F.round(F.col("n_converted") / F.col("n_signups"), 6).alias("conversion_rate"),
        )
    )


FUNNEL_CONVERSION_SQL = """
WITH signups AS (
  SELECT event_id AS s_id, user_id AS s_user, ts AS s_ts
  FROM events WHERE event_type = 'signup'
),
converted AS (
  SELECT DISTINCT s.s_id
  FROM signups s
  JOIN events p
    ON p.user_id = s.s_user AND p.event_type = 'purchase'
   AND p.ts > s.s_ts AND p.ts <= s.s_ts + INTERVAL 6 HOUR
)
SELECT CAST(CAST(s.s_ts AS DATE) AS VARCHAR) AS day,
       CAST(count(*) AS BIGINT) AS n_signups,
       CAST(count(c.s_id) AS BIGINT) AS n_converted,
       round(count(c.s_id) * 1.0 / count(*), 6) AS conversion_rate
FROM signups s
LEFT JOIN converted c ON s.s_id = c.s_id
GROUP BY 1
"""


def user_value_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth on one pass: lag / lead /
    percent_rank / cume_dist / ntile(4) over the per-day value
    series of each event_type. All five share ONE window sort —
    Catalyst collapses same-spec window functions into a single
    Window operator (one shuffle on event_type, one sort on day).
    """
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("day_value"))
    w = Window.partitionBy("event_type").orderBy("day")
    return daily.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        "day_value",
        F.lag("day_value").over(w).alias("prev_value"),
        F.lead("day_value").over(w).alias("next_value"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


USER_VALUE_WINDOWS_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         round(sum(value), 4) AS day_value
  FROM events
  GROUP BY 1, 2
)
SELECT event_type, CAST(day AS VARCHAR) AS day, day_value,
       lag(day_value)  OVER w AS prev_value,
       lead(day_value) OVER w AS next_value,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist()    OVER w, 6) AS cume,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day)
"""


def rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window (not row-count): 7-day rolling revenue per
    event_type. Missing days shrink the frame — `rangeBetween` on
    the epoch-day order key, which distinguishes this from the
    row-frame `running_daily_revenue`.
    """
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long").alias("day_num"),
    ).agg(F.round(F.sum("value"), 4).alias("day_value"))
    w = (
        Window.partitionBy("event_type").orderBy("day_num").rangeBetween(-6, 0)
    )
    return daily.select(
        "event_type",
        "day_num",
        "day_value",
        F.round(F.sum("day_value").over(w), 4).alias("rolling_7d"),
        F.count(F.lit(1)).over(w).alias("days_in_window"),
    )


ROLLING_7D_REVENUE_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
           AS day_num,
         round(sum(value), 4) AS day_value
  FROM events
  GROUP BY 1, 2
)
SELECT event_type, day_num, day_value,
       round(sum(day_value) OVER w, 4) AS rolling_7d,
       CAST(count(*) OVER w AS BIGINT) AS days_in_window
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day_num
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity
    week; for offsets 0-4, the share of each cohort active again
    that week. Two hash aggregates (first-week per user, distinct
    user-weeks) joined on user — the user table never materializes
    on the driver; cohort and activity stay co-partitioned on
    user_id for the join, and the final rollup is tiny.
    """
    from ..functions.timebuckets import bucket_for, hour_bucket

    events = load_table(spark, sf_dir, "events")
    # ONE fact scan: the week bucket is monotone in ts, so each
    # user's cohort week == min of their active weeks — derive
    # cohorts from the (already tiny) distinct user-week relation
    # instead of a second min-ts aggregate over the raw facts.
    activity = events.select(
        "user_id", bucket_for("w", hour_bucket(F.col("ts"))).alias("active_week")
    ).distinct()
    cohorts = activity.groupBy("user_id").agg(
        F.min("active_week").alias("cohort_week")
    )
    joined = cohorts.join(activity, "user_id").select(
        "user_id", "cohort_week",
        (F.col("active_week") - F.col("cohort_week")).alias("week_offset"),
    )
    sizes = cohorts.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("n_cohort")
    )
    return (
        joined.where(F.col("week_offset").between(0, 4))
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week", "week_offset", "n_active", "n_cohort",
            F.round(F.col("n_active") / F.col("n_cohort"), 6).alias("retention"),
        )
    )


COHORT_RETENTION_SQL = """
WITH cohorts AS (
  SELECT user_id,
         (CAST(floor(epoch(min(ts)) / 3600) AS BIGINT) // 24) // 7 AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id,
         (CAST(floor(epoch(ts) / 3600) AS BIGINT) // 24) // 7 AS active_week
  FROM events
),
sizes AS (
  SELECT cohort_week, CAST(count(DISTINCT user_id) AS BIGINT) AS n_cohort
  FROM cohorts GROUP BY 1
),
hits AS (
  SELECT c.cohort_week, a.active_week - c.cohort_week AS week_offset,
         CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_active
  FROM cohorts c JOIN activity a USING (user_id)
  WHERE a.active_week - c.cohort_week BETWEEN 0 AND 4
  GROUP BY 1, 2
)
SELECT cohort_week, week_offset, n_active, n_cohort,
       round(n_active * 1.0 / n_cohort, 6) AS retention
FROM hits JOIN sizes USING (cohort_week)
"""


def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations-style data-quality audit of the orders feed in
    ONE fact pass: every metric is a conditional aggregate of the
    same scan (count-distinct keys included), melted to one row per
    check afterwards. At 100 TB this is the pattern that replaces N
    separate validation queries with a single scan + tiny stack.
    """
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.agg(
        F.count(F.lit(1)).cast("double").alias("row_count"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
            .cast("double").alias("dup_orderkeys"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
            .cast("double").alias("null_custkeys"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
            .cast("double").alias("nonpositive_totals"),
        F.sum(
            F.when(
                ~F.col("o_orderstatus").isin("O", "F", "P"), 1
            ).otherwise(0)
        ).cast("double").alias("bad_status"),
        F.sum(F.when(F.col("o_orderdate") > F.lit("2025-01-01"), 1).otherwise(0))
            .cast("double").alias("future_dates"),
    )
    melted = agg.selectExpr(
        "stack(6, 'row_count', row_count, 'dup_orderkeys', dup_orderkeys, "
        "'null_custkeys', null_custkeys, 'nonpositive_totals', nonpositive_totals, "
        "'bad_status', bad_status, 'future_dates', future_dates) "
        "AS (check_name, metric)"
    )
    return melted.select(
        "check_name", "metric",
        ((F.col("check_name") == "row_count") | (F.col("metric") == 0)).alias("passed"),
    )


DQ_CHECKS_SQL = """
WITH agg AS (
  SELECT CAST(count(*) AS DOUBLE) AS row_count,
         CAST(count(*) - count(DISTINCT o_orderkey) AS DOUBLE) AS dup_orderkeys,
         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
           AS null_custkeys,
         CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS DOUBLE)
           AS nonpositive_totals,
         CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
              AS DOUBLE) AS bad_status,
         CAST(sum(CASE WHEN o_orderdate > TIMESTAMP '2025-01-01 00:00:00'
                       THEN 1 ELSE 0 END) AS DOUBLE) AS future_dates
  FROM orders
),
melted AS (
  SELECT 'row_count' AS check_name, row_count AS metric FROM agg
  UNION ALL SELECT 'dup_orderkeys', dup_orderkeys FROM agg
  UNION ALL SELECT 'null_custkeys', null_custkeys FROM agg
  UNION ALL SELECT 'nonpositive_totals', nonpositive_totals FROM agg
  UNION ALL SELECT 'bad_status', bad_status FROM agg
  UNION ALL SELECT 'future_dates', future_dates FROM agg
)
SELECT check_name, metric,
       (check_name = 'row_count' OR metric = 0) AS passed
FROM melted
"""


ANOMALY_Z = 3.0
ANOMALY_MIN_HOURS = 12


def hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring-style anomaly detection: z-score of each hour's
    event count vs the trailing 24 observed hours (frame excludes
    the current hour), flagged at |z| > 3 after a 12-hour warmup.

    The variance comes from integer-exact window sums
    (Σx, Σx², n) rather than a native stddev aggregate — both
    engines then evaluate the identical IEEE expression, so the
    oracle matches bit-for-bit. One fact shuffle (hourly rollup) +
    one window sort; the rollup is tiny thereafter.
    """
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour_bucket"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("event_type").orderBy("hour_bucket")
        .rowsBetween(-24, -1)
    )
    n = F.count(F.lit(1)).over(w)
    s1 = F.sum("cnt").over(w)
    s2 = F.sum(F.col("cnt") * F.col("cnt")).over(w)
    mu = s1 / n
    var = (s2 - s1 * s1 / n) / (n - 1)
    z = (F.col("cnt") - mu) / F.sqrt(var)
    guarded = F.when((n >= ANOMALY_MIN_HOURS) & (var > 0), z)
    return hourly.select(
        "event_type", "hour_bucket", "cnt",
        F.round(guarded, 6).alias("zscore"),
        F.coalesce(F.abs(guarded) > ANOMALY_Z, F.lit(False)).alias("is_anomaly"),
    )


HOURLY_ANOMALIES_SQL = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, hour_bucket, cnt,
         count(*)        OVER w AS n,
         sum(cnt)        OVER w AS s1,
         sum(cnt * cnt)  OVER w AS s2
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_bucket
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hour_bucket, cnt,
       round(CASE WHEN n >= {ANOMALY_MIN_HOURS}
                   AND (s2 - s1 * s1 / n) / (n - 1) > 0
                  THEN (cnt - s1 / n)
                       / sqrt((s2 - s1 * s1 / n) / (n - 1))
             END, 6) AS zscore,
       coalesce(abs(CASE WHEN n >= {ANOMALY_MIN_HOURS}
                          AND (s2 - s1 * s1 / n) / (n - 1) > 0
                         THEN (cnt - s1 / n)
                              / sqrt((s2 - s1 * s1 / n) / (n - 1))
                    END) > {ANOMALY_Z}, FALSE) AS is_anomaly
FROM stats
"""


def sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (segment, priority): all four grouping-set
    combinations of customer market segment × order priority in ONE
    Expand + partial-aggregated hash agg (no union of per-set aggs);
    ``grouping()`` flags disambiguate subtotal rows from NULL keys.
    Complements ROLLUP (`sales_rollup`) / explicit GROUPING SETS
    (`sales_grouping_sets`) to complete the multi-dimensional agg
    family."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    j = orders.join(customer, orders.o_custkey == customer.c_custkey)
    return j.cube("c_mktsegment", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
        F.grouping("c_mktsegment").cast("int").alias("g_seg"),
        F.grouping("o_orderpriority").cast("int").alias("g_pri"),
    )


SALES_CUBE_SQL = """
SELECT c_mktsegment, o_orderpriority,
       round(sum(o_totalprice), 4) AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(GROUPING(c_mktsegment) AS INTEGER) AS g_seg,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_pri
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE (c_mktsegment, o_orderpriority)
"""

HIST_BUCKET_WIDTH = 25.0


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event values per event_type (bucket =
    floor(value/25)) — the distribution-profiling scan: one
    map-side-combinable hash agg over (type, bucket), only order-free
    measures (count/min/max) so the result is engine-exact without
    rounding tricks. At 100 TB this is a single shuffle whose key
    cardinality is #types × #buckets (tiny)."""
    events = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / F.lit(HIST_BUCKET_WIDTH)).cast("long")
    return (
        events.select("event_type", bucket.alias("bucket"), "value")
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("min_v"),
            F.round(F.max("value"), 4).alias("max_v"),
        )
    )


VALUE_HISTOGRAM_SQL = f"""
SELECT event_type,
       CAST(floor(value / {HIST_BUCKET_WIDTH}) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(min(value), 4) AS min_v,
       round(max(value), 4) AS max_v
FROM events
GROUP BY 1, 2
"""


def monthly_daily_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month Pearson correlation between daily shipment count and
    daily shipped quantity — the statistical-profiling shape, done in
    two level-aggregates: daily partials (the ONLY full-fact-table
    shuffle) → per-month moment sums → closed-form corr.

    Exactness contract: NEVER use native corr()/stddev cross-engine
    (accumulation-order drift). Both inputs are integer-valued, so
    every moment sum (Σx, Σy, Σx², Σy², Σxy) is an exact integer in
    a double, and corr = (nΣxy−ΣxΣy)/(√(nΣx²−Σx²)·√(nΣy²−Σy²)) is
    the identical IEEE expression in both engines — bit-for-bit, the
    same trick as `hourly_anomalies`.
    """
    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.groupBy(F.col("l_shipdate").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("x"),
            F.sum("l_quantity").alias("y"),
        )
    )
    stats = (
        daily.groupBy(F.date_trunc("month", "day").cast("date").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    corr = F.when(
        (vx > 0) & (vy > 0),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.sqrt(vx) * F.sqrt(vy)),
    )
    return stats.select(
        "month",
        F.col("n").cast("long").alias("n_days"),
        F.round(corr, 6).alias("qty_count_corr"),
    )


MONTHLY_DAILY_CORR_SQL = """
WITH daily AS (
  SELECT l_shipdate::DATE AS day,
         CAST(count(*) AS DOUBLE) AS x,
         sum(l_quantity) AS y
  FROM lineitem GROUP BY 1
),
stats AS (
  SELECT date_trunc('month', day)::DATE AS month,
         CAST(count(*) AS DOUBLE) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM daily GROUP BY 1
)
SELECT month,
       CAST(n AS BIGINT) AS n_days,
       round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                  THEN (n * sxy - sx * sy)
                       / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             END, 6) AS qty_count_corr
FROM stats
"""


def funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step strictly-ordered funnel (sequence-pattern
    matching): signup → FIRST view within 6 h → purchase within 6 h
    of that view. Each step anchors on the previous step's earliest
    satisfying event (min-ts per signup — deterministic), which is
    the MATCH_RECOGNIZE-style semantics a marketing funnel actually
    wants, not mere EXISTS.

    Plan: two user-key equi-joins with the time window as a join
    filter + min-agg per signup (step 2), then a left-semi (step 3);
    one small day rollup at the end. Both joins shuffle only the
    type-filtered event slices; AQE handles hot users.
    """
    events = load_table(spark, sf_dir, "events")
    signups = events.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("s_id"),
        F.col("user_id").alias("s_user"),
        F.col("ts").alias("s_ts"),
    )
    views = events.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    step2 = (
        signups.join(
            views,
            (F.col("s_user") == F.col("v_user"))
            & (F.col("v_ts") > F.col("s_ts"))
            & (F.col("v_ts") <= F.col("s_ts") + F.expr("INTERVAL 6 HOURS")),
        )
        .groupBy("s_id", "s_user")
        .agg(F.min("v_ts").alias("t1"))
    )
    step3 = (
        step2.join(
            purchases,
            (F.col("s_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("t1"))
            & (F.col("p_ts") <= F.col("t1") + F.expr("INTERVAL 6 HOURS")),
            "left_semi",
        )
        .select("s_id")
        .withColumn("purchased", F.lit(1))
    )
    per_signup = (
        signups.join(step2.select("s_id", "t1"), "s_id", "left")
        .join(step3, "s_id", "left")
    )
    return (
        per_signup.groupBy(F.to_date("s_ts").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_signups"),
            F.count("t1").alias("n_viewed"),
            F.count("purchased").alias("n_purchased"),
        )
        .select(
            "day", "n_signups", "n_viewed", "n_purchased",
            F.round(F.col("n_viewed") / F.col("n_signups"), 6).alias("view_rate"),
            F.round(F.col("n_purchased") / F.col("n_signups"), 6).alias("purchase_rate"),
        )
    )


FUNNEL_3STEP_SQL = """
WITH s AS (
  SELECT event_id AS s_id, user_id AS s_user, ts AS s_ts
  FROM events WHERE event_type = 'signup'
),
v AS (SELECT user_id AS v_user, ts AS v_ts FROM events WHERE event_type = 'view'),
p AS (SELECT user_id AS p_user, ts AS p_ts FROM events WHERE event_type = 'purchase'),
s2 AS (
  SELECT s.s_id, s.s_user, min(v.v_ts) AS t1
  FROM s JOIN v ON s.s_user = v.v_user
              AND v.v_ts > s.s_ts AND v.v_ts <= s.s_ts + INTERVAL 6 HOUR
  GROUP BY 1, 2
),
s3 AS (
  SELECT DISTINCT s2.s_id
  FROM s2 JOIN p ON s2.s_user = p.p_user
               AND p.p_ts > s2.t1 AND p.p_ts <= s2.t1 + INTERVAL 6 HOUR
)
SELECT CAST(CAST(s.s_ts AS DATE) AS VARCHAR) AS day,
       CAST(count(*) AS BIGINT) AS n_signups,
       CAST(count(s2.t1) AS BIGINT) AS n_viewed,
       CAST(count(s3.s_id) AS BIGINT) AS n_purchased,
       round(count(s2.t1) * 1.0 / count(*), 6) AS view_rate,
       round(count(s3.s_id) * 1.0 / count(*), 6) AS purchase_rate
FROM s
LEFT JOIN s2 ON s.s_id = s2.s_id
LEFT JOIN s3 ON s.s_id = s3.s_id
GROUP BY 1
"""


def value_tier_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval dimension lookup: every event's value
    mapped to a pricing tier via a NON-EQUI join against an
    interval dimension (lo ≤ value < hi), then aggregated per tier.

    The physical plan is a BroadcastNestedLoopJoin — which is the
    *intended* plan for this shape at any scale: the interval dim
    is bounded (a handful of tiers), so the "nested loop" is a
    constant-factor per-row scan of a broadcast table, exactly how
    engines execute banded/range dimension lookups (IP→geo,
    value→tier, date→fiscal-period). The fact side never shuffles
    for the join; the only exchange is the final tier aggregate.
    """
    events = load_table(spark, sf_dir, "events")
    tiers = spark.createDataFrame(
        [
            ("t1_low", 0.0, 25.0),
            ("t2_mid", 25.0, 100.0),
            ("t3_high", 100.0, 250.0),
            ("t4_extreme", 250.0, 1e9),
        ],
        "tier string, lo double, hi double",
    )
    joined = events.join(
        F.broadcast(tiers),
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
    )
    # integer-exact cent sums: sum(double) is accumulation-order-
    # dependent and cross-engine round(double) flips near .00005
    # boundaries — sum(long)/100.0 is bit-deterministic on both
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        joined.groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents) / F.lit(100.0)).alias("sum_value"),
        )
    )


VALUE_TIER_LOOKUP_SQL = """
WITH tiers(tier, lo, hi) AS (
  VALUES ('t1_low', 0.0, 25.0), ('t2_mid', 25.0, 100.0),
         ('t3_high', 100.0, 250.0), ('t4_extreme', 250.0, 1e9)
)
SELECT t.tier,
       CAST(count(*) AS BIGINT) AS n_events,
       sum(CAST(round(e.value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
GROUP BY 1
"""


ZORDER_BITS = 8


def zorder_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-order layout key derivation through the registry
    (`sources/layout.py`: `to_bucket` + `morton_interleave` — the
    exact expressions `write_zordered` lays files out with): events
    range-bucketed on (user_id, hour) to 2^8 each, bits
    interleaved into the morton key. Pure per-row integer/bit
    expressions; the bucketing bounds are table stats (one-row
    broadcast here; production reads them from the stats store).
    File-level pruning effects are asserted in tests
    (`sources/layout.py` suite) — this query driver-proves the key
    math itself. Returns (event_id, u_bucket, h_bucket, zkey).
    """
    from ..sources.layout import morton_interleave, to_bucket

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour_bucket"),
    )
    bounds = ev.agg(
        F.min("user_id").alias("u_lo"),
        F.max("user_id").alias("u_hi"),
        F.min("hour_bucket").alias("h_lo"),
        F.max("hour_bucket").alias("h_hi"),
    )
    w = ev.crossJoin(F.broadcast(bounds))
    u_b = to_bucket(F.col("user_id"), F.col("u_lo"), F.col("u_hi"), bits=ZORDER_BITS)
    h_b = to_bucket(
        F.col("hour_bucket"), F.col("h_lo"), F.col("h_hi"), bits=ZORDER_BITS
    )
    keyed = w.select(
        "event_id", u_b.alias("u_bucket"), h_b.alias("h_bucket")
    )
    return keyed.select(
        "event_id",
        "u_bucket",
        "h_bucket",
        morton_interleave(
            F.col("u_bucket"), F.col("h_bucket"), bits=ZORDER_BITS
        ).alias("zkey"),
    )


def _zorder_sql() -> str:
    n = (1 << ZORDER_BITS) - 1
    interleave = " | ".join(
        f"(((u_bucket >> {i}) & 1) << {2 * i})"
        f" | (((h_bucket >> {i}) & 1) << {2 * i + 1})"
        for i in range(ZORDER_BITS)
    )
    bucket = (
        "least(CAST(floor(CASE WHEN ({hi} - {lo}) > 0"
        " THEN ({col} - {lo}) / CAST({hi} - {lo} AS DOUBLE)"
        f" ELSE 0.0 END * {n}) AS BIGINT), {n})"
    )
    ub = bucket.format(col="user_id", lo="u_lo", hi="u_hi")
    hb = bucket.format(col="hour_bucket", lo="h_lo", hi="h_hi")
    return f"""
WITH ev AS (
  SELECT event_id, user_id,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket
  FROM events),
bounds AS (
  SELECT min(user_id) AS u_lo, max(user_id) AS u_hi,
         min(hour_bucket) AS h_lo, max(hour_bucket) AS h_hi
  FROM ev),
keyed AS (
  SELECT event_id, {ub} AS u_bucket, {hb} AS h_bucket
  FROM ev CROSS JOIN bounds)
SELECT event_id, u_bucket, h_bucket, {interleave} AS zkey
FROM keyed
"""


ZORDER_LAYOUT_KEYS_SQL = _zorder_sql()


# ------------------------------------------------- r7 wave 2: clickstream


def top_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path analysis (r7 w2) — the event-transition
    matrix a web-analytics engine serves next to its funnels
    (`funnel_conversion` asks "did A then B ever happen";
    this asks "what do users actually do NEXT"): per user, events
    ordered by (ts, event_id) — event_id makes the order total, so
    both engines see identical sequences — each adjacent pair is a
    transition; output per (prev_type, next_type): count, share of
    all transitions, and rank.

    100 TB shape: ONE window shuffle on user_id (the sequence is
    per-user local — sessions co-locate), then one map-side-
    combinable agg over a |types|² key space (≤25 rows here), one
    constant-size rank window. Never user×user.

    Returns (prev_type, next_type, n_transitions, share, rank).
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
    )
    agg = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions")
    )
    wr = Window.orderBy(F.desc("n_transitions"), "prev_type", "next_type")
    wall = Window.partitionBy()
    return agg.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (F.col("n_transitions") / F.sum("n_transitions").over(wall)).alias(
            "share"
        ),
        F.row_number().over(wr).cast("long").alias("rank"),
    )


TOP_EVENT_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT user_id,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events),
agg AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n_transitions
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2)
SELECT prev_type, next_type, n_transitions,
       n_transitions / sum(n_transitions) OVER () AS share,
       CAST(row_number() OVER (
         ORDER BY n_transitions DESC, prev_type, next_type) AS BIGINT) AS rank
FROM agg
"""


#: Half-life for the trending decay score, in seconds (7 days).
TRENDING_HALFLIFE_SECS = 604_800


def trending_events_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed trending score per event type (r7 w2) — the
    exponential-decay serving view (half-life 7 d) a "trending now"
    widget reads: recent events count ~1, events one half-life old
    count 0.5. The decayed-counter analog of the reference's hourly
    rollups — recency weighting instead of bucket boundaries.

    Float contract: the decay weight is exp(-Δs·λ) with Δs an EXACT
    integer second difference from the corpus max timestamp
    (epoch_us arithmetic, integer division) and λ a shared literal;
    each weight is quantized onto the 1e-6 fixed-point grid and
    summed as BIGINT — an ORDER-FREE exact sum under any
    partitioning (the `pca_power_iteration` contract) — then divided
    once. 100 TB shape: one map pass + one combinable agg over the
    type vocabulary; the max-ts scalar broadcasts (allowlisted).

    Returns (event_type, n_events, decay_score, rank).
    """
    from pyspark.sql.window import Window

    lam = math.log(2.0) / TRENDING_HALFLIFE_SECS
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", epoch_us("ts").alias("us")
    )
    mx = ev.agg(F.max("us").alias("max_us"))
    weighted = ev.crossJoin(F.broadcast(mx)).select(
        "event_type",
        F.expr(
            f"CAST(round(exp(-(CAST((max_us - us) DIV 1000000 AS BIGINT)"
            f" * {_dlit(lam)})) * 1e6) AS BIGINT)"
        ).alias("w_fp"),
    )
    agg = weighted.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("w_fp").cast("long").alias("score_fp"),
    )
    wr = Window.orderBy(F.desc("score_fp"), "event_type")
    return agg.select(
        "event_type",
        "n_events",
        (F.col("score_fp") / 1e6).alias("decay_score"),
        F.row_number().over(wr).cast("long").alias("rank"),
    )


def _trending_sql() -> str:
    lam = math.log(2.0) / TRENDING_HALFLIFE_SECS
    return f"""
WITH ev AS (SELECT event_type, epoch_us(ts) AS us FROM events),
mx AS (SELECT max(us) AS max_us FROM ev),
weighted AS (
  SELECT event_type,
         CAST(round(exp(-(CAST((max_us - us) // 1000000 AS BIGINT)
                          * {_dlit(lam)})) * 1e6) AS BIGINT) AS w_fp
  FROM ev CROSS JOIN mx),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(w_fp) AS BIGINT) AS score_fp
  FROM weighted GROUP BY 1)
SELECT event_type, n_events, score_fp / 1e6 AS decay_score,
       CAST(row_number() OVER (
         ORDER BY score_fp DESC, event_type) AS BIGINT) AS rank
FROM agg
"""


TRENDING_EVENTS_DECAY_SQL = _trending_sql()


#: Two-sided significance threshold for the A/B readout (z_0.975).
ABTEST_Z_CRIT = 1.96


def abtest_value_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample z-test on purchase value (r7 w2) — the
    experimentation readout an analytics engine serves: users split
    into variants by user_id parity (the `hash_split` family's
    deterministic assignment), the metric is the value of their
    purchase events, and the large-sample z-statistic says whether
    the variant means differ significantly. (A conversion-RATE test
    degenerates on the harness corpus — every user purchases — so
    the registered readout tests the value metric; the rate form is
    the same plan with 0/1 values.)

    Float contract: per-event value and value-squared are quantized
    onto the 1e-6 fixed-point grid and summed as BIGINT — exact,
    order-free under any partitioning (the `pca_power_iteration`
    contract); means/variances/z are one fixed chain of double
    arithmetic over those exact sums, identical text in both
    engines. 100 TB shape: one filtered map pass + one 2-group
    combinable agg; no joins, no windows.

    Returns ONE row (n_a, mean_a, n_b, mean_b, z_score,
    significant).
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    fp = ev.select(
        ((F.col("user_id") % 2) == 0).alias("is_a"),
        F.expr("CAST(round(value * 1e6) AS BIGINT)").alias("v_fp"),
        F.expr("CAST(round(value * value * 1e6) AS BIGINT)").alias("vv_fp"),
    )
    counts = fp.agg(
        F.sum(F.col("is_a").cast("long")).alias("n_a"),
        F.sum(F.when(F.col("is_a"), F.col("v_fp"))).alias("sv_a"),
        F.sum(F.when(F.col("is_a"), F.col("vv_fp"))).alias("svv_a"),
        F.sum((~F.col("is_a")).cast("long")).alias("n_b"),
        F.sum(F.when(~F.col("is_a"), F.col("v_fp"))).alias("sv_b"),
        F.sum(F.when(~F.col("is_a"), F.col("vv_fp"))).alias("svv_b"),
    )
    mean = "(sv_{v} / 1e6 / n_{v})"
    var = "(svv_{v} / 1e6 / n_{v} - " + mean + " * " + mean + ")"
    m_a, m_b = mean.format(v="a"), mean.format(v="b")
    var_a, var_b = var.format(v="a"), var.format(v="b")
    z = (
        f"({m_a} - {m_b}) / sqrt({var_a} / n_a + {var_b} / n_b)"
    )
    return counts.select(
        "n_a",
        F.expr(m_a).alias("mean_a"),
        "n_b",
        F.expr(m_b).alias("mean_b"),
        F.expr(z).alias("z_score"),
        F.expr(f"abs({z}) > {ABTEST_Z_CRIT}").alias("significant"),
    )


def _abtest_sql() -> str:
    mean = "(sv_{v} / 1e6 / n_{v})"
    var = "(svv_{v} / 1e6 / n_{v} - " + mean + " * " + mean + ")"
    m_a, m_b = mean.format(v="a"), mean.format(v="b")
    var_a, var_b = var.format(v="a"), var.format(v="b")
    z = f"({m_a} - {m_b}) / sqrt({var_a} / n_a + {var_b} / n_b)"
    return f"""
WITH fp AS (
  SELECT user_id % 2 = 0 AS is_a,
         CAST(round(value * 1e6) AS BIGINT) AS v_fp,
         CAST(round(value * value * 1e6) AS BIGINT) AS vv_fp
  FROM events WHERE event_type = 'purchase'),
counts AS (
  SELECT CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN is_a THEN v_fp END) AS BIGINT) AS sv_a,
         CAST(sum(CASE WHEN is_a THEN vv_fp END) AS BIGINT) AS svv_a,
         CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN NOT is_a THEN v_fp END) AS BIGINT) AS sv_b,
         CAST(sum(CASE WHEN NOT is_a THEN vv_fp END) AS BIGINT) AS svv_b
  FROM fp)
SELECT n_a, {m_a} AS mean_a, n_b, {m_b} AS mean_b,
       {z} AS z_score,
       abs({z}) > {ABTEST_Z_CRIT} AS significant
FROM counts
"""


ABTEST_VALUE_ZTEST_SQL = _abtest_sql()


# ---------------------------------------------------------- r7 wave 3


#: Session inactivity gap, microseconds (30 minutes) — the industry
#: default the reference's pageview analytics imply but never
#: materialize as an operator (BatchWorkflow.java builds hour
#: buckets; a session is the gap-delimited refinement).
SESSION_GAP_US = 1_800 * 1_000_000


def _sessionized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-level frame with a per-user session index: a session
    breaks after SESSION_GAP_US of inactivity. Order is total —
    (ts, event_id) — so both engines see identical sequences.

    100 TB shape: ONE shuffle on user_id serves both windows (lag
    and the running sum share the partitioning and sort), then
    everything is per-user local. Heavy users are bounded by their
    own event volume, never user×user.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", epoch_us("ts").alias("us")
    )
    return _sessionize_frame(ev)


def _sessionize_frame(ev: DataFrame) -> DataFrame:
    """The gap-split window logic over any (user_id, ts, event_id,
    us, ...) frame — shared by the full and incremental plans."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    return flagged.withColumn(
        "session_id", F.sum("new_s").over(w).cast("long")
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (r7 w3) — the gap-based session roll-up
    `streaming_sessions` maintains incrementally, as a batch view
    over the master dataset (lambda-architecture symmetry: batch
    recomputes what the speed layer approximates). Per session:
    event count, start/end, duration.

    Exactness: boundaries are integer epoch-microsecond arithmetic
    (`epoch_us`, the NTZ contract); duration is BIGINT integer
    division — no float anywhere.

    Returns (user_id, session_id, n_events, session_start,
    session_end, duration_s).
    """
    return _session_rollup(_sessionized_events(spark, sf_dir))


def _session_rollup_us(sess: DataFrame) -> DataFrame:
    """Per-session aggregate KEEPING the epoch-µs bounds (the
    lambda merge stitches sessions on exact event-gap arithmetic)."""
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.min("us").alias("min_us"),
        F.max("us").alias("max_us"),
    )


def _session_finalize(roll: DataFrame) -> DataFrame:
    return roll.select(
        "user_id",
        "session_id",
        "n_events",
        "session_start",
        "session_end",
        F.expr("(max_us - min_us) DIV 1000000").alias("duration_s"),
    )


def _session_rollup(sess: DataFrame) -> DataFrame:
    return _session_finalize(_session_rollup_us(sess))


_SESSIONIZED_CTE = f"""
e AS (
  SELECT user_id, ts, event_id, event_type, epoch_us(ts) AS us
  FROM events),
flagged AS (
  SELECT user_id, ts, event_id, event_type, us,
         CASE WHEN lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts, event_id, event_type, us,
         CAST(sum(new_s) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
           AS session_id
  FROM flagged)
"""


SESSIONIZE_EVENTS_SQL = f"""
WITH {_SESSIONIZED_CTE}
SELECT user_id, session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end,
       (max(us) - min(us)) // 1000000 AS duration_s
FROM sess
GROUP BY 1, 2
"""


#: How many top paths the path report keeps.
SESSION_PATHS_TOPK = 20


def session_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session entry paths (r7 w3): the first three event types
    of every session, joined '>' (shorter sessions keep their
    shorter prefix — concat_ws skips NULLs identically in both
    engines), counted and ranked. The "how do visits start" report
    that sits next to `funnel_conversion` (did the ordered steps
    ever happen) and `top_event_transitions` (memoryless next-step
    matrix): this one keeps short ordered prefixes.

    100 TB shape: the sessionization shuffle, then a per-session
    map-side-combinable first-3 agg (min over rn-tagged values — no
    collect_list, no per-session arrays), then an agg over a small
    path vocabulary (≤5³ prefixes here) and a constant-size rank
    window on the TOPK rows.

    Returns (path, n_sessions, rank).
    """
    from pyspark.sql.window import Window

    sess = _sessionized_events(spark, sf_dir)
    wrn = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    first3 = sess.withColumn("rn", F.row_number().over(wrn)).where(
        F.col("rn") <= 3
    )
    paths = first3.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            ">",
            F.min(F.when(F.col("rn") == 1, F.col("event_type"))),
            F.min(F.when(F.col("rn") == 2, F.col("event_type"))),
            F.min(F.when(F.col("rn") == 3, F.col("event_type"))),
        ).alias("path")
    )
    from ..operators.ranking import two_pass_ranks

    agg = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    # the distinct-path domain grows with the corpus — two-pass
    # partition-offset rank (r8)
    return two_pass_ranks(
        agg,
        [F.desc("n_sessions"), F.col("path")],
        [{"partition": (), "rank": "rank"}],
    ).where(F.col("rank") <= SESSION_PATHS_TOPK)


SESSION_PATHS_TOPK_SQL = f"""
WITH {_SESSIONIZED_CTE},
first3 AS (
  SELECT user_id, session_id, event_type,
         row_number() OVER (
           PARTITION BY user_id, session_id
           ORDER BY ts, event_id) AS rn
  FROM sess
  QUALIFY rn <= 3),
paths AS (
  SELECT user_id, session_id,
         concat_ws('>',
           min(CASE WHEN rn = 1 THEN event_type END),
           min(CASE WHEN rn = 2 THEN event_type END),
           min(CASE WHEN rn = 3 THEN event_type END)) AS path
  FROM first3
  GROUP BY 1, 2),
agg AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
  FROM paths GROUP BY 1)
SELECT path, n_sessions,
       CAST(row_number() OVER (
         ORDER BY n_sessions DESC, path) AS BIGINT) AS rank
FROM agg
QUALIFY rank <= {SESSION_PATHS_TOPK}
"""


def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining (r7 w3): within-order brand
    co-occurrence with support and lift — the classic retail
    analysis over the TPC-H fact tables (which brands sell
    together, and is the pairing more common than independence
    predicts?).

    100 TB shape: lineitem⋈part is a plain equi-join (Catalyst
    broadcasts part when it fits, shuffles otherwise); the
    per-order distinct brand set has bounded fan-out (≤7 lineitems
    per order at every TPC-H SF), so the orderkey self-join emits
    ≤21 pairs per order — pair generation is corpus-LINEAR, never
    basket×basket; pair/brand counts are map-side combinable over a
    fixed ≤|brands|² key space; the one-row order-count broadcast
    is the allowlisted scalar shape. Lift is computed in doubles as
    ((n_pair·N)/cnt_a)/cnt_b — no BIGINT·BIGINT overflow at any SF.

    Returns (brand_a, brand_b, n_pair, support, lift, rank).
    """
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # items feeds FOUR consumers (order total, brand counts, both
    # self-join sides) — persist or the lineitem⋈part join and the
    # distinct re-run once per consumer (the knn_graph lesson;
    # measured 113.8s → 21.5s at sf10).
    items = persist(
        li.join(part, li.l_partkey == part.p_partkey)
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
    )
    n_orders = items.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    brand_cnt = items.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"),
            F.col("b.brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
    )
    joined = (
        pairs.join(
            F.broadcast(brand_cnt.withColumnRenamed("cnt", "cnt_a")),
            F.col("brand_a") == F.col("brand"),
        )
        .drop("brand")
        .join(
            F.broadcast(brand_cnt.withColumnRenamed("cnt", "cnt_b")),
            F.col("brand_b") == F.col("brand"),
        )
        .drop("brand")
        .crossJoin(F.broadcast(n_orders))
    )
    wr = Window.orderBy(F.desc("n_pair"), "brand_a", "brand_b")
    return joined.select(
        "brand_a",
        "brand_b",
        "n_pair",
        (F.col("n_pair") / F.col("n_orders")).alias("support"),
        (
            F.col("n_pair").cast("double")
            * F.col("n_orders")
            / F.col("cnt_a")
            / F.col("cnt_b")
        ).alias("lift"),
        F.row_number().over(wr).cast("long").alias("rank"),
    )


MARKET_BASKET_LIFT_SQL = """
WITH items AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items),
brand_cnt AS (
  SELECT brand, CAST(count(*) AS BIGINT) AS cnt FROM items GROUP BY 1),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b,
         CAST(count(*) AS BIGINT) AS n_pair
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.brand < b.brand
  GROUP BY 1, 2)
SELECT p.brand_a, p.brand_b, p.n_pair,
       p.n_pair / n.n_orders AS support,
       CAST(p.n_pair AS DOUBLE) * n.n_orders / ca.cnt / cb.cnt AS lift,
       CAST(row_number() OVER (
         ORDER BY p.n_pair DESC, p.brand_a, p.brand_b) AS BIGINT) AS rank
FROM pairs p
JOIN brand_cnt ca ON p.brand_a = ca.brand
JOIN brand_cnt cb ON p.brand_b = cb.brand
CROSS JOIN n
"""


#: Microseconds per day — integer recency arithmetic, no date casts.
_US_PER_DAY = 86_400_000_000


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (r7 w3): per customer, recency
    (days since last order, measured from the corpus max order
    date), frequency (order count) and monetary (lifetime spend on
    the exact 1e-6 fixed-point grid); each metric is scored 1–4
    against its own exact quartiles, and the (r,f,m) cells are
    rolled up into the marketing segments a CRM serves.

    Quartiles come from the driver-proven `percentile ≡
    quantile_cont` contract (`value_percentiles`), rounded to the
    1e-6 grid before any comparison; every compared value is an
    integer (days, counts, fixed-point spend), so score assignment
    is a deterministic integer-vs-bit-identical-double comparison.
    NO global NTILE window: scores come from comparisons against a
    broadcast 1-row threshold frame — the single-partition sort an
    ntile(4) would force is exactly what dies at 100 TB. Exact
    percentiles buffer per-group values; at production scale the
    thresholds swap to `approx_percentile` (the
    `value_percentiles_approx` tolerance contract) with the same
    downstream plan.

    Returns (r_score, f_score, m_score, segment, n_customers,
    avg_monetary).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        epoch_us("o_orderdate").alias("d_us"),
        F.expr("CAST(round(o_totalprice * 1e6) AS BIGINT)").alias("p_fp"),
    )
    maxd = o.agg(F.max("d_us").alias("max_us"))

    # two consumers (threshold agg + scoring) — persist or the
    # orders scan and customer roll-up run twice.
    per_cust = persist(
        o.groupBy("o_custkey")
        .agg(
            F.max("d_us").alias("last_us"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum("p_fp").alias("m_fp"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.expr(f"(max_us - last_us) DIV {_US_PER_DAY}").alias(
                "recency_days"
            ),
            "frequency",
            "m_fp",
        )
    )
    thr = per_cust.agg(
        *[
            F.round(F.percentile(c, F.lit(q)), 6).alias(f"{tag}{int(q * 100)}")
            for tag, c in (
                ("r", "recency_days"),
                ("f", "frequency"),
                ("m", "m_fp"),
            )
            for q in (0.25, 0.5, 0.75)
        ]
    )
    scored = per_cust.crossJoin(F.broadcast(thr)).select(
        "m_fp",
        (
            1
            + (F.col("recency_days") <= F.col("r75")).cast("int")
            + (F.col("recency_days") <= F.col("r50")).cast("int")
            + (F.col("recency_days") <= F.col("r25")).cast("int")
        )
        .cast("long")
        .alias("r_score"),
        (
            1
            + (F.col("frequency") > F.col("f25")).cast("int")
            + (F.col("frequency") > F.col("f50")).cast("int")
            + (F.col("frequency") > F.col("f75")).cast("int")
        )
        .cast("long")
        .alias("f_score"),
        (
            1
            + (F.col("m_fp") > F.col("m25")).cast("int")
            + (F.col("m_fp") > F.col("m50")).cast("int")
            + (F.col("m_fp") > F.col("m75")).cast("int")
        )
        .cast("long")
        .alias("m_score"),
    )
    seg = F.expr(
        "CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion' "
        "WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal' "
        "WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk' "
        "WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating' "
        "ELSE 'other' END"
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("m_fp").alias("sum_fp"),
        )
        .select(
            "r_score",
            "f_score",
            "m_score",
            seg.alias("segment"),
            "n_customers",
            (
                F.col("sum_fp").cast("double") / F.col("n_customers") / F.lit(1e6)
            ).alias("avg_monetary"),
        )
    )


RFM_SEGMENTS_SQL = f"""
WITH o AS (
  SELECT o_custkey, epoch_us(o_orderdate) AS d_us,
         CAST(round(o_totalprice * 1e6) AS BIGINT) AS p_fp
  FROM orders),
maxd AS (SELECT max(d_us) AS max_us FROM o),
per_cust AS (
  SELECT o_custkey,
         (max_us - max(d_us)) // {_US_PER_DAY} AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(p_fp) AS BIGINT) AS m_fp
  FROM o CROSS JOIN maxd
  GROUP BY o_custkey, max_us),
thr AS (
  SELECT round(quantile_cont(recency_days, 0.25), 6) AS r25,
         round(quantile_cont(recency_days, 0.50), 6) AS r50,
         round(quantile_cont(recency_days, 0.75), 6) AS r75,
         round(quantile_cont(frequency, 0.25), 6) AS f25,
         round(quantile_cont(frequency, 0.50), 6) AS f50,
         round(quantile_cont(frequency, 0.75), 6) AS f75,
         round(quantile_cont(m_fp, 0.25), 6) AS m25,
         round(quantile_cont(m_fp, 0.50), 6) AS m50,
         round(quantile_cont(m_fp, 0.75), 6) AS m75
  FROM per_cust),
scored AS (
  SELECT m_fp,
         CAST(1 + CASE WHEN recency_days <= r75 THEN 1 ELSE 0 END
                + CASE WHEN recency_days <= r50 THEN 1 ELSE 0 END
                + CASE WHEN recency_days <= r25 THEN 1 ELSE 0 END
              AS BIGINT) AS r_score,
         CAST(1 + CASE WHEN frequency > f25 THEN 1 ELSE 0 END
                + CASE WHEN frequency > f50 THEN 1 ELSE 0 END
                + CASE WHEN frequency > f75 THEN 1 ELSE 0 END
              AS BIGINT) AS f_score,
         CAST(1 + CASE WHEN m_fp > m25 THEN 1 ELSE 0 END
                + CASE WHEN m_fp > m50 THEN 1 ELSE 0 END
                + CASE WHEN m_fp > m75 THEN 1 ELSE 0 END
              AS BIGINT) AS m_score
  FROM per_cust CROSS JOIN thr)
SELECT r_score, f_score, m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
            WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
            WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
            WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
            ELSE 'other' END AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(m_fp) AS DOUBLE) / count(*) / 1e6 AS avg_monetary
FROM scored
GROUP BY 1, 2, 3
"""


#: 3 × 1.4826 — the normal-consistency MAD multiplier at the usual
#: 3σ cut, shared verbatim by the Spark plan and the oracle.
MAD_OUTLIER_K = 4.4478


def value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier report per event type (r7 w3): median/MAD
    take the role mean/stddev play in `hourly_anomalies` — a single
    wild value moves a mean but not a median, so this is the
    screen that still works when the contamination IS what you're
    hunting. Flags |v − median| > 3·1.4826·MAD (the normal-
    consistent 3σ equivalent).

    Two exact-median passes (the `percentile ≡ quantile_cont`
    contract, 1e-6-rounded before any comparison), each a per-type
    aggregation; the 5-row median/MAD frames broadcast back onto
    the scan, and the flag comparison is a deterministic IEEE chain
    over bit-identical inputs. At production scale the medians swap
    to `approx_percentile` under the `value_percentiles_approx`
    tolerance contract — the downstream plan is unchanged.

    Returns (event_type, med, mad, n_events, n_outliers,
    outlier_share).
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("adev", F.lit(0.5)), 6).alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                (F.col("adev") > F.lit(MAD_OUTLIER_K) * F.col("mad")).cast(
                    "int"
                )
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "med",
            "mad",
            "n_events",
            "n_outliers",
            (F.col("n_outliers") / F.col("n_events")).alias("outlier_share"),
        )
    )


VALUE_MAD_OUTLIERS_SQL = f"""
WITH med AS (
  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
  FROM events GROUP BY 1),
dev AS (
  SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)),
mad AS (
  SELECT event_type, round(quantile_cont(adev, 0.5), 6) AS mad
  FROM dev GROUP BY 1),
agg AS (
  SELECT d.event_type, min(d.med) AS med, min(m.mad) AS mad,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN d.adev > {MAD_OUTLIER_K} * m.mad
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
  FROM dev d JOIN mad m USING (event_type)
  GROUP BY 1)
SELECT event_type, med, mad, n_events, n_outliers,
       n_outliers / n_events AS outlier_share
FROM agg
"""


#: The incremental-ingest window: events in the last 24 h (from the
#: corpus max timestamp) play the incoming batch; everything older
#: is the stored master — the `dedup_incremental` split, on time
#: instead of the dup-seed key.
SESSION_INCR_WINDOW_US = 86_400_000_000


def sessionize_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental session maintenance (r7 w4): when a new event
    batch lands, only users WITH events in the batch can have
    changed sessions (a session is per-user local) — so recompute
    exactly those users' histories and pass every other user's
    stored sessions through untouched. The batch-layer analog of
    `streaming_sessions`' state updates, and the session-table
    absorb step the reference's append-only master implies
    (`dedup_incremental` is the same shape on content keys).

    100 TB shape: per-ingest cost ∝ the touched users' event
    volume — ONE distinct over the batch window, one semi/anti
    split on user_id (co-partitioned with the session shuffle;
    with the master bucketed by user_id the untouched side is a
    stored-table passthrough, recomputed here only as the local
    stand-in), then the standard sessionization windows on the
    touched slice only. No user×user, no full-corpus re-sort.

    Output ≡ `sessionize_events` plus a `recomputed` flag marking
    the incrementally-rebuilt rows (equality asserted in tests —
    the batch ∪ master ≡ full-rebuild contract).

    Returns (user_id, session_id, n_events, session_start,
    session_end, duration_s, recomputed).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", epoch_us("ts").alias("us")
    )
    maxr = ev.agg(F.max("us").alias("max_us"))
    touched = (
        ev.crossJoin(F.broadcast(maxr))
        .where(F.col("us") > F.col("max_us") - SESSION_INCR_WINDOW_US)
        .select("user_id")
        .distinct()
    )
    rec = _session_rollup(
        _sessionize_frame(ev.join(touched, "user_id", "left_semi"))
    ).withColumn("recomputed", F.lit(True))
    unt = _session_rollup(
        _sessionize_frame(ev.join(touched, "user_id", "left_anti"))
    ).withColumn("recomputed", F.lit(False))
    return rec.unionByName(unt)


SESSIONIZE_INCREMENTAL_SQL = f"""
WITH {_SESSIONIZED_CTE},
roll AS (
  SELECT user_id, session_id,
         CAST(count(*) AS BIGINT) AS n_events,
         min(ts) AS session_start,
         max(ts) AS session_end,
         (max(us) - min(us)) // 1000000 AS duration_s
  FROM sess
  GROUP BY 1, 2),
mx AS (SELECT max(us) AS max_us FROM e),
touched AS (
  SELECT DISTINCT user_id
  FROM e CROSS JOIN mx
  WHERE us > max_us - {SESSION_INCR_WINDOW_US})
SELECT r.user_id, r.session_id, r.n_events, r.session_start,
       r.session_end, r.duration_s,
       (t.user_id IS NOT NULL) AS recomputed
FROM roll r LEFT JOIN touched t USING (user_id)
"""


def shipping_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency distribution per order priority (r7 w4) —
    the operational-SLA report next to the TPC-H revenue views: did
    'URGENT' actually ship faster? Latency is exact integer days
    (epoch-µs arithmetic, BIGINT division — no date-cast
    semantics), percentiles via the driver-proven `percentile ≡
    quantile_cont` contract.

    100 TB shape: one lineitem⋈orders equi-join (the Q4/Q12 shape —
    shuffle on orderkey, AQE-broadcastable if orders is filtered),
    then a 5-group aggregation; exact percentiles buffer per-group
    values, so at production scale they swap to `approx_percentile`
    under the `value_percentiles_approx` tolerance contract.

    Returns (o_orderpriority, n_lineitems, p50_days, p95_days,
    min_days, max_days).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", epoch_us("l_shipdate").alias("ship_us")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", epoch_us("o_orderdate").alias("ord_us")
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.expr(f"(ship_us - ord_us) DIV {_US_PER_DAY}").alias("lat_days"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        F.round(F.percentile("lat_days", F.lit(0.5)), 6).alias("p50_days"),
        F.round(F.percentile("lat_days", F.lit(0.95)), 6).alias("p95_days"),
        F.min("lat_days").alias("min_days"),
        F.max("lat_days").alias("max_days"),
    )


SHIPPING_LATENCY_SQL = f"""
WITH j AS (
  SELECT o.o_orderpriority,
         (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
           // {_US_PER_DAY} AS lat_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lineitems,
       round(quantile_cont(lat_days, 0.5), 6) AS p50_days,
       round(quantile_cont(lat_days, 0.95), 6) AS p95_days,
       min(lat_days) AS min_days,
       max(lat_days) AS max_days
FROM j
GROUP BY 1
"""


def lambda_merged_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda-architecture session merge (r7 w4) — the HARD lambda
    case the pageview/unique merges (`lambda_merged_pageviews`,
    `lambda_merged_uniques_hll`) don't exercise: sessions SPAN the
    batch/speed boundary. The batch layer serves sessions over the
    master slice (ts ≤ max−24h), the speed layer over the live
    slice, and the merge STITCHES them: splitting a user's timeline
    at the cutoff can cut at most ONE session (the one containing
    the boundary), so per user only the LAST batch session and the
    FIRST speed session can fuse — they do iff their boundary gap ≤
    SESSION_GAP_US, exactly the full rebuild's split rule. Speed
    session ids then shift by (batch count − merged), so the output
    is row-identical to `sessionize_events` — the oracle IS the
    full-rebuild SQL (plan equivalence, the `knn_graph_incremental`
    contract), asserted frame-exact in tests.

    100 TB shape: both layers sessionize their own slice (one
    user-partitioned window each — in production the batch side is
    a STORED view, recomputed here as the local stand-in), the
    stitch itself is per-user 1-vs-1: a max-id agg, two equi-joins
    on user_id, a boundary-gap comparison in exact integer µs.
    Never user×user; the only broadcast is the one-row max-ts
    anchor.

    Returns (user_id, session_id, n_events, session_start,
    session_end, duration_s) ≡ the full rebuild.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", epoch_us("ts").alias("us")
    )
    return _lambda_sessions_from_events(ev)


def _lambda_sessions_from_events(ev: DataFrame) -> DataFrame:
    """The layer-split + stitch over any event frame — separated so
    tests can force a session that SPANS the boundary (the driver
    corpora only produce spanning sessions at sf0.1+)."""
    maxr = ev.agg(F.max("us").alias("max_us"))
    ev2 = ev.crossJoin(F.broadcast(maxr))
    batch_ev = ev2.where(
        F.col("us") <= F.col("max_us") - SESSION_INCR_WINDOW_US
    ).drop("max_us")
    speed_ev = ev2.where(
        F.col("us") > F.col("max_us") - SESSION_INCR_WINDOW_US
    ).drop("max_us")

    # r10 (guide §5): the stitch references b THREE times (b_cnt,
    # b_last, batch_keep) and s twice (s_first, speed_shift), and
    # `merged`/`merged_users` re-embed both — the executed final
    # plan ran THIRTY distinct events scans (each reference
    # re-ran its slice's full sessionize window pass, and the
    # post-BNLJ window subtrees canonicalize differently per
    # consumer so no exchange is ever reused). Persist the two
    # SESSION-grain rollups once: they are the plan's natural
    # stored views (the batch side IS a stored view in production
    # — docstring), an order of magnitude smaller than the event
    # grain, and every consumer now reads the cache. Executed
    # events scans drop to the 3 slice passes.
    b = persist(_session_rollup_us(_sessionize_frame(batch_ev)))
    s = persist(_session_rollup_us(_sessionize_frame(speed_ev)))

    b_cnt = b.groupBy("user_id").agg(F.max("session_id").alias("b_cnt"))
    b_last = b.join(b_cnt, "user_id").where(F.col("session_id") == F.col("b_cnt"))
    s_first = s.where(F.col("session_id") == 1)
    merged = (
        b_last.select(
            "user_id",
            F.col("n_events").alias("bn"),
            F.col("session_start").alias("bstart"),
            F.col("min_us").alias("bmin"),
            F.col("max_us").alias("bmax"),
            F.col("b_cnt"),
        )
        .join(
            s_first.select(
                "user_id",
                F.col("n_events").alias("sn"),
                F.col("session_end").alias("send"),
                F.col("max_us").alias("smax"),
                F.col("min_us").alias("smin"),
            ),
            "user_id",
        )
        .where(F.col("smin") - F.col("bmax") <= SESSION_GAP_US)
    )
    merged_users = merged.select("user_id", F.lit(True).alias("is_merged"))

    merged_rows = merged.select(
        "user_id",
        F.col("b_cnt").alias("session_id"),
        (F.col("bn") + F.col("sn")).cast("long").alias("n_events"),
        F.col("bstart").alias("session_start"),
        F.col("send").alias("session_end"),
        F.col("bmin").alias("min_us"),
        F.col("smax").alias("max_us"),
    )
    batch_keep = (
        b.join(b_cnt, "user_id")
        .join(merged_users, "user_id", "left")
        .where(
            ~(
                F.coalesce(F.col("is_merged"), F.lit(False))
                & (F.col("session_id") == F.col("b_cnt"))
            )
        )
        .select(
            "user_id", "session_id", "n_events",
            "session_start", "session_end", "min_us", "max_us",
        )
    )
    speed_shift = (
        s.join(b_cnt, "user_id", "left")
        .join(merged_users, "user_id", "left")
        .where(
            ~(
                F.coalesce(F.col("is_merged"), F.lit(False))
                & (F.col("session_id") == 1)
            )
        )
        .select(
            "user_id",
            (
                F.col("session_id")
                + F.coalesce(F.col("b_cnt"), F.lit(0))
                - F.coalesce(F.col("is_merged"), F.lit(False)).cast("long")
            )
            .cast("long")
            .alias("session_id"),
            "n_events", "session_start", "session_end", "min_us", "max_us",
        )
    )
    return _session_finalize(
        batch_keep.unionByName(merged_rows).unionByName(speed_shift)
    )


def time_to_first_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion timing (r7 w4): per signed-up
    user, days from FIRST signup to the first purchase at-or-after
    it; one summary row with conversion rate and the latency
    distribution — the activation-funnel report next to
    `funnel_conversion` (did steps happen) and `cohort_retention`
    (did users come back): this one asks HOW LONG activation took.

    100 TB shape: one per-user min-signup agg, one equi-join back
    onto the purchase slice (filter pushed to the scan), one
    per-user min, one global 1-row aggregate; latencies are exact
    integer days (epoch-µs DIV), percentiles via the driver-proven
    `percentile ≡ quantile_cont` contract.

    Returns (n_signups, n_converted, conversion_rate, p50_days,
    p90_days).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_us("ts").alias("us")
    )
    su = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("signup_us"))
    )
    pu = (
        ev.where(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .where(F.col("us") >= F.col("signup_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("purchase_us"), F.min("signup_us").alias("signup_us"))
        .select(
            "user_id",
            F.expr(f"(purchase_us - signup_us) DIV {_US_PER_DAY}").alias(
                "lat_days"
            ),
        )
    )
    return (
        su.join(pu, "user_id", "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_signups"),
            F.count("lat_days").cast("long").alias("n_converted"),
            F.round(F.percentile("lat_days", F.lit(0.5)), 6).alias("p50_days"),
            F.round(F.percentile("lat_days", F.lit(0.9)), 6).alias("p90_days"),
        )
        .select(
            "n_signups",
            "n_converted",
            (F.col("n_converted") / F.col("n_signups")).alias(
                "conversion_rate"
            ),
            "p50_days",
            "p90_days",
        )
    )


TIME_TO_FIRST_PURCHASE_SQL = f"""
WITH su AS (
  SELECT user_id, min(epoch_us(ts)) AS signup_us
  FROM events WHERE event_type = 'signup' GROUP BY 1),
pu AS (
  SELECT e.user_id,
         (min(epoch_us(e.ts)) - min(su.signup_us)) // {_US_PER_DAY}
           AS lat_days
  FROM events e
  JOIN su ON e.user_id = su.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= su.signup_us
  GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_signups,
       CAST(count(pu.lat_days) AS BIGINT) AS n_converted,
       count(pu.lat_days) / count(*) AS conversion_rate,
       round(quantile_cont(pu.lat_days, 0.5), 6) AS p50_days,
       round(quantile_cont(pu.lat_days, 0.9), 6) AS p90_days
FROM su LEFT JOIN pu ON su.user_id = pu.user_id
"""


#: Max edit distance for a fuzzy name match.
FUZZY_MAX_DIST = 2


def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage / fuzzy string matching (r7 w4) — the
    capability family the engine lacked: near-identical part names
    via MULTI-PASS BLOCKING + edit distance (the classic
    record-linkage recipe: never all-pairs — candidates come from
    equi-joins on blocking keys, here the first and last name
    token, so 'old bolt'≈'cold bolt' surfaces via the shared noun
    and 'blue rod'≈'blue rog' via the shared adjective), kept at
    levenshtein ≤ FUZZY_MAX_DIST.

    100 TB shape: the name VOCABULARY is a dimension property
    (64 distinct at every TPC-H SF) — one corpus-linear map-side
    distinct-name+count agg collapses the fact table, then every
    comparison runs on |V| rows; blocking equi-joins bound the
    candidate set by block sizes, and `levenshtein` is the same
    Wagner-Fischer integers in both engines.

    Returns (name_a, name_b, dist, n_parts_a, n_parts_b).
    """
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    vocab = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    keyed = vocab.select(
        "name",
        "n_parts",
        F.element_at(F.split("name", " "), 1).alias("tok_first"),
        F.element_at(F.split("name", " "), -1).alias("tok_last"),
    )
    a = keyed.select(
        F.col("name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        "tok_first",
        "tok_last",
    )
    b = keyed.select(
        F.col("name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        F.col("tok_first").alias("tf_b"),
        F.col("tok_last").alias("tl_b"),
    )
    pass1 = a.join(b, F.col("tok_last") == F.col("tl_b"))
    pass2 = a.join(b, F.col("tok_first") == F.col("tf_b"))
    cand = (
        pass1.unionByName(pass2)
        .where(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b", "n_parts_a", "n_parts_b")
        .distinct()
    )
    return cand.select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").cast("long").alias("dist"),
        "n_parts_a",
        "n_parts_b",
    ).where(F.col("dist") <= FUZZY_MAX_DIST)


#: Shared CTE body: blocking + edit-distance matches — spliced into
#: both the pair report (`FUZZY_NAME_MATCH_SQL`) and the
#: connected-components clustering (`ENTITY_RESOLUTION_CLUSTERS_SQL`).
_FUZZY_CTE = f"""vocab AS (
  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_parts
  FROM part GROUP BY 1),
keyed AS (
  SELECT name, n_parts,
         str_split(name, ' ')[1] AS tok_first,
         str_split(name, ' ')[-1] AS tok_last
  FROM vocab),
cand AS (
  SELECT DISTINCT a.name AS name_a, b.name AS name_b,
         a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
  FROM keyed a
  JOIN keyed b
    ON (a.tok_last = b.tok_last OR a.tok_first = b.tok_first)
   AND a.name < b.name),
matches AS (
  SELECT name_a, name_b,
         CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist,
         n_parts_a, n_parts_b
  FROM cand
  WHERE levenshtein(name_a, name_b) <= {FUZZY_MAX_DIST})"""

FUZZY_NAME_MATCH_SQL = f"""
WITH {_FUZZY_CTE}
SELECT name_a, name_b, dist, n_parts_a, n_parts_b FROM matches
"""


# -- wave 5 (r7 continuation): privacy / engagement / concentration
#    / seasonal-baseline analytics ---------------------------------

K_ANON = 5
SEASONAL_Z = 2.0
SEASONAL_MIN_OBS = 3


def kanonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity generalization ladder over the customer table —
    the privacy audit a data-release pipeline runs before exporting
    a quasi-identifier projection (reference analog: the person-
    level views the batch layer serves; the audit asks whether the
    served grain re-identifies anyone).

    Three generalization levels of the quasi-identifier tuple:
    level 2 = (nation, segment, acctbal sign), level 1 =
    (nation, segment), level 0 = (segment). For each level:
    equivalence-class count, the smallest class, how many customers
    sit in classes below k=5 (``K_ANON``), and the suppression
    share a k-anonymous release would need at that grain.

    100 TB shape: three map-side-combinable aggs over tiny key
    spaces (|nation|x|segment|x2 at the finest) — one shuffle each,
    then constant-size rollups. Never row x row.

    Returns (level, n_classes, min_class, n_below_k, suppressed_share).
    """
    cust = load_table(spark, sf_dir, "customer")

    def level(cols: list, lvl: int) -> DataFrame:
        classes = cust.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))
        return classes.agg(
            F.lit(lvl).cast("int").alias("level"),
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.min("n").cast("long").alias("min_class"),
            F.sum(F.when(F.col("n") < K_ANON, F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_below_k"),
            (
                F.sum(F.when(F.col("n") < K_ANON, F.col("n")).otherwise(0))
                / F.sum("n")
            ).alias("suppressed_share"),
        )

    neg = (F.col("c_acctbal") < 0).alias("bal_neg")
    return (
        level([F.col("c_nationkey"), F.col("c_mktsegment"), neg], 2)
        .unionByName(level([F.col("c_nationkey"), F.col("c_mktsegment")], 1))
        .unionByName(level([F.col("c_mktsegment")], 0))
    )


KANONYMITY_REPORT_SQL = f"""
WITH l2 AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM customer
  GROUP BY c_nationkey, c_mktsegment, c_acctbal < 0),
l1 AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM customer
  GROUP BY c_nationkey, c_mktsegment),
l0 AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM customer
  GROUP BY c_mktsegment)
SELECT CAST(2 AS INTEGER) AS level, CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(n) AS BIGINT) AS min_class,
       CAST(sum(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS BIGINT) AS n_below_k,
       sum(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) / sum(n) AS suppressed_share
FROM l2
UNION ALL
SELECT CAST(1 AS INTEGER), CAST(count(*) AS BIGINT), CAST(min(n) AS BIGINT),
       CAST(sum(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS BIGINT),
       sum(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) / sum(n)
FROM l1
UNION ALL
SELECT CAST(0 AS INTEGER), CAST(count(*) AS BIGINT), CAST(min(n) AS BIGINT),
       CAST(sum(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS BIGINT),
       sum(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) / sum(n)
FROM l0
"""


def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement stickiness (avg DAU / WAU) per Monday-aligned
    week — the product-analytics headline next to
    `uniques_over_time` (which serves raw uniques; this serves the
    ratio product teams actually watch).

    Calendar-free integer bucketing so both engines agree exactly:
    day = floor(epoch/86400); week = (day+3) div 7 (epoch day 0 was
    a Thursday, +3 aligns week starts to Monday). avg_dau is an
    exact int/int division (sum of daily distincts / observed
    days), stickiness one further IEEE division.

    100 TB shape: two distinct-aggregations — (day, user) and
    (week, user) de-dup shuffles with map-side partials — then a
    tiny per-week rollup. Never user x user; no global sort.

    Returns (week_start_day, days_observed, wau, avg_dau, stickiness).
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    base = ev.select(
        day.alias("day"),
        ((day + F.lit(3)) / 7).cast("long").alias("week"),
        "user_id",
    )
    dau = (
        base.select("day", "week", "user_id")
        .distinct()
        .groupBy("week", "day")
        .agg(F.count(F.lit(1)).alias("dau"))
    )
    daily = dau.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("days_observed"),
        F.sum("dau").alias("sum_dau"),
    )
    wau = (
        base.select("week", "user_id")
        .distinct()
        .groupBy("week")
        .agg(F.count(F.lit(1)).cast("long").alias("wau"))
    )
    return (
        daily.join(wau, "week")
        .select(
            (F.col("week") * 7 - 3).cast("long").alias("week_start_day"),
            "days_observed",
            "wau",
            (F.col("sum_dau") / F.col("days_observed")).alias("avg_dau"),
            (
                (F.col("sum_dau") / F.col("days_observed")) / F.col("wau")
            ).alias("stickiness"),
        )
    )


DAU_MAU_STICKINESS_SQL = """
WITH base AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST((CAST(floor(epoch(ts) / 86400) AS BIGINT) + 3) // 7 AS BIGINT) AS week,
         user_id
  FROM events),
dau AS (
  SELECT week, day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM base GROUP BY 1, 2),
daily AS (
  SELECT week, CAST(count(*) AS BIGINT) AS days_observed,
         sum(dau) AS sum_dau
  FROM dau GROUP BY 1),
wau AS (
  SELECT week, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
  FROM base GROUP BY 1)
SELECT CAST(daily.week * 7 - 3 AS BIGINT) AS week_start_day,
       days_observed, wau,
       sum_dau / days_observed AS avg_dau,
       (sum_dau / days_observed) / wau AS stickiness
FROM daily JOIN wau ON daily.week = wau.week
"""


def pareto_user_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-concentration (Pareto / "80-20") report: users
    ranked by event volume, cut into 10 explicit decile bands, each
    band's share and cumulative share of all events — the answer to
    "how top-heavy is our traffic" that sizing a serving tier (and
    salting a skewed shuffle) both start from.

    Decile assignment is explicit integer math — band =
    ((rank-1)*10) div n_users over a (events desc, user_id) total
    order — not NTILE, so both engines derive identical bands from
    identical positions. Shares are exact-integer sums divided once.

    100 TB shape (r8 — the r7 verdict's weak item, fixed): one
    combinable per-user count shuffle, then the user-grain rank via
    the two-pass partition-offset rank (`operators/ranking.py` —
    range shuffle + broadcast offsets + per-slice local sorts; the
    old plan's global window sorted every user in one task), then a
    10-row rollup + running sum over the bounded decile frame (10
    rows — allowlisted in the window-sort audit).

    Returns (decile, n_users, n_events, events_share, cum_share).
    """
    from pyspark.sql.window import Window

    from ..operators.ranking import two_pass_ranks

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_ev"))
    wall = Window.partitionBy()
    ranked = two_pass_ranks(
        per_user,
        [F.desc("n_ev"), F.col("user_id")],
        [{"partition": (), "rank": "rn", "n": "n_users_total"}],
    )
    bands = ranked.select(
        F.expr("((rn - 1) * 10) div n_users_total").cast("int").alias("decile"),
        "n_ev",
    )
    agg = bands.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_ev").cast("long").alias("n_events"),
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    total = F.sum("n_events").over(wall)
    return agg.select(
        "decile",
        "n_users",
        "n_events",
        (F.col("n_events") / total).alias("events_share"),
        (F.sum("n_events").over(wcum) / total).alias("cum_share"),
    )


PARETO_USER_CONCENTRATION_SQL = """
WITH per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev
  FROM events GROUP BY 1),
ranked AS (
  SELECT n_ev,
         row_number() OVER (ORDER BY n_ev DESC, user_id) AS rn,
         count(*) OVER () AS n_users_total
  FROM per_user),
agg AS (
  SELECT CAST(((rn - 1) * 10) // n_users_total AS INTEGER) AS decile,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(n_ev) AS BIGINT) AS n_events
  FROM ranked GROUP BY 1)
SELECT decile, n_users, n_events,
       n_events / sum(n_events) OVER () AS events_share,
       sum(n_events) OVER (ORDER BY decile
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         / sum(n_events) OVER () AS cum_share
FROM agg
"""


def seasonal_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection — the hour-of-week
    profile complement to `hourly_anomalies` (trailing window).
    Each (event_type, epoch-hour) count is scored against the OTHER
    observations of the same weekly slot (slot = hour_bucket mod
    168 — pure integer arithmetic, no calendar functions, so both
    engines bucket identically): leave-one-out mean and variance
    from integer-exact (n, Σx, Σx²) per slot, |z| > 2 (SEASONAL_Z)
    flagged once a slot has ≥ 3 other samples (SEASONAL_MIN_OBS).

    Leave-one-out keeps the target hour out of its own baseline
    without a second pass: mu_rest = (S1-x)/(n-1),
    var_rest = ((S2-x²) - (S1-x)²/(n-1)) / (n-2).

    100 TB shape: one hourly-rollup shuffle (combinable), one
    |types|x168-key slot agg (tiny, broadcast back via equi-join).
    Never row x row.

    Returns (event_type, hour_bucket, cnt, zscore, is_anomaly).
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour_bucket"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    hourly = hourly.withColumn("slot", F.col("hour_bucket") % 168)
    slots = hourly.groupBy("event_type", "slot").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
    )
    j = hourly.join(F.broadcast(slots), ["event_type", "slot"])
    n1 = F.col("n") - 1
    mu = (F.col("s1") - F.col("cnt")) / n1
    var = (
        (F.col("s2") - F.col("cnt") * F.col("cnt"))
        - (F.col("s1") - F.col("cnt")) * (F.col("s1") - F.col("cnt")) / n1
    ) / (F.col("n") - 2)
    z = (F.col("cnt") - mu) / F.sqrt(var)
    guarded = F.when((n1 >= SEASONAL_MIN_OBS) & (var > 0), z)
    return j.select(
        "event_type",
        "hour_bucket",
        F.col("cnt").cast("long").alias("cnt"),
        F.round(guarded, 6).alias("zscore"),
        F.coalesce(F.abs(guarded) > SEASONAL_Z, F.lit(False)).alias("is_anomaly"),
    )


SEASONAL_HOURLY_ANOMALIES_SQL = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2),
slotted AS (
  SELECT *, hour_bucket % 168 AS slot FROM hourly),
slots AS (
  SELECT event_type, slot, CAST(count(*) AS BIGINT) AS n,
         sum(cnt) AS s1, sum(cnt * cnt) AS s2
  FROM slotted GROUP BY 1, 2),
j AS (
  SELECT h.event_type, h.hour_bucket, h.cnt, s.n, s.s1, s.s2
  FROM slotted h JOIN slots s
    ON h.event_type = s.event_type AND h.slot = s.slot)
SELECT event_type, hour_bucket, cnt,
       round(CASE WHEN n - 1 >= {SEASONAL_MIN_OBS}
                   AND ((s2 - cnt * cnt)
                        - (s1 - cnt) * (s1 - cnt) / (n - 1)) / (n - 2) > 0
                  THEN (cnt - (s1 - cnt) / (n - 1))
                       / sqrt(((s2 - cnt * cnt)
                               - (s1 - cnt) * (s1 - cnt) / (n - 1)) / (n - 2))
             END, 6) AS zscore,
       coalesce(abs(CASE WHEN n - 1 >= {SEASONAL_MIN_OBS}
                          AND ((s2 - cnt * cnt)
                               - (s1 - cnt) * (s1 - cnt) / (n - 1)) / (n - 2) > 0
                         THEN (cnt - (s1 - cnt) / (n - 1))
                              / sqrt(((s2 - cnt * cnt)
                                      - (s1 - cnt) * (s1 - cnt) / (n - 1)) / (n - 2))
                    END) > {SEASONAL_Z}, FALSE) AS is_anomaly
FROM j
"""


#: Period split for the numeric-drift report: epoch day of
#: 1998-01-01 — mid-corpus for the 1995..2001 order dates, so both
#: periods are populated at every SF.
PSI_SPLIT_DAY = 10227
PSI_N_BINS = 10


def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report over the order-value
    distribution — the numeric-distribution complement to
    `corpus_drift` (token JSD): orders before/after PSI_SPLIT_DAY
    are histogrammed into 10 equi-width bins over the GLOBAL
    [min, max] value range, and each bin contributes
    (p2-p1)·ln(p2/p1) with Laplace +1 smoothing (so empty bins
    don't blow up). Σ psi_contrib < 0.1 is the classic "stable"
    gate; the per-bin rows say WHERE the mass moved.

    Float contract: bin = least(9, floor((v-vmin)·10/(vmax-vmin)))
    — one shared double expression; p's are exact int/int
    divisions; ln on the 1e-6 grid (the `corpus_drift` contract).

    100 TB shape: one pass for the four scalars (min/max/two
    counts, map-side combinable), a one-row broadcast onto the fact
    scan (allowlisted), one 10-key combinable agg, and a 10-row
    join against a literal bin frame. Never row x row.

    Returns (bin, n_p1, n_p2, p1, p2, psi_contrib).
    """
    orders = load_table(spark, sf_dir, "orders")
    day = F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long")
    base = orders.select(
        (day < PSI_SPLIT_DAY).alias("is_p1"), F.col("o_totalprice").alias("v")
    )
    scal = base.agg(
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        F.sum(F.when(F.col("is_p1"), 1).otherwise(0)).alias("n1_tot"),
        F.sum(F.when(F.col("is_p1"), 0).otherwise(1)).alias("n2_tot"),
    )
    binned = base.crossJoin(F.broadcast(scal)).select(
        F.least(
            F.lit(PSI_N_BINS - 1),
            F.floor(
                (F.col("v") - F.col("vmin"))
                * PSI_N_BINS
                / (F.col("vmax") - F.col("vmin"))
            ),
        )
        .cast("long")
        .alias("bin"),
        "is_p1",
    )
    agg = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("is_p1"), 1).otherwise(0)).alias("n_p1"),
        F.sum(F.when(F.col("is_p1"), 0).otherwise(1)).alias("n_p2"),
    )
    bins = spark.range(PSI_N_BINS).select(F.col("id").cast("long").alias("bin"))
    full = (
        bins.join(agg, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_p1", F.lit(0)).cast("long").alias("n_p1"),
            F.coalesce("n_p2", F.lit(0)).cast("long").alias("n_p2"),
        )
        .crossJoin(F.broadcast(scal.select("n1_tot", "n2_tot")))
    )
    p1 = (F.col("n_p1") + 1) / (F.col("n1_tot") + PSI_N_BINS)
    p2 = (F.col("n_p2") + 1) / (F.col("n2_tot") + PSI_N_BINS)
    return full.select(
        "bin",
        "n_p1",
        "n_p2",
        p1.alias("p1"),
        p2.alias("p2"),
        ((p2 - p1) * F.round(F.ln(p2 / p1), 6)).alias("psi_contrib"),
    )


PSI_VALUE_DRIFT_SQL = f"""
WITH base AS (
  SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) < {PSI_SPLIT_DAY}
           AS is_p1,
         o_totalprice AS v
  FROM orders),
scal AS (
  SELECT min(v) AS vmin, max(v) AS vmax,
         sum(CASE WHEN is_p1 THEN 1 ELSE 0 END) AS n1_tot,
         sum(CASE WHEN is_p1 THEN 0 ELSE 1 END) AS n2_tot
  FROM base),
binned AS (
  SELECT CAST(least({PSI_N_BINS - 1},
                    floor((v - vmin) * {PSI_N_BINS} / (vmax - vmin)))
              AS BIGINT) AS bin,
         is_p1
  FROM base, scal),
agg AS (
  SELECT bin,
         sum(CASE WHEN is_p1 THEN 1 ELSE 0 END) AS n_p1,
         sum(CASE WHEN is_p1 THEN 0 ELSE 1 END) AS n_p2
  FROM binned GROUP BY 1),
filled AS (
  SELECT CAST(r.range AS BIGINT) AS bin,
         CAST(coalesce(a.n_p1, 0) AS BIGINT) AS n_p1,
         CAST(coalesce(a.n_p2, 0) AS BIGINT) AS n_p2,
         s.n1_tot, s.n2_tot
  FROM range(0, {PSI_N_BINS}) r
  LEFT JOIN agg a ON r.range = a.bin
  CROSS JOIN scal s)
SELECT bin, n_p1, n_p2,
       (n_p1 + 1) / (n1_tot + {PSI_N_BINS}) AS p1,
       (n_p2 + 1) / (n2_tot + {PSI_N_BINS}) AS p2,
       ((n_p2 + 1) / (n2_tot + {PSI_N_BINS})
        - (n_p1 + 1) / (n1_tot + {PSI_N_BINS}))
       * round(ln(((n_p2 + 1) / (n2_tot + {PSI_N_BINS}))
                  / ((n_p1 + 1) / (n1_tot + {PSI_N_BINS}))), 6) AS psi_contrib
FROM filled
"""


#: Removal-effect attribution: the four non-converting event types
#: act as channels; 'purchase' triggers absorption into CONV. The
#: channel list is pinned (the synthetic schema's event_type
#: domain) so the oracle's unrolled chains match the plan's.
MARKOV_CHANNELS = ("click", "error", "signup", "view")
MARKOV_STEPS = 8


def _markov_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, cnt) first-order transitions over sessionized
    paths: START → first event, adjacent kept events, 'purchase'
    absorbs into CONV (path truncated at the first purchase), and
    sessions that never convert emit a terminal → NULL edge."""
    from pyspark.sql.window import Window

    sess = _sessionized_events(spark, sf_dir)
    wk = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id", "session_id")
    pos1 = sess.select(
        "user_id", "session_id", "ts", "event_id", "event_type",
        F.row_number().over(wk).alias("pos"),
    )
    pos2 = pos1.select(
        "*",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("pos"))
        ).over(wp).alias("first_p"),
        F.max("pos").over(wp).alias("last_pos"),
    )

    # r10: both the transition branch and the terminal branch consume
    # this frame — persist so the sessionize + two window passes run
    # once, not twice.
    kept = persist(
        pos2.where(
            F.col("first_p").isNull() | (F.col("pos") <= F.col("first_p"))
        )
        .select(
            "user_id", "session_id", "ts", "event_id", "pos", "first_p",
            "last_pos",
            F.when(F.col("event_type") == "purchase", F.lit("CONV"))
            .otherwise(F.col("event_type"))
            .alias("dst"),
        )
    )
    trans = kept.select(
        F.coalesce(F.lag("dst").over(wk), F.lit("START")).alias("src"), "dst"
    )
    terminal = kept.where(
        F.col("first_p").isNull() & (F.col("pos") == F.col("last_pos"))
    ).select(F.col("dst").alias("src"), F.lit("NULL").alias("dst"))
    return (
        trans.unionByName(terminal)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _markov_prob(spark: SparkSession, counts: DataFrame) -> DataFrame:
    """(chain, src, dst, p): the base chain plus one removal chain
    per channel (transitions INTO the removed channel redirect to
    NULL — counts transformed BEFORE the divide, so every p stays
    an exact int/int ratio), absorbing self-loops on CONV/NULL."""
    from pyspark.sql.window import Window

    parts = [counts.select(F.lit("base").alias("chain"), "src", "dst", "cnt")]
    for c in MARKOV_CHANNELS:
        parts.append(
            counts.select(
                F.lit(c).alias("chain"),
                "src",
                F.when(F.col("dst") == c, F.lit("NULL"))
                .otherwise(F.col("dst"))
                .alias("dst"),
                "cnt",
            )
        )
    loops = counts.sparkSession.createDataFrame(
        [
            (chain, s, s, 1)
            for chain in ("base", *MARKOV_CHANNELS)
            for s in ("CONV", "NULL")
        ],
        "chain string, src string, dst string, cnt long",
    )
    mat = reduce(DataFrame.unionByName, parts + [loops])
    matg = mat.groupBy("chain", "src", "dst").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    wsrc = Window.partitionBy("chain", "src")
    return matg.select(
        "chain", "src", "dst", (F.col("cnt") / F.sum("cnt").over(wsrc)).alias("p")
    )


def _markov_step(v: DataFrame, prob: DataFrame) -> DataFrame:
    """One synchronous probability-propagation step, contributions
    on the 1e-12 BIGINT grid (the `pagerank_knn_graph` order-free
    sum contract — all masses ≤ 1, so the grid sum stays < 2^53)."""
    return (
        v.withColumnRenamed("state", "src")
        .join(prob, ["chain", "src"])
        .select(
            "chain",
            F.col("dst").alias("state"),
            F.expr("CAST(round(v * p * 1e12) AS BIGINT)").alias("c"),
        )
        .groupBy("chain", "state")
        .agg(F.expr("sum(c) / 1e12").alias("v"))
    )


def markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al.'s chain
    model, the data-driven alternative to last-touch): sessionized
    event paths feed a first-order transition matrix with absorbing
    CONV ('purchase' reached) / NULL (session ends) states;
    conversion probability is MARKOV_STEPS unrolled propagation
    steps from START, and each channel's removal effect is how much
    of it vanishes when transitions into that channel are redirected
    to NULL. Shares normalize the (clamped-at-0) effects.

    100 TB shape: the data-scale work is ONE sessionization window
    pass + one |states|²-key count agg; everything after runs on a
    ≤ (5 chains × 7 × 7)-row matrix — per-step joins on tiny
    checkpointed frames (cluster: the matrix fits in one partition;
    the iteration costs nothing at any corpus size). The two
    one-row final broadcasts are allowlisted.

    Returns (channel, p_conv_base, p_conv_removed, removal_effect,
    attribution_share).
    """
    from ..session import no_aqe

    # r10: checkpoint the ≤|states|²-row transition counts FIRST —
    # the one corpus-scale pass, executed WITH AQE (the sessionize
    # window shuffles want runtime coalescing) — then build the
    # 5-chain matrix from the materialized counts under no_aqe:
    # every frame after counts is ≤ 245 rows, so AQE's per-shuffle
    # stage materialization was pure job overhead (14 jobs for the
    # matrix build alone).
    counts = materialize(_markov_transition_counts(spark, sf_dir))
    with no_aqe(spark):
        prob = materialize(_markov_prob(spark, counts))
    v = spark.createDataFrame(
        [(chain, "START", 1.0) for chain in ("base", *MARKOV_CHANNELS)],
        "chain string, state string, v double",
    )
    # MARKOV_STEPS is small and every frame is ≤ 5·|states| rows:
    # the steps chain lazily over the checkpointed matrix.
    for _ in range(MARKOV_STEPS):
        v = _markov_step(v, F.broadcast(prob))
    # r10: the LAZY step chain was referenced by basef, eff, tot AND
    # the final select — the plan embedded the 8-step subtree ~9
    # times (1,786 lines, 148 Exchange / 70 BroadcastExchange / 76
    # checkpoint-scan reprints) and every reference re-executed the
    # chain as its own AQE broadcast/shuffle job cascade (47 jobs
    # for the query). Checkpoint the ≤5-row absorbing-state read
    # ONCE (the quality_logit/hits iterate convention): every
    # consumer now reads 5 materialized rows and the chain executes
    # exactly once — under `no_aqe`, as ONE job (the join strategy
    # is already hint-forced broadcast and every shuffle carries
    # ≤ 25 rows, so AQE has nothing to improve and its per-step
    # stage materialization is pure job overhead; the earlier
    # "no_aqe neutral-to-worse" A/B predates the single-execution
    # shape). Rows unchanged — localCheckpoint is content-neutral;
    # oracle re-proved.
    with no_aqe(spark):
        pcs = materialize(
            v.where(F.col("state") == "CONV").select("chain", F.col("v").alias("pc"))
        )
    basef = pcs.where(F.col("chain") == "base").agg(
        F.coalesce(F.max("pc"), F.lit(0.0)).alias("p_base")
    )
    chanf = spark.createDataFrame(
        [(c,) for c in MARKOV_CHANNELS], "channel string"
    )
    eff = (
        chanf.join(pcs, chanf.channel == pcs.chain, "left")
        .crossJoin(F.broadcast(basef))
        .select(
            "channel",
            F.col("p_base").alias("p_conv_base"),
            F.expr("coalesce(pc, 0e0)").alias("p_conv_removed"),
            F.expr(
                "CASE WHEN p_base > 0 THEN"
                " greatest(0e0, 1e0 - coalesce(pc, 0e0) / p_base) END"
            ).alias("removal_effect"),
        )
    )
    tot = eff.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "channel",
                        F.expr("coalesce(removal_effect, 0e0)").alias("e"),
                    )
                )
            ),
            F.lit(0.0),
            lambda a, s: a + s["e"],
        ).alias("te")
    )
    return eff.crossJoin(F.broadcast(tot)).select(
        "channel",
        "p_conv_base",
        "p_conv_removed",
        "removal_effect",
        F.expr(
            "CASE WHEN te > 0 THEN removal_effect / te END"
        ).alias("attribution_share"),
    )


def _markov_attribution_sql() -> str:
    """Oracle builder: the full chain set unrolled — counts →
    5 transition matrices → MARKOV_STEPS propagation CTEs per the
    shared 1e-12 grid contract → removal effects."""
    mat_parts = ["  SELECT 'base' AS chain, src, dst, cnt FROM counts"]
    for c in MARKOV_CHANNELS:
        mat_parts.append(
            f"  SELECT '{c}', src,"
            f" CASE WHEN dst = '{c}' THEN 'NULL' ELSE dst END, cnt"
            " FROM counts"
        )
    for chain in ("base", *MARKOV_CHANNELS):
        for s in ("CONV", "NULL"):
            mat_parts.append(f"  SELECT '{chain}', '{s}', '{s}', 1")
    mat_sql = "\n  UNION ALL\n".join(mat_parts)
    body = f"""WITH {_SESSIONIZED_CTE},
pos1 AS (
  SELECT user_id, session_id, ts, event_id, event_type,
         row_number() OVER (PARTITION BY user_id, session_id
                            ORDER BY ts, event_id) AS pos
  FROM sess),
pos2 AS (
  SELECT *,
         min(CASE WHEN event_type = 'purchase' THEN pos END)
           OVER (PARTITION BY user_id, session_id) AS first_p,
         max(pos) OVER (PARTITION BY user_id, session_id) AS last_pos
  FROM pos1),
kept AS (
  SELECT user_id, session_id, ts, event_id, pos, first_p, last_pos,
         CASE WHEN event_type = 'purchase' THEN 'CONV'
              ELSE event_type END AS dst
  FROM pos2
  WHERE first_p IS NULL OR pos <= first_p),
trans AS (
  SELECT coalesce(lag(dst) OVER (PARTITION BY user_id, session_id
                                 ORDER BY ts, event_id), 'START') AS src,
         dst
  FROM kept
  UNION ALL
  SELECT dst AS src, 'NULL' AS dst
  FROM kept WHERE first_p IS NULL AND pos = last_pos),
counts AS MATERIALIZED (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt
  FROM trans GROUP BY 1, 2),
mat AS (
{mat_sql}),
matg AS (
  SELECT chain, src, dst, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM mat GROUP BY 1, 2, 3),
prob AS MATERIALIZED (
  SELECT chain, src, dst,
         cnt / sum(cnt) OVER (PARTITION BY chain, src) AS p
  FROM matg),
v0 AS (SELECT DISTINCT chain, 'START' AS state, 1e0 AS v FROM prob),"""
    prev = "v0"
    for t in range(1, MARKOV_STEPS + 1):
        body += f"""
v{t} AS (
  SELECT p.chain, p.dst AS state,
         sum(CAST(round(v.v * p.p * 1e12) AS BIGINT)) / 1e12 AS v
  FROM {prev} v JOIN prob p ON v.chain = p.chain AND v.state = p.src
  GROUP BY 1, 2),"""
        prev = f"v{t}"
    values = ", ".join(f"('{c}')" for c in MARKOV_CHANNELS)
    body += f"""
pcs AS (SELECT chain, v AS pc FROM {prev} WHERE state = 'CONV'),
base AS (
  SELECT coalesce(max(pc), 0e0) AS p_base FROM pcs WHERE chain = 'base'),
eff AS (
  SELECT c.channel,
         b.p_base AS p_conv_base,
         coalesce(p.pc, 0e0) AS p_conv_removed,
         CASE WHEN b.p_base > 0
              THEN greatest(0e0, 1e0 - coalesce(p.pc, 0e0) / b.p_base) END
           AS removal_effect
  FROM (VALUES {values}) c(channel)
  LEFT JOIN pcs p ON p.chain = c.channel
  CROSS JOIN base b),
tot AS (
  SELECT list_sum(list(coalesce(removal_effect, 0e0) ORDER BY channel)) AS te
  FROM eff)
SELECT channel, p_conv_base, p_conv_removed, removal_effect,
       CASE WHEN te > 0 THEN removal_effect / te END AS attribution_share
FROM eff CROSS JOIN tot"""
    return body


MARKOV_ATTRIBUTION_SQL = _markov_attribution_sql()


# -- wave 6 (r7 continuation): engagement lifecycle + forecasting --


def churn_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly churn: of the users active in week w, how many never
    return in week w+1 — the lifecycle complement to
    `cohort_retention` (which follows one signup cohort forward;
    this scores every adjacent week pair). Weeks are the
    Monday-aligned integer buckets of `dau_mau_stickiness`.

    100 TB shape: one (user, week) de-dup shuffle, then a
    self-anti-join on (user, week+1) — an equi-join on the de-duped
    frame, partitioned by user — and a per-week rollup. The last
    observed week has no successor window and is excluded (churn
    there is right-censored, not 100%).

    Returns (week_start_day, n_active, n_churned, churn_rate).
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    aw = (
        ev.select(((day + F.lit(3)) / 7).cast("long").alias("week"), "user_id")
        .distinct()
    )
    nxt = aw.select((F.col("week") - 1).alias("week"), F.col("user_id").alias("u2"))
    maxw = aw.agg(F.max("week").alias("max_week"))
    joined = aw.join(
        nxt,
        (aw.week == nxt.week) & (aw.user_id == nxt.u2),
        "left",
    )
    per_week = joined.groupBy(aw.week.alias("week")).agg(
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.sum(F.when(F.col("u2").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_churned"),
    )
    return (
        per_week.crossJoin(F.broadcast(maxw))
        .where(F.col("week") < F.col("max_week"))
        .select(
            (F.col("week") * 7 - 3).cast("long").alias("week_start_day"),
            "n_active",
            "n_churned",
            (F.col("n_churned") / F.col("n_active")).alias("churn_rate"),
        )
    )


CHURN_WEEKLY_SQL = """
WITH aw AS (
  SELECT DISTINCT
         CAST((CAST(floor(epoch(ts) / 86400) AS BIGINT) + 3) // 7 AS BIGINT)
           AS week,
         user_id
  FROM events),
j AS (
  SELECT a.week, a.user_id, b.user_id AS u2
  FROM aw a LEFT JOIN aw b
    ON b.week = a.week + 1 AND b.user_id = a.user_id),
per_week AS (
  SELECT week, CAST(count(*) AS BIGINT) AS n_active,
         CAST(sum(CASE WHEN u2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_churned
  FROM j GROUP BY 1)
SELECT CAST(week * 7 - 3 AS BIGINT) AS week_start_day, n_active, n_churned,
       n_churned / n_active AS churn_rate
FROM per_week
WHERE week < (SELECT max(week) FROM aw)
"""


def new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning split: a user is NEW on their
    first-ever active day, RETURNING on every later active day —
    the acquisition-vs-retention headline over the master dataset.

    100 TB shape: one (user, day) de-dup shuffle; first-active-day
    is a per-user min over that frame (window sharing the user
    partitioning, no second shuffle); the day rollup is combinable.

    Returns (day, n_active, n_new, n_returning, new_share).
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    ud = ev.select("user_id", day.alias("day")).distinct()
    wu = Window.partitionBy("user_id")
    flagged = ud.select(
        "day", (F.col("day") == F.min("day").over(wu)).alias("is_new")
    )
    return (
        flagged.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.sum(F.when(F.col("is_new"), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
        )
        .select(
            "day",
            "n_active",
            "n_new",
            (F.col("n_active") - F.col("n_new")).cast("long").alias("n_returning"),
            (F.col("n_new") / F.col("n_active")).alias("new_share"),
        )
    )


NEW_VS_RETURNING_DAILY_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
  FROM events),
flagged AS (
  SELECT day,
         day = min(day) OVER (PARTITION BY user_id) AS is_new
  FROM ud),
agg AS (
  SELECT day, CAST(count(*) AS BIGINT) AS n_active,
         CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new
  FROM flagged GROUP BY 1)
SELECT day, n_active, n_new,
       CAST(n_active - n_new AS BIGINT) AS n_returning,
       n_new / n_active AS new_share
FROM agg
"""


def wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type — the trend line next
    to `trending_events_decay` (decay score) and `hourly_anomalies`
    (residuals): weekly counts with the previous observed week's
    count and the relative change. Monday-aligned integer weeks.

    100 TB shape: one combinable (type, week) rollup, then a lag
    window over the tiny rollup. First observed week has no
    baseline → growth NULL.

    Returns (event_type, week_start_day, cnt, prev_cnt, wow_growth).
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    weekly = ev.groupBy(
        "event_type", ((day + F.lit(3)) / 7).cast("long").alias("week")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("week")
    return weekly.select(
        "event_type",
        (F.col("week") * 7 - 3).cast("long").alias("week_start_day"),
        "cnt",
        F.lag("cnt").over(w).alias("prev_cnt"),
        (
            (F.col("cnt") - F.lag("cnt").over(w)) / F.lag("cnt").over(w)
        ).alias("wow_growth"),
    )


WOW_GROWTH_SQL = """
WITH weekly AS (
  SELECT event_type,
         CAST((CAST(floor(epoch(ts) / 86400) AS BIGINT) + 3) // 7 AS BIGINT)
           AS week,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2)
SELECT event_type,
       CAST(week * 7 - 3 AS BIGINT) AS week_start_day, cnt,
       lag(cnt) OVER w AS prev_cnt,
       (cnt - lag(cnt) OVER w) / lag(cnt) OVER w AS wow_growth
FROM weekly
WINDOW w AS (PARTITION BY event_type ORDER BY week)
"""


def ewma_daily_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA next-day volume forecast per event type, alpha = 1/2 —
    the capacity-planning smoother next to the anomaly views. The
    smoothing recursion s_i = s_{i-1}/2 + x_i/2 (s_1 = x_1) runs as
    a sequential fold over the day-sorted daily counts; alpha = 1/2
    keeps every multiply EXACT in IEEE (a power-of-two scale), so
    with both engines folding in identical day order the forecast
    is bit-identical — no grid needed.

    100 TB shape: one combinable (type, day) rollup; the fold runs
    over each type's ~O(days) array (collect_list bounded by the
    calendar, not the corpus). Also emits the last observed day's
    absolute residual |x_last - s_{last-1}| as the smoother's
    one-step backtest.

    Returns (event_type, days_observed, last_day, last_cnt,
    ewma_forecast, last_abs_err).
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    daily = ev.groupBy("event_type", day.alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    arrs = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("days_observed"),
        F.max("day").cast("long").alias("last_day"),
        F.array_sort(
            F.collect_list(F.struct("day", F.col("cnt").cast("double").alias("v")))
        ).alias("xs"),
    )
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr,
        F.lit(None).cast("double"),
        lambda a, s: F.when(a.isNull(), s["v"]).otherwise(a * 0.5 + s["v"] * 0.5),
    )
    return arrs.select(
        "event_type",
        "days_observed",
        "last_day",
        F.element_at("xs", -1)["v"].cast("long").alias("last_cnt"),
        fold(F.col("xs")).alias("ewma_forecast"),
        F.when(
            F.col("days_observed") > 1,
            F.abs(
                F.element_at("xs", -1)["v"]
                - fold(F.slice(F.col("xs"), 1, F.size("xs") - 1))
            ),
        ).alias("last_abs_err"),
    )


EWMA_DAILY_FORECAST_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2),
arrs AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS days_observed,
         CAST(max(day) AS BIGINT) AS last_day,
         list(CAST(cnt AS DOUBLE) ORDER BY day) AS xs
  FROM daily GROUP BY 1)
SELECT event_type, days_observed, last_day,
       CAST(xs[-1] AS BIGINT) AS last_cnt,
       list_reduce(xs, (a, x) -> a * 0.5e0 + x * 0.5e0) AS ewma_forecast,
       CASE WHEN days_observed > 1
            THEN abs(xs[-1] - list_reduce(xs[1:-2],
                                          (a, x) -> a * 0.5e0 + x * 0.5e0))
       END AS last_abs_err
FROM arrs
"""


def entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: `fuzzy_name_match`'s pairwise matches
    collapsed into entities via connected components, min-name
    canonical labeling (the string twin of `user_id_normalization`'s
    smallest-PersonID-wins rule) — find→CLUSTER→canonicalize, the
    step a master-data pipeline runs between matching and merging.

    100 TB shape: the match pass is the blocked vocabulary join
    (dimension-sized); CC runs on the match edges only (≪ vocab),
    label-propagation + pointer-jumping rounds with checkpointed
    iterates; cluster sizes and part counts join back on name.
    Only matched names appear (singletons are not entities).

    Returns (name, canonical_name, cluster_size, n_parts).
    """
    from ..operators.graph import connected_components

    pairs = fuzzy_name_match(spark, sf_dir).select("name_a", "name_b")
    mapping = connected_components(pairs, "name_a", "name_b")
    sizes = mapping.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    part = load_table(spark, sf_dir, "part")
    vocab = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    return (
        mapping.select(
            F.col("node").alias("name"),
            F.col("component").alias("canonical_name"),
        )
        .join(sizes.withColumnRenamed("component", "canonical_name"), "canonical_name")
        .join(vocab, "name")
        .select("name", "canonical_name", "cluster_size", "n_parts")
    )


ENTITY_RESOLUTION_CLUSTERS_SQL = f"""
WITH RECURSIVE {_FUZZY_CTE},
undirected AS (
  SELECT name_a AS a, name_b AS b FROM matches
  UNION
  SELECT name_b AS a, name_a AS b FROM matches),
nodes AS (SELECT DISTINCT a AS node FROM undirected),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT u.a, reach.r FROM undirected u JOIN reach ON u.b = reach.node),
mapping AS (
  SELECT node AS name, min(r) AS canonical_name
  FROM reach GROUP BY node),
sizes AS (
  SELECT canonical_name, CAST(count(*) AS BIGINT) AS cluster_size
  FROM mapping GROUP BY 1)
SELECT m.name, m.canonical_name, s.cluster_size, v.n_parts
FROM mapping m
JOIN sizes s ON s.canonical_name = m.canonical_name
JOIN vocab v ON v.name = m.name
"""


# ---------------------------------------------------- r7 wave 8:
# distributional drift (exact KS), digit-law DQ audit


def ks_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test per source: the KS
    statistic D = max_v |F_ref(v) − F_src(v)| between each source's
    document-length distribution and the reference source (the
    alphabetically-first source — a deterministic in-plan scalar,
    stands in for the production "last known-good snapshot"). The
    distribution-shape companion to `psi_value_drift`'s binned
    score: KS needs no binning choice and is sensitive anywhere in
    the CDF.

    EXACT arithmetic throughout: with integer values and integer
    counts, D's argmax is found on |ca·n_ref − cr·n_src| (BIGINT
    cross-multiplication — no float CDFs to disagree about) and
    only the final max is divided once. 100 TB shape: one
    combinable (source, value) count shuffle; the (source × value)
    evaluation grid and its cumulative windows are bounded by the
    VALUE DOMAIN × source count (like the calendar-bounded running
    sums), not the corpus; the grid cross join broadcasts the
    distinct-value dim.

    Returns (source, n_src, n_ref, ks_d) for every non-ref source.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    counts = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ref_name = docs.agg(F.min("source").alias("ref_source"))
    counts = counts.crossJoin(F.broadcast(ref_name))
    refc = counts.where(F.col("source") == F.col("ref_source")).select(
        "v", F.col("c").alias("cr")
    )
    others = counts.where(F.col("source") != F.col("ref_source")).select(
        "source", "v", "c"
    )
    vals = counts.select("v").distinct()
    grid = others.select("source").distinct().crossJoin(F.broadcast(vals))
    g = (
        grid.join(others, ["source", "v"], "left")
        .join(refc, "v", "left")
        .select(
            "source",
            "v",
            F.coalesce("c", F.lit(0)).alias("c"),
            F.coalesce("cr", F.lit(0)).alias("cr"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = g.select(
        "source",
        F.sum("c").over(w).alias("ca"),
        F.sum("cr").over(w).alias("cb"),
    )
    tot = cum.groupBy("source").agg(
        F.max("ca").cast("long").alias("n_src"),
        F.max("cb").cast("long").alias("n_ref"),
    )
    return (
        cum.join(tot, "source")
        .groupBy("source", "n_src", "n_ref")
        .agg(
            F.max(
                F.abs(F.col("ca") * F.col("n_ref") - F.col("cb") * F.col("n_src"))
            ).alias("_dnum")
        )
        .select(
            "source",
            "n_src",
            "n_ref",
            (F.col("_dnum") / (F.col("n_src") * F.col("n_ref"))).alias("ks_d"),
        )
    )


KS_SOURCE_DRIFT_SQL = """
WITH counts AS (
  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2),
ref AS (SELECT min(source) AS ref_source FROM documents),
refc AS (
  SELECT v, c AS cr FROM counts CROSS JOIN ref
  WHERE source = ref_source),
others AS (
  SELECT source, v, c FROM counts CROSS JOIN ref
  WHERE source <> ref_source),
vals AS (SELECT DISTINCT v FROM counts),
grid AS (
  SELECT s.source, vals.v
  FROM (SELECT DISTINCT source FROM others) s CROSS JOIN vals),
g AS (
  SELECT grid.source, grid.v,
         coalesce(o.c, 0) AS c, coalesce(r.cr, 0) AS cr
  FROM grid
  LEFT JOIN others o ON o.source = grid.source AND o.v = grid.v
  LEFT JOIN refc r ON r.v = grid.v),
cum AS (
  SELECT source,
         sum(c) OVER w AS ca, sum(cr) OVER w AS cb
  FROM g
  WINDOW w AS (PARTITION BY source ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
tot AS (
  SELECT source, CAST(max(ca) AS BIGINT) AS n_src,
         CAST(max(cb) AS BIGINT) AS n_ref
  FROM cum GROUP BY 1)
SELECT c.source, t.n_src, t.n_ref,
       CAST(max(abs(c.ca * t.n_ref - c.cb * t.n_src)) AS BIGINT)
         / (t.n_src * t.n_ref) AS ks_d
FROM cum c JOIN tot t ON c.source = t.source
GROUP BY c.source, t.n_src, t.n_ref
"""


def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals per order
    priority — the fraud/DQ screen finance pipelines run over
    amount columns (synthetic TPC-H prices are ~uniform, so the
    audit FLAGS them — deviation is the point of the report, not an
    assumption of conformance). Complements `dq_checks`' structural
    nulls/ranges with a distributional test.

    The leading digit is extracted in EXACT integer space: cents =
    round(price·100) as BIGINT, digit = first character of the
    decimal rendering (leading digit is scale-invariant, and
    int-to-string is identical cross-engine where float log10
    flooring is not). Expected shares are log10(1 + 1/d) on the
    1e-6 round grid. The digit grid is a literal explode — every
    (priority, digit) cell is present, observed share 0 where
    unseen.

    100 TB shape: one combinable (priority, digit) count shuffle
    into a 5×9 report; totals join on the tiny priority dim. Never
    a global sort.

    Returns (o_orderpriority, digit, n_orders, share, expected_share,
    abs_dev).
    """
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.expr("CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)"), 1, 1
    ).cast("int")
    counts = orders.groupBy("o_orderpriority", digit.alias("digit")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    totals = counts.groupBy("o_orderpriority").agg(
        F.sum("n_orders").cast("long").alias("n_total")
    )
    grid = totals.select(
        "o_orderpriority",
        "n_total",
        F.explode(F.sequence(F.lit(1), F.lit(9))).alias("digit"),
    )
    expected = F.expr("round(log10(1e0 + 1e0 / digit), 6)")
    return (
        grid.join(counts, ["o_orderpriority", "digit"], "left")
        .select(
            "o_orderpriority",
            "digit",
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
            (F.coalesce("n_orders", F.lit(0)) / F.col("n_total")).alias("share"),
            expected.alias("expected_share"),
            F.abs(
                F.coalesce("n_orders", F.lit(0)) / F.col("n_total") - expected
            ).alias("abs_dev"),
        )
    )


BENFORD_DIGIT_AUDIT_SQL = """
WITH counts AS (
  SELECT o_orderpriority,
         CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1, 2),
totals AS (
  SELECT o_orderpriority, CAST(sum(n_orders) AS BIGINT) AS n_total
  FROM counts GROUP BY 1),
grid AS (
  SELECT o_orderpriority, n_total, CAST(d AS INT) AS digit
  FROM totals, range(1, 10) t(d))
SELECT g.o_orderpriority, g.digit,
       CAST(coalesce(c.n_orders, 0) AS BIGINT) AS n_orders,
       coalesce(c.n_orders, 0) / g.n_total AS share,
       round(log10(1e0 + 1e0 / g.digit), 6) AS expected_share,
       abs(coalesce(c.n_orders, 0) / g.n_total
           - round(log10(1e0 + 1e0 / g.digit), 6)) AS abs_dev
FROM grid g
LEFT JOIN counts c
  ON c.o_orderpriority = g.o_orderpriority AND c.digit = g.digit
"""


def item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (co-occurrence cosine):
    for every part, its top-5 "customers also bought" neighbors by
    cosine over order co-occurrence — the serving artifact a recsys
    exports, at PART grain where `market_basket_lift` reports the
    brand-grain association table. cos(a,b) =
    n_ab / √(n_a·n_b) on exact BIGINT counts; one √ and one ÷ per
    pair, identical cross-engine.

    100 TB shape: pair generation is the orderkey self-join with
    bounded basket fan-out (≤7 lineitems per TPC-H order ⇒ ≤21
    pairs per order — corpus-linear, never item×item); pair and
    item counts are map-side-combinable; the top-k window
    partitions by item over its CO-OCCURRING neighbors only
    (bounded by the pair table, not the catalog). Ordering is
    deterministic: cosine doubles are bit-identical cross-engine,
    ties broken by neighbor key.

    Returns (item, rank, neighbor, n_pair, cosine).
    """
    from pyspark.sql.window import Window

    # (order, item) distinct feeds three consumers (item counts +
    # both self-join sides) — the market_basket_lift persist lesson.
    items = persist(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", F.col("l_partkey").alias("item"))
        .distinct()
    )
    item_cnt = items.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.item") != F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("item"), F.col("b.item").alias("neighbor"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
    )
    scored = (
        pairs.join(item_cnt.withColumnRenamed("cnt", "cnt_a"), "item")
        .join(
            item_cnt.withColumnRenamed("cnt", "cnt_b").withColumnRenamed(
                "item", "neighbor"
            ),
            "neighbor",
        )
        .select(
            "item",
            "neighbor",
            "n_pair",
            F.expr(
                "n_pair / sqrt(CAST(cnt_a * cnt_b AS DOUBLE))"
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.desc("cosine"), "neighbor")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .select("item", "rank", "neighbor", "n_pair", "cosine")
    )


ITEM_ITEM_COSINE_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey AS item FROM lineitem),
item_cnt AS (
  SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM items GROUP BY 1),
pairs AS (
  SELECT a.item, b.item AS neighbor, CAST(count(*) AS BIGINT) AS n_pair
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.item <> b.item
  GROUP BY 1, 2),
scored AS (
  SELECT p.item, p.neighbor, p.n_pair,
         p.n_pair / sqrt(CAST(ca.cnt * cb.cnt AS DOUBLE)) AS cosine
  FROM pairs p
  JOIN item_cnt ca ON p.item = ca.item
  JOIN item_cnt cb ON p.neighbor = cb.item)
SELECT item, CAST(rank AS BIGINT) AS rank, neighbor, n_pair, cosine
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY item ORDER BY cosine DESC, neighbor) AS rank
  FROM scored)
WHERE rank <= 5
"""


def open_orders_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order concurrency: for every day, how many orders are
    in flight (placed but not yet fully shipped — interval
    [orderdate, max lineitem shipdate])? The interval-overlap
    counting problem solved WITHOUT a range join: each order emits
    +1 at its start day and −1 the day after its end day; the daily
    net deltas cumulate into the concurrency curve.

    100 TB shape: one per-order max-shipdate rollup (combinable),
    one ±1 delta union, one combinable (day, Σdelta) agg — then the
    running sum runs over the CALENDAR-bounded daily frame (a few
    thousand rows at any corpus size; the `ewma_daily_forecast`
    pattern), not the fact table. All-integer day buckets
    (floor(epoch/86400)) — no calendar/tz casts to disagree about.

    Returns (day, opened, closed, open_orders) for days with
    activity.
    """
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.unix_timestamp("o_orderdate") / 86400)
        .cast("long")
        .alias("start_day"),
    )
    ends = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.floor(F.max(F.unix_timestamp("l_shipdate")) / 86400)
            .cast("long")
            .alias("end_day")
        )
    )
    # LEFT join: an order with no lineitems has nothing shipped —
    # it opens and never closes (the honest backlog semantics; the
    # conservation test pins Σclosed = orders WITH lineitems).
    iv = orders.join(ends, orders.o_orderkey == ends.l_orderkey, "left").select(
        "start_day", "end_day"
    )
    deltas = iv.select(
        F.col("start_day").alias("day"), F.lit(1).cast("long").alias("d")
    ).unionByName(
        iv.where(F.col("end_day").isNotNull()).select(
            (F.col("end_day") + 1).alias("day"), F.lit(-1).cast("long").alias("d")
        )
    )
    daily = deltas.groupBy("day").agg(
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("long").alias("opened"),
        F.sum(F.when(F.col("d") < 0, 1).otherwise(0)).cast("long").alias("closed"),
        F.sum("d").cast("long").alias("net"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "opened",
        "closed",
        F.sum("net").over(w).cast("long").alias("open_orders"),
    )


OPEN_ORDERS_OVER_TIME_SQL = """
WITH iv AS (
  SELECT CAST(floor(epoch(o.o_orderdate) / 86400) AS BIGINT) AS start_day,
         CAST(floor(max(epoch(l.l_shipdate)) / 86400) AS BIGINT) AS end_day
  FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate),
deltas AS (
  SELECT start_day AS day, CAST(1 AS BIGINT) AS d FROM iv
  UNION ALL
  SELECT end_day + 1, CAST(-1 AS BIGINT) FROM iv WHERE end_day IS NOT NULL),
daily AS (
  SELECT day,
         CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS opened,
         CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS closed,
         CAST(sum(d) AS BIGINT) AS net
  FROM deltas GROUP BY 1)
SELECT day, opened, closed,
       CAST(sum(net) OVER (ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS open_orders
FROM daily
"""


def revenue_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend: closed-form OLS (slope + intercept)
    of weekly revenue against the week index — the "is this market
    growing?" regression a BI layer fits per dimension. Everything
    before the final two divisions is EXACT integer arithmetic:
    y = weekly revenue on the whole-DOLLAR grid (round(price), a
    BIGINT), x = Monday-aligned epoch week ((day+3) div 7, the
    `dau_mau_stickiness` bucketing); slope = (nΣxy − ΣxΣy) /
    (nΣx² − (Σx)²), intercept = (Σy − slope·Σx)/n.

    100 TB shape: one combinable (nation, week, Σdollars) rollup
    shuffle, then per-nation sums over CALENDAR-bounded weekly
    points (≤ a few hundred rows per nation at any corpus size), a
    25-row closed-form finish. Overflow audit at the design point:
    x < 2¹¹, weekly dollars < 2⁴⁰ even at sf100 ⇒ nΣxy < 2⁶² —
    inside BIGINT; the dollar (not cent) grid is what buys the
    headroom, documented here.

    Returns (nation, n_weeks, slope, intercept).
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    weekly = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            (
                (F.floor(F.unix_timestamp("o_orderdate") / 86400) + 3) / 7
            )
            .cast("long")
            .alias("x"),
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice) AS BIGINT)"))
            .cast("long")
            .alias("y")
        )
    )
    sums = weekly.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    slope = F.expr(
        "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)"
    )
    return sums.select(
        "nation",
        F.col("n").alias("n_weeks"),
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
    )


REVENUE_TREND_OLS_SQL = """
WITH weekly AS (
  SELECT n.n_name AS nation,
         -- day must be BIGINT before // : DuckDB's // on DOUBLE is
         -- plain division and CAST(double AS BIGINT) rounds
         (CAST(floor(epoch(o.o_orderdate) / 86400) AS BIGINT) + 3) // 7 AS x,
         CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS y
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2),
sums AS (
  SELECT nation, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM weekly GROUP BY 1)
SELECT nation, n AS n_weeks,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
       (sy - (CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE)) * sx) / n AS intercept
FROM sums
"""


#: l-diversity threshold: every equivalence class must see at least
#: this many distinct sensitive values.
L_DIVERSE = 3


def ldiversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the k-anonymity follow-up
    (`kanonymity_report` counts class SIZES; this counts distinct
    SENSITIVE values per class, the defense against homogeneity
    attacks: a 5-person class is still a leak if all 5 share the
    sensitive value). Quasi-identifier levels reuse the k-report's
    ladder (level 1 = nation+segment, level 0 = segment); the
    sensitive attribute is the account-balance quartile sign bucket
    (floor(acctbal/2500) clamped to [-1, 3] — integer thresholds,
    no percentile contract needed).

    100 TB shape: one distinct-agg shuffle per level over tiny QI ×
    sensitive key spaces, then constant-size rollups — the
    kanonymity_report shape exactly.

    Returns (level, n_classes, min_l, n_below_l, diverse_share).
    """
    cust = load_table(spark, sf_dir, "customer")
    sens = F.greatest(
        F.lit(-1),
        F.least(F.lit(3), F.floor(F.col("c_acctbal") / 2500).cast("int")),
    ).alias("sens")

    def level(cols: list[str], lvl: int) -> DataFrame:
        classes = (
            cust.select(*cols, sens)
            .groupBy(*cols)
            .agg(F.countDistinct("sens").cast("long").alias("l"))
        )
        return classes.agg(
            F.lit(lvl).cast("int").alias("level"),
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.min("l").cast("long").alias("min_l"),
            F.sum(F.when(F.col("l") < L_DIVERSE, 1).otherwise(0))
            .cast("long")
            .alias("n_below_l"),
            (
                F.sum(F.when(F.col("l") >= L_DIVERSE, 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("diverse_share"),
        )

    return level(["c_nationkey", "c_mktsegment"], 1).unionByName(
        level(["c_mktsegment"], 0)
    )


LDIVERSITY_REPORT_SQL = f"""
WITH base AS (
  SELECT c_nationkey, c_mktsegment,
         greatest(-1, least(3, CAST(floor(c_acctbal / 2500) AS INT))) AS sens
  FROM customer),
l1 AS (
  SELECT CAST(count(DISTINCT sens) AS BIGINT) AS l
  FROM base GROUP BY c_nationkey, c_mktsegment),
l0 AS (
  SELECT CAST(count(DISTINCT sens) AS BIGINT) AS l
  FROM base GROUP BY c_mktsegment)
SELECT CAST(1 AS INTEGER) AS level, CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(l) AS BIGINT) AS min_l,
       CAST(sum(CASE WHEN l < {L_DIVERSE} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_below_l,
       sum(CASE WHEN l >= {L_DIVERSE} THEN 1 ELSE 0 END) / count(*)
         AS diverse_share
FROM l1
UNION ALL
SELECT CAST(0 AS INTEGER), CAST(count(*) AS BIGINT), CAST(min(l) AS BIGINT),
       CAST(sum(CASE WHEN l < {L_DIVERSE} THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN l >= {L_DIVERSE} THEN 1 ELSE 0 END) / count(*)
FROM l0
"""


def chi2_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between customer market
    segment and order priority — the categorical counterpart of
    `abtest_value_ztest` (which compares MEANS of a numeric
    metric): does priority mix differ by segment? Reports the full
    contingency grid with expected counts under independence and
    each cell's χ² contribution, plus the grid-summed statistic
    repeated per row (cells are the natural output grain; the
    BIGINT-grid total avoids any float-sum ordering).

    100 TB shape: one combinable (segment, priority) count shuffle
    into a 5×5 grid; margins and the total are rollups of that
    grid, the join back is grid×margin (tiny). Expected = row·col/N
    is exact-integer-ratio doubles; contributions round to the 1e-6
    grid before the BIGINT total.

    Returns (c_mktsegment, o_orderpriority, observed, expected,
    contrib, chi2_total).
    """
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("observed"))
    )
    rows = cells.groupBy("c_mktsegment").agg(F.sum("observed").cast("long").alias("r"))
    colt = cells.groupBy("o_orderpriority").agg(
        F.sum("observed").cast("long").alias("c")
    )
    n = cells.agg(F.sum("observed").cast("long").alias("n"))
    g = (
        cells.join(rows, "c_mktsegment")
        .join(colt, "o_orderpriority")
        .crossJoin(F.broadcast(n))
        .select(
            "c_mktsegment",
            "o_orderpriority",
            "observed",
            F.expr("CAST(r AS DOUBLE) * c / n").alias("expected"),
            F.expr(
                "round((observed - CAST(r AS DOUBLE) * c / n)"
                " * (observed - CAST(r AS DOUBLE) * c / n)"
                " / (CAST(r AS DOUBLE) * c / n), 6)"
            ).alias("contrib"),
        )
    )
    tot = g.agg(
        (
            F.sum(F.expr("CAST(round(contrib * 1e6) AS BIGINT)")) / F.lit(1e6)
        ).alias("chi2_total")
    )
    return g.crossJoin(F.broadcast(tot))


CHI2_SEGMENT_PRIORITY_SQL = """
WITH cells AS (
  SELECT c.c_mktsegment, o.o_orderpriority,
         CAST(count(*) AS BIGINT) AS observed
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
r AS (SELECT c_mktsegment, CAST(sum(observed) AS BIGINT) AS r
      FROM cells GROUP BY 1),
ct AS (SELECT o_orderpriority, CAST(sum(observed) AS BIGINT) AS c
       FROM cells GROUP BY 1),
n AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM cells),
g AS (
  SELECT cells.c_mktsegment, cells.o_orderpriority, cells.observed,
         CAST(r.r AS DOUBLE) * ct.c / n.n AS expected,
         round((cells.observed - CAST(r.r AS DOUBLE) * ct.c / n.n)
               * (cells.observed - CAST(r.r AS DOUBLE) * ct.c / n.n)
               / (CAST(r.r AS DOUBLE) * ct.c / n.n), 6) AS contrib
  FROM cells
  JOIN r ON cells.c_mktsegment = r.c_mktsegment
  JOIN ct ON cells.o_orderpriority = ct.o_orderpriority
  CROSS JOIN n),
tot AS (
  SELECT CAST(sum(CAST(round(contrib * 1e6) AS BIGINT)) AS BIGINT) / 1e6
           AS chi2_total
  FROM g)
SELECT g.*, tot.chi2_total FROM g CROSS JOIN tot
"""


#: Quantile grid for the exact order-statistics report (integer
#: percents — shared plan↔oracle so both engines target identical
#: ranks).
EXACT_QUANTILE_PCTS = (1, 5, 25, 50, 75, 95, 99)


def order_value_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus-grain order statistics at scale (r8) — the
    scalable exact member that completes the percentile family:
    `value_percentiles` buffers per-group values (exact but
    per-group memory-bound), `value_percentiles_approx` is the
    KLL-sketch tolerance contract; this one serves exact
    lower-order statistics of the FULL orders table with no
    single-task sort and no per-group buffering, via the two-pass
    partition-offset rank: value = the row whose global rank equals
    floor((n−1)·pct/100) + 1 (pure integer rank math on the cents
    BIGINT grid — no interpolation, so the verdict is engine-exact).

    100 TB shape: one range shuffle + per-slice local sorts (the
    `two_pass_ranks` contract), one 7-way literal-grid explode +
    filter (map-side), 7 output rows.

    Returns (pct, rank_at, n_orders, value).
    """
    from ..operators.ranking import two_pass_ranks

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    ranked = two_pass_ranks(
        orders,
        [F.col("cents"), F.col("o_orderkey")],
        [{"partition": (), "rank": "rk", "n": "n"}],
    )
    target = F.expr("CAST(floor((n - 1) * pct / 100.0) AS BIGINT) + 1")
    return (
        ranked.select(
            "cents",
            "rk",
            "n",
            F.explode(
                F.array(*[F.lit(p) for p in EXACT_QUANTILE_PCTS])
            ).alias("pct"),
        )
        .where(F.col("rk") == target)
        .select(
            F.col("pct").cast("long").alias("pct"),
            target.alias("rank_at"),
            F.col("n").alias("n_orders"),
            (F.col("cents") / F.lit(100.0)).alias("value"),
        )
    )


ORDER_VALUE_QUANTILES_EXACT_SQL = f"""
WITH ranked AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(row_number() OVER (
           ORDER BY CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey)
           AS BIGINT) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM orders),
q AS (SELECT unnest([{", ".join(str(p) for p in EXACT_QUANTILE_PCTS)}]) AS pct)
SELECT CAST(q.pct AS BIGINT) AS pct,
       CAST(floor((ranked.n - 1) * q.pct / 100.0) AS BIGINT) + 1 AS rank_at,
       ranked.n AS n_orders,
       ranked.cents / 100.0 AS value
FROM ranked JOIN q
  ON ranked.rk = CAST(floor((ranked.n - 1) * q.pct / 100.0) AS BIGINT) + 1
"""


#: Trim fraction per tail for the robust mean (5% + 5%).
TRIM_FRAC_PCT = 5


def trimmed_mean_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (5%-trimmed) mean order value per priority next to
    the raw mean — the outlier-resistant KPI pair: a handful of
    mega-orders moves the raw mean but not the trimmed one, and the
    gap between the two IS the outlier-mass report (the MAD view
    `value_mad_outliers` flags rows; this one fixes the headline
    number).

    Exactness: trim boundaries are integer ranks (floor(n·5/100) on
    exact counts), values ride the cents BIGINT grid, so both means
    are one exact-BIGINT-sum ÷ count.

    100 TB shape (r8 — the r7 verdict's weak item, fixed): the rank
    pass is the two-pass partition-offset rank
    (`operators/ranking.py`): range shuffle on (cents, o_orderkey),
    broadcast per-(slice, priority) offsets, per-slice local sorts
    — the old plan's 5-partition window sorted n/5 fact rows per
    task. Ranks are bit-identical (unique total order), oracle
    unchanged.

    Returns (o_orderpriority, n_orders, n_trimmed, mean_value,
    trimmed_mean_value).
    """
    from ..operators.ranking import two_pass_ranks

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    ranked = two_pass_ranks(
        orders,
        [F.col("cents"), F.col("o_orderkey")],
        [{"partition": ("o_orderpriority",), "rank": "rk", "n": "n"}],
    )
    # floor explicitly: DuckDB CAST(double AS BIGINT) rounds
    cut = F.expr(f"CAST(floor(n * {TRIM_FRAC_PCT} / 100) AS BIGINT)")
    return (
        ranked.withColumn("cut", cut)
        .groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n_orders"),
            F.sum(
                F.when(
                    (F.col("rk") > F.col("cut"))
                    & (F.col("rk") <= F.col("n") - F.col("cut")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_trimmed"),
            (F.sum("cents") / F.max("n") / F.lit(100.0)).alias("mean_value"),
            (
                F.sum(
                    F.when(
                        (F.col("rk") > F.col("cut"))
                        & (F.col("rk") <= F.col("n") - F.col("cut")),
                        F.col("cents"),
                    ).otherwise(0)
                )
                / F.sum(
                    F.when(
                        (F.col("rk") > F.col("cut"))
                        & (F.col("rk") <= F.col("n") - F.col("cut")),
                        1,
                    ).otherwise(0)
                )
                / F.lit(100.0)
            ).alias("trimmed_mean_value"),
        )
    )


TRIMMED_MEAN_ORDER_VALUES_SQL = f"""
WITH ranked AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey)
           AS BIGINT) AS rk,
         CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
  FROM orders),
cutd AS (
  SELECT *, CAST(floor(n * {TRIM_FRAC_PCT} / 100) AS BIGINT) AS cut FROM ranked)
SELECT o_orderpriority,
       CAST(max(n) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN rk > cut AND rk <= n - cut THEN 1 ELSE 0 END)
            AS BIGINT) AS n_trimmed,
       CAST(sum(cents) AS BIGINT) / max(n) / 100.0 AS mean_value,
       CAST(sum(CASE WHEN rk > cut AND rk <= n - cut THEN cents ELSE 0 END)
            AS BIGINT)
         / CAST(sum(CASE WHEN rk > cut AND rk <= n - cut THEN 1 ELSE 0 END)
                AS BIGINT)
         / 100.0 AS trimmed_mean_value
FROM cutd GROUP BY 1
"""


def cross_device_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-device session stitching — the product metric the
    reference's equiv-graph exists FOR: sessionize the event stream
    once on RAW user ids and once on the CANONICAL person
    (`user_id_normalization`'s connected components), per start-day
    count both. Raw minus stitched is how many "visits" were really
    the same person continuing on another device; a per-day row can
    go either way (a merged session's start day is its EARLIEST
    event), but globally stitched ≤ raw — asserted in tests.

    100 TB shape: the tiny CC mapping broadcasts onto the fact
    scan; each sessionization is the ONE user-keyed
    shuffle-and-sort the gap-split needs; day counts are combinable
    rollups of session grain. Total order (ts, event_id) keeps both
    engines' session splits identical.

    Returns (day, n_sessions_raw, n_sessions_stitched).
    """
    from ..plans.swa import user_id_normalization

    def day_counts(sess: DataFrame, out: str) -> DataFrame:
        roll = sess.groupBy("user_id", "session_id").agg(
            F.min("us").alias("min_us")
        )
        return roll.groupBy(
            F.expr("min_us DIV 86400000000").alias("day")
        ).agg(F.count(F.lit(1)).cast("long").alias(out))

    raw = day_counts(_sessionized_events(spark, sf_dir), "n_sessions_raw")
    mapping = user_id_normalization(spark, sf_dir)
    ne = (
        load_table(spark, sf_dir, "events")
        .join(F.broadcast(mapping), "user_id", "left")
        .select(
            F.coalesce("canonical_id", "user_id").alias("user_id"),
            "ts",
            "event_id",
            epoch_us("ts").alias("us"),
        )
    )
    stitched = day_counts(_sessionize_frame(ne), "n_sessions_stitched")
    return (
        raw.join(stitched, "day", "full")
        .select(
            "day",
            F.coalesce("n_sessions_raw", F.lit(0)).cast("long").alias(
                "n_sessions_raw"
            ),
            F.coalesce("n_sessions_stitched", F.lit(0)).cast("long").alias(
                "n_sessions_stitched"
            ),
        )
    )


def _cross_device_sessions_sql() -> str:
    from .swa import EQUIV_EDGES_CTE

    return f"""
WITH RECURSIVE {EQUIV_EDGES_CTE},
{_SESSIONIZED_CTE.strip().rstrip()},
rawroll AS (
  SELECT user_id, session_id, CAST(min(us) AS BIGINT) AS min_us
  FROM sess GROUP BY 1, 2),
rawday AS (
  SELECT min_us // 86400000000 AS day,
         CAST(count(*) AS BIGINT) AS n_sessions_raw
  FROM rawroll GROUP BY 1),
ne AS (
  SELECT CAST(coalesce(m.canonical_id, e.user_id) AS BIGINT) AS user_id,
         e.ts, e.event_id, epoch_us(e.ts) AS us
  FROM events e LEFT JOIN mapping m ON e.user_id = m.user_id),
nflag AS (
  SELECT user_id, ts, event_id, us,
         CASE WHEN lag(us) OVER w2 IS NULL
                   OR us - lag(us) OVER w2 > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM ne
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)),
nsess AS (
  SELECT user_id, us,
         CAST(sum(new_s) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
           AS session_id
  FROM nflag),
nroll AS (
  SELECT user_id, session_id, CAST(min(us) AS BIGINT) AS min_us
  FROM nsess GROUP BY 1, 2),
nday AS (
  SELECT min_us // 86400000000 AS day,
         CAST(count(*) AS BIGINT) AS n_sessions_stitched
  FROM nroll GROUP BY 1)
SELECT coalesce(r.day, n.day) AS day,
       CAST(coalesce(r.n_sessions_raw, 0) AS BIGINT) AS n_sessions_raw,
       CAST(coalesce(n.n_sessions_stitched, 0) AS BIGINT)
         AS n_sessions_stitched
FROM rawday r FULL JOIN nday n ON r.day = n.day
"""


CROSS_DEVICE_SESSIONS_SQL = _cross_device_sessions_sql()


#: Pattern length (days) and result size for the similarity search.
PATTERN_DAYS = 7
PATTERN_TOPK = 10


def revenue_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series pattern similarity search: which historical
    7-day revenue windows look most like the LATEST full week?
    (The "have we seen this shape before" query behind demand
    forecasting and anomaly triage.) Similarity is Pearson
    correlation of the two 7-vectors — scale/offset invariant, so
    it matches SHAPE, not volume.

    Exactness: daily revenue rides a KILO-dollar BIGINT grid
    (documented headroom: window Σx² stays in BIGINT to ~sf1e5,
    where a cents grid would overflow at sf1000); each window's
    (Σx, Σx², Σxy) are integer sums over PATTERN_DAYS lead()
    columns, and r is one double chain from exact BIGINTs.
    Zero-variance windows are excluded BEFORE ranking (r
    undefined). The query window rides a one-row broadcast
    (allowlisted); candidate windows must end before the query
    starts.

    100 TB shape: one combinable (day, Σ) rollup off the fact
    scan, then everything — leads, sums, ranking — runs on the
    CALENDAR-bounded daily frame (the `open_orders_over_time`
    posture). Brute force over ~n_days windows IS the scale plan
    at any corpus size.

    Returns (day, r, rank) — the top PATTERN_TOPK matches.
    """
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.floor(F.unix_timestamp("o_orderdate") / 86400)
        .cast("long")
        .alias("day")
    ).agg(
        F.expr(
            "CAST(round(sum(CAST(round(o_totalprice) AS BIGINT)) / 1000)"
            " AS BIGINT)"
        ).alias("v")
    )
    w = Window.orderBy("day")
    lead_cols = [F.col("v").alias("x0")] + [
        F.lead("v", i).over(w).alias(f"x{i}") for i in range(1, PATTERN_DAYS)
    ]
    lead_days = F.lead("day", PATTERN_DAYS - 1).over(w).alias("end_day")
    xs = [f"x{i}" for i in range(PATTERN_DAYS)]
    wins = (
        daily.select("day", lead_days, *lead_cols)
        # contiguous full windows only (gap days break the shape)
        .where(
            F.col(f"x{PATTERN_DAYS - 1}").isNotNull()
            & (F.col("end_day") == F.col("day") + PATTERN_DAYS - 1)
        )
        .select(
            "day",
            F.expr(" + ".join(xs)).alias("sx"),
            F.expr(" + ".join(f"{x} * {x}" for x in xs)).alias("sxx"),
            *[F.col(x) for x in xs],
        )
    )
    q = (
        wins.orderBy(F.desc("day"))
        .limit(1)
        .select(
            F.col("day").alias("q_day"),
            F.col("sx").alias("qsx"),
            F.col("sxx").alias("qsxx"),
            *[F.col(x).alias(f"q{x}") for x in xs],
        )
    )
    n = PATTERN_DAYS
    sxy = " + ".join(f"{x} * q{x}" for x in xs)
    r_expr = (
        f"CAST({n} * ({sxy}) - sx * qsx AS DOUBLE)"
        f" / sqrt(CAST({n} * sxx - sx * sx AS DOUBLE)"
        f" * CAST({n} * qsxx - qsx * qsx AS DOUBLE))"
    )
    scored = (
        wins.crossJoin(F.broadcast(q))
        .where(F.col("day") + (PATTERN_DAYS - 1) < F.col("q_day"))
        .where(
            F.expr(f"{n} * sxx - sx * sx > 0")
            & F.expr(f"{n} * qsxx - qsx * qsx > 0")
        )
        .select("day", F.expr(r_expr).alias("r"))
    )
    wr = Window.orderBy(F.desc("r"), "day")
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("long"))
        .where(F.col("rank") <= PATTERN_TOPK)
        .select("day", "r", "rank")
    )


def _pattern_sql() -> str:
    n = PATTERN_DAYS
    xs = [f"x{i}" for i in range(n)]
    leads = ",\n         ".join(
        f"lead(v, {i}) OVER w AS x{i}" for i in range(1, n)
    )
    sxy = " + ".join(f"{x} * q.q{x}" for x in xs)
    qcols = ", ".join(f"{x} AS q{x}" for x in xs)
    return f"""
WITH daily AS (
  SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
         CAST(round(sum(CAST(round(o_totalprice) AS BIGINT)) / 1000)
              AS BIGINT) AS v
  FROM orders GROUP BY 1),
led AS (
  SELECT day, v AS x0,
         {leads},
         lead(day, {n - 1}) OVER w AS end_day
  FROM daily
  WINDOW w AS (ORDER BY day)),
wins AS (
  SELECT day,
         {" + ".join(xs)} AS sx,
         {" + ".join(f"{x} * {x}" for x in xs)} AS sxx,
         {", ".join(xs)}
  FROM led
  WHERE x{n - 1} IS NOT NULL AND end_day = day + {n - 1}),
q AS (
  SELECT day AS q_day, sx AS qsx, sxx AS qsxx, {qcols}
  FROM wins ORDER BY day DESC LIMIT 1),
scored AS (
  SELECT w.day,
         CAST({n} * ({sxy}) - w.sx * q.qsx AS DOUBLE)
           / sqrt(CAST({n} * w.sxx - w.sx * w.sx AS DOUBLE)
                  * CAST({n} * q.qsxx - q.qsx * q.qsx AS DOUBLE)) AS r
  FROM wins w CROSS JOIN q
  WHERE w.day + {n - 1} < q.q_day
    AND {n} * w.sxx - w.sx * w.sx > 0
    AND {n} * q.qsxx - q.qsx * q.qsx > 0)
SELECT day, r, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY r DESC, day) AS rank FROM scored)
WHERE rank <= {PATTERN_TOPK}
"""


REVENUE_PATTERN_MATCH_SQL = _pattern_sql()


#: Hold-out rule for the recsys eval: every 5th order is test.
ITEMCF_TEST_MOD = 5


def itemcf_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline recsys evaluation — `item_item_cosine`'s eval
    closure (what `ann_recall_eval` is to the ANN family): hold out
    every ITEMCF_TEST_MOD-th order, build the co-occurrence top-5
    on the TRAIN orders only, then ask for each (test order, item)
    pair whether any of the item's top-5 neighbors was ALSO bought
    in that held-out order — hit-rate@5, the number a rec-serving
    launch decision reads.

    All-integer plan: deterministic split on l_orderkey mod, exact
    pair/item counts, cosine ranking (the item_item contract), one
    (order, neighbor)-keyed semi-join against the test baskets, a
    one-row report. Bounded baskets keep pair generation
    corpus-linear; the recs frame is items × 5.

    Returns (n_test_pairs, n_hit_pairs, hit_rate) — one row.
    """
    from pyspark.sql.window import Window

    # r10: persist the DISTINCT basket table once, not just the train
    # slice — the executed before-plan ran the scan+distinct shuffle
    # FOUR times (train cache build + cand/th/n_test, whose copies
    # carry divergent join-inferred not-null filters, so AQE exchange
    # reuse never fires on them). Train/test filters are narrow reads
    # of the one cache; same rows, oracle re-proved.
    all_items = persist(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", F.col("l_partkey").alias("item"))
        .distinct()
    )
    train = all_items.where(F.col("l_orderkey") % ITEMCF_TEST_MOD != 0)
    test = all_items.where(F.col("l_orderkey") % ITEMCF_TEST_MOD == 0)
    item_cnt = train.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    a = train.alias("a")
    b = train.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.item") != F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("item"), F.col("b.item").alias("neighbor"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
    )
    scored = (
        pairs.join(item_cnt.withColumnRenamed("cnt", "cnt_a"), "item")
        .join(
            item_cnt.withColumnRenamed("cnt", "cnt_b").withColumnRenamed(
                "item", "neighbor"
            ),
            "neighbor",
        )
        .select(
            "item",
            "neighbor",
            F.expr("n_pair / sqrt(CAST(cnt_a * cnt_b AS DOUBLE))").alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.desc("cosine"), "neighbor")
    recs = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("item", "neighbor")
    )
    cand = test.join(recs, "item").select("l_orderkey", "item", "neighbor")
    th = test.select(
        F.col("l_orderkey").alias("h_order"), F.col("item").alias("h_item")
    )
    hits = (
        cand.join(
            th,
            (cand.l_orderkey == th.h_order) & (cand.neighbor == th.h_item),
        )
        .select("l_orderkey", "item")
        .distinct()
    )
    n_test = test.agg(F.count(F.lit(1)).cast("long").alias("n_test_pairs"))
    n_hit = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hit_pairs"))
    return (
        n_test.crossJoin(F.broadcast(n_hit))
        .select(
            "n_test_pairs",
            "n_hit_pairs",
            (F.col("n_hit_pairs") / F.col("n_test_pairs")).alias("hit_rate"),
        )
    )


ITEMCF_EVAL_SQL = f"""
WITH all_items AS (
  SELECT DISTINCT l_orderkey, l_partkey AS item FROM lineitem),
train AS (
  SELECT * FROM all_items WHERE l_orderkey % {ITEMCF_TEST_MOD} <> 0),
test AS (
  SELECT * FROM all_items WHERE l_orderkey % {ITEMCF_TEST_MOD} = 0),
item_cnt AS (
  SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM train GROUP BY 1),
pairs AS (
  SELECT a.item, b.item AS neighbor, CAST(count(*) AS BIGINT) AS n_pair
  FROM train a JOIN train b
    ON a.l_orderkey = b.l_orderkey AND a.item <> b.item
  GROUP BY 1, 2),
scored AS (
  SELECT p.item, p.neighbor,
         p.n_pair / sqrt(CAST(ca.cnt * cb.cnt AS DOUBLE)) AS cosine
  FROM pairs p
  JOIN item_cnt ca ON p.item = ca.item
  JOIN item_cnt cb ON p.neighbor = cb.item),
recs AS (
  SELECT item, neighbor FROM (
    SELECT *, row_number() OVER (
      PARTITION BY item ORDER BY cosine DESC, neighbor) AS rank
    FROM scored)
  WHERE rank <= 5),
hits AS (
  SELECT DISTINCT c.l_orderkey, c.item
  FROM (SELECT t.l_orderkey, t.item, r.neighbor
        FROM test t JOIN recs r ON t.item = r.item) c
  JOIN test h ON h.l_orderkey = c.l_orderkey AND h.item = c.neighbor)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM test) AS n_test_pairs,
       (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hit_pairs,
       (SELECT count(*) FROM hits)
         / (SELECT CAST(count(*) AS BIGINT) FROM test) AS hit_rate
"""


def transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-step predictability per state: Shannon entropy of the
    next-event distribution given the current event — the
    one-number summary of `top_event_transitions`' matrix rows
    (H ≈ 0: users on rails; H ≈ log |types|: anything can happen —
    the difference decides whether prefetching/recommendation after
    this state is worth anything).

    Terms −(n/N)·ln(n/N) ride the 1e-6 round grid and sum as
    BIGINTs per state (order-free, the `char_entropy` contract);
    normalized share = H / round(ln(n_next), 6) ∈ [0, 1].

    100 TB shape: the one user-keyed window shuffle the transition
    matrix already needs, a |types|²-key combinable agg, then a
    |types|-row finish.

    Returns (prev_type, n_total, n_next_types, entropy_nats,
    normalized_entropy).
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    cells = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = cells.groupBy("prev_type").agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_next_types"),
    )
    ent = (
        cells.join(tot, "prev_type")
        .select(
            "prev_type",
            F.expr(
                "CAST(round(round(-(n / n_total) * ln(n / n_total), 6) * 1e6)"
                " AS BIGINT)"
            ).alias("t"),
        )
        .groupBy("prev_type")
        .agg((F.sum("t") / F.lit(1e6)).alias("entropy_nats"))
    )
    return (
        tot.join(ent, "prev_type")
        .select(
            "prev_type",
            "n_total",
            "n_next_types",
            "entropy_nats",
            F.when(F.col("n_next_types") > 1,
                   F.col("entropy_nats")
                   / F.expr("round(ln(n_next_types), 6)"))
            .otherwise(F.lit(0.0))
            .alias("normalized_entropy"),
        )
    )


TRANSITION_ENTROPY_SQL = """
WITH pairs AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events),
cells AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2),
tot AS (
  SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_total,
         CAST(count(*) AS BIGINT) AS n_next_types
  FROM cells GROUP BY 1),
ent AS (
  SELECT c.prev_type,
         CAST(sum(CAST(round(round(-(c.n / t.n_total)
                                   * ln(c.n / t.n_total), 6) * 1e6)
                       AS BIGINT)) AS BIGINT) / 1e6 AS entropy_nats
  FROM cells c JOIN tot t ON c.prev_type = t.prev_type
  GROUP BY 1)
SELECT t.prev_type, t.n_total, t.n_next_types, e.entropy_nats,
       CASE WHEN t.n_next_types > 1
            THEN e.entropy_nats / round(ln(t.n_next_types), 6)
            ELSE 0.0 END AS normalized_entropy
FROM tot t JOIN ent e ON t.prev_type = e.prev_type
"""


def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the report an operator reads
    BEFORE deciding between a plain shuffle join, AQE skew
    splitting, and an explicit salt (`skew_salted_quantity` is the
    fix; this is the detector): for each production join key,
    distinct-key count, max/mean rows per key, the exact p99 key
    weight, and the skew factor (max/mean; AQE's
    skewedPartitionFactor reasons on exactly this shape).

    All-integer: per-key counts are exact, mean = n_rows/n_keys and
    the exact-percentile p99 follow the `value_percentiles`
    contract. One combinable count per key column + a
    counts-of-counts finish (the counts frame is ≤ |keys| rows).

    Returns (join_key, n_rows, n_keys, max_per_key, mean_per_key,
    p99_per_key, skew_factor).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    out = []
    for name, df, col in (
        ("lineitem.l_orderkey", li, "l_orderkey"),
        ("lineitem.l_partkey", li, "l_partkey"),
        ("orders.o_custkey", orders, "o_custkey"),
    ):
        counts = df.groupBy(col).agg(F.count(F.lit(1)).cast("long").alias("n"))
        out.append(
            counts.agg(
                F.lit(name).alias("join_key"),
                F.sum("n").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.max("n").cast("long").alias("max_per_key"),
                (F.sum("n") / F.count(F.lit(1))).alias("mean_per_key"),
                F.expr("percentile(n, 0.99e0)").alias("p99_per_key"),
                (
                    F.max("n") / (F.sum("n") / F.count(F.lit(1)))
                ).alias("skew_factor"),
            )
        )
    return reduce(DataFrame.unionByName, out)


JOIN_SKEW_REPORT_SQL = """
WITH k1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY l_orderkey),
k2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY l_partkey),
k3 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY o_custkey)
SELECT 'lineitem.l_orderkey' AS join_key,
       CAST(sum(n) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(n) AS BIGINT) AS max_per_key,
       CAST(sum(n) AS BIGINT) / count(*) AS mean_per_key,
       quantile_cont(n, 0.99e0) AS p99_per_key,
       CAST(max(n) AS BIGINT) / (CAST(sum(n) AS BIGINT) / count(*))
         AS skew_factor
FROM k1
UNION ALL
SELECT 'lineitem.l_partkey', CAST(sum(n) AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(max(n) AS BIGINT), CAST(sum(n) AS BIGINT) / count(*),
       quantile_cont(n, 0.99e0),
       CAST(max(n) AS BIGINT) / (CAST(sum(n) AS BIGINT) / count(*))
FROM k2
UNION ALL
SELECT 'orders.o_custkey', CAST(sum(n) AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(max(n) AS BIGINT), CAST(sum(n) AS BIGINT) / count(*),
       quantile_cont(n, 0.99e0),
       CAST(max(n) AS BIGINT) / (CAST(sum(n) AS BIGINT) / count(*))
FROM k3
"""


def touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch conversion attribution — the two
    classical baselines next to `markov_attribution`'s removal
    effects (every marketing stack reports all three; the spread
    between them is the "how biased is last-click" diagnostic).
    Per converting session (contains ≥1 purchase): the first
    pre-purchase event's type gets the first-touch credit, the last
    pre-purchase event's type the last-touch credit; sessions whose
    purchase is their first event credit 'direct'.

    One sessionization shuffle (shared contract with
    `sessionize_events` — total order (ts, event_id)), one
    per-session min/max rollup, a |types|-key count finish. Exact
    integer credits; shares are one division.

    Returns (channel, n_first_touch, n_last_touch, first_share,
    last_share).
    """
    sess = _sessionized_events(spark, sf_dir)
    conv = sess.where(F.col("event_type") == "purchase").groupBy(
        "user_id", "session_id"
    ).agg(F.min(F.struct("us", "event_id")).alias("p"))
    pre = (
        sess.join(conv, ["user_id", "session_id"])
        .where(
            F.struct("us", "event_id") < F.col("p")
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.min(F.struct("us", "event_id", "event_type")).alias("first"),
            F.max(F.struct("us", "event_id", "event_type")).alias("last"),
        )
    )
    credited = conv.join(pre, ["user_id", "session_id"], "left").select(
        F.coalesce(F.col("first.event_type"), F.lit("direct")).alias("first_ch"),
        F.coalesce(F.col("last.event_type"), F.lit("direct")).alias("last_ch"),
    )
    first = credited.groupBy(F.col("first_ch").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_first_touch")
    )
    last = credited.groupBy(F.col("last_ch").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_last_touch")
    )
    tot = credited.agg(F.count(F.lit(1)).cast("long").alias("n_conv"))
    return (
        first.join(last, "channel", "full")
        .select(
            "channel",
            F.coalesce("n_first_touch", F.lit(0)).cast("long").alias(
                "n_first_touch"
            ),
            F.coalesce("n_last_touch", F.lit(0)).cast("long").alias(
                "n_last_touch"
            ),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "n_first_touch",
            "n_last_touch",
            (F.col("n_first_touch") / F.col("n_conv")).alias("first_share"),
            (F.col("n_last_touch") / F.col("n_conv")).alias("last_share"),
        )
    )


TOUCH_ATTRIBUTION_SQL = f"""
WITH {_SESSIONIZED_CTE.strip()},
conv AS (
  SELECT user_id, session_id,
         min(struct_pack(us := us, event_id := event_id)) AS p
  FROM sess WHERE event_type = 'purchase'
  GROUP BY 1, 2),
pre AS (
  SELECT s.user_id, s.session_id,
         min(struct_pack(us := s.us, event_id := s.event_id,
                         event_type := s.event_type)) AS first,
         max(struct_pack(us := s.us, event_id := s.event_id,
                         event_type := s.event_type)) AS last
  FROM sess s JOIN conv c
    ON s.user_id = c.user_id AND s.session_id = c.session_id
  WHERE struct_pack(us := s.us, event_id := s.event_id) < c.p
  GROUP BY 1, 2),
credited AS (
  SELECT coalesce(p.first.event_type, 'direct') AS first_ch,
         coalesce(p.last.event_type, 'direct') AS last_ch
  FROM conv c
  LEFT JOIN pre p
    ON c.user_id = p.user_id AND c.session_id = p.session_id),
f AS (SELECT first_ch AS channel, CAST(count(*) AS BIGINT) AS n_first_touch
      FROM credited GROUP BY 1),
l AS (SELECT last_ch AS channel, CAST(count(*) AS BIGINT) AS n_last_touch
      FROM credited GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_conv FROM credited)
SELECT coalesce(f.channel, l.channel) AS channel,
       CAST(coalesce(f.n_first_touch, 0) AS BIGINT) AS n_first_touch,
       CAST(coalesce(l.n_last_touch, 0) AS BIGINT) AS n_last_touch,
       coalesce(f.n_first_touch, 0) / tot.n_conv AS first_share,
       coalesce(l.n_last_touch, 0) / tot.n_conv AS last_share
FROM f FULL JOIN l ON f.channel = l.channel
CROSS JOIN tot
"""


#: Bootstrap replicate count.
BOOTSTRAP_B = 64
#: Poisson(1) inverse-CDF thresholds (cumulative probabilities as
#: decimal literals — identical doubles in both engines); weights
#: clamped at 6 (P(X>6) ≈ 8e-5).
_POISSON_W = (
    "CASE WHEN u < 0.36787944117144233 THEN 0"
    " WHEN u < 0.7357588823428847 THEN 1"
    " WHEN u < 0.9196986029286058 THEN 2"
    " WHEN u < 0.9810118431238462 THEN 3"
    " WHEN u < 0.9963401531726563 THEN 4"
    " WHEN u < 0.9994058151824183 THEN 5"
    " ELSE 6 END"
)


def bootstrap_ci_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean order
    value — the canonical DISTRIBUTED bootstrap (per (row,
    replicate), an independent Poisson(1) weight stands in for
    with-replacement resampling, so no replicate ever materializes
    a resampled table): BOOTSTRAP_B hash-seeded replicates, each an
    exact Σ(w·cents)/Σw, CI = the 2.5/97.5 exact percentiles of the
    replicate means. The uncertainty-quantification layer every
    metrics report above ships without.

    Determinism: u = md5('boot:'||key||':'||b)/2^52 (the
    `dp_noisy_counts` seeded-release convention), Poisson weights
    via fixed decimal-literal CDF thresholds, replicate means are
    exact-BIGINT ratios, percentiles ride the `value_percentiles`
    `percentile ≡ quantile_cont` contract over the 64-row replicate
    frame.

    100 TB shape: a ×B map-side fan-out (sequence explode — no
    shuffle) into ONE combinable (replicate) agg; the CI finish
    runs on B rows. Cost is B× one scan, trivially parallel; the
    md5 uniform is the cross-engine CONTRACT hash — a production
    deployment swaps in xxhash64 for ~10× cheaper weights
    (identical plan shape, the substring-dedup r7 precedent).

    Returns (n_orders, n_replicates, mean_value, ci_lo, ci_hi).
    """
    from ..operators.skew import widen_for_compute

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    # r10: the ×B md5 fan-out is ~B× heavier than the scan; floor the
    # scan's parallelism so it doesn't serialize on one small file's
    # single task (no-op on wide cluster scans).
    fan = widen_for_compute(orders).select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(BOOTSTRAP_B - 1))).alias("b"),
    ).select(
        "cents",
        "b",
        F.expr(
            "CAST(conv(substring(md5(concat('boot:', o_orderkey, ':', b)),"
            " 1, 13), 16, 10) AS BIGINT) / 4503599627370496e0"
        ).alias("u"),
    )
    reps = (
        fan.select("cents", "b", F.expr(_POISSON_W).alias("w"))
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("w") * F.col("cents")).cast("long")
                / F.sum("w").cast("long")
                / F.lit(100.0)
            ).alias("m")
        )
    )
    stats = orders.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (F.sum("cents") / F.count(F.lit(1)) / F.lit(100.0)).alias("mean_value"),
    )
    ci = reps.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        F.expr("percentile(m, 0.025e0)").alias("ci_lo"),
        F.expr("percentile(m, 0.975e0)").alias("ci_hi"),
    )
    return stats.crossJoin(F.broadcast(ci)).select(
        "n_orders", "n_replicates", "mean_value", "ci_lo", "ci_hi"
    )


BOOTSTRAP_CI_ORDER_VALUE_SQL = f"""
WITH o AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
fan AS (
  SELECT cents, CAST(t.b AS BIGINT) AS b,
         ('0x' || substr(md5('boot:' || o_orderkey || ':' || t.b), 1, 13))
           ::BIGINT / 4503599627370496e0 AS u
  FROM o CROSS JOIN range(0, {BOOTSTRAP_B}) t(b)),
reps AS (
  SELECT b,
         CAST(sum(({_POISSON_W}) * cents) AS BIGINT)
           / CAST(sum({_POISSON_W}) AS BIGINT) / 100.0 AS m
  FROM fan GROUP BY b),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(cents) AS BIGINT) / count(*) / 100.0 AS mean_value
  FROM o),
ci AS (
  SELECT CAST(count(*) AS BIGINT) AS n_replicates,
         quantile_cont(m, 0.025e0) AS ci_lo,
         quantile_cont(m, 0.975e0) AS ci_hi
  FROM reps)
SELECT n_orders, n_replicates, mean_value, ci_lo, ci_hi
FROM stats CROSS JOIN ci
"""


#: A lineitem is late if it ships more than this many days after
#: its order date.
LATE_SHIP_DAYS = 90
#: z for the 95% Wilson interval — a decimal literal, identical in
#: both engines.
_WILSON_Z = "1.959963984540054e0"


def supplier_reliability_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncertainty-aware supplier ranking: on-time-shipment rate
    per supplier scored by the WILSON LOWER BOUND, not the raw rate
    — the standard fix for "a supplier with 3/3 on-time outranks
    one with 960/1000" (same family as `bootstrap_ci_order_value`:
    rank by what the data can actually support). late =
    shipdate − orderdate > LATE_SHIP_DAYS (exact integer day
    arithmetic).

    Wilson: (p̂ + z²/2n − z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n),
    one fixed double chain from exact BIGINT (n, n_late) — both
    engines evaluate the identical expression text; ranking is
    (bound DESC, suppkey).

    100 TB shape: one fact-scan join (orders side provides the
    order date — Catalyst picks broadcast vs shuffle by size), one
    combinable per-supplier count pair, a |suppliers|-row finish.
    The supplier grain GROWS with the corpus, so the final ranking
    is the two-pass partition-offset rank (r8 — the r7 verdict's
    latent-family sweep), not a global window sort. Never row × row.

    Returns (l_suppkey, n_shipments, n_late, on_time_rate,
    wilson_lb, rank).
    """
    from ..operators.ranking import two_pass_ranks

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        F.floor(F.unix_timestamp("l_shipdate") / 86400).cast("long").alias("sd"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.unix_timestamp("o_orderdate") / 86400)
        .cast("long")
        .alias("od"),
    )
    base = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_suppkey",
        (F.col("sd") - F.col("od") > LATE_SHIP_DAYS).alias("late"),
    )
    counts = base.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_shipments"),
        F.sum(F.when(F.col("late"), 1).otherwise(0)).cast("long").alias("n_late"),
    )
    wilson = (
        f"((n_shipments - n_late) / CAST(n_shipments AS DOUBLE)"
        f" + {_WILSON_Z} * {_WILSON_Z} / (2e0 * n_shipments)"
        f" - {_WILSON_Z} * sqrt("
        f"((n_shipments - n_late) / CAST(n_shipments AS DOUBLE))"
        f" * (1e0 - (n_shipments - n_late) / CAST(n_shipments AS DOUBLE))"
        f" / n_shipments"
        f" + {_WILSON_Z} * {_WILSON_Z}"
        f" / (4e0 * n_shipments * n_shipments)))"
        f" / (1e0 + {_WILSON_Z} * {_WILSON_Z} / n_shipments)"
    )
    scored = counts.select(
        "l_suppkey",
        "n_shipments",
        "n_late",
        F.expr(
            "(n_shipments - n_late) / CAST(n_shipments AS DOUBLE)"
        ).alias("on_time_rate"),
        F.expr(wilson).alias("wilson_lb"),
    )
    return two_pass_ranks(
        scored,
        [F.desc("wilson_lb"), F.col("l_suppkey")],
        [{"partition": (), "rank": "rank"}],
    )


SUPPLIER_RELIABILITY_WILSON_SQL = f"""
WITH base AS (
  SELECT l.l_suppkey,
         CAST(floor(epoch(l.l_shipdate) / 86400) AS BIGINT)
           - CAST(floor(epoch(o.o_orderdate) / 86400) AS BIGINT)
           > {LATE_SHIP_DAYS} AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
counts AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_shipments,
         CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late
  FROM base GROUP BY 1),
scored AS (
  SELECT l_suppkey, n_shipments, n_late,
         (n_shipments - n_late) / CAST(n_shipments AS DOUBLE) AS on_time_rate,
         ((n_shipments - n_late) / CAST(n_shipments AS DOUBLE)
          + {_WILSON_Z} * {_WILSON_Z} / (2e0 * n_shipments)
          - {_WILSON_Z} * sqrt(
              ((n_shipments - n_late) / CAST(n_shipments AS DOUBLE))
              * (1e0 - (n_shipments - n_late) / CAST(n_shipments AS DOUBLE))
              / n_shipments
              + {_WILSON_Z} * {_WILSON_Z}
              / (4e0 * n_shipments * n_shipments)))
         / (1e0 + {_WILSON_Z} * {_WILSON_Z} / n_shipments) AS wilson_lb
  FROM counts)
SELECT l_suppkey, n_shipments, n_late, on_time_rate, wilson_lb,
       CAST(row_number() OVER (ORDER BY wilson_lb DESC, l_suppkey)
            AS BIGINT) AS rank
FROM scored
"""


def gini_user_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of per-user event volume (r8) — the
    single-number inequality complement to `pareto_user_concentration`'s
    decile table (capacity planners quote "Gini 0.6 and rising" the
    way economists do): G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over the
    ascending order statistics xᵢ of per-user counts.

    Exactness: ranks come from the two-pass partition-offset rank on
    the unique (n_ev, user_id) order; every term is a BIGINT product
    summed exactly, divided once into a double. Overflow audit:
    Σ i·xᵢ ≤ n²·mean — BIGINT-safe below ~3e9 users at mean 1e3
    events (re-grid the rank·count products past that, the
    `neyman_allocation` convention).

    100 TB shape: one combinable per-user count shuffle, the
    two-pass rank (range shuffle + broadcast offsets), one scalar
    agg. Returns 1 row: (n_users, n_events, gini).
    """
    from ..operators.ranking import two_pass_ranks

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ev")
    )
    ranked = two_pass_ranks(
        per_user,
        [F.col("n_ev"), F.col("user_id")],
        [{"partition": (), "rank": "rk"}],
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_ev").cast("long").alias("n_events"),
        F.sum(F.col("rk") * F.col("n_ev")).cast("long").alias("rx"),
    ).select(
        "n_users",
        "n_events",
        (
            (2.0 * F.col("rx") - (F.col("n_users") + 1.0) * F.col("n_events"))
            / (F.col("n_users").cast("double") * F.col("n_events"))
        ).alias("gini"),
    )


GINI_USER_CONCENTRATION_SQL = """
WITH per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev
  FROM events GROUP BY 1),
ranked AS (
  SELECT n_ev,
         CAST(row_number() OVER (ORDER BY n_ev, user_id) AS BIGINT) AS rk
  FROM per_user),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(n_ev) AS BIGINT) AS n_events,
         CAST(sum(rk * n_ev) AS BIGINT) AS rx
  FROM ranked)
SELECT n_users, n_events,
       (2e0 * rx - (n_users + 1e0) * n_events)
         / (CAST(n_users AS DOUBLE) * n_events) AS gini
FROM agg
"""


#: Top-order-statistics count for the Hill tail-index estimator.
HILL_TOP_K = 100


def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail index of per-user event
    volume (r8) — the quantitative skew diagnosis behind
    `join_skew_report`'s heuristics: alpha ≈ 1 / (mean over the top
    HILL_TOP_K order statistics of ln(x_(i) / x_(k+1))). Small alpha
    = heavy tail = salt your shuffles; alpha > 2 = bounded variance,
    plain hash partitioning holds.

    Exactness: order statistics via the two-pass rank on the unique
    (n_ev desc, user_id) order; the threshold x_(k+1) is a 1-row
    broadcast; each ln term is quantized to the 1e-6 grid BEFORE the
    (order-free) BIGINT sum — the `unigram_logprob` cross-engine ln
    contract.

    100 TB shape: per-user count shuffle + two-pass rank + a k-row
    filter, one 1-row threshold broadcast, one scalar agg.
    Returns 1 row: (k, x_threshold, alpha_inv, alpha).
    """
    from ..operators.ranking import two_pass_ranks

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ev")
    )
    ranked = two_pass_ranks(
        per_user,
        [F.desc("n_ev"), F.col("user_id")],
        [{"partition": (), "rank": "rk", "n": "n"}],
    )
    # k adapts to small populations: k_eff = min(K, n_users − 1), so
    # the threshold order statistic always exists (both engines
    # derive it from the same count)
    k_eff = F.least(F.lit(HILL_TOP_K).cast("long"), F.col("n") - 1)
    thr = ranked.where(F.col("rk") == k_eff + 1).select(
        F.col("n_ev").alias("x_thr"), k_eff.alias("k_eff")
    )
    top = ranked.crossJoin(F.broadcast(thr)).where(
        F.col("rk") <= F.col("k_eff")
    )
    terms = top.select(
        "x_thr",
        "k_eff",
        F.expr(
            "CAST(round(ln(CAST(n_ev AS DOUBLE) / x_thr) * 1e6) AS BIGINT)"
        ).alias("t_fp"),
    )
    return terms.agg(
        F.max("k_eff").cast("long").alias("k"),
        F.max("x_thr").cast("long").alias("x_threshold"),
        (F.sum("t_fp") / F.lit(1e6) / F.max("k_eff")).alias("alpha_inv"),
    ).select(
        "k",
        "x_threshold",
        "alpha_inv",
        F.when(F.col("alpha_inv") > 0, 1.0 / F.col("alpha_inv")).alias(
            "alpha"
        ),
    )


HILL_TAIL_INDEX_SQL = f"""
WITH per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev
  FROM events GROUP BY 1),
ranked AS (
  SELECT n_ev,
         CAST(row_number() OVER (ORDER BY n_ev DESC, user_id) AS BIGINT)
           AS rk,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM per_user),
thr AS (SELECT n_ev AS x_thr, least({HILL_TOP_K}, n - 1) AS k_eff
        FROM ranked WHERE rk = least({HILL_TOP_K}, n - 1) + 1),
terms AS (
  SELECT x_thr, k_eff,
         CAST(round(ln(CAST(n_ev AS DOUBLE) / x_thr) * 1e6) AS BIGINT)
           AS t_fp
  FROM ranked CROSS JOIN thr WHERE rk <= k_eff),
agg AS (
  SELECT CAST(max(k_eff) AS BIGINT) AS k,
         CAST(max(x_thr) AS BIGINT) AS x_threshold,
         sum(t_fp) / 1e6 / max(k_eff) AS alpha_inv
  FROM terms)
SELECT k, x_threshold, alpha_inv,
       CASE WHEN alpha_inv > 0 THEN 1e0 / alpha_inv END AS alpha
FROM agg
"""


# --------------------------------------------- r9: CUPED + CUSUM


def _cuped_chain() -> dict[str, str]:
    """The shared CUPED double-arithmetic chain over the exact
    per-arm moment sums (n_{a,b}, sx/sy BIGINT event-grain sums,
    sxx/sxy/syy BIGINT per-user-product sums on the 1e-6 grid) —
    ONE textual definition rendered into both the Spark plan and
    the DuckDB oracle, the `abtest_value_ztest` convention."""
    mx = "((sx_a + sx_b) / 1e6 / (n_a + n_b))"
    my = "((sy_a + sy_b) / 1e6 / (n_a + n_b))"
    # pooled covariance / variance of the pre covariate
    cov = f"((sxy_a + sxy_b) / 1e6 / (n_a + n_b) - {mx} * {my})"
    varx = f"((sxx_a + sxx_b) / 1e6 / (n_a + n_b) - {mx} * {mx})"
    # nullif/greatest guards (ADVICE r9): a zero-variance covariate
    # or a quantization-induced slightly-negative adjusted variance
    # must degrade to NULL IDENTICALLY in both engines — Spark and
    # DuckDB disagree on x/0e0 and sqrt(<0) (NULL/NaN vs inf/error),
    # so the shared text never evaluates either.
    theta = f"({cov} / nullif({varx}, 0))"
    mxv = "(sx_{v} / 1e6 / n_{v})"
    myv = "(sy_{v} / 1e6 / n_{v})"
    covv = f"(sxy_{{v}} / 1e6 / n_{{v}} - {mxv} * {myv})"
    varxv = f"(sxx_{{v}} / 1e6 / n_{{v}} - {mxv} * {mxv})"
    varyv = f"(syy_{{v}} / 1e6 / n_{{v}} - {myv} * {myv})"
    madj = f"({myv} - {theta} * ({mxv} - {mx}))"
    vadj = (
        f"({varyv} + {theta} * {theta} * {varxv}"
        f" - 2 * {theta} * {covv})"
    )
    out = {
        "theta": theta,
        "mean_adj_a": madj.format(v="a"),
        "mean_adj_b": madj.format(v="b"),
    }
    va, vb = vadj.format(v="a"), vadj.format(v="b")
    ya, yb = varyv.format(v="a"), varyv.format(v="b")
    mya, myb = myv.format(v="a"), myv.format(v="b")
    out["z_raw"] = (
        f"(({mya}) - ({myb}))"
        f" / nullif(sqrt(greatest({ya} / n_a + {yb} / n_b, 0)), 0)"
    )
    out["z_cuped"] = (
        f"(({out['mean_adj_a']}) - ({out['mean_adj_b']}))"
        f" / nullif(sqrt(greatest({va} / n_a + {vb} / n_b, 0)), 0)"
    )
    out["var_reduction"] = (
        f"(1e0 - ({va} * n_a + {vb} * n_b)"
        f" / nullif({ya} * n_a + {yb} * n_b, 0))"
    )
    return out


def cuped_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (r9) — Deng et al. 2013,
    "Improving the Sensitivity of Online Controlled Experiments by
    Utilizing Pre-Experiment Data": the standard experimentation
    upgrade over `abtest_value_ztest`. Each user's PRE-period
    purchase value (even epoch-days — a span-agnostic split, so the
    plan is identical whether the corpus covers a month or a decade)
    is the covariate X; the POST-period value (odd epoch-days) is
    the metric Y; theta = cov(X,Y)/var(X) pooled over both arms;
    the test compares arm means of Y - theta·(X - mean(X)).

    Exactness: event values quantized to the 1e-6 grid and summed
    as BIGINT; per-user (x, y) doubles are exact quotients of those
    sums; the per-user cross products are re-quantized to the grid
    before the (order-free) BIGINT arm sums; everything after is
    ONE textual double chain (`_cuped_chain`) shared with the
    oracle. Variances of the adjusted metric come from the moment
    identity var(Y-θX) = var(Y)+θ²var(X)-2θcov — no second pass.

    100 TB shape: one per-user combinable agg + one 2-arm scalar
    agg; no joins, no windows. Returns ONE row.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    day = (epoch_us(F.col("ts")) / F.lit(86_400_000_000)).cast("long")
    v_fp = F.expr("CAST(round(value * 1e6) AS BIGINT)")
    per_user = (
        ev.select(
            "user_id",
            F.when(day % 2 == 0, v_fp).otherwise(F.lit(0)).alias("x_fp"),
            F.when(day % 2 == 1, v_fp).otherwise(F.lit(0)).alias("y_fp"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("x_fp").cast("long").alias("sx"),
            F.sum("y_fp").cast("long").alias("sy"),
        )
        .select(
            (F.col("user_id") % 2 == 0).alias("is_a"),
            "sx",
            "sy",
            F.expr(
                "CAST(round((sx / 1e6) * (sx / 1e6) * 1e6) AS BIGINT)"
            ).alias("xx_fp"),
            F.expr(
                "CAST(round((sx / 1e6) * (sy / 1e6) * 1e6) AS BIGINT)"
            ).alias("xy_fp"),
            F.expr(
                "CAST(round((sy / 1e6) * (sy / 1e6) * 1e6) AS BIGINT)"
            ).alias("yy_fp"),
        )
    )
    arm = lambda c, v: F.sum(  # noqa: E731
        F.when(F.col("is_a") if v == "a" else ~F.col("is_a"), F.col(c))
    ).cast("long").alias(f"{c if c != 'cnt' else 'n'}_{v}")
    moments = per_user.select(
        "is_a", F.lit(1).alias("cnt"), "sx", "sy", "xx_fp", "xy_fp", "yy_fp"
    ).agg(
        *[
            arm(c, v)
            for v in ("a", "b")
            for c in ("cnt", "sx", "sy", "xx_fp", "xy_fp", "yy_fp")
        ]
    )
    moments = moments.select(
        *[
            F.col(f"{c}_{v}").alias(f"{dst}_{v}")
            for v in ("a", "b")
            for c, dst in (
                ("n", "n"),
                ("sx", "sx"),
                ("sy", "sy"),
                ("xx_fp", "sxx"),
                ("xy_fp", "sxy"),
                ("yy_fp", "syy"),
            )
        ]
    )
    ch = _cuped_chain()
    return moments.select(
        F.col("n_a"),
        F.col("n_b"),
        F.expr(ch["theta"]).alias("theta"),
        F.expr(ch["mean_adj_a"]).alias("mean_adj_a"),
        F.expr(ch["mean_adj_b"]).alias("mean_adj_b"),
        F.expr(ch["z_raw"]).alias("z_raw"),
        F.expr(ch["z_cuped"]).alias("z_cuped"),
        F.expr(ch["var_reduction"]).alias("var_reduction"),
    )


def _cuped_sql() -> str:
    ch = _cuped_chain()
    return f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN CAST(floor(epoch(ts) / 86400) AS BIGINT) % 2 = 0
                       THEN CAST(round(value * 1e6) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS sx,
         CAST(sum(CASE WHEN CAST(floor(epoch(ts) / 86400) AS BIGINT) % 2 = 1
                       THEN CAST(round(value * 1e6) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS sy
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
terms AS (
  SELECT user_id % 2 = 0 AS is_a, sx, sy,
         CAST(round((sx / 1e6) * (sx / 1e6) * 1e6) AS BIGINT) AS xx_fp,
         CAST(round((sx / 1e6) * (sy / 1e6) * 1e6) AS BIGINT) AS xy_fp,
         CAST(round((sy / 1e6) * (sy / 1e6) * 1e6) AS BIGINT) AS yy_fp
  FROM per_user),
moments AS (
  SELECT CAST(sum(CASE WHEN is_a THEN 1 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN is_a THEN sx END) AS BIGINT) AS sx_a,
         CAST(sum(CASE WHEN is_a THEN sy END) AS BIGINT) AS sy_a,
         CAST(sum(CASE WHEN is_a THEN xx_fp END) AS BIGINT) AS sxx_a,
         CAST(sum(CASE WHEN is_a THEN xy_fp END) AS BIGINT) AS sxy_a,
         CAST(sum(CASE WHEN is_a THEN yy_fp END) AS BIGINT) AS syy_a,
         CAST(sum(CASE WHEN NOT is_a THEN 1 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN NOT is_a THEN sx END) AS BIGINT) AS sx_b,
         CAST(sum(CASE WHEN NOT is_a THEN sy END) AS BIGINT) AS sy_b,
         CAST(sum(CASE WHEN NOT is_a THEN xx_fp END) AS BIGINT) AS sxx_b,
         CAST(sum(CASE WHEN NOT is_a THEN xy_fp END) AS BIGINT) AS sxy_b,
         CAST(sum(CASE WHEN NOT is_a THEN yy_fp END) AS BIGINT) AS syy_b
  FROM terms)
SELECT n_a, n_b,
       {ch['theta']} AS theta,
       {ch['mean_adj_a']} AS mean_adj_a,
       {ch['mean_adj_b']} AS mean_adj_b,
       {ch['z_raw']} AS z_raw,
       {ch['z_cuped']} AS z_cuped,
       {ch['var_reduction']} AS var_reduction
FROM moments
"""


CUPED_ABTEST_SQL = _cuped_sql()


#: CUSUM reference slack (in per-type std units) and alarm
#: threshold — the textbook k=0.5/h=4 tabular-CUSUM defaults.
CUSUM_SLACK = 0.5
CUSUM_H = 4.0


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided tabular CUSUM changepoint monitor (r9) over daily
    event volume per event_type — the sequential drift detector
    behind ops alerting (Page 1954). The recursion
    S⁺_t = max(0, S⁺_(t-1) + z_t - k) is rewritten as the window
    identity S⁺_t = C_t - min(0, min_(s<=t) C_s) with C the running
    sum of (z - k) — two plain window passes instead of a
    sequential fold, so the plan stays declarative.

    Exactness: daily counts are BIGINT; per-type mean/std come from
    exact count sums; each standardized increment is quantized to
    the 1e-6 grid BEFORE the running BIGINT sums, so the windows
    are order-exact integers in both engines.

    100 TB shape: one combinable (type, day) count shuffle, one
    tiny per-type moment agg broadcast back, then windows
    partitioned by event_type over the CALENDAR-DAY rollup —
    bounded by the time span, not the corpus (the
    `open_orders_over_time` allowlist class). Returns one row per
    (event_type, day_id).
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    day = (epoch_us(F.col("ts")) / F.lit(86_400_000_000)).cast("long")
    daily = ev.select(F.col("event_type"), day.alias("day_id")).groupBy(
        "event_type", "day_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("n_events").cast("long").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("long").alias("s2"),
    )
    z = (
        "(n_events - s1 / CAST(n_days AS DOUBLE))"
        " / nullif(sqrt(s2 / CAST(n_days AS DOUBLE)"
        " - (s1 / CAST(n_days AS DOUBLE)) * (s1 / CAST(n_days AS DOUBLE))), 0)"
    )
    d = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day_id",
        "n_events",
        F.expr(f"CAST(round(({z} - {CUSUM_SLACK}) * 1e6) AS BIGINT)").alias("dp"),
        F.expr(f"CAST(round(({z} + {CUSUM_SLACK}) * 1e6) AS BIGINT)").alias("dn"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = d.select(
        "event_type",
        "day_id",
        "n_events",
        F.sum("dp").over(w).alias("cp"),
        F.sum("dn").over(w).alias("cn"),
    )
    sp = F.col("cp") - F.least(F.lit(0).cast("long"), F.min("cp").over(w))
    sn = F.greatest(F.lit(0).cast("long"), F.max("cn").over(w)) - F.col("cn")
    return c.select(
        "event_type",
        "day_id",
        "n_events",
        F.round(sp / 1e6, 6).alias("cusum_pos"),
        F.round(sn / 1e6, 6).alias("cusum_neg"),
        ((sp / 1e6 > CUSUM_H) | (sn / 1e6 > CUSUM_H)).alias("alarm"),
    )


CUSUM_CHANGEPOINT_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_id,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(n_events) AS BIGINT) AS s1,
         CAST(sum(n_events * n_events) AS BIGINT) AS s2
  FROM daily GROUP BY 1),
d AS (
  SELECT daily.event_type, day_id, n_events,
         CAST(round(((n_events - s1 / CAST(n_days AS DOUBLE))
           / nullif(sqrt(s2 / CAST(n_days AS DOUBLE)
               - (s1 / CAST(n_days AS DOUBLE)) * (s1 / CAST(n_days AS DOUBLE))), 0)
           - {CUSUM_SLACK}) * 1e6) AS BIGINT) AS dp,
         CAST(round(((n_events - s1 / CAST(n_days AS DOUBLE))
           / nullif(sqrt(s2 / CAST(n_days AS DOUBLE)
               - (s1 / CAST(n_days AS DOUBLE)) * (s1 / CAST(n_days AS DOUBLE))), 0)
           + {CUSUM_SLACK}) * 1e6) AS BIGINT) AS dn
  FROM daily JOIN stats ON daily.event_type = stats.event_type),
c AS (
  SELECT event_type, day_id, n_events,
         CAST(sum(dp) OVER (PARTITION BY event_type ORDER BY day_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp,
         CAST(sum(dn) OVER (PARTITION BY event_type ORDER BY day_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn
  FROM d),
s AS (
  SELECT event_type, day_id, n_events,
         cp - least(CAST(0 AS BIGINT),
                    CAST(min(cp) OVER (PARTITION BY event_type ORDER BY day_id
                         ROWS UNBOUNDED PRECEDING) AS BIGINT)) AS sp,
         greatest(CAST(0 AS BIGINT),
                  CAST(max(cn) OVER (PARTITION BY event_type ORDER BY day_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT)) - cn AS sn
  FROM c)
SELECT event_type, day_id, n_events,
       round(sp / 1e6, 6) AS cusum_pos,
       round(sn / 1e6, 6) AS cusum_neg,
       (sp / 1e6 > {CUSUM_H}) OR (sn / 1e6 > {CUSUM_H}) AS alarm
FROM s
"""


#: chi-square(1 dof) critical value at alpha = 0.05 for the SRM
#: guardrail.
SRM_CHI2_CRIT = 3.841459


def srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail (r9) — the experimentation
    sanity check that runs BEFORE `abtest_value_ztest` /
    `cuped_abtest` are allowed to mean anything: under the 50/50
    user_id-parity assignment, a chi-square(1) test on the arm
    sizes detects broken randomization (bot filtering, logging
    loss, redirect bugs eat one arm). chi² = (n_a − n_b)²/n for an
    even split; alarm at the 0.05 critical value.

    100 TB shape: one distinct-user shuffle (combinable) + one
    2-group scalar agg; integer arithmetic until the final double
    division. Returns ONE row (n_a, n_b, chi2, srm_detected).
    """
    ev = load_table(spark, sf_dir, "events")
    arms = ev.select("user_id").distinct().select(
        (F.col("user_id") % 2 == 0).alias("is_a")
    )
    return arms.agg(
        F.sum(F.col("is_a").cast("long")).cast("long").alias("n_a"),
        F.sum((~F.col("is_a")).cast("long")).cast("long").alias("n_b"),
    ).select(
        "n_a",
        "n_b",
        F.expr(
            "(n_a - n_b) * (n_a - n_b) / CAST(n_a + n_b AS DOUBLE)"
        ).alias("chi2"),
        F.expr(
            f"(n_a - n_b) * (n_a - n_b) / CAST(n_a + n_b AS DOUBLE)"
            f" > {SRM_CHI2_CRIT}"
        ).alias("srm_detected"),
    )


SRM_CHECK_SQL = f"""
WITH arms AS (
  SELECT DISTINCT user_id, user_id % 2 = 0 AS is_a FROM events),
m AS (
  SELECT CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM arms)
SELECT n_a, n_b,
       (n_a - n_b) * (n_a - n_b) / CAST(n_a + n_b AS DOUBLE) AS chi2,
       (n_a - n_b) * (n_a - n_b) / CAST(n_a + n_b AS DOUBLE)
         > {SRM_CHI2_CRIT} AS srm_detected
FROM m
"""


def ewma_backtest_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA forecast backtest (r9) — the evaluation loop for
    `ewma_daily_forecast`, the way `quality_logit_holdout_eval`
    closed the classifier's and `mrr_eval` the retriever's: for
    every day t ≥ 2, forecast it from the STRICT prefix (the
    alpha = 1/2 fold over days < t — exact in IEEE, no grid needed
    for the fold itself) and score |x_t − f_t|/x_t; report per-type
    MAPE, sMAPE-denominator-free mean absolute error, and the
    naive-baseline (persistence: f_t = x_{t−1}) MAPE the smoother
    must beat to earn its keep.

    Per-term ratios are quantized to the 1e-6 grid before the
    order-free BIGINT sums. The per-t prefix folds are O(days²)
    per type on arrays bounded by the CALENDAR, not the corpus
    (the `ewma_daily_forecast` collect_list contract).

    Returns one row per event_type: (event_type, n_evals, mae,
    mape, naive_mape, beats_naive).
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    daily = ev.groupBy("event_type", day.alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    arrs = daily.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(
                F.struct("day", F.col("cnt").cast("double").alias("v"))
            )
        ).alias("xs")
    )
    fold_prefix = (
        "aggregate(slice(xs, 1, t - 1), CAST(NULL AS DOUBLE),"
        " (a, s) -> CASE WHEN a IS NULL THEN s.v"
        " ELSE a * 0.5d + s.v * 0.5d END)"
    )
    terms = (
        "transform(sequence(2, size(xs)), t -> named_struct("
        f" 'ae', abs(xs[t-1].v - ({fold_prefix})),"
        f" 'ape', CAST(round(abs(xs[t-1].v - ({fold_prefix}))"
        "   / xs[t-1].v * 1e6) AS BIGINT),"
        "  'nape', CAST(round(abs(xs[t-1].v - xs[t-2].v)"
        "   / xs[t-1].v * 1e6) AS BIGINT)))"
    )
    t = arrs.select(
        "event_type",
        F.expr(f"size(xs) - 1").cast("long").alias("n_evals"),
        F.expr(terms).alias("ts"),
    ).where(F.col("n_evals") >= 1)
    return t.select(
        "event_type",
        "n_evals",
        F.expr(
            "aggregate(ts, 0.0d, (a, s) -> a + s.ae) / n_evals"
        ).alias("mae"),
        F.expr(
            "aggregate(ts, 0L, (a, s) -> a + s.ape) / 1e6 / n_evals"
        ).alias("mape"),
        F.expr(
            "aggregate(ts, 0L, (a, s) -> a + s.nape) / 1e6 / n_evals"
        ).alias("naive_mape"),
        F.expr(
            "aggregate(ts, 0L, (a, s) -> a + s.ape)"
            " < aggregate(ts, 0L, (a, s) -> a + s.nape)"
        ).alias("beats_naive"),
    )


def _ewma_backtest_sql() -> str:
    # DuckDB restatement: same day-sorted struct array, same exact
    # alpha = 1/2 prefix folds, same 1e-6 grid sums. list_reduce
    # has no NULL init, so the prefix fold seeds with the first
    # element and folds the rest (identical recursion).
    fold_prefix = (
        "CASE WHEN t = 2 THEN xs[1].v ELSE"
        " list_reduce(list_transform(xs[1 : t - 1], s -> s.v),"
        " (a, b) -> a * 0.5 + b * 0.5) END"
    )
    return f"""
WITH daily AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2),
arrs AS (
  SELECT event_type,
         list_sort(list(struct_pack(day := day, v := CAST(cnt AS DOUBLE))))
           AS xs
  FROM daily GROUP BY 1),
terms AS (
  SELECT event_type, CAST(len(xs) - 1 AS BIGINT) AS n_evals,
         list_transform(range(2, len(xs) + 1), t -> struct_pack(
           ae := abs(xs[t].v - ({fold_prefix})),
           ape := CAST(round(abs(xs[t].v - ({fold_prefix}))
                    / xs[t].v * 1e6) AS BIGINT),
           nape := CAST(round(abs(xs[t].v - xs[t-1].v)
                    / xs[t].v * 1e6) AS BIGINT))) AS ts
  FROM arrs WHERE len(xs) >= 2)
SELECT event_type, n_evals,
       list_reduce(list_transform(ts, s -> s.ae), (a, b) -> a + b)
         / n_evals AS mae,
       list_reduce(list_transform(ts, s -> s.ape), (a, b) -> a + b)
         / 1e6 / n_evals AS mape,
       list_reduce(list_transform(ts, s -> s.nape), (a, b) -> a + b)
         / 1e6 / n_evals AS naive_mape,
       list_reduce(list_transform(ts, s -> s.ape), (a, b) -> a + b)
         < list_reduce(list_transform(ts, s -> s.nape), (a, b) -> a + b)
         AS beats_naive
FROM terms
"""


EWMA_BACKTEST_MAPE_SQL = _ewma_backtest_sql()


#: Kaplan-Meier administrative censoring cutoff: epoch day 11139 =
#: 2000-07-01 UTC, inside the corpus calendar (orders 1995..2001) at
#: every SF — the tiling generator never moves the calendar, so the
#: cutoff censors a real fraction of orders at all scales.
KM_CUTOFF_DAY = 11139


def survival_km_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of order ship lag (days from
    order placement until the LAST lineitem ships) under
    administrative right-censoring at `KM_CUTOFF_DAY` — the "how
    long until fully shipped, accounting for orders still open at
    the analysis date" estimator (reference analog: the batch-layer
    time-bucket views of `BatchWorkflow.java`; KM per Kaplan &
    Meier 1958). Orders placed on/before the cutoff enter the study;
    an order whose last ship day lands on/before the cutoff is an
    EVENT at lag = ship−order days; otherwise (ships later, or has
    no lineitems at all) it is CENSORED at lag = cutoff−order days.

    Estimator: at each observed lag t, with n_t orders at risk
    (lag ≥ t) and d_t events at t, S(t) = Π_{t'≤t} (1 − d_t'/n_t')
    and the Nelson-Aalen cumulative hazard H(t) = Σ d_t'/n_t'.
    Float discipline (the `unigram_logprob` convention): each
    ln(1 − d/n) and d/n term is quantized to the 1e-9 grid as an
    exact BIGINT, the running products/sums are integer cumsums,
    and only the final exp/divide is float (rounded to 1e-6) — so
    Spark and DuckDB fold identically in any order. If some t has
    d = n (everyone remaining fails) S is exactly 0 from t on,
    flagged via a running indicator instead of ln(0).

    100 TB shape: one per-order max-shipdate rollup (combinable),
    one (lag, Σevent, Σcensored) combinable agg, one broadcast
    1-row total; the running sums run over the LAG-GRAIN rollup
    (bounded by the ship-lag calendar span — ≤ a few thousand rows
    at any corpus size; the `open_orders_over_time` pattern), never
    the fact table.

    Returns (t_day, n_risk, d_events, c_censored, surv,
    na_cumhaz) for observed lags, ordered rows by t_day.
    """
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.unix_timestamp("o_orderdate") / 86400)
        .cast("long")
        .alias("start_day"),
    )
    ends = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.floor(F.max(F.unix_timestamp("l_shipdate")) / 86400)
            .cast("long")
            .alias("end_day")
        )
    )
    base = (
        orders.where(F.col("start_day") <= KM_CUTOFF_DAY)
        .join(ends, orders.o_orderkey == ends.l_orderkey, "left")
        .select(
            F.when(
                F.col("end_day").isNotNull()
                & (F.col("end_day") <= KM_CUTOFF_DAY),
                F.greatest(F.col("end_day") - F.col("start_day"), F.lit(0)),
            )
            .otherwise(F.lit(KM_CUTOFF_DAY) - F.col("start_day"))
            .cast("long")
            .alias("t_day"),
            F.when(
                F.col("end_day").isNotNull()
                & (F.col("end_day") <= KM_CUTOFF_DAY),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("event"),
        )
    )
    grain = base.groupBy("t_day").agg(
        F.sum("event").cast("long").alias("d_events"),
        F.sum(F.lit(1) - F.col("event")).cast("long").alias("c_censored"),
    )
    total = base.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    w = Window.orderBy("t_day").rowsBetween(Window.unboundedPreceding, 0)
    wprev = Window.orderBy("t_day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cur = (
        grain.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("d_events") + F.col("c_censored")).over(wprev),
                F.lit(0),
            ),
        )
        .withColumn(
            "ln_fp",
            F.when(
                F.col("d_events") < F.col("n_risk"),
                F.expr(
                    "CAST(round(ln((n_risk - d_events) / CAST(n_risk AS"
                    " DOUBLE)) * 1e9) AS BIGINT)"
                ),
            ),
        )
        .withColumn(
            "hz_fp",
            F.expr(
                "CAST(round(d_events / CAST(n_risk AS DOUBLE) * 1e9) AS"
                " BIGINT)"
            ),
        )
        .withColumn("dead", (F.col("d_events") >= F.col("n_risk")).cast("int"))
    )
    return cur.select(
        "t_day",
        F.col("n_risk").cast("long").alias("n_risk"),
        "d_events",
        "c_censored",
        F.when(F.max("dead").over(w) > 0, F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.sum("ln_fp").over(w).cast("long") / 1e9), 6)
        )
        .alias("surv"),
        F.round(F.sum("hz_fp").over(w).cast("long") / 1e9, 6).alias(
            "na_cumhaz"
        ),
    )


SURVIVAL_KM_SHIP_LAG_SQL = f"""
WITH ends AS (
  SELECT l_orderkey,
         CAST(floor(max(epoch(l_shipdate)) / 86400) AS BIGINT) AS end_day
  FROM lineitem GROUP BY 1),
base AS (
  SELECT CASE WHEN e.end_day IS NOT NULL AND e.end_day <= {KM_CUTOFF_DAY}
              THEN greatest(e.end_day
                     - CAST(floor(epoch(o.o_orderdate) / 86400) AS BIGINT), 0)
              ELSE {KM_CUTOFF_DAY}
                     - CAST(floor(epoch(o.o_orderdate) / 86400) AS BIGINT)
         END AS t_day,
         CASE WHEN e.end_day IS NOT NULL AND e.end_day <= {KM_CUTOFF_DAY}
              THEN 1 ELSE 0 END AS event
  FROM orders o LEFT JOIN ends e ON o.o_orderkey = e.l_orderkey
  WHERE CAST(floor(epoch(o.o_orderdate) / 86400) AS BIGINT)
        <= {KM_CUTOFF_DAY}),
grain AS (
  SELECT t_day, CAST(sum(event) AS BIGINT) AS d_events,
         CAST(sum(1 - event) AS BIGINT) AS c_censored
  FROM base GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM base),
cur AS (
  SELECT t_day, d_events, c_censored,
         n_total - coalesce(sum(d_events + c_censored) OVER (
           ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING), 0) AS n_risk
  FROM grain CROSS JOIN tot),
fp AS (
  SELECT t_day, n_risk, d_events, c_censored,
         CASE WHEN d_events < n_risk
              THEN CAST(round(ln((n_risk - d_events)
                     / CAST(n_risk AS DOUBLE)) * 1e9) AS BIGINT) END AS ln_fp,
         CAST(round(d_events / CAST(n_risk AS DOUBLE) * 1e9) AS BIGINT)
           AS hz_fp,
         CASE WHEN d_events >= n_risk THEN 1 ELSE 0 END AS dead
  FROM cur)
SELECT t_day, CAST(n_risk AS BIGINT) AS n_risk, d_events, c_censored,
       CASE WHEN max(dead) OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) > 0 THEN 0.0
            ELSE round(exp(CAST(sum(ln_fp) OVER (ORDER BY t_day ROWS
                BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                / 1e9), 6) END AS surv,
       round(CAST(sum(hz_fp) OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED
           PRECEDING AND CURRENT ROW) AS BIGINT) / 1e9, 6) AS na_cumhaz
FROM fp
"""


def holt_backtest_model_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecast backtest + model selection (r10)
    — the next rung above `ewma_backtest_mape`: for every day
    t ≥ 3 forecast the per-type daily volume from the STRICT
    prefix under THREE models — persistence (f = x_{t−1}), EWMA
    (α = 1/2 level fold), and Holt's linear method (α = 1/2,
    β = 1/4: l_t = αx_t + (1−α)(l_{t−1}+b_{t−1}),
    b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}, f = l+b; Holt 1957) —
    and report each model's MAPE plus the per-type winner. The
    α/β halves/quarters are exact binary fractions and BOTH
    engines run the IDENTICAL recursion over the identical
    day-sorted array, so the folds agree bit-for-bit (the
    `ewma_backtest_mape` argument); per-term ratios are quantized
    to the 1e-6 grid before the order-free BIGINT sums, and the
    winner is an integer-sum comparison (ties prefer the simpler
    model: naive, then ewma, then holt).

    100 TB shape: one combinable (type, day) rollup; the O(days²)
    prefix folds run on arrays bounded by the CALENDAR, never the
    corpus (the house `collect_list` contract).

    Returns (event_type, n_evals, naive_mape, ewma_mape,
    holt_mape, best_model).
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    daily = ev.groupBy("event_type", day.alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    arrs = daily.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(
                F.struct("day", F.col("cnt").cast("double").alias("v"))
            )
        ).alias("xs")
    )
    ewma_fold = (
        "aggregate(slice(xs, 1, t - 1), CAST(NULL AS DOUBLE),"
        " (a, s) -> CASE WHEN a IS NULL THEN s.v"
        " ELSE a * 0.5d + s.v * 0.5d END)"
    )
    holt_fold = (
        "aggregate(slice(xs, 3, t - 3),"
        " named_struct('l', CAST(xs[1].v AS DOUBLE),"
        "              'b', xs[1].v - xs[0].v),"
        " (a, s) -> named_struct("
        "   'l', 0.5d * s.v + 0.5d * (a.l + a.b),"
        "   'b', 0.25d * ((0.5d * s.v + 0.5d * (a.l + a.b)) - a.l)"
        "        + 0.75d * a.b))"
    )
    grid = "CAST(round(abs(xs[t-1].v - ({f})) / xs[t-1].v * 1e6) AS BIGINT)"
    terms = (
        "transform(sequence(3, size(xs)), t -> named_struct("
        "  'n', " + grid.format(f="xs[t-2].v") + ","
        "  'e', " + grid.format(f=ewma_fold) + ","
        "  'h', " + grid.format(f=f"({holt_fold}).l + ({holt_fold}).b")
        + "))"
    )
    # filter BEFORE building terms: under ANSI mode a size < 3 row
    # would hit sequence(3, size) descending and negative indexing
    t = arrs.where(F.expr("size(xs) >= 3")).select(
        "event_type",
        F.expr("size(xs) - 2").cast("long").alias("n_evals"),
        F.expr(terms).alias("ts"),
    )
    s_n = "aggregate(ts, 0L, (a, s) -> a + s.n)"
    s_e = "aggregate(ts, 0L, (a, s) -> a + s.e)"
    s_h = "aggregate(ts, 0L, (a, s) -> a + s.h)"
    return t.select(
        "event_type",
        "n_evals",
        F.expr(f"{s_n} / 1e6 / n_evals").alias("naive_mape"),
        F.expr(f"{s_e} / 1e6 / n_evals").alias("ewma_mape"),
        F.expr(f"{s_h} / 1e6 / n_evals").alias("holt_mape"),
        F.expr(
            f"CASE WHEN {s_n} <= {s_e} AND {s_n} <= {s_h} THEN 'naive'"
            f" WHEN {s_e} <= {s_h} THEN 'ewma' ELSE 'holt' END"
        ).alias("best_model"),
    )


def _holt_backtest_sql() -> str:
    # DuckDB restatement: same day-sorted array, IDENTICAL EWMA and
    # Holt recursions (α = 1/2, β = 1/4 — exact binary fractions;
    # operand order matches the Spark folds token for token, so the
    # doubles agree bit-for-bit), same 1e-6 grid sums. list_reduce
    # has no init arg, so the Holt fold seeds the list with the
    # (l₂, b₂) state struct and the remaining elements carry x in
    # their `l` slot.
    ewma_fold = (
        "list_reduce(list_transform(xs[1 : t - 1], s -> s.v),"
        " (a, b) -> a * 0.5 + b * 0.5)"
    )
    # DuckDB FOOTGUN (measured this round): a struct_pack-built
    # list_reduce accumulator applies its fields SEQUENTIALLY — the
    # second field's expression sees the first field's NEW value
    # (l updated before b reads a.l), silently diverging from the
    # simultaneous-update recursion. A LIST accumulator ([l, b])
    # evaluates both elements against the OLD state, matching
    # Spark's named_struct semantics — verified element-wise.
    holt_fold = (
        "list_reduce(list_concat("
        " [[xs[2].v + 0.0, xs[2].v - xs[1].v]],"
        " list_transform(xs[3 : t - 1], x -> [x.v + 0.0, 0.0])),"
        " (a, s) -> ["
        "   0.5 * s[1] + 0.5 * (a[1] + a[2]),"
        "   0.25 * ((0.5 * s[1] + 0.5 * (a[1] + a[2])) - a[1])"
        "        + 0.75 * a[2]])"
    )
    grid = "CAST(round(abs(xs[t].v - ({f})) / xs[t].v * 1e6) AS BIGINT)"
    g_n = grid.format(f="xs[t-1].v")
    g_e = grid.format(f=ewma_fold)
    g_h = grid.format(f=f"({holt_fold})[1] + ({holt_fold})[2]")
    return f"""
WITH daily AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2),
arrs AS (
  SELECT event_type,
         list_sort(list(struct_pack(day := day, v := CAST(cnt AS DOUBLE))))
           AS xs
  FROM daily GROUP BY 1),
terms AS (
  SELECT event_type, CAST(len(xs) - 2 AS BIGINT) AS n_evals,
         list_transform(range(3, len(xs) + 1), t -> struct_pack(
           n := {g_n}, e := {g_e}, h := {g_h})) AS ts
  FROM arrs WHERE len(xs) >= 3),
sums AS (
  SELECT event_type, n_evals,
         list_reduce(list_transform(ts, s -> s.n), (a, b) -> a + b) AS sn,
         list_reduce(list_transform(ts, s -> s.e), (a, b) -> a + b) AS se,
         list_reduce(list_transform(ts, s -> s.h), (a, b) -> a + b) AS sh
  FROM terms)
SELECT event_type, n_evals,
       sn / 1e6 / n_evals AS naive_mape,
       se / 1e6 / n_evals AS ewma_mape,
       sh / 1e6 / n_evals AS holt_mape,
       CASE WHEN sn <= se AND sn <= sh THEN 'naive'
            WHEN se <= sh THEN 'ewma' ELSE 'holt' END AS best_model
FROM sums
"""


HOLT_BACKTEST_MODEL_SELECT_SQL = _holt_backtest_sql()
