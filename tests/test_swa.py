from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, assert_matches_oracle


def test_pageviews_over_time_matches_oracle(spark):
    assert_matches_oracle(spark, "pageviews_over_time")


def test_pageviews_over_time_sf001(spark):
    assert_matches_oracle(spark, "pageviews_over_time", SF_CORRECT)


def test_granularity_semantics(spark):
    """h/d/w/m buckets follow the reference's integer-division chain."""
    from big_data_code_spark.plans.registry import QUERIES

    df = QUERIES["pageviews_over_time"](spark, SF_CORRECT)
    rows = df.collect()
    grans = {r["granularity"] for r in rows}
    assert grans == {"h", "d", "w", "m"}
    # totals must be identical across granularities
    totals = {}
    for r in rows:
        totals.setdefault(r["granularity"], 0)
        totals[r["granularity"]] += r["total_views"]
    assert len(set(totals.values())) == 1


def test_incremental_pageviews_matches_full_recompute(spark):
    """Incremental hourly merge + re-derive == full recompute (the
    oracle is literally the full-rollup SQL)."""
    assert_matches_oracle(spark, "incremental_pageviews_update")


def test_merge_hourly_empty_delta_is_noop(spark):
    """Absorbing an empty batch must not change the view."""
    from big_data_code_spark.operators.rollup import hourly_counts, merge_hourly
    from big_data_code_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events")
    base = hourly_counts(events, "event_type", "ts", "event_type")
    empty = base.limit(0)
    merged = merge_hourly(base, empty, "event_type")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, base.collect()))


def test_rolling_7d_uniques_matches_oracle(spark):
    assert_matches_oracle(spark, "rolling_7d_uniques")


def test_rolling_7d_uniques_semantics(spark):
    """Hand-checkable sliding WAU: windows accumulate until day 7,
    then users age out."""
    from big_data_code_spark.plans import swa as _swa
    import big_data_code_spark.sources.tables as tables

    rows = spark.createDataFrame(
        [(f"2024-01-{d:02d} 12:00:00", u) for d, u in
         [(1, 10), (1, 11), (2, 10), (9, 12)]],
        "ts_s string, user_id long",
    ).select(F.to_timestamp("ts_s").alias("ts"), "user_id")
    orig = tables.load_table
    try:
        tables.load_table = lambda spark, sf_dir, name: rows
        _swa.load_table = tables.load_table
        out = {r["wday"].isoformat(): r["wau_7d"]
               for r in _swa.rolling_7d_uniques(spark, "ignored").collect()}
    finally:
        tables.load_table = orig
        _swa.load_table = orig
    # observed days only: 1, 2, 9
    assert out == {"2024-01-01": 2, "2024-01-02": 2, "2024-01-09": 1}


def test_current_person_properties_matches_oracle(spark):
    """Master-dataset read side: current value per (person, property)
    = the max-true-as-of fact, derived from immutable facts."""
    assert_matches_oracle(spark, "current_person_properties")


def test_current_person_properties_picks_latest_fact(spark):
    """The book's age-update example: a newer fact wins without the
    older one being mutated."""
    from big_data_code_spark import schema

    props = spark.createDataFrame(
        [
            (1, "age", "25", 100),
            (1, "age", "26", 200),  # newer → current
            (1, "location", "nyc", 150),
            (2, "age", "40", 100),
        ],
        "user_id long, pname string, pval string, as_of long",
    )
    facts = schema.person_property_facts(props, "user_id", "pname", "pval", "as_of")
    cur = {
        (r["user_id"], r["property_name"]): r["property_value"]
        for r in schema.current_person_properties(facts).collect()
    }
    assert cur == {(1, "age"): "26", (1, "location"): "nyc", (2, "age"): "40"}


def test_keyvalue_export_oracle_and_shard_layout(spark):
    """The sharded export relation hash-matches its oracle, every
    shard is in [0, 32), and all buckets of one key land on one
    shard (the serving-layer colocation property)."""
    from tests.conftest import SF_SMOKE, assert_matches_oracle

    assert_matches_oracle(spark, "keyvalue_export", SF_SMOKE)
    from big_data_code_spark.plans.registry import QUERIES

    df = QUERIES["keyvalue_export"](spark, SF_SMOKE)
    bad = df.where((F.col("shard") < 0) | (F.col("shard") >= 32)).count()
    assert bad == 0
    multi = (
        df.groupBy("key").agg(F.countDistinct("shard").alias("n"))
        .where(F.col("n") > 1).count()
    )
    assert multi == 0


def test_keyvalue_export_delta_oracle_and_invariants(spark):
    """Oracle match + delta semantics: no deletions (append-only),
    'new' keys absent from the prev view, 'updated' keys strictly
    grew, and unchanged keys are NOT shipped."""
    from tests.conftest import SF_SMOKE, assert_matches_oracle

    assert_matches_oracle(spark, "keyvalue_export_delta", SF_SMOKE)
    from pyspark.sql import functions as F

    from big_data_code_spark.plans.swa import (
        keyvalue_export,
        keyvalue_export_delta,
    )

    rows = keyvalue_export_delta(spark, SF_SMOKE).collect()
    assert rows
    full = {
        r["key"]: r["total_views"]
        for r in keyvalue_export(spark, SF_SMOKE).collect()
    }
    shipped = set()
    for r in rows:
        shipped.add(r["key"])
        assert r["new_views"] == full[r["key"]]  # current store value
        if r["change"] == "new":
            assert r["old_views"] is None
        else:
            assert r["change"] == "updated"
            assert r["new_views"] > r["old_views"]  # append-only grows
    # at least one key was unchanged and therefore not shipped
    assert set(full) - shipped


def test_equiv_map_cache_serves_identical_mapping(spark):
    """The `equiv_map` serve-once entry: repeat calls serve the SAME
    checkpoint-truncated frame (one CC per events corpus and
    session), the cached rows are bit-identical to a fresh un-cached
    CC over the same edges, and the build twin keeps the CC under
    the CI scale audits: its recorded plans hold a CC round."""
    from tests.conftest import SF_SMOKE, has_cc_round, recorded_plans

    from big_data_code_spark.operators.graph import connected_components
    from big_data_code_spark.plans.swa import _equiv_edges, user_id_normalization

    first = user_id_normalization(spark, SF_SMOKE)
    assert user_id_normalization(spark, SF_SMOKE) is first
    plan = first._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    cached = sorted(first.collect(), key=lambda r: r["user_id"])
    fresh = sorted(
        connected_components(_equiv_edges(spark, SF_SMOKE), "src", "dst")
        .select(
            F.col("node").alias("user_id"), F.col("component").alias("canonical_id")
        )
        .collect(),
        key=lambda r: r["user_id"],
    )
    assert cached == fresh
    assert has_cc_round(recorded_plans(spark, "user_id_normalization_build"))


def test_user_id_normalization_incremental_equals_full_rebuild(spark):
    """The incremental absorb must reproduce the full recompute
    EXACTLY (CC is confluent — this is the contract), the flag must
    mark exactly the delta-residue ids, and the merge CC must run
    on a delta-sized contracted graph."""
    from tests.conftest import SF_SMOKE, assert_matches_oracle

    assert_matches_oracle(spark, "user_id_normalization_incremental", SF_SMOKE)

    from big_data_code_spark.plans.swa import (
        EQUIV_DELTA_RESIDUE,
        user_id_normalization,
        user_id_normalization_incremental,
    )

    inc = {
        r["user_id"]: (r["canonical_id"], r["is_new"])
        for r in user_id_normalization_incremental(spark, SF_SMOKE).collect()
    }
    full = {
        r["user_id"]: r["canonical_id"]
        for r in user_id_normalization(spark, SF_SMOKE).collect()
    }
    assert set(inc) == set(full)
    for n, (c, is_new) in inc.items():
        assert c == full[n], (n, c, full[n])
        assert is_new == (n % 10 == EQUIV_DELTA_RESIDUE)
    # the merge really fused something: some base-resident node
    # shares a component with a delta id
    comps_of_delta = {c for n, (c, f) in inc.items() if f}
    assert any(
        c in comps_of_delta for n, (c, f) in inc.items() if not f
    )
