"""Master-dataset (pail analog), serving-layer export, and
multimodal plumbing tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, assert_matches_oracle


def _unit_batch(spark, n0: int, n1: int):
    a = spark.range(n0).select(
        F.col("id").alias("fact_id"), F.lit("page_view").alias("unit")
    )
    b = spark.range(n1).select(
        (F.col("id") + 10_000).alias("fact_id"), F.lit("equiv").alias("unit")
    )
    return a.unionByName(b)


def test_master_dataset_ingest_snapshot_consolidate(spark, tmp_path):
    from big_data_code_spark.sources.master_dataset import MasterDataset

    md = MasterDataset(str(tmp_path / "master"))
    md.ingest(_unit_batch(spark, 10, 5), shred_partitions=4)
    md.ingest(_unit_batch(spark, 7, 3))
    assert md.read(spark).count() == 25
    assert md.read(spark, unit="page_view").count() == 17

    # snapshot isolation: later ingests invisible to the snapshot
    snap = md.snapshot()
    md.ingest(_unit_batch(spark, 100, 0))
    assert md.read(spark).count() == 125
    assert md.read_snapshot(spark, snap).count() == 25

    # consolidate compacts files but preserves rows + partitioning
    files_before = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(md.data_dir) for f in fs
    )
    md.consolidate(spark)
    files_after = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(md.data_dir) for f in fs
    )
    assert files_after < files_before
    assert md.read(spark).count() == 125
    assert md.read(spark, unit="equiv").count() == 8
    md.delete_snapshot(snap)


def test_master_dataset_absorb(spark, tmp_path):
    from big_data_code_spark.sources.master_dataset import MasterDataset

    a = MasterDataset(str(tmp_path / "a"))
    b = MasterDataset(str(tmp_path / "b"))
    a.ingest(_unit_batch(spark, 4, 4))
    b.ingest(_unit_batch(spark, 6, 0))
    a.absorb(b, spark)
    assert a.read(spark).count() == 14
    assert b.read(spark).count() == 6  # absorb copies, never moves


def test_master_dataset_vertical_partition_pruning(spark, tmp_path):
    """Reading one unit type must prune the other's files at the
    scan (the SplitDataPailStructure property)."""
    from big_data_code_spark.sources.master_dataset import MasterDataset

    md = MasterDataset(str(tmp_path / "m"))
    md.ingest(_unit_batch(spark, 10, 10))
    df = md.read(spark, unit="equiv")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "unit" in plan.split("PartitionFilters")[1][:200]


def test_keyvalue_export_and_lookup(spark, tmp_path):
    from big_data_code_spark.plans.registry import QUERIES
    from big_data_code_spark.serving import keyvalue as kv

    view = QUERIES["pageviews_over_time"](spark, SF_SMOKE)
    path = str(tmp_path / "edb_pageviews")
    key = kv.url_bucketed_key(
        F.col("event_type"), F.col("granularity"), F.col("bucket")
    )
    kv.export_key_value(
        view, path, key, ["total_views"],
        kv.url_only_shard(F.col("event_type"), 32),
    )
    shard_dirs = [d for d in os.listdir(path) if d.startswith("shard=")]
    assert 1 <= len(shard_dirs) <= 32

    # pick a known key, look it up, compare against the view
    sample = view.orderBy("event_type", "granularity", "bucket").first()
    key_str = f"{sample['event_type']}/{sample['granularity']}-{sample['bucket']}"
    got = kv.lookup(
        spark, path, key_str,
        lambda k: kv.python_hash_mod(k.split("/")[0], 32, spark),
    )
    rows = got.collect()
    assert len(rows) == 1 and rows[0]["total_views"] == sample["total_views"]
    # the lookup scan must prune to one shard directory
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "shard" in plan.split("PartitionFilters")[1][:200]


def test_serialized_long_bytes(spark):
    from big_data_code_spark.serving.keyvalue import to_serialized_long

    row = spark.range(1).select(
        to_serialized_long(F.lit(1234567890123)).alias("b")
    ).first()
    assert row["b"] == (1234567890123).to_bytes(8, "big")


def test_serialized_long_pair_wire_format_and_decode(spark):
    """Byte parity with the reference's ToSerializedLongPair
    (struct.pack('>q') per long, concatenated) + lossless decode,
    negative longs included (two's complement)."""
    import struct

    from big_data_code_spark.serving import keyvalue as kv

    cases = [(0, 0), (7, 3), (2**62, 1), (-1, -1234567890123), (-(2**63), 2**63 - 1)]
    df = spark.createDataFrame(cases, "a long, b long")
    rows = df.select(
        "a", "b",
        kv.to_serialized_longs(F.col("a"), F.col("b")).alias("blob"),
    )
    decoded = rows.select(
        "a", "b", "blob",
        *[c.alias(f"d{i}") for i, c in enumerate(kv.from_serialized_longs(F.col("blob"), 2))],
    )
    for r in decoded.collect():
        assert r["blob"] == struct.pack(">qq", r["a"], r["b"])
        assert (r["d0"], r["d1"]) == (r["a"], r["b"])


def test_serialized_export_roundtrip(spark, tmp_path):
    """serialize_longs=True writes the reference's byte wire format;
    reading the shard back and decoding recovers the typed view."""
    from big_data_code_spark.plans.registry import QUERIES
    from big_data_code_spark.serving import keyvalue as kv

    view = QUERIES["bounce_rate"](spark, SF_SMOKE)
    path = str(tmp_path / "edb_bounces")
    kv.export_key_value(
        view, path, F.col("event_type"), ["num_visits", "num_bounces"],
        kv.url_only_shard(F.col("event_type"), 8), serialize_longs=True,
    )
    back = spark.read.parquet(path)
    v, b = kv.from_serialized_longs(F.col("value"), 2)
    got = {
        r["key"]: (r["nv"], r["nb"])
        for r in back.select("key", v.alias("nv"), b.alias("nb")).collect()
    }
    want = {
        r["event_type"]: (r["num_visits"], r["num_bounces"])
        for r in view.collect()
    }
    assert got == want


def test_hll_sketch_export_roundtrip(spark, tmp_path):
    """The `uniquesElephantDB` analog (r4): export raw HLL sketch
    BYTES as the key/value domain value, read a shard back, and
    estimate FROM the stored blob — decode-on-read must land within
    5% of the exact uniques for every key, and re-union of hourly
    blobs must estimate the day (mergeability survives the store)."""
    from big_data_code_spark.operators.uniques import uniques_exact, uniques_hll_sketches
    from big_data_code_spark.serving import keyvalue as kv
    from big_data_code_spark.sources.tables import load_table

    events = load_table(spark, SF_SMOKE, "events")
    sketches = uniques_hll_sketches(events, key="event_type", ts="ts", user="user_id")
    path = str(tmp_path / "edb_uniques_hll")
    key = kv.url_bucketed_key(F.col("event_type"), F.col("granularity"), F.col("bucket"))
    kv.export_key_value(
        sketches, path, key, ["sketch"], kv.md5_mod_shard(key, 8)
    )

    back = spark.read.parquet(path)
    est = {
        r["key"]: r["est"]
        for r in back.select(
            "key", F.hll_sketch_estimate(F.col("sketch")).alias("est")
        ).collect()
    }
    exact = {
        f"{r['event_type']}/{r['granularity']}-{r['bucket']}": r["unique_visitors"]
        for r in uniques_exact(events, key="event_type", ts="ts", user="user_id").collect()
    }
    assert est.keys() == exact.keys()
    for k, e in exact.items():
        assert abs(est[k] - e) <= 0.05 * e + 1, (k, est[k], e)

    # mergeability through the store: union the stored HOURLY blobs
    # of one day and compare against that day's stored blob estimate
    hourly = back.where(F.col("key").rlike("/h-"))
    day_est = (
        hourly.select(
            F.split(F.col("key"), "/").getItem(0).alias("url"),
            (F.regexp_extract("key", r"h-(\d+)", 1).cast("long") / 24).cast("long").alias("day"),
            "sketch",
        )
        .groupBy("url", "day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est"))
        .collect()
    )
    assert day_est
    for r in day_est:
        k = f"{r['url']}/d-{r['day']}"
        assert abs(r["est"] - exact[k]) <= 0.05 * exact[k] + 1, (k, r["est"])


def test_multimodal_features_shape_and_determinism(spark):
    from big_data_code_spark.plans.llm import multimodal_features
    from big_data_code_spark.plans.registry import QUERIES

    out1 = multimodal_features(spark, SF_SMOKE).collect()
    out2 = multimodal_features(spark, SF_SMOKE).collect()
    assert len(out1) == len(out2) > 0
    by_id1 = {r["asset_id"]: r for r in out1}
    by_id2 = {r["asset_id"]: r for r in out2}
    assert by_id1.keys() == by_id2.keys()
    for aid, r in by_id1.items():
        assert len(r["features"]) == 16
    # registry projection (r4): same run, histogram flattened to
    # f00..f15 doubles for the driver's pandas canonicalizer
    flat = {r["asset_id"]: r for r in QUERIES["multimodal_features"](spark, SF_SMOKE).collect()}
    assert flat.keys() == by_id1.keys()
    for aid, r in by_id1.items():
        got = [flat[aid][f"f{i:02d}"] for i in range(16)]
        assert got == pytest.approx(list(r["features"]), abs=0.0)
        assert abs(sum(r["features"]) - 1.0) < 1e-5  # L1-normalized histogram
        assert r["features"] == by_id2[aid]["features"]
        assert r["n_bytes"] > 0


def test_multimodal_frame_sampling(spark):
    from big_data_code_spark.functions.multimodal import sample_frames, synthetic_assets
    from big_data_code_spark.sources.tables import load_table

    assets = synthetic_assets(load_table(spark, SF_SMOKE, "documents"))
    frames = sample_frames(assets, every_k=2)
    agg = (
        frames.groupBy("asset_id").agg(F.count(F.lit(1)).alias("n"))
        .join(assets.select("asset_id", "n_frames"), "asset_id")
        .collect()
    )
    assert agg
    for r in agg:
        expect = (max(r["n_frames"], 1) + 1) // 2  # every 2nd frame
        assert r["n"] == expect, (r["asset_id"], r["n_frames"], r["n"])


def test_decode_compressed_formats_raise(spark):
    """Compressed codecs are honestly absent (no Pillow here): the
    entry point raises instead of faking a decode."""
    from big_data_code_spark.functions.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")


def test_bmp_codec_roundtrip():
    """The real pure-numpy BMP codec: encode→decode is pixel-exact
    across every 4-byte row-padding case (w=2..6), bottom-up row
    order and BGR channel order included."""
    import numpy as np

    from big_data_code_spark.functions.multimodal import (
        _formula_pixels,
        decode_image,
        encode_bmp,
    )

    for aid in (0, 1, 2, 3, 4, 17, 123, 1_000_003):
        px = _formula_pixels(aid)
        out = decode_image(encode_bmp(px))
        assert out.shape == px.shape
        assert np.array_equal(out, px), aid
    # top-down BMPs (negative height) decode too
    px = _formula_pixels(7)
    body = bytearray(encode_bmp(px))
    h = px.shape[0]
    import struct

    struct.pack_into("<i", body, 14 + 8, -h)
    flipped = decode_image(bytes(body))
    assert np.array_equal(flipped, px[::-1])


def test_multimodal_decode_matches_pixel_formula_oracle(spark):
    """BMP encode → Arrow → BMP decode → pixel stats equals the SQL
    restatement of the pixel formula (position-sensitive corner
    probes catch row-order/padding bugs)."""
    assert_matches_oracle(spark, "multimodal_decode", SF_SMOKE)


def test_typed_location_payload_roundtrip(spark, tmp_path):
    """The Location union branch (ref schema.thrift:13-17,24-28)
    keeps its typed city/state/country fields through fact
    construction → master-dataset parquet → read → current-value
    derivation; tag-agnostic readers still see the flattened
    canonical string."""
    from big_data_code_spark import schema as sch
    from big_data_code_spark.sources.master_dataset import MasterDataset

    props = spark.createDataFrame(
        [
            (1, "SF", "CA", "US", 100),
            (1, "NYC", "NY", "US", 200),   # later fact wins
            (2, "Austin", "TX", "US", 150),
        ],
        "user long, city string, state string, country string, as_of long",
    )
    loc_facts = sch.location_person_property_facts(
        props, "user", "city", "state", "country", "as_of"
    )
    age = spark.createDataFrame([(1, "age", "33", 120)], "user long, pname string, pval string, as_of long")
    md = MasterDataset(str(tmp_path / "m"))
    md.ingest(loc_facts.unionByName(
        sch.person_property_facts(age, "user", "pname", "pval", "as_of")
    ))
    back = md.read(spark)

    cur = {
        r["user_id"]: (r["city"], r["state"], r["country"], r["as_of_secs"])
        for r in sch.current_person_locations(back).collect()
    }
    assert cur == {1: ("NYC", "NY", "US", 200), 2: ("Austin", "TX", "US", 150)}

    # flattened read path unchanged: location facts carry the
    # canonical string; the age fact is still derivable next to them
    flat = {
        (r["user_id"], r["property_name"]): r["property_value"]
        for r in sch.current_person_properties(back).collect()
    }
    assert flat[(1, "location")] == "NYC|NY|US"
    assert flat[(1, "age")] == "33"
    # union sparseness: exactly the location branch is set
    row = back.where(
        F.col("person_property.property_name") == "location"
    ).select("person_property.property.*").first()
    assert row["full_name"] is None and row["gender"] is None
    assert row["location"]["city"] in {"SF", "NYC", "Austin"}


def test_typed_facts_into_master_dataset(spark, tmp_path):
    """End-to-end Lambda shape: events → typed Data facts →
    master dataset → unit-pruned read → batch-view input."""
    from big_data_code_spark import schema as sch
    from big_data_code_spark.sources.master_dataset import MasterDataset
    from big_data_code_spark.sources.tables import load_table

    events = load_table(spark, SF_SMOKE, "events").limit(200)
    pv = sch.pageview_facts(events)
    eq = sch.equiv_facts(
        spark.createDataFrame([(1, 2), (2, 3)], "a long, b long"),
        "a", "b", F.lit(1_700_000_000),
    )
    md = MasterDataset(str(tmp_path / "master"))
    md.ingest(pv)
    md.ingest(eq)

    back = md.read(spark, unit=sch.UNIT_PAGE_VIEW)
    assert back.count() == 200
    row = back.select("page_view.person.user_id", "page_view.page.url",
                      "pedigree.true_as_of_secs").first()
    assert row["user_id"] is not None and row["url"] is not None
    assert row["true_as_of_secs"] > 0
    assert md.read(spark, unit=sch.UNIT_EQUIV).count() == 2
    # the equiv rows carry no page_view payload (sparse union)
    assert (
        md.read(spark, unit=sch.UNIT_EQUIV)
        .where(F.col("page_view").isNotNull())
        .count()
        == 0
    )


def test_jsonl_ingest_with_quarantine(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from big_data_code_spark.sources.ingest import read_jsonl, split_quarantine

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"id": 1, "name": "a"}\n'
        '{"id": 2, "name": "b"}\n'
        "this is not json at all\n"
        '{"id": "not-a-number", "name": "c"}\n'
    )
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    df = read_jsonl(spark, str(p), schema)
    clean, quarantine = split_quarantine(df)
    assert sorted((r["id"], r["name"]) for r in clean.collect()) == [(1, "a"), (2, "b")]
    bad = [r["_corrupt_record"] for r in quarantine.collect()]
    assert len(bad) == 2 and any("not json" in b for b in bad)


def test_csv_ingest_with_quarantine(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from big_data_code_spark.sources.ingest import read_csv, split_quarantine

    p = tmp_path / "feed.csv"
    p.write_text("id,name\n1,a\n2,b\nnot-a-number,c\n")
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    clean, quarantine = split_quarantine(read_csv(spark, str(p), schema))
    assert sorted((r["id"], r["name"]) for r in clean.collect()) == [(1, "a"), (2, "b")]
    assert quarantine.count() == 1


def test_dedup_corpus_final_keeps_one_per_cluster(spark):
    """Every seeded duplicate cluster collapses to its original doc."""
    from pyspark.sql import functions as F

    from big_data_code_spark.plans.registry import QUERIES

    out = QUERIES["dedup_corpus_final"](spark, SF_SMOKE)
    # exact copies (id+1M) must never be kept; their canonical is the original
    exact_copies = out.where(
        (F.col("doc_id") >= 1_000_000) & (F.col("doc_id") < 2_000_000)
    )
    assert exact_copies.where(F.col("is_kept")).count() == 0
    # a copy's canonical is the same as its original's canonical
    # (clusters may merge further when distinct docs are genuinely
    # similar, so canonical == original doesn't always hold directly)
    orig = out.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.col("canonical_id").alias("orig_canonical"),
    )
    mismatched = exact_copies.join(orig, "doc_id").where(
        F.col("canonical_id") != F.col("orig_canonical")
    )
    assert mismatched.count() == 0


def test_resize_assets_schema_and_determinism(spark):
    """Resize keeps the asset schema, updates metadata to the
    target dims, shrinks payloads proportionally, and is
    deterministic across runs and partitionings."""
    from big_data_code_spark.functions.multimodal import (
        resize_assets,
        synthetic_assets,
    )
    from big_data_code_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    assets = synthetic_assets(docs)
    resized = resize_assets(assets, 32, 32)
    assert [(f.name, f.dataType) for f in resized.schema.fields] == [
        (f.name, f.dataType) for f in assets.schema.fields
    ]

    rows = {r["asset_id"]: r for r in resized.collect()}
    orig = {r["asset_id"]: r for r in assets.collect()}
    assert set(rows) == set(orig)
    for aid, r in rows.items():
        assert (r["width"], r["height"]) == (32, 32)
        assert 1 <= len(r["content"]) <= len(orig[aid]["content"])

    again = {
        r["asset_id"]: r["content"]
        for r in resize_assets(assets.repartition(7), 32, 32).collect()
    }
    assert {k: r["content"] for k, r in rows.items()} == again


def test_current_person_properties_latest_wins(spark, tmp_path):
    """The book's age-update example: facts are immutable; the
    current value per (person, property) is DERIVED as the max
    true-as-of fact — an older correction never shadows a newer
    observation, and re-ingesting the same facts changes nothing."""
    from big_data_code_spark import schema as sch
    from big_data_code_spark.sources.master_dataset import MasterDataset

    props = spark.createDataFrame(
        [
            (11, "age", "34", 1_700_000_000),
            (11, "age", "35", 1_700_500_000),   # newer → wins
            (11, "gender", "FEMALE", 1_700_100_000),
            (22, "age", "60", 1_700_000_001),
            (22, "location", "SF", 1_700_000_002),
            (22, "location", "NYC", 1_699_000_000),  # older → loses
        ],
        "user long, pname string, pval string, as_of long",
    )
    md = MasterDataset(str(tmp_path / "master"))
    md.ingest(sch.person_property_facts(props, "user", "pname", "pval", "as_of"))

    def current():
        facts = md.read(spark, unit=sch.UNIT_PERSON_PROPERTY)
        return {
            (r["user_id"], r["property_name"]): (r["property_value"], r["as_of_secs"])
            for r in sch.current_person_properties(facts).collect()
        }

    got = current()
    assert got[(11, "age")] == ("35", 1_700_500_000)
    assert got[(11, "gender")][0] == "FEMALE"
    assert got[(22, "age")][0] == "60"
    assert got[(22, "location")] == ("SF", 1_700_000_002)

    # append-only re-ingest of the same immutable facts: derivation
    # is unchanged (duplicate facts collapse in the window)
    md.ingest(sch.person_property_facts(props, "user", "pname", "pval", "as_of"))
    assert current() == got


def test_union_id_normalization_prefers_user_ids(spark):
    """The reference's equiv graph links cookies AND user-ids (the
    PersonID union). Encoding union values as tag-prefixed strings
    makes the generic CC operator collapse each identity cluster to
    its user-id when one exists — cookie-only clusters keep the
    smallest cookie."""
    from big_data_code_spark import schema as sch
    from big_data_code_spark.operators.graph import connected_components

    def uid(u):
        return (None, u)

    def cookie(c):
        return (c, None)

    pairs = [
        (cookie("AAA"), uid(7)),        # cookie AAA belongs to user 7
        (cookie("BBB"), cookie("AAA")),  # second device, same person
        (cookie("ZZZ"), cookie("QQQ")),  # anonymous-only identity
        (uid(9), uid(3)),                # two user-ids merged
    ]
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs],
        "id1 struct<cookie:string,user_id:bigint>, "
        "id2 struct<cookie:string,user_id:bigint>",
    ).select(
        sch.tagged_person_node(F.col("id1")).alias("src"),
        sch.tagged_person_node(F.col("id2")).alias("dst"),
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert comp["1c:AAA"] == "0u:7"
    assert comp["1c:BBB"] == "0u:7"
    assert comp["1c:ZZZ"] == "1c:QQQ"   # min cookie wins, no user-id
    assert comp["0u:9"] == "0u:3"


def test_page_property_facts_roundtrip(spark, tmp_path):
    """Page-property facts complete the DataUnit union: ingest +
    unit-pruned read + sparse payload invariants."""
    from big_data_code_spark import schema as sch
    from big_data_code_spark.sources.master_dataset import MasterDataset

    pages = spark.createDataFrame(
        [("http://a.com/x", 12, 1_700_000_000), ("http://b.com/y", 5, 1_700_000_100)],
        "url string, views long, as_of long",
    )
    md = MasterDataset(str(tmp_path / "master"))
    md.ingest(sch.page_property_facts(pages, "url", "views", "as_of"))
    back = md.read(spark, unit=sch.UNIT_PAGE_PROPERTY)
    got = {
        r["url"]: r["page_views"]
        for r in back.select("page_property.id.url", "page_property.page_views").collect()
    }
    assert got == {"http://a.com/x": 12, "http://b.com/y": 5}
    assert back.where(F.col("person_property").isNotNull()).count() == 0


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC source: value-exact roundtrip vs the parquet original, and
    the filter must reach the ORC scan (pushdown contract shared with
    parquet)."""
    from big_data_code_spark.sources.ingest import read_orc, write_orc
    from big_data_code_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events")
    path = str(tmp_path / "events_orc")
    write_orc(events, path)

    back = read_orc(spark, path, events.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, events.collect()))

    filtered = back.where(F.col("event_type") == "click").select("event_id")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "event_type" in plan.split("PushedFilters")[1][:300]
    assert filtered.count() == events.where("event_type = 'click'").count()


def test_registry_prefix_and_oracle_invariants():
    """Driver contract hygiene (no Spark needed): every registry
    entry has an oracle; the driver-sampled 50-entry prefix is all
    oracle-backed; names are unique; every oracle SQL mentions at
    least one driver table."""
    from big_data_code_spark.plans.registry import ORACLES, QUERIES

    names = list(QUERIES)
    assert len(names) == len(set(names))
    assert len(names) >= 110
    tables = (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    )
    for name in names:
        sql = ORACLES[name]
        assert sql, f"{name} has no oracle"
        assert any(t in sql for t in tables), name
    assert all(ORACLES[n] for n in names[:50])


def test_materialize_records_only_inside_recording(spark):
    """`cacheutil.materialize` appends exactly one pre-execution plan
    per call inside `recording()`, keeps nothing outside it, resets
    the recorder when the block raises, and a non-bypassed
    serve-once miss records nothing while its bypassed twin records
    the build."""
    from big_data_code_spark import cacheutil

    frame = spark.range(40).groupBy((F.col("id") % 4).alias("k")).count()
    with cacheutil.recording() as plans:
        out = cacheutil.materialize(frame)
    assert len(plans) == 1 and "HashAggregate" in plans[0]
    assert "isFinalPlan=false" in plans[0]  # recorded before it ran
    assert "Scan ExistingRDD" in out._jdf.queryExecution().executedPlan().toString()

    cacheutil.materialize(frame)
    assert cacheutil._RECORDED is None and len(plans) == 1
    with pytest.raises(RuntimeError), cacheutil.recording():
        raise RuntimeError
    assert cacheutil._RECORDED is None

    def build():
        return cacheutil.materialize(frame)

    name = "recorder_probe"
    try:
        with cacheutil.recording() as served:
            cacheutil.serve_once(spark, name, SF_SMOKE, ("region",), build)
        assert served == [] and cacheutil.STATS[name]["misses"] == 1
        with cacheutil.recording() as twin, cacheutil.bypass(name):
            cacheutil.serve_once(spark, name, SF_SMOKE, ("region",), build)
        assert len(twin) == 1 and "HashAggregate" in twin[0]
    finally:
        for k in [k for k in cacheutil._STORE if k[1] == name]:
            del cacheutil._STORE[k]
        cacheutil.STATS.pop(name, None)


def test_materialize_is_the_only_checkpoint():
    """Every eager checkpoint in the package goes through
    `cacheutil.materialize`, so the plan audits record all of them."""
    import pathlib

    import big_data_code_spark

    root = pathlib.Path(big_data_code_spark.__file__).parent
    hits = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "localCheckpoint(" in line
    ]
    assert len(hits) == 1 and hits[0].startswith("cacheutil.py:"), hits


def test_persist_is_the_only_cache():
    """Every cached frame in the package goes through
    `cacheutil.persist`, so `release_persisted()` can drop all of
    them and the storage level is chosen in one place."""
    import pathlib

    import big_data_code_spark
    from big_data_code_spark import cacheutil

    root = pathlib.Path(big_data_code_spark.__file__).parent
    hits = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        if path.name != "cacheutil.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if any(s in line for s in (".persist(", ".cache()", "StorageLevel", "track_persisted"))
    ]
    assert not hits, hits
    assert not hasattr(cacheutil, "track_persisted")


@pytest.mark.parametrize(
    "name, target",
    [
        # a round of the holdout trainer, while `lab_train` is cached
        ("quality_logit_holdout_eval", "_qlt_round_step"),
        # the kNN edge checkpoint, while the pair frame is cached
        ("knn_graph_build", "materialize"),
    ],
)
def test_raising_query_leaves_no_cached_frame(spark, monkeypatch, name, target):
    """A query that raises before its own early `unpersist()` strands
    no cached frame: `release_persisted()` empties the CacheManager."""
    from big_data_code_spark import cacheutil
    from big_data_code_spark.plans import llm
    from big_data_code_spark.plans.registry import QUERIES
    from tests.conftest import cache_manager_is_empty

    def boom(*args, **kwargs):
        raise RuntimeError(f"injected failure in {target}")

    spark.catalog.clearCache()  # only what this query caches counts
    monkeypatch.setattr(llm, target, boom)
    with pytest.raises(RuntimeError, match="injected"):
        QUERIES[name](spark, SF_SMOKE)
    cacheutil.release_persisted()
    assert cache_manager_is_empty(spark)


def test_streams_run_only_through_speed_layer():
    """`foreachBatch(` appears only in `streaming/speed_layer.py`
    (whose runners record what a stream executes), and no registry
    builder takes a hidden audit-mode parameter."""
    import inspect
    import pathlib

    import big_data_code_spark
    from big_data_code_spark.plans.registry import QUERIES

    root = pathlib.Path(big_data_code_spark.__file__).parent
    hits = sorted(
        str(path.relative_to(root))
        for path in root.rglob("*.py")
        if "foreachBatch(" in path.read_text()
    )
    assert hits == ["streaming/speed_layer.py"], hits
    hidden = [
        name
        for name, fn in QUERIES.items()
        if "_static" in inspect.signature(fn).parameters
    ]
    assert not hidden, hidden


def test_staged_is_the_only_staging_commit():
    """`staging_dir(` is called only inside `sources/tables.py` (by
    `staged`), and no plan module renames or removes a dir itself."""
    import pathlib

    import big_data_code_spark

    root = pathlib.Path(big_data_code_spark.__file__).parent

    def lines_with(paths, *needles):
        return [
            f"{path.relative_to(root)}:{i}"
            for path in sorted(paths)
            for i, line in enumerate(path.read_text().splitlines(), 1)
            if any(n in line for n in needles)
        ]

    calls = lines_with(root.rglob("*.py"), "staging_dir(")
    assert calls and all(c.startswith("sources/tables.py:") for c in calls), calls
    assert not lines_with((root / "plans").rglob("*.py"), "os.rename(", "rmtree("), "plans"


def _private_dirs(prefix: str) -> list[str]:
    import tempfile

    return [d for d in os.listdir(tempfile.gettempdir()) if d.startswith(f"{prefix}_build_")]


def _fresh_prefix() -> str:
    import uuid

    return f"staged_test_{uuid.uuid4().hex[:8]}"


def test_staged_commits_one_of_two_concurrent_builds(tmp_path):
    """Two threads miss one fresh staging dir and both build (each
    `build` waits until both are inside): both return the same dir,
    which holds exactly one build's files, and the loser's private
    dir is gone."""
    import shutil
    import threading

    from big_data_code_spark.sources.tables import staged

    prefix, barrier, results = _fresh_prefix(), threading.Barrier(2), []

    def build(private):
        os.makedirs(private)
        open(os.path.join(private, f"built_by_{threading.get_ident()}"), "w").close()
        barrier.wait(timeout=60)

    def run():
        results.append(staged(str(tmp_path), "events", prefix, build))

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    try:
        assert not any(t.is_alive() for t in threads)
        assert len(results) == 2 and results[0] == results[1], results
        assert len(os.listdir(results[0])) == 1
        assert not _private_dirs(prefix)
    finally:
        shutil.rmtree(results[0], ignore_errors=True)


def test_staged_reaps_a_failed_build(tmp_path):
    """A `build` that raises propagates its error and leaves neither
    the staging dir nor its private dir."""
    from big_data_code_spark.sources.tables import staged, staging_dir

    prefix = _fresh_prefix()

    def build(private):
        os.makedirs(private)
        open(os.path.join(private, "half"), "w").close()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        staged(str(tmp_path), "events", prefix, build)
    assert not os.path.exists(staging_dir(str(tmp_path), "events", prefix))
    assert not _private_dirs(prefix)


def test_staged_hit_never_builds_and_a_miss_prunes_dead_builds(tmp_path):
    """A miss removes its prefix's hour-old private dirs (a dead
    process's) and keeps a fresh one (a live build's); a second
    call is a hit: it neither builds nor prunes."""
    import shutil
    import tempfile
    import time

    from big_data_code_spark.sources.tables import staged

    prefix, calls = _fresh_prefix(), []
    dead, live, dead_later = (
        os.path.join(tempfile.gettempdir(), f"{prefix}_build_{n}")
        for n in ("dead", "live", "deadlater")
    )
    old = time.time() - 2 * 3600
    for d in (dead, live):
        os.makedirs(d)
    os.utime(dead, (old, old))

    def build(private):
        calls.append(private)
        os.makedirs(private)

    out = staged(str(tmp_path), "events", prefix, build)
    try:
        assert not os.path.exists(dead) and os.path.isdir(live)
        os.makedirs(dead_later)
        os.utime(dead_later, (old, old))
        assert staged(str(tmp_path), "events", prefix, build) == out
        assert len(calls) == 1 and os.path.isdir(dead_later)
    finally:
        for d in (out, live, dead_later):
            shutil.rmtree(d, ignore_errors=True)


def test_staged_miss_prunes_superseded_versions_of_its_input(tmp_path):
    """After a miss commits, the hour-old dirs the prefix staged from
    older versions of the same input path are removed; a fresh one
    (a concurrent reader's) and an hour-old one of another input path
    stay, and a hit prunes nothing."""
    import shutil
    import time

    from big_data_code_spark.sources.tables import staged, staging_dir

    prefix, sf = _fresh_prefix(), str(tmp_path / "sf")
    os.makedirs(sf)
    stem = staging_dir(sf, "events", prefix).rsplit("_", 2)[0]
    old_version, fresh_version, old_version_later = (f"{stem}_{n}_1" for n in (111, 222, 333))
    other_path = staging_dir(str(tmp_path), "events", prefix)
    old = time.time() - 2 * 3600
    for d in (old_version, fresh_version, other_path):
        os.makedirs(d)
    for d in (old_version, other_path):
        os.utime(d, (old, old))

    out = staged(sf, "events", prefix, os.makedirs)
    try:
        assert not os.path.exists(old_version)
        assert os.path.isdir(out) and os.path.isdir(fresh_version) and os.path.isdir(other_path)
        os.makedirs(old_version_later)
        os.utime(old_version_later, (old, old))
        assert staged(sf, "events", prefix, os.makedirs) == out
        assert os.path.isdir(old_version_later)
    finally:
        for d in (out, fresh_version, other_path, old_version_later):
            shutil.rmtree(d, ignore_errors=True)


def test_events_src_loses_a_race_to_another_process(tmp_path, monkeypatch):
    """Another process commits the events staging after this one's
    check and before its commit (its link lands first): this one
    returns the winner's dir instead of failing in the copy
    fallback, and leaves no private dir."""
    import shutil

    from big_data_code_spark.plans import speed
    from big_data_code_spark.sources.tables import staging_dir, table_path

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    os.symlink(table_path(SF_SMOKE, "events"), table_path(sf, "events"))
    winner = staging_dir(sf, "events", "swa_stream_src")
    real_symlink = os.symlink

    def winner_first(src, link):
        monkeypatch.setattr(os, "symlink", real_symlink)
        os.makedirs(winner, exist_ok=True)
        real_symlink(src, os.path.join(winner, "00.parquet"))
        real_symlink(src, link)

    before = set(_private_dirs("swa_stream_src"))
    monkeypatch.setattr(os, "symlink", winner_first)
    try:
        assert speed._events_src(sf) == winner
        assert os.listdir(winner) == ["00.parquet"]
        assert set(_private_dirs("swa_stream_src")) <= before
    finally:
        shutil.rmtree(winner, ignore_errors=True)


def test_bench_covers_every_registry_query():
    """The bench rows are the registry minus written exclusions
    (VERDICT r4 #5): every exclusion names a registered query and
    gives a reason."""
    import bench

    from big_data_code_spark.plans.registry import QUERIES

    assert set(bench.BENCH_EXCLUDED) <= set(QUERIES)
    assert all(reason for reason in bench.BENCH_EXCLUDED.values())


def test_part_file_directory_input_is_sized_by_its_files(spark, tmp_path):
    """A Spark part-file directory source: `fingerprint` and
    `narrow_for_iteration` read its data files' bytes, not the
    directory inode, and a part file added to it misses the
    serve-once entry."""
    import math
    import shutil

    from big_data_code_spark import cacheutil
    from big_data_code_spark.operators.skew import narrow_for_iteration
    from big_data_code_spark.sources.tables import fingerprint

    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    table_dir = tmp_path / "events.parquet"
    src.repartition(4).write.parquet(str(table_dir))
    parts = [p for p in table_dir.iterdir() if not p.name.startswith(("_", "."))]
    data_bytes = sum(p.stat().st_size for p in parts)

    path, _, size = fingerprint(str(table_dir))
    assert path == str(table_dir)
    assert size == data_bytes != table_dir.stat().st_size

    target = math.ceil(data_bytes / 3)
    assert math.ceil(table_dir.stat().st_size / target) != 3
    narrowed = narrow_for_iteration(src.repartition(8), str(tmp_path), "events", target)
    assert narrowed.rdd.getNumPartitions() == 3

    builds = []

    def serve():
        return cacheutil.serve_once(
            spark, "part_dir_test", str(tmp_path), ("events",),
            lambda: builds.append(size) or len(builds),
        )

    assert serve() == 1 and serve() == 1
    shutil.copy(parts[0], table_dir / "part-99999-added.snappy.parquet")
    assert fingerprint(str(table_dir))[2] == data_bytes + parts[0].stat().st_size
    assert serve() == 2
    scope = (spark.sparkContext.applicationId, "part_dir_test", str(tmp_path))
    assert len([k for k in cacheutil._STORE if k[:3] == scope]) == 1


def _jobs_run(spark, fn):
    """(fn(), Spark jobs started while it ran)."""
    sc = spark.sparkContext._jsc.sc()
    lo = sc.dagScheduler().numTotalJobs()
    out = fn()
    return out, sc.dagScheduler().numTotalJobs() - lo


def test_load_table_infers_each_table_version_once(spark, tmp_path):
    """The schema memo: a second `load_table` of an unchanged table
    starts no Spark job; a rewritten table (new fingerprint) is
    re-inferred and shows its new schema; two reads stay two
    relations, so a self-join resolves like two plain reads."""
    import shutil

    import pyarrow as pa

    from big_data_code_spark.sources.tables import load_table
    from tests.conftest import sf_copy

    load_table(spark, SF_SMOKE, "orders")
    again, jobs = _jobs_run(spark, lambda: load_table(spark, SF_SMOKE, "orders"))
    assert jobs == 0
    assert again.count() == spark.read.parquet(f"{SF_SMOKE}/orders.parquet").count()

    sf = sf_copy(tmp_path / "sf", "region", lambda t: t)
    before = load_table(spark, sf, "region").columns
    shutil.rmtree(sf)
    sf_copy(tmp_path / "sf", "region", lambda t: t.append_column("r_extra", pa.array([7] * len(t))))
    after, jobs = _jobs_run(spark, lambda: load_table(spark, sf, "region"))
    assert jobs == 1 and after.columns == before + ["r_extra"]
    assert {r["r_extra"] for r in after.collect()} == {7}

    a, b = load_table(spark, SF_SMOKE, "events"), load_table(spark, SF_SMOKE, "events")
    ra = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    rb = spark.read.parquet(f"{SF_SMOKE}/events.parquet")

    def pairs(x, y):
        return sorted(
            tuple(r) for r in x.join(y, x.user_id == y.user_id)
            .select(x.event_id, y.event_id).collect()
        )

    assert pairs(a, b) == pairs(ra, rb)


def test_master_dataset_reads_infer_once_per_version(spark, tmp_path):
    """A second `read_snapshot` of one snapshot starts no job before
    its action; an `ingest` that adds a column invalidates `read`'s
    memo, so the next read shows the column."""
    from big_data_code_spark.sources.master_dataset import MasterDataset

    md = MasterDataset(str(tmp_path / "master"))
    md.ingest(_unit_batch(spark, 10, 5))
    snap = md.snapshot()
    md.read_snapshot(spark, snap)
    df, jobs = _jobs_run(spark, lambda: md.read_snapshot(spark, snap))
    assert jobs == 0 and df.count() == 15

    assert md.read(spark).columns == ["fact_id", "unit"]
    # unit "audit" sorts before the others: without merging schemas
    # Spark infers from the first data file by path
    extra = spark.range(3).select(
        F.col("id").alias("fact_id"), F.lit(1).alias("extra"), F.lit("audit").alias("unit")
    )
    md.ingest(extra)
    df = md.read(spark)
    assert df.columns == ["fact_id", "extra", "unit"]
    assert df.where(F.col("extra") == 1).count() == 3 and df.count() == 18
    assert md.read_snapshot(spark, snap).count() == 15


def test_keyvalue_lookup_infers_the_domain_once_per_export(spark, tmp_path):
    """A lookup costs the inference of the domain's schema and the
    scan: 2 jobs (the shard hash runs in the JVM, no job). Later
    lookups of the same export skip the inference (one job fewer); a
    re-export pays it again."""
    from big_data_code_spark.serving import keyvalue as kv

    view = spark.createDataFrame([(f"k{i}", i) for i in range(20)], "k string, v long")
    path = str(tmp_path / "domain")

    def export():
        kv.export_key_value(view, path, F.col("k"), ["v"], kv.hash_mod_shard(F.col("k"), 4))

    def lookup(key):
        shard = lambda k: kv.python_hash_mod(k, 4, spark)  # noqa: E731
        return _jobs_run(spark, lambda: kv.lookup(spark, path, key, shard).collect())

    export()
    (first, first_jobs), (second, second_jobs) = lookup("k3"), lookup("k11")
    assert [r["v"] for r in first] == [3] and [r["v"] for r in second] == [11]
    assert (first_jobs, second_jobs) == (2, 1)
    export()
    assert lookup("k5")[1] == 2


def test_python_hash_mod_matches_the_export_hash(spark):
    """The lookup's in-JVM shard hash equals the export's
    ``pmod(xxhash64(key), n)`` on empty, ASCII, non-ASCII and long keys."""
    from big_data_code_spark.serving import keyvalue as kv

    keys = ["", "a", "/index.html/hour-1700000000", "páge/ünï-ß", "页面/日-💡", "x" * 1000]
    frame = spark.createDataFrame([(k,) for k in keys], "k string")
    for n in (1, 4, 32):
        shards = frame.select("k", kv.hash_mod_shard(F.col("k"), n).alias("s")).collect()
        want = {r["k"]: r["s"] for r in shards}
        got, jobs = _jobs_run(spark, lambda: {k: kv.python_hash_mod(k, n, spark) for k in keys})
        assert got == want and jobs == 0


def _fs_effects(spark, fs, base: str) -> dict:
    """What ``fs`` leaves on disk and reports, paths relative to
    ``base``: for each of 4 modes, a directory made with it and a file
    created and then set to it, in a directory set to it last; the
    ``os.stat`` modes and the tree's file names (``.crc`` siblings
    included); `getFileLinkStatus` of a file, a directory, a symlink
    and a scheme-less path to the symlink; the errors of
    `getFileLinkStatus` and `setPermission` on a missing path."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    Path, Perm = jvm.org.apache.hadoop.fs.Path, jvm.org.apache.hadoop.fs.permission.FsPermission
    out: dict = {}
    for mode in (0o755, 0o644, 0o700, 0o1777):
        made, d = os.path.join(base, f"made{mode:o}"), os.path.join(base, f"set{mode:o}")
        fs.mkdirs(Path(made), Perm(mode))
        fs.mkdirs(Path(d))
        stream = fs.create(Path(os.path.join(d, "part-0")), True)
        stream.write(b"abc")
        stream.close()
        fs.setPermission(Path(os.path.join(d, "part-0")), Perm(mode))
    out["tree"] = sorted(
        (os.path.relpath(os.path.join(r, n), base), os.lstat(os.path.join(r, n)).st_mode)
        for r, dirs, names in os.walk(base) for n in dirs + names
    )
    for mode in (0o755, 0o644, 0o700, 0o1777):
        fs.setPermission(Path(os.path.join(base, f"set{mode:o}")), Perm(mode))
        out[mode] = os.stat(os.path.join(base, f"set{mode:o}")).st_mode
    f = os.path.join(base, "made755", "f")
    open(f, "wb").close()
    link = os.path.join(base, "link")
    os.symlink(f, link)

    def status(p):
        st = fs.getFileLinkStatus(Path(p))
        target = st.getSymlink().toString().replace(base, "<base>") if st.isSymlink() else None
        return st.isSymlink(), st.isDirectory(), st.getLen(), target

    out["status"] = [status(p) for p in ("file:" + f, "file:" + base, "file:" + link, link)]
    missing = Path("file:" + os.path.join(base, "missing"))
    out["missing"] = []
    for call in (lambda: fs.getFileLinkStatus(missing), lambda: fs.setPermission(missing, Perm(0o644))):
        with pytest.raises(Py4JJavaError) as err:
            call()
        exc = err.value.java_exception
        out["missing"].append((exc.getClass().getName(), exc.getMessage().replace(base, "<base>")))
    return out


def _fc_rename_effects(spark, abstract_fs: str, base: str) -> tuple:
    """With ``abstract_fs`` bound to ``file:``, FileContext renames in
    ``base`` as a streaming checkpoint does them: onto a new name, onto
    an existing one (the error) and with OVERWRITE. Returns the error
    class, the files and modes left and the renamed file's bytes."""
    from py4j.protocol import Py4JJavaError

    os.makedirs(base)
    jvm = spark._jvm
    fsys, gw = jvm.org.apache.hadoop.fs, spark.sparkContext._gateway
    conf = jvm.org.apache.hadoop.conf.Configuration(spark.sparkContext._jsc.hadoopConfiguration())
    conf.set("fs.AbstractFileSystem.file.impl", abstract_fs)
    fc = fsys.FileContext.getFileContext(jvm.java.net.URI("file:///"), conf)
    assert fc.getDefaultFileSystem().getClass().getName() == abstract_fs

    def create(name):
        flags = jvm.java.util.EnumSet.of(fsys.CreateFlag.CREATE)
        out = fc.create(fsys.Path(os.path.join(base, name)), flags, gw.new_array(fsys.Options.CreateOpts, 0))
        out.write(name.encode())
        out.close()

    def rename(src, dst, *opts):
        arr = gw.new_array(fsys.Options.Rename, len(opts))
        for i, o in enumerate(opts):
            arr[i] = o
        fc.rename(fsys.Path(os.path.join(base, src)), fsys.Path(os.path.join(base, dst)), arr)

    create("a")
    rename("a", "b")
    create("c")
    with pytest.raises(Py4JJavaError) as clash:
        rename("c", "b")
    rename("c", "b", fsys.Options.Rename.OVERWRITE)
    left = sorted((n, os.stat(os.path.join(base, n)).st_mode) for n in os.listdir(base))
    with open(os.path.join(base, "b"), "rb") as fh:
        return clash.value.java_exception.getClass().getName(), left, fh.read()


def test_nofork_filesystem_matches_the_stock_local_filesystem(spark, tmp_path):
    """`NoForkLocalFileSystem` (checksummed and raw) leaves the same
    permission bits and ``.crc`` files as Hadoop's `LocalFileSystem`
    / `RawLocalFileSystem` and reports the same link statuses and
    missing-path error; its FileContext binding renames the same as
    Hadoop's `LocalFs`."""
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    for level, pick in (("checksummed", lambda fs: fs), ("raw", lambda fs: fs.getRaw())):
        # fresh instances, outside the FileSystem cache
        stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
        nofork = jvm.big_data_code_spark.jvm.NoForkLocalFileSystem()
        for fs in (stock, nofork):
            fs.initialize(jvm.java.net.URI("file:///"), conf)
        stock, nofork = pick(stock), pick(nofork)
        want = _fs_effects(spark, stock, str(tmp_path / level / "stock"))
        assert _fs_effects(spark, nofork, str(tmp_path / level / "nofork")) == want
        assert ("set755/.part-0.crc" in dict(want["tree"])) == (level == "checksummed")
        assert [s[0] for s in want["status"]] == [False, False, False, True]

    want = _fc_rename_effects(spark, "org.apache.hadoop.fs.local.LocalFs", str(tmp_path / "fc_stock"))
    assert [n for n, _ in want[1]] == [".b.crc", "b"] and want[2] == b"c"
    nofork_fs = "big_data_code_spark.jvm.NoForkLocalFileSystem$Fs"
    assert _fc_rename_effects(spark, nofork_fs, str(tmp_path / "fc_nofork")) == want


def test_nofork_jar_is_built_from_its_source(spark, tmp_path):
    """The committed ``nofork.jar`` holds exactly the classes javac
    makes from ``NoForkLocalFileSystem.java`` (rebuild command in the
    source header)."""
    import subprocess
    import zipfile

    from big_data_code_spark import session

    system = spark._jvm.System
    javac = os.path.join(system.getProperty("java.home"), "bin", "javac")
    if not os.path.exists(javac):
        pytest.skip(f"no javac beside the session JVM ({javac})")
    jvm_dir = os.path.dirname(session._NOFORK_JAR)
    subprocess.run(
        [javac, "--release", "17", "-cp", system.getProperty("java.class.path"),
         "-d", str(tmp_path), os.path.join(jvm_dir, "NoForkLocalFileSystem.java")],
        check=True,
    )
    built = {p.relative_to(tmp_path).as_posix(): p.read_bytes() for p in tmp_path.rglob("*.class")}
    with zipfile.ZipFile(session._NOFORK_JAR) as jar:
        committed = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert committed == built


def test_local_writes_and_streaming_commits_fork_no_process(spark, tmp_path):
    """A JFR recording (``jdk.ProcessStart``) of a master-dataset
    ingest + consolidate, a 4-shard key/value export and
    `streaming_pageviews_hourly` sees no ``chmod`` or ``readlink``
    process; with Hadoop's stock local filesystem it sees hundreds.
    ``jcmd``/``jfr`` come from the session JVM's ``java.home``."""
    import re
    import subprocess

    from big_data_code_spark.plans.registry import QUERIES
    from big_data_code_spark.serving import keyvalue as kv
    from big_data_code_spark.sources.master_dataset import MasterDataset

    jvm = spark._jvm
    bin_dir = os.path.join(jvm.System.getProperty("java.home"), "bin")
    pid = str(jvm.ProcessHandle.current().pid())
    rec = str(tmp_path / "forks.jfr")

    def jcmd(*args):
        subprocess.run([os.path.join(bin_dir, "jcmd"), pid, *args], check=True, capture_output=True)

    jcmd("JFR.start", "name=nofork_test", "settings=default")
    try:
        md = MasterDataset(str(tmp_path / "master"))
        md.ingest(_unit_batch(spark, 10, 5), shred_partitions=4)
        md.ingest(_unit_batch(spark, 7, 3))
        md.consolidate(spark)
        view = spark.createDataFrame([(f"k{i}", i) for i in range(20)], "k string, v long")
        shard = kv.hash_mod_shard(F.col("k"), 4)
        kv.export_key_value(view, str(tmp_path / "domain"), F.col("k"), ["v"], shard)
        QUERIES["streaming_pageviews_hourly"](spark, SF_SMOKE).collect()
        jvm.java.lang.Runtime.getRuntime().exec("true").waitFor()  # the recording sees forks
    finally:
        jcmd("JFR.stop", "name=nofork_test", f"filename={rec}")
    printed = subprocess.run(
        [os.path.join(bin_dir, "jfr"), "print", "--events", "jdk.ProcessStart", rec],
        check=True, capture_output=True, text=True,
    ).stdout
    commands = re.findall(r'command = "([^"]*)"', printed)
    assert "true" in commands
    assert [c for c in commands if c.split(" ")[0] in ("chmod", "readlink")] == []


def test_repeated_batch_pass_compiles_no_generated_class(spark, tmp_path):
    """A second run of the benchmark's batch pass (two SWA views, two
    TPC-H queries, the three key/value export domains) generates the
    same Java source as the first and finds every class in the codegen
    cache: Janino compiles nothing. With Spark's default of 100
    entries, the ~100 classes of a pass thrash the cache's segments
    and a second run recompiles a quarter of them."""
    from big_data_code_spark import session
    from big_data_code_spark.cacheutil import release_persisted
    from big_data_code_spark.plans.registry import QUERIES
    from big_data_code_spark.serving import keyvalue as kv

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(session.CODEGEN_CACHE_ENTRIES)
    bucket_key = kv.url_bucketed_key(F.col("event_type"), F.col("granularity"), F.col("bucket"))
    n = kv.N_SHARDS_DEFAULT
    exports = {
        "pageviews": ("pageviews_over_time", bucket_key, ["total_views"],
                      kv.url_only_shard(F.col("event_type"), n), False),
        "uniques": ("uniques_over_time", bucket_key, ["unique_visitors"],
                    kv.hash_mod_shard(bucket_key, n), False),
        "bounce": ("bounce_rate", F.col("event_type"), ["num_visits", "num_bounces"],
                   kv.hash_mod_shard(F.col("event_type"), n), True),
    }

    def batch_pass(run: int):
        for name in ("pageviews_over_time", "bounce_rate", "q1_pricing_summary", "q21_waiting_supplier"):
            QUERIES[name](spark, SF_SMOKE).toPandas()
            release_persisted()
        for domain, (view, key, values, shard, longs) in exports.items():
            kv.export_key_value(QUERIES[view](spark, SF_SMOKE), str(tmp_path / f"r{run}" / domain),
                                key, values, shard, serialize_longs=longs)

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    batch_pass(0)
    before = compiles.getCount()
    batch_pass(1)
    assert compiles.getCount() - before == 0


#: DuckDB result type → the Spark simpleString(s) that land on the
#: SAME pandas dtype under the driver's canonicalizer. Widths are
#: exact on purpose (int32 vs int64 flips the dtype-sensitive hash);
#: the datetime family is pooled (the driver normalizes ns↔us and
#: date-object↔datetime64 — proven by q18/q3/dedup_events in r3).
#: HUGEINT (DuckDB's window-sum-of-BIGINT type) is deliberately
#: absent: it lands as float64 vs Spark's int64 — the r3
#: sequence_packing failure.
_DUCK_TO_SPARK = {
    "BIGINT": {"bigint"},
    "INTEGER": {"int"},
    "DOUBLE": {"double"},
    "FLOAT": {"float"},
    "VARCHAR": {"string"},
    "BOOLEAN": {"boolean"},
    "DATE": {"date", "timestamp", "timestamp_ntz"},
    "TIMESTAMP": {"timestamp", "timestamp_ntz"},
    "TIMESTAMP WITH TIME ZONE": {"timestamp"},
    "TIMESTAMP_NS": {"timestamp", "timestamp_ntz"},
}


def test_prefix_driver_canonicalizer_compat(spark):
    """The r3 postmortem test (ADVICE r3): the driver canonicalizes
    with pandas sort_values + a dtype-SENSITIVE hash, so a prefix
    entry must (a) emit NO array/map columns (they crash the
    multi-column sort's factorization — the multimodal_features /
    embedding_quantize r3 errors) and (b) agree with its oracle on
    exact column dtypes (int64 vs float64 flips the hash even with
    equal values — the sequence_packing r3 failure). Checks every
    driver-sampled prefix entry's Spark schema against the DuckDB
    oracle's LIMIT-0 result types at sf0.001."""
    from pyspark.sql.types import ArrayType, MapType

    from big_data_code_spark.plans.registry import ORACLES, QUERIES
    from tests.conftest import duck_con

    con = duck_con(SF_SMOKE)
    decimal_ok = lambda d, s: d.startswith("DECIMAL") and s.startswith("decimal")  # noqa: E731
    for name in list(QUERIES)[:50]:
        sdf = QUERIES[name](spark, SF_SMOKE)
        spark_types = {}
        for f in sdf.schema.fields:
            assert not isinstance(f.dataType, (ArrayType, MapType)), (
                f"{name}.{f.name}: array/map output crashes the driver canonicalizer"
            )
            spark_types[f.name] = f.dataType.simpleString()
        res = con.sql(f"SELECT * FROM ({ORACLES[name]}) _q LIMIT 0")
        duck_types = dict(zip(res.columns, (str(t) for t in res.types)))
        assert set(duck_types) == set(spark_types), (name, duck_types, spark_types)
        for c, dt in duck_types.items():
            st = spark_types[c]
            ok = st in _DUCK_TO_SPARK.get(dt, set()) or decimal_ok(dt, st)
            assert ok, f"{name}.{c}: oracle {dt} vs spark {st} flips the driver hash"


def test_multimodal_framesample_and_resize_registry(spark):
    """The r4 registry projections of the frame-sample and resize
    passes: every-2nd-frame selection, per-frame sizes reassemble
    the payload, and resize endpoints/sizing hold."""
    from big_data_code_spark.functions.multimodal import synthetic_assets
    from big_data_code_spark.plans.registry import QUERIES
    from big_data_code_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    meta = {
        r["asset_id"]: r
        for r in synthetic_assets(docs).select("asset_id", "content", "n_frames").collect()
    }
    frames = {}
    for r in QUERIES["multimodal_framesample"](spark, SF_SMOKE).collect():
        frames.setdefault(r["asset_id"], []).append(r)
    assert frames.keys() == meta.keys()
    for aid, fs in frames.items():
        n = max(meta[aid]["n_frames"], 1)
        assert sorted(f["frame_idx"] for f in fs) == list(range(0, n, 2))

    resized = {r["asset_id"]: r for r in QUERIES["multimodal_resize"](spark, SF_SMOKE).collect()}
    for aid, r in resized.items():
        content = meta[aid]["content"]
        assert 1 <= r["n_bytes"] <= max(len(content), 1)
        if content:
            assert r["head_hex"] == content[:1].hex().upper()


def test_export_training_shards_roundtrip(spark, tmp_path):
    """r8: the training-shard sink must write one directory per
    shard with rows in exact (pos) stream order, conserving the
    corpus — the artifact end of corpus_shuffle/sequence_packing."""
    from big_data_code_spark.plans.registry import QUERIES
    from big_data_code_spark.sources.training_export import (
        export_training_shards,
    )

    shuffled = QUERIES["corpus_shuffle"](spark, SF_SMOKE)
    out = str(tmp_path / "shards")
    export_training_shards(shuffled, out)

    import os

    shard_dirs = sorted(
        d for d in os.listdir(out) if d.startswith("shard=")
    )
    assert len(shard_dirs) > 1
    back = spark.read.parquet(out)
    src = {(r["shard"], r["pos"]): r["doc_id"] for r in shuffled.collect()}
    got = {(r["shard"], r["pos"]): r["doc_id"] for r in back.collect()}
    assert got == src  # nothing lost, duplicated, or reassigned
    # stream order INSIDE each shard directory (file row order, no
    # sort at read time)
    for d in shard_dirs:
        rows = spark.read.parquet(os.path.join(out, d)).collect()
        pos = [r["pos"] for r in rows]
        assert pos == sorted(pos) and len(pos) > 0
