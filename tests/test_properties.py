"""Property-based tests: custom operators vs independent Python
reference implementations on random inputs (hypothesis).

Few examples, large strategy space — each example runs Spark jobs,
so the budget goes to input diversity, not repetition.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# ------------------------------------------------ connected components

edges_strategy = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)),
    min_size=1,
    max_size=60,
)


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            # a self-loop contributes its node (a singleton unless
            # other edges connect it) but no union
            find(a)
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(**SETTINGS)
@given(edges=edges_strategy)
def test_connected_components_matches_union_find(spark, edges):
    from big_data_code_spark.operators.graph import connected_components

    expected = _union_find_components(edges)
    if not expected:
        return  # all edges were self-loops — operator yields no nodes
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == expected


# ------------------------------------------------------ sessionization

events_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),                      # user
        st.integers(0, 1),                      # domain
        st.integers(0, 90 * 60).map(lambda s: s * 1),  # seconds offset
    ),
    min_size=1,
    max_size=50,
)


def _python_visit_stats(events: list[tuple[int, int, int]], gap: int = 900):
    by_group: dict[tuple[int, int], list[int]] = defaultdict(list)
    for u, d, t in events:
        by_group[(d, u)].append(t)
    visits: dict[int, list[int]] = defaultdict(list)  # domain -> visit sizes
    for (d, u), ts in by_group.items():
        ts.sort()
        size = 0
        prev = None
        for t in ts:
            if prev is None or t - prev > gap:
                if size:
                    visits[d].append(size)
                size = 0
            size += 1
            prev = t
        visits[d].append(size)
    return {
        d: (len(sizes), sum(1 for s in sizes if s == 1))
        for d, sizes in visits.items()
    }


@settings(**SETTINGS)
@given(events=events_strategy)
def test_visit_stats_matches_python_reference(spark, events):
    from big_data_code_spark.operators.sessionize import visit_stats

    base = 1_700_000_000
    df = spark.createDataFrame(
        [(u, str(d), base + t) for u, d, t in events],
        "user_id long, domain string, secs long",
    ).select("user_id", "domain", F.timestamp_seconds("secs").alias("ts"))
    got = {
        r["domain"]: (r["num_visits"], r["num_bounces"])
        for r in visit_stats(df, "domain", "user_id").collect()
    }
    expected = {
        str(d): v for d, v in _python_visit_stats(events).items()
    }
    assert got == expected


# ------------------------------------------------------------ as-of join

asof_strategy = st.tuples(
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=25),
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=25),
)


@settings(**SETTINGS)
@given(data=asof_strategy)
def test_asof_join_matches_pandas_merge_asof(spark, data):
    from big_data_code_spark.operators.asof import asof_join

    left_rows, right_rows = data
    # right must be unique per (key, t): keep max value per slot
    right_map: dict[tuple[int, int], int] = {}
    for i, (k, t) in enumerate(right_rows):
        right_map[(k, t)] = max(right_map.get((k, t), -1), i)
    right_uniq = [(k, t, float(v)) for (k, t), v in right_map.items()]
    left_uniq = [(i, k, t) for i, (k, t) in enumerate(left_rows)]

    left = spark.createDataFrame(left_uniq, "row_id long, k long, t long")
    right = spark.createDataFrame(right_uniq, "k long, t long, v double")
    got = {
        r["row_id"]: r["asof_v"]
        for r in asof_join(
            left, right, on="k", left_ts="t", right_ts="t", value_cols=["v"]
        ).collect()
    }

    lpd = pd.DataFrame(left_uniq, columns=["row_id", "k", "t"]).sort_values("t")
    rpd = pd.DataFrame(right_uniq, columns=["k", "t", "v"]).sort_values("t")
    merged = pd.merge_asof(
        lpd, rpd, on="t", by="k", direction="backward", allow_exact_matches=True
    )
    expected = {
        int(r.row_id): (None if pd.isna(r.v) else float(r.v))
        for r in merged.itertuples()
    }
    assert got == expected


# ------------------------------------------------ log compaction

changelog_strategy = st.lists(
    st.tuples(
        st.integers(0, 5),            # key
        st.integers(0, 20),           # ts
        st.integers(0, 1_000_000),    # unique-ish event id
        st.floats(-100, 100, allow_nan=False),
    ),
    min_size=1,
    max_size=40,
)


@given(rows=changelog_strategy)
@settings(**SETTINGS)
def test_log_compaction_idempotent_and_latest(spark, rows):
    """Compacting a changelog keeps exactly the max-(ts, event_id)
    row per key, and compacting the compacted output is identity."""
    from pyspark.sql.window import Window

    # de-dup (key, ts, id) triples so 'latest' is well-defined
    uniq = {(k, t, i): v for k, t, i, v in rows}
    data = [(k, t, i, v) for (k, t, i), v in uniq.items()]
    df = spark.createDataFrame(data, "k long, ts long, eid long, v double")

    def compact(d):
        w = Window.partitionBy("k").orderBy(F.col("ts").desc(), F.col("eid").desc())
        return (
            d.withColumn("rn", F.row_number().over(w))
            .where("rn = 1").drop("rn")
        )

    got = {r["k"]: (r["ts"], r["eid"], r["v"]) for r in compact(df).collect()}
    expected = {}
    for k, t, i, v in data:
        if k not in expected or (t, i) > expected[k][:2]:
            expected[k] = (t, i, v)
    assert got == expected
    # idempotence
    again = {r["k"]: (r["ts"], r["eid"], r["v"])
             for r in compact(compact(df)).collect()}
    assert again == got


# ------------------------------------------------ PPJoin prefix filter

def _naive_jaccard_pairs(spark, docs, threshold):
    """Reference all-pairs Jaccard: full shingle-table self-join,
    no prefix filter, no length filter — the plan PPJoin must equal."""
    from big_data_code_spark.operators.dedup import _shingle_table

    sh = _shingle_table(docs, "doc_id", "text", 3)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("id").alias("ia"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("ib"), F.col("n").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(na, "ia").join(nb, "ib")
        .select("ia", "ib", jac.alias("j"))
        .where(F.col("j") >= threshold)
    )


corpus_strategy = st.tuples(
    st.integers(0, 2**31 - 1),           # rng seed
    st.sampled_from([0.5, 0.6, 0.75, 0.9]),  # threshold
)


@settings(**SETTINGS)
@given(params=corpus_strategy)
def test_ppjoin_equals_naive_all_pairs(spark, params):
    """ngram_jaccard_pairs (prefix-filtered PPJoin) returns EXACTLY
    the naive all-pairs result — same pairs, same jaccard values —
    on adversarial corpora: tiny vocabulary (heavy shingle sharing),
    highly varied doc lengths (stressing the τ·max≤min length
    filter), and seeded mutated near-copies around the threshold."""
    import random

    from big_data_code_spark.operators.dedup import ngram_jaccard_pairs

    seed, tau = params
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(rng.randint(8, 30))]
    docs = []
    for i in range(rng.randint(30, 60)):
        length = rng.randint(1, 40)
        toks = [rng.choice(vocab) for _ in range(length)]
        docs.append((i, " ".join(toks)))
        if rng.random() < 0.5 and length >= 4:
            # mutated near-copy: drop/replace a few tokens so the
            # pair's jaccard lands near the threshold
            mut = list(toks)
            for _ in range(rng.randint(1, 3)):
                j = rng.randrange(len(mut))
                if rng.random() < 0.5 and len(mut) > 4:
                    del mut[j]
                else:
                    mut[j] = rng.choice(vocab)
            docs.append((i + 10_000, " ".join(mut)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = {
        (r["doc_id_a"], r["doc_id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(df, tau).collect()
    }
    want = {
        (r["ia"], r["ib"], round(r["j"], 9))
        for r in _naive_jaccard_pairs(spark, df, tau).collect()
    }
    assert got == want


# ------------------------------------------------ skew-salted self pairs

pairs_strategy = st.tuples(
    st.integers(0, 2**31 - 1),
    st.integers(1, 6),  # hot threshold
)


@settings(**SETTINGS)
@given(params=pairs_strategy)
def test_salted_self_pairs_exact(spark, params):
    """salted_self_pairs produces exactly the plain self-join pair
    set for any hot threshold, including keys far above it."""
    import random

    from big_data_code_spark.operators.skew import salted_self_pairs

    seed, hot = params
    rng = random.Random(seed)
    rows = []
    for key in range(rng.randint(1, 5)):
        # some keys tiny, some 5× over the hot threshold
        n = rng.choice([1, 2, hot, hot * 5 + 3])
        members = rng.sample(range(1000), n)
        rows += [(f"k{key}", m) for m in members]
    df = spark.createDataFrame(rows, "bk string, id long")

    got = {(r["id_a"], r["id_b"]) for r in
           salted_self_pairs(df, "bk", "id", hot_threshold=hot, n_salt=4).collect()}
    want = set()
    bykey = defaultdict(list)
    for k, m in rows:
        bykey[k].append(m)
    for members in bykey.values():
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                want.add((min(a, b), max(a, b)))
    assert got == want


# ------------------------------------------------ cross-corpus LSH

@settings(**SETTINGS)
@given(seed=st.integers(0, 2**31 - 1))
def test_cross_lsh_equals_filtered_self_lsh(spark, seed):
    """minhash_lsh_pairs_cross(batch, master) must equal the plain
    self-join LSH over batch ∪ master restricted to cross pairs —
    the incremental path may never invent or lose a pair."""
    import random

    from pyspark.sql import functions as F

    from big_data_code_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_cross,
    )

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(rng.randint(10, 25))]
    docs = []
    for i in range(rng.randint(20, 40)):
        toks = [rng.choice(vocab) for _ in range(rng.randint(3, 25))]
        docs.append((i, " ".join(toks)))
        if rng.random() < 0.6:
            mut = list(toks)
            if rng.random() < 0.5:
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            docs.append((i + 10_000, " ".join(mut)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    master = df.where(F.col("doc_id") < 10_000)
    batch = df.where(F.col("doc_id") >= 10_000)

    got = {
        (r["batch_id"], r["master_id"], r["est_jaccard"])
        for r in minhash_lsh_pairs_cross(batch, master, 0.5).collect()
    }
    want = {
        (r["doc_id_b"], r["doc_id_a"], r["est_jaccard"])
        for r in minhash_lsh_pairs(df, 0.5).collect()
        if r["doc_id_a"] < 10_000 <= r["doc_id_b"]
    }
    assert got == want


# ------------------------------------------------ sequence packing

@settings(**SETTINGS)
@given(seed=st.integers(0, 2**31 - 1))
def test_sequence_packing_matches_python_reference(spark, seed):
    """Offsets/seq ids/split flags equal an independent python
    implementation of md5-ordered per-language packing."""
    import hashlib
    import random
    import re

    from big_data_code_spark.functions.text import BPE_TOKEN_RE
    from big_data_code_spark.plans.llm import SEQ_PACK_LEN, pack_sequences

    rng = random.Random(seed)
    langs = ["aa", "bb", "cc"]
    docs = []
    for i in range(rng.randint(10, 40)):
        words = " ".join(
            rng.choice(["alpha", "beta42", "x!", ""]) for _ in range(rng.randint(0, 900))
        )
        docs.append((i, words, rng.choice(langs)))
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")

    rows = pack_sequences(df, SEQ_PACK_LEN).collect()

    tok_re = re.compile(BPE_TOKEN_RE)
    expected = {}
    for lang in langs:
        group = [d for d in docs if d[2] == lang]
        group.sort(key=lambda d: (hashlib.md5(str(d[0]).encode()).hexdigest(), d[0]))
        off = 0
        for doc_id, text, _ in group:
            n = len(tok_re.findall(text.lower()))
            split = n > 0 and (off + n - 1) // SEQ_PACK_LEN != off // SEQ_PACK_LEN
            expected[doc_id] = (n, off, off // SEQ_PACK_LEN, split)
            off += n
    got = {
        r["doc_id"]: (r["n_tokens"], r["start_offset"], r["seq_id"], r["is_split"])
        for r in rows
    }
    assert got == expected


# ------------------------------------------------ morton interleave

@settings(**SETTINGS)
@given(pairs=st.lists(st.tuples(st.integers(0, 2**16 - 1), st.integers(0, 2**16 - 1)),
                      min_size=1, max_size=50))
def test_morton_interleave_bijective(spark, pairs):
    """morton(a, b) must equal the bit-interleave computed in python
    (hence bijective over 16-bit pairs — tight Z-curve locality
    depends on it)."""
    from big_data_code_spark.sources.layout import morton_interleave

    df = spark.createDataFrame(list(set(pairs)), "a long, b long")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select("a", "b", morton_interleave(F.col("a"), F.col("b")).alias("z")).collect()
    }

    def py_morton(a, b):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    assert got == {(a, b): py_morton(a, b) for a, b in got}


# ------------------------------------------------ BMP codec

bmp_strategy = st.tuples(
    st.integers(1, 9),   # width — covers every stride-padding case
    st.integers(1, 7),   # height
    st.integers(0, 2**31 - 1),  # pixel seed
)


@settings(**SETTINGS)
@given(params=bmp_strategy)
def test_bmp_codec_roundtrip_random_images(params):
    """encode_bmp → decode_image is pixel-exact for arbitrary sizes
    (pure-Python property — no Spark job per example)."""
    import numpy as np

    from big_data_code_spark.functions.multimodal import decode_image, encode_bmp

    w, h, seed = params
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = decode_image(encode_bmp(px))
    assert out.shape == (h, w, 3)
    assert np.array_equal(out, px)


# ------------------------------------------------ int8 quantization

quant_strategy = st.lists(
    st.floats(-1e6, 1e6, allow_nan=False, width=32),
    min_size=1,
    max_size=16,
)


@settings(**SETTINGS)
@given(vec=quant_strategy)
def test_embedding_quantize_error_bound(spark, vec):
    """Dequantized values are within scale/2 of the input (the SQ8
    guarantee), and zero vectors quantize to zeros with scale 0."""
    from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

    from big_data_code_spark.plans import llm

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", LongType()),
    ])
    df = spark.createDataFrame([(0, [float(x) for x in vec], 0)], schema)

    import big_data_code_spark.plans.llm as m

    orig = m._embeddings
    m._embeddings = lambda s, d: df
    try:
        row = llm.embedding_quantize(spark, "ignored").first()
    finally:
        m._embeddings = orig
    scale, q = row["scale"], row["q"]
    fvec = [float(__import__("numpy").float32(x)) for x in vec]
    amax = max(abs(x) for x in fvec)
    if amax == 0.0:
        assert scale == 0.0 and all(v == 0 for v in q)
        return
    assert all(-127 <= v <= 127 for v in q)
    for x, v in zip(fvec, q):
        assert abs(v * scale - x) <= scale / 2 + 1e-9 * amax, (x, v, scale)


# ------------------------------------------------ simhash band pairs

fps_strategy = st.lists(
    st.integers(-(2**63), 2**63 - 1), min_size=2, max_size=24, unique=True
)


@given(fps=fps_strategy, flips=st.lists(st.integers(0, 63), max_size=3))
@settings(**SETTINGS)
def test_simhash_band_pairs_matches_bruteforce(spark, fps, flips):
    """Random 64-bit fingerprints (plus one engineered near-copy of
    the first: ≤3 random bit flips, so close pairs always exist):
    the 4-band bucket join returns EXACTLY the hamming ≤ 3 pairs a
    brute-force scan finds."""
    from itertools import combinations

    from big_data_code_spark.operators.dedup import simhash_band_pairs

    # flip in unsigned space: XOR on a negative Python int can leave
    # the signed range (bit 63 of -2**63 has infinite sign copies)
    near = fps[0] & 0xFFFFFFFFFFFFFFFF
    for b in flips:
        near ^= 1 << b
    near = near - 2**64 if near >= 2**63 else near
    rows = [(i, fp) for i, fp in enumerate(fps)]
    if near not in fps:
        rows.append((len(fps), near))
    df = spark.createDataFrame(rows, "id long, fingerprint long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_band_pairs(df, n_bands=4, max_hamming=3).collect()
    }
    want = {}
    for (ia, fa), (ib, fb) in combinations(rows, 2):
        h = bin((fa ^ fb) & 0xFFFFFFFFFFFFFFFF).count("1")
        if h <= 3:
            want[(ia, ib)] = h
    assert got == want


# ------------------------------------------------ chunk dedup

docs_strategy = st.lists(
    st.lists(st.sampled_from("abcd"), min_size=1, max_size=70).map(
        lambda chars: " ".join(chars)
    ),
    min_size=1,
    max_size=12,
)


@given(texts=docs_strategy)
@settings(**SETTINGS)
def test_chunk_dedup_matches_python_model(spark, texts):
    """Random tiny-vocab corpora (lots of chunk collisions): Spark's
    global first-occurrence chunk dedup equals a sequential Python
    hash-set model over docs in doc_id order."""
    from big_data_code_spark.operators import dedup as _unused  # noqa: F401
    from big_data_code_spark.plans.llm import CHUNK_DEDUP_TOKENS, chunk_dedup

    c = CHUNK_DEDUP_TOKENS
    rows = [(i, t) for i, t in enumerate(texts)]

    # python model
    seen: set[str] = set()
    want = {}
    for i, t in rows:
        toks = t.split()
        chunks = [" ".join(toks[j * c : (j + 1) * c]) for j in range((len(toks) + c - 1) // c)]
        kept = []
        for ch in chunks:
            if ch not in seen:
                seen.add(ch)
                kept.append(ch)
        want[i] = (
            len(chunks),
            len(kept),
            " ".join(kept) if kept else None,
        )

    # spark path on the same frame (bypass the sf_dir corpus loader)
    import big_data_code_spark.plans.llm as llm_mod

    df = spark.createDataFrame(rows, "doc_id long, text string")
    orig = llm_mod._corpus
    llm_mod._corpus = lambda _s, _d: df
    try:
        got = {
            r["doc_id"]: (r["n_chunks"], r["n_kept"], r["kept_text"])
            for r in chunk_dedup(spark, "ignored").collect()
        }
    finally:
        llm_mod._corpus = orig
    assert got == want


# ------------------------------------------------ r7 w3: sessionization

session_events_strategy = st.lists(
    st.tuples(
        st.integers(0, 5),            # user_id
        st.integers(0, 400_000),      # offset seconds over ~4.6 days
    ),
    min_size=1,
    max_size=80,
)


@settings(**SETTINGS)
@given(events=session_events_strategy)
def test_sessionize_frame_matches_python_reference(spark, events):
    """Gap-split sessionization vs a sequential Python scan: same
    session count per user, every within-session gap ≤ GAP, every
    cross-session gap > GAP, counts partition the events."""
    import datetime as dt

    from big_data_code_spark.plans.advanced import (
        SESSION_GAP_US,
        _session_rollup,
        _sessionize_frame,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, u, t0 + dt.timedelta(seconds=off), off * 1_000_000)
        for i, (u, off) in enumerate(events)
    ]
    frame = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, us long"
    )
    got = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["duration_s"])
        for r in _session_rollup(_sessionize_frame(frame)).collect()
    }
    # python reference
    per_user = defaultdict(list)
    for _i, (u, off) in enumerate(events):
        per_user[u].append(off * 1_000_000)
    expect = {}
    for u, offs in per_user.items():
        offs.sort()
        sid, start, prev, n = 0, None, None, 0
        for us in offs:
            if prev is None or us - prev > SESSION_GAP_US:
                if sid:
                    expect[(u, sid)] = (n, (prev - start) // 1_000_000)
                sid += 1
                start, n = us, 0
            n += 1
            prev = us
        expect[(u, sid)] = (n, (prev - start) // 1_000_000)
    assert got == expect


# ------------------------------------------------ r7 w3: greedy selection

vectors_strategy = st.lists(
    st.tuples(
        st.floats(-4, 4, allow_nan=False, width=32),
        st.floats(-4, 4, allow_nan=False, width=32),
        st.floats(-4, 4, allow_nan=False, width=32),
    ),
    min_size=4,
    max_size=16,
).filter(lambda vs: all(any(abs(x) > 1e-3 for x in v) for v in vs))


@settings(**SETTINGS)
@given(vecs=vectors_strategy)
def test_kcenter_greedy_matches_python_on_random_vectors(spark, vecs):
    """Farthest-point traversal on random 3-d vectors: the picked
    ids and radii match a sequential-fold Python greedy exactly
    (bit-identical cosine chain), and the radius curve never
    increases."""
    from big_data_code_spark.operators import ann
    from big_data_code_spark.plans.llm import _kc_state0, _kc_update, _sel_argmax

    k = min(3, len(vecs) - 1)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    frame = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    cand = frame.where(F.col("vec_id") > 0)
    anchor = frame.where(F.col("vec_id") == 0).select(
        F.col("vec").alias("a_vec")
    )
    state = _kc_state0(cand, anchor).localCheckpoint(eager=True)
    got = []
    for _ in range(k):
        pick = _sel_argmax(state, "dmin").localCheckpoint(eager=True)
        prow = pick.collect()[0]
        got.append((prow["p_id"], prow["p_score"]))
        state = _kc_update(state, pick).localCheckpoint(eager=True)

    def cos(a, b):
        d = n = m = 0.0
        for x, y in zip(a, b):
            d += x * y
            n += x * x
            m += y * y
        return d / (math.sqrt(n) * math.sqrt(m))

    pool = {i: [float(x) for x in v] for i, v in enumerate(vecs) if i > 0}
    dmin = {i: 1.0 - cos(v, [float(x) for x in vecs[0]]) for i, v in pool.items()}
    expect = []
    for _ in range(k):
        best = min(pool, key=lambda i: (-dmin[i], i))
        expect.append((best, dmin[best]))
        bv = pool.pop(best)
        del dmin[best]
        for i, v in pool.items():
            dmin[i] = min(dmin[i], 1.0 - cos(v, bv))
    assert got == expect
    radii = [d for _, d in got]
    assert all(a >= b for a, b in zip(radii, radii[1:]))


@settings(**SETTINGS)
@given(vecs=vectors_strategy)
def test_mmr_greedy_matches_python_on_random_vectors(spark, vecs):
    """MMR greedy selection on random 3-d vectors: picks and scores
    match a sequential-fold Python reference exactly."""
    from big_data_code_spark.plans.llm import (
        MMR_LAMBDA,
        _mmr_score,
        _mmr_state0,
        _mmr_update,
        _sel_argmax,
    )

    k = min(3, len(vecs) - 1)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    frame = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    cand = frame.where(F.col("vec_id") > 0)
    anchor = frame.where(F.col("vec_id") == 0).select(
        F.col("vec").alias("a_vec")
    )
    state = _mmr_state0(cand, anchor).localCheckpoint(eager=True)
    got = []
    for _ in range(k):
        pick = _sel_argmax(_mmr_score(state), "score").localCheckpoint(
            eager=True
        )
        prow = pick.collect()[0]
        got.append((prow["p_id"], prow["p_score"]))
        state = _mmr_update(state, pick).localCheckpoint(eager=True)

    def cos(a, b):
        d = n = m = 0.0
        for x, y in zip(a, b):
            d += x * y
            n += x * x
            m += y * y
        return d / (math.sqrt(n) * math.sqrt(m))

    q = [float(x) for x in vecs[0]]
    pool = {i: [float(x) for x in v] for i, v in enumerate(vecs) if i > 0}
    rel = {i: cos(v, q) for i, v in pool.items()}
    maxsim = {i: 0.0 for i in pool}
    mu = round(1 - MMR_LAMBDA, 12)
    expect = []
    for _ in range(k):
        scores = {i: MMR_LAMBDA * rel[i] - mu * maxsim[i] for i in pool}
        best = min(pool, key=lambda i: (-scores[i], i))
        expect.append((best, scores[best]))
        bv = pool.pop(best)
        del maxsim[best]
        for i in pool:
            maxsim[i] = max(maxsim[i], cos(pool[i], bv))
    assert got == expect


@settings(**SETTINGS)
@given(events=session_events_strategy)
def test_lambda_session_stitch_equals_full_rebuild(spark, events):
    """For ANY event set, layer-split sessionization + the boundary
    stitch is row-identical to the full rebuild (the offsets span
    ~4.6 days vs the 24 h cutoff window, so examples cover spanning
    and non-spanning boundaries, speed-only and batch-only users)."""
    import datetime as dt

    from big_data_code_spark.plans.advanced import (
        _lambda_sessions_from_events,
        _session_rollup,
        _sessionize_frame,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, u, t0 + dt.timedelta(seconds=off), off * 1_000_000)
        for i, (u, off) in enumerate(events)
    ]
    frame = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, us long"
    )
    cols = ("user_id", "session_id", "n_events", "session_start",
            "session_end", "duration_s")
    got = sorted(
        tuple(r[c] for c in cols)
        for r in _lambda_sessions_from_events(frame).collect()
    )
    want = sorted(
        tuple(r[c] for c in cols)
        for r in _session_rollup(_sessionize_frame(frame)).collect()
    )
    assert got == want
