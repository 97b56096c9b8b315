"""Deduplication operators for large document corpora.

Four escalating strategies, all declarative DataFrame plans:

- exact: one hash-aggregate on ``md5(text)`` — a single shuffle on
  the 16-byte digest, never on the document body.
- n-gram Jaccard: shingle explode → self-join on a 64-bit shingle
  hash → intersection counts. The join key is ``xxhash64`` of the
  shingle so the shuffle moves 8-byte ints, not strings.
- MinHash + LSH: fixed-width signatures (md5-seeded, so the DuckDB
  oracle can reproduce them bit-for-bit) + banded bucket join. This
  is the 100 TB path: candidate generation touches only
  ``n_bands`` short keys per doc, never the O(n²) pair space.
- SimHash: 64-bit weighted fingerprint per document; near-dup ⇔
  small Hamming distance. Computed fully JVM-side with
  ``aggregate``/``zip_with`` over the token array.

Scale notes: every self-join here is preceded by an explode whose
output is immediately reduced to (id, key) pairs — column pruning
keeps document bodies out of the shuffle. LSH band keys are md5
digests (fixed 32 bytes); AQE handles hot buckets (stop-shingle
skew) at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cacheutil import persist
from ..functions.text import tokenize, word_shingles

N_MINHASHES = 16
LSH_BANDS = 4
LSH_ROWS = N_MINHASHES // LSH_BANDS


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group identical texts by content hash; keep the smallest id.

    Returns (content_hash, keeper_doc_id, n_copies).
    """
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _exploded_shingles(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, shingle) rows, one per shingle *occurrence*.

    Tokens are materialized as a column before shingling (see
    `word_shingles` perf note), then exploded — dedup happens
    relationally downstream where it's distributed, never as an
    O(L²) per-row ``array_distinct``.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    toks = docs.repartition(par).select(
        F.col(id_col).alias("id"), tokenize(F.col(text_col)).alias("tokens")
    )
    sh = toks.select(
        "id", word_shingles(F.col("tokens"), n, distinct=False).alias("shingles")
    )
    return sh.select("id", F.explode("shingles").alias("shingle"))


def _shingle_table(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Distinct (id, shingle_hash) pairs — shingles hashed to int64
    immediately so all downstream shuffles move 8-byte keys."""
    return (
        _exploded_shingles(docs, id_col, text_col, n)
        .select("id", F.xxhash64("shingle").alias("sh"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity ≥ threshold — EXACT, via
    PPJoin-style prefix filtering (Xiao et al., WWW'08).

    A pair with J ≥ τ must share a shingle within each side's
    prefix of length |S| − ⌈τ·|S|⌉ + 1 under any global shingle
    order (if the ≥⌈τ|S|⌉-element intersection avoided the prefix it
    could not fit in the ⌈τ|S|⌉−1 remaining slots). So: join only
    the prefixes of the hash-sorted shingle arrays to get candidate
    pairs (+ length filter |B| ≥ τ|A|), then score candidates with
    one JVM-side ``array_intersect`` on the full arrays — the
    per-shared-shingle pair shuffle of the naive self-join never
    materializes. Same output, ~5× faster at sf0.1, and at 100 TB
    the candidate set scales with near-duplicates rather than with
    shingle-frequency².
    """
    # r10: three consumers (prefix candidate gen + both sides of the
    # scoring join) — persist so the shingle explode + per-doc
    # sorted-set build runs once, not three times (the signature-
    # table convention of `minhash_lsh_pairs`).
    sh = persist(
        _exploded_shingles(docs, id_col, text_col, n)
        .select("id", F.xxhash64("shingle").alias("sh"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_set("sh")).alias("shs"))
        .select(
            "id", "shs", F.size("shs").alias("n_sh"),
            F.slice(
                F.col("shs"), 1,
                F.size("shs") - F.ceil(F.size("shs") * F.lit(threshold)).cast("int") + 1,
            ).alias("prefix"),
        )
    )
    pref = sh.select("id", "n_sh", F.explode("prefix").alias("sh"))
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.id") < F.col("b.id"))
            # J ≥ τ ⇒ τ·max(|A|,|B|) ≤ min(|A|,|B|)
            & (F.col("a.n_sh") * F.lit(threshold) <= F.col("b.n_sh"))
            & (F.col("b.n_sh") * F.lit(threshold) <= F.col("a.n_sh")),
        )
        .select(F.col("a.id").alias("doc_id_a"), F.col("b.id").alias("doc_id_b"))
        .distinct()
    )
    A = sh.select(F.col("id").alias("doc_id_a"), F.col("shs").alias("shs_a"),
                  F.col("n_sh").alias("n_a"))
    B = sh.select(F.col("id").alias("doc_id_b"), F.col("shs").alias("shs_b"),
                  F.col("n_sh").alias("n_b"))
    n_inter = F.size(F.array_intersect("shs_a", "shs_b"))
    jac = n_inter / (F.col("n_a") + F.col("n_b") - n_inter)
    return (
        cand.join(A, "doc_id_a")
        .join(B, "doc_id_b")
        .select("doc_id_a", "doc_id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_MINHASHES,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc minhash signature via One-Permutation Hashing (Li,
    Owen & Zhang, NIPS'12): ONE md5 per shingle; the hash space is
    split into ``n_hashes`` bins by the first hex byte, and sig[j]
    is the min md5 within bin j. Empty bins are filled by rotation
    densification (Shrivastava & Li, ICML'14): borrow the next
    non-empty bin clockwise. One string hash per shingle instead of
    ``n_hashes`` — ~3× cheaper signatures at any scale — with the
    same unbiased Jaccard estimator, and md5-string mins stay
    engine-exact for the DuckDB oracle.

    Returns (id, sig: array<string>); docs with no shingles dropped.

    Shape: explode shingle occurrences → 16 conditional-``min`` agg
    columns. The mins are map-side-combinable partial aggregates, so
    the shuffle carries one ≤16×32-byte row per doc per partition —
    the right plan at any scale (duplicate occurrences don't affect
    a min, so no per-row distinct is needed).
    """
    ex = _exploded_shingles(docs, id_col, text_col, shingle_n)
    m = F.md5(F.col("shingle"))
    hashed = ex.select(
        "id",
        m.alias("m"),
        (F.conv(F.substring(m, 1, 2), 16, 10).cast("int") % n_hashes).alias("bin"),
    )
    agg = hashed.groupBy("id").agg(
        *[
            F.min(F.when(F.col("bin") == j, F.col("m"))).alias(f"h{j}")
            for j in range(n_hashes)
        ]
    )
    # densify with ONE higher-order expression (per bin j: rotate the
    # sparse signature to start at j, take the first non-null), not an
    # unrolled 16×16 coalesce matrix — that 256-node tree costs whole
    # seconds of cold codegen. `raw` is materialized as an attribute
    # first so the lambda body references a column, not 16 inlined
    # copies of the array constructor.
    raw = agg.select(
        "id", F.array(*[F.col(f"h{j}") for j in range(n_hashes)]).alias("raw")
    )
    dense = F.transform(
        F.sequence(F.lit(1), F.lit(n_hashes)),
        lambda j: F.element_at(
            F.filter(
                F.concat(
                    F.slice(F.col("raw"), j, F.lit(n_hashes)),
                    F.slice(F.col("raw"), F.lit(1), j - 1),
                ),
                lambda x: x.isNotNull(),
            ),
            1,
        ),
    )
    return raw.select("id", dense.alias("sig"))


def _band_keys(sig: Column, n_bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> Column:
    """One md5 bucket key per band, with the band index embedded so a
    single equality join covers (band, key)."""
    keys = [
        F.concat(
            F.lit(f"{b}:"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.element_at(sig, b * rows + r + 1).cast("string")
                        for r in range(rows)
                    ],
                )
            ),
        )
        for b in range(n_bands)
    ]
    return F.array(*keys)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    hot_bucket_threshold: int | None = None,
) -> DataFrame:
    """Candidate pairs from banded LSH, filtered by estimated
    Jaccard (fraction of equal signature components).

    Returns (doc_id_a, doc_id_b, est_jaccard), doc_id_a < doc_id_b.

    ``hot_bucket_threshold``: band buckets holding more rows than
    this are split across tasks via `skew.salted_self_pairs` (exact
    same pair set — tested). Set it on stop-shingle-heavy corpora
    where one degenerate band key would otherwise pin a task on a
    |bucket|² expansion; default None keeps the plain equi-join
    (AQE absorbs moderate skew).
    """
    # Three consumers (band explode + both sides of the est-similarity
    # join) would otherwise recompute the 16×md5-per-shingle signature
    # pass; persist it once. At cluster scale this is the "write the
    # signature table" step of a production LSH pipeline.
    sigs = persist(minhash_signatures(docs, id_col, text_col))
    bands = sigs.select("id", F.explode(_band_keys(F.col("sig"))).alias("bk"))
    if hot_bucket_threshold is not None:
        from .skew import salted_self_pairs

        cand = (
            salted_self_pairs(
                bands, key="bk", id_col="id", hot_threshold=hot_bucket_threshold
            )
            .select(
                F.col("id_a").alias("doc_id_a"), F.col("id_b").alias("doc_id_b")
            )
            .distinct()
        )
    else:
        a, b = bands.alias("a"), bands.alias("b")
        cand = (
            a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("doc_id_a"), F.col("b.id").alias("doc_id_b"))
            .distinct()
        )
    sa = sigs.select(F.col("id").alias("doc_id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("doc_id_b"), F.col("sig").alias("sig_b"))
    n_eq = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = n_eq / F.lit(float(N_MINHASHES))
    return (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select("doc_id_a", "doc_id_b", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )


def minhash_lsh_pairs_cross(
    batch: DataFrame,
    master: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_sigs: DataFrame | None = None,
    master_sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs BETWEEN two corpora: each incoming-batch doc
    against the existing master, never batch×batch or master×master.

    This is the incremental-ingest shape of dedup at 100 TB: the
    master's signature table is computed once (in production: read
    from the signature store written on the last ingest — the
    ``sigs`` relation here is exactly that table) and the band join
    only expands candidates that cross the batch/master boundary, so
    per-ingest cost scales with the batch, not the corpus.

    Returns (batch_id, master_id, est_jaccard).

    ``batch_sigs`` / ``master_sigs``: precomputed (id, sig) tables
    (from `minhash_signatures`) — pass the master's stored signature
    table here in production so only the batch is ever re-hashed.
    """
    bsigs = (
        batch_sigs
        if batch_sigs is not None
        else minhash_signatures(batch, id_col, text_col)
    )
    msigs = (
        master_sigs
        if master_sigs is not None
        else minhash_signatures(master, id_col, text_col)
    )
    bband = bsigs.select("id", F.explode(_band_keys(F.col("sig"))).alias("bk"))
    mband = msigs.select("id", F.explode(_band_keys(F.col("sig"))).alias("bk"))
    cand = (
        bband.alias("b")
        .join(mband.alias("m"), "bk")
        .select(F.col("b.id").alias("batch_id"), F.col("m.id").alias("master_id"))
        .distinct()
    )
    sb = bsigs.select(F.col("id").alias("batch_id"), F.col("sig").alias("sig_b"))
    sm = msigs.select(F.col("id").alias("master_id"), F.col("sig").alias("sig_m"))
    n_eq = F.aggregate(
        F.zip_with("sig_b", "sig_m", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = n_eq / F.lit(float(N_MINHASHES))
    return (
        cand.join(sb, "batch_id")
        .join(sm, "master_id")
        .select("batch_id", "master_id", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )


def _simhash_mask(i: int) -> int:
    # bit 63 as a *signed* 64-bit literal (1<<63 overflows long)
    return (1 << i) if i < 63 else -(1 << 63)


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash fingerprint, entirely JVM-side.

    For each token (weight = occurrence count is implicit: duplicate
    tokens contribute once per occurrence), add +1/−1 per bit of
    ``xxhash64(token)``; fingerprint bit i = 1 iff the sum > 0.

    Returns (id, fingerprint: bigint). Near-dup docs land within a
    few bits of Hamming distance (`hamming64`).
    """
    hashed_of = lambda t: F.xxhash64(t)  # noqa: E731
    bit_test = lambda i: F.col("h").bitwiseAND(F.lit(_simhash_mask(i))) != 0  # noqa: E731
    return _simhash_pipeline(docs, id_col, text_col, hashed_of, bit_test)


def simhash_md5(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """`simhash` with the md5-hex token-hash family instead of
    xxhash64 — identical plan shape (explode → 64 partial-agg sums →
    bit pack), but every step is restatable in ANSI-ish SQL: bit i
    of a token is nibble ``i//4`` of its md5 hex string tested
    against ``1 << (i%4)``. This is the oracle-checkable variant
    (see `plans/llm.py::SIMHASH_FINGERPRINT_SQL`); `simhash` with
    xxhash64 stays the cheaper internal path — the fingerprints
    differ by hash family, the near-dup Hamming geometry does not.
    """
    hashed_of = lambda t: F.md5(t)  # noqa: E731
    bit_test = lambda i: (  # noqa: E731
        F.conv(F.substring(F.col("h"), i // 4 + 1, 1), 16, 10)
        .cast("int")
        .bitwiseAND(F.lit(1 << (i % 4)))
        != 0
    )
    return _simhash_pipeline(docs, id_col, text_col, hashed_of, bit_test)


def _simhash_pipeline(docs, id_col, text_col, hashed_of, bit_test) -> DataFrame:
    def mask(i: int) -> int:
        return _simhash_mask(i)

    par = docs.sparkSession.sparkContext.defaultParallelism
    toks = docs.repartition(par).select(
        F.col(id_col).alias("id"), tokenize(F.col(text_col)).alias("tokens")
    )
    # explode + 64 partial-agg sums: the token hash is computed ONCE
    # per occurrence (a materialized column, CSE'd across the 64 agg
    # expressions), and the shuffle carries one 64-long row per doc.
    hashed = toks.select("id", F.explode("tokens").alias("t")).select(
        "id", hashed_of(F.col("t")).alias("h")
    )
    sums = hashed.groupBy("id").agg(
        *[
            F.sum(F.when(bit_test(i), 1).otherwise(-1)).alias(f"b{i}")
            for i in range(64)
        ]
    )
    fp_terms = F.array(
        *[
            F.when(F.col(f"b{i}") > 0, F.lit(mask(i)).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            for i in range(64)
        ]
    )
    fingerprint = F.aggregate(
        fp_terms, F.lit(0).cast("long"), lambda acc, v: acc.bitwiseOR(v)
    )
    # empty-token docs vanish in the explode; re-attach with fp=0
    base = docs.select(F.col(id_col).alias("id"))
    return (
        base.join(sums.select("id", fingerprint.alias("fingerprint")), "id", "left")
        .select("id", F.coalesce("fingerprint", F.lit(0).cast("long")).alias("fingerprint"))
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_band_pairs(
    fps: DataFrame,
    id_col: str = "id",
    fp_col: str = "fingerprint",
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """All UNordered id pairs whose 64-bit fingerprints are within
    ``max_hamming`` bits — EXACTLY, via the pigeonhole band trick:
    split each fingerprint into ``n_bands`` equal bit-bands; any
    pair differing in ≤ ``n_bands - 1`` bits must agree on at least
    one complete band, so a (band_idx, band_value) equi-join
    generates a candidate superset and the Hamming filter keeps the
    true pairs. Requires ``max_hamming < n_bands`` for the
    exactness guarantee (asserted).

    100 TB shape: the candidate join is a hash equi-join on
    (band, value) — candidates scale with docs-per-bucket, never
    all-pairs; the same hot-bucket salting hook as the MinHash LSH
    join applies if a band value degenerates. One ``n_bands``-fold
    fan-out shuffle + one distinct.

    Returns (id_a, id_b, hamming), id_a < id_b.
    """
    assert 64 % n_bands == 0 and max_hamming < n_bands
    width = 64 // n_bands
    mask = (1 << width) - 1
    # both sides of the band self-join consume the fingerprints —
    # persist so the (expensive: explode + 64 partial aggs) SimHash
    # build runs once, exactly like the MinHash signature table.
    fps = persist(fps.select(id_col, fp_col))
    banded = fps.select(
        F.col(id_col).alias("id"),
        F.col(fp_col).alias("fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col(fp_col), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("id", "fp", "b.band", "b.val")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    return pairs.select(
        "id_a",
        "id_b",
        hamming64(F.col("fp_a"), F.col("fp_b")).cast("long").alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)
