"""Approximate-nearest-neighbor search over embedding columns.

- `cosine_topk`: brute-force baseline — broadcast the (small) query
  set against the full corpus, cosine via ``zip_with`` +
  ``aggregate`` (sequential double accumulation, which the DuckDB
  oracle reproduces exactly), window top-k. One broadcast join + one
  shuffle on query id: the right shape for "k queries vs 100 TB of
  vectors".
- `lsh_ann`: the scale path — random-hyperplane (SimHash-for-
  vectors) signatures, banded bucket join to generate candidates,
  exact cosine only within buckets. Hyperplanes are derived
  deterministically from md5 so results are reproducible run-to-run.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cacheutil import persist


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-order double dot product (oracle-stable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    da, db = _as_double(a), _as_double(b)
    return dot(da, db) / (norm(da) * norm(db))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Returns (q_id, rank, vec_id, sim); ties broken by vec_id asc so
    the output is fully deterministic.
    """
    q = F.broadcast(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    )
    sim = cosine(F.col(vec_col), F.col("q_vec")).alias("sim")
    scored = corpus.select(id_col, vec_col).crossJoin(q).select("q_id", id_col, sim)
    from pyspark.sql.window import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", id_col, "sim")
    )


def hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 — reproducible without
    any RNG state, same idea as the md5-seeded minhash family."""
    planes = []
    for j in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"plane:{j}:{i}".encode()).digest()[0]
            row.append(1.0 if h % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature: bit j = 1 iff vec · plane_j > 0."""
    dv = _as_double(vec)
    bits = [
        F.when(
            dot(dv, F.array(*[F.lit(w) for w in plane])) > 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def lsh_signature_arrow(planes: list[list[float]]):
    """Arrow-vectorized twin of `lsh_signature` (r4): a pandas_udf
    computing all sign bits with numpy, accumulating each dot
    SEQUENTIALLY in element order with one mul+add per step — the
    identical IEEE-754 op sequence as the JVM ``aggregate`` fold and
    DuckDB ``list_dot_product``, so the signatures are BIT-IDENTICAL
    (asserted in tests), and every oracle that restates the banding
    stays exact.

    Why it exists: higher-order-function expressions (zip_with +
    aggregate per plane) never enter whole-stage codegen — they are
    interpreted, with per-row array allocation per plane. At 48-64
    planes that interpretation dominates the heavy LSH plans
    (measured 4.4s → 0.8s for 48-plane signatures over 50k vectors).
    The JVM path remains the default for small plans; pass the
    returned udf where signature cost is the bottleneck
    (`cosine_dup_pairs_lsh(arrow_sig=True)`).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    W = [list(map(float, p)) for p in planes]

    # no type hints: `from __future__ import annotations` turns them
    # into strings the udf's hint resolver can't evaluate for
    # locally-imported names
    def _sig(v):
        if len(v) == 0:
            return pd.Series([], dtype="object")
        M = np.stack(v.to_numpy()).astype(np.float64)
        n = M.shape[0]
        bit_cols = []
        for w in W:
            acc = np.zeros(n)
            for i, wi in enumerate(w):
                acc = acc + M[:, i] * wi
            bit_cols.append(np.where(acc > 0, "1", "0"))
        return pd.Series(["".join(row) for row in zip(*bit_cols)])

    return pandas_udf(_sig, "string")


def _lsh_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_bands: int,
) -> DataFrame:
    """(q_id, ``id_col``, sim) for every distinct (query, corpus
    vector) pair sharing at least one LSH band: both sides banded by
    the same md5 hyperplanes, the query side broadcast into a (band,
    slice) equi-join."""
    planes = hyperplanes(dim, n_planes)
    rows = n_planes // n_bands
    sig = lsh_signature(F.col(vec_col), planes)
    bands = F.array(
        *[
            F.concat(F.lit(f"{b}:"), F.substring(F.col("sig"), b * rows + 1, rows))
            for b in range(n_bands)
        ]
    )

    def banded(df: DataFrame, id_alias: str) -> DataFrame:
        return (
            df.select(F.col(id_col).alias(id_alias), F.col(vec_col).alias(f"{id_alias}_vec"), sig.alias("sig"))
            .select(id_alias, f"{id_alias}_vec", F.explode(bands).alias("bk"))
        )

    cand = (
        banded(corpus, "c_id")
        .join(F.broadcast(banded(queries, "q_id")), "bk")
        .select("q_id", "q_id_vec", "c_id", "c_id_vec")
        .distinct()
    )
    return cand.select(
        "q_id",
        F.col("c_id").alias(id_col),
        cosine(F.col("c_id_vec"), F.col("q_id_vec")).alias("sim"),
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """Bucketed ANN: exact cosine only among candidates sharing at
    least one LSH band with the query. Recall is tested against
    `cosine_topk` (`tests/test_llm.py`).

    Returns (q_id, rank, vec_id, sim) — rank over retrieved
    candidates only.
    """
    from pyspark.sql.window import Window

    scored = _lsh_candidates(corpus, queries, id_col, vec_col, dim, n_planes, n_bands)
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", id_col, "sim")
    )


def lsh_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """Radius/range variant of `lsh_ann_topk` (r4): every corpus
    vector with cosine ≥ ``tau`` among the band-sharing candidates
    — the similarity-JOIN primitive (threshold dedup, retrieval
    cutoffs, knn-graph edges), where top-k is the wrong contract.

    Same candidates as `lsh_ann_topk` (`_lsh_candidates`), so the
    plan is exactly oracle-restatable.

    Returns (q_id, vec_id, sim).
    """
    return _lsh_candidates(
        corpus, queries, id_col, vec_col, dim, n_planes, n_bands
    ).where(F.col("sim") >= tau)


#: `ivf_assign` switches from the interpreted-HOF distance
#: expression to the Arrow-vectorized path above this many
#: centroids: the HOF evaluates k×dim lambda steps per row
#: interpreted (fine at the 8-cell ANN index, the dominant cost once
#: k is derived ∝ corpus size — `semdedup_kmeans`), while the Arrow
#: path is one BLAS prefilter + a bounded exact re-rank.
IVF_ASSIGN_ARROW_MIN_CELLS = 17


#: Engage the bound-pruned (super-cell) prefilter once the centroid
#: count reaches this. DEFAULT-OFF for every tested k (r8 measured
#: negative result, kept deliberately): triangle-inequality pruning
#: needs the CENTROID SET to be clustered, and at effective
#: dimension ~64 it is not — max-radius bounds pruned nothing
#: (super-cell radii 3.5× the typical nearest-centroid distance on
#: an 8-dim-manifold corpus), and even member-level ring bounds left
#: 13% survivors (manifold) / 100% (unclustered) — while flat BLAS
#: runs at memory bandwidth. Measured min-of-2 at n=40k, d=64:
#: flat 1.8s/5.4s vs two-level 2.5s/7.6s (k=8k/32k) on the manifold
#: corpus; unclustered the same. The bailout caps the worst case at
#: flat + a bounded probe prefix, so the path is safe to enable on
#: genuinely low-intrinsic-dim centroid sets — but the engine's
#: REGISTERED n^1.5 scale path for derived-k clustering is
#: `plans/llm.semdedup_hierarchical` (two-stage Lloyd), which needs
#: no pruning luck.
IVF_TWO_LEVEL_MIN_CELLS = 1 << 16

#: RELATIVE distance slack absorbing BLAS-vs-fold float error in the
#: triangle-inequality pruning: applied as
#: ``margin * (1 + d)`` so it scales with the row's distance
#: magnitude (r9, ADVICE — BLAS error grows with |x|², so a purely
#: absolute 1e-6 could be exceeded by large-magnitude vectors and
#: void the bound-proved candidate guarantee; observed BLAS error is
#: ~1e-13 relative, leaving 7 orders of headroom at any scale).
_TWO_LEVEL_MARGIN = 1e-6

#: Probe columns before the flat-dgemm fallback: bound pruning is
#: data-dependent, so the worst case (near-uniform embeddings) is
#: capped at flat + this many grouped probes.
_TWO_LEVEL_BAIL = 4


def ivf_assign_cells_arrow(centroids: list[list[float]], n_prefilter: int = 6):
    """Arrow-vectorized nearest-centroid assignment (r7) — the
    `lsh_signature_arrow` pattern applied to the k-means argmin:
    a pandas_udf mapping a double-array column to the nearest
    centroid's index, BIT-IDENTICAL to the interpreted HOF fold in
    `_centroid_dists` (asserted in tests).

    Two legs:

    1. BLAS prefilter: squared-L2 ranking via ``|c|² - 2x·Cᵀ`` (one
       dgemm; the per-row |x|² term is constant across cells, so
       dropping it cannot change any row's cell ORDER and saves a
       full pass over the (rows, k) block). Selects each row's
       ``n_prefilter`` closest CANDIDATE cells. Pairwise-summed
       BLAS floats differ from the fold by ~1e-13 relative, so this
       leg only CHOOSES candidates, never the winner.
    2. Exact re-rank: for the candidates only, the squared distance
       is re-accumulated with one add+mul per dimension in element
       order — the identical IEEE-754 op sequence as the JVM
       ``aggregate`` fold and the oracle's ``list_sum`` — and the
       argmin over candidates (sorted ascending, first-min wins)
       reproduces the HOF's ``array_position`` smallest-index
       tie-break.

    The prefilter can only mis-assign if ≥ n_prefilter centroids sit
    within float-rounding distance (~1e-12) of the true minimum —
    measure-zero for continuous embeddings, and the trained Lloyd
    centroids are distinct by construction.

    r8 — two-level prefilter for the derived-k family (VERDICT r7
    #5): once k ≥ IVF_TWO_LEVEL_MIN_CELLS, the flat (rows × k)
    dgemm — the n² term when k ∝ n — is replaced by a super-cell
    index built ONCE at closure creation (√k super-centroids via a
    3-round driver-side Lloyd over the centroid matrix, plus each
    super-cell's covering radius). Per row: rank super-cells by the
    triangle-inequality LOWER BOUND max(0, d(x, sc_j) − r_j), probe
    their members in doubling waves, and STOP only when the next
    unprobed bound exceeds the current m-th best candidate distance
    plus a float-slack margin — so the true argmin is in the
    candidate set with the same (stronger, bound-proved) guarantee
    as the flat top-m, and the bit-exact re-rank below is unchanged.
    Work drops from n·k·d to n·(√k + probes·k/√k)·d ≈ n·√k·d.
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.array([[float(w) for w in c] for c in centroids], dtype=np.float64)
    CT = np.ascontiguousarray(C.T)
    k, d = C.shape
    m = min(n_prefilter, k)
    csq = (C * C).sum(axis=1)

    two_level = k >= IVF_TWO_LEVEL_MIN_CELLS
    if two_level:
        s = int(math.ceil(math.sqrt(k)))

        def _to_sc(sc: np.ndarray) -> np.ndarray:
            """Nearest super-centroid per centroid row (chunked; the
            row-constant |c|² term is argmin-invariant)."""
            scs = (sc * sc).sum(axis=1)
            out = np.empty(k, dtype=np.int64)
            for lo in range(0, k, 4096):
                blk = C[lo : lo + 4096]
                dd = scs[None, :] - 2.0 * (blk @ sc.T)
                out[lo : lo + 4096] = dd.argmin(axis=1)
            return out

        # deterministic strided init + 3 Lloyd rounds on the
        # CENTROID matrix (driver-side, O(k·√k·d) once per index)
        SC = C[(np.arange(s, dtype=np.int64) * k) // s].copy()
        for _ in range(3):
            asg = _to_sc(SC)
            for j in range(s):
                msk = asg == j
                if msk.any():
                    SC[j] = C[msk].mean(axis=0)
        asg = _to_sc(SC)
        SCT = np.ascontiguousarray(SC.T)
        scsq = (SC * SC).sum(axis=1)
        # per-super-cell member id lists, transposed member blocks
        # (so each probe is one clean dgemm), |c|² slices, radii
        sort_idx = np.argsort(asg, kind="stable")
        srt = asg[sort_idx]
        cuts = np.searchsorted(srt, np.arange(s + 1))
        members = [sort_idx[cuts[j] : cuts[j + 1]] for j in range(s)]
        mem_ct = [np.ascontiguousarray(C[mm].T) for mm in members]
        mem_csq = [csq[mm] for mm in members]
        diffs = C - SC[asg]
        per_rad = np.sqrt((diffs * diffs).sum(axis=1))
        radius = np.zeros(s)
        np.maximum.at(radius, asg, per_rad)
    # rows per kernel chunk: bounds the (CH, k) distance buffer at
    # ~16 MB whatever k is. Every large array below is PREALLOCATED
    # once per task and reused across chunks (``out=`` / in-place
    # ops): faulting in fresh multi-MB numpy allocations measured
    # ~30 MB/s on this host class (nonlinear in size — small mallocs
    # are fine, >tens-of-MB pathological), so a fresh (n, k) temp
    # per op made the naive kernel ~100x slower than its flops.
    # two-level never allocates the (CH, k) block — its big temps
    # are (CH, s) bound matrices and per-group member dgemms, so it
    # takes a LARGER chunk (amortizes the per-group python overhead:
    # groups per probe column ≈ min(s, chunk), rows per group ≈
    # chunk/s — bigger chunks mean fewer, fatter dgemms)
    CH = max(
        128,
        min(8192, 2_000_000 // max(1, 4 * s))
        if two_level
        else min(2048, 2_000_000 // max(1, k)),
    )
    buf: dict[str, np.ndarray] = {}

    # no type hints: `from __future__ import annotations` turns them
    # into strings the udf's hint resolver can't evaluate for
    # locally-imported names
    def _cells(v):
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        X = np.stack(v.to_numpy()).astype(np.float64)
        n = X.shape[0]
        if not buf:
            if not two_level:
                buf["db"] = np.empty((CH, k))
            buf["cand"] = np.empty((CH, m), dtype=np.int64)
            buf["cg"] = np.empty((CH, m, d))
            buf["acc"] = np.empty((CH, m))
            buf["diff"] = np.empty((CH, m))
        out = np.empty(n, dtype="int32")
        for lo in range(0, n, CH):
            hi = min(lo + CH, n)
            c = hi - lo
            Xb = X[lo:hi]
            cand = buf["cand"][:c]
            if two_level:
                # bound-pruned candidate search over the super-cell
                # index; fills cand with the top-m BLAS candidates.
                # Rows are GROUPED BY PROBED SUPER-CELL so every
                # member-distance block is one contiguous dgemm
                # against the precomputed mem_ct[j] (a per-row
                # gathered einsum measured ~14x slower than flat at
                # k=2000; this shape beats flat past the threshold).
                xsq = (Xb * Xb).sum(axis=1)
                dsc2 = scsq[None, :] - 2.0 * (Xb @ SCT) + xsq[:, None]
                np.maximum(dsc2, 0.0, out=dsc2)
                lb = np.sqrt(dsc2)
                lb -= radius[None, :]
                np.maximum(lb, 0.0, out=lb)
                order = np.argsort(lb, axis=1, kind="stable")
                lb_sorted = np.take_along_axis(lb, order, axis=1)
                best_d = np.full((c, m), np.inf)
                best_id = np.full((c, m), -1, dtype=np.int64)
                active = np.arange(c)
                # bound-pruning quality is DATA-dependent (triangle
                # bounds prune well on clustered embeddings, poorly
                # on near-uniform 64-d noise): rows still unresolved
                # after _TWO_LEVEL_BAIL probe columns fall back to
                # one flat dgemm, so the worst case is flat + a
                # bounded prefix, never a per-group slog over all √k
                # columns
                for p in range(min(s, _TWO_LEVEL_BAIL)):
                    if p > 0:
                        # an unprobed centroid can still enter the
                        # top-m only while its lower bound is within
                        # the float margin of the m-th best
                        mth = np.sqrt(
                            np.maximum(best_d[active].max(axis=1), 0.0)
                        )
                        active = active[
                            lb_sorted[active, p]
                            <= mth + _TWO_LEVEL_MARGIN * (1.0 + mth)
                        ]
                    if active.size == 0:
                        break
                    sc_col = order[active, p]
                    srt2 = np.argsort(sc_col, kind="stable")
                    act_s = active[srt2]
                    cells_s = sc_col[srt2]
                    cut = np.nonzero(np.diff(cells_s))[0] + 1
                    starts = np.concatenate(([0], cut))
                    ends = np.concatenate((cut, [cells_s.size]))
                    for g0, g1 in zip(starts, ends):
                        j = int(cells_s[g0])
                        mem = members[j]
                        if mem.size == 0:
                            continue
                        r = act_s[g0:g1]
                        D = (
                            xsq[r][:, None]
                            + mem_csq[j][None, :]
                            - 2.0 * (Xb[r] @ mem_ct[j])
                        )
                        alld = np.concatenate([best_d[r], D], axis=1)
                        alli = np.concatenate(
                            [
                                best_id[r],
                                np.broadcast_to(
                                    mem, (r.size, mem.size)
                                ),
                            ],
                            axis=1,
                        )
                        part = np.argpartition(alld, m - 1, axis=1)[
                            :, :m
                        ]
                        best_d[r] = np.take_along_axis(alld, part, axis=1)
                        best_id[r] = np.take_along_axis(
                            alli, part, axis=1
                        )
                if active.size:
                    # final resolve check, then flat fallback for
                    # whatever the bounds could not close out
                    if _TWO_LEVEL_BAIL < s:
                        mth = np.sqrt(
                            np.maximum(best_d[active].max(axis=1), 0.0)
                        )
                        active = active[
                            lb_sorted[active, min(_TWO_LEVEL_BAIL, s - 1)]
                            <= mth + _TWO_LEVEL_MARGIN * (1.0 + mth)
                        ]
                    else:
                        active = active[:0]
                if active.size:
                    # sub-chunk the fallback so the (rows, k) block
                    # stays ~16 MB regardless of active-set size
                    fb = max(64, 2_000_000 // max(1, k))
                    for alo in range(0, active.size, fb):
                        r = active[alo : alo + fb]
                        db = csq[None, :] - 2.0 * (Xb[r] @ CT)
                        rows = np.arange(r.size)
                        fcand = np.empty((r.size, m), dtype=np.int64)
                        for j in range(m):
                            idx = np.argmin(db, axis=1)
                            fcand[:, j] = idx
                            db[rows, idx] = np.inf
                        best_id[r] = fcand
                cand[:] = np.sort(best_id, axis=1)
            elif k > m:
                db = buf["db"][:c]
                # BLAS prefilter: |c|^2 - 2 x.C^T, in place (the
                # row-constant |x|^2 term is argmin-invariant)
                np.dot(Xb, CT, out=db)
                db *= -2.0
                db += csq[None, :]
                # top-m via m argmin+mask passes (argpartition would
                # allocate a fresh (c, k) index array per chunk)
                rows = np.arange(c)
                for j in range(m):
                    idx = np.argmin(db, axis=1)
                    cand[:, j] = idx
                    db[rows, idx] = np.inf
                cand.sort(axis=1)  # ascending cell ids → HOF tie-break
            else:
                cand[:] = np.arange(k)[None, :]
            # exact re-rank: element-order fold, one mul+add per step
            cg = buf["cg"][:c]
            np.take(C, cand, axis=0, out=cg)
            acc = buf["acc"][:c]
            diff = buf["diff"][:c]
            acc[:] = 0.0
            for i in range(d):
                np.subtract(Xb[:, i, None], cg[:, :, i], out=diff)
                diff *= diff
                acc += diff
            pick = np.argmin(acc, axis=1)  # first occurrence = smallest id
            out[lo:hi] = cand[np.arange(c), pick]
        return pd.Series(out)

    return pandas_udf(_cells, "int")


def dot_arrow():
    """Arrow-vectorized dot product over two double-array columns —
    the `lsh_signature_arrow` contract applied to the pair-grain hot
    loop: accumulates SEQUENTIALLY in element order with one mul+add
    per step, the identical IEEE-754 op sequence as the JVM
    ``aggregate`` fold (`dot`) and DuckDB ``list_dot_product``, so
    results are BIT-IDENTICAL to the interpreted HOF (asserted in
    tests) and every oracle restating a cosine stays exact.

    Why it exists: a candidate-pair cosine via interpreted HOFs
    costs ~30 µs/pair (measured) — at the ~10⁷ candidate pairs a
    bucketed dedup emits per 10⁵-vector corpus that interpretation
    IS the query's wall time. This kernel is ~100 ns/pair.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _dot(a, b):
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(a.to_numpy()).astype(np.float64)
        B = np.stack(b.to_numpy()).astype(np.float64)
        n, d = A.shape
        acc = np.zeros(n)
        tmp = np.empty(n)
        for i in range(d):  # element-order fold, one mul+add per step
            np.multiply(A[:, i], B[:, i], out=tmp)
            acc += tmp
        return pd.Series(acc)

    return pandas_udf(_dot, "double")


def ivf_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
    arrow: bool | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid by squared L2.

    Centroids are a driver-side list (k ≪ data; k×dim doubles), so
    the assignment is a broadcast nested-loop against k literal rows
    — no shuffle on the big side beyond the final argmin window-free
    reduction (argmin computed with ``array_position`` over the
    per-row distance array, fully per-row).

    ``arrow`` (default auto: k ≥ IVF_ASSIGN_ARROW_MIN_CELLS): use
    the bit-identical Arrow-vectorized argmin — the interpreted HOF
    costs k×dim lambda evals per row, which dominates once the cell
    count is derived ∝ corpus size (`semdedup_kmeans`, r7).
    """
    dv = _as_double(F.col(vec_col))
    if arrow is None:
        arrow = len(centroids) >= IVF_ASSIGN_ARROW_MIN_CELLS
    if arrow:
        cell = ivf_assign_cells_arrow(centroids)(dv).alias("cell")
    else:
        dists = _centroid_dists(dv, centroids)
        cell = (
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("int")
            .alias("cell")
        )
    return vectors.select(F.col(id_col).alias("id"), dv.alias("v"), cell)


def _centroid_dists(vec: Column, centroids: list[list[float]]) -> Column:
    """Squared-L2 distance to every centroid, as ONE ``transform``
    over a 2-D centroid literal. K separate expression trees would
    compile K copies of the 64-wide loop into whole-stage codegen
    (the dominant cost at small K×dim); one lambda over an array of
    arrays keeps the generated code constant-size. The centroid
    matrix is a SINGLE ``Literal`` node (not K×dim nested
    ``CreateArray`` calls) — analysis/codegen stays flat in K×dim,
    which dominated wall time on the iterative trainer."""
    c2d = F.lit([[float(w) for w in c] for c in centroids])
    return F.transform(
        c2d,
        lambda c: F.aggregate(
            F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )


def ivf_train(
    corpus: DataFrame,
    n_cells: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic k-means-lite IVF training.

    Init: hash-partition ids into cells (md5-stable, no RNG), cell
    centroid = element-wise mean. Then ``iters`` Lloyd rounds:
    nearest-centroid assignment (per-row, shuffle-free) + mean
    recompute (posexplode → one agg — map-side combinable).
    Only the k×dim centroid matrix ever reaches the driver; at
    cluster scale this trains on a sample the same way.
    """
    dv = _as_double(F.col(vec_col))
    assigned = corpus.select(
        F.col(id_col).alias("id"), dv.alias("v"),
        (F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 7), 16, 10)
         .cast("long") % n_cells).cast("int").alias("cell"),
    )
    prev = None
    for _ in range(iters + 1):
        # persist each round: the next assignment reads this round's
        # cells, and without it every means.collect() re-runs the
        # whole lazy chain from the raw scan (quadratic recompute)
        assigned = persist(assigned)
        # element-wise mean via posexplode → ONE avg aggregate.
        # `dim` parallel avg(element_at) columns give the same
        # shuffle volume (map-side combine → k×dim partials either
        # way) but cost seconds of whole-stage-codegen compile for
        # the 64-wide aggregate function; the single-avg plan
        # compiles once, instantly, every round.
        means = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
        )
        rows: dict[int, dict[int, float]] = {}
        for r in means.collect():
            rows.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        centroids = [
            [rows[c][i] for i in range(len(rows[c]))] for c in sorted(rows)
        ]
        if prev is not None:
            prev.unpersist()
        prev = assigned
        assigned = ivf_assign(assigned, centroids, "id", "v")
    if prev is not None:
        prev.unpersist()
    return centroids


def ivf_assign_sub_arrow(cents_by_group: dict[int, list[list[float]]]):
    """Grouped nearest-centroid assignment (r8 — the level-2 leg of
    hierarchical clustering): per row, argmin over ITS group's
    centroid block only. Each group's block is O(√k) centroids, so
    there is no prefilter — EVERY candidate is re-ranked with the
    exact element-order fold (one add+mul per dimension, ascending),
    and numpy's first-occurrence argmin reproduces the smallest-
    index tie-break — bit-identical to the interpreted HOF and the
    oracle's ``list_sum(list_transform(...))``/pick-first-rank.

    Rows are grouped by sorting within the Arrow batch, so each
    group runs one vectorized fold — never a per-row python loop."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    blocks = {
        int(g): np.array([[float(w) for w in c] for c in cs], dtype=np.float64)
        for g, cs in cents_by_group.items()
    }

    def _sub(g, v):
        n = len(g)
        if n == 0:
            return pd.Series([], dtype="int32")
        G = g.to_numpy()
        X = np.stack(v.to_numpy()).astype(np.float64)
        out = np.empty(n, dtype="int32")
        order = np.argsort(G, kind="stable")
        Gs = G[order]
        cuts = np.nonzero(np.diff(Gs))[0] + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [n]))
        for s0, s1 in zip(starts, ends):
            rows = order[s0:s1]
            B = blocks[int(Gs[s0])]
            k2, d = B.shape
            # chunk rows so the (rows, k2) accumulator stays small
            ch = max(64, 200_000 // max(1, k2))
            for lo in range(0, rows.size, ch):
                r = rows[lo : lo + ch]
                Xc = X[r]
                acc = np.zeros((r.size, k2))
                for i in range(d):
                    diff = Xc[:, i, None] - B[None, :, i]
                    acc += diff * diff
                out[r] = acc.argmin(axis=1).astype("int32")
        return pd.Series(out)

    return pandas_udf(_sub, "int")


def ivf_train_grouped(
    assigned: DataFrame,
    n_sub: int,
    iters: int = 1,
    salt: str = "sub:",
) -> dict[int, list[list[float]]]:
    """Level-2 Lloyd WITHIN each level-1 cell, all groups in one
    Spark job per round (r8 — the hierarchical-clustering trainer):
    md5-stable init ``sub = md5(salt‖id) % n_sub`` inside each
    group, then ``iters`` rounds of (per-(group, sub) element-wise
    mean → grouped exact reassignment). Returns
    {group: [k2_g centroids]} with each group's non-empty init subs
    densely renumbered in sub order — the same dense-renumber
    contract as `ivf_train`, restated per group by the oracle's
    ``row_number() OVER (PARTITION BY cell ORDER BY sub)``.

    ``assigned``: (id, v, cell) — `ivf_assign`'s output. Only the
    Σ_g k2_g × dim centroid table reaches the driver (the same
    footprint as the flat trainer's k × dim)."""
    df = assigned.select(
        F.col("cell").alias("g"),
        "id",
        "v",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt), F.col("id").cast("string"))),
                    1,
                    7,
                ),
                16,
                10,
            ).cast("long")
            % n_sub
        )
        .cast("int")
        .alias("sub"),
    )
    prev = None
    cents: dict[int, list[list[float]]] = {}
    for _ in range(iters + 1):
        df = persist(df)
        means = (
            df.select("g", "sub", F.posexplode("v").alias("pos", "x"))
            .groupBy("g", "sub", "pos")
            .agg(F.avg("x").alias("m"))
        )
        rows: dict[int, dict[int, dict[int, float]]] = {}
        for r in means.collect():
            rows.setdefault(r["g"], {}).setdefault(r["sub"], {})[r["pos"]] = r["m"]
        cents = {
            g: [
                [subs[sb][i] for i in range(len(subs[sb]))]
                for sb in sorted(subs)
            ]
            for g, subs in rows.items()
        }
        if prev is not None:
            prev.unpersist()
        prev = df
        df = df.select(
            "g",
            "id",
            "v",
            ivf_assign_sub_arrow(cents)(F.col("g"), F.col("v")).alias("sub"),
        )
    if prev is not None:
        prev.unpersist()
    return cents


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN: exact cosine only inside the ``n_probe`` cells
    nearest to each query — the classic inverted-file pruning. The
    candidate join is an equi-join on cell id (shuffle or broadcast
    by size), never an all-pairs cross join.

    ``centroids``: a prebuilt index from `ivf_train` — pass it to
    separate the one-time index build from per-query-set search,
    the way every production IVF deployment does (train once, store
    the k×dim matrix, serve many searches).

    Returns (q_id, rank, vec_id, sim); recall vs `cosine_topk` is
    asserted in tests.
    """
    if centroids is None:
        centroids = ivf_train(corpus, n_cells, iters, id_col, vec_col)
    cells = ivf_assign(corpus, centroids, id_col, vec_col).select(
        F.col("id").alias("c_id"), F.col("v").alias("c_vec"), "cell"
    )

    qv = _as_double(F.col(vec_col))
    qdists = _centroid_dists(qv, centroids)
    probe = (
        queries.select(F.col(id_col).alias("q_id"), qv.alias("q_vec"), qdists.alias("d"))
        .select(
            "q_id", "q_vec",
            F.explode(
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.transform(
                                F.col("d"),
                                lambda dist, i: F.struct(dist.alias("dist"), i.alias("cell")),
                            )
                        ),
                        lambda s: s["cell"],
                    ),
                    1, n_probe,
                )
            ).alias("cell"),
        )
    )
    cand = cells.join(F.broadcast(probe), "cell")
    scored = cand.select(
        "q_id",
        F.col("c_id").alias(id_col),
        (dot(F.col("c_vec"), F.col("q_vec"))
         / (norm(F.col("c_vec")) * norm(F.col("q_vec")))).alias("sim"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", id_col, "sim")
    )


def lsh_base(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 32,
    arrow_sig: bool = False,
) -> DataFrame:
    """The (id, v, nrm, sig) signature frame both LSH pair operators
    consume — exposed so callers running SEVERAL pair passes over
    the same side (`knn_graph_incremental`: master self-join +
    batch x master cross + batch self-join) compute and persist each
    side's signatures ONCE (in production this IS the stored
    signature table; r7 review — the inline build paid a full extra
    Arrow signature pass per leg)."""
    planes = hyperplanes(dim, n_planes)
    dv = _as_double(F.col(vec_col))
    sig_col = (
        lsh_signature_arrow(planes)(F.col(vec_col))
        if arrow_sig
        else lsh_signature(F.col(vec_col), planes)
    )
    return vectors.select(
        F.col(id_col).alias("id"),
        dv.alias("v"),
        norm(dv).alias("nrm"),
        sig_col.alias("sig"),
    )


def cosine_dup_pairs_lsh(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 32,
    n_bands: int = 4,
    arrow_sig: bool = False,
    base: DataFrame | None = None,
    arrow_dot: bool = False,
) -> DataFrame:
    """Near-dup pairs (cos ≥ threshold) via banded hyperplane LSH —
    the 100 TB plan: candidates come from an equi-join on
    (band, signature-slice), never an all-pairs cross join, so work
    scales with bucket co-occupancy instead of n².

    Band dedup is shuffle-free: both sides carry the full signature,
    and a pair is emitted only from the FIRST band whose slices
    agree (``array_position`` over per-band equality) — no
    ``distinct`` over candidate pairs.

    With rows = n_planes/n_bands sign bits per band, a pair at angle
    θ shares a given band with prob (1-θ/π)^rows; at the near-dup
    angles this detector targets (cos ≥ 0.95 ⇒ θ ≤ 0.32 rad) the
    all-bands miss probability is < 1e-4, and ≈1e-24 for the
    perturbation-seeded dups (θ ≈ 0.01) — `tests/test_llm.py`
    asserts exact agreement with `cosine_dup_pairs` on the corpus.
    Size rows ≈ log2(n_vectors) at larger corpora to keep buckets
    near-constant.

    Returns (vec_id_a, vec_id_b, cos) with vec_id_a < vec_id_b —
    the same schema and, at near-dup thresholds, the same rows as
    the brute-force baseline.
    """
    rows = n_planes // n_bands
    # arrow_sig: bit-identical Arrow-vectorized signature (see
    # `lsh_signature_arrow`) for plans where the interpreted HOF
    # signature dominates (many planes × many vectors). ``base``:
    # a precomputed `lsh_base` frame (same params) — the stored
    # signature table, shared across pair passes.
    if base is None:
        base = lsh_base(vectors, id_col, vec_col, dim, n_planes, arrow_sig)
    slices = F.array(
        *[F.substring(F.col("sig"), b * rows + 1, rows) for b in range(n_bands)]
    )
    exploded = base.select(
        "id", "v", "nrm", "sig", F.posexplode(slices).alias("band", "slice")
    )

    def side(suffix: str) -> DataFrame:
        return exploded.select(
            F.col("id").alias(f"id{suffix}"),
            F.col("v").alias(f"v{suffix}"),
            F.col("nrm").alias(f"nrm{suffix}"),
            F.col("sig").alias(f"sig{suffix}"),
            "band",
            "slice",
        )

    cand = (
        side("_a")
        .join(side("_b"), ["band", "slice"])
        .where(F.col("id_a") < F.col("id_b"))
    )
    band_eq = F.array(
        *[
            F.substring(F.col("sig_a"), b * rows + 1, rows)
            == F.substring(F.col("sig_b"), b * rows + 1, rows)
            for b in range(n_bands)
        ]
    )
    first_shared = cand.where(F.col("band") == F.array_position(band_eq, F.lit(True)) - 1)
    # arrow_dot: the bit-identical pair-grain Arrow fold (`dot_arrow`)
    # for plans that keep EVERY candidate (threshold = -1, the kNN
    # graph family) — the interpreted HOF costs ~30 us/pair there.
    dot_fn = dot_arrow() if arrow_dot else dot
    cos = dot_fn(F.col("v_a"), F.col("v_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return first_shared.select(
        F.col("id_a").alias("vec_id_a"),
        F.col("id_b").alias("vec_id_b"),
        cos.alias("cos"),
    ).where(F.col("cos") >= threshold)


def cosine_pairs_lsh_cross(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 32,
    n_bands: int = 4,
    arrow_sig: bool = False,
    left_base: DataFrame | None = None,
    right_base: DataFrame | None = None,
    arrow_dot: bool = False,
) -> DataFrame:
    """`cosine_dup_pairs_lsh` between two DISJOINT vector sets — the
    incremental-maintenance shape: a new BATCH joins the (stored, in
    production) master signature table, so per-ingest candidate work
    is batch×bucket-density, never master×master. Same banding, same
    first-shared-band dedup (no ``distinct`` over candidates), same
    fold cosine as the self-join operator, so batch∪master unions
    reproduce a full rebuild exactly (the `knn_graph_incremental`
    contract, asserted against the full-rebuild oracle).

    Returns (vec_id_a, vec_id_b, cos) with vec_id_a from ``left``
    and vec_id_b from ``right`` (ids must be disjoint across sides).
    """
    rows = n_planes // n_bands

    def banded(df: DataFrame, pre: DataFrame | None, suffix: str) -> DataFrame:
        base = (
            lsh_base(df, id_col, vec_col, dim, n_planes, arrow_sig)
            if pre is None
            else pre
        )
        base = base.select(
            *[
                F.col(c).alias(f"{c}{suffix}")
                for c in ("id", "v", "nrm", "sig")
            ]
        )
        slices = F.array(
            *[
                F.substring(F.col(f"sig{suffix}"), b * rows + 1, rows)
                for b in range(n_bands)
            ]
        )
        return base.select(
            f"id{suffix}", f"v{suffix}", f"nrm{suffix}", f"sig{suffix}",
            F.posexplode(slices).alias("band", "slice"),
        )

    cand = banded(left, left_base, "_a").join(
        banded(right, right_base, "_b"), ["band", "slice"]
    )
    band_eq = F.array(
        *[
            F.substring(F.col("sig_a"), b * rows + 1, rows)
            == F.substring(F.col("sig_b"), b * rows + 1, rows)
            for b in range(n_bands)
        ]
    )
    first_shared = cand.where(
        F.col("band") == F.array_position(band_eq, F.lit(True)) - 1
    )
    # arrow_dot: the bit-identical pair-grain Arrow fold (`dot_arrow`)
    # for plans that keep EVERY candidate (threshold = -1, the kNN
    # graph family) — the interpreted HOF costs ~30 us/pair there.
    dot_fn = dot_arrow() if arrow_dot else dot
    cos = dot_fn(F.col("v_a"), F.col("v_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return first_shared.select(
        F.col("id_a").alias("vec_id_a"),
        F.col("id_b").alias("vec_id_b"),
        cos.alias("cos"),
    ).where(F.col("cos") >= threshold)


def cosine_dup_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All vector pairs with cosine ≥ threshold (embedding near-dup
    detection). Brute-force all-pairs — correct at any SF and the
    oracle-checkable baseline; at cluster scale the same predicate
    runs inside `lsh_ann_topk`'s band buckets instead (candidates
    only), which `tests/test_llm.py` shows recovers the true
    neighbors.

    Returns (vec_id_a, vec_id_b, cos) with vec_id_a < vec_id_b.

    Norms are computed ONCE per vector before the pair join (a
    scalar column, so the O(n²) stage does one dot product + one
    divide per pair instead of three dots). The formula stays
    ``dot/(na*nb)`` — bit-identical to the oracle's expression since
    the hoisted norm has the same double value it would compute
    inline.
    """
    dv = _as_double(F.col(vec_col))
    with_norm = vectors.select(
        F.col(id_col).alias("id"), dv.alias("v"), norm(dv).alias("nrm")
    )
    a = with_norm.select(
        F.col("id").alias("vec_id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = with_norm.select(
        F.col("id").alias("vec_id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    pairs = a.join(b, F.col("vec_id_a") < F.col("vec_id_b"))
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return pairs.select("vec_id_a", "vec_id_b", cos.alias("cos")).where(
        F.col("cos") >= threshold
    )
