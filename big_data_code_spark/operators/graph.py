"""Connected components over an edge list — user-ID normalization.

Parity: `EdgifyEquiv` / `BidirectionalEdge` / `IterateEdges` /
`normalizeUserIds` (`BatchWorkflow.java:561-687`). The reference
iterates a Cascalog job that per node emits edges from the smallest
known id to every neighbor, looping until no new "progress" edges
appear — O(diameter) MapReduce rounds.

Spark-first upgrade: **min-label propagation + pointer doubling**.
Each round does

1. propagate: ``label(u) ← min(label(u), min_{v∈N(u)} label(v))``
2. jump:      ``label(u) ← label(label(u))``

The jump step composes the mapping with itself, so label chains
compress geometrically — O(log n) rounds even on paths/cycles
(where naive propagation needs O(diameter)). This is the classic
pointer-jumping/short-cutting technique from Shiloach-Vishkin-style
PRAM CC, the same ingredient behind the large-star/small-star
MapReduce algorithm (Kiveris et al., SOCC'14).

Scale notes: edges stay static (one shuffle-friendly table); each
round is two hash joins + one aggregate on (node) — all partitioned
by node id, so AQE reuses the layout. `cacheutil.materialize`
truncates lineage so the loop's plans stay flat. Convergence is a
cheap count of changed labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cacheutil import materialize


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 60,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    component = min node id reachable (the reference's "smallest
    PersonID wins" rule). Node columns must be orderable (bigint)."""
    # r10: the edge list is consumed four times below (twice by the
    # symmetric-union e, twice by the label seeds) — without
    # truncation each consumer re-runs the whole upstream pair
    # generation (e.g. the LSH band join feeding dedup's CC).
    # Materialize it once; edge lists are the SMALL side of these
    # pipelines at any scale (pairs, not corpora).
    raw = materialize(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    und = raw.where(F.col("a") != F.col("b"))
    # symmetric neighbor list, deduped once; cached via checkpoint —
    # reused every iteration
    e = materialize(
        und.select("a", "b")
        .union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )
    # seed labels from the RAW endpoints (pre self-loop filter) so a
    # node whose only edge is a self-loop still emerges as its own
    # singleton component instead of vanishing from the output
    labels = materialize(
        raw.select(F.col("a").alias("node"))
        .union(raw.select(F.col("b").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )

    for _ in range(max_iterations):
        jumped = materialize(_cc_round(e, labels))

        changed = jumped.where(F.col("label") != F.col("old_label")).count()
        labels = jumped.select("node", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_iterations} rounds")

    return labels.select("node", F.col("label").alias("component"))


def _cc_round(e: DataFrame, labels: DataFrame) -> DataFrame:
    """One propagate+jump round, UN-checkpointed — the loop body of
    `connected_components`."""
    # 1. propagate: min label among self + neighbors
    nbr = (
        e.join(labels.withColumnRenamed("node", "b"), "b")
        .groupBy("a")
        .agg(F.min("label").alias("nmin"))
        .withColumnRenamed("a", "node")
    )
    prop = labels.join(nbr, "node", "left").select(
        "node",
        F.col("label").alias("old_label"),
        F.least("label", F.coalesce("nmin", "label")).alias("label"),
    )
    # 2. pointer jump: label ← label(label). The pre-iteration
    # label rides along as old_label so the convergence check is
    # a filter over the checkpointed result — no extra join (and
    # its shuffle) per round just to diff against the old labels.
    as_parent = prop.select(
        F.col("node").alias("jlabel"), F.col("label").alias("plabel")
    )
    return prop.join(as_parent, prop["label"] == as_parent["jlabel"], "left").select(
        "node", "old_label", F.coalesce("plabel", "label").alias("label")
    )
