"""Synchronous label propagation (community detection).

North-rule extension (SURVEY.md §2.9) on the reference's superstep skeleton:
each superstep, every vertex adopts the most frequent label among its
neighbors, ties broken by the smaller label — a fully deterministic
tie-break, so (like the reference's min-label loop,
/root/reference/src/connected_components.c:117-123) results are identical at
any parallelism.

One superstep = join(sym_edges, labels on src) -> groupBy(dst, label).count()
-> top-1 per dst via min(struct(-cnt, label)) -> vertices with no neighbors
keep their label. Synchronous semantics: all updates read the *previous*
iteration's labels (DataFrame immutability = the reference's double
buffering, connected_components.c:130-132).

Shuffle budget per superstep (same playbook as operators/pagerank.py —
flat pre-partitioned LogicalRDDs): edges are hash(src) once, labels
hash(vid) per iteration, so the gather join and the keep-own-label join are
exchange-free; the two aggregations (count per (dst,label), then min-struct
per dst — an agg with map-side partials instead of a window sort) are the
only data shuffles.

Frontier early-exit (round 3 — LP's analog of the CC frontier in
operators/frontier.py): a vertex's label can only change if at least one
NEIGHBOR's label changed in the previous superstep, so once the changed set
is small, only the "dirty" dsts (those with a changed in-neighbor) need
re-aggregation — every other vertex provably keeps its label (its
neighborhood label multiset is unchanged, so the deterministic top-1 is
unchanged). The changed set is broadcast into a semi-join to find dirty
dsts, the dirty set is broadcast back to filter the gather, and the
count/top-1 shuffles shrink from edge-scale to dirty-neighborhood-scale.
Results are bit-identical to the full superstep (tested), because this is
an exact rewrite, not an approximation.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.checkpoint import CheckpointStore
from ..plans.loop import Loop


def lp_superstep(sym_edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LP round. ``sym_edges``: (src,dst) symmetric, deduped.
    ``labels``: (vid,label). Returns new (vid,label)."""
    counted = (
        sym_edges.join(labels.hint("shuffle_hash"), sym_edges.src == labels.vid)
        .groupBy("dst", "label")
        .agg(F.count("*").alias("cnt"))
    )
    # top-1 per dst as an aggregation, not a window: min over the struct
    # (-cnt, label) IS (count desc, label asc) rank 1, with map-side partial
    # aggregation instead of a full per-partition sort.
    top1 = (
        counted.groupBy("dst")
        .agg(F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("label"))).alias("s"))
        .select(F.col("dst").alias("vid"), F.col("s.label").alias("new_label"))
    )
    return (
        labels.join(top1, "vid", "left")
        .select("vid", F.coalesce("new_label", F.col("label")).alias("label"))
    )


def label_propagation(
    sym_edges: DataFrame,
    vertices: Optional[DataFrame] = None,
    max_iter: int = 20,
    checkpoint: Optional[CheckpointStore] = None,
    frontier_threshold: int = 1_000_000,
    dirty_broadcast_threshold: int = 2_000_000,
    frontier_fraction: float = 0.125,
) -> tuple[DataFrame, list[dict]]:
    """Run synchronous LP to convergence (no label changes) or max_iter.
    Returns ((vid,label), metrics).

    ``frontier_threshold``: max changed-vertex rows for which an iteration
    attempts the dirty-dst frontier rewrite (the changed set is broadcast —
    1M rows ~= 16 MB). ``frontier_fraction``: additionally require
    changed <= frontier_fraction * n_vertices — while most of the graph is
    still churning, the dirty set is ~the whole vertex set and the filter is
    pure overhead (measured 1.5x slower at sf0.1, where >60% of vertices
    change every one of the first 5 iterations); the frontier pays off on
    the CONVERGENCE tail, where changed collapses and dirty neighborhoods
    are genuinely sparse. ``dirty_broadcast_threshold``: max dirty-dst rows
    to broadcast into the gather filter; a larger dirty set falls back to
    the full superstep (same results either way — the frontier path is an
    exact rewrite). Set ``frontier_threshold=-1`` to force full
    supersteps.

    2-cycle detection: synchronous LP on bipartite-ish structures can
    oscillate with period 2 forever (labels(t) == labels(t-2) while
    changed > 0 — the documented limit behavior of sync LP). Each iteration
    fingerprints the full label state (count + order-insensitive bit_xor of
    xxhash64(vid, label) — O(1) driver-side, same machinery as
    operators/cc._checksum); if the state equals the state two iterations
    ago, the deterministic update rule must repeat forever, so the loop
    stops early and the final metrics row carries ``converged="2-cycle"``.
    The returned labels equal what a full run holds at that iteration."""
    if vertices is None:
        vertices = (
            sym_edges.select(F.col("src").alias("vid"))
            .union(sym_edges.select(F.col("dst").alias("vid")))
            .distinct()
        )
    with Loop(sym_edges) as loop:
        # flat + hash(src): the per-superstep gather join streams the edges
        # with no exchange (labels side is hash(vid) = the join key's
        # partitioning)
        sym_edges = loop.flat(sym_edges.select("src", "dst"), "src")

        start_iter, labels = 0, None
        if checkpoint is not None:
            resumed = checkpoint.latest("labelprop")
            if resumed is not None:
                start_iter, labels = resumed
                labels = loop.flat(labels, "vid")
                start_iter += 1
        if labels is None:
            labels = loop.flat(vertices.select("vid", F.col("vid").alias("label")), "vid")

        n_vertices = labels.count()
        changed_gate = min(frontier_threshold, max(1, int(n_vertices * frontier_fraction)))
        changed_df: Optional[DataFrame] = None  # None => assume everything changed
        changed = None
        prev_state, prev2_state = None, None  # label-state fingerprints (t-1, t-2)
        for it in loop.rounds(max_iter, start_iter):
            mode, dirty_rows, gather_edges = "full", None, sym_edges
            if changed_df is not None and changed <= changed_gate:
                # dirty dsts = vertices with at least one changed in-neighbor —
                # the only vertices whose top-1 can differ this superstep.
                dirty = loop.flat(
                    sym_edges.join(
                        F.broadcast(changed_df.select(F.col("vid").alias("src"))),
                        "src",
                        "left_semi",
                    )
                    .select(F.col("dst").alias("vid"))
                    .distinct()
                )
                dirty_rows = dirty.count()
                if dirty_rows <= dirty_broadcast_threshold:
                    mode = "frontier"
                    gather_edges = sym_edges.join(
                        F.broadcast(dirty.select(F.col("vid").alias("dst"))),
                        "dst",
                        "left_semi",
                    )
            # non-dirty vertices keep their label via lp_superstep's left-join
            # coalesce — exactly what a full recompute would assign them.
            old_labels = labels
            new_labels = lp_superstep(gather_edges, labels)
            if checkpoint is not None:
                # durable path: the parquet write cannot carry observations —
                # keep the separate scalar actions.
                new_labels = loop.flat(checkpoint.write("labelprop", it, new_labels), "vid")
                changed_df = loop.flat(
                    new_labels.alias("a")
                    .join(labels.alias("b"), "vid")
                    .where(F.col("a.label") != F.col("b.label"))
                    .select("vid")
                )
                changed = changed_df.count()
                srow = new_labels.agg(
                    F.count("*").alias("n"),
                    F.bit_xor(F.xxhash64("vid", "label")).alias("h"),
                ).collect()[0]
                state = (srow["n"], srow["h"])
            else:
                # the changed count AND the period-2 fingerprint are observed
                # over a hash(vid)-co-partitioned join with the old labels (no
                # exchange), projected away: the emitted rows are identical.
                new_labels, srow = loop.step(
                    new_labels
                    .join(
                        old_labels.select(
                            "vid", F.col("label").alias("_old")
                        ).hint("shuffle_hash"),
                        "vid",
                    ),
                    "vid",
                    keep=("vid", "label"),
                    n=F.count("*"),
                    h=F.bit_xor(F.xxhash64("vid", "label")),
                    changed=F.coalesce(
                        F.sum((F.col("label") != F.col("_old")).cast("long")),
                        F.lit(0),
                    ),
                )
                changed = int(srow["changed"] or 0)
                state = (srow["n"], srow["h"])
                if 0 < changed <= changed_gate:
                    # the next superstep's frontier seed — materialized only
                    # when the frontier rewrite will actually consume it
                    changed_df = loop.flat(
                        new_labels.alias("a")
                        .join(old_labels.alias("b").hint("shuffle_hash"), "vid")
                        .where(F.col("a.label") != F.col("b.label"))
                        .select("vid")
                    )
                else:
                    changed_df = None
            labels = new_labels
            # labels(t) == labels(t-2) with changes still flowing: the
            # deterministic synchronous rule repeats forever from here.
            converged = True if changed == 0 else "2-cycle" if state == prev2_state else False
            extra = {} if dirty_rows is None else {"dirty": dirty_rows}
            m = loop.emit(iter=it, changed=changed, mode=mode, converged=converged, **extra)
            if checkpoint is not None:
                checkpoint.log_metrics("labelprop", m)
            if converged:
                break
            prev2_state, prev_state = prev_state, state
    return labels, loop.metrics
