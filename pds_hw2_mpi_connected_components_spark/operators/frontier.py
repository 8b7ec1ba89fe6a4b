"""Frontier-broadcast connected components: distributed labels, CSR-packed
adjacency partitions, Arrow-vectorized gather-scatter over a broadcast
frontier.

This is the north rule's superstep shape verbatim — "a pandas/Arrow-
vectorized gather-scatter over CSR-packed adjacency partitions joined with a
broadcast frontier" — and the third CC execution mode, between the two
existing ones:

- operators/cc.py (large-star/small-star): everything distributed, O(log n)
  rounds, no broadcast state at all — the 10^12-edge default.
- operators/csr.py: the reference's design — the FULL label vector is
  broadcast every superstep (MPI_Allgatherv analog,
  /root/reference/src/connected_components.c:98-101) and collected back:
  O(n) driver/executor state per superstep, the reference's own scaling
  wall (docs/report.tex:342-348).
- THIS module: synchronous min-label propagation where labels stay in a
  hash(vid)-partitioned DataFrame forever (never collected whole), and only
  the CHANGED (vid, label) rows — the frontier — are broadcast into a
  mapInPandas gather-scatter over dst-partitioned, (dst, src)-sorted
  adjacency. The frontier is everything in round 0 and shrinks geometrically
  on short-diameter (web-like) graphs, so broadcast volume tracks actual
  convergence progress instead of n.

Adaptivity: while the frontier is LARGE (> broadcast_threshold rows), a
round is executed as a plain co-partitioned join + min-aggregation
(distributed, one edge-scale shuffle) — broadcasting millions of rows would
be slower and memory-hostile. Once the frontier fits the threshold, rounds
switch to the broadcast gather-scatter, whose only shuffle-free work is a
scan of the cached adjacency partitions owning frontier sources.

Semantics: min-label propagation converges to label = min vid of the
component — the exact reference fixpoint (connected_components.c:94-96,
117-123) and the same labels as operators/cc.py (tested). Round count is
O(diameter) (vs O(log n) for star contraction): right for web graphs,
documented trade-off elsewhere.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.checkpoint import CheckpointStore
from ..plans.loop import Loop
from .csr import pack_by_dst

MAX_ROUNDS = 512  # reference MAX_ITER (connected_components.c:103)


def connected_components_frontier(
    edges: DataFrame,
    vertices: Optional[DataFrame] = None,
    max_rounds: int = MAX_ROUNDS,
    broadcast_threshold: int = 2_000_000,
    checkpoint: Optional[CheckpointStore] = None,
) -> tuple[DataFrame, list[dict]]:
    """Returns ((vid, label), metrics). Labels are min-vid-per-component,
    identical to operators/cc.connected_components (tested).

    ``broadcast_threshold``: max frontier rows to broadcast; larger
    frontiers run the round as a distributed join instead. 2M rows ~= 32 MB
    broadcast — tune to executor memory. ``checkpoint``: persists
    (labels, frontier) per round so a killed run resumes mid-iteration,
    same contract as the other two CC modes."""
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    if vertices is None:
        universe = (
            edges.select(F.col("src").alias("vid"))
            .union(edges.select(F.col("dst").alias("vid")))
            .distinct()
        )
    else:
        universe = vertices.select("vid")
    with Loop(edges, 2, fail=f"frontier CC did not converge in {max_rounds} rounds") as loop:
        packed = pack_by_dst(sym, loop.n_part)  # hash(dst), sorted (dst, src), persisted
        labels = loop.flat(universe.select("vid", F.col("vid").alias("label")), "vid")
        # round 0 frontier = every vertex (conceptually); executed distributed.
        frontier_df: Optional[DataFrame] = None  # None => "all of labels"
        frontier_rows = labels.count()
        start_round = 0
        if checkpoint is not None:
            resumed = checkpoint.latest("frontier_labels")
            if resumed is not None:
                start_round, labels = resumed
                labels = loop.flat(labels, "vid")
                # the frontier of the SAME round (labels are written after the
                # frontier, so a committed labels round implies a committed
                # frontier round)
                frontier_df = loop.flat(checkpoint.read("frontier_changed", start_round), "vid")
                frontier_rows = frontier_df.count()
                start_round += 1
                if frontier_rows == 0:  # crashed after converging round
                    packed.unpersist()
                    return labels, []

        for rnd in loop.rounds(max_rounds, start_round):
            broadcast_mode = frontier_rows <= broadcast_threshold and frontier_df is not None
            if broadcast_mode:
                cand = _gather_broadcast(packed, frontier_df)
            else:
                src_labels = frontier_df if frontier_df is not None else labels
                cand = (
                    packed.join(
                        src_labels.hint("shuffle_hash"), packed.src == src_labels.vid
                    )
                    .groupBy("dst")
                    .agg(F.min("label").alias("cand"))
                )
            # co-partitioned: labels hash(vid), cand hash(dst) — both by join
            # key. Materialized ONCE per round: new_labels and the frontier
            # are both cheap projections/filters over this flat LogicalRDD,
            # so the edge-scale candidate computation runs once per round.
            joined, row = loop.step(
                labels.join(cand.hint("shuffle_hash"), labels.vid == cand.dst, "left")
                .select(
                    "vid",
                    "label",
                    F.when(F.col("cand") < F.col("label"), F.col("cand"))
                    .otherwise(F.col("label"))
                    .alias("new_label"),
                ),
                "vid",
                changed=F.coalesce(
                    F.sum((F.col("new_label") < F.col("label")).cast("long")),
                    F.lit(0),
                ),
            )
            labels = joined.select("vid", F.col("new_label").alias("label"))
            frontier_df = joined.where(F.col("new_label") < F.col("label")).select(
                "vid", F.col("new_label").alias("label")
            )
            frontier_rows = int(row["changed"] or 0)
            m = loop.emit(
                round=rnd,
                changed=frontier_rows,
                mode="broadcast" if broadcast_mode else "join",
                converged=frontier_rows == 0,
            )
            if checkpoint is not None:
                checkpoint.write("frontier_changed", rnd, frontier_df, rows=frontier_rows)
                checkpoint.write("frontier_labels", rnd, labels,
                                 meta={"changed": frontier_rows})
                checkpoint.log_metrics("frontier_cc", m)
            if frontier_rows == 0:
                break
    packed.unpersist()
    return labels, loop.metrics


def _gather_broadcast(packed: DataFrame, frontier_df: DataFrame) -> DataFrame:
    """One Arrow-vectorized gather-scatter: broadcast the (small) frontier,
    scan the cached dst-partitioned adjacency, and emit per-dst candidate
    minima. Partitions own disjoint dst ranges, so partition-local minima
    are final — no shuffle in this path."""
    pdf = frontier_df.toPandas()
    f_vids = pdf["vid"].to_numpy(dtype=np.int64)
    f_labels = pdf["label"].to_numpy(dtype=np.int64)
    order = np.argsort(f_vids)
    f_vids, f_labels = f_vids[order], f_labels[order]
    spark = packed.sparkSession
    bc = spark.sparkContext.broadcast((f_vids, f_labels))

    def gather(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        src = pdf["src"].to_numpy(dtype=np.int64)
        dst = pdf["dst"].to_numpy(dtype=np.int64)
        vids, labs = bc.value
        # sorted-lookup: position of each src in the frontier (or miss)
        pos = np.searchsorted(vids, src)
        pos_c = np.minimum(pos, len(vids) - 1) if len(vids) else pos
        mask = (pos < len(vids)) & (vids[pos_c] == src) if len(vids) else np.zeros(len(src), bool)
        if not mask.any():
            return
        d = dst[mask]
        lab = labs[pos_c[mask]]
        # rows are sorted by dst => the masked subset is still sorted
        starts = np.flatnonzero(np.r_[True, d[1:] != d[:-1]])
        yield pd.DataFrame({
            "dst": d[starts],
            "cand": np.minimum.reduceat(lab, starts),
        })

    # bc is freed by GC/ContextCleaner once the round's DataFrames drop it
    return packed.mapInPandas(gather, schema="dst long, cand long")
