"""Connected components: alternating large-star / small-star.

Replaces the reference's synchronous min-label propagation + pointer jumping
(/root/reference/src/connected_components.c:94-156) and its full-snapshot
MPI_Allgatherv replication (:98-101,:134-137 — the scaling bottleneck its own
report flags, docs/report.tex:342-348). Large-star/small-star (Kiveris et
al., "Connected Components in MapReduce and Beyond", 2014) converges to the
*same fixpoint* — every vertex labeled with the minimum vertex id of its
component (reference init at connected_components.c:94-96, min-fold at
:117-123) — in O(log n) rounds, with per-round data volume proportional to
the (shrinking) edge set instead of O(n * ranks) replication.

Each round is two shuffles (groupBy-min + re-emit); convergence is detected
with an O(1)-driver-data checksum aggregate, the analog of the reference's
MPI_Allreduce(LOR) changed flag (:139-142). Per-round results are
materialized (localCheckpoint or CheckpointStore) to break lineage — the
DataFrame analog of the reference's double buffering (:130-132).

Determinism: every step is min/least over integers — no tie-break ambiguity,
so labels are identical at any parallelism (the reference's trial-consistency
property, benchmark.c:275-284).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.checkpoint import CheckpointStore
from ..plans.loop import Loop

MAX_ROUNDS = 100  # safety cap, analog of MAX_ITER=512 (connected_components.c:103)


def _checksum(edges: DataFrame) -> tuple:
    """O(1) driver-side fingerprint of an edge set (order-insensitive)."""
    # bit_xor is order-insensitive and overflow-free (ANSI-safe); the edge
    # set is distinct so xor cannot cancel duplicate rows.
    row = edges.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("u", "v")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def _min_per_key(edges: DataFrame, salt_buckets: int) -> DataFrame:
    """(u, mn) = min(v) per u. With salting: two-stage min — (u, salt)
    partials spread a hub key over salt_buckets reducers before the final
    tiny (u) min. Exact for min (associative), so salted output is
    identical to plain (tested)."""
    if salt_buckets > 0:
        return (
            edges.withColumn("_s", F.pmod(F.xxhash64("v"), F.lit(salt_buckets)))
            .groupBy("u", "_s").agg(F.min("v").alias("pm"))
            .groupBy("u").agg(F.min("pm").alias("mn"))
        )
    return edges.groupBy("u").agg(F.min("v").alias("mn"))


def _salted_join(nbrs: DataFrame, mins: DataFrame, salt_buckets: int) -> DataFrame:
    """nbrs ⋈ mins on u. With salting: mins (one row per u) is replicated
    across salt_buckets and nbrs rows pick a deterministic bucket from v, so
    a 10^8-degree hub's neighborhood spreads over salt_buckets tasks instead
    of one reducer owning it all (SURVEY.md §4 X6; the reference's
    schedule(guided) analog, /root/reference/src/connected_components.c:109).
    AQE skew-join splits oversized partitions too, but only post-shuffle and
    only for sort-merge plans — explicit salting also covers the
    shuffle-hash path and bounds the build side."""
    if salt_buckets <= 0:
        return nbrs.join(mins, "u")
    salts = nbrs.sparkSession.range(salt_buckets).select(F.col("id").cast("long").alias("_s"))
    mins_rep = mins.crossJoin(F.broadcast(salts))
    salted = nbrs.withColumn("_s", F.pmod(F.xxhash64("v"), F.lit(salt_buckets)))
    return salted.join(mins_rep, ["u", "_s"]).drop("_s")


def _large_star(edges: DataFrame, salt_buckets: int = 0) -> DataFrame:
    """Connect every neighbor v > u to m = min(N(u) ∪ {u}).

    Output rows are (v, m) with v > u >= m, i.e. already oriented
    (larger, smaller) and therefore directly consumable by _small_star
    without re-orientation. The output is deduplicated here (one shuffle)
    because v may receive the same m from several centers u.
    """
    nbrs = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = _min_per_key(nbrs, salt_buckets).select(
        "u", F.least("mn", "u").alias("m")
    )
    return (
        _salted_join(nbrs, mins, salt_buckets)
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(oriented: DataFrame, salt_buckets: int = 0) -> DataFrame:
    """Input must be oriented (u, v) with u > v, deduplicated (which is what
    _large_star emits). Connect all smaller neighbors (and u itself) to the
    minimum neighbor. Output again oriented (larger, smaller): every emitted
    (x, m) has m = min(N(u) ∪ {u}) <= x."""
    mins = _min_per_key(oriented, salt_buckets).withColumnRenamed("mn", "m")
    nb = _salted_join(oriented, mins, salt_buckets)
    out = nb.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
        mins.select("u", F.col("m").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame,
    vertices: Optional[DataFrame] = None,
    checkpoint: Optional[CheckpointStore] = None,
    max_rounds: int = MAX_ROUNDS,
    salt_buckets: int = 0,
) -> tuple[DataFrame, list[dict]]:
    """Labels for every vertex: (vid long, label long), label = min vid of
    the component (exact reference fixpoint).

    ``edges``: (src,dst) directed or undirected — treated as undirected.
    ``vertices``: optional (vid) universe; vertices absent from edges get
    label = vid (isolates). ``checkpoint``: persists each round + metrics so
    a killed run resumes mid-iteration. ``salt_buckets``: spread hub-vertex
    keys over this many reducers in every star round's min-agg and join
    (exact — min is associative; output is identical, tested); 0 = rely on
    AQE skew handling alone.
    """
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    start_round = 0
    prev_sum = None
    if checkpoint is not None:
        resumed = checkpoint.latest("cc_edges")
        if resumed is not None:
            start_round, e = resumed
            prev_sum = checkpoint.manifest_meta("cc_edges", start_round).get("checksum")
            prev_sum = tuple(prev_sum) if prev_sum else None
            start_round += 1

    # AQE stays on: the star rounds' fresh distinct/agg shapes over a
    # shrinking edge set gain from its coalescing (plans/loop.py)
    with Loop(edges, 2, keep_aqe=True,
              fail=f"CC did not converge in {max_rounds} rounds") as loop:
        if prev_sum is None:
            e = loop.flat(e)
            prev_sum = _checksum(e)
        for rnd in loop.rounds(max_rounds, start_round):
            nxt = _small_star(_large_star(e, salt_buckets), salt_buckets)
            if checkpoint is not None:
                nxt = checkpoint.write("cc_edges", rnd, nxt,
                                       meta={"checksum": None})  # checksum patched below
                cur_sum = _checksum(nxt)
            else:
                nxt, row = loop.step(nxt, n=F.count("*"),
                                     h=F.bit_xor(F.xxhash64("u", "v")))
                cur_sum = (row["n"], row["h"])
            changed = cur_sum != prev_sum
            m = loop.emit(round=rnd, edges=cur_sum[0], changed=changed,
                          converged=not changed)
            if checkpoint is not None:
                checkpoint.patch_meta("cc_edges", rnd, {"checksum": list(cur_sum)})
                checkpoint.log_metrics("cc", m)
            e = nxt
            if not changed:
                break
            prev_sum = cur_sum

    # At the fixpoint, e is a star forest: (child, root) with root = component
    # min. Roots/isolates label themselves.
    labels_from_edges = e.select(F.col("u").alias("vid"), F.col("v").alias("label"))
    if vertices is not None:
        universe = vertices.select("vid")
    else:
        universe = (
            edges.select(F.col("src").alias("vid"))
            .union(edges.select(F.col("dst").alias("vid")))
            .distinct()
        )
    labels = (
        universe.join(labels_from_edges, "vid", "left")
        .select("vid", F.coalesce("label", F.col("vid")).alias("label"))
    )
    return labels, loop.metrics


def cc_count(labels: DataFrame) -> int:
    """The reference's single query: number of components
    (root count, connected_components.c:158-168)."""
    return labels.select("label").distinct().count()
