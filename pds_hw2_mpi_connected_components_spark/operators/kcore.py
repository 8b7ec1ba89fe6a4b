"""k-core decomposition by iterative degree peeling.

Link-graph extension (SURVEY.md §2.9 family): the k-core of an undirected
graph is the maximal induced subgraph where every vertex has degree >= k —
the standard web/social-graph denoising primitive (drop leaf chains and
sparse fringe before community / centrality analysis). :func:`coreness`
generalizes it to the full decomposition: every vertex's core number
(the largest k whose k-core contains it) in ONE delta-peeling pass.

``k_core`` algorithm: repeat { compute degrees on the surviving edge set;
drop vertices with deg < k; drop edges touching a dropped vertex } until no
vertex is dropped. Per-round shuffle budget (counted the plan-audit way):
ONE edge-scale aggregation (groupBy(src) over the symmetrized survivor
edges, map-side combine), TWO left_semi joins against the survivor set
(each consumed exchange-free on the src side / after the repartition on the
dst side), and TWO edge-scale repartition exchanges (by dst for the second
semi join, then back by src for the next round's aggregation). The same
shrinking-working-set shape as the star-contraction CC loop
(operators/cc.py): per-round volume is O(surviving edges), monotonically
decreasing. Convergence is a driver-side O(1) count comparison; lineage is
cut every round with localCheckpoint (rationale in operators/pagerank.py
docstring).

``coreness`` algorithm (delta-peeling — the late-round win ``k_core``
doesn't need for small k): maintain only the ALIVE degree table. Per round,
vertices below the current threshold k are victims (their core number is
k-1); instead of re-aggregating degrees over all survivors, aggregate ONLY
the victims' incident edges (one shuffle over O(victim-incident edges)) and
subtract those losses from their neighbors' degrees with co-partitioned
joins. The full edge table is never shrunk: edges into already-peeled
vertices aggregate losses that the degree join simply drops — late rounds
cost O(peel boundary), not O(survivors). The threshold jumps straight to
(min alive degree)+1 when a peel round reaches a fixpoint, so round count
equals the sequential peel's round count, not max-coreness x rounds.

At 100 TB: peeling rounds on web graphs are few for small k (the fringe is
shallow); the dominant cost is the first rounds' full-edge aggregations,
which are the same shuffle the degree histogram already pays. No state is
ever replicated or collected to the driver beyond O(1) scalars.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.loop import Loop
from ..sources.graph_build import symmetrize


def k_core(
    edges: DataFrame, k: int, max_iter: int = 100
) -> tuple[DataFrame, list[dict]]:
    """Returns ((vid,) survivors of the k-core, metrics). ``edges`` is an
    undirected edge table in either canonical or symmetric form (it is
    symmetrized + deduped here); isolated vertices are never in a k-core
    for k >= 1, so no vertex table is needed.

    Every metrics entry carries ``converged``; if ``max_iter`` rounds run
    out before the peel fixpoint, the result is a SUPERSET of the true
    k-core — the final entry then has ``converged: False`` and a
    RuntimeWarning is emitted."""
    with Loop(edges, 2, warn=(
        f"k_core(k={k}) hit max_iter={max_iter} before the peel fixpoint: "
        "the returned vertex set is a superset of the true k-core"
    )) as loop:
        sym, row = loop.step(symmetrize(edges.select("src", "dst")), "src",
                             n=F.count("*"))
        n_edges = int(row["n"] or 0)
        for it in loop.rounds(max_iter):
            # sym is symmetric, so out-degree on src IS the undirected degree
            survivors = (
                sym.groupBy("src").agg(F.count("*").alias("deg"))
                .where(F.col("deg") >= k)
                .select(F.col("src").alias("vid"))
            )
            sym, row = loop.step(
                sym.join(survivors.hint("shuffle_hash"), sym.src == survivors.vid, "left_semi")
                .repartition(loop.n_part, "dst")
                .join(
                    survivors.hint("shuffle_hash"),
                    F.col("dst") == survivors.vid,
                    "left_semi",
                ),
                "src",
                n=F.count("*"),
            )
            new_edges = int(row["n"] or 0)
            converged = new_edges == n_edges
            loop.emit(iter=it, edges=new_edges, converged=converged)
            n_edges = new_edges
            if converged:
                break
    return sym.select("src").distinct().withColumnRenamed("src", "vid"), loop.metrics


def coreness(
    edges: DataFrame,
    vertices: Optional[DataFrame] = None,
    max_iter: int = 100_000,
    fold_every: int = 64,
) -> tuple[DataFrame, list[dict]]:
    """Full core decomposition: returns ((vid, coreness), metrics).

    ``coreness(v)`` = the largest k such that v is in the k-core; isolated
    vertices (present in ``vertices`` but not in any edge) get coreness 0.
    Delta-peeling (module docstring): per round, ONE shuffle over the
    current victims' incident edges plus co-partitioned joins to update the
    alive-degree table — never a full-survivor re-aggregation after round 0.
    The victim count AND the next round's min/count scalars ride the degree
    materialization as observed metrics, so each round runs exactly ONE
    Spark action (the new-degree localCheckpoint; r7 — previously two).
    Each metrics row has the round's threshold ``k``, ``victims`` and
    ``alive``: the number of vertices alive BEFORE the round's peel.

    ``k_core(edges, k)``'s survivor set equals
    ``coreness(edges).where(coreness >= k)`` (tested in
    tests/test_linkstats.py); the decomposition costs one peel pass for ALL
    k instead of one fixpoint loop per k.

    ``fold_every``: every that many peel rounds, the accumulated (vid,
    coreness) victim batches — each a lazy projection over that round's
    checkpointed degree table — are collapsed into ONE flat checkpoint.
    Without the fold, a DEEP decomposition (random/social graphs peel
    thousands of rounds; web fringes don't) grows an O(rounds) union plan
    and pins every round's checkpoint RDD until the final union; with it,
    plan size and pinned-RDD count are bounded by O(fold_every) and the
    fold's rewrite cost is amortized O(victims) per fold (deep peels have
    small rounds by construction). Pinned by
    tests/test_linkstats.py::test_coreness_deep_peel_bounded_plan."""
    with Loop(edges, 2, warn=(
        f"coreness() hit max_iter={max_iter} before peeling completed: "
        "vertices still alive are missing from the result"
    )) as loop:
        sym = loop.flat(symmetrize(edges.select("src", "dst")), "src")
        # alive-degree table, hash(vid); its min/count scalars for round 0
        # ride the same materialization
        deg, row = loop.step(
            sym.groupBy("src").agg(F.count("*").alias("deg"))
            .select(F.col("src").alias("vid"), "deg"),
            "vid",
            mn=F.min("deg"),
            alive=F.count("*"),
        )
        mn, alive = row["mn"], int(row["alive"] or 0)
        # (vid, coreness) victim batches, lazy over each round's checkpointed
        # degree table; folded into one flat checkpoint every fold_every
        # rounds so the final union plan and the pinned per-round
        # checkpoints stay bounded.
        peeled: list[DataFrame] = []
        folded: list[DataFrame] = []  # at most one flat checkpoint
        k = 1
        for it in loop.rounds(max_iter):
            # mn/alive were observed on the materialization that produced
            # the current deg table: each peel round runs exactly ONE action
            if alive == 0:
                loop.emit(iter=it, k=k, alive=0, victims=0, converged=True)
                break
            # fixpoint at the current threshold: jump straight to the smallest
            # threshold that produces victims (min alive degree + 1). The alive
            # graph is the t-core for every t <= mn, so victims removed at
            # threshold k get core number k-1 = mn.
            if mn >= k:
                k = mn + 1
            victims = deg.where(F.col("deg") < k)
            peeled.append(victims.select("vid", F.lit(k - 1).alias("coreness")))
            # losses: victims' incident edges aggregated to the surviving
            # neighbor — THE one shuffle of the round, O(victim-incident edges).
            # sym is hash(src)-partitioned and victims hash(vid): the semi join
            # is exchange-free; the groupBy(dst) shuffles only victim edges.
            losses = (
                sym.join(victims.hint("shuffle_hash"), sym.src == victims.vid, "left_semi")
                .groupBy("dst")
                .agg(F.count("*").alias("loss"))
                .select(F.col("dst").alias("vid"), "loss")
            )
            # co-partitioned anti join (drop victims) + left join (apply losses);
            # losses arrives hash(dst)==hash(vid) partitioned — no exchange.
            # Losses into already-peeled vertices are dropped by the anti join
            # on the victim side of earlier rounds (they are no longer in deg).
            deg, row = loop.step(
                deg.join(victims.hint("shuffle_hash"), "vid", "left_anti")
                .join(losses.hint("shuffle_hash"), "vid", "left")
                .select(
                    "vid", (F.col("deg") - F.coalesce("loss", F.lit(0))).alias("deg")
                ),
                "vid",
                mn=F.min("deg"),
                alive=F.count("*"),
            )
            pre_alive = alive
            mn, alive = row["mn"], int(row["alive"] or 0)
            if len(peeled) >= fold_every:
                folded = [loop.flat(reduce(DataFrame.unionByName, folded + peeled))]
                peeled = []
            loop.emit(iter=it, k=k, alive=pre_alive, victims=pre_alive - alive)
    if folded or peeled:
        out = reduce(DataFrame.unionByName, folded + peeled)
    else:
        out = edges.sparkSession.createDataFrame([], "vid long, coreness long")
    out = out.select("vid", F.col("coreness").cast("long").alias("coreness"))
    if vertices is not None:
        out = (
            vertices.select("vid")
            .join(out, "vid", "left")
            .select("vid", F.coalesce("coreness", F.lit(0)).alias("coreness"))
        )
    return out, loop.metrics
