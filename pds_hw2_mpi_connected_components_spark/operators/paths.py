"""Multi-source BFS hop distance by frontier expansion.

Link-graph extension (SURVEY.md §2.9 family): hop distance from a seed set
is the web-graph primitive behind crawl-depth analysis, seed-set expansion
(TrustRank-style distance-from-trusted-pages), and reachability slicing —
the same frontier shape the reference's future-work item sketches for
selective boundary propagation (/root/reference/docs/report.tex:342-348)
and that operators/frontier.py exploits for CC.

Algorithm: the classic distributed frontier BFS, arranged so the per-round
shuffle volume is O(frontier-incident edges) — NOT O(all edges) and NOT
O(visited vertices):

- The (symmetrized, deduped) edge table is repartitioned hash(src) ONCE and
  localCheckpoint'ed — the flat static every round's semi join consumes
  exchange-free (rationale in operators/pagerank.py docstring).
- ``dist`` (vid, hops) starts as the seed set at 0, hash(vid)-partitioned.
  Each round: a left_semi join of the statics against the current frontier
  (hash(vid) == hash(src) co-partitioned: ZERO exchange on either side)
  selects frontier-incident edges; their dst endpoints are deduped by a
  groupBy(dst) — THE one shuffle of the round, O(frontier-incident edges).
- The newly reached set merges into ``dist`` via a co-partitioned FULL
  OUTER join (the groupBy left the neighbors hash(dst)-partitioned, dist is
  hash(vid)-checkpointed: no exchange) — already-visited vertices keep
  their hops, unseen neighbors get the round number. The next frontier is a
  partition-local ``where(hops == round)`` on the checkpointed result; no
  anti join, no re-shuffle of the visited set, ever.
- The newly-reached count rides the merge materialization as a
  ``DataFrame.observe`` metric, so each round runs exactly ONE Spark job
  (the localCheckpoint); convergence (empty frontier) is an O(1) driver
  check of that observed scalar.

At 100 TB: web graphs have tiny effective diameter (~20 rounds to cover a
crawl), the frontier peaks at a fraction of V, and the only growing state
is the hash-partitioned ``dist`` table — never replicated, never collected,
rewritten once per round by a co-partitioned zip (the same bounded-state
argument as the star-contraction CC loop, operators/cc.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.loop import Loop
from ..sources.graph_build import symmetrize


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_iter: int = 1000,
    directed: bool = False,
) -> tuple[DataFrame, list[dict]]:
    """Returns ((vid, hops) for every vertex REACHABLE from ``sources``,
    metrics). ``sources`` is a (vid) DataFrame; seeds themselves get hops 0,
    and multi-source distance is min over seeds (the frontier reaches each
    vertex first at exactly that hop count). Unreachable vertices are
    absent — left-join a vertex table downstream for a sentinel.

    ``directed=False`` (default) symmetrizes first (undirected hop
    distance); ``directed=True`` follows src->dst arcs only.

    Every metrics entry carries ``converged``; if ``max_iter`` rounds run
    out with a non-empty frontier, the result is a PARTIAL cover (correct
    hops for every emitted vertex, missing vertices farther away) — the
    final entry then has ``converged: False`` and a RuntimeWarning is
    emitted."""
    arcs = edges.select("src", "dst")
    if not directed:
        arcs = symmetrize(arcs)
    else:
        arcs = arcs.where(F.col("src") != F.col("dst")).distinct()
    with Loop(edges, 1 if directed else 2, warn=(
        f"bfs_hops() hit max_iter={max_iter} with a non-empty frontier: "
        "the result covers only vertices within that many hops"
    )) as loop:
        sym = loop.flat(arcs, "src")
        dist = loop.flat(
            sources.select(F.col("vid").cast("long").alias("vid"))
            .distinct()
            .select("vid", F.lit(0).cast("long").alias("hops")),
            "vid",
        )
        frontier = dist
        for it in loop.rounds(max_iter + 1, 1):
            # frontier-incident edges -> dedup'd neighbor set: the round's ONE
            # shuffle (groupBy(dst)); the semi join is co-partitioned.
            nbrs = (
                sym.join(
                    frontier.hint("shuffle_hash"), sym.src == frontier.vid, "left_semi"
                )
                .select("dst")
                .distinct()
                .select(F.col("dst").alias("vid"))
            )
            # co-partitioned full-outer merge: visited keep their hops, unseen
            # neighbors get this round's number.
            dist, row = loop.step(
                dist.join(nbrs.hint("shuffle_hash"), "vid", "full")
                .select(
                    "vid",
                    F.coalesce("hops", F.lit(it).cast("long")).alias("hops"),
                ),
                "vid",
                new=F.sum((F.col("hops") == it).cast("long")),
            )
            n_new = int(row["new"] or 0)
            loop.emit(iter=it, reached=n_new, converged=n_new == 0)
            if n_new == 0:
                break
            frontier = dist.where(F.col("hops") == it)
    return dist, loop.metrics
