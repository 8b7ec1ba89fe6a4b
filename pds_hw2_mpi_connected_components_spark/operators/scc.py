"""Strongly connected components of the directed link graph.

Link-graph extension (SURVEY.md §2.9 family; VERDICT r5 task 7): the
reference computes UNDIRECTED connected components
(/root/reference/src/connected_components.c); SCC is the directed sibling
and the standard web-graph bowtie analysis (Broder et al., "Graph structure
in the Web", WWW 2000) — the giant SCC is the bowtie core,
forward/backward reachability from it the IN/OUT lobes.

Algorithm: trim + forward min-vid coloring + backward gather — the classic
distributed SCC decomposition (Orzan-style coloring: the FW-BW family with
every color's pivot processed in parallel), arranged so every inner loop
has the same bounded per-round shape as the engine's other fixpoint
operators:

1. **Trim** (fixpoint): an alive vertex with no in-arc or no out-arc inside
   the alive subgraph cannot lie on a cycle — it is its own SCC. Peeling
   these first strips the acyclic fringe (most of a crawl's tendrils) for
   the cost of degree checks, exactly k_core's peeling shape.
2. **Color** (fixpoint): color(v) = min vid over alive ancestors of v
   (v included), by forward min-propagation — the reference's min-label
   superstep (connected_components.c:103-142) restricted to arc direction.
   Colors partition the alive graph; SCCs never span colors.
3. **Gather** (fixpoint): a vertex p with color(p) == vid(p) is a pivot,
   and is provably the MIN-VID MEMBER of its SCC (members are mutual
   ancestors, so they share p's ancestor set: each has color == vid(p) <=
   its own vid). SCC(p) = vertices that reach p within p's color class,
   gathered by backward multi-source frontier BFS from ALL pivots at once
   with the color as match key (the bfs_hops frontier shape,
   operators/paths.py, on reversed arcs). Every gathered vertex gets
   scc = its color == min vid of its SCC — the same deterministic label
   convention as the undirected CC operator.
4. Remove gathered vertices, shrink the arc set (two semi joins, k_core's
   shape), repeat. Every color class contains at least one pivot, so each
   outer round retires at least one SCC per class and the alive set
   strictly shrinks; web graphs retire the giant SCC plus most of the
   periphery in the first outer round.

Per-inner-round budget (the 100 TB design point): ONE edge-scale exchange
over alive/frontier-incident arcs (min/neighbor aggregation or the
candidate repartition, map-side combined) + co-partitioned joins against
flat hash(vid) statics (color rounds add one vertex-scale pointer-jump
join, below); every convergence scalar rides ``DataFrame.observe`` on the
round's single materializing job — the only standalone actions are one
vertex count at entry and one per outer-round arc rebuild. All loop state
is ``flat_checkpoint``-materialized (plans/flat.py: plain localCheckpoints
compound size stats geometrically across iterate-vs-iterate joins and
livelock the driver by iteration ~20). Assigned-SCC batches fold through a
flat checkpoint every ``fold_every`` outer rounds (the coreness
accumulator bound, VERDICT r5 #4).

Round-7 optimizations (OPTIMIZATION_r07.md):

- **Color pointer jumping** (VERDICT r6 #6): each color round additionally
  applies ``color(v) <- min(color(v), prev_color(color(v)))`` — still an
  ancestor's vid, monotone, same fixpoint — so a chain-shaped condensation
  colors in O(log chain) rounds instead of O(chain).
- **Driver-local Tarjan finisher** (``local_threshold``): once
  max(alive vertices, alive arcs) fits a bounded threshold (default 250k
  rows ≈ 4 MB of driver transfer), the remnant is collected and finished
  in one Tarjan pass — identical labels, none of the O(condensation-tail)
  cluster barriers the tail rounds would pay. On web graphs the remnant
  after the giant SCC and the trimmed fringe retire is exactly this
  shape; measured at bench scale HALF the operator wall time was fixed
  per-round overhead on <100 surviving vertices.

Worst case: an adversarial condensation larger than ``local_threshold``
still retires O(chain) OUTER rounds (one pivot SCC per color class per
round); ``max_iter`` caps TOTAL inner rounds across all phases, and
exhaustion is loud (RuntimeWarning + converged False in the final metrics
entry), the k_core/bfs_hops contract.
"""

from __future__ import annotations

import os
from functools import reduce
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.loop import Loop

#: Default bound (rows: max(alive vertices, alive arcs)) under which the
#: remaining subgraph is collected and finished with a driver-local Tarjan
#: pass instead of more distributed fixpoint rounds. Rationale (guide §1.2:
#: fix the distributed algorithm first): after the giant SCC and the
#: acyclic fringe retire, the alive remnant of a web graph is a tiny
#: condensation tail, but every further trim/color/gather round is a full
#: cluster barrier — measured at bench scale, HALF the operator's wall
#: time was fixed per-round overhead spent on <100 surviving vertices.
#: 250k rows is ~4 MB on the driver (far under any sane
#: spark.driver.maxResultSize) and an iterative Tarjan finishes it in
#: well under a second. Override with $SPARK_GRAFT_SCC_LOCAL_LIMIT or the
#: ``local_threshold`` argument; 0 disables the local path entirely.
LOCAL_LIMIT_DEFAULT = 250_000


def _tarjan_min_labels(
    vids: list[int], arcs: list[tuple[int, int]]
) -> list[tuple[int, int]]:
    """Iterative Tarjan SCC over an in-memory arc list; returns
    (vid, min vid of its SCC) for every vertex in ``vids`` — the same
    deterministic label convention as the distributed phases."""
    adj: dict[int, list[int]] = {v: [] for v in vids}
    for s, d in arcs:
        adj[s].append(d)
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on_stack: set[int] = set()
    stack: list[int] = []
    out: list[tuple[int, int]] = []
    counter = 0
    for root in vids:
        if root in index:
            continue
        # explicit DFS stack of (vertex, iterator position)
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack.add(v)
            recursed = False
            nbrs = adj[v]
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recursed = True
                    break
                elif w in on_stack:
                    if index[w] < low[v]:
                        low[v] = index[w]
            if recursed:
                continue
            work.pop()
            if work:
                parent = work[-1][0]
                if low[v] < low[parent]:
                    low[parent] = low[v]
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                out.extend((w, m) for w in comp)
    return out


def strongly_connected_components(
    edges: DataFrame,
    vertices: Optional[DataFrame] = None,
    max_iter: int = 10_000,
    fold_every: int = 64,
    local_threshold: Optional[int] = None,
) -> tuple[DataFrame, list[dict]]:
    """Returns ((vid, scc), metrics) for the directed graph ``edges``
    (src, dst). ``scc`` is the min vid of the vertex's strongly connected
    component — deterministic and parallelism-independent.

    ``vertices`` (optional): when given, defines the output vertex set
    (isolated vertices get scc = own vid), the coreness() convention.
    Self-loops cannot create multi-vertex SCCs and are dropped up front.
    ``local_threshold`` (default $SPARK_GRAFT_SCC_LOCAL_LIMIT or
    LOCAL_LIMIT_DEFAULT; 0 disables): once max(alive vertices, alive arcs)
    is at or under this bound, the remnant is collected and finished with
    one driver-local Tarjan pass — identical labels, none of the per-round
    cluster barriers the condensation tail would otherwise pay.
    If ``max_iter`` total inner rounds run out, vertices still alive are
    MISSING from the result, the final metrics entry has
    ``converged: False``, and a RuntimeWarning is emitted."""
    if local_threshold is None:
        try:
            local_threshold = int(
                os.environ.get("SPARK_GRAFT_SCC_LOCAL_LIMIT", "")
            )
        except ValueError:
            local_threshold = LOCAL_LIMIT_DEFAULT
    spark = edges.sparkSession
    with Loop(edges, warn=(
        f"strongly_connected_components() hit max_iter={max_iter} before "
        "decomposition completed: vertices still alive are missing from the result"
    )) as loop:
        arcs, row = loop.step(
            edges.select(F.col("src").cast("long").alias("src"),
                         F.col("dst").cast("long").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct(),
            "src",
            n=F.count("*"),
        )
        alive = loop.flat(
            arcs.select(F.col("src").alias("vid"))
            .union(arcs.select(F.col("dst").alias("vid")))
            .distinct(),
            "vid",
        )
        n_alive = alive.count()
        n_arcs = int(row["n"] or 0)

        assigned: list[DataFrame] = []  # (vid, scc) batches over flat state
        folded: list[DataFrame] = []  # at most one flat checkpoint

        def _fold(force: bool = False) -> None:
            nonlocal assigned, folded
            if not assigned or (not force and len(assigned) < fold_every):
                return
            folded = [loop.flat(reduce(DataFrame.unionByName, folded + assigned))]
            assigned = []

        def _shrink_arcs(a: DataFrame, keep: DataFrame) -> tuple[DataFrame, int]:
            """Arcs with BOTH endpoints in ``keep`` — two semi joins
            (k_core's shape), returned flat hash(src) with the surviving arc
            count observed on the same materializing job (feeds the
            local-finish gate at zero extra actions)."""
            df, row = loop.step(
                a.join(keep.hint("shuffle_hash"), a.src == keep.vid, "left_semi")
                .repartition(loop.n_part, "dst")
                .join(keep.hint("shuffle_hash"), F.col("dst") == keep.vid, "left_semi"),
                "src",
                n=F.count("*"),
            )
            return df, int(row["n"] or 0)

        def _tick(phase: str, n: int) -> None:
            loop.emit(phase=phase, outer=outer, iter=len(loop.metrics), n=n)

        def _local_gate() -> bool:
            return bool(local_threshold) and max(n_alive, n_arcs) <= local_threshold

        def _local_finish() -> None:
            """Driver-local Tarjan over the (bounded, gate-checked) remnant:
            one collect of alive vids + arcs, one pass, one createDataFrame —
            replaces O(condensation-tail) further barrier rounds with O(1)
            actions. Labels identical by construction (min vid per SCC)."""
            nonlocal converged, n_alive
            vids = [r[0] for r in alive.select("vid").collect()]
            pairs = [(r[0], r[1]) for r in arcs.select("src", "dst").collect()]
            labeled = _tarjan_min_labels(vids, pairs)
            if labeled:
                assigned.append(
                    spark.createDataFrame(labeled, "vid long, scc long")
                    .repartition(loop.n_part, "vid")
                )
            _tick("local", len(vids))
            n_alive = 0
            converged = True

        # one round budget shared by every phase: max_iter caps TOTAL rounds
        budget = loop.rounds(max_iter)
        outer = 0
        converged = n_alive == 0
        while not converged and not loop.exhausted:
            if _local_gate():
                _local_finish()
                break
            # ---------------------------------------------------- 1. trim --
            for _ in budget:
                has_out = arcs.select(F.col("src").alias("vid")).distinct()
                has_in = arcs.select(F.col("dst").alias("vid")).distinct()
                keep = has_out.join(has_in.hint("shuffle_hash"), "vid", "left_semi")
                new_alive, row = loop.step(
                    alive.join(keep.hint("shuffle_hash"), "vid", "left_semi"),
                    "vid",
                    kept=F.count("*"),
                )
                n_kept = int(row["kept"] or 0)
                n_trimmed = n_alive - n_kept
                _tick("trim", n_trimmed)
                if n_trimmed == 0:
                    break
                # trimmed vertices are singleton SCCs (scc = own vid)
                assigned.append(
                    alive.join(new_alive, "vid", "left_anti")
                    .select("vid", F.col("vid").alias("scc"))
                )
                _fold()
                alive, n_alive = new_alive, n_kept
                if n_alive == 0:
                    break
                arcs, n_arcs = _shrink_arcs(arcs, alive)
                if _local_gate():
                    break
            if n_alive == 0:
                converged = True
                break
            if _local_gate():
                _local_finish()
                break
            if loop.exhausted:
                break

            # --------------------------------------------------- 2. color --
            # colors inherits alive's flat hash(vid) partitioning via projection
            colors = alive.select("vid", F.col("vid").alias("color"))
            colored = False
            for _ in budget:
                in_min = (
                    arcs.join(colors.hint("shuffle_hash"), arcs.src == colors.vid)
                    .groupBy("dst")
                    .agg(F.min("color").alias("in_min"))
                    .select(F.col("dst").alias("vid"), "in_min")
                )
                stepped = (
                    colors.join(in_min.hint("shuffle_hash"), "vid", "left")
                    .select(
                        "vid",
                        F.least("color", F.coalesce("in_min", "color")).alias("color"),
                        (F.coalesce("in_min", "color") < F.col("color"))
                        .cast("long").alias("chg"),
                    )
                )
                # pointer jumping: color(v) <- min(color(v),
                # prev_color(color(v))). prev_color(c) is the color of an
                # ancestor of v (c reaches v), so the invariant "color(v) is
                # the vid of an ancestor or v itself" is preserved, the update
                # is monotone, and the fixpoint (min over ancestors) is
                # unchanged — but a chain-shaped condensation converges in
                # O(log chain) rounds instead of O(chain)
                # (tests/test_scc.py::test_scc_color_pointer_jumping_rounds).
                # Cost: one vertex-scale join keyed on the candidate color.
                jump = colors.select(
                    F.col("vid").alias("jvid"), F.col("color").alias("jcolor")
                )
                nxt, row = loop.step(
                    stepped.join(
                        jump.hint("shuffle_hash"),
                        stepped.color == jump.jvid,
                        "left",
                    )
                    .select(
                        "vid",
                        F.least(
                            "color", F.coalesce("jcolor", "color")
                        ).alias("color"),
                        (
                            (F.col("chg") == 1)
                            | (F.coalesce("jcolor", "color") < F.col("color"))
                        ).cast("long").alias("chg"),
                    ),
                    "vid",
                    changed=F.coalesce(F.sum("chg"), F.lit(0)),
                )
                colors = nxt.drop("chg")
                n_changed = int(row["changed"] or 0)
                _tick("color", n_changed)
                if n_changed == 0:
                    colored = True
                    break
            if not colored:
                break  # the round budget ran out mid-coloring

            # -------------------------------------------------- 3. gather --
            arcs_by_dst = loop.flat(arcs, "dst")
            reached, row = loop.step(
                colors.where(F.col("vid") == F.col("color"))
                .select("vid", F.col("color").alias("scc")),
                "vid",
                pivots=F.count("*"),
            )
            n_reached = int(row["pivots"] or 0)
            frontier = reached
            for _ in budget:
                # predecessors of the frontier, carrying the frontier's scc;
                # the repartition is the round's one exchange
                # (O(frontier-incident arcs)); the colors join is then
                # co-partitioned and the color match keeps only same-class
                # predecessors; min-dedup per vid needs no further exchange.
                cand = (
                    arcs_by_dst.join(frontier.hint("shuffle_hash"),
                                     arcs_by_dst.dst == frontier.vid)
                    .select(F.col("src").alias("vid"), "scc")
                    .repartition(loop.n_part, "vid")
                    .join(colors.hint("shuffle_hash"), "vid")
                    .where(F.col("scc") == F.col("color"))
                    .groupBy("vid")
                    .agg(F.min("scc").alias("scc"))
                )
                merged, row = loop.step(
                    reached.alias("r")
                    .join(cand.alias("c"), "vid", "full")
                    .select(
                        "vid",
                        F.coalesce(F.col("r.scc"), F.col("c.scc")).alias("scc"),
                        F.col("r.scc").isNull().cast("long").alias("new"),
                    ),
                    "vid",
                    new=F.coalesce(F.sum("new"), F.lit(0)),
                )
                n_new = int(row["new"] or 0)
                n_reached += n_new
                reached = merged.drop("new")
                _tick("gather", n_new)
                if n_new == 0:
                    break
                frontier = merged.where(F.col("new") == 1).select("vid", "scc")
            assigned.append(reached)
            _fold()
            alive = loop.flat(
                alive.join(reached.hint("shuffle_hash"), "vid", "left_anti"), "vid"
            )
            n_alive -= n_reached
            if n_alive == 0:
                converged = True
                break
            arcs, n_arcs = _shrink_arcs(arcs, alive)
            outer += 1

        loop.metrics.append({
            "phase": "done", "outer": outer, "iter": len(loop.metrics),
            "n": n_alive, "sec": 0.0, "converged": converged,
        })
        _fold(force=True)

    if folded:
        out = folded[0]
    else:
        out = spark.createDataFrame([], "vid long, scc long")
    out = out.select("vid", F.col("scc").cast("long").alias("scc"))
    if vertices is not None:
        universe = vertices.select(F.col("vid").cast("long").alias("vid"))
        if not converged:
            # unconverged contract (r6 ADVICE): vertices still alive are
            # genuinely MISSING from the result — without this anti join
            # the coalesce below would silently hand a still-alive member
            # of a multi-vertex SCC its own vid as a plausible-but-wrong
            # label.
            universe = universe.join(alive, "vid", "left_anti")
        out = (
            universe
            .join(out, "vid", "left")
            .select("vid", F.coalesce("scc", "vid").alias("scc"))
        )
    return out, loop.metrics
