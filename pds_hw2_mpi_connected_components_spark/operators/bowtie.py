"""Bowtie decomposition of the directed link graph.

Link-graph extension (round 6; the analysis the SCC operator exists to
feed): Broder et al., "Graph structure in the Web" (WWW 2000) partitions a
crawl graph around its giant strongly connected component:

- ``CORE``     — the largest SCC (ties broken by smallest SCC label, so the
                 choice is deterministic and parallelism-independent);
- ``IN``       — vertices that reach the core but are not in it;
- ``OUT``      — vertices the core reaches that are not in it;
- ``TUBE``     — other weak-component members on an IN->...->OUT path that
                 bypasses the core (reachable from IN AND reaching OUT);
- ``TENDRIL``  — remaining weak-component members (hang off IN, or feed
                 OUT, or hang off another tendril);
- ``DISC``     — vertices outside the core's weak component entirely.

The six regions partition the vertex set; membership is fully determined
by reachability, so the operator is deterministic end to end.

Spark-first composition — no new fixpoint machinery: one SCC decomposition
(operators/scc.py) plus four directed and one undirected multi-source
frontier BFS reachability sweeps (operators/paths.py bfs_hops — per-round
ONE exchange over frontier-incident arcs), then a single co-partitioned
label assembly. Reversed-arc sweeps reuse bfs_hops on the swapped
projection; the reference's undirected min-label superstep
(/root/reference/src/connected_components.c:103-142) has no directed
sibling — this whole family is engine-beyond-reference capability.

Scale note: the five sweeps each carry the bfs_hops budget (frontier-
incident arcs per round, 1 job/round via ``observe``); the assembly is
left joins of flat hash(vid) statics. The only driver-side values are the
core label (an O(1) orderBy-limit-1 collect on the SCC size table) and
the per-phase metrics scalars.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.loop import Loop
from .paths import bfs_hops
from .scc import strongly_connected_components

REGIONS = ("CORE", "IN", "OUT", "TUBE", "TENDRIL", "DISC")


def bowtie(
    edges: DataFrame,
    vertices: Optional[DataFrame] = None,
    scc_labels: Optional[DataFrame] = None,
    max_iter: int = 10_000,
) -> tuple[DataFrame, list[dict]]:
    """Returns ((vid, region, core), metrics) for the directed graph
    ``edges`` (src, dst): ``region`` is one of REGIONS, ``core`` is the
    core SCC's label (min vid of the largest SCC — constant column,
    kept so downstream joins know WHICH core the regions refer to).

    ``vertices`` (optional) defines the output vertex set; vertices with
    no arcs are DISC unless the core's weak component contains them.
    ``scc_labels`` (optional): a precomputed (vid, scc) table from
    ``strongly_connected_components`` over the SAME edges, to skip the
    decomposition when the caller already ran it. On an empty graph (no
    arcs, no vertices) returns an empty frame with core = NULL metrics.
    """
    spark = edges.sparkSession
    metrics: list[dict] = []
    # the nested scc/bfs_hops calls, including the sweep threads below,
    # inherit this scope's width and conf (plans/loop.py)
    with Loop(edges) as loop:
        arcs = loop.flat(
            edges.select(F.col("src").cast("long").alias("src"),
                         F.col("dst").cast("long").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct(),
            "src",
        )

        if scc_labels is None:
            scc_labels, scc_metrics = strongly_connected_components(
                arcs, vertices=vertices, max_iter=max_iter
            )
            metrics.append({"phase": "scc", "rounds": len(scc_metrics),
                            "converged": bool(scc_metrics[-1]["converged"])})
        labels = loop.flat(
            scc_labels.select(F.col("vid").cast("long").alias("vid"),
                              F.col("scc").cast("long").alias("scc")),
            "vid",
        )

        # core = largest SCC, ties -> smallest label (deterministic); O(1) rows
        # cross the driver.
        top = (
            labels.groupBy("scc").count()
            .orderBy(F.desc("count"), F.asc("scc"))
            .limit(1)
            .collect()
        )
        if not top:
            empty = spark.createDataFrame([], "vid long, region string, core long")
            metrics.append({"phase": "done", "core": None, "converged": True})
            return empty, metrics
        core_label = int(top[0]["scc"])
        metrics.append({"phase": "core", "core": core_label,
                        "core_size": int(top[0]["count"])})

        core = loop.flat(labels.where(F.col("scc") == core_label).select("vid"))
        rev = arcs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))

        def _sweep(a: DataFrame, seeds: DataFrame, phase: str,
                   directed: bool = True) -> tuple[DataFrame, dict]:
            out, m = bfs_hops(a, sources=seeds, max_iter=max_iter,
                              directed=directed)
            return out.select("vid"), {
                "phase": phase, "rounds": len(m),
                "converged": bool(m[-1]["converged"]),
            }

        # The three core-seeded sweeps are independent: submit them from a
        # small thread pool so one sweep's straggler rounds back-fill the
        # others' idle capacity. Results/metrics are joined in a
        # fixed order, so the output is unchanged.
        with ThreadPoolExecutor(max_workers=3) as pool:
            f_fwd = pool.submit(_sweep, arcs, core, "fwd_from_core")
            f_bwd = pool.submit(_sweep, rev, core, "bwd_to_core")
            f_weak = pool.submit(_sweep, arcs, core, "weak_component", False)
            fwd, m_fwd = f_fwd.result()    # core ∪ OUT ∪ deeper
            bwd, m_bwd = f_bwd.result()    # core ∪ IN
            weak, m_weak = f_weak.result()
        metrics += [m_fwd, m_bwd, m_weak]

        # IN/OUT sets: the emptiness scalars ride the materializing jobs as
        # observed metrics instead of separate limit(1).count() actions.
        in_set, in_row = loop.step(bwd.join(core, "vid", "left_anti"), n=F.count("*"))
        out_set, out_row = loop.step(fwd.join(core, "vid", "left_anti"), n=F.count("*"))
        n_in, n_out = int(in_row["n"] or 0), int(out_row["n"] or 0)

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_fi = pool.submit(_sweep, arcs, in_set, "fwd_from_in") \
                if n_in else None
            f_to = pool.submit(_sweep, rev, out_set, "bwd_to_out") \
                if n_out else None
            if f_fi:
                from_in, m_fi = f_fi.result()
                metrics.append(m_fi)
            else:
                from_in = spark.createDataFrame([], "vid long")
            if f_to:
                to_out, m_to = f_to.result()
                metrics.append(m_to)
            else:
                to_out = spark.createDataFrame([], "vid long")

        # assembly: all flat hash(vid) statics -> co-partitioned left joins;
        # precedence CORE > IN > OUT > (TUBE|TENDRIL within weak) > DISC
        def _flag(df: DataFrame, name: str) -> DataFrame:
            return df.select("vid", F.lit(1).alias(name)).repartition(loop.n_part, "vid")

        base = labels.select("vid")
        if vertices is not None:
            base = (
                vertices.select(F.col("vid").cast("long").alias("vid")).distinct()
                .unionByName(base).distinct()
                .repartition(loop.n_part, "vid")
            )
        out = (
            base
            .join(_flag(core, "c"), "vid", "left")
            .join(_flag(in_set, "i"), "vid", "left")
            .join(_flag(out_set, "o"), "vid", "left")
            .join(_flag(weak, "w"), "vid", "left")
            .join(_flag(from_in, "fi"), "vid", "left")
            .join(_flag(to_out, "to"), "vid", "left")
            .select(
                "vid",
                F.when(F.col("c") == 1, "CORE")
                .when(F.col("i") == 1, "IN")
                .when(F.col("o") == 1, "OUT")
                .when(F.col("w").isNull(), "DISC")
                .when((F.col("fi") == 1) & (F.col("to") == 1), "TUBE")
                .otherwise("TENDRIL")
                .alias("region"),
                F.lit(core_label).cast("long").alias("core"),
            )
        )
    metrics.append({"phase": "done", "core": core_label, "converged": True})
    return out, metrics
