"""HITS (hubs & authorities) power iteration on the directed edge table.

Link-analysis extension in the same family as PageRank (SURVEY.md §2.9):
the reference computes only CC (/root/reference/src/connected_components.c);
HITS reuses the superstep skeleton of operators/pagerank.py — flat
pre-partitioned statics, one materialization per half-step, driver-side
scalar reductions — for Kleinberg's mutually-recursive scores
(auth = A^T hub, hub = A auth, each L2-normalized).

Shuffle budget per iteration (the 100 TB design point): exactly TWO
edge-scale shuffles — one groupBy(dst) for the auth half-step and one
groupBy(src) for the hub half-step, both with map-side partial aggregation.
That is the information-theoretic floor for HITS (two matvecs per
iteration), the analog of PageRank's single-matvec floor. How the rest of
the plan stays off the shuffle path:

- TWO flat edge tables, hash-partitioned for their consumer: ``e_by_src``
  (joined against hubs on src, aggregated to dst) and ``e_by_dst`` (joined
  against auths on dst, aggregated to src). Built once, localCheckpoint
  (partitioning-preserving; rationale in operators/pagerank.py docstring).
- L2 norms AND the convergence delta ride the SAME actions that materialize
  the half-steps, via ``DataFrame.observe``: the auth half-step observes
  ``sum(auth*auth)``; the hub half-step co-joins the (already
  hash(vid)-partitioned, so exchange-free) current and previous auth
  vectors and observes ``sum(hub*hub)`` plus the auth L1 delta. Each
  iteration therefore runs exactly TWO Spark jobs — the two
  localCheckpoint materializations — with no separate scalar actions
  (audited by tests/test_plan_audit.py::test_hits_jobs_per_iteration).
- Normalization is applied LAZILY as a literal ``* (1/norm)`` multiplier in
  the NEXT half-step's plan, so no extra pass rewrites the vector; the
  previous auth vector is kept UNnormalized next to its scale (no extra
  materialization for the delta baseline — the lazy product
  ``auth * lit(scale)`` is bit-identical to a materialized one). Scores
  returned to the caller are fully normalized.
- Float-op ordering is pinned for the DuckDB oracle: contributions sum raw
  products ``score * (1/norm)`` (not ``score/norm``), and the norm is
  ``sqrt(sum(x*x))`` of the *unnormalized* half-step output. The oracle in
  __spark_entry__.py mirrors these expressions token-for-token.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.loop import Loop

#: Spark jobs per iteration — the two half-step materializations; norms and
#: the convergence delta are observed metrics on those same jobs.
JOBS_PER_ITERATION = 2


def auth_half_step(
    vertices: DataFrame, e_by_src: DataFrame, hubs: DataFrame, hub_scale: float
) -> DataFrame:
    """One auth matvec: a_un = A^T (h * hub_scale) over the full vertex set
    (missing in-links -> 0.0). ONE edge-scale shuffle: the groupBy(dst)
    partial->final aggregation; the e_by_src join and the vertices left-join
    consume the flat hash(src)/hash(vid) statics exchange-free. Audited by
    tests/test_plan_audit.py::test_hits_iteration_exchange_budget against
    THIS builder (the operator and the test share it)."""
    a_contrib = (
        e_by_src.join(hubs.hint("shuffle_hash"), e_by_src.src == hubs.vid)
        .select("dst", (F.col("hub") * F.lit(hub_scale)).alias("w"))
        .groupBy("dst")
        .agg(F.sum("w").alias("s"))
    )
    return (
        vertices.join(
            a_contrib.hint("shuffle_hash"), vertices.vid == a_contrib.dst, "left"
        )
        .select("vid", F.coalesce("s", F.lit(0.0)).alias("auth"))
    )


def hub_half_step(
    vertices: DataFrame, e_by_dst: DataFrame, auths: DataFrame, auth_scale: float
) -> DataFrame:
    """One hub matvec: h_un = A (a * auth_scale); mirror of
    :func:`auth_half_step` (ONE edge-scale shuffle, the groupBy(src) agg)."""
    h_contrib = (
        e_by_dst.join(auths.hint("shuffle_hash"), e_by_dst.dst == auths.vid)
        .select("src", (F.col("auth") * F.lit(auth_scale)).alias("w"))
        .groupBy("src")
        .agg(F.sum("w").alias("s"))
    )
    return (
        vertices.join(
            h_contrib.hint("shuffle_hash"), vertices.vid == h_contrib.src, "left"
        )
        .select("vid", F.coalesce("s", F.lit(0.0)).alias("hub"))
    )


def hits(
    edges: DataFrame,
    vertices: Optional[DataFrame] = None,
    tol: float = 1e-8,
    max_iter: int = 50,
) -> tuple[DataFrame, list[dict]]:
    """Returns ((vid, auth, hub), metrics). ``edges`` directed, deduped.

    Vertices with no in-links get auth 0; no out-links get hub 0 (standard
    HITS semantics on the full vertex set). Both vectors are L2-normalized.
    ``max_iter`` must be >= 1 (the result is the last completed iteration's
    vectors, so zero iterations have no defined output).
    """
    if max_iter < 1:
        raise ValueError(f"hits() requires max_iter >= 1, got {max_iter}")
    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("vid"))
            .union(edges.select(F.col("dst").alias("vid")))
            .distinct()
        )
    with Loop(edges) as loop:
        vertices = loop.flat(vertices.select("vid"), "vid")
        n = vertices.count()
        if n == 0:
            return vertices.select(
                "vid", F.lit(0.0).alias("auth"), F.lit(0.0).alias("hub")
            ), []

        e_by_src = loop.flat(edges.select("src", "dst"), "src")
        e_by_dst = loop.flat(e_by_src, "dst")

        # hub_0 = 1 for every vertex, pre-normalized (norm = sqrt(n), exact here)
        inv = 1.0 / math.sqrt(float(n))
        hubs = vertices.select("vid", F.lit(inv).alias("hub"))
        hub_scale = 1.0  # lazy 1/||.|| multiplier for the CURRENT hubs table
        auth_scale = 1.0
        # previous iteration's UNnormalized auth vector + its scale (the delta
        # baseline; product applied lazily, bit-identical to materializing it)
        prev: Optional[tuple[DataFrame, float]] = None

        for it in loop.rounds(max_iter):
            # ---- auth half-step: norm observed on the materializing job ---
            auths, row = loop.step(
                auth_half_step(vertices, e_by_src, hubs, hub_scale), "vid",
                ss=F.sum(F.col("auth") * F.col("auth")),
            )
            a_norm = math.sqrt(row["ss"] or 0.0)
            if a_norm == 0.0:
                # no edges at all: auth == hub == 0 everywhere, done
                loop.emit(iter=it, l1_delta=0.0, converged=True)
                return vertices.select(
                    "vid", F.lit(0.0).alias("auth"), F.lit(0.0).alias("hub")
                ), loop.metrics
            auth_scale = 1.0 / a_norm

            # ---- hub half-step: norm (+ auth L1 delta vs the previous
            # iteration) observed on the materializing job; the auths / prev
            # joins are hash(vid)-co-partitioned, so they add no exchange ---
            hub_plan = hub_half_step(vertices, e_by_dst, auths, auth_scale)
            hh = F.sum(F.col("hub") * F.col("hub"))
            if prev is not None:
                pa_df, pa_scale = prev
                hubs, row = loop.step(
                    hub_plan.join(auths.hint("shuffle_hash"), "vid")
                    .join(
                        pa_df.hint("shuffle_hash").select(
                            "vid", F.col("auth").alias("pa")
                        ),
                        "vid",
                    ),
                    "vid",
                    keep=("vid", "hub"),
                    hh=hh,
                    delta=F.sum(
                        F.abs(
                            F.col("auth") * F.lit(auth_scale)
                            - F.col("pa") * F.lit(pa_scale)
                        )
                    ),
                )
            else:
                hubs, row = loop.step(hub_plan, "vid", hh=hh)
            h_norm = math.sqrt(row["hh"] or 0.0)
            delta = row["delta"] if prev is not None else float("inf")
            hub_scale = 1.0 / h_norm if h_norm else 1.0
            prev = (auths, auth_scale)
            loop.emit(iter=it, l1_delta=delta, converged=delta < tol)
            if delta < tol:
                break

    pa_df, pa_scale = prev
    out = (
        pa_df.select("vid", (F.col("auth") * F.lit(pa_scale)).alias("auth"))
        .join(
            hubs.select("vid", (F.col("hub") * F.lit(hub_scale)).alias("hub")), "vid"
        )
        .select("vid", "auth", "hub")
    )
    return out, loop.metrics
