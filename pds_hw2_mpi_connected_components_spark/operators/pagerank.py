"""Power-iteration PageRank on the *directed* edge table.

New capability mandated by the north rule (the reference computes only CC;
SURVEY.md §2.9) built on the superstep skeleton of the reference's min-label
loop (/root/reference/src/connected_components.c:103-142): one join + one
aggregation per iteration, a driver-side convergence reduction, per-iteration
materialization instead of Allgatherv replication.

Semantics: damping alpha (default 0.85), uniform teleport, dangling mass
redistributed uniformly each iteration; ranks sum to 1. Convergence on L1
delta < tol (matches the numpy dense oracle in tests to allclose 1e-6).

Shuffle budget per iteration (the 100 TB design point): exactly ONE
edge-scale shuffle — the groupBy(dst) contribution sum, with map-side
partial aggregation — and ONE action (the new-ranks checkpoint
materialization, r7: the L1 delta and the next iteration's dangling mass
ride it as ``DataFrame.observe`` metrics over co-partitioned flat joins
that are projected away, so no separate collect job exists).
Enforced by tests/test_plan_audit.py. How:

- every loop-static table is a FLAT, pre-partitioned LogicalRDD:
  ``loop.flat(df, key)`` (plans/loop.py). Two measured pyspark
  4.1.2 facts drive this (see tests/test_plan_audit.py):
  1. localCheckpoint PRESERVES the child's hash partitioning (the LogicalRDD
     captures outputPartitioning), so joins/aggs on the checkpointed table
     need no exchange;
  2. ``persist()`` + CacheManager lookup is FRAGILE here: when two cached
     plans share lineage (vertices and w_edges both derive from ``edges``),
     analyzer attribute-deduplication rewrites one subtree and its cache
     lookup silently MISSES — round 1 rebuilt the weighted edge table
     (join + repartition) every single iteration because of this. Flat
     LogicalRDDs have no lineage to dedup and need no cache lookup.
- per iteration, new_ranks is materialized with
  ``loop.step(df, "vid", ...)``; the repartition is ELIDED by the planner when the join output is already
  hash(vid, n_part) (the normal case) and only actually shuffles when AQE
  re-planned the join output, so the steady-state budget is the groupBy
  alone. (The checkpointed-durability path re-reads parquet, which is
  genuinely unpartitioned — there the vertex-scale repartition is the
  price of resumability.)
- materialized RDDs are freed by the driver GC + ContextCleaner once the
  loop drops its references — nothing stays pinned by CacheManager after
  the call returns (round 1 leaked the persisted statics).
- hub skew on dst: AQE skew handling + optional salted two-stage
  aggregation (`salt_buckets`, SURVEY.md §4 X6).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.checkpoint import CheckpointStore
from ..plans.loop import Loop


def pagerank(
    edges: DataFrame,
    vertices: Optional[DataFrame] = None,
    alpha: float = 0.85,
    tol: float = 1e-8,
    max_iter: int = 100,
    checkpoint: Optional[CheckpointStore] = None,
    salt_buckets: int = 0,
    reset: Optional[DataFrame] = None,
) -> tuple[DataFrame, list[dict]]:
    """Returns ((vid, rank), metrics). ``edges`` directed (src,dst), deduped.

    ``reset``: optional (vid) seed set => PERSONALIZED PageRank
    (TrustRank-style): teleport AND dangling mass go uniformly to the seeds
    instead of all vertices — rank_{i+1}(v) = ((1-a) + a*dangling) * p(v)
    + a * contrib(v) with p uniform over (seeds ∩ vertices). Ranks still
    sum to 1; vertices unreachable from the seed set converge to 0. The
    seed set is broadcast (PPR seed sets are small by construction — hub
    pages, trusted domains); everything else — statics, per-iteration
    shuffle budget (ONE edge-scale groupBy(dst)), the single combined
    delta+dangling action — is shared with the uniform path unchanged."""
    with Loop(edges) as loop:
        if vertices is None:
            vertices = (
                edges.select(F.col("src").alias("vid"))
                .union(edges.select(F.col("dst").alias("vid")))
                .distinct()
            )
        # flat + hash(vid): see module docstring for why localCheckpoint, not persist
        vertices = loop.flat(vertices.select("vid"), "vid")
        n = vertices.count()
        if n == 0:
            return vertices.select("vid", F.lit(0.0).alias("rank")), []

        out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
        # static weighted edges: flat + hash(src), materialized once
        w_edges = loop.flat(
            edges.join(out_deg, "src")
            .select("src", "dst", (F.lit(1.0) / F.col("out_deg")).alias("inv_deg")),
            "src",
        )
        # static dangling-vertex set (broadcast in the loop); flag column for the
        # combined stats pass
        dangling_v = loop.flat(
            vertices.join(out_deg, vertices.vid == out_deg.src, "left_anti")
            .select("vid", F.lit(1).alias("is_dangling"))
        )
        n_dangling = dangling_v.count()

        # personalized teleport vector: flat + hash(vid), same layout as the
        # uniform-path vertices so every loop consumer stays co-partitioned
        pvec = None
        seed_fp = None
        if reset is not None:
            seeds = reset.select("vid").distinct()
            # count + bit_xor of the effective seed set (seeds ∩ vertices) in the
            # SAME action: the xor is a deterministic, order-free fingerprint that
            # namespaces the checkpoint below — resuming with a different reset
            # set must NOT silently restore ranks personalized for the old seeds
            # (it would converge to a blend of the two personalizations).
            srow = (
                seeds.join(vertices, "vid", "left_semi")
                .agg(F.count("*").alias("n"), F.expr("bit_xor(vid)").alias("x"))
                .collect()[0]
            )
            n_seeds = srow["n"]
            if n_seeds == 0:
                raise ValueError(
                    "pagerank(reset=...): no seed vertex is present in the graph"
                )
            seed_fp = f"{n_seeds}x{(srow['x'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}"
            pvec = loop.flat(
                vertices.join(
                    F.broadcast(seeds.withColumn("is_seed", F.lit(1))), "vid", "left"
                )
                .select(
                    "vid",
                    F.when(F.col("is_seed") == 1, F.lit(1.0 / n_seeds))
                    .otherwise(F.lit(0.0))
                    .alias("p"),
                ),
                "vid",
            )

        ckpt_name = "pagerank" if reset is None else f"pagerank_ppr_{seed_fp}"
        start_iter = 0
        ranks = None
        dangling = None
        if checkpoint is not None:
            resumed = checkpoint.latest(ckpt_name)
            if resumed is not None:
                start_iter, ranks = resumed
                ranks = loop.flat(ranks, "vid")
                start_iter += 1
        if ranks is None:
            if pvec is not None:
                # seeded init: r0 = p (hash(vid) preserved by projection);
                # initial dangling mass comes from the generic action below
                ranks = pvec.select("vid", F.col("p").alias("rank"))
            else:
                # Project over the flat vertices: partitioning hash(vid) is preserved.
                ranks = vertices.select("vid", F.lit(1.0 / n).alias("rank"))
                dangling = n_dangling * (1.0 / n)  # uniform init: no action needed
        if dangling is None:
            dangling = (
                ranks.join(dangling_v.select("vid").hint("shuffle_hash"), "vid", "left_semi")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                .collect()[0][0]
            )

        for it in loop.rounds(max_iter, start_iter):
            # shuffle-hash: build the hash table on the (small) ranks side; the
            # pre-partitioned flat edges stream through with no sort and no
            # exchange (A/B measured ~3x over the default sort-merge at 2M
            # vertices)
            joined = w_edges.join(ranks.hint("shuffle_hash"), w_edges.src == ranks.vid).select(
                "src", "dst", (F.col("rank") * F.col("inv_deg")).alias("w")
            )
            if salt_buckets > 0:
                # two-stage sum: (dst, salt) partials spread a hot dst key over
                # salt_buckets reducers; salt is a deterministic function of src.
                sums = (
                    joined.withColumn("salt", F.pmod(F.xxhash64("src"), F.lit(salt_buckets)))
                    .groupBy("dst", "salt").agg(F.sum("w").alias("pw"))
                    .groupBy("dst").agg(F.sum("pw").alias("in_w"))
                )
            else:
                sums = joined.groupBy("dst").agg(F.sum("w").alias("in_w"))

            if pvec is not None:
                # seeded: teleport + dangling mass land on the seeds via p(v)
                seed_base = (1.0 - alpha) + alpha * dangling
                new_ranks = (
                    pvec.join(sums.hint("shuffle_hash"), pvec.vid == sums.dst, "left")
                    .select(
                        "vid",
                        (
                            F.lit(seed_base) * F.col("p")
                            + F.lit(alpha) * F.coalesce("in_w", F.lit(0.0))
                        ).alias("rank"),
                    )
                )
            else:
                base = (1.0 - alpha) / n + alpha * dangling / n
                new_ranks = (
                    vertices.join(sums.hint("shuffle_hash"), vertices.vid == sums.dst, "left")
                    .select(
                        "vid",
                        (F.lit(base) + F.lit(alpha) * F.coalesce("in_w", F.lit(0.0))).alias("rank"),
                    )
                )
            if checkpoint is not None:
                # rows is n by construction (left join on the vertex table);
                # passing it avoids an extra scan. The parquet re-read is
                # unpartitioned: restore hash(vid) for the two consumers below.
                # The delta+dangling scalars need their own action here (the
                # parquet write cannot carry an observation).
                new_ranks = checkpoint.write(ckpt_name, it, new_ranks, rows=n)
                new_ranks = loop.flat(new_ranks, "vid")
                row = (
                    new_ranks.alias("a")
                    .join(ranks.alias("b").select("vid", F.col("rank").alias("old_rank")), "vid")
                    .join(dangling_v.hint("shuffle_hash"), "vid", "left")
                    .agg(
                        F.sum(F.abs(F.col("rank") - F.col("old_rank"))).alias("delta"),
                        F.coalesce(
                            F.sum(F.when(F.col("is_dangling") == 1, F.col("rank"))), F.lit(0.0)
                        ).alias("dangling"),
                    )
                    .collect()[0]
                )
                delta, dangling = row["delta"], row["dangling"]
            else:
                # the L1 delta and the next iteration's dangling mass are
                # observed over hash(vid)-co-partitioned joins with the old
                # ranks and dangling_v (NO exchange); the inner join keeps all
                # n vids, so the emitted (vid, rank) rows are bit-identical.
                new_ranks, row = loop.step(
                    new_ranks
                    .join(
                        ranks.select(
                            "vid", F.col("rank").alias("old_rank")
                        ).hint("shuffle_hash"),
                        "vid",
                    )
                    .join(dangling_v.hint("shuffle_hash"), "vid", "left"),
                    "vid",
                    keep=("vid", "rank"),
                    delta=F.sum(F.abs(F.col("rank") - F.col("old_rank"))),
                    dangling=F.coalesce(
                        F.sum(F.when(F.col("is_dangling") == 1, F.col("rank"))),
                        F.lit(0.0),
                    ),
                )
                delta, dangling = row["delta"], row["dangling"]
            m = loop.emit(iter=it, l1_delta=delta, dangling=dangling,
                          converged=delta < tol)
            if checkpoint is not None:
                checkpoint.log_metrics(ckpt_name, m)
            ranks = new_ranks
            if delta < tol:
                break
        return ranks, loop.metrics
