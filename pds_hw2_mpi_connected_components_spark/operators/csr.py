"""CSR-packed Arrow-vectorized supersteps (the reference's physical shape).

The reference's kernel is a tight C loop over a partition-local CSC slice
against a replicated label vector (/root/reference/src/connected_components.c:
109-128, label_global replicated via MPI_Allgatherv :98-101). This module
reproduces that physical strategy Spark-natively:

- the edge table is hash-partitioned by dst and sorted (dst, src) ONCE,
  persisted columnar in memory (the analog of the on-disk CSC column block,
  /root/reference/src/matrix.c:127-159);
- each superstep broadcasts the current rank/label vector (numpy, n*8
  bytes) and runs a `mapInPandas` gather-scatter per partition:
  `np.add.reduceat` / `np.minimum.reduceat` over the partition's CSR
  indptr — Arrow batches in, one small (dst, value) frame out;
- because partitions own disjoint dst sets, partials are final: the driver
  collects n rows per superstep and updates the vector (the Allgatherv
  analog), applying teleport/dangling (PageRank) or pointer-jumping (CC)
  in numpy.

Trade-off, stated plainly: this mode replicates an O(n) vector per
superstep, exactly like the reference — blazing fast while n*8 bytes fits
node memory (~10^9 vertices at 8 GB), and the same scaling wall beyond.
The DataFrame mode (operators/cc.py, operators/pagerank.py) has no such
wall and is the 10^12-document path; this mode is the per-node throughput
champion and the apples-to-apples baseline comparison. Both produce
bit-identical results (tested).

Determinism: packing sorts each partition by (dst, src), reduceat folds in
that fixed order => identical output at any parallelism.
"""

from __future__ import annotations

import time
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.loop import width


def pack_by_dst(edges: DataFrame, n_part: Optional[int] = None) -> DataFrame:
    """Hash-partition edges by dst and sort (dst, src) within partitions;
    persisted so every superstep re-reads the same Arrow-cached layout."""
    spark = edges.sparkSession
    if n_part is None:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    packed = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .repartition(n_part, "dst")
        .sortWithinPartitions("dst", "src")
        .persist()
    )
    packed.count()
    return packed


def _superstep(packed: DataFrame, vec: np.ndarray, kind: str) -> pd.DataFrame:
    """One gather-scatter: for each dst in the partition, fold vec[src] over
    its in-neighbors. kind: 'sum' (PageRank) or 'min' (CC). Returns the
    collected (dst, val) pandas frame (each dst appears exactly once)."""
    spark = packed.sparkSession
    bvec = spark.sparkContext.broadcast(vec)

    def gather(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        dst = pdf["dst"].to_numpy()
        src = pdf["src"].to_numpy()
        v = bvec.value
        # partition is sorted by dst: find group starts
        starts = np.flatnonzero(np.r_[True, dst[1:] != dst[:-1]])
        if kind == "sum":
            vals = np.add.reduceat(v[src], starts)
        else:
            vals = np.minimum.reduceat(v[src], starts)
        yield pd.DataFrame({"dst": dst[starts], "val": vals})

    out_type = "double" if kind == "sum" else "long"
    out = packed.mapInPandas(gather, schema=f"dst long, val {out_type}").toPandas()
    bvec.destroy()
    return out


def pagerank_csr(
    edges: DataFrame,
    vertices: Optional[DataFrame] = None,
    alpha: float = 0.85,
    tol: float = 1e-8,
    max_iter: int = 100,
) -> tuple[DataFrame, list[dict]]:
    """CSR-mode PageRank; same semantics as operators.pagerank.pagerank
    (uniform teleport, uniform dangling redistribution, L1 convergence).
    Requires dense-ish vertex ids in [0, max_vid]."""
    spark = edges.sparkSession
    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("vid"))
            .union(edges.select(F.col("dst").alias("vid")))
            .distinct()
        )
    vid_pdf = vertices.select("vid").toPandas()
    vids = np.sort(vid_pdf["vid"].to_numpy())
    n = len(vids)
    if n == 0:
        # mirror operators/pagerank.py's explicit empty-input path — the two
        # modes are documented as semantically identical.
        return spark.createDataFrame([], "vid long, rank double"), []
    size = int(vids[-1]) + 1
    exists = np.zeros(size, dtype=bool)
    exists[vids] = True

    # scale-adaptive partition count: every superstep launches one Python
    # worker task per packed partition, so idle fan-out is pure overhead
    packed = pack_by_dst(edges, width(edges))
    deg_pdf = edges.groupBy("src").agg(F.count("*").alias("out_deg")).toPandas()
    out_deg = np.zeros(size, dtype=np.float64)
    out_deg[deg_pdf["src"].to_numpy()] = deg_pdf["out_deg"].to_numpy()
    dangling_mask = exists & (out_deg == 0)
    inv_deg = np.where(out_deg > 0, 1.0 / np.maximum(out_deg, 1.0), 0.0)

    rank = np.where(exists, 1.0 / n, 0.0)
    metrics: list[dict] = []
    for it in range(max_iter):
        t0 = time.monotonic()
        contrib_in = rank * inv_deg
        got = _superstep(packed, contrib_in, "sum")
        contrib = np.zeros(size, dtype=np.float64)
        contrib[got["dst"].to_numpy()] = got["val"].to_numpy()
        dangling = float(rank[dangling_mask].sum())
        new_rank = np.where(
            exists, (1.0 - alpha) / n + alpha * (contrib + dangling / n), 0.0
        )
        delta = float(np.abs(new_rank - rank).sum())
        rank = new_rank
        metrics.append({"iter": it, "l1_delta": delta, "dangling": dangling,
                        "sec": time.monotonic() - t0})
        if delta < tol:
            break
    packed.unpersist()
    out = pd.DataFrame({"vid": vids, "rank": rank[vids]})
    return spark.createDataFrame(out), metrics


def connected_components_csr(
    edges: DataFrame,
    vertices: Optional[DataFrame] = None,
    max_iter: int = 512,
) -> tuple[DataFrame, list[dict]]:
    """CSR-mode CC: synchronous min-label propagation with full driver-side
    pointer jumping per superstep — the reference algorithm verbatim
    (init label=vid connected_components.c:94-96, neighborhood min :117-121,
    shortcut :123, jumping :145-152), converging to min-vid-per-component.
    max_iter mirrors MAX_ITER=512 (:103)."""
    spark = edges.sparkSession
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).where(F.col("src") != F.col("dst")).distinct()
    if vertices is None:
        universe = (
            edges.select(F.col("src").alias("vid"))
            .union(edges.select(F.col("dst").alias("vid")))
            .distinct()
        )
    else:
        universe = vertices.select("vid")
    vids = np.sort(universe.toPandas()["vid"].to_numpy())
    n = len(vids)
    if n == 0:
        return spark.createDataFrame([], "vid long, label long"), []
    size = int(vids[-1]) + 1

    packed = pack_by_dst(sym, width(edges, 2))
    label = np.full(size, np.iinfo(np.int64).max, dtype=np.int64)
    label[vids] = vids

    metrics: list[dict] = []
    for it in range(max_iter):
        t0 = time.monotonic()
        got = _superstep(packed, label, "min")
        new_label = label.copy()
        d = got["dst"].to_numpy()
        np.minimum.at(new_label, d, got["val"].to_numpy())
        # pointer jumping to full compression (driver-side, pure numpy):
        # label values are always real vids, so they are valid indices.
        while True:
            cur = new_label[vids]
            hop = new_label[cur]  # label of my label
            nxt = np.minimum(cur, hop)
            if np.array_equal(nxt, cur):
                break
            new_label[vids] = nxt
        changed = int((new_label[vids] != label[vids]).sum())
        label = new_label
        metrics.append({"round": it, "changed": changed,
                        "sec": time.monotonic() - t0})
        if changed == 0:
            break
    packed.unpersist()
    out = pd.DataFrame({"vid": vids, "label": label[vids]})
    return spark.createDataFrame(out), metrics
