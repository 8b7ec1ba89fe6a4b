"""The benchmark's workloads: seeded set-up, one pass of timed calls, checks.

Each workload builds its inputs from the seed alone and hands the engine
only the generated tables.  A pass is a list of :class:`Step`; every step
is one public call into a layer (``sources`` or ``operators``), timed up
to and including the consumption of its result, and then checked against
an answer computed in set-up (``oracle.py``), outside the timer.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass
from typing import Any, Callable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pds_hw2_mpi_connected_components_spark.operators import (
    anf,
    connected_components,
    connected_components_frontier,
    hits,
    label_propagation,
    pagerank,
    triangle_count,
)
from pds_hw2_mpi_connected_components_spark.operators.csr import (
    connected_components_csr,
    pagerank_csr,
)
from pds_hw2_mpi_connected_components_spark.plans.flat import flat_checkpoint
from pds_hw2_mpi_connected_components_spark.sources import (
    build_graph,
    extract_links_df,
    read_bin_csc,
    write_bin_csc,
)
from pds_hw2_mpi_connected_components_spark.sources.datagen import (
    generate_edges,
    generate_pages,
    page_url,
    true_out_links,
)
from pds_hw2_mpi_connected_components_spark.sources.graph_build import symmetrize

import oracle

N_COMPONENTS = 16


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Step:
    """One public call. ``run(ctx)`` returns (result, rounds or None) and is
    timed; ``check(ctx, result)`` is not."""

    layer: str
    run: Callable[[dict], tuple[Any, Optional[int]]]
    check: Callable[[dict, Any], None]


@dataclass
class Setup:
    datagen_s: float = 0.0
    input_checkpoint_s: float = 0.0
    graph_io_write_s: float = 0.0

    @property
    def total_s(self) -> float:
        return self.datagen_s + self.input_checkpoint_s + self.graph_io_write_s


def timed(fn):
    t0 = time.monotonic()
    out = fn()
    return out, time.monotonic() - t0


def vid_permutation(seed: int, n: int) -> tuple[int, int]:
    """(a, b) for the bijection v -> (a*v + b) mod n, gcd(a, n) = 1."""
    rng = np.random.default_rng([seed, n])
    while True:
        a = int(rng.integers(1, n))
        if math.gcd(a, n) == 1:
            return a, int(rng.integers(0, n))


def label_digest(labels) -> tuple:
    """(rows, bit_xor(xxhash64(vid, label)), distinct labels): the
    order-free fingerprint tools/bench_throughput.py compares modes by."""
    row = labels.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("vid", "label")).alias("h"),
        F.countDistinct("label").alias("c"),
    ).collect()[0]
    return int(row["n"]), int(row["h"]), int(row["c"])


def oracle_digest(spark, label: np.ndarray) -> tuple:
    pdf = pd.DataFrame({"vid": np.arange(len(label), dtype=np.int64), "label": label})
    return label_digest(spark.createDataFrame(pdf))


def sorted_vector(pdf: pd.DataFrame, col: str, n: int) -> np.ndarray:
    expect(len(pdf) == n, f"{col}: {len(pdf)} rows, expected {n}")
    pdf = pdf.sort_values("vid")
    expect(np.array_equal(pdf["vid"].to_numpy(), np.arange(n)), f"{col}: vids not 0..n-1")
    return pdf[col].to_numpy()


def check_ranks(key: str, expected: np.ndarray, converged: Optional[np.ndarray], iters: int):
    """Ranks sum to 1, equal the numpy power iteration, lie within the
    contraction bound of the converged networkx ranks, and the df and CSR
    modes agree when both ran in this pass."""
    def check(ctx, r):
        expect(abs(r.sum() - 1.0) < 1e-9, f"{key}: ranks sum to {r.sum()}")
        expect(np.allclose(r, expected, rtol=1e-6, atol=1e-12), f"{key}: != numpy power iteration")
        if converged is not None:
            l1 = np.abs(r - converged).sum()
            expect(l1 <= oracle.pagerank_l1_bound(iters), f"{key}: L1 {l1} from networkx")
        ctx[key] = r
        if "pagerank" in ctx and "pagerank_csr" in ctx:
            expect(np.allclose(ctx["pagerank"], ctx["pagerank_csr"], rtol=1e-6, atol=0),
                   "pagerank: df and csr modes differ")
    return check


class Workload:
    """``setup()`` may run several times (the last run's inputs are kept),
    then ``prepare()`` computes the reference answers, then ``steps()``."""

    name = ""

    def __init__(self, spark, seed: int, smoke: bool, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.smoke = smoke
        self.work_dir = work_dir
        self.n = 0
        self.sym_edges = 0
        # per CSR superstep: (broadcast vector entries, collected rows)
        self.csr_shape: dict[str, tuple[int, int]] = {}

    def setup(self, rep: int) -> Setup:
        raise NotImplementedError

    def prepare(self) -> None:
        raise NotImplementedError

    def steps(self) -> list[Step]:
        raise NotImplementedError


class CrawlPipeline(Workload):
    """pages -> extract_links_df -> build_graph, then every iterative
    operator on the graph the pass just built."""

    name = "crawl_pipeline"
    PR_ITERS, HITS_ITERS, LP_ITERS, ANF_TRIALS, ANF_HOPS = 3, 2, 2, 8, 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n = 400 if self.smoke else 5_000

    def setup(self, rep: int) -> Setup:
        s = Setup()
        pages, s.datagen_s = timed(lambda: generate_pages(
            self.spark, self.n, n_components=N_COMPONENTS, seed=self.seed,
            num_partitions=len(os.sched_getaffinity(0))))
        self.pages, s.input_checkpoint_s = timed(lambda: pages.transform(flat_checkpoint))
        return s

    def prepare(self) -> None:
        n = self.n
        links = true_out_links(n, N_COMPONENTS, seed=self.seed)
        # build_graph numbers vertices by url order
        urls = np.array([page_url(i, N_COMPONENTS) for i in range(n)])
        order = np.argsort(urls, kind="stable")
        vid = np.empty(n, dtype=np.int64)
        vid[order] = np.arange(n)
        self.urls_by_vid = urls[order]
        self.total_links = sum(len(ts) for ts in links.values())
        src = vid[np.array([p for p, ts in links.items() for _ in ts], dtype=np.int64)]
        dst = vid[np.array([t for ts in links.values() for t in ts], dtype=np.int64)]
        codes = np.unique(src[src != dst] * n + dst[src != dst])
        self.edge_codes = codes
        src, dst = codes // n, codes % n
        undirected = np.unique(np.minimum(src, dst) * n + np.maximum(src, dst))
        self.sym_edges = 2 * len(undirected)
        self.labels = oracle.min_labels(n, src, dst)
        self.cc_digest = oracle_digest(self.spark, self.labels)
        self.pr = oracle.pagerank_steps(n, src, dst, self.PR_ITERS)
        self.pr_conv = oracle.pagerank_converged(n, src, dst)
        self.auth, self.hub = oracle.hits_steps(n, src, dst, self.HITS_ITERS)
        self.tri = oracle.triangles(src, dst)
        with_nbr = oracle.distinct_count(np.concatenate([src, dst]))
        self.csr_shape = {"cc_csr": (n, with_nbr),
                          "pagerank_csr": (n, oracle.distinct_count(dst))}

    def steps(self) -> list[Step]:
        n = self.n

        def extract(ctx):
            row = (extract_links_df(self.pages)
                   .agg(F.count("*"), F.sum(F.size("links"))).collect()[0])
            return (int(row[0]), int(row[1])), None

        def check_extract(ctx, got):
            expect(got == (n, self.total_links), f"extract: {got} != {(n, self.total_links)}")

        def build(ctx):
            g = build_graph(self.pages)
            ctx["vertices"] = g.vertices
            ctx["vids"] = g.vertices.select("vid")
            ctx["edges"] = g.edges.transform(flat_checkpoint)
            return g, None

        def check_build(ctx, g):
            v = ctx["vertices"].toPandas().sort_values("vid")
            expect(np.array_equal(v["vid"].to_numpy(), np.arange(n)), "graph_build: vids not 0..n-1")
            expect(np.array_equal(v["url"].to_numpy(), self.urls_by_vid), "graph_build: url dictionary")
            e = ctx["edges"].toPandas()
            codes = np.sort(e["src"].to_numpy() * n + e["dst"].to_numpy())
            expect(np.array_equal(codes, self.edge_codes), "graph_build: edge set != true_out_links")

        def cc_step(fn):
            def run(ctx):
                labels, m = fn(ctx["edges"], vertices=ctx["vids"])
                return label_digest(labels), len(m)
            return run

        def check_cc(ctx, got):
            expect(got[2] == N_COMPONENTS, f"cc: {got[2]} components")
            expect(got == self.cc_digest, "cc: labels != networkx")

        def pr_step(fn):
            def run(ctx):
                ranks, m = fn(ctx["edges"], vertices=ctx["vids"], tol=0.0, max_iter=self.PR_ITERS)
                return sorted_vector(ranks.toPandas(), "rank", n), len(m)
            return run

        def run_hits(ctx):
            out, m = hits(ctx["edges"], vertices=ctx["vids"], tol=0.0, max_iter=self.HITS_ITERS)
            pdf = out.toPandas()
            return (sorted_vector(pdf, "auth", n), sorted_vector(pdf, "hub", n)), len(m)

        def check_hits(ctx, got):
            expect(np.allclose(got[0], self.auth, rtol=1e-6, atol=1e-12), "hits: auth != numpy")
            expect(np.allclose(got[1], self.hub, rtol=1e-6, atol=1e-12), "hits: hub != numpy")

        def run_lp(ctx):
            labels, m = label_propagation(symmetrize(ctx["edges"]), vertices=ctx["vids"],
                                          max_iter=self.LP_ITERS)
            return sorted_vector(labels.toPandas(), "label", n), len(m)

        def check_lp(ctx, lab):
            # labels travel along edges only: each names a vertex of the
            # same component
            expect(bool(((lab >= 0) & (lab < n)).all()), "labelprop: label outside 0..n-1")
            expect(np.array_equal(self.labels[lab], self.labels),
                   "labelprop: label from another component")

        def run_anf(ctx):
            curve, m = anf(ctx["edges"], vertices=ctx["vids"],
                           n_trials=self.ANF_TRIALS, max_hops=self.ANF_HOPS)
            return curve.toPandas().sort_values("hop"), len(m)

        def check_anf(ctx, pdf):
            est = pdf["n_est"].to_numpy()
            expect(np.array_equal(pdf["hop"].to_numpy(), np.arange(self.ANF_HOPS + 1)), "anf: hops")
            expect(bool((np.diff(est) >= 0).all()), "anf: N(h) decreases")
            expect(n / 2 <= est[0] <= 2 * n, f"anf: N(0) estimate {est[0]} for {n} vertices")

        def run_tri(ctx):
            return triangle_count(ctx["edges"]), None

        def check_tri(ctx, got):
            expect(got == self.tri, f"triangles: {got} != networkx {self.tri}")

        check_pr = check_ranks("pagerank", self.pr, self.pr_conv, self.PR_ITERS)
        check_pr_csr = check_ranks("pagerank_csr", self.pr, self.pr_conv, self.PR_ITERS)
        return [
            Step("extract", extract, check_extract),
            Step("graph_build", build, check_build),
            Step("cc", cc_step(connected_components), check_cc),
            Step("cc_csr", cc_step(connected_components_csr), check_cc),
            Step("cc_frontier", cc_step(connected_components_frontier), check_cc),
            Step("pagerank", pr_step(pagerank), check_pr),
            Step("pagerank_csr", pr_step(pagerank_csr), check_pr_csr),
            Step("hits", run_hits, check_hits),
            Step("labelprop", run_lp, check_lp),
            Step("anf", run_anf, check_anf),
            Step("triangles", run_tri, check_tri),
        ]


class WebgraphScale(Workload):
    """Binary CSC load -> CC -> PageRank (DataFrame modes) on a
    JVM-generated hub-skewed graph whose vids the seed permutes."""

    name = "webgraph_scale"
    PR_ITERS = 3

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n = 3_000 if self.smoke else 60_000
        self.perm = vid_permutation(self.seed, self.n)

    def setup(self, rep: int) -> Setup:
        s = Setup()
        n, (a, b) = self.n, self.perm

        def gen():
            e = symmetrize(generate_edges(self.spark, n, N_COMPONENTS))
            return e.select(((F.col("src") * a + b) % n).alias("src"),
                            ((F.col("dst") * a + b) % n).alias("dst"))

        sym, s.datagen_s = timed(gen)
        self.sym, s.input_checkpoint_s = timed(lambda: sym.transform(flat_checkpoint))
        self.path = os.path.join(self.work_dir, f"graph{rep}.bin")
        self.nnz, s.graph_io_write_s = timed(lambda: write_bin_csc(self.sym, n, n, self.path))
        return s

    def prepare(self) -> None:
        n, (a, b) = self.n, self.perm
        e = self.sym.toPandas()
        src, dst = e["src"].to_numpy(), e["dst"].to_numpy()
        self.sym_edges = len(e)
        expect(self.nnz == self.sym_edges, f"write_bin_csc: nnz {self.nnz} != {self.sym_edges}")
        self.edge_codes = np.sort(src * n + dst)
        # generate_edges puts vertex i in component i % 16 by construction
        perm = (np.arange(n, dtype=np.int64) * a + b) % n
        comp = np.arange(n) % N_COMPONENTS
        root = np.full(N_COMPONENTS, n, dtype=np.int64)
        np.minimum.at(root, comp, perm)
        label = np.empty(n, dtype=np.int64)
        label[perm] = root[comp]
        self.cc_digest = oracle_digest(self.spark, label)
        self.pr = oracle.pagerank_steps(n, src, dst, self.PR_ITERS)

    def steps(self) -> list[Step]:
        n = self.n

        def read(ctx):
            edges, hdr = read_bin_csc(self.spark, self.path)
            ctx["edges"] = edges.transform(flat_checkpoint)
            return hdr, None

        def check_read(ctx, hdr):
            e = ctx["edges"].toPandas()
            expect(hdr["nnz"] == self.sym_edges, f"read_bin_csc: nnz {hdr['nnz']}")
            expect(np.array_equal(np.sort(e["src"].to_numpy() * n + e["dst"].to_numpy()),
                                  self.edge_codes), "read_bin_csc: edge set differs from the written one")

        def run_cc(ctx):
            labels, m = connected_components(ctx["edges"])
            return label_digest(labels), len(m)

        def check_cc(ctx, got):
            expect(got[0] == n and got[2] == N_COMPONENTS, f"cc: {got[2]} components over {got[0]} vertices")
            expect(got == self.cc_digest, "cc: labels != components by construction")

        def run_pr(ctx):
            ranks, m = pagerank(ctx["edges"], tol=0.0, max_iter=self.PR_ITERS)
            return sorted_vector(ranks.toPandas(), "rank", n), len(m)

        return [
            Step("graph_io_read", read, check_read),
            Step("cc", run_cc, check_cc),
            Step("pagerank", run_pr, check_ranks("pagerank", self.pr, None, self.PR_ITERS)),
        ]


WORKLOADS = {w.name: w for w in (CrawlPipeline, WebgraphScale)}
