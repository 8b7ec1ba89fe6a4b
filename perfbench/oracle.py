"""Independent reference answers, computed in set-up and never timed.

Nothing here calls the engine: graphs arrive as numpy edge arrays and the
answers come from networkx 3.6 or from plain numpy power iterations that
restate each operator's documented update rule.
"""

from __future__ import annotations

import math

import networkx as nx
import numpy as np
from networkx.algorithms.link_analysis.pagerank_alg import _pagerank_python

ALPHA = 0.85


def min_labels(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """label[v] = smallest vid in v's undirected component."""
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    label = np.arange(n, dtype=np.int64)
    for comp in nx.connected_components(g):
        members = np.fromiter(comp, dtype=np.int64)
        label[members] = members.min()
    return label


def triangles(src: np.ndarray, dst: np.ndarray) -> int:
    g = nx.Graph()
    g.add_edges_from((u, v) for u, v in zip(src.tolist(), dst.tolist()) if u != v)
    return sum(nx.triangles(g).values()) // 3


def pagerank_steps(n: int, src: np.ndarray, dst: np.ndarray, iters: int) -> np.ndarray:
    """Exactly ``iters`` power iterations from the uniform vector: uniform
    teleport, dangling mass spread uniformly (operators/pagerank.py)."""
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    inv = np.where(dangling, 0.0, 1.0 / np.maximum(out_deg, 1.0))
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        np.add.at(contrib, dst, rank[src] * inv[src])
        rank = (1.0 - ALPHA) / n + ALPHA * (contrib + rank[dangling].sum() / n)
    return rank


def pagerank_converged(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """networkx's pure-Python PageRank run to convergence."""
    g = nx.DiGraph()
    g.add_nodes_from(range(n))
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    pr = _pagerank_python(g, alpha=ALPHA, tol=1e-13, max_iter=1000)
    return np.array([pr[v] for v in range(n)])


def pagerank_l1_bound(iters: int) -> float:
    """Power iteration contracts L1 error by ALPHA per step from at most 2."""
    return 2.0 * ALPHA ** iters + 1e-9


def hits_steps(n: int, src: np.ndarray, dst: np.ndarray, iters: int):
    """Kleinberg's iteration from hub = 1/sqrt(n): auth = A^T hub, hub =
    A auth, each L2-normalized (operators/hits.py)."""
    hub = np.full(n, 1.0 / math.sqrt(n))
    auth = np.zeros(n)
    for _ in range(iters):
        auth = np.zeros(n)
        np.add.at(auth, dst, hub[src])
        auth /= np.sqrt((auth * auth).sum())
        hub = np.zeros(n)
        np.add.at(hub, src, auth[dst])
        hub /= np.sqrt((hub * hub).sum())
    return auth, hub


def distinct_count(values: np.ndarray) -> int:
    return int(np.unique(values).size)
