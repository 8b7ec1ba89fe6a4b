"""Metric catalogue: the calls a pass can make and each metric's unit.

BENCHMARK.json lists the same names; README.md says what each means.
"""

from __future__ import annotations

#: every layer call, in pass order across the workloads
ALL_CALLS = ("extract", "graph_build", "graph_io_read", "cc", "cc_csr",
             "cc_frontier", "pagerank", "pagerank_csr", "hits", "labelprop",
             "anf", "triangles")
#: calls that return a per-round metrics list
ITERATIVE = ("cc", "cc_csr", "cc_frontier", "pagerank", "pagerank_csr",
             "hits", "labelprop", "anf")
CSR_CALLS = ("cc_csr", "pagerank_csr")

_UNITS = {
    "setup_s": "s", "pass_cpu_s": "s", "cc_sym_edges_per_cpu_s": "1/s",
    "driver_peak_rss_mb": "MB",
    "pages_per_s": "1/s", "cc_sym_edges_per_s": "1/s", "cc_csr_sym_edges_per_s": "1/s",
    "pagerank_iter_s": "s", "pagerank_csr_iter_s": "s",
    "traced_pass_s": "s", "trace_overhead_ratio": "ratio",
}
_SUFFIX_UNITS = {
    "wall_s": "s", "cpu_s": "s", "jobs": "count", "executor_run_s": "s", "executor_cpu_s": "s",
    "shuffle_write_bytes": "B", "failed_tasks": "count", "driver_gap_s": "s",
    "rounds": "count", "broadcast_bytes": "B", "collect_bytes": "B",
    "session_s": "s", "datagen_s": "s", "input_checkpoint_s": "s",
    "graph_io_write_s": "s",
}


def unit_of(name: str) -> str:
    if name in _UNITS:
        return _UNITS[name]
    return _SUFFIX_UNITS[name.rsplit(".", 1)[1]]
