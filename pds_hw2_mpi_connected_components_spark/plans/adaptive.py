"""Scale-adaptive partition count for the iterative operators.

The fixpoint operators lay out their loop state and statics with explicit
``repartition(n_part, key)`` calls so that every loop join is
co-partitioned and exchange-free (plans/loop.py).  An explicit partition
count, however, disables AQE coalescing for those exchanges: with the
session default (``spark.sql.shuffle.partitions``, sized for the cluster),
a megabyte-scale graph still pays the full task fan-out on every one of
hundreds of fixpoint rounds — measured on the bench graph (15k edges,
local[32]): SCC 33 s at n_part=32 vs 11 s at n_part=1, PageRank 11 s vs
5.5 s.  Partitions are sized from the data, not from a constant tuned for
either local mode or the cluster.

:func:`pick_n_part` derives the partition count from the operator's input
row count:

    n_part = clamp(ceil(n_rows / DEFAULT_ROWS_PER_PART), 2, shuffle.partitions)

``spark.sql.shuffle.partitions`` stays the *ceiling* — on a production
cluster (where the operator's input has billions of rows) the formula
saturates at the configured value and behavior is unchanged; the formula
only removes task fan-out that the data cannot use.
``DEFAULT_ROWS_PER_PART`` (65536) is the minimum work that justifies one
more task: 64k edge rows ≈ 1-2 MB ≈ ~50 ms of per-task compute, an order
of magnitude above the per-task scheduling overhead it costs (A/B at bench
scale: 64k rows/part beat 256k on the 112k-edge pipeline graph, 3.4 s vs
3.9 s CC, while leaving the 15k-edge doc-graph legs at the floor).

Every table inside one operator call uses the SAME n_part, so the
co-partitioning invariants (and the plan-audit exchange budgets) are
unaffected — only the constant changes.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

DEFAULT_ROWS_PER_PART = 64 * 1024


def pick_n_part(spark: SparkSession, n_rows: int) -> int:
    """Partition count for an operator whose dominant table has ``n_rows``
    rows: ceil(n_rows / DEFAULT_ROWS_PER_PART) clamped to [2,
    shuffle.partitions].

    The floor is 2, not 1: ``repartition(1, key)`` materializes as
    SinglePartition, which EnsureRequirements does not treat as
    co-partitioned for binary joins (measured on 4.1.2: both sides get
    re-exchanged to the session default), while HashPartitioning(key, 2)
    keeps every loop join exchange-free."""
    ceiling = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    want = -(-max(int(n_rows), 1) // DEFAULT_ROWS_PER_PART)
    return min(ceiling, max(2, want))
