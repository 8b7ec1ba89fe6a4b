"""The fixpoint-loop kernel every iterative operator runs on.

Each iterative operator is the reference's superstep skeleton (its
min-label loop, connected_components.c:103-142): loop state, one
exchange per round, and a global scalar reduction that ends the loop.
:class:`Loop` owns the parts of that skeleton that do not depend on the
operator:

- **Layout width.** ``n_part`` comes from the ``pick_n_part`` rule
  (plans/adaptive.py), applied once per call to the operator's dominant
  table. Every loop-state table and every static in the call is laid out
  ``repartition(n_part, key)``, so every loop join whose sides share a key
  is co-partitioned and exchange-free.
- **The session-conf scope** (the only place in the package that writes
  ``spark.conf``). The per-round ``groupBy`` exchanges (ENSURE_REQUIREMENTS)
  take their partition count from ``spark.sql.shuffle.partitions``, not
  from the statics. If the two differ, every downstream join re-shuffles
  one side each round (measured: a 1-exchange PageRank iteration became 5
  exchanges / 9 AQE jobs). So the scope pins the conf to ``n_part``, which
  gives ONE map-side-combined exchange per round. A
  ``repartition(n_part, key)`` before each ``groupBy`` would also align the
  counts, but on pyspark 4.1.2 it moves the partial aggregate after a
  REPARTITION_BY_NUM exchange and loses the map-side combine.
  When ``n_part`` is below the configured ceiling (small data), the scope
  also turns AQE off: fixed-shape loop plans gain nothing from adaptive
  re-planning, which only splits each materialization into one job per
  query stage (measured 77 -> 27 jobs, ~13% wall, 20-iteration PageRank).
  At scale (``n_part`` == ceiling) AQE stays on for the setup joins' skew
  handling. CC passes ``keep_aqe=True``: its star rounds build fresh
  distinct/aggregate shapes over a shrinking edge set, where AQE's
  coalescing wins (A/B: 3.5-4.7 s vs 4.6-5.0 s, 112k-edge graph).

  The conf is session-global, so the scope is one refcounted state behind
  a lock. The outermost entry picks ``n_part``, saves both keys and sets
  them; the outermost exit always restores both. A nested or concurrent
  entry (bowtie's sweep threads calling ``bfs_hops``) inherits the active
  ``n_part`` and AQE setting without re-picking either, so no interleaving
  of threads can restore a stale value.
- **step()**: observe -> repartition(n_part, *keys) -> flat_checkpoint.
  The round's convergence scalars ride the materializing job as observed
  metrics, so each round runs ONE Spark action, not one per scalar.
  The flat checkpoint cuts lineage (plan growth otherwise
  OOMs analysis around iteration ~30), strips the compounding origin
  stats, and keeps the ``repartition`` hash layout under AQE
  (plans/flat.py), so the next round's co-partitioned joins stay
  exchange-free.
- **One metrics row per round**: the operator's own keys plus ``sec``
  (wall time since the round started) and ``converged``.
- **The non-convergence contract**: when the rounds run out and the last
  row is not converged, ``warn`` raises a RuntimeWarning and ``fail`` a
  RuntimeError.
"""

from __future__ import annotations

import threading
import time
import warnings
from typing import Iterator, Optional, Sequence

from pyspark.sql import Column, DataFrame, Observation

from .adaptive import pick_n_part
from .flat import flat_checkpoint

_PARTS = "spark.sql.shuffle.partitions"
_AQE = "spark.sql.adaptive.enabled"

_lock = threading.Lock()
_depth = 0
_n_part = 0
_saved: dict[str, str] = {}


def width(df: DataFrame, scale: int = 1) -> int:
    """Layout width for a call whose dominant table has ``df.count() *
    scale`` rows; inside an open :class:`Loop` scope, that scope's width
    (no count is run)."""
    with _lock:
        return _width(df, scale)


def _width(df: DataFrame, scale: int) -> int:
    return _n_part if _depth else pick_n_part(df.sparkSession, df.count() * scale)


class Loop:
    """One operator call: ``with Loop(edges, scale=2) as loop: ...``."""

    def __init__(
        self,
        rows: DataFrame,
        scale: int = 1,
        *,
        keep_aqe: bool = False,
        warn: Optional[str] = None,
        fail: Optional[str] = None,
    ):
        self._rows, self._scale, self._keep_aqe = rows, scale, keep_aqe
        self._warn, self._fail = warn, fail
        self.metrics: list[dict] = []
        self.exhausted = False
        self._t0 = time.monotonic()

    def __enter__(self) -> "Loop":
        global _depth, _n_part, _saved
        spark = self._rows.sparkSession
        with _lock:
            if not _depth:
                n_part = _width(self._rows, self._scale)
                _saved = {k: spark.conf.get(k) for k in (_PARTS, _AQE)}
                aqe_off = not self._keep_aqe and n_part < int(_saved[_PARTS])
                spark.conf.set(_PARTS, str(n_part))
                spark.conf.set(_AQE, "false" if aqe_off else _saved[_AQE])
                _n_part = n_part
            _depth += 1
            self.n_part = _n_part
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        global _depth
        with _lock:
            _depth -= 1
            if not _depth:
                conf = self._rows.sparkSession.conf
                for k, v in _saved.items():
                    conf.set(k, v)
        if exc_type is not None or not self.exhausted:
            return
        if self.metrics and self.metrics[-1]["converged"]:
            return
        if self._fail:
            raise RuntimeError(self._fail)
        if self._warn:
            warnings.warn(
                f"{self._warn} (metrics[-1]['converged'] is False)",
                RuntimeWarning,
                stacklevel=3,
            )

    def rounds(self, stop: int, start: int = 0) -> Iterator[int]:
        """``range(start, stop)`` that starts each round's timer. Leaving
        it by exhaustion, not ``break``, marks the loop ``exhausted``; a
        caller may share one iterator across phases as a round budget."""
        for i in range(start, stop):
            self._t0 = time.monotonic()
            yield i
        self.exhausted = True

    def step(
        self, df: DataFrame, *keys: str, keep: Sequence[str] = (), **observed: Column
    ) -> tuple[DataFrame, dict]:
        """Materialize ``df`` as loop state: observe the named scalars,
        project to ``keep`` (when given), lay out by ``keys`` (when
        given) and flat-checkpoint. Returns (state, scalars)."""
        obs = Observation() if observed else None
        if obs is not None:
            df = df.observe(obs, *(c.alias(k) for k, c in observed.items()))
        if keep:
            df = df.select(*keep)
        if keys:
            df = df.repartition(self.n_part, *keys)
        df = flat_checkpoint(df)
        return df, (obs.get if obs is not None else {})

    def flat(self, df: DataFrame, *keys: str) -> DataFrame:
        """:meth:`step` without scalars."""
        return self.step(df, *keys)[0]

    def emit(self, converged=False, **row) -> dict:
        """Append the round's metrics row (``row`` + ``sec`` +
        ``converged``) and return it."""
        now = time.monotonic()
        row.update(sec=now - self._t0, converged=converged)
        self._t0 = now
        self.metrics.append(row)
        return row
