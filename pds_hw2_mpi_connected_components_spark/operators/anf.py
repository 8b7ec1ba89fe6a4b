"""Approximate neighborhood function (ANF) and effective diameter.

Link-graph extension (round 6; VERDICT r5 task-7 alternative track): the
neighborhood function N(h) = the number of ordered vertex pairs (u, v)
with directed distance(u, v) <= h. Its curve is the standard way to read
a web crawl's reach profile, and the 90%-effective diameter — the
smallest h (interpolated) with N(h) >= 0.9 * N(inf) — is the headline
statistic (Palmer/Gibbons/Faloutsos, "ANF: a fast and scalable tool for
data mining in massive graphs", KDD 2002; the bit-string sketch below is
their Flajolet-Martin scheme).

Exact N(h) needs all-pairs BFS — O(n^2) state, impossible at crawl
scale. ANF keeps ONE fixed-size Flajolet-Martin bitmask per vertex and
trial: mask(v) sketches the set {v}; each round OR-merges every vertex's
mask with its out-neighbors' masks, so after h rounds mask(v) sketches
exactly the h-ball around v, and the FM estimator turns the masks into
|ball| estimates whose sum is N(h). Per round the state is n * k longs —
100 TB-safe — and the merge is the engine's standard one-exchange loop.

Spark-first shape: the k trial masks are k LONG COLUMNS, so the whole
round is a co-partitioned join + ``groupBy(vid).agg(bit_or(m_i)...)`` —
pure JVM whole-stage-codegen expressions, no Python in the loop, ONE
edge-scale exchange per round, and the convergence flag + the round's
N(h) estimate ride ``DataFrame.observe`` on the round's single
materializing checkpoint job (``Loop.step``, plans/loop.py).

Determinism contract: the per-(vid, trial) hash is a fixed multiplicative
mix (no Math.random, no xxhash) chosen to be expressible in BOTH Spark
SQL and DuckDB SQL, so the driver oracle can replay the EXACT sketch —
the estimates are deterministic values, not a tolerance band:

    x  = ((vid % 2^31) XOR (t * 12582917 + 2654435769)) AND (2^31 - 1)
    y  = ((x * 2654435761) >> 16) AND (2^31 - 1)   # multiply-shift: the
    z  = ((y * 1597334677) >> 16) AND (2^31 - 1)   # GOOD bits are high bits
    b  = 30                                  if z == 0
       = min(30, round(log2(z & -z)))        otherwise    # lowest set bit
    mask0 = 1 << b

(two multiply-shift rounds because a single xorshift leaves the low bits
— the bits the geometric estimator reads — correlated across consecutive
vids; every intermediate stays under 2^63 so ANSI-mode bigint arithmetic
cannot overflow.)

(round(), not floor(): log2 of an exact power of two can land one ulp
under the integer in one engine and one ulp over in another; round() is
stable for both.) The FM estimate per vertex is
2^(mean_t lzb(mask_t)) / 0.77351 with lzb = position of the lowest ZERO
bit, isolated by (~m) & (m+1); sums are rounded to 6 decimals on both
sides so cross-engine float-summation-order noise (~1e-10) cannot touch
the compared digits.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.loop import Loop
from ..sources.graph_build import symmetrize

FM_PHI = 0.77351  # Flajolet-Martin bias correction
_MAX_BIT = 30


def _init_mask_sql(t: int) -> str:
    """Initial FM mask for trial ``t`` as a Spark SQL expression over a
    ``vid`` column (module docstring hash spec; DuckDB twin in
    __spark_entry__'s anf oracle builder)."""
    x = f"(((vid % 2147483648L) ^ {t * 12582917 + 2654435769}L) & 2147483647L)"
    y = f"(shiftright({x} * 2654435761L, 16) & 2147483647L)"
    z = f"(shiftright({y} * 1597334677L, 16) & 2147483647L)"
    b = (
        f"(CASE WHEN {z} = 0 THEN {_MAX_BIT} "
        f"ELSE least({_MAX_BIT}, cast(round(log2({z} & -{z})) as int)) END)"
    )
    return f"shiftleft(1L, {b})"


def _lzb_sql(col: str) -> str:
    """Position of the lowest ZERO bit of ``col`` (Spark SQL)."""
    return f"cast(round(log2((~{col}) & ({col} + 1L))) as int)"


def _est_sql(n_trials: int) -> str:
    """Per-row FM ball-size estimate over mask columns m0..m{k-1}."""
    mean = "(" + " + ".join(_lzb_sql(f"m{i}") for i in range(n_trials)) + \
        f") / {float(n_trials)}"
    return f"pow(2.0, {mean}) / {FM_PHI}"


def anf(
    edges: DataFrame,
    vertices: Optional[DataFrame] = None,
    n_trials: int = 32,
    max_hops: int = 32,
    directed: bool = True,
) -> tuple[DataFrame, list[dict]]:
    """Returns ((hop, n_est) DataFrame — EXACTLY ``max_hops + 1`` rows,
    hop 0..max_hops — and per-round metrics).

    ``n_est`` at hop h is the FM estimate of N(h) = #{(u, v) :
    dist(u, v) <= h}, rounded to 6 decimals (module docstring). Once the
    masks reach a fixpoint (every vertex's sketch covers its full
    reachable set) the loop stops and the remaining hops are padded with
    the converged value — N(h) is constant past the diameter, so the
    padded rows are the correct estimates, not filler. If ``max_hops``
    rounds pass without a fixpoint the curve is still emitted (every row
    is a valid N(h) estimate) but the final metrics entry has
    ``converged: False`` and the last row is a lower bound of N(inf);
    a RuntimeWarning says so. Each hop's metrics row carries ``new_bits``,
    the number of sketch bits that hop set (0 exactly at the fixpoint).

    ``vertices`` (optional) adds isolated vertices (ball = themselves).
    ``directed=False`` symmetrizes first (undirected distances).
    """
    if n_trials < 1 or max_hops < 0:
        raise ValueError("anf(): n_trials >= 1 and max_hops >= 0 required")
    mcols = [f"m{i}" for i in range(n_trials)]
    arcs = edges.select(F.col("src").cast("long").alias("src"),
                        F.col("dst").cast("long").alias("dst"))
    if directed:
        arcs = arcs.where(F.col("src") != F.col("dst")).distinct()
    else:
        arcs = symmetrize(arcs)
    bits_expr = F.coalesce(
        F.sum(F.expr(" + ".join(f"bit_count(m{i})" for i in range(n_trials)))), F.lit(0)
    )
    est_expr = F.round(F.sum(F.expr(_est_sql(n_trials))), 6)

    with Loop(edges, 1 if directed else 2, warn=(
        f"anf() hit max_hops={max_hops} before the sketches reached a "
        "fixpoint: the curve is valid but its tail is a LOWER bound of N(inf)"
    )) as loop:
        arcs = loop.flat(arcs, "dst")
        verts = arcs.select(F.col("src").alias("vid")).union(
            arcs.select(F.col("dst").alias("vid"))
        )
        if vertices is not None:
            verts = verts.union(
                vertices.select(F.col("vid").cast("long").alias("vid"))
            )
        masks, row = loop.step(
            verts.distinct().select("vid", *[F.expr(_init_mask_sql(t)).alias(c)
                                             for t, c in enumerate(mcols)]),
            "vid",
            est=est_expr,
            bits=bits_expr,
        )
        curve = [float(row["est"] or 0.0)]
        prev_bits = int(row["bits"] or 0)
        loop.emit(hop=0, n_est=curve[0], new_bits=None)

        # convergence via the total set-bit count, observed on every
        # materialization: FM bits are only ever OR-ed in, so the popcount
        # is strictly monotone and "no new bits this hop" IS the sketch
        # fixpoint — no old-vs-new mask join is needed.
        for hop in loop.rounds(max_hops + 1, 1):
            gathered = (
                arcs.join(masks.hint("shuffle_hash"), arcs.dst == masks.vid)
                .select(F.col("src").alias("vid"), *mcols)
            )
            masks, row = loop.step(
                masks.select("vid", *mcols)
                .unionByName(gathered)
                .groupBy("vid")
                .agg(*[F.expr(f"bit_or({c})").alias(c) for c in mcols]),
                "vid",
                bits=bits_expr,
                est=est_expr,
            )
            bits = int(row["bits"] or 0)
            new_bits = bits - prev_bits  # newly set sketch bits; 0 <=> fixpoint
            prev_bits = bits
            curve.append(float(row["est"] or 0.0))
            loop.emit(hop=hop, n_est=curve[-1], new_bits=new_bits,
                      converged=new_bits == 0)
            if new_bits == 0:
                break
        converged = loop.metrics[-1]["converged"]
        loop.metrics.append({"hop": len(loop.metrics) - 1, "n_est": curve[-1],
                             "new_bits": None, "sec": 0.0, "converged": converged})

    # pad: N(h) is constant past the fixpoint
    curve += [curve[-1]] * (max_hops + 1 - len(curve))
    out = edges.sparkSession.createDataFrame(
        [(h, v) for h, v in enumerate(curve)], "hop long, n_est double"
    )
    return out, loop.metrics


def effective_diameter(curve: Sequence[float], q: float = 0.9) -> float:
    """Interpolated q-effective diameter of an ANF curve (list of N(h)
    values, h = 0..H): the smallest real h with N(h) >= q * N(H), linearly
    interpolated between the bracketing integer hops — the standard
    definition (ANF paper sec. 2; used verbatim in the snap/graphmining
    literature). Returns 0.0 when the target is already met at hop 0."""
    if not curve:
        raise ValueError("effective_diameter(): empty curve")
    target = q * curve[-1]
    if curve[0] >= target:
        return 0.0
    for h in range(1, len(curve)):
        if curve[h] >= target:
            lo, hi = curve[h - 1], curve[h]
            if hi == lo:  # flat segment can only happen at the fixpoint
                return float(h)
            return round(h - 1 + (target - lo) / (hi - lo), 6)
    return float(len(curve) - 1)
