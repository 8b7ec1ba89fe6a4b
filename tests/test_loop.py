"""plans/loop.py: the session-conf scope every iterative operator enters,
and the architecture rule that keeps it the only one."""

from __future__ import annotations

import ast
import os
import pathlib
import sys
import threading
import time

from pyspark.sql import functions as F

from pds_hw2_mpi_connected_components_spark.operators.bowtie import bowtie
from pds_hw2_mpi_connected_components_spark.plans.loop import Loop
from tests.conftest import make_edges

PKG = pathlib.Path(__file__).resolve().parent.parent / "pds_hw2_mpi_connected_components_spark"
KEYS = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")


def _conf(spark) -> dict:
    return {k: spark.conf.get(k) for k in KEYS}


def test_interleaved_threads_restore_conf(spark):
    """T1 enters, T2 enters, T1 exits, T2 exits: the interleaving that let
    the per-call save/restore leave AQE off after bowtie() returned. The
    nested entry inherits T1's width and conf; only the last exit
    restores, and it restores both keys."""
    before = _conf(spark)
    rows = spark.range(10)  # small: n_part 2 is below the ceiling, AQE goes off
    t1_in, t2_in, t1_out = threading.Event(), threading.Event(), threading.Event()
    seen: dict = {}
    errors: list = []

    def t1():
        try:
            with Loop(rows) as loop:
                seen["t1"] = (loop.n_part, _conf(spark))
                t1_in.set()
                assert t2_in.wait(30)
        except Exception as e:  # surfaced below
            errors.append(e)
        finally:
            t1_in.set()
            t1_out.set()

    def t2():
        try:
            assert t1_in.wait(30)
            with Loop(rows, scale=1000) as loop:
                seen["t2"] = loop.n_part
                t2_in.set()
                assert t1_out.wait(30)
                seen["t2_after_t1"] = _conf(spark)
        except Exception as e:
            errors.append(e)
        finally:
            t2_in.set()

    threads = [threading.Thread(target=t1), threading.Thread(target=t2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    n_part, inside = seen["t1"]
    assert seen["t2"] == n_part  # inherited, not re-picked
    assert seen["t2_after_t1"] == inside  # T1's exit did not restore early
    assert inside[KEYS[0]] == str(n_part)
    if n_part < int(before[KEYS[0]]):
        assert inside[KEYS[1]] == "false"
    assert _conf(spark) == before


def test_concurrent_scopes_stress(spark):
    """More threads than cores enter and leave scopes with a short switch
    interval. While any scope is open the conf holds the shared width; a
    lost update to the refcount or the saved values breaks that, or leaves
    the conf changed afterwards."""
    before = _conf(spark)
    rows = spark.range(10)
    errors: list = []

    def worker():
        try:
            for _ in range(5):
                with Loop(rows) as loop:
                    time.sleep(0.002)  # let the scopes overlap
                    got = spark.conf.get(KEYS[0])
                    if got != str(loop.n_part):
                        errors.append((got, loop.n_part))
        except Exception as e:
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker) for _ in range(2 * (os.cpu_count() or 2))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert _conf(spark) == before


def test_bowtie_restores_conf(spark):
    """One bowtie() call — three, then two concurrent bfs_hops sweeps
    nested in its scope — leaves both keys as they were."""
    before = _conf(spark)
    pairs = [(0, 1), (1, 2), (2, 0), (3, 0), (2, 4), (4, 5), (6, 7)]
    out, metrics = bowtie(make_edges(spark, pairs))
    regions = {r["vid"]: r["region"] for r in out.collect()}
    assert regions == {0: "CORE", 1: "CORE", 2: "CORE", 3: "IN", 4: "OUT",
                       5: "OUT", 6: "DISC", 7: "DISC"}
    assert metrics[-1]["converged"] is True
    assert _conf(spark) == before


def test_step_observes_before_projection(spark):
    """step(): observed scalars see the columns ``keep`` projects away, and
    the result is laid out hash(keys) with n_part partitions."""
    df = spark.range(6).select(F.col("id").alias("vid"), (F.col("id") * 2).alias("x"))
    with Loop(df) as loop:
        out, row = loop.step(df, "vid", keep=("vid",), s=F.sum("x"))
        assert row["s"] == 30
        assert out.columns == ["vid"]
        assert out.rdd.getNumPartitions() == loop.n_part


def test_operators_use_the_loop_kernel():
    """Architecture guard (pure Python, no session): operators get their
    observed scalars and conf scope from plans/loop.py only, and nothing
    else in the package writes session conf."""
    offenders = []
    for path in sorted((PKG / "operators").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                names = {a.name.rsplit(".", 1)[-1] for a in node.names}
                bad = names & {"Observation", "shuffle_scope"}
                if bad:
                    offenders.append(f"{path.name}:{node.lineno} imports {sorted(bad)}")
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "plans/loop.py":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if "conf.set(" in line:
                offenders.append(f"{rel}:{i} calls conf.set")
    assert not offenders, offenders
