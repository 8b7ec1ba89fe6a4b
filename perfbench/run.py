"""Link-graph benchmark: one workload per process, one pass in a fresh session.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_pipeline --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload webgraph_scale --smoke    # tiny inputs

One process runs one workload: start a local[nproc] session, build the
seeded inputs several times (set-up), compute the reference answers, then
run passes until ``--seconds`` have passed (at least one pass; at the
sizes set here one pass always takes longer than a second).  There is no
warm-up: a pass runs as a batch job would, in a fresh session.
``--trace 0`` runs untraced passes and prints the end-to-end metrics;
``--trace 1`` runs traced passes and prints the per-layer metrics.  Every
call is checked; a call that raises or fails its check counts in
``failed``.  The last stdout line is the JSON result; the line before it
records the host and the raw samples.  All files go under
``.perfbench_work/`` in the repository root and are removed on exit, and
the JVM and every Python worker are stopped and waited for before the
process exits.  perfbench/README.md defines the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback

from metrics import ALL_CALLS, CSR_CALLS, ITERATIVE, unit_of
from procs import become_subreaper, stop_spark, tree_cpu_s
from spans import SPAN_FIELDS, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pds_hw2_mpi_connected_components_spark"
SETUP_REPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs: exercise every metric and check quickly")
    return p.parse_args(argv)


def host_settings(work: str) -> dict:
    """Pin the session to this host and keep every file in ``work``."""
    nproc = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    driver_gb = max(1, min(4, int(ram_gb // 4)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # before the JVM and the Python workers start: workers import the
    # package from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return {
        "master": f"local[{nproc}]",
        "nproc": nproc,
        "ram_gb": round(ram_gb, 1),
        "conf": {
            "spark.driver.memory": f"{driver_gb}g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    }


def git_sha() -> str:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:  # not a git checkout
        return "unknown"


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """Runs passes, counts operations, keeps the passes."""

    def __init__(self, spark, wl, traced: bool):
        self.wl = wl
        self.tracer = Tracer(spark, enabled=traced)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []

    def run_pass(self) -> None:
        ctx, spans, check_s, check_cpu = {}, {}, 0.0, 0.0
        steps = self.wl.steps()
        overhead0 = self.tracer.overhead_s
        c0, t0 = tree_cpu_s(), time.monotonic()
        for i, step in enumerate(steps):
            self.attempted += 1
            try:
                (result, rounds), stats = self.tracer.call(step.layer, lambda: step.run(ctx))
                t_check, c_check = time.monotonic(), tree_cpu_s()
                step.check(ctx, result)
                check_s += time.monotonic() - t_check
                check_cpu += tree_cpu_s() - c_check
            except Exception as e:  # later calls need this call's output
                traceback.print_exc()
                self.failed += len(steps) - i
                self.attempted += len(steps) - i - 1
                self.errors.append(f"{step.layer}: {type(e).__name__}: {e}"[:300])
                break
            spans[step.layer] = dict(stats, rounds=rounds)
        # the pass includes span bookkeeping (the tracing cost), not checks
        self.passes.append({
            "wall_s": time.monotonic() - t0 - check_s,
            "check_s": check_s,
            "cpu_s": tree_cpu_s() - c0 - check_cpu,
            "trace_overhead_s": self.tracer.overhead_s - overhead0,
            "spans": spans,
        })


def end_to_end(run: Run, setup_s: float, wl) -> dict:
    cc_cpu = median([p["spans"]["cc"]["cpu_s"] for p in run.passes if "cc" in p["spans"]])
    return {
        "setup_s": setup_s,
        "pass_cpu_s": median([p["cpu_s"] for p in run.passes]),
        "cc_sym_edges_per_cpu_s": wl.sym_edges / cc_cpu if cc_cpu else 0.0,
        "driver_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }


def per_layer(run: Run, setup: dict, wl) -> dict:
    out = {}
    for call in ALL_CALLS:  # 0 for calls this workload does not make
        samples = [p["spans"][call] for p in run.passes if call in p["spans"]]
        for f in SPAN_FIELDS:
            out[f"{call}.{f}"] = median([s[f] for s in samples])
        if call in ITERATIVE:
            out[f"{call}.rounds"] = median([s["rounds"] for s in samples])
        if call in CSR_CALLS:  # computed, not measured
            size, rows = wl.csr_shape.get(call, (0, 0))
            supersteps = out[f"{call}.rounds"]
            out[f"{call}.broadcast_bytes"] = size * 8 * supersteps
            out[f"{call}.collect_bytes"] = rows * 16 * supersteps
    for k, v in setup.items():
        out[f"setup.{k}"] = v
    src_wall = out["extract.wall_s"] + out["graph_build.wall_s"]
    out["pages_per_s"] = wl.n / src_wall if src_wall else 0.0
    for call in ("cc", "cc_csr"):
        wall = out[f"{call}.wall_s"]
        out[f"{call}_sym_edges_per_s"] = wl.sym_edges / wall if wall else 0.0
    for call in ("pagerank", "pagerank_csr"):
        r = out[f"{call}.rounds"]
        out[f"{call}_iter_s"] = out[f"{call}.wall_s"] / r if r else 0.0
    wall = median([p["wall_s"] for p in run.passes])
    bookkeeping = median([p["trace_overhead_s"] for p in run.passes])
    out["traced_pass_s"] = wall
    # the same pass without the span bookkeeping is what an untraced pass costs
    out["trace_overhead_ratio"] = wall / (wall - bookkeeping) if wall > bookkeeping else 0.0
    return out


def bench(args, host, work) -> int:
    t0 = time.monotonic()
    import pyspark
    from pds_hw2_mpi_connected_components_spark.plans import get_spark
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    spark = get_spark(master=host["master"], app_name="perfbench", extra_conf=host["conf"])
    try:
        spark.sparkContext.setCheckpointDir(os.path.join(work, "checkpoints"))
        session_s = time.monotonic() - t0
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, args.smoke, work)
        reps = [wl.setup(rep) for rep in range(SETUP_REPS)]
        setup = {
            "session_s": session_s,
            "datagen_s": median([r.datagen_s for r in reps]),
            "input_checkpoint_s": median([r.input_checkpoint_s for r in reps]),
            "graph_io_write_s": median([r.graph_io_write_s for r in reps]),
        }
        setup_s = session_s + median([r.total_s for r in reps])
        t_prepare = time.monotonic()
        wl.prepare()
        prepare_s = time.monotonic() - t_prepare

        # no warm-up: the first pass runs in a fresh session, as in a batch job
        run = Run(spark, wl, traced=bool(args.trace))
        t_start = time.monotonic()
        while not run.passes or time.monotonic() - t_start < args.seconds:
            run.run_pass()
        measure_s = time.monotonic() - t_start
    finally:
        stop_spark()

    values = per_layer(run, setup, wl) if args.trace else end_to_end(run, setup_s, wl)
    info = {
        "workload": args.workload, "seed": args.seed, "smoke": args.smoke,
        "trace": args.trace, "master": host["master"], "nproc": host["nproc"],
        "ram_gb": host["ram_gb"], "driver_memory": host["conf"]["spark.driver.memory"],
        "spark_local_dirs": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT),
        "pyspark": pyspark.__version__, "git_sha": git_sha(),
        "setup_reps": [r.total_s for r in reps], "prepare_s": prepare_s,
        "measure_s": measure_s,
        "passes": [{"wall_s": p["wall_s"], "cpu_s": p["cpu_s"], "check_s": p["check_s"],
                    "calls": {k: [v["wall_s"], v["cpu_s"]] for k, v in p["spans"].items()}}
                   for p in run.passes],
        "errors": run.errors,
    }
    print("perfbench " + json.dumps(info))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)
    become_subreaper()
    # a run stopped by SIGTERM still stops the JVM and its workers on the way out
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    host = host_settings(work)
    try:
        return bench(args, host, work)
    finally:
        if "pyspark" in sys.modules:  # a session may have started before a failure
            stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


if __name__ == "__main__":
    sys.exit(main())
