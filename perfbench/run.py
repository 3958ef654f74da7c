#!/usr/bin/env python3
"""Benchmark entry point: one closed-loop client against the engine on
``local[<cpus>]``.

    python3 perfbench/run.py --workload retrieval --seed 1 --seconds 14 --trace 0

Workloads are ``retrieval``, ``mutation`` and ``batch`` (see
``perfbench/README.md``). A run:

1. purges its scratch directory ``.perfbench_work`` (temp dir, Spark
   local dirs, staged-artifact root, DuckDB spill) and writes the
   seeded inputs there;
2. sets up the workload ``SETUP_REPS`` times on one SparkContext,
   each from a cold staged root, and reports the median as ``setup_s``;
3. runs the workload's untimed warm-up rounds, then the number of
   whole timed rounds of its operations that ends nearest to
   ``--seconds``;
4. checks every output against DuckDB or the final-state invariants;
5. prints host facts and, with ``--trace 1``, the per-layer ledger,
   then the result object as the last line of standard output.

``--trace 1`` runs each operation under its own Spark job group and
reads the status store after it; the end-to-end metrics come from
``--trace 0`` runs. ``--small`` shrinks every input to the sf0.001
shape for the smoke test.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SMALL = (500, 500)
SETUP_REPS = 3


def _isolate(work: str) -> None:
    """Start cold and keep every file the run writes under ``work``."""
    shutil.rmtree(work, ignore_errors=True)
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(os.cpu_count()),
        "SPARK_DRIVER_MEM": "2g",
        "ORACLE_DUCK_MEM": "4GB",
        "ORACLE_DUCK_TMP": os.path.join(work, "duckdb"),
        "ORACLE_DUCK_SPILL_MAX": "2GiB",
        "PYSPARK_SUBMIT_ARGS": (
            f'--conf "spark.driver.extraJavaOptions={java_opts}" '
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "pyspark-shell"
        ),
    })
    tempfile.tempdir = None  # re-read TMPDIR


def _cpu_ticks() -> list[int]:
    """The machine's CPU time counters (Linux ``/proc/stat``), or []."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def _steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of all CPU time the hypervisor gave to other guests between
    two ``_cpu_ticks`` readings: time other load took from this run."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else None


def _git_sha() -> str:
    """HEAD commit, or 'unknown' outside a git clone."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, check=False)
    except OSError:  # no git binary
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def _kind_latency(records, lat: list[float]) -> float:
    """Mean over operation kinds of each kind's median latency, so the
    figure weighs every kind equally however many rounds ran."""
    by_kind: dict[str, list[float]] = {}
    for r, x in zip(records, lat):
        by_kind.setdefault(r.name, []).append(x)
    return statistics.fmean(statistics.median(v) for v in by_kind.values())


def _stop(spark) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=30)


def _setup(wl, sf_dir: str, spark, purge):
    """One set-up on a cold staged root: load the sources, build the index."""
    purge()
    t0 = time.perf_counter()
    st = wl.load(spark, sf_dir)
    t1 = time.perf_counter()
    wl.index(st)
    t2 = time.perf_counter()
    return st, {"load": t1 - t0, "index": t2 - t1, "total": t2 - t0}


def _ledger(wl, st, records, setups, loop_build, rounds) -> dict:
    """Per-kind detail under the layer names of the engine's modules."""
    med = statistics.median
    out: dict = {"sources.load_s": med(s["load"] for s in setups)}
    for kind in sorted({r.name for r in records}):
        rs = [r for r in records if r.name == kind]
        out[f"{kind}_p50_s"] = med(r.wall_s for r in rs)
        out[f"{kind}.jobs"] = sum(r.counters["jobs"] for r in rs) / len(rs)
        out[f"{kind}.n"] = len(rs)
        out[f"{kind}.other_group_jobs"] = (
            sum(r.other_group_jobs for r in rs) / len(rs)
        )
    out |= {f"staging.build_s.{fam}": s / rounds for fam, s in loop_build.items()}
    return out | wl.detail(st, records, med(s["index"] for s in setups))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("retrieval", "mutation", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="sf0.001-sized inputs (smoke test)")
    args = ap.parse_args(argv)

    _isolate(WORK)
    load_before, ticks_before = os.getloadavg(), _cpu_ticks()
    sys.path.insert(0, ROOT)

    import numpy as np
    import pyspark

    from perfbench import corpus
    from perfbench.oracle import duck_con
    from perfbench.tracer import COUNTERS, NullLedger, SparkLedger
    from perfbench.workloads import WORKLOADS, build_delta, purge_staged_root
    from vector_graph_native_database__spark.operators import staging
    from vector_graph_native_database__spark.session import get_spark

    phases: dict[str, float] = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    wl = WORKLOADS[args.workload]
    docs, emb = SMALL if args.small else (wl.docs, wl.emb)
    sf_dir = corpus.generate(os.path.join(WORK, "data"), args.seed, docs, emb)
    rng = np.random.default_rng([args.seed, 1])
    phase("generate")

    spark = get_spark("perfbench")
    phase("launch")
    try:
        setups = []
        for _ in range(SETUP_REPS):
            st, times = _setup(wl, sf_dir, spark, purge_staged_root)
            setups.append(times)
        spark.sparkContext.setLogLevel("ERROR")
        phase("setup")

        # untimed rounds on the same state, so that the first use of
        # each plan shape (code generation, class loading, Python
        # workers), the JIT warm-up and the state's lazy first-call work
        # are not counted as serving latency; their outputs are still
        # checked
        failed = warm_ops = 0
        for _ in range(wl.warmup_rounds):
            for _, fn in wl.ops(st, rng):
                warm_ops += 1
                try:
                    fn()
                except Exception:
                    failed += 1
                    traceback.print_exc(file=sys.stderr)
        phase("warmup")

        ledger = SparkLedger(spark) if args.trace else NullLedger()
        builds_before = dict(staging.BUILD_SECONDS)
        rounds = 0
        op_builds: list[float] = []
        round_s: list[float] = []
        t_start = time.perf_counter()
        while True:
            t_round = time.perf_counter()
            ops = wl.ops(st, rng)
            for kind, fn in ops:
                built = sum(staging.BUILD_SECONDS.values())
                try:
                    ledger.call(kind, fn)
                except Exception:  # a failed op is counted, not fatal
                    failed += 1
                    traceback.print_exc(file=sys.stderr)
                op_builds.append(sum(staging.BUILD_SECONDS.values()) - built)
            rounds += 1
            round_s.append(time.perf_counter() - t_round)
            # end at the whole round nearest to --seconds: go on only if
            # the next round, at the mean round time so far, would end
            # closer to it than now
            elapsed = time.perf_counter() - t_start
            if elapsed + elapsed / rounds / 2 >= args.seconds:
                break
        loop_wall = time.perf_counter() - t_start
        phase("loop")
        loop_build = build_delta(builds_before)

        con = duck_con(sf_dir)
        try:
            wrong = wl.check(st, con)
        finally:
            con.close()
        phase("check")
    finally:
        _stop(spark)
    phase("stop")

    records = ledger.records
    # serving latency: staged-index builds an op triggered are set-up
    # work, reported by index.build_s and still inside ops_per_s
    lat = [r.wall_s - b for r, b in zip(records, op_builds)]
    n_ops = len(records)
    attempted = warm_ops + n_ops
    failed = min(attempted, failed + wrong)
    med = statistics.median
    print("perfbench-host " + json.dumps({
        "workload": args.workload, "seed": args.seed, "cpus": os.cpu_count(),
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "cpu_steal_share": _steal_share(ticks_before, _cpu_ticks()),
        "git_sha": _git_sha(), "pyspark": pyspark.__version__,
        "python": platform.python_version(), "docs": docs, "embeddings": emb,
        "rounds": rounds, "round_s": round_s, "ops": attempted,
        "warmup_ops": warm_ops, "wrong": wrong, "setups_s": setups,
        "phases_s": phases,
    }))

    if not args.trace:
        metrics = {
            "setup_s": (med(s["total"] for s in setups), "s"),
            "ops_per_s": (n_ops / loop_wall, "1/s"),
            "op_latency_s": (_kind_latency(records, lat), "s"),
        }
    else:
        tot = {c: sum(r.counters[c] for r in records) for c in COUNTERS}
        cpus = os.cpu_count()
        index_s = med(s["index"] for s in setups) + sum(loop_build.values()) / rounds
        metrics = {
            "session.start_s": (phases["launch"], "s"),
            "sources.load_s": (med(s["load"] for s in setups), "s"),
            "index.build_s": (index_s, "s"),
            "op.p50_s": (med(lat), "s"),
            "op.p90_s": (_p90(lat), "s"),
            "op.jobs_per_op": (tot["jobs"] / n_ops, "count"),
            "op.stages_per_op": (tot["stages"] / n_ops, "count"),
            "op.tasks_per_op": (tot["tasks"] / n_ops, "count"),
            "op.spark_p50_s": (med(r.job_s for r in records), "s"),
            "op.driver_p50_s": (med(r.wall_s - r.job_s for r in records), "s"),
            "spark.jobs": (tot["jobs"], "count"),
            "spark.stages": (tot["stages"], "count"),
            "spark.tasks": (tot["tasks"], "count"),
            "spark.exec_run_s": (tot["exec_run_s"], "s"),
            "spark.exec_cpu_s": (tot["exec_cpu_s"], "s"),
            "spark.shuffle_bytes": (tot["shuffle_bytes"], "bytes"),
            "spark.spill_bytes": (tot["spill_bytes"], "bytes"),
            "spark.failed_tasks": (tot["failed_tasks"], "count"),
            "spark.busy_ratio": (tot["exec_run_s"] / (loop_wall * cpus), "ratio"),
            "trace.ops_per_s": (n_ops / loop_wall, "1/s"),
            "trace.read_s_per_op": (
                sum(r.read_s for r in records) / n_ops, "s"),
        }
        detail = _ledger(wl, st, records, setups, loop_build, rounds)
        detail["wall_s"] = loop_wall / rounds
        print("perfbench-ledger " + json.dumps(detail, default=str))

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
