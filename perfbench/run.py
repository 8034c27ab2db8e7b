#!/usr/bin/env python3
"""End-to-end benchmark of dbeam_spark.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload sql_stream --seed 1 \\
        --seconds 11 --trace 0

One process, one SparkSession on ``local[<nproc>]`` built by the
program's own ``dbeam_spark.session.get_spark``, and a closed loop with
one client: each job starts when the previous one has returned. A run:

1. builds the workload's inputs from ``--seed`` under a fresh run
   directory (``.perfbench/run-*``), which is also the run's TMPDIR,
   ``java.io.tmpdir`` and ``spark.local.dir``, and is removed at exit;
2. set-up: session start plus ``WARMUP_PASSES`` untimed passes over
   every job;
3. runs full passes over the workload's jobs (in a seed-fixed order)
   until ``--seconds`` have elapsed;
4. checks every output against its oracle, untimed;
5. prints one JSON line: ``correct``, ``attempted``, ``failed``,
   ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a
separate run reporting per-layer metrics: untraced passes alternate
with traced ones (spans around the calls into each module, the Spark
status store's per-stage metrics, streaming progress), so the tracing
overhead is measured in the same process. A record of each run (host/seed stamp, metrics and, when
traced, every span) is written to ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
# Untimed passes before timing: the first takes the cold costs (Python
# workers, code generation, class loading); the second is still on the
# steep part of the JIT curve, slower and far more variable than the
# passes after it.
WARMUP_PASSES = 2


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _isolate(run_dir: str) -> dict:
    """Point every temp location of this process, the JVM and the Python
    workers into the run directory."""
    dirs = {k: os.path.join(run_dir, k)
            for k in ("inputs", "tmp", "spark-local", "exports", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    return dirs


def _start_spark(dirs: dict, nproc: int):
    from dbeam_spark.session import get_spark

    java_opts = " ".join([
        "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={dirs['tmp']}",
        f"-Dderby.system.home={dirs['tmp']}",
        "-XX:-UsePerfData",
    ])
    return get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": dirs["spark-local"],
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort
            proc.kill()
            proc.wait()


def _stamp(spark, args, nproc: int) -> dict:
    import duckdb
    import pyarrow

    digest = hashlib.sha1()
    pkg = os.path.join(ROOT, "dbeam_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    digest.update(f.encode() + fh.read())
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.isfile(head):
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            commit = open(p).read().strip() if os.path.isfile(p) else ref
        else:
            commit = ref
    sc = spark.sparkContext
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "git_commit": commit,
        "source_sha1": digest.hexdigest(),
    }


class Runner:
    def __init__(self, workload, ctx, order):
        self.w, self.ctx, self.order = workload, ctx, order
        self.outputs: list[tuple[str, object]] = []
        self.errors = 0

    def one_pass(self, tracer=None) -> tuple[float, dict]:
        times = {}
        t0 = time.perf_counter()
        for job in self.order:
            a = time.perf_counter()
            try:
                if tracer is None:
                    out = job.fn()
                else:
                    with tracer.span(job.span):
                        out = job.fn()
            except Exception as e:  # noqa: BLE001 - counted as a failure
                print(f"perfbench: {job.name} failed: {type(e).__name__}: "
                      f"{str(e)[:500]}", file=sys.stderr)
                self.errors += 1
                out = None
            times[job.name] = time.perf_counter() - a
            if out is not None:
                self.outputs.append((job.name, out))
        return time.perf_counter() - t0, times

    def timed(self, seconds: float) -> list[tuple[float, dict]]:
        """Full passes until ``seconds`` have elapsed (at least one)."""
        passes = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < seconds:
            passes.append(self.one_pass())
        return passes

    def check(self) -> tuple[int, int]:
        """(attempted, failed) over every job run so far."""
        failed = self.errors
        for name, out in self.outputs:
            try:
                ok = self.w.check(self.ctx, name, out)
            except Exception as e:  # noqa: BLE001 - a failed check
                print(f"perfbench: check {name}: {e}", file=sys.stderr)
                ok = False
            if not ok:
                print(f"perfbench: {name}: output does not match its oracle",
                      file=sys.stderr)
                failed += 1
        return len(self.outputs) + self.errors, failed


def _summary(passes) -> dict:
    walls = [p[0] for p in passes]
    per_job = {j: statistics.median(p[1][j] for p in passes) for j in passes[0][1]}
    return {
        "pass_s": statistics.median(walls),
        "per_job": per_job,
        "geomean": math.exp(
            statistics.fmean(math.log(max(v, 1e-9)) for v in per_job.values())
        ),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("dbeam_spark/__init__.py", "tests/test_queries_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _die(f"{need} not found: run from the root of a source checkout")
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _die(f"unknown workload {args.workload!r}; "
             f"one of {sorted(workloads.WORKLOADS)}")
    w = workloads.WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, f"run-{run_id}")
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    dirs = _isolate(run_dir)
    spark = None
    try:
        t_setup = time.perf_counter()
        spark = _start_spark(dirs, nproc)
        t_session = time.perf_counter() - t_setup

        t = time.perf_counter()
        ctx = workloads.Ctx(spark, args.seed, nproc, dirs["inputs"],
                            dirs["exports"])
        w.build(ctx)
        build_s = time.perf_counter() - t

        jobs = w.jobs(ctx)
        if isinstance(w, workloads.QueryWorkload):
            random.Random(args.seed).shuffle(jobs)
        runner = Runner(w, ctx, jobs)
        t = time.perf_counter()
        for _ in range(WARMUP_PASSES):  # untimed; outputs checked too
            runner.one_pass()
        setup_s = t_session + time.perf_counter() - t

        if args.trace:
            import layers

            metrics, spans = layers.traced_run(
                spark, w, ctx, runner, args.seconds, run_id, dirs,
                build_s=build_s,
            )
        else:
            import instrument

            with instrument.PssSampler() as mem:
                passes = runner.timed(args.seconds)
            s = _summary(passes)
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (s["pass_s"], "s"),
                "query_geomean_s": (s["geomean"], "s"),
                "peak_pss_mb": (mem.peak / 2**20, "MB"),
            }
            spans = None
            phases = {"session_s": t_session, "build_s": build_s,
                      "steal_share": mem.steal_share,
                      "setup_s": setup_s, "passes": len(passes),
                      "per_job_s": s["per_job"],
                      "pass_walls": [p[0] for p in passes]}
            print(f"perfbench: {json.dumps(phases)}", file=sys.stderr)
        stamp = _stamp(spark, args, nproc)
        attempted, failed = runner.check()
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(WORK, "records", f"{run_id}.json"), "w") as fh:
        json.dump({"stamp": stamp, "result": result, "spans": spans}, fh)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
