"""Steady-state benchmark of hermes_spark: one workload per invocation.

Usage (from the repository root)::

    python3 perfbench/run.py --workload compare_lineitem --seed 1 --seconds 15 --trace 0

The run starts one Spark session at ``local[nproc]``, generates the
seeded inputs, runs a fixed number of untimed warm-up passes, then timed
passes for ``--seconds`` seconds, checking every pass's answer.  Its last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
turns on Spark's event log and reports the per-layer metrics instead.
Lines before it record the environment and the raw pass times.  It exits
non-zero when a correctness gate fails.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session and the JVM the session launched, and wait for
    the JVM and its Python workers to end."""
    import procmem
    from pyspark import SparkContext

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    children = procmem.descendants(jvm_pid)
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in [jvm_pid, *children]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("hermes_spark") is None:
        print(f"hermes_spark is not importable from {ROOT}; run from a full checkout", file=sys.stderr)
        return 2

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return _run(args, WORKLOADS[args.workload], nproc, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run_passes(workload, tracer, prefix: str, more, count_jobs: bool) -> tuple[list[float], list, bool]:
    """Run passes while ``more(passes done)`` holds, each timed around
    ``run_pass`` only, then checked and cleaned.  Returns the pass times,
    one check per pass attempted, and whether every pass ran: the first
    pass that raises, or whose check raises, ends the series as a failed
    pass."""
    from workloads import PassCheck

    walls: list[float] = []
    checks: list[PassCheck] = []
    while more(len(walls)):
        tracer.pass_id = f"{prefix}-{len(walls)}"
        try:
            start = time.perf_counter()
            answer = workload.run_pass(tracer)
            wall = time.perf_counter() - start
            check = workload.check(answer)
        except Exception as exc:  # noqa: BLE001 - a pass that raises is a failed operation
            traceback.print_exc()
            ops = workload.ops_per_pass
            checks.append(PassCheck(attempted=ops, errors=[f"{tracer.pass_id} raised {exc!r}"], failed=ops))
            return walls, checks, False
        walls.append(wall)
        checks.append(check)
        if count_jobs:
            tracer.count_jobs(tracer.pass_id)
        workload.clean()
    return walls, checks, True


def _run(args: argparse.Namespace, workload_cls, nproc: int, run_dir: str) -> int:
    import layers
    import procmem
    import session
    import stats
    from spans import Tracer

    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    load_start = os.getloadavg()
    steal_start = session.cpu_steal_s()
    t0 = time.perf_counter()
    spark = session.build_session(nproc, run_dir, ROOT, event_dir)
    try:
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext)
        workload = workload_cls(spark, run_dir, args.seed)
        sizes = workload.setup()
        inputs_s = time.perf_counter() - t0 - session_s
        # warm-ups are gated like timed passes; a failed one skips timing
        warmup_s, checks, warm = run_passes(
            workload, tracer, "warmup", lambda n: n < workload.warmups, count_jobs=False
        )
        setup_s = time.perf_counter() - t0

        pass_s: list[float] = []
        if warm:
            loop_start = time.perf_counter()
            pass_s, timed_checks, _ = run_passes(
                workload,
                tracer,
                "pass",
                lambda n: n < workload.min_passes or time.perf_counter() - loop_start < args.seconds,
                count_jobs=True,
            )
            checks += timed_checks

        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_parts = {
            "driver": procmem.peak_rss_mb([os.getpid()]),
            "jvm": procmem.peak_rss_mb([jvm_pid]),
            "python_workers": procmem.peak_rss_mb(procmem.descendants(jvm_pid)),
        }
        env = session.environment(spark, nproc)
    finally:
        stop_spark(spark)

    env["load_avg_start"] = load_start
    env["load_avg_end"] = os.getloadavg()
    env["cpu_steal_s"] = session.cpu_steal_s() - steal_start
    env["inputs"] = sizes
    env["peak_rss_parts_mb"] = rss_parts
    env["setup_parts_s"] = {"session": session_s, "inputs": inputs_s, "warmups": warmup_s}
    print("environment " + json.dumps(env, sort_keys=True))
    print("pass_s " + json.dumps(pass_s))
    errors = [error for check in checks for error in check.errors]
    if not pass_s:
        errors.append("no timed pass completed")
        return _report(errors, checks, {})

    passes = [f"pass-{i}" for i in range(len(pass_s))]
    timed = checks[len(warmup_s) :]
    per_layer = layers.per_pass_metrics(tracer, passes, pass_s, timed, nproc, event_dir)
    counts = ("comparator.jobs", "io.jobs", "dedup.jobs", "e2e.jobs_per_step", "spark.jobs", "dedup.removed")
    print("counts_per_pass " + json.dumps({name: per_layer[name] for name in counts}))
    if args.workload == "dedup_corpus":
        print(f"planted_recall {per_layer['dedup.planted_recall']:.4f}")
    if args.workload == "e2e_suite":
        samples = layers.step_samples(tracer, passes)
        print(f"step_p90_s {per_layer['e2e.step_p90_s']:.6f} s over {samples} steps")
        if samples < stats.P90_MIN_SAMPLES:
            errors.append(f"only {samples} e2e steps ran, step_p90_s needs {stats.P90_MIN_SAMPLES}")

    if args.trace:
        metrics = {name: {"value": value, "unit": layers.UNITS[name]} for name, value in per_layer.items()}
        metrics["trace.pass_s"] = {"value": stats.median(pass_s), "unit": "s"}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": stats.median(pass_s), "unit": "s"},
            "peak_rss_mb": {"value": sum(rss_parts.values()), "unit": "MB"},
        }

    result = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "environment": env,
        "pass_s": pass_s,
        "metrics": metrics,
        "errors": errors,
        "spans": tracer.as_records() if args.trace else [],
    }
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    untraced = os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace0.json")
    if args.trace and os.path.exists(untraced):
        with open(untraced, encoding="utf-8") as fh:
            base = json.load(fh)["metrics"]["pass_s"]["value"]
        print(f"tracing overhead {stats.median(pass_s) - base:+.4f} s per pass (untraced {base:.4f} s)")
    with open(os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    return _report(errors, checks, metrics)


def _report(errors: list[str], checks: list, metrics: dict) -> int:
    """Print the gate failures and the result line; the exit code."""
    for error in errors:
        print("GATE FAILED: " + error, file=sys.stderr)
    print(json.dumps(result_line(errors, checks, metrics)))
    return 0 if not errors else 1


def result_line(errors: list[str], checks: list, metrics: dict) -> dict:
    """``attempted`` and ``failed`` count the gated operations of every
    pass, warm-ups included."""
    return {
        "correct": not errors,
        "attempted": sum(c.attempted for c in checks),
        "failed": sum(c.failed for c in checks),
        "metrics": metrics,
    }


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:  # noqa: BLE001 - report and fail without a result line
        traceback.print_exc()
        sys.exit(1)
