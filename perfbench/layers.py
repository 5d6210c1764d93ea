"""Per-layer metrics from the spans of the timed passes and, in a traced
run, from the event log.

A span's layer is the first part of its name.  Each metric is taken per
pass and reported as the median over the timed passes; a layer a
workload never calls reports 0.  Job counts come from the status tracker
and repeat exactly for one seed; times and byte counts come from the
event log, which only a traced run writes.
"""

from __future__ import annotations

from collections import defaultdict

import eventlog
import stats
from spans import Span, Tracer

MB = 1024.0 * 1024.0
PLUGINS = ("DatasetComparison", "Profile", "InfoComparison", "BashPlugin")

UNITS = {
    "comparator.compare_s": "s",
    "comparator.jobs": "count",
    "comparator.shuffle_write_mb": "MB",
    "comparator.task_cpu_s": "s",
    "io.write_s": "s",
    "io.jobs": "count",
    "io.bytes_written_mb": "MB",
    "dedup.run_s": "s",
    "dedup.jobs": "count",
    "dedup.removed": "count",
    "dedup.planted_recall": "ratio",
    "sigkernel.py_start_s": "s",
    "sigkernel.py_run_s": "s",
    "sigkernel.py_sent_mb": "MB",
    "sigkernel.py_returned_mb": "MB",
    **{f"e2e.step_s.{p}": "s" for p in PLUGINS},
    "e2e.overhead_s": "s",
    "e2e.jobs_per_step": "count",
    "e2e.step_p90_s": "s",
    "infofile.compare_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.job_wall_p50_ms": "ms",
    "spark.core_util": "ratio",
}


def _layer(span: Span) -> str:
    return span.name.split(".", 1)[0]


def _steps(spans: list[Span]) -> dict[str, list[Span]]:
    """Top-level spans of each e2e step (the plugin call and its write),
    keyed by step name."""
    steps: dict[str, list[Span]] = defaultdict(list)
    for sp in spans:
        if "step" in sp.info:
            steps[sp.info["step"]].append(sp)
    return steps


def _step_seconds(spans: list[Span]) -> list[tuple[str, float]]:
    """(plugin, wall) of each step: the plugin call plus its write."""
    out = []
    for parts in _steps(spans).values():
        plugin = next(sp.name.split(".", 1)[1] for sp in parts if _layer(sp) == "e2e")
        out.append((plugin, sum(sp.seconds for sp in parts)))
    return out


def step_samples(tracer: Tracer, passes: list[str]) -> int:
    return sum(len(_step_seconds(tracer.of_pass(p))) for p in passes)


def _subtree_jobs(spans: list[Span]) -> dict[str, int]:
    """Jobs of each span including those of the spans nested in it."""
    total = {sp.group: sp.jobs for sp in spans}
    by_group = {sp.group: sp for sp in spans}
    for sp in spans:
        parent = sp.parent
        while parent is not None and parent in by_group:
            total[parent] += sp.jobs
            parent = by_group[parent].parent
    return total


def _pass_metrics(
    spans: list[Span], wall_s: float, check_info: dict, nproc: int, groups: dict | None
) -> dict[str, float]:
    m = {name: 0.0 for name in UNITS}

    def layer_spans(layer: str) -> list[Span]:
        return [sp for sp in spans if _layer(sp) == layer]

    for layer in ("comparator", "io", "dedup"):
        m[f"{layer}.jobs"] = sum(sp.jobs for sp in layer_spans(layer))
    m["comparator.compare_s"] = sum(sp.seconds for sp in layer_spans("comparator"))
    m["io.write_s"] = sum(sp.seconds for sp in spans if sp.name == "io.write")
    m["dedup.run_s"] = sum(sp.seconds for sp in layer_spans("dedup"))
    m["infofile.compare_s"] = sum(sp.seconds for sp in layer_spans("infofile"))
    m["dedup.removed"] = check_info.get("removed", 0)
    m["dedup.planted_recall"] = check_info.get("planted_recall", 0.0)
    m["spark.jobs"] = sum(sp.jobs for sp in spans)

    steps = _step_seconds(spans)
    if steps:
        for plugin in PLUGINS:
            walls = [wall for p, wall in steps if p == plugin]
            m[f"e2e.step_s.{plugin}"] = stats.median(walls) if walls else 0.0
        run_tests = next(sp for sp in spans if sp.name == "e2e.run_tests")
        m["e2e.overhead_s"] = run_tests.seconds - sum(wall for _, wall in steps)
        m["e2e.jobs_per_step"] = _subtree_jobs(spans)[run_tests.group] / len(steps)

    if groups is not None:
        def totals(selected: list[Span]) -> dict:
            return eventlog.merge(groups[sp.group] for sp in selected if sp.group in groups)

        comparator = totals(layer_spans("comparator"))
        m["comparator.shuffle_write_mb"] = comparator["shuffle_write_bytes"] / MB
        m["comparator.task_cpu_s"] = comparator["task_cpu_ns"] / 1e9
        m["io.bytes_written_mb"] = totals(layer_spans("io"))["output_bytes"] / MB
        every = totals(spans)
        m["sigkernel.py_start_s"] = (every["py_start_ms"] + every["py_init_ms"]) / 1000.0
        m["sigkernel.py_run_s"] = every["py_run_ms"] / 1000.0
        m["sigkernel.py_sent_mb"] = every["py_sent_bytes"] / MB
        m["sigkernel.py_returned_mb"] = every["py_returned_bytes"] / MB
        m["spark.stages"] = every["stages"]
        m["spark.tasks"] = every["tasks"]
        m["spark.task_run_s"] = every["task_run_ms"] / 1000.0
        m["spark.task_cpu_s"] = every["task_cpu_ns"] / 1e9
        m["spark.gc_s"] = every["gc_ms"] / 1000.0
        m["spark.shuffle_read_mb"] = every["shuffle_read_bytes"] / MB
        m["spark.spill_mb"] = every["spill_bytes"] / MB
        m["spark.job_wall_p50_ms"] = stats.median(every["job_wall_ms"]) if every["job_wall_ms"] else 0.0
        m["spark.core_util"] = m["spark.task_run_s"] / (wall_s * nproc)
    return m


def per_pass_metrics(
    tracer: Tracer, passes: list[str], pass_s: list[float], checks: list, nproc: int, event_dir: str | None
) -> dict[str, float]:
    """Median over the timed passes of every per-layer metric, plus the
    p90 of e2e step wall times pooled over all timed passes (0 with fewer
    samples than a p90 needs: steps that failed to run leave the pool
    short, and the run still has to report them)."""
    groups = None
    if event_dir is not None:
        import glob

        (app_log,) = glob.glob(f"{event_dir}/*")
        groups = eventlog.group_totals(eventlog.read_events(eventlog.log_files(app_log)))
    per_pass = [
        _pass_metrics(tracer.of_pass(p), wall, check.info, nproc, groups)
        for p, wall, check in zip(passes, pass_s, checks)
    ]
    out = {name: stats.median([m[name] for m in per_pass]) for name in UNITS}
    walls = [wall for p in passes for _, wall in _step_seconds(tracer.of_pass(p))]
    out["e2e.step_p90_s"] = stats.p90(walls) if len(walls) >= stats.P90_MIN_SAMPLES else 0.0
    return out
