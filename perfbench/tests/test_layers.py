import json
import os
from types import SimpleNamespace

import layers
from spans import Span, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class _FakeContext:
    def setJobGroup(self, group, description):
        pass


def test_layer_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    assert declared == {**layers.UNITS, "trace.pass_s": "s"}


def _e2e_pass(tracer: Tracer, pass_id: str, steps: int) -> None:
    tracer.spans.append(Span("e2e.run_tests", f"{pass_id}/run", None, pass_id, 0.0, float(steps)))
    for i in range(steps):
        step = Span("e2e.BashPlugin", f"{pass_id}/{i}", f"{pass_id}/run", pass_id, float(i), i + 0.5)
        step.info["step"] = f"step {i}"
        tracer.spans.append(step)


def test_short_step_pool_reports_no_p90_instead_of_raising():
    tracer = Tracer(_FakeContext())
    passes = ["pass-0", "pass-1", "pass-2", "pass-3"]
    for p in passes:
        _e2e_pass(tracer, p, 23)  # two of 25 steps skipped: 92 samples
    assert layers.step_samples(tracer, passes) == 92
    out = layers.per_pass_metrics(tracer, passes, [23.0] * 4, [SimpleNamespace(info={})] * 4, 4, None)
    assert out["e2e.step_p90_s"] == 0.0
    assert out["e2e.step_s.BashPlugin"] == 0.5


def test_full_step_pool_reports_p90():
    tracer = Tracer(_FakeContext())
    passes = ["pass-0", "pass-1", "pass-2", "pass-3"]
    for p in passes:
        _e2e_pass(tracer, p, 25)
    out = layers.per_pass_metrics(tracer, passes, [25.0] * 4, [SimpleNamespace(info={})] * 4, 4, None)
    assert out["e2e.step_p90_s"] == 0.5
