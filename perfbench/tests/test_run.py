from types import SimpleNamespace

import run
from workloads import E2ESuite, PassCheck


class _FakeTracer:
    pass_id = "setup"

    def count_jobs(self, pass_id):
        pass


class _Workload:
    """Passes that return their index; the passes in ``raise_at`` raise."""

    ops_per_pass = 1

    def __init__(self, raise_at=()):
        self.raise_at = set(raise_at)
        self.done = 0

    def run_pass(self, tracer):
        if self.done in self.raise_at:
            raise RuntimeError("boom")
        self.done += 1
        return self.done

    def check(self, answer):
        return PassCheck(attempted=1)

    def clean(self):
        pass


def test_passes_run_until_told_to_stop():
    walls, checks, ok = run.run_passes(_Workload(), _FakeTracer(), "pass", lambda n: n < 3, count_jobs=True)
    assert ok and len(walls) == 3 and len(checks) == 3
    assert run.result_line([], checks, {}) == {"correct": True, "attempted": 3, "failed": 0, "metrics": {}}


def test_a_pass_that_raises_is_a_counted_failure():
    walls, checks, ok = run.run_passes(_Workload(raise_at={1}), _FakeTracer(), "warmup", lambda n: n < 3, False)
    assert not ok and len(walls) == 1 and len(checks) == 2
    errors = [e for c in checks for e in c.errors]
    assert errors and "warmup-1 raised" in errors[0]
    line = run.result_line(errors, checks, {})
    assert line["correct"] is False and line["attempted"] == 2 and line["failed"] == 1


class DependeeFailed(Exception):
    pass


def _suite():
    suite = E2ESuite.__new__(E2ESuite)
    suite.rows = 100
    suite.planted = {}
    suite.expected = {"gate": "pass", "shell": "pass", "after gate": "pass"}
    suite.plugin_of = {"gate": "Profile", "shell": "BashPlugin", "after gate": "BashPlugin"}
    return suite


def _step(name, passed, exc=None):
    return SimpleNamespace(test_name=name, passed=passed, exception=exc, returned_value=exc, comparison=None)


def test_e2e_pass_with_a_skipped_step_counts_failures():
    suite = _suite()
    results = [_step("gate", False), _step("shell", True), _step("after gate", False, DependeeFailed())]
    check = suite.check({"results": results})
    assert check.attempted == 3 and check.failed == 2 and len(check.errors) == 2
    line = run.result_line(check.errors, [check], {})
    assert line["correct"] is False and line["failed"] == 2


def test_e2e_step_outside_the_suite_is_a_failure():
    results = [_step("gate", True), _step("shell", True), _step("after gate", True), _step("extra", True)]
    check = _suite().check({"results": results})
    assert check.errors and check.failed == 1
