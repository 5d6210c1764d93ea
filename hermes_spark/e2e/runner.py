"""Sequential test executor with dependency gating and fail-fast.

Mirrors ``e2eRunner/.../E2ERunnerJob.scala:79-137`` (SURVEY.md §2.11
O3–O6): tests run in schedule order; a test whose ``dependsOn`` did not
pass is recorded as failed with a ``DependeeFailed`` error; with
``fail_fast`` the first failure raises ``TestFailedWithFailFastOn``.
"""

from __future__ import annotations

import logging

from hermes_spark.e2e.definitions import TestDefinitions
from hermes_spark.e2e.plugin import (
    FailedPluginResult,
    PluginResult,
    get_plugin,
    registered_plugin_names,
)

log = logging.getLogger(__name__)


class DependeeFailed(Exception):
    def __init__(self, test_name: str, dependee: str) -> None:
        super().__init__(
            f"Test {test_name} did not run because its dependee "
            f"{dependee} failed"
        )


class TestFailedWithFailFastOn(Exception):
    __test__ = False  # a library class, not a pytest test class

    def __init__(self, test_name: str) -> None:
        super().__init__(
            f"Test {test_name} failed and fail-fast is on. Aborting."
        )


class PluginsMissing(Exception):
    def __init__(self, missing: set[str]) -> None:
        super().__init__(
            f"Plugins required by test definitions are not loaded: "
            f"{sorted(missing)}"
        )


def validate_plugins_to_be_used(
    loaded: set[str], expected: set[str]
) -> None:
    missing = expected - loaded
    if missing:
        raise PluginsMissing(missing)


def run_tests(
    test_definitions: TestDefinitions, fail_fast: bool = False
) -> list[PluginResult]:
    """Run all tests in schedule order; returns their results."""
    test_definitions.ensure_order_and_dependencies_correct()
    validate_plugins_to_be_used(
        registered_plugin_names(), test_definitions.get_plugin_names()
    )

    results: list[PluginResult] = []
    passed_by_name: dict[str, bool] = {}

    for td_with_order in test_definitions.get_sorted_with_index():
        td = td_with_order.definition
        order = td_with_order.actual_order
        if td.depends_on is not None and not passed_by_name.get(td.depends_on):
            result: PluginResult = FailedPluginResult.from_exception(
                DependeeFailed(td.name, td.depends_on), td.args, order, td.name
            )
        else:
            try:
                plugin = get_plugin(td.plugin_name)
                result = plugin.perform_action(td, order)
                if td.write_args is not None:
                    result.write(td.write_args)
            except Exception as exc:  # noqa: BLE001 - result-model contract
                result = FailedPluginResult.from_exception(
                    exc, td.args, order, td.name
                )
        results.append(result)
        passed_by_name[td.name] = result.passed
        if fail_fast and not result.passed:
            raise TestFailedWithFailFastOn(td.name)

    for result in results:
        result.log_result()
    return results
