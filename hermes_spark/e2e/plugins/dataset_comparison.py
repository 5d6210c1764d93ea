"""DatasetComparison plugin: run the compare kernel as a test step.

Mirrors ``e2eRunner/.../plugins/DatasetComparisonPlugin.scala:76-106``:
args are the compare job's CLI options (without an output sink); the
step passes iff the datasets match; ``write(writeArgs)`` writes the diff
DataFrame and `_METRICS` using writer CLI options.  A step with
``writeArgs`` keeps the comparator's caches until that write, so the
diff is computed once, by the write, from the cached classification.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import SparkSession

from hermes_spark.cli.parser import parse_cli_parameters
from hermes_spark.comparator import DatasetComparator
from hermes_spark.e2e.definitions import TestDefinition
from hermes_spark.e2e.plugin import Plugin, PluginResult, register_plugin
from hermes_spark.result import ComparisonResult
from hermes_spark.sources.io import (
    get_unique_file_path,
    load_dataframe,
    write_dataframe,
    write_metrics_file,
)
from hermes_spark.sources.parameters import Parameters


def _parse_output_parameters(args: tuple[str, ...]) -> Parameters:
    """Parse writer-only args (``--out-*`` prefixed or generic), with the
    parquet default (reference ``CliParametersParser.parseOutputParameters``)."""
    options: dict[str, str] = {}
    for i in range(0, len(args), 2):
        key = args[i].lstrip("-")
        if key.startswith("out-"):
            key = key[4:]
        options[key] = args[i + 1]
    return Parameters.validate_with_defaults_and_create(
        options, {"format": "parquet"}
    )


@dataclass
class DatasetComparisonResult(PluginResult):
    comparison: Optional[ComparisonResult] = field(default=None)

    def write(self, write_args: tuple[str, ...]) -> None:
        """Write the diff and ``_METRICS``, then free the comparator's
        caches: the diff is computed by this write, from the caches the
        compare left in place."""
        try:
            params = _parse_output_parameters(write_args)
            spark = SparkSession.builder.getOrCreate()
            out_path = get_unique_file_path(spark, params.path)
            if self.comparison is not None and self.comparison.result_df is not None:
                write_dataframe(
                    self.comparison.result_df,
                    Parameters(params.format, params.options, out_path),
                )
            if self.comparison is not None:
                write_metrics_file(spark, out_path, self.comparison.get_pretty_json())
        finally:
            if self.comparison is not None:
                self.comparison.release()

    def result_log(self) -> str:
        state = "passed" if self.passed else "FAILED"
        return f"Dataset comparison {self.test_name} (#{self.order}) {state}"


@register_plugin
class DatasetComparisonPlugin(Plugin):
    @property
    def name(self) -> str:
        return "DatasetComparison"

    def perform_action(
        self, test_definition: TestDefinition, actual_order: int
    ) -> PluginResult:
        cli = parse_cli_parameters(list(test_definition.args), require_output=False)
        spark = SparkSession.builder.appName("Dataset comparison").getOrCreate()
        ref_df = load_dataframe(spark, cli.reference)
        actual_df = load_dataframe(spark, cli.actual)
        comparator = DatasetComparator(ref_df, actual_df, keys=cli.keys)
        result = comparator.compare()
        result.passed_options = cli.raw_options
        if test_definition.write_args is None:
            # no write follows: nothing will read result_df's caches
            comparator.release()
        return DatasetComparisonResult(
            arguments=test_definition.args,
            returned_value=result.get_json_metadata(),
            order=actual_order,
            test_name=test_definition.name,
            passed=result.passed,
            additional_info=dict(result.additional_info),
            comparison=result,
        )
