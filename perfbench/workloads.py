"""The three workloads.  Each one generates its inputs at setup, runs one
pass through the program's public functions (the timed part), checks the
pass's answer and cleans its outputs (both untimed).

Why these three (see README.md): ``compare_lineitem`` is the Hermes
headline path and bypasses the Python kernels; ``dedup_corpus`` is the
Python-kernel and iterative-join path and bypasses the comparator;
``e2e_suite`` is bound by the fixed cost of each Spark job and plugin
step, so a compare speed-up that adds jobs shows up there as a loss.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from unittest import mock

import pyarrow.dataset as pads

import gates
import inputs
from spans import Tracer


@dataclass
class PassCheck:
    attempted: int
    errors: list[str] = field(default_factory=list)
    failed: int = 0
    info: dict = field(default_factory=dict)


class Workload:
    name = ""
    #: untimed passes before timing; fixed, so every run warms the same.
    #: The JIT, codegen and Python workers warm over about four passes.
    warmups = 3
    #: the timed loop runs at least this many passes
    min_passes = 3
    #: gated operations in one pass: the pass itself, or each e2e step
    ops_per_pass = 1

    def __init__(self, spark, run_dir: str, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.data_dir = os.path.join(run_dir, "data")
        self.out_dir = os.path.join(run_dir, "out")
        os.makedirs(self.data_dir, exist_ok=True)

    def setup(self) -> dict:
        raise NotImplementedError

    def run_pass(self, tracer: Tracer) -> dict:
        raise NotImplementedError

    def check(self, answer: dict) -> PassCheck:
        raise NotImplementedError

    def clean(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)


def _read_text(path: str) -> str | None:
    try:
        with open(path, encoding="utf-8") as fh:
            return fh.read()
    except FileNotFoundError:
        return None


class CompareLineitem(Workload):
    """``cli/compare_job.run``'s calls, in its order, on a lineitem pair
    with planted deletions, insertions and value changes."""

    name = "compare_lineitem"
    rows = 200_000

    def setup(self) -> dict:
        self.pair = inputs.lineitem_pair(self.spark, self.rows, self.seed, self.data_dir)
        return {"lineitem_rows": self.rows, "planted": self.pair["expected"]}

    def run_pass(self, tracer: Tracer) -> dict:
        from hermes_spark.comparator import DatasetComparator
        from hermes_spark.sources.io import (
            get_unique_file_path,
            load_dataframe,
            write_dataframe,
            write_metrics_file,
        )
        from hermes_spark.sources.parameters import Parameters

        with tracer.span("io.load"):
            ref_df = load_dataframe(self.spark, Parameters("parquet", {}, self.pair["ref_path"]))
            actual_df = load_dataframe(self.spark, Parameters("parquet", {}, self.pair["actual_path"]))
        with tracer.span("comparator.compare"):
            comparator = DatasetComparator(ref_df, actual_df, keys=inputs.LINEITEM_KEYS)
            result = comparator.compare()
        with tracer.span("io.write"):
            out_path = get_unique_file_path(self.spark, self.out_dir)
            if result.result_df is not None:
                write_dataframe(result.result_df, Parameters("parquet", {}, out_path))
            write_metrics_file(self.spark, out_path, result.get_pretty_json())
        with tracer.span("comparator.release"):
            comparator.release()
        return {"result": result.get_metadata(), "out_path": out_path}

    def check(self, answer: dict) -> PassCheck:
        out_path = answer["out_path"]
        errors = gates.check_compare(
            answer["result"],
            self.pair["expected"],
            _read_text(os.path.join(out_path, "_METRICS")),
        )
        written = pads.dataset(out_path, format="parquet").count_rows()
        if written != answer["result"]["numberOfDifferences"]:
            errors.append(f"diff output holds {written} rows, result says {answer['result']['numberOfDifferences']}")
        return PassCheck(attempted=1, errors=errors, failed=int(bool(errors)))


class DedupCorpus(Workload):
    """The curate CLI's fuzzy path (``run_dedup --mode fuzzy``) on a Zipf
    corpus with planted near-duplicates and exact copies."""

    name = "dedup_corpus"
    docs = 10_000
    near_dup_every = 10
    copy_every = 50

    def setup(self) -> dict:
        self.corpus = inputs.dedup_corpus(
            self.spark, self.docs, self.seed, self.data_dir, self.near_dup_every, self.copy_every
        )
        return {
            "docs": self.docs,
            "exact_copies": self.corpus["n_copies"],
            "near_dup_pairs": len(self.corpus["near_dup_pairs"]),
        }

    def run_pass(self, tracer: Tracer) -> dict:
        from hermes_spark.cli.curate_job import run_dedup

        argv = [
            "--format", "parquet", "--path", self.corpus["path"],
            "--mode", "fuzzy", "--min-jaccard", "0.8", "--out-path", self.out_dir,
        ]  # fmt: skip
        with tracer.span("dedup.run_dedup"):
            _, summary = run_dedup(self.spark, argv)
        return {"summary": summary}

    def check(self, answer: dict) -> PassCheck:
        table = pads.dataset(self.out_dir, format="parquet").to_table(columns=["doc_id", "text"])
        survivors = list(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
        errors, recall = gates.check_dedup(survivors, self.docs, self.corpus["near_dup_pairs"])
        summary = answer["summary"]
        rows_in = self.docs + self.corpus["n_copies"]
        if summary["rows_in"] != rows_in:
            errors.append(f"dedup read {summary['rows_in']} rows, wrote {rows_in}")
        if summary["rows_out"] != len(survivors):
            errors.append(f"dedup reports {summary['rows_out']} rows out, output holds {len(survivors)}")
        return PassCheck(
            attempted=1,
            errors=errors,
            failed=int(bool(errors)),
            info={"removed": summary["removed"], "planted_recall": recall},
        )


#: the layer call a plugin step makes, for the span nested in the step
PLUGIN_LAYER = {"DatasetComparison": "comparator.compare", "InfoComparison": "infofile.compare"}


class _TracedPlugin:
    """Wraps a registered plugin so each step runs in spans: the step
    itself, the layer call it makes and the result's ``write``."""

    def __init__(self, plugin, tracer: Tracer) -> None:
        self._plugin = plugin
        self._tracer = tracer
        self.name = plugin.name

    def perform_action(self, test_definition, actual_order):
        step = {"step": test_definition.name}
        with self._tracer.span(f"e2e.{self.name}") as sp:
            sp.info.update(step)
            layer = PLUGIN_LAYER.get(self.name)
            if layer is None:
                result = self._plugin.perform_action(test_definition, actual_order)
            else:
                with self._tracer.span(layer):
                    result = self._plugin.perform_action(test_definition, actual_order)
        write = result.write

        def traced_write(write_args):
            with self._tracer.span("io.write") as wsp:
                wsp.info.update(step)
                write(write_args)

        result.write = traced_write
        return result


class E2ESuite(Workload):
    """``e2e.run_tests`` over ``e2e_suite.json``: profile gates, dataset
    comparisons that write a diff and ``_METRICS``, ``_INFO`` comparisons,
    shell steps, and three planted failures."""

    name = "e2e_suite"
    rows = 20_000
    suite_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "e2e_suite.json")
    # its many distinct plans warm more slowly than the other workloads
    warmups = 4
    min_passes = 4  # 4 x 25 steps that run: >= 100 samples, ten above the p90

    def setup(self) -> dict:
        pair = inputs.lineitem_pair(self.spark, self.rows, self.seed, self.data_dir)
        self.planted = pair["expected"]
        self.spark.read.parquet(pair["ref_path"]).write.parquet(os.path.join(self.data_dir, "lineitem_copy"))
        inputs.write_json(os.path.join(self.data_dir, "info_ref.json"), inputs.info_document(self.rows))
        inputs.write_json(os.path.join(self.data_dir, "info_same.json"), inputs.info_document(self.rows))
        inputs.write_json(
            os.path.join(self.data_dir, "info_changed.json"), inputs.info_document(self.rows, country="SK")
        )
        with open(self.suite_path, encoding="utf-8") as fh:
            runs = json.load(fh)["runs"]
        self.expected = {r["name"]: r["expect"] for r in runs}
        self.plugin_of = {r["name"]: r["pluginName"] for r in runs}
        return {"lineitem_rows": self.rows, "steps": len(runs)}

    @property
    def ops_per_pass(self) -> int:
        return len(self.expected)

    def run_pass(self, tracer: Tracer) -> dict:
        from hermes_spark.e2e import TestDefinitions, get_plugin, runner

        import hermes_spark.e2e.plugins  # noqa: F401  (registers the plugins)

        defs = TestDefinitions.from_file(self.suite_path, {"data": self.data_dir, "out": self.out_dir})
        with mock.patch.object(runner, "get_plugin", lambda name: _TracedPlugin(get_plugin(name), tracer)):
            with tracer.span("e2e.run_tests"):
                results = runner.run_tests(defs)
        return {"results": results}

    def check(self, answer: dict) -> PassCheck:
        """Every step ends as expected, and every comparison that ran
        reports the planted edits (none between the reference and its
        copy)."""
        identical = {"ref_rows": self.rows, "actual_rows": self.rows, "ref_only": 0, "actual_only": 0, "changed": 0}
        outcomes = {}
        bad_steps = set()
        errors = []
        for r in answer["results"]:
            exc = getattr(r, "exception", None)
            outcomes[r.test_name] = gates.step_outcome(
                self.plugin_of.get(r.test_name, ""), r.passed, type(exc).__name__ if exc else None, r.returned_value
            )
            if getattr(r, "comparison", None) is not None:
                differs = self.expected.get(r.test_name) == "fail:DatasetsDiffer"
                wrong = gates.compare_count_errors(
                    r.comparison.get_metadata(), self.planted if differs else identical
                )
                if wrong:
                    bad_steps.add(r.test_name)
                    errors += [f"step {r.test_name!r}: {e}" for e in wrong]
        errors += gates.check_e2e(outcomes, self.expected)
        bad_steps |= {name for name, want in self.expected.items() if outcomes.get(name) != want}
        # a step outside the suite is an error without an expected step
        failed = max(len(bad_steps), int(bool(errors)))
        return PassCheck(attempted=len(self.expected), errors=errors, failed=failed)


WORKLOADS = {w.name: w for w in (CompareLineitem, DedupCorpus, E2ESuite)}
