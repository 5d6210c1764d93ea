"""Bundled-plugin integration: DatasetComparison and InfoComparison run
through the e2e runner against real files (cf. the reference's
``DatasetComparatorPluginTest`` incl. the write path)."""

import json

import pytest
from pyspark.sql import functions as F

import hermes_spark.e2e.plugins  # noqa: F401 - registers bundled plugins
from hermes_spark.e2e import TestDefinitions, run_tests


@pytest.fixture(scope="module")
def data(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("e2e_data")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(300)
    orders.write.parquet(str(base / "ref"))
    (
        orders.withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 60 == 0, F.lit(1.0)).otherwise(
                F.col("o_totalprice")
            ),
        ).write.parquet(str(base / "new"))
    )
    info = {"metadata": {"country": "CZ", "version": 1,
                         "additionalInfo": {}}, "checkpoints": []}
    (base / "info_ref.json").write_text(json.dumps(info))
    (base / "info_same.json").write_text(json.dumps(info))
    return base


def test_dataset_comparison_plugin_pass_and_fail(spark, data, tmp_path):
    defs = TestDefinitions.from_string(json.dumps({
        "vars": {"base": str(data), "out": str(tmp_path)},
        "runs": [
            {
                "pluginName": "DatasetComparison",
                "name": "same",
                "order": 0,
                "args": ["--format", "parquet",
                         "--ref-path", "#{base}#/ref",
                         "--new-path", "#{base}#/ref",
                         "--keys", "o_orderkey"],
            },
            {
                "pluginName": "DatasetComparison",
                "name": "differs",
                "order": 1,
                "args": ["--format", "parquet",
                         "--ref-path", "#{base}#/ref",
                         "--new-path", "#{base}#/new",
                         "--keys", "o_orderkey"],
                "writeArgs": ["--format", "parquet",
                              "--path", "#{out}#/diff"],
            },
        ],
    }))
    results = run_tests(defs)
    assert results[0].passed
    assert not results[1].passed
    meta = json.loads(results[1].returned_value)
    assert meta["numberOfDifferences"] == 5  # 60,120,...,300 within limit(300)
    # write path produced the diff parquet + _METRICS next to it
    diff = spark.read.parquet(f"{tmp_path}/diff")
    assert diff.count() == 5 and "errCol" in diff.columns
    metrics = json.loads(open(f"{tmp_path}/diff/_METRICS").read())
    assert metrics["passed"] is False


def _differing_step(data, **extra):
    return {
        "pluginName": "DatasetComparison",
        "name": "differs",
        "order": 0,
        "args": ["--format", "parquet",
                 "--ref-path", f"{data}/ref",
                 "--new-path", f"{data}/new",
                 "--keys", "o_orderkey"],
        **extra,
    }


@pytest.fixture
def comparator_caches(monkeypatch):
    """Every frame a DatasetComparator still holds persisted when its
    compare() returns, in call order."""
    from hermes_spark.comparator import DatasetComparator

    seen = []
    compare = DatasetComparator.compare

    def recording_compare(self):
        result = compare(self)
        seen.extend(self._persisted)
        return result

    monkeypatch.setattr(DatasetComparator, "compare", recording_compare)
    return seen


def test_dataset_comparison_write_reads_caches_then_releases(
    spark, data, tmp_path, monkeypatch, comparator_caches
):
    from pyspark import StorageLevel

    from hermes_spark.e2e.plugins import dataset_comparison

    levels_at_write = []
    write = dataset_comparison.write_dataframe

    def recording_write(df, params):
        levels_at_write.extend(c.storageLevel for c in comparator_caches)
        write(df, params)

    monkeypatch.setattr(dataset_comparison, "write_dataframe", recording_write)
    defs = TestDefinitions.from_string(json.dumps({"runs": [
        _differing_step(data, writeArgs=["--out-path", f"{tmp_path}/diff"]),
    ]}))
    (result,) = run_tests(defs)
    meta = json.loads(result.returned_value)
    assert meta["numberOfDifferences"] > 0
    assert spark.read.parquet(f"{tmp_path}/diff").count() == meta["numberOfDifferences"]
    # the caches lived until the write, and the write released them all
    assert comparator_caches and len(levels_at_write) == len(comparator_caches)
    assert all(lvl != StorageLevel.NONE for lvl in levels_at_write)
    assert all(c.storageLevel == StorageLevel.NONE for c in comparator_caches)


def test_dataset_comparison_without_write_releases_at_once(
    data, comparator_caches
):
    from pyspark import StorageLevel

    from hermes_spark.e2e.definitions import TestDefinition
    from hermes_spark.e2e.plugin import get_plugin

    step = _differing_step(data)
    td = TestDefinition(
        name=step["name"], order=0, plugin_name=step["pluginName"],
        args=tuple(step["args"]),
    )
    result = get_plugin("DatasetComparison").perform_action(td, 0)
    assert not result.passed
    assert comparator_caches
    assert all(c.storageLevel == StorageLevel.NONE for c in comparator_caches)


#: Spark jobs of one fast compare of the differing pair plus its diff
#: write, in this suite's session (AQE on, 8 shuffle partitions): 4 for
#: compare() (the classification and the metric fold's stages) and 6
#: for the write (AQE materializes each of the four scans of the
#: persisted complements as a stage, then the joins and the write).
COMPARE_AND_WRITE_JOB_BUDGET = 10


def test_fast_compare_and_write_job_budget(spark, data, tmp_path):
    import uuid

    from hermes_spark import ComparisonConfig, DatasetComparator
    from hermes_spark.sources.io import write_dataframe
    from hermes_spark.sources.parameters import Parameters

    ref = spark.read.parquet(f"{data}/ref")
    new = spark.read.parquet(f"{data}/new")
    sc = spark.sparkContext
    group = f"compare-budget-{uuid.uuid4().hex}"
    cmp = DatasetComparator(
        ref, new, keys=["o_orderkey"], config=ComparisonConfig(mode="fast")
    )
    sc.setJobGroup(group, "fast compare + diff write")
    try:
        result = cmp.compare()
        write_dataframe(
            result.result_df, Parameters("parquet", {}, f"{tmp_path}/diff")
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        cmp.release()
    assert result.diff_count == 5
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= COMPARE_AND_WRITE_JOB_BUDGET, sorted(jobs)


def test_info_comparison_plugin(data, tmp_path):
    defs = TestDefinitions.from_string(json.dumps({
        "runs": [
            {
                "pluginName": "InfoComparison",
                "name": "info_same",
                "order": 0,
                "args": [str(data / "info_ref.json"),
                         str(data / "info_same.json"),
                         str(tmp_path / "info_diff.json")],
            },
        ],
    }))
    results = run_tests(defs)
    assert results[0].passed


def test_profile_plugin_gates(spark, sf_dir):
    from hermes_spark.e2e.definitions import TestDefinition
    from hermes_spark.e2e.plugin import get_plugin

    def run(args):
        td = TestDefinition(
            name="profile gate", order=1, plugin_name="Profile", args=tuple(args)
        )
        return get_plugin("Profile").perform_action(td, 1)

    base = [
        "--format", "parquet", "--path", f"{sf_dir}/orders.parquet",
        "--cols", "o_custkey", "--skew-cols", "o_orderstatus",
    ]
    # loose thresholds: passes
    ok = run(base + ["--max-null-pct", "0.0", "--max-top-key-pct", "0.9"])
    assert ok.passed and ok.records

    # o_orderstatus top group holds ~1/3 of rows -> 5% skew gate fails
    bad = run(base + ["--max-top-key-pct", "0.05"])
    assert not bad.passed
    assert any("top key" in v for v in bad.violations)
