"""Round-3 curation operators: split_assign, source_overlap,
length_curriculum."""

from pyspark.sql import functions as F

from hermes_spark.operators.dedup import source_overlap
from hermes_spark.operators.packing import length_curriculum
from hermes_spark.operators.sampling import split_assign


def docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_split_assign_partitions_exactly(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    out = split_assign(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000  # exact partition, nothing lost
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # deterministic: re-run produces identical assignment
    again = split_assign(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert out.subtract(again).count() == 0 and again.subtract(out).count() == 0


def test_split_assign_boundary_stability(spark):
    # growing one split only moves the boundary: rows in 'test' under the
    # old weights never migrate to 'val' when 'train' grows
    df = spark.range(3000).withColumnRenamed("id", "doc_id")
    a = split_assign(df, "doc_id", {"train": 0.6, "holdout": 0.4})
    b = split_assign(df, "doc_id", {"train": 0.8, "holdout": 0.2})
    moved = (
        a.alias("a")
        .join(b.alias("b"), on="doc_id")
        .filter((F.col("a.split") == "train") & (F.col("b.split") == "holdout"))
    )
    assert moved.count() == 0  # train is a superset when its weight grows


def test_source_overlap_counts_shared_fingerprints(spark):
    df = docs(
        spark,
        [
            (1, "alpha beta", "web"),
            (2, "alpha  beta ", "books"),  # same fingerprint as 1 (normalized)
            (3, "gamma", "web"),
            (4, "gamma", "code"),
            (5, "gamma", "books"),
            (6, "unique text", "web"),
        ],
    )
    out = {
        (r["source_a"], r["source_b"]): r["overlap_count"]
        for r in source_overlap(df, "doc_id", "text").collect()
    }
    assert out == {
        ("books", "web"): 2,  # alpha-beta and gamma
        ("books", "code"): 1,
        ("code", "web"): 1,
    }


def test_source_overlap_dedupes_within_source(spark):
    # many copies inside ONE source contribute a single fingerprint
    df = docs(
        spark,
        [(i, "same text", "web") for i in range(5)] + [(9, "same text", "books")],
    )
    out = source_overlap(df, "doc_id", "text").collect()
    assert len(out) == 1 and out[0]["overlap_count"] == 1


def test_length_curriculum_bins(spark):
    rows = [
        (1, "one", "s"),  # 1 token  -> bin 0
        (2, "a b c", "s"),  # 3 tokens -> bin 1
        (3, "a b c d", "s"),  # 4 tokens -> bin 2 (power-of-2 boundary)
        (4, "a b c d e f g h", "s"),  # 8 tokens -> bin 3
        (5, "", "s"),  # 0 tokens -> clamped to bin 0
    ]
    out = {
        r["length_bin"]: (r["n_docs"], r["total_tokens"], r["min_tokens"], r["max_tokens"])
        for r in length_curriculum(docs(spark, rows), "doc_id").collect()
    }
    assert out == {0: (2, 1, 0, 1), 1: (1, 3, 3, 3), 2: (1, 4, 4, 4), 3: (1, 8, 8, 8)}


def test_sample_per_group_deterministic(spark):
    from hermes_spark.operators.sampling import sample_per_group

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("grp")
    )
    out = sample_per_group(df, "doc_id", "grp", k=5)
    counts = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert counts == {g: 5 for g in range(7)}
    # re-run (and re-partitioned input) picks the identical rows
    again = sample_per_group(df.repartition(13), "doc_id", "grp", k=5)
    assert out.subtract(again).count() == 0 and again.subtract(out).count() == 0
    # k=1 picks are a subset of the k=5 picks (nested prefix property)
    one = sample_per_group(df, "doc_id", "grp", k=1).select("doc_id")
    assert one.join(out.select("doc_id"), on="doc_id", how="left_anti").count() == 0


def test_cli_dedup_and_split_jobs(spark, tmp_path):
    from hermes_spark.cli.curate_job import run_dedup, run_split

    src = str(tmp_path / "docs")
    rows = [(i, "text %d" % (i % 50), "s%d" % (i % 3)) for i in range(200)]
    docs(spark, rows).write.parquet(src)

    out, summary = run_dedup(
        spark, ["--format", "parquet", "--path", src]
    )
    assert summary["rows_in"] == 200 and summary["rows_out"] == 50
    assert out.count() == 50

    out2, summary2 = run_split(
        spark,
        ["--format", "parquet", "--path", src,
         "--weights", "train=0.8,holdout=0.2"],
    )
    assert sum(summary2["counts"].values()) == 200
    assert set(summary2["counts"]) == {"train", "holdout"}

    # fuzzy mode composes exact + minhash keep-one
    _, summary3 = run_dedup(
        spark, ["--format", "parquet", "--path", src, "--mode", "fuzzy"]
    )
    assert summary3["rows_out"] <= 50


def test_cli_dedup_rows_out_counts_the_written_output(spark, tmp_path):
    """With --out-path, rows_out is observed on the write itself (no
    separate count job); it equals the written parquet's row count and
    the rows_out of a run without an output path."""
    from hermes_spark.cli.curate_job import run_dedup

    src = str(tmp_path / "docs")
    rows = [(i, "text %d" % (i % 50), "s%d" % (i % 3)) for i in range(200)]
    docs(spark, rows).write.parquet(src)
    for mode in ("exact", "fuzzy"):
        read = ["--format", "parquet", "--path", src, "--mode", mode]
        out_path = str(tmp_path / f"out_{mode}")
        _, summary = run_dedup(spark, read + ["--out-path", out_path])
        _, unwritten = run_dedup(spark, read)
        assert summary["out_path"] == out_path
        assert summary["rows_out"] == spark.read.parquet(out_path).count()
        assert summary["rows_out"] == unwritten["rows_out"]
        assert summary["removed"] == 200 - summary["rows_out"]
