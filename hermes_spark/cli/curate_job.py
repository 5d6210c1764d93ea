"""Curation jobs: corpus deduplication and dataset splitting as CLI
commands (extension surface; the reference CLI stops at comparison).

Usage::

    python -m hermes_spark.cli dedup --format parquet --path /data/docs \\
        --out-path /data/deduped [--id-col doc_id] [--text-col text] \\
        [--mode exact|fuzzy] [--min-jaccard 0.8] [--<reader-opt> v]

    python -m hermes_spark.cli split --format parquet --path /data/docs \\
        --out-path /data/split [--key-col doc_id] \\
        [--weights train=0.9,val=0.05,test=0.05]

``dedup --mode exact`` keeps one row per normalized-text fingerprint;
``--mode fuzzy`` adds MinHash-LSH near-dup clustering (keep min id per
component) on top. ``split`` appends a ``split`` column; both write the
result with the collision-free writer and print a one-line JSON summary.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hermes_spark.cli.parser import _args_to_map
from hermes_spark.exceptions import MissingArgumentException
from hermes_spark.sources.io import load_dataframe
from hermes_spark.sources.parameters import Parameters

_DEDUP_RESERVED = ("out-path", "id-col", "text-col", "mode", "min-jaccard")
_SPLIT_RESERVED = ("out-path", "key-col", "weights")


def run_dedup(spark: SparkSession, argv: list[str]) -> tuple[DataFrame, dict]:
    options = _args_to_map(argv)
    out_path = options.get("out-path")
    id_col = options.get("id-col", "doc_id")
    text_col = options.get("text-col", "text")
    mode = options.get("mode", "exact")
    min_jaccard = float(options.get("min-jaccard", "0.8"))
    reader_opts = {k: v for k, v in options.items() if k not in _DEDUP_RESERVED}
    df = load_dataframe(spark, Parameters.validate_and_create(reader_opts))
    n0 = df.count()

    from hermes_spark.operators import (
        exact_dedup,
        fuzzy_dedup_keep_one,
        minhash_lsh_pairs,
    )

    out = exact_dedup(df, id_col, text_col=text_col).drop("dup_count")
    if mode == "fuzzy":
        pairs = minhash_lsh_pairs(
            out, id_col, text_col, portable=False, min_jaccard=min_jaccard
        )
        out = fuzzy_dedup_keep_one(out, id_col, pairs)
    elif mode != "exact":
        raise MissingArgumentException(f"unknown dedup mode: {mode}")

    if out_path:
        # count the rows as the write produces them: a separate count()
        # would run the dedup window and anti-join a second time
        written = Observation()
        out.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(
            "error"
        ).parquet(out_path)
        n1 = written.get["rows"]
    else:
        n1 = out.count()
    summary = {"job": "dedup", "mode": mode, "rows_in": n0, "rows_out": n1,
               "removed": n0 - n1}
    if out_path:
        summary["out_path"] = out_path
    return out, summary


def run_split(spark: SparkSession, argv: list[str]) -> tuple[DataFrame, dict]:
    options = _args_to_map(argv)
    out_path = options.get("out-path")
    key_col = options.get("key-col", "doc_id")
    weights_s = options.get("weights", "train=0.9,val=0.05,test=0.05")
    weights = {}
    for part in weights_s.split(","):
        name, _, value = part.partition("=")
        if not value:
            raise MissingArgumentException(
                f'bad --weights entry: {part!r} (want name=fraction)'
            )
        weights[name.strip()] = float(value)
    reader_opts = {k: v for k, v in options.items() if k not in _SPLIT_RESERVED}
    df = load_dataframe(spark, Parameters.validate_and_create(reader_opts))

    from hermes_spark.operators.sampling import split_assign

    out = split_assign(df, key_col, weights)
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    summary = {"job": "split", "weights": weights, "counts": counts}
    if out_path:
        out.write.mode("error").partitionBy("split").parquet(out_path)
        summary["out_path"] = out_path
    return out, summary


def _main(runner, name: str, argv: list[str]) -> int:
    try:
        spark = SparkSession.builder.appName(f"Corpus {name}").getOrCreate()
        _, summary = runner(spark, argv)
        print(json.dumps(summary, default=str))
    except MissingArgumentException as exc:
        print(exc, file=sys.stderr)
        return 2
    return 0


def dedup_main(argv: list[str]) -> int:
    return _main(run_dedup, "dedup", argv)


def split_main(argv: list[str]) -> int:
    return _main(run_split, "split", argv)
