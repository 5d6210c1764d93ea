"""Seeded input generators for the benchmark workloads.

Every value derives from ``xxhash64(row id, column tag, seed)`` over
``spark.range``, so one ``(size, seed)`` pair always yields the same rows
and the generators need no driver-side data.  Each generator writes
parquet under the run's scratch directory and returns the paths plus the
answer the program is expected to give, computed here from the planted
edits and never from the code under test.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: lineitem edit classes, drawn per row from ``pmod(hash, 1000)``
DELETE_PER_MILLE = 5
CHANGE_PER_MILLE = 10
#: one inserted row per this many reference rows
INSERT_EVERY = 200

LINEITEM_KEYS = ["l_orderkey", "l_linenumber"]


def _h(seed: int, tag: int) -> F.Column:
    return F.xxhash64(F.col("id"), F.lit(tag), F.lit(seed))


def _pick(values: list[str], seed: int, tag: int) -> F.Column:
    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(arr, (F.pmod(_h(seed, tag), F.lit(len(values))) + 1).cast("int"))


def _lineitem_rows(spark: SparkSession, start: int, end: int, seed: int) -> DataFrame:
    """TPC-H lineitem-shaped rows for ids ``[start, end)``.

    ``(l_orderkey, l_linenumber) = (id div 7 + 1, id mod 7 + 1)`` is a
    bijection of the id, so the key is unique by construction."""
    qty = (F.pmod(_h(seed, 3), F.lit(50)) + 1).cast("double")
    ship = F.date_add(F.lit("1992-01-02").cast("date"), F.pmod(_h(seed, 7), F.lit(2500)).cast("int"))
    return spark.range(start, end).select(
        "id",
        (F.floor(F.col("id") / 7) + 1).cast("long").alias("l_orderkey"),
        (F.pmod(_h(seed, 1), F.lit(20000)) + 1).alias("l_partkey"),
        (F.pmod(_h(seed, 2), F.lit(1000)) + 1).alias("l_suppkey"),
        (F.pmod(F.col("id"), F.lit(7)) + 1).cast("int").alias("l_linenumber"),
        qty.alias("l_quantity"),
        F.round(qty * (F.lit(900.0) + F.pmod(_h(seed, 4), F.lit(100000)) / 100.0), 2).alias(
            "l_extendedprice"
        ),
        (F.pmod(_h(seed, 5), F.lit(11)) / 100.0).alias("l_discount"),
        (F.pmod(_h(seed, 6), F.lit(9)) / 100.0).alias("l_tax"),
        _pick(["A", "N", "R"], seed, 8).alias("l_returnflag"),
        _pick(["O", "F"], seed, 9).alias("l_linestatus"),
        ship.alias("l_shipdate"),
        F.date_add(ship, F.pmod(_h(seed, 10), F.lit(60)).cast("int")).alias("l_commitdate"),
        F.date_add(ship, F.pmod(_h(seed, 11), F.lit(30)).cast("int") + 1).alias("l_receiptdate"),
        _pick(["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"], seed, 12).alias(
            "l_shipinstruct"
        ),
        _pick(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"], seed, 13).alias(
            "l_shipmode"
        ),
        F.substring(
            F.sha2(F.concat_ws(":", F.col("id").cast("string"), F.lit(str(seed))), 256),
            1,
            (F.pmod(_h(seed, 14), F.lit(30)) + 10).cast("int"),
        ).alias("l_comment"),
    )


def lineitem_pair(spark: SparkSession, n_rows: int, seed: int, out_dir: str) -> dict:
    """Write a reference lineitem and an actual copy with planted edits.

    Planted per row: about 0.5% deleted, 1% changed (price +1, and for
    half of them the comment too) and one new row per ``INSERT_EVERY``.
    Returns the two paths and the expected compare outcome."""
    edit = F.pmod(_h(seed, 99), F.lit(1000))
    base = _lineitem_rows(spark, 0, n_rows, seed).withColumn(
        "_edit",
        F.when(edit < DELETE_PER_MILLE, "deleted")
        .when(edit < DELETE_PER_MILLE + CHANGE_PER_MILLE, "changed")
        .otherwise("kept"),
    )
    n_insert = n_rows // INSERT_EVERY
    changed = F.col("_edit") == "changed"
    actual = (
        base.filter(F.col("_edit") != "deleted")
        .withColumn(
            "l_extendedprice",
            F.when(changed, F.col("l_extendedprice") + 1.0).otherwise(F.col("l_extendedprice")),
        )
        .withColumn(
            "l_comment",
            F.when(changed & (F.col("id") % 2 == 0), F.concat(F.col("l_comment"), F.lit(" edited")))
            .otherwise(F.col("l_comment")),
        )
        .drop("_edit")
        .unionByName(_lineitem_rows(spark, n_rows, n_rows + n_insert, seed))
    )
    ref_path = os.path.join(out_dir, "lineitem_ref")
    act_path = os.path.join(out_dir, "lineitem_actual")
    base.drop("id", "_edit").write.parquet(ref_path)
    actual.drop("id").write.parquet(act_path)
    counts = {r["_edit"]: r["count"] for r in base.groupBy("_edit").count().collect()}
    deleted, n_changed = counts.get("deleted", 0), counts.get("changed", 0)
    return {
        "ref_path": ref_path,
        "actual_path": act_path,
        "expected": {
            "ref_rows": n_rows,
            "actual_rows": n_rows - deleted + n_insert,
            "ref_only": deleted,
            "actual_only": n_insert,
            "changed": n_changed,
        },
    }


def dedup_corpus(
    spark: SparkSession,
    n_docs: int,
    seed: int,
    out_dir: str,
    near_dup_every: int,
    copy_every: int,
) -> dict:
    """Write a Zipf corpus with planted near-duplicates and exact copies.

    Near-duplicates come from ``zipf_documents(near_dup_every=...)``:
    doc ``i`` (``i % near_dup_every == 0``) repeats doc ``i - 1`` except
    its last tenth.  Exact copies are upper-cased, space-padded copies of
    about one doc in ``copy_every``, with ids from ``n_docs`` up, so the
    original (lower id) is the one exact dedup keeps."""
    from hermes_spark.synth import zipf_documents

    docs = zipf_documents(spark, n_docs, seed=seed, near_dup_every=near_dup_every)
    copies = docs.filter(
        F.pmod(F.xxhash64(F.col("doc_id"), F.lit(17), F.lit(seed)), F.lit(copy_every)) == 0
    ).select(
        (F.col("doc_id") + n_docs).alias("doc_id"),
        F.concat(F.lit("  "), F.upper(F.regexp_replace("text", " ", "  "))).alias("text"),
    )
    path = os.path.join(out_dir, "corpus")
    docs.unionByName(copies).write.parquet(path)
    n_copies = spark.read.parquet(path).filter(F.col("doc_id") >= n_docs).count()
    planted = [i for i in range(near_dup_every, n_docs, near_dup_every)]
    return {
        "path": path,
        "n_docs": n_docs,
        "n_copies": n_copies,
        "near_dup_pairs": [(i - 1, i) for i in planted],
    }


def info_document(rows: int, country: str = "CZ") -> dict:
    """An ``_INFO`` control-measure document (Atum layout) for a dataset
    with ``rows`` records."""
    return {
        "metadata": {
            "sourceApplication": "perfbench",
            "country": country,
            "historyType": "Snapshot",
            "dataFilename": "lineitem.parquet",
            "sourceType": "Synthetic",
            "version": 1,
            "informationDate": "01-01-2024",
            "additionalInfo": {"raw_format": "parquet", "std_records_succeeded": str(rows)},
        },
        "checkpoints": [
            {
                "name": name,
                "workflowName": name,
                "order": order,
                "controls": [
                    {
                        "controlName": "recordCount",
                        "controlType": "count",
                        "controlCol": "*",
                        "controlValue": str(rows),
                    }
                ],
            }
            for order, name in enumerate(["Source", "Raw", "Standardize"], start=1)
        ],
    }


def write_json(path: str, doc: dict) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh, indent=2)
