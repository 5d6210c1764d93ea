"""Decompose the funnel's MinHash near-dup wall (round 8).

The 5M funnel's minhash_dedup stage reads 3,322 s — flat vs r7 even
with the Arrow pair kernel, so the superlinear slice is NOT per-pair
expression cost.  Two probes to localize it:

* ``hist``   — bucket-size distribution per band at FUNNEL_DOCS docs and
  the implied intra-bucket pair volume (sum nC2 by size class), WITHOUT
  generating pairs.  Cheap: signature pipeline + one groupBy count.
* ``stages`` — wall decomposition at STAGE_DOCS docs: signatures
  materialized / pairs generated+counted / components+keep_by window.

Usage: python tools/diag_minhash_funnel.py [hist] [stages]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def out(obj) -> None:
    print(json.dumps(obj), flush=True)


def get_spark():
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("diag-minhash")
        .config("spark.sql.shuffle.partitions", str(int(cpus) * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "48g")
        .config("spark.driver.maxResultSize", "4g")
        .getOrCreate()
    )


def corpus(spark, n):
    from pyspark.sql import functions as F

    from hermes_spark.synth import zipf_documents

    work = f"/tmp/diag_minhash_{n}"
    if not os.path.exists(f"{work}/raw/_SUCCESS"):
        zipf_documents(
            spark, n, vocab_size=30_000, doc_len=80, seed=23,
            near_dup_every=50, partitions=128,
        ).select(
            "doc_id", F.concat(F.col("text"), F.lit(".")).alias("text")
        ).write.mode("overwrite").parquet(f"{work}/raw")
    return spark.read.parquet(f"{work}/raw")


def probe_hist(spark) -> None:
    from pyspark.sql import functions as F

    from hermes_spark.functions.hashing import (
        band_keys, base_hash31, minhash_signature_from_hashes, shingles,
    )

    n = int(os.environ.get("FUNNEL_DOCS", "5000000"))
    docs = corpus(spark, n)
    num_hashes, num_bands = 32, 4
    rows_per_band = num_hashes // num_bands
    hashed = docs.select(
        F.col("doc_id").alias("__id"),
        F.transform(
            shingles(F.col("text"), n=3),
            lambda s: base_hash31(s, portable=False),
        ).alias("__hs"),
    )
    sigs = hashed.select(
        "__id",
        minhash_signature_from_hashes(F.col("__hs"), num_hashes).alias("__sig"),
    )
    buckets = sigs.select(
        "__id",
        F.explode(band_keys(F.col("__sig"), num_bands, rows_per_band)).alias(
            "__band"
        ),
    )
    t0 = time.time()
    sizes = buckets.groupBy("__band").agg(F.count(F.lit(1)).alias("n"))
    hist = (
        sizes.select(
            F.when(F.col("n") == 1, "1")
            .when(F.col("n") <= 4, "2-4")
            .when(F.col("n") <= 16, "5-16")
            .when(F.col("n") <= 64, "17-64")
            .when(F.col("n") <= 256, "65-256")
            .when(F.col("n") <= 1000, "257-1000")
            .otherwise(">1000 (collapsed)")
            .alias("size_class"),
            F.col("n"),
        )
        .groupBy("size_class")
        .agg(
            F.count(F.lit(1)).alias("buckets"),
            F.sum("n").alias("members"),
            F.sum(
                F.when(
                    F.col("n") <= 1000, F.col("n") * (F.col("n") - 1) / 2
                ).otherwise(F.col("n"))  # collapsed: ~chain pairs
            ).cast("long").alias("implied_pairs"),
        )
        .orderBy("size_class")
    )
    rows = [r.asDict() for r in hist.collect()]
    out({"probe": "minhash_hist", "docs": n, "wall": round(time.time() - t0, 1),
         "hist": rows,
         "total_implied_pairs": int(sum(r["implied_pairs"] or 0 for r in rows))})


def probe_stages(spark) -> None:
    from pyspark.sql import functions as F

    from hermes_spark.operators import fuzzy_dedup_keep_one, minhash_lsh_pairs

    n = int(os.environ.get("STAGE_DOCS", "2000000"))
    docs = corpus(spark, n)
    work = f"/tmp/diag_minhash_{n}"

    t0 = time.time()
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", shingle_n=3, num_hashes=32,
        num_bands=4, min_jaccard=0.7, portable=False,
    )
    pairs.write.mode("overwrite").parquet(f"{work}/pairs")
    n_pairs = spark.read.parquet(f"{work}/pairs").count()
    out({"probe": "minhash_stage", "stage": "pairs", "docs": n,
         "pairs": n_pairs, "wall": round(time.time() - t0, 1)})

    t0 = time.time()
    pairs_m = spark.read.parquet(f"{work}/pairs")
    kept = fuzzy_dedup_keep_one(
        docs, "doc_id", pairs_m, keep_by=F.length("text")
    )
    kept.write.mode("overwrite").parquet(f"{work}/kept")
    n_kept = spark.read.parquet(f"{work}/kept").count()
    out({"probe": "minhash_stage", "stage": "components+keep", "docs": n,
         "kept": n_kept, "wall": round(time.time() - t0, 1)})


def probe_replica(spark) -> None:
    """The funnel's minhash stage VERBATIM (live pairs plan into
    fuzzy dedup + write) — isolates composition cost from operator cost."""
    from pyspark.sql import functions as F

    from hermes_spark.operators import fuzzy_dedup_keep_one, minhash_lsh_pairs

    n = int(os.environ.get("STAGE_DOCS", "5000000"))
    docs = corpus(spark, n)
    work = f"/tmp/diag_minhash_{n}"
    t0 = time.time()
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", shingle_n=3, num_hashes=32,
        num_bands=4, min_jaccard=0.7, portable=False,
    )
    neared = fuzzy_dedup_keep_one(
        docs, "doc_id", pairs, keep_by=F.length("text")
    )
    neared.write.mode("overwrite").parquet(f"{work}/neardedup")
    n_kept = spark.read.parquet(f"{work}/neardedup").count()
    out({"probe": "minhash_replica", "docs": n, "kept": n_kept,
         "wall": round(time.time() - t0, 1)})


def probe_layout(spark) -> None:
    """Reproduce the funnel's exact_dedup -> write -> minhash chain and
    measure how the INTERMEDIATE parquet's layout (AQE-coalesced window
    output = few big single-row-group files) throttles the CPU-bound
    signature scan, vs the same data rewritten wide."""
    import glob as _glob

    from pyspark.sql import functions as F

    from hermes_spark.operators import exact_dedup, minhash_lsh_pairs

    n = int(os.environ.get("STAGE_DOCS", "5000000"))
    docs = corpus(spark, n)
    work = f"/tmp/diag_minhash_{n}"

    deduped = exact_dedup(docs, "doc_id", "text", keep_by=F.length("text"))
    deduped.write.mode("overwrite").parquet(f"{work}/dedup_asis")
    files = _glob.glob(f"{work}/dedup_asis/part-*")
    sizes = sorted(os.path.getsize(f) for f in files)
    out({"probe": "layout", "variant": "as-written (funnel)",
         "files": len(files),
         "min_mb": round(sizes[0] / 1e6, 1) if sizes else 0,
         "max_mb": round(sizes[-1] / 1e6, 1) if sizes else 0})

    for variant, path in (("as-written (funnel)", f"{work}/dedup_asis"),
                          ("repartition(128) rewrite", f"{work}/dedup_wide")):
        if variant.startswith("repartition"):
            spark.read.parquet(f"{work}/dedup_asis").repartition(128) \
                .write.mode("overwrite").parquet(path)
        d = spark.read.parquet(path)
        d.count()
        t0 = time.time()
        n_pairs = minhash_lsh_pairs(
            d, "doc_id", "text", shingle_n=3, num_hashes=32,
            num_bands=4, min_jaccard=0.7, portable=False,
        ).count()
        out({"probe": "layout", "variant": variant,
             "scan_partitions": d.rdd.getNumPartitions(),
             "pairs": n_pairs, "minhash_wall": round(time.time() - t0, 1)})


def probe_lm_layout(spark) -> None:
    """The funnel's LM-filter stage from a narrow (45-file,
    AQE-coalesced-shaped) vs wide (128-file) input — validates the
    rebalance_for_cpu guard on lm_train/lm_score (round 8)."""
    from pyspark.sql import functions as F

    from hermes_spark.operators import lm_score, lm_train

    n = int(os.environ.get("STAGE_DOCS", "5000000"))
    docs = corpus(spark, n)
    work = f"/tmp/diag_minhash_{n}"
    docs.coalesce(45).write.mode("overwrite").parquet(f"{work}/narrow45")
    docs.repartition(128).write.mode("overwrite").parquet(f"{work}/wide128")
    for variant in ("narrow45", "wide128"):
        d = spark.read.parquet(f"{work}/{variant}")
        d.count()
        t0 = time.time()
        lm = lm_train(d.filter(F.col("doc_id") % 10 == 0), vocab_size=20_000)
        scored = lm_score(d, lm, broadcast_model=True)
        cut = scored.approxQuantile("avg_logprob", [0.2], 0.01)[0]
        kept = scored.filter(F.col("avg_logprob") >= cut).count()
        out({"probe": "lm_layout", "variant": variant, "docs": n,
             "kept": kept, "wall": round(time.time() - t0, 1)})


PROBES = {"hist": probe_hist, "stages": probe_stages,
          "replica": probe_replica, "layout": probe_layout,
          "lm_layout": probe_lm_layout}


def main() -> int:
    names = sys.argv[1:] or ["hist"]
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        PROBES[name](spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
