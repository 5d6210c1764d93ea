"""Helpers for reading Spark physical plans programmatically."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_formatted(df: DataFrame) -> str:
    """The ``explain("formatted")`` text of a DataFrame, as a string."""
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def plan_operators(df: DataFrame) -> list[str]:
    """Physical operator names in plan order (``Scan parquet``,
    ``BroadcastHashJoin``, ...)."""
    ops = []
    for line in explain_formatted(df).splitlines():
        m = re.match(r"^\(\d+\)\s+(.*?)(?:\s*\[codegen.*)?$", line.strip())
        if m:
            ops.append(m.group(1).strip())
    return ops


def _split_top_level(body: str) -> list[str]:
    """Split on commas outside parentheses (predicates contain commas)."""
    parts, depth, cur = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return [p for p in parts if p]


def pushed_filters(df: DataFrame) -> list[str]:
    """Every ``PushedFilters`` predicate across the plan's scans."""
    out = []
    for line in explain_formatted(df).splitlines():
        if "PushedFilters:" in line:
            body = line.split("PushedFilters:", 1)[1].strip()
            if body.startswith("[") and body.endswith("]"):
                body = body[1:-1]
            out.extend(_split_top_level(body))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """The ``ReadSchema`` line of each scan — asserts column pruning."""
    return [
        line.split("ReadSchema:", 1)[1].strip()
        for line in explain_formatted(df).splitlines()
        if "ReadSchema:" in line
    ]


def has_broadcast_join(df: DataFrame) -> bool:
    return any("BroadcastHashJoin" in op or "BroadcastNestedLoopJoin" in op
               for op in plan_operators(df))


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges (broadcast exchanges excluded)."""
    return sum(1 for op in plan_operators(df) if op == "Exchange")


def input_size_bytes(df: DataFrame) -> int:
    """Total on-disk size of the DataFrame's input files (Hadoop FS
    metadata only — no data read). One driver-side FS call per file;
    for tables with very many files prefer catalog statistics."""
    sc = df.sparkSession.sparkContext
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()
    total = 0
    for f in df.inputFiles():
        path = jvm.org.apache.hadoop.fs.Path(f)
        fs = path.getFileSystem(hconf)
        total += fs.getFileStatus(path).getLen()
    return total


def rebalance_for_cpu(
    df: DataFrame,
    *,
    min_bytes: int = 256 * 1024 * 1024,
    factor: int = 2,
    target_partition_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Widen a large-but-narrow input ahead of a CPU-bound per-row
    stage (shingling, signature hashing, Arrow kernels).

    Text stages burn ~100x more CPU per byte than a columnar scan, and
    an AQE-coalesced intermediate write (a window or join output lands
    as a few large parquet files, each ONE row group) cannot be split
    back up by ``maxPartitionBytes`` — byte-range splits below
    row-group granularity produce empty tasks, so the effective scan
    parallelism is the FILE count.  Measured on the 5M-doc curation
    funnel (BASELINE.md round 8): the MinHash stage read 3,322 s from
    an AQE-coalesced exact-dedup output vs 482 s from the same rows
    written 128 files wide — 6.9x, two rounds in a row, misattributed
    to pair volume until decomposed.

    Engages ONLY when the input is big enough to matter AND its
    effective scan parallelism (min of planned partitions and input
    file count — a single-row-group file is ONE task no matter how
    it's split) is under ``factor``x the session's core count: coarse
    tasks can't load-balance, so even 45 tasks on 32 cores ran the
    measured 1.9x slower than 128 (wave quantization + size skew).
    In-memory test frames (no input files) and wide production scans
    pass through untouched, so zero-shuffle plan contracts stay
    intact; when it does engage, one round-robin exchange of the
    projected columns buys every core back.

    The checks run cheapest first: the input file list and their sizes
    are filesystem metadata, while the planned partition count needs
    ``df.rdd`` — and under AQE ``df.rdd`` executes the plan's query
    stages (every shuffle upstream of the result) just to plan the
    final one.  An input under ``min_bytes`` therefore returns before
    ``df.rdd`` is touched and runs no job; only a big input pays for
    the partition count.
    """
    try:
        sc = df.sparkSession.sparkContext
        cores = sc.defaultParallelism
        files = df.inputFiles()
        if not files:
            return df
        size = input_size_bytes(df)
        if size < min_bytes:
            return df
        parallelism = min(df.rdd.getNumPartitions(), len(files))
        if parallelism >= cores * factor:
            return df
    except Exception:
        # stats unavailable (exotic source/plan): never block the query
        return df
    # partition count scales with size: a very large narrow input (e.g.
    # hundreds of GB in a handful of single-row-group files) must not
    # land as multi-GB shuffle partitions just because the core count is
    # small — cap each widened partition near target_partition_bytes
    target = max(cores * factor, -(-size // target_partition_bytes))
    return df.repartition(target)


def suggest_shuffle_partitions(
    df: DataFrame,
    target_partition_bytes: int = 128 * 1024 * 1024,
    inflation: float = 3.0,
    min_partitions: int = 8,
) -> dict:
    """Size ``spark.sql.shuffle.partitions`` from the input's on-disk
    footprint: compressed parquet typically inflates ~3x when
    deserialized/shuffled, and each post-shuffle partition should land
    near ``target_partition_bytes`` so tasks neither spill nor starve.

    Returns ``{input_bytes, estimated_shuffle_bytes,
    suggested_shuffle_partitions}`` — a starting point to refine with
    AQE coalescing (which fixes over-partitioning but not
    under-partitioned spills).
    """
    size = input_size_bytes(df)
    est = int(size * inflation)
    parts = max(min_partitions, -(-est // target_partition_bytes))
    return {
        "input_bytes": size,
        "estimated_shuffle_bytes": est,
        "suggested_shuffle_partitions": parts,
    }
