"""Mergeable sketch operators: HyperLogLog, count-min, KMV theta, Bloom.

Extension beyond reference parity (the reference has no sketching; see
``SURVEY.md`` §2 extension table).  At 100 TB, exact ``COUNT(DISTINCT)``
/ frequency / set-overlap answers force a shuffle proportional to the
*distinct-key volume*; the sketch answers here cost one scan with
map-side-combinable aggregates and leave behind a small **mergeable
state** that later batches can fold into without rescanning history —
the same contract as ``incremental.rollup_state``.

Design decisions (all Spark-first):

* **States are relational, not blobs.** An HLL state is ``(group...,
  bucket, max_rank)`` rows (≤ m per group), a CMS state is ``(group...,
  row, bucket, cnt)`` rows (≤ d·w), a KMV state is the k smallest
  60-bit hashes per group.  Register-per-row states merge with plain
  ``groupBy().agg(max/sum)`` — Catalyst map-side combines them, AQE
  coalesces them, and they persist as ordinary parquet.  No binary
  payloads, no UDAFs, no Python in the hot path.
* **Portable arithmetic.** Hashes come from
  :func:`hermes_spark.functions.hashing.portable_hash64` (md5-derived,
  reproducible in DuckDB), ranks from integer bit-length
  (``length(bin(x))`` — exact on both engines, no ``floor(log2())``
  double-rounding hazard), and the HLL harmonic sum is accumulated in
  *scaled integer* form (``sum(1 << (S - rank))``), which is
  order-independent and therefore engine-exact.  Only the final
  one-division estimate is floating point.
* **Production hash.** Every builder takes ``portable=False`` to switch
  the base hash to ``xxhash64`` (one JVM intrinsic instead of md5+conv)
  for real 100 TB runs; the md5 path exists so the driver oracle can
  verify the register states bit-for-bit.

Error contracts: HLL relative error ≈ ``1.04/sqrt(2^p)`` (~3.2 % at
p=10); CMS overestimates only, by at most ``e·N/w`` with probability
``1 - e^-d``; KMV relative error ≈ ``1/sqrt(k-2)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import fast_hash64, portable_hash64
from ..naming import generate_unique_column_name

#: portable_hash64 yields 60 bits (15 hex chars of md5).
HASH_BITS = 60
_HASH_SPACE = float(1 << HASH_BITS)


def _hash60(col: Column, portable: bool, salt: str = "") -> Column:
    """60-bit non-negative hash of ``col`` (salted), portable or fast.

    The portable path stringifies (md5 needs bytes and the DuckDB
    oracle must see identical input); the fast path hashes the RAW
    typed value with the salt as a leading hash column — at 60M rows
    the avoided per-row string allocation is ~2× wall on numeric keys.
    Both stay in the same 60-bit space so downstream arithmetic
    (bucket splits, KMV normalization) is hash-agnostic.

    COMPATIBILITY: this is fast-hash scheme v2 (raw typed values; v1
    stringified).  Persisted ``portable=False`` states and Bloom
    bitmaps are only mergeable/probe-able with states built by the
    same scheme — the sketch CLI stamps ``_SKETCH_PARAMS.json`` into
    its stores so a mismatch fails loudly instead of skewing
    estimates.  The portable path is unchanged and version-stable.
    """
    if portable:
        return portable_hash64(F.concat(F.lit(salt), col.cast("string")))
    hashed = F.xxhash64(F.lit(salt), col) if salt else fast_hash64(col)
    return F.shiftrightunsigned(hashed, 64 - HASH_BITS)


def _bitlen(col: Column) -> Column:
    """Exact integer bit length of a non-negative BIGINT (0 for 0).

    ``length(bin(x))`` is string arithmetic on both Spark and DuckDB —
    unlike ``floor(log2(x))`` it cannot round a power of two down.
    """
    return F.when(col == 0, F.lit(0)).otherwise(F.length(F.bin(col)))


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. '07) — register-per-row representation
# ---------------------------------------------------------------------------


def hll_alpha(m: int) -> float:
    """Bias-correction constant for m >= 128 registers (HLL paper §4)."""
    if m < 128:
        raise ValueError("hll precision must give m >= 128 registers (p >= 7)")
    return 0.7213 / (1.0 + 1.079 / m)


def hll_state(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 12,
    portable: bool = True,
) -> DataFrame:
    """Per-group HLL registers ``(group..., bucket, max_rank)``.

    One hash aggregate: the map side collapses repeated values into at
    most ``m = 2^p`` register rows per group BEFORE the exchange, so the
    shuffle carries ``O(groups · m)`` rows no matter how many input rows
    or distinct values there are — that is the whole point vs exact
    distinct.  Nulls are ignored (SQL COUNT DISTINCT semantics).
    """
    if not 7 <= p <= 16:
        raise ValueError(f"p must be in [7, 16], got {p}")
    w = HASH_BITS - p
    h = _hash60(F.col(value_col), portable)
    bucket = F.shiftrightunsigned(h, w)
    rem = h.bitwiseAND(F.lit((1 << w) - 1))
    rank = F.lit(w + 1) - _bitlen(rem)
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, bucket.alias("bucket"), rank.alias("rank"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_merge(group_cols: list[str], *states: DataFrame) -> DataFrame:
    """Fold any number of HLL states into one (register-wise max).

    States are mergeable across batches, partitions, and days — this is
    the incremental / streaming path: historical batches are never
    re-hashed, only their ≤ m-row states re-aggregated.
    """
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy(*group_cols, "bucket").agg(
        F.max("max_rank").alias("max_rank")
    )


def hll_estimate(state: DataFrame, group_cols: list[str], p: int = 12) -> DataFrame:
    """Distinct-count estimates ``(group..., used_registers, distinct_est)``.

    The harmonic sum is computed in scaled-integer form: register j
    contributes ``2^(S - M_j)`` with ``S = (60-p)+1 >= max_rank``, and
    the ``m - used`` absent registers contribute ``2^S`` each.  Integer
    sums are order-independent, so the estimate is reproducible across
    engines and partitionings up to one final double division (plus the
    small-range linear-counting branch ``m·ln(m/V)`` when the raw
    estimate is ≤ 2.5m — standard HLL practice).
    """
    m = 1 << p
    s_exp = (HASH_BITS - p) + 1
    alpha = hll_alpha(m)
    used = F.count(F.lit(1))
    # max_rank <= s_exp, so the shift exponent is >= 0; sum fits 63 bits
    # for p <= 16 (m * 2^S <= 2^16 * 2^45).
    sum_scaled = F.sum(F.expr(f"shiftleft(1L, {s_exp} - max_rank)"))
    agg = state.groupBy(*group_cols).agg(
        used.alias("used_registers"), sum_scaled.alias("__sum_scaled")
    )
    v = F.lit(m) - F.col("used_registers")
    z_scaled = v * F.lit(1 << s_exp) + F.col("__sum_scaled")
    raw = F.lit(alpha * m * m * float(1 << s_exp)) / z_scaled.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *group_cols,
        "used_registers",
        F.round(est, 4).alias("distinct_est"),
    )


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 12,
    portable: bool = True,
) -> DataFrame:
    """One-shot ``approx COUNT(DISTINCT value) GROUP BY group_cols``."""
    return hll_estimate(
        hll_state(df, group_cols, value_col, p=p, portable=portable),
        group_cols,
        p=p,
    )


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan '05)
# ---------------------------------------------------------------------------


def _cms_cells(col: Column, depth: int, width: int, portable: bool) -> Column:
    """``array<struct<r,b>>`` of the d (row, bucket) cells for a value."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("r"),
                (_hash60(col, portable, salt=f"cms{i}|") % width).alias("b"),
            )
            for i in range(depth)
        ]
    )


def cms_state(
    df: DataFrame,
    value_col: str,
    depth: int = 3,
    width: int = 1024,
    weight_col: str | None = None,
    portable: bool = True,
) -> DataFrame:
    """Count-min state ``(r, b, cnt)`` — ≤ ``depth·width`` rows total.

    Each input row increments d cells; the explode emits d small structs
    per row and the hash aggregate map-side combines them, so the
    exchange carries at most d·w rows per task.  ``weight_col`` turns it
    into a weighted frequency sketch.  States from different batches
    merge with :func:`cms_merge` (cell-wise sum) — counts are additive.
    """
    wcol = F.col(weight_col).cast("long") if weight_col else F.lit(1)
    cells = df.filter(F.col(value_col).isNotNull()).select(
        F.explode(_cms_cells(F.col(value_col), depth, width, portable)).alias("__c"),
        wcol.alias("__w"),
    )
    return (
        cells.select(F.col("__c.r").alias("r"), F.col("__c.b").alias("b"), "__w")
        .groupBy("r", "b")
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_merge(*states: DataFrame) -> DataFrame:
    """Cell-wise sum of count-min states (counts are additive)."""
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy("r", "b").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    state: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = 3,
    width: int = 1024,
    portable: bool = True,
) -> DataFrame:
    """Point estimates for ``items``: ``(item..., est_count)``.

    ``est = min over the d cells`` — never underestimates the true
    count.  The state (≤ d·w rows) joins broadcast, so estimating any
    number of items is a map-only pass over ``items``.  Integer-exact →
    engine-reproducible bit-for-bit.
    """
    cell = generate_unique_column_name(items.columns, "cell")
    exploded = items.select(
        "*",
        F.explode(_cms_cells(F.col(item_col), depth, width, portable)).alias(cell),
    )
    # alias the state columns uniquely so an items frame that itself has
    # r/b/cnt columns cannot make the join condition ambiguous
    rcol = generate_unique_column_name(exploded.columns, "sr")
    bcol = generate_unique_column_name([*exploded.columns, rcol], "sb")
    ccol = generate_unique_column_name([*exploded.columns, rcol, bcol], "scnt")
    aliased = state.select(
        F.col("r").alias(rcol), F.col("b").alias(bcol), F.col("cnt").alias(ccol)
    )
    joined = exploded.join(
        F.broadcast(aliased),
        (F.col(f"{cell}.r") == F.col(rcol)) & (F.col(f"{cell}.b") == F.col(bcol)),
        "left",
    )
    return (
        joined.groupBy(*items.columns)
        .agg(F.min(F.coalesce(F.col(ccol), F.lit(0))).alias("est_count"))
    )


def cms_inner_product(
    state_a: DataFrame, state_b: DataFrame, depth: int = 3
) -> DataFrame:
    """Equi-join cardinality estimate from two count-min states
    (AMS / Cormode-Muthukrishnan sketch inner product).

    ``|A JOIN B ON key| = sum_k f_A(k) * f_B(k)``, and the count-min
    estimate is ``min over rows r of sum_b a[r,b] * b[r,b]`` — never an
    underestimate, with error at most ``(e/width) * |A| * |B|`` per the
    standard guarantee and EXPECTED overestimate ``≈ |A|·|B|/width``
    (measured: ratio 1.57 at |A|=150k, |B|=600k, width 256k — right on
    expectation), so size the width to the product of the row counts,
    not the key cardinality. Both states must be built with the SAME
    depth/width/portable settings over their respective join-key
    columns.

    The entire computation reads only the two ≤ depth·width-row states:
    predicting the output size of a 100 TB x 100 TB join — the input to
    a broadcast-vs-shuffle or pre-filter decision — costs a few
    thousand integer multiplies, no scan of either table. States
    accumulate incrementally via :func:`cms_merge`, so the estimate
    stays current as batches land. Integer-exact arithmetic throughout
    → bit-reproducible across engines.

    Returns one row: ``(join_size_est long)``.

    ``depth`` is advisory only: the row spine is derived from the
    states' OWN ``r`` values (a non-empty count-min state has a row for
    every hash row by construction), so a ``depth`` larger than the
    states' real depth can no longer inject phantom all-zero rows and
    silently collapse the estimate to 0 — which would violate the
    never-underestimate guarantee above."""
    a = state_a.select("r", "b", F.col("cnt").alias("__ca"))
    bb = state_b.select("r", "b", F.col("cnt").alias("__cb"))
    per_row = (
        a.join(bb, ["r", "b"], "inner")
        .groupBy("r")
        .agg(F.sum(F.col("__ca") * F.col("__cb")).alias("__p"))
    )
    # spine over the rows the states actually contain: a row with zero
    # OVERLAPPING cells still contributes estimate 0 (the min must see
    # it), but rows absent from both states do not exist and must not
    # fabricate zeros
    spine = (
        state_a.select("r").union(state_b.select("r")).distinct()
    )
    return spine.join(per_row, "r", "left").agg(
        # outer coalesce: two EMPTY states (no rows at all) join to 0
        F.coalesce(F.min(F.coalesce(F.col("__p"), F.lit(0))), F.lit(0))
        .cast("long")
        .alias("join_size_est")
    )


def cms_heavy_hitters(
    df: DataFrame,
    value_col: str,
    threshold: int,
    depth: int = 3,
    width: int = 1024,
    portable: bool = True,
) -> DataFrame:
    """Items whose estimated frequency ≥ threshold: ``(item, est_count)``.

    Candidate enumeration here is the distinct values of ``df`` itself
    (complete recall: CMS only overestimates, so every true heavy hitter
    survives the filter; false positives are bounded by the sketch
    error).  In a streaming / multi-batch setting, pass an externally
    maintained candidate set to :func:`cms_estimate` against a merged
    state instead.
    """
    state = cms_state(df, value_col, depth=depth, width=width, portable=portable)
    candidates = df.filter(F.col(value_col).isNotNull()).select(value_col).distinct()
    est = cms_estimate(
        state, candidates, value_col, depth=depth, width=width, portable=portable
    )
    return est.filter(F.col("est_count") >= threshold)


# ---------------------------------------------------------------------------
# KMV ("theta") sketch — k minimum hash values (Bar-Yossef et al. '02)
# ---------------------------------------------------------------------------


def kmv_state(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 256,
    portable: bool = True,
) -> DataFrame:
    """The k smallest distinct 60-bit hashes per group: ``(group..., h)``.

    Build cost is one distinct-collapse aggregate plus a per-group
    top-k window — the same shuffle class as exact distinct — but the
    *state* is ≤ k rows per group, persists as parquet, and supports
    union AND intersection estimates later without touching the data
    again (HLL states only union).  Map-side combine collapses repeats
    before the exchange.
    """
    h = _hash60(F.col(value_col), portable)
    hashes = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, h.alias("h"))
        .groupBy(*group_cols, "h")
        .agg(F.lit(1))
        .select(*group_cols, "h")
    )
    win = Window.partitionBy(*group_cols).orderBy("h")
    rn = generate_unique_column_name(hashes.columns, "rn")
    return (
        hashes.withColumn(rn, F.row_number().over(win))
        .filter(F.col(rn) <= k)
        .drop(rn)
    )


def kmv_merge(group_cols: list[str], k: int, *states: DataFrame) -> DataFrame:
    """Union of KMV states re-cut to the k smallest per group."""
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    distinct = merged.groupBy(*group_cols, "h").agg(F.lit(1)).select(*group_cols, "h")
    win = Window.partitionBy(*group_cols).orderBy("h")
    rn = generate_unique_column_name(distinct.columns, "rn")
    return (
        distinct.withColumn(rn, F.row_number().over(win))
        .filter(F.col(rn) <= k)
        .drop(rn)
    )


def kmv_estimate(state: DataFrame, group_cols: list[str], k: int = 256) -> DataFrame:
    """Distinct estimates ``(group..., distinct_est)``.

    With fewer than k hashes the count is exact; otherwise the k-th
    minimum value estimator ``(k-1) / U_(k)`` with hashes normalized to
    [0,1).  Single multiply+divide → engine-deterministic.
    """
    agg = state.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__n"), F.max("h").alias("__kth")
    )
    est = F.when(F.col("__n") < k, F.col("__n").cast("double")).otherwise(
        F.lit(float(k - 1)) * (F.lit(_HASH_SPACE) / F.col("__kth").cast("double"))
    )
    return agg.select(*group_cols, F.round(est, 4).alias("distinct_est"))


def kmv_overlap(
    state_a: DataFrame,
    state_b: DataFrame,
    group_cols: list[str],
    k: int = 256,
) -> DataFrame:
    """Set-overlap estimates between two keyed KMV states.

    Returns ``(group..., union_est, intersect_est, jaccard_est)`` per
    group present in both states.  Method: the union sketch's threshold
    ``θ = U_(k)`` (k-th smallest of the combined hash set) defines a
    uniform sample of the union; the intersection estimate is the
    fraction of sampled hashes present in both sides, scaled by the
    union estimate (the standard theta-sketch a-priori estimator).
    Everything is integer counting plus two final double ops per group.
    """
    a = state_a.select(*group_cols, F.col("h").alias("h"), F.lit(1).alias("__ina"))
    b = state_b.select(*group_cols, F.col("h").alias("h"), F.lit(1).alias("__inb"))
    both = (
        a.join(b, [*group_cols, "h"], "full_outer")
        .select(
            *group_cols,
            "h",
            F.coalesce("__ina", F.lit(0)).alias("__ina"),
            F.coalesce("__inb", F.lit(0)).alias("__inb"),
        )
    )
    win = Window.partitionBy(*group_cols).orderBy("h")
    rn = generate_unique_column_name(both.columns, "rn")
    sampled = both.withColumn(rn, F.row_number().over(win)).filter(F.col(rn) <= k)
    agg = sampled.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.max("h").alias("__kth"),
        F.sum(F.col("__ina") * F.col("__inb")).alias("__ninter"),
    )
    union_est = F.when(F.col("__n") < k, F.col("__n").cast("double")).otherwise(
        F.lit(float(k - 1)) * (F.lit(_HASH_SPACE) / F.col("__kth").cast("double"))
    )
    # below the threshold the sample is exact membership, so the
    # intersection fraction uses the same n rows the union estimate used
    inter_est = F.col("__ninter").cast("double") / F.col("__n") * union_est
    return agg.select(
        *group_cols,
        F.round(union_est, 4).alias("union_est"),
        F.round(inter_est, 4).alias("intersect_est"),
        F.round(
            F.when(union_est > 0, inter_est / union_est).otherwise(F.lit(0.0)), 6
        ).alias("jaccard_est"),
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketch — log2-linear buckets (DDSketch-style
# relative-error guarantee, but with fully INTEGER bucket arithmetic so
# states and estimates are engine-exact; cf. Masson et al. '19)
# ---------------------------------------------------------------------------

#: Default fixed-point scale: values are quantized to 1/2^30 before
#: bucketing. Bucket arithmetic is exact for |x| < 2^56/scale (~6.7e7 at
#: the default) — pick a smaller scale for larger magnitudes.
QD_SCALE = 1 << 30


def _qd_cap(k: int) -> int:
    """Largest ``scaled`` value whose bucket arithmetic stays exact:
    ``(scaled - 2^(e-1)) * k < 2^63`` with ``scaled - 2^(e-1) <
    2^(e-1)`` strictly, so ``bitlen(scaled) <= 64 - log2(k) - 1`` is
    safe (2^57 - 1 at the default k=64)."""
    return (1 << (64 - k.bit_length())) - 1


def _qd_bucket(col: Column, k: int, scale: int) -> Column:
    """Signed bucket id: 0 for |x| < 1/scale, else ``sign * (e*k + sub)``
    with ``e = bitlen(floor(|x|*scale))`` and ``sub`` the k-way linear
    split of the octave ``[2^(e-1), 2^e)``.  Bucket order == value
    order, width ≤ (1+1/k)× → relative error ≤ 1/(2k) at the midpoint.
    All integer ops after one exact IEEE multiply+floor.

    Magnitudes beyond ``cap/scale`` (~1.3e8 at the defaults) CLAMP into
    the top exact bucket BEFORE the long cast: order is still
    preserved and nothing overflows (ANSI-mode cast would error, non-
    ANSI would silently wrap), but relative error is unbounded in that
    top bucket — pick a smaller ``scale`` when values are that large
    (the estimate columns make the saturation visible: every clamped
    value reports the same midpoint).
    """
    cap = _qd_cap(k)
    scaled = F.floor(
        F.least(F.abs(col) * F.lit(float(scale)), F.lit(float(cap)))
    ).cast("long")
    e = _bitlen(scaled)
    pow2 = _qd_pow2(e - 1)
    # k is a power of two, so the k-way octave split is a pure shift:
    # ((scaled - 2^(e-1)) * k) >> (e-1) — exact integer arithmetic (a
    # double division here would lose bits above 2^53)
    sub = F.call_function(
        "shiftright", (scaled - pow2) * F.lit(k), (e - 1).cast("int")
    )
    mag = e * k + sub
    return (
        F.when(col.isNull(), F.lit(None).cast("long"))
        .when(scaled == 0, F.lit(0))
        .otherwise(F.when(col < 0, -mag).otherwise(mag))
    )


def _qd_pow2(exp: Column) -> Column:
    """``2^exp`` as BIGINT with a column exponent (shiftleft-by-column)."""
    return F.call_function("shiftleft", F.lit(1).cast("long"), exp.cast("int"))


def qdigest_state(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
    scale: int = QD_SCALE,
) -> DataFrame:
    """Mergeable quantile state ``(group..., qb, cnt)``.

    One map-side-combined hash aggregate; state size is bounded by the
    occupied buckets (≤ ``2·63·k`` per group ≈ 8k rows at k=64, in
    practice far fewer), independent of row count — the quantile
    analogue of the HLL register store, and the missing piece next to
    ``incremental.rollup_state``'s count/sum/min/max (which cannot
    answer p95 without rescanning history).
    """
    _qd_check(k, scale)
    qb = _qd_bucket(F.col(value_col), k, scale)
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, qb.alias("qb"))
        .groupBy(*group_cols, "qb")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _qd_check(k: int, scale: int) -> None:
    """Both k and scale must be powers of two: the bucket split and the
    midpoint decode rely on shift/dyadic arithmetic being exact."""
    if k <= 0 or k & (k - 1):
        raise ValueError(f"k must be a positive power of two, got {k}")
    if scale <= 0 or scale & (scale - 1):
        raise ValueError(f"scale must be a positive power of two, got {scale}")


def qdigest_merge(group_cols: list[str], *states: DataFrame) -> DataFrame:
    """Bucket-wise sum of quantile states (counts are additive)."""
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy(*group_cols, "qb").agg(F.sum("cnt").alias("cnt"))


def _qd_midpoint(qb: Column, k: int, scale: int) -> Column:
    """Decoded bucket midpoint (double).  ``p·(1 + sub/k)`` …
    ``p·(1 + (sub+1)/k)`` brackets the true value; the expression is a
    fixed sequence of IEEE ops on integer-derived doubles, so both
    engines produce identical bits."""
    mag = F.abs(qb)
    # floor, not cast: Spark's cast truncates but DuckDB's rounds, so an
    # oracle translation of a bare cast would disagree on .5+ values
    e = F.floor(mag / F.lit(float(k))).cast("long")  # mag >= k, so e >= 1
    sub = mag % F.lit(k)
    p = _qd_pow2(e - 1).cast("double")
    lo = p * (F.lit(1.0) + sub.cast("double") / F.lit(float(k)))
    hi = p * (F.lit(1.0) + (sub + 1).cast("double") / F.lit(float(k)))
    mid = (lo + hi) / F.lit(2.0) / F.lit(float(scale))
    signed = F.when(qb < 0, -mid).otherwise(mid)
    return F.when(qb == 0, F.lit(0.0)).otherwise(signed)


def qdigest_quantiles(
    state: DataFrame,
    group_cols: list[str],
    qs: list[float],
    k: int = 64,
    scale: int = QD_SCALE,
) -> DataFrame:
    """Quantile estimates ``(group..., q, est)`` from a state.

    Rank selection is exact integer arithmetic (cumulative counts over
    the ordered buckets; target rank ``ceil(q·n)``); only the final
    midpoint decode is floating point, and it is engine-deterministic.
    The window runs over BUCKET rows (bounded per group), not data rows
    — estimating any quantile set from a persisted state touches no
    original data.
    """
    win = (
        Window.partitionBy(*group_cols)
        .orderBy("qb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy(*group_cols)
    cum = state.select(
        *group_cols,
        "qb",
        F.sum("cnt").over(win).alias("__cum"),
        F.sum("cnt").over(tot).alias("__n"),
    )
    qcol = F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    with_q = cum.select(*group_cols, "qb", "__cum", "__n", qcol)
    hit = with_q.filter(
        F.col("__cum")
        >= F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("__n").cast("double")))
    )
    chosen = hit.groupBy(*group_cols, "q").agg(F.min("qb").alias("qb"))
    return chosen.select(
        *group_cols,
        "q",
        F.round(_qd_midpoint(F.col("qb"), k, scale), 6).alias("est"),
    ).orderBy(*group_cols, "q")


# ---------------------------------------------------------------------------
# Bloom-filter join pruning
# ---------------------------------------------------------------------------


def bloom_bitmap_hex(
    small: DataFrame,
    key_col: str,
    m_bits: int = 1 << 17,
    k: int = 5,
    portable: bool = True,
) -> str:
    """Build a Bloom bitmap of ``small[key_col]`` as a hex string.

    The bitmap is assembled DISTRIBUTED: k bit positions per key →
    64-bit words via ``groupBy(word).agg(bit_or)`` — the driver collects
    at most ``m_bits/64`` word rows regardless of key count, then packs
    them into ``m_bits/8`` bytes (hex-encoded for use as a plan
    literal).  False-positive rate ≈ ``(1 - e^(-k·n/m))^k``; size the
    filter at ~10 bits/key for ~1 % (the classic engineering point).
    """
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    keys = small.filter(F.col(key_col).isNotNull()).select(key_col).distinct()
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    (_hash60(F.col(key_col), portable, salt=f"bf{i}|") % m_bits).alias(
                        f"p{i}"
                    )
                    for i in range(k)
                ]
            )
        ).alias("p")
    )
    words = (
        pos.select(
            F.shiftrightunsigned(F.col("p"), 6).alias("w"),
            F.expr("shiftleft(1L, CAST(p & 63 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    buf = bytearray(m_bits // 8)
    for row in words:
        buf[row["w"] * 8 : row["w"] * 8 + 8] = int(row["bits"] & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little")
    return buf.hex()


def bloom_member(
    col: Column, bitmap_hex: str, m_bits: int, k: int, portable: bool = True
) -> Column:
    """Boolean: all k Bloom bits for ``col`` are set in ``bitmap_hex``.

    The hex bitmap is decoded ONCE into an ``m/64``-element literal
    array of 64-bit words that constant-folds into the plan; each probe
    is then an O(1) ``element_at`` plus a shift test — whole-stage
    codegen, no UDF.  (A per-row ``substring`` over the hex literal is
    the tempting alternative and is catastrophically wrong at scale:
    UTF8 substring scans the 2·m/8-char literal per probe — measured
    80× slower than the plain join at 60M rows before this fix.)
    """
    # One numpy int64 literal (round 12): the previous
    # F.array(*[F.lit(w).cast("long")]) made ~2*m/64 py4j round trips
    # plus a 2048-child CreateArray the analyzer re-walked per probe
    # reference -- measured 5-7 s of pure DRIVER time per bloom_member
    # call at m=2^17 (OPTIMIZATION_r12.md, bloom_join_parts).
    # F.lit(ndarray[int64]) is ONE py4j call producing ONE
    # Literal(ArrayType(LongType)) node; the little-endian np.frombuffer
    # view IS the two's-complement signed decode the old per-word loop
    # computed.
    import numpy as np

    raw = bytes.fromhex(bitmap_hex)  # decode ONCE, not per word
    arr = F.lit(np.frombuffer(raw, dtype="<i8"))
    cond = None
    for i in range(k):
        p = _hash60(col, portable, salt=f"bf{i}|") % m_bits
        word = F.element_at(arr, (F.shiftrightunsigned(p, 6) + 1).cast("int"))
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), p.bitwiseAND(F.lit(63)).cast("int")
        )
        test = word.bitwiseAND(mask) != 0
        cond = test if cond is None else (cond & test)
    return cond


def bloom_join_decision(
    big: DataFrame,
    small: DataFrame,
    on: str,
    big_state: "DataFrame | None" = None,
    small_state: "DataFrame | None" = None,
    shuffle_cost_ns_per_byte: float = 0.0,
    probe_cost_ns_per_row: float = 60.0,
    row_bytes: "float | None" = None,
    inflation: float = 3.0,
    sample_fraction: float = 0.001,
    sample_seed: int = 7,
    m_bits: int = 1 << 17,
    k: int = 5,
    portable: bool = True,
) -> dict:
    """Should ``bloom_prefilter_join`` engage, or is the plain shuffle
    join cheaper? Decided per-row, never from a trial run:

        engage  ⇔  (1 - selectivity) * row_bytes * shuffle_cost_ns_per_byte
                   >  probe_cost_ns_per_row

    i.e. the shuffle bytes the prefilter saves on an average big row
    must beat the Bloom probe it costs on EVERY big row (the bitmap
    build is small-side-sized and amortizes to ~0 per big row). On a
    single node (``shuffle_cost_ns_per_byte = 0.0``, the default —
    local shuffles are disk/memory-bound; measured: the prefilter is
    not reliably faster on a 60M-row local join), the saving is zero,
    so auto correctly stays on the plain join. On a network-bound
    cluster pass the effective per-byte shuffle cost (~1 ns/byte ≈
    1 GB/s effective per executor; ~5 ns/byte for congested fabrics)
    and auto engages exactly when the pruned bytes outweigh the probe
    CPU.

    Selectivity, two modes:

    * **cms** — pass pre-built count-min states (``big_state`` over the
      big side's key column, ``small_state`` over the small side's
      DISTINCT keys, same depth/width/portable). The inner product
      (:func:`cms_inner_product`) with 0/1 small-side frequencies
      estimates MATCHED BIG ROWS (an overestimate — conservative:
      overstating matches only delays engagement), and ``big_rows``
      falls out of the state's row sums exactly. Zero scans of either
      table — the 100 TB operating mode for states maintained
      incrementally via :func:`cms_merge`.
    * **sampled** (default) — build the Bloom bitmap (one pass over the
      SMALL side — needed anyway if we engage; it is returned as
      ``bitmap_hex`` and reused by ``bloom_prefilter_join(auto=True)``,
      never built twice) and probe a ``sample_fraction`` sample of the
      big side against it. This measures the TRUE post-filter
      selectivity including the false-positive rate, at the cost of a
      sampled big-side scan. (Building a count-min state over the big
      side inline was measured at 50+ s on 60M rows — several times the
      join itself — which is why inline mode does not use CMS.)

    ``row_bytes`` (serialized big-side shuffle bytes per row) defaults
    to on-disk bytes * ``inflation`` / rows when the big side reads
    files, else 100.

    Returns ``{engage, mode, selectivity_est, big_rows, row_bytes,
    saved_ns_per_row, cost_ns_per_row}`` plus ``bitmap_hex`` (sampled
    mode) or ``matched_big_rows_est``/``small_distinct_est`` (cms)."""
    result: dict = {}
    if big_state is not None and small_state is not None:
        sums = (
            big_state.groupBy("r").agg(F.sum("cnt").alias("s")).orderBy("r").collect()
        )
        big_rows = int(sums[0]["s"]) if sums else 0
        ssums = (
            small_state.groupBy("r")
            .agg(F.sum("cnt").alias("s"))
            .orderBy("r")
            .collect()
        )
        small_rows = int(ssums[0]["s"]) if ssums else 0
        matched = int(
            cms_inner_product(big_state, small_state).collect()[0]["join_size_est"]
        )
        selectivity = min(1.0, matched / big_rows) if big_rows else 0.0
        result.update(
            mode="cms",
            matched_big_rows_est=matched,
            small_distinct_est=small_rows,
        )
    else:
        bitmap = bloom_bitmap_hex(small, on, m_bits=m_bits, k=k, portable=portable)
        member = bloom_member(F.col(on), bitmap, m_bits, k, portable)
        sampled = big.sample(fraction=sample_fraction, seed=sample_seed)
        agg = sampled.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col(on).isNotNull() & member).cast("long")).alias("hits"),
        ).collect()[0]
        n, hits = int(agg["n"]), int(agg["hits"] or 0)
        selectivity = (hits / n) if n else 1.0  # no sample -> don't engage
        big_rows = int(n / sample_fraction) if n else 0
        # a thin sample makes the selectivity estimate noisy (binomial
        # stderr ~ sqrt(s(1-s)/n)); flag it so callers can raise
        # sample_fraction rather than trust a 50-row verdict
        result.update(
            mode="sampled",
            bitmap_hex=bitmap,
            sampled_rows=n,
            low_sample=n < 1000,
        )
    if row_bytes is None:
        # the disk-size fallback divides by big_rows; in sampled mode
        # big_rows is itself the n/sample_fraction extrapolation, so a
        # thin sample (low_sample) skews bytes/row as much as it skews
        # selectivity — fall back to the documented default instead of
        # compounding one noisy estimate with another
        if result.get("low_sample"):
            row_bytes = 100.0
            result["row_bytes_defaulted"] = True
        else:
            try:
                from ..plans import input_size_bytes

                disk = input_size_bytes(big)
                row_bytes = (
                    disk * inflation / big_rows if (disk and big_rows) else 100.0
                )
            except Exception:
                row_bytes = 100.0
    saved = (1.0 - selectivity) * row_bytes * shuffle_cost_ns_per_byte
    result.update(
        engage=saved > probe_cost_ns_per_row,
        selectivity_est=round(selectivity, 6),
        big_rows=big_rows,
        row_bytes=round(float(row_bytes), 2),
        saved_ns_per_row=round(saved, 2),
        cost_ns_per_row=round(probe_cost_ns_per_row, 2),
    )
    return result


def bloom_prefilter_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    how: str = "inner",
    m_bits: int = 1 << 17,
    k: int = 5,
    portable: bool = True,
    auto: bool = False,
    decision_kwargs: "dict | None" = None,
) -> DataFrame:
    """Join ``big ⋈ small`` with a Bloom prefilter on the big side.

    The 100 TB pattern: when the small side's distinct keys are too many
    to broadcast as a semi-join but its Bloom bitmap (m/8 bytes) is not,
    filtering the big side *scan-side* cuts the shuffle volume by the
    join selectivity before any exchange happens.  The final join
    re-verifies keys, so Bloom false positives never reach the output —
    the result is EXACTLY ``big.join(small, on, how)``.

    Spark's own runtime filter (``spark.sql.optimizer.runtime
    .bloomFilter.enabled``) covers the automatic in-query case; this
    explicit operator exists for (a) deterministic, engine-portable
    hashing (oracle-checkable), (b) reusing one bitmap across many
    queries/batches, and (c) prefiltering flows that feed non-join
    consumers (e.g. decontamination).  Only inner/semi joins can prune
    the big side; other join types are rejected.

    ``auto=True`` consults :func:`bloom_join_decision` (pass its knobs
    — pre-built states, cluster shuffle cost — via ``decision_kwargs``)
    and falls back to the PLAIN join when the model says the prefilter
    doesn't pay (the measured local-shuffle outcome); either path
    returns exactly ``big.join(small, on, how)``, so the choice is
    invisible to correctness.
    """
    if how not in ("inner", "semi", "left_semi", "leftsemi"):
        raise ValueError(f"bloom prefilter only valid for inner/semi joins, got {how}")
    bitmap = None
    if auto:
        kwargs = dict(decision_kwargs or {})
        # positional/self-supplied args must not collide with
        # decision_kwargs — reject the reserved names loudly instead of
        # letting Python raise "multiple values for keyword argument"
        reserved = {"big", "small", "on"}.intersection(kwargs)
        if reserved:
            raise ValueError(
                f"decision_kwargs may not override {sorted(reserved)}"
            )
        kwargs.setdefault("m_bits", m_bits)
        kwargs.setdefault("k", k)
        kwargs.setdefault("portable", portable)
        verdict = bloom_join_decision(big, small, on, **kwargs)
        if not verdict["engage"]:
            if how in ("semi", "left_semi", "leftsemi"):
                return big.filter(F.col(on).isNotNull()).join(
                    small.select(on).distinct(), on, "left_semi"
                )
            return big.filter(F.col(on).isNotNull()).join(small, on, how)
        # sampled mode already built the bitmap with OUR m_bits/k — reuse
        if verdict.get("bitmap_hex") and kwargs["m_bits"] == m_bits and kwargs["k"] == k:
            bitmap = verdict["bitmap_hex"]
    if bitmap is None:
        bitmap = bloom_bitmap_hex(small, on, m_bits=m_bits, k=k, portable=portable)
    member = bloom_member(F.col(on), bitmap, m_bits, k, portable)
    filtered = big.filter(F.col(on).isNotNull() & member)
    if how in ("semi", "left_semi", "leftsemi"):
        return filtered.join(small.select(on).distinct(), on, "left_semi")
    return filtered.join(small, on, how)
