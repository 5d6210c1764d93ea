"""Deduplication operators for training-data pipelines.

Beyond reference parity (the reference's only dup machinery is the
keyed duplicate gate, ``DatasetComparator.scala:278-289``); these are the
first-class large-scale extensions called for in SURVEY.md §7.1 step 6.

Scale design notes (100 TB):

* ``exact_dedup`` — one hash-aggregate shuffle on the fingerprint. The
  fingerprint is computed JVM-side (md5 expression); with AQE on, skewed
  fingerprints (e.g. empty documents) are split automatically.
* ``minhash_lsh_pairs`` — shingling/minhashing is embarrassingly parallel
  (no shuffle; one base hash per shingle, k affine permutations);
  candidate generation shuffles only ``num_bands`` small (band-key,
  signature) rows per document, NOT the text, into a gather-and-pair
  aggregation (documents are scanned exactly once — a bucket self-join
  would re-run the hash pipeline per side). Buckets are O(candidates)
  rather than O(n²); hot buckets (boilerplate/templated mega-clusters)
  are COLLAPSED past ``max_bucket_size`` — identical-signature runs
  chain in O(n), distinct-signature representatives pair normally —
  so the biggest real-world dup clusters still connect instead of
  silently yielding zero pairs.
* ``connected_components`` / ``fuzzy_dedup_keep_one`` — turn any pair
  list into duplicate groups (contraction rounds shrink the edge list
  until it fits the driver, whose union-find labels the rest) and keep
  one representative per group.
* ``ngram_jaccard_pairs`` — exact verification; intended for the
  *candidate pairs* produced by LSH (or small within-group spaces), never
  the full corpus.
* ``simhash`` — 32-bit signature via a numpy per-bit vote over
  expression-computed token hashes; near-dup = hamming distance <= k
  on signature.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.hashing import (
    band_keys,
    fast_hash64,
    portable_hash64,
    shingles,
)
from ..functions.text import doc_fingerprint, tokens


def exact_dedup(
    df: DataFrame,
    id_col: str,
    text_col: Optional[str] = None,
    subset: Optional[Sequence[str]] = None,
    keep_by: Optional[Column] = None,
) -> DataFrame:
    """Keep one row per duplicate group.

    Group key: normalized-text fingerprint when ``text_col`` is given,
    else the given ``subset`` of columns (exact match).
    Returns ``df``'s rows (original schema) for the kept ids, plus a
    ``dup_count`` column with the group size.

    Retention policy: by default the minimum ``id_col`` survives (the
    deterministic classic). Pass ``keep_by`` (any Column over the
    caller's frame — a quality score, a recency timestamp, a source
    rank) to keep the group's MAXIMUM-``keep_by`` row instead, ties
    broken to the minimum id so the choice stays deterministic — the
    "keep the best copy, not the first copy" policy curation pipelines
    want when duplicates differ in metadata quality.
    """
    key = _dedup_key(df, text_col, subset)

    # Single hash-partitioned window over the fingerprint: one shuffle,
    # no re-join of the (potentially wide) payload columns.  At 100 TB the
    # old groupBy+rejoin plan shipped every surviving row's text through
    # the shuffle twice; this ships it once.
    from pyspark.sql.window import Window

    w = Window.partitionBy("__fp")
    if keep_by is None:
        return (
            df.withColumn("__fp", key)
            .withColumn("__min_id", F.min(id_col).over(w))
            .withColumn("dup_count", F.count(F.lit(1)).over(w))
            .filter(F.col(id_col) == F.col("__min_id"))
            .drop("__fp", "__min_id")
        )
    # max keep_by, ties -> min id: row_number over the SAME partitioning
    # (one exchange; the rank just adds an in-partition sort)
    wo = w.orderBy(F.desc("__q"), F.asc(id_col))
    return (
        df.withColumn("__fp", key)
        .withColumn("__q", keep_by)
        .withColumn("__rn", F.row_number().over(wo))
        .withColumn("dup_count", F.count(F.lit(1)).over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__q", "__rn")
    )


def _dedup_key(df: DataFrame, text_col, subset) -> Column:
    """The exact-dup group key shared by the batch and incremental
    paths: normalized-text fingerprint, subset md5, or whole-row md5."""
    if text_col is not None:
        return doc_fingerprint(F.col(text_col))
    if subset:
        return F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in subset]))
    return F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in df.columns]))


def fingerprint_store(
    df: DataFrame,
    text_col: Optional[str] = None,
    subset: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Distinct exact-dup fingerprints of a corpus — the persisted
    state of :func:`exact_dedup_incremental`.  One column
    (``fingerprint``), one distinct shuffle; at 100 TB this is the
    compact artifact (16 bytes/distinct doc) each snapshot run writes
    and the next run reads."""
    return df.select(
        _dedup_key(df, text_col, subset).alias("fingerprint")
    ).distinct()


def exact_dedup_incremental(
    new_df: DataFrame,
    id_col: str,
    text_col: Optional[str] = None,
    subset: Optional[Sequence[str]] = None,
    store: Optional[DataFrame] = None,
    keep_by: Optional[Column] = None,
) -> DataFrame:
    """Exact dedup of a NEW batch against itself AND a prior
    fingerprint store — the snapshot-over-snapshot dedup every rolling
    crawl/corpus build needs (CommonCrawl monthly snapshots repeat
    ~50-70% of their URLs' content; re-deduping the union from scratch
    each month is quadratic waste).

    Semantics: in-batch winners follow :func:`exact_dedup` exactly
    (min-id, or max-``keep_by`` ties-to-min-id), then any winner whose
    fingerprint is already in ``store`` (a ``fingerprint`` column —
    see :func:`fingerprint_store`) is dropped.  Returns the surviving
    rows (original schema + ``dup_count`` within the batch +
    ``fingerprint``); append the survivors' fingerprints to the store
    for the next batch::

        out = exact_dedup_incremental(batch, "id", "text", store=store)
        new_store = store.unionByName(out.select("fingerprint")).distinct()

    Dataflow: the same single fingerprint-keyed window exchange as
    ``exact_dedup``, plus ONE left-anti join against the store (hash
    key, no payload on the store side).  The store side ships 16-byte
    fingerprints only; for heavily-skewed rescans, wrap the anti-join
    with ``bloom_prefilter_join`` (operators/sketch.py) to prefilter
    scan-side.

    The near-dup counterpart (MinHash signature store, shared with the
    streaming path) is :func:`dedup_against`; run this exact pass
    first — it is an order of magnitude cheaper per byte.
    """
    from pyspark.sql.window import Window

    # output columns are part of the contract — an input batch that
    # already carries them would be silently shadowed (r8 advisory)
    clash = {"fingerprint", "dup_count", "__fp"} & set(new_df.columns)
    if clash:
        raise ValueError(
            "exact_dedup_incremental writes reserved columns "
            f"{sorted(clash)} — rename them on the input batch first"
        )
    batch = new_df.withColumn("__fp", _dedup_key(new_df, text_col, subset))
    w = Window.partitionBy("__fp")
    if keep_by is None:
        winners = (
            batch.withColumn("__min_id", F.min(id_col).over(w))
            .withColumn("dup_count", F.count(F.lit(1)).over(w))
            .filter(F.col(id_col) == F.col("__min_id"))
            .drop("__min_id")
        )
    else:
        wo = w.orderBy(F.desc("__q"), F.asc(id_col))
        winners = (
            batch.withColumn("__q", keep_by)
            .withColumn("__rn", F.row_number().over(wo))
            .withColumn("dup_count", F.count(F.lit(1)).over(w))
            .filter(F.col("__rn") == 1)
            .drop("__q", "__rn")
        )
    if store is not None:
        seen = store.select(F.col("fingerprint").alias("__seen_fp"))
        winners = winners.join(
            seen, winners["__fp"] == seen["__seen_fp"], "left_anti"
        )
    return winners.withColumnRenamed("__fp", "fingerprint")


def duplicate_clusters(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Exact-duplicate groups with size >= 2: (fingerprint, size, member ids)."""
    return (
        df.groupBy(doc_fingerprint(F.col(text_col)).alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .filter(F.col("cluster_size") >= 2)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    portable: bool = True,
    seed: int = 42,
) -> DataFrame:
    """``(__id, __sig array<bigint>)`` MinHash signatures — the shared
    front half of every MinHash consumer (LSH pairs, signature stores,
    incremental dedup).

    Shingles, base hashes and permutation minima are computed in one
    Arrow-batched numpy kernel (``functions/sigkernel.py``).  Its
    signatures equal the public expression
    ``functions.minhash_signature(shingles(text, n), ...)`` component
    for component (tested in ``tests/test_round9.py``); the kernel
    exists because that expression's wall is ~97% interpreted
    higher-order lambdas (34.6 s of shingle ``transform`` + several
    times that in the 32 ``array_min`` transforms against a 1.0 s scan
    at 500k docs, round 9), not hashing.

    Scale: embarrassingly parallel scan stage, zero shuffle;
    ``plans.rebalance_for_cpu`` upstream keeps cores fed on narrow
    inputs.
    """
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from ..functions.sigkernel import signatures_from_arrow

    out_schema = StructType(
        [
            StructField("__id", df.schema[id_col].dataType),
            StructField("__sig", ArrayType(LongType())),
        ]
    )
    narrow = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))

    # mapInArrow, not mapInPandas: the kernel shingles ASCII rows
    # DIRECTLY off the Arrow string buffers (no Python string / pandas
    # materialization either way) and emits the signature ListArray
    # from one numpy matrix — the pandas round-trip measured ~10x the
    # kernel's own cost at 500k docs
    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            sigs = signatures_from_arrow(
                batch.column(1), shingle_n, num_hashes, portable, seed
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), sigs], ["__id", "__sig"]
            )

    return narrow.mapInArrow(kernel, out_schema)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
    min_jaccard: float = 0.0,
    portable: bool = True,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + LSH banding.

    Returns ``(id_a, id_b, est_jaccard)`` with ``id_a < id_b``;
    ``est_jaccard`` is the fraction of equal signature components (an
    unbiased estimator of shingle-set Jaccard).

    Signatures come from :func:`minhash_signatures`; intra-bucket pairs
    from the numpy kernel of :func:`_grouped_bucket_pairs_arrow` after
    one gather shuffle, with ``min_jaccard`` pushed into the kernel.
    Buckets over ``max_bucket_size`` collapse (identical-signature
    chains + representative pairs/star, see :func:`_bucket_pairs_np`).
    ``tests/near_dup_reference.py`` restates these semantics in plain
    Python and the tests compare the operator against it.
    """
    assert num_hashes % num_bands == 0
    rows_per_band = num_hashes // num_bands

    # large-but-narrow inputs (AQE-coalesced intermediate writes: few
    # single-row-group files) starve the CPU-bound shingle/hash scan —
    # measured 6.9x on the 5M-doc funnel (BASELINE.md round 8).  The
    # guard engages only on provably-narrow >=256MB file inputs.
    from ..plans import rebalance_for_cpu

    df = rebalance_for_cpu(df)

    # null text has an all-null signature: every band key of two such
    # docs is equal, so they would pair at est_jaccard 1.0 — drop them
    # before banding, as fingerprint_near_dup_pairs drops null
    # fingerprints
    sigs = minhash_signatures(
        df.filter(F.col(text_col).isNotNull()), id_col, text_col,
        shingle_n=shingle_n, num_hashes=num_hashes, portable=portable,
    )

    buckets = sigs.select(
        "__id",
        "__sig",
        F.explode(band_keys(F.col("__sig"), num_bands, rows_per_band)).alias("__band"),
    )

    # ONE shuffle: gather each bucket's members, then generate the
    # intra-bucket pairs in-task (numpy kernel, no self-join).  A
    # self-join here would recompute the shingle+hash pipeline once per
    # join side (Spark re-executes un-cached branches) — with this
    # shape the documents are scanned and hashed exactly once, and
    # est_jaccard is computed before the dedup shuffle so signature
    # arrays never travel twice.
    raw = _grouped_bucket_pairs_arrow(
        buckets,
        num_hashes,
        max_bucket_size,
        id_type=df.schema[id_col].dataType,
        min_est=min_jaccard if min_jaccard > 0 else None,
    )
    out = (
        raw.select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
        .distinct()
    )
    if min_jaccard > 0:
        out = out.filter(F.col("est_jaccard") >= min_jaccard)
    return out


def _unpack_buckets(ids_la, vals_la):
    """Flatten one Arrow batch of gathered buckets for a pair kernel.

    ``ids_la`` and ``vals_la`` are the two ``collect_list`` columns of
    one groupBy: row ``r`` holds bucket ``r``'s member ids and the
    members' values (signatures, fingerprints).  Returns ``(ids,
    values, starts)`` — the flat id ndarray, the flat value Array (one
    list level removed) and (nb + 1,) int64 offsets, so bucket ``r`` is
    ``[starts[r], starts[r + 1])`` of both.

    Raises ``ValueError`` when a bucket's two lists differ in length:
    pairing by position would then give ids another member's value.
    """
    import numpy as np

    counts = ids_la.value_lengths().to_numpy(zero_copy_only=False)
    vcounts = vals_la.value_lengths().to_numpy(zero_copy_only=False)
    bad = np.flatnonzero(counts != vcounts)
    if len(bad):
        r = int(bad[0])
        raise ValueError(
            f"misaligned bucket lists: bucket {r} has {counts[r]} ids "
            f"but {vcounts[r]} values"
        )
    starts = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    ids = ids_la.flatten().to_numpy(zero_copy_only=False)
    return ids, vals_la.flatten(), starts


def _allpairs_np(ids, sig, num_hashes: int, min_est):
    """All intra-bucket pairs, vectorized.  ``ids``: (k,) ndarray,
    ``sig``: (k, H) int64 ndarray.  Returns (id_a, id_b, est) ndarrays
    with id_a < id_b, est = matches / num_hashes."""
    import numpy as np

    k = len(ids)
    if k < 2:
        e = np.empty(0)
        return ids[:0], ids[:0], e
    iu, ju = np.triu_indices(k, 1)
    m = np.empty(len(iu), dtype=np.int64)
    # chunk the (pairs, H) gather so a cap-sized bucket stays ~tens of MB
    step = 1 << 16
    for s in range(0, len(iu), step):
        e = s + step
        m[s:e] = (sig[iu[s:e]] == sig[ju[s:e]]).sum(axis=1)
    est = m / float(num_hashes)
    a, b = ids[iu], ids[ju]
    swap = b < a
    id_a = np.where(swap, b, a)
    id_b = np.where(swap, a, b)
    if min_est is not None:
        # margin covers the downstream 6-dp rounding (|round(x,6)-x| <=
        # 5e-7) so the JVM-side filter stays the authoritative one
        keep = est >= (min_est - 1e-6)
        id_a, id_b, est = id_a[keep], id_b[keep], est[keep]
    return id_a, id_b, est


def _bucket_pairs_np(ids, sig, num_hashes: int, cap: int, min_est):
    """One LSH bucket's candidate pairs as a list of (id_a, id_b, est)
    ndarray triples.  ``ids``: (k,) ndarray, ``sig``: (k, H) ndarray.

    A bucket within ``cap`` generates all intra-bucket pairs.  Oversized
    buckets — real corpora DO have boilerplate/templated clusters far
    larger than any sane cap, and they collide in EVERY band, so
    dropping the bucket would yield zero pairs for exactly the biggest
    near-dup clusters — are collapsed instead of dropped:

    1. members are sorted by (signature, id); identical-signature runs
       are chained by ADJACENT pairs (est 1.0 — equal signatures), which
       connects an n-member identical cluster with n-1 pairs, O(n);
    2. the distinct-signature representatives (first of each run) go
       through the normal all-pairs generation when they fit the cap;
    3. a representative set still over the cap (a genuinely diverse hot
       bucket) is star-chained to its first representative with the
       true signature-agreement estimate — downstream ``min_jaccard``
       filters keep only genuine near-dups, so this adds candidates
       (O(n)) rather than dropping them.

    Connectivity, not the full pair list, is what downstream
    ``connected_components`` / ``fuzzy_dedup_keep_one`` need — the
    collapse preserves it at O(n) per oversized bucket.
    """
    import numpy as np

    k = len(ids)
    if k <= cap:
        return [_allpairs_np(ids, sig, num_hashes, min_est)]
    # (signature, id) lexicographic sort
    try:
        order = np.lexsort((ids,) + tuple(sig.T[::-1]))
    except TypeError:  # non-numeric ids: fall back to Python tuple sort
        order = sorted(range(k), key=lambda i: (sig[i].tolist(), ids[i]))
        order = np.asarray(order, dtype=np.int64)
    ids_s, sig_s = ids[order], sig[order]
    same = (sig_s[1:] == sig_s[:-1]).all(axis=1)
    ca, cb = ids_s[:-1][same], ids_s[1:][same]
    swap = cb < ca
    chain = (
        np.where(swap, cb, ca),
        np.where(swap, ca, cb),
        np.ones(len(ca), dtype=np.float64),
    )
    reps = np.concatenate(([True], ~same))
    rid, rsig = ids_s[reps], sig_s[reps]
    if len(rid) <= cap:
        return [chain, _allpairs_np(rid, rsig, num_hashes, min_est)]
    m = (rsig[1:] == rsig[0]).sum(axis=1)
    est = m / float(num_hashes)
    oa = np.where(rid[1:] < rid[0], rid[1:], np.broadcast_to(rid[0], (len(rid) - 1,)))
    ob = np.where(rid[1:] < rid[0], np.broadcast_to(rid[0], (len(rid) - 1,)), rid[1:])
    if min_est is not None:
        keep = est >= (min_est - 1e-6)
        oa, ob, est = oa[keep], ob[keep], est[keep]
    return [chain, (oa, ob, est)]


def _grouped_bucket_pairs_arrow(
    buckets: DataFrame,
    num_hashes: int,
    max_bucket_size: int,
    id_type,
    min_est: "float | None" = None,
) -> DataFrame:
    """Candidate pairs from the banded frame ``(__band, __id, __sig)``
    via ONE groupBy exchange + an Arrow-batched pair kernel — NOT
    distinct, ``est_jaccard`` unrounded.

    Each gathered bucket goes through :func:`_bucket_pairs_np`: the
    O(k²) intra-bucket work runs as numpy integer comparisons
    (~ns/pair), and oversized buckets collapse in O(n).  The reference
    these pairs are tested against is the plain-Python restatement of
    the same rules in ``tests/near_dup_reference.py``.

    ``min_est`` pushes the caller's own est_jaccard threshold into the
    kernel (with a 1e-6 margin so 6-dp rounding can never flip a
    borderline pair) — candidates the caller would filter anyway never
    reach the downstream distinct() exchange.

    The two collect_lists are aligned: Spark evaluates both aggregate
    buffers over one pass of the group's rows in a single aggregation
    operator, so index i of ``__ids`` and ``__sigs`` come from the same
    input row (checked per batch by :func:`_unpack_buckets`).
    """
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    grouped = (
        buckets.groupBy("__band")
        .agg(
            F.collect_list("__id").alias("__ids"),
            F.collect_list("__sig").alias("__sigs"),
        )
        .filter(F.size("__ids") >= 2)
        .select("__ids", "__sigs")
    )
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("est_jaccard", DoubleType()),
        ]
    )

    # mapInArrow, not mapInPandas (round 13, guide §4): the buckets
    # arrive as Arrow ListArrays, so the member ids and the flat
    # signature matrix are numpy VIEWS of the Arrow buffers — the
    # pandas path materialized a Python list per member signature
    # (~300k PyObjects/batch at sf0.1) on the way in and re-boxed the
    # multi-million-row pair frame on the way out.  Signatures compare
    # as int32 (components are mod 2^31-1 by construction), halving
    # the O(pairs × num_hashes) gather traffic of the triu compare.
    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            nb = batch.num_rows
            if nb == 0:
                continue
            ids_np, sigs, starts = _unpack_buckets(
                batch.column(0), batch.column(1)
            )
            sig_flat = (
                sigs.flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(-1, num_hashes)
                .astype(np.int32, copy=False)
            )
            parts_a, parts_b, parts_e = [], [], []
            for r in range(nb):
                s0, s1 = int(starts[r]), int(starts[r + 1])
                ids = ids_np[s0:s1]
                sig = sig_flat[s0:s1]
                for a, b, e in _bucket_pairs_np(
                    ids, sig, num_hashes, max_bucket_size, min_est
                ):
                    if len(a):
                        parts_a.append(a)
                        parts_b.append(b)
                        parts_e.append(e)
            if parts_a:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(parts_a)),
                        pa.array(np.concatenate(parts_b)),
                        pa.array(np.concatenate(parts_e)),
                    ],
                    ["id_a", "id_b", "est_jaccard"],
                )

    return grouped.mapInArrow(kernel, out_schema)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_cols: Sequence[str] = (),
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    num_salts: int = 16,
) -> DataFrame:
    """Exact shingle-set Jaccard for all pairs within each group.

    ``group_cols`` bounds the pair space (e.g. same source+lang); with no
    groups this is a full cross-product — only for small/candidate inputs.
    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.

    Scale note: a plain self-join on ``group_cols`` gets at most
    one task per distinct group (and one task total for a single-file
    input) — the pair-space work would serialize. We salt instead: the
    left side keeps one row with ``salt = hash(id) % num_salts``, the
    right side is replicated ``num_salts`` times, and the join adds the
    salt to the key, so every group's quadratic work fans out over
    ``num_salts`` tasks. Each pair still joins exactly once (at the left
    row's salt).
    """
    if shingle_n <= 3:
        # 21-bit codepoint-packed int64 shingles (round 13, guide §4.2 /
        # §2.3): the string shingle expression is interpreted per element
        # (~2.5 s of the sf0.1 wall on its own), and the per-pair
        # array_intersect/array_union then compare strings.  The packing
        # is INJECTIVE (see sigkernel.packed_shingles_from_arrow), so the
        # intersection/union sizes — all this operator consumes — are
        # unchanged, while the join shuffles 8-byte longs instead of
        # string cells and the per-pair set ops compare integers.
        from pyspark.sql.types import ArrayType, LongType, StructField, StructType

        from ..functions.sigkernel import packed_shingles_from_arrow

        narrow = df.select(
            *[F.col(c) for c in group_cols],
            F.col(id_col).alias("__id"),
            F.col(text_col).alias("__t"),
        )
        out_fields = [
            StructField(c, df.schema[c].dataType) for c in group_cols
        ] + [
            StructField("__id", df.schema[id_col].dataType),
            StructField("__sh", ArrayType(LongType())),
        ]
        n_pass = len(group_cols) + 1

        def sh_kernel(batches):
            import pyarrow as pa

            for batch in batches:
                packed = packed_shingles_from_arrow(
                    batch.column(n_pass), shingle_n
                )
                yield pa.RecordBatch.from_arrays(
                    [batch.column(i) for i in range(n_pass)] + [packed],
                    [f.name for f in out_fields],
                )

        sh = narrow.mapInArrow(sh_kernel, StructType(out_fields))
    else:
        sh = df.select(
            *[F.col(c) for c in group_cols],
            F.col(id_col).alias("__id"),
            shingles(F.col(text_col), n=shingle_n).alias("__sh"),
        )
    # both join sides read the shingles: materialize them on first use
    # so the shingle pass (the Python kernel for n <= 3) runs once
    sh = sh.localCheckpoint(eager=False)
    on = list(group_cols)
    left = sh.select(
        *on,
        F.col("__id").alias("id_a"),
        F.col("__sh").alias("__sh_a"),
        F.pmod(F.hash("__id"), F.lit(num_salts)).alias("__salt"),
    )
    right = sh.select(
        *on,
        F.col("__id").alias("id_b"),
        F.col("__sh").alias("__sh_b"),
        F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1))).alias("__salt"),
    )
    # force a shuffled join: a broadcast join would inherit the left
    # side's (possibly single-file) partitioning AND ship the replicated
    # shingle arrays to every executor; the merge hint makes both sides
    # shuffle by (group, salt), giving groups×salts-way parallelism
    joined = (
        left.hint("merge")
        .join(right, on=on + ["__salt"])
        .drop("__salt")
        .filter(F.col("id_a") < F.col("id_b"))
    )

    inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    union = F.size(F.array_union(F.col("__sh_a"), F.col("__sh_b")))
    jac = inter / F.greatest(union, F.lit(1))
    return (
        joined.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


#: Largest undirected pair list whose connected components the driver
#: computes itself (the edge list of :func:`connected_components`,
#: initially or after contraction rounds): one Arrow collect and a
#: numpy union-find instead of more contraction rounds of 9-10 Spark
#: jobs each.  At this size, on a 4-core local[4] box, the call took
#: 3.3 s (1.8 s of it the collect, union-find and ``createDataFrame``)
#: and lifted the driver's Python RSS by 104 MB, to 263 MB.
_DRIVER_CC_MAX_EDGES = 1_000_000


def _min_id_roots(src, dst, n: int):
    """Root of every node ``0..n-1`` of the graph with edges
    ``src[i]-dst[i]``, where a component's root is its smallest node.

    Each step hooks the larger root of every edge whose ends lie in
    different trees onto the smaller one, then pointer-jumps until
    every node points at a root.  A node's parent is never larger than
    the node, so the one root left in a component is its minimum.
    Edges whose ends share a tree are dropped after each step."""
    import numpy as np

    parent = np.arange(n, dtype=np.int64)
    while True:
        pu, pv = parent[src], parent[dst]
        cross = pu != pv
        if not cross.any():
            return parent
        src, dst, pu, pv = src[cross], dst[cross], pu[cross], pv[cross]
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _components_on_driver(edges: DataFrame) -> DataFrame:
    """``(id, component)`` for every endpoint of the ``(u, v)`` edge
    list (no nulls), ``component`` the minimum id of its component: one
    job collects the edges as Arrow, the labels come from
    :func:`_min_id_roots`.  Ids are factorized with ``np.unique``, so
    index order is id order; string ids sort by code point, as Spark
    orders them."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    table = edges.toArrow()
    ids, index = np.unique(
        np.concatenate(
            [table.column(c).to_numpy(zero_copy_only=False) for c in ("u", "v")]
        ),
        return_inverse=True,
    )
    roots = _min_id_roots(index[: table.num_rows], index[table.num_rows :], len(ids))
    arrow_type = table.schema.field("u").type
    labels = pa.table(
        {
            "id": pa.array(ids, arrow_type),
            "component": pa.array(ids[roots], arrow_type),
        }
    )
    id_type = edges.schema["u"].dataType
    schema = StructType(
        [StructField("id", id_type), StructField("component", id_type)]
    )
    return edges.sparkSession.createDataFrame(labels, schema)


def _checkpoint_counted(df: DataFrame):
    """``df`` checkpointed, and its row count observed on that job."""
    counted = Observation()
    df = df.observe(counted, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    return df, counted.get["n"]


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    stats: Optional[dict] = None,
) -> DataFrame:
    """Connected components of the near-duplicate pair graph:
    ``(id, component)`` where ``component`` is the minimum id reachable
    from ``id`` (including itself). The clustering step of fuzzy dedup —
    pairs from minhash/simhash/jaccard become duplicate groups. Pairs
    with a null endpoint are dropped; a self pair ``(a, a)`` keeps ``a``
    as its own component.

    The undirected edge list ``(least, greatest)`` of the pairs is built
    once, distinct and checkpointed, and an ``Observation`` on that
    checkpoint counts it. While it holds more than
    ``_DRIVER_CC_MAX_EDGES`` (1,000,000) edges, a contraction round
    shrinks it:

    * every node hooks to the first node of its closed neighbourhood
      in a hashed order of the ids (one ``groupBy`` over both
      directions of each edge), then one pointer jump takes the hook's
      hook; the round's ``(id, label)`` map is checkpointed;
    * both ends of each edge are relabelled through that map, loops are
      dropped, and the distinct result is checkpointed and counted.

    A label lies in its node's component, and the component's first
    node in that order keeps its own label while every edge at it
    becomes a loop: components survive each round and the edge list
    strictly shrinks. The order is hashed because in id order a path
    numbered along its length only shifts by two nodes a round. Once
    the list fits, one job collects it as Arrow and a numpy union-find
    labels it (:func:`_min_id_roots`); the round maps are composed back,
    one left join each, and a window over each component names it by
    its minimum id. When ``max_iter`` rounds leave the list too large,
    ``RuntimeError`` is raised. ``stats`` receives ``edges`` (the
    undirected count) and ``rounds`` (0 when the driver labels the
    input at once).
    """
    a, b = F.col(id_a), F.col(id_b)
    edges, n_edges = _checkpoint_counted(
        pairs.filter(a.isNotNull() & b.isNotNull())
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
    )
    if stats is not None:
        stats["edges"] = n_edges
    u, v, cu, cv = F.col("u"), F.col("v"), F.col("cu"), F.col("cv")
    n, h = F.col("n"), F.col("h")
    maps = []
    while n_edges > _DRIVER_CC_MAX_EDGES:
        if len(maps) == max_iter:
            raise RuntimeError(
                f"connected_components did not finish in {max_iter} rounds: "
                f"{n_edges} edges remain; use a larger max_iter"
            )
        # min_by keeps the hash aggregate (a struct minimum would sort);
        # a hash tie between ids only changes which member a node hooks to
        hooks = (
            edges.select(
                F.inline(
                    F.array(
                        F.struct(u.alias("id"), v.alias("n")),
                        F.struct(v.alias("id"), u.alias("n")),
                    )
                )
            )
            .groupBy("id")
            .agg(
                F.min_by(n, F.xxhash64(n)).alias("n"),
                F.min(F.xxhash64(n)).alias("h"),
            )
            .select(
                "id",
                F.when(h < F.xxhash64("id"), n).otherwise(F.col("id")).alias("m"),
            )
        )
        label = (
            hooks.join(hooks.toDF("m", "component"), on="m")
            .select("id", "component")
            .localCheckpoint(eager=True)
        )
        maps.append(label)
        edges, n_edges = _checkpoint_counted(
            edges.join(label.toDF("u", "cu"), on="u")
            .join(label.toDF("v", "cv"), on="v")
            .filter(cu != cv)
            .select(F.least(cu, cv).alias("u"), F.greatest(cu, cv).alias("v"))
            .distinct()
        )
    rounds = len(maps)
    if stats is not None:
        stats["rounds"] = rounds
    if n_edges:
        labels = _components_on_driver(edges)
    elif maps:
        # the last round left no edge: its labels name whole components
        labels = maps.pop()
    else:
        labels = edges.toDF("id", "component")
    for label in reversed(maps):
        labels = label.join(
            labels.toDF("component", "root"), on="component", how="left"
        ).select("id", F.coalesce("root", "component").alias("component"))
    if rounds:
        # a round's label is a member of the component, not its minimum
        from pyspark.sql.window import Window

        by_component = Window.partitionBy("component")
        labels = labels.select(
            "id", F.min("id").over(by_component).alias("component")
        )
    return labels


def fuzzy_dedup_keep_one(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    stats: Optional[dict] = None,
    keep_by: Optional[Column] = None,
) -> DataFrame:
    """Drop every near-duplicate except one representative per
    component; rows not appearing in ``pairs`` are kept untouched.

    The representative is the minimum-id member by default; pass
    ``keep_by`` (a Column over ``df`` — quality score, recency, source
    rank) to keep each component's MAXIMUM-``keep_by`` member instead,
    ties to the minimum id (the same policy as
    :func:`exact_dedup`). The selection touches only component members
    (dup-involved ids), never the full corpus: one id-keyed join to
    fetch the scores plus one component-keyed window.

    The components come from :func:`connected_components`, which
    raises ``RuntimeError`` if its rounds run out; ``stats`` receives
    its ``edges`` and ``rounds``."""
    components = connected_components(pairs, id_a, id_b, stats=stats)
    if keep_by is None:
        losers = components.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
    else:
        from pyspark.sql.window import Window

        scores = df.select(F.col(id_col).alias("id"), keep_by.alias("__q"))
        w = Window.partitionBy("component").orderBy(
            F.desc("__q"), F.asc("id")
        )
        losers = (
            components.join(scores, "id")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") != 1)
            .select(F.col("id").alias(id_col))
        )
    return df.join(losers, on=id_col, how="left_anti")


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32,
    portable: bool = True, script_aware: bool = False,
) -> DataFrame:
    """Per-document SimHash (Charikar '02): token hashes vote per bit.

    Returns ``(id, simhash)`` with ``simhash`` a ``bits``-wide integer
    (``1 <= bits <= 63``, so it fits a non-negative long; anything else
    raises ``ValueError`` before a job runs).  Tokenization and the
    per-token hash stay Catalyst expressions (one JVM-intrinsic hash per
    token, bit-exact with the oracle recipe); the token-hash arrays
    cross as Arrow list buffers and the O(tokens × bits) vote runs as
    numpy shifts + ``np.add.reduceat`` segment sums — a higher-order
    ``aggregate``/``zip_with`` fold is interpreted per element and was
    the measured wall of the fingerprint stage (~97%-interpreter
    profile, BASELINE.md r9).

    Bit ``b`` is set when at least half of the doc's tokens have bit
    ``b`` set; a doc with no tokens gets every bit set, and null text a
    null simhash.  ``tests/near_dup_reference.py`` restates this as a
    per-bit majority in plain Python.  ``portable=False`` swaps the
    oracle-reproducible md5 token hash for xxhash64 — the production
    path.
    """
    if not 1 <= bits <= 63:
        raise ValueError(f"bits must be in 1..63, got {bits!r}")
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    # materialize token hashes in their own projection: one hash per
    # token total, instead of one per token per bit (32x less hashing)
    token_hash = portable_hash64 if portable else fast_hash64
    low = F.lower(F.col(text_col))
    if script_aware:
        # r12: char-tokenize unsegmented-script runs — a CJK doc's
        # simhash is otherwise the hash of ONE token (useless signal)
        from ..functions.text import segment_unsegmented

        low = segment_unsegmented(low)
    toks = tokens(low)
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(toks, lambda t: token_hash(t)).alias("__hs"),
    )
    out_schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField("simhash", LongType()),
        ]
    )

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0)
            hs_la = batch.column(1)
            n = len(hs_la)
            if n == 0:
                continue
            if isinstance(hs_la, pa.ChunkedArray):
                hs_la = hs_la.combine_chunks()
            valid = (
                np.asarray(hs_la.is_valid())
                if hs_la.null_count
                else np.ones(n, dtype=bool)
            )
            # null __hs (null text) -> null simhash
            counts = np.zeros(n, dtype=np.int64)
            lens = hs_la.value_lengths().to_numpy(zero_copy_only=False)
            counts[valid] = np.asarray(lens, dtype=np.float64)[
                valid
            ].astype(np.int64)
            flat = hs_la.flatten().to_numpy(zero_copy_only=False)
            flat = flat.astype(np.int64, copy=False)
            sim = np.zeros(n, dtype=np.int64)
            nonempty = counts > 0
            ne_counts = counts[nonempty]
            if ne_counts.size:
                starts = np.zeros(ne_counts.size, dtype=np.int64)
                if ne_counts.size > 1:
                    np.cumsum(ne_counts[:-1], out=starts[1:])
                ne_sim = np.zeros(ne_counts.size, dtype=np.int64)
                for b in range(bits):
                    ones = np.add.reduceat(
                        (flat >> np.int64(b)) & np.int64(1), starts
                    )
                    # vote = 2*ones - n_tokens; bit set when >= 0
                    ne_sim += ((2 * ones >= ne_counts).astype(np.int64)
                               << np.int64(b))
                sim[nonempty] = ne_sim
            # empty token arrays: every vote counter is 0 (>= 0),
            # so every bit is set
            sim[valid & ~nonempty] = (1 << bits) - 1
            out_sim = pa.array(sim, mask=~valid)
            yield pa.RecordBatch.from_arrays(
                [ids, out_sim], ["id", "simhash"]
            )

    return hashed.mapInArrow(kernel, out_schema)


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    block_bits: int = 8,
    portable: bool = True,
    max_bucket_size: Optional[int] = None,
    script_aware: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= ``max_hamming``:
    :func:`simhash_fingerprints` (``bits`` in 1..63) fed to
    :func:`fingerprint_near_dup_pairs`.

    Blocking: two signatures within hamming k must agree exactly on at
    least one of k+1 disjoint bit blocks (pigeonhole); we join on
    ``block_bits``-wide blocks instead of cross-joining. Returns
    ``(id_a, id_b, hamming)``.

    ``max_bucket_size`` (off by default — the oracle-checked result is
    uncapped) collapses blocks whose bucket exceeds the cap (see
    :func:`fingerprint_near_dup_pairs`): at 100 TB a degenerate block
    (e.g. near-constant simhash over templated short docs) would pair
    quadratically; a true pair within ``max_hamming`` agrees on ≥1 of
    the other blocks, so recall loss is small.
    Measured at sf0.1 (tools/diag_simhash.py): max bucket 785 (md5) /
    1122 (xxhash64), so the default cap-off is safe at test scale.
    """
    fps = simhash_fingerprints(
        df, id_col, text_col, bits=bits, portable=portable,
        script_aware=script_aware,
    )
    return fingerprint_near_dup_pairs(
        fps, "id", "simhash", bits=bits, max_hamming=max_hamming,
        block_bits=block_bits, max_bucket_size=max_bucket_size,
    )


#: byte popcount lookup for the arrow hamming kernel
_POP8 = None


def _popcount64(x: "np.ndarray") -> "np.ndarray":  # noqa: F821
    """Vectorized popcount of a uint64 array via a 256-entry byte
    table (numpy has no native popcount until 2.x's bitwise_count)."""
    import numpy as np

    global _POP8
    if _POP8 is None:
        _POP8 = np.array(
            [bin(i).count("1") for i in range(256)], dtype=np.uint8
        )
    return _POP8[x.view(np.uint8).reshape(*x.shape, 8)].sum(axis=-1)


def _bucket_hamming_pairs_np(
    ids: "np.ndarray",  # noqa: F821
    fps: "np.ndarray",  # noqa: F821
    max_hamming: int,
    row_chunk_budget: int = 8_000_000,
):
    """All (i < j) pairs within ``max_hamming`` inside one bucket:
    chunked m x m XOR matrix + byte-table popcount — ~2 ns/candidate
    and bounded memory (``row_chunk_budget`` candidate cells per chunk).
    Yields (id_a, id_b, hamming) arrays with id_a/id_b min/max per
    pair."""
    import numpy as np

    m = len(ids)
    f = fps.astype(np.int64).view(np.uint64)
    rows_per_chunk = max(1, row_chunk_budget // max(m, 1))
    for lo in range(0, m, rows_per_chunk):
        hi = min(lo + rows_per_chunk, m)
        ham = _popcount64(f[lo:hi, None] ^ f[None, :])
        ii, jj = np.nonzero(ham <= max_hamming)
        keep = (ii + lo) < jj  # upper triangle only (i < j by position)
        if not keep.any():
            continue
        ii, jj = ii[keep] + lo, jj[keep]
        a, b = ids[ii], ids[jj]
        swap = a > b
        id_a = np.where(swap, b, a)
        id_b = np.where(swap, a, b)
        yield id_a, id_b, ham[ii - lo, jj].astype(np.int32)


def _bucket_pairs_with_collapse(
    ranks: "np.ndarray",  # noqa: F821
    fps: "np.ndarray",  # noqa: F821
    max_hamming: int,
    cap: Optional[int],
):
    """Position-index pairs for one bucket, with the MinHash-style
    mega-cluster collapse for over-cap buckets (r12c review fix —
    dropping an over-cap bucket outright silently un-deduped >cap
    IDENTICAL fingerprints, which agree on EVERY block so no other
    bucket catches them).

    Under the cap (or cap None): the full pairwise kernel — every
    (i < j) pair within ``max_hamming``, full cliques.  Over the cap: each
    identical-fingerprint group collapses to chain pairs from its
    minimum-``ranks`` member (hamming 0, preserves connectivity), and
    cross-fingerprint candidates pair only between those group
    representatives — and only if the DISTINCT-fingerprint count is
    itself within the cap (a genuinely diverse hot bucket stays
    skipped; true near-dup pairs there still meet in their other,
    colder blocks).  ``ranks`` picks each group's representative
    deterministically (min rank = min id), so output does not depend
    on collect order.

    Yields UNORDERED (i, j, hamming) position-index arrays (i != j
    per pair); the caller orients ids.
    """
    import numpy as np

    m = len(fps)
    if cap is None or m <= cap:
        yield from _bucket_hamming_pairs_np(
            np.arange(m, dtype=np.int64), fps, max_hamming
        )
        return
    order = np.argsort(ranks, kind="stable")
    sorted_fps = fps[order]
    uniq, first_sorted_idx, inverse = np.unique(
        sorted_fps, return_index=True, return_inverse=True
    )
    # representative of each identical group = its min-rank member
    # (np.unique's first_sorted_idx is the FIRST position in the
    # rank-sorted array, i.e. the group's minimum rank)
    reps = order[first_sorted_idx]
    # chain pairs: rep -> every other member of its identical group
    group_of = np.empty(m, dtype=np.int64)
    group_of[order] = inverse
    rep_of = reps[group_of]
    members = np.nonzero(np.arange(m) != rep_of)[0]
    if len(members):
        yield rep_of[members], members, np.zeros(len(members), dtype=np.int32)
    if len(uniq) <= cap:
        for a, b, h in _bucket_hamming_pairs_np(
            np.arange(len(uniq), dtype=np.int64), uniq, max_hamming
        ):
            nz = h > 0  # identical-fp pairs already chained above
            if nz.any():
                yield reps[a[nz]], reps[b[nz]], h[nz]


def fingerprint_near_dup_pairs(
    fps: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int = 64,
    max_hamming: int = 3,
    block_bits: int = 8,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """Near-dup pairs over ANY precomputed integer fingerprint column
    (SimHash, image pHash, audio fingerprint, ...) by hamming distance
    <= ``max_hamming`` — the banded gather-and-pair core factored out
    of :func:`simhash_near_dup_pairs` (r12c, for
    :func:`~hermes_spark.operators.multimodal.image_near_dup_pairs`).
    Null fingerprints are dropped up front (a null can't be proven a
    near-dup).

    Pigeonhole blocking: signatures within hamming k agree exactly on
    >= 1 of k+1 disjoint bit blocks, so the join key is (block index,
    block bits) — ONE shuffle, no cross join.  Arithmetic sign
    extension from negative 64-bit hashes is masked off by the
    block-width AND.  Returns ``(id_a, id_b, hamming)``; under the cap
    the pair set equals a brute-force hamming cross check
    (``tests/test_image_phash.py``).

    In-bucket pairing is inherently O(sum m_k²) over bucket sizes, and
    ``block_bits``-wide buckets SATURATE once n >> 2^width per block
    (200k 64-bit hashes at width 8 imply ~600M candidate cells), so it
    runs as a chunked numpy XOR matrix + byte-table popcount
    (~2 ns/candidate, bounded memory).

    ``max_bucket_size`` (``None`` = uncapped) collapses OVER-cap
    buckets instead of dropping them: identical-fingerprint chains +
    distinct-fingerprint representative pairs (see
    :func:`_bucket_pairs_with_collapse`), so a micro-batch of >cap
    IDENTICAL thumbnails still dedups.
    """
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    n_blocks = max(max_hamming + 1, bits // block_bits)
    width = bits // n_blocks

    hashed = fps.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("__fp")
    ).filter(F.col("__fp").isNotNull())
    block_key = F.concat_ws(
        "_",
        F.col("__blk").cast("string"),
        # SQL form: pyspark's shiftright() only takes a literal shift
        F.expr(f"shiftright(__fp, __blk * {width})")
        .bitwiseAND(F.lit((1 << width) - 1))
        .cast("string"),
    )
    bucketed = (
        hashed.select(
            "id",
            "__fp",
            F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("__blk"),
        )
        .select("id", "__fp", block_key.alias("__k"))
    )
    # NO bucket-size pre-filter here: over-cap buckets are handed
    # to the kernel, which COLLAPSES them (identical chains +
    # representative pairs) instead of dropping them outright
    grouped = (
        bucketed.groupBy("__k")
        .agg(
            F.collect_list("id").alias("__ids"),
            F.collect_list("__fp").alias("__fps"),
        )
        .filter(F.size("__ids") >= 2)
        .select("__ids", "__fps")
    )
    id_type = fps.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("hamming", IntegerType()),
        ]
    )

    # mapInArrow, not mapInPandas (round 13, guide §4): member ids
    # and fingerprints are numpy views of the Arrow list buffers —
    # the pandas path materialized a Python list per bucket cell on
    # the way in and re-boxed the pair frame on the way out.  The
    # two collect_lists fill in one aggregation pass, so index i of
    # both comes from the same input row (nulls were filtered
    # before bucketing — a null fp would desync the two lists;
    # _unpack_buckets raises if they ever differ in length).
    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            nb = batch.num_rows
            if nb == 0:
                continue
            ids_np, fps_flat, starts = _unpack_buckets(
                batch.column(0), batch.column(1)
            )
            fps_np = fps_flat.to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            parts_a, parts_b, parts_h = [], [], []
            for r in range(nb):
                s0, s1 = int(starts[r]), int(starts[r + 1])
                ids = ids_np[s0:s1]
                f = fps_np[s0:s1]
                for i, j, h in _bucket_pairs_with_collapse(
                    ids, f, max_hamming, max_bucket_size
                ):
                    ia, ib = ids[i], ids[j]
                    swap = ia > ib
                    parts_a.append(np.where(swap, ib, ia))
                    parts_b.append(np.where(swap, ia, ib))
                    parts_h.append(h)
            if parts_a:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(parts_a)),
                        pa.array(np.concatenate(parts_b)),
                        pa.array(
                            np.concatenate(parts_h).astype(
                                np.int32, copy=False
                            )
                        ),
                    ],
                    ["id_a", "id_b", "hamming"],
                )

    return grouped.mapInArrow(kernel, out_schema).distinct()


def blocking_key_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    key: Optional[Column] = None,
    prefix_len: int = 12,
    max_block_size: int = 1000,
) -> DataFrame:
    """Candidate duplicate pairs by deterministic blocking (the classic
    record-linkage move, Hernández & Stolfo's merge/purge family):
    documents sharing a blocking key — default: the first
    ``prefix_len`` characters of lowercased whitespace-collapsed text —
    pair up; everything else never meets.

    Complements MinHash LSH: zero hashing cost and exact recall for
    corpora whose duplicates share prefixes (crawl re-fetches,
    templated records), no probabilistic guarantee otherwise. Pass
    ``key`` to block on any expression (sort key, url domain, title).

    Same single-shuffle gather-and-pair shape as
    :func:`minhash_lsh_pairs`: one groupBy on the key, in-task pair
    generation, ``max_block_size`` caps pathological blocks. Returns
    ``(id_a, id_b, block_key)`` with ``id_a < id_b``.
    """
    block = key if key is not None else F.substring(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "),
        1,
        prefix_len,
    )
    keyed = df.select(F.col(id_col).alias("__id"), block.alias("__key")).filter(
        F.col("__key") != ""
    )
    grouped = (
        keyed.groupBy("__key")
        .agg(F.collect_list("__id").alias("__ids"))
        .filter((F.size("__ids") >= 2) & (F.size("__ids") <= max_block_size))
    )
    ids = F.array_sort(F.col("__ids"))
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda a, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select(
            F.explode(pair_structs).alias("__p"), F.col("__key").alias("block_key")
        )
        .select("__p.id_a", "__p.id_b", "block_key")
        .distinct()
    )


def source_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str = "source",
) -> DataFrame:
    """Cross-source contamination matrix: for every ordered pair of
    sources ``(a, b)`` with ``a < b``, how many distinct normalized-text
    fingerprints occur in BOTH — the standard "is my eval split leaking
    from the crawl" accounting before training.

    Plan: fingerprint map-side, then ONE shuffle — ``groupBy(fp)`` with
    ``collect_set(source)`` dedupes sources inside the partial (map-side)
    aggregation, so only ~(fp, distinct-source-set) pairs cross the wire;
    pairs generate in-task from each set.  No self-join of the corpus,
    nothing wide ever shuffles.  Returns
    ``(source_a, source_b, overlap_count)``.
    """
    fp_sources = (
        df.select(
            doc_fingerprint(F.col(text_col)).alias("__fp"),
            F.col(source_col).cast("string").alias("__src"),
        )
        .groupBy("__fp")
        .agg(F.array_sort(F.collect_set("__src")).alias("__srcs"))
        .filter(F.size("__srcs") >= 2)
    )
    srcs = F.col("__srcs")
    pairs = F.flatten(
        F.transform(
            srcs,
            lambda a, i: F.transform(
                F.slice(srcs, i + 2, F.size(srcs)),
                lambda b: F.struct(a.alias("source_a"), b.alias("source_b")),
            ),
        )
    )
    return (
        fp_sources.select(F.explode(pairs).alias("__p"))
        .groupBy(
            F.col("__p.source_a").alias("source_a"),
            F.col("__p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("overlap_count"))
    )


def linkage_scores(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    fields: "dict[str, tuple[float, float]]",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Fellegi-Sunter record-linkage scoring of candidate pairs.

    ``fields`` maps a column to its ``(m, u)`` probabilities (chance of
    agreement among true matches / among non-matches); each field
    contributes ``ln(m/u)`` on agreement and ``ln((1-m)/(1-u))`` on
    disagreement (null-safe equality), and ``match_score`` is the sum —
    the classic log-likelihood-ratio linkage weight.

    Scale shape: candidate ``pairs`` come from blocking (never all
    pairs); the two attribute joins are key-partitioned on the record
    id, and only the scored fields are carried.  Returns ``pairs`` plus
    ``match_score`` (rounded, 6 dp).
    """
    import math

    for f, (m, u) in fields.items():
        if not (0.0 < u < m < 1.0):
            raise ValueError(f"field {f!r}: need 0 < u < m < 1, got m={m} u={u}")

    cols = list(fields)
    left = df.select(
        F.col(id_col).alias(id_a), *[F.col(c).alias(f"__a_{c}") for c in cols]
    )
    right = df.select(
        F.col(id_col).alias(id_b), *[F.col(c).alias(f"__b_{c}") for c in cols]
    )
    scored = pairs.join(left, on=id_a).join(right, on=id_b)
    score = F.lit(0.0)
    for c, (m, u) in fields.items():
        agree = F.col(f"__a_{c}").eqNullSafe(F.col(f"__b_{c}"))
        score = score + F.when(
            agree, F.lit(math.log(m / u))
        ).otherwise(F.lit(math.log((1 - m) / (1 - u))))
    return scored.select(*pairs.columns, F.round(score, 6).alias("match_score"))


def banded_match_pairs(
    banded: DataFrame,
    min_jaccard: float,
    num_hashes: int,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Within-frame near-dup pairs from a banded signature frame
    ``(__id, __sig, __band)`` via the gather-and-pair shape: one
    groupBy on the band key, in-task pair generation from the gathered
    member array.  A band self-join would re-execute the whole
    shingle/hash pipeline once per join side AND go quadratic on a hot
    band; buckets larger than ``max_bucket_size`` are COLLAPSED
    (identical-signature chaining + representative pairing/star — see
    :func:`_bucket_pairs_np`), so a mega-cluster of near-identical
    documents still connects in O(n) instead of silently producing zero
    pairs.  Returns ``(id_a, id_b)`` with ``id_a < id_b``.

    Shared by :func:`dedup_against` and
    ``streaming.dedup.stream_minhash_dedup`` so batch and streaming
    agree on candidate generation.
    """
    raw = _grouped_bucket_pairs_arrow(
        banded,
        num_hashes,
        max_bucket_size,
        id_type=banded.schema["__id"].dataType,
        min_est=min_jaccard,
    )
    return (
        raw.filter(F.col("est_jaccard") >= F.lit(min_jaccard))
        .select("id_a", "id_b")
        .distinct()
    )


def dedup_against(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    num_bands: int = 4,
    min_jaccard: float = 0.8,
    portable: bool = True,
    max_bucket_size: int = 1000,
    keep_policy: str = "component",
) -> "tuple[DataFrame, DataFrame]":
    """Incremental batch dedup: drop new documents that near-duplicate
    the ALREADY-ACCEPTED corpus (represented by its banded MinHash
    signature ``store``) or an earlier in-batch doc; never re-fingerprint
    history.

    ``store`` rows are ``(__band string, __id long, __sig array<bigint>)``
    — the exact layout ``streaming/dedup.py::stream_minhash_dedup``
    appends, so batch and streaming ingestion share one store.  Returns
    ``(survivors, new_store_rows)``; append ``new_store_rows`` to the
    store after writing the survivors (idempotent on replay when the
    store is deduped on read by ``(__band, __id)``).

    ``keep_policy`` decides who survives an in-batch near-dup cluster:

    * ``"component"`` (default): connected components over the in-batch
      match pairs; each component keeps its minimum-id member **that did
      not match history** — a cluster loses all members only when every
      member matches history.
    * ``"greedy"``: drop the larger id of every pair (what
      ``stream_minhash_dedup`` does per micro-batch).  Cheaper (no
      iteration) but if the cluster minimum itself matched history the
      whole cluster can vanish with no surviving representative.

    Scale shape: only the NEW batch is shingled/hashed; the history join
    touches O(batch bands) store rows via the band-key equi-join (the
    store side is first semi-joined to the batch's band set and
    collapsed to distinct ``(__band, __sig)``), never the full history
    row set.  The in-batch pairing collapses oversized band buckets
    (identical-signature chains + representative pairs/star, see
    :func:`_bucket_pairs_np`) instead of dropping them, so
    mega-clusters still dedup; the history join skips only bands whose
    DISTINCT-signature count exceeds ``max_bucket_size``.
    """
    if keep_policy not in ("component", "greedy"):
        raise ValueError(f"keep_policy must be 'component' or 'greedy', got {keep_policy!r}")
    rows_per_band = num_hashes // num_bands
    # null-text docs get no band rows (see minhash_lsh_pairs): they
    # match nothing, always survive and never enter the store
    banded = minhash_signatures(
        new_docs.filter(F.col(text_col).isNotNull()), id_col, text_col,
        shingle_n=3, num_hashes=num_hashes, portable=portable,
    ).select(
        "__id",
        "__sig",
        F.explode(band_keys(F.col("__sig"), num_bands, rows_per_band)).alias("__band"),
    )

    def est(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0),
            lambda acc, v: acc + v,
        ) / F.lit(num_hashes)

    # history side: only bands the batch actually emits (small, broadcast
    # semi-join).  A history hit only needs the BATCH id, so the store
    # side collapses losslessly to distinct (__band, __sig) — a
    # boilerplate mega-cluster of identical signatures in history
    # becomes ONE row instead of making its band hot.  The hot-band cap
    # then applies to DISTINCT-signature counts; only a genuinely
    # diverse hot band (signature-distinct beyond the cap) is skipped,
    # bounding the equi-join at O(batch band rows × max_bucket_size).
    batch_bands = F.broadcast(banded.select("__band").distinct())
    store_rel = (
        store.join(batch_bands, on="__band", how="left_semi")
        .select("__band", "__sig")
        .distinct()
    )
    hot_bands = (
        store_rel.groupBy("__band")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_bucket_size)
        .select("__band")
    )
    store_ok = store_rel.join(F.broadcast(hot_bands), on="__band", how="left_anti")

    hist_hits = (
        banded.alias("b")
        .join(store_ok.alias("s"), on="__band")
        .filter(est(F.col("b.__sig"), F.col("s.__sig")) >= F.lit(min_jaccard))
        .select(F.col("b.__id").alias("__id"))
        .distinct()
    )
    batch_pairs = banded_match_pairs(
        banded, min_jaccard, num_hashes, max_bucket_size=max_bucket_size
    )
    if keep_policy == "greedy":
        batch_losers = batch_pairs.select(F.col("id_b").alias("__id")).distinct()
    else:
        comp = connected_components(batch_pairs)
        alive = comp.join(
            hist_hits.withColumnRenamed("__id", "id"), on="id", how="left_anti"
        )
        keep = alive.groupBy("component").agg(F.min("id").alias("__keep"))
        batch_losers = (
            alive.join(keep, on="component")
            .filter(F.col("id") != F.col("__keep"))
            .select(F.col("id").alias("__id"))
        )
    dropped = hist_hits.unionByName(batch_losers).distinct()
    survivors = new_docs.join(
        dropped.withColumnRenamed("__id", id_col), on=id_col, how="left_anti"
    )
    new_store_rows = banded.join(
        survivors.select(F.col(id_col).alias("__id")), on="__id", how="left_semi"
    ).select("__band", "__id", "__sig")
    return survivors, new_store_rows


def fingerprint_banded_rows(
    fps: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int = 64,
    max_hamming: int = 6,
    block_bits: int = 8,
) -> DataFrame:
    """Explode integer fingerprints into the pigeonhole band layout
    ``(__blk int, __bv long, __id, __fp)`` used by
    :func:`fingerprint_dedup_against`'s store — k+1 rows per
    fingerprint, three longs each, so history is stored PRE-BANDED and
    never re-exploded per batch (the lesson from the streaming MinHash
    store)."""
    n_blocks = max(max_hamming + 1, bits // block_bits)
    width = bits // n_blocks
    return fps.select(
        F.col(id_col).alias("__id"),
        F.col(hash_col).alias("__fp"),
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("__blk"),
    ).select(
        "__id",
        "__fp",
        "__blk",
        F.expr(f"shiftright(__fp, __blk * {width})")
        .bitwiseAND(F.lit((1 << width) - 1))
        .alias("__bv"),
    )


def fingerprint_dedup_against(
    new_fps: DataFrame,
    store: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int = 64,
    max_hamming: int = 6,
    block_bits: int = 8,
    max_bucket_size: Optional[int] = None,
    keep_policy: str = "component",
    history_max_bucket_size: Optional[int] = None,
) -> "tuple[DataFrame, DataFrame]":
    """Incremental PERCEPTUAL dedup: drop new items whose fingerprint
    (image pHash, audio fingerprint, SimHash — any
    :func:`fingerprint_near_dup_pairs`-compatible integer) is within
    ``max_hamming`` of the already-accepted corpus or of an earlier
    in-batch item — the :func:`dedup_against` shape for hamming space.

    ``new_fps`` carries ``(id_col, hash_col)`` (hash whatever modality
    upstream: :func:`~hermes_spark.operators.multimodal.image_phash`
    etc.).  ``store`` rows are ``(__blk, __bv, __fp)`` as produced by
    :func:`fingerprint_banded_rows` — pre-banded, so each batch
    equi-joins on ``(__blk, __bv)`` without exploding history.  Returns
    ``(survivor_fps, new_store_rows)``; append the latter after writing
    survivors (replay-idempotent when the store is deduped on read —
    re-appending the same rows only re-drops the same duplicates).

    ``keep_policy`` as :func:`dedup_against`: ``"component"`` keeps
    each in-batch near-dup component's minimum id that did not match
    history; ``"greedy"`` drops the larger id of every pair.

    Scale shape: history side is semi-joined to the batch's
    ``(__blk, __bv)`` set and collapsed to distinct ``(__blk, __bv,
    __fp)`` first, so a mega-cluster of identical stored fingerprints
    is ONE row per block.  The two caps are SEPARATE on purpose (r12c
    review + fp_saturation probe):

    * ``max_bucket_size`` caps the IN-BATCH pairing only (over-cap
      buckets collapse, see :func:`_bucket_pairs_with_collapse`) —
      keep it set; it bounds the quadratic side.
    * ``history_max_bucket_size`` (default ``None`` = complete) caps
      the history join's hot buckets.  The ``(__blk, __bv)`` key space
      is only ``n_blocks * 2^width`` (2048 at the 64-bit/8-block
      default), so once the store exceeds ``~cap * 2^width`` DISTINCT
      fingerprints EVERY bucket goes hot and a capped history join
      finds nothing — measured at 400k stored fps (BASELINE.md): the
      uncapped join was both complete and FASTER (6.0 vs 9.3 s).
      When a cap IS set and saturation bites, batch rows whose every
      block is hot fall back to a fingerprint-equality semi-join
      against the store's block-0 rows, so exact re-posts are still
      always caught; near-miss recall in hot buckets is the trade.

    The batch's internal id/fp frame is ``localCheckpoint``-ed so
    callers' decode/hash lineage runs ONCE, not once per downstream
    subtree.
    """
    if keep_policy not in ("component", "greedy"):
        raise ValueError(
            f"keep_policy must be 'component' or 'greedy', got {keep_policy!r}"
        )
    n_blocks = max(max_hamming + 1, bits // block_bits)
    # materialize (id, fp) ONCE — 16 B/row; without this the decode+
    # hash lineage upstream re-runs for every one of the four
    # downstream subtrees (hist join, in-batch pairs, anti-join,
    # store rows)
    new_fps = new_fps.select(
        F.col(id_col), F.col(hash_col)
    ).filter(F.col(hash_col).isNotNull()).localCheckpoint(eager=True)
    batch_banded = fingerprint_banded_rows(
        new_fps, id_col, hash_col, bits=bits, max_hamming=max_hamming,
        block_bits=block_bits,
    )
    batch_keys = F.broadcast(
        batch_banded.select("__blk", "__bv").distinct()
    )
    store_rel = (
        store.join(batch_keys, on=["__blk", "__bv"], how="left_semi")
        .select("__blk", "__bv", "__fp")
        .distinct()
    )
    exact_hits = None
    if history_max_bucket_size is not None:
        hot = (
            store_rel.groupBy("__blk", "__bv")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > history_max_bucket_size)
            .select("__blk", "__bv")
        ).localCheckpoint(eager=True)  # <= n_blocks * 2^width rows
        store_rel = store_rel.join(
            F.broadcast(hot), on=["__blk", "__bv"], how="left_anti"
        )
        if hot.count() > 0:
            # batch rows whose EVERY block bucket is hot would see no
            # history at all through the banded join — identical
            # re-posts included.  Equality fallback: semi-join their
            # full fingerprints against the store's block-0 rows.
            fully_hot = (
                batch_banded.join(
                    F.broadcast(hot), on=["__blk", "__bv"], how="inner"
                )
                .groupBy("__id")
                .agg(F.count(F.lit(1)).alias("__nh"))
                .filter(F.col("__nh") >= n_blocks)
                .select("__id")
            )
            exact_hits = (
                new_fps.select(
                    F.col(id_col).alias("__id"),
                    F.col(hash_col).alias("__fp"),
                )
                .join(F.broadcast(fully_hot), on="__id", how="left_semi")
                .join(
                    store.filter(F.col("__blk") == 0).select("__fp"),
                    on="__fp",
                    how="left_semi",
                )
                .select("__id")
            )
    hist_hits = (
        batch_banded.alias("b")
        .join(
            store_rel.withColumnRenamed("__fp", "__sfp").alias("s"),
            on=["__blk", "__bv"],
        )
        .filter(
            F.bit_count(F.col("b.__fp").bitwiseXOR(F.col("__sfp")))
            <= F.lit(max_hamming)
        )
        .select(F.col("b.__id").alias("__id"))
        .distinct()
    )
    if exact_hits is not None:
        hist_hits = hist_hits.unionByName(exact_hits).distinct()
    batch_pairs = fingerprint_near_dup_pairs(
        new_fps, id_col, hash_col, bits=bits, max_hamming=max_hamming,
        block_bits=block_bits, max_bucket_size=max_bucket_size,
    )
    if keep_policy == "greedy":
        batch_losers = batch_pairs.select(F.col("id_b").alias("__id")).distinct()
    else:
        comp = connected_components(batch_pairs)
        alive = comp.join(
            hist_hits.withColumnRenamed("__id", "id"), on="id", how="left_anti"
        )
        keep = alive.groupBy("component").agg(F.min("id").alias("__keep"))
        batch_losers = (
            alive.join(keep, on="component")
            .filter(F.col("id") != F.col("__keep"))
            .select(F.col("id").alias("__id"))
        )
    dropped = hist_hits.unionByName(batch_losers).distinct()
    survivors = new_fps.join(
        dropped.withColumnRenamed("__id", id_col), on=id_col, how="left_anti"
    )
    new_store_rows = batch_banded.join(
        survivors.select(F.col(id_col).alias("__id")), on="__id",
        how="left_semi",
    ).select("__blk", "__bv", "__fp")
    return survivors, new_store_rows
