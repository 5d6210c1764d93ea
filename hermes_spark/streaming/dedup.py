"""Streaming deduplication across micro-batches — exact and near-dup.

For continuously-ingested corpora: drop any document whose normalized
fingerprint was already seen, with state bounded by a watermark (a
duplicate arriving later than the watermark horizon is not caught —
the retention/recall trade every streaming dedup makes; set the
watermark to the realistic duplicate-arrival window).

Built on ``dropDuplicates`` over the same ``doc_fingerprint`` the batch
``exact_dedup`` uses, so batch and streaming agree on what counts as a
duplicate.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.hashing import band_keys
from ..functions.text import doc_fingerprint


def stream_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: Optional[str] = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Emit only first-seen documents (by normalized-text fingerprint).

    With ``ts_col`` the dedup state is watermark-bounded
    (``dropDuplicatesWithinWatermark``): safe on unbounded streams.
    Without it, state grows with distinct documents — only for bounded
    backfills.
    """
    keyed = stream.withColumn("__fp", doc_fingerprint(F.col(text_col)))
    if ts_col is not None:
        deduped = keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["__fp"]
        )
    else:
        deduped = keyed.dropDuplicates(["__fp"])
    return deduped.drop("__fp")

#: schema of the accepted-signature store stream_minhash_dedup keeps
MINHASH_STATE_SCHEMA = "__band string, __id long, __sig array<bigint>"


def _require_local_path(path: str, what: str) -> None:
    """Compaction swaps directories with POSIX renames — refuse
    non-local URIs LOUDLY instead of failing mid-swap (or worse,
    "succeeding" against a path that os-level calls can't see while
    Spark wrote to the remote store)."""
    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            f"{what}: store compaction renames directories with local "
            f"filesystem calls, but state_path={path!r} is a remote URI. "
            "Run compaction as an offline Spark job (read -> "
            "dropDuplicates -> write to a NEW path, then repoint the "
            "stream), or keep compact_every=0 and use a keyed state "
            "service at this scale."
        )


def _recover_minhash_store(state_path: str) -> None:
    """Roll forward/back an interrupted :func:`compact_minhash_store`
    swap.  After a crash the store contents exist in exactly one of
    ``state_path`` / ``<state>__compact_tmp`` (complete iff _SUCCESS) /
    ``<state>__trash``; this puts them back under ``state_path`` and
    clears the side directories.  No-op when the store is healthy or
    was never created."""
    import os as _os
    import shutil as _shutil

    tmp = state_path.rstrip("/") + "__compact_tmp"
    trash = state_path.rstrip("/") + "__trash"
    if _os.path.exists(state_path):
        return
    if _os.path.exists(_os.path.join(tmp, "_SUCCESS")):
        _shutil.move(tmp, state_path)  # crash between the two moves
        _shutil.rmtree(trash, ignore_errors=True)
        return
    if _os.path.exists(trash):
        _shutil.move(trash, state_path)  # crash before tmp completed
        _shutil.rmtree(tmp, ignore_errors=True)


def compact_minhash_store(spark, state_path: str) -> int:
    """Rewrite a :func:`stream_minhash_dedup` signature store as
    distinct ``(band, id)`` rows in one fresh parquet directory.
    Returns the compacted row count.

    Reclaims replay-appended duplicate rows AND collapses the
    accumulated per-batch append files into one write (hundreds of
    small files are the other half of the store-scan floor).  Safe to
    run between batches of a live query only from the query's own
    ``foreachBatch`` (batches are sequential — no concurrent reader);
    for an external compactor, stop the query first.

    Swap protocol: write to ``<state_path>__compact_tmp`` (with
    ``_SUCCESS``), move the old store to ``<state_path>__trash``,
    rename the temp into place, then delete the trash.  A crash
    mid-swap leaves the data in exactly one of the three directories
    and :func:`_recover_minhash_store` rolls it back into place — run
    automatically here and before every micro-batch's store read, so
    an interrupted compaction can never silently present as an empty
    store.  LOCAL (or ``file://``) paths only, enforced loudly —
    remote stores compact via an offline Spark rewrite instead.
    Replay idempotence is property-tested (test_streaming):
    compacting between replayed batches never changes the surviving
    document set.
    """
    return _compact_store(
        spark, state_path, MINHASH_STATE_SCHEMA, ["__band", "__id"],
        "compact_minhash_store",
    )


def _compact_store(
    spark, state_path: str, schema: str, dedup_cols: list, what: str
) -> int:
    """The swap-protocol compaction core shared by the MinHash and
    fingerprint stores (read -> dropDuplicates -> write temp -> trash
    swap -> delete trash; see :func:`compact_minhash_store` for the
    crash-window analysis)."""
    import shutil as _shutil

    _require_local_path(state_path, what)
    _recover_minhash_store(state_path)
    tmp = state_path.rstrip("/") + "__compact_tmp"
    trash = state_path.rstrip("/") + "__trash"
    _shutil.rmtree(tmp, ignore_errors=True)  # incomplete leftover
    compacted = (
        spark.read.schema(schema)
        .parquet(state_path)
        .dropDuplicates(dedup_cols)
    )
    compacted.write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    _shutil.rmtree(trash, ignore_errors=True)
    _shutil.move(state_path, trash)
    _shutil.move(tmp, state_path)
    _shutil.rmtree(trash, ignore_errors=True)
    return int(n)


def stream_minhash_dedup(
    stream: DataFrame,
    state_path: str,
    output_path: Optional[str] = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
    min_jaccard: float = 0.7,
    max_bucket_size: int = 1000,
    on_batch: Optional[Callable[[DataFrame, int], None]] = None,
    compact_every: int = 0,
    **start_kwargs,
) -> StreamingQuery:
    """Streaming NEAR-duplicate dedup: drop any incoming document whose
    MinHash signature matches an already-accepted document at
    ``est_jaccard >= min_jaccard``, across micro-batches.

    Per micro-batch (``foreachBatch``):

    1. signature + LSH band keys for every incoming doc (the batch
       operator's ``minhash_signatures`` front half — portable md5
       hash family, Arrow signature kernel — so batch and streaming
       agree on what counts as a near-dup);
    2. candidate join against the accepted-signature store at
       ``state_path`` on band key only — the join touches O(colliding
       bands) rows, never the full history — then exact signature
       agreement filters candidates to true matches;
    3. within-batch near-dups collapse to their minimum surviving id
       (min-label over the in-batch match pairs, transitively closed the
       same way :func:`~hermes_spark.operators.fuzzy_dedup_keep_one`
       does for small diameters);
    4. survivors append their ``(band, id, sig)`` rows to the store and
       flow to ``output_path`` (parquet append) and/or ``on_batch``.

    State grows with accepted UNIQUE documents only (duplicates add
    nothing) — the right bound for dedup; unlike watermarked exact
    dedup this catches re-posts arbitrarily far apart. On a cluster
    point ``state_path`` at reliable storage. Failure semantics: a
    replayed batch may re-append survivor rows to the store; duplicate
    ``(band, id, sig)`` rows are harmless to correctness (the history
    join deduplicates candidates on ``(band, sig)`` after band
    pruning), so replays cost storage, not correctness — and
    compaction reclaims the storage.

    ``compact_every=K`` (round 12) rewrites the store as distinct
    ``(band, id)`` rows every K micro-batches: bounds replay bloat AND
    the small-file accumulation of per-batch appends (each append adds
    files; after hundreds of batches the per-batch scan pays listing +
    open overhead for all of them).  The rewrite is read → distinct →
    write-to-temp → swap; batches within one query run sequentially so
    no concurrent reader exists, and a crash mid-swap loses only the
    COMPACTED copy of state that still exists in the trash directory
    (see :func:`compact_minhash_store`).  ``0`` disables.

    Scale boundary (measured round 11, re-decomposed round 12 — see
    BASELINE.md): the store lands at accepted_uniques × num_bands rows
    (91 MB at 943k accepted); each micro-batch re-scans the store
    parquet before the band semi-join prunes it.  Round 12 removed a
    read-side ``dropDuplicates([band, id])`` that shuffled the ENTIRE
    store every batch — the band semi-join + ``(band, sig)`` distinct
    on the pruned subset makes it redundant.  The remaining rescan is
    negligible to ~10^7 accepted docs; a true keyed state service (or
    Spark state store) is the 10^9 path.
    """
    spark = stream.sparkSession
    state_schema = MINHASH_STATE_SCHEMA
    if compact_every > 0:
        _require_local_path(state_path, "stream_minhash_dedup(compact_every)")

    def sig_frame(df: DataFrame) -> DataFrame:
        # shared signature front half (operators.dedup.minhash_signatures,
        # portable md5 hash family): foreachBatch hands us a BATCH frame,
        # so the Arrow kernel runs here too, and one kernel for batch and
        # stream keeps the signature store valid for both.
        from ..operators.dedup import minhash_signatures

        rows_per_band = num_hashes // num_bands
        # null text gets no band rows (see operators.dedup.dedup_against)
        sigs = minhash_signatures(
            df.select(F.col(id_col), F.col(text_col)).filter(
                F.col(text_col).isNotNull()
            ),
            id_col, text_col,
            shingle_n=shingle_n, num_hashes=num_hashes,
            portable=True,
        )
        return sigs.select(
            "__id",
            "__sig",
            F.explode(
                band_keys(F.col("__sig"), num_bands, rows_per_band)
            ).alias("__band"),
        )

    def est_jaccard(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0),
            lambda acc, v: acc + v,
        ) / F.lit(num_hashes)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        banded = sig_frame(batch_df).persist()
        try:
            # roll back any compaction interrupted mid-swap BEFORE the
            # read — without this, a crash between the two swap moves
            # would present as "no store yet" and silently accept the
            # entire history again (r12 review finding)
            _recover_minhash_store(state_path)
            try:
                # NO read-side dropDuplicates (r12): a (band, id) dupe
                # from a replayed append only re-produces a candidate
                # the (band, sig) distinct below collapses — the old
                # dropDuplicates shuffled the WHOLE store every batch
                # (the dominant per-batch cost once the store outgrows
                # the batch; decomposed in BASELINE.md r12).
                state = spark.read.schema(state_schema).parquet(state_path)
            except Exception:  # first batch: no store yet
                state = spark.createDataFrame([], state_schema)

            # vs accepted history: band-key equi-join restricted to the
            # batch's bands.  A history hit only needs the BATCH id, so
            # the state side collapses losslessly to distinct
            # (__band, __sig) — a mega-cluster of identical accepted
            # signatures becomes one row instead of making its band hot
            # (round-6, mirroring operators.dedup.dedup_against); only
            # DISTINCT-signature-hot bands are skipped to bound the join
            batch_bands = F.broadcast(banded.select("__band").distinct())
            state_rel = (
                state.join(batch_bands, on="__band", how="left_semi")
                .select("__band", "__sig")
                .distinct()
            )
            hot_bands = (
                state_rel.groupBy("__band")
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > max_bucket_size)
                .select("__band")
            )
            state_ok = state_rel.join(
                F.broadcast(hot_bands), on="__band", how="left_anti"
            )
            hist_hits = (
                banded.alias("b")
                .join(state_ok.alias("s"), on="__band")
                .filter(
                    est_jaccard(F.col("b.__sig"), F.col("s.__sig"))
                    >= F.lit(min_jaccard)
                )
                .select(F.col("b.__id").alias("__id"))
                .distinct()
            )

            # within-batch: min-label over in-batch match pairs, via the
            # same capped gather-and-pair the batch operator uses
            from ..operators.dedup import banded_match_pairs

            batch_pairs = banded_match_pairs(
                banded, min_jaccard, num_hashes, max_bucket_size=max_bucket_size
            )
            in_batch_losers = batch_pairs.select(
                F.col("id_b").alias("__id")
            ).distinct()

            dropped = hist_hits.unionByName(in_batch_losers).distinct()
            survivors = batch_df.join(
                dropped.withColumnRenamed("__id", id_col), on=id_col, how="left_anti"
            )

            # output BEFORE the store append (r12c review fix): a crash
            # between the two writes then replays into duplicate output
            # rows (recoverable downstream); the old order let the
            # replayed batch see its own survivors in the store and
            # drop them — written to neither output nor store's
            # downstream, silent loss
            if output_path is not None:
                survivors.write.mode("append").parquet(output_path)
            banded.join(
                survivors.select(F.col(id_col).alias("__id")), on="__id", how="left_semi"
            ).select("__band", "__id", "__sig").write.mode("append").parquet(state_path)

            if on_batch is not None:
                on_batch(survivors, batch_id)
            if compact_every > 0 and (batch_id + 1) % compact_every == 0:
                compact_minhash_store(spark, state_path)
        finally:
            banded.unpersist()

    writer = stream.writeStream.foreachBatch(process_batch)
    trigger = start_kwargs.pop("trigger", None)
    if trigger:
        writer = writer.trigger(**trigger)
    for key, value in start_kwargs.items():
        writer = writer.option(key, value)
    return writer.start()


#: schema of the banded fingerprint store stream_fingerprint_dedup keeps
#: (the layout operators.dedup.fingerprint_banded_rows emits)
FINGERPRINT_STATE_SCHEMA = "__blk int, __bv bigint, __fp bigint"


def compact_fingerprint_store(spark, state_path: str) -> int:
    """Rewrite a :func:`stream_fingerprint_dedup` store as distinct
    ``(__blk, __bv, __fp)`` rows — same swap protocol and crash
    recovery as :func:`compact_minhash_store` (shared core)."""
    return _compact_store(
        spark, state_path, FINGERPRINT_STATE_SCHEMA,
        ["__blk", "__bv", "__fp"], "compact_fingerprint_store",
    )


def stream_fingerprint_dedup(
    stream: DataFrame,
    state_path: str,
    fingerprints: Optional[Callable[[DataFrame], DataFrame]] = None,
    output_path: Optional[str] = None,
    id_col: str = "doc_id",
    binary_col: str = "media",
    max_hamming: int = 6,
    max_bucket_size: Optional[int] = 1000,
    history_max_bucket_size: Optional[int] = None,
    keep_policy: str = "greedy",
    on_batch: Optional[Callable[[DataFrame, int], None]] = None,
    compact_every: int = 0,
    **start_kwargs,
) -> StreamingQuery:
    """Streaming PERCEPTUAL near-dup dedup — the media sibling of
    :func:`stream_minhash_dedup`: drop any incoming item whose 64-bit
    perceptual fingerprint (image pHash by default) is within
    ``max_hamming`` of an already-accepted item or an earlier in-batch
    item, across micro-batches.

    ``fingerprints`` maps a batch frame to ``(id_col, "fp")`` — default
    :func:`~hermes_spark.operators.multimodal.image_phash` on
    ``binary_col`` (rows that fail decode are passed through UNDEDUPED
    rather than dropped: an undecodable item can't be proven a
    duplicate; filter them upstream if they should not survive).  Swap
    in ``audio_fingerprint`` / ``simhash_fingerprints`` for other
    modalities — the store format is modality-agnostic.

    Per micro-batch (``foreachBatch``), everything delegates to
    :func:`~hermes_spark.operators.dedup.fingerprint_dedup_against`
    against the PRE-BANDED store at ``state_path`` (k+1 rows of three
    longs per accepted fingerprint — batches equi-join on
    ``(__blk, __bv)`` without re-exploding history).  Survivors append
    their banded rows to the store and flow to ``output_path`` /
    ``on_batch``.  Replays re-append survivor rows; duplicate store
    rows are harmless to correctness (the history join collapses them)
    and ``compact_every=K`` reclaims them with the same crash-recovered
    swap as the MinHash store.

    ``max_bucket_size`` caps only the IN-BATCH pairing (over-cap
    buckets collapse); ``history_max_bucket_size`` stays ``None`` by
    default — a capped history join silently finds NOTHING once the
    store saturates its 2048-bucket key space (~cap*256 distinct
    fingerprints; measured in BASELINE.md's fp_saturation probe, the
    uncapped join is also faster).

    ``keep_policy`` defaults to ``"greedy"`` (drop the larger id of
    every in-batch pair — the per-batch semantics of
    :func:`stream_minhash_dedup`); ``"component"`` keeps one
    representative per in-batch cluster even when its minimum matched
    history.
    """
    from ..operators.dedup import fingerprint_dedup_against

    spark = stream.sparkSession
    if compact_every > 0:
        _require_local_path(state_path, "stream_fingerprint_dedup(compact_every)")

    def default_fingerprints(df: DataFrame) -> DataFrame:
        from ..operators.multimodal import image_phash

        return (
            image_phash(df, id_col, binary_col)
            .filter(F.col("phash").isNotNull())
            .select(id_col, F.col("phash").alias("fp"))
        )

    fp_fn = fingerprints or default_fingerprints

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        fps = fp_fn(batch_df).persist()
        try:
            _recover_minhash_store(state_path)
            try:
                store = spark.read.schema(FINGERPRINT_STATE_SCHEMA).parquet(
                    state_path
                )
            except Exception:  # first batch: no store yet
                store = spark.createDataFrame([], FINGERPRINT_STATE_SCHEMA)

            surv_fps, store_rows = fingerprint_dedup_against(
                fps, store, id_col, "fp", max_hamming=max_hamming,
                max_bucket_size=max_bucket_size, keep_policy=keep_policy,
                history_max_bucket_size=history_max_bucket_size,
            )
            # survivors = rows whose fingerprint survived, PLUS rows
            # that produced no fingerprint (decode failures pass through)
            dropped = fps.select(id_col).exceptAll(surv_fps.select(id_col))
            survivors = batch_df.join(dropped, on=id_col, how="left_anti")

            # output BEFORE the store append (see stream_minhash_dedup:
            # crash between the writes -> duplicate output on replay,
            # never silent loss)
            if output_path is not None:
                survivors.write.mode("append").parquet(output_path)
            store_rows.write.mode("append").parquet(state_path)
            if on_batch is not None:
                on_batch(survivors, batch_id)
            if compact_every > 0 and (batch_id + 1) % compact_every == 0:
                compact_fingerprint_store(spark, state_path)
        finally:
            fps.unpersist()

    writer = stream.writeStream.foreachBatch(process_batch)
    trigger = start_kwargs.pop("trigger", None)
    if trigger:
        writer = writer.trigger(**trigger)
    for key, value in start_kwargs.items():
        writer = writer.option(key, value)
    return writer.start()
