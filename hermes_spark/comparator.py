"""Dataset comparator — the engine's flagship dataflow.

Semantics follow the reference comparator
(``datasetComparison/.../DatasetComparator.scala:65-141``):

1. row counts of both inputs
2. schema equivalence check (or provided cherry-pick schema subset check)
3. sort-aligned projection on both sides (``schema_utils.sorted_selector``)
4. synthetic key column ``md5(concat_ws("|", keys cast string))``; falls
   back to all selected columns when no keys are given
5. duplicate gate: a side's duplicate count = number of DISTINCT keys
   occurring >= 2 times (cf. ``DatasetComparator.scala:278-289`` and the
   counting semantics pinned in ``DatasetComparatorSuite.scala:213-219``)
6. relative complements in both directions with EXCEPT DISTINCT semantics
7. ``passed_count = ref_row_count - ref_except_count``
8. diff DataFrame: full-outer join of prefixed complements on the key,
   positional flattening, per-leaf null-safe comparison into ``errCol``
   (concatenated in REVERSED column order, a reference quirk pinned by its
   golden files — ``DatasetComparator.scala:221-230``)

Two execution modes (``ComparisonConfig.mode``):

* ``"reference"`` — replays the reference dataflow (~9-11 Spark jobs,
  inputs re-read per action, no caching), for plan-parity debugging. With
  ``observe_metrics`` (default on) the two input row counts ride along on
  the duplicate-count jobs via ``DataFrame.observe`` — two fewer scans,
  identical values.
* ``"fast"`` (default) — the plan you would actually run on 100 TB:
  a single tagged-union full-row aggregation classifies every distinct row
  as ref-only / actual-only / matched in ONE shuffle, is persisted, and
  then feeds row counts, duplicate counts, both complement counts and
  the diff's row count (one metric action) and the diff join from that
  one materialization.  ``compare()`` itself runs only that metric
  action; ``result_df`` is never evaluated inside it, so the caller's
  write is the diff's one evaluation, read from the cached
  classification and complements.  With AQE on, a differing pair
  measured 4 Spark jobs for ``compare()`` and 6 for the diff write
  (a job-count budget in ``tests/test_e2e_plugins.py``).  Results are
  identical to ``"reference"`` mode (property-tested).
* ``"auto"`` — schema-width heuristic resolves to ``"hash"`` for wide
  rows (the classification shuffle then moves ~40 bytes/row) else
  ``"fast"``; see :meth:`DatasetComparator.choose_mode`.

Scale notes (100 TB design):
* the only unavoidable full-data shuffle is the row-classification
  aggregation; since round 12 it is keyed on the SYNTHETIC KEY (not the
  full row) so the per-key rollup and the diff joins reuse one exchange
  — which means a hot user-supplied key (null-ish join keys, default
  values) with ``allow_duplicates=True`` concentrates in one partition
  with no map-side partial-aggregation relief (docs/TUNING.md
  "duplicate-heavy inputs").  ``ComparisonConfig.skew_guard`` (round
  13) samples the raw key columns on large inputs and falls back to
  the full-row-keyed shape when a hot key is detected.
* the diff joins run over the complements only (usually a tiny fraction of
  the input) and AQE broadcast-joins them at runtime.
* the md5-key inherits the reference's separator-injection caveat
  (``"a|b"+"c"`` vs ``"a"+"b|c"`` collide, SURVEY.md §7.3); key columns are
  length-prefixed when ``safe_key_hash`` is enabled.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import StructType

from .config import ComparisonConfig, DEFAULT_CONFIG
from .exceptions import BadProvidedSchema, DuplicateRowsInDF, SchemasDifferException
from .flatten import flatten_selector
from .naming import generate_unique_column_name
from .result import ComparisonResult
from .schema_utils import (
    diff_schema,
    is_subset,
    schemas_equivalent,
    sorted_selector,
    strip_metadata,
)

_UNIQUE_KEY_BASE = "HermesDatasetComparisonUniqueId"


def _estimate_row_bytes(dtype: T.DataType) -> int:
    """Static estimate of serialized row width from the schema alone.

    Used only to steer ``mode="auto"`` — deliberately crude (no data
    statistics): fixed-width types use their storage size, variable-width
    types a flat guess, containers a small fan-out multiplier.
    """
    if isinstance(dtype, T.StructType):
        return sum(_estimate_row_bytes(f.dataType) for f in dtype.fields)
    if isinstance(dtype, T.ArrayType):
        return 8 * _estimate_row_bytes(dtype.elementType)
    if isinstance(dtype, T.MapType):
        return 8 * (
            _estimate_row_bytes(dtype.keyType)
            + _estimate_row_bytes(dtype.valueType)
        )
    if isinstance(dtype, (T.StringType, T.BinaryType)):
        return 24
    if isinstance(dtype, T.DecimalType):
        return 16
    if isinstance(dtype, (T.DoubleType, T.LongType, T.TimestampType)):
        return 8
    if isinstance(dtype, (T.BooleanType, T.ByteType)):
        return 1
    return 4  # int/float/date/short and anything exotic


class DatasetComparator:
    """Library API mirroring the reference class
    (``DatasetComparator.scala:41-46``): construct with the two DataFrames
    and call :meth:`compare`."""

    def __init__(
        self,
        data_frame_reference: DataFrame,
        data_frame_actual: DataFrame,
        keys: Sequence[str] = (),
        config: ComparisonConfig = DEFAULT_CONFIG,
        optional_schema: Optional[StructType] = None,
        safe_key_hash: bool = False,
    ) -> None:
        self.ref = data_frame_reference
        self.actual = data_frame_actual
        # NOTE: the reference takes Set[String]; we keep the caller's order
        # so the synthetic key is deterministic.
        self.keys = list(keys)
        self.config = config.validate()
        self.optional_schema = optional_schema
        self.safe_key_hash = safe_key_hash
        self._persisted: list[DataFrame] = []

    # ------------------------------------------------------------------ API

    def compare(self) -> ComparisonResult:
        mode = self.config.mode
        if self.config.except_all:
            mode = "reference"  # EXCEPT ALL is only meaningful row-by-row
        elif mode == "auto":
            mode = self.choose_mode()
        if mode == "fast":
            result = self._compare_fast()
        elif mode == "hash":
            result = self._compare_hash()
        else:
            result = self._compare_reference()
        # surface the executed mode in the _METRICS document (matters
        # when "auto" resolved it)
        result.additional_info.setdefault("mode", mode)
        # let callers of the module-level compare() free the fast/hash
        # caches without holding the comparator itself
        result._releaser = self.release
        return result

    def choose_mode(self) -> str:
        """Resolve ``mode="auto"``: pick ``"hash"`` for wide rows, where
        shuffling (key, xxhash64) ~40 bytes/row instead of the full row
        dominates the extra rematerialization scan, else ``"fast"``.

        Width is estimated from the (cherry-picked) schema alone — no
        Spark job. The hash mode's 2^-64 per-pair collision caveat applies
        (see :meth:`_compare_hash`); set the mode explicitly for
        certification runs.
        """
        schema = self.optional_schema or self.ref.schema
        width = _estimate_row_bytes(schema)
        return "hash" if width > self.config.auto_hash_row_bytes else "fast"

    def release(self) -> None:
        """Unpersist the DataFrames cached by fast/hash mode.  Every
        action on ``result_df`` recomputes the diff from these caches, so
        call this after the last one."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def _classification_skew_ok(self) -> bool:
        """Whether keying the classification exchange on the synthetic
        key is safe (no hot key that would serialize into one
        partition).

        Free for whole-row keys (identical rows are duplicates, bounded
        by the duplicate gate) and for inputs under
        ``skew_guard_min_bytes`` (the worst-case partition is bounded by
        the input).  Otherwise one cheap column-pruned sampling job over
        the RAW key columns decides: a key owning more than
        ``skew_guard_factor / shuffle.partitions`` of the sampled rows
        trips the guard and the caller keeps the full-row-keyed shape
        (map-side partial aggregation spreads the hot key; the rollup
        then pays its own — distinct-rows-sized — exchange).
        """
        cfg = self.config
        if not cfg.skew_guard or not self.keys:
            return True
        try:
            from .plans import input_size_bytes

            size = input_size_bytes(self.ref) + input_size_bytes(self.actual)
        except Exception:
            size = 0
        if size < cfg.skew_guard_min_bytes:
            return True
        top = set(self.ref.columns)
        cols = [
            (F.col(f"`{k}`") if k in top else F.col(k)).alias(f"__k{i}")
            for i, k in enumerate(self.keys)
        ]
        sample = (
            self.ref.select(*cols)
            .unionByName(self.actual.select(*cols))
            .sample(fraction=cfg.skew_guard_fraction, seed=7)
        )
        stats = (
            sample.groupBy(*[F.col(f"__k{i}") for i in range(len(cols))])
            .count()
            .agg(
                F.coalesce(F.max("count"), F.lit(0)).alias("mx"),
                F.coalesce(F.sum("count"), F.lit(0)).alias("tot"),
            )
            .collect()[0]
        )
        if stats["tot"] == 0:
            return True
        parts = int(
            self.ref.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        return stats["mx"] * parts <= cfg.skew_guard_factor * stats["tot"]

    # ------------------------------------------------- reference-faithful

    def _compare_reference(self) -> ComparisonResult:
        use_observe = self.config.observe_metrics
        if not use_observe:
            ref_count = self.ref.count()
            actual_count = self.actual.count()

        self._check_schemas()

        selector = sorted_selector(self.optional_schema or self.ref.schema)
        ref_sorted = self.ref.select(*selector)
        actual_sorted = self.actual.select(*selector)

        key = generate_unique_column_name(actual_sorted.columns, _UNIQUE_KEY_BASE)
        keyed_ref = self._add_key_column(selector, ref_sorted, key)
        keyed_actual = self._add_key_column(selector, actual_sorted, key)

        if use_observe:
            # Piggyback the two input row counts on the duplicate-count
            # jobs (which scan every row anyway) — two fewer input scans
            # than the reference's dedicated count() actions, same values.
            obs_ref, obs_actual = Observation(), Observation()
            keyed_ref = keyed_ref.observe(
                obs_ref, F.count(F.lit(1)).alias("rows")
            )
            keyed_actual = keyed_actual.observe(
                obs_actual, F.count(F.lit(1)).alias("rows")
            )

        dup_ref = self._duplicate_count(keyed_ref, key)
        dup_actual = self._duplicate_count(keyed_actual, key)
        if use_observe:
            # Catalyst's empty-relation propagation can prune the
            # CollectMetrics node (e.g. comparing empty local frames);
            # fall back to a plain count — the input is tiny then anyway.
            try:
                ref_count = obs_ref.get["rows"]
            except Exception:
                ref_count = self.ref.count()
            try:
                actual_count = obs_actual.get["rows"]
            except Exception:
                actual_count = self.actual.count()
        if (dup_ref + dup_actual) > 0 and not self.config.allow_duplicates:
            raise DuplicateRowsInDF(dup_ref, dup_actual)

        if self.config.except_all:
            ref_except = keyed_ref.exceptAll(keyed_actual)
            actual_except = keyed_actual.exceptAll(keyed_ref)
        else:
            ref_except = keyed_ref.subtract(keyed_actual)
            actual_except = keyed_actual.subtract(keyed_ref)

        ref_except_count = ref_except.count()
        actual_except_count = actual_except.count()
        passed_count = ref_count - ref_except_count

        result_df = None
        if ref_except_count + actual_except_count > 0:
            result_df = self._create_diff_dataframe(key, ref_except, actual_except)
        diff_count = result_df.count() if result_df is not None else 0

        return ComparisonResult(
            ref_row_count=ref_count,
            new_row_count=actual_count,
            ref_duplicate_count=dup_ref,
            new_duplicate_count=dup_actual,
            passed_count=passed_count,
            used_schema_selector=selector,
            result_df=result_df,
            diff_count=diff_count,
        )

    # ------------------------------------------------------ fast (scale)

    def _compare_fast(self) -> ComparisonResult:
        self._check_schemas()

        selector = sorted_selector(self.optional_schema or self.ref.schema)
        ref_sorted = self.ref.select(*selector)
        actual_sorted = self.actual.select(*selector)

        key = generate_unique_column_name(actual_sorted.columns, _UNIQUE_KEY_BASE)
        keyed_ref = self._add_key_column(selector, ref_sorted, key)
        keyed_actual = self._add_key_column(selector, actual_sorted, key)
        data_cols = keyed_ref.columns  # selected cols + key

        side = generate_unique_column_name(data_cols, "HermesDatasetComparisonSide")
        rcnt = generate_unique_column_name(data_cols, "HermesRefCnt")
        acnt = generate_unique_column_name(data_cols, "HermesActCnt")

        # ONE full-data shuffle: classify every distinct row.  The
        # exchange is keyed on the synthetic KEY, not the full row
        # (round 12): HashPartitioning(key) satisfies the groupBy's
        # clustered distribution (key ⊂ grouping set), so the per-key
        # rollup below AND the diff joins on the key all reuse this one
        # exchange — the old shape paid a second, classification-wide
        # exchange for the rollup plus exchanges under the diff joins.
        # Trade-off (documented in docs/TUNING.md): the map-side partial
        # aggregation the wide groupBy used to get is skipped, which
        # only mattered when one side held many EXACT duplicate rows;
        # certification inputs are near-duplicate-free by contract (the
        # duplicate gate), and the measured interleaved A/B is ~2x in
        # its favor (metrics fold 4.7-13.2 s -> 2.6-4.4 s at sf0.1).
        tagged = keyed_ref.withColumn(side, F.lit("r")).unionByName(
            keyed_actual.withColumn(side, F.lit("a"))
        )
        if self._classification_skew_ok():
            tagged = tagged.repartition(F.col(f"`{key}`"))
        classified = (
            tagged.groupBy(*[F.col(f"`{c}`") for c in data_cols])
            .agg(
                F.sum(F.when(F.col(side) == "r", 1).otherwise(0)).alias(rcnt),
                F.sum(F.when(F.col(side) == "a", 1).otherwise(0)).alias(acnt),
            )
            .persist()
        )
        self._persisted.append(classified)

        # ALL seven compare metrics in ONE action over the cached
        # classification (see _metric_fold)
        metrics = self._metric_fold(classified, key, rcnt, acnt)
        ref_count, actual_count = metrics["ref_rows"], metrics["act_rows"]
        dup_ref, dup_actual = metrics["ref_dups"], metrics["act_dups"]
        if (dup_ref + dup_actual) > 0 and not self.config.allow_duplicates:
            self.release()
            raise DuplicateRowsInDF(dup_ref, dup_actual)

        ref_except_count = metrics["ref_except"]
        actual_except_count = metrics["act_except"]
        passed_count = ref_count - ref_except_count

        result_df = None
        if ref_except_count + actual_except_count > 0:
            # persist the (diff-sized) except frames: the diff dataframe
            # references each side twice (full-outer join + flattened
            # errCol join), and without this each reference re-filters
            # the wide classification cache (round 12; released with the
            # classification in release()).  The diff frame itself is NOT
            # persisted or counted here: diff_count comes from the metric
            # fold, so the caller's first action (the write) is the only
            # evaluation of the three joins.
            ref_except = (
                classified.filter(F.col(acnt) == 0)
                .select(*[F.col(f"`{c}`") for c in data_cols])
                .persist()
            )
            actual_except = (
                classified.filter(F.col(rcnt) == 0)
                .select(*[F.col(f"`{c}`") for c in data_cols])
                .persist()
            )
            self._persisted.extend([ref_except, actual_except])
            result_df = self._create_diff_dataframe(
                key, ref_except, actual_except
            )
        else:
            self.release()

        return ComparisonResult(
            ref_row_count=ref_count,
            new_row_count=actual_count,
            ref_duplicate_count=dup_ref,
            new_duplicate_count=dup_actual,
            passed_count=passed_count,
            used_schema_selector=selector,
            result_df=result_df,
            diff_count=metrics["diff_rows"],
        )

    # ----------------------------------------------------- hash-classify

    def _compare_hash(self) -> ComparisonResult:
        """The widest-scale mode: classify by (key, xxhash64(row)) so the
        classification shuffle moves ~16 bytes per row instead of full
        rows, then rematerialize only the unmatched rows for the diff.

        At 100 TB with sub-percent drift this shuffles ~3 orders of
        magnitude less data than ``"fast"``. Trade-off: a ref row and an
        actual row sharing key and colliding in xxhash64 (p = 2^-64 per
        candidate pair) would be misclassified as equal — acceptable for
        monitoring pipelines, use ``"fast"`` for certification runs.
        """
        self._check_schemas()

        selector = sorted_selector(self.optional_schema or self.ref.schema)
        ref_sorted = self.ref.select(*selector)
        actual_sorted = self.actual.select(*selector)

        key = generate_unique_column_name(actual_sorted.columns, _UNIQUE_KEY_BASE)
        keyed_ref = self._add_key_column(selector, ref_sorted, key)
        keyed_actual = self._add_key_column(selector, actual_sorted, key)
        data_cols = keyed_ref.columns

        rh = generate_unique_column_name(data_cols, "HermesRowHash")
        side = generate_unique_column_name(data_cols, "HermesDatasetComparisonSide")
        rcnt = generate_unique_column_name(data_cols, "HermesRefCnt")
        acnt = generate_unique_column_name(data_cols, "HermesActCnt")

        def light(df: DataFrame) -> DataFrame:
            return df.select(
                F.col(f"`{key}`"),
                F.xxhash64(*[F.col(f"`{c}`") for c in data_cols]).alias(rh),
            )

        tagged = light(keyed_ref).withColumn(side, F.lit("r")).unionByName(
            light(keyed_actual).withColumn(side, F.lit("a"))
        )
        # key-partitioned exchange (round 12, same reasoning as fast
        # mode): HashPartitioning(key) satisfies the (key, rowhash)
        # grouping, so the per-key rollup below runs on the same
        # exchange instead of adding a second one
        if self._classification_skew_ok():
            tagged = tagged.repartition(F.col(f"`{key}`"))
        classified = (
            tagged.groupBy(F.col(f"`{key}`"), F.col(f"`{rh}`"))
            .agg(
                F.sum(F.when(F.col(side) == "r", 1).otherwise(0)).alias(rcnt),
                F.sum(F.when(F.col(side) == "a", 1).otherwise(0)).alias(acnt),
            )
            .persist()
        )
        self._persisted.append(classified)

        # same one-action metric fold as fast mode; here the per-key
        # rollup groups (key, rowhash) classifications
        metrics = self._metric_fold(classified, key, rcnt, acnt)
        ref_count, actual_count = metrics["ref_rows"], metrics["act_rows"]
        dup_ref, dup_actual = metrics["ref_dups"], metrics["act_dups"]
        if (dup_ref + dup_actual) > 0 and not self.config.allow_duplicates:
            self.release()
            raise DuplicateRowsInDF(dup_ref, dup_actual)

        ref_except_count = metrics["ref_except"]
        actual_except_count = metrics["act_except"]
        passed_count = ref_count - ref_except_count

        result_df = None
        if ref_except_count + actual_except_count > 0:
            # pull back ONLY the unmatched rows; broadcast the (key, hash)
            # sets when small enough, else let AQE pick the join
            broadcastable = (
                ref_except_count + actual_except_count
            ) <= self.config.hash_mode_broadcast_rows

            def rematerialize(keyed: DataFrame, cnt_other: str) -> DataFrame:
                wanted = classified.filter(F.col(cnt_other) == 0).select(
                    F.col(f"`{key}`"), F.col(f"`{rh}`")
                )
                if broadcastable:
                    wanted = F.broadcast(wanted)
                hashed = keyed.withColumn(
                    rh, F.xxhash64(*[F.col(f"`{c}`") for c in data_cols])
                )
                return (
                    hashed.join(wanted, on=[key, rh], how="left_semi")
                    .drop(rh)
                    .distinct()
                )

            # NOT persisted (round-12 A/B): Catalyst's ReuseExchange
            # already computes the identical semi-join/distinct subtrees
            # once per action, and a persist() boundary here measured
            # ~2.4 s SLOWER at sf0.1 (cache materialization of wide rows
            # beats the reused-exchange rescan it saves).  Nor is the diff
            # frame: diff_count comes from the metric fold, so the
            # caller's first action is the only evaluation.
            ref_except = rematerialize(keyed_ref, acnt)
            actual_except = rematerialize(keyed_actual, rcnt)
            result_df = self._create_diff_dataframe(
                key, ref_except, actual_except
            )
        else:
            self.release()

        return ComparisonResult(
            ref_row_count=ref_count,
            new_row_count=actual_count,
            ref_duplicate_count=dup_ref,
            new_duplicate_count=dup_actual,
            passed_count=passed_count,
            used_schema_selector=selector,
            result_df=result_df,
            diff_count=metrics["diff_rows"],
        )

    # ------------------------------------------------------------ helpers

    @staticmethod
    def _metric_fold(
        classified: DataFrame, key: str, rcnt: str, acnt: str
    ) -> Row:
        """All seven metrics of a fast/hash compare in ONE action
        over the cached classification (one row per distinct row, or per
        ``(key, rowhash)`` in hash mode, with its per-side counts).

        The per-key rollup carries the distinct-row complement counts
        alongside per-key row sums, then a single global aggregation
        folds everything.  A side's duplicate count = distinct keys with
        >= 2 rows on that side; a side's except count = distinct rows the
        other side never produced.  ``diff_rows`` is the row count of the
        diff frame: with ``r``/``a`` a key's ref-only/actual-only
        distinct rows, its full-outer join holds ``n = r*a`` rows when
        both are > 0 (else ``r + a``), and the inner join with its
        flattened twin on the key squares that, so the frame holds
        ``sum(n*n)`` rows — no evaluation of the diff needed.
        """
        per_key = classified.groupBy(F.col(f"`{key}`")).agg(
            F.sum(rcnt).alias(rcnt),
            F.sum(acnt).alias(acnt),
            F.sum(F.when(F.col(acnt) == 0, 1).otherwise(0)).alias("__refx"),
            F.sum(F.when(F.col(rcnt) == 0, 1).otherwise(0)).alias("__actx"),
        )
        refx, actx = F.col("__refx"), F.col("__actx")
        joined_rows = F.when((refx > 0) & (actx > 0), refx * actx).otherwise(
            refx + actx
        )

        def total(c: Column) -> Column:
            return F.coalesce(F.sum(c), F.lit(0))

        return per_key.agg(
            total(F.col(rcnt)).alias("ref_rows"),
            total(F.col(acnt)).alias("act_rows"),
            total(F.when(F.col(rcnt) >= 2, 1).otherwise(0)).alias("ref_dups"),
            total(F.when(F.col(acnt) >= 2, 1).otherwise(0)).alias("act_dups"),
            total(refx).alias("ref_except"),
            total(actx).alias("act_except"),
            total(joined_rows * joined_rows).alias("diff_rows"),
        ).collect()[0]

    def _check_schemas(self) -> None:
        expected = strip_metadata(self.ref.schema)
        actual = strip_metadata(self.actual.schema)
        if self.optional_schema is not None:
            provided = strip_metadata(self.optional_schema)
            if not is_subset(provided, actual) or not is_subset(provided, expected):
                diff = diff_schema(provided, actual) + diff_schema(provided, expected)
                raise BadProvidedSchema("\n".join(diff))
        elif not schemas_equivalent(expected, actual):
            diff = diff_schema(expected, actual) + diff_schema(actual, expected)
            raise SchemasDifferException("\n".join(diff))

    def _add_key_column(
        self, selector: list[Column], df: DataFrame, key: str
    ) -> DataFrame:
        if self.keys:
            # a key not present as a top-level column may address a nested
            # struct field by dotted path (reference supports compound keys
            # like `ckey.value`, cf. its xml_examples golden test) — only
            # backtick names that are actual top-level columns
            top = set(df.columns)
            cols = [
                (F.col(f"`{k}`") if k in top else F.col(k)).cast("string")
                for k in self.keys
            ]
        else:
            # whole-row key, cf. DatasetComparator.scala:263-270
            cols = [F.col(f"`{c}`").cast("string") for c in df.columns]
        if self.safe_key_hash:
            # length-prefix each part to defeat separator injection
            cols = [
                F.concat_ws(":", F.length(c).cast("string"), c) for c in cols
            ]
        return df.withColumn(key, F.md5(F.concat_ws("|", *cols)))

    @staticmethod
    def _duplicate_count(df: DataFrame, key: str) -> int:
        return (
            df.groupBy(F.col(f"`{key}`"))
            .count()
            .filter(F.col("count") >= 2)
            .count()
        )

    def _join_prefixed(
        self, ref_df: DataFrame, actual_df: DataFrame, key: str
    ) -> DataFrame:
        """Full-outer join of the two sides on the key, all non-key columns
        renamed with the expected/actual prefixes
        (cf. ``DatasetComparator.scala:207-211,298-308``)."""

        def rename(df: DataFrame, prefix: str) -> DataFrame:
            return df.select(
                *[
                    F.col(f"`{c}`")
                    if c == key
                    else F.col(f"`{c}`").alias(f"{prefix}_{c}")
                    for c in df.columns
                ]
            )

        expected = rename(ref_df, self.config.expected_prefix)
        actual = rename(actual_df, self.config.actual_prefix)
        return expected.join(actual, on=[key], how="full")

    def _create_diff_dataframe(
        self, key: str, ref_except: DataFrame, actual_except: DataFrame
    ) -> DataFrame:
        joined = self._join_prefixed(ref_except, actual_except, key)

        formula = flatten_selector(ref_except, actual_except)
        flat_expected = ref_except.select(*formula)
        flat_actual = actual_except.select(*formula)
        flat_joined = self._join_prefixed(flat_expected, flat_actual, key)

        columns = [c for c in flat_expected.columns if c != key]
        err_parts = [
            F.when(
                F.col(f"`{self.config.actual_prefix}_{c}`").eqNullSafe(
                    F.col(f"`{self.config.expected_prefix}_{c}`")
                ),
                F.array().cast("array<string>"),
            ).otherwise(F.array(F.lit(c)))
            # reversed order is a reference quirk pinned by its golden files
            for c in reversed(columns)
        ]
        err_col = (
            F.concat(*err_parts) if err_parts else F.array().cast("array<string>")
        )
        flat_with_err = flat_joined.withColumn(self.config.error_column_name, err_col)

        return (
            joined.alias("df1")
            .join(flat_with_err.alias("df2"), on=[key])
            .select("df1.*", f"df2.{self.config.error_column_name}")
            .drop(key)
        )


def compare(
    ref: DataFrame,
    actual: DataFrame,
    keys: Sequence[str] = (),
    config: ComparisonConfig = DEFAULT_CONFIG,
    schema: Optional[StructType] = None,
    safe_key_hash: bool = False,
) -> ComparisonResult:
    """Compare two DataFrames; the primary library entry point
    (cf. reference usage ``DatasetComparator.scala:41-46`` /
    ``plugins/DatasetComparisonPlugin.scala:84-104``).

    Note: fast/hash modes persist the intermediates the returned
    ``result_df`` is computed from (each action on it re-runs the diff
    joins over them). After the last action on ``result_df``, call
    ``result.release()`` to free the executor storage (the CLI job and
    plugins do; equivalent to :meth:`DatasetComparator.release` on the
    producing instance)."""
    return DatasetComparator(
        ref, actual, keys=keys, config=config, optional_schema=schema,
        safe_key_hash=safe_key_hash,
    ).compare()


def compare_common_columns(
    ref: DataFrame,
    actual: DataFrame,
    keys: Sequence[str] = (),
    config: ComparisonConfig = DEFAULT_CONFIG,
    safe_key_hash: bool = False,
) -> ComparisonResult:
    """Compare only the columns BOTH sides share (schema-evolution
    tolerant variant of :func:`compare`).

    The reference aborts on any schema drift; this computes the
    intersection schema (``schema_utils.intersect_schemas``) and feeds
    it through the cherry-pick path, so snapshots across an additive
    migration (column added/retired) still certify on their common
    columns. Raises :class:`SchemasDifferException` when the sides
    share no columns.
    """
    from .schema_utils import intersect_schemas

    schema = intersect_schemas(
        strip_metadata(ref.schema), strip_metadata(actual.schema)
    )
    if not schema.fields:
        raise SchemasDifferException(
            "datasets share no columns with matching types"
        )
    return DatasetComparator(
        ref,
        actual,
        keys=keys,
        config=config,
        optional_schema=schema,
        safe_key_hash=safe_key_hash,
    ).compare()
