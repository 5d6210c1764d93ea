"""Plan-quality regression tests: pushdown, pruning, broadcast, shuffle
counts. These pin the 100 TB posture — a change that turns a pushed
filter into a post-scan filter or a broadcast into a shuffle fails here
first."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from hermes_spark.plans import (
    count_exchanges,
    has_broadcast_join,
    plan_operators,
    pushed_filters,
    read_schemas,
)


def test_q1_scan_prunes_and_pushes(spark, sf_dir):
    q1 = entry.q_q1_pricing_summary(spark, sf_dir)
    schemas = read_schemas(q1)
    assert len(schemas) == 1
    # 7 needed columns, nothing else (lineitem has 11)
    assert schemas[0].count(",") == 6, schemas
    assert "l_partkey" not in schemas[0]
    assert any("l_shipdate" in f for f in pushed_filters(q1))


def test_q3_broadcasts_small_sides(spark, sf_dir):
    q3 = entry.q_q3_shipping_priority(spark, sf_dir)
    assert has_broadcast_join(q3)
    assert any("c_mktsegment" in f and "BUILDING" in f for f in pushed_filters(q3))
    # top-k is TakeOrderedAndProject, not global sort
    assert any("TakeOrderedAndProject" in op for op in plan_operators(q3))


def test_filter_reaches_parquet_scan(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") == 42)
        .select("o_orderkey", "o_totalprice")
    )
    assert any("o_orderkey" in f and "42" in f for f in pushed_filters(df))
    schemas = read_schemas(df)
    assert schemas and schemas[0].count(",") == 1


def test_minhash_single_scan_of_documents(spark, sf_dir):
    """Candidate generation re-uses one signature computation; the text
    column is scanned, hashed once, and never shuffled raw."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from hermes_spark.operators import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs, "doc_id", "text")
    ops = plan_operators(pairs)
    scans = [op for op in ops if op.startswith("Scan parquet")]
    # documents scanned at most twice (bucket-size stats + join input)
    assert 1 <= len(scans) <= 3, scans


def test_exact_dedup_is_one_shuffle(spark, sf_dir):
    # single window over the fingerprint: exactly one Exchange, and the
    # (wide) text payload never re-joins through a second shuffle
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from hermes_spark.operators import exact_dedup

    out = exact_dedup(docs, "doc_id", text_col="text")
    assert count_exchanges(out) == 1
    assert not any("Join" in op for op in plan_operators(out))


def test_tfidf_prunes_scan_and_broadcasts_total(spark, sf_dir):
    """tfidf reads only (doc_id, text) and joins the corpus count as a
    broadcast, not a shuffle."""
    out = entry.q_tfidf_topk_terms(spark, sf_dir)
    schemas = read_schemas(out)
    assert all(s.count(",") <= 1 for s in schemas), schemas
    assert has_broadcast_join(out)
    # tf agg, term repartitions for dfreq + join, window, and the
    # two-stage count_distinct — bounded exchange count
    assert count_exchanges(out) <= 6


def test_skew_report_single_agg_pass(spark, sf_dir):
    from hermes_spark.operators import skew_report

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = skew_report(df, ["o_custkey"], top_n=10)
    schemas = read_schemas(out)
    # only the key column is read from the counted side
    assert any(s.count(",") == 0 for s in schemas), schemas
    assert has_broadcast_join(out)
    # top-N via TakeOrderedAndProject, never a global sort
    assert any("TakeOrderedAndProject" in op for op in plan_operators(out))


def test_vectorized_topk_uses_arrow_eval(spark, sf_dir):
    """The pandas variant runs mapInPandas (ArrowEvalPython / MapInPandas
    node), and the corpus scan reads only (vec_id, embedding)."""
    out = entry.q_ann_cosine_topk_vec(spark, sf_dir)
    ops = plan_operators(out)
    assert any("MapInPandas" in op or "ArrowEval" in op for op in ops), ops
    schemas = read_schemas(out)
    assert all(s.count(",") <= 2 for s in schemas), schemas


def test_suggest_shuffle_partitions(spark, sf_dir):
    from hermes_spark.plans import input_size_bytes, suggest_shuffle_partitions

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    size = input_size_bytes(df)
    assert size > 10_000  # real bytes on disk
    advice = suggest_shuffle_partitions(df, target_partition_bytes=1024 * 1024)
    assert advice["input_bytes"] == size
    assert advice["estimated_shuffle_bytes"] == int(size * 3.0)
    assert advice["suggested_shuffle_partitions"] >= 8


def test_split_assign_zero_shuffle(spark, sf_dir):
    from hermes_spark.operators.sampling import split_assign

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = split_assign(docs, "doc_id", {"train": 0.9, "val": 0.1})
    # pure expression on the scan: no Exchange anywhere in the plan
    assert count_exchanges(out) == 0


def test_sample_per_group_single_shuffle(spark, sf_dir):
    from hermes_spark.operators.sampling import sample_per_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = sample_per_group(docs, "doc_id", "source", k=3)
    assert count_exchanges(out) == 1  # just the per-group window


def test_source_overlap_one_wide_shuffle(spark, sf_dir):
    from hermes_spark.operators.dedup import source_overlap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = source_overlap(docs, "doc_id", "text")
    # one wide shuffle (fingerprint groupBy with map-side collect_set
    # partials) + one tiny source-pair aggregation; never a third, and
    # never a corpus self-join
    assert count_exchanges(out) <= 2
    assert not any("Join" in op for op in plan_operators(out))


def test_length_curriculum_single_agg(spark, sf_dir):
    from hermes_spark.operators.packing import length_curriculum

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = length_curriculum(docs, "doc_id")
    assert count_exchanges(out) == 1
    # bin id must be computed scan-side, not from a shuffled intermediate
    schemas = read_schemas(out)
    assert len(schemas) == 1 and "text" in schemas[0]


def test_split_output_partition_pruning(spark, sf_dir, tmp_path):
    """Writing partitionBy('split') and filtering on it must prune
    partitions at the source (no full-table scan for one split)."""
    from hermes_spark.operators.sampling import split_assign

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out_dir = str(tmp_path / "by_split")
    split_assign(docs, "doc_id", {"train": 0.8, "val": 0.2}).write.partitionBy(
        "split"
    ).parquet(out_dir)

    train = spark.read.parquet(out_dir).filter(F.col("split") == "train")
    plan = train._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "split" in plan.split("PartitionFilters")[1][:80]
    # pruned read returns exactly the train rows
    all_rows = spark.read.parquet(out_dir).count()
    assert 0 < train.count() < all_rows


def test_funnel_counts_single_user_shuffle(spark, sf_dir):
    """k-step funnel is ONE user-keyed Exchange (sorted-array fold), not
    k-1 re-joins of the events frame; the step-type IN filter pushes to
    the scan."""
    from hermes_spark.operators import funnel_counts

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = funnel_counts(events, ["view", "click", "purchase"])
    ops = plan_operators(out)
    assert not any("Join" in op for op in ops), ops
    # one Exchange for groupBy(user); the final global agg + explode adds
    # a single-partition exchange over k rows, which is free
    scans = [op for op in ops if op.startswith("Scan parquet")]
    assert len(scans) == 1, scans
    exchanges = count_exchanges(out)
    assert exchanges <= 2, exchanges


def test_cohort_retention_no_join(spark, sf_dir):
    from hermes_spark.operators import cohort_retention

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = cohort_retention(events)
    ops = plan_operators(out)
    assert not any("Join" in op for op in ops), ops


def test_char_entropy_partial_aggregates(spark, sf_dir):
    """Entropy is two hash aggregates with map-side partial combine —
    the (id, unit) repeats collapse BEFORE each exchange, and the text
    column itself never shuffles."""
    from hermes_spark.operators import unit_entropy

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = unit_entropy(docs, "doc_id", "text", unit="char")
    ops = plan_operators(out)
    aggs = [op for op in ops if "HashAggregate" in op]
    # partial + final per stage = 4 HashAggregate nodes, 2 exchanges
    assert len(aggs) == 4, aggs
    assert count_exchanges(out) == 2
    assert not any("Join" in op for op in plan_operators(out))


def test_rebalance_mix_broadcasts_thresholds(spark, sf_dir):
    """The corpus joins the tiny per-stratum threshold table via
    broadcast — never a SortMergeJoin of the full corpus."""
    from hermes_spark.operators import rebalance_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = rebalance_mix(docs, "doc_id", "lang", {"en": 0.5, "de": 0.5})
    assert has_broadcast_join(out)
    assert not any("SortMergeJoin" in op for op in plan_operators(out))


def test_sq8_quantize_is_scan_side(spark, sf_dir):
    """Quantization = stats aggregate (tiny) broadcast onto one corpus
    projection: no shuffle of the vectors, no sort, no non-broadcast
    join."""
    from hermes_spark.operators import sq8_quantize

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = sq8_quantize(emb, dim=64)
    ops = plan_operators(out)
    assert not any("SortMergeJoin" in op for op in ops)
    assert not any("Sort " == op or op.startswith("Sort") for op in ops), ops
    # the only exchanges belong to the 1-row stats aggregate + broadcast
    assert count_exchanges(out) <= 2


def test_scd2_lookup_two_window_shuffles_only(spark, sf_dir):
    """Temporal dimension lookup stays an as-of union+window: exactly
    the same-ts dedup exchange and the per-key as-of exchange — no
    interval replication join."""
    df = entry.q_scd2_lookup_orders(spark, sf_dir)
    assert count_exchanges(df) == 2, plan_operators(df)
    assert not any(
        "NestedLoop" in op or "CartesianProduct" in op for op in plan_operators(df)
    )


def test_incremental_rollup_merge_reuses_partitioning(spark, sf_dir):
    """Each branch shuffles once on the rollup keys; the merge aggregate
    rides the same hash partitioning (no third exchange)."""
    df = entry.q_incremental_rollup(spark, sf_dir)
    assert count_exchanges(df) == 2, plan_operators(df)


def test_pmi_broadcasts_counts_and_takes_topk(spark, sf_dir):
    """Unigram-count joins broadcast (vocabulary-sized side) and the
    final cut is TakeOrderedAndProject, not a global sort."""
    df = entry.q_pmi_collocations(spark, sf_dir)
    ops = plan_operators(df)
    assert has_broadcast_join(df)
    assert any("TakeOrderedAndProject" in op for op in ops)


def test_pagerank_iteration_has_no_quadratic_join(spark, sf_dir):
    """Each power iteration is keyed equi-joins + one aggregation; the
    dangling-mass fold is a broadcast one-row aggregate, never a
    nested-loop over ranks."""
    df = entry.q_pagerank_links(spark, sf_dir)
    ops = plan_operators(df)
    assert not any("CartesianProduct" in op for op in ops)
    # the one-row dangling aggregate arrives via broadcast
    assert any("BroadcastNestedLoopJoin" in op or "BroadcastExchange" in op
               for op in ops)


def test_embedding_profile_partial_aggregates(spark, sf_dir):
    """The per-dim profile is explode + hash aggregate: exactly one
    exchange, carrying dim-sized partials, never vectors."""
    df = entry.q_embedding_dim_profile(spark, sf_dir)
    assert count_exchanges(df) == 1, plan_operators(df)
    # partial (map-side) aggregation precedes the exchange
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_avg" in plan and "partial_stddev" in plan, plan


def test_standardize_broadcasts_stats_no_vector_shuffle(spark, sf_dir):
    """Whitening folds the stats into a one-row broadcast; the vectors
    themselves are transformed scan-side (no exchange keyed on them)."""
    df = entry.q_embedding_standardize(spark, sf_dir)
    ops = plan_operators(df)
    assert any("BroadcastNestedLoopJoin" in op or "BroadcastExchange" in op for op in ops)
    # the only exchange is the dim-stats aggregation, not the vectors
    assert count_exchanges(df) <= 2, ops


def _window_prune_shape_ok(df):
    """True when the rank<=k window runs with a PARTIAL WindowGroupLimit
    below its exchange: each input partition is pruned to its own top-k
    map-side, so the shuffle carries k * partitions * |q| rows, never
    |corpus| * |q| through one task per query."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    partial = [i for i, l in enumerate(lines)
               if "WindowGroupLimit" in l and "Partial" in l]
    exchanges = [i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l]
    # toString prints the tree top-down, so "map side of the window
    # shuffle" = a Partial group-limit on a LATER line than an exchange
    return any(p > e for p in partial for e in exchanges)


def test_brute_topk_prunes_before_exchange(spark, sf_dir):
    """Catalyst must rewrite the brute searchers' row_number()<=k into
    Partial+Final WindowGroupLimit (the map-side top-k prune). If this
    fails, the operator drifted off the idiom the optimizer recognizes
    and the per-query single-task cliff is back — fix the operator, not
    the test."""
    from hermes_spark.operators import brute_force_cosine_topk, sq8_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    for df in (
        brute_force_cosine_topk(emb, queries, k=5),
        sq8_topk(emb, queries, k=5, dim=64),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan and "Partial" in plan, plan
        assert _window_prune_shape_ok(df), plan


def test_minhash_mega_cluster_collapse_adds_no_exchange(spark, sf_dir):
    """Round-6: the oversized-bucket collapse (identical-signature
    chains + representative pairs) is pure per-row array expressions on
    the GATHERED bucket — the plan must keep the exact pre-collapse
    shuffle count (one groupBy exchange + one distinct exchange), not
    grow a join or an extra aggregation."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from hermes_spark.operators import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs, "doc_id", "text")
    assert count_exchanges(pairs) <= 2, plan_operators(pairs)
    assert not any("Join" in op for op in plan_operators(pairs))


def test_rebalance_for_cpu_no_ops(spark, sf_dir, tmp_path):
    from hermes_spark.plans import rebalance_for_cpu

    # in-memory frame: no input files -> untouched (same plan object)
    mem = spark.createDataFrame([(1, "x")], "id int, text string")
    assert rebalance_for_cpu(mem) is mem
    # small file input: under min_bytes -> untouched (this is every
    # test fixture and sf0.001/sf0.01 table in the suite)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert rebalance_for_cpu(docs) is docs


def test_rebalance_for_cpu_runs_no_job_under_the_floor(spark, tmp_path):
    """The size check reads filesystem metadata only; the partition
    count needs ``df.rdd``, which under AQE runs the upstream shuffles
    (here the exact-dedup window's exchange).  An input under
    ``min_bytes`` must return before that: no job, same frame."""
    import uuid

    from hermes_spark.operators import exact_dedup
    from hermes_spark.plans import rebalance_for_cpu

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"document {i % 7}") for i in range(40)], "doc_id long, text string"
    ).write.parquet(path)
    deduped = exact_dedup(spark.read.parquet(path), "doc_id", text_col="text")
    sc = spark.sparkContext
    group = f"rebalance-guard-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "rebalance_for_cpu under the size floor")
    try:
        out = rebalance_for_cpu(deduped)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert out is deduped
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_rebalance_for_cpu_engages_on_narrow_large(spark, sf_dir, tmp_path):
    from hermes_spark.plans import count_exchanges, rebalance_for_cpu

    narrow_path = str(tmp_path / "narrow")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.coalesce(1).write.parquet(narrow_path)
    narrow = spark.read.parquet(narrow_path)
    # min_bytes lowered to simulate a large narrow input
    out = rebalance_for_cpu(narrow, min_bytes=1)
    cores = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == cores * 2
    assert count_exchanges(out) >= 1  # the widening exchange is present
    assert out.count() == narrow.count()
