from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from hermes_spark.operators import (
    duplicate_clusters,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_near_dup_pairs,
)

from near_dup_reference import minhash_pairs_reference


def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (3, "The  quick brown fox jumps over the lazy dog"),  # normalized dup
            (4, "the quick brown fox jumped over the lazy dogs"),  # near dup
            (5, "completely different content about spark engines"),
        ],
        "doc_id int, text string",
    )


def test_exact_dedup(spark):
    out = exact_dedup(docs(spark), "doc_id", text_col="text")
    rows = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    assert set(rows) == {1, 4, 5}
    assert rows[1] == 3  # docs 1, 2, 3 collapse


def test_duplicate_clusters(spark):
    out = duplicate_clusters(docs(spark), "doc_id", "text").collect()
    assert len(out) == 1
    assert out[0]["cluster_size"] == 3
    assert out[0]["member_ids"] == [1, 2, 3]


def test_minhash_lsh_finds_near_dups(spark):
    out = minhash_lsh_pairs(docs(spark), "doc_id", "text").collect()
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in out}
    assert pairs[(1, 2)] == 1.0  # identical docs agree on every component
    # near-dup 4 should be caught against at least one of 1/2
    near = [p for p in pairs if 4 in p and (1 in p or 2 in p)]
    assert near, pairs
    # unrelated doc 5 must not pair with jaccard 1.0
    assert all(v < 1.0 for k, v in pairs.items() if 5 in k)


def test_ngram_jaccard(spark):
    out = ngram_jaccard_pairs(docs(spark), "doc_id", "text", min_jaccard=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs  # near dup above 0.5
    assert not any(5 in k for k in pairs)


def test_simhash_near_dups(spark):
    fps = {r["id"]: r["simhash"] for r in simhash_fingerprints(docs(spark), "doc_id", "text").collect()}
    assert fps[1] == fps[2]
    assert all(0 <= v < 2 ** 32 for v in fps.values())
    out = simhash_near_dup_pairs(spark and docs(spark), "doc_id", "text", max_hamming=6).collect()
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    assert pairs[(1, 2)] == 0
    assert (1, 4) in pairs or (2, 4) in pairs


def _shingle_set(text, n=3):
    return {text[:n]} if len(text) <= n else {
        text[i:i + n] for i in range(len(text) - n + 1)
    }


def test_ngram_jaccard_runs_shingle_kernel_once(spark, monkeypatch):
    """Both join sides read one materialization of the shingles: the
    Arrow shingle kernel sees each input batch once per call (it ran
    once per side), and the pairs equal a plain-Python Jaccard."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumped over the lazy dogs",
        "a quick brown fox jumps over a lazy dog",
        "completely different content about spark engines",
        "spark engines shuffle partitions",
        "fox",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).coalesce(1)  # one input partition: one Arrow batch per kernel pass
    batches = spark.sparkContext.accumulator(0)
    map_in_arrow = type(df).mapInArrow

    def counting_map_in_arrow(self, func, schema, *args, **kwargs):
        def counted(iterator):
            for batch in func(iterator):
                batches.add(1)
                yield batch

        return map_in_arrow(self, counted, schema, *args, **kwargs)

    monkeypatch.setattr(type(df), "mapInArrow", counting_map_in_arrow)
    rows = ngram_jaccard_pairs(df, "doc_id", "text", min_jaccard=0.3).collect()
    assert batches.value == 1

    want = {}
    for a, ta in enumerate(texts):
        for b, tb in enumerate(texts):
            sa, sb = _shingle_set(ta), _shingle_set(tb)
            jac = len(sa & sb) / max(len(sa | sb), 1)
            if a < b and jac >= 0.3:
                want[(a, b)] = jac
    got = {(r.id_a, r.id_b): r.jaccard for r in rows}
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) < 1e-6 for k in want)


def test_connected_components_basic(spark):
    from hermes_spark.operators import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 3)], ["id_a", "id_b"]
    )
    got = {
        (r.id, r.component) for r in connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (9, 1), (5, 5), (6, 5)}


def test_connected_components_chain_converges(spark, distributed_cc):
    """A long path graph needs diameter rounds — pins the iteration loop."""
    from hermes_spark.operators import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id_a", "id_b"]
    )
    got = {(r.id, r.component) for r in connected_components(pairs).collect()}
    assert got == {(i, 0) for i in range(13)}


def test_fuzzy_dedup_keep_one(spark, documents):
    from pyspark.sql import functions as F

    from hermes_spark.operators import fuzzy_dedup_keep_one, minhash_lsh_pairs

    dups = documents.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", (F.col("doc_id") + 100000).cast("long")
    )
    corpus = documents.unionByName(dups)
    pairs = minhash_lsh_pairs(corpus, "doc_id", "text").filter(
        F.col("est_jaccard") >= 0.999
    )
    kept = fuzzy_dedup_keep_one(corpus, "doc_id", pairs)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # every re-keyed copy is dropped, every original kept
    assert all(i + 100000 not in kept_ids for i in range(10))
    assert all(i in kept_ids for i in range(10))


def test_deterministic_sample_invariants(spark, documents):
    from hermes_spark.operators import deterministic_sample

    s10 = deterministic_sample(documents, "doc_id", 0.10)
    s50 = deterministic_sample(documents, "doc_id", 0.50)
    ids10 = {r.doc_id for r in s10.select("doc_id").collect()}
    ids50 = {r.doc_id for r in s50.select("doc_id").collect()}
    # nested-subset property: smaller fraction ⊆ larger fraction
    assert ids10 <= ids50
    # determinism across runs and repartitioning
    again = {
        r.doc_id
        for r in deterministic_sample(documents.repartition(7), "doc_id", 0.10)
        .select("doc_id").collect()
    }
    assert again == ids10
    # fraction roughly honored
    n = documents.count()
    assert 0.03 * n <= len(ids10) <= 0.2 * n
    # independent salt draws a different sample
    other = {
        r.doc_id
        for r in deterministic_sample(documents, "doc_id", 0.10, salt="v2")
        .select("doc_id").collect()
    }
    assert other != ids10


def test_stratified_sample_fractions(spark, documents):
    from pyspark.sql import functions as F

    from hermes_spark.operators import stratified_sample

    out = stratified_sample(
        documents, "doc_id", "lang", {"en": 1.0}, default_fraction=0.0
    )
    langs = {r.lang for r in out.select("lang").distinct().collect()}
    assert langs == {"en"}
    assert out.count() == documents.filter(F.col("lang") == "en").count()


def test_mix_corpora(spark, documents):
    from pyspark.sql import functions as F

    from hermes_spark.operators import mix_corpora

    curated = documents.filter(F.col("doc_id") < 200)
    crawl = documents.filter(F.col("doc_id") >= 200)
    mixed = mix_corpora([(curated, 1.0), (crawl, 0.3)], "doc_id")
    n_cur, n_crawl = curated.count(), crawl.count()
    by_src = {r.mix_source: r.n for r in mixed.groupBy("mix_source")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_src[0] == n_cur                     # 100% kept
    assert 0.1 * n_crawl < by_src[1] < 0.5 * n_crawl  # ~30%
    # reproducible
    again = mix_corpora([(curated, 1.0), (crawl, 0.3)], "doc_id")
    assert {r.doc_id for r in again.select("doc_id").collect()} == {
        r.doc_id for r in mixed.select("doc_id").collect()
    }


def test_star_components_match_label_propagation(spark):
    """large-star/small-star must agree with min-label propagation on a
    basic graph, a long chain, and a seeded random graph."""
    import random

    from hermes_spark.operators import (
        connected_components,
        connected_components_star,
    )

    cases = [
        [(1, 2), (2, 3), (5, 6), (9, 3)],
        [(i, i + 1) for i in range(40)],  # path graph: worst diameter
    ]
    rng = random.Random(42)
    cases.append(
        list({(rng.randrange(60), rng.randrange(60)) for _ in range(80)})
    )
    for edges in cases:
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        lp = {
            (r.id, r.component)
            for r in connected_components(pairs).collect()
        }
        star = {
            (r.id, r.component)
            for r in connected_components_star(pairs).collect()
        }
        # star drops nodes only ever seen in self-loops (a,a); label
        # propagation keeps them — align before comparing
        self_only = {a for a, b in edges if a == b}
        linked = {x for a, b in edges if a != b for x in (a, b)}
        lp = {(i, c) for i, c in lp if i in linked or i not in self_only}
        assert star == lp, edges


def test_star_components_converges_fast_on_chain(spark, distributed_cc):
    """O(log^2 n) rounds: a 64-node path must finish well under the
    diameter-many rounds label propagation would need."""
    from hermes_spark.operators import connected_components_star

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], ["id_a", "id_b"]
    )
    got = {
        (r.id, r.component)
        for r in connected_components_star(pairs, max_iter=8).collect()
    }
    assert got == {(i, 0) for i in range(64)}


def test_blocking_key_pairs(spark):
    from hermes_spark.operators import blocking_key_pairs

    df = spark.createDataFrame(
        [
            (1, "The  quick brown fox ran far away"),
            (2, "the quick brown fox ran far away!!"),
            (3, "completely different text here"),
            (4, "the quick brown dog"),  # shares the 12-char prefix too
            (5, "   "),
        ],
        "doc_id long, text string",
    )
    rows = blocking_key_pairs(df, "doc_id", "text", prefix_len=12).collect()
    pairs = {(r.id_a, r.id_b) for r in rows}
    assert pairs == {(1, 2), (1, 4), (2, 4)}
    assert all(r.block_key == "the quick br" for r in rows)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_edges_strategy = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)),
    min_size=0,
    max_size=25,
)


def _union_find_components(edges):
    """Driver-side ground truth: min-id component per node."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {x: find(x) for x in parent}


def _cc_expected(edges):
    """Union-find reference for both algorithms: pairs with a null
    endpoint are dropped; the star variant also drops nodes seen only in
    self pairs ``(a, a)``."""
    kept = [(a, b) for a, b in edges if a is not None and b is not None]
    label = set(_union_find_components(kept).items())
    linked = {x for a, b in kept if a != b for x in (a, b)}
    return label, {(n, c) for n, c in label if n in linked}


def _assert_cc_match_union_find(spark, edges):
    from hermes_spark.operators import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(edges, "id_a int, id_b int")
    label_expected, star_expected = _cc_expected(edges)
    lp = {(r.id, r.component) for r in connected_components(pairs).collect()}
    assert lp == label_expected
    star = {
        (r.id, r.component)
        for r in connected_components_star(pairs).collect()
    }
    assert star == star_expected


# The clustering tests below run twice: on the default path (graphs this
# small finish on the driver) and, under ``distributed_cc``, on the
# distributed rounds.
_cc_settings = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_cc_settings
@given(edges=_edges_strategy)
def test_cc_algorithms_match_union_find(spark, edges):
    _assert_cc_match_union_find(spark, edges)


@_cc_settings
@given(edges=_edges_strategy)
def test_cc_distributed_rounds_match_union_find(spark, distributed_cc, edges):
    _assert_cc_match_union_find(spark, edges)


def test_cc_algorithms_match_union_find_on_planted_shapes(spark):
    """Both clustering algorithms against the union-find reference on
    seeded random graphs, a 200-node chain (the minimum id at one end),
    a star, duplicate/reversed/self pairs, and string ids with null
    endpoints (empty pair lists: the hypothesis test above and the
    no-blocking test below)."""
    import random

    from hermes_spark.operators import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(301)
    random_graphs = [
        (off + rng.randrange(n), off + rng.randrange(n))
        for off, n, m in ((0, 120, 90), (200, 60, 150))
        for _ in range(m)
    ]
    chain = [(1000 + i + 1, 1000 + i) for i in range(199)]  # 200 nodes
    star = [(2000, 2000 + i) for i in range(1, 40)]
    repeats = [
        (3001, 3002), (3002, 3001), (3001, 3002),  # duplicate + reversed
        (3003, 3003), (3003, 3004), (3005, 3005),  # self pairs
    ]
    strings = [
        ("m", "k"), ("k", "z"), ("z", "m"), ("b", "a"), ("s", "s"),
        ("q", None), (None, "a"), (None, None),  # dropped
    ]
    cases = [
        (random_graphs + chain + star + repeats, "id_a long, id_b long"),
        (strings, "id_a string, id_b string"),
    ]
    for edges, schema in cases:
        pairs = spark.createDataFrame(edges, schema)
        want_label, want_star = _cc_expected(edges)
        label = {
            (r.id, r.component)
            for r in connected_components(pairs).collect()
        }
        assert label == want_label, schema
        star_rows = {
            (r.id, r.component)
            for r in connected_components_star(pairs).collect()
        }
        assert star_rows == want_star, schema


def test_cc_distributed_rounds_match_union_find_on_planted_shapes(
    spark, distributed_cc
):
    test_cc_algorithms_match_union_find_on_planted_shapes(spark)


def test_cc_empty_pairs_return_without_blocking(spark):
    """The edge count and convergence are read from ``Observation``s on
    checkpoints; on an empty graph (no pairs, or only null endpoints)
    those observations must still complete, so both algorithms return an
    empty frame (label propagation after one round) instead of waiting
    forever.  An empty graph never takes the driver finish, so this one
    test covers the distributed path too."""
    import threading

    from hermes_spark.operators import (
        connected_components,
        connected_components_star,
    )

    results = {}

    def run():
        for name, rows in (("empty", []), ("nulls", [(None, 1), (2, None)])):
            pairs = spark.createDataFrame(rows, "id_a long, id_b long")
            label_stats, star_stats = {}, {}
            results[name] = (
                connected_components(pairs, stats=label_stats).collect(),
                label_stats,
                connected_components_star(pairs, stats=star_stats).collect(),
                star_stats["final_edges"],
            )

    worker = threading.Thread(target=run, daemon=True)
    worker.start()
    worker.join(timeout=300)
    assert not worker.is_alive(), "connected components blocked on an empty graph"
    for name in ("empty", "nulls"):
        assert results[name] == (
            [], {"rounds": 1, "driver_finish": False}, [], 0
        ), name


def _job_ids(spark, action):
    """Result of ``action()`` and the ids of the Spark jobs it ran."""
    import uuid

    sc = spark.sparkContext
    group = f"cc-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "connected components")
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, sorted(sc.statusTracker().getJobIdsForGroup(group))


#: 40 disjoint 5-node paths with interleaved ids: 3 distributed rounds
_BUDGET_EDGES = [
    (c + 100 * i, c + 100 * (i + 1)) for c in range(40) for i in range(4)
]

#: Spark jobs of ``connected_components``' distributed rounds on the
#: 3-round graph above, in this suite's session (AQE on, 8 shuffle
#: partitions): 2 to build and checkpoint the edges, 3 for round 1 (its
#: aggregate, the pointer jump and the checkpoint) and 6 for each later
#: round (the edge and label shuffles of the neighbour-min join, its
#: aggregate, the second copy of that aggregate in the pointer jump, the
#: jump's shuffle and the checkpoint).  Convergence costs no job of its
#: own.
CONNECTED_COMPONENTS_JOB_BUDGET = 17

#: Spark jobs of either algorithm's driver finish on the same graph: 2
#: to build, count and checkpoint the edges, 1 to collect them as Arrow.
DRIVER_FINISH_JOB_BUDGET = 3


def test_connected_components_job_budget(spark, distributed_cc):
    from hermes_spark.operators import connected_components

    pairs = spark.createDataFrame(_BUDGET_EDGES, "id_a long, id_b long")
    stats = {}
    labels, jobs = _job_ids(
        spark, lambda: connected_components(pairs, stats=stats)
    )
    assert stats["rounds"] == 3
    assert len(jobs) <= CONNECTED_COMPONENTS_JOB_BUDGET, jobs
    got = {(r.id, r.component) for r in labels.collect()}
    assert got == set(_union_find_components(_BUDGET_EDGES).items())


def test_driver_finish_job_budget(spark):
    from hermes_spark.operators import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(_BUDGET_EDGES, "id_a long, id_b long")
    want = set(_union_find_components(_BUDGET_EDGES).items())
    for cc in (connected_components, connected_components_star):
        stats = {}
        labels, jobs = _job_ids(spark, lambda: cc(pairs, stats=stats))
        assert stats["rounds"] == 0 and stats["driver_finish"], cc.__name__
        assert len(jobs) <= DRIVER_FINISH_JOB_BUDGET, (cc.__name__, jobs)
        assert {(r.id, r.component) for r in labels.collect()} == want


def test_min_id_roots_matches_union_find():
    """The driver finish's numpy union-find against the reference, with
    no Spark: seeded random graphs (isolated nodes are their own root)
    and shuffled paths."""
    import numpy as np

    from hermes_spark.operators.dedup import _min_id_roots

    rng = np.random.default_rng(301)
    graphs = [rng.integers(0, n, (2, m)) for n, m in rng.integers(2, 80, (300, 2))]
    graphs += [(p[:-1], p[1:]) for p in map(rng.permutation, (50, 200, 999))]
    for src, dst in graphs:
        n = int(max(src.max(), dst.max())) + 1
        want = dict(enumerate(range(n)))
        want.update(_union_find_components(zip(src.tolist(), dst.tolist())))
        assert _min_id_roots(src, dst, n).tolist() == [want[x] for x in range(n)]


def _shuffled_path(spark):
    """A 200-node path whose ids are in random order: label propagation
    needs far more than 20 rounds on it, star rounds 7."""
    import random

    ids = list(range(200))
    random.Random(301).shuffle(ids)
    edges = list(zip(ids, ids[1:]))
    return edges, spark.createDataFrame(edges, "id_a long, id_b long")


def test_cc_raise_when_rounds_run_out(spark, distributed_cc):
    from hermes_spark.operators import (
        connected_components,
        connected_components_star,
    )

    _, pairs = _shuffled_path(spark)
    with pytest.raises(RuntimeError, match="did not converge in 20 rounds"):
        connected_components(pairs)
    with pytest.raises(RuntimeError, match="did not converge in 3 rounds"):
        connected_components_star(pairs, max_iter=3)


def test_cc_driver_finish_labels_shuffled_path(spark):
    from hermes_spark.operators import (
        connected_components,
        connected_components_star,
    )

    edges, pairs = _shuffled_path(spark)
    want = set(_union_find_components(edges).items())
    for cc in (connected_components, connected_components_star):
        stats = {}
        got = {(r.id, r.component) for r in cc(pairs, stats=stats).collect()}
        assert got == want, cc.__name__
        assert stats["driver_finish"], cc.__name__


def test_cc_paths_return_the_same_schema(spark, monkeypatch):
    from hermes_spark.operators import (
        connected_components,
        connected_components_star,
        dedup,
    )

    for schema, edges in (
        ("id_a long, id_b long", [(3, 1), (1, 2), (7, 7)]),
        ("id_a string, id_b string", [("c", "a"), ("a", "b"), ("g", "g")]),
    ):
        pairs = spark.createDataFrame(edges, schema)
        for cc in (connected_components, connected_components_star):
            schemas = []
            for limit in (dedup._DRIVER_CC_MAX_EDGES, 0):
                monkeypatch.setattr(dedup, "_DRIVER_CC_MAX_EDGES", limit)
                stats = {}
                schemas.append(cc(pairs, stats=stats).schema)
                assert stats["driver_finish"] == (limit > 0)
            assert schemas[0] == schemas[1], (schema, cc.__name__)
            id_type = pairs.schema["id_a"].dataType
            assert [f.dataType for f in schemas[0]] == [id_type, id_type]


#: Spark jobs of ``fuzzy_dedup_keep_one(algorithm="auto")`` up to its
#: return, on a pair list that is already a checkpoint: 1 to checkpoint
#: it again (the count is observed on that job) and the driver finish's
#: 3.  Counting with a separate ``count()`` ran 5.
AUTO_DEDUP_JOB_BUDGET = 4


def test_fuzzy_dedup_auto_counts_pairs_without_a_job(spark):
    import threading

    from hermes_spark.operators import fuzzy_dedup_keep_one

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(12)], "doc_id long, text string"
    )
    edges = [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long").localCheckpoint()
    stats = {}
    kept, jobs = _job_ids(
        spark,
        lambda: fuzzy_dedup_keep_one(
            df, "doc_id", pairs, algorithm="auto", stats=stats
        ),
    )
    assert len(jobs) <= AUTO_DEDUP_JOB_BUDGET, jobs
    assert stats["edges"] == len(edges) and stats["algorithm"] == "label"
    assert sorted(r.doc_id for r in kept.collect()) == [0, 1, 4, 5, 7, 8, 11]

    # an empty pair list observes a count of 0 rather than blocking
    results = {}

    def run():
        empty = spark.createDataFrame([], "id_a long, id_b long")
        empty_stats = {}
        out = fuzzy_dedup_keep_one(
            df, "doc_id", empty, algorithm="auto", stats=empty_stats
        )
        results["rows"] = out.count()
        results["stats"] = empty_stats

    worker = threading.Thread(target=run, daemon=True)
    worker.start()
    worker.join(timeout=300)
    assert not worker.is_alive(), "fuzzy_dedup_keep_one blocked on no pairs"
    assert results["rows"] == 12
    assert results["stats"]["edges"] == 0


def test_simhash_fast_hash_variant(spark, documents):
    from hermes_spark.operators import simhash_near_dup_pairs

    sub = documents.limit(300)
    fast = simhash_near_dup_pairs(sub, "doc_id", "text", portable=False)
    # xxhash64 path produces a valid pair set with the same contract
    rows = fast.collect()
    assert all(r.id_a < r.id_b and r.hamming <= 3 for r in rows)


def test_linkage_scores_fellegi_sunter(spark):
    import math
    from hermes_spark.operators.dedup import linkage_scores

    people = spark.createDataFrame(
        [
            (1, "smith", "london"),
            (2, "smith", "london"),    # agrees with 1 on both
            (3, "smith", "paris"),     # agrees on name only
            (4, "jones", "berlin"),
        ],
        "pid long, name string, city string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    fields = {"name": (0.9, 0.1), "city": (0.8, 0.05)}
    out = {
        (r["id_a"], r["id_b"]): r["match_score"]
        for r in linkage_scores(people, pairs, "pid", fields).collect()
    }
    w_name, w_city = math.log(9.0), math.log(16.0)
    l_name, l_city = math.log(0.1 / 0.9), math.log(0.2 / 0.95)
    assert abs(out[(1, 2)] - round(w_name + w_city, 6)) < 1e-6
    assert abs(out[(1, 3)] - round(w_name + l_city, 6)) < 1e-6
    assert abs(out[(1, 4)] - round(l_name + l_city, 6)) < 1e-6
    assert out[(1, 2)] > out[(1, 3)] > out[(1, 4)]


def test_linkage_scores_validates_probs(spark):
    import pytest as _pytest
    from hermes_spark.operators.dedup import linkage_scores

    df = spark.createDataFrame([(1, "x")], "pid long, name string")
    pairs = spark.createDataFrame([(1, 1)], "id_a long, id_b long")
    with _pytest.raises(ValueError):
        linkage_scores(df, pairs, "pid", {"name": (0.2, 0.9)})


def test_dedup_against_history_and_batch(spark):
    from hermes_spark.operators.dedup import dedup_against

    long_a = "the quick brown fox jumps over the lazy dog again and again"
    long_b = "completely different content about spark shuffle partitions"
    # round 1: empty store
    empty_store = spark.createDataFrame(
        [], "__band string, __id long, __sig array<bigint>"
    )
    batch1 = spark.createDataFrame(
        [(1, long_a), (2, long_a + " extra"), (3, long_b)],
        "doc_id long, text string",
    )
    surv1, store1 = dedup_against(batch1, empty_store, "doc_id", "text")
    ids1 = sorted(r["doc_id"] for r in surv1.collect())
    assert 1 in ids1 and 3 in ids1 and 2 not in ids1  # in-batch near-dup dropped
    assert store1.select("__id").distinct().count() == len(ids1)

    # round 2: a replay of doc 1's text and a fresh doc
    batch2 = spark.createDataFrame(
        [(10, long_a), (11, "yet another unique document body entirely")],
        "doc_id long, text string",
    )
    surv2, store2 = dedup_against(batch2, store1, "doc_id", "text")
    ids2 = sorted(r["doc_id"] for r in surv2.collect())
    assert ids2 == [11]  # 10 matched history via the store, never re-hashed corpus
    # store layout is streaming-compatible
    assert store2.columns == ["__band", "__id", "__sig"]


@contextmanager
def _no_worker_runtime_warnings(spark):
    """Python workers started inside this block turn RuntimeWarning into
    an error, so a numpy cast warning in a kernel fails the job.  The
    worker environment keys the worker pool, so Python UDFs built inside
    the block get workers of their own."""
    env = spark.sparkContext.environment
    env["PYTHONWARNINGS"] = "error::RuntimeWarning"
    try:
        yield
    finally:
        del env["PYTHONWARNINGS"]


def _null_text_docs(spark):
    return docs(spark).unionByName(
        spark.createDataFrame([(6, None), (7, None)], "doc_id int, text string")
    )


def test_minhash_pairs_skip_null_text(spark):
    """Null text has an all-null signature whose band keys all agree:
    two such docs used to pair at est_jaccard 1.0, with a numpy
    invalid-cast warning in the pair kernel.  They now give no pair and
    no warning, and the pairs among the other docs are unchanged."""
    with _no_worker_runtime_warnings(spark):
        for min_jaccard in (0.0, 0.5):
            got = minhash_lsh_pairs(
                _null_text_docs(spark), "doc_id", "text", min_jaccard=min_jaccard
            ).collect()
            want = minhash_lsh_pairs(
                docs(spark), "doc_id", "text", min_jaccard=min_jaccard
            ).collect()
            assert want
            assert sorted(got) == sorted(want)


def test_dedup_against_keeps_null_text_out_of_bands(spark):
    """dedup_against bands the same signatures: null-text docs match
    nothing, all survive, and never enter the store."""
    from hermes_spark.operators.dedup import dedup_against

    empty_store = spark.createDataFrame(
        [], "__band string, __id long, __sig array<bigint>"
    )
    batch = _null_text_docs(spark).withColumn("doc_id", F.col("doc_id").cast("long"))
    with _no_worker_runtime_warnings(spark):
        surv, store = dedup_against(batch, empty_store, "doc_id", "text")
        ids = {r["doc_id"] for r in surv.collect()}
        stored = {r["__id"] for r in store.select("__id").distinct().collect()}
    assert {6, 7} <= ids
    assert not stored & {6, 7}
    assert stored == ids - {6, 7}


def test_dedup_against_component_keeps_representative(spark):
    """A near-dup cluster whose minimum-id member matches history must
    still keep one surviving representative (keep_policy='component');
    greedy min-id semantics may drop the whole cluster."""
    from hermes_spark.operators.dedup import dedup_against

    # transitive chain (est_jaccard, 16 hashes): hist≈10 at 0.875,
    # 10≈11/12 at 0.8125, but hist vs 11/12 only 0.6875 — so history
    # drops 10 while 11/12 survive it and form an in-batch cluster
    hist = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa"
    )
    d10 = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november quebec romeo"
    )
    d11 = (
        "alpha bravo charlie delta echo foxtrot golf hotel sierra tango "
        "kilo lima mike november quebec romeo"
    )
    empty_store = spark.createDataFrame(
        [], "__band string, __id long, __sig array<bigint>"
    )
    _, store1 = dedup_against(
        spark.createDataFrame([(1, hist)], "doc_id long, text string"),
        empty_store,
        "doc_id",
        "text",
    )
    batch = spark.createDataFrame(
        [(10, d10), (11, d11), (12, d11 + " x")],
        "doc_id long, text string",
    )
    surv, _ = dedup_against(batch, store1, "doc_id", "text")
    ids = sorted(r["doc_id"] for r in surv.collect())
    # 10 dropped against history; the cluster keeps exactly one of 11/12
    assert ids == [11]

    surv_greedy, _ = dedup_against(
        batch, store1, "doc_id", "text", keep_policy="greedy"
    )
    greedy_ids = sorted(r["doc_id"] for r in surv_greedy.collect())
    assert greedy_ids == []  # documented greedy behavior: cluster vanishes


def test_dedup_against_hot_band_bounded(spark):
    """One boilerplate-heavy batch (hot band) must complete with the
    in-bucket pairing COLLAPSED (round-6 semantics: identical-signature
    chains, O(n)), not go quadratic — and not silently under-dedup."""
    from hermes_spark.operators.dedup import banded_match_pairs, dedup_against

    body = "identical boilerplate body shared by every single document here"
    n = 500
    batch = spark.createDataFrame(
        [(i, body) for i in range(n)], "doc_id long, text string"
    )
    empty_store = spark.createDataFrame(
        [], "__band string, __id long, __sig array<bigint>"
    )
    # even with a cap far below the cluster size, the oversized bucket
    # collapses via identical-signature chaining: ONE survivor
    surv, store_rows = dedup_against(
        batch, empty_store, "doc_id", "text", max_bucket_size=50
    )
    assert surv.count() == 1
    # with the cap above the bucket size, same answer via all-pairs
    surv2, _ = dedup_against(
        batch, empty_store, "doc_id", "text", max_bucket_size=5000
    )
    assert surv2.count() == 1

    # pair count from the capped helper is bounded by cap^2 * bands
    from pyspark.sql import functions as F
    from hermes_spark.functions.hashing import (
        band_keys,
        base_hash31,
        minhash_signature_from_hashes,
        shingles,
    )

    banded = (
        batch.select(
            F.col("doc_id").alias("__id"),
            F.transform(
                shingles(F.col("text")), lambda s: base_hash31(s)
            ).alias("__hs"),
        )
        .select(
            "__id",
            minhash_signature_from_hashes(F.col("__hs"), 16).alias("__sig"),
        )
        .select(
            "__id",
            "__sig",
            F.explode(band_keys(F.col("__sig"), 4, 4)).alias("__band"),
        )
    )
    # identical-signature collapse: exactly n-1 chain pairs (O(n)),
    # never the n*(n-1)/2 quadratic blow-up and never zero
    assert banded_match_pairs(banded, 0.8, 16, max_bucket_size=50).count() == n - 1


def test_exact_dedup_keep_by_quality(spark):
    """r7: keep the MAX-keep_by row per group (ties -> min id)."""
    df = spark.createDataFrame(
        [(1, "same text", 0.2), (2, "same text", 0.9), (3, "same text", 0.9),
         (4, "other text", 0.1)],
        "doc_id int, text string, quality double",
    )
    out = exact_dedup(df, "doc_id", text_col="text", keep_by=F.col("quality"))
    rows = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    # quality 0.9 tie between 2 and 3 -> min id 2 survives
    assert set(rows) == {2, 4}
    assert rows[2] == 3
    # original schema + dup_count, no temp columns
    assert sorted(out.columns) == ["doc_id", "dup_count", "quality", "text"]


def test_exact_dedup_keep_by_default_unchanged(spark):
    a = exact_dedup(docs(spark), "doc_id", text_col="text")
    b = exact_dedup(docs(spark), "doc_id", text_col="text",
                    keep_by=F.lit(1))  # constant -> ties -> min id everywhere
    assert sorted(r["doc_id"] for r in a.collect()) == \
           sorted(r["doc_id"] for r in b.collect())


def test_fuzzy_dedup_keep_by_quality(spark):
    """r7: fuzzy dedup keeps each component's max-keep_by member."""
    from hermes_spark.operators import fuzzy_dedup_keep_one

    df = spark.createDataFrame(
        [(1, "a", 0.1), (2, "b", 0.9), (3, "c", 0.9),   # component {1,2,3}
         (9, "z", 0.5)],                                  # untouched
        "doc_id long, text string, quality double",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = fuzzy_dedup_keep_one(
        df, "doc_id", pairs, keep_by=F.col("quality")
    )
    ids = sorted(r.doc_id for r in kept.collect())
    # quality tie 0.9 between 2 and 3 -> min id 2; 9 untouched
    assert ids == [2, 9]
    # default policy still keeps the component minimum
    kept_min = fuzzy_dedup_keep_one(df, "doc_id", pairs)
    assert sorted(r.doc_id for r in kept_min.collect()) == [1, 9]


def _pair_set(df):
    return {
        (r["id_a"], r["id_b"], r["est_jaccard"]) for r in df.collect()
    }


def _reference_pairs(corpus, stats=None, num_hashes=16, num_bands=4,
                     max_bucket_size=1000, min_jaccard=0.0):
    from hermes_spark.operators import minhash_signatures

    sigs = {
        r["__id"]: list(r["__sig"])
        for r in minhash_signatures(
            corpus, "doc_id", "text", num_hashes=num_hashes
        ).collect()
    }
    return minhash_pairs_reference(
        sigs, num_bands, max_bucket_size, min_jaccard, stats=stats
    )


def test_minhash_pairs_match_python_reference(spark, documents):
    """The Arrow pair kernel must produce the SAME (id_a, id_b,
    est_jaccard) set as the plain-Python banding reference over the
    same signatures — including the oversized-bucket collapse (forced
    here with a tiny cap, down to the representative star) and the
    min_jaccard push-down."""
    corpus = documents.limit(400)
    stats = {}
    for kwargs in (
        dict(),  # default: all-pairs path
        dict(max_bucket_size=3),  # force chain/reps/star collapse
        dict(min_jaccard=0.5),  # kernel-side prefilter
        dict(max_bucket_size=3, min_jaccard=0.25, num_hashes=32, num_bands=8),
    ):
        got = minhash_lsh_pairs(corpus, "doc_id", "text", **kwargs)
        assert _pair_set(got) == _reference_pairs(
            corpus, stats, **kwargs), kwargs
    # the cap-3 runs reached both over-cap branches
    assert stats.get("collapsed", 0) > 0 and stats.get("star", 0) > 0, stats


def test_minhash_pairs_string_ids_match_reference(spark):
    """Non-numeric ids go through the kernel's Python-sort fallback and
    string ordering — must still match the plain-Python reference."""
    rows = [(f"doc-{i:03d}", f"shared boilerplate text {i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = _pair_set(minhash_lsh_pairs(df, "doc_id", "text", max_bucket_size=4))
    assert got == _reference_pairs(df, max_bucket_size=4)
    assert len(got) > 0


def test_unpack_buckets_rejects_misaligned_lists():
    """The pair kernels' shared unpacker: aligned id/value lists give
    flat ids, flat values and bucket offsets; a bucket whose two lists
    differ in length raises with both counts."""
    import pyarrow as pa
    import pytest

    from hermes_spark.operators.dedup import _unpack_buckets

    ids = pa.array([[1, 2, 3], [7, 8]])
    fps = pa.array([[10, 20, 30], [70, 80]])
    flat_ids, flat_fps, starts = _unpack_buckets(ids, fps)
    assert flat_ids.tolist() == [1, 2, 3, 7, 8]
    assert flat_fps.to_pylist() == [10, 20, 30, 70, 80]
    assert starts.tolist() == [0, 3, 5]
    # signatures: one list level stays for the caller to flatten
    sigs = pa.array([[[1, 1], [2, 2], [3, 3]], [[7, 7], [8, 8]]])
    _, flat_sigs, _ = _unpack_buckets(ids, sigs)
    assert flat_sigs.to_pylist() == [[1, 1], [2, 2], [3, 3], [7, 7], [8, 8]]

    short = pa.array([[10, 20, 30], [70]])
    with pytest.raises(ValueError, match="bucket 1 has 2 ids but 1 values"):
        _unpack_buckets(ids, short)


def test_simhash_bits_range(spark):
    """bits=63 is the widest SimHash that fits a non-negative long; 64
    and 0 raise before any job runs."""
    import pytest

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "")],
        "doc_id long, text string",
    )
    fps = {
        r["id"]: r["simhash"]
        for r in simhash_fingerprints(df, "doc_id", "text", bits=63).collect()
    }
    assert fps[3] == (1 << 63) - 1  # no tokens: every bit set
    pairs = simhash_near_dup_pairs(
        df, "doc_id", "text", bits=63, max_hamming=3
    ).collect()
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in pairs} == {(1, 2, 0)}
    for bad in (0, 64):
        with pytest.raises(ValueError, match="bits must be in 1..63"):
            simhash_fingerprints(df, "doc_id", "text", bits=bad)
        with pytest.raises(ValueError, match="bits must be in 1..63"):
            simhash_near_dup_pairs(df, "doc_id", "text", bits=bad)


def test_exact_dedup_incremental(spark):
    from hermes_spark.operators import exact_dedup_incremental, fingerprint_store

    # snapshot 1: docs 1 + 5 accepted
    snap1 = docs(spark).filter(F.col("doc_id").isin(1, 5))
    store = fingerprint_store(snap1, text_col="text")
    # snapshot 2: 2/3 normalize to snap1's doc 1 (store knockout),
    # 4 is new; in-batch the batch has no exact dups
    batch = docs(spark).filter(F.col("doc_id").isin(2, 3, 4))
    out = exact_dedup_incremental(batch, "doc_id", text_col="text", store=store)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {4}
    assert rows[4]["dup_count"] == 1
    assert "fingerprint" in out.columns

    # store round-trip: appending survivors makes a rerun emit nothing
    store2 = store.unionByName(out.select("fingerprint")).distinct()
    again = exact_dedup_incremental(batch, "doc_id", text_col="text", store=store2)
    assert again.count() == 0


def test_exact_dedup_incremental_in_batch_and_keep_by(spark):
    from hermes_spark.operators import exact_dedup_incremental

    # no store: behaves like exact_dedup (min id, in-batch counts)
    out = exact_dedup_incremental(docs(spark), "doc_id", text_col="text")
    rows = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    assert rows == {1: 3, 4: 1, 5: 1}
    # keep_by: highest doc_id wins its group instead
    best = exact_dedup_incremental(
        docs(spark), "doc_id", text_col="text", keep_by=F.col("doc_id")
    )
    assert {r["doc_id"] for r in best.collect()} == {3, 4, 5}


def test_exact_dedup_incremental_matches_batch_union(spark):
    """Incremental over two snapshots keeps exactly the union-batch
    winners that landed in snapshot order (store-first wins)."""
    from hermes_spark.operators import exact_dedup_incremental, fingerprint_store

    all_docs = docs(spark)
    snap1 = all_docs.filter(F.col("doc_id") <= 2)
    snap2 = all_docs.filter(F.col("doc_id") > 2)
    store = fingerprint_store(snap1, text_col="text")
    survivors2 = exact_dedup_incremental(
        snap2, "doc_id", text_col="text", store=store
    )
    union_winners = exact_dedup(all_docs, "doc_id", text_col="text")
    # every incremental survivor's fingerprint group also surfaces a
    # winner in the from-scratch union dedup
    assert {r["doc_id"] for r in survivors2.collect()} == {4, 5}
    assert {r["doc_id"] for r in union_winners.collect()} == {1, 4, 5}
