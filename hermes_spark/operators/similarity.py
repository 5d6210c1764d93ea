"""Similarity search over embedding columns (``array<float>``).

Extensions beyond reference parity (SURVEY.md §7.1 step 6): approximate
nearest neighbors for training-data curation.

Scale design (100 TB / billions of vectors):

* ``brute_force_cosine_topk`` — correctness baseline. Queries are
  broadcast (small side), the corpus streams; one window (or groupBy-max)
  per query for top-k. Exact but O(|corpus| * |queries|) multiplies —
  right answer for <= a few thousand queries.
* ``ivf_assign`` / ``lsh_cosine_topk`` — the scale path. IVF: vectors are
  partitioned by nearest centroid (one broadcast join); queries probe only
  their centroid's partition — the classic inverted-file ANN layout.
  LSH: random-hyperplane signatures bucket the corpus; queries join only
  their bucket.

All dot products are pure Column expressions (``zip_with`` +
``aggregate``), evaluated JVM-side; elements are cast to double before
multiply so results are bit-reproducible against the DuckDB oracle.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def topk_per_query(
    scored: DataFrame,
    score_col: str,
    k: int,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-query top-k: rank by ``(score desc, id asc)``, keep ``rank
    <= k``.

    Scale note: this LOOKS like the O(|corpus| * |q|)-through-one-task
    window cliff, but Catalyst rewrites the ``row_number() <= k``
    pattern into a pair of ``WindowGroupLimit`` nodes — a PARTIAL one
    that prunes every input partition to its own top-k BEFORE the
    exchange (so the shuffle carries k * partitions * |q| rows, never
    the full scored set) and a FINAL one after it. The plan test
    ``test_brute_topk_prunes_before_exchange`` pins that shape; keep
    the ``row_number().over(...)`` + ``filter`` idiom exactly, or the
    optimizer stops firing and the cliff comes back.
    """
    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return scored.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def brute_force_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: Optional[str] = None,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: for each query row, the k nearest corpus rows.

    Returns ``(query_id, vec_id, cosine, rank)``; ties break by corpus id
    (deterministic). ``queries`` should be small — it is broadcast.
    """
    qid = query_id_col or id_col
    q = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__cvec"))

    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "vec_id",
        F.round(cosine_similarity(F.col("__qvec"), F.col("__cvec")), 6).alias("cosine"),
    )
    return topk_per_query(scored, "cosine", k)


def brute_force_cosine_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: Optional[str] = None,
    k: int = 10,
) -> DataFrame:
    """Arrow-vectorized exact cosine top-k — same contract and results as
    :func:`brute_force_cosine_topk`, different physical plan.

    Queries are collected to the driver (small side — the same constraint
    the broadcast variant has) and shipped as one normalized numpy matrix
    in the UDF closure. Each Arrow batch of corpus vectors then scores
    against ALL queries with a single BLAS matmul inside ``mapInPandas``
    and keeps only its per-batch top-k per query, so the window re-rank
    downstream sees O(k * batches * |queries|) candidate rows instead of
    the |corpus| * |queries| scored rows the Column-expression variant
    shuffles. For wide embeddings / many queries this is the faster path;
    for a handful of queries the JVM-side variant avoids Python entirely.

    Rounding (6 dp) happens inside the batch *before* pruning so batch
    top-k selection and the global rank agree on tie-breaks.
    """
    import numpy as np
    import pandas as pd

    qid = query_id_col or id_col
    q_rows = queries.select(F.col(qid), F.col(vec_col)).collect()
    q_ids = [r[0] for r in q_rows]
    Q = np.asarray([list(r[1]) for r in q_rows], dtype=np.float64)
    q_norms = np.linalg.norm(Q, axis=1)
    q_norms[q_norms == 0.0] = 1.0
    Qn = Q / q_norms[:, None]

    qid_type = queries.schema[qid].dataType.simpleString()
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {qid_type}, vec_id {id_type}, cosine double"

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(M, axis=1)
            norms[norms == 0.0] = 1.0
            sims = np.round((M / norms[:, None]) @ Qn.T, 6)  # (batch, q)
            ids = pdf[id_col].to_numpy()
            top = min(k, len(ids))
            out_q, out_id, out_sim = [], [], []
            for j, query_id in enumerate(q_ids):
                col = sims[:, j]
                # top-k by (cosine desc, vec_id asc) — argsort on vec_id
                # first, then stable sort on -cosine keeps id order in ties
                order = np.argsort(ids, kind="stable")
                order = order[np.argsort(-col[order], kind="stable")][:top]
                out_q.extend([query_id] * len(order))
                out_id.extend(ids[order].tolist())
                out_sim.extend(col[order].tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "vec_id": out_id, "cosine": out_sim}
            )

    candidates = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        score, out_schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return candidates.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    top_n: int = 1,
) -> DataFrame:
    """Assign each vector to its nearest centroid(s) (IVF partitioning).

    ``centroids`` is broadcast. Returns ``(vec_id, centroid_id, cosine)``
    with the ``top_n`` highest-cosine centroids per vector (ties ->
    smaller id); ``top_n=1`` is the storage-side assignment, ``>1`` is
    the query-side multi-probe routing.
    """
    c = centroids.select(
        F.col(centroid_id_col).alias("__cid"), F.col(vec_col).alias("__centroid")
    )
    scored = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__vec")
    ).crossJoin(F.broadcast(c)).select(
        "vec_id",
        F.col("__cid"),
        F.round(cosine_similarity(F.col("__vec"), F.col("__centroid")), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("__cid").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_n)
        .select("vec_id", F.col("__cid").alias(centroid_id_col), "cosine")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    num_planes: int = 8,
    dim: int = 64,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: ``(id_a, id_b, cosine)``
    with ``id_a < id_b`` and ``cosine >= min_cosine``.

    Default (``exact=False``) is the scale path: random-hyperplane LSH
    buckets the corpus, pairs are generated within buckets only, then
    exactly re-scored — near-identical vectors share all plane signs with
    high probability, so recall at ``min_cosine >= 0.9`` stays high while
    the join touches ~n²/2^planes candidate pairs instead of n².
    ``exact=True`` is the all-pairs verification variant (oracle-checked;
    quadratic — small inputs only).
    """
    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
    if exact:
        left = base.select(F.col("__id").alias("id_a"), F.col("__vec").alias("__va"))
        right = base.select(F.col("__id").alias("id_b"), F.col("__vec").alias("__vb"))
        pairs = left.crossJoin(right).filter(F.col("id_a") < F.col("id_b"))
    else:
        bits = [
            _hyperplane_sign(F.col("__vec"), f"plane{p}", dim)
            for p in range(num_planes)
        ]
        sig = bits[0]
        for p in range(1, num_planes):
            sig = sig * 2 + bits[p]
        bucketed = base.withColumn("__bucket", sig)
        left = bucketed.select(
            "__bucket", F.col("__id").alias("id_a"), F.col("__vec").alias("__va")
        )
        right = bucketed.select(
            "__bucket", F.col("__id").alias("id_b"), F.col("__vec").alias("__vb")
        )
        pairs = (
            left.join(right, on="__bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .drop("__bucket")
        )
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(cosine_similarity(F.col("__va"), F.col("__vb")), 6).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


def ivf_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: Optional[str] = None,
    centroid_id_col: str = "centroid_id",
    k: int = 10,
    nprobe: int = 1,
) -> DataFrame:
    """Complete IVF search: route each query to its ``nprobe`` nearest
    centroids and rank only those cells' buckets.

    The two :func:`ivf_assign` passes are cheap broadcast cross-joins
    against the (small) centroid table; the candidate join then matches
    each query against ~nprobe * |corpus|/|centroids| vectors instead of
    the whole corpus — the classic inverted-file trade of recall for a
    centroids-fold reduction in scored pairs. ``nprobe`` is the recall
    dial: neighbors just across a cell boundary are recovered by probing
    the runner-up cells, at a linear cost multiplier. Exact and
    deterministic given the centroid set, hence oracle-checkable.
    """
    qid = query_id_col or id_col
    corpus_assigned = ivf_assign(
        corpus, centroids, id_col, vec_col, centroid_id_col
    ).select("vec_id", F.col(centroid_id_col).alias("__cell"))
    corpus_cells = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__cvec")
    ).join(corpus_assigned, on="vec_id")

    # ivf_assign always names its id output "vec_id"
    query_cells = (
        ivf_assign(queries, centroids, qid, vec_col, centroid_id_col, top_n=nprobe)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col(centroid_id_col).alias("__cell"),
        )
        .join(
            queries.select(
                F.col(qid).alias("query_id"), F.col(vec_col).alias("__qvec")
            ),
            on="query_id",
        )
    )

    scored = F.broadcast(query_cells).join(corpus_cells, on="__cell").select(
        "query_id",
        "vec_id",
        F.round(cosine_similarity(F.col("__qvec"), F.col("__cvec")), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def kmeans_centroids(
    df: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: Optional[int] = None,
    max_iter: int = 5,
) -> DataFrame:
    """Lloyd's k-means over an embedding column, pure DataFrame ops —
    fits the centroid table :func:`ivf_assign` / :func:`ivf_topk`
    partition by, so the IVF pipeline is self-contained.

    Deterministic: init = the ``k`` smallest-id vectors; assignment ties
    break toward the smaller centroid id (same rule as ``ivf_assign``).
    Each iteration is one broadcast cross-join assignment plus one
    groupBy whose per-component ``avg`` aggregates are all computed in
    a single shuffle (the map side emits k partial sums, not k x dim
    rows). Empty clusters drop out (standard Lloyd's on sparse data).
    Deterministic end to end — init, iteration count, and the ROUNDED
    assignment cosine make the Lloyd chain reproducible on any engine,
    so it unrolls into a CTE-chain SQL oracle (``_sql_kmeans_ivf_topk``
    in ``__spark_entry__.py``) exactly like the pagerank power
    iteration; convergence/recall tests guard the semantics.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    centroids = (
        df.orderBy(F.col(id_col))
        .limit(k)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias(vec_col))
        .localCheckpoint(eager=True)
    )
    corpus = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v"))
    for _ in range(max_iter):
        assigned = ivf_assign(df, centroids, id_col, vec_col).select(
            "vec_id", "centroid_id"
        )
        centroids = (
            assigned.join(corpus, on="vec_id")
            .groupBy("centroid_id")
            .agg(
                *[
                    F.avg(F.get(F.col("__v"), i).cast("double")).alias(f"__c{i}")
                    for i in range(dim)
                ]
            )
            .select(
                "centroid_id",
                F.array(*[F.col(f"__c{i}") for i in range(dim)]).alias(vec_col),
            )
            .localCheckpoint(eager=True)
        )
    return centroids


def _hyperplane_sign(vec: Column, plane_seed: str, dim: int) -> Column:
    """Sign of <vec, h> for a pseudo-random hyperplane derived from md5.

    Component ``j`` of the hyperplane is +1/-1 from a portable hash of
    ``(plane_seed, j)`` — reproducible on any engine, no stored planes.
    """
    weighted = F.transform(
        vec,
        lambda x, i: x.cast("double")
        * F.when(
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"{plane_seed}:"), i.cast("string"))), 1, 15),
                    16,
                    10,
                ).cast("long")
                % 2
            )
            == 0,
            1.0,
        ).otherwise(-1.0),
    )
    total = F.aggregate(weighted, F.lit(0.0), lambda acc, v: acc + v)
    return F.when(total >= 0, F.lit(1)).otherwise(F.lit(0))


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: Optional[str] = None,
    k: int = 10,
    num_planes: int = 8,
    dim: int = 64,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH bucketing with
    multi-probe.

    Corpus rows get a ``num_planes``-bit signature and live in exactly one
    bucket; each query probes its own bucket PLUS every bucket within
    ``probe_hamming`` sign flips (multi-probe LSH, Lv et al. VLDB'07) —
    near neighbors most often differ in the one hyperplane they straddle,
    so probing 1-flip buckets recovers most of the recall a single probe
    loses, at (1 + num_planes) probe keys per query instead of 2^planes
    buckets scanned. The bucket join replaces the full cross-product;
    only bucket keys and query vectors shuffle.
    """
    qid = query_id_col or id_col

    def sig_expr() -> Column:
        bits = [
            _hyperplane_sign(F.col(vec_col), f"plane{p}", dim)
            for p in range(num_planes)
        ]
        sig = bits[0]
        for p in range(1, num_planes):
            sig = sig * 2 + bits[p]
        return sig

    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("__cvec"),
        sig_expr().alias("__bucket"),
    )

    probes = [F.col("__sig")]
    if probe_hamming >= 1:
        probes += [
            F.col("__sig").bitwiseXOR(F.lit(1 << p)) for p in range(num_planes)
        ]
    if probe_hamming >= 2:
        probes += [
            F.col("__sig").bitwiseXOR(F.lit((1 << p1) | (1 << p2)))
            for p1 in range(num_planes)
            for p2 in range(p1 + 1, num_planes)
        ]
    q = (
        queries.select(
            F.col(qid).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            sig_expr().alias("__sig"),
        )
        .select(
            "query_id",
            "__qvec",
            F.explode(F.array(*probes)).alias("__bucket"),
        )
    )

    scored = (
        F.broadcast(q)
        .join(c, on="__bucket")
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_similarity(F.col("__qvec"), F.col("__cvec")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    num_planes: int = 8,
    dim: int = 64,
    exact: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. '23): drop
    every embedding whose cosine-similarity component already has a
    lower-id representative; keep one row per semantic cluster.

    Composition of scale-proven pieces: hyperplane-LSH near-dup pairs
    (bucketed — no all-pairs join at scale; ``exact=True`` for the
    quadratic verification variant), connected components (labelled on
    the driver once the pair list fits, after contraction rounds that
    shrink it), anti-join of the losers.  The corpus-wide data moves
    through one LSH bucket shuffle plus the narrow (id, id) component
    rounds — embeddings themselves never re-shuffle after bucketing.
    """
    from .dedup import fuzzy_dedup_keep_one

    pairs = embedding_near_dup_pairs(
        df,
        id_col=id_col,
        vec_col=vec_col,
        min_cosine=min_cosine,
        num_planes=num_planes,
        dim=dim,
        exact=exact,
    )
    return fuzzy_dedup_keep_one(df, id_col, pairs)


def cross_near_dup_pairs(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    num_planes: int = 8,
    dim: int = 64,
    exact: bool = False,
) -> DataFrame:
    """Cross-corpus cosine near-duplicate pairs ``(corpus_id, ref_id,
    cosine >= min_cosine)`` — the two-frame sibling of
    :func:`embedding_near_dup_pairs`.

    Scale path buckets BOTH frames with the SAME random hyperplanes and
    joins on the bucket signature, so candidates are ~|corpus|·|ref| /
    2^planes instead of the full cross product; ``exact=True`` is the
    quadratic verification variant (oracle-checked; small refs only —
    though "small" is exactly the decontamination case, where the
    reference is a benchmark suite).
    """
    c = corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("__vc"))
    r = reference.select(F.col(id_col).alias("ref_id"), F.col(vec_col).alias("__vr"))
    if exact:
        pairs = c.crossJoin(F.broadcast(r))
    else:
        def sig(vec):
            bits = [_hyperplane_sign(vec, f"plane{p}", dim) for p in range(num_planes)]
            s = bits[0]
            for p in range(1, num_planes):
                s = s * 2 + bits[p]
            return s

        c = c.withColumn("__bucket", sig(F.col("__vc")))
        r = r.withColumn("__bucket", sig(F.col("__vr")))
        pairs = c.join(r, on="__bucket").drop("__bucket")
    return (
        pairs.select(
            "corpus_id",
            "ref_id",
            F.round(cosine_similarity(F.col("__vc"), F.col("__vr")), 6).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


def semantic_decontaminate(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    num_planes: int = 8,
    dim: int = 64,
    exact: bool = False,
) -> DataFrame:
    """Drop corpus rows semantically too close to a benchmark/reference
    set — the embedding-space sibling of the n-gram
    :func:`~hermes_spark.operators.passages.decontaminate` (paraphrased
    eval leakage survives n-gram checks; cosine similarity catches it).

    Returns the surviving corpus rows (original schema). The reference
    frame is typically tiny (an eval suite), so the LSH bucket join —
    or broadcast cross join with ``exact=True`` — never shuffles the
    corpus; contaminated ids distill to a small distinct set and the
    final filter is a broadcast LEFT ANTI join riding the corpus scan.
    """
    hits = (
        cross_near_dup_pairs(
            corpus, reference, id_col, vec_col, min_cosine, num_planes, dim, exact
        )
        .select(F.col("corpus_id").alias(id_col))
        .distinct()
    )
    return corpus.join(F.broadcast(hits), id_col, "left_anti")


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: Optional[str] = None,
    k: int = 10,
    skip: int = 10,
    max_cosine: float = 0.95,
) -> DataFrame:
    """Hard-negative candidates for embedding-model training: per query,
    the ``k`` nearest corpus rows AFTER skipping the top ``skip`` and
    excluding the query itself and near-duplicates (``cosine >=
    max_cosine`` — those are unlabeled positives, the classic false
    negative in contrastive training).

    Returns ``(query_id, vec_id, cosine, neg_rank)`` with ``neg_rank``
    1..k counted from the first eligible candidate. The standard mining
    recipe (DPR / SimCSE style): negatives similar enough to be
    informative, not so similar they are secretly positives.

    Scale shape is identical to :func:`brute_force_cosine_topk` (the
    query side broadcasts, one window per query partition); swap the
    scorer for :func:`ivf_topk` candidates at billion-row scale.
    """
    qid = query_id_col or id_col
    q = queries.select(F.col(qid).alias("query_id"), F.col(vec_col).alias("__qvec"))
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__cvec"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_similarity(F.col("__qvec"), F.col("__cvec")), 6
            ).alias("cosine"),
        )
        .filter((F.col("vec_id") != F.col("query_id")) & (F.col("cosine") < max_cosine))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    ranked = scored.withColumn("__rank", F.row_number().over(w))
    return (
        ranked.filter((F.col("__rank") > skip) & (F.col("__rank") <= skip + k))
        .select(
            "query_id",
            "vec_id",
            "cosine",
            (F.col("__rank") - skip).cast("long").alias("neg_rank"),
        )
    )
