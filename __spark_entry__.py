"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship dataset-comparison on sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2 plus
the training-data extensions); each takes (spark, sf_dir) -> DataFrame.
``oracle_sql()`` — equivalent DuckDB SQL per query. Every computed column
is aliased identically on both sides; floating-point outputs are rounded
to 6 (or 4) decimals on both sides; hash-dependent operators use the
md5-derived portable hash (see hermes_spark.functions.hashing).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from hermes_spark import ComparisonConfig, compare
from hermes_spark.flatten import flatten_dataframe
from hermes_spark.functions.hashing import MERSENNE31, permutation_params
from hermes_spark.functions.text import (
    BPE_CHARS_PER_PIECE,
    BPE_CHUNK_PATTERN,
    ENGLISH_STOPWORDS,
    LANG_MARKERS,
    PII_PATTERNS,
    bpe_token_count,
    doc_fingerprint,
    lang_id,
    pii_match_count,
    quality_score,
    repetition_ratio,
    scrub_pii,
    token_count,
)
from hermes_spark.operators import (
    brute_force_cosine_topk,
    connected_components,
    decontaminate,
    duplicate_clusters,
    duplicate_passage_stats,
    pack_sequences,
    token_chunks,
    embedding_near_dup_pairs,
    exact_dedup,
    ivf_assign,
    ivf_topk,
    lsh_cosine_topk,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    sessionize,
    simhash_fingerprints,
    simhash_near_dup_pairs,
    tfidf_topk_terms,
)
from hermes_spark.queries import TPCH_EXTRA_QUERIES, TPCH_EXTRA_SQL
from hermes_spark.schema_utils import sorted_selector

# ---------------------------------------------------------------------------
# shared constants (keep Spark and SQL sides in lockstep)
# ---------------------------------------------------------------------------

ORDERS_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]
LINEITEM_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
]
DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]

MINHASH_HASHES = 16
MINHASH_BANDS = 4
SHINGLE_N = 3
SIMHASH_BITS = 32
ANN_QUERIES = 10
ANN_K = 10
IVF_CENTROIDS = 8
KMEANS_IVF_ITERS = 3
EMBED_DIM = 64
JACCARD_MIN = 0.2

PACK_BUDGET = 256  # tokens per packed training sequence
PACK_SHARDS = 8  # parallel packing shards
CHUNK_SIZE = 32  # context-window chunk size (tokens)
CHUNK_STRIDE = 16  # overlap stride

PASSAGE_WINDOW = 16  # words per non-overlapping passage chunk
DECONTAM_N = 8  # decontamination word-n-gram size (docs are 10-99 words)
DECONTAM_BENCH_MOD = 97  # benchmark slice: doc_id % 97 == 0


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ---------------------------------------------------------------------------
# deterministic mutations (same rule on both engines)
# ---------------------------------------------------------------------------


def _mutated_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders with: price doubled where o_orderkey%97==0, key 1 dropped,
    one synthetic row (o_orderkey=999999, copied from key 2) added."""
    orders = _read(spark, sf_dir, "orders")
    mutated = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") * 2).otherwise(
            F.col("o_totalprice")
        ),
    ).filter(F.col("o_orderkey") != 1)
    extra = (
        orders.filter(F.col("o_orderkey") == 2)
        .withColumn("o_orderkey", F.lit(999999).cast("long"))
    )
    return mutated.unionByName(extra)


_MUTATED_ORDERS_SQL = """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey <> 1
    UNION ALL
    SELECT 999999, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey = 2
"""


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus re-keyed copies of doc_id < 50 (exact duplicates)."""
    docs = _read(spark, sf_dir, "documents")
    copies = docs.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", (F.col("doc_id") + 100000).cast("long")
    )
    return docs.unionByName(copies)


_DOCS_WITH_DUPS_SQL = """
    SELECT * FROM documents
    UNION ALL
    SELECT doc_id + 100000, text, lang, source, n_chars
    FROM documents WHERE doc_id < 50
"""

_NORM_FP_SQL = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"

_BPE_PATTERN = BPE_CHUNK_PATTERN

# portable 60-bit hash (see hermes_spark/functions/hashing.py)
def _dhash(expr: str) -> str:
    return f"('0x' || substring(md5({expr}), 1, 15))::BIGINT"


_TOKENS_SQL = "regexp_split_to_array(trim(lower(text)), '\\s+')"


def _shingles_sql(text: str = "text", n: int = SHINGLE_N) -> str:
    return (
        f"CASE WHEN length({text}) <= {n} THEN [substring({text}, 1, {n})] "
        f"ELSE list_distinct([substring({text}, i, {n}) "
        f"FOR i IN range(1, length({text}) - {n - 1} + 1)]) END"
    )


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------


def q_compare_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    actual = _mutated_orders(spark, sf_dir)
    result = compare(orders, actual, keys=["o_orderkey"], config=ComparisonConfig(mode="fast"))
    schema = StructType(
        [
            StructField("ref_row_count", LongType()),
            StructField("new_row_count", LongType()),
            StructField("ref_duplicate_count", LongType()),
            StructField("new_duplicate_count", LongType()),
            StructField("passed_count", LongType()),
            StructField("diff_count", LongType()),
        ]
    )
    return spark.createDataFrame(
        [
            (
                result.ref_row_count,
                result.new_row_count,
                result.ref_duplicate_count,
                result.new_duplicate_count,
                result.passed_count,
                result.diff_count,
            )
        ],
        schema,
    )


def q_compare_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    actual = _mutated_orders(spark, sf_dir)
    result = compare(orders, actual, keys=["o_orderkey"], config=ComparisonConfig(mode="fast"))
    df = result.result_df
    return df.select(
        *[F.col(f"expected_{c}") for c in ORDERS_COLS],
        *[F.col(f"actual_{c}") for c in ORDERS_COLS],
        F.array_join(F.array_sort(F.col("errCol")), ",").alias("err_cols"),
    )


def q_dedup_duplicate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    dup = (
        li.groupBy("l_orderkey", "l_linenumber")
        .count()
        .filter(F.col("count") >= 2)
        .agg(F.count(F.lit(1)).alias("dup_key_count"))
    )
    return dup


def q_except_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    mutated = li.withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") % 193 == 0, F.col("l_quantity") * 2).otherwise(
            F.col("l_quantity")
        ),
    )
    return li.subtract(mutated)


def q_key_hash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.md5(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
            )
        ).alias("row_key"),
    )


def q_sort_aligned_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _read(spark, sf_dir, "customer")
    return customer.select(*sorted_selector(customer.schema))


def q_flatten_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    nested = orders.select(
        F.col("o_orderkey").alias("id"),
        F.struct(
            F.col("o_custkey").alias("cust"),
            F.struct(
                F.col("o_totalprice").alias("price"),
                F.col("o_orderstatus").alias("status"),
            ).alias("od"),
        ).alias("info"),
        F.array(F.col("o_orderpriority"), F.col("o_orderstatus")).alias("tags"),
    )
    return flatten_dataframe(nested)


def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    # all factors cast to exact decimals BEFORE multiplying so both engines
    # compute the identical rational value (double*double then ->decimal
    # rounds differently across engines at the last digit)
    disc = "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(4,2))"
    charge = f"{disc} * CAST(1+l_tax AS DECIMAL(4,2))"
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.expr("CAST(l_quantity AS DECIMAL(18,2))")).cast("double").alias("sum_qty"),
            F.sum(F.expr("CAST(l_extendedprice AS DECIMAL(18,2))")).cast("double").alias("sum_base_price"),
            F.sum(F.expr(disc)).cast("double").alias("sum_disc_price"),
            F.sum(F.expr(charge)).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-03-15").cast("timestamp")
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter((F.col("o_orderdate") < cutoff) & (F.col("l_shipdate") > cutoff))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(F.expr("CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(4,2))"))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _read(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _read(spark, sf_dir, "nation")
    customer = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    supplier = _read(spark, sf_dir, "supplier")
    return (
        region.join(nation, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(customer, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supplier,
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(F.expr("CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(4,2))"))
            .cast("double")
            .alias("revenue")
        )
    )


def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: top 20 customers by revenue lost to returned
    items in one quarter. Broadcast dims, decimal-exact revenue."""
    customer = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _read(spark, sf_dir, "nation")
    return (
        customer.join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(
                F.expr(
                    "CAST(l_extendedprice AS DECIMAL(12,2))"
                    " * CAST(1-l_discount AS DECIMAL(4,2))"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


_SQL_Q10 = """
SELECT c_custkey, c_name, c_acctbal, n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON n_nationkey = c_nationkey
WHERE o_orderdate >= '1996-10-01' AND o_orderdate < '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: orders whose total quantity exceeds a threshold
    — the classic agg-then-semi-join shape (the HAVING side is tiny, so
    it broadcasts into the wide join)."""
    li = _read(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("__q"))
        .filter(F.col("__q") > 150)
        .select("l_orderkey", F.col("__q").cast("double").alias("total_qty"))
    )
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    return (
        orders.join(
            F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey")
        )
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp_ntz").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
    )


_SQL_Q18 = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(big.total_qty AS DOUBLE) AS total_qty
FROM (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 150
) big
JOIN orders ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
"""


def q_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style: share of one month's revenue from ECONOMY parts.
    lineitem-part equi-join (part broadcasts), decimal-exact ratio."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    part = _read(spark, sf_dir, "part")
    rev = "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(4,2))"
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(
                    F.expr(f"CASE WHEN p_type = 'ECONOMY' THEN {rev} ELSE CAST(0 AS DECIMAL(12,2)) END")
                ).cast("double")
                / F.sum(F.expr(rev)).cast("double")
            ).alias("raw")
        )
        .select(F.round(F.col("raw"), 4).alias("promo_share"))
    )


_SQL_Q14 = """
SELECT round(
  100.0
  * CAST(SUM(CASE WHEN p_type = 'ECONOMY'
        THEN CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(4,2))
        ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(4,2))) AS DOUBLE),
  4) AS promo_share
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= '1996-03-01' AND l_shipdate < '1996-04-01'
"""


def q_customer_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer over time — the canonical
    unbounded-preceding window; one exchange on o_custkey."""
    orders = _read(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("timestamp_ntz").alias("o_orderdate"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).over(w).cast("double"),
            2,
        ).alias("running_total"),
    )


_SQL_RUNNING_TOTALS = """
SELECT o_custkey, o_orderkey, o_orderdate,
  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
  AS running_total
FROM orders WHERE o_custkey < 50
"""


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet may carry TIMESTAMP(NANOS); depending on the Spark
    build / conf, the column reads either as a raw nanos BIGINT (when
    ``spark.sql.legacy.parquet.nanosAsLong`` takes effect) or directly as
    a timestamp.  Normalize both cases to a timestamp_ntz ``ts`` column,
    matching what DuckDB sees."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = _read(spark, sf_dir, "events")
    ts_type = dict(events.dtypes).get("ts", "")
    if ts_type.startswith("timestamp"):
        if ts_type == "timestamp_ntz":
            return events
        return events.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return events.withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
    )


def q_events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _read_events(spark, sf_dir)
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _read_events(spark, sf_dir)
    return (
        events.select(F.get_json_object("props", "$.k").cast("long").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_dups(spark, sf_dir)
    out = exact_dedup(docs, "doc_id", text_col="text")
    return out.select("doc_id", "lang", "source", F.col("dup_count").cast("long").alias("dup_count"))


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a retention POLICY (r7): keep the group's
    maximum-keep_by row (ties -> min id) instead of the minimum id —
    here the planted +100000 mirror copies outrank their originals, so
    every dup group must surface its mirror. Same single window shuffle
    as the default policy (operators/dedup.py exact_dedup)."""
    docs = _docs_with_dups(spark, sf_dir)
    out = exact_dedup(
        docs,
        "doc_id",
        text_col="text",
        keep_by=F.when(F.col("doc_id") >= 100000, 2).otherwise(1),
    )
    return out.select(
        "doc_id", "lang", "source",
        F.col("dup_count").cast("long").alias("dup_count"),
    )


def q_dedup_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-over-snapshot exact dedup (`operators/dedup.py:
    exact_dedup_incremental`): the even-id half of the dup-planted
    corpus stands in for the previously-accepted snapshot (persisted
    as a distinct-fingerprint store), the odd-id half is the new
    batch.  In-batch winners follow exact_dedup (min id), then
    store-known fingerprints drop out.  One window exchange + one
    fingerprint-only anti-join."""
    from hermes_spark.operators import exact_dedup_incremental, fingerprint_store

    docs = _docs_with_dups(spark, sf_dir)
    store = fingerprint_store(
        docs.filter(F.col("doc_id") % 2 == 0), text_col="text"
    )
    out = exact_dedup_incremental(
        docs.filter(F.col("doc_id") % 2 == 1), "doc_id",
        text_col="text", store=store,
    )
    return out.select(
        "doc_id", "lang", "source",
        F.col("dup_count").cast("long").alias("dup_count"),
        "fingerprint",
    )


def _sql_dedup_incremental() -> str:
    return f"""
WITH docs2 AS ({_DOCS_WITH_DUPS_SQL}),
fp AS (SELECT *, {_NORM_FP_SQL} AS __fp FROM docs2),
store AS (SELECT DISTINCT __fp FROM fp WHERE doc_id % 2 = 0),
newb AS (SELECT * FROM fp WHERE doc_id % 2 = 1),
keep AS (
  SELECT __fp, min(doc_id) AS doc_id, count(*) AS dup_count
  FROM newb GROUP BY __fp
)
SELECT n.doc_id, n.lang, n.source, k.dup_count::BIGINT AS dup_count,
       n.__fp AS fingerprint
FROM newb n
JOIN keep k ON n.__fp = k.__fp AND n.doc_id = k.doc_id
WHERE n.__fp NOT IN (SELECT __fp FROM store)
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_dups(spark, sf_dir)
    out = duplicate_clusters(docs, "doc_id", "text")
    return out.select(
        "fingerprint",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.array_join(F.transform("member_ids", lambda x: x.cast("string")), ",").alias(
            "member_ids"
        ),
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_dups(spark, sf_dir)
    return minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        shingle_n=SHINGLE_N,
        num_hashes=MINHASH_HASHES,
        num_bands=MINHASH_BANDS,
        portable=True,
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        group_cols=("lang", "source"),
        shingle_n=SHINGLE_N,
        min_jaccard=JACCARD_MIN,
    )


def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return simhash_fingerprints(docs, "doc_id", "text", bits=SIMHASH_BITS).select(
        F.col("id").alias("doc_id"), "simhash"
    )


def q_passage_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level (16-word chunk) corpus-wide duplication profile over
    the duplicated-docs corpus — RefinedWeb-style span dedup signal."""
    docs = _docs_with_dups(spark, sf_dir)
    return duplicate_passage_stats(docs, "doc_id", "text", window=PASSAGE_WINDOW)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag docs sharing any 8-gram with the
    deterministic benchmark slice (doc_id % 97 == 0)."""
    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % DECONTAM_BENCH_MOD == 0)
    return decontaminate(docs, bench, "doc_id", "text", n=DECONTAM_N)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy prefix-sum packing of documents into 256-token training
    sequences across 8 deterministic hash shards."""
    docs = _read(spark, sf_dir, "documents")
    return pack_sequences(
        docs,
        "doc_id",
        text_col="text",
        budget=PACK_BUDGET,
        num_shards=PACK_SHARDS,
    )


def q_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 32-token context windows (stride 16) per document."""
    docs = _read(spark, sf_dir, "documents")
    return token_chunks(
        docs, "doc_id", "text", size=CHUNK_SIZE, stride=CHUNK_STRIDE
    )


SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment keyed to doc_id
    (hash-boundary, layout-independent, holdout-stable)."""
    from hermes_spark.operators.sampling import split_assign

    docs = _read(spark, sf_dir, "documents")
    return split_assign(docs, "doc_id", SPLIT_WEIGHTS).select("doc_id", "split")


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix over documents plus a synthetic
    'crawl_copy' source replaying doc_id < 50 (fingerprint-level overlap
    counts per source pair)."""
    from hermes_spark.operators.dedup import source_overlap

    docs = _read(spark, sf_dir, "documents")
    copies = (
        docs.filter(F.col("doc_id") < 50)
        .withColumn("doc_id", (F.col("doc_id") + 100000).cast("long"))
        .withColumn("source", F.lit("crawl_copy"))
    )
    return source_overlap(docs.unionByName(copies), "doc_id", "text", "source")


def q_length_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric token-length curriculum bins with per-bin accounting."""
    from hermes_spark.operators.packing import length_curriculum

    docs = _read(spark, sf_dir, "documents")
    return length_curriculum(docs, "doc_id", "text")


FUNNEL_STEPS = ["view", "click", "purchase"]


def q_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel over the events table."""
    from hermes_spark.operators.funnel import funnel_counts

    events = _read_events(spark, sf_dir)
    return funnel_counts(events, FUNNEL_STEPS)


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle over the events table."""
    from hermes_spark.operators.funnel import cohort_retention

    events = _read_events(spark, sf_dir)
    return cohort_retention(events, granularity="week")


BM25_QUERY = ["merge", "join", "vector"]
BM25_K = 20
RRF_QUERY_VEC = 0  # embeddings row used as the semantic query vector
RRF_K = 60  # standard RRF dampening constant
RRF_TOP = 10
LOGREG_ITERS = 2
LOGREG_LR = 1.0
EDIT_MAX_DIST = 5
EDIT_PREFIX = 8
EDIT_MATCH_LEN = 40
EDIT_MAX_BLOCK = 1000
LM_VOCAB = 300
LM_K_NUM = 1  # add-k smoothing as an exact fraction: k = 1/2
LM_K_DEN = 2

CDC_DELETE_MOD = 211


def _orders_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders as a pseudo change log: key=o_custkey, ts=o_orderdate,
    deterministic delete markers on o_orderkey % 211 == 0."""
    orders = _read(spark, sf_dir, "orders")
    return orders.select(
        "o_custkey",
        F.col("o_orderdate").cast("timestamp_ntz").alias("ts"),
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % CDC_DELETE_MOD == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )


def q_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter linkage weights over nation-blocked customer
    pairs, scoring market-segment and account-balance-bucket agreement."""
    from hermes_spark.operators.dedup import linkage_scores

    cust = _read(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
    )
    left = cust.select(F.col("c_nationkey").alias("__n"), F.col("c_custkey").alias("id_a"))
    right = cust.select(F.col("c_nationkey").alias("__n"), F.col("c_custkey").alias("id_b"))
    pairs = (
        left.join(right, on="__n")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return linkage_scores(
        cust,
        pairs,
        "c_custkey",
        {"c_mktsegment": (0.9, 0.2), "bal_bucket": (0.7, 0.15)},
    )


def q_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction: current row per customer from the orders change
    log (newest-wins incl. deletes)."""
    from hermes_spark.operators.cdc import latest_by_key

    return latest_by_key(
        _orders_changelog(spark, sf_dir),
        ["o_custkey"],
        "ts",
        op_col="op",
        tiebreak=["o_orderkey"],
    )


def q_events_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h z-score anomalies on gap-filled hourly event counts
    per event type."""
    from hermes_spark.operators.gapfill import gapfill_rollup, rolling_anomalies

    events = _read_events(spark, sf_dir)
    hourly = gapfill_rollup(
        events, "ts", "value", group_cols=["event_type"], unit="hour"
    ).select("event_type", "bucket", F.col("n_events").cast("long").alias("n_events"))
    out = rolling_anomalies(
        hourly, "bucket", "n_events", group_cols=["event_type"], lookback=24
    )
    return out.select(
        "event_type",
        F.col("bucket").cast("timestamp_ntz").alias("bucket"),
        "n_events",
        "expected",
        "zscore",
        "is_anomaly",
    )


def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for a fixed 3-term query."""
    from hermes_spark.operators.tfidf import bm25_scores

    docs = _read(spark, sf_dir, "documents")
    return bm25_scores(docs, BM25_QUERY, k=BM25_K)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_guess"))


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        quality_score(F.col("text")).alias("quality"),
        doc_fingerprint(F.col("text")).alias("fingerprint"),
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    out = brute_force_cosine_topk(emb, queries, k=ANN_K)
    return out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def q_ann_cosine_topk_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized (mapInPandas + BLAS matmul, per-batch top-k
    pruning) exact ANN — same results as ann_cosine_topk, checked
    against the same oracle."""
    from hermes_spark.operators import brute_force_cosine_topk_pandas

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    out = brute_force_cosine_topk_pandas(emb, queries, k=ANN_K)
    return out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < IVF_CENTROIDS).withColumnRenamed(
        "vec_id", "centroid_id"
    )
    return ivf_assign(emb, centroids)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < IVF_CENTROIDS).withColumnRenamed(
        "vec_id", "centroid_id"
    )
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    out = ivf_topk(emb, centroids, queries, k=ANN_K)
    return out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL semantics (duplicate-preserving complement) — the
    scale-friendly variant the engine offers beyond the reference's
    EXCEPT DISTINCT (SURVEY.md §2.5)."""
    li = _read(spark, sf_dir, "lineitem")
    doubled = li.unionByName(li.filter(F.col("l_orderkey") % 151 == 0))
    return doubled.exceptAll(li)


def q_compare_metrics_nokeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-row-hash compare mode (no keys): any column change makes the
    row unmatched on both sides (reference behavior, SURVEY.md §7.3)."""
    orders = _read(spark, sf_dir, "orders")
    actual = _mutated_orders(spark, sf_dir)
    result = compare(orders, actual, config=ComparisonConfig(mode="fast"))
    schema = StructType(
        [
            StructField("ref_row_count", LongType()),
            StructField("new_row_count", LongType()),
            StructField("passed_count", LongType()),
            StructField("diff_count", LongType()),
        ]
    )
    return spark.createDataFrame(
        [
            (
                result.ref_row_count,
                result.new_row_count,
                result.passed_count,
                result.diff_count,
            )
        ],
        schema,
    )


def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.expr(
                    "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "o_custkey", "o_orderkey", "o_totalprice", F.col("rank").cast("long").alias("rank")
        )
    )


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _read_events(spark, sf_dir)
    return (
        events.cube(
            F.col("event_type"),
            F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def q_docs_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "lang",
            token_count(F.col("text")).alias("n_tokens"),
            quality_score(F.col("text")).alias("quality"),
        )
        .filter((F.col("quality") >= 0.5) & (F.col("n_tokens") >= 10))
    )


def q_windowed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming rollup operator run in batch mode (same code path
    minus the watermark) — ties hermes_spark.streaming into the gate."""
    from hermes_spark.streaming import windowed_rollup

    events = _read_events(spark, sf_dir)
    out = windowed_rollup(
        events.select(F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"),
        "ts",
        "1 hour",
        group_cols=("event_type",),
        aggs=(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ),
    )
    return out.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        F.col("window_end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        "n_events",
        "sum_value",
    )


def q_compare_cherry_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cherry-pick schema compare: restrict the comparison to a subset
    of columns (the reference's 'ignore the volatile column' mechanism,
    DatasetComparator.scala:36-38). The o_totalprice mutation is outside
    the picked columns, so only the dropped/added keys remain as diffs."""
    from pyspark.sql.types import StringType

    orders = _read(spark, sf_dir, "orders")
    actual = _mutated_orders(spark, sf_dir)
    picked = StructType(
        [
            StructField("o_orderkey", orders.schema["o_orderkey"].dataType),
            StructField("o_custkey", orders.schema["o_custkey"].dataType),
            StructField("o_orderstatus", StringType()),
        ]
    )
    result = compare(
        orders,
        actual,
        keys=["o_orderkey"],
        config=ComparisonConfig(mode="fast"),
        schema=picked,
    )
    schema = StructType(
        [
            StructField("passed_count", LongType()),
            StructField("diff_count", LongType()),
        ]
    )
    return spark.createDataFrame(
        [(result.passed_count, result.diff_count)], schema
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


BOILER_FOOTER = "footer: subscribe to our newsletter"
BOILER_MIN_DOCS = 3


def q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate removal: a footer line injected into every
    even-id document is detected by document frequency and stripped;
    odd-id documents pass through untouched."""
    from hermes_spark.operators import strip_boilerplate_lines

    docs = _read(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit("\n" + BOILER_FOOTER)),
        ).otherwise(F.col("text")),
    )
    out = strip_boilerplate_lines(docs, "doc_id", "text", min_docs=BOILER_MIN_DOCS)
    return out.select("doc_id", F.md5("text").alias("text_md5"))


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: repeated word/bigram fractions."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        repetition_ratio(F.col("text"), 1).alias("rep_unigram"),
        repetition_ratio(F.col("text"), 2).alias("rep_bigram"),
    )


def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking + density counting over the documents corpus."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(scrub_pii(F.col("text"))).alias("scrubbed_md5"),
        pii_match_count(F.col("text")).alias("n_pii_matches"),
    )


SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.25}
SAMPLE_DEFAULT_FRACTION = 0.1


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible per-language rebalancing of the documents corpus
    (hash-threshold sampling — layout-independent, nested-subset safe)."""
    from hermes_spark.operators import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    return stratified_sample(
        docs,
        "doc_id",
        "lang",
        SAMPLE_FRACTIONS,
        default_fraction=SAMPLE_DEFAULT_FRACTION,
    ).select("doc_id", "lang", "source", "n_chars")


def q_range_join_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval: events matched to deterministic 8-hour
    'observation windows' (every 7th hour per type), overlapping so some
    events match two windows; bucketized equi-join, no nested loop."""
    from hermes_spark.operators import range_join

    events = _read_events(spark, sf_dir).select(
        "event_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    windows = (
        events.select(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("w_start")
        )
        .distinct()
        .filter(F.hour("w_start") % 7 == 0)
        .withColumn("w_end", F.col("w_start") + F.expr("interval 8 hours"))
    )
    out = range_join(
        events, windows, "ts", "w_start", "w_end", by=("event_type",)
    )
    return out.select(
        "event_id",
        "event_type",
        F.col("w_start").cast("timestamp_ntz").alias("w_start"),
    )


def q_gapfill_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly rollup: every (hour, event_type) bucket present,
    zero-filled when no events landed in it."""
    from hermes_spark.operators import gapfill_rollup

    events = _read_events(spark, sf_dir).select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    out = gapfill_rollup(
        events, "ts", "value", unit="hour", group_cols=("event_type",)
    )
    return out.select(
        F.col("bucket").cast("timestamp_ntz").alias("bucket"),
        "event_type",
        "n_events",
        "sum_value",
    )


def q_events_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact value quantiles per event type (Spark percentile() and
    DuckDB quantile_cont() share the linear-interpolation definition)."""
    events = _read_events(spark, sf_dir)
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


def q_asof_join_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks the most recent 6-hourly average
    'rate' for its event type (backward temporal match, left-join
    semantics; oracle = DuckDB's native ASOF LEFT JOIN)."""
    from hermes_spark.operators import asof_join

    events = _read_events(spark, sf_dir).select(
        "event_id", "event_type", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    rates = (
        events.groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("rate_ts"),
        )
        .agg(F.round(F.avg("value"), 4).alias("rate"))
        .filter(F.hour("rate_ts") % 6 == 0)
    )
    out = asof_join(
        events, rates, ts_col="ts", by=("event_type",), right_ts_col="rate_ts"
    )
    return out.select(
        "event_id",
        "event_type",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "rate",
    )


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type matrix via the DataFrame pivot operator (explicit
    value list keeps the plan single-pass and deterministic)."""
    events = _read_events(spark, sf_dir)
    return (
        events.groupBy(
            F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day")
        )
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
        .select(
            "day", *[F.col(t).cast("long").alias(f"n_{t}") for t in EVENT_TYPES]
        )
    )


def q_user_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition: sessionize -> per-user session analytics."""
    sessions = q_sessionize_events(spark, sf_dir)
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.round(
            F.avg(
                F.col("session_end").cast("double")
                - F.col("session_start").cast("double")
            ),
            4,
        ).alias("avg_session_secs"),
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-data curation flow, composed end-to-end:
    quality/length gate -> exact dedup (keep min id per fingerprint) ->
    per-language corpus stats."""
    docs = _docs_with_dups(spark, sf_dir)
    gated = docs.select(
        "doc_id",
        "lang",
        "text",
        token_count(F.col("text")).alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
        doc_fingerprint(F.col("text")).alias("fp"),
    ).filter((F.col("quality") >= 0.5) & (F.col("n_tokens") >= 10))
    keep = gated.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    kept = gated.join(keep, on=["fp", "doc_id"], how="inner")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )


def q_near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup clustering: connected components over the exact
    n-gram-Jaccard near-dup pair graph."""
    docs = _read(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        group_cols=("lang", "source"),
        shingle_n=SHINGLE_N,
        min_jaccard=JACCARD_MIN,
    )
    return connected_components(pairs).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality proxy: per-doc mean unigram log-prob
    (hermes_spark.operators.tfidf.unigram_logprob)."""
    from hermes_spark.operators import unigram_logprob

    docs = _read(spark, sf_dir, "documents")
    return unigram_logprob(docs, "doc_id", "text")


def _sql_unigram_logprob() -> str:
    return """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents WHERE trim(lower(text)) <> ''
),
clean AS (SELECT doc_id, term FROM toks WHERE term <> ''),
tc AS (SELECT term, count(*)::BIGINT AS cnt FROM clean GROUP BY 1),
n AS (SELECT count(*) AS total FROM clean)
SELECT c.doc_id, count(*)::BIGINT AS n_tokens,
       round(avg(ln(tc.cnt / n.total)), 4) AS avg_logprob
FROM clean c JOIN tc ON c.term = tc.term CROSS JOIN n
GROUP BY c.doc_id
"""


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram corpus-LM scoring (operators/tfidf.bigram_logprob)."""
    from hermes_spark.operators import bigram_logprob

    docs = _read(spark, sf_dir, "documents")
    return bigram_logprob(docs, "doc_id", "text")


def _sql_bigram_logprob() -> str:
    return """
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS lst
  FROM documents WHERE trim(lower(text)) <> ''
),
toks AS (
  -- parallel unnests zip positionally in DuckDB; range() here is the
  -- list-valued scalar, giving each term its 1-based position
  SELECT doc_id, unnest(lst) AS term, unnest(range(1, len(lst) + 1)) AS pos
  FROM base
),
clean AS (SELECT doc_id, term, pos FROM toks WHERE term <> ''),
bigrams AS (
  SELECT doc_id,
         lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
         term AS cur
  FROM clean
),
bg AS (SELECT doc_id, prev, cur FROM bigrams WHERE prev IS NOT NULL),
bc AS (SELECT prev, cur, count(*) AS big_cnt FROM bg GROUP BY 1, 2),
cc AS (SELECT prev, count(*) AS ctx_cnt FROM bg GROUP BY 1)
SELECT bg.doc_id, count(*)::BIGINT AS n_bigrams,
       round(avg(ln(bc.big_cnt / cc.ctx_cnt)), 4) AS avg_logprob
FROM bg JOIN bc ON bg.prev = bc.prev AND bg.cur = bc.cur
JOIN cc ON bg.prev = cc.prev
GROUP BY bg.doc_id
"""


HASH_DIM = 64


def q_text_hash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurizer check: per-doc token-bucket counts (the
    scalar form of operators/tfidf.hashing_vectorize's dense vectors)."""
    from hermes_spark.functions.hashing import base_hash31

    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    return (
        toks.select(
            "doc_id",
            (base_hash31(F.col("term")) % HASH_DIM).cast("long").alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _sql_text_hash_buckets() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents WHERE trim(lower(text)) <> ''
)
SELECT doc_id,
       ((('0x' || substring(md5(term), 1, 8))::BIGINT % {MERSENNE31}) % {HASH_DIM})::BIGINT AS bucket,
       count(*)::BIGINT AS cnt
FROM toks WHERE term <> ''
GROUP BY 1, 2
"""


VOCAB_TOP_N = 50
BLOCK_PREFIX = 12


def q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary report (operators/tfidf.vocab_stats)."""
    from hermes_spark.operators import vocab_stats

    docs = _read(spark, sf_dir, "documents")
    return vocab_stats(docs, "doc_id", "text", top_n=VOCAB_TOP_N)


def _sql_vocab_top_terms() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents WHERE trim(lower(text)) <> ''
),
counts AS (
  SELECT term, count(*)::BIGINT AS cnt,
         count(DISTINCT doc_id)::BIGINT AS doc_freq
  FROM toks WHERE term <> '' GROUP BY 1
),
ranked AS (
  SELECT term, cnt, doc_freq,
         row_number() OVER (ORDER BY cnt DESC, term) AS rank
  FROM counts
)
SELECT term, cnt, doc_freq, rank::BIGINT AS rank
FROM ranked WHERE rank <= {VOCAB_TOP_N}
"""


def q_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic prefix-blocking candidate pairs
    (operators/dedup.blocking_key_pairs)."""
    from hermes_spark.operators import blocking_key_pairs

    docs = _read(spark, sf_dir, "documents")
    return blocking_key_pairs(docs, "doc_id", "text", prefix_len=BLOCK_PREFIX)


def _sql_blocking_pairs() -> str:
    return f"""
WITH keyed AS (
  SELECT doc_id,
         substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), 1, {BLOCK_PREFIX}) AS k
  FROM documents
),
nonempty AS (SELECT * FROM keyed WHERE k <> ''),
sized AS (
  SELECT k FROM nonempty GROUP BY k
  HAVING count(*) BETWEEN 2 AND 1000
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.k AS block_key
FROM nonempty a JOIN nonempty b ON a.k = b.k AND a.doc_id < b.doc_id
JOIN sized s ON s.k = a.k
"""


SKEW_TOP_N = 20


def q_events_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window rollup (10-minute windows sliding every 5): each
    event lands in length/slide windows via Spark's built-in
    ``F.window`` — the batch twin of the streaming sliding aggregation."""
    events = _read_events(spark, sf_dir)
    w = F.window(F.col("ts").cast("timestamp"), "10 minutes", "5 minutes")
    return (
        events.groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_SQL_EVENTS_SLIDING = """
WITH e AS (
  SELECT event_type, value, floor(epoch(ts))::BIGINT AS ep FROM events
),
wins AS (
  SELECT event_type, value,
         unnest(range(((ep - 600) // 300 + 1) * 300, (ep // 300) * 300 + 1, 300))
           AS start_ep
  FROM e
)
SELECT make_timestamp(start_ep * 1000000) AS window_start, event_type,
       count(*)::BIGINT AS n_events, round(sum(value), 4) AS sum_value
FROM wins GROUP BY 1, 2
"""


def q_events_user_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew report over the events stream table — the pre-flight
    check for any user_id-keyed join/agg (operators/profile.py)."""
    from hermes_spark.operators import skew_report

    events = _read_events(spark, sf_dir)
    return skew_report(events, ["user_id"], top_n=SKEW_TOP_N).select(
        F.col("user_id").cast("long").alias("user_id"), "cnt", "pct", "rank"
    )


def _sql_events_user_skew() -> str:
    return f"""
WITH c AS (SELECT user_id, count(*)::BIGINT AS cnt FROM events GROUP BY 1),
n AS (SELECT count(*) AS total FROM events),
ranked AS (
  SELECT user_id, cnt, round(cnt / total, 6) AS pct,
         row_number() OVER (ORDER BY cnt DESC, user_id) AS rank
  FROM c CROSS JOIN n
)
SELECT user_id, cnt, pct, rank::BIGINT AS rank
FROM ranked WHERE rank <= {SKEW_TOP_N}
"""


def q_events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-column profile of events (operators/profile.py)."""
    from hermes_spark.operators import column_profile

    events = _read_events(spark, sf_dir)
    return column_profile(events, ["event_type", "user_id", "value"])


def _sql_events_profile() -> str:
    per_col = []
    for c in ("event_type", "user_id", "value"):
        per_col.append(f"""
  SELECT '{c}' AS "column", count(*)::BIGINT AS n_rows,
         sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
         round(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) / count(*), 6) AS null_pct,
         count(DISTINCT {c})::BIGINT AS n_distinct
  FROM events""")
    return " UNION ALL ".join(per_col) + ' ORDER BY "column"'


def q_events_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorized value stats (operators/profile.py)."""
    from hermes_spark.operators import winsorize

    events = _read_events(spark, sf_dir)
    w = winsorize(events, "value", ["event_type"], lower=0.05, upper=0.95)
    return (
        w.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value_w"), 4).alias("avg_w"),
            F.round(F.min("value_w"), 4).alias("min_w"),
            F.round(F.max("value_w"), 4).alias("max_w"),
        )
    )


_SQL_EVENTS_WINSORIZED = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type, count(*)::BIGINT AS n,
       round(avg(least(greatest(e.value, b.lo), b.hi)), 4) AS avg_w,
       round(min(least(greatest(e.value, b.lo), b.hi)), 4) AS min_w,
       round(max(least(greatest(e.value, b.lo), b.hi)), 4) AS max_w
FROM events e JOIN b ON e.event_type = b.event_type
GROUP BY e.event_type
"""


#: hamming radius for the r12c ahash near-dup leg of the multimodal
#: combined query (measured at sf0.01: 105 of 124,750 doc pairs land
#: within 10 of 63 bits — nontrivial but far from degenerate)
AHASH_MAX_HAMMING = 10


def _ahash63(data: bytes) -> int:
    """Deterministic 63-bit average-hash of a byte blob: 63 samples
    spread across the blob (byte index ``(k*n) div 63``), bit k set
    iff ``63*s_k > sum(s)`` — exact integer arithmetic replayed
    verbatim by the DuckDB oracle (hex-extraction), so the REAL banded
    hamming join (``fingerprint_near_dup_pairs``, arrow kernel) gets
    an exact cross-engine correctness check.  63 bits, not 64, so the
    packed value never touches the sign bit in either engine."""
    n = len(data)
    if n == 0:
        return 0
    s = [data[(k * n) // 63] for k in range(63)]
    tot = sum(s)
    v = 0
    for k, x in enumerate(s):
        if 63 * x > tot:
            v |= 1 << k
    return v


def q_multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: text bytes stand in for media
    binaries (no codec libs in this environment), metadata attach +
    Arrow-batched mapInPandas feature extraction with the deterministic
    stub decoder (operators/multimodal.py). Oracle-paired: the stub's
    byte arithmetic is reproduced in DuckDB via hex(blob) byte
    extraction (see ``_sql_multimodal_image_features``).

    r12c combined-query extension (registry stays at 150 per the
    SURVEY §8.9 consolidation rule): each doc also carries its
    ``_ahash63`` fingerprint and ``n_near`` — how many OTHER docs land
    within ``AHASH_MAX_HAMMING`` bits — computed by the REAL
    ``fingerprint_near_dup_pairs`` banded arrow kernel and checked
    against a brute-force DuckDB ``bit_count(xor(...))`` self-join, so
    the perceptual-dedup pairing core is exact-oracle-paired, not just
    pytest-pinned."""
    import pandas as pd

    from hermes_spark.operators import extract_image_features, with_media_metadata
    from hermes_spark.operators.dedup import fingerprint_near_dup_pairs
    from hermes_spark.operators.multimodal import decode_image_stub

    docs = _read(spark, sf_dir, "documents")
    media = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("media")
    )
    media = with_media_metadata(media, "media", "image", "fake")
    # the stub decoder EXPLICITLY: these bytes are synthetic, and the
    # DuckDB oracle replays the stub's arithmetic.  The default decoder
    # is the real PNG parser (operators/codecs.py) since round 6.
    feats = extract_image_features(media, "doc_id", "media", decoder=decode_image_stub)

    ahash_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("ahash", LongType()),
        ]
    )

    def ahash_kernel(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "ahash": [
                        _ahash63(bytes(b)) for b in pdf["media"]
                    ],
                }
            )

    hashes = media.select("doc_id", "media").mapInPandas(
        ahash_kernel, ahash_schema
    )
    pairs = fingerprint_near_dup_pairs(
        hashes, "doc_id", "ahash", bits=64, max_hamming=AHASH_MAX_HAMMING
    )
    near_counts = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_near"))
    )
    return (
        feats.join(hashes, "doc_id")
        .join(near_counts, "doc_id", "left")
        .select(
            "doc_id",
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            F.round("mean_intensity", 4).alias("mean_intensity"),
            F.col("ahash"),
            F.coalesce(F.col("n_near"), F.lit(0)).cast("long").alias("n_near"),
        )
    )


def _sql_kmeans_ivf_topk() -> str:
    """Unrolled-CTE Lloyd iterations (the pagerank-oracle move applied
    to k-means): deterministic init (k smallest ids), each iteration =
    one 6-dp-rounded-cosine assignment + one per-component mean, then
    the IVF search over the final centroids. Assignment decisions are
    made on ROUNDED cosines on both engines, which keeps the iterative
    chain hash-stable despite FP sum-order differences — up to
    ulp-level effects: the pre-round sums use different summation
    orders per engine, so a cosine within an ulp of a .5e-6 boundary
    could round apart (not observed on the test corpora)."""

    def cos(vec: str, cent: str) -> str:
        dot = (
            f"list_sum(list_transform(range(1, {EMBED_DIM + 1}), i -> "
            f"CAST({vec}[i] AS DOUBLE) * {cent}[i]))"
        )
        vn = (
            f"sqrt(list_sum(list_transform({vec}, "
            f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        )
        cn = f"sqrt(list_sum(list_transform({cent}, x -> x * x)))"
        return f"round({dot} / ({vn} * {cn}), 6)"

    parts = [
        f"""WITH expl AS (
  SELECT vec_id, unnest(range(0, {EMBED_DIM})) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
c0 AS (
  SELECT vec_id AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
  FROM embeddings ORDER BY vec_id LIMIT {IVF_CENTROIDS}
)"""
    ]
    for i in range(1, KMEANS_IVF_ITERS + 1):
        parts.append(
            f""",
a{i} AS (
  SELECT v.vec_id, c.cid, {cos("v.embedding", "c.centroid")} AS cos
  FROM embeddings v CROSS JOIN c{i - 1} c
),
b{i} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cid ASC) AS rn
    FROM a{i}
  ) WHERE rn = 1
),
u{i} AS (
  SELECT b.cid, e.pos, avg(e.x) AS m
  FROM b{i} b JOIN expl e ON e.vec_id = b.vec_id
  GROUP BY 1, 2
),
c{i} AS (SELECT cid, list(m ORDER BY pos) AS centroid FROM u{i} GROUP BY cid)"""
        )
    n = KMEANS_IVF_ITERS
    parts.append(
        f""",
corpus_cell AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {cos("v.embedding", "c.centroid")} DESC,
                                       c.cid ASC) AS rn
    FROM embeddings v CROSS JOIN c{n} c
  ) WHERE rn = 1
),
query_cell AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {cos("v.embedding", "c.centroid")} DESC,
                                       c.cid ASC) AS rn
    FROM embeddings v CROSS JOIN c{n} c
    WHERE v.vec_id < {ANN_QUERIES}
  ) WHERE rn = 1
),
scored AS (
  SELECT qc.query_id, cc.vec_id,
         {cos("q.embedding", "list_transform(v.embedding, x -> CAST(x AS DOUBLE))")} AS cosine
  FROM query_cell qc
  JOIN corpus_cell cc ON cc.cid = qc.cid
  JOIN embeddings q ON q.vec_id = qc.query_id
  JOIN embeddings v ON v.vec_id = cc.vec_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank::BIGINT AS rank
FROM ranked WHERE rank <= {ANN_K}
"""
    )
    return "".join(parts)


def q_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-contained IVF: fit centroids with DataFrame k-means, then
    search. The fit is deterministic (smallest-id init, fixed iteration
    count, assignment by 6-dp-ROUNDED cosine), so the Lloyd iterations
    unroll into the oracle's CTE chain exactly like the pagerank power
    iteration does — the rounded assignment keeps the chain hash-stable
    across engines up to ulp effects in the pre-round sums (see
    _sql_kmeans_ivf_topk)."""
    from hermes_spark.operators import kmeans_centroids

    emb = _read(spark, sf_dir, "embeddings")
    centroids = kmeans_centroids(
        emb, k=IVF_CENTROIDS, dim=64, max_iter=KMEANS_IVF_ITERS
    )
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    out = ivf_topk(emb, centroids, queries, k=ANN_K)
    return out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


TFIDF_K = 5


def q_tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by smoothed TF-IDF
    (hermes_spark.operators.tfidf)."""
    docs = _read(spark, sf_dir, "documents")
    return tfidf_topk_terms(docs, "doc_id", "text", k=TFIDF_K)


def _sql_tfidf_topk_terms() -> str:
    return f"""
WITH docs AS (SELECT doc_id, trim(lower(text)) AS t FROM documents),
toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(t, '\\s+')) AS term
  FROM docs WHERE t <> ''
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM toks WHERE term <> '' GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * (ln((n.n_docs + 1) / (dfreq.df_t + 1)) + 1), 6) AS score
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, tf, score, rank::BIGINT AS rank
FROM ranked WHERE rank <= {TFIDF_K}
"""


def q_near_dup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering as near_dup_components, checked against the same
    oracle.  It was the large-star/small-star variant (Kiveris et al.
    2014); ``connected_components`` is now the one clustering
    algorithm, and the query keeps its name and oracle so the query
    registry does not move."""
    docs = _read(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        group_cols=("lang", "source"),
        shingle_n=SHINGLE_N,
        min_jaccard=JACCARD_MIN,
    )
    return connected_components(pairs).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _read_events(spark, sf_dir)
    return sessionize(
        events.select("user_id", F.col("ts").cast("timestamp").alias("ts")),
        "user_id",
        "ts",
        gap_seconds=1800,
    )


NEAR_DUP_MAX_ID = 500
NEAR_DUP_MIN_COSINE = 0.4


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < NEAR_DUP_MAX_ID
    )
    return embedding_near_dup_pairs(
        emb, min_cosine=NEAR_DUP_MIN_COSINE, exact=True
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style keep-one per embedding-cosine component (exact pair
    graph on the near-dup slice for oracle determinism; the production
    path sets exact=False for LSH bucketing)."""
    from hermes_spark.operators.similarity import semantic_dedup

    emb = _read(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < NEAR_DUP_MAX_ID
    )
    return semantic_dedup(
        emb, min_cosine=NEAR_DUP_MIN_COSINE, exact=True
    ).select("vec_id")


# -- non-SQL-expressible (rows-only check): approximate variants ------------


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_dups(spark, sf_dir)
    out = simhash_near_dup_pairs(docs, "doc_id", "text", bits=SIMHASH_BITS, max_hamming=3)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


# ---------------------------------------------------------------------------
# oracle SQL generators
# ---------------------------------------------------------------------------


def _sql_compare_metrics() -> str:
    return f"""
WITH actual AS ({_MUTATED_ORDERS_SQL}),
ref_e AS (SELECT * FROM orders EXCEPT SELECT * FROM actual),
act_e AS (SELECT * FROM actual EXCEPT SELECT * FROM orders)
SELECT
  (SELECT count(*) FROM orders)::BIGINT AS ref_row_count,
  (SELECT count(*) FROM actual)::BIGINT AS new_row_count,
  (SELECT count(*) FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) >= 2))::BIGINT AS ref_duplicate_count,
  (SELECT count(*) FROM (SELECT o_orderkey FROM actual GROUP BY 1 HAVING count(*) >= 2))::BIGINT AS new_duplicate_count,
  ((SELECT count(*) FROM orders) - (SELECT count(*) FROM ref_e))::BIGINT AS passed_count,
  (SELECT count(*) FROM (SELECT o_orderkey FROM ref_e UNION SELECT o_orderkey FROM act_e))::BIGINT AS diff_count
"""


def _sql_compare_diff() -> str:
    exp = ",\n  ".join(f"e.{c} AS expected_{c}" for c in ORDERS_COLS)
    act = ",\n  ".join(f"a.{c} AS actual_{c}" for c in ORDERS_COLS)
    err_items = ", ".join(
        f"CASE WHEN e.{c} IS DISTINCT FROM a.{c} THEN '{c}' END" for c in ORDERS_COLS
    )
    return f"""
WITH actual AS ({_MUTATED_ORDERS_SQL}),
ref_e AS (SELECT * FROM orders EXCEPT SELECT * FROM actual),
act_e AS (SELECT * FROM actual EXCEPT SELECT * FROM orders)
SELECT
  {exp},
  {act},
  array_to_string(list_sort(list_filter([{err_items}], x -> x IS NOT NULL)), ',') AS err_cols
FROM ref_e e FULL OUTER JOIN act_e a ON e.o_orderkey = a.o_orderkey
"""


def _sql_q1() -> str:
    return """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(4,2)) * CAST(1+l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
  count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def _sql_q3() -> str:
    return """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def _sql_q5() -> str:
    return """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def _sql_lang_id() -> str:
    """Mirror of functions.text.lang_id's two-tier cascade, regenerated
    from the same LANG_MARKERS / SCRIPT_CLASSES tables.  Arithmetic
    shapes match the Spark expressions exactly (same counts, same
    denominator, same association) so borderline doubles branch the
    same way in both engines."""
    from hermes_spark.functions.text import (
        EXPLICIT_WS,
        FA_ONLY_CHARS,
        RU_ONLY_CHARS,
        SCRIPT_CLASSES,
        SCRIPT_MIN_RATIO,
        UK_ONLY_CHARS,
    )

    langs = sorted(LANG_MARKERS)
    ratio_defs = []
    for lang in langs:
        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        ratio_defs.append(
            f"(len(list_filter(toks, t -> t IN ({markers})))::DOUBLE"
            f" / greatest(len(toks), 1)) AS r_{lang}"
        )
    cnt_defs = [
        f"len(regexp_extract_all(t, '{cls}')) AS c_{name}"
        for name, cls in SCRIPT_CLASSES.items()
    ]
    gx = "greatest(" + ", ".join(f"r_{lang}" for lang in langs) + ")"
    latin_hits = " ".join(
        f"WHEN r_{lang} = gx THEN '{lang}'" for lang in langs
    )
    latin = f"CASE WHEN gx >= 0.05 THEN CASE {latin_hits} END ELSE 'und' END"
    s = SCRIPT_MIN_RATIO
    case = f"""CASE
  WHEN c_hangul::DOUBLE / ns >= {s} THEN 'ko'
  WHEN (c_han + c_kana)::DOUBLE / ns >= {s} AND c_kana > 0 THEN 'ja'
  WHEN c_han::DOUBLE / ns >= {s} THEN 'zh'
  WHEN c_cyr::DOUBLE / ns >= {s} THEN
    CASE WHEN len(regexp_extract_all(lower(t), '{UK_ONLY_CHARS}'))
            > len(regexp_extract_all(lower(t), '{RU_ONLY_CHARS}'))
         THEN 'uk' ELSE 'ru' END
  WHEN c_arab::DOUBLE / ns >= {s} THEN
    CASE WHEN len(regexp_extract_all(lower(t), '{FA_ONLY_CHARS}')) > 0
         THEN 'fa' ELSE 'ar' END
  WHEN c_heb::DOUBLE / ns >= {s} THEN 'he'
  WHEN c_grek::DOUBLE / ns >= {s} THEN 'el'
  WHEN c_deva::DOUBLE / ns >= {s} THEN 'hi'
  WHEN c_thai::DOUBLE / ns >= {s} THEN 'th'
  WHEN c_khmer::DOUBLE / ns >= {s} THEN 'km'
  WHEN c_lao::DOUBLE / ns >= {s} THEN 'lo'
  WHEN c_mymr::DOUBLE / ns >= {s} THEN 'my'
  WHEN c_tibt::DOUBLE / ns >= {s} THEN 'bo'
  ELSE {latin}
END"""
    return f"""
WITH base AS (
  SELECT doc_id, trim(text) AS t, {_TOKENS_SQL} AS toks,
         greatest(length(regexp_replace(trim(text), '{EXPLICIT_WS}+', '', 'g')), 1) AS ns
  FROM documents
), m AS (
  SELECT doc_id, t, ns, {", ".join(ratio_defs)}, {", ".join(cnt_defs)}
  FROM base
), g AS (
  SELECT *, {gx} AS gx FROM m
)
SELECT doc_id, {case} AS lang_guess FROM g
"""


def _sql_text_stats() -> str:
    stop = ", ".join(f"'{s}'" for s in ENGLISH_STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id, text, trim(text) AS t, {_TOKENS_SQL} AS toks FROM documents
)
SELECT doc_id,
  CASE WHEN t = '' THEN 0 ELSE len(toks) END::BIGINT AS n_tokens,
  coalesce(list_sum(list_transform(
      regexp_extract_all(t, '{_BPE_PATTERN}'),
      c -> greatest(ceil(length(trim(c)) / {BPE_CHARS_PER_PIECE}.0), 1)
  )), 0)::BIGINT AS n_bpe_tokens,
  round((
      least(length(t)::DOUBLE, 2000.0) / 2000.0
    + length(regexp_replace(t, '[^A-Za-z ]', '', 'g'))::DOUBLE / greatest(length(t), 1)
    + least(len(list_filter(toks, x -> x IN ({stop})))::DOUBLE / greatest(len(toks), 1), 0.5) * 2.0
    + CASE WHEN (length(t) - (len(toks) - 1))::DOUBLE / greatest(len(toks), 1) BETWEEN 3 AND 10
           THEN 1.0 ELSE 0.5 END
  ) / 4.0, 6) AS quality,
  {_NORM_FP_SQL} AS fingerprint
FROM base
"""


def _sql_dedup_exact() -> str:
    return f"""
WITH docs2 AS ({_DOCS_WITH_DUPS_SQL}),
fp AS (SELECT *, {_NORM_FP_SQL} AS __fp FROM docs2),
keep AS (SELECT __fp, min(doc_id) AS doc_id, count(*) AS dup_count FROM fp GROUP BY __fp)
SELECT f.doc_id, f.lang, f.source, k.dup_count::BIGINT AS dup_count
FROM fp f JOIN keep k ON f.__fp = k.__fp AND f.doc_id = k.doc_id
"""


def _sql_dedup_keep_best() -> str:
    return f"""
WITH docs2 AS ({_DOCS_WITH_DUPS_SQL}),
fp AS (
  SELECT *, {_NORM_FP_SQL} AS __fp,
         CASE WHEN doc_id >= 100000 THEN 2 ELSE 1 END AS __q
  FROM docs2
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY __fp
                               ORDER BY __q DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY __fp) AS dup_count
  FROM fp
)
SELECT doc_id, lang, source, dup_count::BIGINT AS dup_count
FROM rk WHERE rn = 1
"""


def _sql_dedup_clusters() -> str:
    return f"""
WITH docs2 AS ({_DOCS_WITH_DUPS_SQL})
SELECT {_NORM_FP_SQL} AS fingerprint,
  count(*)::BIGINT AS cluster_size,
  array_to_string(list_sort(list(doc_id)), ',') AS member_ids
FROM docs2
GROUP BY fingerprint
HAVING count(*) >= 2
"""


def _sql_minhash() -> str:
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS
    p = MERSENNE31
    comp_list = [
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {p}))"
        for a, b in permutation_params(MINHASH_HASHES)
    ]
    comps = ", ".join(comp_list)
    bands = ", ".join(
        "concat_ws('_', '%d', %s)"
        % (b, ", ".join(f"sig[{b * rows_per_band + r + 1}]" for r in range(rows_per_band)))
        for b in range(MINHASH_BANDS)
    )
    return f"""
WITH docs2 AS ({_DOCS_WITH_DUPS_SQL}),
sh AS (SELECT doc_id, {_shingles_sql()} AS sh FROM docs2),
hsh AS (SELECT doc_id,
        list_transform(sh, s -> ('0x' || substring(md5(s), 1, 8))::BIGINT % {p}) AS hs
        FROM sh),
sigs AS (SELECT doc_id, [{comps}] AS sig FROM hsh),
buckets AS (SELECT doc_id, unnest([{bands}]) AS band FROM sigs),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
  round(len(list_filter(range(1, {MINHASH_HASHES + 1}), i -> sa.sig[i] = sb.sig[i]))::DOUBLE / {MINHASH_HASHES}.0, 6) AS est_jaccard
FROM cand c
JOIN sigs sa ON sa.doc_id = c.id_a
JOIN sigs sb ON sb.doc_id = c.id_b
"""


def _sql_ngram_jaccard() -> str:
    return f"""
WITH sh AS (SELECT lang, source, doc_id, {_shingles_sql()} AS sh FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(len(list_intersect(a.sh, b.sh))::DOUBLE
        / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 6) AS jaccard
FROM sh a
JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
        / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 6) >= {JACCARD_MIN}
"""


def _simhash_bit_terms() -> str:
    return " + ".join(
        f"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) >= 0 "
        f"THEN {2 ** b}::BIGINT ELSE 0::BIGINT END"
        for b in range(SIMHASH_BITS)
    )


def _sql_simhash() -> str:
    return f"""
WITH tok AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
hashed AS (SELECT doc_id, list_transform(toks, t -> {_dhash('t')}) AS hs FROM tok)
SELECT doc_id, ({_simhash_bit_terms()})::BIGINT AS simhash FROM hashed
"""


def _sql_simhash_near_dups() -> str:
    # Exhaustive hamming<=3 pairs over the duplicated corpus; the Spark
    # side's pigeonhole blocking (4 disjoint 8-bit blocks for k=3) is
    # exact, so blocked pairs == exhaustive pairs.
    return f"""
WITH corpus AS ({_DOCS_WITH_DUPS_SQL}),
tok AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM corpus),
hashed AS (SELECT doc_id, list_transform(toks, t -> {_dhash('t')}) AS hs FROM tok),
fps AS (SELECT doc_id, ({_simhash_bit_terms()})::BIGINT AS simhash FROM hashed)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def _cosine_sql(qvec: str, cvec: str) -> str:
    dot = (
        f"list_sum(list_transform(range(1, {EMBED_DIM + 1}), "
        f"i -> CAST({qvec}[i] AS DOUBLE) * CAST({cvec}[i] AS DOUBLE)))"
    )
    nq = (
        f"sqrt(list_sum(list_transform({qvec}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    nc = (
        f"sqrt(list_sum(list_transform({cvec}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    return f"round({dot} / ({nq} * {nc}), 6)"


def _sql_ann_topk() -> str:
    cos = _cosine_sql("q.embedding", "c.embedding")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < {ANN_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id, {cos} AS cosine
  FROM q CROSS JOIN embeddings c
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank::BIGINT AS rank FROM ranked WHERE rank <= {ANN_K}
"""


def _sql_split_assign() -> str:
    bucket = _dhash("'split:' || doc_id::VARCHAR") + " % 10000"
    return f"""
SELECT doc_id,
  CASE WHEN ({bucket}) < 9000 THEN 'train'
       WHEN ({bucket}) < 9500 THEN 'val'
       ELSE 'test' END AS split
FROM documents
"""


def _sql_source_overlap() -> str:
    return f"""
WITH corpus AS (
  SELECT text, source FROM documents
  UNION ALL
  SELECT text, 'crawl_copy' FROM documents WHERE doc_id < 50
),
fp AS (SELECT DISTINCT {_NORM_FP_SQL} AS fp, source FROM corpus)
SELECT a.source AS source_a, b.source AS source_b,
       count(*)::BIGINT AS overlap_count
FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
GROUP BY 1, 2
"""


_SQL_LENGTH_CURRICULUM = f"""
WITH base AS (SELECT doc_id, trim(text) AS t, {_TOKENS_SQL} AS toks FROM documents),
nt AS (SELECT doc_id, (CASE WHEN t = '' THEN 0 ELSE len(toks) END)::BIGINT AS n FROM base),
binned AS (SELECT n, length(bin(greatest(n, 1))) - 1 AS length_bin FROM nt)
SELECT length_bin::BIGINT AS length_bin, count(*)::BIGINT AS n_docs,
       sum(n)::BIGINT AS total_tokens, min(n)::BIGINT AS min_tokens,
       max(n)::BIGINT AS max_tokens
FROM binned GROUP BY 1
"""


def _sql_linkage_scores() -> str:
    import math

    w_seg, l_seg = math.log(0.9 / 0.2), math.log(0.1 / 0.8)
    w_bal, l_bal = math.log(0.7 / 0.15), math.log(0.3 / 0.85)
    return f"""
WITH cust AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         floor(c_acctbal / 1000)::BIGINT AS bal_bucket
  FROM customer
),
pairs AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
  FROM cust a JOIN cust b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
)
SELECT p.id_a, p.id_b,
  round(
    (CASE WHEN a.c_mktsegment IS NOT DISTINCT FROM b.c_mktsegment
          THEN {w_seg!r} ELSE {l_seg!r} END)
    + (CASE WHEN a.bal_bucket IS NOT DISTINCT FROM b.bal_bucket
            THEN {w_bal!r} ELSE {l_bal!r} END), 6) AS match_score
FROM pairs p
JOIN cust a ON a.c_custkey = p.id_a
JOIN cust b ON b.c_custkey = p.id_b
"""


_SQL_CDC_LOG = """
SELECT o_custkey, o_orderdate::TIMESTAMP AS ts, o_orderkey, o_totalprice,
       CASE WHEN o_orderkey % 211 = 0 THEN 'D' ELSE 'U' END AS op
FROM orders
"""

_SQL_CDC_LATEST = f"""
WITH log AS ({_SQL_CDC_LOG}),
r AS (SELECT *, row_number() OVER (
        PARTITION BY o_custkey ORDER BY ts DESC, o_orderkey DESC) AS rn
      FROM log)
SELECT o_custkey, ts, o_orderkey, o_totalprice, op
FROM r WHERE rn = 1 AND op != 'D'
"""


def _sql_bm25() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    k1, b = 1.2, 0.75
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS term
  FROM documents WHERE trim(text) != ''
),
tk AS (SELECT doc_id, term FROM toks WHERE term != ''),
doclen AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tk WHERE term IN ({terms}) GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
consts AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclen),
per_term AS (
  SELECT tf.doc_id,
    ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
      * tf * {k1 + 1.0} / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl)) AS s
  FROM tf JOIN dfreq USING (term) JOIN doclen USING (doc_id) CROSS JOIN consts
),
scored AS (SELECT doc_id, round(sum(s), 6) AS score FROM per_term GROUP BY doc_id),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM scored
)
SELECT doc_id, score, rank::BIGINT AS rank FROM ranked WHERE rank <= {BM25_K}
"""


def _sql_funnel_counts() -> str:
    s0, s1, s2 = FUNNEL_STEPS
    return f"""
WITH e AS (SELECT user_id AS u, ts, event_type AS et FROM events),
r0 AS (SELECT u, min(CASE WHEN et = '{s0}' THEN ts END) AS t0 FROM e GROUP BY u),
r1 AS (SELECT e.u, t0,
         min(CASE WHEN et = '{s1}' AND t0 IS NOT NULL AND ts > t0 THEN ts END) AS t1
       FROM e JOIN r0 USING (u) GROUP BY e.u, t0),
r2 AS (SELECT e.u,
         min(CASE WHEN et = '{s2}' AND t1 IS NOT NULL AND ts > t1 THEN ts END) AS t2
       FROM e JOIN r1 USING (u) GROUP BY e.u, t1)
SELECT 0::BIGINT AS step_index, '{s0}' AS step,
       (SELECT count(*) FROM r0 WHERE t0 IS NOT NULL)::BIGINT AS n_users
UNION ALL
SELECT 1, '{s1}', (SELECT count(*) FROM r1 WHERE t1 IS NOT NULL)
UNION ALL
SELECT 2, '{s2}', (SELECT count(*) FROM r2 WHERE t2 IS NOT NULL)
"""


_SQL_COHORT_RETENTION = """
WITH a AS (
  SELECT DISTINCT user_id AS u, (epoch(ts)::BIGINT // 604800) AS p FROM events
),
c AS (SELECT u, min(p) AS cp FROM a GROUP BY u)
SELECT cp::BIGINT AS cohort, (p - cp)::BIGINT AS period_offset,
       count(*)::BIGINT AS n_users
FROM a JOIN c USING (u) GROUP BY 1, 2
"""


def _sql_multimodal_image_features() -> str:
    # byte i (1-based) of the UTF-8 blob, via its hex dump
    byte_i = "('0x' || substring(hx, 2*i-1, 2))::BIGINT"
    # byte at 0-based index (k*n)//63, the _ahash63 sample positions
    byte_k = "('0x' || substring(hx, 2*((k*n)//63) + 1, 2))::BIGINT"
    return f"""
WITH b AS (SELECT doc_id, encode(text) AS blob FROM documents),
h AS (SELECT doc_id, hex(blob) AS hx, octet_length(blob) AS n FROM b),
sums AS (
  SELECT doc_id, n,
    coalesce(list_sum(list_transform(range(1, least(n, 64) + 1), i -> {byte_i})), 0) AS c64,
    coalesce(list_sum(list_transform(range(1, least(n, 256) + 1), i -> {byte_i})), 0) AS c256
  FROM h
),
samp AS (
  SELECT doc_id, n,
    CASE WHEN n = 0 THEN [] ELSE
      list_transform(range(0, 63), k -> {byte_k}) END AS s
  FROM h
),
hashes AS (
  SELECT doc_id,
    CASE WHEN n = 0 THEN 0 ELSE
      list_sum(
        list_transform(range(0, 63),
          k -> CASE WHEN 63 * s[k + 1] > list_sum(s)
               THEN (1::BIGINT << k) ELSE 0 END)
      ) END::BIGINT AS ahash
  FROM samp
),
near AS (
  SELECT a.doc_id,
         count(*) FILTER (
           WHERE b.doc_id != a.doc_id
             AND bit_count(xor(a.ahash, b.ahash)) <= {AHASH_MAX_HAMMING}
         )::BIGINT AS n_near
  FROM hashes a CROSS JOIN hashes b
  GROUP BY a.doc_id
)
SELECT s.doc_id,
  (16 + c64 % 64)::BIGINT AS width,
  (16 + (c64 // 64) % 64)::BIGINT AS height,
  round(c256 / greatest(least(s.n, 256), 1), 4) AS mean_intensity,
  hs.ahash AS ahash,
  near.n_near AS n_near
FROM sums s
JOIN hashes hs ON s.doc_id = hs.doc_id
JOIN near ON s.doc_id = near.doc_id
"""


def _sql_semantic_dedup() -> str:
    cos = _cosine_sql("a.embedding", "b.embedding")
    return f"""
WITH RECURSIVE sub AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {NEAR_DUP_MAX_ID}
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sub a JOIN sub b ON a.vec_id < b.vec_id
  WHERE {cos} >= {NEAR_DUP_MIN_COSINE}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT n.src AS id, least(n.src, min(r.dst)) AS component
  FROM (SELECT DISTINCT src FROM edges) n
  LEFT JOIN reach r ON r.src = n.src
  GROUP BY n.src
)
SELECT vec_id FROM sub
WHERE vec_id NOT IN (SELECT id FROM comp WHERE id != component)
"""


def _sql_ivf_assign() -> str:
    cos = _cosine_sql("v.vec_emb", "c.cent_emb")
    return f"""
WITH cent AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < {IVF_CENTROIDS}),
scored AS (
  SELECT v.vec_id, c.centroid_id, {cos} AS cosine
  FROM (SELECT vec_id, embedding AS vec_emb FROM embeddings) v
  CROSS JOIN (SELECT centroid_id, embedding AS cent_emb FROM cent) c
),
ranked AS (
  SELECT vec_id, centroid_id, cosine,
         row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, centroid_id) AS rn
  FROM scored
)
SELECT vec_id, centroid_id, cosine FROM ranked WHERE rn = 1
"""


_SQL_EXCEPT_ALL = """
SELECT * FROM (
  SELECT * FROM lineitem
  UNION ALL
  SELECT * FROM lineitem WHERE l_orderkey % 151 = 0
)
EXCEPT ALL
SELECT * FROM lineitem
"""

_SQL_COMPARE_NOKEYS = """
WITH actual AS ({mutated}),
ref_e AS (SELECT * FROM orders EXCEPT SELECT * FROM actual),
act_e AS (SELECT * FROM actual EXCEPT SELECT * FROM orders)
SELECT
  (SELECT count(*) FROM orders)::BIGINT AS ref_row_count,
  (SELECT count(*) FROM actual)::BIGINT AS new_row_count,
  ((SELECT count(*) FROM orders) - (SELECT count(*) FROM ref_e))::BIGINT AS passed_count,
  ((SELECT count(*) FROM ref_e) + (SELECT count(*) FROM act_e))::BIGINT AS diff_count
"""

_SQL_Q6 = """
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
  count(*)::BIGINT AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01'
  AND l_shipdate < TIMESTAMP '1995-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""

_SQL_TOPK_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, o_totalprice, rank::BIGINT AS rank FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
) WHERE rank <= 3
"""

_SQL_EVENTS_CUBE = """
SELECT event_type, date_trunc('day', ts) AS day,
       count(*)::BIGINT AS n_events, round(sum(value), 4) AS sum_value
FROM events
GROUP BY CUBE (event_type, date_trunc('day', ts))
"""


_SQL_COMPARE_CHERRY_PICK = """
WITH actual AS ({mutated}),
refp AS (SELECT o_orderkey, o_custkey, o_orderstatus FROM orders),
actp AS (SELECT o_orderkey, o_custkey, o_orderstatus FROM actual),
ref_e AS (SELECT * FROM refp EXCEPT SELECT * FROM actp),
act_e AS (SELECT * FROM actp EXCEPT SELECT * FROM refp)
SELECT
  ((SELECT count(*) FROM refp) - (SELECT count(*) FROM ref_e))::BIGINT AS passed_count,
  (SELECT count(*) FROM (SELECT o_orderkey FROM ref_e UNION SELECT o_orderkey FROM act_e))::BIGINT AS diff_count
"""

_SQL_WINDOWED_ROLLUP = """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type, count(*)::BIGINT AS n_events, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2, 3
"""


def _sql_docs_quality_filter() -> str:
    stop = ", ".join(f"'{s}'" for s in ENGLISH_STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id, lang, trim(text) AS t, {_TOKENS_SQL} AS toks FROM documents
),
scored AS (
  SELECT doc_id, lang,
    (CASE WHEN t = '' THEN 0 ELSE len(toks) END)::BIGINT AS n_tokens,
    round((
        least(length(t)::DOUBLE, 2000.0) / 2000.0
      + length(regexp_replace(t, '[^A-Za-z ]', '', 'g'))::DOUBLE / greatest(length(t), 1)
      + least(len(list_filter(toks, x -> x IN ({stop})))::DOUBLE / greatest(len(toks), 1), 0.5) * 2.0
      + CASE WHEN (length(t) - (len(toks) - 1))::DOUBLE / greatest(len(toks), 1) BETWEEN 3 AND 10
             THEN 1.0 ELSE 0.5 END
    ) / 4.0, 6) AS quality
  FROM base
)
SELECT doc_id, lang, n_tokens, quality FROM scored
WHERE quality >= 0.5 AND n_tokens >= 10
"""


def _sql_ivf_topk() -> str:
    assign_cos = _cosine_sql("v.vec_emb", "c.cent_emb")
    final_cos = _cosine_sql("q.qvec", "v2.cvec")
    return f"""
WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cent_emb FROM embeddings WHERE vec_id < {IVF_CENTROIDS}),
assigned AS (
  SELECT vec_id, centroid_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY {assign_cos} DESC, c.centroid_id) AS rn
  FROM (SELECT vec_id, embedding AS vec_emb FROM embeddings) v
  CROSS JOIN cent c
),
cells AS (SELECT vec_id, centroid_id AS cell FROM assigned WHERE rn = 1),
qcells AS (
  SELECT e.vec_id AS query_id, e.embedding AS qvec, cl.cell
  FROM embeddings e JOIN cells cl ON cl.vec_id = e.vec_id
  WHERE e.vec_id < {ANN_QUERIES}
),
candidates AS (
  SELECT q.query_id, v2.vec_id, {final_cos} AS cosine
  FROM qcells q
  JOIN (SELECT e.vec_id, e.embedding AS cvec, cl.cell
        FROM embeddings e JOIN cells cl ON cl.vec_id = e.vec_id) v2
    ON v2.cell = q.cell
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM candidates
)
SELECT query_id, vec_id, cosine, rank::BIGINT AS rank FROM ranked WHERE rank <= {ANN_K}
"""


def _sql_strip_boilerplate() -> str:
    return f"""
WITH docs2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN text || chr(10) || '{BOILER_FOOTER}'
              ELSE text END AS text
  FROM documents
),
lines AS (
  SELECT doc_id, g.line, g.pos
  FROM docs2,
       LATERAL (SELECT unnest(string_split(text, chr(10))) AS line,
                       generate_subscripts(string_split(text, chr(10)), 1) AS pos) g
),
boiler AS (
  SELECT trim(lower(line)) AS n FROM lines
  WHERE trim(lower(line)) <> ''
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
),
kept AS (
  SELECT l.doc_id, l.line, l.pos FROM lines l
  WHERE trim(lower(l.line)) NOT IN (SELECT n FROM boiler)
)
SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY pos)) AS text_md5
FROM kept GROUP BY doc_id
"""


_SQL_REPETITION = f"""
WITH base AS (SELECT doc_id, trim(text) AS t, {_TOKENS_SQL} AS toks FROM documents),
g AS (SELECT doc_id,
  CASE WHEN t = '' THEN []::VARCHAR[] ELSE toks END AS g1,
  CASE WHEN t = '' OR len(toks) < 2 THEN []::VARCHAR[]
       ELSE [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))] END AS g2
FROM base)
SELECT doc_id,
  round(CASE WHEN len(g1) = 0 THEN 0.0
        ELSE 1 - len(list_distinct(g1))::DOUBLE / len(g1) END, 6) AS rep_unigram,
  round(CASE WHEN len(g2) = 0 THEN 0.0
        ELSE 1 - len(list_distinct(g2))::DOUBLE / len(g2) END, 6) AS rep_bigram
FROM g
"""


def _sql_scrub_pii() -> str:
    scrub = "text"
    total = "0"
    for name, pattern in sorted(PII_PATTERNS.items()):
        scrub = f"regexp_replace({scrub}, '{pattern}', '<{name.upper()}>', 'g')"
        total += f" + len(regexp_extract_all(text, '{pattern}'))"
    return f"""
SELECT doc_id, md5({scrub}) AS scrubbed_md5, ({total})::BIGINT AS n_pii_matches
FROM documents
"""


def _sql_stratified_sample() -> str:
    denom = 10_000
    threshold = f"{int(SAMPLE_DEFAULT_FRACTION * denom)}"
    for value, fraction in sorted(SAMPLE_FRACTIONS.items()):
        threshold = (
            f"CASE WHEN lang = '{value}' THEN {int(fraction * denom)} "
            f"ELSE {threshold} END"
        )
    bucket = _dhash("'sample:' || doc_id::VARCHAR") + f" % {denom}"
    return f"""
SELECT doc_id, lang, source, n_chars FROM documents
WHERE ({bucket}) < ({threshold})
"""


_SQL_RANGE_JOIN_WINDOWS = """
WITH ev AS (SELECT event_id, event_type, ts FROM events),
w AS (
  SELECT DISTINCT event_type, date_trunc('hour', ts) AS w_start,
         date_trunc('hour', ts) + INTERVAL 8 HOUR AS w_end
  FROM events
  WHERE hour(date_trunc('hour', ts)) % 7 = 0
)
SELECT e.event_id, e.event_type, w.w_start
FROM ev e JOIN w ON e.event_type = w.event_type
  AND e.ts >= w.w_start AND e.ts < w.w_end
"""

_SQL_GAPFILL_ROLLUP = """
WITH b AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type,
         count(*)::BIGINT AS n_events, round(sum(value), 4) AS sum_value
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM b),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds),
grp AS (SELECT DISTINCT event_type FROM events),
dense AS (SELECT s.bucket, g.event_type FROM spine s CROSS JOIN grp g)
SELECT d.bucket, d.event_type,
       coalesce(b.n_events, 0)::BIGINT AS n_events,
       coalesce(b.sum_value, 0.0) AS sum_value
FROM dense d LEFT JOIN b ON b.bucket = d.bucket AND b.event_type = d.event_type
"""

_SQL_EVENTS_ANOMALIES = """
WITH b AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type,
         count(*)::BIGINT AS n_events
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM b),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds),
grp AS (SELECT DISTINCT event_type FROM events),
hourly AS (
  SELECT d.event_type, d.bucket, coalesce(b.n_events, 0)::BIGINT AS n_events
  FROM (SELECT s.bucket, g.event_type FROM spine s CROSS JOIN grp g) d
  LEFT JOIN b ON b.bucket = d.bucket AND b.event_type = d.event_type
),
roll AS (
  SELECT event_type, bucket, n_events,
    avg(n_events) OVER w AS mean, stddev_samp(n_events) OVER w AS std,
    count(n_events) OVER w AS n_prev
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, bucket, n_events,
  CASE WHEN n_prev >= 24 THEN round(mean, 4) END AS expected,
  CASE WHEN n_prev >= 24 THEN round((n_events - mean) / nullif(std, 0), 4) END AS zscore,
  coalesce(CASE WHEN n_prev >= 24
           THEN abs(round((n_events - mean) / nullif(std, 0), 4)) >= 3.0 END,
           false) AS is_anomaly
FROM roll
"""

_SQL_EVENTS_QUANTILES = """
SELECT event_type,
  round(quantile_cont(value, 0.5), 6) AS p50,
  round(quantile_cont(value, 0.95), 6) AS p95,
  round(quantile_cont(value, 0.99), 6) AS p99,
  round(min(value), 6) AS min_value,
  round(max(value), 6) AS max_value
FROM events GROUP BY event_type
"""

_SQL_ASOF_JOIN_RATES = """
WITH ev AS (SELECT event_id, event_type, ts, value FROM events),
rates AS (
  SELECT event_type, date_trunc('hour', ts) AS rate_ts,
         round(avg(value), 4) AS rate
  FROM events GROUP BY 1, 2
  HAVING hour(date_trunc('hour', ts)) % 6 = 0
)
SELECT e.event_id, e.event_type, e.ts, r.rate
FROM ev e ASOF LEFT JOIN rates r
  ON e.event_type = r.event_type AND e.ts >= r.rate_ts
"""


def _sql_events_pivot() -> str:
    cases = ",\n  ".join(
        f"sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)::BIGINT AS n_{t}"
        for t in EVENT_TYPES
    )
    return f"""
SELECT date_trunc('day', ts) AS day,
  {cases}
FROM events GROUP BY 1
"""


def _sql_user_session_stats() -> str:
    return f"""
WITH sessions AS ({_sql_sessionize()})
SELECT user_id,
  count(*)::BIGINT AS n_sessions,
  sum(n_events)::BIGINT AS n_events,
  round(avg((epoch_us(session_end) / 1000000.0) - (epoch_us(session_start) / 1000000.0)), 4) AS avg_session_secs
FROM sessions GROUP BY user_id
"""


def _sql_quality_expr() -> str:
    """Quality-score expression over aliases ``t`` (trimmed text) and
    ``toks`` (token list) — shared by text_stats / quality-filter /
    curation oracles."""
    stop = ", ".join(f"'{s}'" for s in ENGLISH_STOPWORDS)
    return f"""round((
      least(length(t)::DOUBLE, 2000.0) / 2000.0
    + length(regexp_replace(t, '[^A-Za-z ]', '', 'g'))::DOUBLE / greatest(length(t), 1)
    + least(len(list_filter(toks, x -> x IN ({stop})))::DOUBLE / greatest(len(toks), 1), 0.5) * 2.0
    + CASE WHEN (length(t) - (len(toks) - 1))::DOUBLE / greatest(len(toks), 1) BETWEEN 3 AND 10
           THEN 1.0 ELSE 0.5 END
  ) / 4.0, 6)"""


def _sql_curation_pipeline() -> str:
    return f"""
WITH docs2 AS ({_DOCS_WITH_DUPS_SQL}),
base AS (
  SELECT doc_id, lang, text, trim(text) AS t, {_TOKENS_SQL} AS toks FROM docs2
),
scored AS (
  SELECT doc_id, lang,
    (CASE WHEN t = '' THEN 0 ELSE len(toks) END)::BIGINT AS n_tokens,
    {_sql_quality_expr()} AS quality,
    {_NORM_FP_SQL} AS fp
  FROM base
),
gated AS (SELECT * FROM scored WHERE quality >= 0.5 AND n_tokens >= 10),
keep AS (SELECT fp, min(doc_id) AS doc_id FROM gated GROUP BY fp),
kept AS (
  SELECT g.* FROM gated g JOIN keep k ON g.fp = k.fp AND g.doc_id = k.doc_id
)
SELECT lang, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
       round(avg(quality), 6) AS avg_quality
FROM kept GROUP BY lang
"""


def _sql_near_dup_components() -> str:
    pairs_sql = _sql_ngram_jaccard().strip()
    return f"""
WITH RECURSIVE pairs AS (
{pairs_sql}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT n.src::BIGINT AS doc_id,
       least(n.src, min(r.dst))::BIGINT AS component
FROM (SELECT DISTINCT src FROM edges) n
LEFT JOIN reach r ON r.src = n.src
GROUP BY n.src
"""


def _sql_sessionize() -> str:
    return """
WITH flagged AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR (epoch_us(ts) / 1000000.0) - (epoch_us(lag(ts) OVER w) / 1000000.0) > 1800
         THEN 1 ELSE 0 END AS newf
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         sum(newf) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sidx
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*)::BIGINT AS n_events
FROM sess GROUP BY user_id, sidx
"""


def _sql_embedding_near_dup() -> str:
    cos = _cosine_sql("a.embedding", "b.embedding")
    return f"""
WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {NEAR_DUP_MAX_ID})
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cosine
FROM sub a JOIN sub b ON a.vec_id < b.vec_id
WHERE {cos} >= {NEAR_DUP_MIN_COSINE}
"""


# ---------------------------------------------------------------------------
# winnowing fingerprints (operators/winnow.py)
# ---------------------------------------------------------------------------

WINNOW_K = 8
WINNOW_W = 4


def q_winnow_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via shared winnowing fingerprints on the
    duplicate-injected corpus."""
    docs = _docs_with_dups(spark, sf_dir)
    from hermes_spark.operators import winnow_near_dup_pairs

    # min_common=32: the template-generated corpus shares short k-grams
    # broadly (34k pairs at >=2 common) while true near-dups share >=32
    return winnow_near_dup_pairs(
        docs, "doc_id", "text", k=WINNOW_K, w=WINNOW_W, min_common=32, portable=True
    )


def _sql_winnow_fps(source_sql: str, doc_filter: str) -> str:
    """The winnowing pipeline in DuckDB SQL: same normalize, same 40-bit
    md5 hash, same (hash, pos) packing, same window min."""
    return f"""
WITH norm AS (
  SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
  FROM ({source_sql}) {doc_filter}
), grams AS (
  SELECT doc_id, length(t) - {WINNOW_K - 1} AS n, unnest(range(1, length(t) - {WINNOW_K - 1} + 1)) AS pos, t
  FROM norm WHERE length(t) - {WINNOW_K - 1} >= {WINNOW_W}
), hashed AS (
  SELECT doc_id, n, pos,
    ('0x' || substring(md5(substring(t, pos, {WINNOW_K})), 1, 10))::BIGINT * 1048576
      + (1048575 - pos) AS packed
  FROM grams
), win AS (
  SELECT doc_id, n, pos,
    min(packed) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS sel
  FROM hashed
)
SELECT DISTINCT doc_id, (1048575 - (sel % 1048576))::INTEGER AS fp_pos,
       (sel // 1048576)::BIGINT AS fp_hash
FROM win WHERE pos <= n - {WINNOW_W - 1}
"""


def _sql_pack_sequences() -> str:
    return f"""
WITH base AS (
  SELECT doc_id,
    (CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKENS_SQL}) END)::BIGINT
      AS n_tokens,
    (({_dhash("'pack:' || doc_id::VARCHAR")}) % {PACK_SHARDS})::INTEGER AS shard
  FROM documents
)
SELECT doc_id, n_tokens, shard,
  CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
              - n_tokens) / {PACK_BUDGET}.0) AS BIGINT) AS seq_in_shard
FROM base
"""


def _sql_token_chunks() -> str:
    s, st = CHUNK_SIZE, CHUNK_STRIDE
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents WHERE trim(text) <> ''
),
chunks AS (
  SELECT doc_id, k AS chunk_idx,
         array_to_string(t[(k*{st}+1):(k*{st}+{s})], ' ') AS chunk_text
  FROM toks, UNNEST(range(0,
    1 + CAST(ceil(greatest(len(t) - {s}, 0) / {st}.0) AS BIGINT))) AS u(k)
)
SELECT doc_id, chunk_idx::BIGINT AS chunk_idx, chunk_text,
       len(string_split(chunk_text, ' '))::BIGINT AS n_tokens
FROM chunks
"""


def _sql_passage_dup_stats() -> str:
    w = PASSAGE_WINDOW
    return f"""
WITH docs2 AS ({_DOCS_WITH_DUPS_SQL}),
toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM docs2 WHERE trim(text) <> ''
),
chunks AS (
  SELECT doc_id, md5(array_to_string(t[(i*{w}+1):((i+1)*{w})], ' ')) AS h
  FROM toks, UNNEST(range(0, CAST(ceil(len(t)/{w}.0) AS BIGINT))) AS u(i)
),
counted AS (
  SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS occ FROM chunks
)
SELECT doc_id,
       count(*)::BIGINT AS n_passages,
       sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_passages,
       round(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         AS dup_fraction
FROM counted GROUP BY doc_id
"""


def _sql_decontaminate() -> str:
    n = DECONTAM_N
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
),
grams AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, greatest(len(t) - {n} + 1, 0) + 1),
                  i -> array_to_string(t[i:(i + {n} - 1)], ' '))) AS gs
  FROM toks WHERE trim(text) <> ''
),
hg AS (
  SELECT doc_id, {_dhash('x.gram')} AS gh
  FROM grams, UNNEST(gs) AS x(gram)
),
bench AS (SELECT DISTINCT gh FROM hg WHERE doc_id % {DECONTAM_BENCH_MOD} = 0),
hits AS (
  SELECT hg.doc_id, count(*)::BIGINT AS n
  FROM hg JOIN bench USING (gh) GROUP BY hg.doc_id
)
SELECT d.doc_id,
       coalesce(n, 0)::BIGINT AS n_contaminated_grams,
       coalesce(n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
"""


def _sql_winnow_near_dups() -> str:
    fps = _sql_winnow_fps(_DOCS_WITH_DUPS_SQL, "")
    return f"""
WITH fps AS ({fps}), uniq AS (SELECT DISTINCT doc_id, fp_hash FROM fps),
rare AS (SELECT fp_hash FROM uniq GROUP BY fp_hash HAVING count(*) <= 1000),
kept AS (SELECT uniq.doc_id, uniq.fp_hash FROM uniq JOIN rare USING (fp_hash))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS common_fps
FROM kept a JOIN kept b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
GROUP BY id_a, id_b
HAVING count(*) >= 32
"""


# ---------------------------------------------------------------------------
# round-4 extension queries: entropy, link stats, mix rebalancing, int8
# scalar quantization (operators/entropy.py, functions/text.py,
# operators/sampling.py, operators/quantize.py)
# ---------------------------------------------------------------------------

REBALANCE_TARGETS = {"en": 0.5, "de": 0.25, "fr": 0.25}


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy (quality filter:
    encoding damage / binary junk scores high)."""
    from hermes_spark.operators import unit_entropy

    docs = _read(spark, sf_dir, "documents")
    return unit_entropy(docs, "doc_id", "text", unit="char")


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-level Shannon entropy (template spam scores
    low)."""
    from hermes_spark.operators import unit_entropy

    docs = _read(spark, sf_dir, "documents")
    return unit_entropy(docs, "doc_id", "text", unit="token")


def q_link_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/link-density spam signals. The corpus has no URLs, so a
    deterministic set is injected first (same rule in the oracle):
    every doc gets one synthetic link, every third doc a second."""
    from hermes_spark.functions.text import extract_urls, link_density, url_domains

    docs = _read(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" http://hub.example.org")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return injected.select(
        "doc_id",
        F.size(extract_urls(F.col("text"))).cast("long").alias("n_urls"),
        F.size(url_domains(F.col("text"))).cast("long").alias("n_domains"),
        link_density(F.col("text")).alias("link_density"),
    )


def q_rebalance_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix rebalancing: largest subcorpus hitting a 50/25/25
    en/de/fr target, rates derived from the observed counts."""
    from hermes_spark.operators import rebalance_mix

    docs = _read(spark, sf_dir, "documents")
    out = rebalance_mix(docs, "doc_id", "lang", REBALANCE_TARGETS)
    return out.select("doc_id", "lang")


def q_sq8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization of the embedding corpus; codes digested
    to (sum, md5) so the oracle compares scalars, not arrays."""
    from hermes_spark.operators import sq8_quantize

    emb = _read(spark, sf_dir, "embeddings")
    codes = sq8_quantize(emb, dim=EMBED_DIM)
    return codes.select(
        "vec_id",
        F.aggregate(
            F.col("codes"), F.lit(0).cast("long"), lambda acc, c: acc + c.cast("long")
        ).alias("code_sum"),
        F.md5(
            F.array_join(F.transform(F.col("codes"), lambda c: c.cast("string")), ",")
        ).alias("code_md5"),
    )


def q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-k over the int8-quantized corpus (float
    queries, dequantized corpus) — the 4x-less-I/O production search."""
    from hermes_spark.operators import sq8_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    out = sq8_topk(emb, queries, k=ANN_K, dim=EMBED_DIM)
    return out.select("query_id", "vec_id", "score", F.col("rank").cast("long").alias("rank"))


PQ_CODEBOOKS = [
    (0, 0, [-0.095162, -0.005068, -0.05664, -0.037463, -0.006394, -0.035495, 0.008956, 0.052042, 0.019388, -0.048418, -0.017091, -0.031658, 0.111069, 0.075668, -0.05848, -0.013964]),
    (0, 1, [-0.033834, 0.003019, -0.055123, -0.031817, -0.053851, -0.038103, 0.039297, 0.018264, -0.064325, -0.089142, 0.007766, -0.065529, -0.080863, -0.110351, 0.01613, 0.015183]),
    (0, 2, [0.042984, -0.010661, 0.021855, 0.027348, -0.067301, 0.061136, -0.0192, 0.005311, -0.154748, -0.001961, 0.008266, 0.066535, 0.044826, -0.012158, 0.013796, -0.042993]),
    (0, 3, [-0.03413, 0.057034, 0.013271, 0.044547, -0.006544, -0.068723, -0.000951, -0.118842, 0.060849, 0.033324, -0.028945, -0.017552, -0.076046, -0.03846, -0.094896, -0.074847]),
    (0, 4, [0.013835, 0.010937, 0.064344, -0.003631, 0.038796, 0.016953, -0.05274, 0.097569, -0.004525, -0.004452, 0.0933, -0.00273, -0.088809, -0.002724, 0.034613, -0.015031]),
    (0, 5, [-0.094268, 0.010031, 0.021946, 0.012001, 0.036197, 0.107964, 0.034905, -0.118267, -0.038974, -0.018955, -0.021115, -0.073384, -0.040376, 0.062897, 0.031427, 0.013796]),
    (0, 6, [0.046159, -0.055552, -0.000624, -0.052927, 0.01621, -0.080275, 0.019466, -0.034591, 0.003549, 0.151688, -0.031618, 0.029098, 0.022651, 0.034129, -0.016749, 0.05478]),
    (0, 7, [0.091895, -0.010273, -0.006042, 0.101451, 0.019616, 0.010628, -0.007258, -0.033446, 0.079626, -0.046404, 0.01917, 0.002324, 0.080089, 0.02034, 0.081451, 0.029952]),
    (1, 0, [0.070468, -0.021244, 0.025926, 0.070985, -0.003877, -0.049995, 0.072786, 0.02956, -0.010103, 0.034019, 0.007199, -0.001644, -0.022146, 0.104033, -0.113938, -0.01652]),
    (1, 1, [0.042648, -0.025728, -0.060343, -0.019951, -0.023293, 0.036579, 0.024979, -0.136564, 0.027071, 0.055521, -0.107853, -0.011977, -0.010599, -0.019038, -0.052674, -0.023099]),
    (1, 2, [0.002585, 0.095085, -0.070444, -0.034279, -0.003445, -0.019698, 0.020631, 0.113219, -0.049046, 0.028553, -0.045894, 0.059976, 0.022988, -0.010628, 0.067575, 0.086366]),
    (1, 3, [-0.055021, 0.055915, 0.054556, 0.002482, 0.034632, -0.091884, -0.078422, -0.084947, 0.000785, -0.078311, 0.010362, -0.050215, 0.005593, 0.007496, 0.03127, 0.012221]),
    (1, 4, [-0.026206, -0.082064, -0.072305, -0.014044, -0.105141, -0.005635, 0.016145, 0.02372, 0.057531, -0.123479, 0.013624, 0.029185, 0.01818, -0.065296, -0.011618, -0.044575]),
    (1, 5, [-0.089954, 0.032988, 0.039483, 0.004646, 0.025949, -0.003441, 0.000385, 0.046994, -0.049341, 0.055942, 0.026053, -0.021219, -0.009952, -0.084113, -0.011759, -0.106439]),
    (1, 6, [0.007633, -0.009209, 0.022823, 0.019036, 0.056502, 0.11544, -0.023499, -0.020076, 0.037148, -0.004016, 0.065185, -0.014686, -0.028219, 0.055932, -0.019436, 0.124165]),
    (1, 7, [0.070064, -0.068869, 0.063585, -0.101792, -0.032776, 0.034777, -0.01321, -0.007424, -0.054754, -0.015667, 0.086094, 0.006343, -0.017093, -0.004724, 0.079247, 0.026941]),
    (2, 0, [0.010303, -0.021304, 0.005956, 0.149237, 0.03951, -0.067295, -0.015717, 0.051785, -0.016991, -0.046919, 0.007305, -0.070719, -0.003185, -0.014283, 0.06344, 0.000212]),
    (2, 1, [0.051473, 0.073094, -0.043113, -0.040209, -0.054372, -0.077569, -0.021765, -0.020325, -0.024696, -0.073875, 0.001522, -0.044614, -0.077878, -0.06416, -0.030788, 0.084838]),
    (2, 2, [0.010405, -0.022064, -0.085636, 0.022851, 0.025828, 0.04888, 0.030894, -0.062639, 0.087968, 0.097937, -0.008751, -0.022417, -0.003569, -0.04808, -0.065695, 0.003359]),
    (2, 3, [-0.059627, -0.00856, 0.060765, -0.096236, -0.03825, -0.018965, 0.061173, 0.009854, -0.032893, -0.044815, 0.02727, -0.060778, 0.008446, -0.018106, 0.016636, -0.110335]),
    (2, 4, [-0.030669, 0.032397, -0.014575, 0.019862, -0.027852, 0.03763, -0.106693, 0.010863, 0.021273, -0.049626, 0.033415, 0.052264, -0.053847, 0.028769, -0.082094, -0.097159]),
    (2, 5, [-0.022082, 0.004585, 0.035429, -0.077593, 0.088007, 0.033503, 0.038638, 0.078934, 0.071992, -0.071354, 0.009456, 0.117093, -0.020884, -0.014379, 0.046965, 0.057047]),
    (2, 6, [0.103144, -0.002819, 0.022039, -0.012164, -0.014251, 0.032961, -0.072252, 0.007304, -0.028667, 0.014475, -0.063677, 0.083439, 0.11643, 0.004613, 0.035679, -0.003808]),
    (2, 7, [-0.061604, -0.009715, 0.003861, 0.015867, -0.026445, 0.042401, 0.01562, -0.005951, -0.129922, 0.141941, 0.022948, 0.009982, -0.012118, 0.051811, 0.006415, 0.059535]),
    (3, 0, [0.012165, 0.043744, -0.003415, 0.076898, -0.007415, -0.024795, 0.077368, 0.051426, -0.03799, 0.032463, -0.061845, 0.071196, -0.033953, 0.001865, -0.093228, 0.05494]),
    (3, 1, [0.039789, 0.065436, 0.017099, -0.013374, -0.022893, 0.108049, -0.047359, -0.11835, -0.014462, 0.019824, 0.027999, 0.067401, -0.059951, -0.026209, -0.004938, -0.051309]),
    (3, 2, [-0.007295, -0.062097, 0.034746, 0.017351, 0.028183, -0.002563, -0.055308, 0.074164, 0.018641, 0.114164, -0.075056, -0.00339, 0.040198, -0.058755, 0.035504, -0.068581]),
    (3, 3, [-0.052562, 0.095265, 0.04871, 0.001116, 0.005027, -0.069262, 0.004148, 0.027135, -0.034884, -0.09366, 0.023336, -0.013407, 0.044343, -0.095162, 0.055751, 0.042837]),
    (3, 4, [-0.067533, 0.016188, -0.03906, -0.097139, 0.030955, 0.015388, -0.025835, 0.015937, -0.003419, -0.03267, -0.040805, 0.007273, 0.009962, 0.110647, -0.081843, -0.0531]),
    (3, 5, [0.019005, -0.094917, 0.064639, -0.007726, -0.083455, 0.03986, 0.042156, -0.009791, 0.029714, 0.04433, 0.056013, -0.016816, 0.020547, 0.032111, -0.0401, 0.095848]),
    (3, 6, [0.047757, -0.046478, -0.030632, -0.016019, 0.09559, -0.029745, 0.015193, -0.077503, 0.050939, 0.018407, 0.083451, -0.051288, -0.01442, 0.025096, 0.06683, -0.025004]),
    (3, 7, [0.036954, -0.015997, -0.114461, 0.018469, -0.011921, 0.028834, 0.056632, 0.032867, 0.035753, -0.094393, -0.071332, -0.066116, -0.032204, 0.010405, 0.068668, -0.010811]),
]


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k with PRE-TRAINED codebooks (m=4
    subspaces x 8 centroids each, trained once offline on the sf0.001
    sample via pq_train and inlined as 6-dp-rounded literals — the
    production pattern: fit codebooks on a deterministic sample, then
    encode + search the full corpus). With training split out, encoding
    (nearest-centroid code per subspace) and LUT search (per-query
    partial inner products summed over subspaces) are pure deterministic
    arithmetic, so the DuckDB oracle replays the exact pipeline; the
    k-means *fit* itself stays covered by the NumPy recall test in
    tests/test_quantize_entropy.py."""
    from hermes_spark.operators import pq_encode, pq_topk

    books = spark.createDataFrame(
        PQ_CODEBOOKS, "subspace int, code int, centroid array<double>"
    )
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    codes = pq_encode(emb, books, m=4, dim=EMBED_DIM)
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    out = pq_topk(codes, books, queries, k=ANN_K, m=4, dim=EMBED_DIM)
    return out.select(
        "query_id", "vec_id", "score", F.col("rank").cast("long").alias("rank")
    )


def _sql_pq_topk() -> str:
    d_sub = EMBED_DIM // 4
    cb_rows = ",\n    ".join(
        f"({s}, {c}, {cent!r})" for s, c, cent in PQ_CODEBOOKS
    )
    def sq_diff():
        t = f"(CAST(e.embedding[cb.subspace*{d_sub} + i] AS DOUBLE) - cb.centroid[i])"
        return f"{t} * {t}"
    return f"""
WITH cb AS (
  SELECT * FROM (VALUES
    {cb_rows}
  ) t(subspace, code, centroid)
),
sub AS (
  SELECT e.vec_id, cb.subspace, cb.code,
         list_sum(list_transform(range(1, {d_sub + 1}), i -> {sq_diff()})) AS d2
  FROM embeddings e CROSS JOIN cb
),
best AS (
  SELECT vec_id, subspace, code,
         row_number() OVER (PARTITION BY vec_id, subspace
                            ORDER BY d2 ASC, code ASC) AS rn
  FROM sub
),
codes AS (SELECT vec_id, subspace, code FROM best WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings
      WHERE vec_id < {ANN_QUERIES}),
lut AS (
  SELECT q.query_id, cb.subspace, cb.code,
         list_sum(list_transform(range(1, {d_sub + 1}), i ->
           CAST(q.embedding[cb.subspace*{d_sub} + i] AS DOUBLE) * cb.centroid[i]
         )) AS partial
  FROM q CROSS JOIN cb
),
scored AS (
  SELECT l.query_id, c.vec_id, round(sum(l.partial), 6) AS score
  FROM codes c JOIN lut l ON l.subspace = c.subspace AND l.code = c.code
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, rank::BIGINT AS rank
FROM ranked WHERE rank <= {ANN_K}
"""


def q_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined IVF + int8 production search: route to the nearest
    centroid's cell, score candidates from dequantized codes. Exact
    floor/double arithmetic end-to-end -> fully oracle-checkable."""
    from hermes_spark.operators import ivf_sq8_topk

    emb = _read(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < IVF_CENTROIDS).withColumnRenamed(
        "vec_id", "centroid_id"
    )
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    out = ivf_sq8_topk(emb, centroids, queries, k=ANN_K, dim=EMBED_DIM)
    return out.select(
        "query_id", "vec_id", "score", F.col("rank").cast("long").alias("rank")
    )


def _sql_ivf_sq8_topk(k: "int | None" = None) -> str:
    assign_cos = _cosine_sql("v.vec_emb", "c.cent_emb")
    dvec = (
        "(c2.mins[i] + (c2.codes[i]::DOUBLE + 0.5) * (c2.maxs[i] - c2.mins[i]) / 256.0)"
    )
    dot = (
        f"list_sum(list_transform(range(1, {EMBED_DIM + 1}), i -> "
        f"CAST(q.qvec[i] AS DOUBLE) * {dvec}))"
    )
    qnorm = (
        "sqrt(list_sum(list_transform(q.qvec, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    dnorm = (
        f"sqrt(list_sum(list_transform(range(1, {EMBED_DIM + 1}), i -> "
        f"{dvec} * {dvec})))"
    )
    return f"""
WITH {_sql_sq8_codes_cte()},
cent AS (SELECT vec_id AS centroid_id, embedding AS cent_emb FROM embeddings WHERE vec_id < {IVF_CENTROIDS}),
assigned AS (
  SELECT vec_id, centroid_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY {assign_cos} DESC, c.centroid_id) AS rn
  FROM (SELECT vec_id, embedding AS vec_emb FROM embeddings) v
  CROSS JOIN cent c
),
cells AS (SELECT vec_id, centroid_id AS cell FROM assigned WHERE rn = 1),
qcells AS (
  SELECT e.vec_id AS query_id, e.embedding AS qvec, cl.cell
  FROM embeddings e JOIN cells cl ON cl.vec_id = e.vec_id
  WHERE e.vec_id < {ANN_QUERIES}
),
candidates AS (
  SELECT q.query_id, c2.vec_id,
         round({dot} / ({qnorm} * {dnorm}), 6) AS score
  FROM qcells q
  JOIN (SELECT codes.vec_id, codes.codes, codes.mins, codes.maxs, cl.cell
        FROM codes JOIN cells cl ON cl.vec_id = codes.vec_id) c2
    ON c2.cell = q.cell
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM candidates
)
SELECT query_id, vec_id, score, rank::BIGINT AS rank FROM ranked WHERE rank <= {k or ANN_K}
"""


# ---------------------------------------------------------------------------
# round-4b extension queries: corpus n-gram mining, quality classifier,
# JL random projection, DSIR importance weighting, MMR diversified top-k
# (operators/ngrams.py, classify.py, projection.py, importance.py, mmr.py)
# ---------------------------------------------------------------------------

NGRAM_N = 2
NGRAM_TOPK = 50
RP_OUT_DIM = 16
RP_SEED = 42
DSIR_BUCKETS = 512
DSIR_ALPHA = 0.5
MMR_QUERIES = 10
MMR_POOL = 50
MMR_K = 10
MMR_LAMBDA = 0.7

#: DuckDB bigram list from a token array (word_ngrams n=2 semantics:
#: arrays shorter than n yield an empty gram list)
_BIGRAMS_SQL = (
    "CASE WHEN len(t) < 2 THEN []::VARCHAR[] "
    "ELSE [array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))] END"
)


def q_topk_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide most-frequent word bigrams (boilerplate discovery);
    two narrow hash aggregates + TakeOrderedAndProject."""
    from hermes_spark.operators import topk_ngrams

    docs = _read(spark, sf_dir, "documents")
    return topk_ngrams(docs, "doc_id", "text", n=NGRAM_N, k=NGRAM_TOPK)


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram novelty: fraction of a doc's distinct bigrams
    first introduced (min doc_id) by that doc."""
    from hermes_spark.operators import ngram_novelty

    docs = _read(spark, sf_dir, "documents")
    return ngram_novelty(docs, "doc_id", "text", n=NGRAM_N)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight logistic quality score over four cheap text features
    — pure scan-fused column expressions, zero shuffle."""
    from hermes_spark.operators import linear_quality_score

    docs = _read(spark, sf_dir, "documents")
    out = linear_quality_score(docs, "doc_id", "text")
    return out.withColumn("keep", F.col("keep").cast("long"))


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL sign random projection 64 -> 16 dims, exploded to
    (vec_id, dim, value) rows for scalar comparison."""
    from hermes_spark.operators import random_project

    emb = _read(spark, sf_dir, "embeddings")
    proj = random_project(
        emb, "vec_id", "embedding", in_dim=EMBED_DIM, out_dim=RP_OUT_DIM, seed=RP_SEED
    )
    return proj.select(
        "vec_id", F.posexplode("proj").alias("dim", "value")
    ).select("vec_id", F.col("dim").cast("long").alias("dim"), "value")


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights of the full corpus against the English
    subset as target (hashed-unigram LM log-likelihood ratio)."""
    from hermes_spark.operators import dsir_weights

    docs = _read(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return dsir_weights(
        docs, target, "doc_id", "text", buckets=DSIR_BUCKETS, alpha=DSIR_ALPHA
    )


def _sql_mmr_select() -> str:
    """Greedy MMR unrolled as a fixed-k CTE chain. Works because every
    quantity the selection compares is 6-dp-quantized on both engines:
    rel is the rounded pool cosine, the pairwise penalty sims are
    rounded before the running max, and score = lam*rel -
    (1-lam)*max_sim is then identical IEEE arithmetic on identical
    rounded inputs — so the greedy trace replays exactly WHEN the
    unrounded cosines agree through the 6-dp round; per-engine
    summation-order differences make that an up-to-ulp guarantee, not
    an absolute one (see operators/mmr.py module docstring)."""
    lam = MMR_LAMBDA
    one_minus = 1.0 - MMR_LAMBDA  # NOT 0.3: mirror Python's FP value

    def cos(a: str, b: str) -> str:
        dot = (
            f"list_sum(list_transform(range(1, {EMBED_DIM + 1}), i -> "
            f"{a}[i] * {b}[i]))"
        )
        na = f"sqrt(list_sum(list_transform({a}, x -> x * x)))"
        nb = f"sqrt(list_sum(list_transform({b}, x -> x * x)))"
        return f"round({dot} / ({na} * {nb}), 6)"

    parts = [
        f"""WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         {cos("q.e", "c.e")} AS rel
  FROM v q CROSS JOIN v c WHERE q.vec_id < {MMR_QUERIES}
),
rem0 AS (
  SELECT query_id, vec_id, rel, 0.0::DOUBLE AS max_sim FROM (
    SELECT query_id, vec_id, rel,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, vec_id ASC) AS rn
    FROM scored
  ) WHERE rn <= {MMR_POOL}
)"""
    ]
    for j in range(1, MMR_K + 1):
        upd = (
            "ps"
            if j == 1
            else "greatest(r.max_sim, ps)"  # first pick REPLACES the zeros
        )
        parts.append(
            f""",
s{j} AS (
  SELECT query_id, vec_id, rel, score FROM (
    SELECT query_id, vec_id, rel,
           {lam!r} * rel - {one_minus!r} * max_sim AS score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {lam!r} * rel - {one_minus!r} * max_sim DESC,
                                       vec_id ASC) AS rn
    FROM rem{j - 1}
  ) WHERE rn = 1
),
rem{j} AS (
  SELECT r.query_id, r.vec_id, r.rel,
         CASE WHEN TRUE THEN {upd} END AS max_sim
  FROM (
    SELECT r.query_id, r.vec_id, r.rel, r.max_sim,
           {cos("a.e", "b.e")} AS ps
    FROM rem{j - 1} r
    JOIN s{j} s ON s.query_id = r.query_id AND s.vec_id <> r.vec_id
    JOIN v a ON a.vec_id = r.vec_id
    JOIN v b ON b.vec_id = s.vec_id
  ) r
)"""
        )
    selects = "\n  UNION ALL\n  ".join(
        f"SELECT query_id, vec_id, round(rel, 6) AS relevance, "
        f"round(score, 6) AS mmr_score, {j}::BIGINT AS mmr_rank FROM s{j}"
        for j in range(1, MMR_K + 1)
    )
    parts.append(f"""
SELECT * FROM (
  {selects}
)
""")
    return "".join(parts)


def q_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-k per query via greedy MMR over an exact top-50
    candidate pool. The greedy trace compares only 6-dp-quantized
    scores, so the fixed-k loop unrolls into the _sql_mmr_select CTE
    chain (hash-matched oracle); the NumPy reference lives in
    tests/test_curation_r4b.py."""
    from hermes_spark.operators import mmr_select

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < MMR_QUERIES)
    return mmr_select(
        emb, queries, k=MMR_K, pool_size=MMR_POOL, lam=MMR_LAMBDA
    ).orderBy("query_id", "mmr_rank")


def _sql_ngram_novelty() -> str:
    return f"""
WITH tok AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
grams AS (SELECT DISTINCT doc_id, gram
          FROM (SELECT doc_id, unnest({_BIGRAMS_SQL}) AS gram FROM tok)),
firsts AS (
  SELECT doc_id, gram, min(doc_id) OVER (PARTITION BY gram) AS first_doc
  FROM grams
)
SELECT doc_id, count(*)::BIGINT AS n_grams,
       sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)::BIGINT AS novel_grams,
       round(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS novelty
FROM firsts GROUP BY doc_id
"""


def _sql_quality_classifier() -> str:
    from hermes_spark.operators.classify import QUALITY_WEIGHTS, STOPWORDS

    w = QUALITY_WEIGHTS
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS t,
         length(regexp_replace(text, '\\s', '', 'g')) AS ns
  FROM documents
),
feats AS (
  SELECT doc_id,
         len(t)::BIGINT AS n_tokens,
         round(ns::DOUBLE / greatest(len(t), 1), 6) AS mean_tok_len,
         round(len(list_distinct(t))::DOUBLE / greatest(len(t), 1), 6) AS distinct_ratio,
         round(len(list_filter(t, x -> list_contains([{stop_list}], x)))::DOUBLE
               / greatest(len(t), 1), 6) AS stopword_ratio
  FROM tok
),
scored AS (
  SELECT *,
         round(1.0 / (1.0 + exp(-({w['bias']}
               + {w['log_n_tokens']} * ln(n_tokens + 1.0)
               + {w['mean_tok_len']} * mean_tok_len
               + {w['distinct_ratio']} * distinct_ratio
               + {w['stopword_ratio']} * stopword_ratio))), 6) AS quality
  FROM feats
)
SELECT doc_id, n_tokens, mean_tok_len, distinct_ratio, stopword_ratio, quality,
       (CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS keep
FROM scored
"""


def _sql_random_projection() -> str:
    from hermes_spark.operators.projection import sign_matrix

    signs = sign_matrix(EMBED_DIM, RP_OUT_DIM, RP_SEED)
    scale = 1.0 / RP_OUT_DIM**0.5
    rows = ", ".join(
        f"({j}, [{', '.join(str(s) for s in row)}])" for j, row in enumerate(signs)
    )
    return f"""
WITH signs(dim, s) AS (VALUES {rows})
SELECT e.vec_id, signs.dim::BIGINT AS dim,
       round(list_sum(list_transform(range(1, {EMBED_DIM + 1}),
             i -> CAST(e.embedding[i] AS DOUBLE) * signs.s[i])) * {scale!r}, 6) AS value
FROM embeddings e CROSS JOIN signs
"""


def _sql_dsir_weights() -> str:
    b = DSIR_BUCKETS
    a = DSIR_ALPHA
    return f"""
WITH tok AS (SELECT doc_id, lang, {_TOKENS_SQL} AS t FROM documents),
occ AS (
  SELECT doc_id, lang,
         unnest(list_transform(t, x ->
           ('0x' || substring(md5('dsir:' || x), 1, 15))::BIGINT % {b})) AS bucket
  FROM tok
),
t_dist AS (SELECT bucket, count(*)::DOUBLE AS tc FROM occ WHERE lang = 'en' GROUP BY bucket),
r_dist AS (SELECT bucket, count(*)::DOUBLE AS rc FROM occ GROUP BY bucket),
tot AS (SELECT (SELECT sum(tc) FROM t_dist) AS tt, (SELECT sum(rc) FROM r_dist) AS rt),
lam AS (
  SELECT r.bucket,
         ln((coalesce(t.tc, 0) + {a}) / (tot.tt + {a} * {b}))
         - ln((r.rc + {a}) / (tot.rt + {a} * {b})) AS lam
  FROM r_dist r LEFT JOIN t_dist t USING (bucket) CROSS JOIN tot
),
doc AS (SELECT doc_id, bucket, count(*)::BIGINT AS occ2 FROM occ GROUP BY doc_id, bucket)
SELECT doc_id, sum(occ2)::BIGINT AS n_tokens,
       round(sum(occ2 * lam.lam), 6) AS log_weight
FROM doc JOIN lam USING (bucket) GROUP BY doc_id
"""


TEMP_MIX_T = 2.0
DECON_REF_IDS = 40
DECON_MIN_COS = 0.95


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened language mix (T=2): rare languages keep a
    larger share than their natural frequency, via derived targets +
    the zero-shuffle deterministic hash-threshold filter."""
    from hermes_spark.operators import temperature_mix

    docs = _read(spark, sf_dir, "documents")
    out = temperature_mix(docs, "doc_id", "lang", temperature=TEMP_MIX_T)
    return out.select("doc_id", "lang")


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: drop corpus vectors with cosine
    >= 0.95 to any 'benchmark' vector (ids < 40). Exact variant for the
    oracle; the LSH-bucketed path is the 100 TB route."""
    from hermes_spark.operators import semantic_decontaminate

    emb = _read(spark, sf_dir, "embeddings")
    ref = emb.filter(F.col("vec_id") < DECON_REF_IDS)
    out = semantic_decontaminate(
        emb, ref, min_cosine=DECON_MIN_COS, dim=EMBED_DIM, exact=True
    )
    return out.select("vec_id", "label")


SPAN_MIN_TOKENS = 8
SPAN_MAX_DOCS = 50


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal verbatim >=8-token spans shared between document pairs
    (Lee et al. 2021-style substring dedup) over the corpus plus exact
    re-keyed copies: each copy pair surfaces as one full-document span."""
    from hermes_spark.operators import duplicate_spans

    corpus = _docs_with_dups(spark, sf_dir)
    return duplicate_spans(
        corpus, "doc_id", "text",
        min_tokens=SPAN_MIN_TOKENS, max_docs_per_gram=SPAN_MAX_DOCS,
    ).select(
        "id_a", "id_b",
        F.col("start_a").cast("long").alias("start_a"),
        F.col("start_b").cast("long").alias("start_b"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    )


def q_span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span exposure over the same corpus."""
    from hermes_spark.operators import span_dedup_stats

    corpus = _docs_with_dups(spark, sf_dir)
    return span_dedup_stats(
        corpus, "doc_id", "text",
        min_tokens=SPAN_MIN_TOKENS, max_docs_per_gram=SPAN_MAX_DOCS,
    )


def _sql_span_grams_cte() -> str:
    n = SPAN_MIN_TOKENS
    h = _dhash(f"array_to_string(t[i:i+{n - 1}], ' ')")
    return f"""
corpus AS ({_DOCS_WITH_DUPS_SQL}),
tok AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM corpus),
gp AS (
  SELECT doc_id, g.pos AS pos, g.h AS ghash
  FROM (SELECT doc_id,
               unnest(CASE WHEN len(t) < {n} THEN []::STRUCT(pos BIGINT, h BIGINT)[]
                      ELSE [struct_pack(pos := i - 1, h := {h})
                            FOR i IN range(1, len(t) - {n} + 2)] END) AS g
        FROM tok)
),
ok AS (SELECT ghash FROM gp GROUP BY ghash
       HAVING count(*) >= 2 AND count(DISTINCT doc_id) <= {SPAN_MAX_DOCS}),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, b.pos AS pos_b
  FROM gp a JOIN gp b ON a.ghash = b.ghash AND a.doc_id < b.doc_id
  WHERE a.ghash IN (SELECT ghash FROM ok)
),
islands AS (
  SELECT id_a, id_b, pos_a, pos_b, pos_a - pos_b AS diag,
         pos_a - row_number() OVER (PARTITION BY id_a, id_b, pos_a - pos_b
                                    ORDER BY pos_a) AS island
  FROM pairs
),
spans AS (
  SELECT id_a, id_b, min(pos_a)::BIGINT AS start_a, min(pos_b)::BIGINT AS start_b,
         (count(*) + {n - 1})::BIGINT AS span_tokens
  FROM islands GROUP BY id_a, id_b, diag, island
)"""


def _sql_duplicate_spans() -> str:
    return f"""
WITH {_sql_span_grams_cte()}
SELECT id_a, id_b, start_a, start_b, span_tokens FROM spans
"""


def _sql_span_dedup_stats() -> str:
    return f"""
WITH {_sql_span_grams_cte()},
sides AS (
  SELECT id_a AS doc_id, span_tokens FROM spans
  UNION ALL
  SELECT id_b AS doc_id, span_tokens FROM spans
),
per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS dup_spans,
         sum(span_tokens)::BIGINT AS dup_span_tokens,
         max(span_tokens)::BIGINT AS max_span
  FROM sides GROUP BY doc_id
)
SELECT c.doc_id, len({_TOKENS_SQL})::BIGINT AS n_tokens,
       coalesce(p.dup_spans, 0)::BIGINT AS dup_spans,
       coalesce(p.dup_span_tokens, 0)::BIGINT AS dup_span_tokens,
       coalesce(p.max_span, 0)::BIGINT AS max_span
FROM corpus c LEFT JOIN per_doc p USING (doc_id)
"""


HARDNEG_SKIP = 10
HARDNEG_MAX_COS = 0.95


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k candidates AFTER skipping the 10 nearest and excluding
    near-duplicates (unlabeled positives)."""
    from hermes_spark.operators import hard_negatives

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    return hard_negatives(
        emb, queries, k=ANN_K, skip=HARDNEG_SKIP, max_cosine=HARDNEG_MAX_COS
    )


def _sql_hard_negatives() -> str:
    cos = _cosine_sql("q.embedding", "c.embedding")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < {ANN_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id, {cos} AS cosine
  FROM q CROSS JOIN embeddings c
  WHERE c.vec_id <> q.query_id AND {cos} < {HARDNEG_MAX_COS}
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
  FROM scored
)
SELECT query_id, vec_id, cosine, (rnk - {HARDNEG_SKIP})::BIGINT AS neg_rank
FROM ranked
WHERE rnk > {HARDNEG_SKIP} AND rnk <= {HARDNEG_SKIP + ANN_K}
"""


def _sql_temperature_mix() -> str:
    bucket = _dhash("'tempmix:' || doc_id::VARCHAR") + " % 10000"
    return f"""
WITH counts AS (SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY lang),
tot AS (SELECT sum(n) AS total FROM counts),
raw AS (SELECT lang, n, pow(n / tot.total, 1.0 / {TEMP_MIX_T!r}) AS qraw
        FROM counts CROSS JOIN tot),
z AS (SELECT sum(qraw) AS z FROM raw),
shares AS (SELECT lang, n, round(qraw / z.z, 9) AS share FROM raw CROSS JOIN z),
mr AS (SELECT min(n / share) AS min_ratio FROM shares),
thresholds AS (
  SELECT lang, floor(10000.0 * share * min_ratio / n) AS threshold
  FROM shares CROSS JOIN mr
)
SELECT d.doc_id, d.lang
FROM documents d JOIN thresholds t ON d.lang = t.lang
WHERE ({bucket}) < t.threshold
"""


def _sql_semantic_decontaminate() -> str:
    cos = _cosine_sql("c.embedding", "r.embedding")
    return f"""
WITH hits AS (
  SELECT DISTINCT c.vec_id
  FROM embeddings c
  JOIN (SELECT * FROM embeddings WHERE vec_id < {DECON_REF_IDS}) r ON TRUE
  WHERE {cos} >= {DECON_MIN_COS}
)
SELECT e.vec_id, e.label
FROM embeddings e ANTI JOIN hits h ON e.vec_id = h.vec_id
"""


def _sql_unit_entropy(unit: str) -> str:
    if unit == "char":
        unit_src = "unnest(string_split(text, ''))"
    else:
        unit_src = f"unnest({_TOKENS_SQL})"
    return f"""
WITH u AS (
  SELECT doc_id, {unit_src} AS c FROM documents
),
f AS (
  SELECT doc_id, c, count(*)::BIGINT AS cnt FROM u WHERE c <> '' GROUP BY 1, 2
),
agg AS (
  SELECT doc_id,
         sum(cnt)::BIGINT AS n_units,
         count(*)::BIGINT AS distinct_units,
         sum(cnt::DOUBLE * log2(cnt::DOUBLE)) AS plogp
  FROM f GROUP BY doc_id
)
SELECT doc_id, n_units, distinct_units,
       round(log2(n_units::DOUBLE) - plogp / n_units::DOUBLE, 6) AS entropy_bits
FROM agg
"""


_SQL_LINK_STATS = """
WITH injected AS (
  SELECT doc_id,
         text || ' https://site' || (doc_id % 7)::VARCHAR || '.example.com/p/'
              || doc_id::VARCHAR
              || CASE WHEN doc_id % 3 = 0 THEN ' http://hub.example.org' ELSE '' END
         AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, 'https?://[^\\s]+'))::BIGINT AS n_urls,
       len(list_distinct(list_transform(
           regexp_extract_all(text, 'https?://([^/\\s]+)', 1), x -> lower(x)
       )))::BIGINT AS n_domains,
       round(len(regexp_extract_all(text, 'https?://[^\\s]+'))
             / len(regexp_split_to_array(trim(text), '\\s+'))::DOUBLE, 6)
         AS link_density
FROM injected
"""


def _sql_rebalance_mix() -> str:
    total = sum(REBALANCE_TARGETS.values())
    share_case = " ".join(
        f"WHEN '{k}' THEN {w / total!r}" for k, w in sorted(REBALANCE_TARGETS.items())
    )
    in_list = ", ".join(f"'{k}'" for k in sorted(REBALANCE_TARGETS))
    bucket = _dhash("'rebalance:' || doc_id::VARCHAR") + " % 10000"
    return f"""
WITH counts AS (
  SELECT lang, count(*)::DOUBLE AS n, CASE lang {share_case} END AS share
  FROM documents WHERE lang IN ({in_list}) GROUP BY lang
),
mr AS (SELECT min(n / share) AS min_ratio FROM counts),
thresholds AS (
  SELECT lang, floor(10000.0 * share * min_ratio / n) AS threshold
  FROM counts CROSS JOIN mr
)
SELECT d.doc_id, d.lang
FROM documents d JOIN thresholds t ON d.lang = t.lang
WHERE ({bucket}) < t.threshold
"""


def _sql_sq8_codes_cte() -> str:
    mins = ", ".join(
        f"min(CAST(embedding[{i + 1}] AS DOUBLE))" for i in range(EMBED_DIM)
    )
    maxs = ", ".join(
        f"max(CAST(embedding[{i + 1}] AS DOUBLE))" for i in range(EMBED_DIM)
    )
    return f"""
stats AS (
  SELECT [{mins}] AS mins, [{maxs}] AS maxs FROM embeddings
),
codes AS (
  SELECT vec_id, embedding,
         list_transform(range(1, {EMBED_DIM + 1}), i ->
           CASE WHEN maxs[i] = mins[i] THEN 0
                ELSE least(255, floor((CAST(embedding[i] AS DOUBLE) - mins[i])
                                      / (maxs[i] - mins[i]) * 256.0)::INT)
           END) AS codes,
         mins, maxs
  FROM embeddings CROSS JOIN stats
)"""


def _sql_sq8_topk() -> str:
    dot = (
        f"list_sum(list_transform(range(1, {EMBED_DIM + 1}), i -> "
        f"CAST(q.embedding[i] AS DOUBLE) * "
        f"(c.mins[i] + (c.codes[i]::DOUBLE + 0.5) * (c.maxs[i] - c.mins[i]) / 256.0)))"
    )
    qnorm = (
        "sqrt(list_sum(list_transform(q.embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    dnorm = (
        f"sqrt(list_sum(list_transform(range(1, {EMBED_DIM + 1}), i -> "
        f"(c.mins[i] + (c.codes[i]::DOUBLE + 0.5) * (c.maxs[i] - c.mins[i]) / 256.0) * "
        f"(c.mins[i] + (c.codes[i]::DOUBLE + 0.5) * (c.maxs[i] - c.mins[i]) / 256.0))))"
    )
    return f"""
WITH {_sql_sq8_codes_cte()},
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < {ANN_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id, round({dot} / ({qnorm} * {dnorm}), 6) AS score
  FROM q CROSS JOIN codes c
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, rank::BIGINT AS rank FROM ranked WHERE rank <= {ANN_K}
"""


# ---------------------------------------------------------------------------
# round-4c extension queries: link-graph analytics (PageRank, degrees)
# and EWMA series smoothing (operators/graph.py, operators/gapfill.py)
# ---------------------------------------------------------------------------

# Deterministic synthetic link graph over the documents table (the corpus
# has no real links): each doc gets one out-edge per (a, b) multiplier
# pair, dst = (doc_id*a + b) mod n; docs with doc_id % 97 == 0 lose all
# out-edges (dangling nodes, exercising the redistribution path).
PAGERANK_EDGE_PARAMS = [(7, 3), (13, 5), (29, 11)]
PAGERANK_DANGLING_MOD = 97
PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85
EWMA_ALPHA = 0.3
EWMA_LOOKBACK = 12


def _link_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()  # scalar digest (mod base for the synthetic edges)
    dsts = F.array(
        *[
            ((F.col("doc_id") * F.lit(a) + F.lit(b)) % F.lit(n)).cast("long")
            for (a, b) in PAGERANK_EDGE_PARAMS
        ]
    )
    return (
        docs.filter(F.col("doc_id") % PAGERANK_DANGLING_MOD != 0)
        .select(F.col("doc_id").cast("long").alias("src"), F.explode(dsts).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def q_pagerank_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the synthetic doc link graph (5 power iterations,
    d=0.85, dangling mass redistributed) — the link-authority quality
    prior a crawl-curation pipeline attaches to documents."""
    from hermes_spark.operators import pagerank

    edges = _link_graph_edges(spark, sf_dir)
    ranks = pagerank(
        edges, iterations=PAGERANK_ITERS, damping=PAGERANK_DAMPING
    )
    return ranks.select("node", F.round(F.col("rank"), 6).alias("pr"))


def q_link_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node in/out degree over the same synthetic link graph (link-farm
    spam heuristics read these)."""
    from hermes_spark.operators import degree_stats

    return degree_stats(_link_graph_edges(spark, sf_dir))


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-12h normalized EWMA of gap-filled hourly event counts per
    event type (the smoothed 'expected' series a monitor plots next to
    the anomaly flags)."""
    from hermes_spark.operators.gapfill import ewma_smooth, gapfill_rollup

    events = _read_events(spark, sf_dir)
    hourly = gapfill_rollup(
        events, "ts", "value", group_cols=["event_type"], unit="hour"
    ).select("event_type", "bucket", F.col("n_events").cast("long").alias("n_events"))
    out = ewma_smooth(
        hourly,
        "bucket",
        "n_events",
        group_cols=["event_type"],
        alpha=EWMA_ALPHA,
        lookback=EWMA_LOOKBACK,
    )
    return out.select(
        "event_type",
        F.col("bucket").cast("timestamp_ntz").alias("bucket"),
        "n_events",
        "ewma",
    )


_SQL_LINK_GRAPH_CTES = f"""nn AS (SELECT count(*)::BIGINT AS n FROM documents),
edges AS (
  SELECT doc_id::BIGINT AS src, ((doc_id * a + b) % nn.n)::BIGINT AS dst
  FROM documents CROSS JOIN nn
  CROSS JOIN (VALUES {", ".join(f"({a}, {b})" for a, b in PAGERANK_EDGE_PARAMS)}) m(a, b)
  WHERE doc_id % {PAGERANK_DANGLING_MOD} <> 0
    AND doc_id <> (doc_id * a + b) % nn.n
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges
  )
),
outd AS (SELECT src AS node, count(*)::BIGINT AS od FROM edges GROUP BY 1)"""


def _sql_pagerank_links() -> str:
    d = PAGERANK_DAMPING
    parts = [
        f"""WITH {_SQL_LINK_GRAPH_CTES},
w AS (
  SELECT e.src AS node, e.dst AS dst, 1.0::DOUBLE / o.od AS w
  FROM edges e JOIN outd o ON o.node = e.src
),
r0 AS (SELECT node, (1.0::DOUBLE / nn.n) AS pr FROM nodes CROSS JOIN nn)"""
    ]
    for i in range(1, PAGERANK_ITERS + 1):
        parts.append(
            f""",
d{i} AS (
  SELECT coalesce(sum(r.pr), 0.0::DOUBLE) AS dm
  FROM r{i - 1} r ANTI JOIN outd o ON o.node = r.node
),
c{i} AS (
  SELECT w.dst AS node, sum(r.pr * w.w) AS contrib
  FROM w JOIN r{i - 1} r ON r.node = w.node GROUP BY 1
),
r{i} AS (
  SELECT nd.node,
         ((1.0::DOUBLE - {d!r}::DOUBLE) / nn.n)
         + {d!r}::DOUBLE * (coalesce(c.contrib, 0.0::DOUBLE) + dg.dm / nn.n::DOUBLE) AS pr
  FROM nodes nd CROSS JOIN nn CROSS JOIN d{i} dg
  LEFT JOIN c{i} c ON c.node = nd.node
)"""
        )
    parts.append(
        f"""
SELECT node, round(pr, 6) AS pr FROM r{PAGERANK_ITERS}
"""
    )
    return "".join(parts)


_SQL_LINK_DEGREES = f"""
WITH {_SQL_LINK_GRAPH_CTES},
ind AS (SELECT dst AS node, count(*)::BIGINT AS id_ FROM edges GROUP BY 1)
SELECT n.node,
       coalesce(o.od, 0)::BIGINT AS out_deg,
       coalesce(i.id_, 0)::BIGINT AS in_deg
FROM nodes n
LEFT JOIN outd o ON o.node = n.node
LEFT JOIN ind i ON i.node = n.node
"""


PMI_TOPK = 100
PMI_MIN_COUNT = 5
SCD2_LOOKUP_OFFSET_DAYS = 40
INCR_ROLLUP_CUTOFF = "2024-02-01"
RESCORE_SHORTLIST = 50


def q_ivf_rescore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage production ANN: IVF + int8 shortlist, exact float
    rescore of only the shortlist — the standard accuracy-recovery
    pattern for quantized indexes, fully oracle-checkable end-to-end."""
    from hermes_spark.operators import ivf_sq8_rescore_topk

    emb = _read(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < IVF_CENTROIDS).withColumnRenamed(
        "vec_id", "centroid_id"
    )
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    return ivf_sq8_rescore_topk(
        emb, centroids, queries, k=ANN_K, shortlist=RESCORE_SHORTLIST, dim=EMBED_DIM
    )


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream transition mining: per-user ordered event-type
    bigrams (the first-order Markov transition counts a journey model
    trains on). One window over the user partitioning, one narrow
    aggregate — no self-joins."""
    events = _read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = events.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    return pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )


def q_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length deciles (ntile) — the binning a
    length-balanced sampler draws from. Ties broken by doc_id so the
    decile assignment is engine-reproducible."""
    docs = _read(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("decile", F.ntile(10).over(w))
        .groupBy("lang", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .select(
            "lang", F.col("decile").cast("long").alias("decile"),
            "n_docs", "min_chars", "max_chars",
        )
    )


def q_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (dead/exploding-dimension
    screen; the ranges sq8 quantization keys off)."""
    from hermes_spark.operators import embedding_dim_profile

    return embedding_dim_profile(_read(spark, sf_dir, "embeddings"))


def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus whitening (per-dim z-score); digested to per-vector
    (n_dims, sum, min, max) so the oracle compares scalars, not float
    arrays."""
    from hermes_spark.operators import standardize_embeddings

    z = standardize_embeddings(_read(spark, sf_dir, "embeddings"))
    return z.select(
        "vec_id",
        F.size("z").cast("long").alias("n_dims"),
        F.round(
            F.aggregate("z", F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("z_sum"),
        F.round(F.array_min("z"), 6).alias("z_min"),
        F.round(F.array_max("z"), 6).alias("z_max"),
    )


WSAMPLE_N = 100
MAD_K = 3.0


def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    A-RES): 100 docs drawn with probability proportional to length,
    deterministic and layout-independent."""
    from hermes_spark.operators import weighted_sample

    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, "doc_id", "n_chars", n=WSAMPLE_N)


def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust median/MAD outlier summary per event type — the
    contamination-proof sibling of the z-score profile."""
    from hermes_spark.operators import mad_outlier_summary

    events = _read_events(spark, sf_dir).select("event_type", "value")
    return mad_outlier_summary(events, "value", group_cols=["event_type"], k=MAD_K)


def _sql_weighted_sample() -> str:
    u = (
        f"((({_dhash(chr(39) + 'wsample:' + chr(39) + ' || doc_id::VARCHAR')})"
        " % 1000000)::DOUBLE + 0.5::DOUBLE) / 1000000.0::DOUBLE"
    )
    return f"""
WITH w AS (
  SELECT doc_id, n_chars,
         round(pow({u}, 1.0::DOUBLE / n_chars::DOUBLE), 9) AS sample_key
  FROM documents WHERE n_chars > 0
),
r AS (
  SELECT *, row_number() OVER (ORDER BY sample_key DESC, doc_id) AS rn FROM w
)
SELECT doc_id, n_chars, sample_key FROM r WHERE rn <= {WSAMPLE_N}
"""


def _sql_events_mad_outliers() -> str:
    thresh = MAD_K * 1.4826  # same Python-evaluated double the operator embeds
    return f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1
),
a AS (
  SELECT e.event_type, abs(e.value - m.med) AS absdev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(absdev, 0.5) AS mad FROM a GROUP BY 1
)
SELECT a.event_type, round(med.med, 6) AS med, round(mad.mad, 6) AS mad,
       count(*)::BIGINT AS n,
       sum(CASE WHEN a.absdev > {thresh!r} * mad.mad THEN 1 ELSE 0 END)::BIGINT
         AS n_outliers,
       round(sum(CASE WHEN a.absdev > {thresh!r} * mad.mad THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS outlier_rate
FROM a
JOIN mad USING (event_type)
JOIN med USING (event_type)
GROUP BY a.event_type, med.med, mad.mad
"""


# Deterministic markup wrapper for the strip_html oracle query (the
# corpus has no HTML): tags, a script block, a style block, and entities.
HTML_WRAP_PRE = '<html><body onload="x()"><p class="doc">'
HTML_WRAP_POST = (
    '</p><script type="text/javascript">var x = 1 < 2;</script>'
    "<style>p { color: red; }</style>"
    '<a href="https://ex.com/p?id=1">&amp;more&nbsp;text</a></body></html>'
)


def q_strip_html_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup-to-text cleanup (crawled-corpus staple): every doc wrapped
    in a deterministic HTML shell (same rule in the oracle), stripped,
    digested to (length, md5) — byte-for-byte engine parity."""
    from hermes_spark.functions.text import strip_html

    docs = _read(spark, sf_dir, "documents")
    cleaned = strip_html(
        F.concat(F.lit(HTML_WRAP_PRE), F.col("text"), F.lit(HTML_WRAP_POST))
    )
    return docs.select(
        "doc_id",
        F.length(cleaned).cast("long").alias("clean_len"),
        F.md5(cleaned).alias("clean_md5"),
    )


def _sql_strip_html() -> str:
    from hermes_spark.functions.text import _HTML_ENTITIES

    expr = (
        f"regexp_replace('{HTML_WRAP_PRE}' || text || '{HTML_WRAP_POST}', "
        "'(?s)<[sS][cC][rR][iI][pP][tT][^>]*>.*?</[sS][cC][rR][iI][pP][tT]>', ' ', 'g')"
    )
    expr = f"regexp_replace({expr}, '(?s)<[sS][tT][yY][lL][eE][^>]*>.*?</[sS][tT][yY][lL][eE]>', ' ', 'g')"
    expr = f"regexp_replace({expr}, '(?s)<[^>]+>', ' ', 'g')"
    for entity, repl in _HTML_ENTITIES:
        repl_sql = repl.replace("'", "''")
        expr = f"replace({expr}, '{entity}', '{repl_sql}')"
    expr = f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"
    return f"""
SELECT doc_id, length({expr})::BIGINT AS clean_len, md5({expr}) AS clean_md5
FROM documents
"""


# Deterministic page shell for the main-content extraction query: a
# link-farm nav, a short heading, the doc text as the content block,
# and a link-heavy footer + script/comment noise.  The operator must
# keep exactly the content paragraph (when it clears min_words) and
# drop the chrome — the same shell is rebuilt in the oracle.
# No single quotes (both engines inline it as a string literal).
MAIN_WRAP_PRE = (
    '<html><head><title>Doc</title><style>p {margin: 0;}</style></head>'
    '<body><nav><a href="/">Home</a> <a href="/about">About us</a> '
    '<a href="/contact">Contact the sales team</a></nav>'
    "<h1>Entry</h1><p>"
)
MAIN_WRAP_POST = (
    '</p><div class="footer"><a href="/privacy">Privacy policy</a> '
    '<a href="/terms">Terms</a> <a href="/contact">Contact</a> '
    "(c) 2026 Example Corp</div>"
    "<script>var nav = 1;</script><!-- built --></body></html>"
)


def q_main_content_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level boilerplate removal (jusText-style main-content
    extraction, `operators/maincontent.py`): every doc wrapped in a
    deterministic HTML shell (nav link-farm + heading + content
    paragraph + link-heavy footer), segmented into blocks, blocks kept
    by (words >= 5, link density <= 0.25, stopword frac >= 0) and the
    page digested to block counts + the extracted text's (len, md5).

    The expr engine is a zero-shuffle map stage (pure higher-order
    array expressions; the default arrow engine adds one rebalance
    exchange on large inputs and is equivalence-pinned to expr); the
    0.25 threshold is binary-exact so double (Spark) and decimal
    (DuckDB) arithmetic agree on the keep boundary.
    """
    from hermes_spark.operators import extract_main_text

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit(MAIN_WRAP_PRE), F.col("text"), F.lit(MAIN_WRAP_POST)
        ).alias("html"),
    )
    out = extract_main_text(
        docs, "doc_id", "html",
        min_words=5, max_link_density=0.25, min_stopword_frac=0.0,
    )
    return out.select(
        "doc_id", "n_blocks", "n_kept", "main_words",
        F.length("main_text").cast("long").alias("main_len"),
        F.md5("main_text").alias("main_md5"),
    )


def _sql_main_content() -> str:
    from hermes_spark.functions.text import _HTML_ENTITIES
    from hermes_spark.operators.maincontent import (
        _ANCHOR, _BLOCK_SPLIT, _STOP_PAT, _TAG, _WORD, _WS,
    )

    clean = f"regexp_replace(b, '{_TAG}', ' ', 'g')"
    for entity, repl in _HTML_ENTITIES:
        repl_sql = repl.replace("'", "''")
        clean = f"replace({clean}, '{entity}', '{repl_sql}')"
    clean = f"trim(regexp_replace({clean}, '{_WS}+', ' ', 'g'))"
    anchor_words = (
        "len(regexp_extract_all(regexp_replace(coalesce(array_to_string("
        f"regexp_extract_all(b, '{_ANCHOR}', 1), ' '), ''), '{_TAG}', ' ', "
        f"'g'), '{_WORD}'))"
    )
    return f"""
WITH pre AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(
      '{MAIN_WRAP_PRE}' || text || '{MAIN_WRAP_POST}',
      '(?s)<[sS][cC][rR][iI][pP][tT][^>]*>.*?</[sS][cC][rR][iI][pP][tT]>', ' ', 'g'),
      '(?s)<[sS][tT][yY][lL][eE][^>]*>.*?</[sS][tT][yY][lL][eE]>', ' ', 'g'),
      '(?s)<!--.*?-->', ' ', 'g') AS page
  FROM documents
),
blk AS (
  SELECT doc_id,
    list_transform(
      regexp_split_to_array(page, '{_BLOCK_SPLIT}'),
      b -> struct_pack(text := {clean}, anchor_words := {anchor_words})
    ) AS s1
  FROM pre
),
sc AS (
  SELECT doc_id,
    list_transform(s1, s -> struct_pack(
      text := s.text,
      words := len(regexp_extract_all(s.text, '{_WORD}')),
      anchor_words := s.anchor_words,
      stop_words := len(regexp_extract_all(lower(s.text), '{_STOP_PAT}'))
    )) AS s2
  FROM blk
),
ag AS (
  SELECT doc_id, s2,
    list_filter(s2, s -> s.words >= 5
      AND CAST(s.anchor_words AS DOUBLE) <= 0.25 * CAST(s.words AS DOUBLE)
      AND CAST(s.stop_words AS DOUBLE) >= 0.0 * CAST(s.words AS DOUBLE)
    ) AS kept
  FROM sc
),
fin AS (
  SELECT doc_id, s2, kept,
    coalesce(array_to_string(list_transform(kept, s -> s.text), chr(10)), '')
      AS main_text
  FROM ag
)
SELECT doc_id,
  len(list_filter(s2, s -> s.words >= 1))::BIGINT AS n_blocks,
  len(kept)::BIGINT AS n_kept,
  len(regexp_extract_all(main_text, '{_WORD}'))::BIGINT AS main_words,
  length(main_text)::BIGINT AS main_len,
  md5(main_text) AS main_md5
FROM fin
"""


def _linked_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents wrapped as pages with deterministic outlinks: two
    identical content links (multiplicity!) to ``www.site{id%7}
    .example.com`` with tracking + unsorted params, one single-quoted
    uppercase-HREF link to ``cdn{id%3}.example.net:8080``, one UNQUOTED
    href to ``un{id%2}.example.com``, one root-relative and one
    ``../``-relative link (resolved against the page URL, or the
    ``<base href>`` that pages with ``id%4==0`` carry), plus traps that
    must yield nothing: a link inside ``<script>``, one inside an HTML
    comment, a ``data-href`` attribute, a fragment-only and a
    ``mailto:`` ref — with the doc text as noise.  The oracle predicts
    the resulting edges in closed form from the same id arithmetic —
    an independent derivation that pins extraction + resolution +
    canonicalization end-to-end (`operators/weblinks.py`)."""
    docs = _read(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    site = F.concat(
        F.lit("https://www.site"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/page/"), sid,
        F.lit("?utm_source=feed&b=2&a=1"),
    )
    cdn = F.concat(
        F.lit("http://cdn"), (F.col("doc_id") % 3).cast("string"),
        F.lit(".example.net:8080/asset.js"),
    )
    unq = F.concat(
        F.lit("https://un"), (F.col("doc_id") % 2).cast("string"),
        F.lit(".example.com/u?z=9&utm_campaign=x"),
    )
    base_tag = F.when(
        F.col("doc_id") % 4 == 0,
        F.lit('<base href="https://www.baseb.example.net/dir/sub/">'),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"), base_tag,
        F.lit('<script>var x="https://evil.example.com/1";</script>'),
        F.lit('</head><body><a href="'), site, F.lit('">x</a><p>'),
        F.col("text"),
        F.lit('</p><A HREF="'), site, F.lit('">again</A>'),
        F.lit("<a href='"), cdn, F.lit("'>z</a>"),
        F.lit("<a href="), unq, F.lit(">u</a>"),
        F.lit('<a href="/root/r'), (F.col("doc_id") % 3).cast("string"),
        F.lit('">r</a>'),
        F.lit("<a href='../up/"), (F.col("doc_id") % 2).cast("string"),
        F.lit(".html'>up</a>"),
        F.lit('<!-- <a href="https://ghost.example.com/g">dead</a> -->'),
        F.lit('<div data-href="https://datahref.example.com/d">n</div>'),
        F.lit('<a href="#frag">f</a><a href="mailto:a@b.c">m</a>'),
        F.lit("</body></html>"),
    )
    src = F.concat(
        F.lit("host"), (F.col("doc_id") % 5).cast("string"),
        F.lit(".example.org"),
    )
    page_url = F.concat(
        F.lit("https://"), src, F.lit("/a/b/page"), sid, F.lit(".html")
    )
    return docs.select(
        "doc_id", src.alias("src_host"), page_url.alias("page_url"),
        html.alias("html"),
    )


def q_outlinks_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized, RESOLVED outlink extraction
    (`operators/weblinks.py`): one row per (page, href target) in all
    three attribute forms, relative links resolved against the page's
    ``<base href>``-or-URL, script/comment/data-href traps dropped,
    targets normalized with canonical_url (scheme/fragment dropped,
    www. and tracking params stripped, surviving query params sorted,
    non-default port kept).  Zero shuffle — scan-side regexp +
    explode."""
    from hermes_spark.operators import extract_outlinks

    pages = _linked_pages(spark, sf_dir)
    return extract_outlinks(
        pages, "doc_id", "html", page_url_col="page_url"
    ).select("doc_id", "target")


def q_host_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level web graph (`operators/weblinks.py`): outlinks
    resolved (relative links land on the <base>/page host) and
    canonicalized, reduced to (src_host, dst_host, n_links) with
    parallel edges weighted — ONE map-side-combined groupBy; feeds
    pagerank/degree_stats."""
    from hermes_spark.operators import host_link_graph

    pages = _linked_pages(spark, sf_dir)
    return host_link_graph(pages, "src_host", "html",
                           page_url_col="page_url")


_SQL_OUTLINKS_DOCS = """
WITH site AS (
  SELECT doc_id,
         'site' || (doc_id % 7)::VARCHAR || '.example.com/page/'
           || doc_id::VARCHAR || '?a=1&b=2' AS target
  FROM documents
),
relhost AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN 'baseb.example.net'
              ELSE 'host' || (doc_id % 5)::VARCHAR || '.example.org'
         END AS h,
         CASE WHEN doc_id % 4 = 0 THEN '/dir/up/' ELSE '/a/up/' END AS updir
  FROM documents
)
SELECT doc_id, target FROM site
UNION ALL
SELECT doc_id, target FROM site
UNION ALL
SELECT doc_id,
       'cdn' || (doc_id % 3)::VARCHAR || '.example.net:8080/asset.js'
FROM documents
UNION ALL
SELECT doc_id, 'un' || (doc_id % 2)::VARCHAR || '.example.com/u?z=9'
FROM documents
UNION ALL
SELECT doc_id, h || '/root/r' || (doc_id % 3)::VARCHAR FROM relhost
UNION ALL
SELECT doc_id, h || updir || (doc_id % 2)::VARCHAR || '.html' FROM relhost
"""

_SQL_HOST_LINK_GRAPH = """
WITH l AS (
  SELECT 'host' || (doc_id % 5)::VARCHAR || '.example.org' AS src_host,
         'site' || (doc_id % 7)::VARCHAR || '.example.com' AS dst_host,
         2 AS n
  FROM documents
  UNION ALL
  SELECT 'host' || (doc_id % 5)::VARCHAR || '.example.org',
         'cdn' || (doc_id % 3)::VARCHAR || '.example.net:8080', 1
  FROM documents
  UNION ALL
  SELECT 'host' || (doc_id % 5)::VARCHAR || '.example.org',
         'un' || (doc_id % 2)::VARCHAR || '.example.com', 1
  FROM documents
  UNION ALL
  SELECT 'host' || (doc_id % 5)::VARCHAR || '.example.org',
         CASE WHEN doc_id % 4 = 0 THEN 'baseb.example.net'
              ELSE 'host' || (doc_id % 5)::VARCHAR || '.example.org'
         END, 2
  FROM documents
)
SELECT src_host, dst_host, sum(n)::BIGINT AS n_links
FROM l GROUP BY src_host, dst_host
"""


_SQL_EMBED_STANDARDIZE = """
WITH e AS (
  SELECT vec_id, unnest(embedding) AS xf,
         unnest(range(0, len(embedding))) AS pos
  FROM embeddings
),
c AS (SELECT vec_id, pos, CAST(xf AS DOUBLE) AS x FROM e),
st AS (SELECT pos, avg(x) AS mean, stddev_samp(x) AS std FROM c GROUP BY pos),
z AS (SELECT c.vec_id,
             CASE WHEN coalesce(st.std, 0) > 0 THEN (c.x - st.mean) / st.std
                  ELSE 0.0 END AS z
      FROM c JOIN st USING (pos))
SELECT vec_id, count(*)::BIGINT AS n_dims, round(sum(z), 4) AS z_sum,
       round(min(z), 6) AS z_min, round(max(z), 6) AS z_max
FROM z GROUP BY vec_id
"""


_SQL_EVENT_TRANSITIONS = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS n_transitions
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
"""


_SQL_LENGTH_DECILES = """
WITH d AS (
  SELECT lang, n_chars,
         ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
  FROM documents
)
SELECT lang, decile::BIGINT AS decile, count(*)::BIGINT AS n_docs,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM d GROUP BY lang, decile
"""


def _sql_ivf_rescore_topk() -> str:
    cos = _cosine_sql("q2.qvec", "e.embedding")
    return f"""
WITH approx AS ({_sql_ivf_sq8_topk(RESCORE_SHORTLIST)}),
q2 AS (SELECT vec_id AS query_id, embedding AS qvec
       FROM embeddings WHERE vec_id < {ANN_QUERIES}),
rescored AS (
  SELECT a.query_id, a.vec_id, {cos} AS score
  FROM approx a
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN q2 ON q2.query_id = a.query_id
),
rr AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id)
           AS rank
  FROM rescored
)
SELECT query_id, vec_id, score, rank::BIGINT AS rank FROM rr
WHERE rank <= {ANN_K}
"""


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by normalized PMI over the document corpus
    (multi-word-expression mining for tokenizer/vocab design)."""
    from hermes_spark.operators import pmi_collocations

    docs = _read(spark, sf_dir, "documents")
    return pmi_collocations(
        docs, "doc_id", "text", k=PMI_TOPK, min_count=PMI_MIN_COUNT
    )


def q_scd2_lookup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension lookup: each order (shifted 40 days forward as
    the fact timestamp) joined to the customer's SCD2 version valid at
    that moment — the classic fact-to-slowly-changing-dimension join,
    done as a single-shuffle as-of instead of an interval range join."""
    from hermes_spark.operators.cdc import scd2_history, scd2_lookup

    changes = _orders_changelog(spark, sf_dir).filter(
        F.col("o_custkey") < 200
    ).drop("op")
    hist = scd2_history(changes, ["o_custkey"], "ts").select(
        "o_custkey",
        "valid_from",
        F.col("o_orderkey").alias("dim_orderkey"),
        F.col("o_totalprice").alias("dim_price"),
    )
    facts = _read(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200).select(
        "o_custkey",
        "o_orderkey",
        (
            F.col("o_orderdate").cast("timestamp_ntz")
            + F.expr(f"INTERVAL {SCD2_LOOKUP_OFFSET_DAYS} DAYS")
        ).alias("fts"),
    )
    return scd2_lookup(facts, hist, ["o_custkey"], "fts")


def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: per (event_type, day) rollup
    computed as old-state + new-batch merged partial aggregates (split
    at a ts cutoff) — must equal the direct full recompute the oracle
    does."""
    from hermes_spark.incremental import merge_rollup_states, rollup_state

    # Per-row quantization to integer "micros" (1e-4 grid) makes every
    # aggregate EXACT integer arithmetic: sums are order-independent,
    # so the incremental merge and the oracle's direct recompute agree
    # bit-for-bit with NO final rounding step.  (Two prior forms failed
    # at 4dp boundaries: round(raw_sum/n) flipped when the engines'
    # FP summation orders differed by ~1e-10, and round(rounded_sum/n)
    # made ties SYSTEMATIC — grid-number quotients land exactly on
    # .00005, where Spark's exact-decimal HALF_UP and DuckDB's
    # scaled-FP round disagree.  Integer quotients have no rounding
    # step to disagree on.)
    events = _read_events(spark, sf_dir).select(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("bucket"),
        F.round(F.col("value").cast("double") * 10000).cast("long").alias("value"),
    )
    cutoff = F.lit(INCR_ROLLUP_CUTOFF).cast("timestamp_ntz")
    keys = ["event_type", "bucket"]
    old_state = rollup_state(events.filter(F.col("bucket") < cutoff), keys, "value")
    new_batch = rollup_state(events.filter(F.col("bucket") >= cutoff), keys, "value")
    merged = merge_rollup_states([old_state, new_batch], keys)
    return merged.select(
        "event_type", "bucket", "n",
        (F.col("min_v") / 10000.0).alias("min_v"),
        (F.col("max_v") / 10000.0).alias("max_v"),
        (F.col("sum_v") / 10000.0).alias("sum_v_rounded"),
        (F.col("sum_v") / (10000.0 * F.col("n"))).alias("avg_v"),
    )


DQ_PRICE_HI = 300000.0
DQ_PRICE_MAX_RATE = 0.1


def q_data_quality_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report over orders: not-null and
    uniqueness on the keys, a price-range rule (deliberately tight so
    the rate is non-zero), and referential integrity against customer —
    all aggregate rules in one scan, the FK check as a broadcast
    anti-join."""
    from hermes_spark.operators import Rule, check_expectations

    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    return check_expectations(
        orders,
        [
            Rule.not_null("custkey_not_null", "o_custkey"),
            Rule.unique("orderkey_unique", "o_orderkey"),
            Rule.in_range(
                "price_range", "o_totalprice", 0.0, DQ_PRICE_HI,
                max_rate=DQ_PRICE_MAX_RATE,
            ),
            Rule.ref_integrity("custkey_ref", "o_custkey", customer, "c_custkey"),
        ],
    )


_SQL_DATA_QUALITY = f"""
WITH n AS (SELECT count(*)::BIGINT AS n FROM orders),
m AS (
  SELECT 'custkey_not_null' AS rule, 'not_null' AS kind, 'o_custkey' AS col,
         sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS v,
         0.0 AS mr
  FROM orders
  UNION ALL
  SELECT 'orderkey_unique', 'unique', 'o_orderkey',
         (count(o_orderkey) - count(DISTINCT o_orderkey))::BIGINT, 0.0
  FROM orders
  UNION ALL
  SELECT 'price_range', 'in_range', 'o_totalprice',
         sum(CASE WHEN o_totalprice IS NOT NULL
                   AND (o_totalprice < 0.0 OR o_totalprice > {DQ_PRICE_HI!r})
             THEN 1 ELSE 0 END)::BIGINT, {DQ_PRICE_MAX_RATE!r}
  FROM orders
  UNION ALL
  SELECT 'custkey_ref', 'ref_integrity', 'o_custkey',
         (SELECT count(*)::BIGINT FROM orders o
          WHERE o.o_custkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)), 0.0
)
SELECT rule, kind, col, n.n AS n_rows, m.v AS n_violations,
       round(CASE WHEN n.n > 0 THEN v::DOUBLE / n.n ELSE 0.0 END, 6)
         AS violation_rate,
       (round(CASE WHEN n.n > 0 THEN v::DOUBLE / n.n ELSE 0.0 END, 6)
         <= mr) AS passed
FROM m CROSS JOIN n
"""


def _sql_pmi_collocations() -> str:
    return f"""
WITH tok AS (SELECT {_TOKENS_SQL} AS t FROM documents),
uni AS (
  SELECT w, count(*)::BIGINT AS c
  FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w
),
bi AS (
  SELECT gram, count(*)::BIGINT AS pair_count
  FROM (SELECT unnest({_BIGRAMS_SQL}) AS gram FROM tok) GROUP BY gram
),
n1 AS (SELECT sum(c)::BIGINT AS n1 FROM uni),
n2 AS (SELECT sum(pair_count)::BIGINT AS n2 FROM bi),
cand AS (
  SELECT gram, pair_count,
         split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2
  FROM bi WHERE pair_count >= {PMI_MIN_COUNT}
),
scored AS (
  SELECT cand.gram, cand.pair_count,
         ln((cand.pair_count::DOUBLE / n2.n2::DOUBLE)
            / ((u1.c::DOUBLE / n1.n1::DOUBLE) * (u2.c::DOUBLE / n1.n1::DOUBLE))) AS pmi_raw,
         ln(cand.pair_count::DOUBLE / n2.n2::DOUBLE) AS lp_ab
  FROM cand
  JOIN uni u1 ON u1.w = cand.w1
  JOIN uni u2 ON u2.w = cand.w2
  CROSS JOIN n1 CROSS JOIN n2
),
r AS (
  SELECT gram, pair_count, round(pmi_raw, 6) AS pmi,
         round(pmi_raw / -lp_ab, 6) AS npmi
  FROM scored
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY npmi DESC, gram) AS rank FROM r
)
SELECT gram, pair_count, pmi, npmi, rank::BIGINT AS rank
FROM ranked WHERE rank <= {PMI_TOPK}
"""


_SQL_SCD2_LOOKUP = f"""
WITH log AS (
  SELECT o_custkey, o_orderdate::TIMESTAMP AS ts, o_orderkey, o_totalprice
  FROM orders WHERE o_custkey < 200
),
c AS (
  SELECT o_custkey, ts, o_orderkey, o_totalprice FROM (
    SELECT *, row_number() OVER (
      PARTITION BY o_custkey, ts
      ORDER BY ts DESC, o_orderkey DESC, o_totalprice DESC) AS rn
    FROM log) WHERE rn = 1
),
h AS (
  SELECT o_custkey, ts AS valid_from, lead(ts) OVER w AS valid_to,
         o_orderkey AS dim_orderkey, o_totalprice AS dim_price
  FROM c WINDOW w AS (PARTITION BY o_custkey ORDER BY ts)
),
facts AS (
  SELECT o_custkey, o_orderkey,
         o_orderdate::TIMESTAMP + INTERVAL {SCD2_LOOKUP_OFFSET_DAYS} DAY AS fts
  FROM orders WHERE o_custkey < 200
)
SELECT f.o_custkey, f.o_orderkey, f.fts, h.dim_orderkey, h.dim_price
FROM facts f LEFT JOIN h
  ON h.o_custkey = f.o_custkey
 AND h.valid_from <= f.fts
 AND (h.valid_to IS NULL OR f.fts < h.valid_to)
"""


_SQL_INCREMENTAL_ROLLUP = """
WITH q AS (
  SELECT event_type, date_trunc('day', ts) AS bucket,
         CAST(round(value::DOUBLE * 10000, 0) AS BIGINT) AS v
  FROM events
)
SELECT event_type, bucket, count(v)::BIGINT AS n,
       min(v) / 10000.0 AS min_v, max(v) / 10000.0 AS max_v,
       sum(v) / 10000.0 AS sum_v_rounded,
       sum(v) / (10000.0 * count(v)) AS avg_v
FROM q GROUP BY 1, 2
"""


def _sql_events_ewma() -> str:
    keep = 1.0 - EWMA_ALPHA
    return f"""
WITH b AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type,
         count(*)::BIGINT AS n_events
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM b),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds),
grp AS (SELECT DISTINCT event_type FROM events),
hourly AS (
  SELECT d.event_type, d.bucket, coalesce(b.n_events, 0)::BIGINT AS n_events
  FROM (SELECT s.bucket, g.event_type FROM spine s CROSS JOIN grp g) d
  LEFT JOIN b ON b.bucket = d.bucket AND b.event_type = d.event_type
),
rn AS (
  SELECT event_type, bucket, n_events,
         row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
  FROM hourly
)
SELECT a.event_type, a.bucket, a.n_events,
       round(sum(b.n_events::DOUBLE * pow({keep!r}::DOUBLE, a.rn - b.rn))
             / sum(pow({keep!r}::DOUBLE, a.rn - b.rn)), 4) AS ewma
FROM rn a JOIN rn b
  ON b.event_type = a.event_type AND b.rn BETWEEN a.rn - {EWMA_LOOKBACK - 1} AND a.rn
GROUP BY a.event_type, a.bucket, a.n_events
"""


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------


def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-20 fused with embedding-cosine top-20
    by reciprocal-rank fusion (k=60) — rank-only combination, no score
    calibration. With exactly two lists the fused score is one IEEE
    addition, so the result is aggregation-order independent."""
    from hermes_spark.operators import rrf_fuse
    from hermes_spark.operators.similarity import brute_force_cosine_topk
    from hermes_spark.operators.tfidf import bm25_scores

    docs = _read(spark, sf_dir, "documents")
    emb = _read(spark, sf_dir, "embeddings")
    lex = bm25_scores(docs, BM25_QUERY, k=BM25_K).select("doc_id", "rank")
    qvec = emb.filter(F.col("vec_id") == RRF_QUERY_VEC)
    sem = brute_force_cosine_topk(emb, qvec, k=BM25_K).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([lex, sem], "doc_id", k=RRF_K, top=RRF_TOP).select(
        "doc_id",
        F.col("n_lists").cast("long").alias("n_lists"),
        "rrf_score",
        "fused_rank",
    )


def _sql_hybrid_rrf() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    k1, b = 1.2, 0.75
    cos = _cosine_sql("q.embedding", "c.embedding")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS term
  FROM documents WHERE trim(text) != ''
),
tk AS (SELECT doc_id, term FROM toks WHERE term != ''),
doclen AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tk WHERE term IN ({terms}) GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
consts AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclen),
per_term AS (
  SELECT tf.doc_id,
    ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
      * tf * {k1 + 1.0} / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl)) AS s
  FROM tf JOIN dfreq USING (term) JOIN doclen USING (doc_id) CROSS JOIN consts
),
lexscore AS (SELECT doc_id, round(sum(s), 6) AS score FROM per_term GROUP BY doc_id),
lex AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
    FROM lexscore
  ) WHERE rank <= {BM25_K}
),
q AS (SELECT embedding FROM embeddings WHERE vec_id = {RRF_QUERY_VEC}),
semscore AS (
  SELECT c.vec_id AS doc_id, {cos} AS cosine FROM q CROSS JOIN embeddings c
),
sem AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank
    FROM semscore
  ) WHERE rank <= {BM25_K}
),
u AS (
  SELECT doc_id, rank FROM lex
  UNION ALL
  SELECT doc_id, rank FROM sem
),
fused AS (
  SELECT doc_id, count(*) AS n_lists,
         round(sum(1.0 / ({RRF_K} + rank)), 6) AS rrf_score
  FROM u GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, n_lists, rrf_score,
         row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS fused_rank
  FROM fused
)
SELECT doc_id, n_lists::BIGINT AS n_lists, rrf_score, fused_rank::BIGINT AS fused_rank
FROM ranked WHERE fused_rank <= {RRF_TOP}
"""


def q_logreg_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the quality classifier's logistic weights in-engine
    (label: lang == 'en') and return the per-iteration weight trace.
    The gradient is an exact int64 sum of 1e-6-quantized per-row
    contributions, so the trajectory is bit-identical across
    partitionings AND engines (see operators/logreg.py)."""
    from hermes_spark.operators import train_quality_weights, weights_trace_df

    docs = _read(spark, sf_dir, "documents")
    trace = train_quality_weights(
        docs, "text", F.col("lang") == "en", lr=LOGREG_LR, iters=LOGREG_ITERS
    )
    return weights_trace_df(spark, trace)


def _sql_logreg_quality_train() -> str:
    """Unrolled gradient-ascent CTE chain (same technique as the
    k-means/MMR oracles): iteration i's weights are a 1-row CTE
    computed from iteration i-1's, with every cross-engine-compared
    quantity either an exact int64 sum or a 6-dp round of identical
    IEEE arithmetic."""
    from hermes_spark.operators.classify import STOPWORDS

    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    lr = LOGREG_LR
    names = ["bias", "log_n_tokens", "mean_tok_len", "distinct_ratio", "stopword_ratio"]
    cols = ["b", "c1", "c2", "c3", "c4"]
    parts = [
        f"""WITH tok AS (
  SELECT lang, {_TOKENS_SQL} AS t,
         length(regexp_replace(text, '\\s', '', 'g')) AS ns
  FROM documents
),
feats AS (
  SELECT (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::DOUBLE AS y,
         round(ln(len(t) + 1.0), 6) AS x1,
         round(ns::DOUBLE / greatest(len(t), 1), 6) AS x2,
         round(len(list_distinct(t))::DOUBLE / greatest(len(t), 1), 6) AS x3,
         round(len(list_filter(t, x -> list_contains([{stop_list}], x)))::DOUBLE
               / greatest(len(t), 1), 6) AS x4
  FROM tok
),
w0(b, c1, c2, c3, c4) AS (
  VALUES (0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE)
)"""
    ]
    for i in range(1, LOGREG_ITERS + 1):
        prev = f"w{i - 1}"
        parts.append(
            f""",
p{i} AS (
  SELECT f.y, f.x1, f.x2, f.x3, f.x4,
         round(1.0 / (1.0 + exp(-(w.b + w.c1 * f.x1 + w.c2 * f.x2
               + w.c3 * f.x3 + w.c4 * f.x4))), 6) AS p
  FROM feats f CROSS JOIN {prev} w
),
g{i} AS (
  SELECT count(*) AS n,
         sum(CAST(round((y - p) * 1000000.0) AS BIGINT)) AS g0,
         sum(CAST(round((y - p) * x1 * 1000000.0) AS BIGINT)) AS g1,
         sum(CAST(round((y - p) * x2 * 1000000.0) AS BIGINT)) AS g2,
         sum(CAST(round((y - p) * x3 * 1000000.0) AS BIGINT)) AS g3,
         sum(CAST(round((y - p) * x4 * 1000000.0) AS BIGINT)) AS g4
  FROM p{i}
),
w{i}(b, c1, c2, c3, c4) AS (
  SELECT round(w.b + {lr!r} * g.g0 / (1000000.0 * g.n), 6),
         round(w.c1 + {lr!r} * g.g1 / (1000000.0 * g.n), 6),
         round(w.c2 + {lr!r} * g.g2 / (1000000.0 * g.n), 6),
         round(w.c3 + {lr!r} * g.g3 / (1000000.0 * g.n), 6),
         round(w.c4 + {lr!r} * g.g4 / (1000000.0 * g.n), 6)
  FROM g{i} g CROSS JOIN {prev} w
)"""
        )
    selects = []
    for i in range(LOGREG_ITERS + 1):
        for name, c in zip(names, cols):
            selects.append(
                f"SELECT {i}::BIGINT AS iteration, '{name}' AS weight, "
                f"{c}::DOUBLE AS value FROM w{i}"
            )
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def q_retrieval_eval_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close the retrieval evaluation loop IN-REGISTRY: score the IVF
    index's top-10 against exact brute-force truth — per-query
    recall@10 / MRR / nDCG@10, every float exact-integer-derived
    (1e-6-quantized DCG terms summed as int64)."""
    from hermes_spark.operators import ranking_metrics
    from hermes_spark.operators.similarity import (
        brute_force_cosine_topk,
        ivf_topk,
    )

    emb = _read(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < IVF_CENTROIDS).withColumnRenamed(
        "vec_id", "centroid_id"
    )
    qs = emb.filter(F.col("vec_id") < ANN_QUERIES)
    truth = brute_force_cosine_topk(emb, qs, k=ANN_K).select("query_id", "vec_id")
    system = ivf_topk(emb, centroids, qs, k=ANN_K).select(
        "query_id", "vec_id", "rank"
    )
    return ranking_metrics(
        system, truth, group_cols=["query_id"], item_col="vec_id"
    )


def _sql_retrieval_eval_ivf() -> str:
    """Metrics CTE over the existing brute-force and IVF oracle
    statements embedded as subqueries — the truth/system SQL is the
    byte-identical text already proven green for ``ann_cosine_topk``
    and ``ivf_topk``."""
    term = "CAST(round(1000000.0 / log2({r} + 1.0)) AS BIGINT)"
    return f"""
WITH truth AS (SELECT query_id, vec_id FROM ({_sql_ann_topk()})),
sys AS (SELECT query_id, vec_id, rank FROM ({_sql_ivf_topk()})),
relc AS (SELECT query_id, count(*) AS n_relevant FROM truth GROUP BY 1),
j AS (
  SELECT s.query_id, s.rank, (t.vec_id IS NOT NULL) AS hit
  FROM sys s LEFT JOIN truth t
    ON t.query_id = s.query_id AND t.vec_id = s.vec_id
),
perq AS (
  SELECT query_id, count(*) AS n_retrieved,
         sum(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS n_hit,
         min(CASE WHEN hit THEN rank END) AS first_hit,
         sum(CASE WHEN hit THEN {term.format(r="rank")} ELSE 0 END) AS dcg,
         max(rank) AS depth
  FROM j GROUP BY 1
),
m AS (
  -- FULL join: queries with results but no relevance judgments are
  -- kept with n_relevant = 0 (mirrors ranking_metrics' full-outer
  -- semantics, ranking.py:96-100)
  SELECT query_id, coalesce(r.n_relevant, 0) AS n_relevant,
         coalesce(p.n_retrieved, 0) AS n_retrieved,
         coalesce(p.n_hit, 0) AS n_hit, p.first_hit,
         coalesce(p.dcg, 0) AS dcg,
         coalesce(list_sum(list_transform(
           range(1, least(coalesce(r.n_relevant, 0),
                          coalesce(p.depth, 0)) + 1),
           x -> {term.format(r="x")})), 0) AS idcg
  FROM relc r FULL JOIN perq p USING (query_id)
)
SELECT query_id, n_relevant::BIGINT AS n_relevant,
       n_retrieved::BIGINT AS n_retrieved, n_hit::BIGINT AS n_hit,
       round(n_hit / greatest(n_relevant, 1)::DOUBLE, 6) AS recall_at_k,
       round(coalesce(1.0 / first_hit, 0.0), 6) AS mrr,
       round(dcg / greatest(idcg, 1)::DOUBLE, 6) AS ndcg_at_k
FROM m
"""


def q_edit_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-duplicate pairs on the normalized 40-char
    document prefix — prefix-blocked, length-pruned, exact distances
    (order-sensitive fuzzy matching the set-similarity joins can't
    express)."""
    from hermes_spark.operators import edit_distance_pairs

    docs = _read(spark, sf_dir, "documents")
    return edit_distance_pairs(
        docs,
        "doc_id",
        "text",
        max_distance=EDIT_MAX_DIST,
        prefix_len=EDIT_PREFIX,
        match_len=EDIT_MATCH_LEN,
        max_block_size=EDIT_MAX_BLOCK,
    )


def _sql_edit_near_pairs() -> str:
    """Mirror of edit_distance_pairs incl. the r7 salvage tier: members
    of over-cap primary blocks re-block on the extended prefix and the
    end-anchored suffix (DuckDB right() == Spark substring(-P, P),
    verified on short strings), pairs deduped across the two families."""
    return f"""
WITH k AS (
  SELECT doc_id,
         substring(regexp_replace(
                     lower(trim(substring(text, 1, {4 * EDIT_MATCH_LEN}))),
                     '\\s+', ' ', 'g'),
                   1, {EDIT_MATCH_LEN}) AS s
  FROM documents
),
k2 AS (SELECT doc_id, s FROM k WHERE length(s) > 0),
b AS (SELECT doc_id, s, substring(s, 1, {EDIT_PREFIX}) AS blk FROM k2),
sizes AS (SELECT blk, count(*) AS n FROM b GROUP BY 1),
ok AS (
  SELECT b.* FROM b JOIN sizes USING (blk)
  WHERE n BETWEEN 2 AND {EDIT_MAX_BLOCK}
),
pairs1 AS (
  SELECT a.doc_id AS id_a, c.doc_id AS id_b, levenshtein(a.s, c.s) AS distance
  FROM ok a JOIN ok c
    ON a.blk = c.blk AND a.doc_id < c.doc_id
   AND abs(length(a.s) - length(c.s)) <= {EDIT_MAX_DIST}
),
residue AS (
  SELECT b.doc_id, b.s FROM b JOIN sizes USING (blk)
  WHERE n > {EDIT_MAX_BLOCK}
),
skeys AS (
  SELECT doc_id, s, 'p|' || substring(s, 1, {2 * EDIT_PREFIX}) AS sk FROM residue
  UNION ALL
  SELECT doc_id, s, 's|' || right(s, {EDIT_PREFIX}) AS sk FROM residue
),
ssizes AS (SELECT sk, count(*) AS n FROM skeys GROUP BY 1),
sok AS (
  SELECT skeys.* FROM skeys JOIN ssizes USING (sk)
  WHERE n BETWEEN 2 AND {EDIT_MAX_BLOCK}
),
pairs2 AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
         levenshtein(a.s, c.s) AS distance
  FROM sok a JOIN sok c
    ON a.sk = c.sk AND a.doc_id < c.doc_id
   AND abs(length(a.s) - length(c.s)) <= {EDIT_MAX_DIST}
)
SELECT id_a, id_b, distance::BIGINT AS distance
FROM pairs1 WHERE distance <= {EDIT_MAX_DIST}
UNION ALL
SELECT id_a, id_b, distance::BIGINT AS distance
FROM pairs2 WHERE distance <= {EDIT_MAX_DIST}
"""


def q_lm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-corpus LM filter: train a capped-vocab bigram
    LM on the even-doc_id half of `documents`, score the odd half with
    add-1/2 smoothing, bucket into head/middle/tail by perplexity
    (operators/lm.py). Every log term 1e-6-quantized and int64-summed;
    bucket order keys on the already-rounded output value."""
    from hermes_spark.operators import lm_score, lm_train, perplexity_ntile

    docs = _read(spark, sf_dir, "documents")
    lm = lm_train(
        docs.filter(F.col("doc_id") % 2 == 0), vocab_size=LM_VOCAB
    )
    scored = lm_score(
        docs.filter(F.col("doc_id") % 2 == 1),
        lm,
        k_num=LM_K_NUM,
        k_den=LM_K_DEN,
        broadcast_model=True,
    )
    return perplexity_ntile(scored)


def _sql_lm_perplexity_buckets() -> str:
    """Mirror of q_lm_perplexity_buckets: identical vocab tie-break,
    OOV collapse, exact-integer smoothing ratio, 1e-6 term grid."""
    return f"""
WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
tg AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
trt AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM tr WHERE trim(lower(text)) <> ''
),
vocab AS (
  SELECT term FROM (
    SELECT term, count(*) AS cnt FROM trt WHERE term <> '' GROUP BY 1
  ) ORDER BY cnt DESC, term ASC LIMIT {LM_VOCAB}
),
nv AS (SELECT count(*) AS v FROM vocab),
tr_toks AS (
  SELECT doc_id, unnest(lst) AS term, unnest(range(1, len(lst) + 1)) AS pos
  FROM (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS lst
    FROM tr WHERE trim(lower(text)) <> ''
  )
),
tr_mapped AS (
  SELECT t.doc_id, t.pos,
         CASE WHEN v.term IS NOT NULL THEN t.term ELSE '<unk>' END AS term
  FROM tr_toks t LEFT JOIN vocab v ON t.term = v.term
  WHERE t.term <> ''
),
tr_bg AS (
  SELECT doc_id, prev, cur FROM (
    SELECT doc_id,
           lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
           term AS cur
    FROM tr_mapped
  ) WHERE prev IS NOT NULL
),
bc AS (SELECT prev, cur, count(*) AS cnt FROM tr_bg GROUP BY 1, 2),
cc AS (SELECT prev, count(*) AS ctx_cnt FROM tr_bg GROUP BY 1),
tg_toks AS (
  SELECT doc_id, unnest(lst) AS term, unnest(range(1, len(lst) + 1)) AS pos
  FROM (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS lst
    FROM tg WHERE trim(lower(text)) <> ''
  )
),
tg_mapped AS (
  SELECT t.doc_id, t.pos,
         CASE WHEN v.term IS NOT NULL THEN t.term ELSE '<unk>' END AS term
  FROM tg_toks t LEFT JOIN vocab v ON t.term = v.term
  WHERE t.term <> ''
),
tg_bg AS (
  SELECT doc_id, prev, cur FROM (
    SELECT doc_id,
           lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
           term AS cur
    FROM tg_mapped
  ) WHERE prev IS NOT NULL
),
terms AS (
  SELECT g.doc_id,
         CAST(round(ln(
           ({LM_K_DEN} * coalesce(bc.cnt, 0) + {LM_K_NUM})::DOUBLE
           / ({LM_K_DEN} * coalesce(cc.ctx_cnt, 0)
              + {LM_K_NUM} * (nv.v + 1))::DOUBLE
         ) * 1000000.0) AS BIGINT) AS t
  FROM tg_bg g
  LEFT JOIN bc ON g.prev = bc.prev AND g.cur = bc.cur
  LEFT JOIN cc ON g.prev = cc.prev
  CROSS JOIN nv
),
scored AS (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         round(sum(t) / (1000000.0 * count(*)), 6) AS avg_logprob
  FROM terms GROUP BY 1
)
SELECT doc_id, n_bigrams, avg_logprob,
       CASE ntile(3) OVER (ORDER BY avg_logprob DESC, doc_id ASC)
         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS ppl_bucket
FROM scored
"""


def q_chat_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT conversation-format audit (operators/chatformat.py):
    documents are split on '.' into turn fragments with the role
    derived from fragment-length parity (odd -> user), then
    conversation_stats computes the structural flags the SFT loader
    gates on — all per-row higher-order array expressions, zero
    shuffles."""
    from hermes_spark.operators import conversation_stats

    docs = _read(spark, sf_dir, "documents")
    # the synthetic corpus has no sentence punctuation, so split on the
    # frequent token 'the' to get genuinely multi-turn conversations
    frags = F.filter(
        F.transform(
            F.split(F.col("text"), r"\s+the\s+"), lambda s: F.trim(s)
        ),
        lambda s: s != "",
    )
    turns = F.transform(
        frags,
        lambda s: F.struct(
            F.when(F.length(s) % 2 == 1, F.lit("user"))
            .otherwise(F.lit("assistant"))
            .alias("role"),
            s.alias("content"),
        ),
    )
    return conversation_stats(docs.select("doc_id", turns.alias("turns")))


def _sql_chat_stats_docs() -> str:
    return """
WITH base AS (
  SELECT doc_id,
         list_filter(list_transform(string_split_regex(text, '\\s+the\\s+'),
                                    s -> trim(s)), s -> s <> '') AS frags
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(frags) AS content,
         unnest(range(1, len(frags) + 1)) AS p
  FROM base
),
r AS (
  SELECT doc_id, p, content,
         CASE WHEN length(content) % 2 = 1 THEN 'user'
              ELSE 'assistant' END AS role,
         len(regexp_split_to_array(content, '\\s+'))::BIGINT AS toks
  FROM pos
),
adj AS (
  SELECT *, lag(role) OVER (PARTITION BY doc_id ORDER BY p) AS prev_role
  FROM r
),
agg AS (
  SELECT doc_id,
         count(*)::BIGINT AS n_turns,
         bool_or(p = 1 AND role = 'user') AS starts_with_user,
         max(p) AS last_p,
         bool_and(prev_role IS NULL OR role <> prev_role) AS adj_ok,
         sum(CASE WHEN role = 'assistant' THEN toks ELSE 0 END)::BIGINT
           AS assistant_tokens,
         sum(toks)::BIGINT AS total_tokens
  FROM adj GROUP BY doc_id
),
lastrole AS (
  SELECT a.doc_id, r.role AS last_role
  FROM agg a JOIN r ON r.doc_id = a.doc_id AND r.p = a.last_p
),
j AS (
  SELECT b.doc_id,
         coalesce(a.n_turns, 0) AS n_turns,
         coalesce(a.starts_with_user, false) AS starts_with_user,
         coalesce(l.last_role = 'assistant', false) AS ends_with_assistant,
         CASE WHEN coalesce(a.n_turns, 0) <= 1
              THEN coalesce(a.n_turns, 0) = 1
              ELSE a.adj_ok END AS alternates,
         true AS all_nonempty,  -- empty fragments dropped upstream
         coalesce(a.assistant_tokens, 0) AS assistant_tokens,
         coalesce(a.total_tokens, 0) AS total_tokens
  FROM base b
  LEFT JOIN agg a USING (doc_id) LEFT JOIN lastrole l ON l.doc_id = b.doc_id
)
SELECT doc_id, n_turns, starts_with_user, ends_with_assistant, alternates,
       all_nonempty, assistant_tokens, total_tokens,
       round(assistant_tokens / greatest(total_tokens, 1)::DOUBLE, 6)
         AS assistant_share,
       (starts_with_user AND ends_with_assistant AND alternates
        AND all_nonempty AND n_turns >= 2) AS well_formed
FROM j
"""


# Frozen BPE merge table: bpe_train_merges on sf0.001 even doc_ids,
# num_merges=100, max_words=10000 (tools/freeze_bpe_merges.py) — the r5
# pq_topk train/search split applied to BPE.  Training (iterative
# argmax-merge, not SQL-expressible) runs once offline and is pinned by
# tests/test_bpe.py; the deterministic greedy ENCODE over this table is
# the registry-checked stage, with an exact recursive-CTE oracle.
BPE_FROZEN_MERGES: "list[tuple[str, str]]" = [
    ('e', 'r'),
    ('e', '</w>'),
    ('t', '</w>'),
    ('o', 'r'),
    ('n', '</w>'),
    ('o', 'w'),
    ('ow', '</w>'),
    ('er', '</w>'),
    ('l', 'u'),
    ('i', 'n'),
    ('a', 's'),
    ('y', '</w>'),
    ('a', 'r'),
    ('p', 'ar'),
    ('g', '</w>'),
    ('a', '</w>'),
    ('a', 't'),
    ('h', '</w>'),
    ('s', 't'),
    ('d', 'er</w>'),
    ('or', 'der</w>'),
    ('d', 'ow</w>'),
    ('in', 'dow</w>'),
    ('w', 'indow</w>'),
    ('par', 't</w>'),
    ('or', 't</w>'),
    ('s', 'ort</w>'),
    ('c', 'o'),
    ('co', 'lu'),
    ('colu', 'm'),
    ('colum', 'n</w>'),
    ('p', '</w>'),
    ('u', 'p</w>'),
    ('as', 't</w>'),
    ('f', 'ast</w>'),
    ('er', 'g'),
    ('erg', 'e</w>'),
    ('m', 'erge</w>'),
    ('a', 'lu'),
    ('alu', 'e</w>'),
    ('v', 'alue</w>'),
    ('a', 'n</w>'),
    ('c', 'an</w>'),
    ('s', 'can</w>'),
    ('e', 'y</w>'),
    ('k', 'ey</w>'),
    ('g', 'r'),
    ('gr', 'o'),
    ('gro', 'up</w>'),
    ('a', 'g'),
    ('ag', 'g</w>'),
    ('i', 'n</w>'),
    ('j', 'o'),
    ('jo', 'in</w>'),
    ('in', 'e</w>'),
    ('l', 'ine</w>'),
    ('b', 'i'),
    ('bi', 'g</w>'),
    ('er', 'y</w>'),
    ('q', 'u'),
    ('qu', 'ery</w>'),
    ('r', 'ow</w>'),
    ('as', 'h</w>'),
    ('at', 'a</w>'),
    ('d', 'ata</w>'),
    ('h', 'ash</w>'),
    ('f', 'i'),
    ('fi', 'l'),
    ('fil', 't'),
    ('filt', 'er</w>'),
    ('a', 'm'),
    ('am', '</w>'),
    ('e', 'am</w>'),
    ('r', 'eam</w>'),
    ('st', 'ream</w>'),
    ('l', 'ow</w>'),
    ('s', 'low</w>'),
    ('a', 'l'),
    ('al', 'l'),
    ('all', '</w>'),
    ('m', 'all</w>'),
    ('s', 'mall</w>'),
    ('c', 't'),
    ('ct', 'or'),
    ('ctor', '</w>'),
    ('e', 'ctor</w>'),
    ('v', 'ector</w>'),
    ('at', 'c'),
    ('atc', 'h</w>'),
    ('b', 'atch</w>'),
    ('a', 'b'),
    ('ab', 'l'),
    ('abl', 'e</w>'),
    ('k', '</w>'),
    ('par', 'k</w>'),
    ('s', 'park</w>'),
    ('t', 'able</w>'),
    ('c', 'u'),
    ('cu', 'st'),
    ('cust', 'o'),
]


def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy BPE encode over the FROZEN merge table (operators/bpe.py
    bpe_encode, Arrow-batched): per odd-doc_id document, the full piece
    sequence (space-joined — pieces never contain whitespace) and the
    piece count.  Value-hash pins the exact encode, not just counts.
    Successor of the rows-only bpe_token_stats (VERDICT r7 item 4):
    with training frozen offline, the checked stage is deterministic
    and the DuckDB oracle replays the merge loop as a recursive CTE."""
    from hermes_spark.operators import bpe_encode

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    enc = bpe_encode(docs, list(BPE_FROZEN_MERGES))
    return enc.select(
        "doc_id",
        "n_pieces",
        F.concat_ws(" ", "pieces").alias("pieces_str"),
    )


def _sql_bpe_encode_stats() -> str:
    """Recursive-CTE greedy BPE encode: per distinct word, start from
    characters + '</w>' and repeatedly merge the FIRST lowest-rank
    adjacent pair (list_position returns the first min index — the same
    tie-break as _encode_word's strict-< scan), until no pair has a
    rank.  Fuzz-verified against operators/bpe.py::_encode_word."""
    big = 999_999_999
    assert len(BPE_FROZEN_MERGES) < big
    vals = ", ".join(
        "('{}','{}',{})".format(a.replace("'", "''"), b.replace("'", "''"), r)
        for r, (a, b) in enumerate(BPE_FROZEN_MERGES)
    )
    # Python-ASCII \s (the encode kernel's word splitter, re.ASCII)
    ws = r"[ \t\n\f\r\x0b]"
    return rf"""
WITH RECURSIVE
ranks AS (SELECT * FROM (VALUES {vals}) t(a, b, r)),
rmap AS (SELECT map(list(a || ' ' || b), list(r)) AS m FROM ranks),
docs AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{ws}+'),
                     w -> w <> '') AS lst
  FROM documents WHERE doc_id % 2 = 1
),
toks AS (
  SELECT doc_id, u.i AS pos, u.w AS word
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(lst) + 1),
                  i -> struct_pack(i := i, w := lst[i]))) AS u
    FROM docs
  )
),
words AS (SELECT DISTINCT word FROM toks),
base AS (
  SELECT word, list_append(regexp_extract_all(word, '.'), '</w>') AS syms
  FROM words
),
enc AS (
  SELECT word, syms FROM base
  UNION ALL
  SELECT word, syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:]
  FROM (
    SELECT word, syms,
           list_transform(range(1, len(syms)),
                          i -> coalesce(m[syms[i] || ' ' || syms[i+1]][1],
                                        {big})) AS rk
    FROM enc, rmap WHERE len(syms) > 1
  ), LATERAL (SELECT list_position(rk, list_min(rk)) AS bi)
  WHERE list_min(rk) < {big}
),
done AS (
  SELECT word, syms FROM enc, rmap
  WHERE len(syms) = 1 OR list_min(
      list_transform(range(1, len(syms)),
                     i -> coalesce(m[syms[i] || ' ' || syms[i+1]][1],
                                   {big}))) = {big}
),
per_doc AS (
  SELECT t.doc_id,
         sum(len(d.syms))::BIGINT AS n_pieces,
         string_agg(array_to_string(d.syms, ' '), ' ' ORDER BY t.pos)
           AS pieces_str
  FROM toks t JOIN done d USING (word)
  GROUP BY 1
)
SELECT doc_id,
       coalesce(p.n_pieces, 0) AS n_pieces,
       coalesce(p.pieces_str, '') AS pieces_str
FROM docs LEFT JOIN per_doc p USING (doc_id)
"""


CMIP_DEPTH = 3
CMIP_WIDTH = 65536


def q_join_size_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-predicted join cardinality (operators/sketch.py
    cms_inner_product): estimate |orders JOIN lineitem ON orderkey|
    from two count-min states without scanning either table at
    estimate time, alongside the exact size — the broadcast-vs-shuffle
    planning signal at 100 TB. Integer-exact, bit-reproducible."""
    from hermes_spark.operators.sketch import cms_inner_product, cms_state

    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    # round 13: the round-12 localCheckpoint of the states measured a
    # LOSS on the interleaved A/B (3.50 vs 2.74 s median at sf0.1) and
    # the driver scored it regressed — the double read of each state is
    # cheaper than the checkpoint materialization barrier here
    sa = cms_state(orders, "o_orderkey", depth=CMIP_DEPTH, width=CMIP_WIDTH)
    sb = cms_state(li, "l_orderkey", depth=CMIP_DEPTH, width=CMIP_WIDTH)
    est = cms_inner_product(sa, sb, depth=CMIP_DEPTH)
    exact = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .agg(F.count(F.lit(1)).cast("long").alias("exact_size"))
    )
    return est.crossJoin(exact).select(
        "join_size_est",
        "exact_size",
        F.round(
            F.col("join_size_est") / F.col("exact_size").cast("double"), 4
        ).alias("ratio"),
    )


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher Appendix-A REPETITION rules (operators/gopher.py
    gopher_repetition_flags): duplicate-line fraction + char fraction,
    top-{2,3,4}-gram char share, duplicate-{5..10}-gram char fraction,
    and the keep conjunction — the machine-generated-text signals.
    ZERO-shuffle: an Arrow-batched mapInPandas kernel emits the exact
    integer gram statistics per document (plan-asserted by
    test_repetition_flags_zero_shuffle); fractions/rounding/thresholds
    stay JVM-side."""
    from hermes_spark.operators import gopher_repetition_flags

    docs = _read(spark, sf_dir, "documents")
    return gopher_repetition_flags(docs, "doc_id", "text")


def _sql_gopher_repetition() -> str:
    from hermes_spark.operators import (
        GOPHER_DUP_NGRAM_MAX,
        GOPHER_TOP_NGRAM_MAX,
    )

    top_ns = sorted(GOPHER_TOP_NGRAM_MAX)
    dup_ns = sorted(GOPHER_DUP_NGRAM_MAX)
    all_ns = sorted(set(top_ns) | set(dup_ns))
    wide_cols = []
    for n in top_ns:
        wide_cols.append(
            f"max(CASE WHEN n = {n} THEN top_chars END) AS top{n}"
        )
    for n in dup_ns:
        wide_cols.append(
            f"max(CASE WHEN n = {n} THEN chars_dup END) AS dup{n}"
        )
    out_cols, keeps = [], [
        "round(coalesce(dlf, 0), 6) <= 0.30",
        "round(coalesce(dlcf, 0), 6) <= 0.20",
        "round(coalesce(dpf, 0), 6) <= 0.30",
        "round(coalesce(dpcf, 0), 6) <= 0.20",
    ]
    for n in top_ns:
        out_cols.append(
            f"round(coalesce(top{n} / greatest(tc, 1.0), 0), 6)"
            f" AS top_{n}gram_char_frac"
        )
        keeps.append(
            f"round(coalesce(top{n} / greatest(tc, 1.0), 0), 6)"
            f" <= {GOPHER_TOP_NGRAM_MAX[n]}"
        )
    for n in dup_ns:
        out_cols.append(
            f"round(least(1.0, coalesce(dup{n} / greatest(tc, 1.0), 0)), 6)"
            f" AS dup_{n}gram_char_frac"
        )
        keeps.append(
            f"round(least(1.0, coalesce(dup{n} / greatest(tc, 1.0), 0)), 6)"
            f" <= {GOPHER_DUP_NGRAM_MAX[n]}"
        )
    # Explicit whitespace class = Python-ASCII \s (what the Arrow
    # kernel uses), INCLUDING vertical tab \x0b which RE2's \s
    # excludes — both engines must share one class or line/paragraph
    # /token edges diverge on \v-containing text.
    ws = r"[ \t\n\f\r\x0b]"
    return rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '{ws}+'),
                     t -> t <> '') AS t
  FROM documents
),
lns AS (
  -- line/paragraph edges strip the FULL Python-\s class (DuckDB
  -- trim() is space-only and would score 'aa' vs 'aa<tab>' as
  -- distinct lines)
  SELECT doc_id, 0 AS n, regexp_replace(l, '^{ws}+|{ws}+$', '', 'g') AS g
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
        FROM documents)
  WHERE regexp_replace(l, '^{ws}+|{ws}+$', '', 'g') <> ''
),
paras AS (
  SELECT doc_id, -1 AS n, regexp_replace(p, '^{ws}+|{ws}+$', '', 'g') AS g
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(text, '\n{ws}*\n')) AS p
        FROM documents)
  WHERE regexp_replace(p, '^{ws}+|{ws}+$', '', 'g') <> ''
),
grams AS (
  SELECT doc_id, n,
         unnest(list_transform(range(1, len(t) - n + 2),
                i -> array_to_string(t[i:i+n-1], ' '))) AS g
  FROM toks CROSS JOIN (SELECT unnest({list(all_ns)}) AS n)
),
elems AS (SELECT * FROM lns UNION ALL SELECT * FROM paras
          UNION ALL SELECT * FROM grams),
counts AS (
  SELECT doc_id, n, g, count(*)::BIGINT AS c FROM elems GROUP BY 1, 2, 3
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, n
                               ORDER BY c DESC, g ASC) AS rk
  FROM counts
),
per AS (
  SELECT doc_id, n, sum(c) AS tot, count(*) AS uniq,
         sum(c * length(g)) AS chars_all,
         sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS chars_dup,
         max(CASE WHEN rk = 1 THEN c * length(g) END) AS top_chars
  FROM ranked GROUP BY 1, 2
),
wide AS (
  SELECT doc_id,
         max(CASE WHEN n = 0 THEN (tot - uniq) / tot::DOUBLE END) AS dlf,
         max(CASE WHEN n = 0 THEN chars_dup / chars_all::DOUBLE END) AS dlcf,
         max(CASE WHEN n = -1 THEN (tot - uniq) / tot::DOUBLE END) AS dpf,
         max(CASE WHEN n = -1 THEN chars_dup / chars_all::DOUBLE END) AS dpcf,
         {", ".join(wide_cols)}
  FROM per GROUP BY 1
),
denom AS (
  SELECT doc_id, length(array_to_string(t, ' '))::DOUBLE AS tc FROM toks
)
SELECT d.doc_id,
       round(coalesce(dlf, 0), 6) AS dup_line_frac,
       round(coalesce(dlcf, 0), 6) AS dup_line_char_frac,
       round(coalesce(dpf, 0), 6) AS dup_para_frac,
       round(coalesce(dpcf, 0), 6) AS dup_para_char_frac,
       {", ".join(out_cols)},
       ({" AND ".join(keeps)}) AS keep
FROM denom d LEFT JOIN wide w ON w.doc_id = d.doc_id
"""


BLOOM_ROW_BYTES = 100.0
BLOOM_PROBE_NS = 60.0
BLOOM_NET_NS = 5.0


def q_bloom_engage_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefilter engagement decision in its zero-scan CMS mode
    (operators/sketch.py bloom_join_decision): selectivity of
    lineitem ⋈ small-parts from two count-min states via the inner
    product, then the per-row cost inequality under the local
    (0 ns/byte) and a 5 ns/byte cluster model. The engage booleans come
    from the FUNCTION (IEEE-double arithmetic mirrored exactly by the
    oracle); the float display columns are Spark-rounded from the same
    exact integers so both engines hash identically."""
    from hermes_spark.operators.sketch import (
        bloom_join_decision,
        cms_state,
    )

    li = _read(spark, sf_dir, "lineitem")
    small = _read(spark, sf_dir, "part").filter(F.col("p_size") <= 2)
    bs = cms_state(li, "l_partkey", depth=CMIP_DEPTH, width=CMIP_WIDTH)
    ss = cms_state(
        small.select("p_partkey").distinct(),
        "p_partkey",
        depth=CMIP_DEPTH,
        width=CMIP_WIDTH,
    )
    d_local = bloom_join_decision(
        li, small, "l_partkey", big_state=bs, small_state=ss,
        row_bytes=BLOOM_ROW_BYTES, probe_cost_ns_per_row=BLOOM_PROBE_NS,
        shuffle_cost_ns_per_byte=0.0,
    )
    d_net = bloom_join_decision(
        li, small, "l_partkey", big_state=bs, small_state=ss,
        row_bytes=BLOOM_ROW_BYTES, probe_cost_ns_per_row=BLOOM_PROBE_NS,
        shuffle_cost_ns_per_byte=BLOOM_NET_NS,
    )
    schema = StructType([
        StructField("big_rows", LongType()),
        StructField("matched_big_rows_est", LongType()),
        StructField("small_distinct", LongType()),
        StructField("engage_local", BooleanType()),
        StructField("engage_cluster", BooleanType()),
    ])
    base = spark.createDataFrame(
        [(
            d_local["big_rows"],
            d_local["matched_big_rows_est"],
            d_local["small_distinct_est"],
            bool(d_local["engage"]),
            bool(d_net["engage"]),
        )],
        schema,
    )
    sel = F.least(
        F.lit(1.0), F.col("matched_big_rows_est") / F.col("big_rows").cast("double")
    )
    return base.select(
        "big_rows",
        "matched_big_rows_est",
        "small_distinct",
        F.round(sel, 6).alias("selectivity_est"),
        F.round((F.lit(1.0) - sel) * BLOOM_ROW_BYTES * BLOOM_NET_NS, 2).alias(
            "saved_cluster_ns_per_row"
        ),
        "engage_local",
        "engage_cluster",
    )


def _sql_bloom_engage_cms() -> str:
    d, w = CMIP_DEPTH, CMIP_WIDTH

    def hb(key: str) -> str:
        return (
            f"('0x' || substring(md5('cms' || r || '|' || CAST({key} AS VARCHAR)), 1, 15))"
            f"::BIGINT % {w}"
        )

    return f"""
WITH rows_r AS (SELECT unnest(range({d})) AS r),
bs AS (
  SELECT r, {hb("l_partkey")} AS b, count(*)::BIGINT AS cnt
  FROM lineitem CROSS JOIN rows_r WHERE l_partkey IS NOT NULL GROUP BY 1, 2
),
sk AS (SELECT DISTINCT p_partkey FROM part WHERE p_size <= 2
       AND p_partkey IS NOT NULL),
ss AS (
  SELECT r, {hb("p_partkey")} AS b, count(*)::BIGINT AS cnt
  FROM sk CROSS JOIN rows_r GROUP BY 1, 2
),
pr AS (
  SELECT bs.r, sum(bs.cnt * ss.cnt) AS p
  FROM bs JOIN ss ON bs.r = ss.r AND bs.b = ss.b GROUP BY 1
),
nums AS (
  SELECT
    (SELECT sum(cnt) FROM bs WHERE r = 0)::BIGINT AS big_rows,
    (SELECT min(coalesce(p, 0))::BIGINT
     FROM rows_r LEFT JOIN pr USING (r)) AS matched_big_rows_est,
    (SELECT sum(cnt) FROM ss WHERE r = 0)::BIGINT AS small_distinct
),
calc AS (
  SELECT *, least(1.0, matched_big_rows_est / big_rows::DOUBLE) AS sel_raw
  FROM nums
)
SELECT big_rows, matched_big_rows_est, small_distinct,
       round(sel_raw, 6) AS selectivity_est,
       round(((1.0 - sel_raw) * {BLOOM_ROW_BYTES}) * {BLOOM_NET_NS}, 2)
         AS saved_cluster_ns_per_row,
       (((1.0 - sel_raw) * {BLOOM_ROW_BYTES}) * 0.0 > {BLOOM_PROBE_NS})
         AS engage_local,
       (((1.0 - sel_raw) * {BLOOM_ROW_BYTES}) * {BLOOM_NET_NS} > {BLOOM_PROBE_NS})
         AS engage_cluster
FROM calc
"""


def _sql_join_size_cms() -> str:
    d, w = CMIP_DEPTH, CMIP_WIDTH

    def hb(key: str) -> str:
        return (
            f"('0x' || substring(md5('cms' || r || '|' || CAST({key} AS VARCHAR)), 1, 15))"
            f"::BIGINT % {w}"
        )

    return f"""
WITH rows_r AS (SELECT unnest(range({d})) AS r),
sa AS (
  SELECT r, {hb("o_orderkey")} AS b, count(*)::BIGINT AS cnt
  FROM orders CROSS JOIN rows_r WHERE o_orderkey IS NOT NULL GROUP BY 1, 2
),
sb AS (
  SELECT r, {hb("l_orderkey")} AS b, count(*)::BIGINT AS cnt
  FROM lineitem CROSS JOIN rows_r WHERE l_orderkey IS NOT NULL GROUP BY 1, 2
),
pr AS (
  SELECT sa.r, sum(sa.cnt * sb.cnt) AS p
  FROM sa JOIN sb ON sa.r = sb.r AND sa.b = sb.b GROUP BY 1
),
est AS (
  SELECT min(coalesce(p, 0))::BIGINT AS join_size_est
  FROM rows_r LEFT JOIN pr USING (r)
),
ex AS (
  SELECT count(*)::BIGINT AS exact_size
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)
SELECT join_size_est, exact_size,
       round(join_size_est / exact_size::DOUBLE, 4) AS ratio
FROM est CROSS JOIN ex
"""


def q_clean_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-repair pass (functions/clean.py): inject deterministic
    cp1252 mojibake + NBSP + zero-width + control-char damage into
    every document, run clean_text, and verify the repair restored the
    intended text exactly — per-row expressions only, zero shuffle."""
    from hermes_spark.functions.clean import clean_text, damage_stats

    docs = _read(spark, sf_dir, "documents")
    corrupted = F.concat(
        F.replace(F.col("text"), F.lit(" the "), F.lit(" theâ€™ ")),
        F.lit("\u00A0tail\u200B\u0007"),
    )
    expected = F.concat(
        F.replace(F.col("text"), F.lit(" the "), F.lit(" the’ ")),
        F.lit(" tail"),
    )
    st = damage_stats(corrupted)
    return docs.select(
        "doc_id",
        st["changed"].alias("changed"),
        st["len_before"].alias("len_before"),
        st["len_after"].alias("len_after"),
        (clean_text(corrupted) == expected).alias("restored"),
    )


def _sql_clean_text_docs() -> str:
    """Mirror: the same replace chain generated from MOJIBAKE_MAP and
    the same character-class regexes, so oracle and operator share one
    source of truth."""
    from hermes_spark.functions.clean import (
        _CONTROL_CLASS,
        _SPACE_CLASS,
        _ZERO_WIDTH_CLASS,
        MOJIBAKE_MAP,
    )

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    cleaned = "corrupted"
    for bad, good in MOJIBAKE_MAP:
        cleaned = f"replace({cleaned}, {q(bad)}, {q(good)})"
    cleaned = f"regexp_replace({cleaned}, {q(_CONTROL_CLASS)}, '', 'g')"
    cleaned = f"regexp_replace({cleaned}, {q(_SPACE_CLASS)}, ' ', 'g')"
    cleaned = f"regexp_replace({cleaned}, {q(_ZERO_WIDTH_CLASS)}, '', 'g')"
    return f"""
WITH c AS (
  SELECT doc_id,
         replace(text, ' the ', ' theâ€™ ')
           || chr(160) || 'tail' || chr(8203) || chr(7) AS corrupted,
         replace(text, ' the ', ' the’ ') || ' tail' AS expected
  FROM documents
),
r AS (SELECT doc_id, corrupted, expected, {cleaned} AS cleaned FROM c)
SELECT doc_id,
       (cleaned <> corrupted) AS changed,
       length(corrupted)::BIGINT AS len_before,
       length(cleaned)::BIGINT AS len_after,
       (cleaned = expected) AS restored
FROM r
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: dataset comparison diff."""
    return q_compare_diff(spark, "/root/testdata/sf0.001")


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE on ordering: the driver's correctness harness oracle-checks
    # the FIRST 50 entries of queries().  The authoritative window order
    # lives in _WINDOW_ORDER below (applied by queries()); this dict's
    # own order no longer matters.  Regenerate _WINDOW_ORDER each round
    # with tools/rotate_window.py after the driver drops the new
    # CORRECTNESS file.
    return {
        # -- round-6 sketch additions (never verified by definition)
        # -- round-10 consolidation: six merged entries, each replacing
        #    the two near-duplicate rows named in its docstring
        "entropy_stats": q_entropy_stats,
        "events_hourly_signals": q_events_hourly_signals,
        "events_robust_values": q_events_robust_values,
        "pagerank_degrees": q_pagerank_degrees,
        "retrieval_fusion": q_retrieval_fusion,
        "gopher_signals": q_gopher_signals,
        "hll_distinct_orders": q_hll_distinct_orders,
        "kmv_flag_overlap": q_kmv_flag_overlap,
        "bloom_join_parts": q_bloom_join_parts,
        "events_value_quantiles": q_events_value_quantiles,
        "c4_line_stats": q_c4_line_stats,
        "epoch_mix_docs": q_epoch_mix_docs,
        "logreg_quality_train": q_logreg_quality_train,
        "retrieval_eval_ivf": q_retrieval_eval_ivf,
        "edit_near_pairs": q_edit_near_pairs,
        "lm_perplexity_buckets": q_lm_perplexity_buckets,
        "bpe_encode_stats": q_bpe_encode_stats,
        "chat_stats_docs": q_chat_stats_docs,
        "clean_text_docs": q_clean_text_docs,
        "join_size_cms": q_join_size_cms,
        "bloom_engage_cms": q_bloom_engage_cms,
        "dedup_keep_best": q_dedup_keep_best,
        # -- round-4c additions (never verified by definition)
        "pmi_collocations": q_pmi_collocations,
        "scd2_lookup_orders": q_scd2_lookup_orders,
        "incremental_rollup": q_incremental_rollup,
        "data_quality_orders": q_data_quality_orders,
        "ivf_rescore_topk": q_ivf_rescore_topk,
        "event_transitions": q_event_transitions,
        "length_deciles": q_length_deciles,
        "embedding_standardize": q_embedding_standardize,
        "strip_html_docs": q_strip_html_docs,
        "main_content_docs": q_main_content_docs,
        "outlinks_docs": q_outlinks_docs,
        "host_link_graph": q_host_link_graph,
        "weighted_sample_docs": q_weighted_sample_docs,
        # -- round-5 additions (never verified by definition)
        "source_cap_docs": q_source_cap_docs,
        "quality_gate_docs": q_quality_gate_docs,
        "oov_rate_docs": q_oov_rate_docs,
        "training_order_docs": q_training_order_docs,
        "jaccard_pairs_exact": q_jaccard_pairs_exact,
        "events_collapsed_runs": q_events_collapsed_runs,
        "events_psi_drift": q_events_psi_drift,
        "dup_rate_by_source": q_dup_rate_by_source,
        "containment_pairs": q_containment_pairs,
        # -- never driver-verified (local hash-match via
        #    tools/check_oracles.py)
        "kmeans_ivf_topk": q_kmeans_ivf_topk,
        "linkage_scores": q_linkage_scores,
        "cdc_latest": q_cdc_latest,
        # -- new this round (round-4 extension operators)
        "link_stats": q_link_stats,
        "rebalance_mix": q_rebalance_mix,
        "sq8_topk": q_sq8_topk,
        "pq_topk": q_pq_topk,
        "ivf_sq8_topk": q_ivf_sq8_topk,
        # -- new this round, second batch (ngram mining / classifier /
        #    projection / DSIR / MMR)
        "ngram_novelty": q_ngram_novelty,
        "quality_classifier": q_quality_classifier,
        "random_projection": q_random_projection,
        "dsir_weights": q_dsir_weights,
        "mmr_select": q_mmr_select,
        "temperature_mix": q_temperature_mix,
        "semantic_decontaminate": q_semantic_decontaminate,
        # round-11 merge: duplicate_spans + span_dedup_stats (one
        # shared-gram CTE pins both shapes)
        "span_dedup_combined": q_span_dedup_combined,
        "hard_negatives": q_hard_negatives,
        # -- implementation changed this round -> re-verify
        "funnel_counts": q_funnel_counts,
        "cohort_retention": q_cohort_retention,
        "split_assign": q_split_assign,
        # -- stale-but-stable rotation (green r1, re-proving)
        "compare_diff": q_compare_diff,
        "compare_metrics": q_compare_metrics,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "dedup_duplicate_keys": q_dedup_duplicate_keys,
        "except_distinct": q_except_distinct,
        "key_hash_md5": q_key_hash_md5,
        "sort_aligned_projection": q_sort_aligned_projection,
        "q1_pricing_summary": q_q1_pricing_summary,
        "q3_shipping_priority": q_q3_shipping_priority,
        "q5_nation_revenue": q_q5_nation_revenue,
        "q10_returned_items": q_q10_returned_items,
        "q18_large_orders": q_q18_large_orders,
        "q14_promo_share": q_q14_promo_share,
        "customer_running_totals": q_customer_running_totals,
        "dedup_clusters": q_dedup_clusters,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "simhash_fingerprints": q_simhash_fingerprints,
        "lang_id": q_lang_id,
        "tfidf_topk_terms": q_tfidf_topk_terms,
        # fingerprint fold rewritten this round (bit-identical, re-verify)
        "simhash_near_dups": q_simhash_near_dups,
        # ---- below the fold: green driver row r1-r3, code unchanged ----
        # (unigram_logprob, vocab_top_terms, bigram_logprob,
        #  text_hash_buckets, blocking_pairs, text_stats + the five
        #  ANN/IVF entries displaced by the 11 new round-4b queries are
        #  all green r1 with unchanged code)
        # round-11 merge: unigram_logprob + bigram_logprob
        "ngram_logprobs": q_ngram_logprobs,
        "vocab_top_terms": q_vocab_top_terms,
        # round-11 additions: script-aware gates + per-language LM
        "cjk_quality_gates": q_cjk_quality_gates,
        "lm_by_lang_buckets": q_lm_by_lang_buckets,
        "text_hash_buckets": q_text_hash_buckets,
        "blocking_pairs": q_blocking_pairs,
        "text_stats": q_text_stats,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_cosine_topk_vec": q_ann_cosine_topk_vec,
        "ivf_assign": q_ivf_assign,
        "embedding_near_dup": q_embedding_near_dup,
        "ivf_topk": q_ivf_topk,
        "flatten_nested": q_flatten_nested,
        "near_dup_components": q_near_dup_components,
        "except_all": q_except_all,
        "compare_metrics_nokeys": q_compare_metrics_nokeys,
        "compare_cherry_pick": q_compare_cherry_pick,
        "near_dup_components_star": q_near_dup_components_star,
        "q6_forecast_revenue": q_q6_forecast_revenue,
        "topk_orders_per_customer": q_topk_orders_per_customer,
        "docs_quality_filter": q_docs_quality_filter,
        "curation_pipeline": q_curation_pipeline,
        "events_hourly_rollup": q_events_hourly_rollup,
        "events_json_extract": q_events_json_extract,
        "sessionize_events": q_sessionize_events,
        "windowed_rollup": q_windowed_rollup,
        "events_sliding_rollup": q_events_sliding_rollup,
        "events_cube": q_events_cube,
        "events_pivot": q_events_pivot,
        "user_session_stats": q_user_session_stats,
        "asof_join_rates": q_asof_join_rates,
        "events_quantiles": q_events_quantiles,
        "gapfill_rollup": q_gapfill_rollup,
        "range_join_windows": q_range_join_windows,
        "stratified_sample": q_stratified_sample,
        "scrub_pii": q_scrub_pii,
        "repetition_ratio": q_repetition_ratio,
        "strip_boilerplate": q_strip_boilerplate,
        "events_user_skew": q_events_user_skew,
        "events_profile": q_events_profile,
        **TPCH_EXTRA_QUERIES,
        "winnow_near_dups": q_winnow_near_dups,
        "passage_dup_stats": q_passage_dup_stats,
        "decontaminate": q_decontaminate,
        "pack_sequences": q_pack_sequences,
        "token_chunks": q_token_chunks,
        "dedup_exact_docs": q_dedup_exact_docs,
        "dedup_incremental_docs": q_dedup_incremental_docs,
        "source_overlap": q_source_overlap,
        "length_curriculum": q_length_curriculum,
        "semantic_dedup": q_semantic_dedup,
        "multimodal_image_features": q_multimodal_image_features,
    }


# ---------------------------------------------------------------------------
# round-5 extension queries: per-source caps / percentile gating /
# deterministic training order (operators/sampling.py), OOV rate
# (operators/tfidf.py), run-length collapse (operators/sessionize.py),
# and the prefix-filtered exact Jaccard join (operators/setjoin.py)
# ---------------------------------------------------------------------------

SOURCE_CAP = 10
QUALITY_GATE_FRAC = 0.3
OOV_VOCAB_SIZE = 10
ORDER_SHARDS = 8
JACCARD_JOIN_T = 0.9

#: DuckDB twin of sampling._bucket (portable_hash64 % SAMPLE_DENOMINATOR)
def _sql_bucket(salt: str, key: str) -> str:
    return (
        f"(('0x' || substring(md5('{salt}:' || {key}::VARCHAR), 1, 15))::BIGINT"
        f" % 10000)"
    )


def _sql_hash64(prefix: str, key: str) -> str:
    return f"(('0x' || substring(md5('{prefix}' || {key}::VARCHAR), 1, 15))::BIGINT)"


def q_source_cap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contribution cap: at most SOURCE_CAP docs per source,
    picked by deterministic hash order (the anti-spam cap of a crawl
    pipeline; row_number<=cap compiles to WindowGroupLimit, so spammy
    sources prune map-side)."""
    from hermes_spark.operators import cap_per_group

    docs = _read(spark, sf_dir, "documents")
    return cap_per_group(
        docs, "doc_id", "source", cap=SOURCE_CAP, keep_rank=True
    ).select("doc_id", "source", F.col("cap_rank").cast("long").alias("cap_rank"))


def _sql_source_cap() -> str:
    return f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {_sql_bucket("cap", "doc_id")} ASC, doc_id ASC
         ) AS cap_rank
  FROM documents
)
SELECT doc_id, source, cap_rank::BIGINT AS cap_rank
FROM ranked WHERE cap_rank <= {SOURCE_CAP}
"""


def q_quality_gate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile gate: keep the top 30% of each source by
    length (n_chars — an exact-integer stand-in for any quality score;
    a global cutoff would let one source crowd out the mix)."""
    from hermes_spark.operators import percentile_gate

    docs = _read(spark, sf_dir, "documents")
    return percentile_gate(
        docs, "source", "n_chars", QUALITY_GATE_FRAC,
        key_col="doc_id", keep_score_rank=True,
    ).select("doc_id", "source", "n_chars", "score_pct")


def _sql_quality_gate() -> str:
    return f"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         round(percent_rank() OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
         ), 6) AS score_pct
  FROM documents
)
SELECT doc_id, source, n_chars, score_pct
FROM ranked WHERE score_pct <= {QUALITY_GATE_FRAC!r}
"""


def q_oov_rate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage QA: per-doc out-of-vocabulary rate against the
    corpus's own top-10 terms (the corpus vocabulary is deliberately tiny) (frequency-ranked, lexical tie-break)."""
    from hermes_spark.operators import oov_rate

    return oov_rate(
        _read(spark, sf_dir, "documents"), vocab_size=OOV_VOCAB_SIZE
    )


def _sql_oov_rate() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
),
tt AS (SELECT doc_id, term FROM toks WHERE term <> ''),
counts AS (SELECT doc_id, term, count(*)::BIGINT AS n FROM tt GROUP BY 1, 2),
freq AS (SELECT term, sum(n)::BIGINT AS tot FROM counts GROUP BY 1),
vocab AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY tot DESC, term ASC) AS r FROM freq
  ) WHERE r <= {OOV_VOCAB_SIZE}
),
per_doc AS (
  SELECT c.doc_id, sum(c.n)::BIGINT AS n_tokens,
         sum(CASE WHEN v.term IS NULL THEN c.n ELSE 0 END)::BIGINT AS n_oov
  FROM counts c LEFT JOIN vocab v ON v.term = c.term
  GROUP BY 1
)
SELECT d.doc_id,
       coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(p.n_oov, 0)::BIGINT AS n_oov,
       round(coalesce(p.n_oov, 0) / greatest(coalesce(p.n_tokens, 0), 1), 6)
         AS oov_rate
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""


def q_training_order_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training order: (shard, pos_in_shard) from portable
    hashes — a reproducible epoch shuffle with one bounded window per
    shard, never a global sort."""
    from hermes_spark.operators import training_order

    docs = _read(spark, sf_dir, "documents")
    return training_order(docs, "doc_id", num_shards=ORDER_SHARDS).select(
        "doc_id", "shard", "pos_in_shard"
    )


def _sql_training_order() -> str:
    return f"""
WITH h AS (
  SELECT doc_id,
         ({_sql_hash64("order:shard:", "doc_id")} % {ORDER_SHARDS}) AS shard,
         {_sql_hash64("order:pos:", "doc_id")} AS ph
  FROM documents
)
SELECT doc_id, shard::BIGINT AS shard,
       row_number() OVER (PARTITION BY shard ORDER BY ph ASC, doc_id ASC)::BIGINT
         AS pos_in_shard
FROM h
"""


def q_jaccard_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT token-set Jaccard join via lossless prefix filtering
    (PPJoin-style): every pair >= t, no banding recall loss, candidates
    generated only inside rare-prefix-token buckets."""
    from hermes_spark.operators import jaccard_set_join

    return jaccard_set_join(
        _read(spark, sf_dir, "documents"), min_jaccard=JACCARD_JOIN_T
    )


def _sql_jaccard_pairs() -> str:
    t_scaled = int(round(JACCARD_JOIN_T * 10000))
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest({_TOKENS_SQL}) AS t(term)
  WHERE t.term <> ''
),
freq AS (SELECT term, count(*)::BIGINT AS df_t FROM toks GROUP BY 1),
ordered AS (
  SELECT doc_id,
         list(term ORDER BY df_t ASC, term ASC) AS terms,
         count(*)::BIGINT AS n
  FROM toks JOIN freq USING (term)
  GROUP BY doc_id
),
docs AS (
  SELECT doc_id, terms, n,
         terms[1 : (n - ((n * {t_scaled} + 9999) // 10000) + 1)::INT] AS prefix
  FROM ordered
),
pre AS (SELECT doc_id, n, unnest(prefix) AS term FROM docs),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pre a JOIN pre b ON a.term = b.term
  WHERE a.doc_id < b.doc_id
    AND a.n * {t_scaled} <= b.n * 10000
    AND b.n * {t_scaled} <= a.n * 10000
),
verified AS (
  SELECT c.id_a, c.id_b, da.n AS n_a, db.n AS n_b,
         len(list_intersect(da.terms, db.terms))::BIGINT AS n_common
  FROM cand c
  JOIN docs da ON da.doc_id = c.id_a
  JOIN docs db ON db.doc_id = c.id_b
)
SELECT id_a, id_b, n_a, n_b, n_common,
       round(n_common / (n_a + n_b - n_common), 6) AS jaccard
FROM verified
WHERE n_common * 10000 >= {t_scaled} * (n_a + n_b - n_common)
"""


def q_events_collapsed_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length collapse of each user's event stream: keep the first
    event of every run of consecutive equal types (+ run_length) —
    retry-storm/double-click de-noising that preserves separated
    re-occurrences, unlike a keyed distinct."""
    from hermes_spark.operators import collapse_runs

    ev = _read_events(spark, sf_dir)
    return collapse_runs(
        ev.select("event_id", "ts", "user_id", "event_type"),
        key_col="user_id",
        order_cols=("ts", "event_id"),
        value_col="event_type",
    ).select("user_id", "event_id", "ts", "event_type", F.col("run_length"))


def _sql_collapsed_runs() -> str:
    return """
WITH ordered AS (
  SELECT event_id, ts, user_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS new_run
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
runs AS (
  SELECT *,
         sum(new_run) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                            ROWS UNBOUNDED PRECEDING) AS run_idx
  FROM ordered
),
lengths AS (
  SELECT user_id, run_idx, count(*)::BIGINT AS run_length
  FROM runs GROUP BY 1, 2
)
SELECT r.user_id, r.event_id, r.ts, r.event_type, l.run_length
FROM runs r JOIN lengths l ON l.user_id = r.user_id AND l.run_idx = r.run_idx
WHERE r.new_run = 1
"""


PSI_BINS = 10
PSI_LO = 0.0
PSI_HI = 100.0
PSI_CUTOFF = "2024-01-16 00:00:00"
PSI_EPS = 1e-6
CONTAINMENT_T = 0.8
CONTAINMENT_N = 3


def q_events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift monitor: per-bucket PSI terms of event values,
    first half of the month (baseline) vs the rest (current) — the
    standing is-this-week's-data-still-like-training-data check."""
    from hermes_spark.operators import psi_report

    ev = _read_events(spark, sf_dir)
    cutoff = F.lit(PSI_CUTOFF).cast("timestamp_ntz")
    return psi_report(
        ev.filter(F.col("ts") < cutoff),
        ev.filter(F.col("ts") >= cutoff),
        "value",
        bins=PSI_BINS,
        lo=PSI_LO,
        hi=PSI_HI,
        eps=PSI_EPS,
    )


def _sql_events_psi() -> str:
    width = (PSI_HI - PSI_LO) / PSI_BINS
    bucket = (
        f"least(greatest(floor((value - {PSI_LO!r}) / {width!r}), 0), "
        f"{PSI_BINS - 1})::BIGINT"
    )
    return f"""
WITH base AS (
  SELECT {bucket} AS bucket, count(*)::BIGINT AS n
  FROM events WHERE ts < TIMESTAMP '{PSI_CUTOFF}' GROUP BY 1
),
cur AS (
  SELECT {bucket} AS bucket, count(*)::BIGINT AS n
  FROM events WHERE ts >= TIMESTAMP '{PSI_CUTOFF}' GROUP BY 1
),
bt AS (SELECT sum(n) AS t FROM base),
ct AS (SELECT sum(n) AS t FROM cur),
spine AS (SELECT unnest(range(0, {PSI_BINS})) AS bucket),
j AS (
  SELECT s.bucket,
         greatest(coalesce(b.n / bt.t, 0.0), {PSI_EPS!r}) AS pe,
         greatest(coalesce(c.n / ct.t, 0.0), {PSI_EPS!r}) AS qe
  FROM spine s
  LEFT JOIN base b ON b.bucket = s.bucket
  LEFT JOIN cur c ON c.bucket = s.bucket
  CROSS JOIN bt CROSS JOIN ct
)
SELECT bucket,
       round({PSI_LO!r} + bucket * {width!r}, 6) AS lo,
       round({PSI_LO!r} + (bucket + 1) * {width!r}, 6) AS hi,
       round(pe, 6) AS p, round(qe, 6) AS q,
       round((qe - pe) * ln(qe / pe), 6) AS psi_term
FROM j ORDER BY bucket
"""


def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources are spammy: per-source doc counts, distinct
    token-BAG fingerprints (order/repetition-blind, so permuted rewrites
    collide), and the duplicate rate — the triage report that decides
    where cap_per_group / dedup effort goes."""
    from hermes_spark.functions.text import bag_fingerprint

    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select("source", bag_fingerprint(F.col("text")).alias("__fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("__fp").cast("long").alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            F.round(
                F.lit(1.0) - F.col("n_unique") / F.col("n_docs"), 6
            ).alias("dup_rate"),
        )
    )


_BAG_FP_SQL = (
    "md5(array_to_string(list_sort(list_distinct("
    "regexp_split_to_array(trim(lower(text)), '\\s+'))), ' '))"
)

_SQL_DUP_RATE_BY_SOURCE = f"""
SELECT source, count(*)::BIGINT AS n_docs,
       count(DISTINCT {_BAG_FP_SQL})::BIGINT AS n_unique,
       round(1.0 - count(DISTINCT {_BAG_FP_SQL}) / count(*), 6) AS dup_rate
FROM documents GROUP BY source
"""


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional doc-inside-doc pairs: word-3-gram containment
    |A∩B|/|A| >= 0.8 via asymmetric prefix filtering — catches the
    quoted-paragraph case Jaccard misses."""
    from hermes_spark.operators import containment_join

    return containment_join(
        _read(spark, sf_dir, "documents"),
        min_containment=CONTAINMENT_T,
        ngram=CONTAINMENT_N,
    )


def _sql_containment_pairs() -> str:
    t_scaled = int(round(CONTAINMENT_T * 10000))
    n = CONTAINMENT_N
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
),
gr AS (
  SELECT doc_id,
         CASE WHEN len(t) = 1 AND t[1] = '' THEN []
              WHEN len(t) < {n} THEN [array_to_string(t, ' ')]
              ELSE list_distinct(list_transform(
                     range(1, len(t) - {n - 1} + 1),
                     i -> array_to_string(t[i:i+{n - 1}], ' ')))
         END AS grams
  FROM toks
),
grams AS (
  SELECT doc_id, unnest(grams) AS term FROM gr
),
g AS (SELECT doc_id, term FROM grams WHERE term <> ''),
freq AS (SELECT term, count(*)::BIGINT AS df_t FROM g GROUP BY 1),
ordered AS (
  SELECT doc_id, list(term ORDER BY df_t ASC, term ASC) AS terms,
         count(*)::BIGINT AS n
  FROM g JOIN freq USING (term) GROUP BY doc_id
),
docs AS (
  SELECT doc_id, terms, n,
         terms[1 : (n - ((n * {t_scaled} + 9999) // 10000) + 1)::INT] AS prefix
  FROM ordered
),
pre_a AS (SELECT doc_id AS id_a, n AS n_a, unnest(prefix) AS term FROM docs),
all_b AS (SELECT doc_id AS id_b, n AS n_b, unnest(terms) AS term FROM docs),
cand AS (
  SELECT DISTINCT a.id_a, b.id_b
  FROM pre_a a JOIN all_b b ON a.term = b.term
  WHERE a.id_a <> b.id_b
    AND b.n_b * 10000 >= a.n_a * {t_scaled}
),
verified AS (
  SELECT c.id_a, c.id_b, da.n AS n_a, db.n AS n_b,
         len(list_intersect(da.terms, db.terms))::BIGINT AS n_common
  FROM cand c
  JOIN docs da ON da.doc_id = c.id_a
  JOIN docs db ON db.doc_id = c.id_b
)
SELECT id_a, id_b, n_a, n_b, n_common,
       round(n_common / n_a, 6) AS containment
FROM verified
WHERE n_common * 10000 >= {t_scaled} * n_a
"""


# ---------------------------------------------------------------------------
# round-6 sketch queries (operators/sketch.py): HLL distinct, count-min
# heavy hitters, KMV theta overlap, Bloom-prefiltered join
# ---------------------------------------------------------------------------

HLL_P = 10  # 1024 registers, ~3.2% relative error
CMS_DEPTH, CMS_WIDTH, CMS_THRESHOLD = 3, 1024, 80
KMV_K = 256
BLOOM_M, BLOOM_K = 1 << 17, 5
_KMV_FLAG_PAIRS = [("A", "N"), ("A", "R"), ("N", "R")]


def q_hll_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct-order count per return flag (p=10). The
    state shuffle is bounded at m=1024 register rows per flag no matter
    how many rows/distinct keys feed it — the 100 TB path for
    COUNT(DISTINCT) dashboards and incremental rollups."""
    from hermes_spark.operators.sketch import hll_distinct

    li = _read(spark, sf_dir, "lineitem")
    return hll_distinct(li, ["l_returnflag"], "l_orderkey", p=HLL_P)


def _sql_hll_distinct() -> str:
    from hermes_spark.operators.sketch import HASH_BITS, hll_alpha

    p = HLL_P
    w = HASH_BITS - p
    s = w + 1
    m = 1 << p
    num = hll_alpha(m) * m * m * float(1 << s)
    return f"""
WITH h AS (
  SELECT l_returnflag,
         ('0x' || substring(md5('' || CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM lineitem WHERE l_orderkey IS NOT NULL
), reg AS (
  SELECT l_returnflag, h >> {w} AS bucket,
         max(CASE WHEN (h & {(1 << w) - 1}) = 0 THEN {w + 1}
                  ELSE {w} + 1 - length(bin(h & {(1 << w) - 1})) END) AS max_rank
  FROM h GROUP BY 1, 2
), agg AS (
  SELECT l_returnflag, count(*)::BIGINT AS used_registers,
         sum((1::BIGINT << ({s} - max_rank)))::BIGINT AS sum_scaled
  FROM reg GROUP BY 1
), est AS (
  SELECT l_returnflag, used_registers, {m} - used_registers AS v,
         CAST({num!r} AS DOUBLE)
           / CAST(({m} - used_registers) * {1 << s} + sum_scaled AS DOUBLE) AS raw
  FROM agg
)
SELECT l_returnflag, used_registers,
       round(CASE WHEN raw <= CAST({2.5 * m!r} AS DOUBLE) AND v > 0
             THEN CAST({float(m)!r} AS DOUBLE)
                  * ln(CAST({float(m)!r} AS DOUBLE) / CAST(v AS DOUBLE))
             ELSE raw END, 4) AS distinct_est
FROM est
"""


def q_kmv_flag_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (theta) sketch set-overlap: estimated union / intersection /
    jaccard of the distinct part sets of each return-flag pair, from one
    k=256-row state per flag — the sketch path of source_overlap (exact
    variant) for corpus×corpus overlap at 100 TB."""
    from hermes_spark.operators.sketch import kmv_overlap, kmv_state

    li = _read(spark, sf_dir, "lineitem")
    state = kmv_state(li, ["l_returnflag"], "l_partkey", k=KMV_K)
    out = None
    for a, b in _KMV_FLAG_PAIRS:
        pair = F.lit(f"{a}-{b}")
        sa = state.filter(F.col("l_returnflag") == a).select(
            pair.alias("pair"), "h"
        )
        sb = state.filter(F.col("l_returnflag") == b).select(
            pair.alias("pair"), "h"
        )
        o = kmv_overlap(sa, sb, ["pair"], k=KMV_K)
        out = o if out is None else out.unionByName(o)
    return out


def _sql_kmv_flag_overlap() -> str:
    from hermes_spark.operators.sketch import HASH_BITS

    k = KMV_K
    space = float(1 << HASH_BITS)
    branches = []
    for a, b in _KMV_FLAG_PAIRS:
        branches.append(f"""
SELECT '{a}-{b}' AS pair,
       coalesce(x.h, y.h) AS h,
       CASE WHEN x.h IS NULL THEN 0 ELSE 1 END AS ina,
       CASE WHEN y.h IS NULL THEN 0 ELSE 1 END AS inb
FROM (SELECT h FROM state WHERE l_returnflag = '{a}') x
FULL OUTER JOIN (SELECT h FROM state WHERE l_returnflag = '{b}') y ON x.h = y.h
""")
    union = " UNION ALL ".join(branches)
    return f"""
WITH hashes AS (
  SELECT DISTINCT l_returnflag,
         ('0x' || substring(md5('' || CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM lineitem WHERE l_partkey IS NOT NULL
), state AS (
  SELECT l_returnflag, h FROM (
    SELECT l_returnflag, h,
           row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
    FROM hashes
  ) WHERE rn <= {k}
), pairsets AS ({union}),
sampled AS (
  SELECT pair, h, ina, inb FROM (
    SELECT pair, h, ina, inb, row_number() OVER (PARTITION BY pair ORDER BY h) AS rn
    FROM pairsets
  ) WHERE rn <= {k}
), agg AS (
  SELECT pair, count(*)::BIGINT AS n, max(h) AS kth,
         sum(ina * inb)::BIGINT AS ninter
  FROM sampled GROUP BY pair
), est AS (
  SELECT pair, n, ninter,
         CASE WHEN n < {k} THEN CAST(n AS DOUBLE)
              ELSE CAST({float(k - 1)!r} AS DOUBLE)
                   * (CAST({space!r} AS DOUBLE) / CAST(kth AS DOUBLE)) END AS union_est
  FROM agg
)
SELECT pair, round(union_est, 4) AS union_est,
       round(CAST(ninter AS DOUBLE) / CAST(n AS DOUBLE) * union_est, 4) AS intersect_est,
       round(CASE WHEN union_est > 0
             THEN (CAST(ninter AS DOUBLE) / CAST(n AS DOUBLE) * union_est) / union_est
             ELSE 0.0 END, 6) AS jaccard_est
FROM est
"""


EPOCH_FACTORS = {"en": 2.4, "de": 1.0, "fr": 0.5}


def q_epoch_mix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch upsampling mix: en x2.4, de x1.0, fr x0.5 — the
    budget-driven repetition the downsampling mixers cannot express.
    Copy membership is keyed to (doc_id, copy), so it is reproducible
    and monotone in the factor."""
    from hermes_spark.operators.sampling import epoch_mix

    docs = _read(spark, sf_dir, "documents")
    return epoch_mix(docs, "doc_id", "lang", EPOCH_FACTORS).select(
        "doc_id", "lang", "epoch"
    )


def _sql_epoch_mix_docs() -> str:
    import math

    max_copies = max(1, math.ceil(max(EPOCH_FACTORS.values())))
    case = " ".join(
        f"WHEN '{s}' THEN CAST({e!r} AS DOUBLE)" for s, e in EPOCH_FACTORS.items()
    )
    return f"""
WITH copies AS (
  SELECT doc_id, lang, unnest(range({max_copies}))::BIGINT AS epoch
  FROM documents
), f AS (
  SELECT doc_id, lang, epoch,
         CASE lang {case} ELSE CAST(0.0 AS DOUBLE) END AS factor
  FROM copies
)
SELECT doc_id, lang, epoch FROM f
WHERE epoch < floor(factor)
   OR (epoch = floor(factor)
       AND ('0x' || substring(md5('epoch:' || CAST(doc_id AS VARCHAR) || '#'
                                  || CAST(epoch AS VARCHAR)), 1, 15))::BIGINT
           % 10000
           < CAST(round((factor - floor(factor)) * 10000) AS BIGINT))
"""


def q_c4_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-survival monitoring over documents. The corpus has no
    line structure or punctuation, so deterministic sentence/nav/code
    lines are injected first (same rule in the oracle)."""
    from hermes_spark.operators.c4 import c4_line_stats

    docs = _read(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(".\nHome | Nav\nAnother good sentence here."),
            F.when(F.col("doc_id") % 11 == 0, F.lit("\nvar x = {1};")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 13 == 0, F.lit("\nLorem Ipsum filler.")).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("\nWe use cookies, see our cookie policy."),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return c4_line_stats(injected, "doc_id", "text")


def _sql_c4_line_stats() -> str:
    from hermes_spark.operators.c4 import C4_LINE_MARKERS

    marker_sql = " OR ".join(
        f"contains(lower(trim(l)), '{m}')" for m in C4_LINE_MARKERS
    )
    keep = (
        f"l -> regexp_matches(trim(l), '[.!?\"' || chr(39) || ']$') "
        f"AND len(regexp_split_to_array(trim(l), '\\s+')) >= 3 "
        f"AND NOT ({marker_sql})"
    )
    return f"""
WITH injected AS (
  SELECT doc_id,
         concat(
           text,
           '.' || chr(10) || 'Home | Nav' || chr(10) || 'Another good sentence here.',
           CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'var x = {{1}};' ELSE '' END,
           CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'Lorem Ipsum filler.' ELSE '' END,
           CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'We use cookies, see our cookie policy.' ELSE '' END
         ) AS text
  FROM documents
), feats AS (
  SELECT doc_id, text,
         list_filter(string_split(text, chr(10)), l -> trim(l) != '') AS lines
  FROM injected
), m AS (
  SELECT doc_id,
         len(lines)::BIGINT AS n_lines_in,
         len(list_filter(lines, {keep}))::BIGINT AS n_lines_kept,
         (contains(lower(text), '{{') OR contains(lower(text), '}}')
          OR contains(lower(text), 'lorem ipsum')) AS doc_poisoned
  FROM feats
)
SELECT doc_id, n_lines_in, n_lines_kept,
       round(n_lines_kept::DOUBLE / greatest(n_lines_in, 1)::DOUBLE, 6) AS keep_ratio,
       doc_poisoned
FROM m
"""


GOPHER_MIN_WORDS = 20


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-gate metrics over documents. The corpus has no line
    structure, so deterministic bullets/ellipses/symbols are injected
    first (same rule in the oracle) to exercise every rule."""
    from hermes_spark.operators.gopher import gopher_quality_flags

    docs = _read(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 5 == 0, F.lit("- bullet intro\n")).otherwise(
                F.lit("")
            ),
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0, F.lit("\ntrailing thought...")
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" ## ##")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return gopher_quality_flags(
        injected, "doc_id", "text", min_words=GOPHER_MIN_WORDS, min_stopwords=1
    )


def _sql_gopher_quality() -> str:
    from hermes_spark.operators.gopher import GOPHER_STOPWORDS

    stop_list = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
WITH injected AS (
  SELECT doc_id,
         concat(
           CASE WHEN doc_id % 5 = 0 THEN '- bullet intro' || chr(10) ELSE '' END,
           text,
           CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'trailing thought...' ELSE '' END,
           CASE WHEN doc_id % 7 = 0 THEN ' ## ##' ELSE '' END
         ) AS text
  FROM documents
), feats AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\\s+') AS toks,
         list_filter(string_split(text, chr(10)), l -> trim(l) != '') AS lines
  FROM injected
), m AS (
  SELECT doc_id,
         len(toks)::BIGINT AS n_words,
         greatest(len(toks), 1)::DOUBLE AS nw,
         coalesce(list_sum(list_transform(toks, t -> length(t))), 0)::DOUBLE AS tok_chars,
         (length(text) - length(regexp_replace(text, '#', '', 'g'))
          + len(regexp_extract_all(text, '\\.{{3}}|…', 0)))::DOUBLE AS n_symbols,
         greatest(len(lines), 1)::DOUBLE AS n_lines,
         len(list_filter(lines, l -> starts_with(trim(l), '- ')
                                  OR starts_with(trim(l), '* ')
                                  OR starts_with(trim(l), '•')))::DOUBLE AS n_bullet,
         len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.{{3}}|…)$')))::DOUBLE AS n_ell,
         len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE AS n_alpha,
         len(list_distinct(list_filter(list_transform(toks, t -> lower(t)),
                                       t -> list_contains([{stop_list}], t))))::BIGINT AS n_stopwords
  FROM feats
), r AS (
  SELECT doc_id, n_words,
         round(tok_chars / nw, 6) AS mean_word_len,
         round(n_symbols / nw, 6) AS symbol_ratio,
         round(n_bullet / n_lines, 6) AS bullet_ratio,
         round(n_ell / n_lines, 6) AS ellipsis_ratio,
         round(n_alpha / nw, 6) AS alpha_word_ratio,
         n_stopwords
  FROM m
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
       ellipsis_ratio, alpha_word_ratio, n_stopwords,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_ratio <= 0.1
        AND bullet_ratio <= 0.9
        AND ellipsis_ratio <= 0.3
        AND alpha_word_ratio >= 0.8
        AND n_stopwords >= 1) AS keep
FROM r
"""


QD_K = 64
QD_QS = [0.5, 0.9, 0.99]


def q_events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (log2-linear buckets, rel err <= 1/2k):
    p50/p90/p99 of event value per type from a bounded bucket state —
    the persistable/incremental path where exact percentile() rescans
    all history."""
    from hermes_spark.operators.sketch import qdigest_quantiles, qdigest_state

    ev = _read_events(spark, sf_dir)
    state = qdigest_state(ev, ["event_type"], "value", k=QD_K)
    return qdigest_quantiles(state, ["event_type"], QD_QS, k=QD_K)


def _sql_events_value_quantiles() -> str:
    from hermes_spark.operators.sketch import QD_SCALE, _qd_cap

    k = QD_K
    scale_f = float(QD_SCALE)
    cap_f = float(_qd_cap(k))
    qs = ", ".join(f"{q!r}::DOUBLE" for q in QD_QS)
    return f"""
WITH scaled_v AS (
  SELECT event_type, value,
         CAST(floor(least(abs(value) * CAST({scale_f!r} AS DOUBLE),
                          CAST({cap_f!r} AS DOUBLE))) AS BIGINT) AS scaled
  FROM events WHERE value IS NOT NULL
), coded AS (
  SELECT event_type, value, scaled,
         CASE WHEN scaled = 0 THEN 0 ELSE length(bin(scaled)) END AS e
  FROM scaled_v
), bucketed AS (
  SELECT event_type,
         CASE WHEN scaled = 0 THEN 0
              WHEN value < 0 THEN -(e * {k} + (((scaled - (1::BIGINT << (e - 1))) * {k}) >> (e - 1)))
              ELSE e * {k} + (((scaled - (1::BIGINT << (e - 1))) * {k}) >> (e - 1)) END AS qb
  FROM coded
), state AS (
  SELECT event_type, qb, count(*)::BIGINT AS cnt FROM bucketed GROUP BY 1, 2
), cum AS (
  SELECT event_type, qb,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY qb
                        ROWS UNBOUNDED PRECEDING) AS c,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM state
), hit AS (
  SELECT event_type, q, qb
  FROM cum CROSS JOIN (SELECT unnest([{qs}]) AS q) qlist
  WHERE c >= greatest(1, ceil(q * CAST(n AS DOUBLE)))
), chosen AS (
  SELECT event_type, q, min(qb) AS qb FROM hit GROUP BY 1, 2
), decoded AS (
  SELECT event_type, q, qb,
         CAST(floor(abs(qb) / CAST({float(k)!r} AS DOUBLE)) AS BIGINT) AS e,
         abs(qb) % {k} AS sub
  FROM chosen
)
SELECT event_type, q,
       round(CASE WHEN qb = 0 THEN 0.0
             WHEN qb < 0 THEN -((CAST(1::BIGINT << (e - 1) AS DOUBLE) * (1.0 + CAST(sub AS DOUBLE) / CAST({float(k)!r} AS DOUBLE))
                                + CAST(1::BIGINT << (e - 1) AS DOUBLE) * (1.0 + CAST(sub + 1 AS DOUBLE) / CAST({float(k)!r} AS DOUBLE)))
                               / 2.0 / CAST({scale_f!r} AS DOUBLE))
             ELSE ((CAST(1::BIGINT << (e - 1) AS DOUBLE) * (1.0 + CAST(sub AS DOUBLE) / CAST({float(k)!r} AS DOUBLE))
                   + CAST(1::BIGINT << (e - 1) AS DOUBLE) * (1.0 + CAST(sub + 1 AS DOUBLE) / CAST({float(k)!r} AS DOUBLE)))
                  / 2.0 / CAST({scale_f!r} AS DOUBLE)) END, 6) AS est
FROM decoded
"""


def q_bloom_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered join: lineitem x small-parts, the big side
    pruned scan-side by a 16 KiB bitmap BEFORE any exchange. Output is
    exactly the plain join (false positives re-verified), so the oracle
    is the plain SQL join."""
    from hermes_spark.operators.sketch import bloom_prefilter_join

    li = _read(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_partkey", "p_partkey"
    )
    part = _read(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    joined = bloom_prefilter_join(li, part, "p_partkey", m_bits=BLOOM_M, k=BLOOM_K)
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


_SQL_BLOOM_JOIN_PARTS = """
SELECT p_brand, count(*)::BIGINT AS n_items, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size <= 5
GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# round-10 registry consolidation: six merged queries, each pinning the SAME
# operators/expressions as the two entries it replaces in one oracle row
# (the 168-query registry exceeded the 150 the 50-slot/3-round rotation can
# re-verify, so near-duplicate rows are merged — coverage unchanged, the
# underlying q_* functions stay for bench.py and the merged joins).
# ---------------------------------------------------------------------------


def q_entropy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char- AND token-level Shannon entropy per document in one row
    (merges the former char_entropy/token_entropy registry entries; a
    doc whose text tokenizes to nothing keeps nulls on that side)."""
    c = q_char_entropy(spark, sf_dir).select(
        "doc_id",
        F.col("n_units").alias("char_units"),
        F.col("distinct_units").alias("char_distinct"),
        F.col("entropy_bits").alias("char_entropy_bits"),
    )
    t = q_token_entropy(spark, sf_dir).select(
        "doc_id",
        F.col("n_units").alias("token_units"),
        F.col("distinct_units").alias("token_distinct"),
        F.col("entropy_bits").alias("token_entropy_bits"),
    )
    return c.join(t, "doc_id", "full_outer")


def _sql_entropy_stats() -> str:
    return f"""
SELECT doc_id,
       c.n_units AS char_units, c.distinct_units AS char_distinct,
       c.entropy_bits AS char_entropy_bits,
       t.n_units AS token_units, t.distinct_units AS token_distinct,
       t.entropy_bits AS token_entropy_bits
FROM ({_sql_unit_entropy("char")}) c FULL JOIN ({_sql_unit_entropy("token")}) t
USING (doc_id)
"""


def q_events_hourly_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing AND trailing-z-score anomaly flags over the same
    gap-filled hourly series (merges events_ewma/events_anomalies)."""
    ew = q_events_ewma(spark, sf_dir)
    an = q_events_anomalies(spark, sf_dir).select(
        "event_type", "bucket", "expected", "zscore", "is_anomaly"
    )
    return ew.join(an, ["event_type", "bucket"])


def _sql_events_hourly_signals() -> str:
    return f"""
SELECT event_type, bucket, e.n_events, e.ewma, a.expected, a.zscore, a.is_anomaly
FROM ({_sql_events_ewma()}) e JOIN ({_SQL_EVENTS_ANOMALIES}) a
USING (event_type, bucket)
"""


def q_events_robust_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier summary AND winsorized value stats per event
    type (merges events_mad_outliers/events_winsorized)."""
    m = q_events_mad_outliers(spark, sf_dir)
    w = q_events_winsorized(spark, sf_dir).select(
        "event_type", "avg_w", "min_w", "max_w"
    )
    return m.join(w, "event_type")


def _sql_events_robust_values() -> str:
    return f"""
SELECT event_type, m.med, m.mad, m.n, m.n_outliers, m.outlier_rate,
       w.avg_w, w.min_w, w.max_w
FROM ({_sql_events_mad_outliers()}) m JOIN ({_SQL_EVENTS_WINSORIZED}) w
USING (event_type)
"""


def q_pagerank_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank AND in/out degrees per node over the synthetic link
    graph (merges pagerank_links/link_degrees)."""
    pr = q_pagerank_links(spark, sf_dir)
    dg = q_link_degrees(spark, sf_dir)
    joined = pr.join(dg, "node", "full_outer")
    return joined.select(
        "node",
        "pr",
        F.coalesce(F.col("out_deg"), F.lit(0)).cast("long").alias("out_deg"),
        F.coalesce(F.col("in_deg"), F.lit(0)).cast("long").alias("in_deg"),
    )


def _sql_pagerank_degrees() -> str:
    return f"""
SELECT node, p.pr,
       coalesce(d.out_deg, 0)::BIGINT AS out_deg,
       coalesce(d.in_deg, 0)::BIGINT AS in_deg
FROM ({_sql_pagerank_links()}) p FULL JOIN ({_SQL_LINK_DEGREES}) d
USING (node)
"""


def q_retrieval_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 list AND the RRF-fused hybrid top-10, tagged by
    method in one frame (merges bm25_scores/hybrid_rrf_topk — both
    ranked lists pinned in full)."""
    lex = q_bm25_scores(spark, sf_dir).select(
        F.lit("bm25").alias("method"),
        "doc_id",
        "rank",
        "score",
        F.lit(None).cast("long").alias("n_lists"),
    )
    fused = q_hybrid_rrf_topk(spark, sf_dir).select(
        F.lit("rrf").alias("method"),
        "doc_id",
        F.col("fused_rank").alias("rank"),
        F.col("rrf_score").alias("score"),
        "n_lists",
    )
    return lex.unionByName(fused)


def _sql_retrieval_fusion() -> str:
    return f"""
SELECT 'bm25' AS method, doc_id, rank, score, NULL::BIGINT AS n_lists
FROM ({_sql_bm25()})
UNION ALL
SELECT 'rrf' AS method, doc_id, fused_rank AS rank, rrf_score AS score, n_lists
FROM ({_sql_hybrid_rrf()})
"""


def q_gopher_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-gate metrics AND Appendix-A repetition signals per
    document (merges gopher_quality/gopher_repetition)."""
    ql = q_gopher_quality(spark, sf_dir).withColumnRenamed("keep", "quality_keep")
    qr = q_gopher_repetition(spark, sf_dir).withColumnRenamed(
        "keep", "repetition_keep"
    )
    return ql.join(qr, "doc_id")


def _sql_gopher_signals() -> str:
    return f"""
SELECT doc_id,
       q.n_words, q.mean_word_len, q.symbol_ratio, q.bullet_ratio,
       q.ellipsis_ratio, q.alpha_word_ratio, q.n_stopwords,
       q.keep AS quality_keep,
       r.dup_line_frac, r.dup_line_char_frac, r.dup_para_frac,
       r.dup_para_char_frac, r.top_2gram_char_frac, r.top_3gram_char_frac,
       r.top_4gram_char_frac, r.dup_5gram_char_frac, r.dup_6gram_char_frac,
       r.dup_7gram_char_frac, r.dup_8gram_char_frac, r.dup_9gram_char_frac,
       r.dup_10gram_char_frac, r.keep AS repetition_keep
FROM ({_sql_gopher_quality()}) q JOIN ({_sql_gopher_repetition()}) r
USING (doc_id)
"""


def q_ngram_logprobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram AND bigram corpus-LM quality proxies in one row (round-11
    merge of the former unigram_logprob/bigram_logprob registry entries;
    single-token docs have no bigram side and keep nulls there)."""
    u = q_unigram_logprob(spark, sf_dir).select(
        "doc_id", "n_tokens", F.col("avg_logprob").alias("uni_avg_logprob")
    )
    b = q_bigram_logprob(spark, sf_dir).select(
        "doc_id", "n_bigrams", F.col("avg_logprob").alias("bi_avg_logprob")
    )
    return u.join(b, "doc_id", "left")


def _sql_ngram_logprobs() -> str:
    return f"""
SELECT doc_id, u.n_tokens, u.avg_logprob AS uni_avg_logprob,
       b.n_bigrams, b.avg_logprob AS bi_avg_logprob
FROM ({_sql_unigram_logprob()}) u LEFT JOIN ({_sql_bigram_logprob()}) b
USING (doc_id)
"""


def q_span_dedup_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-level duplicate spans AND per-document span exposure in one
    frame (round-11 merge of duplicate_spans/span_dedup_stats — both
    ride the same shared-gram CTE): ``kind='span'`` rows carry
    ``(a=id_a, b=id_b, v1=start_a, v2=start_b, v3=span_tokens)``;
    ``kind='doc'`` rows carry ``(a=doc_id, v1=n_tokens, v2=dup_spans,
    v3=dup_span_tokens, v4=max_span)``."""
    s = q_duplicate_spans(spark, sf_dir).select(
        F.lit("span").alias("kind"),
        F.col("id_a").cast("long").alias("a"),
        F.col("id_b").cast("long").alias("b"),
        F.col("start_a").alias("v1"),
        F.col("start_b").alias("v2"),
        F.col("span_tokens").alias("v3"),
        F.lit(None).cast("long").alias("v4"),
    )
    d = q_span_dedup_stats(spark, sf_dir).select(
        F.lit("doc").alias("kind"),
        F.col("doc_id").cast("long").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.col("n_tokens").alias("v1"),
        F.col("dup_spans").alias("v2"),
        F.col("dup_span_tokens").alias("v3"),
        F.col("max_span").alias("v4"),
    )
    return s.unionByName(d)


def _sql_span_dedup_combined() -> str:
    return f"""
SELECT 'span' AS kind, id_a::BIGINT AS a, id_b::BIGINT AS b,
       start_a AS v1, start_b AS v2, span_tokens AS v3,
       NULL::BIGINT AS v4
FROM ({_sql_duplicate_spans()})
UNION ALL
SELECT 'doc' AS kind, doc_id::BIGINT AS a, NULL::BIGINT AS b,
       n_tokens AS v1, dup_spans AS v2, dup_span_tokens AS v3,
       max_span AS v4
FROM ({_sql_span_dedup_stats()})
"""


# --- round-11 (extended round 12): script-aware quality gates over a
# deterministically re-scripted corpus (the testdata text is all-ASCII,
# so zh-tagged docs are translated char-for-char into Han, fr-tagged
# into Hiragana, es-tagged into Thai or Lao by doc_id parity, de-tagged
# into Khmer / Myanmar / Tibetan by doc_id mod 3 — translate() deletes
# the space, producing genuinely unsegmented text; en stays Latin as
# the byte-identity control).  26-char alphabets; the scripts whose
# alphabets don't naturally contain the multi-char function particles
# get them appended so the script-aware stopword check has material.
_CJK_LATIN = "abcdefghijklmnopqrstuvwxyz "
_CJK_HAN = "的一是了在和不人有上中大来国个到说们为子与就那要下出"
_CJK_KANA = "のはをにがたなかでしてもこれそあうえきくけさすせつと"
_CJK_THAI = "กขคงจชซดตทนบปผพฟมยรลวสหอะเ"
_CJK_LAO = "ກຂຄງຈສຊຍດຕຖທນບປຜຝພຟມຢຣລວຫອ"
_CJK_KHMER = "កខគឃងចឆជឈញដឋឌឍណតថទធនបផពភមយ"
_CJK_MYANMAR = "ကခဂဃငစဆဇဈညဋဌဍဎဏတထဒဓနပဖဗဘမယ"
_CJK_TIBETAN = "ཀཁགངཅཆཇཉཏཐདནཔཕབམཙཚཛཝཞཟའཡརལ"
_CJK_BREAK_AT = 60  # newline injected after this many chars (2 lines)


def _cjk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    lang, did = F.col("lang"), F.col("doc_id")
    body = (
        F.when(lang == "zh", F.translate(low, _CJK_LATIN, _CJK_HAN))
        .when(lang == "fr", F.translate(low, _CJK_LATIN, _CJK_KANA))
        .when(
            (lang == "es") & (did % 2 == 0),
            F.concat(F.translate(low, _CJK_LATIN, _CJK_THAI), F.lit("ที่ของ")),
        )
        .when(
            lang == "es",
            F.concat(F.translate(low, _CJK_LATIN, _CJK_LAO), F.lit("ແລະຂອງ")),
        )
        .when(
            (lang == "de") & (did % 3 == 0),
            F.concat(F.translate(low, _CJK_LATIN, _CJK_KHMER), F.lit("នៃនិង")),
        )
        .when(
            (lang == "de") & (did % 3 == 1),
            F.concat(
                F.translate(low, _CJK_LATIN, _CJK_MYANMAR), F.lit("သည်ကို")
            ),
        )
        .when(
            lang == "de",
            F.concat(
                F.translate(low, _CJK_LATIN, _CJK_TIBETAN), F.lit("དང་ཡིན")
            ),
        )
        .otherwise(F.col("text"))
    )
    # half the docs of every variant end in their script's terminal
    # punctuation (ASCII '.' for Latin/Thai/Lao), the other half in
    # nothing — both C4 terminal-rule branches exercised per script
    terminal = (
        F.when(lang.isin("zh", "fr"), F.lit("。"))
        .when((lang == "de") & (did % 3 == 0), F.lit("។"))
        .when((lang == "de") & (did % 3 == 1), F.lit("။"))
        .when(lang == "de", F.lit("།"))
        .otherwise(F.lit("."))
    )
    text = F.concat(
        F.substring(body, 1, _CJK_BREAK_AT),
        F.lit("\n"),
        F.substring(body, _CJK_BREAK_AT + 1, 1_000_000),
        F.when(did % 2 == 0, terminal).otherwise(F.lit("")),
    )
    return docs.select("doc_id", "lang", text.alias("text"))


def q_cjk_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-aware Gopher gate metrics AND C4 line survival AND the
    r12 multilingual quality composite over the re-scripted corpus
    (operators/gopher.py::_script_metrics_from, operators/c4.py
    script_aware line rules, functions/text.py::
    quality_score_multilingual): unsegmented-script docs (Han / Kana /
    Thai / Lao / Khmer / Myanmar / Tibetan since r12) are judged by
    the character word proxy, Latin docs byte-identically to the plain
    gates — the round-10 verdict's #1 gap, oracle-paired."""
    from hermes_spark.functions.text import quality_score_multilingual
    from hermes_spark.operators.c4 import c4_line_stats
    from hermes_spark.operators.gopher import gopher_quality_flags

    corpus = _cjk_corpus(spark, sf_dir)
    g = gopher_quality_flags(
        corpus, "doc_id", "text",
        min_words=GOPHER_MIN_WORDS, min_stopwords=1, script_aware=True,
    )
    c = c4_line_stats(corpus, "doc_id", "text", script_aware=True)
    lang = corpus.select(
        "doc_id", "lang",
        quality_score_multilingual(F.col("text")).alias("mquality"),
    )
    return lang.join(g, "doc_id").join(c, "doc_id")


def _sql_cjk_quality_gates() -> str:
    from hermes_spark.functions.text import (
        ASCII_UNIT_WEIGHT,
        NO_TERMINAL_SCRIPTS,
        UNSEG_UNIT_LCM,
        UNSEG_UNIT_WEIGHTS,
        UNSEGMENTED_CLASS,
        UNSEGMENTED_PARTICLES,
        UNSEGMENTED_SCRIPTS,
    )
    from hermes_spark.operators.c4 import C4_LINE_MARKERS
    from hermes_spark.operators.gopher import GOPHER_STOPWORDS

    stop_list = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    particles = " + ".join(
        f"contains(text, '{p}')::BIGINT" for p in UNSEGMENTED_PARTICLES
    )
    marker_sql = " OR ".join(
        f"contains(lower(trim(l)), '{m}')" for m in C4_LINE_MARKERS
    )
    ws = "[ \\t\\n\\f\\r\\x0b]+"
    terminal = "'[.!?\"' || chr(39) || ']$'"

    # per-script counts + exact lcm-scaled units, generated from the
    # same UNSEGMENTED_SCRIPTS table the Spark expressions derive from
    def _cnt(src: str, cls: str) -> str:
        return f"len(regexp_extract_all({src}, '{cls}', 0))"

    def _units(src: str, with_ascii: bool) -> str:
        terms = [
            f"{_cnt(src, cls)} * {UNSEG_UNIT_WEIGHTS[n]}"
            for n, (cls, _) in UNSEGMENTED_SCRIPTS.items()
        ]
        if with_ascii:
            terms.append(f"{_cnt(src, '[A-Za-z]')} * {ASCII_UNIT_WEIGHT}")
        return (
            f"CAST(floor(({' + '.join(terms)}) / {UNSEG_UNIT_LCM}) AS BIGINT)"
        )

    # per-line script-aware keep rule (mirror of c4._keep_line with
    # script_aware=True; min_line_words=3, no-terminal length clause
    # max(3,5)=5; units include ASCII words at 2 chars/word — r12)
    units_l = _units("trim(l)", with_ascii=True)
    no_term_l = " + ".join(
        _cnt("trim(l)", UNSEGMENTED_SCRIPTS[n][0]) for n in NO_TERMINAL_SCRIPTS
    )
    term_l = " + ".join(
        _cnt("trim(l)", cls)
        for n, (cls, _) in UNSEGMENTED_SCRIPTS.items()
        if n not in NO_TERMINAL_SCRIPTS
    )
    keep_line = f"""l -> CASE
      WHEN len(regexp_extract_all(trim(l), '{UNSEGMENTED_CLASS}', 0))::DOUBLE
           / greatest(length(regexp_replace(trim(l), '{ws}', '', 'g')), 1)::DOUBLE
           >= 0.3
      THEN (regexp_matches(trim(l), {terminal})
            OR regexp_matches(trim(l), '[。！？…」』។៕။།༎]$')
            OR (({no_term_l}) > ({term_l}) AND {units_l} >= 5))
           AND {units_l} >= 3 AND NOT ({marker_sql})
      ELSE regexp_matches(trim(l), {terminal})
           AND len(regexp_split_to_array(trim(l), '\\s+')) >= 3
           AND NOT ({marker_sql})
      END"""
    script_cnt_defs = ", ".join(
        f"{_cnt('text', cls)}::BIGINT AS c_{n}"
        for n, (cls, _) in UNSEGMENTED_SCRIPTS.items()
    )
    letter_sum = " + ".join(f"c_{n}" for n in UNSEGMENTED_SCRIPTS) + " + al"
    unit_terms = " + ".join(
        f"c_{n} * {UNSEG_UNIT_WEIGHTS[n]}" for n in UNSEGMENTED_SCRIPTS
    )
    # r12 multilingual quality composite (functions/text.py::
    # quality_score_multilingual) — base branch copied from the proven
    # _sql_text_stats quality shape, unseg branch from the same script
    # tables as the gates; all over trim(text) like the Spark function
    stopq = ", ".join(f"'{s}'" for s in ENGLISH_STOPWORDS)
    tq = "trim(text)"
    toksq = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    q_base = f"""round((
        least(length({tq})::DOUBLE, 2000.0) / 2000.0
      + length(regexp_replace({tq}, '[^A-Za-z ]', '', 'g'))::DOUBLE / greatest(length({tq}), 1)
      + least(len(list_filter({toksq}, x -> x IN ({stopq})))::DOUBLE / greatest(len({toksq}), 1), 0.5) * 2.0
      + CASE WHEN (length({tq}) - (len({toksq}) - 1))::DOUBLE / greatest(len({toksq}), 1) BETWEEN 3 AND 10
             THEN 1.0 ELSE 0.5 END
    ) / 4.0, 6)"""
    letters_q = " + ".join(
        _cnt(tq, cls) for cls, _ in UNSEGMENTED_SCRIPTS.values()
    )
    units_q = (
        "CAST(floor(("
        + " + ".join(
            f"{_cnt(tq, cls)} * {UNSEG_UNIT_WEIGHTS[n]}"
            for n, (cls, _) in UNSEGMENTED_SCRIPTS.items()
        )
        + f") / {UNSEG_UNIT_LCM}) AS BIGINT)"
    )
    particles_q = " + ".join(
        f"contains({tq}, '{p}')::BIGINT" for p in UNSEGMENTED_PARTICLES
    )
    q_unseg = f"""round((
        least(length({tq})::DOUBLE, 2000.0) / 2000.0
      + (({letters_q}) + length(regexp_replace({tq}, '[^A-Za-z ]', '', 'g')))::DOUBLE
        / greatest(length({tq}), 1)::DOUBLE
      + least(({particles_q})::DOUBLE / 5.0, 1.0)
      + CASE WHEN {units_q} >= 3 THEN 1.0 ELSE 0.5 END
    ) / 4.0, 6)"""
    unseg_q = (
        f"round(len(regexp_extract_all({tq}, '{UNSEGMENTED_CLASS}', 0))::DOUBLE"
        f" / greatest(length(regexp_replace({tq}, '{ws}', '', 'g')), 1)::DOUBLE, 6)"
        " >= 0.3"
    )
    return f"""
WITH base AS (
  SELECT doc_id, lang, lower(text) AS lt, text AS orig FROM documents
), scripted AS (
  SELECT doc_id, lang,
         CASE WHEN lang = 'zh' THEN translate(lt, '{_CJK_LATIN}', '{_CJK_HAN}')
              WHEN lang = 'fr' THEN translate(lt, '{_CJK_LATIN}', '{_CJK_KANA}')
              WHEN lang = 'es' AND doc_id % 2 = 0
                   THEN translate(lt, '{_CJK_LATIN}', '{_CJK_THAI}') || 'ที่ของ'
              WHEN lang = 'es'
                   THEN translate(lt, '{_CJK_LATIN}', '{_CJK_LAO}') || 'ແລະຂອງ'
              WHEN lang = 'de' AND doc_id % 3 = 0
                   THEN translate(lt, '{_CJK_LATIN}', '{_CJK_KHMER}') || 'នៃនិង'
              WHEN lang = 'de' AND doc_id % 3 = 1
                   THEN translate(lt, '{_CJK_LATIN}', '{_CJK_MYANMAR}') || 'သည်ကို'
              WHEN lang = 'de'
                   THEN translate(lt, '{_CJK_LATIN}', '{_CJK_TIBETAN}') || 'དང་ཡིན'
              ELSE orig END AS b
  FROM base
), corpus AS (
  SELECT doc_id, lang,
         substr(b, 1, {_CJK_BREAK_AT}) || chr(10) || substr(b, {_CJK_BREAK_AT + 1}, 1000000)
         || CASE WHEN doc_id % 2 = 0
                 THEN CASE WHEN lang IN ('zh', 'fr') THEN '。'
                           WHEN lang = 'de' AND doc_id % 3 = 0 THEN '។'
                           WHEN lang = 'de' AND doc_id % 3 = 1 THEN '။'
                           WHEN lang = 'de' THEN '།'
                           ELSE '.' END
                 ELSE '' END AS text
  FROM scripted
), feats AS (
  SELECT doc_id, lang, text,
         regexp_split_to_array(trim(text), '\\s+') AS toks,
         list_filter(string_split(text, chr(10)), l -> trim(l) != '') AS lines
  FROM corpus
), m AS (
  SELECT doc_id, lang, text, lines,
         len(toks)::BIGINT AS n_words_ws,
         greatest(len(toks), 1)::DOUBLE AS nw,
         coalesce(list_sum(list_transform(toks, t -> length(t))), 0)::DOUBLE AS tok_chars,
         (length(text) - length(regexp_replace(text, '#', '', 'g'))
          + len(regexp_extract_all(text, '\\.{{3}}|…', 0)))::BIGINT AS n_symbols,
         greatest(len(lines), 1)::DOUBLE AS n_lines,
         len(list_filter(lines, l -> starts_with(trim(l), '- ')
                                  OR starts_with(trim(l), '* ')
                                  OR starts_with(trim(l), '•')))::DOUBLE AS n_bullet,
         len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.{{3}}|…)$')))::DOUBLE AS n_ell,
         len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE AS n_alpha,
         len(list_distinct(list_filter(list_transform(toks, t -> lower(t)),
                                       t -> list_contains([{stop_list}], t))))::BIGINT AS n_stop_ws,
         {script_cnt_defs},
         len(regexp_extract_all(text, '[A-Za-z]', 0))::BIGINT AS al,
         len(regexp_extract_all(text, '{UNSEGMENTED_CLASS}', 0))::BIGINT AS unseg_n,
         greatest(length(regexp_replace(text, '{ws}', '', 'g')), 1)::BIGINT AS nonspace,
         ({particles})::BIGINT AS n_particles
  FROM feats
), sm AS (
  SELECT doc_id, lang,
         round(unseg_n::DOUBLE / nonspace::DOUBLE, 6) >= 0.3 AS unsegmented,
         CAST(floor(({unit_terms} + al * {ASCII_UNIT_WEIGHT}) / {UNSEG_UNIT_LCM}) AS BIGINT) AS n_units,
         ({letter_sum})::BIGINT AS letter_chars,
         n_words_ws, nw, tok_chars, n_symbols, n_lines, n_bullet, n_ell,
         n_alpha, n_stop_ws, n_particles, nonspace
  FROM m
), r AS (
  SELECT doc_id, lang, unsegmented,
         CASE WHEN unsegmented THEN n_units ELSE n_words_ws END AS n_words,
         CASE WHEN unsegmented
              THEN round(letter_chars::DOUBLE / greatest(n_units, 1)::DOUBLE, 6)
              ELSE round(tok_chars / nw, 6) END AS mean_word_len,
         CASE WHEN unsegmented
              THEN round(n_symbols::DOUBLE / greatest(n_units, 1)::DOUBLE, 6)
              ELSE round(n_symbols::DOUBLE / nw, 6) END AS symbol_ratio,
         round(n_bullet / n_lines, 6) AS bullet_ratio,
         round(n_ell / n_lines, 6) AS ellipsis_ratio,
         CASE WHEN unsegmented
              THEN round(letter_chars::DOUBLE / nonspace::DOUBLE, 6)
              ELSE round(n_alpha / nw, 6) END AS alpha_word_ratio,
         CASE WHEN unsegmented THEN n_particles ELSE n_stop_ws END AS n_stopwords
  FROM sm
), g AS (
  SELECT doc_id, lang, unsegmented, n_words, mean_word_len,
         symbol_ratio, bullet_ratio, ellipsis_ratio, alpha_word_ratio,
         n_stopwords,
         (n_words >= {GOPHER_MIN_WORDS} AND n_words <= 100000
          AND (unsegmented OR (mean_word_len >= 3.0 AND mean_word_len <= 10.0))
          AND symbol_ratio <= 0.1
          AND bullet_ratio <= 0.9
          AND ellipsis_ratio <= 0.3
          AND alpha_word_ratio >= 0.8
          AND n_stopwords >= 1) AS keep
  FROM r
), c AS (
  SELECT doc_id,
         len(lines)::BIGINT AS n_lines_in,
         len(list_filter(lines, {keep_line}))::BIGINT AS n_lines_kept,
         (contains(lower(text), '{{') OR contains(lower(text), '}}')
          OR contains(lower(text), 'lorem ipsum')) AS doc_poisoned
  FROM feats
), mq AS (
  SELECT doc_id,
         CASE WHEN {unseg_q} THEN {q_unseg} ELSE {q_base} END AS mquality
  FROM corpus
)
SELECT g.doc_id, g.lang, mq.mquality, g.unsegmented, g.n_words,
       g.mean_word_len, g.symbol_ratio, g.bullet_ratio, g.ellipsis_ratio,
       g.alpha_word_ratio, g.n_stopwords, g.keep,
       c.n_lines_in, c.n_lines_kept,
       round(c.n_lines_kept::DOUBLE / greatest(c.n_lines_in, 1)::DOUBLE, 6) AS keep_ratio,
       c.doc_poisoned
FROM g JOIN c USING (doc_id) JOIN mq USING (doc_id)
"""


def q_lm_by_lang_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language CCNet filter (operators/lm.py round 11): train one
    capped-vocab bigram LM per language on the even-doc_id half, score
    the odd half under each doc's OWN language model (arrow engine —
    broadcast per-lang numpy tables), bucket head/middle/tail WITHIN
    each language.  Mirrors q_lm_perplexity_buckets with every stage
    keyed by lang."""
    from hermes_spark.operators import (
        lm_score_by_lang, lm_train_by_lang, perplexity_ntile,
    )

    docs = _read(spark, sf_dir, "documents")
    lm = lm_train_by_lang(
        docs.filter(F.col("doc_id") % 2 == 0), vocab_size=LM_VOCAB
    )
    scored = lm_score_by_lang(
        docs.filter(F.col("doc_id") % 2 == 1),
        lm,
        k_num=LM_K_NUM,
        k_den=LM_K_DEN,
        broadcast_model=True,
    )
    return perplexity_ntile(scored, by=("lang",))


def _sql_lm_by_lang_buckets() -> str:
    """Per-language mirror of _sql_lm_perplexity_buckets: vocab
    selection, OOV collapse, smoothing denominator (per-lang V+1) and
    the ntile window all keyed by lang."""
    return f"""
WITH tr AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0),
tg AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 1),
trt AS (
  SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM tr WHERE trim(lower(text)) <> ''
),
vocab AS (
  SELECT lang, term FROM (
    SELECT lang, term, count(*) AS cnt FROM trt WHERE term <> '' GROUP BY 1, 2
  ) QUALIFY row_number() OVER (
      PARTITION BY lang ORDER BY cnt DESC, term ASC) <= {LM_VOCAB}
),
nv AS (SELECT lang, count(*) AS v FROM vocab GROUP BY 1),
tr_toks AS (
  SELECT doc_id, lang, unnest(lst) AS term,
         unnest(range(1, len(lst) + 1)) AS pos
  FROM (
    SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\\s+') AS lst
    FROM tr WHERE trim(lower(text)) <> ''
  )
),
tr_mapped AS (
  SELECT t.doc_id, t.lang, t.pos,
         CASE WHEN v.term IS NOT NULL THEN t.term ELSE '<unk>' END AS term
  FROM tr_toks t LEFT JOIN vocab v ON t.lang = v.lang AND t.term = v.term
  WHERE t.term <> ''
),
tr_bg AS (
  SELECT doc_id, lang, prev, cur FROM (
    SELECT doc_id, lang,
           lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
           term AS cur
    FROM tr_mapped
  ) WHERE prev IS NOT NULL
),
bc AS (SELECT lang, prev, cur, count(*) AS cnt FROM tr_bg GROUP BY 1, 2, 3),
cc AS (SELECT lang, prev, count(*) AS ctx_cnt FROM tr_bg GROUP BY 1, 2),
tg_toks AS (
  SELECT doc_id, lang, unnest(lst) AS term,
         unnest(range(1, len(lst) + 1)) AS pos
  FROM (
    SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\\s+') AS lst
    FROM tg WHERE trim(lower(text)) <> ''
  )
),
tg_mapped AS (
  SELECT t.doc_id, t.lang, t.pos,
         CASE WHEN v.term IS NOT NULL THEN t.term ELSE '<unk>' END AS term
  FROM tg_toks t LEFT JOIN vocab v ON t.lang = v.lang AND t.term = v.term
  WHERE t.term <> ''
),
tg_bg AS (
  SELECT doc_id, lang, prev, cur FROM (
    SELECT doc_id, lang,
           lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
           term AS cur
    FROM tg_mapped
  ) WHERE prev IS NOT NULL
),
terms AS (
  SELECT g.doc_id, g.lang,
         CAST(round(ln(
           ({LM_K_DEN} * coalesce(bc.cnt, 0) + {LM_K_NUM})::DOUBLE
           / ({LM_K_DEN} * coalesce(cc.ctx_cnt, 0)
              + {LM_K_NUM} * (nv.v + 1))::DOUBLE
         ) * 1000000.0) AS BIGINT) AS t
  FROM tg_bg g
  LEFT JOIN bc ON g.lang = bc.lang AND g.prev = bc.prev AND g.cur = bc.cur
  LEFT JOIN cc ON g.lang = cc.lang AND g.prev = cc.prev
  JOIN nv ON g.lang = nv.lang
),
scored AS (
  SELECT doc_id, lang, count(*)::BIGINT AS n_bigrams,
         round(sum(t) / (1000000.0 * count(*)), 6) AS avg_logprob
  FROM terms GROUP BY 1, 2
)
SELECT doc_id, lang, n_bigrams, avg_logprob,
       CASE ntile(3) OVER (PARTITION BY lang
                           ORDER BY avg_logprob DESC, doc_id ASC)
         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS ppl_bucket
FROM scored
"""


# Round-6 oracle window (output of tools/rotate_window.py with
# CORRECTNESS_r01..r05 present): every query has a green driver row, so
# the window is pure staleness rotation — last-green r1/r2 entries
# first (event rollups, the TPC-H long tail, winnowing/packing),
# freshest-verified last.  This round's behavior-modified queries
# (minhash_lsh_pairs, near_dup_components*, jaccard/containment pairs,
# events_psi_drift) are all latest-green r4/r5 AND locally re-verified
# against the DuckDB oracles at sf0.01 after the changes.
# Window saturation note (round 6): six new sketch/gopher queries + 47
# r3-stale entries = 53 candidates for 50 slots — unsatisfiable for one
# round (the 3-round rotation rebalances to exactly 50/50/50 from round
# 7).  The window holds ALL 47 stale entries plus the three new queries
# whose oracles carry float arithmetic (the riskiest hash matches:
# hll/kmv/quantiles); the three integer-exact or join-identical new ones
# (cms_heavy_users, bloom_join_parts, gopher_quality) wait below the
# fold for round 7, covered meanwhile by a RECORDED local oracle check
# (tools/check_oracles.py --record → LOCAL_CHECK.json, which the
# rotation gate verifies and reports).
_WINDOW_ORDER = [
    # r12 window: exactly tools/rotate_window.py's recommendation at
    # round start (the r9-stale cohort — registry steady at 150, no
    # adds/merges this round, so the recommendation is taken verbatim
    # and the 3-round staleness bound holds).
    "hll_distinct_orders", "kmv_flag_overlap", "events_value_quantiles",
    "simhash_near_dups", "vocab_top_terms", "text_hash_buckets",
    "blocking_pairs", "text_stats", "ann_cosine_topk",
    "ann_cosine_topk_vec", "ivf_assign", "embedding_near_dup",
    "ivf_topk", "flatten_nested", "near_dup_components", "except_all",
    "compare_metrics_nokeys", "compare_cherry_pick",
    "near_dup_components_star", "q6_forecast_revenue",
    "topk_orders_per_customer", "docs_quality_filter",
    "curation_pipeline", "events_hourly_rollup", "events_json_extract",
    "sessionize_events", "windowed_rollup", "events_sliding_rollup",
    "events_cube", "events_pivot", "user_session_stats",
    "asof_join_rates", "events_quantiles", "gapfill_rollup",
    "range_join_windows", "stratified_sample", "scrub_pii",
    "repetition_ratio", "strip_boilerplate", "events_user_skew",
    "events_profile", "q2_min_cost_supplier", "q4_priority_exists",
    "q7_volume_shipping", "q8_market_share", "q9_product_profit",
    "q11_important_parts", "q12_late_shipments",
    "q13_order_distribution", "q15_top_supplier",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = _all_queries()
    missing = [n for n in _WINDOW_ORDER if n not in q]
    if missing:
        raise KeyError(f"_WINDOW_ORDER names unknown queries: {missing}")
    ordered = {n: q[n] for n in _WINDOW_ORDER}
    ordered.update((n, f) for n, f in q.items() if n not in ordered)
    return ordered


def oracle_sql() -> dict[str, str]:
    orders_cols = ", ".join(ORDERS_COLS)
    return {
        # round-10 merged entries (see the q_* docstrings for lineage)
        "entropy_stats": _sql_entropy_stats(),
        "events_hourly_signals": _sql_events_hourly_signals(),
        "events_robust_values": _sql_events_robust_values(),
        "pagerank_degrees": _sql_pagerank_degrees(),
        "retrieval_fusion": _sql_retrieval_fusion(),
        "gopher_signals": _sql_gopher_signals(),
        "hll_distinct_orders": _sql_hll_distinct(),
        "kmv_flag_overlap": _sql_kmv_flag_overlap(),
        "bloom_join_parts": _SQL_BLOOM_JOIN_PARTS,
        "events_value_quantiles": _sql_events_value_quantiles(),
        "c4_line_stats": _sql_c4_line_stats(),
        "epoch_mix_docs": _sql_epoch_mix_docs(),
        "logreg_quality_train": _sql_logreg_quality_train(),
        "retrieval_eval_ivf": _sql_retrieval_eval_ivf(),
        "bpe_encode_stats": _sql_bpe_encode_stats(),
        "edit_near_pairs": _sql_edit_near_pairs(),
        "lm_perplexity_buckets": _sql_lm_perplexity_buckets(),
        "chat_stats_docs": _sql_chat_stats_docs(),
        "clean_text_docs": _sql_clean_text_docs(),
        "join_size_cms": _sql_join_size_cms(),
        "bloom_engage_cms": _sql_bloom_engage_cms(),
        "dedup_keep_best": _sql_dedup_keep_best(),
        "compare_metrics": _sql_compare_metrics(),
        "compare_diff": _sql_compare_diff(),
        "dedup_duplicate_keys": """
SELECT count(*)::BIGINT AS dup_key_count
FROM (SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2 HAVING count(*) >= 2)
""",
        "except_distinct": """
SELECT * FROM lineitem
EXCEPT
SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
       CASE WHEN l_orderkey % 193 = 0 THEN l_quantity * 2 ELSE l_quantity END AS l_quantity,
       l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
FROM lineitem
""",
        "key_hash_md5": """
SELECT o_orderkey,
       md5(concat_ws('|', o_orderkey::VARCHAR, o_custkey::VARCHAR)) AS row_key
FROM orders
""",
        "sort_aligned_projection": """
SELECT c_acctbal, c_custkey, c_mktsegment, c_name, c_nationkey FROM customer
""",
        "flatten_nested": """
SELECT o_orderkey AS id, o_custkey AS info_cust, o_totalprice AS info_od_price,
       o_orderstatus AS info_od_status, o_orderpriority AS tags_0,
       o_orderstatus AS tags_1
FROM orders
""",
        "q1_pricing_summary": _sql_q1(),
        "q3_shipping_priority": _sql_q3(),
        "q5_nation_revenue": _sql_q5(),
        "q10_returned_items": _SQL_Q10,
        "q18_large_orders": _SQL_Q18,
        "q14_promo_share": _SQL_Q14,
        "customer_running_totals": _SQL_RUNNING_TOTALS,
        "events_hourly_rollup": """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*)::BIGINT AS n_events, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
""",
        "events_json_extract": """
SELECT (props::JSON ->> 'k')::BIGINT AS k, count(*)::BIGINT AS n_events
FROM events GROUP BY 1
""",
        "dedup_exact_docs": _sql_dedup_exact(),
        "dedup_incremental_docs": _sql_dedup_incremental(),
        "dedup_clusters": _sql_dedup_clusters(),
        "minhash_lsh_pairs": _sql_minhash(),
        "ngram_jaccard_pairs": _sql_ngram_jaccard(),
        "simhash_fingerprints": _sql_simhash(),
        "simhash_near_dups": _sql_simhash_near_dups(),
        "split_assign": _sql_split_assign(),
        "source_overlap": _sql_source_overlap(),
        "length_curriculum": _SQL_LENGTH_CURRICULUM,
        "semantic_dedup": _sql_semantic_dedup(),
        "multimodal_image_features": _sql_multimodal_image_features(),
        "funnel_counts": _sql_funnel_counts(),
        "cohort_retention": _SQL_COHORT_RETENTION,
        "cdc_latest": _SQL_CDC_LATEST,
        "linkage_scores": _sql_linkage_scores(),
        "link_stats": _SQL_LINK_STATS,
        "rebalance_mix": _sql_rebalance_mix(),
        "sq8_topk": _sql_sq8_topk(),
        "pq_topk": _sql_pq_topk(),
        "kmeans_ivf_topk": _sql_kmeans_ivf_topk(),
        "mmr_select": _sql_mmr_select(),
        "source_cap_docs": _sql_source_cap(),
        "quality_gate_docs": _sql_quality_gate(),
        "oov_rate_docs": _sql_oov_rate(),
        "training_order_docs": _sql_training_order(),
        "jaccard_pairs_exact": _sql_jaccard_pairs(),
        "events_collapsed_runs": _sql_collapsed_runs(),
        "events_psi_drift": _sql_events_psi(),
        "dup_rate_by_source": _SQL_DUP_RATE_BY_SOURCE,
        "containment_pairs": _sql_containment_pairs(),
        "ivf_sq8_topk": _sql_ivf_sq8_topk(),
        "ngram_novelty": _sql_ngram_novelty(),
        "quality_classifier": _sql_quality_classifier(),
        "random_projection": _sql_random_projection(),
        "dsir_weights": _sql_dsir_weights(),
        "temperature_mix": _sql_temperature_mix(),
        "semantic_decontaminate": _sql_semantic_decontaminate(),
        "span_dedup_combined": _sql_span_dedup_combined(),
        "hard_negatives": _sql_hard_negatives(),
        "pmi_collocations": _sql_pmi_collocations(),
        "scd2_lookup_orders": _SQL_SCD2_LOOKUP,
        "incremental_rollup": _SQL_INCREMENTAL_ROLLUP,
        "data_quality_orders": _SQL_DATA_QUALITY,
        "ivf_rescore_topk": _sql_ivf_rescore_topk(),
        "event_transitions": _SQL_EVENT_TRANSITIONS,
        "length_deciles": _SQL_LENGTH_DECILES,
        "embedding_standardize": _SQL_EMBED_STANDARDIZE,
        "strip_html_docs": _sql_strip_html(),
        "main_content_docs": _sql_main_content(),
        "outlinks_docs": _SQL_OUTLINKS_DOCS,
        "host_link_graph": _SQL_HOST_LINK_GRAPH,
        "weighted_sample_docs": _sql_weighted_sample(),
        "lang_id": _sql_lang_id(),
        "tfidf_topk_terms": _sql_tfidf_topk_terms(),
        "ngram_logprobs": _sql_ngram_logprobs(),
        "cjk_quality_gates": _sql_cjk_quality_gates(),
        "lm_by_lang_buckets": _sql_lm_by_lang_buckets(),
        "vocab_top_terms": _sql_vocab_top_terms(),
        "text_hash_buckets": _sql_text_hash_buckets(),
        "blocking_pairs": _sql_blocking_pairs(),
        "events_user_skew": _sql_events_user_skew(),
        "events_profile": _sql_events_profile(),
        "text_stats": _sql_text_stats(),
        "ann_cosine_topk": _sql_ann_topk(),
        "ann_cosine_topk_vec": _sql_ann_topk(),
        "ivf_assign": _sql_ivf_assign(),
        "sessionize_events": _sql_sessionize(),
        "embedding_near_dup": _sql_embedding_near_dup(),
        "ivf_topk": _sql_ivf_topk(),
        "except_all": _SQL_EXCEPT_ALL,
        "compare_metrics_nokeys": _SQL_COMPARE_NOKEYS.format(
            mutated=_MUTATED_ORDERS_SQL
        ),
        "compare_cherry_pick": _SQL_COMPARE_CHERRY_PICK.format(
            mutated=_MUTATED_ORDERS_SQL
        ),
        "windowed_rollup": _SQL_WINDOWED_ROLLUP,
        "events_sliding_rollup": _SQL_EVENTS_SLIDING,
        "near_dup_components": _sql_near_dup_components(),
        "near_dup_components_star": _sql_near_dup_components(),
        "events_pivot": _sql_events_pivot(),
        "user_session_stats": _sql_user_session_stats(),
        "curation_pipeline": _sql_curation_pipeline(),
        "asof_join_rates": _SQL_ASOF_JOIN_RATES,
        "events_quantiles": _SQL_EVENTS_QUANTILES,
        "gapfill_rollup": _SQL_GAPFILL_ROLLUP,
        "range_join_windows": _SQL_RANGE_JOIN_WINDOWS,
        "stratified_sample": _sql_stratified_sample(),
        "scrub_pii": _sql_scrub_pii(),
        "repetition_ratio": _SQL_REPETITION,
        "strip_boilerplate": _sql_strip_boilerplate(),
        "q6_forecast_revenue": _SQL_Q6,
        "topk_orders_per_customer": _SQL_TOPK_PER_CUSTOMER,
        "events_cube": _SQL_EVENTS_CUBE,
        "docs_quality_filter": _sql_docs_quality_filter(),
        **TPCH_EXTRA_SQL,
        "winnow_near_dups": _sql_winnow_near_dups(),
        "passage_dup_stats": _sql_passage_dup_stats(),
        "decontaminate": _sql_decontaminate(),
        "pack_sequences": _sql_pack_sequences(),
        "token_chunks": _sql_token_chunks(),
    }
