"""Round-13 optimization tests: the vectorized single-block MD5 must be
bit-identical to hashlib for every message width it accepts, at every
call site (packed shingle codes, grouped strings)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from hermes_spark.functions.hashing import MERSENNE31
from hermes_spark.functions.sigkernel import (
    _hash31_of_codes,
    hash31_np,
    md5_prefix32,
)

from near_dup_reference import simhash_reference


def _loop_prefix32(rows: np.ndarray) -> np.ndarray:
    n, w = rows.shape
    flat = rows.tobytes()
    return np.array(
        [
            int(hashlib.md5(flat[i * w:(i + 1) * w]).hexdigest()[:8], 16)
            for i in range(n)
        ],
        dtype=np.int64,
    )


@pytest.mark.parametrize("width", [0, 1, 2, 3, 4, 7, 8, 16, 31, 54, 55])
def test_md5_prefix32_matches_hashlib_every_width(width):
    rng = np.random.default_rng(width + 1)
    buf = rng.integers(0, 256, size=(257, width), dtype=np.uint8)
    assert (md5_prefix32(buf) == _loop_prefix32(buf)).all()


def test_md5_prefix32_crosses_chunk_boundary():
    from hermes_spark.functions import sigkernel

    n = sigkernel._MD5_CHUNK + 17  # force >1 internal chunk
    rng = np.random.default_rng(99)
    buf = rng.integers(0, 256, size=(n, 3), dtype=np.uint8)
    got = md5_prefix32(buf)
    # spot-check a sample (full loop would dominate the test's runtime)
    idx = rng.integers(0, n, size=200)
    sample = _loop_prefix32(buf[idx])
    assert (got[idx] == sample).all()


def test_md5_prefix32_rejects_multiblock_width():
    with pytest.raises(ValueError):
        md5_prefix32(np.zeros((2, 56), dtype=np.uint8))


def test_hash31_of_codes_portable_matches_reference_recipe():
    rng = np.random.default_rng(7)
    shingle_n = 3
    codes = rng.integers(0, 1 << (8 * shingle_n), size=1000, dtype=np.int64)
    got = _hash31_of_codes(codes, shingle_n, portable=True, seed=42)
    byts = np.empty((len(codes), shingle_n), dtype=np.uint8)
    for k in range(shingle_n):
        byts[:, shingle_n - 1 - k] = (codes >> np.int64(8 * k)) & np.int64(0xFF)
    want = _loop_prefix32(byts) % MERSENNE31
    assert (got == want).all()


def test_hash31_np_portable_all_lengths_incl_multiblock():
    # mixed lengths incl. empty, exactly-55, and >55 (multi-block fallback)
    strings = [
        "",
        "a",
        "abc",
        "x" * 55,
        "y" * 56,
        "z" * 200,
        "héllo wörld",  # non-ASCII UTF-8
        "日本語のテキスト",
    ] * 3
    got = hash31_np(strings, portable=True, seed=42)
    want = np.array(
        [
            int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16) % MERSENNE31
            for s in strings
        ],
        dtype=np.int64,
    )
    assert (got == want).all()


def _simhash_reference_frame(df, portable):
    """{doc_id: simhash} by a plain-Python per-bit majority over the
    collected token-hash arrays (the operator's tokenizer and hash
    expressions, its vote fold left out)."""
    from pyspark.sql import functions as F

    from hermes_spark.functions.hashing import fast_hash64, portable_hash64
    from hermes_spark.functions.text import tokens

    token_hash = portable_hash64 if portable else fast_hash64
    hashed = df.select(
        "doc_id",
        F.transform(
            tokens(F.lower(F.col("text"))), lambda t: token_hash(t)
        ).alias("hs"),
    )
    return {
        r["doc_id"]: simhash_reference(r["hs"], 32) for r in hashed.collect()
    }


def test_simhash_vote_engines_identical(spark):
    """The numpy vote fold must match the plain-Python per-bit majority
    bit-for-bit, including null text, empty/whitespace text, and
    non-ASCII."""
    from hermes_spark.operators.dedup import simhash_fingerprints

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog!"),
        (3, None),
        (4, ""),
        (5, "   "),
        (6, "одно слово и ещё"),
        (7, "日本語 テキスト です"),
        (8, "a"),
        (9, "x " * 200),
        (10, "MiXeD CaSe TeXt MiXeD CaSe"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for portable in (True, False):
        arrow = {
            r["id"]: r["simhash"]
            for r in simhash_fingerprints(
                df, "doc_id", "text", portable=portable
            ).collect()
        }
        assert arrow == _simhash_reference_frame(df, portable)
    assert arrow[3] is None and arrow[4] == arrow[5] == (1 << 32) - 1


def test_simhash_vote_engines_identical_real_corpus(spark, documents):
    from hermes_spark.operators.dedup import simhash_fingerprints

    got = {
        r["id"]: r["simhash"]
        for r in simhash_fingerprints(documents, "doc_id", "text").collect()
    }
    assert got == _simhash_reference_frame(documents, portable=True)


def test_packed_shingles_sizes_match_string_shingles():
    import pyarrow as pa

    from hermes_spark.functions.sigkernel import packed_shingles_from_arrow

    texts = [
        "abcd", None, "", "ab", "日本語テキスト", "aaa", "abcabc",
        "the quick brown fox", "ababababab", "xy", "ñandú ñandú",
    ]

    def ref(s, n):
        if s is None:
            return None
        if len(s) <= n:
            return {s[:n]}
        return {s[i:i + n] for i in range(len(s) - n + 1)}

    for n in (1, 2, 3):
        out = packed_shingles_from_arrow(pa.array(texts), n)
        for i, s in enumerate(texts):
            r = ref(s, n)
            o = out[i].as_py()
            if r is None:
                assert o is None
            else:
                assert len(o) == len(set(o)) == len(r), (n, s)


def test_packed_shingles_injective_across_rows():
    # same string -> same codes; intersection sizes must match exactly
    import pyarrow as pa

    from hermes_spark.functions.sigkernel import packed_shingles_from_arrow

    a, b = "the quick brown fox", "the quick brown dog"
    out = packed_shingles_from_arrow(pa.array([a, b]), 3)
    sa, sb = set(out[0].as_py()), set(out[1].as_py())
    ra = {a[i:i + 3] for i in range(len(a) - 2)}
    rb = {b[i:i + 3] for i in range(len(b) - 2)}
    assert len(sa & sb) == len(ra & rb)
    assert len(sa | sb) == len(ra | rb)


def test_ngram_jaccard_packed_matches_string_path(spark):
    from pyspark.sql import functions as F

    from hermes_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    packed = ngram_jaccard_pairs(
        docs, "doc_id", "text", group_cols=("lang", "source"),
        shingle_n=3, min_jaccard=0.2,
    )
    # shingle_n=4 takes the string path; force the string path at n=3 by
    # reproducing the operator inline with string shingles
    from hermes_spark.functions.hashing import shingles

    on = ["lang", "source"]
    sh = docs.select(
        *on, F.col("doc_id").alias("__id"),
        shingles(F.col("text"), n=3).alias("__sh"),
    )
    left = sh.select(
        *on, F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a"),
        F.pmod(F.hash("__id"), F.lit(16)).alias("__salt"))
    right = sh.select(
        *on, F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b"),
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("__salt"))
    joined = (left.hint("merge").join(right, on=on + ["__salt"]).drop("__salt")
              .filter(F.col("id_a") < F.col("id_b")))
    inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    union = F.size(F.array_union(F.col("__sh_a"), F.col("__sh_b")))
    jac = inter / F.greatest(union, F.lit(1))
    want = (joined.withColumn("jaccard", F.round(jac, 6))
            .filter(F.col("jaccard") >= 0.2).select("id_a", "id_b", "jaccard"))
    assert packed.exceptAll(want).count() == 0
    assert want.exceptAll(packed).count() == 0
