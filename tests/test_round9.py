"""Round-9 additions: the Arrow MinHash signature kernel's
bit-identity contract (xxh64 reference vectors, lane consistency,
kernel signatures vs the public ``minhash_signature`` expression, LSH
pairs vs a plain-Python reference) and the oracle-window gate's
one-round-only saturation-excuse rule."""

import importlib.util
import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from hermes_spark.functions.sigkernel import (
    hash31_np,
    signatures_for_texts,
    signatures_from_arrow,
    xxh64_np,
)
from hermes_spark.operators import minhash_signatures

from near_dup_reference import minhash_pairs_reference

# Spark-produced vectors: F.xxhash64(s) (single column, engine default
# seed 42) — pins the byte-level XXH64 including the <32-byte tail, the
# 4-byte chunk and the 32-byte stripe paths.
SPARK_XXH64_SINGLE = {
    "": -7444071767201028348,
    "a": -8582455328737087284,
    "abc": 1423657621850124518,
    "abcd": -6810745876291105281,
    "abcdefgh": 2470326616177429180,
    "abcdefghi": -7093207067522615973,
    "€uro": -7437061489136389182,
    "日本語": -619341062884681239,
    "0123456789abcdef0123456789abcdefX": 6490393984247241068,
    "a" * 40: 0,  # filled below
}
SPARK_XXH64_SINGLE["a" * 40] = -8273737738657618755


def _xx(b: bytes, seed) -> int:
    buf = (
        np.frombuffer(b, dtype=np.uint8).reshape(1, len(b))
        if b
        else np.zeros((1, 0), dtype=np.uint8)
    )
    return int(xxh64_np(buf, seed).view(np.int64)[0])


def test_xxh64_matches_spark_vectors():
    for s, want in SPARK_XXH64_SINGLE.items():
        assert _xx(s.encode("utf-8"), 42) == want, repr(s)


def test_xxh64_two_field_chaining():
    # F.xxhash64(col, F.lit(42)) = hash the string with seed 42, then
    # the INT literal's 4 LE bytes seeded by that hash (Spark chains
    # fields left-to-right; a Python-int literal is int32)
    import struct

    want = {"abc": -7147881818510587412, "": 3524361793169708440}
    for s, w in want.items():
        inner = xxh64_np(
            np.frombuffer(s.encode(), dtype=np.uint8).reshape(1, -1)
            if s
            else np.zeros((1, 0), np.uint8),
            42,
        )
        got = int(
            xxh64_np(
                np.frombuffer(struct.pack("<i", 42), np.uint8).reshape(1, 4),
                inner,
            ).view(np.int64)[0]
        )
        assert got == w, repr(s)


def test_hash31_range_and_determinism():
    strs = ["", "a", "abc", "日本語", "x" * 100]
    for portable in (True, False):
        h = hash31_np(strs, portable, 42)
        assert ((h >= 0) & (h < 2**31 - 1)).all()
        assert np.array_equal(h, hash31_np(strs, portable, 42))


MIXED = [
    "", "a", "ab", "abc", "abcd", None, "hello world hello world",
    "日本語のテキストです", "€uro sign and emoji 🙂", "aaaaaaaaaaaa",
    "x" * 100, "tab\tnewline\nmix", "  spaces  ", "abc" * 50, "ÅÉÎ",
    # round-10 codepoint-lane pins: Cyrillic, CJK-only, exotic case
    # chars, combining marks, astral-plane run (every branch of the
    # 21-bit pack + utf-8 re-encode in _hash31_of_cp_codes)
    "привет мир привет мир", "中文中文中文中文", "ſKſKſK",
    "áb́ćd", "🙂🙃🙂🙃🙂", "й" * 50,
]


@pytest.mark.parametrize("shingle_n", [1, 3, 5, 9])
@pytest.mark.parametrize("portable", [True, False])
def test_arrow_lanes_agree(shingle_n, portable):
    # batch result == per-row singleton results (lane assignment is
    # batch-dependent; the signature must not be)
    batch = signatures_for_texts(MIXED, shingle_n, 16, portable, 42)
    single = [
        signatures_for_texts([t], shingle_n, 16, portable, 42)[0]
        for t in MIXED
    ]
    assert batch == single
    via_arrow = [
        list(x) if x is not None else None
        for x in signatures_from_arrow(
            pa.array(MIXED), shingle_n, 16, portable, 42
        ).to_pylist()
    ]
    assert via_arrow == batch


@pytest.mark.parametrize("portable", [True, False])
def test_kernel_matches_expression_signatures(spark, portable):
    """The Arrow kernel behind ``minhash_signatures`` equals the public
    expression ``functions.minhash_signature(shingles(text))`` for
    every doc in MIXED, null text included."""
    from hermes_spark.functions import minhash_signature, shingles

    rows = [(i, t) for i, t in enumerate(MIXED)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    e = {
        r["doc_id"]: r["sig"]
        for r in df.select(
            "doc_id",
            minhash_signature(
                shingles(F.col("text"), n=3), num_hashes=16,
                portable=portable,
            ).alias("sig"),
        ).collect()
    }
    a = {
        r["__id"]: r["__sig"]
        for r in minhash_signatures(
            df, "doc_id", "text", num_hashes=16, portable=portable,
        ).collect()
    }
    assert e == a


def test_minhash_pairs_engines_identical(spark):
    """Repetitive docs (seven texts, sixty ids) make every band bucket
    hot: the operator's pairs equal the plain-Python banding reference
    over the same signatures."""
    rows = [
        (i, ("the quick brown fox %d " % (i % 7)) * 6) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    from hermes_spark.operators import minhash_lsh_pairs

    got = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", num_hashes=16, num_bands=4,
            min_jaccard=0.5,
        ).collect()
    }
    sigs = {
        r["__id"]: list(r["__sig"])
        for r in minhash_signatures(df, "doc_id", "text").collect()
    }
    assert got == minhash_pairs_reference(
        sigs, num_bands=4, max_bucket_size=1000, min_jaccard=0.5
    )
    assert len(got) > 0


def _load_rotate_window():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "rotate_window.py",
    )
    spec = importlib.util.spec_from_file_location("rotate_window", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_window_excuse_disjoint_round_over_round():
    rw = _load_rotate_window()
    ledger = {"r8": ["q_a", "q_b"]}
    # q_a was excused last round -> repeat; q_c is fresh -> allowed
    assert rw.repeat_excuses(["q_a", "q_c"], ledger, 9) == ["q_a"]
    assert rw.repeat_excuses(["q_c"], ledger, 9) == []
    # no ledger entry for the previous round -> nothing repeats
    assert rw.repeat_excuses(["q_a"], {}, 9) == []
