"""Perceptual image hashing + near-dup pairs (r12c).

The content-level image dedup family: pHash kernel distances on planted
perturbations (brightness shift, sparse pixel noise, JPEG
recompression), the Spark ``image_phash`` / ``image_near_dup_pairs``
operators over real encoded PNG/JPEG bytes, per-item decode-failure
isolation, and the zero-cartesian plan contract shared with SimHash's
banded hamming join.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hermes_spark.operators.codecs import (
    decode_image_pixels,
    encode_jpeg,
    encode_png,
    phash64,
    synthetic_image as _structured_img,
)
from hermes_spark.operators.multimodal import image_near_dup_pairs, image_phash


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def _s64(x: int) -> int:
    x &= (1 << 64) - 1
    return x - (1 << 64) if x >= 1 << 63 else x


def _brute_force_pairs(ids, fps, max_hamming):
    """All-pairs hamming reference: ``{(id_a, id_b): hamming}`` with
    ``id_a < id_b`` for every pair within ``max_hamming``."""
    expected = {}
    for i in range(len(fps)):
        for j in range(i + 1, len(fps)):
            h = _ham(fps[i], fps[j])
            if h <= max_hamming:
                a, b = sorted((ids[i], ids[j]))
                expected[(a, b)] = h
    return expected


def _pairs(frame):
    return {(r["id_a"], r["id_b"]): r["hamming"] for r in frame.collect()}


# ------------------------------------------------------------------ kernel


def test_phash_kernel_near_and_far_distances():
    base = _structured_img(1)
    h_base = phash64(base)
    bright = np.clip(base.astype(int) + 25, 0, 255).astype(np.uint8)
    assert _ham(h_base, phash64(bright)) <= 4
    rng = np.random.default_rng(9)
    noisy = base.copy()
    idx = rng.integers(0, base.size, 200)
    noisy.flat[idx] = rng.integers(0, 255, 200)
    assert _ham(h_base, phash64(noisy)) <= 4
    assert _ham(h_base, phash64(_structured_img(2))) > 12


def test_phash_codec_roundtrips_and_channels():
    base = _structured_img(3)
    h_base = phash64(base)
    # lossless PNG: identical hash; lossy JPEG: a few bits
    assert phash64(decode_image_pixels(encode_png(base))) == h_base
    assert _ham(h_base, phash64(decode_image_pixels(encode_jpeg(base)))) <= 4
    # gray == replicated-RGB (the _gray channel convention)
    assert phash64(np.stack([base] * 3, axis=2)) == h_base
    # resolution change survives (area resample + linear upsample paths)
    assert _ham(h_base, phash64(base[::4, ::4])) <= 12


def test_phash_is_signed_64bit_and_deterministic():
    h = phash64(_structured_img(4))
    assert -(1 << 63) <= h < (1 << 63)
    assert h == phash64(_structured_img(4))


# ------------------------------------------------------------------- spark


@pytest.fixture(scope="module")
def image_frame(spark):
    """9 rows: 3 base images, each with a recompressed JPEG twin; one
    unrelated PNG per base; plus one corrupt-bytes row."""
    rows = []
    for i in range(3):
        base = _structured_img(100 + i)
        rows.append((i * 3, bytearray(encode_png(base))))
        rows.append((i * 3 + 1, bytearray(encode_jpeg(base))))
        rows.append((i * 3 + 2, bytearray(encode_png(_structured_img(200 + i)))))
    rows.append((99, bytearray(b"not an image at all")))
    return spark.createDataFrame(rows, ["img_id", "media"])


def test_image_phash_operator(image_frame):
    got = {r["img_id"]: r for r in image_phash(
        image_frame, "img_id", "media").collect()}
    assert len(got) == 10
    # corrupt row: isolated failure, null hash
    assert got[99]["phash"] is None
    assert got[99]["decode_error"]
    # every decodable row hashed
    for i in range(9):
        assert got[i]["phash"] is not None, i
        assert got[i]["decode_error"] is None, i
    # png/jpeg twins are close; unrelated images are far
    for i in range(3):
        assert _ham(got[i * 3]["phash"], got[i * 3 + 1]["phash"]) <= 6
        assert _ham(got[i * 3]["phash"], got[i * 3 + 2]["phash"]) > 6


def test_image_near_dup_pairs_finds_planted_twins(image_frame):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_near_dup_pairs(
            image_frame, "img_id", "media", max_hamming=6
        ).collect()
    }
    assert set(pairs) == {(0, 1), (3, 4), (6, 7)}, pairs
    assert all(h <= 6 for h in pairs.values())


def test_image_near_dup_plan_has_no_cartesian(image_frame):
    plan = image_near_dup_pairs(
        image_frame, "img_id", "media"
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fingerprint_pairs_generic_matches_direct_hamming(spark):
    """The banded join is EXACT for hamming <= max_hamming: compare
    against a brute-force cross check on a small fingerprint set,
    including negative (bit-63) hashes."""
    from hermes_spark.operators.dedup import fingerprint_near_dup_pairs

    rng = np.random.default_rng(5)
    fps = [int(x) for x in rng.integers(-(1 << 62), 1 << 62, 30)]
    fps.append(-(1 << 63) + 5)             # sign-extension exercise
    fps.append(_s64(fps[0] ^ 0b101))       # planted hamming-2 twin
    fps.append(_s64(fps[31] ^ (1 << 63)))  # differs only in the sign bit
    ids = list(range(len(fps)))
    df = spark.createDataFrame(list(zip(ids, fps)), ["id", "fp"])
    got = _pairs(fingerprint_near_dup_pairs(
        df, "id", "fp", bits=64, max_hamming=3))
    assert got == _brute_force_pairs(ids, fps, 3)


# ------------------------------------------------------------------- video


def _video_bytes(seed: int, start: int = 0, n_frames: int = 8,
                 jpeg: bool = False) -> bytearray:
    from hermes_spark.operators.multimodal import synthetic_video_bytes

    return bytearray(synthetic_video_bytes(seed, start, n_frames, jpeg))


def test_video_near_dup_pairs(spark):
    """v0: 8 frames from seed 7.  v1: the same frames recompressed as
    JPEG (a re-encoded copy).  v2: seed 7 frames 2..9 (a trimmed/
    shifted copy sharing 6 of 8 frames).  v3: unrelated seed.  The
    frame-level pHash join finds exactly the three related pairs with
    the right containment fractions."""
    from hermes_spark.operators.multimodal import (
        synthetic_frame_decoder, video_near_dup_pairs,
    )

    df = spark.createDataFrame(
        [
            (0, _video_bytes(7)),
            (1, _video_bytes(7, jpeg=True)),
            (2, _video_bytes(7, start=2)),
            (3, _video_bytes(99)),
        ],
        ["vid", "media"],
    )
    got = {
        (r["id_a"], r["id_b"]): r
        for r in video_near_dup_pairs(
            df, "vid", "media", max_frames=8, frame_decoder=synthetic_frame_decoder,
            max_hamming=6, min_overlap_frac=0.5,
        ).collect()
    }
    assert set(got) == {(0, 1), (0, 2), (1, 2)}, set(got)
    assert got[(0, 1)]["overlap_frac"] == 1.0
    assert got[(0, 2)]["overlap_frac"] == 0.75
    assert got[(0, 2)]["matched_a"] == 6 and got[(0, 2)]["matched_b"] == 6
    assert got[(1, 2)]["overlap_frac"] == 0.75


def test_video_default_stub_frames_drop_out(spark):
    """With the byte-slicing stub frame decoder the frames are not
    images: every hash is null and the operator returns an EMPTY frame
    (per-frame isolation, no job failure)."""
    from hermes_spark.operators.multimodal import video_near_dup_pairs

    df = spark.createDataFrame(
        [(0, bytearray(b"x" * 4096)), (1, bytearray(b"x" * 4096))],
        ["vid", "media"],
    )
    assert video_near_dup_pairs(df, "vid", "media").count() == 0


def test_video_near_dup_plan_has_no_cartesian(spark):
    from hermes_spark.operators.multimodal import (
        synthetic_frame_decoder, video_near_dup_pairs,
    )

    df = spark.createDataFrame(
        [(0, _video_bytes(7, n_frames=2))], ["vid", "media"])
    plan = video_near_dup_pairs(
        df, "vid", "media", frame_decoder=synthetic_frame_decoder
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# -------------------------------------------------------- incremental store


def test_fingerprint_dedup_against_cross_batch(spark):
    """Batch 1 accepts fps; batch 2 drops near-matches of history and
    of earlier in-batch items, keeps the rest; replaying batch 2
    against the updated store drops everything (idempotence)."""
    from hermes_spark.operators.dedup import (
        fingerprint_banded_rows,
        fingerprint_dedup_against,
    )

    def s64(x: int) -> int:
        x &= (1 << 64) - 1
        return x - (1 << 64) if x >= 1 << 63 else x

    a = 0x0123456789ABCDEF
    b = 0x7EDCBA9876543210
    batch1 = spark.createDataFrame(
        [(1, s64(a)), (2, s64(b))], ["id", "fp"])
    empty_store = fingerprint_banded_rows(
        batch1.limit(0), "id", "fp", max_hamming=3)
    surv1, store_rows1 = fingerprint_dedup_against(
        batch1, empty_store, "id", "fp", max_hamming=3)
    assert {r["id"] for r in surv1.collect()} == {1, 2}
    store = store_rows1

    batch2 = spark.createDataFrame(
        [
            (10, s64(a ^ 0b11)),        # 2 bits from history a -> drop
            (11, s64(0x5555AAAA5555AAAA)),   # novel -> keep
            (12, s64(0x5555AAAA5555AAAB)),   # 1 bit from 11 -> in-batch drop
            (13, s64(b ^ (1 << 40) ^ (1 << 41) ^ (1 << 42) ^ (1 << 43))),
            # 4 bits from history b -> beyond max_hamming=3 -> keep
        ],
        ["id", "fp"],
    )
    surv2, store_rows2 = fingerprint_dedup_against(
        batch2, store, "id", "fp", max_hamming=3)
    assert {r["id"] for r in surv2.collect()} == {11, 13}
    # survivors' banded rows only
    assert store_rows2.select("__fp").distinct().count() == 2

    # replay batch2 against the appended store: everything drops
    store_all = store.unionByName(store_rows2)
    surv_replay, _ = fingerprint_dedup_against(
        batch2, store_all, "id", "fp", max_hamming=3)
    assert surv_replay.count() == 0


def test_fingerprint_dedup_against_component_vs_greedy(spark):
    """A chain a~b, b~c (a !~ c) where history matches ONLY a:
    component policy keeps the smallest non-history-matched member of
    the cluster (b), dropping a (history) and c (same component);
    greedy drops every pair's larger id too, so nothing survives."""
    from hermes_spark.operators.dedup import (
        fingerprint_banded_rows,
        fingerprint_dedup_against,
    )

    base = 0x00FF00FF00FF00F0
    a = base                 # 3 bits from stored d -> history hit
    b = base ^ 0b111         # 3 bits from a (pair), 6 from d (safe)
    c = b ^ (0b111 << 20)    # 3 bits from b, 6 from a, 9 from d
    d = base ^ (0b111 << 40)  # the stored fingerprint
    hist = spark.createDataFrame([(0, d)], ["id", "fp"])
    store = fingerprint_banded_rows(hist, "id", "fp", max_hamming=3)
    batch = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], ["id", "fp"])

    surv_c, _ = fingerprint_dedup_against(
        batch, store, "id", "fp", max_hamming=3, keep_policy="component")
    assert {r["id"] for r in surv_c.collect()} == {2}  # min alive in cluster

    surv_g, _ = fingerprint_dedup_against(
        batch, store, "id", "fp", max_hamming=3, keep_policy="greedy")
    assert {r["id"] for r in surv_g.collect()} == set()


def test_fingerprint_pairs_arrow_equals_expr(spark):
    """Property: the arrow in-bucket kernel emits exactly the pair set
    (ids + hamming) of a direct all-pairs hamming computation, including
    negative hashes, dense near-dup clusters at two thresholds and
    string ids."""
    from hermes_spark.operators.dedup import fingerprint_near_dup_pairs

    rng = np.random.default_rng(11)
    fps = [int(x) for x in rng.integers(-(1 << 62), 1 << 62, 60)]
    # dense cluster: 12 variants of one hash within 0-4 bits
    for i in range(12):
        flip = 0
        for b in rng.integers(0, 64, i % 5):
            flip |= 1 << int(b)
        fps.append(_s64(fps[0] ^ flip))
    ids = list(range(len(fps)))
    df = spark.createDataFrame(list(zip(ids, fps)), ["id", "fp"])
    for mh in (2, 4):
        got = _pairs(fingerprint_near_dup_pairs(
            df, "id", "fp", max_hamming=mh))
        assert got == _brute_force_pairs(ids, fps, mh), mh
    # string ids round-trip through the kernel
    sids = [f"doc-{i}" for i in ids]
    sdf = spark.createDataFrame(list(zip(sids, fps)), ["id", "fp"])
    got = _pairs(fingerprint_near_dup_pairs(sdf, "id", "fp", max_hamming=3))
    assert got == _brute_force_pairs(sids, fps, 3)


# --------------------------------------------------------------- streaming


def test_stream_fingerprint_dedup_across_batches(spark, tmp_path):
    """Recompressed image re-posts are dropped across micro-batches;
    new images survive and enter the banded store; undecodable rows
    pass through; compaction keeps the store healthy."""
    from hermes_spark.streaming import stream_fingerprint_dedup

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(rows):
        spark.createDataFrame(rows, "doc_id long, media binary").write.mode(
            "append"
        ).parquet(src)

    def run_once(schema):
        stream = spark.readStream.schema(schema).parquet(src)
        q = stream_fingerprint_dedup(
            stream,
            state_path=state,
            output_path=out,
            max_hamming=6,
            compact_every=1,
            checkpointLocation=ckpt,
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)

    # batch 1: base image 0, its JPEG twin (in-batch dup), a distinct
    # image, and a corrupt row (passes through)
    write_batch([
        (1, bytearray(encode_png(_structured_img(900)))),
        (2, bytearray(encode_jpeg(_structured_img(900)))),
        (3, bytearray(encode_png(_structured_img(901)))),
        (4, bytearray(b"corrupt bytes")),
    ])
    schema = spark.read.parquet(src).schema
    run_once(schema)
    # batch 2: a re-encode of image 901 (cross-batch dup) + a new image
    write_batch([
        (5, bytearray(encode_jpeg(_structured_img(901)))),
        (6, bytearray(encode_png(_structured_img(902)))),
    ])
    run_once(schema)

    ids = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert ids == [1, 3, 4, 6], ids
    # the store holds banded rows for exactly the 3 accepted fingerprints
    store = spark.read.parquet(state)
    assert store.select("__fp").distinct().count() == 3
    assert set(store.columns) == {"__blk", "__bv", "__fp"}


def test_phash_exact_under_null_in_same_batch(spark):
    """Regression: a decode failure in the same Arrow batch must not
    corrupt neighboring hashes.  pandas coerces an object column with a
    null to float64, which rounds 64-bit ints to 53-bit precision —
    the kernels emit nullable Int64 instead; the exact kernel hash must
    round-trip bit-for-bit."""
    jpg = bytearray(encode_jpeg(_structured_img(900)))
    expected = phash64(decode_image_pixels(bytes(jpg)))
    df = spark.createDataFrame(
        [(2, jpg), (4, bytearray(b"corrupt bytes"))],
        "doc_id long, media binary",
    ).repartition(1)
    got = {r["doc_id"]: r["phash"] for r in image_phash(
        df, "doc_id", "media").collect()}
    assert got[2] == expected, (got[2], expected)
    assert got[4] is None


# ------------------------------------------------------- review-fix pins


def test_null_fingerprints_are_dropped_not_crashed(spark):
    """r12c review: >= 2 null fingerprints used to desync the two
    collect_lists (collect_list skips nulls) and kill the job on the
    kernel's alignment assert.  Nulls now filter out up front — the
    simhash wrapper inherits this via null-text docs."""
    from hermes_spark.operators.dedup import (
        fingerprint_near_dup_pairs,
        simhash_near_dup_pairs,
    )

    df = spark.createDataFrame(
        [(1, 100), (2, 101), (3, None), (4, None)],
        "id long, fp long",
    )
    got = {(r["id_a"], r["id_b"]) for r in fingerprint_near_dup_pairs(
        df, "id", "fp", max_hamming=3).collect()}
    assert got == {(1, 2)}
    txt = spark.createDataFrame(
        [(1, "same words here"), (2, "same words here"),
         (3, None), (4, None)],
        "doc_id long, text string",
    )
    pairs = simhash_near_dup_pairs(
        txt, "doc_id", "text", bits=32, max_hamming=3).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_over_cap_identical_cluster_still_dedups(spark):
    """r12c review: a cluster of > max_bucket_size IDENTICAL
    fingerprints agrees on EVERY block, so the old drop-the-bucket cap
    lost it entirely.  The collapse emits identical-hash chains (all
    members connect to the min id) plus representative pairs for
    distinct near fingerprints."""
    from hermes_spark.operators.dedup import fingerprint_near_dup_pairs

    rows = [(i, 7777) for i in range(20)]          # 20 identical
    rows += [(100, 7777 ^ 0b11)]                   # near (hamming 2)
    rows += [(200, -(1 << 60) + 12345)]            # far
    df = spark.createDataFrame(rows, "id long, fp long")
    pairs = fingerprint_near_dup_pairs(
        df, "id", "fp", max_hamming=3, max_bucket_size=10).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    # chain: every identical member pairs with the min id 0
    for i in range(1, 20):
        assert got.get((0, i)) == 0, (i, got)
    # representative pair to the near fingerprint survives the collapse
    assert got.get((0, 100)) == 2
    assert all(200 not in k for k in got)
    # connected-components over the pairs still collapses the cluster
    from hermes_spark.operators.dedup import fuzzy_dedup_keep_one

    pairs_df = fingerprint_near_dup_pairs(
        df, "id", "fp", max_hamming=3, max_bucket_size=10)
    kept = fuzzy_dedup_keep_one(df, "id", pairs_df)
    assert {r["id"] for r in kept.collect()} == {0, 200}


def test_store_saturation_exact_fallback(spark):
    """r12c review: the (blk, bv) bucket space is tiny, so a large
    store makes every bucket hot and the banded history join returns
    nothing — exact re-posts must still be caught by the equality
    fallback.  Constructed saturation: cap=1 with fillers sharing one
    block each with A makes ALL of A's buckets hot."""
    from hermes_spark.operators.dedup import (
        fingerprint_banded_rows,
        fingerprint_dedup_against,
    )

    def s64(x):
        x &= (1 << 64) - 1
        return x - (1 << 64) if x >= 1 << 63 else x

    a = 0x1234_5678_9ABC_DEF0
    fillers = []
    flip_all = int("81" * 8, 16)  # flips a bit in every 8-bit block
    for j in range(8):
        mask = flip_all & ~(0xFF << (8 * j))  # leave block j intact
        fillers.append(s64(a ^ mask))
    hist = spark.createDataFrame(
        [(i, f) for i, f in enumerate([s64(a)] + fillers)], "id long, fp long"
    )
    store = fingerprint_banded_rows(hist, "id", "fp", max_hamming=3)

    batch = spark.createDataFrame(
        [(100, s64(a)),            # exact re-post -> MUST drop
         (101, s64(a ^ 1)),        # near re-post: documented miss
         (102, s64(~a & ((1 << 63) - 1)))],  # novel -> keep
        "id long, fp long",
    )
    surv, _ = fingerprint_dedup_against(
        batch, store, "id", "fp", max_hamming=3,
        history_max_bucket_size=1)
    kept = {r["id"] for r in surv.collect()}
    assert 100 not in kept          # exact fallback caught it
    assert 102 in kept
    # uncapped: both re-posts drop (the recall the cap trades away)
    surv2, _ = fingerprint_dedup_against(
        batch, store, "id", "fp", max_hamming=3,
        history_max_bucket_size=None)
    assert {r["id"] for r in surv2.collect()} == {102}


def test_simhash_engine_kwarg_passthrough(spark, documents):
    """simhash_near_dup_pairs passes ``bits`` and ``max_hamming``
    through to the fingerprint kernel: its pairs equal a direct
    all-pairs hamming check over the 32-bit SimHash fingerprints."""
    from hermes_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_dup_pairs,
    )

    docs = documents.limit(60)
    sim = simhash_fingerprints(docs, "doc_id", "text", bits=32).collect()
    got = _pairs(simhash_near_dup_pairs(
        docs, "doc_id", "text", bits=32, max_hamming=6))
    assert got == _brute_force_pairs(
        [r["id"] for r in sim], [r["simhash"] for r in sim], 6)
