"""Multimodal mapInPandas plumbing + driver-side helper tests."""

import pytest
from pyspark.sql import functions as F

from hermes_spark.functions.helpers import (
    append_ordinal_suffix,
    calculate_time,
    pretty_print_elapsed_time,
    rich_format,
)
from hermes_spark.operators import (
    embedding_near_dup_pairs,
    extract_audio_features,
    extract_image_features,
    frame_sample,
    with_media_metadata,
)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (0, bytes(range(200)) * 10),
        (1, b"\xff" * 5000),
        (2, b""),
        (3, None),
    ]
    return spark.createDataFrame(rows, ["media_id", "data"])


def test_with_media_metadata(media_df):
    out = with_media_metadata(media_df, "data", "image", "jpeg")
    row = out.filter(F.col("media_id") == 0).collect()[0]
    assert row.data_meta.media_type == "image"
    assert row.data_meta.format == "jpeg"
    assert row.data_meta.size_bytes == 2000
    assert row.data_meta.width is None


def test_extract_image_features_stub(media_df):
    from hermes_spark.operators.multimodal import decode_image_stub

    feats = {r.media_id: r for r in extract_image_features(
        media_df, "media_id", "data", decoder=decode_image_stub
    ).collect()}
    assert len(feats) == 4
    ok = feats[0]
    assert ok.decode_error is None
    assert ok.width >= 16 and ok.height >= 16
    assert ok.mean_intensity is not None
    # decode failure isolated to its row, not the job
    assert feats[3].decode_error is not None
    assert feats[3].width is None
    # determinism
    again = {r.media_id: r for r in extract_image_features(
        media_df, "media_id", "data", decoder=decode_image_stub
    ).collect()}
    assert again[0].width == ok.width


def test_frame_sample_stub(media_df):
    frames = frame_sample(media_df, "media_id", "data", every_n_ms=500).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r)
    # 2000-byte video -> 1 frame; 5000-byte -> 4 frames
    assert len(by_id[0]) == 1
    assert len(by_id[1]) == 4
    assert [f.frame_ts_ms for f in sorted(by_id[1], key=lambda f: f.frame_idx)] == [
        0, 500, 1000, 1500,
    ]
    assert all(isinstance(bytes(f.frame_bytes), bytes) for f in frames)
    assert 2 not in by_id and 3 not in by_id  # empty/null yield no frames


def test_embedding_near_dup_exact_and_lsh_agree_on_top(spark, embeddings):
    sub = embeddings.filter(F.col("vec_id") < 300)
    exact = embedding_near_dup_pairs(sub, min_cosine=0.5, exact=True)
    lsh = embedding_near_dup_pairs(sub, min_cosine=0.5, num_planes=4)
    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    lsh_pairs = {(r.id_a, r.id_b) for r in lsh.collect()}
    # LSH returns a subset of the exact pairs (same scoring, fewer candidates)
    assert lsh_pairs <= exact_pairs
    if exact_pairs:
        assert len(lsh_pairs) > 0


def test_pretty_print_elapsed_time():
    assert pretty_print_elapsed_time(91441000) == (
        "1 day, 1 hour, 24 minutes and 1.00 second"
    )
    assert pretty_print_elapsed_time(0) == "0 seconds"
    assert pretty_print_elapsed_time(1500) == "1.50 seconds"
    assert pretty_print_elapsed_time(60000) == "1 minute"


def test_ordinal_suffix():
    assert [append_ordinal_suffix(n) for n in (1, 2, 3, 4, 11, 12, 13, 21, 101)] == [
        "1st", "2nd", "3rd", "4th", "11th", "12th", "13th", "21st", "101st",
    ]


def test_rich_format_and_calculate_time():
    assert rich_format("{a}-{b}", {"a": "x", "b": "y"}) == "x-y"
    ms, value = calculate_time(lambda: sum(range(1000)))
    assert value == 499500 and ms >= 0


def test_extract_audio_features_stub(media_df):
    from hermes_spark.operators.multimodal import decode_audio_stub

    out = extract_audio_features(
        media_df, "media_id", "data", decoder=decode_audio_stub
    ).collect()
    by_id = {r["media_id"]: r for r in out}
    assert len(by_id) == 4
    ok = by_id[0]
    assert ok.decode_error is None
    assert ok.sample_rate in (8000, 16000, 22050, 44100)
    assert ok.duration_ms > 0 and ok.rms_energy > 0
    # empty bytes decode to zero-duration, not an error
    assert by_id[2].decode_error is None and by_id[2].duration_ms == 0
    # null bytes produce a decode_error row, never a job failure
    assert by_id[3].decode_error is not None and by_id[3].sample_rate is None


def test_video_pair_kernel_rejects_misaligned_lists():
    """The video pair kernel pairs each gathered bucket's three lists by
    position; lists of unequal length raise with the bucket and all
    three lengths instead of mis-pairing frames and fingerprints."""
    from hermes_spark.operators.multimodal import _check_aligned

    _check_aligned(0, [1, 2], [0, 4], [10, 20])
    for frames, fps in (([0], [10, 20]), ([0, 4], [10]), ([0, 4, 8], [10, 20])):
        with pytest.raises(ValueError) as err:
            _check_aligned(3, [1, 2], frames, fps)
        assert str(err.value) == (
            f"misaligned bucket lists: bucket 3 has 2 video ids, "
            f"{len(frames)} frame indices and {len(fps)} fingerprints"
        )
