"""Multimodal plumbing: schema, Arrow batch shape, deterministic stubs."""

import hashlib

import pytest
from pyspark.sql import functions as F

from nlp_to_nosql_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    audio_chunk_plan,
    frame_sample_plan,
    image_features,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", b"\x89PNG-fake-bytes-1", (640, 480, None, None, "png")),
        (2, "image", b"", (8, 8, None, None, "png")),
        (3, "video", b"fake-mp4", (1920, 1080, None, 3500, "h264")),
        (4, "audio", b"fake-wav", (None, None, 16000, 12001, "pcm")),
        (5, "video", b"fake-mp4-2", (1280, 720, None, 0, "h264")),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_image_features_deterministic(media):
    feats = {r["media_id"]: r for r in image_features(media).collect()}
    assert set(feats) == {1, 2}
    payload = b"\x89PNG-fake-bytes-1"
    assert feats[1]["sha256"] == hashlib.sha256(payload).hexdigest()
    assert feats[1]["n_bytes"] == len(payload)
    assert abs(feats[1]["mean_byte"] - sum(payload) / len(payload)) < 1e-9
    assert feats[1]["width"] == 640 and feats[1]["height"] == 480
    assert feats[2]["mean_byte"] == 0.0  # empty payload safe


def test_frame_sample_plan(media):
    frames = frame_sample_plan(media, fps=1.0).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r["frame_ms"])
    assert by_id[3] == [0, 1000, 2000, 3000]  # 3.5s at 1 fps
    assert by_id[5] == [0]                    # zero duration → one frame at 0


def test_audio_chunk_plan(media):
    chunks = audio_chunk_plan(media, chunk_ms=5000).collect()
    got = [(r["chunk_start_ms"], r["chunk_len_ms"]) for r in chunks]
    assert got == [(0, 5000), (5000, 5000), (10000, 2001)]  # 12001 ms total


def test_audio_features_real_wav_decode(spark):
    """The stdlib-wave decoder is REAL: it must recover the exact encode
    parameters and RMS of the synthesized PCM, and survive corrupt
    payloads with a null-feature row instead of a task failure."""
    import math

    from nlp_to_nosql_spark.operators.multimodal import (
        audio_features,
        synth_wav,
        synth_wav_samples,
    )

    rows = [
        (7, "audio", synth_wav(7), None),
        (8, "audio", synth_wav(8, sample_rate=16000, n_samples=3200), None),
        (9, "audio", b"not a wav at all", None),
        (10, "image", b"png-ish", None),  # filtered out by kind
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in audio_features(media).collect()}

    assert set(feats) == {7, 8, 9}
    assert (feats[7]["n_channels"], feats[7]["sample_rate"]) == (1, 8000)
    assert (feats[7]["n_samples"], feats[7]["duration_ms"]) == (800, 100)
    assert (feats[8]["sample_rate"], feats[8]["duration_ms"]) == (16000, 200)

    s = synth_wav_samples(7)
    want_rms = math.sqrt(sum(x * x for x in s) / len(s))
    assert abs(feats[7]["rms"] - want_rms) < 1e-9

    assert feats[9]["n_channels"] is None and feats[9]["rms"] is None


def test_image_features_survive_null_payload_and_meta(spark):
    """Per-row robustness contract (same as audio): NULL payload/meta
    yields a null-feature row, never a stage failure."""
    rows = [
        (1, "image", None, (4, 2, None, None, "png")),
        (2, "image", b"ok-bytes", None),
        (3, "image", b"fine", (8, 8, None, None, "png")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in image_features(media).collect()}
    assert feats[1]["sha256"] is None and feats[1]["n_bytes"] is None
    assert feats[2]["sha256"] is not None and feats[2]["width"] is None
    assert feats[3]["width"] == 8


def test_frame_plan_fps_guard(spark, media):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="fps"):
        frame_sample_plan(media, fps=0)
    # fps > 1000 floors at a 1 ms step instead of a runtime step-0 error
    assert frame_sample_plan(media, fps=5000).count() > 0


def test_fit_within_geometry():
    from nlp_to_nosql_spark.operators.multimodal import fit_within

    assert fit_within(100, 50, 224) == (100, 50)      # inside: no upscale
    assert fit_within(448, 224, 224) == (224, 112)    # exact halving
    assert fit_within(1000, 1, 64) == (64, 1)         # extreme aspect, h floors at 1
    assert fit_within(1, 1000, 64) == (1, 64)
    assert fit_within(64, 64, 64) == (64, 64)         # boundary passes through
    assert fit_within(65, 65, 64) == (64, 64)


def test_resize_images_stub_is_deterministic(spark):
    import hashlib

    from nlp_to_nosql_spark.operators.multimodal import resize_images

    rows = [
        (1, "image", b"abc", (128, 32, None, None, "raw")),
        (2, "image", b"abc", (16, 16, None, None, "raw")),
        (3, "audio", b"abc", (128, 32, None, None, "raw")),  # filtered out
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in resize_images(media, max_side=64).collect()}
    assert set(out) == {1, 2}
    r1 = out[1]
    assert (r1["dst_w"], r1["dst_h"]) == (64, 16)
    assert r1["n_resized_bytes"] == 64 * 16
    assert r1["resized_sha256"] == hashlib.sha256(b"abc|64x16").hexdigest()
    r2 = out[2]  # already inside the box: geometry unchanged
    assert (r2["dst_w"], r2["dst_h"]) == (16, 16)


def test_resize_images_null_geometry_yields_null_row(spark):
    from nlp_to_nosql_spark.operators.multimodal import resize_images

    rows = [
        (1, "image", b"x", None),
        (2, "image", b"x", (None, 5, None, None, "raw")),
        (3, "image", b"x", (0, 5, None, None, "raw")),  # non-positive
        (4, "image", b"x", (5, 5, None, None, "raw")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in resize_images(media, max_side=4).collect()}
    assert len(out) == 4
    for mid in (1, 2, 3):
        assert out[mid]["dst_w"] is None and out[mid]["resized_sha256"] is None
    assert out[4]["dst_w"] == 4 and out[4]["resized_sha256"] is not None


# ---------------------------------------------------------------------------
# aspect-ratio bucketing (mm6)
# ---------------------------------------------------------------------------


def test_aspect_buckets_pick_nearest_log_aspect(spark):
    import math

    from nlp_to_nosql_spark.operators.multimodal import (
        DEFAULT_ASPECT_BUCKETS,
        aspect_bucket_plan,
    )

    dims = [(0, 512, 512), (1, 1024, 512), (2, 300, 900), (3, 640, 400)]
    media = spark.createDataFrame(
        [(i, "image", {"width": w, "height": h}) for i, w, h in dims],
        "media_id long, kind string, "
        "meta struct<width: int, height: int>",
    )
    got = {
        r["media_id"]: (r["bucket_w"], r["bucket_h"])
        for r in aspect_bucket_plan(media).collect()
    }

    def twin(w, h):
        best = None
        for i, (bw, bh) in enumerate(DEFAULT_ASPECT_BUCKETS):
            s = math.floor(
                abs(
                    math.log(float(w * bh)) - math.log(float(h * bw))
                )
                * 1_000_000.0
            )
            if best is None or (s, i) < best[0:2]:
                best = (s, i, bw, bh)
        return (best[2], best[3])

    assert got == {i: twin(w, h) for i, w, h in dims}
    assert got[0] == (512, 512)  # square lands in the square bucket


def test_aspect_buckets_null_dims_stay_unplanned(spark):
    from nlp_to_nosql_spark.operators.multimodal import aspect_bucket_plan

    media = spark.createDataFrame(
        [(0, "image", {"width": None, "height": 512}),
         (1, "image", {"width": 0, "height": 4}),
         (2, "audio", {"width": 512, "height": 512})],
        "media_id long, kind string, meta struct<width: int, height: int>",
    )
    rows = {r["media_id"]: r for r in aspect_bucket_plan(media).collect()}
    assert rows[0]["bucket_w"] is None and rows[1]["bucket_w"] is None
    assert 2 not in rows  # non-image rows are not planned
