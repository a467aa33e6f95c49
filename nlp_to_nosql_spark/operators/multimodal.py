"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The Spark-side architecture is real and tested — schema, partitioning,
Arrow-batched ``mapInPandas`` signatures, deterministic frame/sample
selection.  The codec layer is split by what the Python standard library
can decode:

* **audio/WAV — REAL decode** (:func:`audio_features`): the stdlib
  ``wave`` module parses RIFF/WAVE payloads inside executors — channel
  count, sample rate, sample count, duration, and per-payload RMS
  amplitude — no external codec needed.
* **image — deterministic surrogate**: :func:`image_features` and
  :func:`resize_images` derive their outputs from the payload bytes and
  the metadata geometry alone (sha256, mean byte, a ``|WxH`` resize
  tag), so image pipelines are testable and oracle-checkable end-to-end
  without an image codec.  A real decoder would replace
  ``_decode_image_stub`` and the resize surrogate; the Spark plumbing
  around them stays as it is.

At scale: payloads stay columnar (parquet binary), decode happens inside
executors in Arrow batches, and all metadata math (frame timestamps,
sample offsets) is JVM-side Column arithmetic.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Canonical media-table schema: opaque payload + typed metadata.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                    T.StructField("codec", T.StringType()),
                ]
            ),
        ),
    ]
)

IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def _decode_image_stub(payload: bytes) -> dict:
    """Image decode step: a deterministic function of the payload bytes."""
    return {
        "sha256": hashlib.sha256(payload).hexdigest(),
        "mean_byte": (sum(payload) / len(payload)) if payload else 0.0,
    }


def image_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over image payloads.

    ``mapInPandas`` so each task processes whole Arrow record batches;
    payloads never transit the driver.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                # Same per-row robustness contract as audio_features: a
                # NULL payload/meta or an undecodable image yields a
                # null-feature row, never a stage failure.
                try:
                    f = _decode_image_stub(payload)
                    rows.append(
                        (
                            media_id,
                            len(payload),
                            f["sha256"],
                            f["mean_byte"],
                            None if meta is None else meta["width"],
                            None if meta is None else meta["height"],
                        )
                    )
                except Exception:
                    rows.append((media_id, None, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_bytes",
                    "sha256",
                    "mean_byte",
                    "width",
                    "height",
                ],
            )

    from nlp_to_nosql_spark.plans.partitioning import fan_out

    return (
        fan_out(media.filter(F.col("kind") == "image").select("media_id", "payload", "meta"))
        .mapInPandas(extract, IMAGE_FEATURE_SCHEMA)
    )


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def synth_wav_samples(media_id: int, n_samples: int = 800) -> list[int]:
    """The deterministic waveform behind :func:`synth_wav` — integer
    arithmetic only (``(media_id·31 + i·97) mod 24001 − 12000``), so an
    SQL oracle reproduces every sample exactly with no libm drift."""
    return [
        ((media_id * 31 + i * 97) % 24001) - 12000 for i in range(n_samples)
    ]


def synth_wav(media_id: int, sample_rate: int = 8000, n_samples: int = 800) -> bytes:
    """Deterministic 16-bit mono PCM WAV payload for ``media_id`` — a
    test/demo generator so the REAL decoder below has real input without
    shipping binary fixtures."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    samples = synth_wav_samples(media_id, n_samples)
    frames = struct.pack(f"<{len(samples)}h", *samples)
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(frames)
    return buf.getvalue()


def audio_features(media: DataFrame) -> DataFrame:
    """REAL audio decode over WAV payloads — no stub.

    The stdlib ``wave`` module parses each RIFF/WAVE payload inside the
    executors (Arrow-batched ``mapInPandas``; payloads never transit the
    driver): channel count, sample rate, exact sample count, duration, and
    RMS amplitude over the 16-bit PCM frames.  Non-WAV or corrupt payloads
    yield a null-feature row rather than failing the batch — at 100 TB a
    fraction of corrupt media is a certainty, and one bad file must not
    kill a 1000-executor stage.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import math
        import struct
        import wave

        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    with wave.open(io.BytesIO(payload), "rb") as w:
                        n_ch, width, rate, n_fr = (
                            w.getnchannels(),
                            w.getsampwidth(),
                            w.getframerate(),
                            w.getnframes(),
                        )
                        frames = w.readframes(n_fr)
                    if width == 2 and frames:
                        samples = struct.unpack(f"<{len(frames) // 2}h", frames)
                        rms = math.sqrt(sum(s * s for s in samples) / len(samples))
                    else:
                        rms = None
                    rows.append(
                        (media_id, n_ch, rate, n_fr, (n_fr * 1000) // rate, rms)
                    )
                except Exception:
                    rows.append((media_id, None, None, None, None, None))
            out = pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_channels",
                    "sample_rate",
                    "n_samples",
                    "duration_ms",
                    "rms",
                ],
            )
            yield out

    from nlp_to_nosql_spark.plans.partitioning import fan_out

    return (
        fan_out(media.filter(F.col("kind") == "audio").select("media_id", "payload"))
        .mapInPandas(extract, AUDIO_FEATURE_SCHEMA)
    )


def frame_sample_plan(media: DataFrame, fps: float = 1.0) -> DataFrame:
    """Deterministic frame-sampling plan for videos: one timestamp per
    1/fps seconds of duration.  Pure Column arithmetic (no decode) — the
    downstream decode would consume (media_id, frame_ms) pairs.
    """
    if fps <= 0:
        raise ValueError(f"fps must be positive, got {fps}")
    # round (not truncate) so e.g. fps=3 steps 333 ms without cumulative
    # drift bias, floored at 1 ms so fps > 1000 can't produce a zero step
    # (F.sequence raises at runtime on step 0).
    step_ms = max(1, round(1000 / fps))
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
                    F.lit(step_ms),
                )
            ).alias("frame_ms"),
        )
    )


def audio_chunk_plan(media: DataFrame, chunk_ms: int = 5000) -> DataFrame:
    """Chunking plan for audio payloads: (media_id, chunk_start_ms,
    chunk_len_ms) windows covering the duration."""
    return (
        media.filter(F.col("kind") == "audio")
        .select(
            "media_id",
            F.col("meta.duration_ms").alias("duration_ms"),
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
                    F.lit(chunk_ms),
                )
            ).alias("chunk_start_ms"),
        )
        .withColumn(
            "chunk_len_ms",
            F.least(F.lit(chunk_ms), F.col("duration_ms") - F.col("chunk_start_ms")),
        )
        .drop("duration_ms")
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("src_w", T.IntegerType()),
        T.StructField("src_h", T.IntegerType()),
        T.StructField("dst_w", T.IntegerType()),
        T.StructField("dst_h", T.IntegerType()),
        T.StructField("n_resized_bytes", T.LongType()),
        T.StructField("resized_sha256", T.StringType()),
    ]
)


def fit_within(w: int, h: int, max_side: int) -> tuple[int, int]:
    """Aspect-preserving fit into a ``max_side`` square — INTEGER
    arithmetic only (``(side * max_side) // longest``, floored at 1), so
    the target geometry is reproducible in any engine with no float
    rounding surface.  Images already inside the box pass through
    unscaled (no upsampling)."""
    m = max(w, h)
    if m <= max_side:
        return w, h
    return max(1, (w * max_side) // m), max(1, (h * max_side) // m)


def resize_images(media: DataFrame, max_side: int = 224) -> DataFrame:
    """Bounded-box image resize stage — the normalization pass a
    multimodal training pipeline runs before feature extraction.

    The Spark plumbing is real (Arrow ``mapInPandas`` over
    (media_id, payload, meta); payloads never transit the driver); the
    pixel work is the module's deterministic image surrogate — sha256
    of the payload plus a ``|WxH`` geometry tag, sized ``dst_w·dst_h``
    (1 byte/px grayscale) — so the full pipeline is testable and
    oracle-checkable without a codec.  Rows with missing/NULL geometry
    yield null-feature rows, never a stage failure (the audio_features
    contract)."""

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                try:
                    if (
                        meta is None
                        or meta["width"] is None
                        or meta["height"] is None
                    ):
                        raise ValueError("no geometry")
                    w, h = int(meta["width"]), int(meta["height"])
                    if w <= 0 or h <= 0:
                        raise ValueError("bad geometry")
                    dw, dh = fit_within(w, h, max_side)
                    tag = f"|{dw}x{dh}".encode()
                    digest = hashlib.sha256(bytes(payload) + tag).hexdigest()
                    rows.append((media_id, w, h, dw, dh, dw * dh, digest))
                except Exception:
                    rows.append(
                        (media_id, None, None, None, None, None, None)
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZE_SCHEMA])

    from nlp_to_nosql_spark.plans.partitioning import fan_out

    return fan_out(
        media.filter(F.col("kind") == "image").select(
            "media_id", "payload", "meta"
        )
    ).mapInPandas(do, RESIZE_SCHEMA)


# ---------------------------------------------------------------------------
# aspect-ratio bucketing (the diffusion-training batching plan)
# ---------------------------------------------------------------------------

#: The default bucket inventory: resolutions with ~512² pixels spanning
#: 1:2.4 … 2.4:1, the NovelAI/SDXL bucketing shape (Podell et al.,
#: arXiv:2307.01952 App. I train on exactly such an area-constant
#: aspect ladder).  Order matters: ties break to the EARLIEST bucket.
DEFAULT_ASPECT_BUCKETS: tuple = (
    (512, 512),
    (576, 448), (448, 576),
    (640, 384), (384, 640),
    (704, 320), (320, 704),
    (768, 320), (320, 768),
)


def aspect_bucket_plan(
    media: DataFrame,
    buckets: "tuple | None" = None,
) -> DataFrame:
    """Assign every image to the aspect-ratio bucket nearest its own
    aspect in LOG space — the batching plan aspect-bucketed diffusion
    training runs (images in one batch share a bucket, so no
    destructive square-cropping; NovelAI's bucketing, adopted by SDXL).
    Nearest = minimize ``|ln(w·bh) − ln(h·bw)|`` floored to integer
    micros; ties → the earliest bucket in the inventory.  Product form
    (not the equivalent four-ln chain ``|ln w − ln h − ln bw + ln bh|``)
    by the repo's float-floor discipline: each product is an exact
    small-int multiply cast to double, so an image whose aspect EQUALS
    a bucket's (w·bh = h·bw, e.g. 2048×1024 vs bucket 2:1) yields
    bit-identical ln arguments and an exact 0 in every engine, where
    the chained form leaves ±ulp association noise (absorbed here by
    ``abs``+floor, but the r12 DSIR incident showed the chained shape
    flips floors between JVM and Python libm — pinned by
    ``tests/test_float_floor_property.py``).

    Input rows need ``meta.width``/``meta.height``; images with NULL or
    non-positive dims emit NULL bucket columns (unplannable, kept so
    the mapping stays total).  Returns ``(media_id, width, height,
    bucket_w, bucket_h, score_micro)``.

    Zero shuffle: the bucket inventory is a per-row literal struct
    array (≤ a few dozen entries), the argmin a single ``array_min``
    over it — a scan-side projection at any corpus size; the batch
    assembly that follows is ``pack_by_token_budget`` per bucket.
    """
    inv = tuple(buckets) if buckets is not None else DEFAULT_ASPECT_BUCKETS
    if not inv:
        raise ValueError("aspect_bucket_plan: bucket inventory is empty")
    w = F.col("meta.width").cast("int")
    h = F.col("meta.height").cast("int")
    base = media.filter(F.col("kind") == "image").select(
        "media_id", w.alias("width"), h.alias("height")
    )
    cands = F.array(
        *[
            F.struct(
                F.floor(
                    F.abs(
                        F.log(
                            (F.col("width").cast("long") * F.lit(int(bh)))
                            .cast("double")
                        )
                        - F.log(
                            (F.col("height").cast("long") * F.lit(int(bw)))
                            .cast("double")
                        )
                    )
                    * F.lit(1_000_000.0)
                )
                .cast("long")
                .alias("score"),
                F.lit(i).cast("int").alias("idx"),
                F.lit(bw).cast("int").alias("bw"),
                F.lit(bh).cast("int").alias("bh"),
            )
            for i, (bw, bh) in enumerate(inv)
        ]
    )
    ok = (
        F.col("width").isNotNull()
        & F.col("height").isNotNull()
        & (F.col("width") > 0)
        & (F.col("height") > 0)
    )
    staged = base.select(
        "media_id",
        "width",
        "height",
        F.when(ok, F.array_min(cands)).alias("_b"),
    )
    return staged.select(
        "media_id",
        "width",
        "height",
        F.col("_b.bw").alias("bucket_w"),
        F.col("_b.bh").alias("bucket_h"),
        F.col("_b.score").alias("score_micro"),
    )


def aspect_bucket_sql(
    media_sql: str,
    buckets: "tuple | None" = None,
) -> str:
    """DuckDB twin of :func:`aspect_bucket_plan` over any media-shaped
    SQL (columns ``media_id``, ``kind``, ``width``, ``height``) — the
    same literal inventory, the same product-form two-ln micro floors,
    the same (score, idx) struct-min tie-break."""
    inv = tuple(buckets) if buckets is not None else DEFAULT_ASPECT_BUCKETS
    entries = ", ".join(
        "{'score': CAST(FLOOR(abs("
        f"ln(CAST(CAST(width AS BIGINT) * {bh} AS DOUBLE)) - "
        f"ln(CAST(CAST(height AS BIGINT) * {bw} AS DOUBLE))) "
        f"* 1000000.0) AS BIGINT), 'idx': {i}, 'bw': {bw}, 'bh': {bh}}}"
        for i, (bw, bh) in enumerate(inv)
    )
    return (
        f"WITH base AS (SELECT media_id, width, height FROM ({media_sql}) "
        "WHERE kind = 'image'), "
        "scored AS (SELECT media_id, width, height, "
        "CASE WHEN width IS NOT NULL AND height IS NOT NULL "
        "AND width > 0 AND height > 0 THEN "
        f"list_sort([{entries}])[1] END AS b FROM base) "
        "SELECT media_id, width, height, "
        "CAST(b['bw'] AS INT) AS bucket_w, CAST(b['bh'] AS INT) AS bucket_h, "
        "b['score'] AS score_micro FROM scored"
    )
