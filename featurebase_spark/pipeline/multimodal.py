"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched Pandas functions.

The decode path is REAL for the codec-free formats
(:mod:`featurebase_spark.pipeline.media_codecs`): PNG (zlib + scanline
filters), BMP, PPM/PGM images and PCM WAV audio decode in pure
stdlib+numpy, so decode → feature-extract executes genuinely in this
container and is verified against hand-built files and an arithmetic
DuckDB oracle (gradient images whose statistics have closed forms).
Formats that require external codecs (JPEG, MP3, video) raise
``UnsupportedMediaError``; ``fake=True`` substitutes the deterministic
hash-embed stub for synthetic corpora.

Scale notes: media blobs dominate row size, so operators (a) never shuffle
the binary column — feature extraction happens map-side before any
exchange; (b) cap per-task memory via ``maxRecordsPerBatch``; (c) return
compact fixed-width features, so downstream joins/aggs touch only metadata.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Canonical multimodal table schema: opaque payload + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType(), True),
        StructField("media_type", StringType(), True),  # image|audio|video
        StructField("mime", StringType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sha256", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("features", ArrayType(DoubleType()), True),
    ]
)


def _pin_arrow_batch(spark, batch_rows: int) -> None:
    """Pin ``spark.sql.execution.arrow.maxRecordsPerBatch`` SESSION-WIDE.

    Deliberate, documented side effect: mapInPandas reads this conf when
    the query EXECUTES, not when the plan is built, and these readers
    return lazy DataFrames whose action runs later under the caller's
    control — so a build-time save/restore scope would silently undo
    the throttle before it ever applied. Payload batches must stay
    small (64 × ~1 MiB blobs ≈ 64 MiB per Arrow transfer; the 10 000-row
    default would be ~10 GiB), so the conf stays set until someone
    changes it. Callers that DO own the action (tests, bench harnesses)
    should wrap it in :func:`scoped_arrow_batch` to restore the session
    default afterwards and un-throttle later pandas/Arrow operators.
    """
    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_rows)
    )


class scoped_arrow_batch:
    """Context manager: pin the Arrow batch size for the duration of an
    ACTION (collect/write) on a multimodal DataFrame, then restore the
    previous session value — the save/restore discipline `_pin_arrow_batch`
    cannot provide because the readers never see the action."""

    def __init__(self, spark, batch_rows: int):
        self._spark, self._rows = spark, batch_rows
        self._saved = None

    def __enter__(self):
        self._saved = self._spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch", None
        )
        _pin_arrow_batch(self._spark, self._rows)
        return self

    def __exit__(self, *exc):
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        if self._saved is None:
            self._spark.conf.unset(key)
        else:
            self._spark.conf.set(key, self._saved)
        return False


def _fake_decode(payload: bytes, feat_dim: int) -> list[float]:
    """Deterministic fake 'decode+embed': bytes → sha256 → feat_dim floats
    in [0,1). Stands in for a real image/audio model so the distributed
    pipeline shape is testable in this container."""
    out: list[float] = []
    h = payload or b""
    counter = 0
    while len(out) < feat_dim:
        d = hashlib.sha256(h + counter.to_bytes(4, "big")).digest()
        out.extend(b / 255.0 for b in d)
        counter += 1
    return out[:feat_dim]


#: real-decode output: dimensions + exact pixel statistics + thumbnail
IMAGE_DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("channels", LongType(), True),
        StructField("mean_px", DoubleType(), True),
        StructField("min_px", LongType(), True),
        StructField("max_px", LongType(), True),
        StructField("thumb", ArrayType(DoubleType()), True),
    ]
)

AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sample_rate", LongType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("rms", DoubleType(), True),
        StructField("zero_cross_rate", DoubleType(), True),
        StructField("spectral_centroid", DoubleType(), True),
    ]
)


def extract_image_features(
    df: DataFrame,
    feat_dim: int = 16,
    fake: bool = False,
    batch_rows: int = 64,
) -> DataFrame:
    """Decode + feature-extract image payloads via ``mapInPandas`` (Arrow
    batches; the Pandas iterator keeps peak memory to one batch of blobs per
    task). Output drops the payload — only compact features flow downstream.

    ``fake=False`` decodes FOR REAL (PNG/BMP/PPM via media_codecs;
    other formats raise UnsupportedMediaError) and emits a ``feat_dim``
    grayscale-thumbnail embedding; ``fake=True`` uses the deterministic
    hash stub for synthetic corpora."""

    def run(batches: Iterator) -> Iterator:
        import math

        import pandas as pd

        from featurebase_spark.pipeline import media_codecs as MC

        side = max(1, math.ceil(math.sqrt(feat_dim)))
        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                b = bytes(p) if p is not None else b""
                if fake:
                    feats.append(_fake_decode(b, feat_dim))
                else:
                    f = MC.image_features(b, thumb=side)
                    feats.append(f["thumb"][:feat_dim])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sha256": [
                        hashlib.sha256(bytes(p) if p is not None else b"").hexdigest()
                        for p in pdf["payload"]
                    ],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "features": feats,
                }
            )

    _pin_arrow_batch(df.sparkSession, batch_rows)
    return df.select("media_id", "payload").mapInPandas(run, IMAGE_FEATURES_SCHEMA)


def decode_image_stats(df: DataFrame, thumb: int = 4, batch_rows: int = 64) -> DataFrame:
    """REAL image decode → dimensions + exact pixel statistics + a
    ``thumb``×``thumb`` grayscale thumbnail, map-side (payloads never
    shuffle). Deterministic: integer stats are exact and the mean is a
    rational with an exact float64 sum, so results hash-match an
    arithmetic oracle."""

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from featurebase_spark.pipeline import media_codecs as MC

        for pdf in batches:
            out = {k.name: [] for k in IMAGE_DECODE_SCHEMA.fields}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                img = MC.decode_image(bytes(p))
                gray = (
                    img[:, :, :3].mean(axis=2)
                    if img.shape[2] >= 3
                    else img[:, :, 0].astype(float)
                )
                t = MC.resize_image(gray, thumb, thumb)
                out["media_id"].append(int(mid))
                out["width"].append(img.shape[1])
                out["height"].append(img.shape[0])
                out["channels"].append(img.shape[2])
                out["mean_px"].append(float(np.mean(img, dtype=np.float64)))
                out["min_px"].append(int(img.min()))
                out["max_px"].append(int(img.max()))
                out["thumb"].append((t / 255.0).ravel().tolist())
            yield pd.DataFrame(out)

    _pin_arrow_batch(df.sparkSession, batch_rows)
    return df.select("media_id", "payload").mapInPandas(run, IMAGE_DECODE_SCHEMA)


def extract_audio_features(df: DataFrame, batch_rows: int = 64) -> DataFrame:
    """REAL audio decode (PCM WAV via stdlib wave) → duration, RMS,
    zero-crossing rate, spectral centroid — map-side, payloads never
    shuffle."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        from featurebase_spark.pipeline import media_codecs as MC

        for pdf in batches:
            out = {k.name: [] for k in AUDIO_FEATURES_SCHEMA.fields}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                f = MC.audio_features(bytes(p))
                out["media_id"].append(int(mid))
                for k in (
                    "sample_rate", "duration_ms", "rms",
                    "zero_cross_rate", "spectral_centroid",
                ):
                    out[k].append(f[k])
            yield pd.DataFrame(out)

    _pin_arrow_batch(df.sparkSession, batch_rows)
    return df.select("media_id", "payload").mapInPandas(run, AUDIO_FEATURES_SCHEMA)


AUDIO_EXACT_SCHEMA = (
    "media_id long, sample_rate long, n_samples long, "
    "sum_amp long, sum_abs long, zero_crossings long"
)


def audio_exact_stats(df: DataFrame, batch_rows: int = 64) -> DataFrame:
    """REAL WAV decode → INTEGER-EXACT sample statistics (sum, L1,
    zero crossings) — the oracle-able counterpart of
    :func:`extract_audio_features` (whose RMS/FFT centroid are real but
    not SQL-replayable). 16-bit PCM samples recover exactly from the
    decoder's float64 (int16/32768 is a dyadic rational: the division
    and the multiply back are both exact), so every emitted stat is an
    integer an engine can replay from the generating formula. Map-side
    mapInPandas; payloads never shuffle."""

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from featurebase_spark.pipeline import media_codecs as MC

        for pdf in batches:
            out = {
                "media_id": [], "sample_rate": [], "n_samples": [],
                "sum_amp": [], "sum_abs": [], "zero_crossings": [],
            }
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(p)
                # integer recovery assumes the 16-bit dyadic scaling;
                # other widths would decode fine but mis-scale the
                # integers SILENTLY — refuse instead
                import io as _io
                import wave as _wave

                with _wave.open(_io.BytesIO(payload), "rb") as wf:
                    if wf.getsampwidth() != 2:
                        raise MC.UnsupportedMediaError(
                            "audio_exact_stats requires 16-bit PCM "
                            f"(got width {wf.getsampwidth()}); use "
                            "extract_audio_features for float stats"
                        )
                rate, x = MC.decode_wav(payload)
                s = np.rint(x * 32768.0).astype(np.int64)
                out["media_id"].append(int(mid))
                out["sample_rate"].append(int(rate))
                out["n_samples"].append(int(len(s)))
                out["sum_amp"].append(int(s.sum()))
                out["sum_abs"].append(int(np.abs(s).sum()))
                sgn = np.sign(s)
                out["zero_crossings"].append(
                    int((sgn[1:] != sgn[:-1]).sum()) if len(s) > 1 else 0
                )
            yield pd.DataFrame(out)

    _pin_arrow_batch(df.sparkSession, batch_rows)
    return df.select("media_id", "payload").mapInPandas(
        run, AUDIO_EXACT_SCHEMA
    )


def frame_sample_plan(
    df: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Video frame-sampling *plan*: one output row per (media_id, frame_ts).
    The timestamp lattice is computed JVM-side from metadata only — the
    payload is not touched until a downstream decode, so this explode is
    cheap even for hour-long videos."""
    return df.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.coalesce(F.col("duration_ms"), F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ts_ms"),
    )


FBV_MAGIC = b"FBV1"

FRAME_STATS_SCHEMA = (
    "media_id long, frame_idx long, n_bytes long, "
    "sum_b long, min_b long, max_b long"
)


def encode_fbv(frames) -> bytes:
    """Encode a (n_frames, frame_size) uint8 array into the minimal
    FBV1 container: 4-byte magic + n_frames/frame_size uint32 LE header
    + raw frame payloads. The container stands in for real video bytes
    (no codec libs in this environment — the PLUMBING is what this
    exercises: typed header, frame addressing, stride sampling); the
    decode path parses actual bytes, not metadata columns."""
    import struct

    import numpy as np

    a = np.ascontiguousarray(frames, dtype=np.uint8)
    if a.ndim != 2:
        raise ValueError(f"frames must be 2-D (n, size), got {a.shape}")
    return (
        FBV_MAGIC + struct.pack("<II", a.shape[0], a.shape[1]) + a.tobytes()
    )


def sample_frame_stats(
    df: DataFrame, stride: int = 2, batch_rows: int = 16
) -> DataFrame:
    """REAL frame extraction over binary video payloads, map-side: parse
    the FBV1 header, address every ``stride``-th frame directly
    (seek-by-offset — untouched frames are never materialized, the
    property a real container's keyframe index gives you), and emit
    integer-exact per-frame byte statistics. The metadata-only sibling
    is :func:`frame_sample_plan`; this is the decode half. Payloads
    stay inside their input partition (mapInPandas, Arrow-batched by
    ``batch_rows`` so a batch holds bounded video bytes); only the
    (media_id, frame_idx, stats) longs ever shuffle. Non-FBV1 payloads
    raise the typed ``UnsupportedMediaError`` (media_codecs.py:32
    convention — refused, not silently skipped)."""
    if int(stride) < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")

    def run(batches: Iterator) -> Iterator:
        import struct

        import numpy as np
        import pandas as pd

        from featurebase_spark.pipeline.media_codecs import (
            UnsupportedMediaError,
        )

        for pdf in batches:
            out: dict = {
                k: []
                for k in (
                    "media_id", "frame_idx", "n_bytes",
                    "sum_b", "min_b", "max_b",
                )
            }
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(p)
                if raw[:4] != FBV_MAGIC:
                    raise UnsupportedMediaError("not an FBV1 container")
                n, size = struct.unpack("<II", raw[4:12])
                if size == 0:
                    raise UnsupportedMediaError("FBV1 zero frame size")
                if len(raw) != 12 + n * size:
                    raise UnsupportedMediaError(
                        f"FBV1 length mismatch: header says {n}x{size}"
                    )
                for f in range(0, n, int(stride)):
                    off = 12 + f * size
                    frame = np.frombuffer(raw, np.uint8, size, off)
                    out["media_id"].append(int(mid))
                    out["frame_idx"].append(f)
                    out["n_bytes"].append(size)
                    out["sum_b"].append(int(frame.sum(dtype=np.int64)))
                    out["min_b"].append(int(frame.min()))
                    out["max_b"].append(int(frame.max()))
            yield pd.DataFrame(out)

    _pin_arrow_batch(df.sparkSession, batch_rows)
    return df.select("media_id", "payload").mapInPandas(
        run, FRAME_STATS_SCHEMA
    )
