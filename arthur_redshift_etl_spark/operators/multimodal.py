"""Multimodal columns: opaque binary payloads with typed metadata.

Image/audio/video are ``binary`` columns plus a metadata struct
(modality, format, width/height/duration, byte size).  Decode and feature
extraction run as Arrow-batched ``mapInPandas`` stages.  The decode step is
REAL for BMP images and PCM WAV audio via the pure-Python numpy-vectorized
codecs in ``media_codec.py`` (built from the public BMP/RIFF specs, same
approach as ``sources/avro_codec.py``); formats that need external media
libraries (JPEG/PNG/MP3/video) raise ``UnsupportedMediaError`` — a declared
boundary.  A deterministic fake decoder remains available for
format-agnostic plumbing tests.

Scale notes: payloads never pass through the driver; ``mapInPandas``
streams Arrow batches through each executor, so memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch × mean payload size``.
Keep payloads ≤ a few MB per row, or store pointers (file paths) instead of
bytes — both shapes are supported (``payload`` may be NULL with a
``uri`` set).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import media_codec

# The decode closures below run on executor Python workers, which do not
# necessarily have this package on sys.path (the round driver imports
# __spark_entry__.py by file path from another cwd).  Registering this module
# and the codec module for by-value pickling makes cloudpickle ship their
# (numpy+stdlib-only) code with the task instead of re-importing worker-side
# — the closures reference module-level helpers (_fake_decode_features,
# media_codec), which are otherwise serialized as import-by-name.
try:  # pragma: no cover - registration is a no-op safeguard when unavailable
    import sys as _sys

    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(media_codec)
    _cp.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # noqa: BLE001
    pass

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("uri", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("modality", T.StringType()),  # image|audio|video
                    T.StructField("format", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def attach_metadata(df: DataFrame, payload_col: str = "payload",
                    modality: str = "image", fmt: str = "raw") -> DataFrame:
    """Fill the metadata struct from the payload itself (size et al.)."""
    return df.withColumn(
        "meta",
        F.struct(
            F.lit(modality).alias("modality"),
            F.lit(fmt).alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.length(F.col(payload_col)).cast("long").alias("n_bytes"),
        ),
    )


def _fake_decode_features(payload: bytes) -> list:
    """Deterministic stand-in for a real decoder: md5-seeded pseudo-features.

    Replaces (until real codecs are available) the decode → resize →
    embed pipeline with a reproducible function of the bytes, so the
    Spark-side plumbing is testable end-to-end.
    """
    digest = hashlib.md5(payload or b"").digest()
    return [
        ((digest[i % 16] << 8 | digest[(i + 1) % 16]) % 1000) / 1000.0
        for i in range(FEATURE_DIM)
    ]


def extract_features(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    use_fake_decoder: bool = False,
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    The default path REALLY decodes: BMP pixels / WAV samples are parsed by
    ``media_codec`` (numpy-vectorized, executor-side) into deterministic
    16-dim descriptors; NULL payloads yield NULL features; unsupported
    formats raise ``UnsupportedMediaError`` at execution time.
    ``use_fake_decoder=True`` swaps in the md5-seeded stand-in for
    format-agnostic plumbing tests.
    """

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            features = []
            for p in pdf[payload_col]:
                if use_fake_decoder:
                    features.append(_fake_decode_features(p or b""))
                elif p is None:
                    features.append(None)
                else:
                    features.append(media_codec.decode_features(bytes(p)))
            yield pd.DataFrame({"media_id": pdf[id_col], "feature": features})

    return df.select(id_col, payload_col).mapInPandas(run, FEATURE_SCHEMA)


PROBED_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def probe_metadata(
    df: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """Fill the metadata struct from REAL container headers.

    Header-only parse (no pixel/sample math beyond what the codec already
    vectorizes): width/height from the BMP info header, duration from the
    WAV fmt+data chunks.  Unknown formats get modality='unknown' with just
    the byte size — probing is a classification step, so it must not throw.
    """

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in
                   ("media_id", "modality", "format", "width", "height",
                    "duration_ms", "n_bytes")}
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                p = bytes(p) if p is not None else b""
                kind = media_codec.sniff_format(p)
                row = dict(media_id=mid, modality="unknown", format=kind,
                           width=None, height=None, duration_ms=None,
                           n_bytes=len(p))
                try:
                    if kind == "bmp":
                        img = media_codec.decode_bmp(p)
                        row.update(modality="image", width=img.width,
                                   height=img.height)
                    elif kind == "wav":
                        aud = media_codec.decode_wav(p)
                        row.update(modality="audio",
                                   duration_ms=aud.duration_ms)
                except (media_codec.MediaCodecError,
                        media_codec.UnsupportedMediaError):
                    row.update(modality="unknown")
                for k, v in row.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(run, PROBED_META_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: (media_id, frame_ts_ms) rows to decode.

    Pure metadata arithmetic (no decode): one row per sampled timestamp,
    derived from ``meta.duration_ms`` with ``sequence`` — stays JVM-side.
    """
    return (
        df.filter(F.col("meta.modality") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.coalesce(F.col("meta.duration_ms"), F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("frame_ts_ms"),
        )
    )


PAYLOAD_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload_md5", T.StringType()),
    ]
)


def payload_stats(df: DataFrame, id_col: str = "doc_id",
                  payload_col: str = "payload") -> DataFrame:
    """Arrow-batched byte-level stats over binary payloads.

    The oracle-checkable slice of the decode pipeline: bytes stream through
    the same ``mapInPandas`` contract as ``extract_features`` (binary Arrow
    batches per partition, no driver round-trip), computing per-payload
    length + digest — deterministic, so it verifies the plumbing that the
    stubbed media codecs plug into.
    """

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import pandas as pd

        for pdf in batches:
            payloads = [p if p is not None else b"" for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": [len(p) for p in payloads],
                    "payload_md5": [hashlib.md5(p).hexdigest() for p in payloads],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, PAYLOAD_STATS_SCHEMA)




def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode → nearest-neighbor resize → re-encode, Arrow-batched.

    The "resize" stage of the canonical decode→resize→embed media pipeline,
    REAL on BMP payloads (media_codec.resize_nearest, numpy gather per
    axis).  NULL payloads pass through as NULL rows; non-image formats
    raise at execution time (resize is a typed stage — route payloads
    through probe_metadata first to split modalities).  Map-only: no
    shuffle, scales linearly with payload bytes.
    """

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {id_col: [], "payload": [], "width": [], "height": []}
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                out[id_col].append(mid)
                if p is None:
                    out["payload"].append(None)
                    out["width"].append(None)
                    out["height"].append(None)
                    continue
                img = media_codec.resize_nearest(
                    media_codec.decode_bmp(bytes(p)), width, height
                )
                out["payload"].append(media_codec.encode_bmp(img.pixels))
                out["width"].append(img.width)
                out["height"].append(img.height)
            yield pd.DataFrame(out)

    # id column name follows the caller (integral ids — Arrow long)
    schema = f"{id_col} long, payload binary, width int, height int"
    return df.select(id_col, payload_col).mapInPandas(run, schema)




def downsample_audio(
    df: DataFrame,
    factor: int,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode → integer decimation → re-encode WAV, Arrow-batched.

    Keeps every ``factor``-th frame (media_codec.decimate_audio); the
    re-encoded payload declares the reduced rate so duration is preserved.
    Same typed-stage contract as resize_images: NULLs pass through,
    non-WAV payloads raise.  Map-only, no shuffle.
    """

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = {id_col: [], "payload": [], "sample_rate": [],
                   "n_frames": []}
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                out[id_col].append(mid)
                if p is None:
                    out["payload"].append(None)
                    out["sample_rate"].append(None)
                    out["n_frames"].append(None)
                    continue
                aud = media_codec.decimate_audio(
                    media_codec.decode_wav(bytes(p)), factor
                )
                out["payload"].append(
                    media_codec.encode_wav(
                        aud.samples, sample_rate=aud.sample_rate
                    )
                )
                out["sample_rate"].append(aud.sample_rate)
                out["n_frames"].append(int(aud.samples.shape[0]))
            yield pd.DataFrame(out)

    schema = f"{id_col} long, payload binary, sample_rate int, n_frames long"
    return df.select(id_col, payload_col).mapInPandas(run, schema)
