"""Multimodal columns: opaque binary payloads + typed metadata (training-data
pipeline extension).

Images/audio/video ride as `binary` columns with a metadata struct; all
Spark-side plumbing — schema, partition-friendly batch shape, Arrow-batched
UDF signatures — is real and tested.  The actual codec work (image decode,
resample, frame extraction) needs libs not present in this container, so the
decode kernel is STUBBED: ``decode_stub=True`` (default) runs a
deterministic fake decoder (parses the synthetic header we also generate);
``decode_stub=False`` raises NotImplementedError where a Pillow/ffmpeg call
would go.  Swapping the kernel does not change any plan shape.
"""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_table

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),        # image | audio | video
    T.StructField("payload", T.BinaryType()),     # opaque encoded bytes
    T.StructField("meta", T.StructType([
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("codec", T.StringType()),
    ])),
])

_MAGIC = b"SYNM"  # synthetic media header: MAGIC | w | h | frames (little-endian i32)


def synth_media(spark, n: int = 256) -> DataFrame:
    """Deterministic synthetic media table: payload = header + repeated
    bytes; shapes derived from media_id (seed-free)."""
    rows = []
    for i in range(n):
        w, h, fr = 16 + (i % 8) * 16, 16 + (i % 5) * 16, 1 + (i % 4)
        payload = _MAGIC + struct.pack("<iii", w, h, fr) + bytes([i % 251]) * 64
        kind = ("image", "audio", "video")[i % 3]
        rows.append((i, kind, bytearray(payload), (w, h, fr, f"syn{i % 3}")))
    return local_table(spark, rows, MEDIA_SCHEMA)


def _decode_header(payload: bytes) -> tuple[int, int, int]:
    if payload[:4] != _MAGIC:
        raise ValueError("not a synthetic media payload")
    return struct.unpack("<iii", payload[4:16])


FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("byte_mean", T.DoubleType()),
])


def extract_features(media: DataFrame, decode_stub: bool = True) -> DataFrame:
    """Decode/feature-extract over binary payloads via mapInPandas (the real
    batch shape: one Arrow batch of payloads per python invocation)."""

    def run(batches):
        for pdf in batches:
            if not decode_stub:
                raise NotImplementedError(
                    "real decoder (Pillow/ffmpeg) not available in this container; "
                    "plug it in here — plan shape is unchanged")
            out = {k: [] for k in ("media_id", "kind", "width", "height",
                                   "n_frames", "n_bytes", "byte_mean")}
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                w, h, fr = _decode_header(bytes(payload))
                body = bytes(payload)[16:]
                out["media_id"].append(mid)
                out["kind"].append(kind)
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(fr)
                out["n_bytes"].append(len(payload))
                out["byte_mean"].append(round(sum(body) / len(body), 4) if body else 0.0)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, FEATURE_SCHEMA)


EMBED_DIM = 16

EMBED_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])


def media_embed(media: DataFrame, dim: int = EMBED_DIM,
                decode_stub: bool = True) -> DataFrame:
    """The multimodal→vector bridge: decode each payload and emit an
    `array<float>` embedding — the column every similarity operator
    (brute_force_topk, neardup LSH tables, IVF) consumes unchanged.

    Same honest seam as extract_features: the Arrow batch shape, schema and
    partitioning are the real pipeline; the stub kernel derives a
    deterministic vector from the decoded header + byte stats (exact
    rationals, so a DuckDB oracle replays it), where a real encoder (CLIP /
    wav2vec / …) would run on the decoded tensor."""

    def run(batches):
        for pdf in batches:
            if not decode_stub:
                raise NotImplementedError(
                    "real media encoder not available in this container; "
                    "plug it in here — plan shape is unchanged")
            out = {"media_id": [], "kind": [], "embedding": []}
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                w, h, fr = _decode_header(bytes(payload))
                body = bytes(payload)[16:]
                bm = (sum(body) / len(body)) if body else 0.0
                # last component is a constant bias so no payload can map to
                # the zero vector (cosine against it would be undefined)
                vec = [(((bm * (j + 3) + w * (j + 1) + h * (fr + 1)) % 19) - 9) / 10.0
                       for j in range(dim - 1)] + [1.0]
                out["media_id"].append(mid)
                out["kind"].append(kind)
                out["embedding"].append(vec)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, EMBED_SCHEMA)


def resize_stub(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize plumbing: rewrites the header metadata (the stub 'resize');
    a real kernel would transform payload bytes in the same mapInPandas."""

    def run(batches):
        for pdf in batches:
            def rw(payload):
                _w, _h, fr = _decode_header(bytes(payload))
                return bytearray(_MAGIC + struct.pack("<iii", width, height, fr)
                                 + bytes(payload)[16:])
            pdf = pdf.copy()
            pdf["payload"] = pdf["payload"].map(rw)
            pdf["meta"] = [{"width": width, "height": height,
                            "n_frames": m["n_frames"], "codec": m["codec"]}
                           for m in pdf["meta"]]
            yield pdf

    return media.mapInPandas(run, MEDIA_SCHEMA)


def frame_sample(media: DataFrame, every: int = 2) -> DataFrame:
    """Frame sampling: explode video payloads into per-frame rows (frame ids
    0, every, 2*every…) — pure plan plumbing, frame bytes stay opaque."""
    frames = F.filter(
        F.sequence(F.lit(0), F.col("meta.n_frames") - 1),
        lambda i: i % every == 0)
    return (media.filter(F.col("kind") == "video")
            .select("media_id", F.explode(frames).alias("frame_id"), "payload"))
