"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Design for a 100 TB multimodal corpus: media bytes live in a
``binary`` column (or object-store URIs) beside a typed metadata struct;
decode / feature-extract / resize / frame-sample run as **Arrow-batched
Pandas UDFs over mapInPandas** — per-partition, zero driver involvement,
Python only where codecs force it. The image/audio libraries are not in
this container, so the codec calls are stubbed behind
``NotImplementedError`` with a deterministic fake used in tests; the
Spark-side contract (schemas, batch iteration, partitioning) is real and
tested — swapping the stub for Pillow/torchaudio changes one function.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("format", T.StringType(), True),       # png|wav|mp4…
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", MEDIA_META, True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for an embedding model: byte-histogram
    moments folded into ``dim`` buckets. Pure function of the payload —
    reproducible across runs/engines. Deliberately NO rounding: the raw
    IEEE-754 division of two exact integers is bit-identical in every
    engine, whereas decimal rounding at half-points is where engines
    (banker's vs half-away) diverge."""
    if payload is None:
        return [0.0] * dim
    import numpy as np

    # Vectorized bucket sums (guide §4.2: native code inside the Arrow
    # batch, not a per-byte Python loop). Exact-integer sums, then the
    # same int/int IEEE division as the scalar form — bit-identical.
    a = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
    pad = (-len(a)) % dim
    if pad:
        a = np.concatenate([a, np.zeros(pad, dtype=np.int64)])
    acc = a.reshape(-1, dim).sum(axis=0)
    n = max(len(payload), 1)
    return [int(s) / n for s in acc]


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Per-partition Arrow-batched feature extraction (mapInPandas).

    The iterator contract keeps memory bounded: one Arrow batch of
    payloads in flight per task regardless of partition size — the shape
    a real GPU/codec stage needs (batched inference slots in here).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["payload"].map(
                        lambda p: 0 if p is None else len(p)
                    ),
                    "feature": pdf["payload"].map(
                        lambda p: fake_feature(p, dim)
                    ),
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def fake_resize(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for an image resize: stride-subsample the
    payload to exactly ``width*height`` bytes (pad with zeros when the
    source is smaller). Pure function of (payload, w, h) — the real
    codec (Pillow thumbnail/resample) slots into the same signature."""
    target = width * height
    if payload is None:
        return bytes(target)
    if len(payload) >= target:
        import numpy as np

        # Gather via numpy instead of a per-byte Python generator
        # (guide §4.2). Index math is the same float64 product
        # truncated to int, so the selected bytes are identical.
        stride = len(payload) / target
        idx = (np.arange(target, dtype=np.float64) * stride).astype(
            np.int64
        )
        return np.frombuffer(payload, dtype=np.uint8)[idx].tobytes()
    return bytes(payload) + bytes(target - len(payload))


def resize_images(media: DataFrame, width: int = 16, height: int = 16) -> DataFrame:
    """Arrow-batched resize over mapInPandas: image rows get a
    ``width``×``height`` payload and updated metadata; non-image rows
    pass through untouched. Same iterator contract as
    :func:`extract_features` — one Arrow batch in flight per task,
    map-only (no shuffle), schema identical to the input so resize
    stages compose/chain."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            for idx in out.index:
                meta = out.at[idx, "meta"]
                if meta is None or meta.get("media_type") != "image":
                    continue
                out.at[idx, "payload"] = fake_resize(
                    out.at[idx, "payload"], width, height
                )
                new_meta = dict(meta)
                new_meta["width"] = width
                new_meta["height"] = height
                out.at[idx, "meta"] = new_meta
            yield out

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: expands each video row into frame
    timestamps (codegen sequence — no UDF); the actual frame decode is
    the stubbed codec slot. Partition-safe: the explode multiplies rows
    map-side, no shuffle."""
    return (
        media.filter(F.col("meta.media_type") == "video")
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


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter for the driver corpus: treats each document's UTF-8 bytes
    as an opaque payload with image-ish metadata — exercises the binary
    plumbing end-to-end without real codecs."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("raw").alias("format"),
            F.length("text").cast("int").alias("width"),
            F.lit(1).alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


def byte_bucket_sums(media: DataFrame, dim: int = 8) -> DataFrame:
    """Exact per-bucket byte sums over payloads: bucket j sums the bytes
    at positions ≡ j (mod dim) — the integer core under the stub feature
    vector and the perceptual-hash fingerprint.

    Vectorized numpy over Arrow batches, NOT built-in higher-order
    functions: per-byte lambdas (``aggregate(sequence(...))`` with
    ``conv(substr(hex(..)))``) run interpreted and measured 4.9 s for a
    1.5 MB corpus at sf0.1 where this path runs 0.87 s — and the gap is
    linear in payload bytes, so at real media sizes the HOF path is
    unusable. Same justified-UDF precedent as the IVF centroid scorer
    (operators/similarity.py).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.ArrayType(T.LongType()))
    def _sums(p: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for b in p:
            if b is None:
                out.append(None)
                continue
            a = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
            out.append([int(a[j::dim].sum()) for j in range(dim)])
        return pd.Series(out)

    return media.select(
        "media_id",
        F.length("payload").alias("n_bytes"),
        _sums("payload").alias("bucket_sums"),
    )


def documents_as_audio(docs: DataFrame, sample_rate: int = 8000) -> DataFrame:
    """Audio-flavored adapter: each document's UTF-8 bytes stand in for
    an 8-bit PCM sample stream (duration = n_bytes / sample_rate) — the
    audio twin of :func:`documents_as_media`, exercising the framing /
    energy plumbing without torchaudio in the image."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("audio").alias("media_type"),
            F.lit("pcm8").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.length("text").cast("long") * 1000 / sample_rate)
            .cast("long").alias("duration_ms"),
            F.lit(sample_rate).alias("sample_rate"),
        ).alias("meta"),
    )


def audio_frame_energy(
    media: DataFrame, frame: int = 400, hop: int = 160
) -> DataFrame:
    """Short-time frame energy over 8-bit PCM payloads — the standard
    STFT-precursor framing (e.g. 50 ms windows / 20 ms hop at 8 kHz):
    frame f covers samples [f·hop, f·hop+frame); a payload shorter than
    one frame yields no rows. Energy is the exact integer Σ sample²
    (BIGINT — engine-portable, no float accumulation).

    Arrow-batched mapInPandas with a cumulative-sum-of-squares per
    payload, so each frame's energy is two array lookups, not a
    ``frame``-wide re-sum — O(bytes + frames) per row, vectorized in
    numpy (same justified-UDF precedent as byte_bucket_sums; a real
    torchaudio framing slots into the same batch signature)."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("start_sample", T.LongType(), False),
            T.StructField("energy", T.LongType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, fis, starts, energies = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None or len(payload) < frame:
                    continue
                a = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                cs = np.concatenate(([0], np.cumsum(a * a)))
                n_frames = 1 + (len(a) - frame) // hop
                s = np.arange(n_frames, dtype=np.int64) * hop
                ids.extend([mid] * n_frames)
                fis.extend(range(n_frames))
                starts.extend(s.tolist())
                energies.extend((cs[s + frame] - cs[s]).tolist())
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(fis, dtype="int32"),
                    "start_sample": pd.Series(starts, dtype="int64"),
                    "energy": pd.Series(energies, dtype="int64"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(run, out_schema)
