"""Multimodal columns — image/audio/video as opaque binary + metadata.

The corpus interleaves text and media spans (``input_hint``); media
payloads live in a side table keyed by ``media_ref``:

    media(media_ref string, mime_type string, size_bytes long,
          width int, height int, duration_ms int, payload binary)

Design per the large-scale pipeline brief: payload is an opaque
``BinaryType`` column; all decode / feature-extraction runs as
Arrow-batched ``mapInPandas`` so bytes stream through Python in batches,
never row-at-a-time. The actual codec step is STUBBED (no image/audio
libraries in this container): ``decode_features`` computes deterministic
fake features from the bytes themselves (documented below), while the
Spark-side plumbing — schema, batch iteration, partitioning, output
contract — is real and tested. Swap ``_fake_decode`` for PIL/ffmpeg in a
real deployment; nothing else changes.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_validator_spark.functions.text import hash_long

FEATURE_SCHEMA = (
    "media_ref string, mime_type string, n_bytes long, "
    "byte_mean double, byte_entropy_proxy double, feature array<float>"
)

def synth_media_table(spark, catalog, payload_bytes: int = 256) -> DataFrame:
    """Attach a deterministic fake ``payload`` to a media catalog
    (``sources/synth.synth_media_catalog``): payload = repeated md5 bytes
    of the media_ref — stable across runs/partitions, binary-typed."""
    rep = payload_bytes // 16 + 1
    payload = F.unhex(
        F.substring(F.repeat(F.md5(F.col("media_ref")), rep), 1, payload_bytes * 2)
    )
    return catalog.withColumn("payload", payload).withColumns(
        {
            "width": (F.pmod(F.xxhash64("media_ref", F.lit(1)), F.lit(1920)) + 1).cast("int"),
            "height": (F.pmod(F.xxhash64("media_ref", F.lit(2)), F.lit(1080)) + 1).cast("int"),
            # md5-based (functions/text.hash_long), not xxhash64: the
            # frame_sample oracle reproduces duration → frame counts in
            # DuckDB; width/height stay xxhash64 (no oracle reads them)
            "duration_ms": (hash_long(F.col("media_ref"), F.lit("dur")) % 60000).cast(
                "int"
            ),
        }
    )


def _fake_decode(payload: bytes, dim: int) -> list[float]:
    """STUB for the real codec: a deterministic byte-histogram projection.

    Real deployment: replace with PIL/torchvision/librosa decode →
    embedding. Raises nothing here — the fake is total — but a real
    decoder should catch codec errors and emit nulls (the S2 MIME-sniff
    analogue, ``FileManager.java:58-64``)."""
    if payload is None:
        return [0.0] * dim
    acc = [0.0] * dim
    for i, b in enumerate(payload):
        acc[i % dim] += b / 255.0
    n = max(len(payload), 1)
    return [round(a * dim / n, 6) for a in acc]


def decode_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Arrow-batched decode + featurize: ``FEATURE_SCHEMA`` rows.

    ``mapInPandas`` sees whole Arrow batches; numpy does the per-batch
    math. byte_mean / entropy-proxy are real (computed from payload
    bytes); ``feature`` comes from the stubbed decoder."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            feats, means, ents, sizes = [], [], [], []
            for payload in batch["payload"]:
                b = bytes(payload) if payload is not None else b""
                arr = np.frombuffer(b, dtype=np.uint8)
                sizes.append(len(b))
                if len(arr):
                    means.append(round(float(arr.mean()), 6))
                    counts = np.bincount(arr, minlength=256) / len(arr)
                    nz = counts[counts > 0]
                    ents.append(round(float(-(nz * np.log2(nz)).sum()), 6))
                else:
                    means.append(0.0)
                    ents.append(0.0)
                feats.append(_fake_decode(b, dim))
            yield pd.DataFrame(
                {
                    "media_ref": batch["media_ref"],
                    "mime_type": batch["mime_type"],
                    "n_bytes": sizes,
                    "byte_mean": means,
                    "byte_entropy_proxy": ents,
                    "feature": feats,
                }
            )

    return media.select("media_ref", "mime_type", "payload").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


def frame_sample(media: DataFrame, every_ms: int = 10000) -> DataFrame:
    """Frame-sampling plumbing for video-ish media: one output row per
    sampled frame offset (duration_ms / every_ms frames). The frame
    *content* hash is stubbed as md5(media_ref || frame_idx) — the
    plumbing (explode shape, schema, ordering) is the real contract."""
    idx = F.sequence(
        F.lit(0),
        F.greatest(
            (F.col("duration_ms") / F.lit(every_ms)).cast("int") - 1, F.lit(0)
        ),
    )
    return (
        media.select("media_ref", "duration_ms", F.explode(idx).alias("frame_idx"))
        .select(
            "media_ref",
            "frame_idx",
            (F.col("frame_idx") * every_ms).cast("int").alias("frame_offset_ms"),
            F.md5(F.concat_ws(":", "media_ref", "frame_idx")).alias("frame_hash"),
        )
    )


DECODED_FEATURE_SCHEMA = (
    "media_ref string, mime_type string, n_bytes long, decode_ok boolean, "
    "width int, height int, mean_r double, mean_g double, mean_b double, "
    "brightness double, duration_ms int, rms double, zero_cross_rate double, "
    "decode_error string"
)


def synth_decodable_media(spark, catalog: DataFrame) -> DataFrame:
    """Catalog rows → REAL uncompressed payloads, deterministically from
    the media_ref: image/* mimes become genuine P6 PPM gradients (16x12),
    audio/* become genuine PCM WAV sine bursts. Generated inside
    ``mapInPandas`` (vectorized numpy per payload; deterministic seed =
    md5 bytes of the ref) so generation scales like any other Arrow
    stage. One ref in ~97 gets a corrupted payload (header byte flipped)
    to exercise the decoder's error path."""
    import hashlib

    import numpy as np

    from json_validator_spark.operators.media_codecs import encode_ppm, encode_wav

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            payloads = []
            for ref, mime in zip(batch["media_ref"], batch["mime_type"]):
                seed = hashlib.md5(ref.encode()).digest()
                s0, s1 = seed[0], seed[1]
                if mime.startswith("image/"):
                    w, h = 16, 12
                    x = np.arange(w, dtype=np.uint16)
                    y = np.arange(h, dtype=np.uint16)[:, None]
                    rgb = np.stack(
                        [
                            (x + s0) % 256 * np.ones((h, w), dtype=np.uint16) % 256,
                            (y + s1) % 256 * np.ones((h, w), dtype=np.uint16) % 256,
                            ((x + y + s0 + s1) % 256),
                        ],
                        axis=-1,
                    ).astype(np.uint8)
                    p = encode_ppm(rgb)
                else:
                    rate = 8000
                    n = 400 + (s0 % 5) * 80          # 50-90 ms bursts
                    freq = 200.0 + 10.0 * s1
                    t = np.arange(n, dtype=np.float64) / rate
                    samples = (0.5 * 32767 * np.sin(2 * np.pi * freq * t)).astype(np.int16)
                    p = encode_wav(samples, rate)
                if s0 % 97 == 0:  # deterministic corruption
                    p = b"X" + p[1:]
                payloads.append(p)
            out = batch[["media_ref", "mime_type"]].copy()
            out["payload"] = payloads
            yield out

    return catalog.select("media_ref", "mime_type").mapInPandas(
        gen, schema="media_ref string, mime_type string, payload binary"
    )


def decode_media_features(media: DataFrame) -> DataFrame:
    """REAL decode → feature extraction for uncompressed formats
    (PPM via ``media_codecs.decode_ppm``, PCM WAV via ``decode_wav``) —
    actual pixels/samples are parsed and the features computed from
    them; compressed mimes would route to the documented stub. Codec
    failures surface as ``decode_ok=false`` rows with the error message
    (the S2 acceptance analogue: report the bad payload, keep going)."""
    import struct

    from json_validator_spark.operators.media_codecs import ppm_features, wav_features

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "width", "height", "mean_r", "mean_g", "mean_b", "brightness",
            "duration_ms", "rms", "zero_cross_rate",
        ]
        for batch in batches:
            if not len(batch):
                continue
            rows = []
            for ref, mime, payload in zip(
                batch["media_ref"], batch["mime_type"], batch["payload"]
            ):
                b = bytes(payload) if payload is not None else b""
                row = {
                    "media_ref": ref, "mime_type": mime, "n_bytes": len(b),
                    "decode_ok": True, "decode_error": None,
                    **{c: None for c in cols},
                }
                try:
                    if b.startswith(b"P6"):
                        row.update(ppm_features(b))
                    elif b[:4] == b"RIFF":
                        row.update(wav_features(b))
                    else:
                        raise ValueError(f"unrecognized container for {mime}")
                except (ValueError, struct.error) as exc:
                    # struct.error: truncated RIFF headers escape the
                    # WAV parser before its own ValueError checks run
                    row["decode_ok"] = False
                    row["decode_error"] = str(exc)
                rows.append(row)
            yield pd.DataFrame(rows)

    return media.select("media_ref", "mime_type", "payload").mapInPandas(
        run, schema=DECODED_FEATURE_SCHEMA
    )
