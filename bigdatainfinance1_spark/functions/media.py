"""Opaque-binary media plumbing (SURVEY.md §2.9 L6 / task mandate
"multimodal columns").

The real decode step (image resize, audio resample, video frame-sample)
needs codec libraries that are NOT in this container, so `fake_decode` is a
clearly-marked deterministic stand-in. Everything around it — the Arrow
batch iterator contract, the explicit output schema, partition-level
batching — is exactly what a production decoder uses: replace the body of
`fake_decode` with PIL/torchaudio/ffmpeg calls and nothing else changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import types as T


def decode_features_schema() -> T.StructType:
    """Output schema of extract_features (mapInPandas contract)."""
    return T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("feat_mean", T.DoubleType()),
            T.StructField("feat_grain", T.LongType()),
            T.StructField("feat_dim", T.IntegerType()),
        ]
    )


def fake_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic fake feature vector from raw bytes: mean of each of
    `dim` byte-stripes, scaled to [0,1). Stands in for a real embedding or
    pixel-statistics extraction; stable across runs and machines."""
    if not payload:
        return [0.0] * dim
    stripes: list[float] = []
    for s in range(dim):
        stripe = payload[s::dim]
        stripes.append((sum(stripe) / len(stripe)) / 256.0 if stripe else 0.0)
    return stripes


FEAT_GRAIN = 10**9  # exact-integer grain of fake_grain (cross-engine rule)


def fake_grain(payload: bytes, dim: int = 8) -> int:
    """Exact-INTEGER companion of fake_decode: per stripe,
    floor(FEAT_GRAIN * stripe_sum / (256 * stripe_len)) — pure integer
    arithmetic — summed over stripes. Order-insensitive and reproducible
    bit-for-bit by any SQL engine with integer division, so aggregates of
    it are immune to the engine-ordered double-summation flake class
    (feat_grain / dim / FEAT_GRAIN ≈ mean of fake_decode's stripes)."""
    if not payload:
        return 0
    total = 0
    for s in range(dim):
        stripe = payload[s::dim]
        if stripe:
            total += (FEAT_GRAIN * sum(stripe)) // (256 * len(stripe))
    return total


def extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: iterate Arrow batches of (doc_id, lang, payload),
    emit per-row decoded feature stats (fake_decode; see module docstring)."""
    for pdf in batches:
        payloads = [bytes(p) for p in pdf["payload"]]
        feats = [fake_decode(p) for p in payloads]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "lang": pdf["lang"],
                "n_bytes": [len(p) for p in payloads],
                "feat_mean": [sum(f) / len(f) if f else 0.0 for f in feats],
                "feat_grain": pd.Series(
                    [fake_grain(p) for p in payloads], dtype="int64"
                ),
                "feat_dim": [len(f) for f in feats],
            }
        )


AUDIO_FRAME = 40  # fake-PCM samples per frame (full frames only)
AUDIO_DC = 96  # DC offset removed before energy (ASCII text centers near 96)


def audio_frames_schema() -> T.StructType:
    """Output schema of extract_audio_frames (mapInPandas contract)."""
    return T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("rms", T.DoubleType()),
        ]
    )


def extract_audio_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas framing kernel: treat each binary payload as mono 8-bit
    PCM (the deterministic fake — a real pipeline swaps the frombuffer
    line for torchaudio/soundfile decode and nothing else changes), cut
    into AUDIO_FRAME-sample non-overlapping frames (full frames only),
    and emit per-frame RMS energy after removing the AUDIO_DC offset.
    RMS = sqrt(sum((v - DC)^2) / FRAME) — an integer sum followed by two
    correctly-rounded IEEE ops, so the value is bit-identical to the
    oracle's byte arithmetic."""
    import numpy as np

    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "lang": [], "frame_idx": [], "rms": []}
        for doc_id, lang, payload in zip(pdf["doc_id"], pdf["lang"], pdf["payload"]):
            samples = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
            n_frames = len(samples) // AUDIO_FRAME
            for f in range(n_frames):
                frame = samples[f * AUDIO_FRAME : (f + 1) * AUDIO_FRAME] - AUDIO_DC
                rms = float(np.sqrt(int((frame * frame).sum()) / AUDIO_FRAME))
                out["doc_id"].append(int(doc_id))
                out["lang"].append(lang)
                out["frame_idx"].append(f)
                out["rms"].append(rms)
        yield pd.DataFrame(out)
