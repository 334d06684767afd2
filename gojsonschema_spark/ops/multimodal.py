"""Multimodal column plumbing: feature extraction over binary payloads.

Image/audio/video travel as opaque ``binary`` columns; feature
extraction runs as an Arrow-batched ``mapInPandas`` stage. The codec step
is injectable via ``decoder=``; the default is a deterministic md5 fake
(fast and format-agnostic). Real pure-stdlib decoders live in
ops/codecs.py (``decoder=codecs.png_feature_decoder`` /
``codecs.wav_feature_decoder``); for other formats inject a
PIL/libav-backed callable with the same ``bytes -> list[float]``
signature."""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

__all__ = ["extract_features", "stub_decoder"]

FEATURE_SCHEMA = "key string, feature array<float>, n_bytes int"


def stub_decoder(payload: bytes) -> list[float]:
    """Deterministic fake 'decode + embed': 8 floats from the md5 digest.

    Replace with a real codec in production; raises on None to mirror a
    decoder failing on corrupt input."""
    if payload is None:
        raise ValueError("cannot decode null payload")
    digest = hashlib.md5(payload).digest()
    return [b / 255.0 for b in digest[:8]]


def extract_features(df: DataFrame, key_col: str = "key",
                     payload_col: str = "payload",
                     decoder: Callable[[bytes], list[float]] = stub_decoder,
                     batch_rows: int = 1024) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    mapInPandas streams column batches through Python; corrupt payloads
    yield feature=NULL rather than failing the job (poison-pill guard a
    100 TB run needs)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            sizes = []
            for payload in pdf[payload_col]:
                try:
                    feats.append(decoder(bytes(payload)))
                except Exception:
                    feats.append(None)
                sizes.append(0 if payload is None else len(payload))
            yield pd.DataFrame({
                "key": pdf[key_col].astype(str),
                "feature": feats,
                "n_bytes": sizes,
            })

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)
