"""Deterministic document embeddings — the featurizer that connects the
text world to the ANN/embedding-dedup family.

A real pipeline runs a neural encoder inside the same serving pattern
as the PII head (executor-singleton model, Arrow batches); offline we
ship a deterministic hashed character-n-gram projection with the
identical Spark surface: ``embed_documents(df, dim)`` maps (doc_id,
text) → (vec_id, embedding array<float>) via one ``mapInPandas``, rows
independent, no state — so the output is stable across partitionings,
retries, and cluster sizes, exactly like every other stage here.

Featurization: character 3-grams hashed into ``dim`` buckets with a
signed second hash (feature hashing / signed random projection), then
L2-normalized — cosine between embeddings approximates 3-gram-profile
similarity, which is what the embedding-dedup operators consume. Both
hashes derive from one stable blake2b digest per gram (no Python
``hash()``: PYTHONHASHSEED would silently change embeddings between
runs).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..memo import Memo

_EMB_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])


# r9: the blake2b digest (bucket int + sign) is a pure function of the
# gram, and the 3-gram vocabulary is tiny vs its occurrence count —
# memoize per gram (dim applied at use, so one memo serves every dim).
def _gram_digest(g: str) -> tuple[int, float]:
    h = hashlib.blake2b(g.encode("utf-8"), digest_size=8).digest()
    return (int.from_bytes(h[:4], "big"), 1.0 if h[4] & 1 else -1.0)


_gram_digest = Memo(_gram_digest, 500_000).__getitem__


def embed_text(text: str, dim: int = 64) -> np.ndarray:
    """One document → L2-normalized hashed-3-gram vector (pure
    function; the per-row twin of the batched Spark path).

    r9: grams are counted first and each DISTINCT gram contributes
    count × sign in one update — bit-identical to the per-occurrence
    loop because every bucket value is a sum of ±1 integers (exact in
    float64 at any accumulation order), while hashing each distinct
    gram once (memoized across docs — the gram vocabulary repeats
    massively)."""
    from collections import Counter

    v = np.zeros(dim, dtype=np.float64)
    s = (text or "").lower()
    cnt = Counter(s[i:i + 3] for i in range(max(len(s) - 2, 0)))
    for g, c in cnt.items():
        bucket, sign = _gram_digest(g)
        v[bucket % dim] += sign * c
    n = float(np.linalg.norm(v))
    return (v / n if n > 0 else v).astype(np.float32)


def embed_documents(
    df: DataFrame, dim: int = 64, id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, text) → (vec_id, embedding) with the embeddings-table
    schema the ANN operators consume."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "vec_id": pdf[id_col].astype("int64"),
                "embedding": [
                    embed_text(t, dim).tolist() for t in pdf[text_col]
                ],
            })

    return df.select(id_col, text_col).mapInPandas(fn, _EMB_SCHEMA)
