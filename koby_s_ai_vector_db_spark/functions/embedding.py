"""T2/U1: batched text-embedding UDF (core/utils.py:105-124).

The reference wraps SentenceTransformer('all-MiniLM-L6-v2') in a lazily
cached process singleton (core/utils.py:23-36) and encodes in batches of
32 (utils.py:114-119). The Spark-native analogue is an Arrow-batched
scalar `pandas_udf` with per-executor lazy model init: each Python worker
builds the model once, then every Arrow batch is encoded vectorized —
the per-process singleton and the batch size map 1:1 to the reference's
design, and `spark.sql.execution.arrow.maxRecordsPerBatch` plays the
role of the outer batch (embed_pdfs.py:177-218).

The model itself: sentence-transformers is not installed in this
environment, so the default model is a DETERMINISTIC HASH EMBEDDER —
dimension d of text t is md5("{d}:{t}") scaled to [-1, 1]. That keeps the
whole pipeline oracle-checkable bit-for-bit in DuckDB (sql_embed below)
while exercising the real Spark plumbing (Arrow batches, lazy init,
array<double> output). Swap in the real model via set_model_factory() —
the UDF body does not change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType

EMBED_DIM = 16
_SCALE = 4294967295.0  # 2^32 - 1: hash32 / SCALE * 2 - 1 ∈ [-1, 1]


class HashEmbedder:
    """Deterministic stand-in for SentenceTransformer (core/utils.py:16).
    encode() is the same surface the real model exposes."""

    def __init__(self, dim: int = EMBED_DIM):
        self.dim = dim

    def encode(self, texts: list[str], batch_size: int = 32) -> list[list[float]]:
        out = []
        for t in texts:
            out.append(
                [
                    int(hashlib.md5(f"{d}:{t}".encode()).hexdigest()[:8], 16)
                    / _SCALE
                    * 2.0
                    - 1.0
                    for d in range(self.dim)
                ]
            )
        return out


_MODEL = None
_MODEL_FACTORY: Callable[[], object] = HashEmbedder


def set_model_factory(factory: Callable[[], object]) -> None:
    """Install a real model factory (e.g. lambda: SentenceTransformer(...)).
    Called before the UDF ships to executors; each executor then builds its
    own instance lazily."""
    global _MODEL_FACTORY, _MODEL
    _MODEL_FACTORY = factory
    _MODEL = None


def _get_model():
    """Per-process lazy singleton — the executor-side twin of the
    reference's get_model() cache (core/utils.py:25-36)."""
    global _MODEL
    if _MODEL is None:
        _MODEL = _MODEL_FACTORY()
    return _MODEL


# Explicit ArrayType, not a DDL string: DDL parsing needs a live
# SparkSession, which the executor-side module import does not have.
@pandas_udf(ArrayType(DoubleType()))
def embed_texts(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Scalar-iterator form: the model loads once per worker, then streams
    Arrow batches — not once per batch, matching utils.py:105-124."""
    model = _get_model()
    for texts in it:
        yield pd.Series(model.encode(texts.tolist()))


def sql_embed(text_expr: str) -> str:
    """DuckDB rendering of the hash embedder for oracle SQL."""
    comps = ", ".join(
        f"(('0x' || substr(md5('{d}:' || {text_expr}), 1, 8))::BIGINT)::DOUBLE"
        f" / {_SCALE} * 2.0 - 1.0"
        for d in range(EMBED_DIM)
    )
    return f"[{comps}]"
