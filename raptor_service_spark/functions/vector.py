"""Vector functions: deterministic hash embeddings + cosine kernels.

Replaces the reference's Voyage embedding client
(/root/reference/services/providers/voyage/voyage_client.py:222-355) with a
deterministic, hermetic hash-embedding (tests/bench), and pgvector's
``v <=> q`` cosine distance (/root/reference/repositories/retrieval_repo.py:271)
with ``cosine_sim_col``: a pure Spark SQL expression (zip_with + aggregate),
JVM-side, float64 accumulation in input order, bit-compatible with a
sequential-fold SQL oracle. The batch/matrix path (Arrow transfer, one BLAS
GEMM per batch) — the hot path for kNN at scale — lives in operators/knn.py.

All UDFs are vectorized pandas/Arrow (input_hint: no per-row Python in the
row-at-a-time sense; per-batch numpy only).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

from raptor_service_spark.schema import N_DIM


# ---------------------------------------------------------------------------
# deterministic hash embedding
# ---------------------------------------------------------------------------


def hash_embed_np(
    texts: "pd.Series | list[str]", dim: int = N_DIM, rounds: int = 1
) -> np.ndarray:
    """L2-normalized deterministic embedding from SHAKE-256 extendable output.

    (FIXTURES.md §3.) Same text -> same vector on every executor, every run.

    Kernel design is deliberate for multi-core scale: one XOF call per text
    (pure C, tiny state, no allocator churn) then two vectorized passes over
    the (n, dim) block. The previous per-text ``np.random.default_rng``
    variant was allocator/memory-bound and capped at ~10x parallel speedup on
    32 cores; this kernel measures ~30x (see BASELINE.md scaling evidence).

    ``rounds`` chains the XOF (digest_i = shake(digest_{i-1})) to give the
    kernel a tunable compute cost. rounds=1 is the test default; the bench
    pipeline uses a higher count to model what the embed stage costs with a
    real model (C7, voyage-context-3: transformer inference is orders of
    magnitude more compute per span than one hash), so the benchmark's
    bottleneck structure — compute-bound embed, not I/O-bound — matches a
    production deployment.
    """
    n = len(texts)
    if n == 0:
        return np.empty((0, dim), dtype=np.float64)
    nb = dim * 8

    def xof(t) -> bytes:
        d = hashlib.shake_256(str(t).encode()).digest(nb)
        for _ in range(rounds - 1):
            d = hashlib.shake_256(d).digest(nb)
        return d

    buf = b"".join(xof(t) for t in texts)
    x = np.frombuffer(buf, dtype="<u8").reshape(n, dim)
    # top 53 bits -> uniform [-1, 1); exact same floats on every platform
    v = (x >> np.uint64(11)).astype(np.float64) / float(1 << 52) - 1.0
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v


def hash_embed_udf(dim: int = N_DIM):
    """Arrow-batched pandas UDF: text -> array<float> embedding."""

    @F.pandas_udf(ArrayType(FloatType()))
    def _embed(texts: pd.Series) -> pd.Series:
        mat = hash_embed_np(texts, dim).astype(np.float32)
        return pd.Series(list(mat))

    return _embed


# ---------------------------------------------------------------------------
# cosine kernels
# ---------------------------------------------------------------------------


def cosine_sim_col(vec: Column, q: np.ndarray) -> Column:
    """JVM-side cosine similarity of a vector column against a literal query.

    zip_with product + sequential-fold aggregate in float64 — whole-stage
    codegen, no Python worker. For dims <= ~2k the literal array is cheap.
    """
    q = np.asarray(q, dtype=np.float64)
    qlit = F.array(*[F.lit(float(x)) for x in q])
    dot = F.aggregate(
        F.zip_with(vec, qlit, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    vnorm = F.sqrt(
        F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    qnorm = float(np.linalg.norm(q))
    return dot / (vnorm * F.lit(qnorm))


def cosine_dist_col(vec: Column, q: np.ndarray) -> Column:
    """pgvector's ``<=>`` operator: 1 - cosine similarity."""
    return F.lit(1.0) - cosine_sim_col(vec, q)


def embed_spans(df, text_col: str = "text", out_col: str = "v", dim: int = N_DIM):
    """Attach deterministic embeddings to a span DataFrame (UDF 1, SURVEY §2.12)."""
    return df.withColumn(out_col, hash_embed_udf(dim)(F.col(text_col)))
