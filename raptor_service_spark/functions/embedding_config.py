"""Multi-model embedding configuration — model name -> dimension map.

Reference: /root/reference/services/config/embedding_config.py:22-28 maps
each provider model to its output dimension so mixed-model corpora store the
right vector width per dataset. The engine's hermetic analog: a registry of
deterministic hash-embedding "models" keyed by dim (schema.N_DIM is the
default model's width), plus a per-row model-aware Arrow embed pass.

Scale posture: the model registry is O(models) driver state; per-row routing
happens inside one ``mapInPandas`` pass (rows grouped by model per Arrow
batch, one vectorized XOF kernel call per group) — mixed-model corpora cost
one scan, not one scan per model. Downstream kNN/dedup joins MUST key on
(model, …): vectors of different dims never compare. No run-time check
enforces that; it is the caller's contract. tests/test_ivf.py::test_multi_model_embed_by_model pins
each row's width to its model, and the ``multi_model_dims`` query audits
per-model width uniformity against its oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

from raptor_service_spark.functions.vector import hash_embed_np
from raptor_service_spark.schema import N_DIM

# model -> output dim (reference embedding_config.py:22-28 posture)
EMBEDDING_MODEL_DIMS: dict[str, int] = {
    "hash-xof-64": 64,
    "hash-xof-32": 32,
    "hash-xof-16": 16,
}
DEFAULT_MODEL = "hash-xof-64"
assert EMBEDDING_MODEL_DIMS[DEFAULT_MODEL] == N_DIM


def model_dim(model: str) -> int:
    try:
        return EMBEDDING_MODEL_DIMS[model]
    except KeyError:
        raise ValueError(
            f"unknown embedding model {model!r}; registered: "
            f"{sorted(EMBEDDING_MODEL_DIMS)}"
        ) from None


def embed_by_model(
    df: DataFrame,
    text_col: str = "text",
    model_col: str = "model",
    out_col: str = "v",
) -> DataFrame:
    """Per-row model-aware embedding in ONE Arrow pass.

    Rows within each batch group by their ``model_col`` value and embed with
    that model's dim — a mixed-model corpus (each dataset pinned to its own
    model, the reference's multi-provider posture) is one scan. Output rows
    keep their order; ``out_col`` is array<float> of the row's model dim.
    """
    dims = dict(EMBEDDING_MODEL_DIMS)

    def gen(batches):
        for pdf in batches:
            out = np.empty(len(pdf), dtype=object)
            if len(pdf):
                for model, idx in pdf.groupby(model_col).groups.items():
                    mat = hash_embed_np(
                        pdf.loc[idx, text_col].tolist(), dims[str(model)]
                    ).astype(np.float32)
                    pos = pdf.index.get_indexer(idx)
                    for row_i, vec in zip(pos, mat):
                        out[row_i] = vec
            yield pdf.assign(**{out_col: pd.Series(out, index=pdf.index)})

    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(FloatType()))]
    )
    return df.mapInPandas(gen, schema=schema)


def model_assign_col(key: F.Column, models: tuple[str, str]) -> F.Column:
    """Deterministic two-model assignment by md5 bucket parity of the key —
    the cross-engine (Spark == DuckDB) split rule of functions/text.py's
    hash_split, reused so the multi-model oracle can reproduce it in SQL."""
    bucket = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 2
    return F.when(bucket == 0, F.lit(models[0])).otherwise(F.lit(models[1]))


def model_assign_sql(key_expr: str, models: tuple[str, str]) -> str:
    return (
        f"CASE WHEN (('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), 1, 8))"
        f"::BIGINT % 2) = 0 THEN '{models[0]}' ELSE '{models[1]}' END"
    )
