"""Collapsed + traversal retrieval over the tile tree.

Reference: /root/reference/services/retrieval/retrieval_service.py:76-141
(mode dispatch), repositories/retrieval_repo.py:254-348 (collapsed:
search_summary_nodes + gather_leaf_chunks), :350-436 (traversal beam).

Output schema matches the reference's gather_leaf_chunks rows exactly:
``(chunk_id, doc_id, idx, text, dist)`` (retrieval_repo.py:314-319).

Parity notes (SURVEY §2.5, §7.4):
  * traversal applies ``LIMIT k`` GLOBALLY across all parents per level —
    exactly the reference's SQL, not a per-parent window.
  * ordering key is (round(dist, 9), id): float64 fold order differs
    between JVM and numpy/DuckDB in the last ulps, so near-ties would flip
    nondeterministically without the rounding; the reference has no tie-break
    at all (SURVEY §7.4.1). The returned dist column stays exact.
  * the per-level frontier is a tiny literal IN-list -> broadcast semi-join,
    no shuffle of the big side beyond the scan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raptor_service_spark.functions.vector import cosine_dist_col
from raptor_service_spark.operators.knn import brute_force_knn
from raptor_service_spark.operators.tree import TileTree

RESULT_COLS = ("chunk_id", "doc_id", "idx", "text", "dist")


def search_summary_nodes(
    nodes: DataFrame, q: np.ndarray, dataset_id: str, expand_k: int
) -> DataFrame:
    """Stage 1: kNN over summary+root nodes (retrieval_repo.py:254-290)."""
    summaries = nodes.filter(
        (F.col("dataset_id") == dataset_id) & F.col("kind").isin("summary", "root")
    )
    return brute_force_knn(
        summaries, q, expand_k, payload_cols=("tree_id", "level", "kind"), id_col="node_id"
    )


def gather_leaf_chunks(
    links: DataFrame,
    chunks: DataFrame,
    node_ids: list[str],
    q: np.ndarray,
    top_k: int,
) -> DataFrame:
    """Stage 2 (retrieval_repo.py:292-348): DISTINCT linked chunks of the
    selected nodes -> exact cosine re-rank -> global top_k.

    ``node_ids`` is small (expand_k) -> ``isin`` literal + broadcast-friendly;
    the distinct is on chunk_id only (A5: dropDuplicates). An empty
    ``node_ids`` yields an empty frame with ``RESULT_COLS``.
    """
    cand = (
        links.filter(F.col("node_id").isin(list(node_ids)))
        .select("chunk_id")
        .dropDuplicates(["chunk_id"])
    )
    return brute_force_knn(
        cand.join(chunks, "chunk_id"), q, top_k,
        payload_cols=("doc_id", "idx", "text"), id_col="chunk_id",
    )


def collapsed_retrieve(
    tree: TileTree,
    chunks: DataFrame,
    q: np.ndarray,
    dataset_id: str,
    top_k: int = 8,
    expand_k: int = 5,
) -> DataFrame:
    """Collapsed-tree retrieval (retrieval_service.py:76-120).

    ``chunks``: (chunk_id, doc_id, idx, text, v) — the embedded span table.
    """
    picked = [r.node_id for r in search_summary_nodes(tree.nodes, q, dataset_id, expand_k).collect()]
    return gather_leaf_chunks(tree.links, chunks, picked, q, top_k)


def rerank_chunks(
    cand: DataFrame,
    q: np.ndarray,
    text_col: str = "text",
    id_col: str = "chunk_id",
    vec_col: str = "v",
    alpha: float = 0.7,
    beta: float = 0.3,
    top_k: int = 10,
) -> DataFrame:
    """Second-stage rerank of an already-retrieved candidate set.

    Mirrors the reference's reranker stage (retrieval_service.py:143-157;
    ``use_reranker``/``reranker_model`` in the retrieve DTO): chunks come
    back from stage-1 retrieval, get re-scored, re-ordered, and truncated
    before returning. The external cross-encoder model is replaced by a
    deterministic fusion score — ``alpha * exact float64 cosine similarity
    + beta * quality prior`` (functions/text.quality_score) — so the stage
    is oracle-checkable. ``beta`` is explicit (not computed as 1-alpha)
    to keep the literal bit-identical across engines. Candidate sets are
    top-N small, but the operator stays distributed (no collect; a single
    top-k sort over the candidate set).
    """
    sim = F.lit(1.0) - cosine_dist_col(F.col(vec_col), q)
    from raptor_service_spark.functions.text import quality_score

    fused = F.round(
        F.lit(alpha) * sim + F.lit(beta) * quality_score(F.col(text_col)), 6
    )
    return (
        cand.withColumn("rerank_score", fused)
        .orderBy(F.col("rerank_score").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def latest_root(nodes: DataFrame, dataset_id: str) -> str | None:
    """Reference T2 (retrieval_repo.py:363-371): latest root; our trees are
    deterministic single-root per dataset, ties broken by node_id."""
    rows = (
        nodes.filter((F.col("dataset_id") == dataset_id) & (F.col("kind") == "root"))
        .select("node_id")
        .orderBy(F.col("node_id").desc())
        .limit(1)
        .collect()
    )
    return rows[0].node_id if rows else None


def traversal_retrieve(
    tree: TileTree,
    chunks: DataFrame,
    q: np.ndarray,
    dataset_id: str,
    top_k: int = 8,
    levels_cap: int = 0,
) -> DataFrame:
    """Beam-search traversal (retrieval_repo.py:350-436).

    Frontier loop lives on the driver (bounded by tree depth <= 10); each hop
    is children-of-frontier (broadcast semi-join on a literal id list) +
    cosine + GLOBAL limit top_k.
    """
    root = latest_root(tree.nodes, dataset_id)
    frontier = [] if root is None else [root]
    hops = 0
    while frontier:
        if levels_cap and hops >= levels_cap:
            break
        below = (
            tree.edges.filter(F.col("parent_id").isin(frontier))
            .select(F.col("child_id").alias("node_id"))
            .join(tree.nodes, "node_id")
        )
        # GLOBAL limit across all parents — reference parity
        children = brute_force_knn(
            below, q, top_k, payload_cols=("kind",), id_col="node_id"
        ).collect()
        if not children:
            break
        frontier = [r.node_id for r in children]
        hops += 1
        if all(r.kind == "leaf" for r in children):
            break
    return gather_leaf_chunks(tree.links, chunks, frontier, q, top_k)
