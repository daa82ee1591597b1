"""Collapsed + traversal retrieval over the tile tree.

Reference: /root/reference/services/retrieval/retrieval_service.py:76-141
(mode dispatch), repositories/retrieval_repo.py:254-348 (collapsed:
search_summary_nodes + gather_leaf_chunks), :350-436 (traversal beam).

Output schema matches the reference's gather_leaf_chunks rows exactly:
``(chunk_id, doc_id, idx, text, dist)`` (retrieval_repo.py:314-319).

Both modes rank the tree head first: the level >= 1 nodes and the level >= 2
edges, which the ladder bounds whatever the corpus size (``TileTree.head``).
The head is loaded into driver memory once per tree and ranked by
``brute_force_knn_np``, so those rankings run no Spark job. What grows with
the corpus stays in Spark: traversal's one hop out of level 1 and the leaf
gather. ``search_summary_nodes`` and ``latest_root`` are the Spark forms of
the head's stage 1 and root, kept as the reference it is tested against.

Parity notes (SURVEY §2.5, §7.4):
  * traversal applies ``LIMIT k`` GLOBALLY across all parents per level —
    exactly the reference's SQL, not a per-parent window.
  * ordering key is (round(dist, 9), id): float64 fold order differs
    between JVM and numpy/DuckDB in the last ulps, so near-ties would flip
    nondeterministically without the rounding; the reference has no tie-break
    at all (SURVEY §7.4.1). The returned dist column stays exact. The head's
    numpy ranking folds in the JVM's order and rounds like Spark, so it
    picks the same ids.
  * the level-1 frontier is a tiny literal IN-list on the edges, and the
    selected nodes' ids a literal IN-list on the links: no shuffle of the
    big side beyond the scan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raptor_service_spark.functions.vector import cosine_dist_col
from raptor_service_spark.operators.knn import (
    brute_force_knn,
    brute_force_knn_np,
    check_query,
)
from raptor_service_spark.operators.tree import TileTree, TreeHead

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

    ``node_ids`` is small (expand_k) -> ``isin`` literal on the links. The
    distinct is a left semi-join (A5): each chunk row counts once however
    many selected nodes link it, NULL keys drop, and no shuffle runs. An
    empty ``node_ids`` yields an empty frame with ``RESULT_COLS``.
    """
    cand = links.filter(F.col("node_id").isin(list(node_ids))).select("chunk_id")
    return brute_force_knn(
        chunks.join(cand, "chunk_id", "left_semi"), q, top_k,
        payload_cols=("doc_id", "idx", "text"), id_col="chunk_id",
    )


def _rank_head(head: TreeHead, rows: np.ndarray, q: np.ndarray, k: int) -> np.ndarray:
    """The head rows among ``rows`` that ``brute_force_knn`` ranks top ``k``."""
    return rows[brute_force_knn_np(head.v[rows], head.node_id[rows], q, k)]


def head_summary_nodes(head: TreeHead, q: np.ndarray, dataset_id: str, expand_k: int) -> list[str]:
    """Stage 1 from the in-memory head: the node ids ``search_summary_nodes``
    returns, in its order."""
    return head.node_id[_rank_head(head, head.summary_rows(dataset_id), q, expand_k)].tolist()


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
    Stage 1 ranks the in-memory head; the gather is the only Spark step.
    """
    q = check_query(q)
    picked = head_summary_nodes(tree.head(), q, dataset_id, expand_k)
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


def _hop_into_leaves(tree: TileTree, frontier: list[str], q: np.ndarray, k: int) -> list[str]:
    """The beam's hop out of level 1, in Spark: the global top ``k`` of the
    frontier's children (reference parity: one LIMIT across all parents).
    A frontier without children stays the frontier."""
    below = (
        tree.edges.filter(F.col("parent_id").isin(frontier))
        .select(F.col("child_id").alias("node_id"))
        .join(tree.nodes, "node_id")
    )
    return [r.node_id for r in brute_force_knn(below, q, k, id_col="node_id").collect()] or frontier


def traversal_retrieve(
    tree: TileTree,
    chunks: DataFrame,
    q: np.ndarray,
    dataset_id: str,
    top_k: int = 8,
    levels_cap: int = 0,
) -> DataFrame:
    """Beam-search traversal (retrieval_repo.py:350-436).

    The beam starts at the dataset's latest root and walks the in-memory
    head down to level 1 with no Spark job: each hop takes the children of
    the whole frontier (one per edge, as ``edges ⋈ nodes`` gives them) and
    keeps the GLOBAL top_k. The one hop out of level 1, whose edges and
    leaves grow with the corpus, is a single Spark top_k over the children
    of the frontier (a literal id list on the edges, joined to the nodes);
    the gather follows. ``levels_cap`` bounds the hops; a frontier without children
    ends the walk and is gathered as it stands.
    """
    q = check_query(q)
    head = tree.head()
    rows, hops = head.root_rows(dataset_id), 0
    while len(rows) and not (levels_cap and hops >= levels_cap):
        if head.level[rows[0]] == 1:
            frontier = _hop_into_leaves(tree, head.node_id[rows].tolist(), q, top_k)
            return gather_leaf_chunks(tree.links, chunks, frontier, q, top_k)
        below = head.child_rows(rows)
        if not len(below):
            break
        rows = _rank_head(head, below, q, top_k)  # GLOBAL limit across all parents
        hops += 1
    return gather_leaf_chunks(tree.links, chunks, head.node_id[rows].tolist(), q, top_k)
