"""Driver-side numpy references the benchmark checks the engine against.

Each follows the engine's documented contract through an independent code
path: the kNN reference re-plans candidate cells from the embedded corpus
and ranks exactly; the retrieval references replay the collapsed and
traversal algorithms over the tree tables loaded to pandas, folding the
cosine in the same float64 order as the engine's SQL kernel, so ranked
lists can be compared id for id."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from raptor_service_spark.geo.grid import cell_encode_np, cell_parent_np
from raptor_service_spark.operators.knn import plan_candidate_cells

TIE_EPS = 1e-9  # ranks may swap only between distances this close


def round9(x: float) -> float:
    """Spark's ``round(dist, 9)`` (HALF_UP on the decimal form)."""
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-9"), ROUND_HALF_UP))


def ranked(ids, dists, k: int) -> list[tuple[str, float]]:
    order = sorted(zip(ids, dists), key=lambda p: (round9(p[1]), p[0]))
    return order[:k]


def same_ranking(got: list[tuple[str, float]], want: list[tuple[str, float]]) -> bool:
    """Equal ids in equal order, except swaps between near-equal distances."""
    if len(got) != len(want):
        return False
    for (gid, gd), (wid, wd) in zip(got, want):
        if gid != wid and abs(gd - wd) > TIE_EPS:
            return False
        if abs(gd - wd) > 1e-6:
            return False
    return True


def tree_level_groups(lat: np.ndarray, lng: np.ndarray, ladder) -> list[int]:
    """Distinct cells per tree level above the leaves (square ladder)."""
    cells = cell_encode_np(lat, lng, ladder[0])
    return [int(len(np.unique(cell_parent_np(cells, r)))) for r in ladder[1:]]


# --------------------------------------------------------------------- kNN


class KnnReference:
    """Exact top-k over the planner's candidate cells of a packed index."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray, cells: np.ndarray, res: int):
        self.ids = ids
        mat = vecs.astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        self.mat = mat / norms[:, None]
        self.cells = cells
        self.res = res
        uniq, counts = np.unique(cells, return_counts=True)
        self.counts = {int(c): int(n) for c, n in zip(uniq, counts)}

    def query(self, q: np.ndarray, k: int) -> list[tuple[str, float]]:
        q = np.asarray(q, dtype=np.float64)
        cells = plan_candidate_cells(self.counts, q, k, self.res)
        mask = (np.ones(len(self.ids), dtype=bool) if cells is None
                else np.isin(self.cells, np.asarray(cells, dtype=np.int64)))
        idx = np.nonzero(mask)[0]
        dist = 1.0 - self.mat[idx] @ (q / np.linalg.norm(q))
        return ranked(self.ids[idx].tolist(), dist.tolist(), k)


# --------------------------------------------------------------- retrieval


def fold_cosine_dist(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """1 - cosine with the engine's SQL fold: float64 products summed left
    to right (``aggregate(zip_with(...))``), one row per vector."""
    m = mat.astype(np.float64)
    q = np.asarray(q, dtype=np.float64)
    dot = np.zeros(len(m))
    sq = np.zeros(len(m))
    for i in range(m.shape[1]):
        dot = dot + m[:, i] * q[i]
        sq = sq + m[:, i] * m[:, i]
    return 1.0 - dot / (np.sqrt(sq) * float(np.linalg.norm(q)))


class TreeReference:
    """Collapsed and traversal retrieval replayed over pandas tree tables."""

    def __init__(self, nodes, edges, links, chunks, dataset_id: str):
        self.node_vec = {r.node_id: np.asarray(r.v, dtype=np.float32)
                         for r in nodes.itertuples()}
        self.node_kind = dict(zip(nodes.node_id, nodes.kind))
        summ = nodes[(nodes.dataset_id == dataset_id)
                     & nodes.kind.isin(["summary", "root"])]
        self.summ_ids = summ.node_id.tolist()
        self.summ_mat = np.stack([np.asarray(v, dtype=np.float32) for v in summ.v])
        roots = nodes[(nodes.dataset_id == dataset_id) & (nodes.kind == "root")]
        self.root = max(roots.node_id) if len(roots) else None
        self.children: dict[str, list[str]] = {}
        for p, c in zip(edges.parent_id, edges.child_id):
            self.children.setdefault(p, []).append(c)
        self.linked: dict[str, set[str]] = {}
        for n, c in zip(links.node_id, links.chunk_id):
            self.linked.setdefault(n, set()).add(c)
        self.chunk_vec = {c: np.asarray(v, dtype=np.float32)
                          for c, v in zip(chunks.chunk_id, chunks.v)}

    def _gather(self, node_ids, q, top_k):
        cand = sorted(set().union(*(self.linked.get(n, set()) for n in node_ids)))
        if not cand:
            return []
        d = fold_cosine_dist(np.stack([self.chunk_vec[c] for c in cand]), q)
        return ranked(cand, d.tolist(), top_k)

    def collapsed(self, q, top_k: int = 8, expand_k: int = 5):
        d = fold_cosine_dist(self.summ_mat, q)
        picked = [i for i, _ in ranked(self.summ_ids, d.tolist(), expand_k)]
        return self._gather(picked or ["__none__"], q, top_k)

    def traversal(self, q, top_k: int = 8) -> tuple[list, int]:
        """(ranked chunks, hops) — hops counts beam steps below the root."""
        if self.root is None:
            return [], 0
        frontier, hops = [self.root], 0
        while True:
            kids = [c for p in frontier for c in self.children.get(p, [])
                    if c in self.node_vec]
            if not kids:
                break
            d = fold_cosine_dist(np.stack([self.node_vec[c] for c in kids]), q)
            frontier = [i for i, _ in ranked(kids, d.tolist(), top_k)]
            hops += 1
            if all(self.node_kind[n] == "leaf" for n in frontier):
                break
        return self._gather(frontier, q, top_k), hops
