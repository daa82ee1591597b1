"""Collapsed + traversal ranked-row parity vs a pure-numpy oracle
(FIXTURES.md §7 test_retrieval; reference retrieval_repo.py:254-436).
"""

from __future__ import annotations

import numpy as np
import pytest

from raptor_service_spark.datagen import gen_documents_df, gen_query_vectors
from raptor_service_spark.functions.vector import embed_spans
from raptor_service_spark.operators.chunking import explode_spans
from raptor_service_spark.operators.retrieval import (
    RESULT_COLS,
    collapsed_retrieve,
    head_summary_nodes,
    latest_root,
    search_summary_nodes,
    traversal_retrieve,
)
from raptor_service_spark.operators.tree import TileTree, TreeParams, build_tile_tree

DIM = 32
PARAMS = TreeParams(res_ladder=(6, 3, 0), summary_cap=16, salt_buckets=4, dim=DIM)
DATASET = "ds-13"


def _world(spark, params):
    docs = gen_documents_df(spark, 40, seed=13)
    spans = embed_spans(explode_spans(docs), dim=DIM).persist()
    tree = build_tile_tree(spans, params)
    tree.nodes = tree.nodes.persist()
    tree.edges = tree.edges.persist()
    tree.links = tree.links.persist()
    chunks = spans.select("chunk_id", "doc_id", "idx", "text", "v").persist()
    # collected copies for the oracle
    pn = tree.nodes.select("node_id", "level", "kind", "v").toPandas()
    pe = tree.edges.select("parent_id", "child_id").toPandas()
    pl = tree.links.select("node_id", "chunk_id", "rank").toPandas()
    pc = chunks.toPandas()
    return dict(tree=tree, chunks=chunks, pn=pn, pe=pe, pl=pl, pc=pc)


@pytest.fixture(scope="module")
def world(spark):
    return _world(spark, PARAMS)


@pytest.fixture(scope="module")
def world_overlap(spark):
    """Soft multi-membership (``overlap_kring=1``) on a four-level ladder: a
    level-1 node hangs under several level-2 parents, so the head's beam
    hops see the same child more than once."""
    w = _world(spark, TreeParams(res_ladder=(6, 4, 2, 0), summary_cap=16, salt_buckets=4,
                                 dim=DIM, overlap_kring=1))
    head_kids = np.concatenate(list(w["tree"].head().children.values()))
    assert len(head_kids) > len(set(head_kids.tolist()))
    return w


@pytest.fixture(scope="module")
def two_datasets(spark):
    a = embed_spans(explode_spans(gen_documents_df(spark, 20, seed=21)), dim=DIM)
    b = embed_spans(explode_spans(gen_documents_df(spark, 15, seed=22)), dim=DIM)
    tree = build_tile_tree(a.unionByName(b), PARAMS)
    tree.nodes = tree.nodes.persist()
    tree.edges = tree.edges.persist()
    return tree


def _dist(vecs: np.ndarray, q: np.ndarray) -> np.ndarray:
    vecs = np.asarray(vecs, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    return 1.0 - (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))


def _oracle_stage1(pn, q, expand_k):
    cand = pn[pn.kind.isin(["summary", "root"])].copy()
    cand["dist"] = _dist(np.array(cand.v.tolist()), q)
    cand["dkey"] = cand.dist.round(9)
    return cand.sort_values(["dkey", "node_id"]).head(expand_k).node_id.tolist()


def _oracle_gather(pl, pc, node_ids, q, top_k):
    chunk_ids = pl[pl.node_id.isin(node_ids)].chunk_id.drop_duplicates()
    cand = pc[pc.chunk_id.isin(chunk_ids)].copy()
    cand["dist"] = _dist(np.array(cand.v.tolist()), q)
    cand["dkey"] = cand.dist.round(9)
    return cand.sort_values(["dkey", "chunk_id"]).head(top_k)


def test_collapsed_matches_oracle(world):
    qs = gen_query_vectors(seed=5, n=3, dim=DIM)
    for q in qs:
        got = (
            collapsed_retrieve(world["tree"], world["chunks"], q, DATASET, top_k=8, expand_k=5)
            .toPandas()
        )
        assert list(got.columns) == list(RESULT_COLS)
        picked = _oracle_stage1(world["pn"], q, 5)
        exp = _oracle_gather(world["pl"], world["pc"], picked, q, 8)
        assert got.chunk_id.tolist() == exp.chunk_id.tolist()
        np.testing.assert_allclose(got.dist.values, exp.dist.values, rtol=1e-9)
        # monotone ascending dist
        assert (np.diff(got.dist.values) >= -1e-12).all()


def _oracle_traversal(pn, pe, q, k, levels_cap):
    byid = pn.set_index("node_id")
    root = pn[pn.kind == "root"].sort_values("node_id", ascending=False).node_id.iloc[0]
    frontier = [root]
    hops = 0
    while True:
        if levels_cap and hops >= levels_cap:
            break
        kids = pe[pe.parent_id.isin(frontier)].child_id.tolist()
        if not kids:
            break
        cand = byid.loc[kids].reset_index()
        cand["dist"] = _dist(np.array(cand.v.tolist()), q)
        cand["dkey"] = cand.dist.round(9)
        cand = cand.sort_values(["dkey", "node_id"]).head(k)  # GLOBAL limit
        frontier = cand.node_id.tolist()
        hops += 1
        if (cand.kind == "leaf").all():
            break
    return frontier


def test_traversal_matches_oracle(world, world_overlap):
    qs = gen_query_vectors(seed=6, n=3, dim=DIM)
    for world in (world, world_overlap):
        for q in qs:
            got = (
                traversal_retrieve(world["tree"], world["chunks"], q, DATASET, top_k=8)
                .toPandas()
            )
            frontier = _oracle_traversal(world["pn"], world["pe"], q, 8, 0)
            exp = _oracle_gather(world["pl"], world["pc"], frontier, q, 8)
            assert got.chunk_id.tolist() == exp.chunk_id.tolist()
            np.testing.assert_allclose(got.dist.values, exp.dist.values, rtol=1e-9)


def test_traversal_levels_cap(world):
    q = gen_query_vectors(seed=7, n=1, dim=DIM)[0]
    got = traversal_retrieve(
        world["tree"], world["chunks"], q, DATASET, top_k=8, levels_cap=1
    ).toPandas()
    frontier = _oracle_traversal(world["pn"], world["pe"], q, 8, 1)
    exp = _oracle_gather(world["pl"], world["pc"], frontier, q, 8)
    assert got.chunk_id.tolist() == exp.chunk_id.tolist()


def test_latest_root(world):
    root = latest_root(world["tree"].nodes, DATASET)
    assert root == world["pn"][world["pn"].kind == "root"].node_id.iloc[0]


def test_head_matches_spark_stage1_and_root(world, two_datasets):
    """The in-memory head answers stage 1 and the root exactly as the Spark
    scans do: the same ids in the same order, down to the last ranked node."""
    for tree, ds in ((world["tree"], DATASET), (two_datasets, "ds-21"), (two_datasets, "ds-22")):
        head = tree.head()
        assert head.node_id[head.root_rows(ds)].tolist() == [latest_root(tree.nodes, ds)]
        for q in gen_query_vectors(seed=9, n=4, dim=DIM):
            for k in (5, 1000):
                want = [r.node_id for r in search_summary_nodes(tree.nodes, q, ds, k).collect()]
                assert head_summary_nodes(head, q, ds, k) == want


@pytest.mark.parametrize("bad", ["zero", "nan"])
def test_degenerate_query_raises(world, bad):
    """An all-zero or NaN query raises ValueError before the head loads."""
    t = world["tree"]
    tree = TileTree(nodes=t.nodes, edges=t.edges, links=t.links)
    q = np.zeros(DIM) if bad == "zero" else np.full(DIM, np.nan)
    for fn in (collapsed_retrieve, traversal_retrieve):
        with pytest.raises(ValueError, match="finite and not all-zero"):
            fn(tree, world["chunks"], q, DATASET)
    assert tree._head is None


def test_unknown_dataset_returns_empty(world):
    q = gen_query_vectors(seed=8, n=1, dim=DIM)[0]
    got = collapsed_retrieve(world["tree"], world["chunks"], q, "nope", top_k=8).toPandas()
    assert len(got) == 0
    assert tuple(got.columns) == RESULT_COLS
    got = traversal_retrieve(world["tree"], world["chunks"], q, "nope", top_k=8).toPandas()
    assert len(got) == 0
    assert tuple(got.columns) == RESULT_COLS


def test_multi_dataset_retrieval_isolation(spark):
    """A two-dataset tree answers each dataset's retrieve from ITS OWN
    subtree only (stage 1 filters dataset_id; chunks follow the node links),
    and the ranked rows equal retrieval over that dataset's standalone tree."""
    a = embed_spans(explode_spans(gen_documents_df(spark, 20, seed=21)), dim=DIM)
    b = embed_spans(explode_spans(gen_documents_df(spark, 15, seed=22)), dim=DIM)
    both_spans = a.unionByName(b).persist()
    tree = build_tile_tree(both_spans, PARAMS)
    chunks = both_spans.select("chunk_id", "doc_id", "idx", "text", "v")
    q = gen_query_vectors(seed=23, n=1, dim=DIM)[0]

    got_a = collapsed_retrieve(tree, chunks, q, "ds-21", top_k=6, expand_k=4)
    rows_a = [tuple(r) for r in got_a.collect()]
    a_doc_ids = {r.doc_id for r in a.select("doc_id").distinct().collect()}
    assert rows_a and all(r[1] in a_doc_ids for r in rows_a)

    solo_tree = build_tile_tree(a, PARAMS)
    solo_chunks = a.select("chunk_id", "doc_id", "idx", "text", "v")
    solo_rows = [tuple(r) for r in
                 collapsed_retrieve(solo_tree, solo_chunks, q, "ds-21",
                                    top_k=6, expand_k=4).collect()]
    assert rows_a == solo_rows
    both_spans.unpersist()


# ---------------------------------------------------------------------------
# MMR diversification (operators/mmr.py)
# ---------------------------------------------------------------------------


def _mmr_pairs(spark, rel: dict[int, float], sim: dict[tuple[int, int], float]):
    rows = []
    for a in rel:
        for b in rel:
            s = 1.0 if a == b else sim.get((a, b), sim.get((b, a), 0.0))
            rows.append(("q1", a, rel[a], b, s))
    return spark.createDataFrame(
        rows, "qid string, id_a long, rel_a double, id_b long, sim double"
    )


def test_mmr_first_pick_is_max_relevance(spark):
    from raptor_service_spark.operators.mmr import mmr_select

    pairs = _mmr_pairs(spark, {1: 0.5, 2: 0.9, 3: 0.7}, {})
    out = mmr_select(pairs, k=3, lam=0.7).collect()
    assert out[0]["id"] == 2
    assert out[0]["rank"] == 1
    assert out[0]["mmr_score"] == round(0.7 * 0.9, 6)


def test_mmr_penalizes_redundancy(spark):
    from raptor_service_spark.operators.mmr import mmr_select

    # 2 is most relevant; 3 is a near-duplicate of 2 with higher rel than 4;
    # plain top-3 would be (2, 3, 4) by rel — MMR must pick diverse 4 second.
    rel = {2: 0.9, 3: 0.85, 4: 0.6, 5: 0.3}
    sim = {(2, 3): 0.99, (2, 4): 0.0, (3, 4): 0.0, (2, 5): 0.0, (3, 5): 0.0, (4, 5): 0.0}
    out = mmr_select(_mmr_pairs(spark, rel, sim), k=3, lam=0.7).collect()
    ids = [r["id"] for r in out]
    assert ids[0] == 2
    assert ids[1] == 4  # 0.7*0.85 - 0.3*0.99 = 0.298 < 0.7*0.6 - 0.3*0.0 = 0.42
    assert ids[2] == 3


def test_mmr_k_exceeding_candidates_returns_all(spark):
    from raptor_service_spark.operators.mmr import mmr_select

    out = mmr_select(_mmr_pairs(spark, {1: 0.4, 2: 0.6}, {}), k=5, lam=0.7).collect()
    assert [r["rank"] for r in out] == [1, 2]
    assert {r["id"] for r in out} == {1, 2}


def test_mmr_tie_breaks_on_ascending_id(spark):
    from raptor_service_spark.operators.mmr import mmr_select

    out = mmr_select(_mmr_pairs(spark, {7: 0.5, 3: 0.5}, {}), k=2, lam=0.7).collect()
    assert out[0]["id"] == 3
