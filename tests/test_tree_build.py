"""Tile-tree invariants (FIXTURES.md §7 test_tree_build).

Checks mirror the reference's build semantics: per-level tile assignments
(cluster membership analog), edge sets, first-seen provenance dedup
(/root/reference/utils/chunking.py:4-11), root promotion
(build_tree_service.py:363-365), determinism across reruns.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from raptor_service_spark.datagen import gen_documents_df
from raptor_service_spark.functions.vector import embed_spans
from raptor_service_spark.geo.grid import cell_encode_np, cell_parent_np
from raptor_service_spark.operators.chunking import explode_spans
from raptor_service_spark.operators.tree import (
    SUMMARY_MAX_CHARS,
    TileTree,
    TreeParams,
    build_tile_tree,
)

PARAMS = TreeParams(res_ladder=(6, 3, 0), summary_cap=16, salt_buckets=4, dim=32)


@pytest.fixture(scope="module")
def corpus(spark):
    docs = gen_documents_df(spark, 50, seed=11)
    spans = embed_spans(explode_spans(docs), dim=32).persist()
    spans.count()
    return spans


@pytest.fixture(scope="module")
def tree(corpus) -> TileTree:
    t = build_tile_tree(corpus, PARAMS)
    t.nodes = t.nodes.persist()
    t.edges = t.edges.persist()
    t.links = t.links.persist()
    t.nodes.count()
    return t


def test_leaf_tile_assignment_matches_numpy_oracle(corpus, tree):
    leaves = tree.nodes.filter("kind = 'leaf'").select("node_id", "cell").toPandas()
    spans = corpus.select("chunk_id", "lat", "lng", "dataset_id").toPandas()
    spans["node_id"] = spans["dataset_id"] + "::tree::leaf::" + spans["chunk_id"]
    spans["expect"] = cell_encode_np(spans.lat.values, spans.lng.values, 6)
    merged = leaves.merge(spans[["node_id", "expect"]], on="node_id")
    assert len(merged) == len(leaves) == len(spans)
    assert (merged.cell == merged.expect).all()


def test_parent_cells_are_grid_parents(tree):
    nodes = tree.nodes.select("node_id", "level", "cell", "kind").toPandas()
    edges = tree.edges.toPandas()
    byid = nodes.set_index("node_id")
    for lvl in range(1, int(nodes.level.max()) + 1):
        kids = edges.merge(
            nodes[nodes.level == lvl][["node_id", "cell"]],
            left_on="parent_id",
            right_on="node_id",
        )
        child_cells = byid.loc[kids.child_id, "cell"].values
        parent_cells = kids.cell.values
        parent_res = PARAMS.res_ladder[lvl]
        # forced-single grouping uses sentinel cell 0; otherwise grid parent
        nontrivial = parent_cells != 0
        assert (
            cell_parent_np(child_cells[nontrivial], parent_res) == parent_cells[nontrivial]
        ).all()


def test_every_nonroot_node_has_exactly_one_parent(tree):
    nodes = tree.nodes.select("node_id", "kind").toPandas()
    edges = tree.edges.toPandas()
    parent_count = edges.groupby("child_id").size()
    nonroot = nodes[nodes.kind != "root"].node_id
    assert parent_count.reindex(nonroot).fillna(0).eq(1).all()
    # root has no parent
    roots = nodes[nodes.kind == "root"].node_id.tolist()
    assert len(roots) == 1
    assert roots[0] not in set(edges.child_id)


def test_root_promotion_top_level(tree):
    nodes = tree.nodes.select("node_id", "level", "kind").toPandas()
    top = nodes.level.max()
    top_nodes = nodes[nodes.level == top]
    assert len(top_nodes) == 1
    assert (top_nodes.kind == "root").all()
    assert (nodes[(nodes.level > 0) & (nodes.level < top)].kind == "summary").all()
    assert (nodes[nodes.level == 0].kind == "leaf").all()


def _aggregate_chunks_reference(member_lists: list[list[str]]) -> list[str]:
    """Pure-python port of the reference first-seen dedup semantics
    (/root/reference/utils/chunking.py:4-11)."""
    seen, out = set(), []
    for lst in member_lists:
        for c in lst:
            if c not in seen:
                seen.add(c)
                out.append(c)
    return out


def test_links_first_seen_dedup_semantics(tree):
    nodes = tree.nodes.select("node_id", "level", "ord").toPandas()
    edges = tree.edges.toPandas()
    links = tree.links.toPandas()
    ranked = links.sort_values(["node_id", "rank"])
    child_chunks = {
        nid: grp.chunk_id.tolist() for nid, grp in ranked.groupby("node_id")
    }
    ord_map = nodes.set_index("node_id")["ord"].to_dict()
    # verify every level-1+ node's chunk list equals the reference semantics
    for parent_id, grp in edges.groupby("parent_id"):
        kids = sorted(grp.child_id.tolist(), key=lambda n: ord_map[n])
        expect = _aggregate_chunks_reference([child_chunks[k] for k in kids])
        got = child_chunks.get(parent_id, [])
        assert got == expect, f"provenance mismatch at {parent_id}"


def test_leaf_links_rank_zero_identity(tree, corpus):
    leaf_links = (
        tree.links.join(
            tree.nodes.filter("kind='leaf'").select("node_id"), "node_id"
        )
        .toPandas()
    )
    assert (leaf_links["rank"] == 0).all()
    assert leaf_links.chunk_id.nunique() == corpus.count()


def test_build_is_deterministic(corpus):
    t1 = build_tile_tree(corpus, PARAMS)
    t2 = build_tile_tree(corpus, PARAMS)
    a = t1.nodes.select("node_id", "level", "kind", "cell", "text").toPandas().sort_values("node_id").reset_index(drop=True)
    b = t2.nodes.select("node_id", "level", "kind", "cell", "text").toPandas().sort_values("node_id").reset_index(drop=True)
    assert a.equals(b)
    e1 = set(map(tuple, t1.edges.select("parent_id", "child_id").collect()))
    e2 = set(map(tuple, t2.edges.select("parent_id", "child_id").collect()))
    assert e1 == e2


def test_summary_text_capped_and_deterministic(tree):
    summaries = tree.nodes.filter("kind != 'leaf'").select("text").toPandas()
    assert (summaries.text.str.len() <= SUMMARY_MAX_CHARS).all()
    assert (summaries.text.str.len() > 0).all()


def test_stall_guard_single_span(spark):
    docs = gen_documents_df(spark, 1, seed=2)
    spans = embed_spans(explode_spans(docs).limit(1), dim=16)
    t = build_tile_tree(spans, TreeParams(res_ladder=(4, 0), dim=16))
    # one leaf -> loop exits immediately; no summary levels
    kinds = [r.kind for r in t.nodes.select("kind").collect()]
    assert kinds == ["leaf"]


def test_token_budget_packing_respected_and_salt_invariant(spark):
    """_salted_capped_collect greedily packs children to the token budget
    (voyage_client.py:253-280 analog): no group's packed items exceed the
    budget unless it is a single oversized child, and the result is
    identical at any salt fan-out (associativity)."""
    from raptor_service_spark.operators.tree import _salted_capped_collect

    rng = np.random.default_rng(5)
    rows = []
    for cell in range(6):
        for i in range(50):
            n_words = int(rng.integers(1, 40))
            rows.append(
                (
                    "t1",
                    "ds",
                    cell,
                    f"n{cell}-{i:03d}",
                    " ".join(f"w{k}" for k in range(n_words)),
                    f"{cell}#{i:09d}",
                )
            )
    cur = spark.createDataFrame(
        rows, "tree_id string, dataset_id string, parent_cell long, "
        "node_id string, text string, ord string"
    )
    budget = 100
    out = {}
    for salts in (1, 16):
        got = _salted_capped_collect(cur, cap=32, salt_buckets=salts, token_budget=budget)
        pdf = got.toPandas().sort_values("parent_cell")
        out[salts] = [
            (r.parent_cell, tuple(it["node_id"] for it in r.items), r.n_children)
            for r in pdf.itertuples()
        ]
        for r in pdf.itertuples():
            toks = [max(it["tok"], 1) for it in r.items]
            assert sum(toks) <= budget or len(toks) == 1, r.parent_cell
            assert r.n_children == 50  # true count survives capping
            # packed prefix is the FIRST children by ord
            ords = [it["ord"] for it in r.items]
            assert ords == sorted(ords)
    assert out[1] == out[16]  # salt fan-out cannot change the result


def test_token_budget_oversized_single_child(spark):
    from raptor_service_spark.operators.tree import _salted_capped_collect

    cur = spark.createDataFrame(
        [("t1", "ds", 0, "n0", " ".join(f"w{k}" for k in range(500)), "a")],
        "tree_id string, dataset_id string, parent_cell long, "
        "node_id string, text string, ord string",
    )
    got = _salted_capped_collect(cur, cap=32, salt_buckets=4, token_budget=10).collect()
    assert len(got) == 1 and len(got[0].items) == 1  # still packs the child


@pytest.mark.parametrize("salts", [1, 16])
def test_salted_collect_matches_python_twin(spark, salts):
    """Every group of _salted_capped_collect equals the pure-Python packer
    twin (__spark_entry__._py_budget_pack): same children with the same
    token counts in the same order, and the true child count, on the
    packing's boundaries."""
    import __spark_entry__ as entry_mod
    from raptor_service_spark.operators.tree import _salted_capped_collect

    cap, budget = 8, 100

    def words(n):
        return " ".join(f"w{k}" for k in range(n))

    cells = {
        0: [words(40), words(60), words(1), words(3)],  # a prefix of exactly the budget
        1: [words(150), words(2), words(2)],  # the first child alone is over it
        2: ["", "   ", words(98), "", words(5)],  # blanks count 1 token: 1 + 1 + 98
        3: [words(3)] * 20,  # more than cap children, all within the budget
    }
    rng = np.random.default_rng(9)
    for cell in range(4, 10):
        cells[cell] = [words(int(rng.integers(0, 40))) for _ in range(int(rng.integers(1, 60)))]
    cur = spark.createDataFrame(
        [
            ("t1", "ds", cell, f"n{cell}-{i:03d}", text, f"{cell}#{i:09d}")
            for cell, texts in cells.items()
            for i, text in enumerate(texts)
        ],
        "tree_id string, dataset_id string, parent_cell long, "
        "node_id string, text string, ord string",
    )
    want = {}
    for cell, texts in cells.items():
        items = [
            {"node_id": f"n{cell}-{i:03d}", "tok": max(entry_mod._py_token_count(t), 1)}
            for i, t in enumerate(texts)
        ]
        packed = entry_mod._py_budget_pack(items, cap, budget)
        want[cell] = ([(it["node_id"], it["tok"]) for it in packed], len(texts))
    got = {
        r.parent_cell: ([(it.node_id, it.tok) for it in r.items], r.n_children)
        for r in _salted_capped_collect(cur, cap, salts, budget).collect()
    }
    assert got == want
    assert [len(got[c][0]) for c in range(4)] == [2, 1, 3, cap]


def test_hot_cell_build_is_salt_invariant(spark):
    """Hostile skew: with at least a fifth of the spans in one leaf cell, the
    build at salt_buckets 1 and 16 gives identical nodes, edges and links —
    the salted phase stays associative when one cell dominates."""
    from dataclasses import replace

    docs = gen_documents_df(spark, 60, seed=12)
    hot = F.pmod(F.xxhash64("doc_id"), F.lit(10)) < 3
    docs = docs.withColumn("lat", F.when(hot, 48.85).otherwise(F.col("lat"))).withColumn(
        "lng", F.when(hot, 2.35).otherwise(F.col("lng"))
    )
    spans = embed_spans(explode_spans(docs), dim=32).persist()
    pts = spans.select("lat", "lng").toPandas()
    leaf = cell_encode_np(pts.lat.values, pts.lng.values, PARAMS.res_ladder[0])
    assert np.unique(leaf, return_counts=True)[1].max() >= 0.2 * len(leaf)

    signatures = []
    for salts in (1, 16):
        t = build_tile_tree(spans, replace(PARAMS, salt_buckets=salts))
        signatures.append((
            sorted(map(tuple, t.nodes.select("node_id", "level", "kind", "cell", "text").collect())),
            sorted(map(tuple, t.edges.select("parent_id", "child_id", "level").collect())),
            sorted(map(tuple, t.links.select("node_id", "chunk_id", "rank").collect())),
        ))
    assert signatures[0] == signatures[1]
    assert any(r[1] == 2 for r in signatures[0][0])  # the ladder climbed to the top


def test_multi_dataset_build_isolates_trees(spark):
    """Two datasets in ONE build pass (groupBy includes tree_id/dataset_id):
    each gets its own root; edges and links never cross datasets; each
    dataset's subtree equals the tree built from its spans alone."""
    from raptor_service_spark.operators.chunking import explode_spans
    from raptor_service_spark.functions.vector import embed_spans

    p = TreeParams(res_ladder=(6, 3, 0), summary_cap=16, salt_buckets=4, dim=16)
    a = embed_spans(explode_spans(gen_documents_df(spark, 15, seed=81)), dim=16)
    b = embed_spans(explode_spans(gen_documents_df(spark, 10, seed=82)), dim=16)
    both = build_tile_tree(a.unionByName(b), p)

    roots = both.nodes.filter(F.col("kind") == "root").select("dataset_id").collect()
    assert sorted(r.dataset_id for r in roots) == ["ds-81", "ds-82"]

    # no cross-dataset edges: parent and child resolve to the same dataset
    nid = both.nodes.select("node_id", "dataset_id")
    cross = (
        both.edges
        .join(nid.withColumnsRenamed({"node_id": "parent_id", "dataset_id": "ds_p"}), "parent_id")
        .join(nid.withColumnsRenamed({"node_id": "child_id", "dataset_id": "ds_c"}), "child_id")
        .filter(F.col("ds_p") != F.col("ds_c"))
        .count()
    )
    assert cross == 0

    # per-dataset subtree equality with a standalone build
    solo = build_tile_tree(a, p)
    def sig(tree, ds):
        n = sorted(map(tuple, tree.nodes.filter(F.col("dataset_id") == ds)
                       .select("node_id", "level", "kind", "cell", "text").collect()))
        l = sorted(map(tuple, tree.links.filter(F.col("dataset_id") == ds)
                       .select("node_id", "chunk_id", "rank").collect()))
        return n, l
    assert sig(both, "ds-81") == sig(solo, "ds-81")


def test_pluggable_embed_summarize_hooks(spark):
    """C6/C7 pluggable hooks (VERDICT r3 item 4; reference summarizer.py:
    79-119 / voyage_client.py:222-251 are network clients behind the same
    seams): a custom column-fn pair flows through the build loop, and the
    default (hooks unset) is bit-identical to the pre-hook behavior every
    tree oracle pins."""
    from pyspark.sql import functions as F

    from raptor_service_spark.datagen import gen_documents_df
    from raptor_service_spark.functions.vector import embed_spans
    from raptor_service_spark.operators.chunking import explode_spans
    from raptor_service_spark.operators.tree import TreeParams, build_tile_tree

    docs = gen_documents_df(spark, 20, seed=23)
    spans = embed_spans(explode_spans(docs), dim=16).persist()
    spans.count()

    base = TreeParams(res_ladder=(6, 3, 0), summary_cap=8, salt_buckets=2, dim=16)
    t_default = build_tile_tree(spans, base)

    def my_summarize(texts):
        return F.concat(F.lit("SUM:"), F.substring(F.concat_ws("|", texts), 1, 64))

    def my_embed(text):
        return F.array_repeat(
            (F.length(text) % 7).cast("float") / F.lit(7.0), 16
        )

    hooked = TreeParams(
        res_ladder=(6, 3, 0), summary_cap=8, salt_buckets=2, dim=16,
        embed_fn=my_embed, summarize_fn=my_summarize,
    )
    t_hooked = build_tile_tree(spans, hooked)

    sums_d = t_default.nodes.filter("level > 0").select("text").collect()
    sums_h = t_hooked.nodes.filter("level > 0").select("node_id", "text", "v").collect()
    assert sums_h and all(r.text.startswith("SUM:") for r in sums_h)
    assert not any(r.text.startswith("SUM:") for r in sums_d)
    # custom embed flows into the summary nodes' vectors
    for r in sums_h:
        assert len(r.v) == 16 and len(set(r.v)) == 1
    # structure (ids, edges) is unchanged by the hooks — same grouping
    ids_d = sorted(r.node_id for r in t_default.nodes.select("node_id").collect())
    ids_h = sorted(r.node_id for r in t_hooked.nodes.select("node_id").collect())
    assert ids_d == ids_h
    spans.unpersist()
