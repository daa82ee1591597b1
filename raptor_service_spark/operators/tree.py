"""Level-wise tile-tree build — RAPTOR's recursive build loop, Spark-first.

Reference: /root/reference/services/core/build_tree_service.py:85-161 (loop),
:198-216 (leaves), :318-400 (persist level), :363-365 (root promotion),
:109-114 (stall guard); cluster levels /root/reference/services/clustering/
clusterer.py:27-112 (UMAP+GMM) are replaced by grid-cell coarsening
(geo/grid.py): ascending one level == dropping to a coarser resolution.

Distributed-design notes (10^12-doc posture):
  * Each level is ONE shuffle: groupBy(parent_cell). No driver-side data.
  * Hot-cell skew (the reference's forced-single-cluster case) is handled by a
    SALTED TWO-PHASE aggregation: per-group summary inputs are greedily packed
    to a TOKEN BUDGET (the reference's request packing, utils/packing.py +
    voyage_client.py:253-280) under a ``summary_cap`` count bound, and
    budget-prefix-by-order is associative like top-K, so phase 1 aggregates
    (cell, salt) groups and phase 2 merges — no single reducer ever sees a
    whole hot cell.
  * Provenance links (node_id, chunk_id, rank) are carried as a DataFrame and
    joined upward level by level — never as ever-growing arrays.
  * All ids are deterministic (sha256) — reruns/resume produce identical
    trees, unlike the reference's uuid-suffixed ids (utils/render_id.py:21-22).
  * With a SnapshotCatalog, every level is an atomic snapshot commit; resume
    reads the last complete level's frontier back and continues the ladder
    (north_rule: resumable from Iceberg-snapshot checkpoints).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from raptor_service_spark.functions.text import fake_summarize, summary_node_id, token_count
from raptor_service_spark.functions.vector import hash_embed_udf
from raptor_service_spark.geo.grid import cell_encode_col, cell_parent_col
from raptor_service_spark.schema import N_DIM

NODE_COLS = ("tree_id", "node_id", "dataset_id", "level", "kind", "cell", "text", "v", "ord")
# greedy token budget per summary group (analog of the reference's 9500-token
# request packing, voyage_client.py:253-280), scaled to this corpus's ~10-word
# spans
SUMMARY_TOKEN_BUDGET = 320
SUMMARY_MAX_CHARS = 512  # reference summarizer max_tokens=512 analog


@dataclass
class TreeParams:
    res_ladder: tuple[int, ...] = (8, 5, 2, 0)  # leaf res first, coarsening upward
    summary_cap: int = 32  # hard count cap on children packed per summary
    salt_buckets: int = 16  # phase-1 salt fan-out for hot cells
    dim: int = N_DIM
    # GMM soft multi-membership emulation (reference utils/cluster.py:45-53:
    # points with posterior > 0.1 join MULTIPLE clusters): k > 0 additionally
    # assigns every child to the OCCUPIED parent cells within its Chebyshev
    # k-ring — existing clusters only, never phantom nodes — so summaries,
    # edges, and provenance links carry the overlap memberships. 0 (default)
    # = hard single membership (the parity-test path, SURVEY §2.10).
    overlap_kring: int = 0
    # C6/C7 pluggable production hooks (reference summarizer.py:79-119 and
    # voyage_client.py:222-251 are network clients behind the same seams;
    # SURVEY §2.10 "pluggable LLM in prod"). Column functions, so a real
    # model plugs in as a pandas UDF without touching the build loop:
    #   embed_fn(text: Column) -> Column            array<float> of ``dim``
    #   summarize_fn(texts: Column) -> Column       string; ``texts`` is the
    #     ordered array of child texts packed for one summary group
    # Defaults (None) = the deterministic hermetic fakes every oracle and
    # parity test pins: hash_embed_udf(dim) and first-``SUMMARY_MAX_CHARS``
    # of the newline-joined children.
    embed_fn: object | None = None
    summarize_fn: object | None = None

    def resolved_embed_fn(self):
        return self.embed_fn or hash_embed_udf(self.dim)

    def resolved_summarize_fn(self):
        if self.summarize_fn is not None:
            return self.summarize_fn
        return lambda texts: fake_summarize(texts, SUMMARY_MAX_CHARS)


@dataclass(frozen=True)
class TreeHead:
    """A tile tree above its leaves, in driver memory: every level >= 1 node
    (row ``i`` is node ``node_id[i]``, its embedding ``v[i]`` in one float64
    matrix) and, for every level >= 2 parent, the rows of its children. The
    ladder bounds it whatever the corpus size: the cells of levels >= 1 per
    dataset, 1,041 nodes for ``(8, 5, 2, 0)``. Level-1 edges and the leaves
    grow with the corpus and stay in Spark."""

    node_id: np.ndarray
    dataset_id: np.ndarray
    level: np.ndarray
    kind: np.ndarray
    v: np.ndarray
    children: dict[str, np.ndarray]

    def summary_rows(self, dataset_id: str) -> np.ndarray:
        """Rows of the dataset's summary and root nodes."""
        return np.flatnonzero(
            (self.dataset_id == dataset_id) & np.isin(self.kind, ["summary", "root"])
        )

    def root_rows(self, dataset_id: str) -> np.ndarray:
        """The dataset's latest root (greatest ``node_id``) as a one-row
        frontier; empty when the dataset has none."""
        rows = np.flatnonzero((self.dataset_id == dataset_id) & (self.kind == "root"))
        return np.array([max(rows, key=self.node_id.__getitem__)]) if len(rows) else rows

    def child_rows(self, parent_rows: np.ndarray) -> np.ndarray:
        """Rows of the children of a frontier of level >= 2 nodes, one per
        edge, as ``edges ⋈ nodes`` gives them: a child under two frontier
        parents appears twice, a parent repeated in the frontier counts once."""
        parts = [self.children[p] for p in dict.fromkeys(self.node_id[parent_rows])
                 if p in self.children]
        return np.concatenate(parts) if parts else np.zeros(0, dtype=np.int64)


def _load_head(nodes: DataFrame, edges: DataFrame) -> TreeHead:
    """Two collects: the level >= 1 nodes and the level >= 2 edges."""
    rows = (
        nodes.filter(F.col("level") >= 1)
        .select("node_id", "dataset_id", "level", "kind", "v")
        .collect()
    )
    node_id = np.array([r.node_id for r in rows], dtype=object)
    rows_of: dict[str, list[int]] = {}
    for i, nid in enumerate(node_id):
        rows_of.setdefault(nid, []).append(i)
    children: dict[str, list[int]] = {}
    for e in edges.filter(F.col("level") >= 2).select("parent_id", "child_id").collect():
        children.setdefault(e.parent_id, []).extend(rows_of.get(e.child_id, ()))
    return TreeHead(
        node_id=node_id,
        dataset_id=np.array([r.dataset_id for r in rows], dtype=object),
        level=np.array([r.level for r in rows], dtype=np.int64),
        kind=np.array([r.kind for r in rows], dtype=object),
        v=np.array([r.v for r in rows], dtype=np.float64).reshape(len(rows), -1)
        if rows else np.zeros((0, 0)),
        children={p: np.array(c, dtype=np.int64) for p, c in children.items()},
    )


@dataclass
class TileTree:
    nodes: DataFrame  # TILE_NODES + v (embedding) + ord
    edges: DataFrame  # TILE_EDGES + level
    links: DataFrame  # NODE_CHUNKS + level
    levels: int = 0
    stats: list[dict] = field(default_factory=list)
    # (nodes, edges, TreeHead) the head was loaded from
    _head: tuple | None = field(default=None, init=False, repr=False, compare=False)

    def head(self) -> TreeHead:
        """The tree head, loaded on first use and kept while ``nodes`` and
        ``edges`` are the DataFrames it was loaded from. A catalog read pins
        one snapshot and every build, resume and ingest returns a new
        TileTree, so an ingested tree loads its own head and an old one keeps
        serving its snapshot."""
        cached = self._head
        if cached is None or cached[0] is not self.nodes or cached[1] is not self.edges:
            cached = self._head = (self.nodes, self.edges, _load_head(self.nodes, self.edges))
        return cached[2]


def _leaf_nodes(spans: DataFrame, res_leaf: int) -> DataFrame:
    """Level-0 leaves from embedded spans (reference build_tree_service.py:198-216).

    Leaf node ids derive from chunk_id (deterministic & shuffle-free); the
    reference's global counter id ({tree_id}::leaf::{idx:06d},
    utils/render_id.py:17-18) would need a global row_number — a
    single-reducer anti-pattern at 10^12 rows.
    """
    tree_id_col = F.concat(F.col("dataset_id"), F.lit("::tree"))
    return spans.select(
        tree_id_col.alias("tree_id"),
        F.concat(tree_id_col, F.lit("::leaf::"), F.col("chunk_id")).alias("node_id"),
        F.col("dataset_id"),
        F.lit(0).alias("level"),
        F.lit("leaf").alias("kind"),
        cell_encode_col(F.col("lat"), F.col("lng"), res_leaf).alias("cell"),
        F.col("text"),
        F.col("chunk_id"),
        F.col("v"),
        # deterministic within-tree ordering key (doc_id, idx) -> one sortable string
        F.concat_ws("#", F.col("doc_id"), F.format_string("%09d", F.col("idx"))).alias("ord"),
    )


def _budget_slice(items, cap: int, budget: int):
    """Longest ord-prefix of sorted ``items`` within ``cap`` children AND
    ``budget`` tokens (>= 1 item always, so an oversized single child still
    packs). Tokens are counted as max(token_cnt, 1), which also bounds the
    prefix length by ``budget`` — the count-slice below keeps the O(n^2)
    prefix-sum lambda on a bounded array even for hot cells."""
    counted = F.slice(items, 1, min(cap, budget))
    packed = F.filter(
        counted,
        lambda x, i: F.aggregate(
            F.slice(counted, F.lit(1), i + F.lit(1)),
            F.lit(0).cast("long"),
            lambda a, y: a + y["tok"],
        )
        <= F.lit(budget),
    )
    return F.when(F.size(packed) > 0, packed).otherwise(F.slice(items, 1, 1))


def _salted_capped_collect(
    cur: DataFrame, cap: int, salt_buckets: int, token_budget: int
) -> DataFrame:
    """Two-phase skew-safe 'first children by ord' per (tree_id, parent_cell),
    greedily packed to ``token_budget`` tokens (reference voyage_client.py:
    253-280 request packing) under a ``cap`` count bound.

    Budget-prefix-by-order is associative exactly like top-K: an item in the
    global packed prefix has an in-bucket cumulative token sum no larger than
    its global one, so phase 1 (per cell+salt) never drops anything phase 2
    (per cell, merge + re-pack) would keep. Output: one row per parent cell
    with ordered child structs plus the TRUE child count (uncapped).
    """
    item = F.struct(
        F.col("ord"),
        F.col("node_id"),
        F.col("text"),
        F.greatest(token_count(F.col("text")), F.lit(1)).cast("long").alias("tok"),
    )
    p1 = (
        cur.withColumn("salt", F.pmod(F.xxhash64("node_id"), F.lit(salt_buckets)))
        .groupBy("tree_id", "dataset_id", "parent_cell", "salt")
        .agg(
            _budget_slice(F.array_sort(F.collect_list(item)), cap, token_budget).alias(
                "items"
            ),
            F.count("*").alias("cnt"),
        )
    )
    return p1.groupBy("tree_id", "dataset_id", "parent_cell").agg(
        _budget_slice(
            F.array_sort(F.flatten(F.collect_list("items"))), cap, token_budget
        ).alias("items"),
        F.sum("cnt").alias("n_children"),
    )


def _kind_col():
    """Per-tree root promotion (reference :363-365 — one build per dataset
    there; here several datasets can share one pass) over a level's nodes,
    one row per group: a tree whose level has exactly one group roots there,
    while other trees keep ascending."""
    groups = F.count("*").over(Window.partitionBy("tree_id", "dataset_id"))
    return F.when(groups == 1, F.lit("root")).otherwise(F.lit("summary"))


def _ascend_one_level(
    cur: DataFrame,
    cur_links: DataFrame,
    level: int,
    child_res: int,
    parent_res: int,
    p: TreeParams,
    n_cur: int,
) -> tuple[DataFrame, DataFrame, DataFrame, int, bool]:
    """One ladder step: returns (parents, edges, parent_links, n_groups, forced)."""
    embed = p.resolved_embed_fn()
    summarize = p.resolved_summarize_fn()
    cur = cur.withColumn("parent_cell", cell_parent_col(F.col("cell"), child_res, parent_res))
    cur_primary = cur

    if p.overlap_kring:
        # GMM multi-membership emulation (utils/cluster.py:45-53): each child
        # ALSO joins the occupied parent cells in its k-ring. The ring
        # expansion multiplies only the child rows (bounded (2k+1)^2-1 fan
        # out), the occupied filter is a semi-join against the O(cells)
        # distinct-parent table — no phantom clusters, group count unchanged
        # (so the stall guard and root promotion see the same statistics).
        from raptor_service_spark.operators.neighborhood import (
            _offsets,
            kring_neighbor_col,
        )

        ring = [
            (dx, dy)
            for dx, dy in _offsets(p.overlap_kring)
            if (dx, dy) != (0, 0)
        ]
        occ = cur.select(F.col("parent_cell").alias("ring_cell")).distinct()
        nbrs = F.array_distinct(
            F.filter(
                F.array(
                    *[
                        kring_neighbor_col("parent_cell", parent_res, dx, dy)
                        for dx, dy in ring
                    ]
                ),
                lambda c: c.isNotNull(),
            )
        )
        sec = (
            cur.withColumn("ring_cell", F.explode(nbrs))
            .filter(F.col("ring_cell") != F.col("parent_cell"))
            .join(occ, "ring_cell", "left_semi")
            .drop("parent_cell")
            .withColumnRenamed("ring_cell", "parent_cell")
        )
        cur = cur.unionByName(sec.select(*cur.columns))

    def _make_parents(cur_df: DataFrame) -> DataFrame:
        grouped = _salted_capped_collect(
            cur_df, p.summary_cap, p.salt_buckets, SUMMARY_TOKEN_BUDGET
        )
        return (
            grouped.select(
                "tree_id",
                "dataset_id",
                F.col("parent_cell").alias("cell"),
                F.lit(level).alias("level"),
                summarize(
                    F.transform("items", lambda s: s["text"])
                ).alias("text"),
            )
            .withColumn(
                "node_id", summary_node_id(F.col("tree_id"), F.col("level"), F.col("cell"))
            )
            .withColumn("kind", _kind_col())
            .withColumn(
                "ord", F.concat_ws("#", F.lit(f"L{level}"), F.col("cell").cast("string"))
            )
            .withColumn("v", embed(F.col("text")))
        )

    # Persist-then-count: one parent row per group, so the parents count IS
    # the stall-guard statistic — the salted agg + embed run ONCE per level
    # (previously the agg evaluated a second time when parents materialized).
    parents = _make_parents(cur).persist()
    n_groups = parents.count()

    # stall guard (reference :109-114): coarsening guarantees progress, but if
    # a level fails to shrink, collapse each tree into one group (grouping
    # keys include tree_id, so the collapse stays per-dataset).
    forced_single = False
    if n_groups >= n_cur:
        forced_single = True
        parents.unpersist()
        # forced collapse uses PRIMARY memberships only: with overlap a
        # child would otherwise enter the single group once per ring cell
        cur = cur_primary.withColumn("parent_cell", F.lit(0).cast("long"))
        parents = _make_parents(cur).persist()
        n_groups = parents.count()

    # edges: every child -> its parent (uncapped: caps affect only summary text;
    # provenance stays complete, mirroring A6/A7 semantics)
    edges = cur.select(
        "tree_id",
        summary_node_id(F.col("tree_id"), F.lit(level), F.col("parent_cell")).alias("parent_id"),
        F.col("node_id").alias("child_id"),
        F.col("ord").alias("child_ord"),
    )

    # first-seen dedup of chunk provenance (reference utils/chunking.py:4-11;
    # rank assignment build_tree_service.py:342-349): children ordered by ord,
    # within child by child rank; first occurrence of a chunk wins.
    child_links = edges.join(
        cur_links.select(F.col("node_id").alias("child_id"), "chunk_id", "rank"),
        "child_id",
    )
    w_first = Window.partitionBy("parent_id", "chunk_id").orderBy("child_ord", "rank")
    w_rank = Window.partitionBy("parent_id").orderBy("child_ord", "rank")
    parent_links = (
        child_links.withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") == 1)
        .withColumn("new_rank", (F.row_number().over(w_rank) - 1).cast("int"))
        .select(
            "tree_id",
            F.col("parent_id").alias("node_id"),
            "chunk_id",
            F.col("new_rank").alias("rank"),
        )
        .join(parents.select("node_id", "dataset_id"), "node_id")
        .withColumn("level", F.lit(level))
    )
    edges_out = edges.select("tree_id", "parent_id", "child_id").withColumn(
        "level", F.lit(level)
    )
    return parents, edges_out, parent_links, n_groups, forced_single


def _run_ladder(
    cur: DataFrame,
    cur_links: DataFrame,
    start_level: int,
    n_cur: int,
    p: TreeParams,
    sink,
    release: bool = False,
) -> tuple[int, list[dict]]:
    """Drive the ladder from start_level+1 upward; sink(level, parents, edges,
    links) persists each level and returns the links the next level reads.
    Returns (top_level, stats).

    With ``release`` the cached input ``cur`` and every cached level are
    unpersisted once the next level has been sunk, so the caller ends up
    holding no cache. That is only sound when the sink cuts the lineage by
    returning links read back from storage.

    Trees that reach their root at a level leave the ascent (their single
    node must never be re-aggregated into a phantom super-root); the loop
    runs while any tree still has more than one group. With one dataset
    this reduces to the classic stop-at-1 condition.
    """
    ladder = list(p.res_ladder)
    stats: list[dict] = []
    level = start_level
    cached = cur
    while level < len(ladder) - 1 and n_cur > 1:
        level += 1
        child_res, parent_res = ladder[level - 1], ladder[level]
        parents, edges, links, n_groups, forced = _ascend_one_level(
            cur, cur_links, level, child_res, parent_res, p, n_cur
        )
        cur_links = sink(level, parents, edges, links)
        stats.append(
            {"level": level, "groups": n_groups, "children": n_cur, "forced_single": forced}
        )
        if release:
            cached.unpersist()
        cached = parents
        cur = parents.select(*NODE_COLS).filter(F.col("kind") != "root")
        n_cur = cur.count()
    if release:
        cached.unpersist()
    return level, stats


def _leaves(spans: DataFrame, p: TreeParams) -> tuple[DataFrame, DataFrame]:
    """Persisted level-0 leaves and their identity links (rank 0)."""
    leaves = _leaf_nodes(spans, p.res_ladder[0]).persist()
    links = leaves.select(
        "tree_id", "node_id", "chunk_id", F.lit(0).alias("rank"), "dataset_id",
        F.lit(0).alias("level"),
    )
    return leaves, links


def build_tile_tree(spans_embedded: DataFrame, params: TreeParams | None = None) -> TileTree:
    """In-memory build (no checkpointing). ``spans_embedded`` columns: doc_id,
    dataset_id, idx, chunk_id, text, lat, lng, v."""
    p = params or TreeParams()
    spark = spans_embedded.sparkSession
    leaves, leaf_links = _leaves(spans_embedded, p)
    acc_nodes = [leaves.select(*NODE_COLS)]
    acc_edges: list[DataFrame] = []
    acc_links = [leaf_links]

    # every level stays cached (parents are, by _ascend_one_level): returning
    # the persisted edges and links keeps a request on the tree from
    # re-running each level's window lineage
    def sink(level, parents, edges, links):
        links = links.persist()
        acc_nodes.append(parents.select(*NODE_COLS))
        acc_edges.append(edges.persist())
        acc_links.append(links)
        return links

    top, stats = _run_ladder(leaves, leaf_links, 0, leaves.count(), p, sink)

    nodes = acc_nodes[0]
    for d in acc_nodes[1:]:
        nodes = nodes.unionByName(d)
    edges = (
        acc_edges[0]
        if acc_edges
        else spark.createDataFrame(
            [], "tree_id string, parent_id string, child_id string, level int"
        )
    )
    for d in acc_edges[1:]:
        edges = edges.unionByName(d)
    links = acc_links[0]
    for d in acc_links[1:]:
        links = links.unionByName(d)
    return TileTree(nodes=nodes, edges=edges, links=links, levels=top, stats=stats)


def _commit_level(catalog, prefix: str, level: int, nodes, edges, links, props=None) -> None:
    """Append one level to the ``{prefix}_*`` tables: links, then edges (none
    at level 0), then nodes. Nodes go last, so a level is complete iff its
    nodes exist."""
    props = {"level": level, **(props or {})}
    catalog.append(f"{prefix}_links", links, props=props)
    if edges is not None:
        catalog.append(f"{prefix}_edges", edges, props=props)
    catalog.append(f"{prefix}_nodes", nodes.select(*NODE_COLS), props=props)


def _ascend_in_catalog(
    catalog, prefix: str, p: TreeParams, cur, cur_links, start_level: int, props: dict
) -> TileTree:
    """Ascend from the cached frontier ``cur`` (level ``start_level``,
    already committed), committing each level and reading its links back so
    every cache can be released; then read the whole tree back."""
    t_nodes, t_edges, t_links = f"{prefix}_nodes", f"{prefix}_edges", f"{prefix}_links"

    def sink(level, parents, edges, links):
        _commit_level(catalog, prefix, level, parents, edges, links, props)
        return catalog.read(t_links).filter(F.col("level") == level)

    top, stats = _run_ladder(cur, cur_links, start_level, cur.count(), p, sink, release=True)
    edges = (
        catalog.read(t_edges)
        if catalog.exists(t_edges)  # a leaves-only tree has no edges table
        else catalog.spark.createDataFrame(
            [], "tree_id string, parent_id string, child_id string, level int"
        )
    )
    return TileTree(
        nodes=catalog.read(t_nodes), edges=edges, links=catalog.read(t_links),
        levels=top, stats=stats,
    )


def _frontier(catalog, prefix: str, top: int) -> tuple[DataFrame, DataFrame]:
    """The committed level ``top``'s non-root nodes (cached) and its links,
    the frontier a partial rebuild ascends from. A root never re-ascends, so
    a complete tree's empty frontier ends the ladder at once."""
    cur = (
        catalog.read(f"{prefix}_nodes")
        .filter((F.col("level") == top) & (F.col("kind") != "root"))
        .persist()
    )
    return cur, catalog.read(f"{prefix}_links").filter(F.col("level") == top)


def _truncate(catalog, prefix: str, top: int, props: dict, dirty: DataFrame | None = None) -> None:
    """Drop every row above level ``top``, plus the rows of the ``dirty``
    nodes (a ``node_id`` column), in one copy-on-write delete per table:
    nodes on ``node_id``, edges on ``parent_id``, links on ``node_id``.

    Each table's keys are its own ids above ``top``, so rows that a crash
    left above the last complete level go too, with or without their nodes.
    Ids encode their level (summary ids hash ``tree|level|cell``, leaf ids
    are ``…::leaf::…``), so a key matches no row of another level. Without
    ``dirty`` the nodes table is left alone: nothing sits above its top
    level."""
    for table, key in (("nodes", "node_id"), ("edges", "parent_id"), ("links", "node_id")):
        t = f"{prefix}_{table}"
        if not catalog.exists(t) or (dirty is None and table == "nodes"):
            continue
        keys = catalog.read(t).filter(F.col("level") > top).select(key)
        if dirty is not None:
            keys = keys.unionByName(dirty.select(F.col("node_id").alias(key)))
        catalog.delete_matching(t, keys, [key], props=props)


def ingest_incremental(
    new_spans_embedded: DataFrame,
    catalog,
    params: TreeParams | None = None,
    prefix: str = "tree",
) -> TileTree:
    """Incremental rebuild-on-ingest (reference build_tree_service.py:85-161
    re-run semantics): append the new leaves, recompute ONLY the level-1
    cells they land in, ``_truncate`` to level 1 with those cells' stale
    nodes (ids are deterministic per (tree, level, cell), so the recomputed
    ids are exactly the stale ones), commit them like a build level, then
    ascend from the merged level 1 as a resume does. Finding the dirty
    cells' leaves filters on a computed parent cell, so every leaf is
    scanned: the tree tables are not partitioned by cell. ``stats`` holds
    the rebuilt levels (>= 2).

    The result is IDENTICAL to a full rebuild over the union corpus
    (pytest-pinned): each dirty cell re-aggregates its COMPLETE child set,
    so summaries, token-budget packs, edges, and provenance links come out
    the same.

    Precondition: level 1 is a genuine coarsening (no stall-forced single
    group), which holds for any real geography; the restricted ascend
    disables the stall guard explicitly.
    """
    p = params or TreeParams()
    t_nodes = f"{prefix}_nodes"
    ladder = list(p.res_ladder)
    ingest = {"op": "ingest"}

    # 1. append new leaves + identity links at level 0
    leaves_new, links_new = _leaves(new_spans_embedded, p)
    _commit_level(catalog, prefix, 0, leaves_new, None, links_new, ingest)

    # 2. dirty level-1 cells = parents of the new leaves (small driver list)
    dirty = [
        r.c
        for r in leaves_new.select(
            cell_parent_col(F.col("cell"), ladder[0], ladder[1]).alias("c")
        )
        .distinct()
        .collect()
    ]
    leaves_new.unpersist()

    # 3. restricted ascend over ALL leaves (old + new) in dirty cells
    leaves_all = catalog.read(t_nodes).filter(F.col("level") == 0)
    leaves_dirty = leaves_all.filter(
        cell_parent_col(F.col("cell"), ladder[0], ladder[1]).isin(dirty)
    ).persist()
    links0 = catalog.read(f"{prefix}_links").filter(F.col("level") == 0)
    n_guard = leaves_dirty.count() + 1  # stall guard disabled (see docstring)
    lvl1_dirty, edges, links, _, forced = _ascend_one_level(
        leaves_dirty, links0, 1, ladder[0], ladder[1], p, n_guard
    )
    assert not forced
    # kind is decided globally below (the restricted set must not self-promote)
    parents = lvl1_dirty.withColumn("kind", F.lit("summary"))

    # 4. replace the dirty level-1 cells and drop every level above
    _truncate(catalog, prefix, 1, ingest, dirty=parents)
    _commit_level(catalog, prefix, 1, parents, edges, links, ingest)
    leaves_dirty.unpersist()
    lvl1_dirty.unpersist()

    # 5. root promotion over the whole merged level 1: a tree whose level 1
    # collapsed to one group roots there and leaves the ascent; a stale root
    # in a tree that now has several groups demotes
    changed = (
        catalog.read(t_nodes)
        .filter(F.col("level") == 1)
        .withColumn("new_kind", _kind_col())
        .filter(F.col("kind") != F.col("new_kind"))
    )
    if changed.limit(1).count():
        catalog.merge(
            t_nodes,
            changed.withColumn("kind", F.col("new_kind")).drop("new_kind"),
            ["node_id"],
            props=ingest,
        )

    # 6. rebuild levels >= 2 from the merged level 1
    return _ascend_in_catalog(catalog, prefix, p, *_frontier(catalog, prefix, 1), 1, ingest)


def build_tile_tree_checkpointed(
    spans_embedded: DataFrame,
    params: TreeParams | None = None,
    catalog=None,
    prefix: str = "tree",
    resume: bool = True,
) -> TileTree:
    """Checkpointed build: each level is an atomic snapshot commit of the
    ``{prefix}_nodes/_edges/_links`` tables; a rerun after a crash resumes
    from the last COMPLETE level (nodes are committed last, so a level is
    complete iff its nodes exist; ``_truncate`` drops the edge/link commits
    above it). A fresh build (``resume=False``) into a catalog that already
    holds ``{prefix}_nodes`` raises ``ValueError`` before writing anything:
    appending would double every table.
    """
    p = params or TreeParams()
    if catalog.exists(f"{prefix}_nodes"):
        if not resume:
            raise ValueError(
                f"catalog already holds {prefix}_nodes; resume it (resume=True) "
                "or build into a fresh catalog or prefix"
            )
        top = int(catalog.read(f"{prefix}_nodes").agg(F.max("level")).collect()[0][0])
        _truncate(catalog, prefix, top, {"resume_cleanup": str(top)})
        return _ascend_in_catalog(catalog, prefix, p, *_frontier(catalog, prefix, top), top, {})
    leaves, leaf_links = _leaves(spans_embedded, p)
    _commit_level(catalog, prefix, 0, leaves, None, leaf_links)
    return _ascend_in_catalog(catalog, prefix, p, leaves, leaf_links, 0, {})
