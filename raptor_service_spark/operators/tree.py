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

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from raptor_service_spark.functions.text import summary_node_id, token_count
from raptor_service_spark.functions.vector import hash_embed_udf
from raptor_service_spark.geo.grid import cell_encode_col, cell_parent_col
from raptor_service_spark.schema import N_DIM

NODE_COLS = ("tree_id", "node_id", "dataset_id", "level", "kind", "cell", "text", "v", "ord")


@dataclass
class TreeParams:
    res_ladder: tuple[int, ...] = (8, 5, 2, 0)  # leaf res first, coarsening upward
    max_levels: int = 10  # reference raptor_config.py:23
    summary_cap: int = 32  # hard count cap on children packed per summary
    # greedy token budget per summary group (analog of the reference's
    # 9500-token request packing, voyage_client.py:253-280), scaled to this
    # corpus's ~10-word spans; None = count-cap only
    summary_token_budget: int | None = 320
    summary_max_chars: int = 512  # reference summarizer max_tokens=512 analog
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
    # parity test pins: hash_embed_udf(dim) and first-``summary_max_chars``
    # of the newline-joined children.
    embed_fn: object | None = None
    summarize_fn: object | None = None

    def resolved_embed_fn(self):
        return self.embed_fn or hash_embed_udf(self.dim)

    def resolved_summarize_fn(self):
        if self.summarize_fn is not None:
            return self.summarize_fn
        return lambda texts: F.substring(
            F.concat_ws("\n", texts), 1, self.summary_max_chars
        )


@dataclass
class TileTree:
    nodes: DataFrame  # TILE_NODES + v (embedding) + ord
    edges: DataFrame  # TILE_EDGES + level
    links: DataFrame  # NODE_CHUNKS + level
    levels: int = 0
    stats: list[dict] = field(default_factory=list)


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


def _budget_slice(items, cap: int, budget: int | None):
    """Longest ord-prefix of sorted ``items`` within ``cap`` children AND
    ``budget`` tokens (>= 1 item always, so an oversized single child still
    packs). Tokens are counted as max(token_cnt, 1), which also bounds the
    prefix length by ``budget`` — the count-slice below keeps the O(n^2)
    prefix-sum lambda on a bounded array even for hot cells."""
    counted = F.slice(items, 1, cap if budget is None else min(cap, budget))
    if budget is None:
        return counted
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
    cur: DataFrame, cap: int, salt_buckets: int, token_budget: int | None = None
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

    # root promotion is PER TREE (reference :363-365 — one build per dataset
    # there; here several datasets can share one pass): a tree whose level
    # has exactly one group roots, while other trees keep ascending.
    per_tree_groups = F.count("*").over(Window.partitionBy("tree_id", "dataset_id"))

    def _make_parents(cur_df: DataFrame) -> DataFrame:
        grouped = _salted_capped_collect(
            cur_df, p.summary_cap, p.salt_buckets, p.summary_token_budget
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
            .withColumn(
                "kind",
                F.when(per_tree_groups == 1, F.lit("root")).otherwise(F.lit("summary")),
            )
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
    while level < len(ladder) - 1 and n_cur > 1 and level < p.max_levels:
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


def build_tile_tree(spans_embedded: DataFrame, params: TreeParams | None = None) -> TileTree:
    """In-memory build (no checkpointing). ``spans_embedded`` columns: doc_id,
    dataset_id, idx, chunk_id, text, lat, lng, v."""
    p = params or TreeParams()
    spark = spans_embedded.sparkSession
    leaves = _leaf_nodes(spans_embedded, p.res_ladder[0]).persist()
    leaf_links = leaves.select(
        "tree_id", "node_id", "chunk_id", F.lit(0).alias("rank"), "dataset_id",
        F.lit(0).alias("level"),
    )
    n_leaves = leaves.count()

    acc_nodes = [leaves.select(*NODE_COLS)]
    acc_edges: list[DataFrame] = []
    acc_links = [leaf_links]

    def sink(level, parents, edges, links):
        acc_nodes.append(parents.select(*NODE_COLS))
        acc_edges.append(edges)
        acc_links.append(links)
        return links

    top, stats = _run_ladder(leaves, leaf_links, 0, n_leaves, p, sink)

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


def ingest_incremental(
    new_spans_embedded: DataFrame,
    catalog,
    params: TreeParams | None = None,
    prefix: str = "tree",
) -> TileTree:
    """Incremental rebuild-on-ingest (reference build_tree_service.py:85-161
    re-run semantics, done without touching clean data): append the new
    leaves, recompute ONLY the level-1 cells they land in (the filter on the
    leaf table is a partition predicate on a cell-partitioned layout — old
    leaves in clean cells are never read), then rebuild the upper ladder
    (levels >= 2) from the merged level 1. Upper levels shrink 4^dres per
    step, so they are a vanishing fraction of the corpus; the expensive
    stage — leaves -> level 1 — is the one that stays incremental.

    The result is IDENTICAL to a full rebuild over the union corpus
    (pytest-pinned): node ids are deterministic per (tree, level, cell) and
    each dirty cell re-aggregates its COMPLETE child set, so summaries,
    token-budget packs, edges, and provenance links come out the same.

    Precondition: level 1 is a genuine coarsening (no stall-forced single
    group), which holds for any real geography; the restricted ascend
    disables the stall guard explicitly.
    """
    p = params or TreeParams()
    t_nodes, t_edges, t_links = f"{prefix}_nodes", f"{prefix}_edges", f"{prefix}_links"
    ladder = list(p.res_ladder)

    # 1. append new leaves + identity links at level 0
    leaves_new = _leaf_nodes(new_spans_embedded, ladder[0]).persist()
    links_new = leaves_new.select(
        "tree_id", "node_id", "chunk_id", F.lit(0).alias("rank"), "dataset_id",
        F.lit(0).alias("level"),
    )
    catalog.append(t_links, links_new, props={"level": 0, "op": "ingest"})
    catalog.append(t_nodes, leaves_new.select(*NODE_COLS), props={"level": 0, "op": "ingest"})

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
    links0 = catalog.read(t_links).filter(F.col("level") == 0)
    n_guard = leaves_dirty.count() + 1  # stall guard disabled (see docstring)
    lvl1_dirty, edges, links, _, forced = _ascend_one_level(
        leaves_dirty, links0, 1, ladder[0], ladder[1], p, n_guard
    )
    assert not forced
    # kind is decided globally below (the restricted set must not self-promote)
    parents = lvl1_dirty.withColumn("kind", F.lit("summary"))

    # 4. merge level 1: recomputed ids are deterministic per cell, so the
    # delete set is exactly the dirty cells / their parent ids. Deletes are
    # JOIN-based (catalog.delete_matching): the key sets ride an anti-join
    # instead of a collected IN-list SQL literal, so a large backfill never
    # builds a multi-MB SQL string (Catalyst broadcasts the small-batch case
    # on its own).
    dirty_cells = parents.select("cell").distinct()
    pids = parents.select("node_id")
    catalog.delete_matching(t_nodes, dirty_cells, ["cell"],
                            extra_predicate="level = 1", props={"op": "ingest"})
    catalog.append(t_nodes, parents.select(*NODE_COLS), props={"level": 1, "op": "ingest"})
    if catalog.exists(t_edges):
        catalog.delete_matching(
            t_edges, pids.withColumnRenamed("node_id", "parent_id"),
            ["parent_id"], extra_predicate="level = 1", props={"op": "ingest"})
    catalog.append(t_edges, edges, props={"level": 1, "op": "ingest"})
    catalog.delete_matching(t_links, pids, ["node_id"],
                            extra_predicate="level = 1", props={"op": "ingest"})
    catalog.append(t_links, links, props={"level": 1, "op": "ingest"})
    leaves_dirty.unpersist()
    lvl1_dirty.unpersist()

    # 5. rebuild levels >= 2 from the merged level 1 (tiny tables)
    for t in (t_edges, t_links, t_nodes):
        if catalog.exists(t):
            catalog.delete_where(t, "level >= 2", props={"op": "ingest"})
    lvl1 = catalog.read(t_nodes).filter(F.col("level") == 1)
    # per-tree root promotion at level 1 (matches _ascend_one_level): a tree
    # whose level 1 collapsed to one group roots there and leaves the
    # ascent; a stale root in a tree that now has several groups demotes
    per_tree = F.count("*").over(Window.partitionBy("tree_id", "dataset_id"))
    rekinded = lvl1.withColumn(
        "new_kind", F.when(per_tree == 1, F.lit("root")).otherwise(F.lit("summary"))
    )
    changed = rekinded.filter(F.col("kind") != F.col("new_kind"))
    if changed.limit(1).count():
        catalog.merge(
            t_nodes,
            changed.withColumn("kind", F.col("new_kind")).drop("new_kind"),
            ["node_id"],
            props={"op": "ingest"},
        )
    active = (
        catalog.read(t_nodes)
        .filter((F.col("level") == 1) & (F.col("kind") != "root"))
        .persist()
    )
    links1 = catalog.read(t_links).filter(F.col("level") == 1)

    def sink(level, parents_l, edges_l, links_l):
        catalog.append(t_links, links_l, props={"level": level, "op": "ingest"})
        catalog.append(t_edges, edges_l, props={"level": level, "op": "ingest"})
        catalog.append(t_nodes, parents_l.select(*NODE_COLS), props={"level": level, "op": "ingest"})
        return catalog.read(t_links).filter(F.col("level") == level)

    top, _ = _run_ladder(active, links1, 1, active.count(), p, sink, release=True)

    spark = new_spans_embedded.sparkSession
    nodes = catalog.read(t_nodes)
    edges = (
        catalog.read(t_edges)
        if catalog.exists(t_edges)
        else spark.createDataFrame(
            [], "tree_id string, parent_id string, child_id string, level int"
        )
    )
    return TileTree(nodes=nodes, edges=edges, links=catalog.read(t_links), levels=top)


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
    complete iff its nodes exist; partial edge/link commits above it are
    rolled back with a copy-on-write delete).
    """
    p = params or TreeParams()
    t_nodes, t_edges, t_links = f"{prefix}_nodes", f"{prefix}_edges", f"{prefix}_links"

    def sink(level, parents, edges, links):
        catalog.append(t_links, links, props={"level": level})
        catalog.append(t_edges, edges, props={"level": level})
        catalog.append(t_nodes, parents.select(*NODE_COLS), props={"level": level})
        return catalog.read(t_links).filter(F.col("level") == level)

    if resume and catalog.exists(t_nodes):
        nodes = catalog.read(t_nodes)
        top = nodes.agg(F.max("level")).collect()[0][0]
        # roll back partial levels above the last complete one
        for t in (t_edges, t_links):
            if catalog.exists(t):
                catalog.delete_where(t, f"level > {top}", props={"resume_cleanup": str(top)})
        # a complete tree's root never re-ascends (empty cur ends the ladder)
        cur = nodes.filter(
            (F.col("level") == top) & (F.col("kind") != "root")
        ).persist()
        cur_links = catalog.read(t_links).filter(F.col("level") == top)
        n_cur = cur.count()
        start_level = int(top)
    else:
        leaves = _leaf_nodes(spans_embedded, p.res_ladder[0]).persist()
        leaf_links = leaves.select(
            "tree_id", "node_id", "chunk_id", F.lit(0).alias("rank"), "dataset_id",
            F.lit(0).alias("level"),
        )
        catalog.append(t_links, leaf_links, props={"level": 0})
        catalog.append(t_nodes, leaves.select(*NODE_COLS), props={"level": 0})
        cur, cur_links, n_cur, start_level = leaves, leaf_links, leaves.count(), 0

    top, stats = _run_ladder(cur, cur_links, start_level, n_cur, p, sink, release=True)

    spark = spans_embedded.sparkSession
    nodes = catalog.read(t_nodes)
    edges = (
        catalog.read(t_edges)
        if catalog.exists(t_edges)
        else spark.createDataFrame(
            [], "tree_id string, parent_id string, child_id string, level int"
        )
    )
    links = catalog.read(t_links)
    return TileTree(nodes=nodes, edges=edges, links=links, levels=top, stats=stats)
