"""Snapshot catalog semantics + kill/resume reproducibility (FIXTURES.md §7).

north_rule: resumable from snapshot checkpoints with per-partition lineage +
metrics; reference upsert analogs chunk_repo_pg.py:16-35 (merge),
tree_repo_pg.py:14-50 (insert-if-absent), dataset_repo_pg.py:129-148 (delete).
"""

from __future__ import annotations

import pytest

from raptor_service_spark.datagen import gen_documents_df
from raptor_service_spark.functions.vector import embed_spans
from raptor_service_spark.io.catalog import SnapshotCatalog
from raptor_service_spark.operators.chunking import explode_spans
from raptor_service_spark.operators.tree import (
    TreeParams,
    build_tile_tree,
    build_tile_tree_checkpointed,
)

PARAMS = TreeParams(res_ladder=(6, 3, 0), summary_cap=16, salt_buckets=4, dim=16)


@pytest.fixture(scope="module")
def spans(spark):
    docs = gen_documents_df(spark, 30, seed=17)
    s = embed_spans(explode_spans(docs), dim=16).persist()
    s.count()
    return s


def _tree_signature(tree):
    nodes = sorted(
        map(tuple, tree.nodes.select("node_id", "level", "kind", "cell", "text").collect())
    )
    edges = sorted(map(tuple, tree.edges.select("parent_id", "child_id").collect()))
    links = sorted(map(tuple, tree.links.select("node_id", "chunk_id", "rank").collect()))
    return nodes, edges, links


# ---------------------------------------------------------------- catalog ops


def test_append_and_time_travel(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat"), spark)
    df1 = spark.createDataFrame([(1, "a")], "id int, s string")
    df2 = spark.createDataFrame([(2, "b")], "id int, s string")
    v1 = cat.append("t", df1)
    v2 = cat.append("t", df2)
    assert cat.read("t").count() == 2
    assert cat.read("t", version=v1).count() == 1  # time travel
    snaps = cat.snapshots("t")
    assert [s["version"] for s in snaps] == [v1, v2]
    assert [s["rows_written"] for s in snaps] == [1, 1]  # lineage metrics


def test_catalog_runs_only_the_jobs_of_its_writes(spark, tmp_path, count_jobs):
    """The manifest carries the schema and the row count: reads infer no
    schema, an append reads no footer and a commit reads no rows back, so
    a commit runs only its write's jobs and a read runs none."""
    cat = SnapshotCatalog(str(tmp_path / "cat"), spark)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string").persist()
    df.count()
    v1, n = count_jobs(lambda: cat.append("t", df))
    assert n == 1
    _, n = count_jobs(lambda: cat.append("t", df))  # into an existing table
    assert n == 1
    for op in (
        lambda: cat.read("t"),
        lambda: cat.read("t", version=v1),
        lambda: cat.exists("t"),
        lambda: cat.snapshots("t"),
    ):
        assert count_jobs(op)[1] == 0
    _, n = count_jobs(lambda: cat.delete_where("t", "id = 1"))
    assert n == 1
    assert cat.read("t").count() == 2
    df.unpersist()


def test_rows_written_is_exact(spark, tmp_path):
    """Every commit's ``rows_written`` equals the rows its snapshot added
    (append) or holds (the rewriting operations), the 0-row writes
    included: an empty frame, a filter that leaves nothing, a delete of
    every row."""
    cat = SnapshotCatalog(str(tmp_path / "cat"), spark)

    def rows(*ids):
        return spark.createDataFrame([(i, f"s{i}") for i in ids], "id int, s string")

    ops = [
        ("append", lambda: cat.append("t", rows(1, 2, 3))),
        ("append", lambda: cat.append("t", rows())),
        ("append", lambda: cat.append("t", rows(4, 5).filter("id > 99"))),
        ("append", lambda: cat.append("t", rows(4, 5))),
        ("merge", lambda: cat.merge("t", rows(5, 6), ["id"])),
        ("insert_if_absent", lambda: cat.insert_if_absent("t", rows(6, 7), ["id"])),
        ("delete", lambda: cat.delete_where("t", "id = 1")),
        ("delete", lambda: cat.delete_matching("t", rows(2, 3), ["id"])),
        ("compact", lambda: cat.compact("t")),
        ("overwrite", lambda: cat.overwrite("t", rows(1, 2))),
        ("delete", lambda: cat.delete_where("t", "id > 0")),
        ("append", lambda: cat.append("t", rows(8))),
    ]
    held = 0
    for op, run in ops:
        v = run()
        m = cat._manifest("t", v)
        assert m["operation"] == op
        now = cat.read("t", version=v).count()
        assert m["rows_written"] == (now - held if op == "append" else now), (op, m)
        held = now
    assert held == 1
    # a table created by an empty append keeps its schema
    cat.append("e", rows())
    assert cat._manifest("e")["rows_written"] == 0
    assert cat.read("e").columns == ["id", "s"] and cat.read("e").count() == 0


def test_manifest_without_schema_raises(spark, tmp_path):
    import json
    import os

    cat = SnapshotCatalog(str(tmp_path / "cat"), spark)
    v = cat.append("t", spark.createDataFrame([(1, "a")], "id int, s string"))
    path = os.path.join(cat._snapdir("t"), f"v{v:06d}.json")
    with open(path) as f:
        m = json.load(f)
    del m["schema"]
    with open(path, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="table t "):
        cat.read("t")
    with pytest.raises(ValueError, match="table t "):
        cat.append("t", spark.createDataFrame([(2, "b")], "id int, s string"))


def test_merge_upsert_semantics(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat"), spark)
    cat.append("t", spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string"))
    cat.merge("t", spark.createDataFrame([(2, "B"), (3, "c")], "id int, s string"), ["id"])
    got = {(r.id, r.s) for r in cat.read("t").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_insert_if_absent(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat"), spark)
    cat.append("t", spark.createDataFrame([(1, "a")], "id int, s string"))
    cat.insert_if_absent("t", spark.createDataFrame([(1, "X"), (2, "b")], "id int, s string"), ["id"])
    got = {(r.id, r.s) for r in cat.read("t").collect()}
    assert got == {(1, "a"), (2, "b")}  # existing row NOT updated


def test_delete_where_and_rollback(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat"), spark)
    cat.append("t", spark.createDataFrame([(1, "ds1"), (2, "ds2")], "id int, d string"))
    v_before = cat._current_version("t")
    cat.delete_where("t", "d = 'ds1'")
    assert [r.id for r in cat.read("t").collect()] == [2]
    cat.rollback("t", v_before)
    assert cat.read("t").count() == 2


# ------------------------------------------------------------- build/resume


def test_checkpointed_equals_inmemory(spark, spans, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat"), spark)
    t_mem = build_tile_tree(spans, PARAMS)
    t_ckpt = build_tile_tree_checkpointed(spans, PARAMS, catalog=cat)
    assert _tree_signature(t_mem) == _tree_signature(t_ckpt)
    # per-level lineage recorded in snapshot props
    levels = [s["props"].get("level") for s in cat.snapshots("tree_nodes")]
    assert levels == sorted(levels)


def test_resume_after_simulated_crash(spark, spans, tmp_path):
    cat_full = SnapshotCatalog(str(tmp_path / "full"), spark)
    full = build_tile_tree_checkpointed(spans, PARAMS, catalog=cat_full)

    # crash simulation: build fully, then roll the nodes table back one level
    # (as if the job died after committing links+edges of the top level but
    # before committing its nodes)
    cat = SnapshotCatalog(str(tmp_path / "crash"), spark)
    build_tile_tree_checkpointed(spans, PARAMS, catalog=cat)
    node_snaps = cat.snapshots("tree_nodes")
    cat.rollback("tree_nodes", node_snaps[-2]["version"])
    max_level_after_rollback = (
        cat.read("tree_nodes").agg({"level": "max"}).collect()[0][0]
    )
    assert max_level_after_rollback < full.levels  # state is genuinely partial

    resumed = build_tile_tree_checkpointed(spans, PARAMS, catalog=cat, resume=True)
    assert _tree_signature(resumed) == _tree_signature(full)
    # orphan edge/link rows above the checkpoint were rolled back, not doubled
    edge_rows = resumed.edges.count()
    assert edge_rows == full.edges.count()


def test_resume_noop_when_complete(spark, spans, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat"), spark)
    first = build_tile_tree_checkpointed(spans, PARAMS, catalog=cat)
    n_snaps = len(cat.snapshots("tree_nodes"))
    again = build_tile_tree_checkpointed(spans, PARAMS, catalog=cat, resume=True)
    assert _tree_signature(first) == _tree_signature(again)
    # complete tree -> no new node snapshots beyond resume bookkeeping
    assert len(cat.snapshots("tree_nodes")) == n_snaps


def test_fresh_build_into_existing_tree_raises(spark, spans, tmp_path):
    """A second ``resume=False`` build into a catalog that already holds the
    tree refuses before writing anything: appending its leaves and levels
    would double every table."""
    cat = SnapshotCatalog(str(tmp_path / "cat"), spark)
    build_tile_tree_checkpointed(spans, PARAMS, catalog=cat, resume=False)
    tables = ("tree_nodes", "tree_edges", "tree_links")

    def state():
        return {t: (len(cat.snapshots(t)), cat.read(t).count()) for t in tables}

    before = state()
    with pytest.raises(ValueError, match="tree_nodes"):
        build_tile_tree_checkpointed(spans, PARAMS, catalog=cat, resume=False)
    assert state() == before


# ----------------------------------------------------- incremental ingest


def _spans_for(spark, n, seed, dim=16):
    from pyspark.sql import functions as F

    docs = gen_documents_df(spark, n, seed=seed).withColumn(
        "dataset_id", F.lit("ds-shared")
    )
    return embed_spans(explode_spans(docs), dim=dim)


class _CommitLog(SnapshotCatalog):
    """A catalog that logs (table, operation, level prop) of every commit,
    in commit order across its tables."""

    def __init__(self, root, spark):
        super().__init__(root, spark)
        self.log = []

    def _commit(self, table, files, operation, written, props=None):
        self.log.append((table, operation, (props or {}).get("level")))
        return super()._commit(table, files, operation, written, props)


def test_ingest_incremental_matches_full_rebuild(spark, tmp_path):
    """build(A) + ingest(B) == build(A ∪ B), table for table — summaries,
    budget packs, edges, and provenance links included (deterministic ids +
    complete re-aggregation of each dirty cell)."""
    from raptor_service_spark.operators.tree import ingest_incremental

    a = _spans_for(spark, 30, seed=70)
    b = _spans_for(spark, 12, seed=71)

    cat = _CommitLog(str(tmp_path / "cat_inc"), spark)
    build_tile_tree_checkpointed(a, PARAMS, catalog=cat, prefix="t", resume=False)
    n_build = len(cat.log)
    inc = ingest_incremental(b, cat, PARAMS, prefix="t")

    full = build_tile_tree(a.unionByName(b), PARAMS)
    assert _tree_signature(inc) == _tree_signature(full)
    # dirty-cell recompute really fired: level-1 snapshots carry ingest ops
    ops = [s["props"].get("op") for s in cat.snapshots("t_nodes")]
    assert "ingest" in ops
    # the ingest drops its dirty subtree with one copy-on-write delete per
    # table, then commits level 1 as a build does, nodes last
    ingest_log = cat.log[n_build:]
    for t in ("t_nodes", "t_edges", "t_links"):
        assert [op for table, op, _ in ingest_log if table == t].count("delete") == 1, t
    level1 = [table for table, op, level in ingest_log if op == "append" and level == 1]
    assert level1 == ["t_links", "t_edges", "t_nodes"]


def test_ingest_incremental_demotes_stale_root(spark, tmp_path):
    """A one-doc corpus roots at level 1; ingesting a far-away doc must
    demote that root and grow the ladder exactly like a full rebuild."""
    from raptor_service_spark.operators.tree import ingest_incremental

    a = _spans_for(spark, 1, seed=72)
    b = _spans_for(spark, 6, seed=73)

    cat = SnapshotCatalog(str(tmp_path / "cat_root"), spark)
    t0 = build_tile_tree_checkpointed(a, PARAMS, catalog=cat, prefix="t", resume=False)
    inc = ingest_incremental(b, cat, PARAMS, prefix="t")
    full = build_tile_tree(a.unionByName(b), PARAMS)
    assert _tree_signature(inc) == _tree_signature(full)
    roots = inc.nodes.filter(inc.nodes.kind == "root").collect()
    assert len(roots) == 1


def test_ingest_incremental_multi_dataset(spark, tmp_path):
    """Two datasets share the catalog; ingesting a delta into one of them
    must leave the other tree untouched and still equal a full rebuild."""
    from pyspark.sql import functions as F

    from raptor_service_spark.operators.tree import ingest_incremental

    a1 = embed_spans(explode_spans(gen_documents_df(spark, 18, seed=74)), dim=16)
    a2 = embed_spans(explode_spans(gen_documents_df(spark, 10, seed=75)), dim=16)
    b1 = embed_spans(explode_spans(gen_documents_df(spark, 8, seed=76))
                     .withColumn("dataset_id", F.lit("ds-74")), dim=16)

    cat = SnapshotCatalog(str(tmp_path / "cat_multi"), spark)
    build_tile_tree_checkpointed(
        a1.unionByName(a2), PARAMS, catalog=cat, prefix="t", resume=False
    )
    inc = ingest_incremental(b1, cat, PARAMS, prefix="t")
    full = build_tile_tree(a1.unionByName(a2).unionByName(b1), PARAMS)
    assert _tree_signature(inc) == _tree_signature(full)
    roots = inc.nodes.filter(inc.nodes.kind == "root").select("dataset_id").collect()
    assert sorted(r.dataset_id for r in roots) == ["ds-74", "ds-75"]


def test_ingest_incremental_reports_upper_level_stats(spark, tmp_path):
    """Ingest rebuilds levels >= 2 through the checkpointed build's resume
    path, so its stats are exactly a full rebuild's stats above level 1."""
    from raptor_service_spark.operators.tree import ingest_incremental

    a = _spans_for(spark, 30, seed=70)
    b = _spans_for(spark, 12, seed=71)

    cat = SnapshotCatalog(str(tmp_path / "cat_stats"), spark)
    build_tile_tree_checkpointed(a, PARAMS, catalog=cat, prefix="t", resume=False)
    inc = ingest_incremental(b, cat, PARAMS, prefix="t")

    full = build_tile_tree(a.unionByName(b), PARAMS)
    assert inc.stats == [s for s in full.stats if s["level"] >= 2]
    assert inc.stats  # the ladder really climbed above level 1
    assert inc.levels == full.levels


def test_checkpointed_build_and_ingest_release_their_cache(spark, tmp_path):
    """A checkpointed build plus one ingest leave no persisted RDD behind:
    every level is released once the next level has read it."""
    from raptor_service_spark.operators.tree import ingest_incremental

    a = _spans_for(spark, 40, seed=80)
    b = _spans_for(spark, 10, seed=81)

    def persisted() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    before = persisted()

    cat = SnapshotCatalog(str(tmp_path / "cat_cache"), spark)
    tree = build_tile_tree_checkpointed(a, PARAMS, catalog=cat, prefix="t", resume=False)
    assert tree.levels >= 2
    assert persisted() == before
    ingest_incremental(b, cat, PARAMS, prefix="t")
    assert persisted() == before


def test_head_cache_misses_after_ingest(spark, tmp_path, monkeypatch):
    """The tree head is cached per TileTree: an ingest returns a new tree
    whose requests see the ingested corpus, the pre-ingest tree keeps
    serving its own snapshot, and a second request reloads nothing."""
    from raptor_service_spark.datagen import gen_query_vectors
    from raptor_service_spark.operators import tree as tree_mod
    from raptor_service_spark.operators.retrieval import (
        collapsed_retrieve,
        traversal_retrieve,
    )
    from raptor_service_spark.operators.tree import ingest_incremental

    a = _spans_for(spark, 30, seed=70)
    b = _spans_for(spark, 12, seed=71)
    chunks = a.unionByName(b).select("chunk_id", "doc_id", "idx", "text", "v").persist()
    q = gen_query_vectors(seed=72, n=1, dim=16)[0]
    loads = []
    load = tree_mod._load_head
    monkeypatch.setattr(tree_mod, "_load_head", lambda n, e: loads.append(1) or load(n, e))

    def rows(tree):
        return [
            [tuple(r) for r in fn(tree, chunks, q, "ds-shared").collect()]
            for fn in (collapsed_retrieve, traversal_retrieve)
        ]

    cat = SnapshotCatalog(str(tmp_path / "cat_head"), spark)
    old = build_tile_tree_checkpointed(a, PARAMS, catalog=cat, prefix="t", resume=False)
    old_rows = rows(old)
    assert len(loads) == 1
    new = ingest_incremental(b, cat, PARAMS, prefix="t")

    full = build_tile_tree(a.unionByName(b), PARAMS)
    assert rows(new) == rows(full)
    assert rows(new) != old_rows  # the delta really reaches the results
    assert rows(old) == old_rows
    assert len(loads) == 3  # old, new and full each loaded their head once
    chunks.unpersist()


def test_compact_binpacks_files_and_preserves_rows(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat"), spark)
    for i in range(5):  # 5 commits -> 5 data dirs of small files
        cat.append("t", spark.createDataFrame([(i, f"s{i}")], "id int, s string"))
    before = {(r.id, r.s) for r in cat.read("t").collect()}
    v_pre = cat._current_version("t")
    v = cat.compact("t", target_file_bytes=1 << 30)  # everything into 1 file
    m = cat._manifest("t")
    assert m["operation"] == "compact" and m["version"] == v
    assert len(m["files"]) == 1
    assert len(cat._data_files(m["files"])) == 1
    assert {(r.id, r.s) for r in cat.read("t").collect()} == before
    # pre-compaction snapshot still time-travels
    assert cat.read("t", version=v_pre).count() == 5
    assert m["props"]["files_before"] >= 5 and m["props"]["files_after"] == 1


def test_expire_snapshots_bounds_storage(spark, tmp_path):
    import os

    cat = SnapshotCatalog(str(tmp_path / "cat"), spark)
    for i in range(6):
        cat.append("t", spark.createDataFrame([(i, "x")], "id int, s string"))
    cat.compact("t", target_file_bytes=1 << 30)
    expired = cat.expire_snapshots("t", keep_last=2)
    assert expired == list(range(1, 6))  # v1..v5 dropped, v6 + v7(compact) kept
    assert [s["version"] for s in cat.snapshots("t")] == [6, 7]
    # current read unaffected; expired versions no longer readable
    assert cat.read("t").count() == 6
    with pytest.raises(FileNotFoundError):
        cat._manifest("t", 3)
    # unreferenced data dirs physically deleted, retained ones kept
    data_root = os.path.join(cat._tdir("t"), "data")
    live = set()
    for s in cat.snapshots("t"):
        live.update(s["files"])
    assert {os.path.join(data_root, n) for n in os.listdir(data_root)} == live


def test_schema_evolution_add_column(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat"), spark)
    cat.append("t", spark.createDataFrame([(1, "a")], "id int, s string"))
    # add a column: old rows read back NULL for it
    v2 = cat.append(
        "t",
        spark.createDataFrame([(2, "b", 9.5)], "id int, s string, score double"),
        merge_schema=True,
    )
    got = {(r.id, r.s, r.score) for r in cat.read("t").collect()}
    assert got == {(1, "a", None), (2, "b", 9.5)}
    assert cat._manifest("t")["props"]["schema_added_columns"] == ["score"]
    # an append omitting an evolved column gets NULL-filled, not rejected
    cat.append(
        "t", spark.createDataFrame([(3, "c")], "id int, s string"), merge_schema=True
    )
    got = {(r.id, r.score) for r in cat.read("t").collect()}
    assert got == {(1, None), (2, 9.5), (3, None)}
    # pre-evolution snapshot time-travels WITHOUT the new column
    assert "score" not in cat.read("t", version=v2 - 1).columns
    # each snapshot records its own schema: the union from the evolving append on
    names = [
        [f["name"] for f in cat._manifest("t", v)["schema"]["fields"]]
        for v in (v2 - 1, v2, v2 + 1)
    ]
    assert names == [["id", "s"], ["id", "s", "score"], ["id", "s", "score"]]


def test_delete_matching_join_based(spark, tmp_path):
    """Join-based DELETE (VERDICT r3 item 5): key-set rides an anti-join,
    scoped by an extra predicate; rows outside the predicate survive even
    when their keys match."""
    cat = SnapshotCatalog(str(tmp_path / "cat"), spark)
    cat.append(
        "t",
        spark.createDataFrame(
            [(1, 0, "a"), (2, 0, "b"), (1, 1, "c"), (3, 1, "d")],
            "k int, level int, s string",
        ),
    )
    keys = spark.createDataFrame([(1,), (3,)], "k int")
    cat.delete_matching("t", keys, ["k"], extra_predicate="level = 1")
    got = {(r.k, r.level, r.s) for r in cat.read("t").collect()}
    assert got == {(1, 0, "a"), (2, 0, "b")}
    # unscoped delete drops every matching key
    cat.delete_matching("t", keys, ["k"])
    assert {(r.k, r.s) for r in cat.read("t").collect()} == {(2, "b")}


def test_delete_null_predicate_keeps_rows(spark, tmp_path):
    """SQL DELETE removes rows where the predicate is TRUE; NULL-predicate
    rows are KEPT (NULL is not TRUE) — the Iceberg-twin contract (ADVICE r4).
    Both delete_where and scoped delete_matching must honor it."""
    cat = SnapshotCatalog(str(tmp_path / "cat"), spark)
    rows = [(1, 1, "a"), (2, None, "b"), (3, 2, "c")]
    cat.append("t", spark.createDataFrame(rows, "k int, level int, s string"))
    # level = 1 is NULL for k=2 -> that row must survive the delete
    cat.delete_where("t", "level = 1")
    got = {(r.k, r.level) for r in cat.read("t").collect()}
    assert got == {(2, None), (3, 2)}

    cat2 = SnapshotCatalog(str(tmp_path / "cat2"), spark)
    cat2.append("t", spark.createDataFrame(rows, "k int, level int, s string"))
    keys = spark.createDataFrame([(1,), (2,)], "k int")
    cat2.delete_matching("t", keys, ["k"], extra_predicate="level = 1")
    got2 = {(r.k, r.level) for r in cat2.read("t").collect()}
    assert got2 == {(2, None), (3, 2)}


def test_iceberg_sql_twins_golden(spark, tmp_path):
    """Every catalog commit records the exact Iceberg SQL the cluster-side
    deployment would run (VERDICT r3 item 9) — golden-pinned so the
    jar-present swap is mechanical."""
    from raptor_service_spark.io.catalog import (
        iceberg_compact_sql,
        iceberg_delete_matching_sql,
        iceberg_expire_snapshots_sql,
        iceberg_rollback_sql,
        iceberg_time_travel_sql,
    )

    cat = SnapshotCatalog(str(tmp_path / "cat"), spark)
    df = spark.createDataFrame([(1, "a")], "id int, s string")
    cat.append("t", df)
    cat.merge("t", spark.createDataFrame([(1, "z")], "id int, s string"), ["id"])
    cat.insert_if_absent("t", df, ["id"])
    cat.delete_where("t", "id = 99")
    cat.delete_matching(
        "t", spark.createDataFrame([(1,)], "id int"), ["id"],
        extra_predicate="s = 'never'",
    )
    twins = [s["props"].get("iceberg_sql") for s in cat.snapshots("t")]
    assert twins == [
        "INSERT INTO t SELECT * FROM _staging",
        "MERGE INTO t t USING _staging s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        "MERGE INTO t t USING _staging s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT *",
        "DELETE FROM t WHERE id = 99",
        "DELETE FROM t t WHERE (s = 'never') AND "
        "EXISTS (SELECT 1 FROM _doomed_keys k WHERE k.id = t.id)",
    ]
    assert iceberg_time_travel_sql("t", 3) == "SELECT * FROM t VERSION AS OF 3"
    assert iceberg_rollback_sql("t", 2) == "CALL system.rollback_to_snapshot('t', 2)"
    assert (
        iceberg_expire_snapshots_sql("t", 3)
        == "CALL system.expire_snapshots(table => 't', retain_last => 3)"
    )
    assert iceberg_compact_sql("t", 134217728) == (
        "CALL system.rewrite_data_files(table => 't', options => "
        "map('target-file-size-bytes', '134217728'))"
    )
    assert iceberg_delete_matching_sql("t", ["a", "b"]) == (
        "DELETE FROM t t WHERE EXISTS "
        "(SELECT 1 FROM _doomed_keys k WHERE k.a = t.a AND k.b = t.b)"
    )
