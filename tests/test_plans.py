"""Physical-plan regression tests — the PLANS.md claims as assertions.

These don't check answers (the oracle battery does); they check the SHAPE
Catalyst produces, which is what survives a 100x scale-up: filters reaching
the parquet reader, column pruning, broadcast joins for small sides,
map-side partial aggregation, and the single-exchange centroid aggregate.
"""

from __future__ import annotations

import os
import sys

import pytest

import __spark_entry__ as entry_mod
import offpaper_queries

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
from lint_window_partitions import lint_query, partitionless_windows  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def qmap():
    return {**entry_mod.queries(), **offpaper_queries.queries()}


def test_filtered_knn_pushes_predicate_and_prunes_columns(spark, qmap):
    plan = _plan(qmap["knn_filtered"](spark, SF_DIR))
    # metadata predicate reaches the documents scan
    assert "PushedFilters: [" in plan
    assert "EqualTo(lang,en)" in plan or "lang" in plan.split("PushedFilters")[1][:200]
    # documents scan reads only the needed columns, never text
    docs_scans = [s for s in plan.split("Scan parquet")[1:] if "documents" in s[:400]]
    assert docs_scans and all("text" not in s.split("ReadSchema")[1][:200] for s in docs_scans if "ReadSchema" in s)


def test_revenue_joins_broadcast_dimensions(spark, qmap):
    plan = _plan(qmap["revenue_by_nation"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rasterize_single_shuffle_grouped_map(spark, qmap):
    """Tile rasterization: ONE exchange into the grouped-map Arrow kernel."""
    plan = _plan(qmap["tile_histogram"](spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange") == 1


def test_groupby_count_is_partial_then_final(spark, qmap):
    plan = _plan(qmap["orders_status_stats"](spark, SF_DIR))
    assert "partial_count" in plan
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_centroid_agg_single_exchange_no_explode(spark):
    """The flagship's per-cell centroid: 64 partial SUMs + COUNT, one
    exchange, no generator (posexplode) anywhere in the aggregate path."""
    from pyspark.sql import functions as F

    from raptor_service_spark.geo.grid import cell_encode_col, cell_parent_col

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select("vec_id", "embedding")
    lat, lng = entry_mod._latlng_cols(F.col("doc_id"))
    leaves = (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .withColumn("cell2", cell_parent_col(cell_encode_col(lat, lng, 4), 4, 2))
        .select("embedding", "cell2")
    )
    cents = leaves.groupBy("cell2").agg(
        F.count(F.lit(1)).alias("cnt"),
        *[F.sum(F.col("embedding")[i]).alias(f"s{i}") for i in range(64)],
    )
    plan = _plan(cents)
    assert "partial_sum" in plan
    assert plan.count("Exchange") <= 2  # 1 agg exchange + possibly broadcast
    assert "Generate" not in plan  # no explode in the aggregate path


def test_ordered_scan_is_take_ordered_not_global_sort(spark, qmap):
    """Top-100 ordered scan must be TakeOrderedAndProject (per-partition
    top-k + merge), never a full sort + limit."""
    plan = _plan(qmap["events_ordered_scan"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") == 0


def test_sessions_filter_reaches_scan(spark, qmap):
    plan = _plan(qmap["user_sessions"](spark, SF_DIR))
    pushed = plan.split("PushedFilters")[1][:200] if "PushedFilters" in plan else ""
    assert "LessThan(user_id,100)" in pushed


def test_radius_join_broadcasts_cells(spark, qmap):
    plan = _plan(qmap["radius_join_docs"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path_factory):
    """Pre-bucketing both join sides on the key removes BOTH exchanges from
    the join plan (co-located join — the pay-the-shuffle-once layout)."""
    from pyspark.sql import functions as F

    from raptor_service_spark.io.bucketing import bucketed_join, write_bucketed

    wh = str(tmp_path_factory.mktemp("warehouse"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "lang"
        )
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            F.col("vec_id").alias("doc_id"), "label"
        )
        write_bucketed(docs, "b_docs", "doc_id", n_buckets=8, path=wh + "/b_docs")
        write_bucketed(emb, "b_emb", "doc_id", n_buckets=8, path=wh + "/b_emb")
        joined = bucketed_join(spark, "b_docs", "b_emb", "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: neither side shuffles
        assert plan.count("Bucketed: true") == 2
        # and it is still a correct join
        assert joined.count() == docs.join(emb, "doc_id").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_emb")


def test_stay_points_single_exchange(spark, qmap):
    """Gaps-and-islands: both windows AND the run aggregate reuse ONE
    user_id exchange (PLANS.md claim)."""
    plan = _plan(qmap["user_stay_points"](spark, SF_DIR))
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 2


def test_tile_topk_rank_cut_below_exchange(spark, qmap):
    """Per-tile top-k: a Partial WindowGroupLimit bounds the shuffle at
    <=3 rows per cell per map task."""
    plan = _plan(qmap["tile_topk_docs"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan
    first_wgl = plan.index("WindowGroupLimit")
    assert "Partial" in plan[first_wgl:].split("\n")[0] or plan.count("WindowGroupLimit") == 2


def test_traj_cells_explodes_after_shuffle(spark, qmap):
    """The 9x interpolation Generate sits ABOVE the (single) exchange, so
    the shuffle carries one row per event."""
    plan = _plan(qmap["traj_cells"](spark, SF_DIR))
    assert plan.count("Exchange") == 1
    # executedPlan prints top-down: Generate must appear BEFORE Exchange
    assert plan.index("Generate") < plan.index("Exchange")
    assert "PushedFilters: [IsNotNull(user_id), LessThan(user_id,20)]" in plan


def test_pq_knn_zero_shuffles_no_silent_codegen_fallback(spark, qmap):
    """PQ encode+ADC: no exchange anywhere. Round 4: the former
    array_position(ds, array_min(ds)) form carried a '*(1) Project'
    codegen marker in the PLAN but its generated method crossed the JVM
    64 KB limit AT RUNTIME (Janino), silently running interpreted — the
    marker this test used to assert was cosmetic. The argmin is now a
    single-reference zip_with/struct array_min, a deliberate
    CodegenFallback expression: same interpreted execution the fallback
    produced, measured slightly faster (3.3 -> 2.7 s at sf0.1), but
    VISIBLE in the plan (no codegen marker) and error-free under
    spark.sql.codegen.fallback=false, which bench.py now enforces."""
    plan = _plan(qmap["pq_knn"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "zip_with" in plan  # the single-reference argmin form


def test_heat_decay_partial_final_only(spark, qmap):
    plan = _plan(qmap["cell_heat_decay"](spark, SF_DIR))
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2


def test_coverage_gap_broadcasts_doc_cells(spark, qmap):
    plan = _plan(qmap["cell_coverage_gap"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_layout_single_exchange_pure_codegen(spark, qmap):
    """Morton interleave is a codegen Project: one partial+final agg, no
    generator, no join."""
    plan = _plan(qmap["zorder_layout"](spark, SF_DIR))
    assert plan.count("Exchange") == 1
    assert "Generate" not in plan and "Join" not in plan


def test_hilbert_layout_single_exchange_pure_codegen(spark, qmap):
    """The 8-level Hilbert rotate-reflect chain flattens into codegen
    Projects: one partial+final agg, no generator, no join, no fallback."""
    plan = _plan(qmap["hilbert_layout"](spark, SF_DIR))
    assert plan.count("Exchange") == 1
    assert "Generate" not in plan and "Join" not in plan
    assert plan.count("HashAggregate") == 2  # partial + final


def test_hex_density_agg_then_broadcast_peak(spark, qmap):
    """Hex encode is a codegen Project; density is one partial+final agg;
    the 1-row peak joins by broadcast — never a sort-merge join."""
    plan = _plan(qmap["hex_density"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "Broadcast" in plan
    assert "TakeOrderedAndProject" in plan


def test_gravity_fit_broadcast_pops_single_scalar_agg(spark, qmap):
    """Both pop joins broadcast (the pop table is O(cells)); the ln
    regressors are codegen Projects feeding ONE scalar aggregate."""
    plan = _plan(qmap["gravity_fit"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_colocation_no_cartesian_composite_key_join(spark, qmap):
    """Contact join: candidates come from the (cell, bucket) equi-join —
    never a cross product; the ring/bucket Generate feeds the join."""
    plan = _plan(qmap["user_colocation"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan
    assert plan.count("Exchange") <= 3


def test_stratified_sample_window_only_on_survivors(spark, qmap):
    """The per-stratum rank window must consume the cutoff-filtered join
    output (survivors), not the raw scan: top-down, the window appears
    BEFORE (above) the broadcast cutoff join feeding it."""
    plan = _plan(qmap["doc_stratified_sample"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    w = plan.index("Window")
    assert plan.index("BroadcastHashJoin") > w  # join is below the window
    assert "CartesianProduct" not in plan


def test_morans_i_points_shuffle_once(spark, qmap):
    """Autocorrelation: exactly one aggregate keyed by the raw point cell;
    everything after runs on occupied-cell rows (ring join broadcastable)."""
    plan = _plan(qmap["morans_i"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # the 1-row global-stats side is the only nested-loop join
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_activity_mask_single_distinct_agg(spark, qmap):
    plan = _plan(qmap["user_activity_mask"](spark, SF_DIR))
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan


def test_ripley_k_no_cartesian_one_pair_pass(spark, qmap):
    """Pairs come from the grid ε-join (cell equi-join), never a cross
    product; all bands fold into ONE aggregate over that stream."""
    plan = _plan(qmap["ripley_k"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan or plan.count("BroadcastNestedLoopJoin") <= 1  # the 1-row stats crossJoin only
    assert plan.count("Generate") <= 2  # the 3x3 ring explode + band explode


def test_mann_kendall_event_rows_shuffle_once(spark, qmap):
    """Event rows are seen by exactly one exchange (the (cell, day) cube);
    the day-pair join runs on aggregated rows only."""
    plan = _plan(qmap["emerging_hotspots"](spark, SF_DIR))
    ev_scans = plan.count("Scan parquet") and [
        s for s in plan.split("Scan parquet")[1:] if "events" in s[:300]
    ]
    assert ev_scans  # reads events
    assert "partial_count" in plan  # cube agg is map-side combinable
    assert "CartesianProduct" not in plan


def test_span_dedup_one_window_one_reassembly_agg(spark, qmap):
    plan = _plan(qmap["span_dedup"](spark, SF_DIR))
    assert plan.count("Window") == 1
    assert "FlatMapGroupsInPandas" not in plan  # reassembly is JVM collect_list
    assert "CartesianProduct" not in plan


def test_quadkey_rollup_groups_on_bigint_pair(spark, qmap):
    """Quadkey strings are rendered after aggregation: the exchange key is
    the (x, y) BIGINT pair, and string concat appears only above the agg."""
    plan = _plan(qmap["quadkey_tiles"](spark, SF_DIR))
    assert plan.count("Exchange") <= 2  # agg shuffle + final orderBy
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_curation_pipeline_single_scan_one_dedup_window(spark, qmap):
    plan = _plan(qmap["curation_pipeline"](spark, SF_DIR))
    # exactly one logical window (the dedup row_number), and Catalyst cuts
    # the rank below the exchange (partial+final WindowGroupLimit)
    assert plan.count("Window [") == 1
    assert plan.count("WindowGroupLimit") == 2
    assert "CartesianProduct" not in plan


def test_local_moran_points_shuffle_once(spark, qmap):
    plan = _plan(qmap["local_moran"](spark, SF_DIR))
    # identical shape claim as morans_i: one partial+final count over points
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_perplexity_never_doc_by_doc(spark, qmap):
    plan = _plan(qmap["doc_perplexity"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-20 never global-sorts


def test_trajectory_simplify_one_window_shuffle(spark, qmap):
    plan = _plan(qmap["trajectory_simplify"](spark, SF_DIR))
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# adversarial skew (round 3): 90%-one-cell corpora through the tree build's
# salted two-phase collect and the ANN index writer — the forced-single-
# cluster stall case of the reference (build_tree_service.py:109-114) at
# skew, as PLAN-SHAPE and BOUND assertions, the way
# test_bucketed_join_has_no_exchange pins bucketing.
# --------------------------------------------------------------------------


def _skewed_children(spark, n=2000, hot_frac=0.9):
    rows = [
        (
            "ds::tree",
            "ds",
            0 if i < int(n * hot_frac) else 1 + (i % 50),
            f"n{i:05d}",
            "alpha beta gamma delta epsilon",
            f"o{i:09d}",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "tree_id string, dataset_id string, parent_cell long, "
        "node_id string, text string, ord string",
    )


def test_salted_collect_two_phase_plan_under_skew(spark):
    """The child-packing aggregate is genuinely two-phase: the FIRST
    exchange partitions on (..., salt) so no reduce task ever receives a
    whole hot cell; the second merges per cell. Both phases visible in the
    executed plan; the hot cell's phase-1 fan-out and the packed-output
    bounds hold on data."""
    from pyspark.sql import functions as F

    from raptor_service_spark.operators.tree import _salted_capped_collect

    cur = _skewed_children(spark)
    grouped = _salted_capped_collect(cur, cap=32, salt_buckets=16, token_budget=320)
    plan = _plan(grouped)
    # two shuffle stages; the plan prints top-down, so the DEEPER (second
    # printed) exchange is phase 1 and must key on the salt column, while
    # the outer merge exchange must NOT
    assert plan.count("Exchange hashpartitioning") == 2
    outer, inner = (
        plan.split("Exchange hashpartitioning")[1][:200],
        plan.split("Exchange hashpartitioning")[2][:200],
    )
    assert "salt" in inner and "salt" not in outer
    # collect_list runs partial+final in EACH phase (object hash aggregate)
    assert plan.count("ObjectHashAggregate") == 4
    # each phase sorts its children once and packs the sorted column: the
    # sort is never inlined into the packing pass
    assert grouped._jdf.queryExecution().optimizedPlan().toString().count("array_sort(") == 2

    # data bounds: phase-1 spreads the 1800-row hot cell over 16 salt
    # groups (largest group ~112, far below the whole cell)...
    p1_sizes = (
        cur.groupBy(
            "parent_cell", F.pmod(F.xxhash64("node_id"), F.lit(16)).alias("salt")
        )
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert p1_sizes < 1800 * 0.25
    # ...and the packed output respects cap and token budget per cell
    out = grouped.select(
        "parent_cell",
        F.size("items").alias("n"),
        F.aggregate(
            "items", F.lit(0).cast("long"), lambda a, x: a + x["tok"]
        ).alias("toks"),
        "n_children",
    ).collect()
    hot = [r for r in out if r.parent_cell == 0][0]
    assert hot.n_children == 1800  # true count survives the cap
    assert all(r.n <= 32 and r.toks <= 320 for r in out)
    # packed prefix is the ord-min prefix: phase 1 never dropped anything
    # phase 2 keeps (associativity) — spot-check the hot cell's first item
    first = (
        grouped.filter(F.col("parent_cell") == 0)
        .select(F.col("items")[0]["ord"])
        .collect()[0][0]
    )
    assert first == "o000000000"


def test_tree_build_forced_single_cluster_at_stall(spark):
    """A corpus whose level-1 coarsening does not shrink (every leaf in its
    own res-3 cell) must trip the stall guard and collapse to ONE forced
    root — the reference's forced-single-cluster case — instead of looping
    or emitting a phantom ladder."""
    from pyspark.sql import functions as F

    from raptor_service_spark.functions.vector import embed_spans
    from raptor_service_spark.operators.tree import TreeParams, build_tile_tree

    # 8 spans spread so far apart that res-3 cells are all distinct
    rows = [
        (f"d{i}", "ds-skew", 0, f"d{i}::c0", f"span text {i}",
         -60.0 + 15.0 * i, -150.0 + 35.0 * i)
        for i in range(8)
    ]
    spans = embed_spans(
        spark.createDataFrame(
            rows,
            "doc_id string, dataset_id string, idx int, chunk_id string, "
            "text string, lat double, lng double",
        ),
        dim=16,
    )
    tree = build_tile_tree(spans, TreeParams(res_ladder=(6, 3, 0), dim=16))
    assert tree.stats[0]["forced_single"] is True
    lvl1 = tree.nodes.filter(F.col("level") == 1).collect()
    assert len(lvl1) == 1 and lvl1[0].kind == "root"
    # provenance stays complete through the forced collapse
    assert tree.links.filter(F.col("level") == 1).count() == 8


def test_write_ann_index_spreads_hot_cell_over_writers(spark, tmp_path):
    """The salted wide write: a 90%-one-pfx index repartitioned on
    (pfx, salt) lands the hot directory as MULTIPLE files (many writers),
    while the plan shows exactly one exchange keyed on pfx + the salt."""
    import glob

    from pyspark.sql import functions as F

    from raptor_service_spark.operators.knn import WRITE_SALTS, write_ann_index

    n = 4000
    idx = spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") < int(n * 0.9), F.lit(7)).otherwise(F.col("id") % 13).alias("pfx"),
        (F.col("id") % 997).alias("ann_cell"),
        F.array(*[F.rand(seed=1) for _ in range(8)]).alias("v"),
    )
    path = str(tmp_path / "ann_idx")
    write_ann_index(idx, path, npart=8)
    hot_files = glob.glob(f"{path}/pfx=7/*.parquet")
    assert len(hot_files) >= 2  # hot cell spread across writer tasks
    # plan shape of the wide-write distribution
    out = idx.repartition(8, F.col("pfx"), F.pmod(F.xxhash64("id"), F.lit(WRITE_SALTS)))
    plan = _plan(out.sortWithinPartitions("pfx", "ann_cell"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "xxhash64" in plan.split("Exchange hashpartitioning")[1][:300]
    # and the round-trip is lossless
    assert spark.read.parquet(path).count() == n


# ----------------------------------------------------------- round-3 queries


def test_dup_substrings_one_hash_count_no_pairs(spark, qmap):
    """Window-hash dedup: dup hashes come from a partial+final count agg;
    nothing doc-by-doc; top-20 is TakeOrderedAndProject."""
    plan = _plan(qmap["doc_dup_substrings"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_dsir_feature_table_broadcasts(spark, qmap):
    """The 256-row log-ratio table rides as a broadcast; the token stream
    never self-joins."""
    plan = _plan(qmap["dsir_weights"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_viterbi_is_relational_dp(spark, qmap):
    """The Viterbi recursion is joins + hash aggregates — no Python kernel,
    no cartesian, no per-user grouped-map."""
    plan = _plan(qmap["viterbi_match"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("HashAggregate") >= 10  # L-1 DP min-aggs, partial+final


def test_cotravel_single_pair_window(spark, qmap):
    plan = _plan(qmap["cotravel_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 1
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan  # bucket equi-join


def test_pip_polygon_table_distributed_polyfill(spark, qmap):
    """Polyfill runs as MapInPandas over polygon ROWS; the refine is codegen
    (no second Python stage); no cartesian anywhere."""
    plan = _plan(qmap["pip_polygon_table"](spark, SF_DIR))
    assert plan.count("MapInPandas") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gopher_c4_zero_shuffle(spark, qmap):
    """Curation rule bundles are pure scan→project: no Exchange at all —
    at 100 TB they run at scan speed beside the other quality scores."""
    for name in ("gopher_quality", "c4_filter"):
        plan = _plan(qmap[name](spark, SF_DIR))
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan, name  # no row-at-a-time Python


def test_st_dbscan_join_is_bucketed_in_time(spark, qmap):
    """The ST-DBSCAN ε-join must key on (cell, time bucket), not cell
    alone — the cell-only join materializes every same-cell pair across
    the full history (measured 90 M intermediate rows for 1.1 M kept at
    sf0.1) and is the shape that dies at 100 TB. The pair stream is
    checkpointed inside the query, so the pin inspects the LAZY pair plan
    via the shared builder."""
    _, pairs = offpaper_queries._stdb_pair_stream(spark, SF_DIR)
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan
    # the equi-join keys on BOTH the ring cell and the time bucket
    joins = [ln for ln in plan.splitlines() if "Join" in ln and "nbr" in ln]
    assert joins and all("tbkt" in ln for ln in joins), joins
    assert "BatchEvalPython" not in plan
    # and the full query's post-checkpoint plan stays Python-free
    full = _plan(qmap["st_dbscan"](spark, SF_DIR))
    assert "CartesianProduct" not in full
    assert "BatchEvalPython" not in full


def test_multi_model_embed_single_arrow_pass(spark, qmap):
    """Mixed-model embedding is ONE mapInPandas pass over one scan —
    not one embed job per model."""
    plan = _plan(qmap["multi_model_dims"](spark, SF_DIR))
    assert plan.count("MapInPandas") == 1
    scans = plan.count("Scan parquet")
    assert scans == 1, f"expected one documents scan, got {scans}"


# ---------------------------------------------------------------- round 5


def _partitionless_window_kinds(df):
    return [kind for _, kind in partitionless_windows(df)]


def test_orders_page_is_take_ordered_not_global_window(spark, qmap):
    """VERDICT r4 item 1: offset paging rides TakeOrderedAndProject
    (per-partition 30-row heaps); the only window left ranks the 30
    surviving rows (limit-bounded)."""
    plan = _plan(qmap["orders_page"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    kinds = _partitionless_window_kinds(qmap["orders_page"](spark, SF_DIR))
    assert kinds == ["limit"], kinds


def test_window_lint_ignores_limit_off_the_window_lineage(spark):
    """A Limit in an unrelated join branch does not bound a partition-less
    window over the other, unbounded branch: the lint must report it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "lang")
    first5 = docs.orderBy("doc_id").limit(5).select(F.col("lang").alias("l5"))
    joined = docs.join(first5, docs.lang == first5.l5)
    df = joined.withColumn("rn", F.row_number().over(Window.orderBy("doc_id")))
    assert _partitionless_window_kinds(df) != ["limit"]
    assert lint_query("limit_off_lineage", df) is not None


def test_term_topk_queries_take_ordered(spark, qmap):
    """zipf_slope / source_delta / cms_heavy_hitters / bpe_encode: the
    top-k over the O(vocab) count table is orderBy+limit, never a full
    row_number window."""
    for name in ("zipf_slope", "source_delta", "cms_heavy_hitters", "bpe_encode"):
        df = qmap[name](spark, SF_DIR)
        plan = _plan(df)
        assert "TakeOrderedAndProject" in plan, name
        kinds = _partitionless_window_kinds(df)
        assert all(k == "limit" for k in kinds), (name, kinds)


def test_seq_packing_two_phase_prefix_sum(spark, qmap):
    """The corpus cumsum is partitioned by md5-prefix bucket; bucket
    offsets come from a triangular join-agg over the 256-row bucket
    table, so NO partition-less window exists anywhere in the plan."""
    df = qmap["seq_packing"](spark, SF_DIR)
    kinds = _partitionless_window_kinds(df)
    assert kinds == [], kinds
    plan = _plan(df)
    # the per-row cumsum window is PARTITIONED by the md5-prefix bucket
    assert "Window" in plan and "windowspecdefinition(b#" in plan


def test_two_phase_rank_queries_no_row_windows(spark, qmap):
    """rfm_segments / ppcc_expon / ppcc_weibull / conversion_lag_quantiles:
    global ranks are two-phase (bucketed); every remaining partition-less
    window rides an aggregate or a checkpointed bounded table."""
    for name in ("rfm_segments", "ppcc_expon", "ppcc_weibull",
                 "conversion_lag_quantiles"):
        kinds = _partitionless_window_kinds(qmap[name](spark, SF_DIR))
        assert all(k in ("agg", "ckpt", "limit") for k in kinds), (name, kinds)


def test_two_phase_row_number_matches_global(spark):
    """_two_phase_row_number == row_number over the global order, for a
    monotone bucket with in-bucket ties."""
    from pyspark.sql import functions as F

    rows = [(i, (i * 37) % 11, f"u{i:03d}") for i in range(500)]
    df = spark.createDataFrame(rows, "rid int, v long, uid string")
    got = {
        r.rid: r.rn
        for r in offpaper_queries._two_phase_row_number(
            df, F.col("v"), [F.col("v"), F.col("uid")]
        ).collect()
    }
    order = sorted(rows, key=lambda t: (t[1], t[2]))
    for rank, (rid, _, _) in enumerate(order, start=1):
        assert got[rid] == rank


def test_always_gated_core_lint_clean(spark, qmap):
    """The 10 always-gated core queries (every driver sample re-verifies
    them) must stay clean under the window-partition lint — the cheap
    permanent slice of the full-registry run."""
    for name in entry_mod._ALWAYS_GATED_CORE:
        v = lint_query(name, qmap[name](spark, SF_DIR))
        assert v is None, v


def test_retrieval_stages_are_take_ordered_not_global_sort(spark, tmp_path):
    """Both collapsed-retrieval stages are a distributed top-k
    (TakeOrderedAndProject via brute_force_knn), never a global Sort of the
    node or chunk table."""
    import re

    import numpy as np

    from raptor_service_spark.operators.retrieval import (
        gather_leaf_chunks,
        search_summary_nodes,
    )

    v = [0.5, -1.0, 2.0, 0.25]
    spark.createDataFrame(
        [(f"n{i}", "t0", 1, "summary", "ds", v) for i in range(6)],
        "node_id string, tree_id string, level int, kind string, dataset_id string,"
        " v array<float>",
    ).write.parquet(str(tmp_path / "nodes"))
    spark.createDataFrame(
        [(f"n{i % 6}", f"c{i}") for i in range(12)], "node_id string, chunk_id string"
    ).write.parquet(str(tmp_path / "links"))
    spark.createDataFrame(
        [(f"c{i}", "d0", i, "text", v) for i in range(12)],
        "chunk_id string, doc_id string, idx int, text string, v array<float>",
    ).write.parquet(str(tmp_path / "chunks"))
    q = np.array([1.0, 0.0, -1.0, 0.5])
    nodes, links, chunks = (
        spark.read.parquet(str(tmp_path / t)) for t in ("nodes", "links", "chunks")
    )
    for df in (
        search_summary_nodes(nodes, q, "ds", 5),
        gather_leaf_chunks(links, chunks, ["n0", "n1"], q, 8),
    ):
        plan = _plan(df)
        assert "TakeOrderedAndProject" in plan
        assert not re.search(r"Sort \[[^\]]*\], true", plan), plan


def test_retrieval_requests_run_a_bounded_number_of_jobs(spark, count_jobs):
    """Once the tree head is loaded, a collapsed request runs at most 2 Spark
    jobs (the leaf gather) and a traversal request at most 4 (the hop out
    of level 1, then the gather): the rankings above level 1 run in driver
    memory, so a per-hop scan of the node table fails here."""
    from raptor_service_spark.datagen import gen_documents_df, gen_query_vectors
    from raptor_service_spark.functions.vector import embed_spans
    from raptor_service_spark.operators.chunking import explode_spans
    from raptor_service_spark.operators.retrieval import (
        collapsed_retrieve,
        traversal_retrieve,
    )
    from raptor_service_spark.operators.tree import TreeParams, build_tile_tree

    dim = 32
    spans = embed_spans(explode_spans(gen_documents_df(spark, 40, seed=13)), dim=dim).persist()
    tree = build_tile_tree(
        spans, TreeParams(res_ladder=(6, 3, 0), summary_cap=16, salt_buckets=4, dim=dim)
    )
    tree.nodes = tree.nodes.persist()
    tree.edges = tree.edges.persist()
    tree.links = tree.links.persist()
    chunks = spans.select("chunk_id", "doc_id", "idx", "text", "v").persist()
    assert tree.levels == 2  # root -> level 1 in the head, then one hop to the leaves

    def jobs(fn, q):
        rows, n = count_jobs(lambda: fn(tree, chunks, q, "ds-13").collect())
        assert rows
        return n

    warm, *qs = gen_query_vectors(seed=31, n=3, dim=dim)
    jobs(collapsed_retrieve, warm)
    for q in qs:
        assert jobs(collapsed_retrieve, q) <= 2
        assert jobs(traversal_retrieve, q) <= 4
    for df in (tree.nodes, tree.edges, tree.links, chunks, spans):
        df.unpersist()


@pytest.mark.parametrize("overlap_kring", [0, 1])
def test_in_memory_build_caches_its_levels(spark, count_jobs, overlap_kring):
    """``build_tile_tree`` returns its levels cached: with no ``persist()``
    by the caller, a warmed collapsed request runs at most 2 Spark jobs and
    a traversal request at most 4, as on a persisted tree. Unpersisted
    links or edges would re-run every level's window lineage per request
    (11-12 jobs per collapsed request, about 30 with ``overlap_kring=1``)."""
    from raptor_service_spark.datagen import gen_documents_df, gen_query_vectors
    from raptor_service_spark.functions.vector import embed_spans
    from raptor_service_spark.operators.chunking import explode_spans
    from raptor_service_spark.operators.retrieval import (
        collapsed_retrieve,
        traversal_retrieve,
    )
    from raptor_service_spark.operators.tree import TreeParams, build_tile_tree

    dim = 32
    spans = embed_spans(explode_spans(gen_documents_df(spark, 40, seed=13)), dim=dim).persist()
    tree = build_tile_tree(
        spans,
        TreeParams(
            res_ladder=(6, 3, 0), summary_cap=16, salt_buckets=4, dim=dim,
            overlap_kring=overlap_kring,
        ),
    )
    chunks = spans.select("chunk_id", "doc_id", "idx", "text", "v").persist()

    def jobs(fn, q):
        rows, n = count_jobs(lambda: fn(tree, chunks, q, "ds-13").collect())
        assert rows
        return n

    warm, *qs = gen_query_vectors(seed=31, n=3, dim=dim)
    jobs(collapsed_retrieve, warm)
    jobs(traversal_retrieve, warm)
    for q in qs:
        assert jobs(collapsed_retrieve, q) <= 2
        assert jobs(traversal_retrieve, q) <= 4
    chunks.unpersist()
    spans.unpersist()


def test_warmed_grid_knn_request_runs_two_jobs_and_no_join(spark, tmp_path, count_jobs):
    """A warmed single-query ``grid_knn_multi`` with ``cell_counts`` (the
    serving shape) runs at most 2 Spark jobs — the pruned scan scored in one
    Arrow kernel, then the per-qid merge — and its plan has no join: the
    query's cells travel with the kernel, not through a (cell, qid) join."""
    import numpy as np
    from pyspark.sql import functions as F

    from raptor_service_spark.datagen import gen_query_vectors
    from raptor_service_spark.operators.knn import (
        build_ann_index,
        grid_knn_multi,
        plan_candidate_cells,
        write_ann_index,
    )

    dim, res, k = 16, 4, 3
    texts = spark.range(600).select(
        F.col("id").cast("string").alias("id"),
        F.concat(F.lit("span "), F.col("id").cast("string")).alias("text"),
    )
    write_ann_index(build_ann_index(texts, dim=dim, res=res), str(tmp_path / "index"))
    index = spark.read.parquet(str(tmp_path / "index"))
    counts = {
        r["ann_cell"]: r["n"]
        for r in index.groupBy("ann_cell").agg(F.count("*").alias("n")).collect()
    }
    warm, q = gen_query_vectors(seed=41, n=2, dim=dim)
    assert plan_candidate_cells(counts, q, k, res) is not None  # the pruned path

    def request(v):
        return grid_knn_multi(index, np.asarray(v)[None, :], ["q"], k, res=res, cell_counts=counts)

    request(warm).collect()
    rows, n = count_jobs(lambda: request(q).collect())
    assert len(rows) == k
    assert n <= 2
    assert "Join" not in request(q)._jdf.queryExecution().optimizedPlan().toString()
