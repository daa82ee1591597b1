#!/usr/bin/env python
"""Cluster launcher for the span pipeline (north_rule: spark-submit --py-files).

Package the library, then submit — the SAME entry runs on a real cluster and
in local mode; only --master (and executor confs) change:

    zip -qr /tmp/raptor_service_spark.zip raptor_service_spark
    spark-submit --master local[32] \
        --py-files /tmp/raptor_service_spark.zip \
        scripts/run_pipeline.py --n-docs 800000 --workdir /tmp/pipeline_run

    # cluster form (unchanged code):
    spark-submit --master yarn --deploy-mode cluster \
        --num-executors 250 --executor-cores 4 \
        --py-files raptor_service_spark.zip \
        scripts/run_pipeline.py --n-docs 1000000000 --workdir s3://.../run1

Steps: (1) prepare the interleaved span table if absent, (2) run the measured
engine phase (grid encode + PIP join + ANN index build + grid-compacted kNN),
(3) optionally build the checkpoint-resumable tile tree into a
SnapshotCatalog (--tree) and/or ingest a delta into it (--ingest-delta),
each followed by one collapsed and one traversal request over the tree it
leaves behind (top chunk ids, wall ms and Spark jobs per request; the first
request also loads the tree head), (4) print one JSON line of metrics,
including per-stage wall and the catalog's per-commit lineage (snapshot log).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def probe_retrieval(spark, tree, chunks, dataset_id: str, dim: int, seed: int, tag: str) -> dict:
    """One collapsed and one traversal request over ``tree``."""
    from raptor_service_spark.datagen import gen_query_vectors
    from raptor_service_spark.operators.retrieval import (
        collapsed_retrieve,
        traversal_retrieve,
    )

    q = gen_query_vectors(seed=seed, n=1, dim=dim)[0]
    sc = spark.sparkContext
    out = {}
    for mode, fn in (("collapsed", collapsed_retrieve), ("traversal", traversal_retrieve)):
        group = f"run-pipeline-{tag}-{mode}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            rows = fn(tree, chunks, q, dataset_id).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        out[mode] = {
            "top_chunk_ids": [r.chunk_id for r in rows],
            "ms": round((time.perf_counter() - t0) * 1000, 1),
            "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=100000)
    ap.add_argument("--seed", type=int, default=77)
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--workdir", default="/tmp/spark_graft_pipeline")
    ap.add_argument("--tree", action="store_true", help="also build the tile tree (checkpointed)")
    ap.add_argument("--resume", action="store_true", help="resume tree build from catalog snapshots")
    ap.add_argument(
        "--ingest-delta", type=int, default=0, metavar="N",
        help="after the tree exists in the workdir catalog, incrementally "
             "ingest N new docs (only their dirty level-1 cells recompute)",
    )
    args = ap.parse_args()

    from raptor_service_spark.pipeline import prepare_spans_table, run_measured_pipeline
    from raptor_service_spark.session import get_spark

    # spark-submit owns the master; bare `python` runs fall back to local[N]
    spark = get_spark("raptor-span-pipeline")
    spark.sparkContext.setLogLevel("WARN")

    catalog_path = os.path.join(args.workdir, "catalog")
    if args.tree and not args.resume:
        from raptor_service_spark.io.catalog import SnapshotCatalog

        if SnapshotCatalog(catalog_path, spark).exists("tree_nodes"):
            raise SystemExit(
                f"{catalog_path} already holds a tree: pass --resume to continue it, "
                "or use a fresh --workdir"
            )

    spans_path = os.path.join(args.workdir, f"spans_n{args.n_docs}_s{args.seed}")
    if not os.path.exists(os.path.join(spans_path, "_SUCCESS")):
        prepare_spans_table(spark, args.n_docs, spans_path, seed=args.seed)

    metrics = run_measured_pipeline(
        spark, spans_path, os.path.join(args.workdir, "ann_index"),
        seed=args.seed, dim=args.dim,
    )

    from pyspark.sql import functions as F

    from raptor_service_spark.functions.vector import embed_spans

    dataset_id = f"ds-{args.seed}"
    emb = embed_spans(
        spark.read.parquet(spans_path).withColumn("dataset_id", F.lit(dataset_id)),
        dim=args.dim,
    )
    chunk_cols = ("chunk_id", "doc_id", "idx", "text", "v")

    if args.tree:
        from raptor_service_spark.io.catalog import SnapshotCatalog
        from raptor_service_spark.operators.tree import (
            TreeParams,
            build_tile_tree_checkpointed,
        )

        cat = SnapshotCatalog(catalog_path, spark)
        tree = build_tile_tree_checkpointed(emb, TreeParams(dim=args.dim), catalog=cat,
                                            resume=args.resume)
        metrics["tree_levels"] = tree.levels
        metrics["tree_level_stats"] = tree.stats
        metrics["snapshot_lineage"] = cat.snapshots("tree_nodes")
        metrics["retrieval"] = probe_retrieval(
            spark, tree, emb.select(*chunk_cols), dataset_id, args.dim, args.seed, "tree"
        )

    if args.ingest_delta:
        from raptor_service_spark.datagen import gen_documents_df
        from raptor_service_spark.io.catalog import SnapshotCatalog
        from raptor_service_spark.operators.chunking import explode_spans
        from raptor_service_spark.operators.tree import TreeParams, ingest_incremental

        cat = SnapshotCatalog(catalog_path, spark)
        if not cat.exists("tree_nodes"):
            raise SystemExit("--ingest-delta needs a prior --tree run in this workdir")
        delta_docs = gen_documents_df(
            spark, args.ingest_delta, seed=args.seed + 1_000_000
        ).withColumn("dataset_id", F.lit(dataset_id))
        delta = embed_spans(explode_spans(delta_docs), dim=args.dim)
        t0 = time.perf_counter()
        tree = ingest_incremental(delta, cat, TreeParams(dim=args.dim))
        metrics["ingest_delta_docs"] = args.ingest_delta
        metrics["ingest_sec"] = round(time.perf_counter() - t0, 3)
        metrics["tree_levels_after_ingest"] = tree.levels
        metrics["tree_level_stats_after_ingest"] = tree.stats
        metrics["ingest_lineage_tail"] = cat.snapshots("tree_nodes")[-3:]
        metrics["retrieval_after_ingest"] = probe_retrieval(
            spark, tree, emb.select(*chunk_cols).unionByName(delta.select(*chunk_cols)),
            dataset_id, args.dim, args.seed, "ingest",
        )

    print(json.dumps(metrics, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
