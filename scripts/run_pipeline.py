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
SnapshotCatalog (--tree), (4) print one JSON line of metrics, including
per-stage wall and the catalog's per-commit lineage (snapshot log).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


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

    spans_path = os.path.join(args.workdir, f"spans_n{args.n_docs}_s{args.seed}")
    if not os.path.exists(os.path.join(spans_path, "_SUCCESS")):
        prepare_spans_table(spark, args.n_docs, spans_path, seed=args.seed)

    metrics = run_measured_pipeline(
        spark, spans_path, os.path.join(args.workdir, "ann_index"),
        seed=args.seed, dim=args.dim,
    )

    if args.tree:
        from pyspark.sql import functions as F

        from raptor_service_spark.functions.vector import embed_spans
        from raptor_service_spark.io.catalog import SnapshotCatalog
        from raptor_service_spark.operators.tree import (
            TreeParams,
            build_tile_tree_checkpointed,
        )

        cat = SnapshotCatalog(os.path.join(args.workdir, "catalog"), spark)
        spans = spark.read.parquet(spans_path)
        emb = embed_spans(
            spans.withColumn("dataset_id", F.lit(f"ds-{args.seed}")), dim=args.dim
        )
        tree = build_tile_tree_checkpointed(emb, TreeParams(dim=args.dim), catalog=cat,
                                            resume=args.resume)
        metrics["tree_levels"] = tree.levels
        metrics["tree_level_stats"] = tree.stats
        metrics["snapshot_lineage"] = cat.snapshots("tree_nodes")

    if args.ingest_delta:
        import time as _time

        from pyspark.sql import functions as F

        from raptor_service_spark.datagen import gen_documents_df
        from raptor_service_spark.functions.vector import embed_spans
        from raptor_service_spark.io.catalog import SnapshotCatalog
        from raptor_service_spark.operators.chunking import explode_spans
        from raptor_service_spark.operators.tree import TreeParams, ingest_incremental

        cat = SnapshotCatalog(os.path.join(args.workdir, "catalog"), spark)
        if not cat.exists("tree_nodes"):
            raise SystemExit("--ingest-delta needs a prior --tree run in this workdir")
        delta_docs = gen_documents_df(
            spark, args.ingest_delta, seed=args.seed + 1_000_000
        ).withColumn("dataset_id", F.lit(f"ds-{args.seed}"))
        delta = embed_spans(explode_spans(delta_docs), dim=args.dim)
        t0 = _time.perf_counter()
        tree = ingest_incremental(delta, cat, TreeParams(dim=args.dim))
        metrics["ingest_delta_docs"] = args.ingest_delta
        metrics["ingest_sec"] = round(_time.perf_counter() - t0, 3)
        metrics["tree_levels_after_ingest"] = tree.levels
        metrics["ingest_lineage_tail"] = cat.snapshots("tree_nodes")[-3:]

    print(json.dumps(metrics, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
