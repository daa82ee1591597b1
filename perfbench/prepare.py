"""Prepared inputs, generated once per checkout and cached under
``.perfbench/inputs-<key>``; the key hashes the engine's sources and this
module with the corpus parameters (see ``common.source_hash``).

``python3 perfbench/prepare.py`` builds them in a Spark session of its own,
so a measured run never starts in a JVM that preparation warmed up.

Contents:
  spans/               span table of the corpus every workload starts from
  knn_ref.npz          ids, packed ANN vectors and cells for the kNN reference
  tree_ref.npz         span lat/lng (the tree's level-group check)
  delta_<i>/           span tables of the ingest deltas (a pool of DELTAS)
  refs.json            digests of a full rebuild over the corpus plus each
                       single delta (the ingest invariant)
  ann_index/           the serve workload's ANN index over the corpus
  serve/catalog        tree_serve's tree: build + ingest of deltas SERVE_DELTAS
  serve/chunks/        embedded spans the served tree links to
  meta.json            span counts; written last, marks the cache complete
"""

from __future__ import annotations

import json
import shutil
import sys

import numpy as np

from common import ROOT, WORK_DIR, log, reset_dir, source_hash, start_spark, stop_spark

CORPUS_SEED = 77
CORPUS_DOCS = 1000    # ~14k spans
DELTA_DOCS = 50       # one ingest delta
DELTAS = 2            # pool of deltas tree_build ingests from
SERVE_DELTAS = (0,)   # deltas ingested into tree_serve's tree
DIM = 64
KNN_RES = 6
EMBED_ROUNDS = 8      # the measured pipeline's embed cost (pipeline.py)
SPAN_COLS = ("doc_id", "dataset_id", "idx", "chunk_id", "text", "lat", "lng")
DATASET = f"ds-{CORPUS_SEED}"
PARAMS = {
    "seed": CORPUS_SEED, "docs": CORPUS_DOCS,
    "delta_docs": DELTA_DOCS, "deltas": DELTAS, "serve": SERVE_DELTAS,
    "dim": DIM, "knn_res": KNN_RES, "rounds": EMBED_ROUNDS,
}


def delta_seed(i: int) -> int:
    return CORPUS_SEED * 1000 + i


def inputs_dir():
    return WORK_DIR / f"inputs-{source_hash(PARAMS)}"


def tree_digest(nodes, edges, links) -> dict:
    """Order-free digest of a tree's tables: row count + sum of row hashes."""
    from pyspark.sql import functions as F

    def one(df, cols):
        r = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
            F.count("*").alias("n"), F.sum("h").alias("s")).collect()[0]
        return f"{r['n']}:{r['s']}"

    return {
        "nodes": one(nodes, ["node_id", "level", "kind", "cell", "text", "v"]),
        "edges": one(edges, ["parent_id", "child_id"]),
        "links": one(links, ["node_id", "chunk_id", "rank"]),
    }


def write_index(spans, path: str) -> None:
    """The measured pipeline's ANN index build (pipeline.py leg 3), written
    with ``write_ann_index``'s default narrow layout."""
    from raptor_service_spark.operators.knn import build_ann_index, write_ann_index

    write_ann_index(
        build_ann_index(spans, text_col="text", id_col="chunk_id", dim=DIM, res=KNN_RES,
                        rounds=EMBED_ROUNDS, vec_dtype="<f2"),
        path)


def _span_table(spark, n_docs: int, seed: int, path) -> int:
    from pyspark.sql import functions as F

    from raptor_service_spark.datagen import gen_documents_df
    from raptor_service_spark.operators.chunking import explode_spans

    docs = gen_documents_df(spark, n_docs, seed=seed).withColumn(
        "dataset_id", F.lit(DATASET))
    explode_spans(docs).select(*SPAN_COLS).write.parquet(str(path))
    return spark.read.parquet(str(path)).count()


def _expected_spans(n_docs: int, seed: int) -> int:
    from raptor_service_spark.datagen import gen_documents_local

    return int(gen_documents_local(n_docs, seed=seed)["spans"].map(len).sum())


def load_meta() -> dict | None:
    path = inputs_dir() / "meta.json"
    return json.loads(path.read_text()) if path.exists() else None


def ensure_inputs(spark) -> dict:
    """Build every workload's prepared input once; returns meta.json."""
    from raptor_service_spark.functions.vector import embed_spans, hash_embed_np
    from raptor_service_spark.geo.grid import cell_encode_np
    from raptor_service_spark.io.catalog import SnapshotCatalog
    from raptor_service_spark.operators.knn import project_to_latlng_np
    from raptor_service_spark.operators.tree import (
        TreeParams,
        build_tile_tree,
        build_tile_tree_checkpointed,
        ingest_incremental,
    )

    final = inputs_dir()
    meta = load_meta()
    if meta is not None:
        return meta
    # catalogs record absolute file paths, so inputs are built in place;
    # meta.json, written last, marks them complete
    for old in WORK_DIR.glob("inputs-*"):
        shutil.rmtree(old, ignore_errors=True)
    out = final
    out.mkdir(parents=True)
    log("preparing inputs in", final.name)

    meta = {"params": PARAMS}
    meta["spans"] = _span_table(spark, CORPUS_DOCS, CORPUS_SEED, out / "spans")
    meta["deltas"] = [
        _span_table(spark, DELTA_DOCS, delta_seed(i), out / f"delta_{i}")
        for i in range(DELTAS)
    ]
    expected = _expected_spans(CORPUS_DOCS, CORPUS_SEED)
    if meta["spans"] != expected:
        raise RuntimeError(f"span table holds {meta['spans']} rows; "
                           f"the corpus generator says {expected}")

    sp = spark.read.parquet(str(out / "spans")).select("chunk_id", "text", "lat", "lng")
    sp = sp.toPandas()
    mat = hash_embed_np(sp["text"], DIM, rounds=EMBED_ROUNDS)
    lat, lng = project_to_latlng_np(mat)
    np.savez(out / "knn_ref.npz", ids=sp["chunk_id"].to_numpy(dtype=str),
             vecs=np.ascontiguousarray(mat, dtype="<f2"),
             cells=cell_encode_np(lat, lng, KNN_RES).astype(np.int64))
    np.savez(out / "tree_ref.npz", lat=sp["lat"].to_numpy(), lng=sp["lng"].to_numpy())

    write_index(spark.read.parquet(str(out / "spans")), str(out / "ann_index"))

    params = TreeParams(dim=DIM)
    base = embed_spans(spark.read.parquet(str(out / "spans")), dim=DIM)
    deltas = [embed_spans(spark.read.parquet(str(out / f"delta_{i}")), dim=DIM)
              for i in range(DELTAS)]
    refs = {}
    for i, d in enumerate(deltas):
        full = build_tile_tree(base.unionByName(d), params)
        refs[str(i)] = tree_digest(full.nodes, full.edges, full.links)
        spark.catalog.clearCache()  # the in-memory build persists every level
        log(f"reference rebuild with delta {i}: {refs[str(i)]['nodes']}")
    (out / "refs.json").write_text(json.dumps(refs))

    chunks = base
    for i in SERVE_DELTAS:
        chunks = chunks.unionByName(deltas[i])
    chunks.write.parquet(str(out / "serve" / "chunks"))
    cat = SnapshotCatalog(str(out / "serve" / "catalog"), spark)
    build_tile_tree_checkpointed(base, params, catalog=cat)
    for i in SERVE_DELTAS:
        ingest_incremental(deltas[i], cat, params)
    meta["serve_chunks"] = spark.read.parquet(str(out / "serve" / "chunks")).count()

    (out / "meta.json").write_text(json.dumps(meta))
    return meta


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    scratch = reset_dir(WORK_DIR / "prepare")
    session = start_spark(scratch)
    try:
        ensure_inputs(session)
    finally:
        stop_spark(session)
        shutil.rmtree(scratch)
