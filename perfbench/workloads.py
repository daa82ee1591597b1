"""The two workloads: ``build`` (every write path) and ``serve`` (every
read path). Each has the same shape:

  load()      read and count the prepared input (repeated for setup_s)
  fixtures()  seeded per-run inputs, the references they are checked
              against, and the warm-up pass
  timed()     the closed loop: one client, one operation at a time, until
              ``seconds`` are used up; returns a Pass
  check()     compare every operation's output with its reference

Operations come in three kinds, ``a``, ``b`` and ``c``; BENCHMARK.json's
``op_a_p50_ms``, ``op_b_p50_ms`` and ``op_c_p50_ms`` are the medians of each
kind. README.md names them per workload."""

from __future__ import annotations

import json
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

import prepare as P
from common import dir_bytes, log, reset_dir
from reference import KnnReference, TreeReference, same_ranking, tree_level_groups
from tracing import FailureWatch, Tracer, TracingCatalog

from raptor_service_spark.datagen import gen_query_polygons, gen_query_vectors
from raptor_service_spark.functions.vector import embed_spans
from raptor_service_spark.geo.grid import cell_encode_col, cell_parent_col
from raptor_service_spark.io.catalog import SnapshotCatalog
from raptor_service_spark.operators.knn import grid_knn_multi
from raptor_service_spark.operators.pip_join import (
    point_in_polygon_join,
    point_in_polygon_join_bruteforce,
)
from raptor_service_spark.operators.retrieval import (
    collapsed_retrieve,
    traversal_retrieve,
)
from raptor_service_spark.operators.tree import (
    TileTree,
    TreeParams,
    build_tile_tree,
    build_tile_tree_checkpointed,
    ingest_incremental,
)

TREE_TABLES = ("tree_nodes", "tree_edges", "tree_links")
N_POLYS, KNN_TOP_K, PIP_RES = 8, 10, 6  # pipeline.py defaults


@dataclass
class Op:
    kind: str          # "a", "b" or "c"
    wall: float        # seconds
    out: object = None
    failed: bool = False


@dataclass
class Pass:
    ops: list[Op] = field(default_factory=list)
    info: dict = field(default_factory=dict)


class ClosedLoop:
    """One client: runs ``step(0)``, ``step(1)``, ... until the next step
    would overrun ``seconds`` (at least ``min_steps``, at most ``max_steps``),
    marking as failed every operation during which Spark saw a task fail or
    a stage retry."""

    def __init__(self, tracer: Tracer, watch: FailureWatch, seconds: float):
        self.tracer, self.watch, self.seconds = tracer, watch, seconds

    def run(self, step, min_steps: int, max_steps: int) -> Pass:
        res = Pass()
        t_start = time.perf_counter()
        n = 0
        while n < max_steps:
            t0 = time.perf_counter()
            first_span = len(self.tracer.spans)
            try:
                op = step(n)
            except Exception:
                log(traceback.format_exc())
                res.ops.append(Op("a", time.perf_counter() - t0, failed=True))
                break
            if self.watch.new_failures(s["id"] for s in self.tracer.spans[first_span:]):
                op.failed = True
            res.ops.append(op)
            n += 1
            spent = time.perf_counter() - t_start
            if n >= min_steps and spent + op.wall > self.seconds:
                break
        return res


def _tree_files(cat: SnapshotCatalog) -> int:
    """Parquet files the current snapshots of the tree tables read."""
    n = 0
    for t in TREE_TABLES:
        snaps = cat.snapshots(t)
        for d in snaps[-1]["files"] if snaps else []:
            n += sum(1 for f in Path(d).iterdir() if f.suffix == ".parquet")
    return n


# -------------------------------------------------------------------- build


class Build:
    """The write paths, in the order a deployment runs them over one corpus:
      a  index pass: grid encode, PIP join and the ANN index build + write
         (the first three legs of ``pipeline.run_measured_pipeline``)
      b  embed the spans into an embeddings table + checkpointed tile-tree
         build into a fresh SnapshotCatalog
      c  ``ingest_incremental`` of the next prepared delta into that tree
         (the same deltas in the same order on every seed, so ingest cost
         does not vary with the seed)"""

    def __init__(self, spark, meta, seed, run_dir, inputs):
        self.spark, self.meta, self.seed = spark, meta, seed
        self.run_dir, self.inputs = run_dir, inputs
        self.params = TreeParams(dim=P.DIM)

    def load(self):
        self.spans = self.spark.read.parquet(str(self.inputs / "spans"))
        self.deltas = [self.spark.read.parquet(str(self.inputs / f"delta_{i}"))
                       for i in range(P.DELTAS)]
        counts = [self.spans.count()] + [d.count() for d in self.deltas]
        if counts != [self.meta["spans"]] + self.meta["deltas"]:
            raise RuntimeError(f"prepared spans hold {counts} rows")

    def fixtures(self):
        polys = gen_query_polygons(seed=self.seed, n=N_POLYS)
        self.polys = {f"poly{i}": p for i, p in enumerate(polys)}
        # the brute-force cross-check runs an Arrow UDF on every partition,
        # which is also the warm-up: Python workers are up before timing
        self.want_hits = point_in_polygon_join_bruteforce(self.spans, self.polys).count()
        ref = np.load(self.inputs / "knn_ref.npz")
        cells, counts = np.unique(ref["cells"], return_counts=True)
        self.want_cells = dict(zip(cells.tolist(), counts.tolist()))
        ref = np.load(self.inputs / "tree_ref.npz")
        self.want_groups = tree_level_groups(ref["lat"], ref["lng"], self.params.res_ladder)
        self.refs = json.loads((self.inputs / "refs.json").read_text())

    def timed(self, tracer: Tracer, loop: ClosedLoop) -> Pass:
        root = reset_dir(self.run_dir / "build")
        cat = (TracingCatalog(str(root / "catalog"), self.spark, tracer) if tracer.enabled
               else SnapshotCatalog(str(root / "catalog"), self.spark))
        index_path, emb_path = str(root / "ann_index"), str(root / "embeddings")
        applied: list[int] = []

        def index_pass():
            with tracer.span("grid.encode"):
                enc = self.spans.withColumn(
                    "cell8", cell_encode_col(F.col("lat"), F.col("lng"), 8)
                ).withColumn("cell4", cell_parent_col(F.col("cell8"), 8, 4)).agg(
                    F.count("*").alias("n"), F.max("cell8"), F.max("cell4")
                ).collect()[0]
            with tracer.span("pip_join.join"):
                hits = point_in_polygon_join(self.spans, self.polys, res=PIP_RES).count()
            with tracer.span("knn.index"):
                P.write_index(self.spans, index_path)
            return enc["n"], hits

        def tree_build():
            with tracer.span("vector.embed"):
                embed_spans(self.spans, dim=P.DIM).write.parquet(emb_path)
            with tracer.tree_levels():
                tree = build_tile_tree_checkpointed(
                    self.spark.read.parquet(emb_path), self.params, catalog=cat)
            return tree.stats

        def ingest(d):
            with tracer.span("tree.ingest"):
                ingest_incremental(embed_spans(self.deltas[d], dim=P.DIM), cat, self.params)
            applied.append(d)
            return d

        def step(i):
            kind, fn, arg = (("a", index_pass, ()) if i == 0 else
                             ("b", tree_build, ()) if i == 1 else
                             ("c", ingest, (i - 2,)))
            t0 = time.perf_counter()
            out = fn(*arg)
            return Op(kind, time.perf_counter() - t0, out)

        res = loop.run(step, min_steps=3, max_steps=2 + P.DELTAS)
        res.info = {"catalog": cat, "applied": applied, "index": index_path}
        return res

    def _want_digest(self, applied: list[int]) -> dict:
        if len(applied) == 1:
            return self.refs[str(applied[0])]
        union = embed_spans(self.spans, dim=P.DIM)
        for d in applied:
            union = union.unionByName(embed_spans(self.deltas[d], dim=P.DIM))
        full = build_tile_tree(union, self.params)
        return P.tree_digest(full.nodes, full.edges, full.links)

    def _fail(self, op: Op, msg: str) -> None:
        op.failed = True
        log("build:", msg)

    def check(self, res: Pass) -> None:
        for op in res.ops:
            if op.failed:
                continue
            if op.kind == "a":
                n, hits = op.out
                if (n, hits) != (self.meta["spans"], self.want_hits):
                    self._fail(op, f"n_spans {n}, pip_hits {hits}, want "
                                   f"{self.meta['spans']}, {self.want_hits}")
                index = self.spark.read.parquet(res.info["index"])
                cells = {r["ann_cell"]: r["n"] for r in
                         index.groupBy("ann_cell").agg(F.count("*").alias("n")).collect()}
                if cells != self.want_cells:
                    self._fail(op, "ANN index cells differ from the reference embedding")
            elif op.kind == "b":
                groups = [s["groups"] for s in op.out]
                if groups != self.want_groups:
                    self._fail(op, f"level groups {groups}, want {self.want_groups}")
        ingests = [op for op in res.ops if op.kind == "c"]
        if not ingests or any(op.failed for op in res.ops):
            return
        got = P.tree_digest(*(res.info["catalog"].read(t) for t in TREE_TABLES))
        want = self._want_digest(res.info["applied"])
        if got != want:
            for op in ingests:
                self._fail(op, f"ingested tree {got} != full rebuild {want}")

    def layer_counts(self, res: Pass, layers: dict, spans: list[dict]) -> dict:
        out = {f"tree.L{i}.groups": 0 for i in (1, 2, 3)}
        for op in res.ops:
            if op.kind == "a" and op.out:
                out["pip_join.join.hits"] = op.out[1]
                out["knn.index.rows"] = op.out[0]
                out["knn.index.mb"] = dir_bytes(res.info["index"]) / 2**20
            if op.kind == "b" and op.out:
                for s in op.out:
                    if s["level"] <= 3:
                        out[f"tree.L{s['level']}.groups"] = s["groups"]
        ingest_ids = {s["id"] for s in spans if s["name"] == "tree.ingest"}
        written = leaves = 0
        for s in spans:
            if s["name"] == "catalog.commit" and s["parent"] in ingest_ids:
                written += s["counts"]["bytes"]
                if s["counts"]["table"] == "tree_nodes" and s["counts"]["level"] == 0:
                    leaves += s["counts"]["bytes"]
        out["tree.ingest.write_amp"] = written / leaves if leaves else 0.0
        out["catalog.tree_files"] = _tree_files(res.info["catalog"])
        return out


# -------------------------------------------------------------------- serve


class Serve:
    """The read paths, over a prepared ANN index and a prepared tree whose
    file layout is what a build plus an ingest leaves behind. One closed-loop
    client cycles through three requests, each with its own distinct seeded
    query vector:
      a  grid-compacted kNN search (``grid_knn_multi``, one query, with the
         index's occupancy histogram computed once in set-up, as a server
         would keep it)
      b  ``collapsed_retrieve``
      c  ``traversal_retrieve``"""

    n_requests = 400

    def __init__(self, spark, meta, seed, run_dir, inputs):
        self.spark, self.meta, self.seed = spark, meta, seed
        self.run_dir, self.inputs = run_dir, inputs

    def load(self):
        self.index = self.spark.read.parquet(str(self.inputs / "ann_index"))
        self.cat = SnapshotCatalog(str(self.inputs / "serve" / "catalog"), self.spark)
        nodes, edges, links = (self.cat.read(t) for t in TREE_TABLES)
        self.tree = TileTree(nodes=nodes, edges=edges, links=links)
        self.chunks = self.spark.read.parquet(str(self.inputs / "serve" / "chunks"))
        # the index is checked cell by cell in fixtures()
        counts = [self.chunks.count(), nodes.filter(F.col("level") == 0).count()]
        if counts != [self.meta["serve_chunks"]] * 2:
            raise RuntimeError(f"chunks, leaves = {counts}, want {self.meta['serve_chunks']}")

    def fixtures(self):
        ref = np.load(self.inputs / "knn_ref.npz")
        self.knn = KnnReference(ref["ids"], ref["vecs"], ref["cells"], P.KNN_RES)
        self.cell_counts = {
            r["ann_cell"]: r["n"]
            for r in self.index.groupBy("ann_cell").agg(F.count("*").alias("n")).collect()
        }
        if self.cell_counts != self.knn.counts:
            raise RuntimeError("prepared ANN index cells differ from the reference embedding")
        t = self.tree
        self.ref = TreeReference(
            t.nodes.select("node_id", "dataset_id", "kind", "v").toPandas(),
            t.edges.select("parent_id", "child_id").toPandas(),
            t.links.select("node_id", "chunk_id").toPandas(),
            self.chunks.select("chunk_id", "v").toPandas(),
            P.DATASET,
        )
        self.queries = gen_query_vectors(seed=self.seed, n=self.n_requests, dim=P.DIM)
        # warm-up: one request of each kind, with queries the timed loop
        # never sends
        for i, q in enumerate(gen_query_vectors(seed=2**32 - 1, n=3, dim=P.DIM)):
            self._request("abc"[i], q)

    def _request(self, kind: str, q) -> list[tuple[str, float]]:
        if kind == "a":
            rows = grid_knn_multi(self.index, q[None, :], ["q"], KNN_TOP_K, res=P.KNN_RES,
                                  cell_counts=self.cell_counts, vec_dtype="<f2").collect()
            return sorted(((r["id"], r["dist"]) for r in rows), key=lambda p: (p[1], p[0]))
        fn = collapsed_retrieve if kind == "b" else traversal_retrieve
        return [(r["chunk_id"], r["dist"])
                for r in fn(self.tree, self.chunks, q, P.DATASET).collect()]

    def timed(self, tracer: Tracer, loop: ClosedLoop) -> Pass:
        spans = {"a": "knn.search", "b": "retrieval.collapsed", "c": "retrieval.traversal"}

        def step(i):
            kind = "abc"[i % 3]
            t0 = time.perf_counter()
            with tracer.span(spans[kind]):
                rows = self._request(kind, self.queries[i])
            return Op(kind, time.perf_counter() - t0, (i, rows))

        return loop.run(step, min_steps=6, max_steps=self.n_requests)

    def check(self, res: Pass) -> None:
        hops = []
        for op in res.ops:
            if op.failed:
                continue
            i, got = op.out
            q = self.queries[i]
            if op.kind == "a":
                want = self.knn.query(q, KNN_TOP_K)
            elif op.kind == "b":
                want = self.ref.collapsed(q)
            else:
                want, h = self.ref.traversal(q)
                hops.append(h)
            if not same_ranking(got, want):
                op.failed = True
                log(f"serve: request {i} returned {[c for c, _ in got]}, "
                    f"want {[c for c, _ in want]}")
        res.info["hops"] = float(np.mean(hops)) if hops else 0.0

    def layer_counts(self, res: Pass, layers: dict, spans: list[dict]) -> dict:
        scanned = layers["knn.search._records_read"]
        knn_rows = sum(len(op.out[1]) for op in res.ops if op.kind == "a" and op.out)
        out = {"knn.search.rows_scanned": scanned,
               "knn.search.useful_frac": knn_rows / scanned if scanned else 0.0,
               "retrieval.traversal.hops": res.info.get("hops", 0.0),
               "catalog.tree_files": _tree_files(self.cat)}
        for kind, mode in (("b", "collapsed"), ("c", "traversal")):
            n = sum(1 for op in res.ops if op.kind == kind) or 1
            out[f"retrieval.{mode}.jobs_per_request"] = layers[f"retrieval.{mode}.jobs"] / n
            out[f"retrieval.{mode}.rows_scanned"] = (
                layers[f"retrieval.{mode}._records_read"] / n)
        return out


WORKLOADS = {"build": Build, "serve": Serve}
