"""kNN operators vs numpy oracles (SURVEY §2.3 J8)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from raptor_service_spark.datagen import gen_query_vectors
from raptor_service_spark.functions.vector import hash_embed_np
from raptor_service_spark.operators.knn import (
    brute_force_knn,
    brute_force_knn_multi,
    brute_force_knn_np,
    build_ann_index,
    grid_knn,
    grid_knn_multi,
    project_to_latlng_np,
    with_projected_cell,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(F.col("vec_id").cast("string").alias("id"), F.col("embedding").alias("v"), "label")
        .persist()
    )
    df.count()
    return df


@pytest.fixture(scope="module")
def emb_pd(emb):
    return emb.toPandas()


def _oracle_topk(pdf, q, k):
    mat = np.array(pdf.v.tolist(), dtype=np.float64)
    d = 1.0 - (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    out = pdf.assign(dist=d, dkey=np.round(d, 9))
    return out.sort_values(["dkey", "id"], key=None).head(k)


def test_brute_force_matches_oracle(emb, emb_pd):
    dim = len(emb_pd.v.iloc[0])
    for q in gen_query_vectors(seed=21, n=3, dim=dim):
        got = brute_force_knn(emb, q, 10, payload_cols=("label",)).toPandas()
        exp = _oracle_topk(emb_pd, q, 10)
        assert got.id.tolist() == exp.id.tolist()
        np.testing.assert_allclose(got.dist.values, exp.dist.values, rtol=1e-9)


def test_brute_force_multi_matches_single(emb, emb_pd):
    dim = len(emb_pd.v.iloc[0])
    qs = gen_query_vectors(seed=22, n=4, dim=dim)
    qids = [f"q{i}" for i in range(len(qs))]
    got = brute_force_knn_multi(emb, qs, qids, 7).toPandas()
    for i, q in enumerate(qs):
        sub = got[got.qid == f"q{i}"].sort_values("dist")
        exp = _oracle_topk(emb_pd, q, 7)
        assert sub.id.tolist() == exp.id.tolist()


def test_projection_deterministic(emb_pd):
    mat = np.array(emb_pd.v.tolist(), dtype=np.float64)
    a = project_to_latlng_np(mat)
    b = project_to_latlng_np(mat)
    assert (a[0] == b[0]).all() and (a[1] == b[1]).all()
    assert (np.abs(a[0]) < 90).all() and (np.abs(a[1]) < 180).all()


def test_projection_and_ann_cell_golden(spark):
    """Pins the seeded projection basis to literals recorded before the seed
    became a module constant. Every ANN oracle shares ``_projection_basis``,
    so a changed seed would move every stored index's cells while they all
    still pass; this test would not."""
    j = np.arange(64)
    vecs = np.stack([np.sin(j + 1.0), np.cos(3.0 * j), np.where(j % 5 == 0, -1.0, 0.25)])
    lat, lng = project_to_latlng_np(vecs)
    np.testing.assert_allclose(
        lat, [-36.55311963928043, 8.496608084833106, -0.582786989202797], rtol=1e-12
    )
    np.testing.assert_allclose(
        lng, [-10.696325495626489, 157.42514691444185, -157.05773672612074], rtol=1e-12
    )
    df = spark.createDataFrame(
        [(str(i), v.tolist()) for i, v in enumerate(vecs)], "id string, v array<double>"
    )
    cells = [r.ann_cell for r in with_projected_cell(df, res=4).orderBy("id").collect()]
    assert cells == [72057594037928007, 72057594037928078, 72057594037928049]


def test_grid_knn_recall_and_exactness(emb, emb_pd):
    dim = len(emb_pd.v.iloc[0])
    cellified = with_projected_cell(emb, res=4).persist()
    cellified.count()
    recalls = []
    for q in gen_query_vectors(seed=23, n=5, dim=dim):
        got = grid_knn(cellified, q, 10, res=4, payload_cols=("label",)).toPandas()
        assert len(got) == 10
        assert (np.diff(np.round(got.dist.values, 9)) >= 0).all()
        exp = _oracle_topk(emb_pd, q, 10)
        recalls.append(len(set(got.id) & set(exp.id)) / 10)
    # ANN recall: projection buckets are coarse; expect decent recall on average
    assert np.mean(recalls) >= 0.5, f"mean recall too low: {recalls}"


def test_grid_knn_falls_back_when_sparse(emb, spark):
    # tiny table: ring expansion cannot reach target -> full-scan fallback == exact
    small = emb.limit(12).persist()
    pdf = small.toPandas()
    dim = len(pdf.v.iloc[0])
    cellified = with_projected_cell(small, res=6)
    q = gen_query_vectors(seed=24, n=1, dim=dim)[0]
    got = grid_knn(cellified, q, 5, res=6).toPandas()
    exp = _oracle_topk(pdf, q, 5)
    assert got.id.tolist() == exp.id.tolist()


@pytest.mark.parametrize("bad", ["zero", "nan"])
def test_degenerate_query_raises_before_any_job(emb, emb_pd, bad, count_jobs):
    """An all-zero or non-finite query has no cosine: every kernel raises
    ValueError on the driver instead of failing a task (DIVIDE_BY_ZERO under
    ANSI) or ranking NaN distances. The multi-query kernels check every row."""
    dim = len(emb_pd.v.iloc[0])
    good = gen_query_vectors(seed=25, n=1, dim=dim)[0]
    q = np.zeros(dim) if bad == "zero" else np.where(np.arange(dim) == 3, np.nan, good)
    qs = np.stack([good, q])
    index = build_ann_index(emb.select("id", F.lit("t").alias("text")), dim=dim)
    mat = np.array(emb_pd.v.tolist(), dtype=np.float64)
    calls = [
        lambda: brute_force_knn(emb, q, 5).collect(),
        lambda: grid_knn(with_projected_cell(emb, res=4), q, 5, res=4).collect(),
        lambda: brute_force_knn_multi(emb, qs, ["g", "b"], 5).collect(),
        lambda: grid_knn_multi(index, qs, ["g", "b"], 5, res=4, cell_counts={}).collect(),
        lambda: brute_force_knn_np(mat, emb_pd.id.to_numpy(), q, 5),
    ]

    def run():
        for call in calls:
            with pytest.raises(ValueError, match="finite and not all-zero"):
                call()

    assert count_jobs(run)[1] == 0


def test_brute_force_np_matches_spark(emb, emb_pd):
    """The numpy twin returns brute_force_knn's ids in its order."""
    dim = len(emb_pd.v.iloc[0])
    mat = np.array(emb_pd.v.tolist(), dtype=np.float64)
    ids = emb_pd.id.to_numpy()
    for q in gen_query_vectors(seed=26, n=3, dim=dim):
        got = ids[brute_force_knn_np(mat, ids, q, 25)].tolist()
        assert got == [r.id for r in brute_force_knn(emb, q, 25).collect()]


def test_multi_kernels_keep_round9_ties(spark):
    """Rows ``b`` and ``a`` hold the same vector and tie for the nearest
    neighbour. Both multi-query kernels rank by (round(dist, 9), id), so with
    k=1 the answer is ``a``; a per-batch cut to exactly k rows that keeps
    ``b`` (first in the batch) loses it before the merge."""
    dim = 16
    texts = ["tie", "tie", "far away", "other words"]
    mat = hash_embed_np(texts, dim)
    rows = [("b", "tie"), ("a", "tie"), ("c", "far away"), ("d", "other words")]
    q = mat[0]

    vecs = spark.createDataFrame(
        [(i, v.tolist()) for (i, _), v in zip(rows, mat)], "id string, v array<float>"
    ).coalesce(1)
    got = brute_force_knn_multi(vecs, q[None, :], ["q"], 1).collect()
    assert [r.id for r in got] == ["a"]

    index = build_ann_index(
        spark.createDataFrame(rows, "id string, text string").coalesce(1), dim=dim
    ).persist()
    cells = {r.ann_cell for r in index.select("ann_cell").distinct().collect()}
    for counts in ({}, {c: 10**6 for c in cells}):  # full scan, then planned cells
        got = grid_knn_multi(index, q[None, :], ["q"], 1, cell_counts=counts).collect()
        assert [r.id for r in got] == ["a"]
    index.unpersist()
