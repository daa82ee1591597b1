"""Round-3 graph/ML operators (ppr, lpa, hits already covered via oracles;
here: pure-Python cross-checks and structural invariants that the SQL
oracles cannot express — known-community recovery, probability-mass
conservation, silhouette bounds, HLL accuracy on a large domain."""
from __future__ import annotations

import math

import numpy as np
import pytest

from raptor_service_spark.operators.cell_graph import hits, lpa, ppr


def _edges_df(spark, rows, weighted=False):
    if weighted:
        return spark.createDataFrame(rows, "src long, dst long, w double")
    return spark.createDataFrame(rows, "src long, dst long")


def test_lpa_recovers_two_cliques(spark):
    """Two 5-cliques joined by one bridge edge: LPA must label each clique
    with its own min node id (the bridge cannot outvote 4 clique votes)."""
    c1 = [(a, b) for a in range(5) for b in range(5) if a < b]
    c2 = [(a, b) for a in range(10, 15) for b in range(10, 15) if a < b]
    bridge = [(4, 10)]
    e = _edges_df(spark, c1 + c2 + bridge)
    out = {r.cell: r.label for r in lpa(e, n_iters=4, src="src", dst="dst").collect()}
    assert {out[v] for v in range(4)} == {0}
    assert {out[v] for v in range(11, 15)} == {10}
    sizes = {
        r.label: r.n_members
        for r in lpa(e, n_iters=4, src="src", dst="dst")
        .select("label", "n_members")
        .distinct()
        .collect()
    }
    assert sum(sizes.values()) == 10


def test_lpa_deterministic_across_partitionings(spark):
    rng = np.random.default_rng(7)
    rows = [
        (int(a), int(b))
        for a, b in rng.integers(0, 40, size=(120, 2))
        if a != b
    ]
    e1 = _edges_df(spark, rows).repartition(1)
    e8 = _edges_df(spark, rows).repartition(8)
    r1 = sorted(map(tuple, lpa(e1, src="src", dst="dst").collect()))
    r8 = sorted(map(tuple, lpa(e8, src="src", dst="dst").collect()))
    assert r1 == r8


def _py_ppr(edges, seed, n_iters=5, d=0.85):
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    outw = {}
    for u, _, w in edges:
        outw[u] = outw.get(u, 0.0) + w
    pr = {v: (1.0 if v == seed else 0.0) for v in nodes}
    for _ in range(n_iters):
        inflow = {v: 0.0 for v in nodes}
        for u, v, w in edges:
            inflow[v] += pr[u] * w / outw[u]
        pr = {
            v: round((1 - d) * (1.0 if v == seed else 0.0) + d * inflow[v], 9)
            for v in nodes
        }
    return {v: round(p, 6) for v, p in pr.items()}


def test_ppr_matches_python_reference(spark):
    rng = np.random.default_rng(11)
    raw = {(int(a), int(b)) for a, b in rng.integers(0, 25, size=(90, 2)) if a != b}
    edges = [(a, b, float(1 + (a + b) % 3)) for a, b in sorted(raw)]
    got = {
        r.cell: r.pr
        for r in ppr(_edges_df(spark, edges, weighted=True), seed=3).collect()
    }
    want = _py_ppr(edges, seed=3)
    assert got == want


def test_ppr_seed_holds_restart_mass(spark):
    """On a star seed->leaves with no return edges, every round re-injects
    (1-d) at the seed; leaves only receive via the seed."""
    edges = [(0, i, 1.0) for i in range(1, 5)]
    got = {r.cell: r.pr for r in ppr(_edges_df(spark, edges, weighted=True), seed=0).collect()}
    assert got[0] == pytest.approx(0.15, abs=1e-6)
    for leaf in range(1, 5):
        assert got[leaf] == got[1]


def test_hits_star_shape(spark):
    """Star u0 -> {v1..v4}: u0 is the unique max hub (1.0), leaves are the
    equal max authorities (1.0), u0 has authority 0."""
    e = _edges_df(spark, [(0, i) for i in range(1, 5)])
    got = {r.cell: (r.auth, r.hub) for r in hits(e, n_iters=3).collect()}
    assert got[0] == (0.0, 1.0)
    for leaf in range(1, 5):
        assert got[leaf] == (1.0, 0.0)


def test_silhouette_well_separated_blobs(spark):
    """Two tight, far-apart blobs through the kmeans(k=2) + simplified
    silhouette path: mean silhouette must be ~1 for both clusters."""
    from raptor_service_spark.operators.clustering import kmeans_centroids

    import pyspark.sql.functions as F

    rows = [(i, 0.0 + (i % 3) * 0.01, 0.0 + (i // 3 % 3) * 0.01) for i in range(30)]
    rows += [(100 + i, 50.0 + (i % 3) * 0.01, 50.0 + (i // 3 % 3) * 0.01) for i in range(30)]
    pts = spark.createDataFrame(rows, "id long, x double, y double")
    cents = kmeans_centroids(pts, k=2, n_iters=3)
    assert len(cents) == 2
    (c0x, c0y), (c1x, c1y) = (cents[0][1], cents[0][2]), (cents[1][1], cents[1][2])
    # centroids land one per blob
    assert abs(c0x - c1x) > 40 or abs(c0y - c1y) > 40
    # simplified silhouette via the same formula the query uses
    d = pts.select(
        "id",
        F.sqrt((F.col("x") - c0x) ** 2 + (F.col("y") - c0y) ** 2).alias("d0"),
        F.sqrt((F.col("x") - c1x) ** 2 + (F.col("y") - c1y) ** 2).alias("d1"),
    )
    s = d.select(
        (
            (F.greatest("d0", "d1") - F.least("d0", "d1"))
            / F.greatest("d0", "d1")
        ).alias("s")
    ).agg(F.min("s")).collect()[0][0]
    assert s > 0.99


def test_hll_estimate_within_sketch_error(spark):
    """256 registers -> relative error ~1.04/sqrt(256) = 6.5%; on 50k
    distinct md5-hashed ids the estimate must land within 3 sigma (20%)."""
    import pyspark.sql.functions as F

    n = 50_000
    ids = spark.range(n).select(F.col("id").cast("string").alias("s"))
    h = F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("long")
    hashed = ids.select(h.alias("h")).selectExpr("h % 256 AS j", "h DIV 256 AS w")
    regs = (
        hashed.selectExpr(
            "j", "CASE WHEN w = 0 THEN 53 ELSE bit_count((w & -w) - 1) + 1 END AS rho"
        )
        .groupBy("j")
        .agg(F.max("rho").alias("m"))
        .collect()
    )
    m = {r.j: r.m for r in regs}
    s = sum(2.0 ** -m.get(j, 0) for j in range(256))
    alpha = 0.7213 / (1.0 + 1.079 / 256.0)
    est = alpha * 256.0 * 256.0 / s
    assert abs(est - n) / n < 0.20


def test_logreg_separates_synthetic_labels(spark):
    """Perfectly separable 1-D data: after GD the learned weight must give
    >95% training accuracy (sanity that the relational gradient descends)."""
    import pyspark.sql.functions as F

    rows = [(i, 1.0, -1.0 + 0.01 * i) for i in range(100)]  # x in [-1, 0)
    rows += [(100 + i, 1.0, 0.5 + 0.01 * i) for i in range(100)]  # x in [0.5, 1.5)
    df = spark.createDataFrame(rows, "id long, x0 double, x1 double").withColumn(
        "y", F.when(F.col("x1") > 0.2, 1.0).otherwise(0.0)
    )
    n = df.count()
    w = [0.0, 0.0]
    for _ in range(30):
        z = F.col("x0") * w[0] + F.col("x1") * w[1]
        p = 1.0 / (1.0 + F.exp(-z))
        g = df.select(
            F.sum((p - F.col("y")) * F.col("x0")).alias("g0"),
            F.sum((p - F.col("y")) * F.col("x1")).alias("g1"),
        ).collect()[0]
        w = [w[0] - 2.0 * g.g0 / n, w[1] - 2.0 * g.g1 / n]
    z = F.col("x0") * w[0] + F.col("x1") * w[1]
    acc = df.select(
        F.avg(
            F.when(((1.0 / (1.0 + F.exp(-z))) > 0.5) == (F.col("y") > 0.5), 1.0)
            .otherwise(0.0)
        )
    ).collect()[0][0]
    assert acc > 0.95


def test_polygon_metrics_unit_square():
    """Shoelace formulas on a literal unit square via DuckDB (the oracle
    engine): area 1, perimeter 4, centroid at the center — pinning the
    formula strings' correctness independent of the fixtures."""
    import duckdb
    import offpaper_queries as mod
    sql = mod._polygon_metrics_sql()
    # swap the fixture VALUES for a unit square (lat, lng) CCW
    start = sql.index("(VALUES")
    end = sql.index("),\n        pt AS")
    square = "(VALUES ('sq', [[0.0, 0.0], [0.0, 1.0], [1.0, 1.0], [1.0, 0.0]])"
    sql = sql[:start] + square + sql[end:]
    row = duckdb.sql(sql).fetchall()[0]
    assert row == ("sq", 4, 1.0, 4.0, 0.5, 0.5)
