"""Round-3 batch-5/6 invariants the SQL oracles can't express: Markov
attribution against a closed-form chain, eccentricity on a known lattice,
and t-closeness bounds."""
from __future__ import annotations

import numpy as np
import pytest


def test_markov_solve_closed_form():
    """Hand-built chain: start -> A (1.0); A -> conv 0.5, A -> B 0.5;
    B -> conv 1.0. V(start) = 1.0; removing B: A -> conv 0.5 only, so
    V^(-B) = 0.5 and removal_effect(B) = 0.5."""
    import offpaper_queries as mod
    p = {
        ("start", "click"): 1.0,
        ("click", "conv"): 0.5,
        ("click", "view"): 0.5,
        ("view", "conv"): 1.0,
    }
    states = ["start"] + mod._MKV_CHANNELS

    def solve(excluded):
        v = {s: 0.0 for s in states}
        for _ in range(mod._MKV_ROUNDS):
            nv = {}
            for s in states:
                if s == excluded:
                    continue
                acc = p.get((s, "conv"), 0.0)
                for c in mod._MKV_CHANNELS:
                    if c != excluded:
                        acc += p.get((s, c), 0.0) * v[c]
                nv[s] = float(mod._round_half_up(acc, 9))
            for s in states:
                v[s] = nv.get(s, 0.0)
        return v["start"]

    assert solve(None) == pytest.approx(1.0, abs=1e-9)
    assert solve("view") == pytest.approx(0.5, abs=1e-9)
    assert solve("click") == pytest.approx(0.0, abs=1e-9)


def test_bfs_eccentricity_line_graph(spark):
    """A 1×10 line of occupied cells: eccentricity from one end is 9 and
    the reached set is the whole line."""
    from raptor_service_spark.geo.grid import RES_MULTIPLIER
    from raptor_service_spark.operators.cell_graph import bfs_hops

    res, n = 5, 2**5
    base = res * RES_MULTIPLIER
    # row y=3, x = 5..14 (no wrap involvement)
    cells = [(base + 3 * n + x,) for x in range(5, 15)]
    occ = spark.createDataFrame(cells, "cell long")
    h = bfs_hops(occ, cells[0][0], res=res, max_hops=12)
    rows = {r.cell: r.hops for r in h.collect()}
    assert len(rows) == 10
    assert max(rows.values()) == 9


def test_tvd_bounds_and_uniform_zero(spark):
    """t-closeness TVD is 0 when a cell's distribution equals the global
    one, and ≤ 1 always — checked via the same formula on literals."""
    import pyspark.sql.functions as F

    rows = [("c1", "en", 4), ("c1", "de", 4), ("c2", "en", 8)]
    df = spark.createDataFrame(rows, "cell string, lang string, c long")
    tot = df.agg(F.sum("c").alias("n")).collect()[0]["n"]
    gl = df.groupBy("lang").agg((F.sum("c") / tot).alias("gp"))
    k = df.groupBy("cell").agg(F.sum("c").alias("k"))
    dense = (
        k.crossJoin(gl)
        .join(df, ["cell", "lang"], "left")
        .withColumn(
            "term",
            F.abs(F.coalesce("c", F.lit(0)) / F.col("k") - F.col("gp")),
        )
    )
    tvd = {
        r.cell: r.tvd
        for r in dense.groupBy("cell")
        .agg((F.lit(0.5) * F.sum("term")).alias("tvd"))
        .collect()
    }
    # global: en 12/16 = .75, de 4/16 = .25; c1 is 50/50 -> tvd = .25
    assert tvd["c1"] == pytest.approx(0.25)
    assert tvd["c2"] == pytest.approx(0.25)
    assert all(0.0 <= v <= 1.0 for v in tvd.values())


def test_sector_rule_partitions_plane():
    """The trig-free 4-sector rule: every nonzero (dx, dy) lands in exactly
    one sector, and known bearings land where they should."""
    c = 0.4142135623730951

    def sector(dx, dy):
        if abs(dy) <= abs(dx) * c:
            return 0
        if abs(dx) <= abs(dy) * c:
            return 2
        return 1 if dx * dy > 0 else 3

    assert sector(1, 0) == 0  # due east
    assert sector(0, 1) == 2  # due north
    assert sector(1, 1) == 1  # NE
    assert sector(-1, 1) == 3  # NW
    assert sector(1, 0.9) == 1  # 42° -> NE sector (within 22.5° of 45°)
    rng = np.random.default_rng(3)
    for dx, dy in rng.normal(size=(500, 2)):
        if dx == 0 and dy == 0:
            continue
        assert sector(dx, dy) in (0, 1, 2, 3)
        # antisymmetric pairs share a sector (undirected bearing)
        assert sector(dx, dy) == sector(-dx, -dy)
