"""Grid index determinism + PIP correctness (FIXTURES.md §7 test_geo).

Mirrors the role of the reference's clustering tests — cluster assignment is
replaced by grid-cell assignment, which must be deterministic and
hierarchy-consistent (SURVEY.md §2.10).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from raptor_service_spark.geo import (
    cell_bounds_np,
    cell_encode_col,
    cell_encode_np,
    cell_encode_sql,
    cell_parent_col,
    cell_parent_np,
    cell_parent_sql,
    cell_res_np,
    cell_xy_np,
    children_np,
    kring_np,
    points_in_polygon_np,
    polyfill,
)

RNG = np.random.default_rng(42)
LAT = RNG.uniform(-89.9, 89.9, 2000)
LNG = RNG.uniform(-179.9, 179.9, 2000)


def test_encode_roundtrip_bounds():
    for res in (0, 1, 5, 8, 12, 26):
        cells = cell_encode_np(LAT, LNG, res)
        assert (cell_res_np(cells) == res).all()
        lat_lo, lat_hi, lng_lo, lng_hi = cell_bounds_np(cells)
        assert ((LAT >= lat_lo) & (LAT <= lat_hi)).all()
        assert ((LNG >= lng_lo) & (LNG <= lng_hi)).all()


def test_parent_consistency():
    fine = cell_encode_np(LAT, LNG, 10)
    for pres in (9, 5, 0):
        direct = cell_encode_np(LAT, LNG, pres)
        via_parent = cell_parent_np(fine, pres)
        assert (direct == via_parent).all()


def test_children_inverse_of_parent():
    cells = cell_encode_np(LAT[:50], LNG[:50], 7)
    kids = children_np(cells)
    assert kids.shape == (50, 4)
    for j in range(4):
        assert (cell_parent_np(kids[:, j], 7) == cells).all()


def test_kring_counts_and_membership():
    c = int(cell_encode_np([10.0], [20.0], 8)[0])
    ring0 = kring_np(c, 0)
    assert list(ring0) == [c]
    ring2 = kring_np(c, 2)
    assert len(ring2) == 25  # interior cell: full 5x5 block
    assert c in ring2
    # pole clamp: cell at max y has truncated ring
    cpole = int(cell_encode_np([89.99], [0.0], 8)[0])
    assert len(kring_np(cpole, 1)) == 6


def test_spark_numpy_duckdb_encode_parity(spark):
    """The same formula in numpy, Spark codegen, and DuckDB SQL must agree."""
    import pandas as pd

    pdf = pd.DataFrame({"lat": LAT[:500], "lng": LNG[:500]})
    np_cells = cell_encode_np(pdf.lat.values, pdf.lng.values, 9)
    np_parents = cell_parent_np(np_cells, 4)

    sdf = spark.createDataFrame(pdf)
    got = (
        sdf.select(
            cell_encode_col(sdf.lat, sdf.lng, 9).alias("cell"),
        )
        .withColumn("parent", cell_parent_col("cell", 9, 4))
        .toPandas()
    )
    assert (got.cell.values == np_cells).all()
    assert (got.parent.values == np_parents).all()

    con = duckdb.connect()
    con.register("pts", pdf)
    sql_cell = cell_encode_sql("lat", "lng", 9)
    sql_parent = cell_parent_sql(sql_cell, 9, 4)
    duck = con.execute(f"SELECT {sql_cell} AS cell, {sql_parent} AS parent FROM pts").df()
    assert (duck.cell.values == np_cells).all()
    assert (duck.parent.values == np_parents).all()


SQUARE = np.array([[0.0, 0.0], [0.0, 10.0], [10.0, 10.0], [10.0, 0.0]])
TRIANGLE = np.array([[0.0, 0.0], [20.0, 10.0], [0.0, 20.0]])


def test_pip_square():
    lat = np.array([5.0, 15.0, -1.0, 9.99, 5.0])
    lng = np.array([5.0, 5.0, 5.0, 9.99, 15.0])
    got = points_in_polygon_np(lat, lng, SQUARE)
    assert list(got) == [True, False, False, True, False]


def test_pip_matches_matplotlib_free_oracle():
    """Cross-check ray casting against a sign-of-cross-product convex oracle."""
    lat = RNG.uniform(-5, 25, 5000)
    lng = RNG.uniform(-5, 25, 5000)
    got = points_in_polygon_np(lat, lng, TRIANGLE)
    # convex polygon (CCW as listed): inside iff all cross products >= 0
    pts = np.stack([lng, lat], axis=1)
    poly = np.stack([TRIANGLE[:, 1], TRIANGLE[:, 0]], axis=1)
    sides = []
    for i in range(len(poly)):
        a, b = poly[i], poly[(i + 1) % len(poly)]
        sides.append((b[0] - a[0]) * (pts[:, 1] - a[1]) - (b[1] - a[1]) * (pts[:, 0] - a[0]))
    sides = np.stack(sides, axis=1)
    oracle = (sides > 0).all(axis=1) | (sides < 0).all(axis=1)
    # exclude points exactly on an edge (measure-zero; float-ambiguous)
    ambiguous = np.isclose(sides, 0.0).any(axis=1)
    assert (got[~ambiguous] == oracle[~ambiguous]).all()


def test_polyfill_superset_complete_and_interior_exact():
    cells, is_boundary = polyfill(TRIANGLE, 6)
    assert len(cells) > 0
    # every random point inside the polygon must land in a polyfill cell
    lat = RNG.uniform(-5, 25, 3000)
    lng = RNG.uniform(-5, 25, 3000)
    inside = points_in_polygon_np(lat, lng, TRIANGLE)
    pt_cells = cell_encode_np(lat, lng, 6)
    cellset = set(cells.tolist())
    assert all(c in cellset for c in pt_cells[inside].tolist())
    # non-boundary cells: all four corners inside polygon
    interior = cells[~is_boundary]
    if len(interior):
        lat_lo, lat_hi, lng_lo, lng_hi = cell_bounds_np(interior)
        for clat, clng in [(lat_lo, lng_lo), (lat_hi, lng_hi), (lat_lo, lng_hi), (lat_hi, lng_lo)]:
            assert points_in_polygon_np(clat, clng, TRIANGLE).all()


def test_polyfill_interior_points_skip_exact_test():
    """Points in non-boundary cells are inside the polygon — no exact test needed."""
    cells, is_boundary = polyfill(SQUARE, 7)
    interior = set(cells[~is_boundary].tolist())
    lat = RNG.uniform(-2, 12, 4000)
    lng = RNG.uniform(-2, 12, 4000)
    pt_cells = cell_encode_np(lat, lng, 7)
    claim = np.array([c in interior for c in pt_cells.tolist()])
    truth = points_in_polygon_np(lat, lng, SQUARE)
    assert truth[claim].all()


def test_res_out_of_range():
    with pytest.raises(ValueError):
        cell_encode_np([0.0], [0.0], 27)


def test_xy_decode():
    cells = cell_encode_np(LAT[:100], LNG[:100], 11)
    res, x, y = cell_xy_np(cells)
    recon = res * 2**54 + y * (np.int64(1) << 11) + x
    assert (recon == cells).all()


def test_hilbert_bijection_and_adjacency(spark):
    """Exhaustive order-4 check of the shared-arithmetic Hilbert encode: the
    256 cells map to a permutation of 0..255 AND every consecutive pair of
    codes is a grid-adjacent cell (Manhattan distance 1) — the locality
    property Morton lacks and the reason the layout audit exists."""
    from raptor_service_spark.geo.hilbert import hilbert_withcolumns

    n = 16
    pdf = spark.createDataFrame(
        [(i % n, i // n) for i in range(n * n)], "x int, y int"
    )
    rows = hilbert_withcolumns(pdf, 4).orderBy("hd").collect()
    codes = [r.hd for r in rows]
    assert sorted(codes) == list(range(n * n))
    for a, b in zip(rows, rows[1:]):
        assert abs(a.x - b.x) + abs(a.y - b.y) == 1


def test_hilbert_spark_duckdb_parity(spark):
    """Same codes from the Spark column chain and the DuckDB CTE chain."""
    from raptor_service_spark.geo.hilbert import hilbert_sql_chain, hilbert_withcolumns

    n = 32
    pdf = spark.createDataFrame(
        [(i % n, (i * 7) % n) for i in range(n * n)], "x int, y int"
    )
    got = {
        (r.x, r.y): r.hd for r in hilbert_withcolumns(pdf, 5).collect()
    }
    chain = hilbert_sql_chain(
        5, f"(SELECT (i % {n}) AS x, ((i * 7) % {n}) AS y FROM range({n * n}) t(i))"
    )
    want = {
        (x, y): hd
        for x, y, hd in duckdb.sql(f"WITH {chain} SELECT x, y, hd FROM h").fetchall()
    }
    assert got == want


def test_hex_binning_nearest_center_property(spark):
    """Each point's assigned hex center is at least as close as all six
    1-ring neighbor centers — the defining Voronoi property of hex binning
    (checked with a strict margin to dodge float-ambiguous boundaries)."""
    from raptor_service_spark.geo.hexgrid import hex_withcolumns

    size = 0.5
    pdf = spark.createDataFrame(
        [
            (((i * 2654435761) % 100000) / 2500.0 - 20, ((i * 40503) % 100000) / 2500.0 - 20)
            for i in range(4000)
        ],
        "x double, y double",
    )
    rows = hex_withcolumns(pdf, size, "x", "y").collect()
    s3 = 1.7320508075688772
    for r in rows:
        cx = size * s3 * (r.hq + r.hr / 2.0)
        cy = size * 1.5 * r.hr
        own = (r.x - cx) ** 2 + (r.y - cy) ** 2
        for dq, dr in ((1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)):
            nx = size * s3 * (r.hq + dq + (r.hr + dr) / 2.0)
            ny = size * 1.5 * (r.hr + dr)
            assert own <= (r.x - nx) ** 2 + (r.y - ny) ** 2 + 1e-12


def test_hex_binning_spark_duckdb_parity(spark):
    from raptor_service_spark.geo.hexgrid import hex_cte_sql, hex_withcolumns

    src = (
        "(SELECT ((i*2654435761 % 100000) / 2500.0 - 20) AS x, "
        "((i*40503 % 100000) / 2500.0 - 20) AS y FROM range(4000) t(i))"
    )
    want = {
        (x, y): (q, r)
        for x, y, q, r in duckdb.sql(
            f"WITH {hex_cte_sql(src, 0.5, 'x', 'y')} SELECT x, y, hq, hr FROM hx"
        ).fetchall()
    }
    pdf = spark.createDataFrame(
        [
            (((i * 2654435761) % 100000) / 2500.0 - 20, ((i * 40503) % 100000) / 2500.0 - 20)
            for i in range(4000)
        ],
        "x double, y double",
    )
    got = {
        (r.x, r.y): (r.hq, r.hr)
        for r in hex_withcolumns(pdf, 0.5, "x", "y").collect()
    }
    assert got == want


def _ref_geohash(lat: float, lng: float, chars: int) -> str:
    """Canonical binary-subdivision geohash (the public-domain definition)."""
    alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    lat_lo, lat_hi, lng_lo, lng_hi = -90.0, 90.0, -180.0, 180.0
    bits, out, even, ch = 0, [], True, 0
    while len(out) < chars:
        if even:
            mid = (lng_lo + lng_hi) / 2
            if lng >= mid:
                ch, lng_lo = ch * 2 + 1, mid
            else:
                ch, lng_hi = ch * 2, mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                ch, lat_lo = ch * 2 + 1, mid
            else:
                ch, lat_hi = ch * 2, mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(alphabet[ch])
            bits, ch = 0, 0
    return "".join(out)


def test_geohash_matches_canonical_subdivision(spark):
    """The arithmetic interleave must be char-exact vs the textbook
    algorithm — including the classic (57.64911, 10.40744) -> u4pruy."""
    from raptor_service_spark.geo.geohash import geohash_withcolumn

    assert _ref_geohash(57.64911, 10.40744, 6) == "u4pruy"
    pts = [
        (((i * 2654435761) % 171000) / 1000.0 - 85.5,
         ((i * 40503) % 359000) / 1000.0 - 179.5)
        for i in range(3000)
    ] + [(57.64911, 10.40744), (-90.0, -180.0), (89.999, 179.999), (0.0, 0.0)]
    pdf = spark.createDataFrame(pts, "glat double, glng double")
    rows = geohash_withcolumn(pdf, "glat", "glng", "gh6", 6).collect()
    for r in rows:
        assert r.gh6 == _ref_geohash(r.glat, r.glng, 6)


def test_geohash_spark_duckdb_parity_and_prefix_property(spark):
    from raptor_service_spark.geo.geohash import geohash_cte_sql, geohash_withcolumn

    src = (
        "(SELECT ((i*2654435761 % 171000) / 1000.0 - 85.5) AS glat, "
        "((i*40503 % 359000) / 1000.0 - 179.5) AS glng FROM range(2000) t(i))"
    )
    want = {
        (la, ln): g
        for la, ln, g in duckdb.sql(
            f"WITH {geohash_cte_sql(src, 'glat', 'glng', 'gh6', 6)} "
            "SELECT glat, glng, gh6 FROM gh"
        ).fetchall()
    }
    pdf = spark.createDataFrame(
        [
            (((i * 2654435761) % 171000) / 1000.0 - 85.5,
             ((i * 40503) % 359000) / 1000.0 - 179.5)
            for i in range(2000)
        ],
        "glat double, glng double",
    )
    got4 = {}
    got = {}
    df6 = geohash_withcolumn(pdf, "glat", "glng", "gh6", 6)
    df46 = geohash_withcolumn(df6, "glat", "glng", "gh4", 4)
    for r in df46.collect():
        got[(r.glat, r.glng)] = r.gh6
        got4[(r.glat, r.glng)] = r.gh4
    assert got == want
    # prefix truncation == coarser geohash (spatial containment)
    for k, g6 in got.items():
        assert g6[:4] == got4[k]


def test_zrange_decompose_exact_minimal_cover():
    """Quadtree z-range planner: every range list is sorted, disjoint,
    fully merged, and covers EXACTLY the box's Morton codes."""
    import random

    from raptor_service_spark.geo.zranges import morton_py, zrange_decompose

    order, n = 5, 32
    rng = random.Random(8)
    for _ in range(60):
        x0 = rng.randrange(n); x1 = rng.randrange(x0, n)
        y0 = rng.randrange(n); y1 = rng.randrange(y0, n)
        rs = zrange_decompose(x0, x1, y0, y1, order)
        for (a, b), (c, d) in zip(rs, rs[1:]):
            assert b + 1 < c
        want = {morton_py(x, y, order)
                for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)}
        got = set()
        for lo, hi in rs:
            got.update(range(lo, hi + 1))
        assert got == want


def test_zrange_scan_equals_direct_bbox_filter(spark, sf_dir):
    """Pruned read == full-scan bbox predicate: summing the per-range doc
    counts reproduces the direct (x, y) box filter count."""
    import __spark_entry__ as entry_mod
    import offpaper_queries
    from pyspark.sql import functions as F

    total = (
        offpaper_queries.q_zrange_scan(spark, sf_dir)
        .agg(F.sum("n_docs").alias("s"))
        .collect()[0].s
    )
    d = entry_mod._read(spark, sf_dir, "documents").select("doc_id")
    lat, lng = entry_mod._latlng_cols(F.col("doc_id"))
    n = 256
    x = F.least(F.greatest(F.floor((lng + 180.0) / 360.0 * n).cast("long"), F.lit(0)), F.lit(n - 1))
    y = F.least(F.greatest(F.floor((lat + 90.0) / 180.0 * n).cast("long"), F.lit(0)), F.lit(n - 1))
    x0, x1, y0, y1 = offpaper_queries._ZR_BOX
    direct = d.select(x.alias("x"), y.alias("y")).filter(
        (F.col("x") >= x0) & (F.col("x") <= x1) & (F.col("y") >= y0) & (F.col("y") <= y1)
    ).count()
    assert total == direct


def test_hilbert_range_decompose_exact_cover_and_beats_morton():
    """Hilbert quad-subtree ranges: exact cover, merged/disjoint, and at
    most as many ranges as Morton on the same boxes (the locality
    argument), verified against the shared-arithmetic encode."""
    import random

    from raptor_service_spark.geo.hilbert import hilbert_sql_chain
    from raptor_service_spark.geo.zranges import (
        hilbert_py,
        hilbert_range_decompose,
        zrange_decompose,
    )

    order, n = 5, 32
    # hilbert_py must equal the shared-arithmetic chain (which the engine
    # and oracle both run)
    chain = hilbert_sql_chain(
        order, f"(SELECT (i % {n}) AS x, (i // {n}) AS y FROM range({n * n}) t(i))"
    )
    for x, y, hd in duckdb.sql(f"WITH {chain} SELECT x, y, hd FROM h").fetchall():
        assert hilbert_py(x, y, order) == hd

    rng = random.Random(6)
    fewer = total = 0
    for _ in range(40):
        x0 = rng.randrange(n); x1 = rng.randrange(x0, n)
        y0 = rng.randrange(n); y1 = rng.randrange(y0, n)
        hr = hilbert_range_decompose(x0, x1, y0, y1, order)
        for (a, b), (c, d) in zip(hr, hr[1:]):
            assert b + 1 < c
        want = {hilbert_py(x, y, order)
                for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)}
        got = set()
        for lo, hi in hr:
            got.update(range(lo, hi + 1))
        assert got == want
        total += 1
        fewer += len(hr) <= len(zrange_decompose(x0, x1, y0, y1, order))
    assert fewer >= total * 0.9  # locality: Hilbert ~never needs more ranges
