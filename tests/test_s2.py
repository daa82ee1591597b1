"""S2 cell-id codec (geo/s2.py): table self-consistency, Hilbert locality,
face tokens, round trips, scalar == numpy == SQL-chain cross-checks."""
from __future__ import annotations

import numpy as np
import pytest

from raptor_service_spark.geo.s2 import (
    K_IJ_TO_POS,
    K_POS_TO_IJ,
    K_POS_TO_ORIENTATION,
    cell_center_latlng,
    cell_face,
    cell_level,
    cell_parent,
    cell_parent_np,
    cell_to_face_ij,
    cell_token,
    cellid_from_face_ij,
    cellid_from_face_ij_np,
    latlng_to_cellid,
    latlng_to_cellid_np,
    s2_sql_chain,
    s2_withcolumns,
    token_to_cellid,
)


def test_lookup_tables_self_inverse():
    for r in range(4):
        for ij in range(4):
            assert K_POS_TO_IJ[r][K_IJ_TO_POS[r][ij]] == ij
        for pos in range(4):
            assert K_IJ_TO_POS[r][K_POS_TO_IJ[r][pos]] == pos
    assert K_POS_TO_ORIENTATION == (1, 0, 0, 3)


def test_face_cell_tokens():
    # the six level-0 face cells have the canonical public tokens 1,3,5,7,9,b
    got = [cell_token(cellid_from_face_ij(f, 0, 0, 0)) for f in range(6)]
    assert got == ["1", "3", "5", "7", "9", "b"]
    # level-1 children of face 0, in curve order, are 04 / 0c / 14 / 1c
    kids = sorted(
        cell_token(cellid_from_face_ij(0, i, j, 1)) for i in (0, 1) for j in (0, 1)
    )
    assert kids == ["04", "0c", "14", "1c"]


def test_faces_4_5_are_negative_ids():
    assert cellid_from_face_ij(4, 0, 0, 0) < 0
    assert cellid_from_face_ij(5, 3, 2, 2) < 0
    assert cell_face(cellid_from_face_ij(5, 3, 2, 2)) == 5


def test_hilbert_locality_every_face():
    """THE Hilbert property: cells at consecutive curve positions within a
    face are edge-adjacent (|di| + |dj| == 1).  A wrong lookup table or a
    wrong orientation seed breaks this within the first few steps."""
    level = 5
    for face in range(6):
        prev = None
        # walk the curve: consecutive ids at a fixed level differ by 2*lsb
        lsb = 1 << (2 * (30 - level) + 1)
        start = cellid_from_face_ij(face, 0, 0, level)
        u0 = start & ((1 << 64) - 1)
        # the face's first cell in curve order has d = 0 -> u = face<<61 | lsb/...
        base = (face << 61) | (lsb // 2)
        for d in range(4**level):
            u = base + d * lsb
            cid = u - (1 << 64) if u >= (1 << 63) else u
            f, i, j, lv = cell_to_face_ij(cid)
            assert (f, lv) == (face, level)
            if prev is not None:
                assert abs(i - prev[0]) + abs(j - prev[1]) == 1, (face, d)
            prev = (i, j)
        # (i=0, j=0) is the curve's first cell on every face: its ij key is
        # 0, and kIJtoPos[r][0] stays on the d=0 branch for r in {0, 1}
        assert u0 == base


def test_encode_decode_roundtrip():
    rng = np.random.default_rng(7)
    for level in (1, 4, 12, 20, 30):
        faces = rng.integers(0, 6, 50)
        ii = rng.integers(0, 1 << level, 50)
        jj = rng.integers(0, 1 << level, 50)
        for f, i, j in zip(faces, ii, jj):
            cid = cellid_from_face_ij(int(f), int(i), int(j), level)
            assert cell_level(cid) == level
            assert cell_to_face_ij(cid) == (int(f), int(i), int(j), level)
            assert token_to_cellid(cell_token(cid)) == cid


def test_center_reencode_roundtrip():
    rng = np.random.default_rng(11)
    lats = rng.uniform(-85, 85, 100)
    lngs = rng.uniform(-180, 180, 100)
    for level in (2, 8, 16):
        for lat, lng in zip(lats, lngs):
            cid = latlng_to_cellid(lat, lng, level)
            clat, clng = cell_center_latlng(cid)
            assert latlng_to_cellid(clat, clng, level) == cid


def test_parent_containment():
    rng = np.random.default_rng(13)
    for _ in range(100):
        f = int(rng.integers(0, 6))
        i = int(rng.integers(0, 1 << 30))
        j = int(rng.integers(0, 1 << 30))
        leaf = cellid_from_face_ij(f, i, j, 30)
        for lv in (0, 3, 10, 25):
            p = cell_parent(leaf, lv)
            assert cell_level(p) == lv
            pf, pi, pj, _ = cell_to_face_ij(p)
            assert pf == f and pi == i >> (30 - lv) and pj == j >> (30 - lv)
    # numpy parent agrees
    leafs = [
        cellid_from_face_ij(int(rng.integers(0, 6)), int(rng.integers(0, 1 << 30)),
                            int(rng.integers(0, 1 << 30)), 30)
        for _ in range(50)
    ]
    got = cell_parent_np(np.array(leafs, dtype=np.int64), 7)
    want = [cell_parent(c, 7) for c in leafs]
    assert got.tolist() == want


def test_face_selection_cardinal_points():
    assert cell_face(latlng_to_cellid(0, 0)) == 0
    assert cell_face(latlng_to_cellid(0, 90)) == 1
    assert cell_face(latlng_to_cellid(90, 0)) == 2
    assert cell_face(latlng_to_cellid(0, 180)) == 3
    assert cell_face(latlng_to_cellid(0, -90)) == 4
    assert cell_face(latlng_to_cellid(-90, 0)) == 5


def test_numpy_matches_scalar():
    rng = np.random.default_rng(17)
    lats = rng.uniform(-89, 89, 500)
    lngs = rng.uniform(-180, 180, 500)
    for level in (6, 14, 30):
        got = latlng_to_cellid_np(lats, lngs, level)
        want = np.array(
            [latlng_to_cellid(a, b, level) for a, b in zip(lats, lngs)],
            dtype=np.int64,
        )
        assert np.array_equal(got, want)
    faces = rng.integers(0, 6, 300)
    ii = rng.integers(0, 1 << 12, 300)
    jj = rng.integers(0, 1 << 12, 300)
    got = cellid_from_face_ij_np(faces, ii, jj, 12)
    want = np.array(
        [cellid_from_face_ij(int(f), int(i), int(j), 12)
         for f, i, j in zip(faces, ii, jj)],
        dtype=np.int64,
    )
    assert np.array_equal(got, want)


def test_axis_and_pole_inputs_warn_nothing():
    """On an axis or at a pole the off-face quotients divide by zero; the
    numpy encoder must still match the scalar one without a warning. The
    invalid zero id round-trips through its token "X"."""
    import warnings

    pts = [(0.0, 0.0), (0.0, 90.0), (90.0, 0.0), (-90.0, 0.0)]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = latlng_to_cellid_np([a for a, _ in pts], [b for _, b in pts])
    want = np.array([latlng_to_cellid(a, b) for a, b in pts], dtype=np.int64)
    assert np.array_equal(got, want)
    assert cell_token(0) == "X"
    assert token_to_cellid("X") == 0


def test_sql_chain_matches_scalar_duckdb():
    import duckdb

    rng = np.random.default_rng(19)
    n, level = 200, 12
    faces = rng.integers(0, 6, n)
    ii = rng.integers(0, 1 << level, n)
    jj = rng.integers(0, 1 << level, n)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (rid INT, face BIGINT, i BIGINT, j BIGINT)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?, ?)",
        [(k, int(faces[k]), int(ii[k]), int(jj[k])) for k in range(n)],
    )
    sql = s2_sql_chain(level, "t", keep_cols=["rid"])
    rows = con.execute(sql + " ORDER BY rid").fetchall()
    for rid, got in rows:
        want = cellid_from_face_ij(int(faces[rid]), int(ii[rid]), int(jj[rid]), level)
        assert got == want, rid


def test_withcolumns_matches_scalar_spark(spark):
    rng = np.random.default_rng(23)
    n, level = 200, 12
    rows = [
        (k, int(rng.integers(0, 6)), int(rng.integers(0, 1 << level)),
         int(rng.integers(0, 1 << level)))
        for k in range(n)
    ]
    df = spark.createDataFrame(rows, "rid int, face long, i long, j long")
    out = {r.rid: r.s2_cell for r in s2_withcolumns(df, level).collect()}
    for rid, f, i, j in rows:
        assert out[rid] == cellid_from_face_ij(f, i, j, level), rid


def test_registry_query_matches_scalar(spark):
    """q_s2_cell_ids (the driver-oracled query) against the scalar codec —
    a third independent implementation of the same walk, including the
    prefix-parent relationship."""
    import __spark_entry__ as entry

    rows = entry.q_s2_cell_ids(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    HM, HMOD = 2654435761, 2147483648
    for r in rows[:200]:
        h = (int(r.doc_id) * HM) % HMOD
        f, i, j = h % 6, (h // 6) % 4096, (h // 24576) % 4096
        want = cellid_from_face_ij(f, i, j, 12)
        assert r.s2_cell == want, r.doc_id
        assert r.s2_cell_l5 == cell_parent(want, 5), r.doc_id
        assert cell_level(r.s2_cell) == 12 and cell_level(r.s2_cell_l5) == 5
        assert r.s2_token == cell_token(want), r.doc_id


def test_cell_range_contains_descendants():
    from raptor_service_spark.geo.s2 import cell_range

    rng = np.random.default_rng(29)
    for _ in range(50):
        f = int(rng.integers(0, 6))
        i = int(rng.integers(0, 1 << 30))
        j = int(rng.integers(0, 1 << 30))
        leaf = cellid_from_face_ij(f, i, j, 30)
        for lv in (0, 4, 11, 29):
            p = cell_parent(leaf, lv)
            lo, hi = cell_range(p)
            assert lo <= leaf <= hi, (lv, leaf, lo, hi)
            assert lo <= p <= hi
        # a different-face cell never falls in the range
        other = cellid_from_face_ij((f + 1) % 6, i, j, 30)
        lo, hi = cell_range(cell_parent(leaf, 4))
        assert not (lo <= other <= hi)


def test_containment_join_equals_rollup(spark):
    """The BETWEEN range join (s2_containment_join) must reproduce the
    arithmetic prefix rollup (s2_tile_rollup) ancestor-for-ancestor."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    roll = {
        r.s2_cell_l4: r.n_events
        for r in entry.q_s2_tile_rollup(spark, sf).collect()
    }
    cont = {
        r.s2_cell_l4: r.n_contained
        for r in entry.q_s2_containment_join(spark, sf).collect()
    }
    assert roll == cont and len(roll) > 0


def test_arrow_udf_column(spark):
    rows = [(k, -80.0 + k * 1.7, -170.0 + k * 3.3) for k in range(100)]
    df = spark.createDataFrame(rows, "rid int, lat double, lng double")
    from raptor_service_spark.geo.s2 import s2_cell_col
    from pyspark.sql import functions as F

    out = {
        r.rid: r.c
        for r in df.select("rid", s2_cell_col(F.col("lat"), F.col("lng"), 10).alias("c")).collect()
    }
    for rid, lat, lng in rows:
        assert out[rid] == latlng_to_cellid(lat, lng, 10)
