"""Point-in-polygon join (SURVEY §2.3 J10 — graft-new per north_rule).

Plan shape (the scale path):
  1. Driver polyfills each query polygon into grid cells at ``res``
     (geo/grid.polyfill), labeling cells interior vs boundary. Polygon count is
     small; the cell list is a tiny DataFrame.
  2. Points get their cell via the JVM-side encode expression (codegen; the
     cell is also the natural partition column for an Iceberg layout, so this
     join partition-prunes on real tables).
  3. points ⋈ broadcast(cells) equi-join on cell — no shuffle of the big side.
  4. Points in INTERIOR cells are accepted with no exact test (proved inside
     by polyfill); only BOUNDARY-cell points run the exact vectorized PIP
     pandas UDF (Arrow batches, numpy ray casting). This is the classic
     filter-refine spatial join: exact yet cheap.

The reference has no spatial join; its nearest analog is the chunk
(doc_id, idx) containment predicate (/root/reference/db/models/documents.py:43-44).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from raptor_service_spark.geo.grid import cell_encode_col, points_in_polygon_np, polyfill


def polygon_cells_df(spark, polygons: dict[str, np.ndarray], res: int) -> DataFrame:
    """qid -> polygon vertices ((M,2) lat/lng) => (qid, cell, is_boundary) rows."""
    rows = []
    for qid, poly in polygons.items():
        cells, is_b = polyfill(np.asarray(poly, dtype=float), res)
        rows.extend((qid, int(c), bool(b)) for c, b in zip(cells, is_b))
    return spark.createDataFrame(rows, "qid string, cell long, is_boundary boolean")


def _pip_exact_udf(spark, polygons: dict[str, np.ndarray]):
    """Pandas UDF ``(qid, lat, lng) -> inside``: exact ray casting of each
    point against its polygon, the polygons broadcast once."""
    polys_b = spark.sparkContext.broadcast(
        {qid: np.asarray(p, dtype=np.float64) for qid, p in polygons.items()}
    )

    @F.pandas_udf(BooleanType())
    def pip_exact(qid: pd.Series, lat: pd.Series, lng: pd.Series) -> pd.Series:
        out = np.zeros(len(qid), dtype=bool)
        latv = lat.to_numpy(dtype=np.float64)
        lngv = lng.to_numpy(dtype=np.float64)
        for q in qid.unique():
            mask = (qid == q).to_numpy()
            out[mask] = points_in_polygon_np(latv[mask], lngv[mask], polys_b.value[q])
        return pd.Series(out)

    return pip_exact


def point_in_polygon_join(
    points: DataFrame,
    polygons: dict[str, np.ndarray],
    res: int = 7,
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Inner join: every (polygon qid, point) pair with the point inside.

    Output: all ``points`` columns + ``qid``. Exact (filter-refine), not
    approximate: polyfill is superset-complete and boundary cells get the
    exact test.
    """
    spark = points.sparkSession
    cells_df = polygon_cells_df(spark, polygons, res)
    pip_exact = _pip_exact_udf(spark, polygons)
    pts = points.withColumn("_cell", cell_encode_col(F.col(lat_col), F.col(lng_col), res))
    joined = pts.join(F.broadcast(cells_df), pts["_cell"] == cells_df["cell"], "inner")
    accepted = joined.filter(
        (~F.col("is_boundary"))
        | pip_exact(F.col("qid"), F.col(lat_col), F.col(lng_col))
    )
    return accepted.drop("_cell", "cell", "is_boundary")


def point_in_polygon_join_bruteforce(
    points: DataFrame,
    polygons: dict[str, np.ndarray],
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Reference implementation for tests: exact PIP against EVERY polygon
    (cross join, no pruning). Same output contract as point_in_polygon_join."""
    spark = points.sparkSession
    pip_exact = _pip_exact_udf(spark, polygons)
    qids = spark.createDataFrame([(q,) for q in polygons], "qid string")
    return points.crossJoin(F.broadcast(qids)).filter(
        pip_exact(F.col("qid"), F.col(lat_col), F.col(lng_col))
    )


# ---------------------------------------------------------------------------
# within-radius distance join (graft-new spatial operator, same filter-refine
# shape as the PIP join; distance is pure JVM arithmetic — no Python at all)
# ---------------------------------------------------------------------------


def circle_cells_df(
    spark, centers: dict[str, tuple[float, float]], radius: float, res: int
) -> DataFrame:
    """qid -> (qid, cell, is_boundary) rows for cells intersecting each
    circle (euclidean in degree space). A cell whose FARTHEST corner is
    within the radius is interior (every point in it matches — no exact
    test needed); a cell whose NEAREST point is within is boundary."""
    from raptor_service_spark.geo.grid import RES_MULTIPLIER

    n = 1 << res
    dlat, dlng = 180.0 / n, 360.0 / n
    rows = []
    for qid, (clat, clng) in centers.items():
        x0 = int(np.clip(np.floor((clng - radius + 180.0) / 360.0 * n), 0, n - 1))
        x1 = int(np.clip(np.floor((clng + radius + 180.0) / 360.0 * n), 0, n - 1))
        y0 = int(np.clip(np.floor((clat - radius + 90.0) / 180.0 * n), 0, n - 1))
        y1 = int(np.clip(np.floor((clat + radius + 90.0) / 180.0 * n), 0, n - 1))
        for y in range(y0, y1 + 1):
            lat_lo, lat_hi = y * dlat - 90.0, (y + 1) * dlat - 90.0
            for x in range(x0, x1 + 1):
                lng_lo, lng_hi = x * dlng - 180.0, (x + 1) * dlng - 180.0
                near = float(
                    np.hypot(
                        max(lat_lo - clat, 0.0, clat - lat_hi),
                        max(lng_lo - clng, 0.0, clng - lng_hi),
                    )
                )
                far = float(
                    np.hypot(
                        max(abs(clat - lat_lo), abs(clat - lat_hi)),
                        max(abs(clng - lng_lo), abs(clng - lng_hi)),
                    )
                )
                if near <= radius:
                    rows.append(
                        (qid, res * RES_MULTIPLIER + y * n + x, far > radius)
                    )
    return spark.createDataFrame(rows, "qid string, cell long, is_boundary boolean")


def radius_join(
    points: DataFrame,
    centers: dict[str, tuple[float, float]],
    radius: float,
    res: int = 6,
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Within-distance join: every (center qid, point) pair with euclidean
    degree-space distance <= radius (compared ROUNDED to 6 dp, the repo's
    cross-engine float convention; pick a radius that is a multiple of 1e-6
    so interior-cell acceptance can never disagree with the rounded test).

    Filter-refine like the PIP join: candidate cells per circle are a tiny
    broadcast list (partition pruning on a cell-partitioned table); interior
    cells accept with no predicate; boundary cells evaluate the exact
    distance — a codegen sqrt expression, no UDF. Output: points columns +
    (qid, dist).
    """
    spark = points.sparkSession
    cells_df = circle_cells_df(spark, centers, radius, res)
    centers_df = spark.createDataFrame(
        [(q, float(la), float(ln)) for q, (la, ln) in centers.items()],
        "qid string, clat double, clng double",
    )
    pts = points.withColumn("_cell", cell_encode_col(F.col(lat_col), F.col(lng_col), res))
    joined = (
        pts.join(F.broadcast(cells_df), pts["_cell"] == cells_df["cell"], "inner")
        .join(F.broadcast(centers_df), "qid")
    )
    dla = F.col(lat_col) - F.col("clat")
    dln = F.col(lng_col) - F.col("clng")
    dist = F.round(F.sqrt(dla * dla + dln * dln), 6)
    accepted = joined.filter((~F.col("is_boundary")) | (dist <= F.lit(radius)))
    return accepted.withColumn("dist", dist).drop(
        "_cell", "cell", "is_boundary", "clat", "clng"
    )


def bbox_cells_df(
    spark,
    boxes: dict[str, tuple[float, float, float, float]],
    res: int,
) -> DataFrame:
    """qid -> (qid, cell) rows for every cell intersecting each
    (lat_lo, lat_hi, lng_lo, lng_hi) box, WRAPPING the antimeridian when
    lng_lo < -180 or lng_hi > 180 (circle_cells_df clips instead — fine for
    its degree-space euclid callers, wrong for great-circle ones). Latitude
    clamps at the poles. O(cells) driver rows, broadcast downstream."""
    from raptor_service_spark.geo.grid import RES_MULTIPLIER

    n = 1 << res
    rows = []
    for qid, (lat_lo, lat_hi, lng_lo, lng_hi) in boxes.items():
        y0 = int(np.clip(np.floor((lat_lo + 90.0) / 180.0 * n), 0, n - 1))
        y1 = int(np.clip(np.floor((lat_hi + 90.0) / 180.0 * n), 0, n - 1))
        if lng_hi - lng_lo >= 360.0:
            xs = list(range(n))
        else:
            x0 = int(np.floor((lng_lo + 180.0) / 360.0 * n))
            x1 = int(np.floor((lng_hi + 180.0) / 360.0 * n))
            xs = sorted({x % n for x in range(x0, x1 + 1)})
        for y in range(y0, y1 + 1):
            for x in xs:
                rows.append((qid, res * RES_MULTIPLIER + y * n + x))
    return spark.createDataFrame(rows, "qid string, cell long")


def radius_join_km(
    points: DataFrame,
    centers: dict[str, tuple[float, float]],
    radius_km: float,
    res: int = 6,
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Great-circle within-distance join: (center qid, point) pairs with
    haversine distance <= radius_km (compared ROUNDED to 6 dp, the repo's
    cross-engine float convention).

    Filter-refine: candidates come from a conservative degree-space bounding
    box per center (lat pad r/110 km-per-deg lower bound; lng pad widened by
    1/cos at the box's extreme latitude, full band within 2 degrees of a
    pole), wrap-aware via bbox_cells_df — a tiny broadcast cell list, so a
    cell-partitioned table prunes partitions. Refine is the codegen
    haversine expression (geo/distance.py) — no UDF anywhere.
    """
    from raptor_service_spark.geo.distance import (
        KM_PER_DEG_LAT_MIN,
        haversine_col,
    )

    spark = points.sparkSession
    lat_pad = radius_km / KM_PER_DEG_LAT_MIN
    boxes = {}
    for qid, (clat, clng) in centers.items():
        lat_lo, lat_hi = clat - lat_pad, clat + lat_pad
        phi_w = min(89.9, max(abs(lat_lo), abs(lat_hi)))
        if phi_w >= 88.0:
            lng_lo, lng_hi = -180.0, 180.0
        else:
            lng_pad = lat_pad / np.cos(np.radians(phi_w))
            lng_lo, lng_hi = clng - lng_pad, clng + lng_pad
        boxes[qid] = (lat_lo, lat_hi, lng_lo, lng_hi)

    cells_df = bbox_cells_df(spark, boxes, res)
    centers_df = spark.createDataFrame(
        [(q, float(la), float(ln)) for q, (la, ln) in centers.items()],
        "qid string, clat double, clng double",
    )
    pts = points.withColumn(
        "_cell", cell_encode_col(F.col(lat_col), F.col(lng_col), res)
    )
    dist = F.round(
        haversine_col(F.col(lat_col), F.col(lng_col), F.col("clat"), F.col("clng")),
        6,
    )
    return (
        pts.join(F.broadcast(cells_df), pts["_cell"] == cells_df["cell"], "inner")
        .join(F.broadcast(centers_df), "qid")
        .withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= F.lit(radius_km))
        .drop("_cell", "cell", "clat", "clng")
    )


def within_distance_join(
    left: DataFrame,
    right: DataFrame,
    eps: float,
    res: int | None = None,
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Table-to-table distance join: every (left, right) pair with euclidean
    degree-space distance <= eps (ROUNDED to 6 dp, the repo convention) —
    the ε-join primitive under geo entity dedup and spatial clustering.

    Grid strategy: pick ``res`` so the cell HEIGHT (180/2^res, the smaller
    dimension) is >= eps; then any qualifying pair sits within one cell of
    each other in both axes, so exploding the RIGHT side to its 3x3
    neighbor cells (lng wrap / lat clamp via kring_neighbor_col) and
    equi-joining on the left's single cell finds every pair EXACTLY ONCE —
    no dedup pass (the left point has one cell; the right ring contains it
    at most once). One shuffle, codegen refine, no UDF.

    Degree space is planar: a pair straddling the antimeridian has a large
    |Δlng| and does not qualify — same semantics as radius_join and the SQL
    oracle. Use radius_join_km/haversine when spherical wrap matters.
    """
    import math as _math

    from raptor_service_spark.operators.neighborhood import kring_neighbor_col

    if res is None:
        res = max(0, int(_math.floor(_math.log2(180.0 / eps))))
    assert 180.0 / (1 << res) >= eps, "cell height must cover eps"

    lcell = cell_encode_col(F.col(f"l.{lat_col}"), F.col(f"l.{lng_col}"), res)
    rcell = cell_encode_col(F.col(f"r.{lat_col}"), F.col(f"r.{lng_col}"), res)
    l = left.alias("l").withColumn("_cell", lcell)
    r = (
        right.alias("r")
        .withColumn("_rc", rcell)
        .withColumn(
            "_cell",
            F.explode(
                F.filter(
                    F.array_distinct(
                        F.array(
                            *[
                                kring_neighbor_col("_rc", res, dx, dy)
                                for dx in (-1, 0, 1)
                                for dy in (-1, 0, 1)
                            ]
                        )
                    ),
                    lambda c: c.isNotNull(),
                )
            ),
        )
    )
    dla = F.col(f"l.{lat_col}") - F.col(f"r.{lat_col}")
    dln = F.col(f"l.{lng_col}") - F.col(f"r.{lng_col}")
    dist = F.round(F.sqrt(dla * dla + dln * dln), 6)
    return (
        l.join(r, "_cell")
        .withColumn("dist", dist)
        .filter(F.col("dist") <= F.lit(eps))
        .drop("_cell", "_rc")
    )
