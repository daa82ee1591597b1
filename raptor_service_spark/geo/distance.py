"""Great-circle (haversine) distance — numpy / Spark Column / SQL triplet.

Same three-implementation discipline as geo/grid.py: the identical formula
runs vectorized in numpy (pandas-UDF side), as a Spark Column expression
(JVM whole-stage codegen — sin/cos/asin are codegen-able builtins, no UDF),
and as a DuckDB SQL fragment for the oracle. Distances are kilometres on a
spherical Earth (R = 6371.0088, the IUGG mean radius).

hav = sin²(Δφ/2) + cos φ1 · cos φ2 · sin²(Δλ/2)
d   = 2R · asin(min(1, √hav))
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088
# conservative degree<->km bound for candidate-box padding:
KM_PER_DEG_LAT_MIN = 110.0  # true meridian value is 110.574-111.694


def haversine_np(lat1, lng1, lat2, lng2) -> np.ndarray:
    p1, l1, p2, l2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lat1, lng1, lat2, lng2))
    h = np.sin((p2 - p1) / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin((l2 - l1) / 2) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.minimum(1.0, np.sqrt(h)))


def haversine_col(lat1: Column, lng1: Column, lat2: Column, lng2: Column) -> Column:
    p1, l1, p2, l2 = (F.radians(c) for c in (lat1, lng1, lat2, lng2))
    sp = F.sin((p2 - p1) / 2)
    sl = F.sin((l2 - l1) / 2)
    h = sp * sp + F.cos(p1) * F.cos(p2) * sl * sl
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.least(F.lit(1.0), F.sqrt(h)))


def haversine_sql(lat1: str, lng1: str, lat2: str, lng2: str) -> str:
    p1, l1, p2, l2 = (f"radians({e})" for e in (lat1, lng1, lat2, lng2))
    sp = f"sin(({p2} - {p1}) / 2)"
    sl = f"sin(({l2} - {l1}) / 2)"
    h = f"({sp} * {sp} + cos({p1}) * cos({p2}) * {sl} * {sl})"
    return f"(2.0 * {EARTH_RADIUS_KM} * asin(LEAST(1.0, sqrt({h}))))"
