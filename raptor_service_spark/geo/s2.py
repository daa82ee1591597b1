"""S2 cell ids — ecosystem-compatible 64-bit ids, pure public math.

The north-star names "H3/S2" cells; ``geo/grid.py`` implements the engine's
workhorse square ladder (compact/uncompact/k-ring/polyfill analogs, all
oracled), but its ids are repo-local.  This module adds the REAL S2 cell-id
codec — the published scheme from the open-source S2 geometry library
(s2geometry.io; s2coords.h / s2cell_id.cc semantics, re-derived from the
public description, no code copied):

  * unit-sphere point -> cube face (0..5) + gnomonic (u, v)
  * quadratic (u, v) -> (s, t) reprojection (area-uniformizing)
  * (s, t) -> 30-bit (i, j) leaf coordinates on the face
  * (face, i, j) -> 64-bit cell id: 3 face bits, 2·level Hilbert-curve
    position bits, one trailing marker bit — ids are SIGNED int64 exactly
    as in the Java/Go S2 ports (faces 4-5 produce negative ids), tokens are
    the unsigned hex with trailing zeros stripped.

The Hilbert walk threads an orientation state (swap/invert) through the
levels via the standard lookup tables; both tables are pinned by
self-inverse + face-token tests in tests/test_s2.py.

Three synchronized implementations (repo convention, see geo/grid.py):
  * scalar pure-python ints  — reference + tokens (tests, driver-side)
  * vectorized numpy         — pandas/Arrow UDF path for lat/lng encode
  * shared SQL CASE-arithmetic chain for the exact-integer
    (face, i, j) -> id walk — the SAME string runs in Spark SQL
    whole-stage codegen and in the DuckDB oracle (`s2_sql_chain`), which is
    what lets the driver hash-verify the codec cross-engine with zero
    float risk.

Reference parity note: RAPTOR's cluster levels (reference
services/clustering/clusterer.py:27-112) are replaced by grid levels; S2
ids slot into the same tile-tree APIs as ``grid.py`` ids wherever an
ecosystem-true id is wanted.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

MAX_LEVEL = 30

# Hilbert lookup tables (public S2 scheme).  Orientation r is a 2-bit
# state: bit0 = swap i/j, bit1 = invert.  ij below is (i_bit << 1) | j_bit.
K_IJ_TO_POS = ((0, 1, 3, 2), (0, 3, 1, 2), (2, 3, 1, 0), (2, 1, 3, 0))
K_POS_TO_IJ = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
K_POS_TO_ORIENTATION = (1, 0, 0, 3)  # swap, 0, 0, swap|invert

# fused tables for the per-level step keyed by k = r * 4 + ij
_POS_TAB = tuple(K_IJ_TO_POS[r][ij] for r in range(4) for ij in range(4))
_NEXTR_TAB = tuple(
    r ^ K_POS_TO_ORIENTATION[K_IJ_TO_POS[r][ij]]
    for r in range(4)
    for ij in range(4)
)


# ---------------------------------------------------------------------------
# scalar reference implementation
# ---------------------------------------------------------------------------


def hilbert_d(face: int, i: int, j: int, level: int) -> int:
    """Curve position (2·level bits) of (i, j) at ``level`` on ``face``."""
    r, d = face & 1, 0
    for k in range(level - 1, -1, -1):
        ij = (((i >> k) & 1) << 1) | ((j >> k) & 1)
        key = r * 4 + ij
        d = (d << 2) | _POS_TAB[key]
        r = _NEXTR_TAB[key]
    return d


def cellid_from_face_ij(face: int, i: int, j: int, level: int) -> int:
    """Signed-int64 S2 cell id of cell (face, i, j) at ``level``
    (i, j are the cell's coordinates AT that level, < 2**level)."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}]")
    d = hilbert_d(face, i, j, level)
    shift = 2 * (MAX_LEVEL - level) + 1
    u = (face << 61) | (d << shift) | (1 << (shift - 1))
    return u - (1 << 64) if u >= (1 << 63) else u


def _face_uv(x: float, y: float, z: float) -> tuple[int, float, float]:
    ax, ay, az = abs(x), abs(y), abs(z)
    if ax >= ay and ax >= az:
        face = 0 if x > 0 else 3
    elif ay >= az:
        face = 1 if y > 0 else 4
    else:
        face = 2 if z > 0 else 5
    if face == 0:
        return face, y / x, z / x
    if face == 1:
        return face, -x / y, z / y
    if face == 2:
        return face, -x / z, -y / z
    if face == 3:
        return face, z / x, y / x
    if face == 4:
        return face, z / y, -x / y
    return face, -y / z, -x / z


def _st_from_uv(u: float) -> float:
    # quadratic projection (the S2_QUADRATIC_PROJECTION default)
    return 0.5 * math.sqrt(1.0 + 3.0 * u) if u >= 0 else 1.0 - 0.5 * math.sqrt(1.0 - 3.0 * u)


def _uv_from_st(s: float) -> float:
    return (4.0 * s * s - 1.0) / 3.0 if s >= 0.5 else (1.0 - 4.0 * (1.0 - s) * (1.0 - s)) / 3.0


def latlng_to_cellid(lat: float, lng: float, level: int = MAX_LEVEL) -> int:
    """lat/lng degrees -> S2 cell id at ``level`` (signed int64)."""
    phi, theta = math.radians(lat), math.radians(lng)
    cp = math.cos(phi)
    x, y, z = cp * math.cos(theta), cp * math.sin(theta), math.sin(phi)
    face, u, v = _face_uv(x, y, z)
    n = 1 << level
    i = min(n - 1, max(0, int(math.floor(_st_from_uv(u) * n))))
    j = min(n - 1, max(0, int(math.floor(_st_from_uv(v) * n))))
    return cellid_from_face_ij(face, i, j, level)


def cell_level(cell_id: int) -> int:
    u = cell_id & ((1 << 64) - 1)
    lsb = u & (~u + 1)
    return MAX_LEVEL - (lsb.bit_length() - 1) // 2


def cell_parent(cell_id: int, level: int) -> int:
    if level > cell_level(cell_id):
        raise ValueError("parent level above cell level")
    u = cell_id & ((1 << 64) - 1)
    lsb = 1 << (2 * (MAX_LEVEL - level))  # marker bit position at `level`
    p = (u & (((1 << 64) - 1) ^ (2 * lsb - 1))) | lsb
    return p - (1 << 64) if p >= (1 << 63) else p


def cell_face(cell_id: int) -> int:
    return (cell_id & ((1 << 64) - 1)) >> 61


def cell_to_face_ij(cell_id: int) -> tuple[int, int, int, int]:
    """(face, i, j, level) of a cell id — i, j at the cell's level."""
    u = cell_id & ((1 << 64) - 1)
    face, level = u >> 61, cell_level(cell_id)
    d = (u & ((1 << 61) - 1)) >> (2 * (MAX_LEVEL - level) + 1)
    r, i, j = face & 1, 0, 0
    for k in range(level - 1, -1, -1):
        pos = (d >> (2 * k)) & 3
        ij = K_POS_TO_IJ[r][pos]
        i = (i << 1) | (ij >> 1)
        j = (j << 1) | (ij & 1)
        r ^= K_POS_TO_ORIENTATION[pos]
    return face, i, j, level


def cell_center_latlng(cell_id: int) -> tuple[float, float]:
    face, i, j, level = cell_to_face_ij(cell_id)
    n = 1 << level
    u, v = _uv_from_st((i + 0.5) / n), _uv_from_st((j + 0.5) / n)
    if face == 0:
        x, y, z = 1.0, u, v
    elif face == 1:
        x, y, z = -u, 1.0, v
    elif face == 2:
        x, y, z = -u, -v, 1.0
    elif face == 3:
        x, y, z = -1.0, -v, -u
    elif face == 4:
        x, y, z = v, -1.0, -u
    else:
        x, y, z = v, u, -1.0
    lat = math.degrees(math.atan2(z, math.hypot(x, y)))
    lng = math.degrees(math.atan2(y, x))
    return lat, lng


def cell_range(cell_id: int) -> tuple[int, int]:
    """[range_min, range_max] of leaf ids under this cell — the containment
    interval that makes ancestor<->descendant joins RANGE joins (a leaf d
    is inside cell c iff c.range_min <= d <= c.range_max), which is also
    the file/partition-pruning predicate on an id-sorted layout."""
    u = cell_id & ((1 << 64) - 1)
    lsb = u & (~u + 1)
    lo, hi = u - (lsb - 1), u + (lsb - 1)
    sign = lambda x: x - (1 << 64) if x >= (1 << 63) else x  # noqa: E731
    return sign(lo), sign(hi)


def cell_token(cell_id: int) -> str:
    u = cell_id & ((1 << 64) - 1)
    if u == 0:
        return "X"  # the library's token for the (invalid) zero id
    return f"{u:016x}".rstrip("0")


def token_to_cellid(token: str) -> int:
    if token == "X":
        return 0
    u = int(token.ljust(16, "0"), 16)
    return u - (1 << 64) if u >= (1 << 63) else u


# ---------------------------------------------------------------------------
# vectorized numpy (the pandas/Arrow UDF path)
# ---------------------------------------------------------------------------


def latlng_to_cellid_np(lat, lng, level: int = MAX_LEVEL) -> np.ndarray:
    """Vectorized lat/lng -> signed-int64 S2 cell ids at ``level``."""
    lat = np.asarray(lat, dtype=np.float64)
    lng = np.asarray(lng, dtype=np.float64)
    phi, theta = np.radians(lat), np.radians(lng)
    cp = np.cos(phi)
    x, y, z = cp * np.cos(theta), cp * np.sin(theta), np.sin(phi)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis = np.where((ax >= ay) & (ax >= az), 0, np.where(ay >= az, 1, 2))
    major = np.choose(axis, [x, y, z])
    face = np.where(major > 0, axis, axis + 3).astype(np.int64)
    # np.select / np.where evaluate every branch, so off-face quotients may
    # divide by zero (on an axis or at a pole); only the selected one is used
    with np.errstate(divide="ignore", invalid="ignore"):
        # gnomonic u, v per face (same table as _face_uv)
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [y / x, -x / y, -x / z, z / x, z / y],
            default=-y / z,
        )
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [z / x, z / y, -y / z, y / x, -x / y],
            default=-x / z,
        )
        st_u = np.where(u >= 0, 0.5 * np.sqrt(1 + 3 * u), 1 - 0.5 * np.sqrt(1 - 3 * u))
        st_v = np.where(v >= 0, 0.5 * np.sqrt(1 + 3 * v), 1 - 0.5 * np.sqrt(1 - 3 * v))
    n = np.int64(1) << level
    i = np.clip(np.floor(st_u * n).astype(np.int64), 0, n - 1)
    j = np.clip(np.floor(st_v * n).astype(np.int64), 0, n - 1)
    return cellid_from_face_ij_np(face, i, j, level)


def cellid_from_face_ij_np(face, i, j, level: int) -> np.ndarray:
    """Vectorized (face, i, j at ``level``) -> signed-int64 cell ids."""
    face = np.asarray(face, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    pos_tab = np.array(_POS_TAB, dtype=np.int64)
    nextr_tab = np.array(_NEXTR_TAB, dtype=np.int64)
    r = face & 1
    d = np.zeros_like(i)
    for k in range(level - 1, -1, -1):
        ij = (((i >> k) & 1) << 1) | ((j >> k) & 1)
        key = r * 4 + ij
        d = (d << 2) | pos_tab[key]
        r = nextr_tab[key]
    shift = 2 * (MAX_LEVEL - level) + 1
    # (face << 61) wraps to negative for faces 4-5 — exactly the signed
    # reinterpretation the scalar path does explicitly.
    with np.errstate(over="ignore"):
        return (face << np.int64(61)) | (d << np.int64(shift)) | (
            np.int64(1) << np.int64(shift - 1)
        )


def cell_parent_np(cell, level: int) -> np.ndarray:
    c = np.asarray(cell, dtype=np.int64).astype(np.uint64)
    lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
    return ((c & ~(np.uint64(2) * lsb - np.uint64(1))) | lsb).astype(np.int64)


# ---------------------------------------------------------------------------
# shared SQL chain: exact-integer (face, i, j) -> id, Spark == DuckDB
# ---------------------------------------------------------------------------

_FACE_BASE = (
    "(CASE WHEN ({f}) >= 4 THEN ({f}) - 8 ELSE ({f}) END "
    "* CAST(2305843009213693952 AS BIGINT))"  # 2^61, signed for faces 4-5
)


def _case16(key: str, table: tuple) -> str:
    whens = " ".join(f"WHEN {k} THEN {table[k]}" for k in range(16))
    return f"(CASE {key} {whens} END)"


def _parent_exprs(level: int, parent_levels, fb: str, out_col: str) -> list[str]:
    """Coarser-level ids from the SAME curve position: the 2·lp-bit prefix
    of d at level lp IS the parent's curve position (the Hilbert prefix
    property), so parents cost one integer divide each, no second walk."""
    out = []
    for lp in parent_levels:
        if not 0 <= lp < level:
            raise ValueError(f"parent level {lp} not below {level}")
        shift_p = 1 << (2 * (MAX_LEVEL - lp) + 1)
        div = 4 ** (level - lp)
        out.append(
            f"{fb} + CAST(FLOOR(s2_d / {div}) AS BIGINT) "
            f"* CAST({shift_p} AS BIGINT) + CAST({shift_p // 2} AS BIGINT) "
            f"AS {out_col}_l{lp}"
        )
    return out


def s2_sql_chain(
    level: int,
    src_sql: str,
    keep_cols: list[str],
    face_col: str = "face",
    i_col: str = "i",
    j_col: str = "j",
    out_col: str = "s2_cell",
    parent_levels: tuple = (),
) -> str:
    """Chained-CTE SQL computing the S2 id for (face, i, j) at ``level``.

    Pure +, *, floor, %, CASE arithmetic — the identical string is valid in
    Spark SQL and DuckDB (repo convention, see geo/grid.py), so the
    driver oracle hash-checks the codec itself.  One CTE per level threads
    the (d, r) Hilbert state; no expression blowup in either engine.
    ``keep_cols`` are the passthrough columns of the final SELECT."""
    carry = list(dict.fromkeys(list(keep_cols) + [face_col, i_col, j_col]))
    cl = ", ".join(carry)
    parts = [
        f"s2_l0 AS (SELECT {cl}, CAST(0 AS BIGINT) AS s2_d, "
        f"({face_col}) % 2 AS s2_r FROM {src_sql})"
    ]
    for step, k in enumerate(range(level - 1, -1, -1), start=1):
        p = 1 << k
        ij = (
            f"(CAST(FLOOR(({i_col}) / {p}) AS BIGINT) % 2) * 2 "
            f"+ (CAST(FLOOR(({j_col}) / {p}) AS BIGINT) % 2)"
        )
        key = f"s2_r * 4 + ({ij})"
        parts.append(
            f"s2_l{step} AS (SELECT {cl}, "
            f"s2_d * 4 + {_case16(key, _POS_TAB)} AS s2_d, "
            f"{_case16(key, _NEXTR_TAB)} AS s2_r "
            f"FROM s2_l{step - 1})"
        )
    shift = 1 << (2 * (MAX_LEVEL - level) + 1)
    fb = _FACE_BASE.format(f=face_col)
    outs = [
        f"{fb} + s2_d * CAST({shift} AS BIGINT) + CAST({shift // 2} AS BIGINT) "
        f"AS {out_col}"
    ] + _parent_exprs(level, parent_levels, fb, out_col)
    final = (
        f"SELECT {', '.join(list(keep_cols) + outs)} FROM s2_l{level}"
    )
    return "WITH " + ", ".join(parts) + " " + final


def s2_withcolumns(df, level: int, face_col="face", i_col="i", j_col="j",
                   out_col="s2_cell", parent_levels: tuple = ()):
    """Spark DataFrame version of the SAME arithmetic (withColumn per level,
    JVM-side codegen — no Python in the hot path)."""
    from pyspark.sql import functions as F

    df = df.withColumn("s2_d", F.lit(0).cast("long")).withColumn(
        "s2_r", F.col(face_col) % 2
    )
    for k in range(level - 1, -1, -1):
        p = 1 << k
        ij = (
            f"(CAST(FLOOR(({i_col}) / {p}) AS BIGINT) % 2) * 2 "
            f"+ (CAST(FLOOR(({j_col}) / {p}) AS BIGINT) % 2)"
        )
        key = f"s2_r * 4 + ({ij})"
        df = df.withColumns(
            {
                "s2_d": F.expr(f"s2_d * 4 + {_case16(key, _POS_TAB)}"),
                "s2_r": F.expr(_case16(key, _NEXTR_TAB)),
            }
        )
    shift = 1 << (2 * (MAX_LEVEL - level) + 1)
    fb = _FACE_BASE.format(f=face_col)
    df = df.withColumn(
        out_col,
        F.expr(f"{fb} + s2_d * CAST({shift} AS BIGINT) + CAST({shift // 2} AS BIGINT)"),
    )
    for expr in _parent_exprs(level, parent_levels, fb, out_col):
        body, alias = expr.rsplit(" AS ", 1)
        df = df.withColumn(alias, F.expr(body))
    return df.drop("s2_d", "s2_r")


def s2_cell_col(lat_col, lng_col, level: int):
    """lat/lng Columns -> S2 cell id Column at ``level`` via a vectorized
    Arrow UDF (the float trig path; the integer path above stays SQL)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _enc(lat: pd.Series, lng: pd.Series) -> pd.Series:
        return pd.Series(latlng_to_cellid_np(lat.to_numpy(), lng.to_numpy(), level))

    return _enc(lat_col, lng_col)
