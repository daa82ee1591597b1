"""Hexagonal binning (H3/Uber-style axial hex grid) as shared arithmetic.

The square grid (`geo/grid.py`) is the engine's workhorse; hex bins are the
classic alternative for density mapping because every neighbor is
equidistant (no diagonal bias) — the reason H3 exists. This module bins
planar (x, y) points into pointy-top hexagons of size ``s`` (circumradius,
in the same units as x/y) via the textbook pixel→axial→cube-round walk
(Red Blob Games "Hexagonal Grids", public):

    qf = (sqrt(3)/3 · x − 1/3 · y) / s        -- fractional axial
    rf = (2/3 · y) / s
    cube round: rx,ry,rz = round(qf), round(−qf−rf), round(rf)
                reset the axis with the largest rounding error so
                rx + ry + rz == 0; hex = (q, r) = (rx, rz)

Everything is +,*,abs,floor,CASE over doubles — ONE set of expression
strings valid verbatim in Spark SQL (``F.expr``) and DuckDB, so engine and
oracle share a single definition (parity by construction). ``round`` is
spelled ``FLOOR(v + 0.5)`` (half-toward-+inf) because the engines' ROUND
tie rules differ; float constants are ``CAST('…' AS DOUBLE)`` because bare
decimal literals parse as DECIMAL in DuckDB.

Hex distance is integer arithmetic: (|dq| + |dr| + |dq+dr|) / 2.

Scale shape: the encode is a pure codegen Project (zero shuffles); a hex
density map is one partial+final agg keyed by (hq, hr).
"""

from __future__ import annotations

# sqrt(3)/3 to full double precision; shared literal for both engines.
_SQRT3_3 = "0.5773502691896258"


def _d(lit: str) -> str:
    """Double literal that is a DOUBLE in BOTH engines (DuckDB parses bare
    decimals as DECIMAL, which poisons downstream arithmetic)."""
    return f"CAST({lit} AS DOUBLE)"


def hex_frac_sql(x: str, y: str, size: float) -> tuple[str, str]:
    """(qf, rf) fractional-axial expression strings for point (x, y)."""
    s = _d(repr(float(size)))
    qf = f"(({_d(_SQRT3_3)} * ({x}) - {_d('0.3333333333333333')} * ({y})) / {s})"
    rf = f"(({_d('0.6666666666666666')} * ({y})) / {s})"
    return qf, rf


def _round_sql(v: str) -> str:
    return f"CAST(FLOOR(({v}) + {_d('0.5')}) AS BIGINT)"


def hex_round_sql(qf: str, rf: str) -> tuple[str, str]:
    """Cube-round (qf, rf) — expects the NAMES of materialized fractional
    columns (not raw expressions: each input is referenced ~6 times)."""
    rx = _round_sql(qf)
    ry = _round_sql(f"-({qf}) - ({rf})")
    rz = _round_sql(rf)
    dx = f"ABS({rx} - ({qf}))"
    dy = f"ABS({ry} - (-({qf}) - ({rf})))"
    dz = f"ABS({rz} - ({rf}))"
    big_x = f"({dx} > {dy} AND {dx} > {dz})"
    q = f"(CASE WHEN {big_x} THEN -({ry}) - ({rz}) ELSE {rx} END)"
    r = (
        f"(CASE WHEN NOT {big_x} AND NOT ({dy} > {dz}) "
        f"THEN -({rx}) - ({ry}) ELSE {rz} END)"
    )
    return q, r


def hex_dist_sql(q1: str, r1: str, q2: str, r2: str) -> str:
    """Axial hex distance — pure integer arithmetic."""
    return (
        f"CAST((ABS(({q1}) - ({q2})) + ABS(({r1}) - ({r2})) "
        f"+ ABS(({q1}) + ({r1}) - ({q2}) - ({r2}))) / 2 AS BIGINT)"
    )


def hex_withcolumns(df, size: float, x_col: str, y_col: str):
    """Append BIGINT columns ``hq``, ``hr`` — the hex bin of (x_col, y_col).
    Fractionals are materialized as intermediate columns so Catalyst sees
    flat Projects instead of a 6x-duplicated expression tree."""
    from pyspark.sql import functions as F

    qf, rf = hex_frac_sql(x_col, y_col, size)
    out = df.withColumn("_hqf", F.expr(qf)).withColumn("_hrf", F.expr(rf))
    q, r = hex_round_sql("_hqf", "_hrf")
    return (
        out.withColumn("hq", F.expr(q))
        .withColumn("hr", F.expr(r))
        .drop("_hqf", "_hrf")
    )


def hex_cte_sql(src_sql: str, size: float, x_col: str, y_col: str) -> str:
    """DuckDB CTE chain ending in ``hx`` = src columns + (hq, hr)."""
    qf, rf = hex_frac_sql(x_col, y_col, size)
    q, r = hex_round_sql("hqf", "hrf")
    return (
        f"hf AS (SELECT *, {qf} AS hqf, {rf} AS hrf FROM {src_sql}),\n"
        f"hx AS (SELECT * EXCLUDE (hqf, hrf), {q} AS hq, {r} AS hr FROM hf)"
    )
