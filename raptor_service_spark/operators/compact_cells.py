"""Cell-set compaction (H3 ``compact`` analog for the quadtree grid).

Given the set of occupied cells at one resolution, produce the minimal
multi-resolution cover: every complete 4-sibling quad is replaced by its
parent, recursively — the canonical representation tile servers and Iceberg
partition manifests use to describe a region with the fewest predicates
(an IN-list over a compacted cover prunes the same files with far fewer
entries).

Dataflow: a driver loop over resolutions (bounded, <= res steps); each step
is ONE partial+final count agg over the CELL SET (occupied cells — never
point rows) plus one anti-join, both keyed on the packed parent id. The
union of per-level keeps is the cover. All arithmetic is the packed-id
parent formula (geo/grid.py) — codegen, and identical in the DuckDB oracle
(compact_cells_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raptor_service_spark.geo.grid import cell_parent_col, cell_parent_sql


def compact_cells(cells: DataFrame, res: int, min_res: int = 0) -> DataFrame:
    """cells: one ``cell`` column at resolution ``res`` (distinct not
    required). Output: minimal cover, one ``cell`` column, mixed
    resolutions in [min_res, res]."""
    # Materialize the occupied-cell set ONCE: every ladder level and every
    # union branch below re-reads these blocks instead of re-scanning the
    # source (the naive plan scans the point table once per output branch —
    # N full corpus scans at 100 TB). localCheckpoint (not persist) ties the
    # blocks' lifetime to the RDD, same convention as dedup.py components.
    cur = cells.select("cell").distinct().localCheckpoint(eager=False)
    kept: list[DataFrame] = []
    for r in range(res, min_res, -1):
        withp = cur.withColumn("p", cell_parent_col("cell", r, r - 1))
        full = (
            withp.groupBy("p")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") == 4)
            .select("p")
        )
        kept.append(withp.join(full, "p", "left_anti").select("cell"))
        cur = full.select(F.col("p").alias("cell"))
    kept.append(cur)
    out = kept[0]
    for df in kept[1:]:
        out = out.unionByName(df)
    return out


def compact_cells_sql(base_cells_sql: str, res: int, min_res: int = 0) -> str:
    """DuckDB twin: same ladder as compact_cells, unrolled into CTEs.
    ``base_cells_sql`` must select a single ``cell`` column at ``res``."""
    ctes = [f"c{res} AS (SELECT DISTINCT cell FROM ({base_cells_sql}))"]
    selects = []
    for r in range(res, min_res, -1):
        parent = cell_parent_sql("cell", r, r - 1)
        ctes.append(
            f"f{r} AS (SELECT {parent} AS p FROM c{r} "
            f"GROUP BY 1 HAVING COUNT(*) = 4)"
        )
        ctes.append(
            f"k{r} AS (SELECT cell FROM c{r} "
            f"WHERE {parent} NOT IN (SELECT p FROM f{r}))"
        )
        ctes.append(f"c{r - 1} AS (SELECT p AS cell FROM f{r})")
        selects.append(f"SELECT cell FROM k{r}")
    selects.append(f"SELECT cell FROM c{min_res}")
    return "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(selects)


def uncompact_cells_col(cell: F.Column | str, target_res: int) -> F.Column:
    """array<long> of ``target_res`` descendants of a MIXED-resolution cell
    column (each row's resolution read from the packed id) — closed-form
    sequence x sequence block expansion, codegen, no iteration.

    Inverse of compact_cells: uncompact(compact(S), r) == S for any cell
    set S at resolution r.
    """
    from raptor_service_spark.geo.grid import RES_MULTIPLIER

    if isinstance(cell, str):
        cell = F.col(cell)
    tn = 2**target_res
    r = F.floor(cell / F.lit(RES_MULTIPLIER)).cast("long")
    n = F.pow(F.lit(2.0), r.cast("double")).cast("long")
    shift = F.pow(F.lit(2.0), (F.lit(target_res) - r).cast("double")).cast("long")
    rem = cell - r * F.lit(RES_MULTIPLIER)
    y = F.floor(rem / n).cast("long")
    x = (rem - y * n).cast("long")
    return F.flatten(
        F.transform(
            F.sequence(y * shift, (y + F.lit(1)) * shift - F.lit(1)),
            lambda yy: F.transform(
                F.sequence(x * shift, (x + F.lit(1)) * shift - F.lit(1)),
                lambda xx: F.lit(target_res * RES_MULTIPLIER) + yy * F.lit(tn) + xx,
            ),
        )
    )
