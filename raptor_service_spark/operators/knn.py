"""kNN operators: brute-force cosine top-k + grid-compacted ANN.

Replaces pgvector's HNSW-backed ``ORDER BY v <=> q LIMIT k``
(/root/reference/repositories/retrieval_repo.py:267-279, index
db/models/embeddings.py:38-43). Spark has no ANN index; the scale path is
GRID-COMPACTED kNN (BASELINE.json north_star): vectors get a deterministic 2-D
projection -> grid cell; a query prunes to its k-ring of cells (partition
pruning when the table is written partitioned by cell) and runs exact cosine
only inside the candidate set, falling back to wider rings until enough
candidates exist.

Single query: ``brute_force_knn`` scores in the JVM (codegen) and keeps k
rows with TakeOrderedAndProject; ``grid_knn`` first prunes to the planned
ring. ``brute_force_knn_np`` is its twin for a matrix already in driver
memory (the tile-tree head). Many queries: ``brute_force_knn_multi`` and
``grid_knn_multi`` share one Arrow kernel (``_multi_knn``) — one GEMM per
batch, a tie-safe local top-k per query, then a per-qid window, so the
shuffle carries only each batch's candidates.
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from raptor_service_spark.functions.vector import cosine_dist_col, hash_embed_np
from raptor_service_spark.geo.grid import (
    RES_MULTIPLIER,
    cell_encode_col,
    cell_encode_np,
    cell_encode_sql,
    cell_parent_np,
    kring_np,
)

# Seeds the 2-D projection basis. Part of the stored index format: every
# ann_cell written by build_ann_index and every query's probed cells derive
# from it, and the oracle SQL embeds its basis as literals.
PROJECTION_SEED = 4242
# Ring planner: widen the query's k-ring (1, 2, 4, ... MAX_RING) until the
# rings hold k * MIN_CANDIDATES_FACTOR rows; past MAX_RING scan everything.
MIN_CANDIDATES_FACTOR = 32
MAX_RING = 8
_RINGS = tuple(1 << i for i in range(MAX_RING.bit_length()))
ANN_PFX_RES = 3  # 64 coarse directories for the partitioned index layout
WRITE_SALTS = 32  # hash fan-out of each pfx directory in a wide index write


def _projection_basis(dim: int) -> np.ndarray:
    rng = np.random.default_rng([PROJECTION_SEED, dim])
    b = rng.standard_normal((2, dim))
    return b / np.linalg.norm(b, axis=1, keepdims=True)


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm; all-zero rows stay zero."""
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def check_query(q) -> np.ndarray:
    """``q`` (one vector, or one query per row) as float64. Raises
    ``ValueError`` when its cosine is undefined: an all-zero or non-finite
    query. Runs on the driver, before any Spark job: left to the kernels, a
    zero query fails a task with DIVIDE_BY_ZERO (ANSI) or ranks NaN
    distances."""
    q = np.asarray(q, dtype=np.float64)
    norms = np.linalg.norm(q, axis=-1)
    if not (np.isfinite(norms) & (norms > 0)).all():
        raise ValueError("query vector must be finite and not all-zero")
    return q


def _round9(x: float) -> Decimal:
    """Spark's ``round(dist, 9)`` on a double: HALF_UP on its decimal form."""
    return Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP)


def _cell_counts(df_with_cell: DataFrame) -> dict[int, int]:
    """Occupancy histogram ``ann_cell -> rows``: the ring planner's statistic."""
    return {
        r["ann_cell"]: r["cnt"]
        for r in df_with_cell.groupBy("ann_cell").agg(F.count("*").alias("cnt")).collect()
    }


def _top_k_per_qid(scored: DataFrame, k: int) -> DataFrame:
    """Global top-k per ``qid`` over locally pre-cut candidates, ordered by
    (round(dist, 9), id) like brute_force_knn."""
    w = Window.partitionBy("qid").orderBy(F.round(F.col("dist"), 9).asc(), F.col("id").asc())
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def _multi_knn(
    rows: DataFrame,
    qmat: np.ndarray,
    qids: list[str],
    k: int,
    cells: list[list[int] | None] | None = None,
    vec_dtype: str | None = None,
) -> DataFrame:
    """Top-k per qid of ``rows`` (``id``, ``v``, and ``ann_cell`` with
    ``cells``) in one ``mapInPandas`` pass. Each batch's vectors (list<float>,
    or with ``vec_dtype`` the index's packed binary) meet every query in one
    GEMM; query ``i`` counts only rows whose ``ann_cell`` is in ``cells[i]``
    (all rows when that is None). A batch keeps every row within 1e-9 of its
    k-th distance, so no tie under (round(dist, 9), id) is cut before the
    merge window."""
    qn = _unit_rows(qmat)
    cells = cells or [None] * len(qmat)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            if vec_dtype is None:
                mat = np.array(pdf["v"].tolist(), dtype=np.float64)
            else:
                mat = np.frombuffer(b"".join(pdf["v"]), dtype=vec_dtype).reshape(len(pdf), -1)
            dist = 1.0 - _unit_rows(mat.astype(np.float64)) @ qn.T  # (batch, nq)
            ids = pdf["id"].to_numpy()
            out = []
            for i, qid in enumerate(qids):
                d = dist[:, i]
                sel = np.arange(len(d))
                if cells[i] is not None:
                    sel = np.flatnonzero(np.isin(pdf["ann_cell"].to_numpy(), cells[i]))
                if len(sel) > k:
                    kth = np.partition(d[sel], k - 1)[k - 1]
                    sel = sel[d[sel] <= kth + 1e-9]
                out.append(pd.DataFrame({"qid": qid, "id": ids[sel], "dist": d[sel]}))
            yield pd.concat(out, ignore_index=True)

    id_type = rows.schema["id"].dataType.simpleString()
    scored = rows.mapInPandas(score, schema=f"qid string, id {id_type}, dist double")
    return _top_k_per_qid(scored, k)


def _query_cell(q: np.ndarray, res: int) -> int:
    qlat, qlng = project_to_latlng_np(np.asarray(q, dtype=np.float64)[None, :])
    return int(cell_encode_np(qlat, qlng, res)[0])


def projected_cell_sql(vec_expr: str, res: int, dim: int) -> str:
    """ANSI-SQL (DuckDB-runnable) twin of ``with_projected_cell``'s bucket id.

    Emits the identical float64 pipeline as ``project_to_latlng_np`` +
    ``cell_encode_sql`` — explicit sequential dot products against the literal
    projection basis, logistic CDF squash, clip, grid encode — so the driver's
    DuckDB oracle can reproduce ANN bucket membership exactly (verified 0/500
    cell mismatches at sf0.001 and sf0.01). SQL-side arithmetic is pure
    float64; the only parity risk is a projected coordinate landing within
    ~1 ulp of a cell edge, which the fixed test corpora do not contain."""
    basis = _projection_basis(dim)
    norm = (
        "sqrt("
        + " + ".join(
            f"({vec_expr}[{j + 1}]::DOUBLE * {vec_expr}[{j + 1}]::DOUBLE)" for j in range(dim)
        )
        + ")"
    )
    dots = [
        " + ".join(f"({vec_expr}[{j + 1}]::DOUBLE * {basis[r, j]!r})" for j in range(dim))
        for r in range(2)
    ]
    sqrt_dim = repr(float(np.sqrt(dim)))
    u0 = f"(1.0 / (1.0 + exp(-1.702 * ((({dots[0]}) / {norm}) * {sqrt_dim}))))"
    u1 = f"(1.0 / (1.0 + exp(-1.702 * ((({dots[1]}) / {norm}) * {sqrt_dim}))))"
    lat = f"GREATEST(-89.9, LEAST(89.9, (({u0}) * 2.0 - 1.0) * 85.0))"
    lng = f"GREATEST(-179.9, LEAST(179.9, (({u1}) * 2.0 - 1.0) * 179.0))"
    return cell_encode_sql(lat, lng, res)


def project_to_latlng_np(mat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic 2-D hash-projection of embeddings onto the lat/lng domain.

    Cosine-similar vectors project to nearby points (random-projection LSH
    property), so grid cells act as coarse ANN buckets (SURVEY §1.3: replaces
    the UMAP 2-D reduction).

    The raw dot of a random unit vector with a unit basis direction
    concentrates around 0 with std ~ 1/sqrt(dim), which would pile ~all mass
    into the few center cells and defeat cell pruning (measured: one res-4
    cell held 15% of a 1.1M index). So the coordinate is variance-normalized
    (* sqrt(dim)) and pushed through a logistic CDF approximation of the
    normal CDF — a monotonic map, so neighborhoods are preserved — yielding
    near-uniform bucket occupancy across the grid."""
    mat = np.asarray(mat, dtype=np.float64)
    p = _unit_rows(mat) @ _projection_basis(mat.shape[1]).T  # concentrated ~N(0, 1/dim)
    z = p * np.sqrt(mat.shape[1])
    u = 1.0 / (1.0 + np.exp(-1.702 * z))  # logistic approx of Phi(z), in (0,1)
    lat = np.clip((u[:, 0] * 2.0 - 1.0) * 85.0, -89.9, 89.9)
    lng = np.clip((u[:, 1] * 2.0 - 1.0) * 179.0, -179.9, 179.9)
    return lat, lng


def with_projected_cell(df: DataFrame, vec_col: str = "v", res: int = 6) -> DataFrame:
    """Attach the ANN bucket cell to a vector DataFrame (Arrow-batched)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                lat, lng = project_to_latlng_np(mat)
                pdf = pdf.assign(_plat=lat, _plng=lng)
            else:
                pdf = pdf.assign(_plat=pd.Series(dtype=float), _plng=pd.Series(dtype=float))
            yield pdf

    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        list(df.schema.fields)
        + [StructField("_plat", DoubleType()), StructField("_plng", DoubleType())]
    )
    out = df.mapInPandas(gen, schema=schema)
    return out.withColumn(
        "ann_cell", cell_encode_col(F.col("_plat"), F.col("_plng"), res)
    ).drop("_plat", "_plng")


def brute_force_knn(
    df: DataFrame,
    q: np.ndarray,
    k: int,
    vec_col: str = "v",
    payload_cols: tuple[str, ...] = (),
    id_col: str = "id",
) -> DataFrame:
    """Exact cosine top-k against one query vector.

    JVM-side distance (codegen) + TakeOrderedAndProject; ordering key is
    (round(dist, 9), id) so near-ties are deterministic across float fold
    orders (SURVEY §7.4.1); the returned dist stays exact.
    """
    q = check_query(q)
    cols = [id_col, *payload_cols]
    return (
        df.select(*cols, cosine_dist_col(F.col(vec_col), q).alias("dist"))
        .orderBy(F.round(F.col("dist"), 9).asc(), F.col(id_col).asc())
        .limit(k)
    )


def brute_force_knn_np(mat: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int) -> np.ndarray:
    """Driver-side twin of ``brute_force_knn`` for a matrix already in
    memory (the tile-tree head): the row indices of the top ``k`` rows of
    ``mat``, whose ids are ``ids``.

    Same float64 fold as ``cosine_sim_col`` (products summed over the
    dimensions left to right, then ``dot / (sqrt(sq) * |q|)``) and the same
    order (Spark's HALF_UP ``round(dist, 9)``, then id), so it returns the
    rows ``brute_force_knn`` would, in its order."""
    q = check_query(q)
    dot = np.zeros(len(mat))
    sq = np.zeros(len(mat))
    for j in range(mat.shape[1]):
        dot = dot + mat[:, j] * q[j]
        sq = sq + mat[:, j] * mat[:, j]
    dist = 1.0 - dot / (np.sqrt(sq) * float(np.linalg.norm(q)))
    keys = [(_round9(d), i) for d, i in zip(dist.tolist(), ids.tolist())]
    return np.array(sorted(range(len(keys)), key=keys.__getitem__)[:k], dtype=np.int64)


def brute_force_knn_multi(df: DataFrame, queries: np.ndarray, qids: list[str], k: int) -> DataFrame:
    """Exact top-k for MANY queries in one pass over ``df`` (``id``, ``v``
    list<float>): every row is scored against every query in the shared
    Arrow kernel (``_multi_knn``). Output: (qid, id, dist), top-k per qid."""
    return _multi_knn(df.select("id", "v"), check_query(queries), qids, k)


def grid_knn(
    df_with_cell: DataFrame,
    q: np.ndarray,
    k: int,
    res: int = 6,
    vec_col: str = "v",
    payload_cols: tuple[str, ...] = (),
    id_col: str = "id",
) -> DataFrame:
    """Grid-compacted ANN: k-ring candidate pruning + exact cosine re-rank.

    ``df_with_cell`` must carry ``ann_cell`` (see with_projected_cell). The
    ``ann_cell IN (<ring>)`` predicate is a literal IN-list -> pushed to the
    parquet/Iceberg scan (partition pruning when partitioned by ann_cell).
    Ring size is chosen driver-side from ONE occupancy-histogram job
    (groupBy(ann_cell).count()) via plan_candidate_cells — not a
    count-job-per-ring probe loop; recall measured in tests vs brute force.
    """
    q = check_query(q)
    cells = plan_candidate_cells(_cell_counts(df_with_cell), q, k, res)
    if cells is None:  # sparse table: degrade to exact full scan
        cand = df_with_cell
    else:
        cand = df_with_cell.filter(F.col("ann_cell").isin(cells))
    return brute_force_knn(cand, q, k, vec_col, payload_cols, id_col)


def build_ann_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "id",
    dim: int = 64,
    res: int = 4,
    rounds: int = 1,
    vec_dtype: str = "<f4",
) -> DataFrame:
    """Fused embed + 2-D projection + bucket cell in ONE Arrow pass.

    Emits ``(id, v binary, ann_cell, pfx)``:
      * ``v`` is the little-endian float32 byte packing of the vector —
        parquet decodes a flat binary column far faster than list<float>,
        and the scoring kernel rebuilds the matrix with one ``frombuffer``;
      * ``pfx`` is the coarse parent cell (res ``ANN_PFX_RES``) used as the
        table's directory-partition column so query rings prune whole
        partitions (Iceberg partition transform at real scale).

    Write layout (see write_ann_index): hash-repartition on (pfx, salt) —
    salt spreads hot cells such as the empty-text mega-cell over several
    files — then sortWithinPartitions(pfx, ann_cell) so row-group min/max
    stats make the residual ``ann_cell`` predicate skip within partitions.
    Fusing the three kernels into one ``mapInPandas`` avoids re-shipping the
    vector column between Python stages."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = hash_embed_np(pdf[text_col], dim, rounds=rounds)
            lat, lng = project_to_latlng_np(mat)
            cells = cell_encode_np(lat, lng, res)
            packed = np.ascontiguousarray(mat, dtype=vec_dtype)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].astype(str).to_numpy(),
                    "v": [row.tobytes() for row in packed],
                    "ann_cell": cells.astype(np.int64),
                    "pfx": cell_parent_np(cells, ANN_PFX_RES).astype(np.int64),
                }
            )

    return df.select(F.col(id_col).alias("id"), F.col(text_col).alias(text_col)).mapInPandas(
        gen, schema="id string, v binary, ann_cell long, pfx long"
    )


def _write_ann_index(index: DataFrame, path: str, mode: str, npart: int | None) -> None:
    out = index
    if npart:
        out = out.repartition(
            npart, F.col("pfx"), F.pmod(F.xxhash64("id"), F.lit(WRITE_SALTS))
        )
    out.sortWithinPartitions("pfx", "ann_cell").write.mode(mode).partitionBy("pfx").parquet(path)


def write_ann_index(index: DataFrame, path: str, npart: int | None = None) -> None:
    """Persist the ANN index partitioned by coarse cell.

    Default is the NARROW write: each scan task locally sorts by (pfx,
    ann_cell) and fans its rows into the pfx directories — no shuffle of the
    vector payload at all. Pass ``npart`` to instead hash-repartition on
    (pfx, salt) first — fewer, bigger files per partition and explicit
    hot-cell spreading (the Iceberg write-distribution mode you'd pick on a
    real cluster where shuffle bandwidth scales with executors; the salt
    spreads hot cells such as the empty-text mega-cell over ``WRITE_SALTS``
    writers)."""
    _write_ann_index(index, path, "overwrite", npart)


def append_ann_index(new_index: DataFrame, path: str, npart: int | None = None) -> None:
    """Incremental index ingest: append new vectors into the SAME pfx
    directory layout (dynamic partition append — new files land inside the
    existing coarse-cell directories, each internally sorted by (pfx,
    ann_cell) so row-group pruning keeps working). Search results over the
    appended index are identical to an index rebuilt from scratch on the
    union (candidate scans are layout-independent); callers must append
    NEW ids only — idempotent re-ingest goes through a catalog merge
    instead."""
    _write_ann_index(new_index, path, "append", npart)


def plan_candidate_cells(
    cell_counts: dict[int, int],
    q: np.ndarray,
    k: int,
    res: int,
) -> list[int] | None:
    """Driver-side ring planner from tile-occupancy stats (SURVEY §4.2 #1).

    Expands the k-ring around the query's bucket until the summed occupancy
    covers ``k * MIN_CANDIDATES_FACTOR`` — zero Spark jobs; the histogram is
    tiny (bounded by 4^res cells). Returns None when the table is too sparse,
    meaning: scan everything (exact fallback)."""
    qcell = _query_cell(q, res)
    target = max(k * MIN_CANDIDATES_FACTOR, k)
    for ring in _RINGS:
        cells = [int(c) for c in kring_np(qcell, ring)]
        if sum(cell_counts.get(c, 0) for c in cells) >= target:
            return cells
    return None


def grid_knn_sql(
    table: str,
    q: np.ndarray,
    k: int,
    res: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of ``grid_knn`` (cell bucketing + ring planner + exact
    re-rank), so the driver oracle verifies the APPROXIMATE grid-ANN path's
    exact output instead of a rows-only count.

    The planner is replicated relationally: per-cell occupancy, wrapped
    Chebyshev ring distance to the query's cell (lng wraps mod n, lat is
    in-bounds by construction — kring_np semantics), smallest ring in
    ``_RINGS`` whose occupancy sum reaches ``k * MIN_CANDIDATES_FACTOR``,
    NULL -> full scan."""
    q = np.asarray(q, dtype=np.float64)
    qcell = _query_cell(q, res)
    n = 1 << res
    rem = qcell - res * RES_MULTIPLIER
    qy, qx = rem // n, rem % n
    target = max(k * MIN_CANDIDATES_FACTOR, k)
    cell = projected_cell_sql(vec_col, res, dim)
    qsql = "[" + ", ".join(f"{x:.6f}" for x in q) + "]"
    dist = f"(1.0 - list_cosine_similarity(v, {qsql}))"
    return f"""
        WITH base AS (
            SELECT CAST({id_col} AS VARCHAR) AS id,
                   list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v,
                   {cell} AS ann_cell
            FROM {table}
        ),
        occ AS (
            SELECT ann_cell, COUNT(*) AS c,
                   GREATEST(
                       LEAST(ABS((ann_cell - {res * RES_MULTIPLIER}) % {n} - {qx}),
                             {n} - ABS((ann_cell - {res * RES_MULTIPLIER}) % {n} - {qx})),
                       ABS(CAST(FLOOR((ann_cell - {res * RES_MULTIPLIER}) / {n}) AS BIGINT) - {qy})
                   ) AS cheb
            FROM base GROUP BY 1
        ),
        chosen AS (
            SELECT MIN(r) AS ring FROM (VALUES {", ".join(f"({r})" for r in _RINGS)}) rings(r)
            WHERE (SELECT COALESCE(SUM(c), 0) FROM occ WHERE cheb <= r) >= {target}
        )
        SELECT id, ROUND({dist}, 6) AS dist
        FROM base
        WHERE (SELECT ring FROM chosen) IS NULL
           OR ann_cell IN (SELECT ann_cell FROM occ
                           WHERE cheb <= (SELECT ring FROM chosen))
        ORDER BY ROUND({dist}, 9) ASC, id ASC
        LIMIT {k}
    """


def grid_knn_multi(
    index: DataFrame,
    queries: np.ndarray,
    qids: list[str],
    k: int,
    res: int = 4,
    cell_counts: dict[int, int] | None = None,
    vec_dtype: str = "<f4",
) -> DataFrame:
    """Grid-compacted kNN for MANY queries in one pass over the index.

    The ring planner picks each query's cells on the driver from the
    occupancy histogram (one job, skipped by passing ``cell_counts``). When
    every query has planned cells, the scan is pruned before any vector is
    decoded: ``pfx IN (...)`` prunes directory partitions and ``ann_cell IN
    (...)`` skips row groups (files are sorted by ann_cell); an unplanned
    query (sparse table) scans the whole index. ``_multi_knn`` then scores
    each query on its own cells only: with ``cell_counts`` a request runs two
    jobs, the scan-and-score stage and the per-qid merge.

    Output: (qid, id, dist), top-k per qid. ``index`` must carry (id, v
    binary, ann_cell, pfx) — see build_ann_index.
    """
    qmat = check_query(queries)
    if cell_counts is None:
        cell_counts = _cell_counts(index)
    cells = [plan_candidate_cells(cell_counts, q, k, res) for q in qmat]
    rows = index
    if all(c is not None for c in cells):
        union = sorted({c for cs in cells for c in cs})
        prefixes = sorted({int(p) for p in cell_parent_np(np.array(union), ANN_PFX_RES)})
        rows = index.filter(F.col("pfx").isin(prefixes) & F.col("ann_cell").isin(union))
    return _multi_knn(rows.select("id", "v", "ann_cell"), qmat, qids, k, cells, vec_dtype)
