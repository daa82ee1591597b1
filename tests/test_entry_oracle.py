"""Replicates the driver's correctness gate: every queries() entry with an
oracle_sql() runs on Spark AND DuckDB at sf0.001; row sets must match exactly
(order-insensitive, column-name aligned) — the same comparison the driver
does at sf0.01."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod
import offpaper_queries

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
                if math.isnan(v):
                    v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    return sorted(map(repr, out))


# The paper-surface registry plus the off-paper one: every query in either
# is held to its oracle.
ORACLES = {**entry_mod.oracle_sql(), **offpaper_queries.oracle_sql()}
QUERIES = {**entry_mod.queries(), **offpaper_queries.queries()}


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]

    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    # The driver hashes via Arrow, where DuckDB's HUGEINT (e.g. an un-cast
    # integer SUM) becomes decimal128 and formats differently from Spark's
    # BIGINT even when values are identical. Guard the type at the source.
    arrow_types = {
        f.name: str(f.type) for f in duck.execute(ORACLES[name]).arrow().schema
    }
    decimals = {c: t for c, t in arrow_types.items() if t.startswith("decimal")}
    assert not decimals, (
        f"{name}: oracle emits decimal-typed columns {decimals} — wrap the "
        f"aggregate in CAST(... AS BIGINT/DOUBLE) to match Spark's type"
    )

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column mismatch"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    a = _canon(spark_rows, spark_cols)
    b = _canon(duck_rows, duck_cols)
    mism = [x for x, y in zip(a, b) if x != y]
    assert a == b, f"{name}: value mismatch, first diffs: {mism[:3]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["doc_id", "dist"]


def test_every_query_has_an_oracle():
    """Round-3 invariant: ZERO rows-only entries — every queries() entry
    carries a value-checked DuckDB oracle (the former rows-only quartet
    all gained full oracles). A regression here means a new query shipped
    without its oracle."""
    assert sorted(set(QUERIES) - set(ORACLES)) == []
    assert sorted(set(ORACLES) - set(QUERIES)) == []
    # the two registries are disjoint, so the merged maps hide nothing
    assert not set(entry_mod.queries()) & set(offpaper_queries.queries())


def test_kanon_invariants(spark, sf_dir):
    """Every released cell is shared by >= k users (anonymity) AND is the
    finest ladder level achieving that (utility): one level finer must
    break the k bound for at least-that-user, verified by recomputing
    level occupancy from the output-independent home table."""
    import collections

    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F
    from raptor_service_spark.geo.grid import cell_parent_np

    import numpy as np

    out = {r.user_id: r for r in offpaper_queries.q_kanon_cells(spark, sf_dir).collect()}
    k, ladder = offpaper_queries._KANON_K, offpaper_queries._KANON_LADDER
    assert all(r.n_sharing >= k for r in out.values())

    # recompute homes independently (same argmax contract)
    ev = entry_mod._read(spark, sf_dir, "events").select("event_id", "user_id")
    lat, lng = entry_mod._latlng_cols(F.col("event_id"))
    from raptor_service_spark.geo.grid import cell_encode_col
    from pyspark.sql import Window

    counts = (
        ev.withColumn("cell", cell_encode_col(lat, lng, ladder[0]))
        .groupBy("user_id", "cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("cell").asc())
    homes = {
        r.user_id: r.cell
        for r in counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .collect()
    }
    # per-level occupancy from homes
    occ = {r: collections.Counter() for r in ladder}
    for u, c in homes.items():
        for r in ladder:
            p = c if r == ladder[0] else int(cell_parent_np(np.array([c]), r)[0])
            occ[r][p] += 1
    for u, row in out.items():
        c = homes[u]
        # claimed level holds
        p = c if row.anon_res == ladder[0] else int(
            cell_parent_np(np.array([c]), row.anon_res)[0]
        )
        assert p == row.anon_cell and occ[row.anon_res][p] == row.n_sharing
        # finest: every finer ladder level breaks k
        for r in ladder:
            if r <= row.anon_res:
                continue
            pf = c if r == ladder[0] else int(cell_parent_np(np.array([c]), r)[0])
            assert occ[r][pf] < k


def test_seq_packing_invariants(spark, sf_dir):
    """Concat-and-split packing: windows tile the token stream exactly —
    offsets chain (next doc starts where the previous ended, mod budget),
    every bin except the last is filled to the budget, and each doc's
    span covers ceil((offset+tok)/budget) windows."""
    import __spark_entry__ as entry_mod

    rows = entry_mod.q_seq_packing(spark, sf_dir).collect()
    budget = entry_mod._PACK_BUDGET
    # reconstruct stream order from (bin_start, bin_offset)
    rows.sort(key=lambda r: (r.bin_start, r.bin_offset, r.doc_id))
    cum = 0
    for r in rows:
        assert r.bin_start * budget + r.bin_offset == cum
        assert r.bin_end == (cum + r.tok - 1) // budget
        cum += r.tok
    assert rows, "packing produced no rows"


def test_weighted_sample_favors_heavy_docs(spark, sf_dir):
    """A-Res sanity: the weighted sample's mean n_chars must exceed the
    corpus mean (weights = n_chars), and the draw is deterministic."""
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    s1 = offpaper_queries.q_weighted_sample(spark, sf_dir).collect()
    s2 = offpaper_queries.q_weighted_sample(spark, sf_dir).collect()
    assert s1 == s2
    sample_mean = sum(r.n_chars for r in s1) / len(s1)
    corpus_mean = (
        entry_mod._read(spark, sf_dir, "documents")
        .agg(F.avg("n_chars").alias("m"))
        .collect()[0]
        .m
    )
    assert sample_mean > corpus_mean
