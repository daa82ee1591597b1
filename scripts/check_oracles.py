"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, compares row count, schema width, and a
value hash over name-sorted columns — the same compare the driver records in
CORRECTNESS_r{N}.json.  Usage::

    python scripts/check_oracles.py [sf_dir] [only_query ...] [--json out.json]

``--json`` writes the per-query verdicts as a driver-shaped artifact.
"""
from __future__ import annotations

import hashlib
import json
import math
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
args = sys.argv[1:]
JSON_OUT = None
if "--json" in args:
    i = args.index("--json")
    JSON_OUT = args[i + 1]
    del args[i:i + 2]
SF_DIR = args[0] if args else "/root/testdata/sf0.01"
ONLY = set(args[1:])
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def _norm(v):
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sys.path.insert(0, REPO)
    import __spark_entry__ as mod
    from raptor_service_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs, os_ = mod.queries(), mod.oracle_sql()
    bad = 0
    results = {}
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        if name not in os_:
            print(f"{name:35s} rows-only (no oracle)")
            continue
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            res = con.execute(os_[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            bad += 1
            print(f"{name:35s} ERROR: {type(e).__name__}: {e}")
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "err": str(e)[:300]}
            continue
        rows_ok = len(srows) == len(orows)
        schema_ok = sorted(scols) == sorted(ocols)
        hash_ok = (
            rows_ok
            and schema_ok
            and value_hash(srows, scols) == value_hash(orows, ocols)
        )
        mark = "OK " if (rows_ok and schema_ok and hash_ok) else "FAIL"
        if mark != "OK ":
            bad += 1
        results[name] = {
            "rows_match": rows_ok, "schema_match": schema_ok,
            "hash_match": hash_ok, "spark_rows": len(srows),
            "oracle_rows": len(orows), "err": None,
        }
        schema_note = "=" if schema_ok else f"{sorted(scols)}|{sorted(ocols)}"
        print(
            f"{name:35s} {mark} rows={len(srows)}/{len(orows)} "
            f"schema={schema_note} hash={'=' if hash_ok else 'X'}"
        )
    if JSON_OUT:
        with open(JSON_OUT, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
    print(f"\n{'ALL GREEN' if bad == 0 else f'{bad} FAILURES'}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
