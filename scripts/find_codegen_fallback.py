"""Hunt for whole-stage-codegen compile failures (Janino) across the registry.

BENCH_r03.json's stderr tail carried a truncated Janino stack trace: some
query's generated code fails to compile, Spark silently falls back to
interpreted execution, and the query runs de-optimized.  This script makes the
failure LOUD: it re-runs queries with ``spark.sql.codegen.fallback=false`` (so
a compile error raises instead of degrading) and reports every offender.

Usage::

    python scripts/find_codegen_fallback.py [sf_dir] [only_query ...]
"""
from __future__ import annotations

import os
import sys
import time

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
ONLY = sys.argv[2:]


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as mod
    from raptor_service_spark.session import get_spark

    spark = get_spark(
        "codegen-hunt",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        extra_conf={
            # raise instead of silently interpreting
            "spark.sql.codegen.fallback": "false",
            "spark.sql.codegen.wholeStage": "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qmap = mod.queries()
    names = ONLY or list(qmap)
    bad: list[tuple[str, str]] = []
    t_start = time.perf_counter()
    for i, name in enumerate(names):
        t0 = time.perf_counter()
        try:
            df = qmap[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            status = "ok"
        except Exception as e:  # noqa: BLE001 - we classify below
            msg = str(e)
            if ("janino" in msg.lower() or "compile" in msg.lower()
                    or "codegen" in msg.lower() or "64 KB" in msg
                    or "grows beyond" in msg):
                bad.append((name, msg[:500]))
                status = "CODEGEN-FAIL"
            else:
                bad.append((name, "OTHER: " + msg[:500]))
                status = "OTHER-FAIL"
        dt = time.perf_counter() - t0
        print(f"[{i + 1}/{len(names)}] {name}: {status} ({dt:.1f}s)",
              flush=True)
    print(f"\ntotal {time.perf_counter() - t_start:.0f}s; {len(bad)} failures")
    for name, msg in bad:
        print(f"\n=== {name} ===\n{msg}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
