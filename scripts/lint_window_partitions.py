"""Registry-wide scale lint (VERDICT r4 item 1): partition-less Window only
over bounded input.

A ``Window.orderBy(...)`` without ``partitionBy`` plans as a SINGLE-PARTITION
WindowExec: every input row moves through one task.  That is fine over a
bounded table (a ``limit`` result, a constant-cardinality aggregate like
res-4 cells or calendar days) and a scale-killer over anything O(data).

This lint walks the OPTIMIZED LOGICAL plan of every registry query at
sf0.001 and, for each Window node with an empty partitionSpec:

- auto-accepts it when every lineage path of the window's input passes
  through a GlobalLimit/LocalLimit (bounded by construction — the
  TakeOrderedAndProject pattern); a Limit in an unrelated join branch
  bounds nothing;
- otherwise requires the query name in ``ALLOWLIST`` below, where every
  entry must state WHY the window input is bounded.

Any partition-less window over unbounded input that is not allowlisted
fails the lint.  Run:  python scripts/lint_window_partitions.py [sf_dir]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Query name -> why its partition-less windows run over input bounded by
# CONSTRUCTION (the cardinality must not grow with the corpus, e.g. O(cells
# at a fixed resolution) or O(calendar buckets)).  No registry query needs
# an entry today; a new query with a partition-less agg/checkpoint window
# fails until it is added here with a justification.
ALLOWLIST: dict[str, str] = {}


def _walk(node):
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i))


def _subtree_kinds(node) -> set:
    return {n.getClass().getSimpleName() for n in _walk(node)}


def _limit_bounded(node) -> bool:
    """True when every path from ``node`` down to a leaf passes a Limit."""
    if node.getClass().getSimpleName() in ("GlobalLimit", "LocalLimit"):
        return True
    ch = node.children()
    return ch.size() > 0 and all(_limit_bounded(ch.apply(i)) for i in range(ch.size()))


def partitionless_windows(df):
    """(window_node, kind) for every partition-less Window in df's optimized
    logical plan.  kind:
      'limit' — a Limit on every input lineage path bounds the input (the
                TakeOrderedAndProject pattern)
      'agg'   — input is an aggregate (bounded by group cardinality;
                allowlist-gated)
      'ckpt'  — input bottoms out at a localCheckpoint (LogicalRDD) with no
                raw scan in between: the checkpointed subplan is opaque
                here, so gate by allowlist like 'agg'
      'raw'   — window directly over an unaggregated table scan
                (LogicalRelation) — the single-partition scale killer."""
    out = []
    opt = df._jdf.queryExecution().optimizedPlan()
    for n in _walk(opt):
        if n.getClass().getSimpleName() == "Window" and n.partitionSpec().size() == 0:
            kinds = _subtree_kinds(n.child())
            if _limit_bounded(n.child()):
                kind = "limit"
            elif "Aggregate" in kinds:
                kind = "agg"
            elif "LogicalRelation" not in kinds and "LogicalRDD" in kinds:
                kind = "ckpt"
            else:
                kind = "raw"
            out.append((n, kind))
    return out


def lint_query(name, df):
    """Return a violation string or None.

    HARD: any partition-less window over raw (non-aggregated, non-limited)
    input — never allowed, no allowlist (the exact VERDICT r4 criterion).
    SOFT: partition-less window over an Aggregate — allowed only when the
    query is allowlisted with a boundedness justification, so the set
    cannot silently grow."""
    wins = partitionless_windows(df)
    raw = [w for w, kind in wins if kind == "raw"]
    soft = [w for w, kind in wins if kind in ("agg", "ckpt")]
    if raw:
        return (
            f"{name}: {len(raw)} partition-less Window(s) over NON-AGGREGATED "
            "input (HARD — rewrite as TakeOrderedAndProject / two-phase "
            "prefix sum / partitioned window)"
        )
    if soft and name not in ALLOWLIST:
        return (
            f"{name}: {len(soft)} partition-less Window(s) over "
            "aggregated/checkpointed input and not in ALLOWLIST "
            "(add with a boundedness note)"
        )
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    import __spark_entry__ as entry_mod
    from raptor_service_spark.session import get_spark

    spark = get_spark("window-lint", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = entry_mod.queries()
    violations, errors, n_allow, n_auto = [], {}, 0, 0
    for name, fn in qmap.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            wins = partitionless_windows(df)
        except Exception as ex:  # build failure is its own signal
            errors[name] = str(ex)[:200]
            continue
        n_auto += sum(1 for _, kind in wins if kind == "limit")
        if any(kind in ("agg", "ckpt") for _, kind in wins) and name in ALLOWLIST:
            n_allow += 1
        v = lint_query(name, df)
        if v:
            violations.append(v)
    print(
        f"checked={len(qmap) if not only else len(only)} "
        f"limit-bounded-windows={n_auto} allowlisted-queries={n_allow} "
        f"violations={len(violations)} errors={len(errors)}"
    )
    for v in violations:
        print("VIOLATION", v)
    for k, e in errors.items():
        print("ERROR", k, e)
    spark.stop()
    sys.exit(1 if violations or errors else 0)


if __name__ == "__main__":
    main()
