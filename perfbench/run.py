"""Benchmark of the tile-tree engine: one workload per invocation.

    python3 perfbench/run.py --workload build|serve \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run in a checkout prepares every
workload's input under .perfbench/ (minutes); later runs reuse it. The last
line of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 the per-layer ones. Diagnostics go to
stderr. Exit code 1 means an output check failed; 2 means the engine could
not be run at all. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

from common import (
    BENCH_DIR,
    PKG_DIR,
    ROOT,
    WORK_DIR,
    RssSampler,
    host_probe,
    jvm_process,
    log,
    reset_dir,
    start_spark,
    stop_spark,
)

WORKLOAD_NAMES = ("build", "serve")
SETUP_REPEATS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _median_ms(ops, kind) -> float:
    walls = [op.wall for op in ops if op.kind == kind]
    return statistics.median(walls) * 1000.0 if walls else 0.0


def _mean_wall(res) -> float:
    return sum(op.wall for op in res.ops) / max(1, len(res.ops))


def _overhead(workload: str, res, trace: bool) -> float:
    """Tracing overhead: this traced run's mean operation wall over that of
    the latest untraced run of the workload in this checkout, minus one.
    Untraced runs record theirs; 0.0 when none has run yet."""
    path = WORK_DIR / f"untraced_{workload}.json"
    if not trace:
        path.write_text(json.dumps({"mean_wall_s": _mean_wall(res)}))
        return 0.0
    if not path.exists():
        log("no untraced run recorded in this checkout; trace.overhead_frac = 0")
        return 0.0
    return _mean_wall(res) / json.loads(path.read_text())["mean_wall_s"] - 1.0


def _summary(name: str, res) -> str:
    """Each workload's figures under their own names, for people."""
    a, b, c = (_median_ms(res.ops, k) for k in "abc")
    n = {k: sum(op.kind == k for op in res.ops) for k in "abc"}
    if name == "build":
        return (f"index_pass_s={a / 1000:.3f} build_s={b / 1000:.3f} "
                f"ingest_p50_s={c / 1000:.3f} ingests={n['c']}")
    return (f"knn_search_ms={a:.1f} collapsed_p50_ms={b:.1f} traversal_p50_ms={c:.1f} "
            f"requests={n['b']}+{n['c']}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (PKG_DIR / "__init__.py").is_file():
        log(f"no engine package at {PKG_DIR.name}/ next to the benchmark; "
            "run from the root of a full checkout")
        return 2
    sys.path.insert(0, str(ROOT))

    from prepare import inputs_dir, load_meta
    from tracing import (
        FailureWatch,
        Tracer,
        layer_metrics,
        per_layer_catalog,
        read_event_log,
    )
    from workloads import WORKLOADS, ClosedLoop

    if load_meta() is None:  # once per checkout, in a JVM of its own
        subprocess.run([sys.executable, "-B", str(BENCH_DIR / "prepare.py")],
                       stdout=sys.stderr, check=True)
    meta = load_meta()
    run_dir = reset_dir(WORK_DIR / "run")
    os.sync()  # start with no write-back from an earlier run still pending
    event_log = run_dir / "eventlog" if args.trace else None
    probe_s = host_probe()

    t0 = time.perf_counter()
    spark = start_spark(run_dir, event_log)
    session_s = time.perf_counter() - t0
    sampler = RssSampler(jvm_process(spark).pid)
    try:
        wl = WORKLOADS[args.workload](spark, meta, args.seed, run_dir, inputs_dir())
        loads = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.load()
            loads.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.fixtures()
        fixtures_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(loads) + fixtures_s
        log(f"setup: session {session_s:.2f}s, load {statistics.median(loads):.2f}s, "
            f"fixtures and warm-up {fixtures_s:.2f}s")

        tracer = Tracer(spark, bool(args.trace))
        res = wl.timed(tracer, ClosedLoop(tracer, FailureWatch(spark), args.seconds))
        wl.check(res)
    finally:
        peak_rss_mb = sampler.stop()
        stop_spark(spark)

    attempted = len(res.ops)
    failed = sum(op.failed for op in res.ops)
    overhead = _overhead(args.workload, res, bool(args.trace))
    log(args.workload, f"seed={args.seed}", _summary(args.workload, res),
        f"setup_s={setup_s:.3f} failed_frac={failed / max(1, attempted):.3f}",
        f"host.probe_s={probe_s:.3f} peak_rss_mb={peak_rss_mb:.0f}")

    if args.trace:
        groups, tasks = read_event_log(event_log)
        tracer.dump(WORK_DIR / "spans.jsonl")
        layers = layer_metrics(tracer.spans, groups, tasks, sum(op.wall for op in res.ops))
        layers.update(wl.layer_counts(res, layers, tracer.spans))
        layers["host.probe_s"] = probe_s
        layers["host.peak_rss_mb"] = peak_rss_mb
        layers["trace.overhead_frac"] = overhead
        metrics = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                   for name, unit in per_layer_catalog()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            **{f"op_{k}_p50_ms": {"value": _median_ms(res.ops, k), "unit": "ms"}
               for k in "abc"},
        }
    # leave nothing for the next run to delete or write back while it times
    shutil.rmtree(run_dir)
    os.sync()
    correct = failed == 0 and attempted > 0
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
