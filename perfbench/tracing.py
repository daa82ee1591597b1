"""Tracing for the per-layer run: in-memory spans around each call into a
layer, a Spark job group per span, a catalog wrapper that times commits,
and a parser that maps the Spark event log's tasks back to spans.

Spans are recorded from the benchmark's side of each call; nothing inside
the engine is instrumented."""

from __future__ import annotations

import json
import statistics
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

from common import dir_bytes
from raptor_service_spark.io.catalog import SnapshotCatalog

# layer spans, in the order the per-layer metrics list them
SPANS = (
    "grid.encode", "pip_join.join", "knn.index", "knn.search", "vector.embed",
    "tree.L0", "tree.L1", "tree.L2", "tree.L3", "tree.ingest", "catalog.commit",
    "retrieval.collapsed", "retrieval.traversal",
)
SPAN_METRICS = (
    ("s", "s"), ("self_s", "s"), ("jobs", "count"), ("task_s", "s"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "ratio"),
    ("failed_tasks", "count"),
)
EXTRA_METRICS = (
    ("pip_join.join.hits", "count"), ("knn.index.rows", "count"),
    ("knn.index.mb", "MB"), ("knn.search.rows_scanned", "count"),
    ("knn.search.useful_frac", "frac"),
    ("tree.L1.groups", "count"), ("tree.L2.groups", "count"),
    ("tree.L3.groups", "count"),
    ("catalog.commit.n", "count"), ("catalog.commit.mb", "MB"),
    ("tree.ingest.write_amp", "ratio"), ("catalog.tree_files", "count"),
    ("retrieval.collapsed.jobs_per_request", "count"),
    ("retrieval.traversal.jobs_per_request", "count"),
    ("retrieval.traversal.hops", "count"),
    ("retrieval.collapsed.rows_scanned", "count"),
    ("retrieval.traversal.rows_scanned", "count"),
    ("host.probe_s", "s"), ("host.peak_rss_mb", "MB"), ("trace.overhead_frac", "frac"),
    ("trace.coverage", "frac"),
)


def per_layer_catalog() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, the order BENCHMARK.json uses."""
    out = [(f"{s}.{m}", u) for s in SPANS for m, u in SPAN_METRICS]
    return out + list(EXTRA_METRICS)


class Tracer:
    """Records spans (name, start, end, parent, run id) in memory and keeps
    the Spark job group equal to the innermost open span, so every job can
    be mapped back to the span that caused it. Disabled, it does nothing."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:8]
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self) -> None:
        if self._stack:
            self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def open(self, name: str) -> dict | None:
        if not self.enabled:
            return None
        rec = {
            "id": f"{self.run_id}-{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group()
        return rec

    def close(self, rec: dict | None, name: str | None = None) -> None:
        if rec is None:
            return
        rec["end"] = time.perf_counter()
        if name:
            rec["name"] = name
        assert self._stack and self._stack[-1] is rec, "spans must nest"
        self._stack.pop()
        self._set_group()

    @contextmanager
    def span(self, name: str):
        rec = self.open(name)
        try:
            yield rec
        finally:
            self.close(rec)

    @contextmanager
    def tree_levels(self):
        """Around a checkpointed build: level spans tile the call. Each
        ``tree.L<n>`` runs from the end of level n-1's node commit to the end
        of level n's (nodes are committed last per level); the work after
        the top level's commit is ``tree.finish``."""
        self.open("tree.level")
        try:
            yield
        finally:
            if self._stack and self._stack[-1]["name"] == "tree.level":
                self.close(self._stack[-1], "tree.finish")

    def level_committed(self, level: int) -> None:
        if self._stack and self._stack[-1]["name"] == "tree.level":
            self.close(self._stack[-1], f"tree.L{level}")
            self.open("tree.level")

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class TracingCatalog(SnapshotCatalog):
    """SnapshotCatalog whose commits (the four operations the tree build
    and ingest use) are ``catalog.commit`` spans carrying the bytes each
    commit wrote; node commits with a ``level`` prop mark the level
    boundaries of a traced build."""

    def __init__(self, root: str, spark, tracer: Tracer):
        super().__init__(root, spark)
        self.tracer = tracer

    def _traced(self, op, table, *args, **kwargs):
        with self.tracer.span("catalog.commit") as rec:
            version = op(table, *args, **kwargs)
        if rec is not None:
            files = self.snapshots(table)[-1]["files"]
            rec["counts"]["bytes"] = dir_bytes(files[-1]) if files else 0
            rec["counts"]["table"] = table
            props = kwargs.get("props") or {}
            rec["counts"]["level"] = props.get("level")
            if table.endswith("_nodes") and "level" in props:
                self.tracer.level_committed(int(props["level"]))
        return version

    def append(self, table, df, props=None, merge_schema=False):
        return self._traced(super().append, table, df, props=props,
                            merge_schema=merge_schema)

    def merge(self, table, updates, key_cols, props=None):
        return self._traced(super().merge, table, updates, key_cols, props=props)

    def delete_where(self, table, predicate, props=None):
        return self._traced(super().delete_where, table, predicate, props=props)

    def delete_matching(self, table, keys, on, extra_predicate=None, props=None):
        return self._traced(super().delete_matching, table, keys, on,
                            extra_predicate=extra_predicate, props=props)


class FailureWatch:
    """Spark task failures and stage retries from ``statusTracker()`` since
    the last call, so a retried task cannot hide behind a good result."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        # jobs before the timed passes (preparation, set-up) are not watched
        self.seen_jobs: set[int] = set(self.tracker.getJobIdsForGroup(None))

    def new_failures(self, groups) -> int:
        """Failed jobs, failed tasks and stage retries of the jobs that
        finished since the last call in the default group or ``groups``."""
        failures = 0
        for group in {None, *groups}:
            for job in self.tracker.getJobIdsForGroup(group):
                if job in self.seen_jobs:
                    continue
                info = self.tracker.getJobInfo(job)
                if info is None or info.status == "RUNNING":
                    continue
                self.seen_jobs.add(job)
                failures += info.status == "FAILED"
                for sid in list(info.stageIds):
                    st = self.tracker.getStageInfo(sid)
                    if st is not None:
                        failures += st.numFailedTasks + st.currentAttemptId
        return failures


# ---------------------------------------------------------------- event log


def read_event_log(log_dir: Path) -> tuple[dict, list[dict]]:
    """(job group by stage id, task records) from the session's event log."""
    group_of_job: dict[int, str | None] = {}
    group_of_stage: dict[int, str | None] = {}
    tasks: list[dict] = []
    for path in sorted(log_dir.iterdir()):
        if path.name.startswith("."):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    group_of_job[ev["Job ID"]] = group
                    for sid in ev.get("Stage IDs", []):
                        group_of_stage.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "records_read": (m.get("Input Metrics") or {}).get(
                            "Records Read", 0),
                        "failed": bool(info.get("Failed")) or reason not in (None, "Success"),
                    })
    return {"stage": group_of_stage, "jobs": group_of_job}, tasks


def _union_len(intervals) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def layer_metrics(spans: list[dict], groups: dict, tasks: list[dict],
                  timed_s: float) -> dict[str, float]:
    """Per-span-name metrics: inclusive wall ``s``, ``self_s`` (wall not
    covered by child spans) and the Spark work of the span and its
    descendants from the event log; ``trace.coverage`` is the share of the
    timed operations' wall (``timed_s``) that top-level spans cover."""
    by_id = {s["id"]: s for s in spans}
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s)

    def root_name(group):
        # a job belongs to its own span and every ancestor span
        names, sid = [], group
        while sid in by_id:
            names.append(by_id[sid]["name"])
            sid = by_id[sid]["parent"]
        return names

    out: dict[str, float] = {}
    for name in SPANS:
        mine = [s for s in spans if s["name"] == name]
        out[f"{name}.s"] = sum(s["end"] - s["start"] for s in mine)
        out[f"{name}.self_s"] = sum(
            (s["end"] - s["start"])
            - _union_len((c["start"], c["end"]) for c in children.get(s["id"], []))
            for s in mine
        )
    jobs: dict[str, int] = {}
    for job, group in groups["jobs"].items():
        for name in set(root_name(group)):
            jobs[name] = jobs.get(name, 0) + 1
    per_stage: dict[int, list[dict]] = {}
    for t in tasks:
        per_stage.setdefault(t["stage"], []).append(t)
    agg = {n: {"task_s": 0.0, "shuffle": 0, "spill": 0, "skew": 0.0, "failed": 0,
               "records": 0} for n in SPANS}
    for stage, ts in per_stage.items():
        names = set(root_name(groups["stage"].get(stage)))
        runs = [t["run_s"] for t in ts]
        med = statistics.median(runs)
        skew = max(runs) / med if med > 0 else 1.0
        for name in names & set(SPANS):
            a = agg[name]
            a["task_s"] += sum(runs)
            a["shuffle"] += sum(t["shuffle_write"] for t in ts)
            a["spill"] += sum(t["spill"] for t in ts)
            a["failed"] += sum(t["failed"] for t in ts)
            a["records"] += sum(t["records_read"] for t in ts)
            a["skew"] = max(a["skew"], skew)
    for name in SPANS:
        a = agg[name]
        out[f"{name}.jobs"] = jobs.get(name, 0)
        out[f"{name}.task_s"] = a["task_s"]
        out[f"{name}.shuffle_write_mb"] = a["shuffle"] / 2**20
        out[f"{name}.spill_mb"] = a["spill"] / 2**20
        out[f"{name}.task_skew"] = a["skew"]
        out[f"{name}.failed_tasks"] = a["failed"]
        out[f"{name}._records_read"] = a["records"]
    commits = [s for s in spans if s["name"] == "catalog.commit"]
    out["catalog.commit.n"] = len(commits)
    out["catalog.commit.mb"] = sum(s["counts"].get("bytes", 0) for s in commits) / 2**20
    top = [(s["start"], s["end"]) for s in spans if s["parent"] not in by_id]
    out["trace.coverage"] = _union_len(top) / timed_s if timed_s else 0.0
    return out
