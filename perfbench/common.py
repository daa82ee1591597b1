"""Process plumbing shared by the benchmark: checkout paths, the Spark
session (start, stop, wait for every child process), peak-RSS sampling from
/proc and the fixed host probe."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_DIR = Path(__file__).resolve().parent
PKG_DIR = ROOT / "raptor_service_spark"
# every byte the benchmark writes lands under this (gitignored) directory
WORK_DIR = ROOT / ".perfbench"
DRIVER_MEMORY = "3g"


def log(*parts) -> None:
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_hash(params: dict) -> str:
    """Key of the prepared-input cache: the engine's sources, the module
    that prepares the inputs and the corpus parameters, so two versions of
    the code never share inputs that one of them generated."""
    h = hashlib.sha256()
    for p in [*sorted(PKG_DIR.rglob("*.py")), BENCH_DIR / "prepare.py"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(json.dumps(params, sort_keys=True).encode())
    return h.hexdigest()[:16]


def dir_bytes(path) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, n))
    return total


# ---------------------------------------------------------------- processes


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after the last ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def process_tree(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed RSS of the driver JVM and every process under it
    (the pyspark daemon and its Python workers), sampled every 100 ms."""

    def __init__(self, pid: int, interval: float = 0.1):
        self.pid, self.interval = pid, interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler")
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            kb = sum(_rss_kb(p) for p in process_tree(self.pid))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0


def start_spark(run_dir: Path, event_log: Path | None = None):
    """The engine's own session factory at local[nproc] — the conf the tests
    use — with every scratch directory moved inside ``run_dir``."""
    n = nproc()
    tmp = run_dir / "tmp"
    for d in (tmp, run_dir / "local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    # a fixed, modest heap keeps the peak RSS steady and the box shareable
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    py_path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + py_path if py_path else "")
    conf = {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from raptor_service_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{n}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process(spark) -> subprocess.Popen:
    return spark.sparkContext._gateway.proc


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM and wait until it and every process it
    started (pyspark daemon, Python workers) have exited."""
    proc = jvm_process(spark)
    tree = process_tree(proc.pid)
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    alive = [p for p in tree[1:] if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def reset_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


# ------------------------------------------------------------------ numbers


def host_probe() -> float:
    """Fixed numpy compute + memory-bandwidth probe (median of 3, seconds).
    Diagnosis only: it shows host drift next to the metrics, it never
    normalises them."""
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.random((384, 384))
    b = rng.random(1 << 23)  # 64 MiB
    times = []
    for _ in range(3):
        t = time.perf_counter()
        for _ in range(4):
            a = a @ a
            a /= np.abs(a).max()
        c = b.copy()
        c += 1.0
        float(c.sum())
        times.append(time.perf_counter() - t)
    return statistics.median(times)

