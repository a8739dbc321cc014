"""Shared pieces of the workloads: Spark session lifetime, the REST
load generator, process-tree memory sampling and summary statistics.

Everything the benchmark writes goes under ``<checkout>/.perfbench``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def prepare_env() -> None:
    """Keep Spark, its Python workers and the JVM inside the checkout.
    Only locations change; the session itself is the product default."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = tmp


def start_spark():
    """``session.get_spark(cores=nproc)`` with no extra conf."""
    from quickwit_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cores=os.cpu_count())
    spark.range(1).collect()  # the session is usable, not just created
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for both to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        # a later session in this process launches a fresh JVM
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort, never leave it running
            proc.kill()
            proc.wait()


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def split_bytes(index_dir: str, split_ids) -> int:
    return sum(
        dir_bytes(os.path.join(index_dir, sub, f"split_id={sid}"))
        for sid in split_ids
        for sub in ("postings", "docmap", "fastfields")
    )


# ------------------------------------------------------------- memory
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_mb(root_pid: int) -> float:
    kids = _children()
    todo, total_kb = [root_pid], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


class RssSampler:
    """Peak RSS of this process and all its descendants (JVM, Python
    workers), sampled on a background thread."""

    def __init__(self, interval: float = 0.5) -> None:
        self.peak_mb = 0.0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))


# ------------------------------------------------------------ REST load
class RestClient:
    def __init__(self, port: int, index_id: str) -> None:
        self.base = f"http://127.0.0.1:{port}/api/v1/{index_id}/search?"

    def get(self, params: dict) -> tuple[int, dict | None]:
        url = self.base + urllib.parse.urlencode(params)
        try:
            with urllib.request.urlopen(url, timeout=120) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, None


def open_loop(next_request, rate: float, keep_going, send) -> list[dict]:
    """Open-loop generator: request ``i`` is due at ``start + i / rate``
    whatever the state of earlier requests, and goes to a pool of at
    most ``nproc`` sender threads. Latency counts from the due time, so
    a stall shows in every request that waited behind it.

    ``next_request(i)`` builds request ``i`` when it is due;
    ``keep_going(i)`` says whether to schedule it at all;
    ``send(req)`` runs in a sender thread and returns its result.
    Returns one record per request, in schedule order."""
    records: list[dict] = []
    t0 = time.perf_counter()

    def run(i: int, req: dict, due: float) -> None:
        sent = time.perf_counter()
        try:
            res, err = send(req), None
        except Exception as e:  # noqa: BLE001 — a failed request is data
            res, err = None, f"{type(e).__name__}: {e}"
        records.append({"i": i, "req": req, "due": due, "sent": sent,
                        "done": time.perf_counter(), "result": res,
                        "error": err})

    with ThreadPoolExecutor(max_workers=os.cpu_count() or 1) as pool:
        futures = []
        i = 0
        while keep_going(i):
            due = t0 + i / rate
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            futures.append(pool.submit(run, i, next_request(i), due))
            i += 1
        for f in futures:
            f.result()
    records.sort(key=lambda r: r["i"])
    return records


# ---------------------------------------------------------- statistics
def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs, q: float) -> float:
    """Nearest-rank percentile ``q`` (0..1)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[min(len(xs) - 1, int(q * len(xs)))])


def cpu_times() -> list[int]:
    """The aggregate CPU line of /proc/stat, in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two ``cpu_times()`` snapshots."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(sum(d), 1)


def ambient() -> dict:
    """bench.ambient_sample(): steal % and fault-in MB/s of the host."""
    from bench import ambient_sample

    return ambient_sample()
