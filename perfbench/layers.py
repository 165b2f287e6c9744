"""Measurements taken from outside the package: the Spark UI's REST
records (jobs, stages, SQL node metrics), the JVM's GC beans, and the
driver JVM's process tree in ``/proc``.  Joined to spans, they give the
per-layer split of a traced run."""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from datetime import datetime, timezone

from spans import Span, covered, innermost

MB = 1e6

# ---------------------------------------------------------------------------
# /proc: resident memory of the driver JVM and its Python workers
# ---------------------------------------------------------------------------


def _processes() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, resident bytes) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/statm") as f:
                rss_pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while being read
        out[int(d)] = (ppid, rss_pages * os.sysconf("SC_PAGE_SIZE"))
    return out


def process_tree(root: int, procs: dict[int, tuple[int, int]] | None = None) -> set[int]:
    """*root* and all of its live descendants."""
    procs = _processes() if procs is None else procs
    tree, todo = set(), [root]
    while todo:
        p = todo.pop()
        if p in procs and p not in tree:
            tree.add(p)
            todo.extend(c for c, (pp, _) in procs.items() if pp == p)
    return tree


def tree_rss(root: int) -> int:
    """Resident bytes of *root* plus all of its descendants."""
    procs = _processes()
    return sum(procs[p][1] for p in process_tree(root, procs))


class PeakRss:
    """Samples :func:`tree_rss` of the JVM every *period* seconds on a
    background thread and keeps the maximum."""

    def __init__(self, pid: int, period: float = 0.2):
        self.pid, self.period, self.peak = pid, period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(self.pid))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss(self.pid))


# ---------------------------------------------------------------------------
# Spark REST records
# ---------------------------------------------------------------------------


def parse_time(s: str | None) -> float | None:
    """Spark REST timestamp (``2026-10-17T03:22:11.680GMT``) to epoch s."""
    if not s:
        return None
    d = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=timezone.utc).timestamp()


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


def parse_sql_metric(value: str) -> float:
    """A formatted SQL metric (``'1,000'``, ``'8.5 KiB'`` or
    ``'total (min, med, max ...)\\n10.3 s (...)'``) to a number in base
    units (seconds or bytes)."""
    line = value.strip().splitlines()[-1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1.0)


class Rest:
    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.sc = sc

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout: float = 30.0) -> None:
        """Wait until the status store has recorded every job and SQL
        execution as finished."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            jobs = self.get("/jobs")
            sql = self.get("/sql?details=false&offset=0&length=100000")
            if all(j["status"] != "RUNNING" for j in jobs) and all(
                e["status"] != "RUNNING" for e in sql
            ):
                return
            time.sleep(0.2)


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


# ---------------------------------------------------------------------------
# Joining engine records to spans
# ---------------------------------------------------------------------------

_PY_NODE = re.compile(r"Python|Pandas|Arrow")


def collect(rest: Rest, spans: list[Span], since: float) -> dict:
    """Engine records of the jobs submitted after *since*, each
    attributed to a span: the span whose id is the job group, else the
    innermost span open at submission (stream micro-batches run under
    the stream's own group)."""
    rest.settle()
    by_id = {s.id: s for s in spans}
    jobs = []
    for j in rest.get("/jobs"):
        t0 = parse_time(j.get("submissionTime"))
        if t0 is None or t0 < since:
            continue
        t1 = parse_time(j.get("completionTime")) or t0
        span = by_id.get(j.get("jobGroup")) or innermost(spans, t0)
        jobs.append({"id": j["jobId"], "span": span.id if span else None,
                     "start": t0, "end": t1, "stages": j["stageIds"]})
    stage_span = {sid: j["span"] for j in jobs for sid in j["stages"]}
    stages = []
    for st in rest.get("/stages"):
        if st["stageId"] not in stage_span or st["status"] == "SKIPPED":
            continue
        st = dict(st, span=stage_span[st["stageId"]])
        stages.append(st)
    job_span = {j["id"]: j["span"] for j in jobs}
    python = []
    for e in rest.get("/sql?details=true&planDescription=false&offset=0&length=100000"):
        ids = e.get("successJobIds", []) + e.get("failedJobIds", [])
        span = next((job_span[i] for i in ids if i in job_span), None)
        if span is None:
            continue
        for n in e.get("nodes", []):
            if _PY_NODE.search(n["nodeName"]):
                m = {x["name"]: parse_sql_metric(x["value"]) for x in n.get("metrics", [])}
                python.append({"span": span, "node": n["nodeName"], **m})
    return {"jobs": jobs, "stages": stages, "python": python}


def driver_gap(window: tuple[float, float], jobs: list[dict]) -> float:
    """Time inside *window* when no Spark job is running."""
    lo, hi = window
    return (hi - lo) - covered([(j["start"], j["end"]) for j in jobs], lo, hi)
