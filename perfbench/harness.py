"""Measurement helpers shared by the workloads: percentiles, recall, the
span tracer, Spark job counting, memory and run stamps.

Nothing here imports Spark at module load, so the unit tests run without a
JVM.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import subprocess
import time
from contextlib import contextmanager

import numpy as np


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0..100) by linear interpolation between
    closest ranks, the same rule as ``statistics.quantiles(method=
    'inclusive')``."""
    xs = list(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    return float(np.percentile(xs, q))


def exact_top_k(corpus: np.ndarray, q: np.ndarray, k: int) -> list[int]:
    """Row indices of the ``k`` nearest corpus rows to ``q`` by cosine
    distance, ties broken toward the smaller index (the engine's order)."""
    d = 1.0 - corpus.astype(np.float64) @ q.astype(np.float64)
    order = np.lexsort((np.arange(len(d)), d))
    return [int(i) for i in order[:k]]


def recall_at_k(returned_ids, exact_ids, k: int = 10) -> float:
    """Share of the exact top-``k`` found among the first ``k`` returned."""
    if not exact_ids:
        raise ValueError("recall needs a non-empty exact top-k")
    exact = set(list(exact_ids)[:k])
    return len(exact & set(list(returned_ids)[:k])) / len(exact)


def cosine_distance(q: np.ndarray, v: np.ndarray) -> float:
    """``round(1 - q.v, 9)`` with the dot product summed left to right in
    float64, the order the engine's fold uses."""
    prods = q.astype(np.float64) * v.astype(np.float64)
    return round(1.0 - float(np.cumsum(prods)[-1]), 9)


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans around the benchmark's calls into the engine.

    A span records name, start, end, parent span id and request id. When
    ``enabled`` is false, ``span`` records nothing and costs one branch.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request_id: str | None = None
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover
    (children of one parent may overlap; their union is subtracted)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# ---------------------------------------------------------------------------
# Spark-side counters (traced runs only)
# ---------------------------------------------------------------------------


class JobCounter:
    """Jobs, stages and tasks run between two marks.

    Spark numbers jobs in submission order, so the jobs of an interval are
    the id range between two reads of the scheduler's next job id. Call
    ``drain`` before ``count`` so the listener bus has delivered every
    task end and the totals are final. Stages skipped because a shuffle
    was reused run no task and are not counted.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()

    def mark(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def count(self, since: int, until: int) -> dict[str, int]:
        st = self._sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in range(since, until):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                sinfo = st.getStageInfo(sid)
                if sinfo is not None and sinfo.numCompletedTasks > 0:
                    stages += 1
                    tasks += sinfo.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


def jvm_gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return int(sum(b.getCollectionTime() for b in beans))


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# ---------------------------------------------------------------------------
# Run stamps
# ---------------------------------------------------------------------------


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def source_stamp(root: str) -> dict:
    """The commit when ``root`` is a git checkout, and always a hash of the
    engine's sources, which identifies the code in a plain export too."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "bioclip_vector_db_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True
        )
        if out.returncode == 0:
            commit = out.stdout.strip()
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}
