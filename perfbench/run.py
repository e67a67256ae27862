"""Benchmark for the bioclip_vector_db_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Workloads: ``serve`` (online search with streaming appends beside it) and
``curate`` (registered batch pipeline queries). With ``--trace 0`` the
last stdout line carries the end-to-end metrics; with ``--trace 1`` it
carries the per-layer metrics, and the spans and the full per-layer record
are written under ``perfbench/results/``. The line before the last is the
run record: stamps, sample counts and every layer number measured.

Exit status: 0 when every correctness check passed, 1 when one failed
(the result line is still printed, with ``"correct": false``), 2 when the
engine is not beside the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from statistics import median

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "bioclip_vector_db_spark"
WORKLOADS = ("serve", "curate")


class Context:
    """What a workload needs from the harness, and what it reports back."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.seconds, self.work = seconds, work
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.setup_parts: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.detail: dict = {}
        self.gc_total_ms = 0.0
        self._jobs = harness.JobCounter(spark) if tracer.enabled else None
        self._requests: list[dict] = []
        self._bulk: list[dict] = []
        self._pending: list[tuple[dict, int, int]] = []
        self.count_overhead_s = 0.0

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg)
        print(f"perfbench: check failed: {msg}", file=sys.stderr)

    def gc_ms(self) -> int:
        return harness.jvm_gc_ms(self.spark)

    def jobs_mark(self):
        return self._jobs.mark() if self._jobs else None

    def counted(self, since) -> dict:
        """A dict that ``flush_counts`` fills with the jobs, stages and
        tasks run from ``since`` to now (traced runs; empty otherwise)."""
        rec: dict = {}
        if since is not None:
            self._pending.append((rec, since, self._jobs.mark()))
        return rec

    def flush_counts(self) -> None:
        """Counts every interval closed since the last flush. Workloads
        call it between cycles, outside every timed region, so a traced
        run never waits on the listener bus while it is being timed."""
        if not self._pending:
            return
        t = time.perf_counter()
        self._jobs.drain()
        for rec, since, until in self._pending:
            rec.update(self._jobs.count(since, until))
        self._pending.clear()
        self.count_overhead_s += time.perf_counter() - t

    def request_done(self, construct_s: float, exec_s: float, mark, label: str) -> None:
        rec = self.counted(mark)
        rec.update(label=label, construct_ms=construct_s * 1e3, exec_ms=exec_s * 1e3)
        self._requests.append(rec)

    def bulk_done(self, mark) -> dict:
        """Closes one bulk operation: an ingest round (serve) or a pass
        (curate). The counts arrive at the next ``flush_counts``."""
        rec = self.counted(mark)
        self._bulk.append(rec)
        return rec

    def generic_layers(self) -> dict[str, float]:
        """The per-layer metrics every workload reports (BENCHMARK.json)."""
        reqs, bulk = self._requests, self._bulk
        out = {
            "setup.prepare_s": self.setup_parts["prepare_s"],
            "request.construct_ms": median(r["construct_ms"] for r in reqs),
            "request.exec_ms": median(r["exec_ms"] for r in reqs),
            "jvm.gc_ms": float(self.gc_total_ms),
        }
        if self.tracer.enabled:
            for k in ("jobs", "stages", "tasks"):
                out[f"request.{k}"] = median(r[k] for r in reqs)
            for k in ("jobs", "tasks"):
                out[f"bulk.{k}"] = median(b[k] for b in bulk)
            out["trace.overhead_ms"] = (
                (self.tracer.overhead_s + self.count_overhead_s) * 1e3 / len(reqs)
            )
        return out

    def label_counts(self) -> dict[str, float]:
        """Traced runs: median jobs, stages and tasks per request label."""
        by_label: dict[str, list[dict]] = {}
        for r in self._requests:
            by_label.setdefault(r["label"], []).append(r)
        return {
            f"{label}.{k}": median(r[k] for r in rs)
            for label, rs in by_label.items()
            for k in ("jobs", "stages", "tasks")
        }


def _isolate(work: str) -> None:
    """Point every temp, scratch and spill path into ``work`` and make the
    engine importable by Python workers, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    for var in [v for v in os.environ if v.startswith("SPARK_GRAFT_")]:
        del os.environ[var]
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYTHONDONTWRITEBYTECODE="1",
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_EXTRA_CONF=";".join(
            [
                "spark.ui.showConsoleProgress=false",
                f"spark.sql.warehouse.dir=file:{os.path.join(work, 'warehouse')}",
            ]
        ),
    )
    tempfile.tempdir = None


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(entry))
            except (OSError, IndexError, ValueError):
                continue
    return out


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    return pids


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and the Python worker daemons
    it started, and wait for each process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_proc = getattr(gateway, "proc", None)
    workers = []
    if jvm_proc is not None:
        workers = [c for p in _children(jvm_proc.pid) for c in [p, *_children(p)]]
    spark.stop()
    if jvm_proc is None:
        return
    gateway.shutdown()
    jvm_proc.terminate()
    try:
        jvm_proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm_proc.kill()
        jvm_proc.wait(timeout=30)
    for pid in _wait_gone(workers, 20):
        os.kill(pid, signal.SIGKILL)
    _wait_gone(workers, 10)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: the engine package {ENGINE}/ is not beside perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(HERE, ".work"))
    _isolate(work)

    load_before = harness.loadavg()
    t0 = time.perf_counter()
    from bioclip_vector_db_spark.session import get_spark

    spark = None
    try:
        tracer = harness.Tracer(bool(args.trace))
        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        ctx = Context(spark, tracer, args.seed, args.seconds, work)
        workload = __import__(args.workload)
        workload.run(ctx)
        setup_s = session_s + ctx.setup_parts["prepare_s"] + ctx.setup_parts.get("fixtures_s", 0.0)
        jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
        rss_py, rss_jvm = harness.peak_rss_mb(os.getpid()), harness.peak_rss_mb(jvm_pid)
        generic = ctx.generic_layers()
        if tracer.enabled:
            ctx.layers.update(ctx.label_counts())
        generic.update(
            {"session.get_spark_s": session_s, "rss.python_mb": rss_py, "rss.jvm_mb": rss_jvm}
        )
        e2e = {"setup_s": setup_s, **ctx.e2e, "peak_rss_mb": rss_py + rss_jvm}
        sc = spark.sparkContext
        stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "nproc": os.cpu_count(),
            "nproc_affinity": len(os.sched_getaffinity(0)),
            "spark_version": spark.version,
            **harness.source_stamp(ROOT),
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    stamp["loadavg_before"], stamp["loadavg_after"] = load_before, harness.loadavg()

    units = _units()
    record = {
        **stamp,
        **ctx.detail,
        "failures": ctx.failures[:20],
        "end_to_end": e2e,
        "per_layer": generic,
        "layers": ctx.layers,
    }
    if args.trace:
        self_ms: dict[str, float] = {}
        for span_id, secs in harness.self_times(tracer.spans).items():
            key = tracer.spans[span_id]["name"]
            self_ms[key] = self_ms.get(key, 0.0) + secs * 1e3
        record["span_self_ms"] = self_ms
        name = f"{args.workload}-seed{args.seed}"
        tracer.write(os.path.join(HERE, "results", f"{name}-spans.json"))
        with open(os.path.join(HERE, "results", f"{name}-trace.json"), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    print(json.dumps(record, sort_keys=True))
    shown = generic if args.trace else e2e
    if set(shown) != {k for k, kind in units.items() if kind[1] == ("per_layer" if args.trace else "end_to_end")}:
        raise RuntimeError(f"metrics {sorted(shown)} do not match BENCHMARK.json")
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": units[k][0]} for k, v in shown.items()},
    }
    print(json.dumps(result))
    return 0 if ctx.failed == 0 else 1


def _units() -> dict[str, tuple[str, str]]:
    """Metric name -> (unit, list) from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: (m["unit"], kind) for kind in ("end_to_end", "per_layer") for m in spec[kind]}


if __name__ == "__main__":
    sys.exit(main())
