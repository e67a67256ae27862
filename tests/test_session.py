"""Session factory contracts that only a fresh process can show."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_workers_import_engine_without_pythonpath(tmp_path):
    """A driver that finds the engine only through its own ``sys.path``
    (as ``__spark_entry__`` does) must still let Python workers import it:
    with ``PYTHONPATH`` unset and the working directory outside the
    checkout, a ``numpy``-kernel routing stage used to fail with
    ``ModuleNotFoundError: bioclip_vector_db_spark``."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        import __spark_entry__  # noqa: F401
        from bioclip_vector_db_spark.operators.knn import route_queries
        from bioclip_vector_db_spark.session import get_spark

        spark = get_spark("worker-import", cpus=1)
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
            "partition_id int, centroid array<double>",
        )
        queries = spark.createDataFrame(
            [(7, [0.6, 0.8])], "query_id long, qv array<double>"
        )
        rows = route_queries(queries, cents, 2, kernel="numpy").collect()
        print("ROUTED", [(r.query_id, r.partition_id, r.probe_rank) for r in rows])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "ROUTED [(7, 1, 1), (7, 0, 2)]" in proc.stdout, proc.stdout[-2000:]


def test_driver_jvm_runs_serial_gc(spark):
    """get_spark starts the driver JVM on the serial collector, whose heap
    follows the live data rather than pause timing (session.py)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    names = {beans.get(i).getName() for i in range(beans.size())}
    assert names == {"Copy", "MarkSweepCompact"}, names
