"""The ``curate`` workload: registered batch data-pipeline queries, each
constructed through ``__spark_entry__.queries()`` and run to a noop sink.

Set-up generates the fixture tables from the seed and runs two warm-up
passes; the first collects each query's rows, which are then checked
against the query's DuckDB oracle outside every timed region. The timed
section runs whole passes, one client, closed loop.
"""

from __future__ import annotations

import math
import os
import time
from statistics import geometric_mean, median

import datagen
from harness import percentile

#: One query per batch operator module; each was among the heaviest rows
#: once the engine's query timings moved from count() to a noop sink.
QUERIES = (
    "text_lm_score",
    "dedup_near_minhash",
    "ivf_pq_search",
    "tpch_basket_affinity",
    "events_asof_join",
)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = sorted(
        (tuple(r[i] for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )
    return [cols[i].lower() for i in order], out


def oracle_mismatch(spark_rows, spark_cols, duck_rows, duck_cols) -> str | None:
    """None when both results hold the same rows (order-insensitive,
    floats compared exactly), else a one-line description."""
    sc, sr = _canon(spark_rows, spark_cols)
    dc, dr = _canon(duck_rows, duck_cols)
    if sc != dc:
        return f"columns differ: {sc} vs {dc}"
    if len(sr) != len(dr):
        return f"row count differs: {len(sr)} vs {len(dr)}"
    for a, b in zip(sr, dr):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y):
                continue
            if x != y:
                return f"value differs: {x!r} vs {y!r}"
    return None


def run(ctx) -> None:
    import duckdb

    import __spark_entry__ as entry
    from bioclip_vector_db_spark.plans.registry import QUERIES as REGISTRY
    from bioclip_vector_db_spark.plans.registry import release_transient

    spark, tr = ctx.spark, ctx.tracer
    queries, oracles = entry.queries(), entry.oracle_sql()
    layer = {q: f"{REGISTRY[q].__module__.rsplit('.', 1)[-1]}.{q}" for q in QUERIES}
    fixtures = os.path.join(ctx.work, "fixtures")

    # -- set-up: fixtures, then the warm-up passes ---------------------------
    t0 = time.perf_counter()
    with tr.span("setup.fixtures"):
        datagen.write_fixtures(ctx.seed, fixtures)
    t_gen = time.perf_counter() - t0
    # Two warm-up passes: the first collects each query's rows for the
    # oracle check, the second runs to the noop sink like the timed passes,
    # so those start with the JIT past its first burst of compilation.
    collected = {}
    t0 = time.perf_counter()
    with tr.span("setup.warmup"):
        for q in QUERIES:
            df = queries[q](spark, fixtures)
            collected[q] = (df.columns, [tuple(r) for r in df.collect()])
        for q in QUERIES:
            queries[q](spark, fixtures).write.format("noop").mode("overwrite").save()
    t_warm = time.perf_counter() - t0
    ctx.setup_parts.update(fixtures_s=t_gen, prepare_s=t_warm)

    # -- correctness, untimed: every query against its DuckDB oracle ---------
    con = duckdb.connect()
    try:
        for t in datagen.FIXTURE_ROWS:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixtures}/{t}.parquet')")
        for q in QUERIES:
            ctx.attempted += 1
            rel = con.sql(oracles[q])
            problem = oracle_mismatch(collected[q][1], collected[q][0], rel.fetchall(), rel.columns)
            if problem:
                ctx.fail(f"{q}: {problem}")
    finally:
        con.close()
    del collected

    # -- timed passes ---------------------------------------------------------
    passes, per_query = [], {q: {"construct_s": [], "exec_s": []} for q in QUERIES}
    requests_ms, release_ms = [], []
    gc0 = ctx.gc_ms()
    t_start = time.perf_counter()
    # Whole passes only: another starts while one more fits in the run.
    while not passes or time.perf_counter() - t_start + passes[-1] <= ctx.seconds:
        mark = ctx.jobs_mark()
        tp = time.perf_counter()
        with tr.span("curate.pass"):
            for q in QUERIES:
                tr.request_id = f"{len(passes)}:{q}"
                rmark = ctx.jobs_mark()
                t = time.perf_counter()
                # queries() releases the previous query's persisted
                # intermediates itself; releasing here first times that
                # step apart from the construction, in every run.
                with tr.span("registry.release_transient"):
                    release_transient()
                t_rel = time.perf_counter()
                with tr.span(f"{layer[q]}.construct"):
                    df = queries[q](spark, fixtures)
                t1 = time.perf_counter()
                with tr.span(f"{layer[q]}.exec"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                release_ms.append((t_rel - t) * 1e3)
                per_query[q]["construct_s"].append(t1 - t_rel)
                per_query[q]["exec_s"].append(t2 - t1)
                requests_ms.append((t2 - t) * 1e3)
                ctx.request_done(t1 - t_rel, t2 - t1, rmark, layer[q])
        passes.append(time.perf_counter() - tp)
        ctx.bulk_done(mark)
        ctx.flush_counts()
    ctx.gc_total_ms = ctx.gc_ms() - gc0
    tr.request_id = None

    # The queries differ in kind, so their typical latency is a geometric
    # mean, which every query moves in proportion to its own change.
    ctx.e2e.update(request_ms=geometric_mean(requests_ms), cycle_s=median(passes))
    ctx.detail.update(
        requests=len(requests_ms),
        passes=len(passes),
        request_p90_ms=percentile(requests_ms, 90),
        request_samples_ms=requests_ms,
        queries=list(QUERIES),
        fixture_rows=dict(datagen.FIXTURE_ROWS),
    )
    for q in QUERIES:
        for k, v in per_query[q].items():
            ctx.layers[f"{layer[q]}.{k}"] = median(v)
    ctx.layers["registry.release_transient_ms"] = median(release_ms)
