"""The ``serve`` workload: the online path, top-k searches with streaming
appends beside them.

Set-up builds an IVF index over a seeded corpus with
``build_index``, opens ``VectorSearchEngine`` and warms the search and
ingest paths once. The timed section is a closed loop, one client, that
repeats a fixed request cycle: single-vector searches (``top_n=10``,
``nprobe`` alternating 1 and 3), one 256-vector ``search_batch`` and
ingest rounds (a 500-vector parquet file staged into the feed directory,
``stream_ingest`` with ``availableNow``, then the engine reopened). The
cycle ends with the batch search; after the loop ``compact_index`` runs and
the same batch is searched again, which must return identical results.

Every search result is checked: at most 100 rows, ascending distances,
and each distance equal to ``round(1 - q.v, 9)`` recomputed in numpy for
the returned id. After every ingest round the index tables are read with
pyarrow: both row counts equal the vectors written, and ``faiss_id`` is
dense within each partition.

A traced run adds, after the timed loop, the split of each timed search
into its ``route_queries`` and ``ivf_search`` calls, and the ``numpy``
kernels behind ``_pick_kernel`` (routing and partition assignment), which
must agree with the ``expr`` kernel row for row.
"""

from __future__ import annotations

import os
import threading
import time
from statistics import median

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import datagen
from harness import cosine_distance, exact_top_k, percentile, recall_at_k

N_BASE = 2000
NLIST = 32
INGEST_ROWS = 500
BATCH_VECTORS = 256
TOP_N = 10
#: The request cycle: six single searches, two ingest rounds and one batch
#: search. The loop runs whole cycles until the run's seconds are spent, so
#: every run has the same mix of searches on a freshly reopened engine and
#: on a warm one. The cycle ends with the batch search, whose queries are
#: searched again after compaction.
CYCLE = ("search", "search", "ingest", "search", "search", "ingest", "search", "search", "batch")
#: Distances are rounded to 9 decimals on both sides; a last-digit
#: difference from summation order is tolerated, nothing more.
DIST_TOL = 1.5e-9


class StreamPhases:
    """A ``StreamingQueryListener`` that keeps every progress event's
    ``durationMs`` per query run, in the order the runs started, and
    counts terminated runs."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        phases = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with phases._lock:
                    phases.runs.setdefault(str(event.runId), [])

            def onQueryProgress(self, event):
                with phases._lock:
                    phases.runs.setdefault(str(event.progress.runId), []).append(
                        dict(event.progress.durationMs)
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with phases._lock:
                    phases.terminated += 1
                    phases._cv.notify_all()

        self._lock = threading.Lock()
        self._cv = threading.Condition(self._lock)
        self.runs: dict[str, list[dict]] = {}
        self.terminated = 0
        self.listener = _Listener()

    def last_progress(self, n: int, timeout: float = 30.0) -> list[dict]:
        """Waits until ``n`` runs have terminated; returns each run's last
        progress event, in start order."""
        with self._cv:
            if not self._cv.wait_for(lambda: self.terminated >= n, timeout):
                raise TimeoutError("streaming listener saw no termination event")
            return [p[-1] if p else {} for p in self.runs.values()]


def _table(index_dir: str, table: str) -> ds.Dataset:
    return ds.dataset(f"{index_dir}/{table}", format="parquet", partitioning="hive")


def _file_count(index_dir: str, table: str = "corpus") -> int:
    return len(_table(index_dir, table).files)


def run(ctx) -> None:
    from bioclip_vector_db_spark.api import VectorSearchEngine
    from bioclip_vector_db_spark.operators.indexing import build_index, compact_index
    from bioclip_vector_db_spark.operators.knn import assign_partitions, ivf_search, route_queries
    from bioclip_vector_db_spark.streaming.ingest import stream_ingest

    spark, tr, seed = ctx.spark, ctx.tracer, ctx.seed
    corpus = datagen.SphereCorpus(seed)
    queries = datagen.QueryStream(seed)
    index_dir = os.path.join(ctx.work, "index")
    feed_dir = os.path.join(ctx.work, "feed")
    os.makedirs(feed_dir)
    phases = None
    if tr.enabled:
        phases = StreamPhases()
        spark.streams.addListener(phases.listener)

    # -- set-up ---------------------------------------------------------------
    t0 = time.perf_counter()
    base, labels = corpus.batch(0, N_BASE)
    base_path = os.path.join(ctx.work, "base.parquet")
    pq.write_table(datagen.vectors_table(0, base, labels), base_path)
    live = [base]
    t = time.perf_counter()
    with tr.span("indexing.build_index"):
        built = build_index(spark.read.parquet(base_path), index_dir, k=NLIST, seed=seed)
    t_build = time.perf_counter() - t
    t = time.perf_counter()
    with tr.span("api.open"):
        engine = VectorSearchEngine(spark, index_dir)
    centroids = engine.centroids
    layer_ms: dict[str, list[float]] = {"api.open_ms": [(time.perf_counter() - t) * 1e3]}
    ctx.layers["indexing.build_index_s"] = t_build
    ctx.layers["indexing.train_s"] = built["metrics"]["train_sec"]
    ctx.layers["indexing.corpus_write_s"] = built["metrics"]["corpus_write_sec"]

    state = {"rounds": 0, "engine": engine}

    def vectors() -> np.ndarray:
        if len(live) > 1:
            live[:] = [np.concatenate(live)]
        return live[0]

    def check_search(q: np.ndarray, rows: list[tuple[int, float]]) -> float:
        """Checks one query's result rows ``(id, distance)``; returns its
        recall@10 against the exact top-10 over the live corpus."""
        ctx.attempted += 1
        vecs = vectors()
        problem = None
        if len(rows) > 100:
            problem = f"{len(rows)} rows"
        elif any(a[1] > b[1] for a, b in zip(rows, rows[1:])):
            problem = "distances not ascending"
        else:
            for vid, dist in rows:
                if not 0 <= vid < len(vecs):
                    problem = f"unknown id {vid}"
                    break
                want = cosine_distance(q, vecs[vid])
                if abs(want - dist) > DIST_TOL:
                    problem = f"id {vid}: distance {dist!r}, recomputed {want!r}"
                    break
        if problem:
            ctx.fail(f"search: {problem}")
        return recall_at_k([r[0] for r in rows], exact_top_k(vecs, q, TOP_N), TOP_N)

    recalls: list[float] = []
    served: list[tuple[np.ndarray, int]] = []
    rounds: list[dict] = []
    batch_counts: list[dict] = []
    single_ms: list[float] = []
    batch_s: list[float] = []
    ingest_s: list[float] = []

    def search(nprobe: int, timed: bool) -> None:
        q = queries.draw(vectors())[0]
        mark = ctx.jobs_mark()
        with tr.span("api.search", nprobe=nprobe):
            t = time.perf_counter()
            with tr.span("api.search.construct"):
                df = state["engine"].search(q.tolist(), top_n=TOP_N, nprobe=nprobe)
            t1 = time.perf_counter()
            with tr.span("api.search.exec"):
                rows = [(int(r["id"]), float(r["distance"])) for r in df.collect()]
            t2 = time.perf_counter()
        recalls.append(check_search(q, rows))
        if timed:
            single_ms.append((t2 - t) * 1e3)
            ctx.request_done(t1 - t, t2 - t1, mark, "api.search")
            served.append((q, nprobe))
            layer_ms.setdefault("indexing.corpus_files", []).append(_file_count(index_dir))

    def split_searches() -> None:
        """Traced runs, after the timed loop: each timed request's routing
        and pruned scan, called directly and sunk to noop. Then the six
        requests routed together through each kernel, which must pick the
        same partitions; the ``numpy`` kernel is timed on a second run, once
        its first has started the Python workers."""
        eng = state["engine"]
        for q, nprobe in served:
            qdf = _query_frame(spark, [q])
            for name, df in (
                ("knn.route_queries", route_queries(qdf, eng.centroids, nprobe, kernel="expr")),
                ("knn.ivf_search", ivf_search(qdf, eng.corpus, eng.centroids, nprobe=nprobe, top_n=TOP_N, global_limit=100)),
            ):
                layer_ms.setdefault(f"{name}_ms", []).append(_noop_ms(tr, name, df))
        qdf = _query_frame(spark, [q for q, _ in served])
        routed = {k: route_queries(qdf, eng.centroids, 3, kernel=k) for k in ("expr", "numpy")}
        agree("route_queries", routed["expr"], routed["numpy"])
        layer_ms["knn_numpy.route_queries_ms"] = [_noop_ms(tr, "knn_numpy.route_queries", routed["numpy"])]

    def agree(what: str, a, b) -> None:
        ctx.attempted += 1
        cols = sorted(c for c in a.columns if c not in ("qv", "embedding"))
        if sorted(map(tuple, a.select(cols).collect())) != sorted(map(tuple, b.select(cols).collect())):
            ctx.fail(f"{what}: the numpy kernel disagrees with the expr kernel")

    def batch(qs: np.ndarray, nprobe: int = 3) -> tuple[float, int | None, list]:
        """One ``search_batch`` call, every query's rows checked; returns
        its latency, the job mark taken before it and the sorted rows."""
        qdf = _query_frame(spark, qs)
        mark = ctx.jobs_mark()
        t = time.perf_counter()
        with tr.span("api.search_batch"):
            out = state["engine"].search_batch(qdf, top_n=TOP_N, nprobe=nprobe).collect()
        dt = time.perf_counter() - t
        per_q: dict[int, list] = {}
        for r in out:
            per_q.setdefault(int(r["query_id"]), []).append(
                (int(r["rank"]), int(r["neighbor_id"]), float(r["distance"]))
            )
        for qid, q in enumerate(qs):
            rows = [(vid, d) for _, vid, d in sorted(per_q.get(qid, []))]
            recalls.append(check_search(q, rows))
        return dt, mark, sorted(tuple(r) for r in out)

    def ingest_round(timed: bool) -> None:
        i = state["rounds"] + 1
        vecs, labs = corpus.batch(i, INGEST_ROWS)
        start_id = sum(len(v) for v in live)
        mark = ctx.jobs_mark()
        files0 = _file_count(index_dir)
        t = time.perf_counter()
        with tr.span("streaming.round", round=i):
            pq.write_table(datagen.vectors_table(start_id, vecs, labs), os.path.join(feed_dir, f"r{i:04d}.parquet"))
            with tr.span("streaming.stream_ingest"):
                stream_ingest(spark, feed_dir, index_dir, centroids)
            t_ing = time.perf_counter()
            with tr.span("api.open"):
                state["engine"] = VectorSearchEngine(spark, index_dir)
        t_open = time.perf_counter()
        state["rounds"] = i
        live.append(vecs)
        layer_ms["api.open_ms"].append((t_open - t_ing) * 1e3)
        check_index(start_id + len(vecs))
        if not timed:
            return
        ingest_s.append(t_open - t)
        rounds.append({"round": i, "ingest_ms": (t_ing - t) * 1e3, "counts": ctx.bulk_done(mark)})
        layer_ms.setdefault("indexing.append.files_written", []).append(_file_count(index_dir) - files0)

    def round_layers() -> None:
        """Traced runs: each timed round's micro-batch phases and job
        counts, read after the loop."""
        progress = phases.last_progress(state["rounds"])
        for r in rounds:
            last = progress[r["round"] - 1]
            for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "triggerExecution"):
                layer_ms.setdefault(f"streaming.{k}_ms", []).append(last.get(k, 0))
            layer_ms.setdefault("streaming.start_stop_ms", []).append(
                r["ingest_ms"] - last.get("triggerExecution", 0)
            )
            layer_ms.setdefault("indexing.append.jobs", []).append(r["counts"]["jobs"])
            layer_ms.setdefault("indexing.append.tasks", []).append(r["counts"]["tasks"])

    def check_index(expected_rows: int) -> None:
        ctx.attempted += 1
        n_corpus = _table(index_dir, "corpus").count_rows()
        ids = _table(index_dir, "id_mapping").to_table(columns=["partition_id", "faiss_id"]).to_pandas()
        problem = None
        if n_corpus != expected_rows or len(ids) != expected_rows:
            problem = f"rows corpus={n_corpus} id_mapping={len(ids)}, want {expected_rows}"
        else:
            g = ids.groupby("partition_id")["faiss_id"].agg(["min", "max", "nunique", "size"])
            if not ((g["min"] == 0) & (g["max"] == g["size"] - 1) & (g["nunique"] == g["size"])).all():
                problem = "faiss_id not dense within a partition"
        if problem:
            ctx.fail(f"index after round {state['rounds']}: {problem}")

    search(1, timed=False)
    ingest_round(timed=False)
    ctx.setup_parts.update(prepare_s=time.perf_counter() - t0)

    # -- timed loop -----------------------------------------------------------
    gc0 = ctx.gc_ms()
    t_start = t_cycle = time.perf_counter()
    cycles: list[float] = []
    i = n_single = 0
    while i % len(CYCLE) or time.perf_counter() - t_start < ctx.seconds:
        kind = CYCLE[i % len(CYCLE)]
        tr.request_id = str(i)
        if kind == "search":
            search(1 + 2 * (n_single % 2), timed=True)
            n_single += 1
        elif kind == "batch":
            probes = queries.draw(vectors(), BATCH_VECTORS)
            dt, mark, before = batch(probes)
            batch_s.append(dt)
            batch_counts.append(ctx.counted(mark))
        else:
            ingest_round(timed=True)
        i += 1
        if i % len(CYCLE) == 0:
            cycles.append(time.perf_counter() - t_cycle)
            ctx.flush_counts()
            t_cycle = time.perf_counter()
    ctx.gc_total_ms = ctx.gc_ms() - gc0
    tr.request_id = None

    if tr.enabled:
        round_layers()
        layer_ms["api.search_batch.tasks"] = [c["tasks"] for c in batch_counts]
        split_searches()
        vdf = spark.read.parquet(os.path.join(feed_dir, f"r{state['rounds']:04d}.parquet"))
        assigned = {k: assign_partitions(vdf, centroids, kernel=k) for k in ("expr", "numpy")}
        layer_ms["knn.assign_partitions_ms"] = [_noop_ms(tr, "knn.assign_partitions", assigned["expr"])]
        layer_ms["knn_numpy.assign_partitions_ms"] = [_noop_ms(tr, "knn_numpy.assign_partitions", assigned["numpy"])]
        agree("assign_partitions", assigned["expr"], assigned["numpy"])

    # -- compaction, then the last batch search's queries again ---------------
    files_before = _file_count(index_dir)
    t = time.perf_counter()
    with tr.span("indexing.compact_index"):
        compact_index(spark, index_dir)
    compact_s = time.perf_counter() - t
    state["engine"] = VectorSearchEngine(spark, index_dir)
    _, _, after = batch(probes)
    check_index(sum(len(v) for v in live))
    ctx.attempted += 1
    if before != after:
        ctx.fail("probe results changed across compact_index")

    ctx.e2e.update(request_ms=median(single_ms), cycle_s=median(cycles))
    ctx.layers["streaming.round_s"] = median(ingest_s)
    ctx.layers["api.search_batch_s"] = median(batch_s)
    ctx.layers["indexing.compact_s"] = compact_s
    ctx.layers["indexing.compact.files_before"] = files_before
    ctx.layers["indexing.compact.files_after"] = _file_count(index_dir)
    ctx.layers["recall_at_10"] = float(np.mean(recalls))
    ctx.layers["batch_search_qps"] = BATCH_VECTORS / median(batch_s)
    for name, vals in layer_ms.items():
        if vals:
            ctx.layers[name] = median(vals)
    sizes = _table(index_dir, "id_mapping").to_table(columns=["partition_id"]).to_pandas().value_counts()
    ctx.detail.update(
        requests=len(single_ms),
        batches=len(batch_s),
        ingest_rounds=len(ingest_s),
        request_p90_ms=percentile(single_ms, 90),
        request_samples_ms=single_ms,
        ingest_samples_s=ingest_s,
        corpus_rows=sum(len(v) for v in live),
        base_rows=N_BASE,
        nlist=NLIST,
        ingest_rows_per_round=INGEST_ROWS,
        partition_rows={"min": int(sizes.min()), "median": float(sizes.median()), "max": int(sizes.max())},
    )


def _noop_ms(tr, name: str, df) -> float:
    t = time.perf_counter()
    with tr.span(name):
        df.write.format("noop").mode("overwrite").save()
    return (time.perf_counter() - t) * 1e3


def _query_frame(spark, qs):
    return spark.createDataFrame(
        [(i, [float(x) for x in q]) for i, q in enumerate(qs)],
        "query_id long, qv array<double>",
    )
