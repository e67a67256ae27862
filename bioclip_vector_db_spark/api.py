"""API-parity layer: the reference's serving surface over a built index.

A user of the reference talks to two things: the storage contract
(reference: src/bioclip_vector_db/storage/storage_interface.py:13-94 —
``add_embedding`` / ``batch_add_embeddings`` / ``query`` / ``reset`` /
``flush``) and the search server (query/neighborhood_server.py:303-350 —
``POST /search {query_vector, top_n, nprobe}``, ``GET /health``; fanned out
by client/nearest_neighbor_client.py:34-95). This module exposes the same
verbs over the Spark-built index tables, so switching engines is a change
of import, not of call shape:

- there are no per-record inserts — ``add_batch`` appends a DataFrame and
  the buffered-writer mechanics (O3) are the parquet writer's job;
- the HTTP envelope is out of scope (SURVEY.md §2.4 O32): ``search``
  returns the merged-neighbor rows the server's JSON ``merged_neighbors``
  field carries, already globally merged (O27/O28 — the multi-server
  fan-out collapses into partitions of one DataFrame).

Like the reference's server, which keeps its leader index in memory and
routes each request before any scan (neighborhood_server.py:181-185,
200-203), ``search`` holds the centroid matrix on the driver. An engine
object pulls it once, on its first ``search``, and keeps it: the engine is
a snapshot of the index tables, the centroids never change after
``build_index``, and a reader sees later writes by reopening the engine
(``add_batch`` returns a new one). At the reference's design point
(nlist 31,622 x 512-d) the matrix is about 130 MB of doubles, the same
matrix the ``numpy`` routing kernel collects on every call. The batch
verbs keep Spark-side routing.
"""

from __future__ import annotations

import threading

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.vector import cosine_distance, lit_array
from .operators.knn import ivf_search
from .operators.knn_numpy import _collect_centroids, _route_topn_core

#: The reference's request/limit defaults (neighborhood_server.py:312,
#: :417-421; nearest_neighbor_client.py:13).
DEFAULT_TOP_N = 10
DEFAULT_NPROBE = 1
GLOBAL_MAX_NEIGHBORS = 100


class VectorSearchEngine:
    """Serving-path facade over the three index tables build_index writes."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.corpus = spark.read.parquet(f"{index_dir}/corpus")
        self.centroids = spark.read.parquet(f"{index_dir}/centroids")
        self.id_mapping = spark.read.parquet(f"{index_dir}/id_mapping")
        self._leader: tuple[np.ndarray, np.ndarray] | None = None
        self._leader_lock = threading.Lock()

    # -- search (POST /search analog) ------------------------------------

    def search(
        self,
        query_vector: list[float],
        top_n: int = DEFAULT_TOP_N,
        nprobe: int = DEFAULT_NPROBE,
    ) -> DataFrame:
        """One query vector -> merged neighbors ``(id, distance)`` rows,
        routed to ``nprobe`` partitions, ``top_n`` per partition, globally
        merged ascending by ``(distance, id)`` and cut to 100 (O22-O28).

        Routing runs on the driver over the held leader (module
        docstring): the first call pulls the centroid matrix in one small
        job, every call ranks it with the ``numpy`` routing core (round-9
        distances, exact ``(distance, partition_id)`` order). The corpus
        scan then carries a static ``partition_id IN (...)``, so only the
        probed partitions are listed and read. Rows equal ``ivf_search``'s
        for the same query: ``nprobe <= 0`` or ``top_n <= 0`` returns no
        rows, ``nprobe > nlist`` probes every partition, and the limit
        keeps the first 100 by ``(distance, neighbor_id)``, as its rank
        filter does.
        """
        q = [float(x) for x in query_vector]
        with self._leader_lock:
            if self._leader is None:
                self._leader = _collect_centroids(self.centroids, "partition_id", "centroid")
            pids, cmat = self._leader
        probed = _route_topn_core(np.array([q]), pids, cmat, nprobe)[0]
        scored = self.corpus.filter(F.col("partition_id").isin(probed.tolist())).select(
            "partition_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_distance(lit_array(q), F.col("embedding")).alias("distance"),
        )
        by_distance = (F.col("distance").asc(), F.col("neighbor_id").asc())
        w_local = Window.partitionBy("partition_id").orderBy(*by_distance)
        # O25 id remap: hits carry vec_id, whose original_id is its string
        # form by construction (build_id_mapping) — the join degenerates to
        # a cast here; against an external id space it would be
        # hits.join(id_mapping, ["partition_id", "faiss_id"]).
        # The limit cuts by the numeric id, as ivf_search's rank does; the
        # final sort (local: the limit leaves one partition) orders the
        # kept rows by the string id.
        return (
            scored.withColumn("local_rank", F.row_number().over(w_local))
            .filter(F.col("local_rank") <= top_n)
            .orderBy(*by_distance)
            .limit(GLOBAL_MAX_NEIGHBORS)
            .select(F.col("neighbor_id").cast("string").alias("id"), "distance")
            .orderBy(F.col("distance").asc(), F.col("id").asc())
        )

    def search_batch(self, queries: DataFrame, top_n: int = DEFAULT_TOP_N, nprobe: int = DEFAULT_NPROBE) -> DataFrame:
        """X3: the same search lifted to a query table."""
        return ivf_search(
            queries, self.corpus, self.centroids, nprobe=nprobe, top_n=top_n,
            global_limit=GLOBAL_MAX_NEIGHBORS,
        )

    def search_radius(self, queries: DataFrame, radius: float) -> DataFrame:
        """Range query over the built index: every neighbor within cosine
        distance ``radius`` — exact by the spread-bound pruning proof
        (operators.knn.radius_search; the oracle gate is the brute-force
        scan). ``queries`` carries (query_id, qv)."""
        from .operators.knn import radius_search

        return radius_search(queries, self.corpus, self.centroids, radius)

    def search_diverse(
        self,
        queries: DataFrame,
        k: int = 5,
        pool: int = 20,
    ) -> DataFrame:
        """MMR-diversified top-k: exact top-``pool`` candidates per query,
        greedily re-ranked for diversity (operators.knn.mmr_rerank —
        integer-quantized scores, per-query Arrow greedy)."""
        from .operators.knn import mmr_rerank

        return mmr_rerank(
            queries, self.corpus.select("vec_id", "embedding"), k=k, pool=pool
        )

    # -- health (GET /health analog) --------------------------------------

    def health(self) -> dict:
        """O29: totals + per-partition counts + dimension consistency
        (neighborhood_server.py:228-241)."""
        agg = self.corpus.agg(
            F.count(F.lit(1)).alias("total"),
            F.countDistinct(F.size("embedding")).alias("n_dims"),
            F.countDistinct("partition_id").alias("n_partitions"),
        ).collect()[0]
        return {
            "status": "healthy" if agg.n_dims == 1 else "unhealthy",
            "total_embeddings": agg.total,
            "partitions_loaded": agg.n_partitions,
            "dimension_consistent": agg.n_dims == 1,
        }

    # -- storage-contract verbs -------------------------------------------

    def query(self, original_id: str) -> DataFrame:
        """Point lookup by original id (StorageInterface.query /
        get_metadata-by-original_id, metadata_storage.py:153-173)."""
        return self.id_mapping.filter(F.col("original_id") == original_id)

    def add_batch(self, vectors: DataFrame) -> "VectorSearchEngine":
        """batch_add_embeddings analog, INCREMENTAL: new rows are
        deduplicated against the stored ids (O12), assigned against the
        EXISTING centroids (no re-fit — the reference never retrains its
        quantizer after the initial fit either, storage_impl.py:103-111),
        given faiss_ids continuing each partition's dense sequence (O20),
        and appended as new per-partition files. Cost is O(|batch|) plus
        one tiny max-per-partition aggregate over the stored corpus —
        independent of corpus size at the write layer, since
        ``partitionBy`` append only creates files under the touched
        partition directories.

        Equivalence contract (tests/test_api.py): with centroids fixed and
        batch ids above the stored ids, append-then-search ==
        rebuild-then-search, byte for byte.
        """
        from .operators.indexing import append_to_index

        append_to_index(self.spark, self.index_dir, vectors, self.centroids)
        return VectorSearchEngine(self.spark, self.index_dir)

    def reset(self, force: bool = False) -> None:
        """StorageInterface.reset analog (storage_impl.py:56-64): drop the
        index tables; refuses without ``force`` like the reference.

        Takes the same ``.write_lock`` as the write ops (see
        operators.indexing._single_writer), so a reset cannot rip the
        directories out from under an in-flight append/delete rewrite.
        The lock FILE itself is preserved (only the tables are removed):
        deleting it would orphan the inode a blocked writer is waiting
        on, letting a later writer lock a different inode at the same
        path — two \"exclusive\" holders."""
        if not force:
            raise ValueError("reset requires force=True")
        import os
        import shutil

        from .operators.indexing import invalidate_append_state
        from .streaming.staging import process_lock

        if not os.path.isdir(self.index_dir):
            return
        with process_lock(os.path.join(self.index_dir, ".write_lock")):
            invalidate_append_state(self.index_dir)
            for child in os.listdir(self.index_dir):
                if child == ".write_lock":
                    continue
                path = os.path.join(self.index_dir, child)
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.unlink(path)

    def close(self) -> None:
        """Serving-tier shutdown: drain every thread's registered
        transient persists (plans/registry.release_all_transients) so a
        long-lived driver whose worker threads churned does not retain
        their JVM-side cache entries (r11 ADVICE). Quiescent-only by the
        drain's contract — call after the last in-flight query on ANY
        thread has completed, exactly like a server's graceful-stop
        hook. The engine object stays usable afterwards (the tables are
        plain reads, not cached state)."""
        from .plans.registry import release_all_transients

        release_all_transients()
