"""API-parity layer: the reference's serving verbs over a built index."""

from __future__ import annotations

import functools
import re

import pytest
from pyspark.sql import functions as F

from bioclip_vector_db_spark.api import GLOBAL_MAX_NEIGHBORS, VectorSearchEngine
from bioclip_vector_db_spark.operators import knn, knn_numpy
from bioclip_vector_db_spark.operators.indexing import build_index
from bioclip_vector_db_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("api") / "index")
    emb = load_table(spark, sf_dir, "embeddings")
    build_index(emb, out, k=5)
    return VectorSearchEngine(spark, out)


def test_search_single_vector(spark, sf_dir, engine):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 17).collect()[0].embedding
    rows = engine.search(list(qv), top_n=5, nprobe=5).collect()
    assert rows[0].id == "17" and abs(rows[0].distance) < 1e-6
    assert [r.distance for r in rows] == sorted(r.distance for r in rows)


def _spark_routed_search(engine, queries, top_n, nprobe, monkeypatch):
    """The single search as the batch plan computes it: ``ivf_search``
    with expression-kernel routing, then the id cast and the
    ``(distance, id)`` order -> {query_id: [(id, distance), ...]}."""
    with monkeypatch.context() as m:
        m.setattr(
            knn, "route_queries", functools.partial(knn.route_queries, kernel="expr")
        )
        hits = knn.ivf_search(
            queries,
            engine.corpus,
            engine.centroids,
            nprobe=nprobe,
            top_n=top_n,
            global_limit=GLOBAL_MAX_NEIGHBORS,
        ).select("query_id", F.col("neighbor_id").cast("string").alias("id"), "distance")
        want = {}
        for r in hits.collect():
            want.setdefault(r.query_id, []).append((r.id, r.distance))
    return {q: sorted(v, key=lambda t: (t[1], t[0])) for q, v in want.items()}


def _assert_search_equals_spark_routed(engine, queries, top_n, nprobe, monkeypatch):
    want = _spark_routed_search(engine, queries, top_n, nprobe, monkeypatch)
    for r in queries.collect():
        got = [
            (x.id, x.distance)
            for x in engine.search(list(r.qv), top_n=top_n, nprobe=nprobe).collect()
        ]
        assert got == want.get(r.query_id, []), (r.query_id, top_n, nprobe)


@pytest.mark.parametrize(
    "top_n, nprobe",
    [(10, 1), (10, 3), (10, "nlist"), (10, "nlist+2"), (60, 3)],
)
def test_search_equals_spark_routed_search(spark, sf_dir, engine, monkeypatch, top_n, nprobe):
    """Driver-side routing over the held leader returns the batch plan's
    rows, row for row, for about 50 fixture queries: nprobe 1 and 3, every
    partition, more probes than partitions, and top_n 60 at nprobe 3,
    where 180 candidates make the global limit of 100 cut."""
    nlist = engine.centroids.count()
    nprobe = {"nlist": nlist, "nlist+2": nlist + 2}.get(nprobe, nprobe)
    queries = knn._fixture_queries(spark, sf_dir, n=50)
    _assert_search_equals_spark_routed(engine, queries, top_n, nprobe, monkeypatch)
    if top_n * nprobe > GLOBAL_MAX_NEIGHBORS:
        q = queries.first().qv
        assert len(engine.search(list(q), top_n=top_n, nprobe=nprobe).collect()) == 100


def test_search_edge_probe_and_top_n(spark, sf_dir, engine):
    """nprobe <= 0 or top_n <= 0 returns no rows (a negative nprobe must
    not slice to nlist-1 probes); nprobe > nlist probes every partition."""
    qv = list(knn._fixture_queries(spark, sf_dir, n=1).first().qv)
    for top_n, nprobe in [(10, 0), (10, -1), (10, -4), (0, 3), (-2, 3)]:
        df = engine.search(qv, top_n=top_n, nprobe=nprobe)
        assert df.collect() == [], (top_n, nprobe)
        assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
            ("id", "string"),
            ("distance", "double"),
        ]
    nlist = engine.centroids.count()
    assert (
        engine.search(qv, top_n=5, nprobe=nlist + 7).collect()
        == engine.search(qv, top_n=5, nprobe=nlist).collect()
    )


def test_search_matches_on_tied_leader(spark, sf_dir, tmp_path, monkeypatch):
    """Tie-break parity on the adversarial leader table: 1,200 centroids
    with 8 distinct vectors, routed in 64-element tiles so every
    boundary tie crosses blocks. Only the smallest-pid twins of a
    distance class hold the probed rows here (partition = vec_id % 64),
    so any other twin returns different rows."""
    from tests.test_knn_numpy import _tied_centroids

    d = str(tmp_path / "tied")
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        "vec_id", "embedding", (F.col("vec_id") % 64).cast("int").alias("partition_id")
    )
    corpus.write.partitionBy("partition_id").parquet(f"{d}/corpus")
    _tied_centroids(spark).write.parquet(f"{d}/centroids")
    corpus.select(
        "partition_id", F.col("vec_id").cast("string").alias("original_id")
    ).write.parquet(f"{d}/id_mapping")
    engine = VectorSearchEngine(spark, d)
    monkeypatch.setattr(knn_numpy, "_TILE_ELEMS", 64)
    queries = knn._fixture_queries(spark, sf_dir, n=8)
    _assert_search_equals_spark_routed(engine, queries, 5, 5, monkeypatch)


def test_search_plan_prunes_statically_without_broadcasts(spark, sf_dir, engine):
    """The single search scans only the probed partitions by a static
    partition filter, with no broadcast and no dynamic-pruning subquery.
    A warm search runs at most 2 jobs; the first search of a fresh engine
    adds one for the leader pull."""
    sc = spark.sparkContext
    qv = list(knn._fixture_queries(spark, sf_dir, n=1).first().qv)

    def jobs_of(run, group):
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    fresh = VectorSearchEngine(spark, engine.index_dir)
    assert jobs_of(lambda: fresh.search(qv, nprobe=3).collect(), "api-first-search") <= 3
    df = fresh.search(qv, nprobe=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*partition_id", plan), plan
    assert "BroadcastExchange" not in plan and "dynamicpruning" not in plan.lower(), plan
    assert 1 <= jobs_of(df.collect, "api-warm-search") <= 2


def test_health(engine):
    h = engine.health()
    assert h["status"] == "healthy"
    assert h["total_embeddings"] == 500
    assert h["dimension_consistent"] is True
    assert 1 <= h["partitions_loaded"] <= 5


def test_point_lookup(engine):
    row = engine.query("42").collect()
    assert len(row) == 1 and row[0].original_id == "42"


def test_reset_requires_force(engine):
    with pytest.raises(ValueError):
        engine.reset()


def test_add_batch_incremental_equals_rebuild(spark, sf_dir, tmp_path):
    """The incremental append contract: with centroids FIXED, building on
    the prefix then add_batch-ing the suffix yields the same three index
    tables — and the same search results — as one rebuild over the union.
    The append path must not re-fit (it never calls train_kmeans)."""
    from bioclip_vector_db_spark.operators.knn import fixture_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cent = fixture_centroids(spark, sf_dir)
    prefix, suffix = emb.filter(F.col("vec_id") < 400), emb.filter(F.col("vec_id") >= 400)

    full_dir = str(tmp_path / "full")
    incr_dir = str(tmp_path / "incr")
    build_index(emb, full_dir, centroids=cent)
    build_index(prefix, incr_dir, centroids=cent)
    engine = VectorSearchEngine(spark, incr_dir).add_batch(suffix)

    full = VectorSearchEngine(spark, full_dir)
    key = ["partition_id", "faiss_id"]
    for attr in ("corpus", "id_mapping"):
        a = getattr(full, attr).drop("created_at").orderBy(*key).collect()
        b = getattr(engine, attr).drop("created_at").orderBy(*key).collect()
        assert a == b, f"{attr} diverged between rebuild and append"

    qv = emb.filter(F.col("vec_id") == 450).collect()[0].embedding
    got = engine.search(list(qv), top_n=5, nprobe=3).collect()
    want = full.search(list(qv), top_n=5, nprobe=3).collect()
    assert got == want and got[0].id == "450"

    # Dedup guard (O12): re-adding the same rows must be a no-op.
    again = engine.add_batch(suffix)
    assert again.corpus.count() == full.corpus.count()


def test_compact_index_preserves_tables(spark, sf_dir, tmp_path):
    """After fragmenting appends, compaction must reduce file counts while
    keeping both tables and search results bit-identical."""
    from bioclip_vector_db_spark.operators.indexing import compact_index
    from bioclip_vector_db_spark.operators.knn import fixture_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cent = fixture_centroids(spark, sf_dir)
    d = str(tmp_path / "frag")
    build_index(emb.filter(F.col("vec_id") < 300), d, centroids=cent)
    engine = VectorSearchEngine(spark, d)
    engine = engine.add_batch(emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)))
    engine = engine.add_batch(emb.filter(F.col("vec_id") >= 400))

    key = ["partition_id", "faiss_id"]
    before = {
        t: getattr(engine, t).drop("created_at").orderBy(*key).collect()
        for t in ("corpus", "id_mapping")
    }
    counts = compact_index(spark, d)
    after_engine = VectorSearchEngine(spark, d)
    for t in ("corpus", "id_mapping"):
        assert getattr(after_engine, t).drop("created_at").orderBy(*key).collect() == before[t], t
        assert counts[f"{t}_files_after"] < counts[f"{t}_files_before"], counts

    qv = emb.filter(F.col("vec_id") == 123).collect()[0].embedding
    assert after_engine.search(list(qv), top_n=5, nprobe=3).collect()[0].id == "123"
