"""Unit tests for the benchmark's helpers; no Spark needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import statistics

import numpy as np
import pytest

import datagen
from curate import oracle_mismatch
from harness import Tracer, cosine_distance, exact_top_k, percentile, recall_at_k, self_times


def test_percentile_matches_statistics_inclusive():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
    q = statistics.quantiles(xs, n=10, method="inclusive")
    assert percentile(xs, 10) == pytest.approx(q[0])
    assert percentile(xs, 90) == pytest.approx(q[-1])
    assert percentile(xs, 50) == statistics.median(xs)
    assert percentile([4.0, 1.0], 50) == 2.5
    assert percentile([3.0], 90) == 3.0
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 9.0


def test_percentile_rejects_empty():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_recall_at_k():
    assert recall_at_k([1, 2, 3], [3, 2, 1], k=3) == 1.0
    assert recall_at_k([1, 2, 9, 8], [1, 2, 3, 4], k=4) == 0.5
    # Only the first k returned ids count.
    assert recall_at_k([9, 8, 1, 2], [1, 2], k=2) == 0.0
    with pytest.raises(ValueError):
        recall_at_k([1], [], k=10)


def test_exact_top_k_breaks_ties_toward_smaller_index():
    corpus = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [0.6, 0.8]], dtype=np.float32)
    assert exact_top_k(corpus, np.array([1.0, 0.0]), 3) == [0, 2, 3]


def test_cosine_distance_sums_left_to_right():
    r = np.random.default_rng(0)
    q, v = r.normal(size=64), r.normal(size=64).astype(np.float32)
    acc = 0.0
    for a, b in zip(q, v.astype(np.float64)):
        acc += a * b
    assert cosine_distance(q, v) == round(1.0 - acc, 9)


def test_generators_are_seeded():
    a, b = datagen.SphereCorpus(7), datagen.SphereCorpus(7)
    va, la = a.batch(0, 100)
    vb, lb = b.batch(0, 100)
    assert np.array_equal(va, vb) and np.array_equal(la, lb)
    assert not np.array_equal(va, datagen.SphereCorpus(8).batch(0, 100)[0])
    # Later batches are fresh vectors, and drawing them leaves batch 0 alone.
    assert not np.array_equal(a.batch(1, 100)[0], va)
    assert np.array_equal(a.batch(0, 100)[0], va)
    assert np.allclose(np.linalg.norm(va, axis=1), 1.0, atol=1e-6)
    qa = datagen.QueryStream(7).draw(va, 5)
    assert np.array_equal(qa, datagen.QueryStream(7).draw(va, 5))
    assert np.allclose(np.linalg.norm(qa, axis=1), 1.0)


def test_fixtures_are_seeded():
    t1, t2 = datagen.fixture_tables(3), datagen.fixture_tables(3)
    assert set(t1) == set(datagen.FIXTURE_ROWS)
    for name, rows in datagen.FIXTURE_ROWS.items():
        assert t1[name].num_rows == rows
        assert t1[name].equals(t2[name])
    assert not t1["documents"].equals(datagen.fixture_tables(4)["documents"])


def test_documents_follow_the_engine_fixture():
    docs = datagen.fixture_tables(5)["documents"].to_pandas()
    words = [t.split() for t in docs.text]
    assert {w for ws in words for w in ws} <= set(datagen._WORDS)
    # Near-copies: an earlier document's words with trailing words added or
    # dropped. About 4.8% of documents; the rest have 10..99 words.
    copies = sum(
        any(a[: min(len(a), len(b))] == b[: min(len(a), len(b))] for b in words[:i])
        for i, a in enumerate(words)
    )
    assert 0.02 * len(docs) <= copies <= 0.09 * len(docs)
    assert (docs.lang.value_counts(normalize=True).sort_index() - [0.15, 0.40, 0.15, 0.15, 0.15]).abs().max() < 0.06
    assert (docs.n_chars == docs.text.str.len()).all()


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 0, "start": 7.0, "end": 8.0},
        {"id": 4, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_records_parent_and_request():
    tr = Tracer(True)
    tr.request_id = "r1"
    with tr.span("outer"):
        with tr.span("inner", k=1):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["request"] == "r1" and inner["k"] == 1
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    off = Tracer(False)
    with off.span("x") as rec:
        assert rec is None
    assert off.spans == []


def test_oracle_mismatch():
    assert oracle_mismatch([(1, 0.5)], ["a", "B"], [(1, 0.5)], ["a", "b"]) is None
    assert oracle_mismatch([(1, 0.5), (2, 1.0)], ["a", "b"], [(2, 1.0), (1, 0.5)], ["a", "b"]) is None
    assert oracle_mismatch([(1, 0.5)], ["a", "b"], [(1, 0.25)], ["a", "b"]).startswith("value")
    assert oracle_mismatch([(1, 0.5)], ["a", "b"], [], ["a", "b"]).startswith("row count")
    assert oracle_mismatch([(float("nan"),)], ["a"], [(float("nan"),)], ["a"]) is None
