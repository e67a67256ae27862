"""Seeded input generators. The same seed gives the same inputs; each kind
of input draws from its own stream, so adding draws to one leaves the
others unchanged."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64

# Stream ids for np.random.default_rng([seed, stream]).
_CORPUS, _QUERIES, _FIXTURES = 2, 3, 4


def rng(seed: int, stream: int, sub: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, stream, sub])


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


class SphereCorpus:
    """Unit vectors drawn uniformly from the sphere, with labels 0..9 drawn
    independently of them: the shape of the engine's ``embeddings``
    fixture, whose vectors are as far apart as uniform ones and whose
    labels carry no direction (see NOTES.md, "Generated inputs").

    ``batch(i, n)`` draws the i-th batch of ``n`` vectors; batch 0 is the
    base corpus and later batches are fresh vectors from the same
    distribution, as an ingest feed brings them.
    """

    def __init__(self, seed: int):
        self.seed = seed

    def batch(self, i: int, n: int) -> tuple[np.ndarray, np.ndarray]:
        r = rng(self.seed, _CORPUS, i)
        v = _unit(r.normal(size=(n, DIM)))
        return v.astype(np.float32), r.integers(0, 10, n).astype(np.int32)


def vectors_table(start_id: int, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    """The engine's vector schema: ``(vec_id, embedding, label)``."""
    return pa.table(
        {
            "vec_id": np.arange(start_id, start_id + len(vecs), dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels,
        }
    )


class QueryStream:
    """Query vectors: a random live corpus vector plus N(0, 0.05) noise,
    renormalized."""

    def __init__(self, seed: int, noise: float = 0.05):
        self._r = rng(seed, _QUERIES)
        self.noise = noise

    def draw(self, live: np.ndarray, n: int = 1) -> np.ndarray:
        picks = live[self._r.integers(0, len(live), n)].astype(np.float64)
        return _unit(picks + self._r.normal(scale=self.noise, size=picks.shape))


# ---------------------------------------------------------------------------
# Curate fixtures: the engine's fixture tables, small, from the seed
# ---------------------------------------------------------------------------

#: Rows per table: the engine's sf0.01 fixture scale, the scale its DuckDB
#: correctness gate runs at.
FIXTURE_ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 100,
    "customer": 1500,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
#: Share of documents that are a near-copy of an earlier one: its words
#: with one word appended or the last one dropped (1% each two or three
#: words), or, in 3% of copies, the same text.
NEAR_COPY_SHARE = 0.048


def _ts(r: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + r.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")


def fixture_tables(seed: int) -> dict[str, pa.Table]:
    n = FIXTURE_ROWS
    r = rng(seed, _FIXTURES)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": r.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": np.round(r.uniform(-999, 9999, n["supplier"]), 2),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": r.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": np.round(r.uniform(-999, 9999, n["customer"]), 2),
            "c_mktsegment": r.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n["customer"]
            ),
        }
    )
    adjectives = ["blue", "cold", "hot", "large", "new", "red", "small", "old"]
    nouns = ["anvil", "bolt", "gear", "ring", "rod", "widget", "nut", "spring"]
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{r.choice(adjectives)} {r.choice(nouns)}" for _ in range(n["part"])],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n["part"])],
            "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n["part"]),
            "p_size": r.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900 + np.arange(n["part"]) * 0.1, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": r.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": r.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": np.round(r.uniform(1000, 500000, n["orders"]), 2),
            "o_orderdate": _ts(r, n["orders"], "1995-01-01", 2400).astype("datetime64[D]").astype("datetime64[us]"),
            "o_orderpriority": r.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n["orders"]
            ),
        }
    )
    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": r.integers(0, n["orders"], nl),
            "l_partkey": r.integers(0, n["part"], nl),
            "l_suppkey": r.integers(0, n["supplier"], nl),
            "l_linenumber": r.integers(1, 8, nl).astype(np.int32),
            "l_quantity": r.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(r.uniform(900, 105000, nl), 2),
            "l_discount": np.round(r.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(r.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": r.choice(["A", "N", "R"], nl),
            "l_linestatus": r.choice(["F", "O"], nl),
            "l_shipdate": _ts(r, nl, "1995-01-02", 2500).astype("datetime64[D]").astype("datetime64[us]"),
        }
    )
    ne = n["events"]
    tables["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": np.sort(_ts(r, ne, "2024-01-01", 30)),
            "user_id": r.integers(0, n["customer"] // 10, ne),
            "event_type": r.choice(["click", "error", "purchase", "signup", "view"], ne),
            "value": np.round(r.exponential(50, ne), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)],
        }
    )
    texts = []
    for i in range(n["documents"]):
        if i and r.random() < NEAR_COPY_SHARE:
            words = texts[int(r.integers(0, i))].split()
            edit = int(r.choice([0, 1, 2, 3], p=[0.03, 0.95, 0.01, 0.01]))
            if r.random() < 0.5:
                words = words + list(r.choice(_WORDS, edit))
            else:
                words = words[: len(words) - edit]
        else:
            words = list(r.choice(_WORDS, int(r.integers(10, 100))))
        texts.append(" ".join(words))
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n["documents"], dtype=np.int64),
            "text": texts,
            "lang": r.choice(_LANGS, n["documents"], p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n["documents"])],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs, labels = SphereCorpus(seed).batch(0, n["embeddings"])
    tables["embeddings"] = vectors_table(0, vecs, labels)
    return tables


def write_fixtures(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
