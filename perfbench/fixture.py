"""Seeded inputs for the benchmark.

Two generators, both pure numpy/pyarrow (no Spark):

- ``build_tables(out_dir, seed)`` writes the ten parquet tables the
  registered queries read (TPC-H-ish star schema, ``events``,
  ``documents``, ``embeddings``) with the schema, value domains and row
  counts of the sf0.01 test fixture (TESTDATA.md).  Every column is drawn
  independently from the seed, so each seed gives different data of the
  same shape.
- ``Corpus(seed)`` is the ``mr_jobs`` text source: a Zipf-distributed
  stream over a 50k-word vocabulary, cut into per-job slices of
  ``DOCS_PER_JOB`` documents.  ``Corpus.job(i)`` builds slice ``i`` on
  demand so only one job's input is alive at a time.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.01 row counts (the correctness fixture of TESTDATA.md).
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMB_DIM = 64
_EMB_LABELS = 10


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _days(rng, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    d = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + d, type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def _tables(seed: int) -> dict[str, pa.Table]:
    n = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, 1)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(r, n["customer"], -999.99, 9999.99),
        "c_mktsegment": _pick(r, _SEGMENTS, n["customer"]),
    })

    r = _rng(seed, 2)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(r, n["supplier"], -999.99, 9999.99),
    })

    r = _rng(seed, 3)
    keys = np.arange(n["part"])
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(r, _ADJ, len(keys)), _pick(r, _NOUN, len(keys)))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, len(keys))],
        "p_type": _pick(r, _PTYPES, len(keys)),
        "p_size": pa.array(r.integers(1, 51, len(keys)), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })

    r = _rng(seed, 4)
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], k),
        "o_totalprice": _money(r, k, 1000.0, 500000.0),
        "o_orderdate": _days(r, k, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(r, _PRIORITIES, k),
    })

    r = _rng(seed, 5)
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, k, 900.0, 105000.0),
        "l_discount": np.round(r.integers(0, 11, k) * 0.01, 2),
        "l_tax": np.round(r.integers(0, 9, k) * 0.01, 2),
        "l_returnflag": _pick(r, ["A", "N", "R"], k),
        "l_linestatus": _pick(r, ["F", "O"], k),
        "l_shipdate": _days(r, k, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })

    r = _rng(seed, 6)
    k = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    offs = np.sort(r.integers(0, month_us, k)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + offs, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(1, k * 3 // 200), k), pa.int64()),
        "event_type": _pick(r, _EVENT_TYPES, k),
        "value": np.round(np.maximum(r.exponential(50.0, k), 0.01), 2),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, k)],
    })

    r = _rng(seed, 7)
    k = n["documents"]
    texts: list[str] = []
    for i in range(k):
        u = r.random()
        if i > 0 and u < 0.05:  # near-duplicate: an earlier doc plus a marker word
            texts.append(texts[int(r.integers(0, i))] + " dup")
        elif i > 0 and u < 0.052:  # exact duplicate
            texts.append(texts[int(r.integers(0, i))])
        else:
            words = r.choice(len(_DOC_WORDS), int(r.integers(10, 101)))
            texts.append(" ".join(_DOC_WORDS[w] for w in words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": texts,
        "lang": _pick(r, _LANGS, k, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    r = _rng(seed, 8)
    k = n["embeddings"]
    centers = r.normal(size=(_EMB_LABELS, _EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = r.integers(0, _EMB_LABELS, k)
    vecs = centers[labels] + r.normal(scale=0.1, size=(k, _EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def build_tables(out_dir: str, seed: int) -> str:
    """Write the seeded fixture to ``out_dir`` (idempotent); return it.

    A ``.done`` marker is written last, so an interrupted build is
    rebuilt rather than read half-written.
    """
    marker = os.path.join(out_dir, ".done")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(str(seed))
    return out_dir


# ---------------------------------------------------------------------------
# mr_jobs corpus
# ---------------------------------------------------------------------------

VOCAB = 50_000
ZIPF_S = 1.05
DOCS_PER_JOB = 1_000
WORDS_PER_DOC = (100, 300)  # uniform, so about 200k words per job


class Corpus:
    """Zipf(1.05) text over a seeded 50k-word vocabulary."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        r = _rng(seed, 100)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"), dtype=object)
        words: set[str] = set()
        while len(words) < VOCAB:
            n = 2 * (VOCAB - len(words))
            lens = r.integers(2, 10, n)
            chars = letters[r.integers(0, 26, int(lens.sum()))]
            ends = np.cumsum(lens)
            for a, b in zip(ends - lens, ends):
                words.add("".join(chars[a:b]))
        words = set(sorted(words)[:VOCAB])
        # Sorted first, then shuffled by the seed: which word gets which
        # Zipf rank depends on the seed only.
        self.vocab = np.array(sorted(words), dtype=object)
        r.shuffle(self.vocab)
        p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
        self._cdf = np.cumsum(p / p.sum())

    def job(self, i: int) -> dict[int, str]:
        """Slice ``i``: ``{doc_id: text}``, doc ids distinct across slices."""
        r = _rng(self.seed, 1_000 + i)
        lens = r.integers(WORDS_PER_DOC[0], WORDS_PER_DOC[1] + 1, DOCS_PER_JOB)
        ranks = np.searchsorted(self._cdf, r.random(int(lens.sum())), side="right")
        toks = self.vocab[np.minimum(ranks, VOCAB - 1)]
        bounds = np.concatenate(([0], np.cumsum(lens)))
        base = i * DOCS_PER_JOB
        return {
            base + d: " ".join(toks[bounds[d]:bounds[d + 1]])
            for d in range(DOCS_PER_JOB)
        }
