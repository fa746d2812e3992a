"""The shingle-set and MinHash kit of ``text/dedup.py`` below the oracle
gate.

Each kernel is pinned against a pure-Python reference on a hand-built
corpus the fixtures never produce: documents with fewer than 3 tokens,
a shingle repeated inside one document, identical documents, disjoint
documents, and runs of whitespace (which ``\\s+`` splitting collapses,
while leading or trailing whitespace yields an empty first or last
token).
"""

from __future__ import annotations

import hashlib
import re
from itertools import combinations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mincemeatpy_spark.operators._util import hash60
from mincemeatpy_spark.text.dedup import (
    _A,
    _B,
    _N_HASHES,
    _P,
    _band_pairs,
    _bands,
    _matches,
    _minhash,
    _overlaps,
    _shingle_df,
    _verify,
)

DOCS = {
    1: "a b",  # fewer than 3 tokens: no shingles
    2: "",
    3: "x y z x y z",  # "x y z" twice in one document
    4: "the quick brown fox jumps over the lazy dog",
    5: "the quick brown fox jumps over the lazy dog",  # identical to 4
    6: "the  quick\t\tbrown   fox jumps over a lazy cat",  # whitespace runs
    7: "lorem ipsum dolor sit amet",  # disjoint from the rest
    8: " the quick brown",  # leading whitespace: empty first token
    9: "quick brown fox jumps over the lazy dog ",  # trailing whitespace
    10: "x y z",
}


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _sets() -> dict[int, set[int]]:
    out = {}
    for d, text in DOCS.items():
        w = re.split(r"\s+", text)
        if len(w) >= 3:
            out[d] = {_h60(" ".join(w[i : i + 3])) for i in range(len(w) - 2)}
    return out


def _sigs(sets) -> dict[int, list[int]]:
    return {
        d: [min((x % _P * _A[k] + _B[k]) % _P for x in s) for k in range(_N_HASHES)]
        for d, s in sets.items()
    }


@pytest.fixture(scope="module")
def sh(spark, tmp_path_factory):
    sf_dir = tmp_path_factory.mktemp("kit_docs")
    pq.write_table(
        pa.table(
            {"doc_id": pa.array(list(DOCS), pa.int64()), "text": list(DOCS.values())}
        ),
        sf_dir / "documents.parquet",
    )
    df = _shingle_df(spark, str(sf_dir))
    yield df
    df.unpersist()


def test_hash60_is_the_md5_prefix(spark):
    words = ["", "x y z", "the quick brown", "naïve café", "a" * 300]
    got = spark.createDataFrame([(w,) for w in words], "w string").select(
        "w", hash60(F.col("w")).alias("h")
    )
    assert {r.w: r.h for r in got.collect()} == {w: _h60(w) for w in words}


def test_shingle_df_is_the_hashed_shingle_sets(sh):
    got: dict[int, set[int]] = {}
    for r in sh.collect():
        got.setdefault(r.doc_id, set()).add(r.s)
    assert got == _sets()
    # distinct per document: doc 3's repeated shingle is one row
    assert sh.count() == sum(len(s) for s in _sets().values())


def test_minhash_is_the_affine_minima_and_set_size(sh):
    sets = _sets()
    sigs = _sigs(sets)
    got = {
        r.doc_id: ([r[f"m{k}"] for k in range(_N_HASHES)], r.n)
        for r in _minhash(sh).collect()
    }
    assert got == {d: (sigs[d], len(sets[d])) for d in sets}


@pytest.mark.parametrize("rows", [4, 8])
def test_band_pairs_are_the_bucket_collisions(sh, rows):
    sets = _sets()
    sigs = _sigs(sets)
    buckets: dict[tuple, list[int]] = {}
    for d, m in sigs.items():
        for b in range(_N_HASHES // rows):
            sig = ",".join(str(v) for v in m[b * rows : (b + 1) * rows])
            buckets.setdefault((b, sig), []).append(d)
    want = {
        (d1, d2, len(sets[d1]), len(sets[d2]))
        for docs in buckets.values()
        for d1, d2 in combinations(sorted(docs), 2)
    }
    got = _band_pairs(_bands(_minhash(sh), rows)).collect()
    assert len(got) == len(want)  # one row per pair however many bands collide
    assert {tuple(r) for r in got} == want
    assert (4, 5, len(sets[4]), len(sets[4])) in want  # identical documents


@pytest.mark.parametrize("ordered", [True, False])
def test_overlaps_are_the_set_intersections(sh, ordered):
    sets = _sets()
    pairs = combinations(sorted(sets), 2) if ordered else (
        (a, b) for a in sets for b in sets if a != b
    )
    want = {(a, b, len(sets[a] & sets[b])) for a, b in pairs if sets[a] & sets[b]}
    got = {tuple(r) for r in _overlaps(sh, ordered).collect()}
    assert got == want
    assert not any(7 in (a, b) for a, b, _ in got)  # disjoint document


def test_verify_counts_candidates_only(spark, sh):
    sets = _sets()
    cand = [(4, 5), (4, 6), (3, 10), (4, 7), (6, 9)]
    cand_df = spark.createDataFrame(
        [(a, b, len(sets[a]), len(sets[b])) for a, b in cand],
        "d1 long, d2 long, n1 long, n2 long",
    )
    want = {
        (a, b, len(sets[a]), len(sets[b]), len(sets[a] & sets[b]))
        for a, b in cand
        if sets[a] & sets[b]
    }
    assert {tuple(r) for r in _verify(sh, cand_df).collect()} == want


def test_matches_counts_agreeing_minima(sh):
    sigs = _sigs(_sets())
    minh = _minhash(sh)
    got = (
        minh.alias("ma")
        .join(minh.alias("mb"), F.col("ma.doc_id") < F.col("mb.doc_id"))
        .select("ma.doc_id", "mb.doc_id", _matches("ma", "mb"))
        .collect()
    )
    want = {
        (a, b, sum(x == y for x, y in zip(sigs[a], sigs[b])))
        for a, b in combinations(sorted(sigs), 2)
    }
    assert {tuple(r) for r in got} == want
    assert (4, 5, _N_HASHES) in want
