"""The edge-list and superstep kit of ``operators/graph.py`` below the
oracle gate.

Each kernel is pinned against a pure-Python reference on hand-built
graphs of at most 10 nodes that the fixtures never produce: a self-loop,
an isolated edge, a 4-clique, a path, a dangling node, scores small
enough that the HITS normalizer clamps, and two disjoint components.
The SQL twins the oracles use are pinned against the same references.
"""

from __future__ import annotations

from collections import Counter
from itertools import combinations

import duckdb
import pytest
from pyspark.sql import functions as F

from mincemeatpy_spark.operators.graph import (
    _DEG_SQL,
    _PR_SCALE,
    _TRIANGLES_SQL,
    _cust_node,
    _degree,
    _hits_half,
    _node_key,
    _pagerank_step,
    _supp_node,
    _sym_sql,
    _symmetrize,
    _triangles,
)
from mincemeatpy_spark.text.dedup import _min_label_components

# A star around 1, a self-loop on 5 and an isolated edge 8-9.
EDGES = [(1, 2, 3), (1, 3, 1), (1, 4, 2), (5, 5, 7), (8, 9, 4)]
CLIQUE4 = [(u, v) for u, v in combinations(range(1, 5), 2)]
PATH = [(1, 2), (2, 3), (3, 4)]


def _sym_ref(edges):
    return Counter([(u, v) for u, v, *_ in edges] + [(v, u) for u, v, *_ in edges])


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


def test_node_keys_round_trip(spark):
    df = spark.createDataFrame([(7,), (0,), (12345,)], "k bigint")
    out = df.select(
        "k",
        _node_key(_cust_node("k")).alias("c"),
        _node_key(_supp_node("k")).alias("s"),
        (_cust_node("k") % 2).alias("cp"),
        (_supp_node("k") % 2).alias("sp"),
    ).collect()
    assert all(r.c == r.k == r.s and (r.cp, r.sp) == (0, 1) for r in out)


def test_symmetrize_and_degree(spark):
    e = spark.createDataFrame(EDGES, "u bigint, v bigint, w bigint")
    sym = _symmetrize(e, "w")
    assert _rows(sym.select("u", "v")) == _sym_ref(EDGES)
    # the carried column travels with its edge in both directions
    assert _rows(sym) == Counter(
        [(u, v, w) for u, v, w in EDGES] + [(v, u, w) for u, v, w in EDGES]
    )
    ref = Counter(u for u, _ in _sym_ref(EDGES).elements())
    deg = _degree(_symmetrize(e.select("u", "v"))).collect()
    assert {r.u: r.d for r in deg} == ref
    assert ref[5] == 2  # a self-loop counts twice
    weighted = {r.u: r.d for r in _degree(e, "u", "w").collect()}
    assert weighted == {1: 6, 5: 7, 8: 4}
    assert _degree(e, "v").columns == ["v", "d"]


def test_sym_and_degree_sql_twins():
    con = duckdb.connect()
    con.execute("CREATE TABLE e (u BIGINT, v BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", [(u, v) for u, v, _ in EDGES])
    sym = con.execute(f"WITH {_sym_sql()} SELECT u, v FROM sym").fetchall()
    assert Counter(sym) == _sym_ref(EDGES)
    deg = con.execute(f"WITH {_sym_sql()}, {_DEG_SQL} SELECT node, d FROM deg").fetchall()
    assert dict(deg) == Counter(u for u, _ in _sym_ref(EDGES).elements())


def _triangles_ref(edges):
    es = set(edges)
    nodes = sorted({n for e in edges for n in e})
    return sum(
        {(a, b), (b, c), (a, c)} <= es for a, b, c in combinations(nodes, 3)
    )


@pytest.mark.parametrize("edges, expected", [(CLIQUE4, 4), (PATH, 0)])
def test_triangles(spark, edges, expected):
    assert _triangles_ref(edges) == expected
    e = spark.createDataFrame(edges, "u bigint, v bigint")
    assert _triangles(e).collect()[0].n_triangles == expected
    con = duckdb.connect()
    con.execute("CREATE TABLE e (u BIGINT, v BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", edges)
    assert con.execute(_TRIANGLES_SQL).fetchone()[0] == expected


# Directed, weighted; node 5 only receives (dangling), node 6 is isolated.
PR_EDGES = [(1, 2, 2), (1, 3, 1), (2, 3, 1), (3, 1, 4), (4, 3, 1), (4, 5, 3)]
PR_NODES = range(1, 7)


def _pagerank_ref(ranks, dangling):
    n = len(PR_NODES)
    outw = Counter()
    for s, _, w in PR_EDGES:
        outw[s] += w
    inflow = Counter()
    for s, d, w in PR_EDGES:
        inflow[d] += ranks[s] * w // outw[s]
    dang = sum(r for h, r in ranks.items() if h not in outw) if dangling else 0
    tele = 15 * (_PR_SCALE // n) // 100
    return {h: tele + 85 * (inflow[h] + dang // n) // 100 for h in PR_NODES}


@pytest.mark.parametrize("dangling", [True, False])
def test_pagerank_step(spark, dangling):
    edges = spark.createDataFrame(PR_EDGES, "src bigint, dst bigint, w bigint")
    nodes = spark.createDataFrame([(h,) for h in PR_NODES], "node bigint")
    nb = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    r0 = {h: _PR_SCALE // len(PR_NODES) for h in PR_NODES}
    ranks = spark.createDataFrame(list(r0.items()), "node bigint, r bigint")
    outw = _degree(edges, "src", "w")
    got = {
        r.node: r.r
        for r in _pagerank_step(edges, outw, nodes, nb, ranks, dangling).collect()
    }
    assert got == _pagerank_ref(r0, dangling)
    # Each node loses < 1 unit per floor division (share, teleport,
    # dangling share, damping): only the redistribution keeps the mass
    # held by nodes 5 and 6, which have no out-edges.
    lost = sum(r0.values()) - sum(got.values())
    slack = 4 * len(PR_EDGES) + 4 * len(PR_NODES)
    if dangling:
        assert 0 <= lost <= slack
    else:
        assert lost > 0.85 * (r0[5] + r0[6]) - slack


def _hits_ref(score, frm, to):
    raw = Counter()
    for e in PR_EDGES:
        raw[e[to]] += score[e[frm]] * e[2]
    dn = max(sum(raw.values()) // _PR_SCALE, 1)
    return {h: raw[h] // dn for h in PR_NODES}, dn


@pytest.mark.parametrize("start", [1, _PR_SCALE])
@pytest.mark.parametrize("frm, to", [("src", "dst"), ("dst", "src")])
def test_hits_half_step(spark, start, frm, to):
    edges = spark.createDataFrame(PR_EDGES, "src bigint, dst bigint, w bigint")
    nodes = spark.createDataFrame([(h,) for h in PR_NODES], "node bigint")
    score = {h: start for h in PR_NODES}
    df = spark.createDataFrame(list(score.items()), "node bigint, v bigint")
    got = {r.node: r.v for r in _hits_half(edges, nodes, df, frm, to).collect()}
    cols = ("src", "dst")
    ref, dn = _hits_ref(score, cols.index(frm), cols.index(to))
    assert got == ref
    # a total below _PR_SCALE clamps the divisor to 1: the raw sums pass
    assert (dn == 1) == (start == 1)


def test_min_label_components_two_components(spark):
    edges = spark.createDataFrame(
        [(3, 2), (2, 1), (4, 3), (9, 7), (8, 9)], "d1 bigint, d2 bigint"
    )
    got = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in _min_label_components(edges).collect()
    }
    assert got == {1: (1, 4), 2: (1, 4), 3: (1, 4), 4: (1, 4), 7: (7, 3), 8: (7, 3), 9: (7, 3)}
