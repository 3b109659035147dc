"""Semantic tests for the graph kernels in graphops.py: the kg_* rows'
cross-engine gate proves Spark==DuckDB determinism; these pin the *math*
— PageRank against a numpy reference, triangles, label propagation and
Adamic-Adar against brute force."""

import itertools

import numpy as np
import pytest

from pl_marker_spark.graphops import pagerank, symmetrize, triangle_counts


def _np_pagerank(n_nodes, und_edges, iters=5, damp=0.85):
    adj = [[] for _ in range(n_nodes)]
    for a, b in und_edges:
        adj[a].append(b)
        adj[b].append(a)
    deg = np.array([max(len(x), 1) for x in adj], dtype=float)
    r = np.ones(n_nodes)
    for _ in range(iters):
        nxt = np.full(n_nodes, 1 - damp)
        for u in range(n_nodes):
            for v in adj[u]:
                nxt[v] += damp * r[u] / deg[u]
        r = nxt
    return r


def test_pagerank_matches_numpy(spark):
    # star + path + triangle + one isolated node (node 7)
    und = [(0, 1), (0, 2), (0, 3), (3, 4), (4, 5), (5, 6), (4, 6), (5, 6)]
    und = sorted(set(und))
    nodes = spark.createDataFrame([(i,) for i in range(8)], ["node"])
    edges = spark.createDataFrame(und, ["a", "b"])
    got = {r.node: r.pr for r in pagerank(nodes, edges).collect()}
    want = _np_pagerank(8, und)
    assert set(got) == set(range(8))
    for i in range(8):
        assert got[i] == pytest.approx(want[i], abs=1e-9)
    assert got[7] == pytest.approx(0.15)  # isolated node settles at 1-d


def test_symmetrize_dedups_and_drops_loops(spark):
    e = spark.createDataFrame(
        [(1, 2, "x"), (2, 1, "y"), (1, 1, "z"), (3, 2, "x")],
        ["src_id", "dst_id", "pred"])
    got = sorted(tuple(r) for r in symmetrize(e).collect())
    assert got == [(1, 2), (2, 3)]


def test_triangles_brute_force(spark):
    rng = np.random.default_rng(7)
    n = 12
    pairs = sorted((a, b) for a in range(n) for b in range(a + 1, n)
                   if rng.random() < 0.35)
    edges = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    got = {r.node: r.n_tri for r in triangle_counts(edges).collect()}
    es = set(pairs)
    want = {}
    for a, b, c in itertools.combinations(range(n), 3):
        if (a, b) in es and (b, c) in es and (a, c) in es:
            for v in (a, b, c):
                want[v] = want.get(v, 0) + 1
    assert got == want


def test_labelprop_matches_brute_force_and_clusters(spark):
    """Fixed-round LPA equals a pure-python synchronous propagation with
    the same vote rules (neighbors + self, max count, min-label ties);
    communities are non-trivial — fewer distinct labels than nodes, and
    each of two cliques joined by one bridge edge collapses to a single
    community instead of flooding through the bridge."""
    import random
    from collections import Counter, defaultdict

    from pl_marker_spark.graphops import label_propagation

    rounds = 3
    cliques = [range(0, 5), range(10, 15)]
    edges = {(a, b) for c in cliques for a in c for b in c if a < b}
    edges.add((4, 10))
    rng = random.Random(5)
    edges |= {(min(a, b), max(a, b)) for a, b in
              ((rng.randrange(20, 40), rng.randrange(20, 40))
               for _ in range(30)) if a != b}
    adj = defaultdict(list)
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    label = {n: n for n in adj}
    for _ in range(rounds):
        nxt = {}
        for v in adj:
            votes = Counter(label[u] for u in adj[v])
            votes[label[v]] += 1
            best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[v] = best[0]
        label = nxt
    und = spark.createDataFrame(sorted(edges), "doc_a long, doc_b long")
    got = {(r.node, r.label)
           for r in label_propagation(und, rounds=rounds).collect()}
    assert got == set(label.items()) and got
    assert len({c for _, c in got}) < len(got)
    for c in cliques:
        assert len({label[v] for v in c}) == 1
    assert label[0] != label[14]


def test_adamic_adar_hand_graphs_and_brute_force(spark):
    """Path 1-2-3 predicts (1,3) via the deg-2 middle; star predicts every
    leaf pair via the deg-3 hub; a random graph matches a python brute
    force of the same floored-micro-unit formula."""
    import math

    from pl_marker_spark.graphops import adamic_adar

    path = spark.createDataFrame([(1, 2), (2, 3)], ["a", "b"])
    got = [tuple(r) for r in adamic_adar(path).collect()]
    assert got == [(1, 3, 1, math.floor(1e6 / math.log(2)))]

    star = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], ["a", "b"])
    got = sorted(tuple(r) for r in adamic_adar(star).collect())
    t3 = math.floor(1e6 / math.log(3))
    assert got == [(2, 3, 1, t3), (2, 4, 1, t3), (3, 4, 1, t3)]

    rng = np.random.default_rng(11)
    n = 14
    und = sorted({(int(a), int(b)) for a, b in
                  ((min(x, y), max(x, y))
                   for x, y in rng.integers(0, n, size=(40, 2)) if x != y)})
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    expect = {}
    eset = set(und)
    for u in nbrs:
        for v in nbrs:
            if u < v and (u, v) not in eset:
                common = nbrs[u] & nbrs[v]
                if common:
                    expect[(u, v)] = (
                        len(common),
                        sum(math.floor(1e6 / math.log(len(nbrs[c])))
                            for c in common))
    df = spark.createDataFrame(und, ["a", "b"])
    got = {(r.u, r.v): (r.n_common, r.aa_micro)
           for r in adamic_adar(df).collect()}
    assert got == expect
