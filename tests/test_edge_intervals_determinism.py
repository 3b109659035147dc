"""Regression pins for the kg_edge_intervals "ghost" (round-6 root cause).

Round-5 sessions recorded a one-off Spark-vs-DuckDB mismatch on
kg_edge_intervals inside a long-lived session. Round-6 stress attribution
(50 interleaved reps, one Spark session + one DuckDB connection) proved
the SPARK side returned 50/50 identical results while the DUCKDB twin
produced a divergent variant 3/50 — an island spanning a 55.62e9 µs gap,
violating the twin SQL's own 7.2e9 µs CASE rule, so the twin's
*evaluation* (not the data) moved. Mechanism: the twin computed the lag
flag and the running-sum island id in two separate window passes over a
NON-UNIQUE `ORDER BY off_us`; DuckDB's parallel window execution may
order tied rows differently in the two passes under thread contention,
so a boundary flag computed in pass 1 rode the wrong row in pass 2. The
twin now computes islands over each edge's distinct offsets, a total
order. Spark's stacked Window operators share one physical sort, which
makes its output tie-order-invariant.

These tests pin the Spark side: (1) bit-stable across repeated
evaluation in one session, (2) equal to an independent pure-Python
gaps-and-islands reference, (3) free of both corruption signatures
observed from the old twin (island indices not starting at 1,
inter-island separation <= the gap threshold).
"""

import pytest

from pl_marker_spark.queries_catalog import (_GAP_US, _pipeline_outputs,
                                             _resolved_triple_sites,
                                             _turn_meta, queries)

SF_DIR = "/root/testdata/sf0.001"


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def intervals(spark):
    return _canon(queries()["kg_edge_intervals"](spark, SF_DIR))


def test_intervals_deterministic_across_reps(spark, intervals):
    assert _canon(queries()["kg_edge_intervals"](spark, SF_DIR)) == intervals


def test_intervals_match_python_reference(spark, intervals):
    # independent gaps-and-islands recomputation from the raw evidence
    # events (same inputs the query consumes, no window functions at all)
    from pyspark.sql import functions as F

    out = _pipeline_outputs(spark, SF_DIR)
    sites = _resolved_triple_sites(out).select(
        "conv_id", "turn_idx", "src_id", "dst_id", "pred")
    tm = _turn_meta(out)
    min_us = tm.agg(F.min("ts_us")).collect()[0][0]
    ev = sites.join(tm.select("conv_id", "turn_idx", "ts_us"),
                    ["conv_id", "turn_idx"]).collect()
    edges = {}
    for r in ev:
        edges.setdefault((r["src_id"], r["dst_id"], r["pred"]), []).append(
            r["ts_us"] - min_us)
    expect = []
    for (src, dst, pred), offs in edges.items():
        offs.sort()
        islands = [[offs[0]]]
        for prev, cur in zip(offs, offs[1:]):
            if cur - prev > _GAP_US:
                islands.append([cur])
            else:
                islands[-1].append(cur)
        for idx, isl in enumerate(islands, start=1):
            expect.append((src, dst, pred, idx, isl[0], isl[-1], len(isl)))
    assert intervals == sorted(expect)


def test_intervals_island_invariants(intervals):
    # the two observed twin-corruption signatures, as output invariants:
    # contiguous island ids starting at 1, and strict > gap separation
    # between consecutive islands of the same edge
    per_edge = {}
    for src, dst, pred, idx, start, end, n in intervals:
        assert n >= 1 and start <= end
        per_edge.setdefault((src, dst, pred), []).append((idx, start, end))
    for key, isls in per_edge.items():
        isls.sort()
        assert [i for i, _, _ in isls] == list(range(1, len(isls) + 1)), key
        for (_, _, e1), (_, s2, _) in zip(isls, isls[1:]):
            assert s2 - e1 > _GAP_US, key
