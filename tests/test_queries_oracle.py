"""Mimic the driver's oracle gate locally: run every queries() entry with an
oracle_sql() twin at sf0.001 and compare row count + column names + exact
(order-insensitive) values against DuckDB."""

import math
import os

import duckdb
import pytest

from pl_marker_spark import queries_catalog

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def test_events_have_no_equal_timestamp_ties(ddb):
    """q_asof_join's window form and DuckDB's native ASOF (ts >= ts) only
    coincide when no user has two events at the same microsecond — assert
    that precondition on the corpus the gate runs against."""
    n = ddb.execute(
        "SELECT count(*) FROM (SELECT user_id, ts FROM events "
        "GROUP BY 1, 2 HAVING count(*) > 1)").fetchone()[0]
    assert n == 0


# reference-semantics rows: the reference's span, packing, BIO, gold,
# scoring and coref operators
REFERENCE_ROWS = {
    "c1_span_enum", "k1_pack_groups", "p4_prefix_sum", "p8_bio_spans",
    "o8_inverse_gold", "o11_micro_prf", "o12_chunk_f1", "o13_topk",
    "o14_sorted_words", "o15_seed_stats", "o17_coref_conll",
    "o17_coref_metrics",
}


def test_catalog_rows_all_have_twins():
    """Every queries() row has a DuckDB twin and every twin a row: the
    gate below parametrizes over queries(), so a twin without a row
    would go unchecked. The reference-semantics rows are all present."""
    names = set(queries_catalog.queries())
    assert names == set(queries_catalog.oracle_sql())
    assert REFERENCE_ROWS <= names


@pytest.mark.parametrize("name", sorted(queries_catalog.queries()))
def test_query_matches_duckdb(spark, ddb, name):
    q = queries_catalog.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(queries_catalog.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (spark_cols, duck_cols)
    assert len(spark_rows) == len(duck_rows)
    assert _canon(spark_rows, spark_cols) == _canon(duck_rows, duck_cols)
