"""The in-repo twin of the driver's DuckDB-oracle correctness gate.

Every catalog query with an oracle must match on row count, column names,
and order-insensitive canonical values at SPARK_GRAFT_SF_DIR (default
sf0.001 for speed; run with sf0.01 before shipping a round).
"""

import os

import pytest

from ctcityscraper_spark.plans.compare import compare_frames, duckdb_connection
from ctcityscraper_spark.plans.queries import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

ORACLE_QUERIES = [name for name, q in QUERIES.items() if q.oracle is not None]


@pytest.fixture(scope="module")
def duck(spark):
    con = duckdb_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    from concurrent.futures import ThreadPoolExecutor

    q = QUERIES[name]
    # overlap the two engines (r16): both sides release the GIL (Spark in
    # the JVM, DuckDB in its own thread pool), and several oracles —
    # text_bpe_retrain_cycle's recursive-CTE twin is ~60 s at sf0.001 —
    # cost far more than their Spark side, so running them serially
    # priced the SUM per test. Same computations, same assertions; the
    # shared connection serves one statement at a time (only this test's).
    # EXCEPT sidecar-replaying queries (oracle reads a JSON the Spark
    # side WRITES during this very run — read_json in the oracle): those
    # keep the load-bearing spark-then-oracle order.
    if "read_json(" in q.oracle:
        spark_pdf = q.fn(spark, SF_DIR).toPandas()
        oracle_pdf = duck.execute(q.oracle).df()
    else:
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_spark = pool.submit(lambda: q.fn(spark, SF_DIR).toPandas())
            f_oracle = pool.submit(lambda: duck.execute(q.oracle).df())
            spark_pdf = f_spark.result()
            oracle_pdf = f_oracle.result()
    report = compare_frames(spark_pdf, oracle_pdf)
    assert report["row_count_match"], report
    assert report["schema_match"], report
    assert report["values_match"], {k: v for k, v in report.items() if k != "first_diffs"} | {
        "first_diffs": report.get("first_diffs")
    }


def test_all_queries_return_rows(spark):
    # every ORACLE-bearing query is already fully executed (toPandas)
    # by test_query_matches_oracle above; re-running all 154 as counts
    # cost 113 s of pure redundancy (r16 suite profile). This guard now
    # covers only queries WITHOUT an oracle twin — currently none, and
    # any future one fails here instead of going silently unexecuted.
    for name, q in QUERIES.items():
        if q.oracle is not None:
            continue
        n = q.fn(spark, SF_DIR).count()
        assert n >= 0, name


def test_oracle_ctes_are_materialized():
    # an inlined CTE re-runs its upstream at every reference (the BPE and
    # dedup-walk oracles took minutes that way); WINDOW clauses and
    # recursive CTEs with a column list must be left alone
    from ctcityscraper_spark.plans.queries import _CTE_DEF, materialize_ctes

    sql = materialize_ctes(
        "WITH RECURSIVE a AS (SELECT 1 AS x), w(x) AS (SELECT x FROM a UNION "
        "SELECT x + 1 FROM w WHERE x < 3),\n  b AS (SELECT x, sum(x) OVER v "
        "FROM w WINDOW v AS (ORDER BY x)) SELECT * FROM b"
    )
    assert "RECURSIVE a AS MATERIALIZED (" in sql
    assert "\n  b AS MATERIALIZED (" in sql
    assert "w(x) AS (" in sql and "WINDOW v AS (" in sql
    con = duckdb_connection(SF_DIR)
    assert sorted(con.execute(sql).fetchall()) == [(1, 1), (2, 3), (3, 6)]
    con.close()
    for name in ORACLE_QUERIES:
        assert not _CTE_DEF.search(QUERIES[name].oracle), name
