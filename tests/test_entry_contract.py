"""Local replica of the driver's correctness harness: run every queries()
entry and its oracle_sql() on the same parquet tables and compare row count,
column names, and order-insensitive values."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

pytestmark = pytest.mark.spark

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def _normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c]
            if isinstance(v, float):
                v = round(v, 5)
                if v == -0.0:
                    v = 0.0
                if math.isnan(v):
                    v = "nan"
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {
        "root_label", "pred", "dir", "child_label", "n_edges", "n_cas", "n_labels_cov"
    }


def _oracle_sql_at(name, sf_dir):
    """The oracle SQL for ``name`` with any embedded model literals fitted
    at ``sf_dir`` (the driver fits at its own gate SF via oracle_sql();
    locally the literals must match the SF under test)."""
    from kgist_spark.plans import testdata_queries as tq

    if name == "anomaly_topk":
        return tq.anomaly_topk_oracle_sql(sf_dir)
    if name in tq._MODEL_ORACLE_KINDS:
        return tq.model_rules_oracle_sql(tq._MODEL_ORACLE_KINDS[name], sf_dir)
    return tq.ORACLE_SQL[name]


def _oracle_keys():
    from kgist_spark.plans.testdata_queries import oracle_sql_keys

    return oracle_sql_keys()


@pytest.mark.parametrize("name", _oracle_keys())
def test_query_matches_oracle(spark, con, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [r.asDict() for r in sdf.collect()]

    odf = con.execute(_oracle_sql_at(name, SF_DIR)).df()
    oracle_cols = list(odf.columns)
    assert sorted(spark_cols) == sorted(oracle_cols), (spark_cols, oracle_cols)
    oracle_rows = odf.to_dict("records")
    assert len(spark_rows) == len(oracle_rows), name

    assert _normalize(spark_rows, spark_cols) == _normalize(oracle_rows, oracle_cols), name


def test_all_queries_have_rows():
    """Every catalogue query has an oracle and every oracle a query, so
    test_query_matches_oracle covers the whole catalogue."""
    assert set(entry_mod.queries()) == set(_oracle_keys())
