"""Local mirror of the driver's correctness gate: every registered query must
hash-match its DuckDB oracle at sf0.001 (sf0.01 is the driver's gate; 0.001 keeps
the test suite fast), through the gate's canonical compare
(``oracle.compare``). Also smoke-checks entry()."""

from __future__ import annotations

import os

import pytest

from ortholog_pipeline_spark import queries as Q
from ortholog_pipeline_spark.oracle import compare, duckdb_connection, passed

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/lineitem.parquet"), reason="testdata missing"
)


@pytest.fixture(scope="module")
def con():
    return duckdb_connection(SF_DIR)


_WITH_ORACLE = sorted(Q.oracle_sql())


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_query_matches_oracle(spark, con, name):
    r = compare(Q.queries()[name](spark, SF_DIR), con.sql(Q.oracle_sql()[name]).df())
    assert passed(r), f"{name}: {r}"


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


@pytest.mark.parametrize(
    "argv, named",
    [
        ([SF_DIR, "a4_pricing_summary", "a4_pricing_summry"], "a4_pricing_summry"),
        (["sf0.01"], "lacks tables"),  # relative dir without the ten tables
    ],
    ids=["misspelled_name", "missing_dir"],
)
def test_check_cli_refuses_what_it_cannot_run(argv, named, capsys, monkeypatch, tmp_path):
    """The registry check must not go green on input it cannot run: an unknown
    name or a dir without the ten tables exits 2 and says which, before any
    session starts."""
    from ortholog_pipeline_spark.oracle import main

    monkeypatch.chdir(tmp_path)
    assert main(argv) == 2
    assert named in capsys.readouterr().err
