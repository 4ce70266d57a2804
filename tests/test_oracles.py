"""Every registry query matches its DuckDB oracle at sf0.001, normalized and
compared by scripts/check_oracle.py."""

import importlib.util
from pathlib import Path

import duckdb
import pytest

from automatedreclin_spark.entry_queries import ORACLES, QUERIES
from test_plans import SF

_spec = importlib.util.spec_from_file_location(
    "check_oracle", Path(__file__).resolve().parents[1] / "scripts" / "check_oracle.py")
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


def test_every_query_has_an_oracle():
    assert QUERIES.keys() == ORACLES.keys()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    got = check_oracle.normalize(QUERIES[name](spark, SF).toPandas())
    want = check_oracle.normalize(duck.execute(ORACLES[name]).df())
    err = check_oracle.mismatch(got, want)
    assert err is None, err
