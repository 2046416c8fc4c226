"""The oracle checker's column-type gate (scripts/check_oracle.py):
a DuckDB HUGEINT or an int-vs-float divergence from the Spark column is
a FAIL, because the driver hashes typed arrow buffers."""

import importlib.util
import os

import duckdb
import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "scripts", "check_oracle.py")


@pytest.fixture(scope="module")
def check():
    spec = importlib.util.spec_from_file_location("check_oracle", _PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.oracle_type_problems


def test_uncast_sum_is_hugeint_fail(check):
    con = duckdb.connect()
    problems = check(con, "select sum(1) AS c", [("c", "bigint")])
    assert problems and "HUGEINT" in problems[0]


def test_cast_sum_passes(check):
    con = duckdb.connect()
    assert check(con, "select CAST(sum(1) AS BIGINT) AS c",
                 [("c", "bigint")]) == []


def test_int_vs_float_divergence_fails(check):
    con = duckdb.connect()
    assert check(con, "select CAST(1.5 AS DOUBLE) AS c", [("c", "bigint")])
    assert check(con, "select CAST(2 AS BIGINT) AS c", [("c", "double")])
