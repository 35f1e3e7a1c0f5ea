"""Boundary-type lint of scripts/check_oracle.py: no Spark session needed."""

import importlib.util
from pathlib import Path

import duckdb
from pyspark.sql import types as T

_spec = importlib.util.spec_from_file_location(
    "check_oracle", Path(__file__).resolve().parents[1] / "scripts" / "check_oracle.py"
)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)


def _lint(schema, sql):
    rel = duckdb.sql(sql)
    return check_oracle.boundary_type_errors(schema, rel.columns, rel.types)


def test_boundary_type_lint_flags_hugeint_and_decimal():
    ok = T.StructType([T.StructField("x", T.LongType()), T.StructField("s", T.StringType())])
    dec = T.StructType([T.StructField("x", T.DecimalType(38, 0))])
    assert _lint(ok, "SELECT 1::BIGINT AS x, 'a' AS s") == []
    assert _lint(ok, "SELECT 1::HUGEINT AS x") == ["duckdb column x is HUGEINT"]
    assert _lint(ok, "SELECT 1::UHUGEINT AS x, 1.5::DECIMAL(4, 2) AS s") == [
        "duckdb column x is UHUGEINT",
        "duckdb column s is DECIMAL(4,2)",
    ]
    assert _lint(dec, "SELECT 1::BIGINT AS x") == ["spark column x is decimal(38,0)"]
