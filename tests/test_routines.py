"""SQL routine (CREATE FUNCTION ... RETURN expr) tests — parse, inline
expansion, engine round-trip, error paths. Reference:
core/trino-main/.../sql/routine/SqlRoutineAnalyzer.java (analysis rules),
docs/src/main/sphinx/udf/sql.md (syntax)."""

import pytest

from trino_spark.dialect import TrinoEngine
from trino_spark.dialect.routines import (
    Routine,
    expand,
    parse_create_function,
    parse_drop_function,
)


def test_parse_basic():
    r = parse_create_function(
        "CREATE FUNCTION fahrenheit_to_celsius(f DOUBLE) RETURNS DOUBLE "
        "DETERMINISTIC RETURN (f - 32) * 5.0 / 9.0"
    )
    assert r.name == "FAHRENHEIT_TO_CELSIUS"
    assert r.params == ("F",)


def test_parse_qualified_name_and_or_replace():
    r = parse_create_function(
        "CREATE OR REPLACE FUNCTION memory.default.doubled(x BIGINT) "
        "RETURNS BIGINT RETURN x * 2;"
    )
    assert r.name == "DOUBLED" and r.params == ("X",)


def test_parse_not_a_function():
    assert parse_create_function("SELECT 1") is None
    assert parse_create_function("CREATE TABLE t (x INT)") is None
    assert parse_drop_function("SELECT 1") is None
    assert parse_drop_function("DROP FUNCTION IF EXISTS a.b.f") == "F"


def test_begin_body_compiles_to_expression():
    # BEGIN bodies without loops compile to an inlinable expression Routine
    r = parse_create_function(
        "CREATE FUNCTION f(x INT) RETURNS INT BEGIN RETURN x; END"
    )
    assert r is not None and hasattr(r, "body")


def test_loop_body_becomes_python_routine():
    from trino_spark.dialect.routines import PythonRoutine

    r = parse_create_function(
        "CREATE FUNCTION f(n BIGINT) RETURNS BIGINT BEGIN "
        "DECLARE i BIGINT DEFAULT 0; "
        "WHILE i < n DO SET i = i + 1; END WHILE; RETURN i; END"
    )
    assert isinstance(r, PythonRoutine)
    assert r.fn(5) == 5 and r.fn(0) == 0


def test_loop_body_decimal_result_has_the_declared_scale():
    from decimal import Decimal

    r = parse_create_function(
        "CREATE FUNCTION f(n BIGINT) RETURNS DECIMAL(10,2) BEGIN "
        "DECLARE i BIGINT DEFAULT 0; DECLARE s DOUBLE DEFAULT 0; "
        "WHILE i < n DO SET i = i + 1; SET s = s + 1.125; END WHILE; RETURN s; END"
    )
    assert r.returns == "decimal(10,2)"
    v = r.fn(3)
    assert isinstance(v, Decimal) and str(v) == "3.38"


def test_expand_nested_and_args():
    f = parse_create_function("CREATE FUNCTION area(w DOUBLE, h DOUBLE) RETURNS DOUBLE RETURN w * h")
    g = parse_create_function("CREATE FUNCTION twice(x DOUBLE) RETURNS DOUBLE RETURN area(x, 2.0)")
    routines = {f.name: f, g.name: g}
    out = expand("SELECT twice(1 + 2) AS v", routines)
    # whitespace from the original arg spans is preserved; compare modulo it
    assert out.replace(" ", "") == "SELECT((((1+2))*(2.0)))ASv"


def test_expand_arity_mismatch():
    f = parse_create_function("CREATE FUNCTION one(x INT) RETURNS INT RETURN x")
    with pytest.raises(ValueError, match="expects 1 arguments"):
        expand("SELECT one(1, 2)", {f.name: f})


def test_recursive_definition_detected():
    f = Routine(name="LOOPY", params=("X",), body=tuple(
        __import__("trino_spark.dialect.tokenizer", fromlist=["tokenize"]).tokenize("loopy(x)")
    ))
    with pytest.raises(ValueError, match="did not converge"):
        expand("SELECT loopy(1)", {"LOOPY": f})


def test_engine_roundtrip(spark, sf_dir):
    eng = TrinoEngine(spark, sf_dir)
    eng.sql(
        "CREATE FUNCTION discounted(price DOUBLE, disc DOUBLE) RETURNS DOUBLE "
        "RETURN price * (1 - disc)"
    )
    # body in Trino dialect: routine + dialect translation compose
    eng.sql(
        "CREATE FUNCTION ship_year(d DATE) RETURNS BIGINT RETURN year(d)"
    )
    df = eng.sql(
        "SELECT round(sum(discounted(l_extendedprice, l_discount)), 2) AS rev, "
        "ship_year(min(l_shipdate)) AS y0 FROM lineitem"
    )
    row = df.first()
    assert row.rev is not None and row.y0 >= 1992
    eng.sql("DROP FUNCTION discounted")
    assert "DISCOUNTED" not in eng.routines


class TestWithFunction:
    """Inline SQL routines: WITH FUNCTION ... SELECT (grammar queryWith ->
    functionSpecification, docs udf/sql) — query-scoped, macro-inlined."""

    def test_single_inline_function(self, spark, sf_dir):
        eng = TrinoEngine(spark, sf_dir=sf_dir)
        rows = eng.sql(
            "WITH FUNCTION dbl(x BIGINT) RETURNS BIGINT RETURN x * 2 "
            "SELECT dbl(n_nationkey) AS d FROM nation WHERE n_nationkey < 3 ORDER BY d"
        ).collect()
        assert [r.d for r in rows] == [0, 2, 4]

    def test_multiple_inline_functions_compose(self, spark, sf_dir):
        eng = TrinoEngine(spark, sf_dir=sf_dir)
        out = eng.sql(
            "WITH FUNCTION dbl(x BIGINT) RETURNS BIGINT RETURN x * 2, "
            "FUNCTION inc(x BIGINT) RETURNS BIGINT RETURN x + 1 "
            "SELECT inc(dbl(2)) AS v"
        ).collect()[0].v
        assert out == 5

    def test_scoped_to_query(self, spark, sf_dir):
        eng = TrinoEngine(spark, sf_dir=sf_dir)
        eng.sql("WITH FUNCTION f77(x BIGINT) RETURNS BIGINT RETURN x SELECT f77(1) AS v")
        with pytest.raises(Exception):
            eng.sql("SELECT f77(1) AS v").collect()

    def test_plain_with_cte_untouched(self, spark, sf_dir):
        eng = TrinoEngine(spark, sf_dir=sf_dir)
        assert eng.sql("WITH c AS (SELECT 1 AS x) SELECT x FROM c").collect()[0].x == 1


class TestWithFunctionTokens:
    """WITH FUNCTION's specifications and its query are split at the
    statement's top level, never at text inside a literal."""

    def test_keyword_in_a_literal_body(self, spark, sf_dir):
        eng = TrinoEngine(spark, sf_dir=sf_dir)
        out = eng.sql(
            "WITH FUNCTION hello(x varchar) RETURNS varchar"
            " RETURN concat('please select ', x) SELECT hello('a') AS v"
        ).collect()
        assert [r.v for r in out] == ["please select a"]

    def test_comma_and_function_in_a_literal_body(self, spark, sf_dir):
        eng = TrinoEngine(spark, sf_dir=sf_dir)
        out = eng.sql(
            "WITH FUNCTION hello(x varchar) RETURNS varchar"
            " RETURN concat('a, FUNCTION b', x) SELECT hello('a') AS v"
        ).collect()
        assert [r.v for r in out] == ["a, FUNCTION ba"]
