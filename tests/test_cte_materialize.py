"""Reused-CTE materialization (dialect/cte.py) — the Trino
CTE-materialization analog: small full-reuse CTEs (global aggregates,
INTERSECT lists) are computed once and cached; pushdown-prunable
GROUP-BY CTEs stay inline."""

import pytest

from trino_spark.dialect import cte as cte_mod
from trino_spark.dialect.engine import TrinoEngine


@pytest.fixture(scope="module")
def engine(spark):
    eng = TrinoEngine(spark)
    spark.range(0, 1000).selectExpr(
        "id", "id % 7 AS k", "CAST(id % 13 AS DOUBLE) AS v"
    ).createOrReplaceTempView("cte_t")
    return eng


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_global_agg_cte_materialized_same_result(engine):
    sql = (
        "WITH thresh AS (SELECT avg(v) AS av FROM cte_t WHERE k < 5) "
        "SELECT k, count(*) AS n FROM cte_t "
        "WHERE v > (SELECT av FROM thresh) AND v < 2 * (SELECT av FROM thresh) "
        "GROUP BY k"
    )
    engine.session_properties["cte_materialization"] = "false"
    expect = _rows(engine.sql(sql))
    engine.session_properties["cte_materialization"] = "true"
    got = _rows(engine.sql(sql))
    assert got == expect
    # the global-agg CTE was cached exactly once
    assert len(getattr(engine, "_cte_cached", [])) == 1


def test_group_by_cte_stays_inline(engine):
    engine.session_properties["cte_materialization"] = "true"
    sql = (
        "WITH per_k AS (SELECT k, sum(v) AS s FROM cte_t GROUP BY k) "
        "SELECT a.k, a.s + b.s AS t FROM per_k a JOIN per_k b ON a.k = b.k"
    )
    df = engine.sql(sql)
    assert df.count() == 7
    # a GROUP BY body is pushdown-prunable: never materialized
    assert getattr(engine, "_cte_cached", []) == []


def test_intersect_cte_materialized(engine):
    engine.session_properties["cte_materialization"] = "true"
    sql = (
        "WITH common AS (SELECT k FROM cte_t WHERE v > 3 INTERSECT "
        "SELECT k FROM cte_t WHERE v < 10) "
        "SELECT count(*) AS n FROM (SELECT * FROM common UNION ALL SELECT * FROM common) u"
    )
    [row] = engine.sql(sql).collect()
    assert row.n == 14  # k in 0..6 twice
    assert len(getattr(engine, "_cte_cached", [])) == 1


def test_single_reference_not_materialized(engine):
    engine.session_properties["cte_materialization"] = "true"
    sql = (
        "WITH thresh AS (SELECT avg(v) AS av FROM cte_t) "
        "SELECT count(*) AS n FROM cte_t WHERE v > (SELECT av FROM thresh)"
    )
    engine.sql(sql).collect()
    assert getattr(engine, "_cte_cached", []) == []


def test_nondeterministic_body_skipped(engine):
    engine.session_properties["cte_materialization"] = "true"
    sql = (
        "WITH r AS (SELECT max(v) AS x FROM cte_t WHERE rand() < 2) "
        "SELECT (SELECT x FROM r) - (SELECT x FROM r) AS d"
    )
    engine.sql(sql).collect()
    assert getattr(engine, "_cte_cached", []) == []


def test_caches_retired_on_next_statement(engine):
    engine.session_properties["cte_materialization"] = "true"
    sql = (
        "WITH thresh AS (SELECT max(v) AS mx FROM cte_t) "
        "SELECT (SELECT mx FROM thresh) + (SELECT mx FROM thresh) AS s"
    )
    engine.sql(sql).collect()
    assert len(engine._cte_cached) == 1
    engine.sql("SELECT 1 AS one").collect()  # non-WITH: caches survive
    assert len(engine._cte_cached) == 1
    engine.sql(sql).collect()  # next WITH at top level retires the old
    assert len(engine._cte_cached) == 1


def test_recursive_with_untouched(engine):
    engine.session_properties["cte_materialization"] = "true"
    out = cte_mod.materialize_reused(
        engine, "WITH RECURSIVE r(n) AS (SELECT 1) SELECT * FROM r, r r2"
    )
    assert out.startswith("WITH RECURSIVE")


def test_concurrent_statements_do_not_drop_each_others_views(engine):
    """Regression: retire() at the start of statement B must not drop a
    view statement A's rewritten SQL references before Catalyst analyzes
    it (the HTTP server runs header-less requests concurrently on one
    shared engine). With the in-flight guard, concurrent WITH statements
    defer retirement instead of racing; results stay correct and no
    'table or view not found' surfaces."""
    import threading

    engine.session_properties["cte_materialization"] = "true"
    sql = (
        "WITH thresh AS (SELECT max(v) AS mx FROM cte_t) "
        "SELECT (SELECT mx FROM thresh) + (SELECT mx FROM thresh) AS s"
    )
    expected = engine.sql(sql).collect()[0][0]
    errors: list = []

    def run() -> None:
        try:
            for _ in range(5):
                got = engine.sql(sql).collect()[0][0]
                assert got == expected, (got, expected)
        except Exception as exc:  # pragma: no cover - failure capture
            errors.append(exc)

    threads = [threading.Thread(target=run) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    # a later solo statement still retires the accumulated caches
    engine.sql(sql).collect()
    assert len(engine._cte_cached) == 1


def test_materialize_decision_reads_depth0_set_operations():
    from trino_spark.dialect.tokenizer import tokenize

    def worth(body):
        return cte_mod._worth_materializing(tokenize(body), 2)

    assert worth("SELECT k FROM a INTERSECT SELECT k FROM b")
    assert worth("(SELECT k FROM a) INTERSECT (SELECT k FROM b)")
    assert worth("SELECT avg(v) AS av FROM a")
    assert not worth("SELECT k, avg(v) FROM a GROUP BY k")
    assert not worth("SELECT avg(v) FROM a UNION ALL SELECT avg(v) FROM b")
    # a nested INTERSECT under a GROUP BY body stays inline
    assert not worth(
        "SELECT k, count(*) FROM a WHERE k IN (SELECT k FROM b INTERSECT SELECT k FROM c) GROUP BY k"
    )
