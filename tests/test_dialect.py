"""Trino-dialect SQL corpus through TrinoEngine, diffed against DuckDB.

DuckDB natively accepts much of the Trino function surface (strpos,
date_diff with unit-first argument order, list functions), which makes it a
genuinely independent oracle for the dialect translation layer.
"""

import pytest

from trino_spark.dialect import TrinoEngine, translate
from trino_spark.testing import assert_same_results

# (name, trino_sql, duckdb_sql or None to reuse trino_sql verbatim)
CASES = [
    (
        "fn_string",
        """SELECT n_name, strpos(n_name, 'A') AS p,
                  codepoint(substr(n_name, 1, 1)) AS cp,
                  cardinality(split(n_name, 'A')) AS nparts
           FROM nation ORDER BY n_name""",
        """SELECT n_name, strpos(n_name, 'A') AS p,
                  ascii(substr(n_name, 1, 1)) AS cp,
                  CAST(len(string_split(n_name, 'A')) AS INTEGER) AS nparts
           FROM nation ORDER BY n_name""",
    ),
    (
        "fn_datetime",
        """SELECT o_orderkey,
                  date_diff('day', DATE '1995-01-01', o_orderdate) AS dd,
                  date_add('day', 30, o_orderdate) AS due,
                  date_format(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS ym
           FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey""",
        """SELECT o_orderkey,
                  CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS dd,
                  CAST(o_orderdate + INTERVAL '30' DAY AS DATE) AS due,
                  strftime(o_orderdate, '%Y-%m') AS ym
           FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey""",
    ),
    (
        "fn_json",
        """SELECT event_id, CAST(json_extract_scalar(props, '$.k') AS BIGINT) AS k
           FROM events WHERE event_id < 50 ORDER BY event_id""",
        """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
           FROM events WHERE event_id < 50 ORDER BY event_id""",
    ),
    (
        "fetch_only",
        "SELECT o_orderkey FROM orders ORDER BY o_orderkey FETCH FIRST 5 ROWS ONLY",
        "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 5",
    ),
    (
        "fetch_ties",
        """SELECT o_orderpriority, o_orderdate FROM orders
           ORDER BY o_orderdate FETCH FIRST 10 ROWS WITH TIES""",
        """SELECT o_orderpriority, o_orderdate
           FROM (SELECT o_orderpriority, o_orderdate,
                        rank() OVER (ORDER BY o_orderdate) AS rk FROM orders) t
           WHERE rk <= 10 ORDER BY o_orderdate""",
    ),
    (
        "unnest_basic",
        """SELECT n_name, w FROM nation
           CROSS JOIN UNNEST(split(n_name, ' ')) AS t(w)
           ORDER BY n_name, w""",
        """SELECT n_name, w FROM (
             SELECT n_name, unnest(string_split(n_name, ' ')) AS w FROM nation) u
           ORDER BY n_name, w""",
    ),
    (
        "unnest_ordinality",
        """SELECT n_name, w, o FROM nation
           CROSS JOIN UNNEST(split(n_name, ' ')) WITH ORDINALITY AS t(w, o)
           ORDER BY n_name, o""",
        """SELECT n_name, w, CAST(o AS BIGINT) AS o FROM (
             SELECT n_name,
                    unnest(string_split(n_name, ' ')) AS w,
                    generate_subscripts(string_split(n_name, ' '), 1) AS o
             FROM nation) u
           ORDER BY n_name, o""",
    ),
    (
        "unnest_two_arrays",
        """SELECT r_name, a, b FROM region
           CROSS JOIN UNNEST(split(r_name, 'A'), sequence(1, 2)) AS t(a, b)
           ORDER BY r_name, b, a""",
        """SELECT r_name,
                  CASE WHEN i <= len(parts) THEN parts[i] END AS a,
                  CASE WHEN i <= 2 THEN i END AS b
           FROM (
             SELECT r_name, string_split(r_name, 'A') AS parts,
                    unnest(generate_series(1, greatest(len(string_split(r_name,'A')), 2))) AS i
             FROM region) u
           ORDER BY r_name, b, a""",
    ),
    (
        "bitwise_map",
        """SELECT bitwise_and(12, 10) AS ba, bitwise_or(12, 10) AS bo,
                  bitwise_xor(12, 10) AS bx,
                  element_at(map(ARRAY['a','b'], ARRAY[1,2]), 'b') AS mb""",
        """SELECT 12 & 10 AS ba, 12 | 10 AS bo, xor(12, 10) AS bx,
                  list_extract(map_extract(map(['a','b'], [1,2]), 'b'), 1) AS mb""",
    ),
    (
        "url_fns",
        """SELECT url_extract_host('https://example.com/p?q=1&r=2') AS h,
                  url_extract_path('https://example.com/p?q=1') AS p,
                  url_extract_parameter('https://example.com/p?q=1&r=2', 'r') AS r""",
        "SELECT 'example.com' AS h, '/p' AS p, '2' AS r",
    ),
    (
        "sql_json_2016",
        """SELECT json_value('{"a": {"b": 7}}', 'lax $.a.b') AS v,
                  json_query('{"a": [1, 2]}', 'lax $.a') AS q,
                  json_exists('{"a": 1}', 'lax $.a') AS e1,
                  json_exists('{"a": 1}', 'lax $.zz') AS e0,
                  format('%s|%d', 'x', 42) AS fmt""",
        """SELECT '7' AS v, '[1,2]' AS q, true AS e1, false AS e0,
                  'x|42' AS fmt""",
    ),
    (
        "special_values",
        """SELECT is_finite(1.5) AS fin, is_infinite(infinity()) AS inf,
                  is_nan(nan()) AS nn, pow(2, 10) AS p,
                  trim_array(ARRAY[1, 2, 3, 4], 2) AS ta""",
        """SELECT true AS fin, true AS inf, true AS nn, 1024.0 AS p,
                  [1, 2] AS ta""",
    ),
    (
        "vector_scalar",
        """SELECT round(cosine_similarity(ARRAY[1.0, 2.0, 3.0], ARRAY[3.0, 2.0, 1.0]), 6) AS cs,
                  dot_product(ARRAY[1.0, 2.0], ARRAY[4.0, 5.0]) AS dp,
                  bitwise_left_shift(3, 2) AS ls,
                  CAST(last_day_of_month(DATE '2024-02-03') AS VARCHAR) AS ld""",
        """SELECT round(10.0 / 14.0, 6) AS cs, 14.0 AS dp, 12 AS ls,
                  '2024-02-29' AS ld""",
    ),
    (
        "misc_scalar",
        """SELECT truncate(-2.7) AS tneg, truncate(2.7) AS tpos,
                  to_unixtime(TIMESTAMP '2024-01-01 00:00:01') AS ut,
                  day_of_week(DATE '2024-01-01') AS dw,
                  arbitrary(1) AS arb""",
        """SELECT -2.0 AS tneg, 2.0 AS tpos,
                  epoch(TIMESTAMP '2024-01-01 00:00:01') AS ut,
                  isodow(DATE '2024-01-01') AS dw, 1 AS arb""",
    ),
]


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return TrinoEngine(spark, sf_dir)


@pytest.mark.parametrize("name,trino_sql,duck_sql", CASES, ids=[c[0] for c in CASES])
def test_dialect_case(engine, duck, name, trino_sql, duck_sql):
    df = engine.sql(trino_sql)
    oracle = duck.execute(duck_sql or trino_sql).fetch_df()
    assert_same_results(df, oracle, name)


def test_tablesample_translates_and_runs(engine):
    n = engine.sql("SELECT count(*) AS c FROM orders TABLESAMPLE BERNOULLI (50)").first().c
    total = engine.sql("SELECT count(*) AS c FROM orders").first().c
    assert 0 < n < total


def test_approx_distinct_translates(engine):
    got = engine.sql("SELECT approx_distinct(o_orderpriority) AS d FROM orders").first().d
    assert got == 5


def test_translate_is_pure_text():
    out = translate("SELECT strpos(x, 'a') FROM t FETCH FIRST 3 ROWS ONLY")
    assert "locate('a', x)" in out and "LIMIT 3" in out
    # strings are opaque: no rewriting inside literals
    assert translate("SELECT 'strpos(x)' FROM t") == "SELECT 'strpos(x)' FROM t"


def test_explain_wrapper(engine):
    text = engine.explain("SELECT count(*) FROM lineitem WHERE l_quantity < 10")
    assert "Physical Plan" in text


def test_explain_analyze(engine):
    text = engine.explain_analyze("SELECT count(*) AS c FROM lineitem WHERE l_quantity < 10")
    assert "HashAggregate" in text


def test_at_time_zone_rewrite():
    from trino_spark.dialect.rewrites import translate

    out = translate("SELECT ts AT TIME ZONE 'America/New_York' FROM events")
    assert "convert_timezone('UTC', 'America/New_York', ts)" in out
    out2 = translate("SELECT date_trunc('hour', e.ts) AT TIME ZONE 'UTC' AS h FROM events e")
    assert out2.startswith("SELECT convert_timezone('UTC', 'UTC', date_trunc(")
    out3 = translate("SELECT at_timezone(ts, 'Asia/Tokyo'), with_timezone(ts, 'Asia/Tokyo') FROM events")
    assert "convert_timezone('UTC', 'Asia/Tokyo', ts)" in out3
    assert "to_utc_timestamp(ts, 'Asia/Tokyo')" in out3


def test_at_time_zone_executes(spark, sf_dir):
    from trino_spark.dialect import TrinoEngine

    eng = TrinoEngine(spark, sf_dir)
    row = eng.sql(
        "SELECT CAST(TIMESTAMP '2024-01-01 12:00:00' AT TIME ZONE 'America/New_York' AS VARCHAR) AS s"
    ).first()
    assert row.s == "2024-01-01 07:00:00"


def test_hll_sketch_sql_surface(spark, sf_dir):
    """approx_set / merge / cardinality-via-estimate in Trino-dialect SQL
    (HyperLogLogFunctions.java:24): per-group sketches unioned to a total."""
    from trino_spark.dialect import TrinoEngine

    eng = TrinoEngine(spark, sf_dir)
    row = eng.sql(
        """
        SELECT hll_sketch_estimate(merge(sk)) AS est FROM (
          SELECT n_regionkey, approx_set(n_nationkey) AS sk
          FROM nation GROUP BY n_regionkey
        )
        """
    ).first()
    assert 22 <= row.est <= 28  # 25 distinct keys, HLL error band


def test_engine_explain_and_session(spark, sf_dir):
    from trino_spark.dialect import TrinoEngine

    eng = TrinoEngine(spark, sf_dir)
    plan = eng.sql("EXPLAIN SELECT count(*) FROM nation").first().query_plan
    assert "Physical Plan" in plan or "Aggregate" in plan
    row = eng.sql("SET SESSION query_max_run_time = '2h'").first()
    assert (row.name, row.value) == ("query_max_run_time", "2h")
    assert eng.session_properties["query_max_run_time"] == "2h"
    eng.sql("RESET SESSION query_max_run_time")
    assert "query_max_run_time" not in eng.session_properties


class TestRoutineControlFlow:
    def test_if_body_compiles_to_inlined_case(self, spark):
        from trino_spark.dialect.engine import TrinoEngine

        eng = TrinoEngine(spark)
        eng.sql(
            "CREATE FUNCTION grade(x BIGINT) RETURNS VARCHAR "
            "BEGIN IF x > 10 THEN RETURN 'big'; ELSE RETURN 'small'; END IF; END"
        )
        # macro path: no registered UDF, call inlines into the plan
        assert "GRADE" in eng.routines and "GRADE" not in eng.python_routines
        rows = eng.sql("SELECT grade(20) AS g, grade(3) AS h").collect()
        assert rows[0].g == "big" and rows[0].h == "small"

    def test_straight_line_declare_set_inlines(self, spark):
        from trino_spark.dialect.engine import TrinoEngine

        eng = TrinoEngine(spark)
        eng.sql(
            "CREATE FUNCTION net(p DOUBLE, d DOUBLE) RETURNS DOUBLE "
            "BEGIN DECLARE r DOUBLE DEFAULT 1 - d; SET r = r * p; RETURN r; END"
        )
        assert "NET" in eng.routines
        assert abs(float(eng.sql("SELECT net(100.0, 0.25) AS v").collect()[0].v) - 75.0) < 1e-9

    def test_while_loop_interpreted(self, spark):
        from trino_spark.dialect.engine import TrinoEngine

        eng = TrinoEngine(spark)
        eng.sql(
            "CREATE FUNCTION fib(n BIGINT) RETURNS BIGINT BEGIN "
            "DECLARE a BIGINT DEFAULT 0; DECLARE b BIGINT DEFAULT 1; "
            "DECLARE i BIGINT DEFAULT 0; DECLARE t BIGINT; "
            "WHILE i < n DO SET t = a + b; SET a = b; SET b = t; SET i = i + 1; END WHILE; "
            "RETURN a; END"
        )
        assert "FIB" in eng.python_routines
        got = [r.f for r in eng.sql(
            "SELECT fib(CAST(id AS BIGINT)) AS f FROM range(10) ORDER BY id"
        ).collect()]
        assert got == [0, 1, 1, 2, 3, 5, 8, 13, 21, 34]

    def test_repeat_until_and_leave(self, spark):
        from trino_spark.dialect.engine import TrinoEngine

        eng = TrinoEngine(spark)
        eng.sql(
            "CREATE FUNCTION collatz_steps(n BIGINT) RETURNS BIGINT BEGIN "
            "DECLARE c BIGINT DEFAULT 0; DECLARE x BIGINT DEFAULT n; "
            "outer_l: LOOP "
            "  IF x <= 1 THEN LEAVE outer_l; END IF; "
            "  IF x % 2 = 0 THEN SET x = x / 2; ELSE SET x = 3 * x + 1; END IF; "
            "  SET c = c + 1; "
            "END LOOP; "
            "RETURN c; END"
        )
        # collatz(6): 6 3 10 5 16 8 4 2 1 -> 8 steps
        assert eng.sql("SELECT collatz_steps(6) AS s").collect()[0].s == 8

    def test_language_python(self, spark):
        from trino_spark.dialect.engine import TrinoEngine

        eng = TrinoEngine(spark)
        eng.sql(
            "CREATE FUNCTION rev(s VARCHAR) RETURNS VARCHAR LANGUAGE PYTHON "
            "AS $$\ndef rev(s):\n    return s[::-1]\n$$"
        )
        assert eng.sql("SELECT rev('abc') AS r").collect()[0].r == "cba"

    @pytest.mark.parametrize(
        "returns, body, expected",
        [
            ("decimal(10,2)", "from decimal import Decimal\ndef f(x):\n    return Decimal('1.25')",
             __import__("decimal").Decimal("1.25")),
            ("timestamp", "import datetime\ndef f(x):\n    return datetime.datetime(2020, 1, 2, 3, 4, 5)",
             __import__("datetime").datetime(2020, 1, 2, 3, 4, 5)),
        ],
        ids=["decimal", "timestamp"],
    )
    def test_language_python_return_type(self, spark, returns, body, expected):
        # RETURNS is read as a Trino type: not a double for a decimal, not
        # the text of a Java calendar for a timestamp
        from trino_spark.dialect.engine import TrinoEngine

        eng = TrinoEngine(spark)
        eng.sql(f"CREATE FUNCTION pyret(x BIGINT) RETURNS {returns} LANGUAGE PYTHON AS $$\n{body}\n$$")
        assert eng.sql("SELECT pyret(1) AS v").collect()[0].v == expected

    def test_drop_function_removes_python_routine(self, spark):
        from trino_spark.dialect.engine import TrinoEngine

        eng = TrinoEngine(spark)
        eng.sql(
            "CREATE FUNCTION tmp_f(n BIGINT) RETURNS BIGINT BEGIN "
            "DECLARE i BIGINT DEFAULT 0; WHILE i < n DO SET i = i + 1; END WHILE; "
            "RETURN i; END"
        )
        assert "TMP_F" in eng.python_routines
        eng.sql("DROP FUNCTION tmp_f")
        assert "TMP_F" not in eng.python_routines


def test_explain_analyze_reports_operator_stats(spark, sf_dir):
    from trino_spark.dialect.engine import TrinoEngine

    eng = TrinoEngine(spark, sf_dir)
    text = eng.sql(
        "EXPLAIN ANALYZE SELECT o_orderpriority, count(*) AS n "
        "FROM orders GROUP BY o_orderpriority"
    ).collect()[0].query_plan
    assert "HashAggregate" in text
    assert "numOutputRows=" in text
    # the scan's row count is populated (query actually executed)
    import re

    rows = [int(m) for m in re.findall(r"numOutputRows=(\d+)", text)]
    assert any(r >= 5 for r in rows), text


class TestMaterializedViews:
    def test_create_query_stale_refresh(self, spark, sf_dir):
        from trino_spark.dialect.engine import TrinoEngine

        eng = TrinoEngine(spark, sf_dir)
        spark.sql("SELECT * FROM VALUES (1, 10.0), (2, 20.0) AS t(k, v)").createOrReplaceTempView("mv_src")
        eng.sql("CREATE MATERIALIZED VIEW mv_sums AS SELECT k, sum(v) AS s FROM mv_src GROUP BY k")
        got = {r.k: r.s for r in eng.sql("SELECT * FROM mv_sums").collect()}
        assert got == {1: 10.0, 2: 20.0}
        # mutate the source; the MV must serve STORED (stale) data
        spark.sql("SELECT * FROM VALUES (1, 99.0) AS t(k, v)").createOrReplaceTempView("mv_src")
        got = {r.k: r.s for r in eng.sql("SELECT * FROM mv_sums").collect()}
        assert got == {1: 10.0, 2: 20.0}
        # refresh re-runs the definition
        eng.sql("REFRESH MATERIALIZED VIEW mv_sums")
        got = {r.k: r.s for r in eng.sql("SELECT * FROM mv_sums").collect()}
        assert got == {1: 99.0}
        eng.sql("DROP MATERIALIZED VIEW mv_sums")
        assert "mv_sums" not in eng.materialized_views

    def test_mv_accepts_trino_dialect_definition(self, spark, sf_dir):
        from trino_spark.dialect.engine import TrinoEngine

        eng = TrinoEngine(spark, sf_dir)
        eng.sql(
            "CREATE MATERIALIZED VIEW mv_top AS "
            "SELECT o_orderpriority, count(*) AS n FROM orders "
            "GROUP BY o_orderpriority ORDER BY n DESC FETCH FIRST 3 ROWS ONLY"
        )
        assert eng.sql("SELECT count(*) AS c FROM mv_top").first().c == 3
        eng.sql("DROP MATERIALIZED VIEW IF EXISTS mv_top")


def test_table_ptf_rewrites():
    from trino_spark.dialect.rewrites import translate

    out = translate("SELECT * FROM TABLE(sequence(1, 10))")
    assert "range(1, (10) + 1)" in out and "sequential_number" in out
    out = translate("SELECT * FROM TABLE(sequence(10, 1, -2))")
    assert "range(10, (1) - 1, -2)" in out
    out = translate(
        "SELECT * FROM TABLE(exclude_columns(TABLE(nation), DESCRIPTOR(n_regionkey)))"
    )
    assert "EXCEPT (n_regionkey)" in out and "FROM nation" in out


class TestMvFreshness:
    def test_freshness_fresh_stale_unknown(self, spark, sf_dir, tmp_path):
        from trino_spark.catalog import TableSource
        from trino_spark.dialect.engine import TrinoEngine

        eng = TrinoEngine(spark, sf_dir)
        # file-backed source we can mutate
        src_dir = str(tmp_path / "fresh_src")
        spark.range(10).selectExpr("id AS k", "id * 2 AS v").write.parquet(src_dir)
        eng.catalog.register(TableSource(name="fresh_src", path=src_dir))

        eng.sql("CREATE MATERIALIZED VIEW mv_f AS SELECT sum(v) AS s FROM fresh_src")
        rows = {r.name: r for r in eng.sql("SHOW MATERIALIZED VIEWS").collect()}
        assert rows["mv_f"].freshness == "FRESH"
        assert rows["mv_f"].last_fresh_time  # populated

        # mutate the source -> STALE (re-register = new snapshot arrived)
        spark.range(3).selectExpr("id AS k", "id AS v").write.mode("overwrite").parquet(src_dir)
        eng.catalog.register(TableSource(name="fresh_src", path=src_dir))
        assert eng.sql("SHOW MATERIALIZED VIEWS").collect()[0].freshness == "STALE"

        # refresh captures the new fingerprint -> FRESH again
        eng.sql("REFRESH MATERIALIZED VIEW mv_f")
        assert eng.sql("SHOW MATERIALIZED VIEWS").collect()[0].freshness == "FRESH"

        # a definition over an unobservable relation (temp view) -> UNKNOWN
        spark.range(2).createOrReplaceTempView("mv_tmp_src")
        eng.sql("CREATE MATERIALIZED VIEW mv_u AS SELECT count(*) AS c FROM mv_tmp_src")
        rows = {r.name: r for r in eng.sql("SHOW MATERIALIZED VIEWS").collect()}
        assert rows["mv_u"].freshness == "UNKNOWN"

        eng.sql("DROP MATERIALIZED VIEW mv_f")
        eng.sql("DROP MATERIALIZED VIEW mv_u")
        assert eng.sql("SHOW MATERIALIZED VIEWS").count() == 0

    def test_comma_joined_sources_both_tracked(self, spark, sf_dir, tmp_path):
        from trino_spark.catalog import TableSource
        from trino_spark.dialect.engine import TrinoEngine

        eng = TrinoEngine(spark, sf_dir)
        dirs = {}
        for name in ("fresh_a", "fresh_b"):
            dirs[name] = str(tmp_path / name)
            spark.range(4).selectExpr("id AS k").write.parquet(dirs[name])
            eng.catalog.register(TableSource(name=name, path=dirs[name]))
        eng.sql("CREATE MATERIALIZED VIEW mv_c AS SELECT count(*) AS c FROM fresh_a, fresh_b")
        assert eng.sql("SHOW MATERIALIZED VIEWS").collect()[0].freshness == "FRESH"

        # mutate the SECOND comma-listed source -> STALE
        spark.range(2).selectExpr("id AS k").write.mode("overwrite").parquet(dirs["fresh_b"])
        eng.catalog.register(TableSource(name="fresh_b", path=dirs["fresh_b"]))
        assert eng.sql("SHOW MATERIALIZED VIEWS").collect()[0].freshness == "STALE"
        eng.sql("DROP MATERIALIZED VIEW mv_c")


class TestPythonUdtfPtf:
    def test_builtin_split_to_rows(self, spark, sf_dir):
        from trino_spark.dialect.engine import TrinoEngine

        eng = TrinoEngine(spark, sf_dir)
        rows = eng.sql(
            "SELECT ordinal, value FROM TABLE(split_to_rows('a,b,c', ',')) ORDER BY ordinal"
        ).collect()
        assert [(r.ordinal, r.value) for r in rows] == [(1, "a"), (2, "b"), (3, "c")]

    def test_custom_udtf_with_lateral_source(self, spark, sf_dir):
        from trino_spark.dialect.engine import TrinoEngine

        eng = TrinoEngine(spark, sf_dir)

        class Repeat:
            def eval(self, word: str, times: int):
                for i in range(times or 0):
                    yield (word, i)

        eng.register_table_function("repeat_rows", Repeat, "word: string, i: int")
        rows = eng.sql("SELECT word, i FROM TABLE(repeat_rows('x', 3)) ORDER BY i").collect()
        assert [(r.word, r.i) for r in rows] == [("x", 0), ("x", 1), ("x", 2)]

    def test_udtf_over_table_argument(self, spark, sf_dir):
        from trino_spark.dialect.engine import TrinoEngine

        eng = TrinoEngine(spark, sf_dir)

        class CountRows:
            def eval(self, row):
                yield (row["n_regionkey"],)

        eng.register_table_function("echo_regionkey", CountRows, "k: bigint")
        n = eng.sql(
            "SELECT count(*) AS c FROM TABLE(echo_regionkey(TABLE(nation)))"
        ).first().c
        assert n == 25


def test_try_and_standalone_values(engine):
    r = engine.sql("SELECT try(1/0) AS x, try(CAST('zz' AS INTEGER)) AS y").first()
    assert r.x is None and r.y is None
    rows = engine.sql("VALUES (1, 'a'), (2, 'b')").collect()
    assert len(rows) == 2 and rows[0][1] in ("a", "b")


def test_unnest_map_and_show_functions(spark, sf_dir):
    from trino_spark.dialect.engine import TrinoEngine

    eng = TrinoEngine(spark, sf_dir)
    rows = eng.sql(
        "SELECT k, v FROM (SELECT map(ARRAY['a','b'], ARRAY[1,2]) AS m) t "
        "CROSS JOIN UNNEST(m) AS u(k, v) ORDER BY k"
    ).collect()
    assert [(r.k, r.v) for r in rows] == [("a", 1), ("b", 2)]
    fns = eng.sql("SHOW FUNCTIONS")
    names = {r.function_name for r in fns.collect()}
    assert "strpos" in names and "date_diff" in names
    eng.sql("CREATE FUNCTION sfx(x DOUBLE) RETURNS DOUBLE RETURN x + 1")
    assert "sfx" in {r.function_name for r in eng.sql("SHOW FUNCTIONS").collect()}


ROUND2_FN_CASES = [
    ("array_match",
     """SELECT all_match(ARRAY[2, 4], x -> x % 2 = 0) AS am,
               any_match(ARRAY[1, 3, 4], x -> x > 3) AS ym,
               none_match(ARRAY[1, 3], x -> x > 3) AS nm,
               array_first(ARRAY[7, 8]) AS af, array_last(ARRAY[7, 8]) AS al""",
     "SELECT true AS am, true AS ym, true AS nm, 7 AS af, 8 AS al"),
    ("bases_utf8",
     """SELECT from_base('ff', 16) AS fb, to_base(255, 16) AS tb,
               from_utf8(to_utf8('hi')) AS rt, title_case('ab cd') AS tc,
               ends_with('hello', 'lo') AS ew""",
     "SELECT 255 AS fb, 'ff' AS tb, 'hi' AS rt, 'Ab Cd' AS tc, true AS ew"),
    ("vector_distance",
     """SELECT round(cosine_distance(ARRAY[1.0, 0.0], ARRAY[0.0, 1.0]), 6) AS cd,
               euclidean_distance(ARRAY[0.0, 3.0], ARRAY[4.0, 0.0]) AS ed""",
     "SELECT 1.0 AS cd, 5.0 AS ed"),
    ("regexp_misc",
     """SELECT regexp_position('abcdef', 'cd') AS p1,
               regexp_position('abcdef', 'zz') AS p0,
               cardinality(regexp_split('a1b2c', '[0-9]')) AS ns,
               json_size('[1,2,3]') AS ja, json_size('{"a":1,"b":2}') AS jo""",
     "SELECT 3 AS p1, -1 AS p0, CAST(3 AS INTEGER) AS ns, CAST(3 AS BIGINT) AS ja, CAST(2 AS BIGINT) AS jo"),
    ("agg_analogs",
     """SELECT round(geometric_mean(x), 6) AS gm,
               bitwise_and_agg(x) AS ba,
               element_at(map_agg(x, x * 10), 2) AS ma,
               element_at(histogram(x % 2), 0) AS h0
        FROM (VALUES (1), (2), (3), (4)) AS t(x)""",
     "SELECT round(exp(avg(ln(x))), 6) AS gm, bit_and(x) AS ba, 20 AS ma,"
     " CAST(2 AS INTEGER) AS h0 FROM (SELECT unnest([1,2,3,4]) AS x)"),
    ("datetime_extras",
     """SELECT millisecond(TIMESTAMP '2024-01-01 00:00:01.234') AS ms,
               year_of_week(DATE '2005-01-02') AS yw,
               array_histogram(ARRAY['a','b','a'])['a'] AS ha""",
     "SELECT CAST(234 AS INTEGER) AS ms, CAST(2004 AS BIGINT) AS yw, CAST(2 AS INTEGER) AS ha"),
]


@pytest.mark.parametrize("name,trino_sql,duck_sql", ROUND2_FN_CASES, ids=[c[0] for c in ROUND2_FN_CASES])
def test_round2_fn_case(engine, duck, name, trino_sql, duck_sql):
    df = engine.sql(trino_sql)
    oracle = duck.execute(duck_sql).fetch_df()
    assert_same_results(df, oracle, name)


def test_cast_char_pads(engine):
    r = engine.sql(
        "SELECT CAST('ab' AS CHAR(5)) AS c5, length(CAST('ab' AS CHAR(5))) AS l5, "
        "CAST('abcdefg' AS CHAR(3)) AS c3, "
        "(CAST('ab' AS CHAR(4)) = CAST('ab' AS CHAR(4))) AS eq"
    ).first()
    assert r.c5 == "ab   " and r.l5 == 5
    assert r.c3 == "abc"
    assert r.eq is True


def test_system_runtime_queries(spark, sf_dir):
    from trino_spark.dialect.engine import TrinoEngine

    eng = TrinoEngine(spark, sf_dir)
    eng.sql("SELECT count(*) AS c FROM nation")
    try:
        eng.sql("SELECT broken syntax here FROM")
    except Exception:
        pass
    rows = eng.sql(
        "SELECT state, query FROM system.runtime.queries ORDER BY query_id"
    ).collect()
    states = [r.state for r in rows]
    assert "FINISHED" in states and "FAILED" in states
    assert any("count(*)" in r.query for r in rows)


def test_contains_sequence(engine):
    r = engine.sql(
        "SELECT contains_sequence(ARRAY[1,2,3,4], ARRAY[2,3]) AS hit, "
        "contains_sequence(ARRAY[1,2,3,4], ARRAY[2,4]) AS miss, "
        "contains_sequence(ARRAY[1,2], ARRAY[1,2,3]) AS too_long"
    ).first()
    assert r.hit is True and r.miss is False and r.too_long is False


def test_show_catalogs_and_session(spark, sf_dir):
    from trino_spark.dialect.engine import TrinoEngine

    eng = TrinoEngine(spark, sf_dir)
    assert [r.catalog for r in eng.sql("SHOW CATALOGS").collect()] == ["spark"]
    assert eng.sql("SHOW SESSION").count() == 0
    eng.sql("SET SESSION query_max_run_time = '2h'")
    rows = {r.name: r.value for r in eng.sql("SHOW SESSION").collect()}
    assert rows.get("query_max_run_time") == "2h"


class TestRound2SurfaceFillins:
    """Quantified comparisons, ROW types, DECIMAL literals, OFFSET..LIMIT
    order, standalone FROM UNNEST, niladic localtimestamp."""

    def _eng(self, spark, sf_dir):
        from trino_spark.dialect import TrinoEngine

        return TrinoEngine(spark, sf_dir=sf_dir)

    def test_quantified_comparisons(self, spark, sf_dir):
        eng = self._eng(spark, sf_dir)
        q = lambda s: eng.sql(s).collect()[0].c
        assert q("SELECT count(*) AS c FROM nation WHERE n_nationkey > ALL (SELECT n_regionkey FROM nation)") == 20
        assert q("SELECT count(*) AS c FROM nation WHERE n_nationkey = ANY (SELECT n_regionkey FROM nation)") == 5
        assert q("SELECT count(*) AS c FROM nation WHERE n_nationkey < SOME (SELECT n_regionkey FROM nation)") == 4
        assert q("SELECT count(*) AS c FROM nation WHERE n_regionkey <> ALL (SELECT 99)") == 25

    def test_union_all_unaffected(self, spark, sf_dir):
        eng = self._eng(spark, sf_dir)
        assert len(eng.sql("SELECT 1 AS x UNION ALL SELECT 2").collect()) == 2

    def test_row_constructor_and_cast(self, spark, sf_dir):
        eng = self._eng(spark, sf_dir)
        r = eng.sql("SELECT CAST(ROW(1, ROW(2, 'b')) AS ROW(a INT, b ROW(c INT, d VARCHAR))).b.d AS x").collect()[0]
        assert r.x == "b"

    def test_decimal_literal(self, spark, sf_dir):
        eng = self._eng(spark, sf_dir)
        import decimal

        out = eng.sql("SELECT DECIMAL '12.345' * 2 AS x").collect()[0].x
        assert out == decimal.Decimal("24.690")

    def test_offset_before_limit(self, spark, sf_dir):
        eng = self._eng(spark, sf_dir)
        rows = eng.sql("SELECT n_nationkey FROM nation ORDER BY n_nationkey OFFSET 5 ROWS LIMIT 3").collect()
        assert [r.n_nationkey for r in rows] == [5, 6, 7]

    def test_from_unnest_forms(self, spark, sf_dir):
        eng = self._eng(spark, sf_dir)
        assert [tuple(r) for r in eng.sql(
            "SELECT * FROM UNNEST(array['a','b']) WITH ORDINALITY AS t(v, i)"
        ).collect()] == [("a", 1), ("b", 2)]
        assert [tuple(r) for r in eng.sql(
            "SELECT * FROM UNNEST(array[1,2], array['x','y']) AS t(n, s)"
        ).collect()] == [(1, "x"), (2, "y")]

    def test_localtimestamp_niladic(self, spark, sf_dir):
        eng = self._eng(spark, sf_dir)
        assert eng.sql("SELECT localtimestamp IS NOT NULL AS x").collect()[0].x is True

    def test_eq_all_raises(self, spark, sf_dir):
        from trino_spark.dialect.rewrites import TrinoSqlError

        eng = self._eng(spark, sf_dir)
        with pytest.raises(TrinoSqlError):
            eng.sql("SELECT count(*) AS c FROM nation WHERE n_nationkey = ALL (SELECT 1)")


class TestMultimapAndOrderedArrayAgg:
    """multimap_from_entries / split_to_multimap templates and Trino's
    array_agg(... ORDER BY ...) ordered-aggregation clause."""

    def _eng(self, spark, sf_dir):
        from trino_spark.dialect import TrinoEngine

        return TrinoEngine(spark, sf_dir=sf_dir)

    def test_multimap_from_entries(self, spark, sf_dir):
        eng = self._eng(spark, sf_dir)
        out = eng.sql(
            "SELECT multimap_from_entries(array[ROW('a',1), ROW('a',2), ROW('b',3)]) AS x"
        ).collect()[0].x
        assert out == {"a": [1, 2], "b": [3]}

    def test_split_to_multimap(self, spark, sf_dir):
        eng = self._eng(spark, sf_dir)
        out = eng.sql("SELECT split_to_multimap('a=1;a=2;b=3', ';', '=') AS x").collect()[0].x
        assert out == {"a": ["1", "2"], "b": ["3"]}

    def test_array_agg_order_by(self, spark, sf_dir):
        eng = self._eng(spark, sf_dir)
        desc = eng.sql(
            "SELECT array_agg(n_nationkey ORDER BY n_nationkey DESC) AS x "
            "FROM nation WHERE n_regionkey = 0"
        ).collect()[0].x
        assert desc == sorted(desc, reverse=True) and len(desc) == 5
        asc = eng.sql(
            "SELECT array_agg(n_nationkey ORDER BY n_nationkey) AS x "
            "FROM nation WHERE n_regionkey = 0"
        ).collect()[0].x
        assert asc == sorted(asc)

    def test_array_agg_plain_still_collects(self, spark, sf_dir):
        eng = self._eng(spark, sf_dir)
        assert eng.sql("SELECT cardinality(array_agg(n_name)) AS x FROM nation").collect()[0].x == 25


class TestRound6RewritePasses:
    """Pure-text unit pins for the round-6 passes: the bounded spatial
    sample and the sketch two-phase split, including every abort
    condition (blocks that must keep the direct form)."""

    def test_spatial_sample_injected(self):
        from trino_spark.dialect.rewrites import translate

        out = translate("SELECT spatial_partitioning(g) FROM pts WHERE x > 0")
        assert "LIMIT 10000" in out and "xxhash64" in out
        assert "__sp_sample0" in out

    def test_spatial_sample_aborts(self):
        from trino_spark.dialect.rewrites import translate

        for sql in (
            "SELECT spatial_partitioning(g) FROM pts GROUP BY k",
            "SELECT count(*), spatial_partitioning(g) FROM pts",
        ):
            assert "__sp_sample" not in translate(sql), sql

    def test_sketch_twophase_global_and_grouped(self):
        from trino_spark.dialect.rewrites import translate

        out = translate("SELECT qdigest_agg(x) FROM t")
        assert "merge_qdigest" in out and "spark_partition_id()" in out
        out = translate("SELECT k, tdigest_agg(x) AS d FROM t GROUP BY k")
        assert "merge_tdigest" in out and "GROUP BY k, __sk_salt" in out
        # bare-identifier keys keep their output name
        assert "SELECT k, merge_tdigest" in out

    def test_sketch_twophase_aborts(self):
        from trino_spark.dialect.rewrites import translate

        for sql in (
            "SELECT qdigest_agg(x) FROM t GROUP BY 1",           # ordinal
            "SELECT k, qdigest_agg(x) FROM t GROUP BY ROLLUP(k)",
            "SELECT k, count(*), qdigest_agg(x) FROM t GROUP BY k",
            "SELECT qdigest_agg(x) OVER (PARTITION BY k) FROM t",
            "SELECT k, qdigest_agg(x) FROM t GROUP BY k HAVING k > 1",
            "SELECT approx_most_frequent(b, x, c) FROM t",        # non-literal sizes
        ):
            assert "__sk_salt" not in translate(sql), sql

    def test_sketch_twophase_unknown_agg_aborts(self):
        """r7 ADVICE: an aggregate OUTSIDE the _OTHER_AGGS-era allowlist
        (count_if, stddev, bool_and, ...) must abort the rewrite — the
        rewritten form would silently return per-partition partial
        values for it; the direct form fails loudly instead."""
        from trino_spark.dialect.rewrites import translate

        for sql in (
            "SELECT k, qdigest_agg(x), count_if(k > 0) FROM t GROUP BY k",
            "SELECT stddev(x), tdigest_agg(x) FROM t",
            "SELECT k, bool_and(x > 0), make_set_digest(x) FROM t GROUP BY k",
            "SELECT approx_percentile(x, 0.5), qdigest_agg(x) FROM t",
            "SELECT min_by(k, x), theta_sketch_agg(x) FROM t",
            "SELECT count_if(g IS NOT NULL), spatial_partitioning(g) FROM pts",
        ):
            out = translate(sql)
            assert "__sk_salt" not in out and "__sp_sample" not in out, sql
        # known-safe scalars do NOT abort
        out = translate("SELECT coalesce(k, 'x'), qdigest_agg(abs(x)) FROM t GROUP BY coalesce(k, 'x')")
        assert "__sk_salt" in out

    def test_sketch_twophase_union_tail_untouched(self):
        """r7 ADVICE: the alias-substitution tail stops at a depth-0 set
        operation — an expression group key in the UNION sibling keeps
        its spelling (it does not expose this block's __sk_g aliases)."""
        from trino_spark.dialect.rewrites import translate

        out = translate(
            "SELECT upper(k) AS u, qdigest_agg(x) AS q FROM t GROUP BY upper(k)"
            " UNION ALL SELECT upper(k) AS u, qdigest_agg(x) AS q FROM s GROUP BY upper(k)"
        )
        # both branches rewritten, and the second branch's GROUP BY still
        # says upper(k) in its own inner scope — no cross-branch alias leak
        assert out.count("__sk_salt") >= 2
        import re as _re
        assert not _re.search(r"UNION ALL[^(]*__sk_g0", out), out

    def test_niladic_qualified_passthrough(self):
        """r7 ADVICE: a PRECEDING qualifier (`t.current_schema`) is a
        column reference, not the niladic — passes through untouched."""
        from trino_spark.dialect.rewrites import translate

        assert "t.current_schema" in translate("SELECT t.current_schema FROM t")
        assert "t.current_catalog" in translate("SELECT t.current_catalog FROM t")
        # unqualified niladic still substitutes
        assert "current_database()" in translate("SELECT current_schema")

    def test_quoted_alias_spelling_a_niladic_is_a_name(self, spark):
        """A quoted identifier that spells a niladic ("current_schema")
        is a name: the niladic pass runs before quoted identifiers are
        unquoted."""
        from trino_spark.dialect.rewrites import translate

        out = translate('SELECT 3 AS "current_schema", "current_catalog" FROM t')
        assert "current_database" not in out and "'spark'" not in out
        assert spark.sql(translate('SELECT 3 AS "current_schema"')).columns == ["current_schema"]

    def test_sketch_twophase_amf_capacity_partial(self):
        from trino_spark.dialect.rewrites import translate

        out = translate("SELECT approx_most_frequent(2, x, 10) FROM t")
        # partials keep capacity entries; merge trims to the bucket count
        assert "approx_most_frequent(10, x, 10)" in out
        assert "merge_approx_most_frequent(2," in out


def test_explain_format_json(spark):
    """EXPLAIN (TYPE ..., FORMAT JSON) (ExplainRewrite.java JSON
    rendering) — every supported combination returns parseable JSON."""
    import json

    from trino_spark.dialect.engine import TrinoEngine

    eng = TrinoEngine(spark, "/root/testdata/sf0.001")
    for q in (
        "EXPLAIN (TYPE DISTRIBUTED, FORMAT JSON) SELECT count(*) FROM nation",
        "EXPLAIN (FORMAT JSON) SELECT 1",
        "EXPLAIN (TYPE LOGICAL, FORMAT JSON) SELECT n_name FROM nation",
        "EXPLAIN (TYPE IO, FORMAT JSON) SELECT n_name FROM nation",
    ):
        parsed = json.loads(eng.sql(q).collect()[0].query_plan)
        assert parsed, q
    import pytest as _pytest

    with _pytest.raises(Exception, match="FORMAT"):
        eng.sql("EXPLAIN (FORMAT GRAPHVIZ) SELECT 1")


def test_system_metadata_tables_round6(spark):
    """system.metadata.catalogs / materialized_views + system.jdbc.types
    + SHOW CURRENT ROLES (CatalogSystemTable / MaterializedViewSystemTable
    / the system.jdbc schema / ShowRolesTask CURRENT)."""
    from trino_spark.dialect.engine import TrinoEngine

    eng = TrinoEngine(spark, "/root/testdata/sf0.001")
    assert eng.sql("SHOW CURRENT ROLES").collect() == []
    cats = {r.catalog_name for r in eng.sql(
        "SELECT * FROM system.metadata.catalogs").collect()}
    assert "spark" in cats
    n = eng.sql("SELECT count(*) AS c FROM system.jdbc.types"
                " WHERE data_type = 4").collect()[0].c
    assert n == 1  # java.sql.Types.INTEGER
    eng.sql("CREATE MATERIALIZED VIEW mv_meta_probe AS"
            " SELECT count(*) AS c FROM nation")
    try:
        rows = eng.sql(
            "SELECT name, freshness FROM system.metadata.materialized_views"
        ).collect()
        assert ("mv_meta_probe", "FRESH") in {(r.name, r.freshness) for r in rows}
    finally:
        eng.sql("DROP MATERIALIZED VIEW mv_meta_probe")


def test_system_runtime_and_properties_round6(spark):
    """system.runtime.tasks / enriched system.runtime.queries columns /
    system.metadata.*_properties / current_catalog + current_schema
    niladics (TaskSystemTable, QuerySystemTable, *PropertiesSystemTable,
    grammar niladics)."""
    from trino_spark.dialect.engine import TrinoEngine

    eng = TrinoEngine(spark, "/root/testdata/sf0.001")
    eng.sql("SELECT 1").collect()  # populate the query log
    rows = eng.sql(
        "SELECT query_id, user, state FROM system.runtime.queries"
        " ORDER BY created DESC LIMIT 1"
    ).collect()
    assert rows and rows[0].user == "trino" and rows[0].state == "FINISHED"
    assert eng.sql("SELECT * FROM system.runtime.tasks").collect() == []
    fmt = eng.sql(
        "SELECT default_value FROM system.metadata.table_properties"
        " WHERE property_name = 'format'"
    ).collect()[0].default_value
    assert fmt == "PARQUET"
    r = eng.sql("SELECT current_catalog AS c, current_schema AS s").collect()[0]
    assert (r.c, r.s) == ("spark", "default")
    eng.sql("USE analytics")
    assert eng.sql("SELECT current_schema AS s").collect()[0].s == "analytics"
    eng.sql("USE default")


def test_offset_fetch_and_unicode_literals(spark):
    """Round-6: OFFSET n ROWS composed with FETCH/LIMIT (the fetch pass
    now runs before the offset reorder) and U&'...' Unicode literals
    with default and custom UESCAPE."""
    from trino_spark.dialect.engine import TrinoEngine

    eng = TrinoEngine(spark, "/root/testdata/sf0.001")
    rows = eng.sql(
        "SELECT n_name FROM nation ORDER BY n_name"
        " OFFSET 3 ROWS FETCH NEXT 2 ROWS ONLY"
    ).collect()
    assert len(rows) == 2 and rows[0].n_name == "NATION_11"
    assert len(eng.sql(
        "SELECT n_name FROM nation ORDER BY n_name OFFSET 23 ROWS"
    ).collect()) == 2
    r = eng.sql("SELECT U&'\\0041\\0042' AS v, U&'!+01F600' UESCAPE '!' AS e").collect()[0]
    assert r.v == "AB" and r.e == "\N{GRINNING FACE}"
    # doubled escape char denotes itself
    assert eng.sql("SELECT U&'a\\\\b' AS v").collect()[0].v == "a\\b"


def test_system_jdbc_schema_round6(spark):
    """The system.jdbc metadata schema (JdbcSystemTables serving JDBC
    DatabaseMetaData): tables/schemas/columns/table_types/catalogs
    projected off information_schema."""
    from trino_spark.dialect.engine import TrinoEngine

    eng = TrinoEngine(spark, "/root/testdata/sf0.001")
    t = eng.sql(
        "SELECT * FROM system.jdbc.tables WHERE table_name = 'nation'"
    ).collect()
    assert [(r.table_cat, r.table_name, r.table_type) for r in t] == [
        ("spark", "nation", "TABLE")
    ]
    cols = {r.column_name for r in eng.sql(
        "SELECT column_name FROM system.jdbc.columns WHERE table_name = 'nation'"
    ).collect()}
    assert {"n_nationkey", "n_name", "n_regionkey"} <= cols
    assert {r.table_type for r in eng.sql(
        "SELECT * FROM system.jdbc.table_types").collect()} == {"TABLE", "VIEW"}


def test_groups_window_frame(spark):
    """GROUPS frames rewrite to RANGE over dense_rank (round 6; SQL:2011
    frame mode Spark lacks): duplicate-key groups count as one unit."""
    from trino_spark.dialect.engine import TrinoEngine

    eng = TrinoEngine(spark, "/root/testdata/sf0.001")
    df = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 20), (1, 30)], "k int, v int"
    )
    df.createOrReplaceTempView("grf_t")
    rows = eng.sql(
        "SELECT v, CAST(count(*) OVER (ORDER BY v GROUPS BETWEEN CURRENT"
        " ROW AND 1 FOLLOWING) AS INT) AS c FROM grf_t ORDER BY v, c"
    ).collect()
    assert [(r.v, r.c) for r in rows] == [(10, 3), (10, 3), (20, 2), (30, 1)]
    # aggregated blocks keep the direct form (and so fail in Spark) —
    # the rewrite must not fire under GROUP BY
    from trino_spark.dialect.rewrites import translate

    out = translate(
        "SELECT k, sum(v) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND"
        " CURRENT ROW) FROM t GROUP BY k"
    )
    assert "__gr_src" not in out


class TestStructureIndex:
    """tokenizer.structure: query blocks, WITH definitions and relation
    references read once from a token list."""

    @staticmethod
    def _read(sql):
        from trino_spark.dialect.tokenizer import structure, tokenize

        toks = tokenize(sql)
        return toks, structure(toks)

    @staticmethod
    def _word(toks, word, nth=0):
        return [i for i, t in enumerate(toks) if t.text == word][nth]

    def test_nested_subquery_blocks(self):
        toks, st = self._read(
            "SELECT a, count(*) FROM (SELECT b AS a FROM t WHERE c IN "
            "(SELECT d FROM u)) x GROUP BY a HAVING count(*) > 1 ORDER BY a"
        )
        outer, mid, inner = st.blocks
        assert outer.close == len(toks)
        assert toks[outer.from_].text == "FROM" and outer.from_ < mid.select
        assert (toks[outer.group].text, toks[outer.having].text) == ("GROUP", "HAVING")
        assert toks[outer.end].text == "ORDER" and outer.tail_end == len(toks)
        assert mid.group == inner.group == -1
        assert toks[mid.close].text == ")" and mid.close > inner.close
        assert toks[mid.end].text == ")" and mid.end == mid.close
        assert st.block_of(self._word(toks, "d")) is inner
        assert st.block_of(self._word(toks, "c")) is mid
        assert st.block_of(self._word(toks, "x")) is outer
        assert not outer.distinct and self._read("SELECT DISTINCT a FROM t")[1].blocks[0].distinct

    def test_union_sibling_outside_tail(self):
        toks, st = self._read(
            "SELECT upper(k) FROM t GROUP BY upper(k) UNION ALL "
            "SELECT upper(k) FROM u GROUP BY upper(k) ORDER BY 1"
        )
        first, second = st.blocks
        union = self._word(toks, "UNION")
        assert first.end == first.tail_end == union
        assert toks[second.end].text == "ORDER" and second.tail_end == len(toks)
        toks, st = self._read("(SELECT k FROM t ORDER BY k LIMIT 3) EXCEPT SELECT k FROM u")
        first, second = st.blocks
        assert toks[first.end].text == "ORDER" and toks[first.tail_end].text == ")"
        assert st.block_of(self._word(toks, "u")) is second

    def test_with_bodies_and_shadowing(self):
        toks, st = self._read(
            "WITH nation AS (SELECT * FROM nation), r (n) AS (SELECT n_name FROM nation) "
            "SELECT * FROM nation, tpch.sf1.nation, r"
        )
        assert [w.name for w in st.withs] == ["nation", "r"]
        body = st.withs[0].body
        assert toks[body[0]].text == "SELECT" and toks[body[1]].text == ")"
        # the CTE's own body still reads the real table; later uses are the CTE
        assert [(r.name, r.shadowed) for r in st.relations] == [
            ("nation", False), ("nation", True), ("nation", True),
            ("nation", False),  # qualified: always the table
            ("r", True),
        ]
        # a WITH inside a subquery is out of scope after its group closes
        _, st = self._read(
            "SELECT * FROM (WITH region AS (SELECT 1 AS x) SELECT * FROM region) q, region"
        )
        assert [(r.name, r.shadowed) for r in st.relations] == [("region", True), ("region", False)]
        # WITH TIES / WITH ORDINALITY are not WITH clauses
        assert self._read("SELECT * FROM t ORDER BY k FETCH FIRST 1 ROWS WITH TIES")[1].withs == []

    def test_relation_positions(self):
        _, st = self._read(
            "SELECT * FROM a JOIN b USING (k) CROSS JOIN UNNEST(b.arr) AS u(x), "
            "LATERAL (SELECT * FROM c) l, d WHERE extract(year FROM e) = 1 "
            "AND a.x IS DISTINCT FROM f"
        )
        assert [(r.name, r.kw) for r in st.relations] == [
            ("a", "FROM"), ("b", "JOIN"), ("c", "FROM"), ("d", "FROM"),
        ]
        # a FROM list goes on after a join condition or a sample clause
        _, st = self._read("SELECT * FROM a JOIN b ON a.k = b.k, c TABLESAMPLE BERNOULLI (10), d")
        assert [r.name for r in st.relations] == ["a", "b", "c", "d"]
        _, st = self._read(
            "SELECT * FROM nation n, region r, (supplier) s LEFT JOIN (customer) AS c ON 1 = 1"
        )
        assert [(r.name, r.alias) for r in st.relations] == [
            ("nation", "n"), ("region", "r"), ("supplier", "s"), ("customer", "c"),
        ]
        _, st = self._read("MERGE INTO t USING src s ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = 1")
        assert [(r.name, r.kw, r.read) for r in st.relations] == [
            ("t", "INTO", False), ("src", "USING", True),
        ]
        _, st = self._read("SELECT * FROM TABLE(split_rows(TABLE(nation)))")
        assert [(r.name, r.read) for r in st.relations] == [("nation", True)]
        # FROM-first queries are read at any depth, their select lists are not
        _, st = self._read(
            "SELECT * FROM a WHERE k IN (FROM b SELECT k, v) "
            "AND EXISTS (WITH w AS (SELECT 1) FROM c SELECT 1, c.x)"
        )
        assert [(r.name, r.read) for r in st.relations] == [("a", True), ("b", True), ("c", True)]
        # TABLE t reads t; a DDL statement's TABLE names its target
        for sql, read in (
            ("TABLE t", True),
            ("CREATE TABLE IF NOT EXISTS t (a int)", False),
            ("TRUNCATE TABLE t", False),
            ("COMMENT ON TABLE t IS 'x'", False),
        ):
            rel, = self._read(sql)[1].relations
            assert (rel.name, rel.alias, rel.read) == ("t", None, read), sql

    def test_qualified_and_quoted_names(self):
        toks, st = self._read('SELECT * FROM cat.sch.orders o JOIN "Line Items" AS "LI" ON o.k = "LI".k')
        o, li = st.relations
        assert (o.name, o.alias, o.shadowed) == ("orders", "o", False)
        assert "".join(t.text for t in toks[o.start : o.end]) == "cat.sch.orders"
        assert (li.name, li.alias) == ("line items", "li")

    def test_keywords_in_literals_and_comments(self):
        _, st = self._read(
            "SELECT 'x FROM region' AS s /* JOIN nation */ FROM orders -- FROM lineitem\n"
            "WHERE c = 'JOIN supplier' AND d <> 'SELECT 1 UNION SELECT 2'"
        )
        assert [r.name for r in st.relations] == ["orders"]
        assert len(st.blocks) == 1 and st.blocks[0].tail_end == st.blocks[0].close


class TestSystemTableReferences:
    """information_schema and system tables resolve as relation
    references: any case, quoted parts, never text in a literal, a comment
    or a quoted alias."""

    @pytest.fixture
    def fresh(self, spark):
        return TrinoEngine(spark.newSession())

    @staticmethod
    def _views(eng):
        return {t.name for t in eng.spark.catalog.listTables()}

    def test_quoted_alias_keeps_its_name(self, fresh):
        assert fresh.sql('SELECT 1 AS "system.runtime.tasks"').columns == ["system.runtime.tasks"]
        df = fresh.sql("SELECT 'a' AS \"information_schema.tables\"")
        assert df.columns == ["information_schema.tables"]

    def test_literal_or_comment_builds_nothing(self, fresh):
        before = self._views(fresh)
        assert fresh.sql("SELECT 'system.runtime.nodes' AS s").collect()[0].s == (
            "system.runtime.nodes"
        )
        assert fresh.sql("SELECT 1 AS x -- system.jdbc.types").collect()[0].x == 1
        assert self._views(fresh) == before

    @pytest.mark.parametrize(
        "name, rows",
        [
            ("SYSTEM.RUNTIME.NODES", 1),
            ('"system"."runtime"."nodes"', 1),
            ("System.Jdbc.Types", 19),
        ],
    )
    def test_names_resolve_in_any_case_and_quoted(self, fresh, name, rows):
        assert len(fresh.sql(f"SELECT * FROM {name}").collect()) == rows


class TestStatementHead:
    """A statement's kind is read from its tokens: a leading block or line
    comment (as BI tools prepend to every statement) or lower case changes
    neither where a statement goes nor what it does."""

    SPELLINGS = (str, "/* c */ {}".format, "-- c\n{}".format, str.lower)
    _Q = (
        "DROP TABLE IF EXISTS hd_q",
        "CREATE TABLE hd_q AS SELECT n_nationkey AS k, n_name AS n FROM nation",
    )
    # (setup, statement, probe): every spelling of the statement runs after
    # the setup and must give the plain spelling's rows, and the probe the
    # plain spelling's rows after it
    KINDS = [
        (("DROP TABLE IF EXISTS hd_t",), "CREATE TABLE hd_t (a bigint, b varchar)",
         "SHOW COLUMNS FROM hd_t"),
        (_Q, "INSERT INTO hd_q VALUES (100, 'x')",
         "SELECT count(*) AS c FROM hd_q FOR VERSION AS OF 1"),
        (_Q, "DELETE FROM hd_q WHERE k < 5", "SELECT count(*) AS c FROM hd_q"),
        (_Q, "UPDATE hd_q SET n = 'y' WHERE k = 1", "SELECT n FROM hd_q WHERE k = 1"),
        (_Q, "MERGE INTO hd_q t USING (SELECT 1 AS k) s ON t.k = s.k WHEN MATCHED THEN DELETE",
         "SELECT count(*) AS c FROM hd_q"),
        (_Q, "TRUNCATE TABLE hd_q", "SELECT count(*) AS c FROM hd_q"),
        (_Q, "ALTER TABLE hd_q ADD COLUMN z bigint", "SHOW COLUMNS FROM hd_q"),
        (_Q, "DROP TABLE hd_q",
         "SELECT count(*) AS c FROM information_schema.tables WHERE table_name = 'hd_q'"),
        (("DROP VIEW IF EXISTS hd_v",), "CREATE VIEW hd_v AS SELECT 1 AS one",
         "SELECT * FROM hd_v"),
        ((), "START TRANSACTION", "ROLLBACK"),
        (("RESET SESSION hd_p",), "SET SESSION hd_p = 'v'", "SHOW SESSION"),
        ((), "SHOW SESSION", None),
        ((), "SHOW TABLES", None),
        ((), "DESCRIBE nation", None),
        ((), "SHOW CREATE TABLE nation", None),
        ((), "EXPLAIN (TYPE VALIDATE) SELECT 1", None),
        ((), "USE default", None),
        (("CREATE OR REPLACE FUNCTION hd_f(x bigint) RETURNS bigint RETURN x + 1",),
         "SHOW CREATE FUNCTION hd_f", None),
        ((), "WITH FUNCTION g(x bigint) RETURNS bigint RETURN x * 2 SELECT g(4) AS v", None),
        ((), "SET PATH hd_path", None),
        (("PREPARE hd_p FROM SELECT ? + 1 AS v",), "DESCRIBE OUTPUT hd_p", None),
        ((), "CREATE ROLE hd_r", "DROP ROLE hd_r"),
        ((), "CALL system.drop_row_filter('nobody', 'nation')", None),
    ]

    @pytest.mark.parametrize("setup, stmt, probe", KINDS, ids=[k[1][:30] for k in KINDS])
    def test_leading_comment_and_case_keep_the_statement(self, engine, setup, stmt, probe):
        def run(spelling):
            for s in setup:
                engine.sql(s)
            out = engine.sql(spelling(stmt)).collect()
            return out, engine.sql(probe).collect() if probe else None

        plain = run(str)
        for spelling in self.SPELLINGS[1:]:
            assert run(spelling) == plain, spelling(stmt)


def test_dispatch_tokenizes_a_query_once(spark, sf_dir, monkeypatch):
    """Dispatch reads a query's kind from one tokenization of its text;
    the next reader is translate() (with no routines to inline)."""
    import sys

    from trino_spark.dialect import engine as engine_mod
    from trino_spark.dialect import tokenizer

    real, calls, at_translate = tokenizer.tokenize, [], []

    def counting(sql):
        calls.append(sql)
        return real(sql)

    for mod in list(sys.modules.values()):
        if mod and mod.__name__.startswith("trino_spark") and getattr(mod, "tokenize", None) is real:
            monkeypatch.setattr(mod, "tokenize", counting)
    translate_ = engine_mod.translate
    monkeypatch.setattr(
        engine_mod, "translate", lambda s: (at_translate.append(len(calls)), translate_(s))[1]
    )
    TrinoEngine(spark, sf_dir).sql("SELECT n_name FROM nation WHERE n_nationkey = 1").collect()
    assert at_translate == [1]
