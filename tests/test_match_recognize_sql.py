"""MATCH_RECOGNIZE SQL surface through engine.sql (grammar SqlBase.g4:448
patternRecognition compiled onto the NFA operator)."""

import pytest

from trino_spark.dialect.engine import TrinoEngine
from trino_spark.dialect.match_recognize_sql import parse_spec
from trino_spark.dialect.tokenizer import tokenize


class TestParse:
    def test_full_clause(self):
        spec = parse_spec(tokenize(
            """
            PARTITION BY user_id
            ORDER BY ts
            MEASURES FIRST(price) AS p0, LAST(price) AS p1, COUNT(*) AS n,
                     CLASSIFIER() AS lbl
            ALL ROWS PER MATCH
            AFTER MATCH SKIP TO LAST W
            PATTERN (W+ U)
            DEFINE W AS price > PREV(price), U AS price < PREV(price)
            """
        ))
        assert spec.partition_by == ["user_id"] and spec.order_by == ["ts"]
        assert [n for _, n in spec.measures] == ["p0", "p1", "n", "lbl"]
        assert spec.rows_per_match == "all"
        assert spec.after_match == "to_last:W"
        assert spec.pattern == "W+ U"
        assert set(spec.define) == {"W", "U"}

    def test_desc_rejected(self):
        with pytest.raises(ValueError, match="DESC"):
            parse_spec(tokenize("ORDER BY ts DESC PATTERN (A) DEFINE A AS TRUE"))


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return TrinoEngine(spark, sf_dir)


class TestExecute:
    def test_v_shape_over_values(self, spark, engine):
        spark.sql(
            "SELECT * FROM VALUES (1, 1, 10.0), (1, 2, 8.0), (1, 3, 6.0), "
            "(1, 4, 9.0), (1, 5, 12.0), (1, 6, 7.0) AS t(k, seq, price)"
        ).createOrReplaceTempView("mr_ticks")
        df = engine.sql(
            """
            SELECT * FROM mr_ticks MATCH_RECOGNIZE (
              PARTITION BY k
              ORDER BY seq
              MEASURES FIRST(price) AS start_price,
                       LAST(price) AS end_price,
                       COUNT(*) AS n_rows,
                       COUNT(D.*) AS n_down
              ONE ROW PER MATCH
              AFTER MATCH SKIP PAST LAST ROW
              PATTERN (S D+ U+)
              DEFINE D AS price < PREV(price),
                     U AS price > PREV(price)
            ) ORDER BY match_no
            """
        )
        rows = df.collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.start_price == 10.0 and r.end_price == 12.0
        assert r.n_rows == 5 and r.n_down == 2

    def test_events_funnel_sql(self, engine):
        # view -> purchase funnel per user over the events table
        df = engine.sql(
            """
            SELECT count(*) AS n FROM events MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              MEASURES COUNT(*) AS len
              PATTERN (V+ P)
              DEFINE V AS event_type = 'view',
                     P AS event_type = 'purchase'
            )
            """
        )
        n = df.first().n
        assert n > 0

    def test_classifier_all_rows(self, spark, engine):
        spark.sql(
            "SELECT * FROM VALUES (1, 1, 'a'), (1, 2, 'a'), (1, 3, 'b') AS t(k, seq, et)"
        ).createOrReplaceTempView("mr_cls")
        df = engine.sql(
            """
            SELECT * FROM mr_cls MATCH_RECOGNIZE (
              PARTITION BY k ORDER BY seq
              MEASURES CLASSIFIER() AS lbl
              ALL ROWS PER MATCH
              PATTERN (A+ B)
              DEFINE A AS et = 'a', B AS et = 'b'
            )
            """
        )
        assert [r.lbl for r in df.orderBy("match_no").collect()] == ["A", "A", "B"]


def test_all_rows_with_unmatched(spark, engine):
    spark.sql(
        "SELECT * FROM VALUES (1, 1, 'x'), (1, 2, 'a'), (1, 3, 'b'), (1, 4, 'y') "
        "AS t(k, seq, et)"
    ).createOrReplaceTempView("mr_unm")
    df = engine.sql(
        """
        SELECT * FROM mr_unm MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY seq
          MEASURES CLASSIFIER() AS lbl
          ALL ROWS PER MATCH WITH UNMATCHED ROWS
          PATTERN (A B)
          DEFINE A AS et = 'a', B AS et = 'b'
        )
        """
    )
    rows = df.collect()
    assert len(rows) == 4  # 2 matched + 2 unmatched pass-through
    matched = [r for r in rows if r.match_no is not None]
    unmatched = [r for r in rows if r.match_no is None]
    assert sorted(r.lbl for r in matched) == ["A", "B"]
    assert len(unmatched) == 2 and all(r.lbl is None for r in unmatched)


def test_subset_union_variables(spark, engine):
    spark.sql(
        "SELECT * FROM VALUES (1, 1, 'a'), (1, 2, 'b'), (1, 3, 'b'), (1, 4, 'c'), "
        "(1, 5, 'a'), (1, 6, 'b'), (1, 7, 'c') AS t(k, seq, et)"
    ).createOrReplaceTempView("mr_sub")
    df = engine.sql(
        """
        SELECT * FROM mr_sub MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY seq
          MEASURES COUNT(*) AS n, COUNT(S.*) AS n_ends, COUNT(B.*) AS n_mid
          PATTERN (A B+ C)
          SUBSET S = (A, C)
          DEFINE A AS et = 'a', B AS et = 'b', C AS et = 'c'
        ) ORDER BY match_no
        """
    )
    rows = df.collect()
    assert [(r.n, r.n_ends, r.n_mid) for r in rows] == [(4, 2, 2), (3, 2, 1)]


def test_skip_to_last_subset(spark, engine):
    # SKIP TO LAST S where S = (B, C): resume at the last B-or-C row
    spark.sql(
        "SELECT * FROM VALUES (1, 1, 'a'), (1, 2, 'b'), (1, 3, 'c'), (1, 4, 'b'), (1, 5, 'c') "
        "AS t(k, seq, et)"
    ).createOrReplaceTempView("mr_sk")
    df = engine.sql(
        """
        SELECT * FROM mr_sk MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY seq
          MEASURES FIRST(seq) AS s0, LAST(seq) AS s1
          AFTER MATCH SKIP TO LAST S
          PATTERN ((A | B) C)
          SUBSET S = (B, C)
          DEFINE A AS et = 'a', B AS et = 'b', C AS et = 'c'
        ) ORDER BY match_no
        """
    )
    rows = [(r.s0, r.s1) for r in df.collect()]
    # match 1: rows 2-3 (b c)? pattern (A|B) C: row1 'a' + row2 'b'? C needs 'c':
    # (a)(b)? no: (A|B)=row1 a, C=row2 b -> fails; backtrack: rows (2,3) = (B)(C).
    # SKIP TO LAST S -> resume at row 3 ('c'): (B|A)? 'c' no -> advance; rows (4,5) = (B)(C).
    assert rows == [(2, 3), (4, 5)]


class TestAggregateMeasures:
    """SUM/AVG/MIN/MAX measures over pattern-variable rows."""

    def _df(self, spark):
        rows = [
            (1, 1, "a", 10.0), (1, 2, "a", 20.0), (1, 3, "b", 5.0),
            (1, 4, "a", 30.0), (1, 5, "b", 7.0),
        ]
        return spark.createDataFrame(rows, "uid: int, seq: int, kind: string, value: double")

    def test_label_qualified_aggs(self, spark, sf_dir):
        from trino_spark.dialect import TrinoEngine

        eng = TrinoEngine(spark, sf_dir=sf_dir)
        self._df(spark).createOrReplaceTempView("agg_mr_t")
        out = eng.sql(
            """
            SELECT uid, sum_a, avg_a, min_a, max_a, sum_all
            FROM agg_mr_t MATCH_RECOGNIZE (
              PARTITION BY uid ORDER BY seq
              MEASURES SUM(A.value) AS sum_a, AVG(A.value) AS avg_a,
                       MIN(A.value) AS min_a, MAX(A.value) AS max_a,
                       SUM(value) AS sum_all
              ONE ROW PER MATCH
              AFTER MATCH SKIP PAST LAST ROW
              PATTERN (A+ B)
              DEFINE A AS kind = 'a', B AS kind = 'b'
            ) ORDER BY uid, sum_a
            """
        ).collect()
        assert len(out) == 2
        first = out[0]  # A rows: 10, 20 then B 5
        assert first.sum_a == 30.0 and first.avg_a == 15.0
        assert first.min_a == 10.0 and first.max_a == 20.0
        assert first.sum_all == 35.0  # includes the B row
        second = out[1]  # A row: 30 then B 7
        assert second.sum_a == 30.0 and second.sum_all == 37.0

    def test_aggregate_in_define_rejected(self, spark, sf_dir):
        import pytest as _pytest

        from trino_spark.dialect import TrinoEngine

        eng = TrinoEngine(spark, sf_dir=sf_dir)
        self._df(spark).createOrReplaceTempView("agg_mr_t2")
        with _pytest.raises(Exception, match="MEASURES only"):
            eng.sql(
                """
                SELECT * FROM agg_mr_t2 MATCH_RECOGNIZE (
                  PARTITION BY uid ORDER BY seq
                  MEASURES COUNT(*) AS n
                  ONE ROW PER MATCH
                  PATTERN (A+)
                  DEFINE A AS SUM(value) < 100
                ) 
                """
            ).collect()


class TestPatternWindow:
    """Round-6: row-pattern recognition in WINDOW (docs
    pattern-recognition-in-window.md) — per-row anchored matches,
    FINAL measures, NULL for unmatched rows, input cardinality kept."""

    @pytest.fixture()
    def eng(self, spark):
        from trino_spark.dialect.engine import TrinoEngine

        df = spark.createDataFrame(
            [(1, 1, 100.0), (1, 2, 90.0), (1, 3, 80.0), (1, 4, 120.0),
             (2, 1, 50.0), (2, 2, 60.0)],
            "cust int, seq int, price double",
        )
        df.createOrReplaceTempView("pw_t")
        return TrinoEngine(spark, "/root/testdata/sf0.001")

    def test_anchored_runs(self, eng):
        rows = eng.sql(
            "SELECT cust, seq, run_len OVER w AS rl, bottom OVER w AS b"
            " FROM pw_t WINDOW w AS ("
            "  PARTITION BY cust ORDER BY seq"
            "  MEASURES count(*) AS run_len, LAST(price) AS bottom"
            "  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
            "  PATTERN (A B*) DEFINE B AS price < PREV(price)"
            ") ORDER BY cust, seq"
        ).collect()
        assert [(r.cust, r.seq, r.rl, r.b) for r in rows] == [
            (1, 1, 3, 80.0), (1, 2, 2, 80.0), (1, 3, 1, 80.0),
            (1, 4, 1, 120.0), (2, 1, 1, 50.0), (2, 2, 1, 60.0),
        ]

    def test_unmatched_rows_null_and_classifier(self, eng):
        rows = eng.sql(
            "SELECT seq, v OVER w AS v, lbl OVER w AS lbl FROM pw_t"
            " WHERE cust = 1 WINDOW w AS ("
            "  PARTITION BY cust ORDER BY seq"
            "  MEASURES RUNNING LAST(price) AS v, CLASSIFIER() AS lbl"
            "  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
            "  PATTERN (A B+) DEFINE B AS price < PREV(price)"
            ") ORDER BY seq"
        ).collect()
        assert [(r.seq, r.v, r.lbl) for r in rows] == [
            (1, 80.0, "B"), (2, 80.0, "B"), (3, None, None), (4, None, None),
        ]

    def test_plain_window_clause_stays_native(self, eng):
        rows = eng.sql(
            "SELECT seq, sum(price) OVER w AS s FROM pw_t WHERE cust = 2"
            " WINDOW w AS (PARTITION BY cust ORDER BY seq)"
            " ORDER BY seq"
        ).collect()
        assert [(r.seq, r.s) for r in rows] == [(1, 50.0), (2, 110.0)]

    def test_bad_frame_rejected(self, eng):
        with pytest.raises(Exception, match="frame"):
            eng.sql(
                "SELECT m OVER w FROM pw_t WINDOW w AS ("
                " ORDER BY seq MEASURES count(*) AS m"
                " ROWS BETWEEN 1 PRECEDING AND CURRENT ROW"
                " PATTERN (A) DEFINE A AS true)"
            )

    def test_seek_mode(self, eng):
        # r7: SEEK (docs pattern-recognition-in-window.md) — where INITIAL
        # returns NULL because the pattern does not match AT the row, SEEK
        # finds the first match starting later in the frame. cust=1 prices
        # are 100, 90, 80, 120, 110 (seq 1..5): B AS price < PREV(price)
        # with PATTERN (B B) matches only at seq=2 (90>80? rows 2,3 both
        # descending). INITIAL: non-NULL only at seq 2; SEEK: rows 1-2 see
        # the seq-2 match, rows 3-5 have none ahead.
        init = eng.sql(
            "SELECT seq, m OVER w AS m FROM pw_t WHERE cust = 1"
            " WINDOW w AS (PARTITION BY cust ORDER BY seq"
            "  MEASURES FIRST(seq) AS m"
            "  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
            "  INITIAL PATTERN (B B) DEFINE B AS price < PREV(price))"
            " ORDER BY seq"
        ).collect()
        seek = eng.sql(
            "SELECT seq, m OVER w AS m FROM pw_t WHERE cust = 1"
            " WINDOW w AS (PARTITION BY cust ORDER BY seq"
            "  MEASURES FIRST(seq) AS m"
            "  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
            "  SEEK PATTERN (B B) DEFINE B AS price < PREV(price))"
            " ORDER BY seq"
        ).collect()
        init_m = [(r.seq, r.m) for r in init]
        seek_m = [(r.seq, r.m) for r in seek]
        # SEEK must agree with INITIAL wherever INITIAL matched, and fill
        # earlier rows with the next match's measures
        assert all(m is None or (s, m) in seek_m for s, m in init_m)
        matched = [s for s, m in init_m if m is not None]
        if matched:
            first = min(matched)
            for s, m in seek_m:
                if s <= first:
                    assert m == first, (s, m, seek_m)

    def test_window_function_calls_over_pattern_window(self, eng):
        rows = eng.sql(
            "SELECT seq, sum(price) OVER w AS s, count(*) OVER w AS c"
            " FROM pw_t WHERE cust = 1 WINDOW w AS ("
            "  PARTITION BY cust ORDER BY seq"
            "  MEASURES LAST(price) AS bottom"
            "  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
            "  PATTERN (A B*) DEFINE B AS price < PREV(price)"
            ") ORDER BY seq"
        ).collect()
        assert [(r.seq, r.s, r.c) for r in rows] == [
            (1, 270.0, 3), (2, 170.0, 2), (3, 80.0, 1), (4, 120.0, 1),
        ]


_TICKS = (
    "SELECT * FROM VALUES (1, 1, 10.0), (1, 2, 8.0), (1, 3, 6.0), "
    "(1, 4, 9.0), (1, 5, 12.0), (1, 6, 7.0) AS t(k, seq, price)"
)
_ONE_RUN = (
    "MATCH_RECOGNIZE (PARTITION BY k ORDER BY seq MEASURES COUNT(*) AS n"
    " PATTERN (A+) DEFINE A AS {})"
)
_RUNS = (
    "WINDOW w AS (PARTITION BY k ORDER BY seq MEASURES count(*) AS n"
    " ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
    " PATTERN (A B*) DEFINE B AS price < PREV(price))"
)


@pytest.fixture()
def ticks(spark, engine):
    spark.sql(_TICKS).createOrReplaceTempView("mr_ticks")
    return engine


class TestClauseFromTokens:
    """The clause and its input are read from the statement's tokens: any
    FROM item in front of MATCH_RECOGNIZE, and never text in a literal or
    a comment."""

    @pytest.mark.parametrize(
        "source",
        ["mr_ticks AS t", "mr_ticks t", '"mr_ticks"', "(SELECT * FROM mr_ticks)",
         "(SELECT * FROM mr_ticks WHERE seq > 0) AS s"],
    )
    def test_source_forms(self, ticks, source):
        rows = ticks.sql(f"SELECT n FROM {source} {_ONE_RUN.format('true')}").collect()
        assert [r.n for r in rows] == [6]

    def test_literal_spelling_a_clause_is_a_literal(self, ticks):
        sql = "SELECT * FROM mr_ticks " + _ONE_RUN.format("'x ALL ROWS PER MATCH' <> 'y'")
        assert [(r.k, r.n) for r in ticks.sql(sql).collect()] == [(1, 6)]

    def test_empty_string_literal(self, ticks):
        rows = ticks.sql("SELECT n FROM mr_ticks " + _ONE_RUN.format("'x' <> ''")).collect()
        assert [r.n for r in rows] == [6]

    def test_python_operator_rejected(self, ticks):
        with pytest.raises(ValueError, match="cannot parse"):
            ticks.sql("SELECT n FROM mr_ticks " + _ONE_RUN.format("price ** 2 > 50"))

    @pytest.mark.parametrize(
        "cond, runs",
        [
            ("price > 7 AND (price < 9 OR price > 11)", [1, 1]),
            ("NOT (price < PREV(price))", [2]),
        ],
    )
    def test_parenthesised_boolean_operand(self, ticks, cond, runs):
        rows = ticks.sql("SELECT n FROM mr_ticks " + _ONE_RUN.format(cond)).collect()
        assert [r.n for r in rows] == runs

    def test_lower_case_keywords(self, ticks):
        rows = ticks.sql(
            "select n from mr_ticks match_recognize (partition by k order by seq"
            " measures count(*) as n pattern (A+) define A as price > 0)"
        ).collect()
        assert [r.n for r in rows] == [6]

    @pytest.mark.parametrize(
        "sql",
        [
            "SELECT 'see MATCH_RECOGNIZE (x)' AS s FROM region",
            "SELECT 1 AS s /* MATCH_RECOGNIZE ( */ FROM region",
            "SELECT 'a WINDOW w AS (' AS s, 'PATTERN (' AS p FROM region",
            "SELECT 'FROM x, JSON_TABLE(' AS s FROM region",
        ],
    )
    def test_clause_words_in_literals_and_comments(self, engine, sql):
        assert engine.sql(sql).count() == 5

    def test_pattern_window_leaves_literals(self, ticks):
        rows = ticks.sql(
            f"SELECT seq, n OVER w AS n, 'n OVER w' AS lit FROM mr_ticks {_RUNS} ORDER BY seq"
        ).collect()
        assert [r.n for r in rows] == [3, 2, 1, 1, 2, 1]
        assert {r.lit for r in rows} == {"n OVER w"}


def test_row_filter_applies_to_the_input(spark, sf_dir):
    """Under a role with a row filter, the clause's input (read through a
    nested engine.sql) sees only the filtered rows, in both forms."""
    from trino_spark.dialect import access

    spark.sql(_TICKS).createOrReplaceTempView("mr_ticks")
    eng = TrinoEngine(spark, sf_dir)
    eng.sql("CREATE ROLE mr_reader")
    eng.sql("GRANT SELECT ON mr_ticks TO ROLE mr_reader")
    access.add_row_filter(eng, "mr_reader", "mr_ticks", "seq <= 3")
    eng.sql("SET ROLE mr_reader")
    try:
        rows = eng.sql("SELECT n FROM mr_ticks " + _ONE_RUN.format("true")).collect()
        assert [r.n for r in rows] == [3]
        rows = eng.sql(f"SELECT seq, n OVER w AS n FROM mr_ticks {_RUNS} ORDER BY seq").collect()
        assert [(r.seq, r.n) for r in rows] == [(1, 3), (2, 2), (3, 1)]
    finally:
        eng.sql("SET ROLE NONE")


def test_result_view_is_dropped(spark, sf_dir, monkeypatch):
    """The temp view that holds a clause's result lives only while its
    statement is built: it is not left in the session, and a later role
    with no grants cannot read it."""
    import uuid

    from trino_spark.dialect import relations

    spark.sql(_TICKS).createOrReplaceTempView("mr_ticks")
    eng = TrinoEngine(spark, sf_dir)
    monkeypatch.setattr(relations.uuid, "uuid4", lambda: uuid.UUID(int=0))
    rows = eng.sql("SELECT n FROM mr_ticks " + _ONE_RUN.format("true")).collect()
    assert [r.n for r in rows] == [6]
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("__rel_")]
    eng.sql("CREATE ROLE mr_nobody")
    eng.sql("SET ROLE mr_nobody")
    try:
        with pytest.raises(Exception, match="__rel_00000000"):
            eng.sql("SELECT * FROM __rel_00000000").collect()
    finally:
        eng.sql("SET ROLE NONE")
