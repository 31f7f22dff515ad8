"""MATCH_RECOGNIZE and WINDOW ... PATTERN clauses → operators/match_recognize.

Reference: grammar SqlBase.g4:448 (patternRecognition) and the row-pattern
analyzer under core/trino-main/.../sql/analyzer/. A clause is read from the
statement's tokens (relations.clause finds it), its input relation runs
through a nested engine.sql (so resolution, access checks and row filters
apply to it), and the result replaces the clause and its input
(relations.substitute).

Supported subset (documented; the operator itself supports more via the
Python API):
- the input: a table name (qualified, quoted, aliased) or a parenthesised
  subquery in front of MATCH_RECOGNIZE; a pattern window reads its
  block's FROM ... WINDOW span
- PARTITION BY cols, ORDER BY cols (ASC only)
- MEASURES [RUNNING|FINAL] <expr> AS name: exprs over FIRST(col),
  LAST(col), bare col (= LAST at match end), COUNT(*), COUNT(L.*),
  SUM/AVG/MIN/MAX(col | L.col), CLASSIFIER(), literals and
  arithmetic/comparison combinations thereof
- ONE ROW PER MATCH | ALL ROWS PER MATCH [WITH UNMATCHED ROWS]
- AFTER MATCH SKIP PAST LAST ROW | TO NEXT ROW | TO [FIRST|LAST] <label>
- PATTERN (...) — whatever the operator's parser takes (concat/alt/
  quantifiers/PERMUTE)
- SUBSET S = (A, B): union variables, usable in COUNT(S.*) and
  AFTER MATCH SKIP TO [FIRST|LAST] S
- DEFINE label AS <cond>: conditions over bare columns (current row),
  PREV(col[, n]), NEXT(col[, n]), FIRST(col) (match start), literals,
  comparison/arithmetic/AND/OR/NOT. Label-qualified references (A.price)
  are not supported — use PREV/FIRST formulations.
- in a WINDOW: the frame ROWS BETWEEN CURRENT ROW AND UNBOUNDED
  FOLLOWING, INITIAL or SEEK, and `measure OVER w` or
  COUNT/SUM/AVG/MIN/MAX(...) OVER w in the select list

DEFINE/MEASURES compile to small Python closures: each token maps to one
Python fragment over the group's pandas slice, and any symbol outside
SQL's operators raises ValueError. Start-independent `col <cmp> literal`
conditions additionally compile to VECTORIZED chunk masks, which lets the
operator take its compiled-regex fast path — the sf0.1 funnel via SQL
dropped 2.8 s -> 1.6 s when every label vectorizes.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from trino_spark.dialect.tokenizer import (
    Reader, Tok, item, match_paren, next_code, open_paren, prev_code, render, split_args,
    structure,
)
from trino_spark.dialect.writes import unquote

# an expression's code tokens (no whitespace)
Expr = list[Tok]


@dataclass
class MRSpec:
    partition_by: list[str]
    order_by: list[str]
    measures: list[tuple[Expr, str]]  # (expression, name)
    rows_per_match: str
    after_match: str  # a SUBSET target of SKIP TO spelled as its labels, A|B
    pattern: str
    define: dict[str, Expr] = field(default_factory=dict)
    subsets: dict[str, list[str]] = field(default_factory=dict)
    seek: bool = False  # a pattern window's SEEK (else INITIAL)


# each clause's leading words -> its name, in the grammar's order; DEFINE,
# the last, runs to the end
_CLAUSES = {
    ("PARTITION", "BY"): "partition",
    ("ORDER", "BY"): "order",
    ("MEASURES",): "measures",
    ("ONE", "ROW", "PER", "MATCH"): "rows",
    ("ALL", "ROWS", "PER", "MATCH"): "rows",
    ("AFTER", "MATCH"): "after",
    ("ROWS", "BETWEEN"): "frame",
    ("INITIAL", "PATTERN"): "pattern",
    ("SEEK", "PATTERN"): "seek",
    ("PATTERN",): "pattern",
    ("SUBSET",): "subset",
    ("DEFINE",): "define",
}
_ALL = "ALL ROWS PER MATCH"
_ROWS = {
    "ONE ROW PER MATCH": "one",
    _ALL: "all",
    f"{_ALL} SHOW EMPTY MATCHES": "all",
    f"{_ALL} OMIT EMPTY MATCHES": "all",
    f"{_ALL} WITH UNMATCHED ROWS": "all_with_unmatched",
}
_AFTER = {
    "AFTER MATCH SKIP PAST LAST ROW": "past_last",
    "AFTER MATCH SKIP TO NEXT ROW": "next_row",
}
_FRAME = "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"


def parse_spec(toks: list[Tok], window: bool = False) -> MRSpec:
    """Read the tokens inside MATCH_RECOGNIZE ( ... ), or inside a pattern
    window's ( ... ) when `window`."""
    r = Reader(toks)
    words = [toks[j].text.upper() for j in r.top]
    starts: list[tuple[str, int, int]] = []  # (clause, its first word, past its keywords)
    x = 0
    while x < len(words) and not (starts and starts[-1][0] == "define"):
        key = next((k for k in _CLAUSES if tuple(words[x : x + len(k)]) == k), None)
        if key is None and not starts:
            raise r.error("MATCH_RECOGNIZE")
        if key is not None:
            starts.append((_CLAUSES[key], r.top[x], r.top[x + len(key) - 1] + 1))
        x += len(key) if key else 1
    ends = [s[1] for s in starts[1:]] + [r.n]
    span = {name: (a, b, z) for (name, a, b), z in zip(starts, ends)}

    def code(name: str) -> Expr:  # the clause's code tokens, its keywords included
        return [t for t in toks[span[name][0] : span[name][2]] if t.kind != "WS"]

    def said(name: str) -> str:
        return " ".join(t.text.upper() for t in code(name))

    def items(name: str) -> list[Expr]:  # the clause's comma-separated items
        if name not in span:
            return []
        return [[t for t in toks[a:z] if t.kind != "WS"] for a, z in r.split(",", *span[name][1:])]

    def column(c: Expr) -> str:
        if len(c) != 1 or c[0].kind not in ("WORD", "QIDENT"):
            raise ValueError(f"MATCH_RECOGNIZE partitions and orders by columns: {render(c)}")
        return _name(c[0])

    if not window and {"frame", "seek"} & span.keys():
        raise ValueError("MATCH_RECOGNIZE takes no window frame or SEEK")
    if "frame" in span and said("frame") != _FRAME:
        raise ValueError(f"pattern window frame must be {_FRAME} (the reference's requirement)")
    pat = "seek" if "seek" in span else "pattern"
    o = r.next(span[pat][1]) if pat in span else r.n
    if not r.is_(o, "("):
        raise ValueError("MATCH_RECOGNIZE requires PATTERN (...)")
    if r.next(match_paren(toks, o) + 1) < span[pat][2]:
        raise r.error("PATTERN")

    measures = []
    for m in items("measures"):
        if len(m) < 3 or not m[-2].is_word("AS") or m[-1].kind not in ("WORD", "QIDENT"):
            raise ValueError(f"MEASURES item needs AS name: {render(m)}")
        # RUNNING/FINAL: measures evaluate at the match's LAST row (ONE ROW
        # PER MATCH / window form), where the two coincide
        expr = m[1:-2] if m[0].is_word("RUNNING", "FINAL") else m[:-2]
        measures.append((expr, _name(m[-1])))
    define = {}
    for d in items("define"):
        if len(d) < 3 or d[0].kind != "WORD" or not d[1].is_word("AS"):
            raise ValueError(f"DEFINE item needs `label AS cond`: {render(d)}")
        define[d[0].text] = d[2:]
    # SUBSET S = (A, B), T = (C, D): union pattern variables (grammar
    # SqlBase.g4 subsetDefinition) usable in COUNT(S.*) and SKIP TO S.
    subsets = {}
    for s in items("subset"):
        if len(s) < 4 or s[0].kind != "WORD" or not s[1].is_sym("=") or not s[-1].is_sym(")"):
            raise ValueError(f"SUBSET item needs `name = (labels)`: {render(s)}")
        subsets[s[0].text] = [t.text for t in s[3:-1] if t.kind == "WORD"]
    rows = _ROWS.get(said("rows")) if "rows" in span else "one"
    after = _AFTER.get(said("after")) if "after" in span else "past_last"
    words = said("after").split() if "after" in span else []
    if words[2:4] == ["SKIP", "TO"] and len(words) == 6 and words[4] in ("FIRST", "LAST"):
        # SKIP TO [FIRST|LAST] label, a SUBSET name standing for its labels
        label = code("after")[-1].text
        after = f"to_{words[4].lower()}:" + "|".join(subsets.get(label, [label]))
    if rows is None or after is None:
        raise ValueError(f"unsupported clause: {said('rows' if rows is None else 'after')}")
    order_by = []
    for c in items("order"):
        if c and c[-1].is_word("DESC"):
            raise ValueError("ORDER BY DESC not supported in MATCH_RECOGNIZE subset")
        order_by.append(column(c[:-1] if c and c[-1].is_word("ASC") else c))
    return MRSpec(
        partition_by=[column(c) for c in items("partition")],
        order_by=order_by,
        measures=measures,
        rows_per_match=rows,
        after_match=after,
        pattern=render(toks[o + 1 : match_paren(toks, o)]).strip(),
        define=define,
        subsets=subsets,
        seek=pat == "seek",
    )


# ------------------------------------------------------- expression compiler

# SQL's operators and their Python spelling; any other symbol is refused
_OPS = {
    "=": "==",
    "<>": "!=",
    "!=": "!=",
    "<": "<",
    ">": ">",
    "<=": "<=",
    ">=": ">=",
    "+": "+",
    "-": "-",
    "*": "*",
    "/": "/",
    "%": "%",
    "(": "(",
    ")": ")",
}
_WORDS = {
    "AND": "and",
    "OR": "or",
    "NOT": "not",
    "TRUE": "True",
    "FALSE": "False",
    "NULL": "None",
}


def _pyify(expr: Expr, measure: bool) -> str:
    """SQL tokens -> a Python expression over the closures' helpers, one
    fragment per token, joined by spaces (so `**` stays two operators).

    DEFINE (not `measure`): bare col = current row; PREV/NEXT/FIRST.
    MEASURES: bare col = last matched row; FIRST/LAST/COUNT/CLASSIFIER and
    SUM/AVG/MIN/MAX."""
    out: list[str] = []
    i = 0
    while i < len(expr):
        t, nxt = expr[i], expr[i + 1] if i + 1 < len(expr) else Tok("WS", "")
        up = t.text.upper()
        if t.kind == "WORD" and up not in _WORDS and nxt.is_sym("("):
            close = match_paren(expr, i + 1)
            out.append(_call(up, [expr[a:b] for a, b in split_args(expr, i + 1, close)], measure))
            i = close
        elif t.kind in ("WORD", "QIDENT") and nxt.is_sym("."):
            raise ValueError(
                f"label-qualified reference not supported: {render(expr[i : i + 3])} "
                "(use PREV/FIRST/LAST formulations)"
            )
        elif t.kind == "STR" and t.text.startswith("'"):
            out.append(repr(unquote(t)))
        elif t.kind == "NUM":
            out.append(t.text)
        elif t.kind == "WORD" and up in _WORDS:
            out.append(_WORDS[up])
        elif t.kind in ("WORD", "QIDENT"):
            out.append(f"_bare({_name(t)!r})")
        elif t.kind == "SYM" and t.text in _OPS:
            out.append(_OPS[t.text])
        else:
            raise ValueError(f"unsupported symbol in a row pattern expression: {t.text}")
        i += 1
    return " ".join(out)


def _call(f: str, args: list[Expr], measure: bool) -> str:
    """One function call of a DEFINE or MEASURES expression."""
    arg = args[0] if len(args) == 1 else []
    col = _name(arg[-1]) if arg else ""
    label = arg[0].text if len(arg) == 3 and arg[1].is_sym(".") else None
    if f == "CLASSIFIER":
        return "_classifier()"
    if f == "COUNT":
        if not args or (len(arg) == 1 and arg[0].is_sym("*")):
            return "_count()"
        if label is None or col != "*":
            raise ValueError(f"COUNT supports * or label.*, got: {render(sum(args, []))}")
        return f"_count_label({label!r})"
    if f in ("SUM", "AVG", "MIN", "MAX"):
        # Aggregate measures over the match's rows, optionally
        # label-qualified: SUM(x) / SUM(A.x) (reference: row-pattern
        # aggregations, MeasureComputation.java). MEASURES only.
        if not measure:
            raise ValueError(f"{f}() is not supported in DEFINE — MEASURES only")
        if not (len(arg) == 1 or label):
            raise ValueError(f"{f} expects col or label.col, got: {render(sum(args, []))}")
        return f"_agg({f.lower()!r}, {label!r}, {col!r})"
    if f in ("PREV", "NEXT", "FIRST", "LAST"):
        if not args or len(args[0]) != 1 or args[0][0].kind not in ("WORD", "QIDENT"):
            raise ValueError(f"{f} expects a bare column, got: {render(sum(args, []))}")
        n = int(args[1][0].text) if len(args) > 1 and len(args[1]) == 1 else 1
        return f"_{f.lower()}({_name(args[0][0])!r}, {n})"
    raise ValueError(f"unsupported function in a row pattern expression: {f}")


def _name(t: Tok) -> str:
    return t.text.strip('"')


def _compile(expr: Expr, measure: bool):
    try:
        return compile(_pyify(expr, measure), "<measure>" if measure else "<define>", "eval")
    except SyntaxError as exc:
        text = " ".join(t.text for t in expr)
        raise ValueError(f"cannot parse row pattern expression: {text}") from exc


def compile_define(cond: Expr):
    code = _compile(cond, measure=False)

    def fn(g, i: int, start: int) -> bool:
        def at(c, k):  # column c of row k of the partition, NULL outside it
            return g[c].iloc[k] if 0 <= k < len(g) else None

        env = {
            "_bare": lambda c: at(c, i),
            "_prev": lambda c, n=1: at(c, i - n),
            "_next": lambda c, n=1: at(c, i + n),
            "_first": lambda c, n=1: at(c, start),
            "_last": lambda c, n=1: at(c, i),
        }
        try:
            return bool(eval(code, {"__builtins__": {}}, env))
        except TypeError:  # comparison against a missing PREV/NEXT (None)
            return False

    return fn


_AGGS = {"sum": sum, "min": min, "max": max, "avg": lambda v: sum(v) / len(v)}


def compile_measure(expr: Expr, subsets: dict[str, list[str]] | None = None):
    code = _compile(expr, measure=True)
    subsets = subsets or {}

    def agg(sl, labels, kind: str, label: str | None, col: str):
        """SUM/AVG/MIN/MAX over the match's rows (label-filtered when
        qualified; SUBSET union variables expand). NULL-skipping like SQL
        aggregates; empty input -> NULL."""
        members = subsets.get(label, [label])
        vals = [
            v for v, lb in zip(sl[col], labels)
            if (label is None or lb in members) and v is not None and v == v
        ]
        return _AGGS[kind](vals) if vals else None

    def fn(sl, labels):
        env = {
            "_bare": lambda c: sl[c].iloc[-1],
            "_first": lambda c, n=1: sl[c].iloc[0],
            "_last": lambda c, n=1: sl[c].iloc[-1],
            "_prev": lambda c, n=1: sl[c].iloc[-1 - n] if len(sl) > n else None,
            "_next": lambda c, n=1: None,
            "_count": lambda: len(labels),
            "_count_label": lambda l: sum(x in subsets.get(l, [l]) for x in labels),
            "_classifier": lambda: labels[-1],
            "_agg": lambda kind, label, col: agg(sl, labels, kind, label, col),
        }
        return eval(code, {"__builtins__": {}}, env)

    return fn


def _measure_type(expr: Expr, schema: T.StructType) -> T.DataType:
    """Heuristic output typing for the supported measure grammar."""
    words = [t.text.upper() if t.kind == "WORD" else "" for t in expr]
    names = schema.fieldNames()
    if "CLASSIFIER" in words:
        return T.StringType()
    if "COUNT" in words:
        return T.LongType()
    if "AVG" in words:
        return T.DoubleType()

    def column(x: int) -> str | None:  # the column of the call f(col) or f(label.col) at x
        a = [_name(t) for t in expr[x + 2 : x + 5]]
        c = a[2] if a[1:2] == ["."] and len(a) > 2 else a[0] if a else None
        return c if c in names else None

    for fns in (("SUM", "MIN", "MAX"), ("FIRST", "LAST")):
        col = next((c for x, w in enumerate(words) if w in fns and (c := column(x))), None)
        if col is not None:
            dt = schema[col].dataType
            # SUM widens integral inputs (SQL aggregate typing).
            if "SUM" in words and isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
                return T.LongType()
            return dt
    if len(expr) == 1 and _name(expr[0]) in names:
        return schema[_name(expr[0])].dataType
    return T.DoubleType()


def compile_define_vectorized(cond: Expr):
    """Start-independent conditions of the form `col <cmp> literal`
    vectorize to one pandas comparison per Arrow chunk — this is what lets
    the operator take its compiled-regex fast path (no per-row Python).
    The condition's own compiled code runs with its column bound to the
    chunk's Series. Returns None when the condition is not of that shape."""
    neg = len(cond) == 4 and cond[2].is_sym("-")
    parts = cond[:2] + cond[3:] if neg else cond
    if not (
        len(parts) == 3
        and parts[0].kind == "WORD"
        and parts[0].text.upper() not in _WORDS
        and parts[1].text in ("=", "<>", "!=", "<", ">", "<=", ">=")
        and (parts[2].kind == "NUM" or (parts[2].kind == "STR" and not neg))
    ):
        return None
    code = _compile(cond, measure=False)
    return lambda pdf: eval(code, {"__builtins__": {}}, {"_bare": lambda c: pdf[c]})


def _compiled(spec: MRSpec, schema: T.StructType) -> tuple[dict, dict, list[T.StructField]]:
    """The operator's DEFINE and MEASURES closures and the measures' fields."""
    return (
        {l: compile_define(c) for l, c in spec.define.items()},
        {name: compile_measure(expr, spec.subsets) for expr, name in spec.measures},
        [T.StructField(name, _measure_type(expr, schema)) for expr, name in spec.measures],
    )


def execute(df: DataFrame, spec: MRSpec) -> DataFrame:
    from trino_spark.operators.match_recognize import match_recognize

    define, measures, fields = _compiled(spec, df.schema)
    keys = [df.schema[c] for c in spec.partition_by]
    vec = {l: v for l, c in spec.define.items() if (v := compile_define_vectorized(c)) is not None}
    return match_recognize(
        df,
        partition_by=spec.partition_by,
        order_by=spec.order_by,
        pattern=spec.pattern,
        define=define,
        measures=measures,
        output_schema=T.StructType([*keys, T.StructField("match_no", T.LongType()), *fields]),
        define_vectorized=vec or None,
        rows_per_match=spec.rows_per_match,
        after_match=spec.after_match,
    )


def read(engine, toks: list[Tok], i: int):
    """MATCH_RECOGNIZE at token i: its input, the FROM item in front of it,
    run through the operator; the result and the edit that puts it in
    place of both (relations.substitute). None for a word that opens no
    clause."""
    o = next_code(toks, i + 1)
    if o >= len(toks) or not toks[o].is_sym("("):
        return None
    close = match_paren(toks, o)
    p = prev_code(toks, i - 1)
    src = item(toks, structure(toks), p) if p >= 0 else None
    if src is None:
        raise ValueError("MATCH_RECOGNIZE: could not find source relation")
    df = engine.sql("SELECT * FROM " + render(toks[src[0] : src[1]]))
    return execute(df, parse_spec(toks[o + 1 : close])), [(src[0], close + 1, "{view}")]


# -------------------------------------------- pattern recognition in WINDOW


def read_window(engine, toks: list[Tok], i: int):
    """Row-pattern recognition in the WINDOW clause at token i (docs
    pattern-recognition-in-window.md; grammar windowSpecification with
    MEASURES/PATTERN), `SELECT m OVER w FROM t WINDOW w AS (PARTITION BY
    ... ORDER BY ... MEASURES ... AS m ROWS BETWEEN CURRENT ROW AND
    UNBOUNDED FOLLOWING PATTERN (...) DEFINE ...)`: the pattern runs
    anchored per row (INITIAL, or SEEK) on operators/match_recognize
    .pattern_window over the block's FROM ... WINDOW span. Returns the
    result with the edits that put it in place of that span and each
    `m OVER w` by its column; a window function call over the window,
    `sum(x) OVER w`, computes over the row's match as a synthesized
    measure. None for an ordinary window."""
    k = next_code(toks, i + 1)
    a = next_code(toks, k + 1)
    o = next_code(toks, a + 1)
    if o >= len(toks) or not (toks[a].is_word("AS") and toks[o].is_sym("(")):
        return None
    close = match_paren(toks, o)
    body = toks[o + 1 : close]
    if Reader(body).find("PATTERN", 0) >= len(body):
        return None  # an ordinary WINDOW clause
    after = next_code(toks, close + 1)
    if after < len(toks) and toks[after].is_sym(","):
        raise ValueError("only one pattern window per statement is supported")
    spec = parse_spec(body, window=True)
    st = structure(toks)
    b = st.block_of(i)
    if b is None or b.from_ < 0:
        raise ValueError("pattern window: could not locate FROM clause")
    wname = _name(toks[k]).upper()
    declared = {name.upper(): name for _, name in spec.measures}
    calls: dict[str, str] = {}  # a call over the window, spelled upper-case -> its measure
    edits = []
    for j in [*range(b.select, b.from_), *range(close + 1, b.tail_end)]:
        w = next_code(toks, j + 1)
        if not (toks[j].is_word("OVER") and w < len(toks) and _name(toks[w]).upper() == wname):
            continue
        p = prev_code(toks, j - 1)
        f = prev_code(toks, open_paren(st.depth, p) - 1) if toks[p].is_sym(")") else p
        if f == p and _name(toks[p]).upper() in declared:
            edits.append((p, w + 1, declared[_name(toks[p]).upper()]))
        elif f != p and toks[f].is_word("COUNT", "SUM", "AVG", "MIN", "MAX"):
            call = [t for t in toks[f : p + 1] if t.kind != "WS"]
            key = "".join(t.text.upper() for t in call)
            if key not in calls:
                calls[key] = f"__pwagg_{len(calls)}"
                spec.measures.append((call, calls[key]))
            edits.append((f, w + 1, calls[key]))
        else:
            raise ValueError(
                "pattern window references must be declared measures or"
                " COUNT/SUM/AVG/MIN/MAX calls over the window"
            )
    if not spec.measures:
        raise ValueError("pattern window requires MEASURES")

    from trino_spark.operators.match_recognize import pattern_window

    # the input: the block's FROM ... WINDOW span (WHERE included), through
    # the engine so dialect SQL, resolution and security apply
    base = engine.sql("SELECT * FROM " + render(toks[b.from_ + 1 : i]))
    define, measures, fields = _compiled(spec, base.schema)
    out = pattern_window(
        base,
        partition_by=spec.partition_by,
        order_by=spec.order_by,
        pattern=spec.pattern,
        define=define,
        measures=measures,
        measure_fields=fields,
        mode="seek" if spec.seek else "initial",
    )
    return out, [*edits, (b.from_ + 1, close + 1, "{view}")]
