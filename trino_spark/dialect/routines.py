"""SQL routines: CREATE FUNCTION ... RETURN <expr> as macro expansion.

Reference: Trino's SQL UDFs (docs/src/main/sphinx/udf/sql.md) are analyzed
by core/trino-main/.../sql/routine/SqlRoutineAnalyzer.java and compiled to
bytecode by SqlRoutineCompiler.java:108. For the expression-bodied form
(`RETURN expr`, the overwhelmingly common case) the reference inlines the
expression into the caller's plan (SqlRoutinePlanner.java) — which is
exactly what we do, at the token level, BEFORE dialect translation, so the
body may use Trino-dialect constructs. The inlined expression then flows
through Catalyst like any other (codegen, pushdown, constant folding) —
a routine call costs nothing at scale, unlike an opaque Python UDF.

Control-flow bodies (BEGIN/IF/LOOP — grammar SqlBase.g4:1104) compile via
dialect/routine_body.py: straight-line and IF/RETURN bodies collapse to a
single inlinable expression (stays on this macro path), loop bodies become
a per-row Python callable surfaced as `PythonRoutine` — the engine
registers it as a Spark UDF. `CREATE FUNCTION ... LANGUAGE PYTHON ...
AS $$...$$` (reference: plugin/trino-functions-python/.../PythonEngine.java)
also yields a PythonRoutine, executing the user's handler.
"""

from __future__ import annotations

import decimal
import functools
import re as _re
from collections.abc import Callable
from dataclasses import dataclass

from trino_spark.dialect.tokenizer import Tok, head, lead, match_paren, next_code, render, split_args, tokenize
from trino_spark.dialect.types import spark_type

_MAX_EXPANSION_DEPTH = 10


@dataclass(frozen=True)
class Routine:
    name: str  # upper-cased, unqualified
    params: tuple[str, ...]  # upper-cased parameter names, in order
    body: tuple[Tok, ...]  # RETURN expression tokens (untranslated dialect)


@dataclass(frozen=True)
class PythonRoutine:
    """A routine that must execute as a Spark UDF (loops / LANGUAGE PYTHON)."""

    name: str
    params: tuple[str, ...]
    fn: Callable
    returns: str  # Spark SQL type string, e.g. "bigint"


def _decimal_result(fn: Callable, unit: decimal.Decimal, *args):
    """The interpreter computes a DECIMAL as a float (routine_body._CAST):
    round its result half up to the declared scale, as a cast does."""
    v = fn(*args)
    return None if v is None else decimal.Decimal(repr(v)).quantize(unit, decimal.ROUND_HALF_UP)


def parse_create_function(sql: str) -> Routine | PythonRoutine | None:
    """Parse CREATE [OR REPLACE] FUNCTION name(p type, ...) RETURNS type
    [characteristics] (RETURN expr | BEGIN ... END | LANGUAGE PYTHON ...
    AS $$...$$). Returns None if `sql` is not a CREATE FUNCTION statement.

    Expression bodies (and BEGIN bodies that reduce to one — see
    routine_body.compile_to_expression) come back as macro `Routine`s;
    loop bodies and Python functions come back as `PythonRoutine`s."""
    toks = tokenize(sql)
    words = head(toks)
    if words[:2] != ["CREATE", "FUNCTION"] and words[:4] != ["CREATE", "OR", "REPLACE", "FUNCTION"]:
        return None
    name, j = _routine_name(toks, words.index("FUNCTION") + 1)

    if j >= len(toks) or not toks[j].is_sym("("):
        raise ValueError(f"CREATE FUNCTION {name}: expected parameter list")
    close = match_paren(toks, j)
    params = tuple(
        toks[next_code(toks, s)].text.upper() for s, _ in split_args(toks, j, close)
    )

    # Capture RETURNS type, then scan characteristics until the body form.
    returns = "string"
    k = next_code(toks, close + 1)
    if k < len(toks) and toks[k].is_word("RETURNS"):
        k = next_code(toks, k + 1)
        end = next_code(toks, k + 1)
        end = match_paren(toks, end) + 1 if end < len(toks) and toks[end].is_sym("(") else k + 1
        returns = spark_type(render(toks[k:end]))
    language_python = False
    while k < len(toks) and not toks[k].is_word("RETURN", "BEGIN", "AS"):
        if toks[k].is_word("LANGUAGE"):
            k = next_code(toks, k + 1)
            language_python = toks[k].text.upper() == "PYTHON"
        k += 1

    if language_python:
        # reference: plugin/trino-functions-python — body in $$..$$, handler
        # from WITH (handler = '...') or the single def in the body.
        m = _re.search(r"\$\$(.*)\$\$", sql, _re.DOTALL)
        if m is None:
            raise ValueError(f"CREATE FUNCTION {name}: LANGUAGE PYTHON requires AS $$...$$")
        code = m.group(1)
        h = _re.search(r"handler\s*=\s*'([^']+)'", sql, _re.IGNORECASE)
        ns: dict = {}
        exec(code, ns)  # user-supplied UDF body, same trust model as the reference
        if h is not None:
            fn = ns[h.group(1)]
        else:
            import inspect

            defs = [
                v for v in ns.values()
                if inspect.isfunction(v) and v.__globals__ is ns  # defined in the body
            ]
            if len(defs) != 1:
                raise ValueError(
                    f"CREATE FUNCTION {name}: ambiguous handler — use WITH (handler = '...')"
                )
            fn = defs[0]
        return PythonRoutine(name=name, params=params, fn=fn, returns=returns)

    if k < len(toks) and toks[k].is_word("BEGIN"):
        from trino_spark.dialect import routine_body as rb

        stmts = rb.parse_begin_body(toks, k)
        expr = rb.compile_to_expression(stmts)
        if expr is not None:
            return Routine(name=name, params=params, body=expr)
        fn = rb.compile_interpreter(stmts, params)
        if returns.startswith("decimal"):
            scale = int((_re.findall(r",\s*(\d+)", returns) or [0])[0])
            fn = functools.partial(_decimal_result, fn, decimal.Decimal(1).scaleb(-scale))
        return PythonRoutine(name=name, params=params, fn=fn, returns=returns)

    if k >= len(toks) or not toks[k].is_word("RETURN"):
        raise ValueError(f"CREATE FUNCTION {name}: missing RETURN expression")

    body = [t for t in toks[k + 1 :]]
    # trim trailing whitespace/semicolon
    while body and (body[-1].kind == "WS" or body[-1].is_sym(";")):
        body.pop()
    if not body:
        raise ValueError(f"CREATE FUNCTION {name}: empty RETURN expression")
    return Routine(name=name, params=params, body=tuple(body))


def parse_drop_function(sql: str) -> str | None:
    """DROP FUNCTION [IF EXISTS] name -> upper-cased name, else None."""
    toks = tokenize(sql)
    words = head(toks)
    if words[:2] != ["DROP", "FUNCTION"]:
        return None
    return _routine_name(toks, 4 if words[2:4] == ["IF", "EXISTS"] else 2)[0]


def _routine_name(toks: list[Tok], skip: int) -> tuple[str, int]:
    """The upper-cased routine name after the statement's first `skip`
    words (of catalog.schema.name, the last part), and the index of the
    token after it."""
    i = lead(toks)
    for _ in range(skip):
        i = next_code(toks, i + 1)
    name = toks[i].text
    j = next_code(toks, i + 1)
    while j < len(toks) and toks[j].is_sym("."):
        j = next_code(toks, j + 1)
        name = toks[j].text
        j = next_code(toks, j + 1)
    return name.upper(), j


def expand(sql: str, routines: dict[str, Routine]) -> str:
    """Inline every registered routine call in `sql` (innermost-last via
    fixpoint iteration, bounded to catch recursive definitions)."""
    if not routines:
        return sql
    for _ in range(_MAX_EXPANSION_DEPTH):
        toks = tokenize(sql)
        out: list[Tok] = []
        i = 0
        changed = False
        while i < len(toks):
            t = toks[i]
            nxt = next_code(toks, i + 1)
            if (
                t.kind == "WORD"
                and t.text.upper() in routines
                and nxt < len(toks)
                and toks[nxt].is_sym("(")
            ):
                r = routines[t.text.upper()]
                close = match_paren(toks, nxt)
                spans = split_args(toks, nxt, close)
                if len(spans) != len(r.params):
                    raise ValueError(
                        f"function {r.name} expects {len(r.params)} arguments, got {len(spans)}"
                    )
                args = {
                    p: toks[s:e] for p, (s, e) in zip(r.params, spans)
                }
                out.append(Tok("SYM", "("))
                for bt in r.body:
                    if bt.kind == "WORD" and bt.text.upper() in args:
                        out.append(Tok("SYM", "("))
                        out.extend(args[bt.text.upper()])
                        out.append(Tok("SYM", ")"))
                    else:
                        out.append(bt)
                out.append(Tok("SYM", ")"))
                i = close + 1
                changed = True
            else:
                out.append(t)
                i += 1
        sql = render(out)
        if not changed:
            return sql
    raise ValueError("routine expansion did not converge (recursive definition?)")
