"""One resolution of a statement's relation names.

The reference resolves each table reference once, in
StatementAnalyzer.visitTable (main/sql/analyzer/StatementAnalyzer.java:449):
the qualified name, its version (queryPeriod) and a metadata or system
table are read there from one node. Here `resolve` walks the relation
references of the statement's tokens (tokenizer.structure) once, reads
each one's name chain and suffixes, and replaces the span with the name
Spark knows its rows by:

- ``t@b`` (SqlBase.g4:80,221), read or written: the branch fork
  (branches._branch); ``t@main`` is t;
- ``t FOR VERSION|TIMESTAMP AS OF <literal>``: a view over that version
  (dml._stored), of the branch fork when both are given;
- ``"t$kind"``: a view over a metadata table's rows (dml.METADATA);
- ``cat.schema.t`` of a non-jdbc mount, read: its view
  (catalogs.view_for); a write target stays as written, for the
  mount's write sink (catalogs.write);
- an information_schema or system table, read: a view of its rows built
  now (infoschema.view_for); a view that reads one is re-planned.

Text in a literal, a comment or a quoted identifier is never a relation.
A derived name is recorded in ``engine.derived`` with the managed table it
reads: access control checks and secures that table.

A relation clause that an operator runs instead of Spark (MATCH_RECOGNIZE,
JSON_TABLE, a WINDOW with a PATTERN) is found by `clause` and replaced by
the operator's result through `substitute`, one clause a pass.
"""

from __future__ import annotations

import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame

from trino_spark import infoschema
from trino_spark.dialect import branches as _branches
from trino_spark.dialect import catalogs as _cats
from trino_spark.dialect import dml as _dml
from trino_spark.dialect.tokenizer import Tok, next_code, render, structure, tokenize


class Derived(NamedTuple):
    base: str  # the managed table a derived name reads
    rows: bool  # holds that table's rows (a branch, a version), not metadata


def resolve(engine, toks: list[Tok]) -> None:
    """Replace, in place, each relation reference in `toks` that Spark
    knows by another name."""
    # a read name's view (None: a name Spark knows), built once per statement
    built: dict[tuple[str, ...], str | None] = {}
    live: set[str] | None = None
    for ref in reversed(structure(toks).relations):
        if ref.shadowed:
            continue
        parts = tuple(t.text.strip('"').lower() for t in toks[ref.start : ref.end : 2])
        view, end = _managed(engine, toks, parts[-1], ref.end)
        if view is None and ref.read:
            if parts not in built:
                if len(parts) == 3 and parts[0] in engine.catalogs:
                    built[parts] = _cats.view_for(engine, *parts)
                else:
                    built[parts] = infoschema.view_for(engine, parts)
                if built[parts] is None and parts[-1] in engine.views:
                    live = infoschema.live_views(engine) if live is None else live
                    if parts[-1] in live:
                        engine.sql(engine.views[parts[-1]]).createOrReplaceTempView(parts[-1])
            view = built[parts]
        if view is not None:
            toks[ref.start : end] = [Tok("WORD", view)]


def _managed(engine, toks: list[Tok], name: str, end: int) -> tuple[str | None, int]:
    """The view of a managed table's metadata table, branch or version that
    the reference `name`, ending at token `end`, names with its suffixes,
    and the index past them; (None, end) for any other reference."""
    base, _, kind = name.partition("$")
    rec = engine.dml_tables.get(base)
    if kind:
        if rec is None or kind not in _dml.METADATA:
            return None, end
        ddl, rows = _dml.METADATA[kind]
        view = f"{rec.name}__{kind}"
        _dml.rows_result(engine.spark, rows(engine, rec), ddl).createOrReplaceTempView(view)
        engine.derived[view] = Derived(rec.base or rec.name, rows=False)
        return view, end
    k = next_code(toks, end)
    b = next_code(toks, k + 1)
    branch = rec is not None and k < len(toks) and toks[k].is_sym("@")
    branch = branch and b < len(toks) and toks[b].kind == "WORD"
    if branch:
        rec = _branches._branch(engine, rec, toks[b].text.lower())
        end, k = b + 1, next_code(toks, b + 1)
    period = _period(toks, k)
    if period is not None:
        if rec is None:
            raise ValueError(f"time travel requires a managed table, got: {base}")
        version = _dml.version_as_of(rec, period[0], period[1])
        view = f"{rec.name}__v{version}"
        _dml._stored(engine, rec, version).createOrReplaceTempView(view)
        end = period[2]
    elif branch:
        view = rec.name  # t@b, or t itself for t@main
    else:
        return None, end
    if view != base:
        engine.derived[view] = Derived(rec.base or rec.name, rows=True)
    return view, end


def _period(toks: list[Tok], k: int) -> tuple[str, str, int] | None:
    """`FOR VERSION|TIMESTAMP AS OF <literal>` from token k: (VERSION or
    TIMESTAMP, the literal without its quotes, the index past it); None
    when the tokens from k are not one."""
    if k >= len(toks) or not toks[k].is_word("FOR"):
        return None
    at = [k]
    while len(at) < 6 and at[-1] < len(toks):
        at.append(next_code(toks, at[-1] + 1))
    t = [toks[i] for i in at if i < len(toks)]
    if len(t) < 5 or not (
        t[1].is_word("VERSION", "TIMESTAMP") and t[2].is_word("AS") and t[3].is_word("OF")
    ):
        return None
    lit = 5 if len(t) > 5 and t[4].is_word("TIMESTAMP") else 4
    if t[lit].kind not in ("NUM", "STR"):
        return None
    return t[1].text.upper(), t[lit].text.strip("'"), at[lit] + 1


# the words that open a relation clause an operator runs
_CLAUSE_WORDS = frozenset({"MATCH_RECOGNIZE", "JSON_TABLE", "WINDOW"})


def clause(engine, toks: list[Tok]) -> DataFrame | None:
    """Run the query's first MATCH_RECOGNIZE, JSON_TABLE or pattern WINDOW
    clause (grammar SqlBase.g4:448 patternRecognition, jsonTable,
    windowSpecification) on its operator and re-dispatch the statement
    with the result in its place; None when the query has none. Each
    reader reads its clause's input through a nested engine.sql, so that
    input's names resolve and its access checks and row filters apply."""
    for i, t in enumerate(toks):
        if t.kind == "WORD" and t.text.upper() in _CLAUSE_WORDS:
            from trino_spark.dialect import json_table_sql as _jt
            from trino_spark.dialect import match_recognize_sql as _mr

            read = {"MATCH_RECOGNIZE": _mr.read, "JSON_TABLE": _jt.read, "WINDOW": _mr.read_window}
            got = read[t.text.upper()](engine, toks, i)
            if got is not None:
                return substitute(engine, toks, *got)
    return None


def substitute(
    engine, toks: list[Tok], df: DataFrame, edits: list[tuple[int, int, str]]
) -> DataFrame:
    """Register `df` as a temp view and re-dispatch the statement with each
    span toks[a:b] of `edits` (a, b, text) replaced by its text, in which
    `{view}` stands for the view's name. The name starts with '__', so
    access control, which checked the reads that built `df`, passes it.
    The view is dropped once the statement's DataFrame is built (Spark
    analyses it eagerly, so it keeps the view's plan): a later statement,
    under any role, cannot read it."""
    view = f"__rel_{uuid.uuid4().hex[:8]}"
    df.createOrReplaceTempView(view)
    for a, b, text in sorted(edits, reverse=True):
        toks[a:b] = tokenize(f" {text.replace('{view}', view)} ")
    try:
        return engine.sql(render(toks))
    finally:
        engine.spark.catalog.dropTempView(view)
