"""One reading of a table write.

The reference parses a write once into one AST node (Insert, Update,
Delete, Merge, CreateTableAsSelect; grammar SqlBase.g4:220 for MERGE) and
the analyzer reads its target and clauses from that node (SURVEY §3.3).
`read` does the same from a statement's tokens, once: the target is the
statement's first relation reference (tokenizer.structure, the entry
access.enforce checks), and a clause starts at a keyword at the
statement's own parenthesis depth, outside [...] and CASE ... END, never
at text in a literal, a comment or a quoted identifier. Both write sinks
take the record: a mounted catalog's (catalogs.write) and the managed
tables' (dml.try_execute).
"""

from __future__ import annotations

import dataclasses

from trino_spark.dialect.tokenizer import Reader, Tok, lead, match_paren, next_code, render
from trino_spark.dialect.tokenizer import split_args, structure, tokenize

# an expression, condition or name: its tokens without edge whitespace
Clause = list[Tok]

# a write's first word -> the words between it and its target
_KINDS = {"CREATE": ["TABLE"], "INSERT": ["INTO"], "UPDATE": [], "DELETE": ["FROM"],
          "MERGE": ["INTO"], "TRUNCATE": ["TABLE"], "DROP": ["TABLE"]}
_IF = {"CREATE": ["IF", "NOT", "EXISTS"], "DROP": ["IF", "EXISTS"]}


@dataclasses.dataclass
class When:
    """`WHEN [NOT] MATCHED [AND cond] THEN action`, one clause of MERGE."""

    matched: bool
    cond: Clause | None
    action: str  # DELETE, UPDATE or INSERT
    sets: list[tuple[str, Clause]]  # UPDATE SET column = expression, ...
    columns: list[str]  # INSERT (column, ...); empty: every column
    values: list[Clause]  # INSERT VALUES (expression, ...)


@dataclasses.dataclass
class Write:
    """CREATE TABLE (AS query, or column definitions), INSERT, UPDATE, DELETE,
    MERGE, TRUNCATE or DROP TABLE, read once."""

    kind: str  # CREATE, INSERT, UPDATE, DELETE, MERGE, TRUNCATE or DROP
    target: tuple[str, ...]  # the name chain, unquoted, lower case
    if_exists: bool = False  # CREATE's IF NOT EXISTS, DROP's IF EXISTS
    # INSERT's column names; CREATE TABLE's column definitions, as texts,
    # or the column names a CTAS gives its query's columns
    columns: list[str] = dataclasses.field(default_factory=list)
    comment: str | None = None  # CREATE TABLE ... COMMENT 'text'
    props: dict = dataclasses.field(default_factory=dict)  # WITH (k = v, ...)
    query: str | None = None  # CTAS's AS query, INSERT's source
    sets: list[tuple[str, Clause]] = dataclasses.field(default_factory=list)  # UPDATE
    where: Clause | None = None  # UPDATE, DELETE
    # MERGE: the target's alias, the USING relation (a name chain, or a
    # subquery's text) and its alias, the ON conjuncts, the WHEN clauses
    alias: str | None = None
    using: tuple[str, ...] = ()
    using_query: str | None = None
    using_alias: str | None = None
    on: list[Clause] = dataclasses.field(default_factory=list)
    whens: list[When] = dataclasses.field(default_factory=list)


def read(toks: list[Tok]) -> Write | None:
    """The write `toks` spell; None when they are not a table write.
    Raises ValueError on a write whose clauses do not parse."""
    i = lead(toks)
    kind = toks[i].text.upper() if i < len(toks) and toks[i].kind == "WORD" else ""
    if kind not in _KINDS:
        return None
    st = structure(toks)
    ref = st.relations[0] if st.relations else None
    words = [t.text.upper() for t in toks[i + 1 : ref.start if ref else None] if t.kind != "WS"]
    want = _KINDS[kind]
    if words[: len(want)] != want:
        return None
    r = _Reader(toks, i)
    if ref is None or words[len(want) :] not in ([], _IF.get(kind)):
        raise r.error(kind)
    target, end = name_at(toks, ref.start)
    w = Write(kind, target, if_exists=len(words) > len(want))
    j = r.next(end)
    if kind == "CREATE":
        cols, j = r.items(j) if r.is_(j, "(") else ([], j)
        if r.is_(j, "COMMENT") and r.at(r.next(j + 1)).kind == "STR":
            w.comment, j = unquote(toks[r.next(j + 1)]), r.next(r.next(j + 1) + 1)
        if r.is_(j, "WITH") and r.is_(r.next(j + 1), "("):
            w.props, j = properties(toks, r.next(j + 1)), r.next(match_paren(toks, r.next(j + 1)) + 1)
        # CTAS, whose column list (if any) names the query's columns
        if r.is_(j, "AS") and all(len(c) == 1 for c in cols):
            w.query, j = render(r.clause(j + 1, r.n)), r.n
            w.columns = [_name(c) for c in cols]
        else:
            w.columns = [render(c) for c in cols]
    elif kind == "INSERT":
        first = r.at(r.next(j + 1))  # a column list opens with a name, a query with a keyword
        if r.is_(j, "(") and first.kind in ("WORD", "QIDENT") and not first.is_word("SELECT", "WITH", "VALUES", "TABLE"):
            cols, j = r.items(j)
            w.columns = [_name(c) for c in cols]
        w.query, j = render(r.clause(j, r.n)), r.n
    elif kind == "UPDATE" and r.is_(j, "SET"):
        where = r.find("WHERE", j)
        w.sets, j = r.assignments(j + 1, where), where
    elif kind == "MERGE":
        w.alias, j = ref.alias, r.merge(w, r.find("USING", j))
    if kind in ("UPDATE", "DELETE") and r.is_(j, "WHERE"):
        w.where, j = r.clause(j + 1, r.n), r.n
    needed = {"CREATE": w.query or w.columns, "INSERT": w.query, "UPDATE": w.sets}
    if j < r.n or not needed.get(kind, True):
        raise r.error(kind)
    return w


class _Reader(Reader):
    """A write's top level (tokenizer.Reader) and its clause readers."""

    def assignments(self, a: int, b: int) -> list[tuple[str, Clause]]:
        """`column = expression, ...` in [a, b)."""
        out = []
        for s, e in self.split(",", a, b):
            eq = self.find("=", s, e)
            if eq >= e:
                raise self.error("SET")
            out.append((_name(self.clause(s, eq)), self.clause(eq + 1, e)))
        return out

    def merge(self, w: Write, j: int) -> int:
        """`USING source [[AS] alias] ON conjunction WHEN ...` from the USING at j."""
        k = self.next(j + 1)
        if self.is_(k, "("):
            close = match_paren(self.toks, k)
            w.using_query, k = render(self.clause(k + 1, close)), self.next(close + 1)
        elif self.at(k).kind in ("WORD", "QIDENT"):
            w.using, k = name_at(self.toks, k)
            k = self.next(k)
        k = self.next(k + 1) if self.is_(k, "AS") else k
        if self.at(k).kind in ("WORD", "QIDENT") and not self.is_(k, "ON"):
            w.using_alias, k = _name([self.toks[k]]), self.next(k + 1)
        first = self.find("WHEN", k)
        if not (w.using or w.using_query) or not self.is_(k, "ON") or first >= self.n:
            raise self.error("MERGE")
        w.on = [self.clause(a, b) for a, b in self.split("AND", k + 1, first)]
        w.whens = [self.when(a, b) for a, b in self.split("WHEN", first + 1, self.n)]
        return self.n

    def when(self, a: int, b: int) -> When:
        """`[NOT] MATCHED [AND cond] THEN action` in [a, b)."""
        k = self.next(a)
        matched = not self.is_(k, "NOT")
        k = k if matched else self.next(k + 1)
        then = self.find("THEN", k, b)
        if not self.is_(k, "MATCHED") or then >= b:
            raise self.error("MERGE")
        c = self.next(k + 1)
        cond = self.clause(c + 1, then) if self.is_(c, "AND") else None
        x = self.next(then + 1)
        out = When(matched, cond, self.at(x).text.upper(), [], [], [])
        k = self.next(x + 1)
        if out.action == "UPDATE" and self.is_(k, "SET"):
            out.sets = self.assignments(k + 1, b)
        elif out.action == "INSERT":
            if self.is_(k, "("):
                cols, k = self.items(k)
                out.columns = [_name(col) for col in cols]
            if self.is_(k, "VALUES") and self.is_(self.next(k + 1), "("):
                out.values, k = self.items(self.next(k + 1))
        if (cond is None and c != then) or not (out.sets or out.values or out.action == "DELETE"):
            raise self.error("MERGE")
        return out


def name_at(toks: list[Tok], i: int) -> tuple[tuple[str, ...], int]:
    """The name chain `a.b.c` starting at token i (its parts unquoted, in
    lower case) and the index past it."""
    j = i
    while j + 2 < len(toks) and toks[j + 1].is_sym(".") and toks[j + 2].kind in ("WORD", "QIDENT"):
        j += 2
    return tuple(t.text.strip('"').lower() for t in toks[i : j + 1 : 2]), j + 1


def named(text: str, kw: str) -> tuple[str, bool, list[Tok]]:
    """For a statement `... <kw> [IF [NOT] EXISTS] name rest` (ALTER TABLE;
    the view, materialized view, schema, catalog and branch statements):
    the name's last part (unquoted, lower case), whether IF [NOT] EXISTS
    preceded it, and the tokens after it."""
    toks = tokenize(text)
    k = next_code(toks, next((j for j, t in enumerate(toks) if t.is_word(kw)), len(toks)) + 1)
    if_exists = k < len(toks) and toks[k].is_word("IF")
    while k < len(toks) and toks[k].is_word("IF", "NOT", "EXISTS"):
        k = next_code(toks, k + 1)
    if k >= len(toks) or toks[k].kind not in ("WORD", "QIDENT"):
        raise ValueError(f"cannot parse {text[:120]}")
    name, end = name_at(toks, k)
    return name[-1], if_exists, toks[end:]


def definition(text: str) -> tuple[str, str]:
    """`CREATE [OR REPLACE] [MATERIALIZED] VIEW name AS query`: (name, query)."""
    name, _, rest = named(text, "VIEW")
    k = next_code(rest, 0)
    if k >= len(rest) or not rest[k].is_word("AS"):
        raise ValueError(f"cannot parse {text[:120]}: missing AS <query>")
    return name, render(rest[k + 1 :]).strip()


def renamed(rest: list[Tok]) -> str | None:
    """The new name when the tokens after a statement's name are `RENAME TO name`."""
    code = [t for t in rest if t.kind != "WS"]
    if [t.text.upper() for t in code[:2]] != ["RENAME", "TO"] or len(code) < 3:
        return None
    new, end = name_at(code, 2)
    return new[-1] if end == len(code) and code[2].kind in ("WORD", "QIDENT") else None


def properties(toks: list[Tok], open_i: int) -> dict:
    """`(k = v, ...)` from the '(' at open_i: CREATE TABLE's and CREATE
    SCHEMA's WITH, CREATE CATALOG's properties, ALTER TABLE ... SET
    PROPERTIES (reference: the property maps of CreateTableTask /
    CreateCatalogTask). Keys in lower case; a '...' value unquoted, an
    ARRAY[...] one as the list of its elements, any other as written."""
    props: dict = {}
    for a, b in split_args(toks, open_i, match_paren(toks, open_i)):
        code = [t for t in toks[a:b] if t.kind != "WS"]
        eq = next((k for k, t in enumerate(code) if t.is_sym("=")), 0)
        if eq in (0, len(code) - 1):
            raise ValueError(f"cannot parse property: {render(toks[a:b]).strip()}")
        key, value = "".join(t.text for t in code[:eq]).strip('"').lower(), code[eq + 1 :]
        props[key] = (
            [unquote(t) for t in value[2:-1] if not t.is_sym(",")] if value[0].is_word("ARRAY")
            else unquote(value[0]) if len(value) == 1 else render(value)
        )
    return props


def unquote(t: Tok) -> str:
    """A '...' literal's body ('' is one quote); any other token's text."""
    return t.text[1:-1].replace("''", "'") if t.kind == "STR" else t.text


def rebind(clause: Clause, prefixes: dict[str, str]) -> str:
    """The clause's text with each reference `q.col` whose qualifier q (in
    lower case) is a key of `prefixes` spelled `<prefixes[q]>col`: MERGE's
    naming contract (operators/merge.py), the target's columns bare and
    the source's `s_col`. A literal is never a reference."""
    out: list[Tok] = []
    i = 0
    while i < len(clause):
        q, dot, col = (clause[i : i + 3] + [Tok("WS", "")] * 2)[:3]
        key = q.text.strip('"').lower() if q.kind in ("WORD", "QIDENT") else None
        if key in prefixes and dot.is_sym(".") and col.kind in ("WORD", "QIDENT") and not (out and out[-1].is_sym(".")):
            p = prefixes[key]
            out.append(Tok(col.kind, f'"{p}{col.text[1:]}' if col.kind == "QIDENT" else p + col.text))
            i += 3
        else:
            out.append(q)
            i += 1
    return render(out)


def _name(clause: Clause) -> str:
    """A column name: the clause's last name part, unquoted, lower case."""
    if not clause or clause[-1].kind not in ("WORD", "QIDENT"):
        raise ValueError(f"cannot parse column name: {render(clause).strip()}")
    return clause[-1].text.strip('"').lower()
