"""Minimal SQL tokenizer for the dialect rewrites.

Token kinds: WORD (identifiers/keywords), NUM, STR ('..' with '' escapes),
QIDENT ("..".. quoted identifiers), SYM (operators/punctuation), WS
(whitespace+comments, preserved verbatim so translation is round-trippable).
"""

from __future__ import annotations

from bisect import bisect_left
from dataclasses import dataclass


@dataclass
class Tok:
    kind: str  # WORD | NUM | STR | QIDENT | SYM | WS
    text: str

    def is_word(self, *names: str) -> bool:
        return self.kind == "WORD" and self.text.upper() in names

    def is_sym(self, s: str) -> bool:
        return self.kind == "SYM" and self.text == s


_TWO_CHAR = {"<=", ">=", "<>", "!=", "||", "->", "=>", ":="}


def tokenize(sql: str) -> list[Tok]:
    toks: list[Tok] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c.isspace():
            j = i
            while j < n and sql[j].isspace():
                j += 1
            toks.append(Tok("WS", sql[i:j]))
            i = j
        elif sql.startswith("--", i):
            j = sql.find("\n", i)
            j = n if j < 0 else j + 1
            toks.append(Tok("WS", sql[i:j]))
            i = j
        elif sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            j = n if j < 0 else j + 2
            toks.append(Tok("WS", sql[i:j]))
            i = j
        elif c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            toks.append(Tok("STR", sql[i : j + 1]))
            i = j + 1
        elif c == '"':
            j = i + 1
            while j < n and sql[j] != '"':
                j += 1
            toks.append(Tok("QIDENT", sql[i : j + 1]))
            i = j + 1
        elif c.isdigit() or (c == "." and i + 1 < n and sql[i + 1].isdigit()):
            j = i
            while j < n and (sql[j].isdigit() or sql[j] in ".eE" or (sql[j] in "+-" and sql[j - 1] in "eE")):
                j += 1
            toks.append(Tok("NUM", sql[i:j]))
            i = j
        elif c.isalpha() or c == "_":
            j = i
            while j < n and (sql[j].isalnum() or sql[j] == "_"):
                j += 1
            word = sql[i:j]
            # X'AB' hex literal: keep as one token
            if word.upper() == "X" and j < n and sql[j] == "'":
                k = sql.find("'", j + 1)
                k = n - 1 if k < 0 else k
                toks.append(Tok("STR", sql[i : k + 1]))
                i = k + 1
            else:
                toks.append(Tok("WORD", word))
                i = j
        else:
            two = sql[i : i + 2]
            if two in _TWO_CHAR:
                toks.append(Tok("SYM", two))
                i += 2
            else:
                toks.append(Tok("SYM", c))
                i += 1
    return toks


def render(toks: list[Tok]) -> str:
    return "".join(t.text for t in toks)


def next_code(toks: list[Tok], i: int) -> int:
    """Index of the next non-WS token at or after i (len(toks) if none)."""
    while i < len(toks) and toks[i].kind == "WS":
        i += 1
    return i


def prev_code(toks: list[Tok], i: int) -> int:
    """Index of the previous non-WS token at or before i (-1 if none)."""
    while i >= 0 and toks[i].kind == "WS":
        i -= 1
    return i


def lead(toks: list[Tok]) -> int:
    """Index of a statement's first keyword: past whitespace, comments and '('."""
    i = next_code(toks, 0)
    while i < len(toks) and toks[i].is_sym("("):
        i = next_code(toks, i + 1)
    return i


def head(toks: list[Tok]) -> list[str]:
    """A statement's leading words (at most six), upper-cased, from its first
    keyword to the first token that is not a word: its kind, for dispatch."""
    words: list[str] = []
    i = lead(toks)
    while i < len(toks) and toks[i].kind == "WORD" and len(words) < 6:
        words.append(toks[i].text.upper())
        i = next_code(toks, i + 1)
    return words


def match_paren(toks: list[Tok], open_i: int) -> int:
    """Given index of '(', return index of its matching ')'."""
    depth = 0
    for j in range(open_i, len(toks)):
        if toks[j].is_sym("("):
            depth += 1
        elif toks[j].is_sym(")"):
            depth -= 1
            if depth == 0:
                return j
    raise ValueError("unbalanced parentheses")


def split_args(toks: list[Tok], open_i: int, close_i: int) -> list[tuple[int, int]]:
    """Split the token span inside (open_i, close_i) on top-level commas.
    Returns [(start, end_exclusive)] spans; empty list for zero args."""
    spans: list[tuple[int, int]] = []
    depth = 0
    start = open_i + 1
    if next_code(toks, start) == close_i:
        return []
    for j in range(open_i + 1, close_i):
        if toks[j].is_sym("(") or toks[j].is_sym("["):
            depth += 1
        elif toks[j].is_sym(")") or toks[j].is_sym("]"):
            depth -= 1
        elif depth == 0 and toks[j].is_sym(","):
            spans.append((start, j))
            start = j + 1
    spans.append((start, close_i))
    return spans


def open_paren(depth: list[int], close_i: int) -> int:
    """The '(' that the ')' at close_i closes, read from the tokens' paren
    depths (structure(...).depth)."""
    j = close_i - 1
    while depth[j] > depth[close_i]:
        j -= 1
    return j


class Reader:
    """A token list's top level: the code tokens from `first` on at its
    own parenthesis depth, outside [...] and CASE ... END, where a clause
    keyword or a separating comma sits. The clause readers (a write, a
    row-pattern or WITH FUNCTION clause) find their keywords here, never
    in a literal, a comment or a nested group."""

    def __init__(self, toks: list[Tok], first: int = 0):
        self.toks, self.n, self.top = toks, len(toks), []
        depth = brackets = cases = 0
        for j in range(first, self.n):
            t = toks[j]
            depth -= t.is_sym(")")
            if t.kind != "WS" and not depth:
                if t.is_sym("[") or t.is_sym("]"):
                    brackets += 1 if t.text == "[" else -1
                elif t.is_word("CASE") or (t.is_word("END") and cases):
                    cases += 1 if t.is_word("CASE") else -1
                elif not (brackets or cases):
                    self.top.append(j)
            depth += t.is_sym("(")

    def error(self, kind: str) -> ValueError:
        return ValueError(f"cannot parse {kind}: {render(self.toks)[:160].strip()}")

    def at(self, j: int) -> Tok:
        return self.toks[j] if j < self.n else Tok("WS", "")

    def is_(self, j: int, text: str) -> bool:
        """Token j is the word or symbol `text`."""
        return self.at(j).kind in ("WORD", "SYM") and self.toks[j].text.upper() == text

    def next(self, j: int) -> int:
        return next_code(self.toks, j)

    def find(self, text: str, a: int, b: int | None = None) -> int:
        """The first top-level `text` in [a, b); b (default: the end) if none."""
        b = self.n if b is None else b
        hits = (j for j in self.top[bisect_left(self.top, a) :] if j >= b or self.is_(j, text))
        return min(b, next(hits, b))

    def split(self, text: str, a: int, b: int) -> list[tuple[int, int]]:
        """[a, b) cut at each top-level `text`."""
        spans = []
        while (k := self.find(text, a, b)) < b:
            spans.append((a, k))
            a = k + 1
        return [*spans, (a, b)]

    def clause(self, a: int, b: int) -> list[Tok]:
        """toks[a:b] without the whitespace at its edges."""
        a = min(self.next(a), b)
        return self.toks[a : max(prev_code(self.toks, b - 1) + 1, a)]

    def items(self, j: int) -> tuple[list[list[Tok]], int]:
        """The comma-separated clauses in the parentheses at j; the index past."""
        close = match_paren(self.toks, j)
        return [self.clause(a, b) for a, b in split_args(self.toks, j, close)], self.next(close + 1)


# ------------------------------------------------------------- structure
#
# One structural read of a token list: its query blocks, its WITH
# definitions and the names in relation positions. The rewrite passes,
# the CTE materializer, access control and MV freshness all read this one
# index instead of walking parentheses or matching FROM/JOIN themselves.

_SET_OPS = frozenset({"UNION", "INTERSECT", "EXCEPT"})
_TAIL = frozenset({"ORDER", "LIMIT", "WINDOW", "FETCH", "OFFSET"}) | _SET_OPS
# keywords whose following name is a relation
_REL_KW = frozenset({"FROM", "JOIN", "INTO", "UPDATE", "TABLE", "USING"})
# clauses that close a FROM list at their depth
_LIST_END = frozenset(
    {"WHERE", "GROUP", "HAVING", "SET", "QUALIFY"} | _TAIL
)
# words after which no relation name follows, without closing the list
_NOT_REL = frozenset(
    {"SELECT", "ON", "WHEN", "LATERAL", "UNNEST", "TABLESAMPLE", "VALUES", "WITH"}
)
_NOT_ALIAS = _REL_KW | _LIST_END | _NOT_REL | frozenset(
    """AS INNER LEFT RIGHT FULL CROSS NATURAL OUTER FOR MATCH_RECOGNIZE
    DEFAULT LIKE IS""".split()
)
# calls whose parentheses use FROM between arguments: EXTRACT(x FROM y)
_FROM_ARG_CALLS = frozenset({"EXTRACT", "TRIM", "SUBSTRING", "OVERLAY", "POSITION"})
# words before TABLE that make the next name a statement's target, not a
# read: CREATE/ALTER/DROP/TRUNCATE TABLE t, COMMENT ON TABLE t, ...
_TABLE_TARGET = frozenset(
    """CREATE REPLACE EXTERNAL TEMPORARY ALTER DROP TRUNCATE ON IN INTO
    OVERWRITE DESCRIBE DESC ANALYZE REFRESH CACHE UNCACHE REPAIR""".split()
)


@dataclass
class Block:
    """One SELECT block, as token indices (-1: clause absent).

    `close` is the ')' closing the group that holds the SELECT
    (len(toks) at top level). `end` is where the block's clauses end: its
    first ORDER/LIMIT/WINDOW/FETCH/OFFSET after FROM or its first set
    operation, else `close`. `tail_end` is where its own ORDER/LIMIT tail
    ends: that set operation, else `close`; a set-operation sibling is
    never part of the tail."""

    select: int
    close: int
    distinct: bool = False  # SELECT DISTINCT
    from_: int = -1
    group: int = -1
    having: int = -1
    end: int = -1
    tail_end: int = -1


@dataclass
class WithDef:
    """`name [(columns)] AS (body)` in a WITH clause;
    toks[body[0]:body[1]] is the body's interior."""

    name: str  # unquoted, case kept
    name_idx: int
    body: tuple[int, int]
    clause: int  # index of the WITH keyword
    recursive: bool


@dataclass
class RelRef:
    """A name in a relation position; toks[start:end] is its name chain."""

    start: int
    end: int
    name: str  # last part of the chain, unquoted, lower case
    alias: str | None  # unquoted, lower case
    kw: str  # the FROM/JOIN/INTO/UPDATE/TABLE/USING/DESCRIBE/ANALYZE/FOR that placed it
    shadowed: bool  # an unqualified name an in-scope WITH definition binds
    # read by the statement: a FROM or JOIN relation, MERGE's USING source,
    # `TABLE t` as a query or table argument, or the table DESCRIBE,
    # ANALYZE or SHOW STATS FOR names; not a write target or a
    # DDL name (INTO t, UPDATE t, DELETE FROM t, CREATE/ALTER/DROP/TRUNCATE
    # TABLE t, ...)
    read: bool


@dataclass
class Structure:
    blocks: list[Block]  # in SELECT order
    withs: list[WithDef]
    relations: list[RelRef]
    depth: list[int]  # paren depth of each token

    def block_of(self, i: int) -> Block | None:
        """The block token i belongs to: the nearest SELECT before i that
        no parenthesised group closed before i holds."""
        for b in reversed(self.blocks):
            if b.select < i < b.close:
                return b
        return None


def structure(toks: list[Tok]) -> Structure:
    """Read the blocks, WITH definitions and relation references of
    `toks` in one index. Unbalanced parentheses do not raise: an unclosed
    group runs to the end of the list."""
    n = len(toks)
    depth = [0] * n
    match: dict[int, int] = {}  # '(' -> its ')'
    opener: dict[int, int] = {}  # SELECT/WITH -> '(' of its group (-1: none)
    stack: list[int] = []
    for i, t in enumerate(toks):
        if t.is_sym("("):
            depth[i] = len(stack)
            stack.append(i)
            continue
        if t.is_sym(")") and stack:
            match[stack.pop()] = i
        depth[i] = len(stack)
        if t.is_word("SELECT", "WITH"):
            opener[i] = stack[-1] if stack else -1

    def at(i: int) -> Tok:
        return toks[i] if i < n else Tok("WS", "")

    def close_of(i: int) -> int:
        return match.get(opener[i], n)

    def distinct_from(i: int) -> bool:  # `a IS [NOT] DISTINCT FROM b`
        p = prev_code(toks, i - 1)
        return p >= 0 and toks[p].is_word("DISTINCT")

    blocks = []
    for s in opener:
        if not toks[s].is_word("SELECT"):
            continue
        k = next_code(toks, s + 1)
        b = Block(s, close_of(s), at(k).is_word("DISTINCT"))
        i = s + 1
        while i < b.close and b.tail_end < 0:
            t = toks[i]
            u = t.text.upper() if t.kind == "WORD" else ""
            if t.is_sym("("):
                i = match.get(i, b.close)
            elif u in _SET_OPS:
                b.end = i if b.end < 0 else b.end
                b.tail_end = i
            elif b.from_ < 0:
                if u == "FROM" and not distinct_from(i):
                    b.from_ = i
            elif b.end < 0:
                if u in _TAIL:
                    b.end = i
                elif u == "GROUP" and b.group < 0:
                    b.group = i
                elif u == "HAVING" and b.having < 0:
                    b.having = i
            i += 1
        b.end = b.close if b.end < 0 else b.end
        b.tail_end = b.close if b.tail_end < 0 else b.tail_end
        blocks.append(b)

    withs: list[WithDef] = []
    scopes: list[tuple[WithDef, int, int]] = []  # (def, binds from, to)
    for w in opener:
        if not toks[w].is_word("WITH"):
            continue
        j = next_code(toks, w + 1)
        recursive = at(j).is_word("RECURSIVE")
        j = next_code(toks, j + 1) if recursive else j
        defs = []
        while at(j).kind in ("WORD", "QIDENT"):
            k = next_code(toks, j + 1)
            if at(k).is_sym("("):  # column alias list
                k = next_code(toks, match.get(k, n) + 1)
            if not at(k).is_word("AS"):
                break
            k = next_code(toks, k + 1)
            if k not in match:  # the body's '('
                break
            defs.append(WithDef(toks[j].text.strip('"'), j, (k + 1, match[k]), w, recursive))
            k = next_code(toks, match[k] + 1)
            if at(k).is_sym(","):
                j = next_code(toks, k + 1)
                continue
            withs += defs  # the clause parsed to its end
            scopes += [(d, d.name_idx if recursive else d.body[1], close_of(w)) for d in defs]
            break

    def shadowed(name: str, i: int) -> bool:
        return any(d.name.lower() == name and a < i < z for d, a, z in scopes)

    relations: list[RelRef] = []
    first = lead(toks)
    kw = None  # the keyword that opened a relation position, if one is open
    reads = False  # that position reads its relation
    via_paren = False  # the position was carried into a '('
    lists: set[int] = set()  # depths with an open FROM list
    arg_from = [False]  # per open group: a call's FROM-separated arguments
    i = 0
    while i < n:
        t = toks[i]
        u = t.text.upper() if t.kind == "WORD" else ""
        if t.is_sym("("):
            # `USING (a, b)` is a join column list; `FROM (` opens a
            # derived table or a parenthesised join tree
            kw = None if kw == "USING" else kw
            via_paren = kw is not None
            p = prev_code(toks, i - 1)
            arg_from.append(p >= 0 and toks[p].is_word(*_FROM_ARG_CALLS))
        elif t.is_sym(")"):
            lists.discard(len(arg_from) - 1)
            if len(arg_from) > 1:
                arg_from.pop()
        elif t.is_sym(",") and len(arg_from) - 1 in lists:
            kw, reads, via_paren = "FROM", True, False
        elif u == "SELECT":
            # ends a FROM-first query's list: `(FROM t SELECT a, b)`
            lists.discard(len(arg_from) - 1)
            kw = None
        elif u == "FROM":
            # every FROM clause at any depth, FROM-first queries included;
            # not EXTRACT(x FROM y) or IS DISTINCT FROM. DELETE FROM t
            # names a write target.
            if not arg_from[-1] and not distinct_from(i):
                p = prev_code(toks, i - 1)
                kw, via_paren = "FROM", False
                reads = not (p >= 0 and toks[p].is_word("DELETE"))
                lists.add(len(arg_from) - 1)
        elif u in _REL_KW or (i == first and u in ("DESCRIBE", "ANALYZE")) or (
            u == "FOR" and (p := prev_code(toks, i - 1)) >= 0 and toks[p].is_word("STATS")
        ):
            # DESCRIBE t, ANALYZE t and SHOW STATS FOR t read t
            p = prev_code(toks, i - 1)
            kw, via_paren = u, False
            reads = u in ("JOIN", "USING", "DESCRIBE", "ANALYZE", "FOR") or (
                u == "TABLE" and not (p >= 0 and toks[p].is_word(*_TABLE_TARGET))
            )
        elif u in _LIST_END:
            lists.discard(len(arg_from) - 1)
            kw = None
        elif u in _NOT_REL:
            kw = None
        elif kw is not None and t.kind in ("WORD", "QIDENT") and u not in ("IF", "NOT", "EXISTS"):
            j = i  # the name chain a.b.c ends at j
            while j + 2 < n and toks[j + 1].is_sym(".") and toks[j + 2].kind in ("WORD", "QIDENT"):
                j += 2
            k = next_code(toks, j + 1)
            # `name(` through a paren or after FROM/JOIN is a call
            # (TABLE(f(...)), json_table(...)); after INTO or TABLE it is
            # a column list
            if not (at(k).is_sym("(") and (via_paren or kw in ("FROM", "JOIN"))):
                if via_paren and at(k).is_sym(")") and toks[prev_code(toks, i - 1)].is_sym("("):
                    k = next_code(toks, k + 1)  # `(name) alias`
                a = alias_at(toks, k)
                name = toks[j].text.strip('"').lower()
                relations.append(
                    RelRef(i, j + 1, name, toks[a].text.strip('"').lower() if a >= 0 else None, kw,
                           j == i and shadowed(name, i), reads)
                )
            kw = None
            i = j
        i += 1
    return Structure(blocks, withs, relations, depth)


def alias_at(toks: list[Tok], k: int) -> int:
    """The index of the `[AS] alias` that starts at code token k; -1 if none."""
    if k < len(toks) and toks[k].is_word("AS"):
        k = next_code(toks, k + 1)
    a = toks[k] if k < len(toks) else Tok("WS", "")
    alias = a.kind == "QIDENT" or (a.kind == "WORD" and a.text.upper() not in _NOT_ALIAS)
    return k if alias else -1


def item(toks: list[Tok], st: Structure, p: int) -> tuple[int, int] | None:
    """The FROM item whose last code token, its alias included, is p: a
    name chain (a relation reference of `st`) or a parenthesised group.
    Returns (its first token, the end of its name chain or group); None
    when no item ends at p."""
    for ref in st.relations:
        a = alias_at(toks, next_code(toks, ref.end))
        if p == (a if a >= 0 else ref.end - 1):
            return ref.start, ref.end
    q = p if toks[p].is_sym(")") else prev_code(toks, p - 1)
    q = prev_code(toks, q - 1) if q >= 0 and toks[q].is_word("AS") else q
    if q < 0 or not toks[q].is_sym(")") or (q != p and alias_at(toks, next_code(toks, q + 1)) != p):
        return None
    return open_paren(st.depth, q), q + 1
