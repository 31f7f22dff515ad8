"""Prepared statements: PREPARE name FROM <query> / EXECUTE name USING ... /
DEALLOCATE PREPARE name.

Reference: grammar SqlBase.g4 (PREPARE / EXECUTE / DEALLOCATE statements),
main/execution/PrepareTask.java (stores the statement in session state) and
parameter binding in main/sql/analyzer (positional `?` parameters). Spark
has no session-level prepared statements; we bind at the token level —
each `?` is replaced positionally by the corresponding USING expression's
tokens — then the bound text flows through routine expansion + dialect
translation like any query. Binding is textual, so USING accepts arbitrary
expressions (literals, arithmetic), matching the reference's semantics of
analyzing bound parameters as expressions.
"""

from __future__ import annotations

from trino_spark.dialect.tokenizer import Tok, head, lead, next_code, render, split_args, tokenize


def parse_prepare(sql: str) -> tuple[str, str] | None:
    """PREPARE name FROM <statement> -> (NAME, statement_text), else None."""
    toks = tokenize(sql)
    if head(toks)[:1] != ["PREPARE"]:
        return None
    i = next_code(toks, lead(toks) + 1)
    name = toks[i].text.upper()
    i = next_code(toks, i + 1)
    if i >= len(toks) or not toks[i].is_word("FROM"):
        raise ValueError(f"PREPARE {name}: expected FROM <statement>")
    body = render(toks[i + 1 :]).strip().rstrip(";")
    if not body:
        raise ValueError(f"PREPARE {name}: empty statement")
    return name, body


def parse_execute_immediate(sql: str) -> tuple[str, list[str]] | None:
    """EXECUTE IMMEDIATE 'stmt' [USING ...] -> (stmt_text, args), else None."""
    toks = tokenize(sql)
    if head(toks)[:2] != ["EXECUTE", "IMMEDIATE"]:
        return None
    i = next_code(toks, next_code(toks, lead(toks) + 1) + 1)
    if i >= len(toks) or toks[i].kind != "STR":
        raise ValueError("EXECUTE IMMEDIATE: expected a string literal statement")
    stmt = toks[i].text[1:-1].replace("''", "'")
    j = next_code(toks, i + 1)
    if j >= len(toks) or not toks[j].is_word("USING"):
        return stmt, []
    return stmt, _using_args(toks, j)


def _using_args(toks: list[Tok], using_i: int) -> list[str]:
    rest = toks[using_i + 1 :]
    wrapped = [Tok("SYM", "(")] + rest + [Tok("SYM", ")")]
    spans = split_args(wrapped, 0, len(wrapped) - 1)
    args = [render(wrapped[s:e]).strip().rstrip(";") for s, e in spans]
    if any(not a for a in args):
        raise ValueError("EXECUTE: empty USING expression")
    return args


def parse_execute(sql: str) -> tuple[str, list[str]] | None:
    """EXECUTE name [USING expr, ...] -> (NAME, [expr_text, ...]), else None."""
    toks = tokenize(sql)
    if head(toks)[:1] != ["EXECUTE"]:
        return None
    i = next_code(toks, lead(toks) + 1)
    name = toks[i].text.upper()
    i = next_code(toks, i + 1)
    if i >= len(toks) or not toks[i].is_word("USING"):
        return name, []
    return name, _using_args(toks, i)


def parse_deallocate(sql: str) -> str | None:
    """DEALLOCATE PREPARE name -> NAME, else None."""
    toks = tokenize(sql)
    if head(toks)[:1] != ["DEALLOCATE"]:
        return None
    i = next_code(toks, lead(toks) + 1)
    if i < len(toks) and toks[i].is_word("PREPARE"):
        i = next_code(toks, i + 1)
    return toks[i].text.upper()


def bind(statement: str, args: list[str]) -> str:
    """Replace positional `?` parameters with the USING expressions
    (parenthesized). Raises on arity mismatch, like the reference analyzer."""
    toks = tokenize(statement)
    n_params = sum(1 for t in toks if t.is_sym("?"))
    if n_params != len(args):
        raise ValueError(
            f"prepared statement has {n_params} parameters, got {len(args)} USING expressions"
        )
    out: list[Tok] = []
    it = iter(args)
    for t in toks:
        if t.is_sym("?"):
            out.append(Tok("SYM", f"({next(it)})"))
        else:
            out.append(t)
    return render(out)
