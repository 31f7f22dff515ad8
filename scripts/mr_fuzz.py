"""MATCH_RECOGNIZE differential fuzzer: random row patterns over random
symbol streams, the engine's NFA (operators/match_recognize.py, driven
through the full MATCH_RECOGNIZE SQL surface) compared against an
INDEPENDENT reference matcher built on Python `re`.

Equivalence basis: with ONE ROW PER MATCH + AFTER MATCH SKIP PAST LAST
ROW and greedy quantifiers, SQL row-pattern matching over a partition is
exactly leftmost non-overlapping greedy regex matching over the
partition's symbol string — so `re` (a mature, unrelated implementation)
is a true oracle for match spans, counts, and per-match row totals. Each
statement is also spelled in a random shape (gen_shape) that the oracle
is blind to: source form, keyword case, literals in DEFINE.

Usage: python scripts/mr_fuzz.py [n_patterns] [seed]
"""

from __future__ import annotations

import random
import re as _re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

_SYMS = ["A", "B", "C"]
_CHARS = {"A": "a", "B": "b", "C": "c"}


def gen_pattern(rng: random.Random) -> str:
    """2-4 element concat pattern over A/B/C with greedy quantifiers and
    occasional alternation groups, at least one mandatory element."""
    while True:
        parts = []
        for _ in range(rng.randint(2, 4)):
            if rng.random() < 0.25:
                x, y = rng.sample(_SYMS, 2)
                parts.append(f"({x} | {y})" + rng.choice(["", "+", "?"]))
            else:
                parts.append(rng.choice(_SYMS) + rng.choice(["", "", "+", "*", "?"]))
        if any(not p.endswith(("*", "?")) for p in parts):
            return " ".join(parts)


def gen_shape(rng: random.Random, table: str):
    """A spelling that changes no matching semantics, drawn from its own
    generator so a seed's patterns stay the same: the source (bare,
    aliased, quoted or a subquery), the clause keywords' case, and a
    conjunct every DEFINE gets (none, a literal spelling a clause keyword,
    an empty-string literal, or a parenthesised OR or NOT operand).
    Returns (source, keyword speller, conjunct)."""
    source = rng.choice(
        [table, f"{table} AS e", f"{table} e", f'"{table}"', f"(SELECT * FROM {table})"]
    )
    case = str.lower if rng.random() < 0.5 else str.upper
    extra = rng.choice(
        [
            "",
            " AND 'x ALL ROWS PER MATCH' <> 'y'",
            " AND 'PATTERN (' <> ''",
            " AND sym <> ''",
            " AND (sym <> '' OR sym = '')",
            " AND NOT ('a' = 'b')",
        ]
    )
    return source, case, extra


def reference_matches(seq: str, pattern: str) -> list[tuple[int, int]]:
    """Leftmost non-overlapping greedy spans (0-based [start, end))."""
    body = pattern.replace(" ", "")
    for sym, ch in _CHARS.items():
        body = body.replace(sym, ch)
    rx = _re.compile(body)
    out = []
    i = 0
    while i < len(seq):
        m = rx.match(seq, i)
        if m and m.end() > m.start():
            out.append((m.start(), m.end()))
            i = m.end()
        else:
            i += 1
    return out


def fuzz_mr(n_patterns: int = 15, seed: int = 42, n_users: int = 12, seq_len: int = 18):
    """Returns mismatch descriptions (empty = clean)."""
    from trino_spark.dialect.engine import TrinoEngine
    from trino_spark.session import get_spark

    rng = random.Random(seed)
    spark = get_spark(app_name="mr_fuzz")
    eng = TrinoEngine(spark, "/root/testdata/sf0.001")
    # random symbol streams, one per user
    rows, seqs = [], {}
    for u in range(n_users):
        s = "".join(rng.choice("abc") for _ in range(rng.randint(3, seq_len)))
        seqs[u] = s
        rows += [(u, i, ch) for i, ch in enumerate(s)]
    spark.createDataFrame(
        rows, "user_id long, seq long, sym string"
    ).createOrReplaceTempView("mr_fuzz_events")

    bad: list[str] = []
    shapes = random.Random(seed * 31 + 5)
    for p in range(n_patterns):
        pattern = gen_pattern(rng)
        src, k, extra = gen_shape(shapes, "mr_fuzz_events")
        sql = f"""
        SELECT user_id, s0, s1, n_rows
        FROM {src} {k("MATCH_RECOGNIZE")} (
          {k("PARTITION BY")} user_id
          {k("ORDER BY")} seq
          {k("MEASURES")} FIRST(seq) AS s0, LAST(seq) AS s1, COUNT(*) AS n_rows
          {k("ONE ROW PER MATCH")}
          {k("AFTER MATCH SKIP PAST LAST ROW")}
          {k("PATTERN")} ({pattern})
          {k("DEFINE")} A AS sym = 'a'{extra}, B AS sym = 'b'{extra}, C AS sym = 'c'{extra}
        )
        """
        try:
            got = sorted(
                (r.user_id, r.s0, r.s1, r.n_rows) for r in eng.sql(sql).collect()
            )
        except Exception as exc:
            err = str(exc).splitlines()[0][:160]
            bad.append(f"PATTERN ({pattern}) [{src}{extra}] ENGINE ERROR: {err}")
            continue
        want = sorted(
            (u, a, b - 1, b - a)
            for u, s in seqs.items()
            for a, b in reference_matches(s, pattern)
        )
        if got != want:
            only_g = [x for x in got if x not in want][:3]
            only_w = [x for x in want if x not in got][:3]
            bad.append(
                f"PATTERN ({pattern}) [{src}{extra}] DIVERGED: engine-only={only_g} "
                f"ref-only={only_w} (counts {len(got)} vs {len(want)})"
            )
    return bad


def fuzz_pattern_window(n_patterns: int = 10, seed: int = 42, n_users: int = 8, seq_len: int = 14):
    """Window-form differential mode (round 6): for EVERY row, the
    engine's per-row ANCHORED match (pattern_window) against Python
    `re.match` at that offset — count-of-matched-rows per row, NULL when
    no match, 0 on an empty match. Same equivalence basis as the table
    mode (leftmost-biased greedy alternation)."""
    from trino_spark.dialect.engine import TrinoEngine
    from trino_spark.session import get_spark

    rng = random.Random(seed * 7 + 1)
    spark = get_spark(app_name="mr_fuzz")
    eng = TrinoEngine(spark, "/root/testdata/sf0.001")
    rows, seqs = [], {}
    for u in range(n_users):
        s = "".join(rng.choice("abc") for _ in range(rng.randint(3, seq_len)))
        seqs[u] = s
        rows += [(u, i, ch) for i, ch in enumerate(s)]
    spark.createDataFrame(
        rows, "user_id long, seq long, sym string"
    ).createOrReplaceTempView("pw_fuzz_events")

    bad: list[str] = []
    shapes = random.Random(seed * 31 + 6)
    for p in range(n_patterns):
        pattern = gen_pattern(rng)
        src, k, extra = gen_shape(shapes, "pw_fuzz_events")
        # alternate INITIAL / SEEK (round 7): SEEK's reference is the
        # first re.match at offset >= the current row
        mode = "SEEK" if p % 2 else ""
        sql = f"""
        SELECT user_id, seq, rl OVER w AS rl
        FROM {src}
        {k("WINDOW")} w AS (
          {k("PARTITION BY")} user_id {k("ORDER BY")} seq
          {k("MEASURES")} COUNT(*) AS rl
          {k("ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING")}
          {k(mode)}
          {k("PATTERN")} ({pattern})
          {k("DEFINE")} A AS sym = 'a'{extra}, B AS sym = 'b'{extra}, C AS sym = 'c'{extra}
        )
        """
        try:
            got = sorted((r.user_id, r.seq, r.rl) for r in eng.sql(sql).collect())
        except Exception as exc:
            err = str(exc).splitlines()[0][:160]
            bad.append(f"[window] PATTERN ({pattern}) [{src}{extra}] ENGINE ERROR: {err}")
            continue
        body = pattern.replace(" ", "")
        for sym, ch in _CHARS.items():
            body = body.replace(sym, ch)
        rx = _re.compile(body)
        want = []
        for u, s in seqs.items():
            for i in range(len(s)):
                if mode == "SEEK":
                    m = rx.search(s, i)  # first match STARTING at >= i
                else:
                    m = rx.match(s, i)
                want.append((u, i, (m.end() - m.start()) if m else None))
        want.sort()
        if got != want:
            diff = [(g, w) for g, w in zip(got, want) if g != w][:4]
            bad.append(
                f"[window {mode or 'INITIAL'}] PATTERN ({pattern}) [{src}{extra}] DIVERGED: {diff}"
            )
    return bad


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 15
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42
    bad = fuzz_mr(n, seed)
    bad += fuzz_pattern_window(max(5, n // 2), seed)
    for line in bad:
        print(line)
    print(f"\n{n} patterns (+{max(5, n // 2)} window), {len(bad)} mismatches (seed {seed})")
    sys.exit(1 if bad else 0)
