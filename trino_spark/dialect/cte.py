"""Reused-CTE materialization — the engine's analog of Trino's CTE
materialization (core/trino-main/.../sql/planner/optimizations — Trino
plans each WITH-clause reference as its own subplan unless the common
subexpression is materialized; its fault-tolerant execution mode spools
shared intermediates for exactly this reason).

Spark inlines every WITH reference too: `WITH cross_items AS (...)`
referenced three times becomes three full re-executions of the subplan,
because the surrounding join/aggregate contexts differ so neither
ReusedExchange nor AQE stage reuse fires.  TPC-DS q14/q23/q04-class
queries pay 2-3x the cost of their most expensive CTE.

This pass runs on the final translated Spark SQL of a SELECT statement:

  1. parse the top-level WITH list (token-based, nesting-aware);
  2. count later references of each CTE name;
  3. a CTE referenced >= 2 times (deterministic body, reads a relation)
     is executed ONCE, persisted (MEMORY_AND_DISK — on a cluster large
     intermediates spill to local disk, the spooling analog), and its
     body is replaced by a trivial scan of the cached view — the WITH
     structure is preserved, so no reference rewriting is needed;
  4. caches from a previous top-level statement are unpersisted lazily
     at the next top-level call (recompute-on-miss keeps any still-held
     DataFrame correct — unpersist never changes results in Spark).

At 100 TB this trades one extra write+read of the CTE output against
re-running its subplan N-1 times; for the reduction-heavy CTEs these
queries share (frequent-item lists, per-customer year totals) the
materialized side is orders of magnitude smaller than the rescanned
fact tables, so the trade is strongly favorable — the same argument
Trino's docs make for `retry-policy=TASK` exchange spooling.
"""

from __future__ import annotations

import uuid

from trino_spark.dialect.tokenizer import Tok, next_code, structure, tokenize

# Functions whose per-call results differ between executions: a body
# containing any of these must not be evaluated once-and-reused unless
# the query already reuses it by name (which SQL semantics say is one
# evaluation per reference anyway — so materializing would CHANGE
# results for rand() but match Trino for none of them reliably; skip).
_NONDETERMINISTIC = {
    "RAND",
    "RANDOM",
    "RANDN",
    "UUID",
    "SHUFFLE",
    "MONOTONICALLY_INCREASING_ID",
}


def _parse_with(toks: list[Tok]):
    """The leading top-level WITH list: (defs, main_start) with defs the
    clause's tokenizer.WithDef entries, or None if the statement is not a
    plain (non-RECURSIVE) WITH query."""
    first = next_code(toks, 0)
    defs = [d for d in structure(toks).withs if d.clause == first]
    if not defs or defs[0].recursive:
        return None  # RECURSIVE is handled by the recursion rewriter
    return defs, next_code(toks, defs[-1].body[1] + 1)


def _text(toks: list[Tok], a: int, b: int) -> str:
    return "".join(t.text for t in toks[a:b])


_AGG_WORDS = {"AVG", "SUM", "COUNT", "MIN", "MAX", "STDDEV", "STDDEV_SAMP", "VARIANCE"}


def _worth_materializing(body_toks: list[Tok], refs: int) -> bool:
    """Materialize only CTEs whose FULL output every reference needs and
    whose output is reduction-small:

      * a global aggregate (depth-0 aggregate call, no depth-0 GROUP BY /
        UNION) -> scalar-ish row, e.g. q14's avg_sales, q23's
        max_store_sales;
      * an INTERSECT-bearing body -> distinct-ed set intersection, e.g.
        q14's cross_items frequent-item list.

    GROUP-BY CTEs (q04/q11/q74 year_total) are deliberately NOT
    materialized: their references carry literal predicates
    (sale_type = 's', dyear = 2001) that Catalyst pushes through the
    inlined plan, pruning far more than reuse saves — measured 1.5 s
    inline vs 21 s materialized on q04 at sf0.1. Trino's planner makes
    the same adaptive call in its CTE-materialization strategy."""
    if refs < 2:
        return False
    if any(t.kind == "WORD" and t.text.upper() in _NONDETERMINISTIC for t in body_toks):
        return False
    st = structure(body_toks)
    if not any(b.from_ >= 0 for b in st.blocks):
        return False
    set_ops = {
        t.text.upper()
        for i, t in enumerate(body_toks)
        if st.depth[i] == 0 and t.is_word("UNION", "INTERSECT", "EXCEPT")
    }
    # a depth-0 INTERSECT only, between plain or parenthesised operands: a
    # GROUP-BY body with a nested INTERSECT subquery stays inline
    # (reference-site predicates prune through the inlined plan).
    if "INTERSECT" in set_ops:
        return True
    top = [b for b in st.blocks if st.depth[b.select] == 0]
    if len(top) != 1 or top[0].group >= 0 or set_ops:
        return False
    # a global aggregate: an aggregate call in the block's select list
    b = top[0]
    return any(
        st.depth[i] == 0
        and body_toks[i].is_word(*_AGG_WORDS)
        and body_toks[next_code(body_toks, i + 1)].is_sym("(")
        for i in range(b.select + 1, b.from_)
    )


def retire(engine) -> None:
    """Unpersist caches created for earlier top-level statements.

    Safe for ALREADY-ANALYZED plans at any time: a dropped cache
    recomputes from lineage, so a DataFrame handle the caller still
    holds stays correct (slower). NOT safe while another statement is
    between its SQL rewrite and Catalyst analysis (the temp view name
    would fail to resolve) — callers must hold engine._cte_lock and
    check engine._cte_active; materialize_reused below does."""
    for df, view in engine._cte_cached:
        try:
            df.unpersist(blocking=False)
            engine.spark.catalog.dropTempView(view)
        except Exception:
            pass
    engine._cte_cached = []


def materialize_reused(engine, spark_sql: str):
    """Rewrite `spark_sql` so top-level CTEs referenced >= 2 times scan a
    once-computed cached view. Returns the (possibly unchanged) SQL."""
    if engine.session_properties.get("cte_materialization", "true").lower() in (
        "false", "0", "off",
    ):
        return spark_sql
    s = spark_sql.lstrip()
    if not s[:4].upper() == "WITH":
        return spark_sql
    toks = tokenize(spark_sql)
    parsed = _parse_with(toks)
    if not parsed:
        return spark_sql
    ctes, main_start = parsed

    # Retire prior statements' caches only when this is a TOP-LEVEL
    # statement (thread-local depth — nested dispatches must not drop
    # views their outer statement still references) AND no OTHER
    # statement is in flight on this shared engine (the HTTP server runs
    # header-less requests concurrently; a concurrent query may have
    # rewritten its SQL to reference a cached view but not yet analyzed
    # it — the one window where dropping the view breaks it). Deferred
    # caches are retired by the next statement that runs alone.
    lock = engine._cte_lock
    # a direct caller (not engine.sql) has set no depth on its thread
    with lock:
        if getattr(engine._tls, "depth", 1) <= 1 and engine._cte_active <= 1:
            retire(engine)

    # reference counts: WORD/QIDENT occurrences strictly after the CTE's
    # own body (later bodies + main query). Overcounting via same-named
    # columns only risks materializing a once-used CTE — still correct.
    n = len(toks)
    final_bodies: dict[int, str] = {}
    materialized: list[tuple[str, str]] = []  # (name, view) in order
    for ci, d in enumerate(ctes):
        name, (b0, b1) = d.name, d.body
        refs = 0
        for t in toks[b1 + 1 : n]:
            if (t.kind == "WORD" and t.text.upper() == name.upper()) or (
                t.kind == "QIDENT" and t.text.strip('"').upper() == name.upper()
            ):
                refs += 1
        body_toks = toks[b0:b1]
        if not _worth_materializing(body_toks, refs):
            continue
        body_sql = _text(toks, b0, b1)
        prior = []
        for cj, p in enumerate(ctes[:ci]):
            pbody = final_bodies.get(cj, _text(toks, *p.body))
            prior.append(f"{p.name} AS ({pbody})")
        exec_sql = (f"WITH {', '.join(prior)} " if prior else "") + body_sql
        try:
            df = engine.spark.sql(exec_sql)
        except Exception:
            # a body that only analyzes in full WITH context (e.g. a
            # correlated name our counter misjudged): leave it inline
            continue
        view = f"__cte_{uuid.uuid4().hex[:8]}_{ci}"
        from pyspark import StorageLevel

        df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()  # eager: one execution, before any reference runs
        df.createOrReplaceTempView(view)
        with lock:
            engine._cte_cached.append((df, view))
        final_bodies[ci] = f"SELECT * FROM {view}"
        materialized.append((name, view))

    if not materialized:
        return spark_sql
    parts = ["WITH "]
    for ci, d in enumerate(ctes):
        b0, b1 = d.body
        if ci:
            parts.append(", ")
        # preserve any column alias list between name and AS
        parts.append(_text(toks, d.name_idx, b0 - 1).rstrip())
        parts.append("(" if parts[-1].endswith("AS") else " (")
        parts.append(final_bodies.get(ci, _text(toks, b0, b1)))
        parts.append(")")
    parts.append(" ")
    parts.append(_text(toks, main_start, n))
    return "".join(parts)
