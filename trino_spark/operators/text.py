"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All pure column expressions (codegen; zero Python on the hot path), so each
is also SQL-expressible for the DuckDB oracle.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trino_spark.functions.strings import normalize_text

# Minimal per-language marker sets for the n-gram/stopword heuristic
# (language-ID over web text normally uses char-trigram models; marker words
# are the degenerate-but-deterministic version that suits synthetic corpora).
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "zh": ["de", "le", "shi", "bu", "wo"],
}


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != "")


def token_count(text: Column | str) -> Column:
    """Whitespace token count (Trino-side analog: cardinality(split(...)))."""
    return F.size(tokens(text)).cast("long")


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token estimate: word-piece split on 4-char chunks —
    ceil(len(word)/4) summed. A deterministic stand-in for a BPE vocab."""
    return F.aggregate(
        tokens(text), F.lit(0).cast("long"), lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("long")
    )


def lang_scores(text: Column | str) -> Column:
    """map<string,double> of per-language marker-hit ratios."""
    toks = tokens(normalize_text(F.col(text) if isinstance(text, str) else text))
    n = F.greatest(F.size(toks), F.lit(1))
    entries = []
    for lang, markers in sorted(_LANG_MARKERS.items()):
        marker_arr = F.array(*[F.lit(m) for m in markers])
        hits = F.size(F.filter(toks, lambda x: F.array_contains(marker_arr, x)))
        entries.append(F.struct(F.lit(lang).alias("key"), (hits / n).alias("value")))
    return F.map_from_entries(F.array(*entries))


def fingerprint(text: Column | str) -> Column:
    """Stable 128-bit content fingerprint of the normalized text (md5 hex)."""
    return F.md5(normalize_text(F.col(text) if isinstance(text, str) else text))


def rolling_hash(text: Column | str, mod: int = (1 << 31) - 1) -> Column:
    """Polynomial rolling hash over characters (base 31, mod 2^31-1) —
    the per-window primitive for content-defined chunking."""
    chars = F.split(F.col(text) if isinstance(text, str) else text, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % F.lit(mod),
    )


def approx_top_k(
    df, key_col: str, k: int = 10, candidates_per_partition: int = 50
):
    """Scalable heavy hitters (Trino approx_most_frequent — reference:
    main/operator/aggregation/ApproximateMostFrequentHistogram.java,
    SpaceSaving sketch): per-partition local top-C candidates via
    mapInPandas (bounded memory regardless of key cardinality), then an
    exact global count restricted to the candidate union.

    Two-phase contract: any key in the true global top-k appears in at
    least one partition's local top-C when C >= k * (partition count
    imbalance factor) — C defaults to 5k. The final pass is an exact
    count over candidate keys only, so reported counts are exact (unlike
    raw SpaceSaving error bounds); only the candidate CUT is approximate.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    def local_top(batches):
        counts: dict = {}
        for pdf in batches:
            for key, cnt in pdf[key_col].value_counts().items():
                counts[key] = counts.get(key, 0) + int(cnt)
        top = sorted(counts.items(), key=lambda kv: -kv[1])[:candidates_per_partition]
        yield pd.DataFrame({key_col: [t[0] for t in top]})

    candidates = (
        df.select(key_col)
        .mapInPandas(local_top, schema=f"{key_col} string")
        .distinct()
    )
    return (
        df.join(F.broadcast(candidates), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), key_col)
        .limit(k)
    )


# ---------------------------------------------------------------- PII masking

# Pattern order matters: emails before phone-ish digit runs (an email's
# digits must not be half-masked first), IPs before bare digit runs.
_PII_PATTERNS: list[tuple[str, str]] = [
    # email addresses
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    # IPv4
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
    # US SSN
    (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    # credit-card-ish 13-16 digit runs (optional spaces/dashes; must end
    # on a digit so trailing separators stay untouched)
    (r"\b\d(?:[ -]?\d){12,15}\b", "[CARD]"),
    # phone numbers: +cc / (area) / dashed forms, >= 7 digits total
    (r"(?<![\w.])(?:\+?\d{1,3}[ -.]?)?(?:\(\d{2,4}\)[ -.]?)?\d{3}[ -.]?\d{3,4}(?:[ -.]?\d{2,4})?(?![\w-])", "[PHONE]"),
]


def mask_pii(text: Column | str) -> Column:
    """Redact common PII shapes (emails, IPs, SSNs, card numbers, phones)
    with typed placeholder tokens — the standard pre-training scrub pass
    (cf. the PII filtering stage in public corpus pipelines; same
    regex-class approach as Presto/Trino deployments use via
    regexp_replace). Chained JVM regexp_replace expressions: no UDF, runs
    inside codegen at full scan speed."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, repl in _PII_PATTERNS:
        c = F.regexp_replace(c, F.lit(pat), F.lit(repl))
    return c


def pii_counts(text: Column | str) -> Column:
    """struct of per-class PII match counts — the audit-side companion of
    mask_pii (count before you redact)."""
    c = F.col(text) if isinstance(text, str) else text
    names = ["emails", "ips", "ssns", "cards", "phones"]
    masked_prev = c
    fields = []
    for (pat, _repl), name in zip(_PII_PATTERNS, names):
        fields.append(F.size(F.regexp_extract_all(masked_prev, F.lit(pat), F.lit(0))).alias(name))
        masked_prev = F.regexp_replace(masked_prev, F.lit(pat), F.lit("_"))
    return F.struct(*fields)


def repetition_signals(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document repetition metrics (the Gopher/MassiveText repetition
    filters; see also C4's line dedup): documents dominated by repeated
    lines or one repeated phrase are boilerplate/spam and get filtered
    before training.

      dup_line_frac       duplicate lines / total lines
      dup_line_char_frac  chars in lines occurring >1x / total line chars
      top_bigram_char_frac chars covered by the most frequent word 2-gram

    Shape: explode lines/bigrams -> two hash aggregations keyed by
    (document, unit) then (document) -> join back. Both shuffles are on the
    document id, so at 100 TB this partitions by document and never builds
    a per-executor state larger than one document's distinct units.
    Line/bigram splitting is pure expression (codegen); no UDFs.
    """
    c = F.col(text_col)
    lines = df.select(
        id_col, F.explode(F.filter(F.split(c, "\n"), lambda x: F.length(x) > 0)).alias("line")
    )
    line_stats = (
        lines.groupBy(id_col, "line")
        .agg(F.count("*").alias("cnt"), F.first(F.length("line")).alias("len"))
        .groupBy(id_col)
        .agg(
            (1.0 - F.sum(F.lit(1)) / F.sum("cnt")).alias("dup_line_frac"),
            (
                F.sum(F.when(F.col("cnt") > 1, F.col("cnt") * F.col("len")).otherwise(0))
                / F.greatest(F.sum(F.col("cnt") * F.col("len")), F.lit(1))
            ).alias("dup_line_char_frac"),
        )
    )
    w = F.split(F.trim(c), r"\s+")
    bigrams_arr = F.transform(
        F.sequence(F.lit(0), F.size(w) - 2),
        lambda i: F.concat_ws(" ", F.element_at(w, i + 1), F.element_at(w, i + 2)),
    )
    bigrams = df.select(
        id_col,
        F.length(c).alias("n_chars_total"),
        F.explode(F.when(F.size(w) >= 2, bigrams_arr).otherwise(F.array())).alias("bigram"),
    )
    bigram_stats = (
        bigrams.groupBy(id_col, "bigram")
        .agg(
            (F.count("*") * F.first(F.length("bigram"))).alias("covered"),
            F.first("n_chars_total").alias("n_chars_total"),
        )
        .groupBy(id_col)
        .agg(
            (F.max("covered") / F.greatest(F.first("n_chars_total"), F.lit(1))).alias(
                "top_bigram_char_frac"
            )
        )
    )
    return (
        df.select(id_col)
        .join(line_stats, id_col, "left")
        .join(bigram_stats, id_col, "left")
        .na.fill(0.0, ["dup_line_frac", "dup_line_char_frac", "top_bigram_char_frac"])
    )


def boilerplate_ngrams(
    df: DataFrame,
    n: int = 5,
    min_docs: int = 25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document boilerplate detection: an n-gram appearing in
    >= min_docs DISTINCT documents marks a repeated span (navigation
    chrome, license footers, template text — the spans web-corpus
    pipelines strip before training). Returns one row per document with
    `n_grams` (distinct n-grams) and `n_boilerplate` (how many of them
    are corpus-frequent).

    Scale shape: n-grams are hash-FOLDED to 64-bit keys inside the
    projection (xxhash64 per gram — no k-token strings ever materialize,
    the same fold ngram_repetition_signals uses), then explode(distinct
    hashes) → one hash aggregation keyed by gram hash for the
    document-frequency table, then a join back onto the exploded hashes
    — no all-pairs comparison, and the shuffled rows are (id, long)
    pairs, not span strings. The join carries NO broadcast hint: when
    boilerplate is rare the frequent-hash table is tiny and AQE
    broadcasts it at runtime, but when boilerplate is pervasive (round-7
    sf10 probe: a replicated corpus made nearly every gram
    corpus-frequent, and the old forced broadcast collected millions of
    span strings to the driver — the 12.4x/decade super-linear term) a
    shuffled join is the right plan and AQE keeps it. Collisions:
    counting distinct 64-bit gram hashes undercounts only on xxhash64
    collisions (~d^2/2^64) — immaterial for a frequency filter."""
    # The n-gram projection is the dominant CPU cost; a small local input
    # (one parquet file → one partition) would run it single-threaded, so
    # spread it first. At scale inputs arrive in many files/partitions and
    # this is a no-op branch.
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min(target, 16):
        df = df.repartition(min(target, 16))
    w = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    grams = F.when(
        F.size(w) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(w, i, n))),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    per_doc = df.select(F.col(id_col), F.explode_outer(grams).alias("gram_h"))
    freq = (
        per_doc.filter(F.col("gram_h").isNotNull())
        .groupBy("gram_h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("gram_h")
    )
    flagged = per_doc.join(
        freq.withColumn("_freq", F.lit(1)), "gram_h", "left"
    )
    return flagged.groupBy(id_col).agg(
        F.count("gram_h").alias("n_grams"),
        F.count("_freq").alias("n_boilerplate"),
    )


def ngram_repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Intra-document n-gram repetition signals — complements
    `repetition_signals` (line-level + char-coverage) with the
    occurrence-count members of the same published rule family, as used by published
    LLM training-data quality filters (the Gopher/MassiveText rule
    family: fraction of tokens in the most frequent n-gram, fraction of
    duplicated n-gram occurrences).

    Output per input row: n_bigrams, top_bigram_frac (occurrences of
    the most frequent bigram / all bigram occurrences) and
    dup_trigram_frac (1 - distinct trigrams / trigram occurrences).
    Documents with fewer than n tokens report 0.0.

    100 TB plan shape: one explode (linear in tokens), a (doc, n, gram)
    hash aggregation with map-side combine, a per-doc re-aggregation,
    and a left join back onto the doc spine — all keyed by doc_id or
    finer, no skew surface beyond a single pathological document (which
    the per-doc key already isolates). Grams are CHAINED xxhash64 FOLDS
    over per-token hashes, never materialized strings (the
    duplicate_spans trick — occurrence counting only needs gram
    identity, and hashing cut this operator 7.1 s -> ~1.4 s at sf0.1);
    the projection-bound spread guard mirrors duplicate_spans too."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min(target, 16):
        df = df.repartition(min(target, 16))
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    th = F.transform(toks, lambda x: F.xxhash64(x))

    def gram_hashes(n: int):
        cnt = F.size(toks) - F.lit(n - 1)
        # sequence(1, 0) DESCENDS in Spark — the empty case must be an
        # explicit empty array (same guard as duplicate_spans)
        idx = F.when(cnt >= 1, F.sequence(F.lit(1), cnt)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx,
            lambda i: F.aggregate(
                F.slice(th, i, n),
                F.lit(0).cast("long"),
                lambda acc, h: F.xxhash64(acc, h),
            ),
        )

    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.concat(
                F.transform(
                    gram_hashes(2),
                    lambda g: F.struct(F.lit(2).alias("n"), g.alias("g")),
                ),
                F.transform(
                    gram_hashes(3),
                    lambda g: F.struct(F.lit(3).alias("n"), g.alias("g")),
                ),
            )
        ).alias("ng"),
    ).select("_id", F.col("ng.n").alias("_n"), F.col("ng.g").alias("_g"))
    counts = grams.groupBy("_id", "_n", "_g").agg(F.count(F.lit(1)).alias("_c"))
    per = counts.groupBy("_id").agg(
        F.max(F.when(F.col("_n") == 2, F.col("_c"))).alias("_max2"),
        F.sum(F.when(F.col("_n") == 2, F.col("_c"))).alias("_tot2"),
        F.sum(F.when(F.col("_n") == 3, F.col("_c"))).alias("_tot3"),
        F.count(F.when(F.col("_n") == 3, F.lit(1))).alias("_dis3"),
    )
    spine = df.select(F.col(id_col).alias("_id"))
    return spine.join(per, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.coalesce(F.col("_tot2"), F.lit(0)).cast("long").alias("n_bigrams"),
        F.when(F.col("_tot2") > 0, F.col("_max2") / F.col("_tot2"))
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
        F.when(
            F.col("_tot3") > 0, F.lit(1.0) - F.col("_dis3") / F.col("_tot3")
        )
        .otherwise(F.lit(0.0))
        .alias("dup_trigram_frac"),
    )


def strip_shared_paragraphs(
    df: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Paragraph-level exact dedup with REMOVAL (CCNet-style: a paragraph
    whose normalized form appears in >= min_docs DISTINCT documents is
    boilerplate/shared content and is stripped; the document is
    reassembled from the surviving paragraphs in order).

    Complements the detection-only boilerplate_ngrams (gram level) and
    duplicate_spans (substring level): this is the removal operator the
    published web-corpus pipelines run on paragraph hashes.

    Scale shape: one explode -> document-frequency on the md5 of the
    normalized paragraph (md5 = bounded-width shuffle key AND
    cross-engine reproducible for the oracle; two-level agg for the
    distinct-doc count) -> join-back (AQE decides broadcast vs shuffle)
    -> one per-document reassembly aggregation. All codegen; paragraph
    text shuffles once (the reassembly), keys otherwise.

    Returns (id, n_paras, n_kept, text) with `text` the reassembled
    document."""
    parts = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias("_pos", "_p"),
    ).withColumn("_key", F.md5(F.lower(F.trim(F.col("_p")))))
    shared = (
        parts.filter(F.trim(F.col("_p")) != "")
        .groupBy("_key")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_key", F.lit(True).alias("_shared"))
    )
    flagged = parts.join(shared, "_key", "left").withColumn(
        "_drop", F.col("_shared").isNotNull() & (F.trim(F.col("_p")) != "")
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.sum(F.when(F.col("_drop"), 0).otherwise(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("_drop"),
                            F.struct(F.col("_pos"), F.col("_p").alias("_p")),
                        )
                    )
                ),
                lambda x: x["_p"],
            ),
            sep,
        ).alias(text_col),
    )
