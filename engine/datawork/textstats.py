"""Text analysis: token counting, quality scoring, language ID, fingerprints.

All built-in column expressions — these run inside whole-stage codegen and
scale linearly with no shuffle (pure projections). The per-language stopword
lists are module constants shared with the oracle-SQL generator in
``__spark_entry__``.

It is also the one spelling of four rules the datawork ops share with the
DuckDB oracle: ``words``, ``word_ngrams``, ``nonblank`` and ``md5_u32`` (the
hash behind every md5 bucket, sample and hashed feature). A site that keeps
its own spelling says why there.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# BPE-ish token classes: letter runs, digit runs, single punctuation marks
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_RE = r"[^A-Za-z0-9\s]"
WS_SPLIT_RE = r"\s+"

STOPWORDS = {
    "en": ["the", "a", "of", "and", "in", "to", "is", "for", "on", "with"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "auf", "für", "ein"],
    "fr": ["le", "la", "les", "et", "est", "de", "des", "un", "une", "pour"],
    "es": ["el", "la", "los", "las", "es", "de", "un", "una", "por", "para"],
}
CJK_RE = "[一-鿿]"


def words(text: Column) -> Column:
    """Lowered whitespace words. Blank text gives ``[""]``: callers that
    must skip it test ``nonblank`` first."""
    return F.split(F.trim(F.lower(text)), WS_SPLIT_RE)


def word_ngrams(w: Column, n: int) -> Column:
    """The n-word windows of word array ``w``, each joined by one space."""
    # guard: sequence(1, 0) would generate a DESCENDING [1, 0] in Spark, so
    # arrays shorter than n get an explicit empty gram list
    return F.when(
        F.size(w) >= n,
        F.transform(F.sequence(F.lit(1), F.size(w) - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(w, i, n)))
    ).otherwise(F.array().cast("array<string>"))


def nonblank(text: Column) -> Column:
    """True where ``text`` holds a non-space character; NULL is blank."""
    return F.trim(F.coalesce(text, F.lit(""))) != ""


def md5_u32(c: Column) -> Column:
    """The first 8 hex digits of md5(c) as a long in [0, 2^32); callers
    take their own ``% n``."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def token_count_ws(text: Column) -> Column:
    """Whitespace token count; 0 for blank text."""
    return F.when(F.trim(text) == "", F.lit(0)).otherwise(F.size(words(text)))


def token_count_bpe(text: Column) -> Column:
    """Count of BPE-ish token classes — a cheap proxy for subword cost."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))


def stopword_hits(text: Column, lang: str = "en") -> Column:
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(words(text), lambda w: F.array_contains(stops, w)))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """doc quality features + composite score (length / punctuation /
    stopword-density heuristics, the standard pretraining-filter family)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_ws = token_count_ws(t)
    punct = F.size(F.regexp_extract_all(t, F.lit(PUNCT_RE), 0))
    stop = stopword_hits(t, "en")
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_ws > 0, stop / n_ws).otherwise(F.lit(0.0))
    mean_word_len = F.when(n_ws > 0, n_chars / n_ws).otherwise(F.lit(0.0))
    quality = (
        F.when(n_chars >= 100, F.lit(0.4)).otherwise(n_chars / 250.0)
        + F.least(stop_ratio * F.lit(2.0), F.lit(0.4))
        + F.when((punct_ratio < 0.1) & (mean_word_len >= 3) & (mean_word_len <= 12),
                 F.lit(0.2)).otherwise(F.lit(0.0)))
    return (df
            .withColumn("n_chars_calc", n_chars)
            .withColumn("tokens_ws", n_ws)
            .withColumn("tokens_bpe", token_count_bpe(t))
            .withColumn("punct_ratio", F.round(punct_ratio, 6))
            .withColumn("stopword_ratio", F.round(stop_ratio, 6))
            .withColumn("quality_score", F.round(quality, 6)))


BULLET_LINE_RE = r"^\s*[-*•]"          # line starts with -, * or •
ELLIPSIS_END_RE = r"(\.\.\.|…)\s*$"     # line ends with ... or …
SYMBOL_RE = r"#|\.\.\.|…"               # Gopher "symbols": #, ..., …


def with_quality_flags(df: DataFrame, text_col: str = "text",
                       min_words: int = 50, max_words: int = 100_000,
                       min_mean_word_len: float = 3.0,
                       max_mean_word_len: float = 10.0,
                       max_symbol_ratio: float = 0.1,
                       max_bullet_frac: float = 0.9,
                       max_ellipsis_frac: float = 0.3,
                       max_repeated_line_frac: float = 0.3,
                       min_alpha_word_ratio: float = 0.8) -> DataFrame:
    """The standard named pretraining filters (Gopher rules 1-7 / C4 line
    heuristics) as INDIVIDUAL boolean columns — `quality_score` is an ad hoc
    composite; a production filter pipeline wants each rule observable and
    tunable on its own, with the pass-rate per rule as corpus telemetry.

    All pure codegen column expressions (split/filter/size over the word and
    line arrays) — zero shuffle, linear scan, same shape as the rest of this
    module. Conventions for empty text: every ratio is 0.0 and the
    word-count rule fails (0 < min_words), mirroring the oracle SQL.

    Emitted flags (true = the doc PASSES the rule):
      flag_word_count        min_words ≤ n_words ≤ max_words
      flag_mean_word_len     mean word length in [3, 10]
      flag_symbol_ratio      (# + ellipsis occurrences)/words ≤ 0.1
      flag_bullet_lines      ≤ 90% of lines start with a bullet
      flag_ellipsis_lines    ≤ 30% of lines end with ...
      flag_repeated_lines    duplicate-line fraction ≤ 0.3
      flag_alpha_words       ≥ 80% of words contain a letter
      flag_stopwords         ≥ 2 distinct common stopwords present
      pass_quality           AND of all of the above
    """
    t = F.col(text_col)
    w = words(t)
    n_words = token_count_ws(t)
    n_chars_in_words = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x)
    mean_wl = F.when(n_words > 0, n_chars_in_words / n_words).otherwise(F.lit(0.0))
    n_sym = F.size(F.regexp_extract_all(t, F.lit(SYMBOL_RE), 0))
    sym_ratio = F.when(n_words > 0, n_sym / n_words).otherwise(F.lit(0.0))

    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(
        lines, lambda line: line.rlike(BULLET_LINE_RE)))
    n_ellipsis = F.size(F.filter(
        lines, lambda line: line.rlike(ELLIPSIS_END_RE)))
    bullet_frac = F.when(n_lines > 0, n_bullet / n_lines).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(n_lines > 0, n_ellipsis / n_lines).otherwise(F.lit(0.0))
    # duplicate-line fraction over non-blank trimmed lines
    nb = F.filter(F.transform(lines, F.trim), lambda line: line != "")
    n_nb = F.size(nb)
    rep_frac = F.when(n_nb > 0,
                      (n_nb - F.size(F.array_distinct(nb))) / n_nb
                      ).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[a-z]")))
    alpha_ratio = F.when(n_words > 0, n_alpha / n_words).otherwise(F.lit(0.0))
    stops = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    n_stop_distinct = F.size(F.array_intersect(F.array_distinct(w), stops))

    flags = {
        "flag_word_count": (n_words >= min_words) & (n_words <= max_words),
        "flag_mean_word_len": (mean_wl >= min_mean_word_len)
                              & (mean_wl <= max_mean_word_len),
        "flag_symbol_ratio": sym_ratio <= max_symbol_ratio,
        "flag_bullet_lines": bullet_frac <= max_bullet_frac,
        "flag_ellipsis_lines": ellipsis_frac <= max_ellipsis_frac,
        "flag_repeated_lines": rep_frac <= max_repeated_line_frac,
        "flag_alpha_words": alpha_ratio >= min_alpha_word_ratio,
        "flag_stopwords": n_stop_distinct >= 2,
    }
    out = df.withColumn("n_words", n_words)
    for name, expr in flags.items():
        out = out.withColumn(name, expr)
    pass_all = None
    for name in flags:
        pass_all = F.col(name) if pass_all is None else pass_all & F.col(name)
    return out.withColumn("pass_quality", pass_all)


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID over {en,de,fr,es} with a CJK-char override —
    the n-gram-heuristic family (and the reference's own CJK-vs-Latin rule,
    batch_pdf_processor.py:1999-2004, generalized)."""
    t = F.col(text_col)
    cjk = F.size(F.regexp_extract_all(t, F.lit(CJK_RE), 0))
    votes = [stopword_hits(t, lang).alias(lang) for lang in STOPWORDS]
    struct = F.struct(*votes)
    # argmax with deterministic tie-break on language-code order
    best = F.greatest(*[struct[lang] for lang in STOPWORDS])
    pred = F.when(cjk > 0, F.lit("zh"))
    for lang in sorted(STOPWORDS):
        pred = pred.when(struct[lang] == best, F.lit(lang))
    return df.withColumn("lang_pred", pred)


def with_repetition(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Runaway-repetition score — the text-level analogue of the reference's
    no-repeat-ngram logits guard (process/ngram_norepeat.py:7-40, SURVEY
    §2.6 G3): distinct-to-total n-gram ratio per doc. A model stuck in a
    loop repeats n-grams, driving the ratio toward 0; clean prose sits near
    1. Pure column expressions (transform over a word-window sequence)."""
    grams = word_ngrams(words(F.col(text_col)), n)
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return df.withColumn(
        "repetition_ratio",
        F.when(total > 0, F.round(distinct / total, 6)).otherwise(F.lit(1.0)))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of lowercase whitespace-collapsed text."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), WS_SPLIT_RE, " "))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("fingerprint", fingerprint(F.col(text_col)))


def char_entropy(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Shannon entropy of the per-doc character distribution — the
    cheap compressibility proxy for gibberish/repetition detection
    (low entropy = repeated char soup, high = diverse text) used where
    a zlib-ratio heuristic would need a Python UDF.

    H = ln(n) − (Σ_c cnt_c·ln cnt_c)/n over ALL characters (whitespace
    included; split('') is codepoint-identical in Spark and DuckDB).
    Empty/NULL docs → NULL (the family contract), restored via the
    explode_outer trick — no doc-key re-join.

    Scale shape: the (id, char) aggregate shuffles at most
    alphabet-per-doc rows — strictly smaller than the input — and the
    second aggregate is per-doc. No joins anywhere."""
    cs = F.when(F.coalesce(F.col(text_col), F.lit("")) != "",
                F.split(F.col(text_col), ""))
    per_char = (docs.select(F.col(id_col).alias("id"),
                            F.explode_outer(cs).alias("c"))
                .groupBy("id", "c").agg(F.count("*").alias("cnt")))
    live = F.when(F.col("c").isNotNull(), F.col("cnt")).otherwise(F.lit(0))
    n = F.col("_n")
    return (per_char
            .groupBy("id")
            .agg(F.sum(live).cast("bigint").alias("_n"),
                 F.sum(live.cast("double") * F.coalesce(
                     F.log(F.col("cnt").cast("double")), F.lit(0.0))
                     * F.when(F.col("c").isNotNull(), 1.0).otherwise(0.0))
                 .alias("_s"))
            .select(F.col("id").alias(id_col),
                    F.when(n > 0, n).alias("n_chars"),
                    F.when(n > 0, F.round(
                        F.log(n.cast("double")) - F.col("_s") / n, 6))
                     .alias("entropy")))
