"""Exact-substring (duplicate n-gram span) deduplication + winnowing
fingerprints.

The sequence-level analogue of CCNet line dedup (curation.dedup_lines):
instead of whole lines, find every *token n-gram window* whose exact
content occurs >= min_count times across the corpus, merge the
overlapping duplicate windows per document into maximal spans, and
optionally cut those spans out of the text. This is the distributed,
bounded-window re-expression of the suffix-array "ExactSubstr" dedup of
Lee et al. 2022 (Deduplicating Training Data Makes Language Models
Better): a length-L duplicated region shows up as L-n+1 consecutive
duplicated windows, and the span merge recovers the region.

Scale shapes (the point of each step):

* Window generation is per-row codegen (``transform`` over a
  ``sequence`` + one ``posexplode``) — no shuffle, output is n-gram
  COUNT not quadratic in corpus size.
* The duplicate test is ONE hash aggregate on md5(gram) (map-side
  combine collapses the hot boilerplate grams early — the same grams
  that make the data skewed make the partial aggregate effective).
* The join back (gram -> hot grams) is equi on the 16-byte md5 key;
  each (doc, start) window matches at most one hot row, so the join
  cannot fan out.
* Span merge is the classic running-max interval union: one window
  function partitioned by doc — the only doc-sized shuffle.
* ``drop_duplicate_spans`` applies coverage with a per-doc span ARRAY
  (spans are maximal and disjoint, so there are at most
  n_tokens/(n+1) of them) and an indexed higher-order ``filter`` —
  no second explode, no UDF.

Semantics contract (shared verbatim with the DuckDB oracle):

* Tokens are ``split(trim(text), '\\s+')`` with empties dropped;
  positions are 0-based token indices.
* A window [s, s+n) is duplicated iff its space-joined token content
  occurs >= min_count times in the corpus (within-doc repeats count).
* Spans are the union of duplicated windows; two windows merge iff
  they overlap or touch (gap == 0) — coverage, not window identity.
* Like dedup_lines, apply drops ALL occurrences of duplicated spans
  (keep-one would need a global occurrence order; the corpus-frequency
  rule is the CCNet-consistent contract used across this family).

All hashes are md5 so the oracle reproduces values exactly; swap to
xxhash64 in production (same plan, cheaper hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import stage_cache


def _tokens(text_col: str):
    """Whitespace tokens with empties dropped — identical spelling to the
    oracle's list_filter(string_split_regex(trim(...))). Not
    ``textstats.words``/``word_ngrams``: span positions address the
    case-kept tokens, and each window is hashed, not joined."""
    return F.filter(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda t: t != "")


def _windows(toks, n: int, lower: bool = False):
    """md5 over each n-token window's space-joined content; empty array
    when the doc is shorter than n (sequence() would run DESCENDING for
    start > stop — the guard is load-bearing, not cosmetic). ``lower``
    makes the HASH case-insensitive while positions keep addressing the
    original tokens."""
    starts = F.when(F.size(toks) >= n,
                    F.sequence(F.lit(1), F.size(toks) - n + 1)
                    ).otherwise(F.array())

    def _h(i):
        joined = F.array_join(F.slice(toks, i, n), " ")
        return F.md5(F.lower(joined) if lower else joined)

    return F.transform(starts, _h)


def _dup_windows(docs: DataFrame, n: int, min_count: int,
                 id_col: str, text_col: str) -> DataFrame:
    """(id, start) of every duplicated window, 0-based token positions."""
    from .dedup import _ensure_parallelism
    toks = (_ensure_parallelism(docs)
            .select(F.col(id_col).alias("id"),
                    _tokens(text_col).alias("toks")))
    grams = toks.select(
        "id", F.posexplode(_windows(F.col("toks"), n)).alias("start",
                                                             "gram"))
    hot = (grams.groupBy("gram").agg(F.count("*").alias("cnt"))
           .filter(F.col("cnt") >= min_count).select("gram"))
    return grams.join(hot, "gram").select("id", "start")


def _merged_spans(dup: DataFrame, n: int) -> DataFrame:
    """Interval union of [start, start+n) windows per doc: running max of
    span ends over the start-ordered windows; a window opens a new span
    iff it starts strictly past everything seen (overlap OR touch
    merges — coverage semantics). O(log) nothing: one window pass."""
    w = Window.partitionBy("id").orderBy("start")
    prev_end = F.max(F.col("start") + n).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = dup.withColumn(
        "is_new",
        (F.col("start") > F.coalesce(prev_end, F.lit(-1))).cast("int"))
    span_id = F.sum("is_new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (flagged.withColumn("span_id", span_id)
            .groupBy("id", "span_id")
            .agg(F.min("start").cast("int").alias("span_start"),
                 (F.max("start") + n).cast("int").alias("span_end"),
                 F.count("*").cast("bigint").alias("n_windows")))


def duplicate_ngram_spans(docs: DataFrame, n: int = 6, min_count: int = 2,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Maximal duplicated-substring spans per document.

    Returns (id_col, span_start, span_end, n_windows, span_text) with
    token-index positions (span_end exclusive) and the covered text
    reconstructed from the doc's own tokens.
    """
    spans = _merged_spans(_dup_windows(docs, n, min_count, id_col,
                                       text_col), n)
    toks = docs.select(F.col(id_col).alias("id"),
                       _tokens(text_col).alias("toks"))
    return (spans.join(toks, "id")
            .select(F.col("id").alias(id_col), "span_start", "span_end",
                    "n_windows",
                    F.array_join(
                        F.slice(F.col("toks"), F.col("span_start") + 1,
                                F.col("span_end") - F.col("span_start")),
                        " ").alias("span_text")))


def winnow_fingerprints(docs: DataFrame, k: int = 4, w: int = 5,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every token k-gram, slide a window of w
    consecutive positions, select each window's minimal hash (position
    as tiebreak), and emit the distinct selections. Guarantee: any
    duplicated run of >= w+k-1 tokens shares at least one fingerprint —
    a sparse (density 2/(w+1)) signature robust to where the copy sits.

    Returns (id_col, pos, gram): 0-based token position + md5 of the
    selected k-gram. No UDF: the min-in-window is one windowed ``min``
    over ``gram || zero-padded-pos`` (md5 hex is fixed-width, so string
    order == (hash, pos) order in both engines).

    Scale shape: window generation is per-row codegen; the only shuffle
    is the doc-hash partition for the window pass; DISTINCT on the
    selections is per-doc-bounded (map-side combine collapses the w-fold
    repetition of each selected hash early).
    """
    from .dedup import _ensure_parallelism
    toks = (_ensure_parallelism(docs)
            .select(F.col(id_col).alias("id"),
                    _tokens(text_col).alias("toks")))
    grams = toks.select(
        "id", F.posexplode(_windows(F.col("toks"), k)).alias("start",
                                                             "gram"))
    key = F.concat(F.col("gram"),
                   F.lpad(F.col("start").cast("string"), 10, "0"))
    doc_w = Window.partitionBy("id")
    order_w = Window.partitionBy("id").orderBy("start")
    sel = (grams
           .withColumn("pick",
                       F.min(key).over(order_w.rowsBetween(0, w - 1)))
           # only COMPLETE windows select (starts are dense 0..max, so
           # a window is complete iff it starts <= max_start - (w-1))
           .withColumn("max_start", F.max("start").over(doc_w))
           .filter(F.col("start") <= F.col("max_start") - (w - 1)))
    return (sel.select(
        F.col("id").alias(id_col),
        F.substring("pick", 33, 10).cast("int").alias("pos"),
        F.substring("pick", 1, 32).alias("gram"))
        .distinct())


def winnow_similar_pairs(docs: DataFrame, k: int = 4, w: int = 5,
                         min_shared: int = 2, max_df: int = 1000,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Document pairs sharing >= min_shared winnowing fingerprints — the
    MOSS plagiarism/copy detector as an inverted-index join. Returns
    (id_a, id_b, n_shared) with id_a < id_b.

    Never all-pairs: candidates come from the equi-join on the selected
    gram hash, and grams selected by more than ``max_df`` docs are
    dropped first (a fingerprint shared by everyone is boilerplate, not
    evidence — the same hot-key guard as dedup's MinHash-LSH buckets,
    bounding the per-gram pair fan-out at max_df^2).
    """
    # the selection pass (gram explode + two window functions) feeds the
    # df-count AND both self-join sides — persist it once (repartitioned
    # by gram so the count, the guard join, and the pair join all run on
    # one co-partitioning; the fingerprint table is ~2/(w+1) of the gram
    # table, signature-sized like dedup's minhash sigs, not corpus-sized)
    fp = stage_cache.persist(
        "winnow_fp",
        winnow_fingerprints(docs, k=k, w=w, id_col=id_col,
                            text_col=text_col)
        .select(F.col(id_col).alias("id"), "gram").distinct()
        .repartition("gram"))
    df_cnt = fp.groupBy("gram").agg(F.count("*").alias("df"))
    keep = df_cnt.filter((F.col("df") >= 2) & (F.col("df") <= max_df))
    fp_k = fp.join(keep.select("gram"), "gram")
    pairs = (fp_k.alias("a")
             .join(fp_k.alias("b"),
                   (F.col("a.gram") == F.col("b.gram")) &
                   (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"))
             .agg(F.count("*").cast("bigint").alias("n_shared")))
    return pairs.filter(F.col("n_shared") >= min_shared)


def drop_duplicate_spans(docs: DataFrame, n: int = 6, min_count: int = 2,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Cut every duplicated span out of every document.

    Returns (id_col, text, n_kept, n_dropped) — text is the space-join
    of the surviving tokens (original inter-token whitespace is already
    normalized away by tokenization), counts are tokens. Docs with no
    duplicated spans pass through with n_dropped = 0; empty docs yield
    ''. Mirrors dedup_lines' drop-all-occurrences contract.
    """
    spans = _merged_spans(_dup_windows(docs, n, min_count, id_col,
                                       text_col), n)
    return _cut_spans(docs, spans, id_col, text_col)


def _cut_spans(docs: DataFrame, spans: DataFrame, id_col: str,
               text_col: str) -> DataFrame:
    """Remove span-covered tokens from every doc: per-doc span ARRAY +
    indexed higher-order filter (spans are maximal and disjoint, so the
    array is small); no second explode, no UDF."""
    per_doc = spans.groupBy("id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("sp"))
    toks = docs.select(F.col(id_col).alias("id"),
                       _tokens(text_col).alias("toks"))
    covered = lambda i: F.exists(  # noqa: E731 — inline predicate
        F.col("sp"), lambda p: (i >= p["span_start"]) &
                               (i < p["span_end"]))
    kept = F.filter(F.col("toks"), lambda t, i: ~covered(i))
    return (toks.join(per_doc, "id", "left")
            .withColumn("sp", F.coalesce(
                F.col("sp"), F.array().cast(
                    "array<struct<span_start:int,span_end:int>>")))
            .select(F.col("id").alias(id_col),
                    F.array_join(kept, " ").alias("text"),
                    F.size(kept).cast("bigint").alias("n_kept"),
                    (F.size("toks") - F.size(kept)).cast("bigint")
                    .alias("n_dropped")))


def decontaminate_spans(docs: DataFrame, bench: DataFrame, n: int = 6,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Surgical benchmark decontamination: cut only the spans of ``docs``
    whose token n-grams appear ANYWHERE in the ``bench`` eval set,
    instead of dropping whole documents (curation.contamination_report
    reports; this repairs). Matching is case-insensitive (the
    contamination_report convention); the cut addresses the original
    tokens.

    Returns (id_col, text, n_kept, n_dropped) like drop_duplicate_spans.

    Scale shape: the bench gram set is BROADCAST (eval sets are small by
    construction — if yours is not, it is training data); the corpus
    side is one window-generation pass + broadcast semi join + the
    doc-partitioned span merge. The corpus never shuffles on gram
    strings.
    """
    bench_grams = (bench.select(
        F.explode(_windows(_tokens(text_col), n, lower=True))
        .alias("gram")).distinct())
    from .dedup import _ensure_parallelism
    grams = (_ensure_parallelism(docs)
             .select(F.col(id_col).alias("id"),
                     F.posexplode(_windows(_tokens(text_col), n,
                                           lower=True))
                     .alias("start", "gram")))
    dup = (grams.join(F.broadcast(bench_grams), "gram")
           .select("id", "start"))
    return _cut_spans(docs, _merged_spans(dup, n), id_col, text_col)
