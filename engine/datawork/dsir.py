"""DSIR-style data selection (Xie et al. 2023, "Data Selection for
Language Models via Importance Resampling", arXiv:2302.03169): pick the
raw-corpus documents whose hashed-n-gram distribution looks most like a
TARGET corpus, by importance weighting under two bag-of-hashed-ngrams
unigram models.

Per document x with hashed-gram occurrences g₁..gₘ (unigrams + bigrams,
hashed into B buckets as ``textstats.md5_u32(g) % B``, the feature hash the
quality classifier's ``qc_bucket`` uses too):

    logw(x) = Σᵢ [ ln((ct[b(gᵢ)]+1)/(Nt+B)) − ln((cr[b(gᵢ)]+1)/(Nr+B)) ]

where ct/cr are target/raw bucket counts and Nt/Nr their totals (add-one
smoothing over the B buckets). Positive = looks more target-like than
raw-like. Selection here is the DETERMINISTIC top-k by (logw DESC, id)
rather than the paper's Gumbel-perturbed resampling — sampled floats are
not reproducible across engines, and at corpus scale top-k and
importance-resampling-without-replacement converge; the deviation is
intentional and documented.

Scale shape: the model side collapses to TWO B-row count tables (B=4096
default) — a map-side-combined aggregate each, then a broadcast of the
joined per-bucket log-ratio table. The per-doc score is ONE pass over the
raw corpus' grams joined broadcast on an int key and aggregated by doc:
no corpus-sized shuffle on gram strings at any point (contrast tfidf's
string-keyed join). Selection is TakeOrdered, not a global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from . import stage_cache
from .textstats import md5_u32, nonblank, word_ngrams, words

DSIR_BUCKETS = 4096


def _grams(text_col: str) -> Column:
    """A doc's feature grams, OCCURRENCES kept (no per-doc distinct — DSIR's
    feature vector is a count vector): word unigrams + bigrams over
    whitespace-split lowered text."""
    w = words(F.col(text_col))
    return F.concat(w, word_ngrams(w, 2))


def _gram_occurrences(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, gram) per ``_grams`` occurrence. Empty/whitespace docs emit
    nothing."""
    return (df.filter(nonblank(F.col(text_col)))
            .select(F.col(id_col).alias("id"),
                    F.explode(_grams(text_col)).alias("gram")))


def dsir_weights(raw: DataFrame, target: DataFrame,
                 id_col: str = "doc_id", text_col: str = "text",
                 buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Per-raw-doc importance weight: (id_col, n_grams, log_weight).

    Docs with no grams (empty text) get NULL n_grams/log_weight — no
    evidence either way, the caller decides (same contract as
    ``corpus.unigram_logprob``). ``log_weight`` is rounded to 6 decimals
    AFTER the per-doc sum, the established engine-exactness pattern for
    double reductions.
    """
    from .dedup import _ensure_parallelism
    # the raw gram stream feeds BOTH the model counts and the scoring —
    # persist the bucketed stream (two ints/row) in a bounded cache entry
    # so the explode+md5 runs once per job; uncached (evicted) the plan
    # recomputes, which is the same two-pass shape and still never
    # shuffles grams. An alternative one-pass spelling (aggregate by
    # (id, bucket) first) was measured: it trades the recompute for a
    # ~buckets-per-doc× LARGER shuffle — strictly worse at corpus scale,
    # since this shape's shuffles are only the map-combined 4096-row
    # model counts and the per-doc aggregate.
    # OUTER explode: empty docs ride the scoring aggregate as a null-
    # bucket row — re-joining back to ``raw`` to restore them would cost
    # a corpus×corpus sort-merge join
    grams = F.when(nonblank(F.col(text_col)), _grams(text_col))
    bstream = stage_cache.persist(
        "dsir_raw_buckets",
        _ensure_parallelism(raw)
        .select(F.col(id_col).alias("id"),
                F.explode_outer(grams).alias("gram"))
        .select("id", F.when(F.col("gram").isNotNull(),
                             md5_u32(F.col("gram")) % buckets).alias("b")))
    live = bstream.filter(F.col("b").isNotNull())
    cr = live.groupBy("b").agg(F.count("*").alias("cr"))
    nr = live.agg(F.count("*").alias("nr"))
    btgt = (_gram_occurrences(target, id_col, text_col)
            .select((md5_u32(F.col("gram")) % buckets).alias("b")))
    ct = btgt.groupBy("b").agg(F.count("*").alias("ct"))
    nt = btgt.agg(F.count("*").alias("nt"))
    llr = (F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1)
                 / (F.col("nt") + F.lit(buckets)))
           - F.log((F.coalesce(F.col("cr"), F.lit(0)) + 1)
                   / (F.col("nr") + F.lit(buckets))))
    lam = (ct.join(cr, "b", "full_outer")
           .crossJoin(F.broadcast(nt)).crossJoin(F.broadcast(nr))
           .select("b", llr.alias("llr")))
    n = F.col("_n")
    return (bstream.join(F.broadcast(lam), "b", "left")
            .groupBy("id")
            .agg(F.count("b").cast("bigint").alias("_n"),
                 F.sum("llr").alias("_s"))
            .select(F.col("id").alias(id_col),
                    F.when(n > 0, n).alias("n_grams"),
                    F.when(n > 0, F.round(F.col("_s"), 6))
                     .alias("log_weight")))


def dsir_select(raw: DataFrame, target: DataFrame, budget: int,
                id_col: str = "doc_id", text_col: str = "text",
                buckets: int = DSIR_BUCKETS) -> DataFrame:
    """The ``budget`` most-target-like raw docs, deterministic:
    orderBy(log_weight DESC, id) + limit = TakeOrdered on the executors,
    never a global sort. NULL-weight (empty) docs are never selected."""
    w = dsir_weights(raw, target, id_col, text_col, buckets)
    return (w.filter(F.col("log_weight").isNotNull())
            .orderBy(F.col("log_weight").desc(), F.col(id_col))
            .limit(budget))
