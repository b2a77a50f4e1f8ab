"""fastText-style hashed linear quality classifier (frozen weights).

The standard cheap "looks like good text" model in pretraining pipelines
(CCNet / LLaMA lineage): a linear classifier over hashed bag-of-tokens
features. Here the committed weight table (``data/qc_weights.tsv``,
trained by ``tools/train_qc.py`` — deterministic full-batch logistic
regression distilling the repo's own Gopher/C4 ``pass_quality``
predicate into a dense score) ships with the job the way the BPE merges
table does, so inference needs no model runtime.

Per document with token occurrences t₁..tₙ (whitespace-split lowered):

    margin = round(bias + (Σᵢ w[bucket(tᵢ)]) / n, 6)
    score  = round(1 / (1 + exp(-margin)), 6)

bucket() is ``qc_bucket``: ``textstats.md5_u32(t) % 1024``, the feature
hash DSIR buckets its grams with too. The weight sum is EXACT BIGINT
arithmetic: weights are 6-decimal literals, so w·10⁶ rounds to an exact
integer in every engine and the per-doc reduction is
(bias_µ·n + Σ w_µ) / (n·10⁶) — one correctly-rounded double division,
partition-order-independent (a plain double sum straddled the 1e-6
rounding boundary on 4/500 docs; the temperature_sample lesson). The
margin is rounded BEFORE the sigmoid so exp() sees the same input
everywhere.

Scale shape: the model is a 1024-row broadcast; scoring is one token
explode + broadcast join on an int key + per-doc aggregate — no
vocabulary-sized shuffle, no UDF, whole-stage codegen throughout.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from engine.spark.schema import arrow_frame

from .textstats import md5_u32, nonblank, words

QC_BUCKETS = 1024
_REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
DEFAULT_QC_WEIGHTS = os.path.join(_REPO, "data", "qc_weights.tsv")


def qc_bucket(col: Column, buckets: int = QC_BUCKETS) -> Column:
    """Token bucket in [0, buckets) — must match tools/train_qc.py's
    feature hashing exactly."""
    return md5_u32(col) % buckets


def load_qc_weights(spark: SparkSession,
                    path: str | None = None) -> DataFrame:
    """(bucket, weight) rows; bucket = -1 carries the bias.

    Read DRIVER-side with plain ``open`` and shipped to executors as a
    literal DataFrame (the BPE-merges pattern): ``spark.read.csv`` of a
    driver-local path works in local mode but on a cluster asks every
    executor for a file only the submitted checkout has — a 1,025-row
    model table has no business being a distributed read anyway."""
    rows = []
    with open(path or DEFAULT_QC_WEIGHTS) as f:
        header = f.readline()
        assert header.strip() == "bucket\tweight", "bad weights header"
        for line in f:
            b, w = line.rstrip("\n").split("\t")
            rows.append((int(b), float(w)))
    return arrow_frame(spark, rows, "bucket int, weight double")


def classifier_scores(docs: DataFrame, weights: DataFrame,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(id_col, n_tokens, margin, score) per doc. Empty/whitespace docs
    get NULLs — no tokens, no evidence (the family-wide contract).

    Empty docs ride the SAME aggregate as everyone else (explode_outer
    of a null token array → one null-term row, count("term") = 0) — the
    family's older re-join-to-docs shape costs a corpus×corpus sort-merge
    join just to restore them, which is a whole extra shuffle at scale.
    The plan here is: scan → broadcast weight join → one hash aggregate."""
    toks = F.when(nonblank(F.col(text_col)), words(F.col(text_col)))
    tok = docs.select(F.col(id_col).alias("id"),
                      F.explode_outer(toks).alias("term"))
    micro = lambda c: F.round(c * 1000000).cast("long")  # noqa: E731
    wb = (weights.filter(F.col("bucket") >= 0)
          .select("bucket", micro(F.col("weight")).alias("w_u")))
    bias = (weights.filter(F.col("bucket") == -1)
            .select(micro(F.col("weight")).alias("b_u")))
    n = F.col("_n")
    margin = F.round((F.col("b_u") * n + F.col("_sw"))
                     / (n * F.lit(1000000.0)), 6)
    return (tok.withColumn("bucket", qc_bucket(F.col("term")))
            .join(F.broadcast(wb), "bucket", "left")
            .groupBy("id")
            .agg(F.count("term").cast("bigint").alias("_n"),
                 F.sum("w_u").alias("_sw"))
            .crossJoin(F.broadcast(bias))
            .withColumn("n_tokens", F.when(n > 0, n))
            .withColumn("margin", F.when(n > 0, margin))
            .withColumn("score", F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))), 6))
            .select(F.col("id").alias(id_col), "n_tokens", "margin",
                    "score"))
