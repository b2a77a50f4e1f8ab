"""Persisted LSH ANN index with wave probes — similarity's analogue of
the dedup family's incremental index (engine/datawork/incremental.py).

A production embedding corpus is hashed and laid out ONCE; query waves
(new documents looking for near neighbors, retrieval probes, dedup
lookups) then touch only the bucket slices they hash into, never the
full corpus. Same lineage as the extraction pipeline's
output-authoritative resume state (reference: batch_pdf_processor.py's
completed-stem skip) — persisted derived state stands in for recompute.

Index layout under ``<path>/`` (the sorted-table rule lives in
engine/datawork/index_store.py):

* ``vectors/`` — (id, v, bucket): the corpus vectors keyed by their
  sign-LSH bucket (``similarity.bucket_expr`` over the frozen
  deterministic planes), a sorted table by bucket so a probe's
  ``bucket IN (...)`` filter prunes parquet row groups via min/max
  statistics instead of scanning the corpus.

Scale contract:

* ``probe_index`` (one query vector, multi-probe): a pushed-down IN
  filter over the sorted layout + a TakeOrdered top-k — ZERO shuffles,
  reads only the P+1 probed buckets' row groups.
* ``probe_index_batch`` (a wave of query vectors): the WAVE is broadcast
  to the bucket-pruned corpus scan, so the corpus is never shuffled;
  only the candidate set (bucket-collision pairs) flows into the
  per-query top-k window.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import stage_cache
from .index_store import broadcast_hint, sub, write_sorted
from .similarity import (bucket_expr, cosine, cosine_topk, lsh_planes, norm,
                         probe_buckets)

VECTORS = "vectors"


def _bucketed(emb: DataFrame, id_col: str, vec_col: str,
              planes: List[List[float]]) -> DataFrame:
    return emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        bucket_expr(F.col(vec_col), planes).alias("bucket"))


def write_ann_index(emb: DataFrame, path: str, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    planes: Optional[List[List[float]]] = None) -> None:
    """Build the persisted index from scratch (mode=overwrite)."""
    write_sorted(_bucketed(emb, id_col, vec_col, planes or lsh_planes()),
                 ["bucket"], sub(path, VECTORS), "overwrite")


def probe_index(spark: SparkSession, path: str, query: Sequence[float],
                k: int = 10, probe_bits: int = 0,
                planes: Optional[List[List[float]]] = None) -> DataFrame:
    """Top-k by cosine among the P+1 probed buckets, straight off the
    persisted layout. Identical results to
    ``similarity.lsh_bucket_topk`` over the indexed corpus (equivalence
    test pins it) — but the corpus text/vector table is never rescanned
    and nothing shuffles: pushed-down IN filter, local top-k merge."""
    planes = planes or lsh_planes()
    probes = probe_buckets(query, planes, probe_bits)
    cand = (spark.read.parquet(sub(path, VECTORS))
            .filter(F.col("bucket").isin(probes)))
    return cosine_topk(cand, query, k, id_col="id", vec_col="v")


#: Query waves above this row count fall back to a shuffle join instead of
#: a forced broadcast: vectors are wide (dim × float), so the cap is lower
#: than the dedup family's row cap — 500k × 64-dim doubles ≈ 256 MB.
#: With no hint, AQE still broadcasts at runtime when the wave is small.
MAX_BROADCAST_QUERIES = 500_000


def probe_index_batch(spark: SparkSession, path: str, queries: DataFrame,
                      k: int = 3, qid_col: str = "vec_id",
                      vec_col: str = "embedding",
                      planes: Optional[List[List[float]]] = None,
                      max_broadcast_queries: int = MAX_BROADCAST_QUERIES
                      ) -> DataFrame:
    """Home-bucket probe for a WAVE of query vectors: broadcast the
    bucketed wave against the pruned corpus scan (corpus is never
    shuffled), exact-cosine verify each collision, keep top-k per query.

    Returns (qid, id, score, rank) — self-matches (same id) excluded so
    indexing a corpus and probing it with itself yields neighbors, not
    identities.

    The wave is censused before broadcasting (VERDICT r5 #3): a wave
    past ``max_broadcast_queries`` joins without the hint — identical
    rows (equivalence test), memory bounded by the shuffle not the
    driver/executor broadcast build.
    """
    planes = planes or lsh_planes()
    qb = stage_cache.persist(
        "ann_probe_qb",
        queries.select(F.col(qid_col).alias("qid"), F.col(vec_col).alias("qv"))
        .withColumn("qbucket", bucket_expr(F.col("qv"), planes))
        .withColumn("qnrm", norm(F.col("qv"))))
    # census = the persist's count (counting the raw query lineage would
    # evaluate it twice — once for the census, once in the join)
    hint = broadcast_hint(
        stage_cache.rows("ann_probe_qb", spark) <= max_broadcast_queries)
    idx = (spark.read.parquet(sub(path, VECTORS))
           .withColumn("nrm", norm(F.col("v"))))
    j = idx.join(hint(qb),
                 (F.col("bucket") == F.col("qbucket"))
                 & (F.col("id") != F.col("qid")))
    scored = j.select(
        "qid", "id",
        cosine(F.col("v"), F.col("nrm"), F.col("qv"), F.col("qnrm"))
        .alias("score"))
    rk = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.col("score").desc(), "id"))
    return (scored.withColumn("rank", rk.cast("int"))
            .filter(F.col("rank") <= k))
