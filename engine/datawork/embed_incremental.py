"""Incremental embedding near-dup against a persisted banded-LSH index —
the embedding-space symmetry of engine/datawork/incremental.py (minhash):
a corpus's vectors are signed and bucketed ONCE; each new ingest wave is
near-dup-checked against the index + itself without rescanning corpus
vectors (reference lineage: the output-authoritative resume scans of
batch_pdf_processor.py:2562-2625 — persisted derived state stands in for
recompute).

Index layout under ``<path>/``:

* ``vectors/`` — (id, v, nrm, sig): the only vector-derived state, written
  range-partitioned + sorted by id so the candidate-id semi-join on the
  verify side prunes parquet row groups.
* ``buckets/`` — (id, band, bucket): ``bands`` rows per vector, sorted by
  (band, bucket) for the wave's touched-bucket probe.
* ``stats/``   — (band, bucket, cnt) ADDITIVE partials (readers SUM).
* ``layout/``  — one row (bands, rows): the signature layout is FROZEN at
  write time; append/probe read it back, so a caller cannot silently
  probe a 24×4 index with a 16×8 wave.

Exactness contract (same shape as the minhash module): the pair set of
``incremental_embedding_pairs(wave, path)`` equals
``similarity.cosine_pairs_above(old ∪ new, bucketed=True)`` — with the
same pinned layout and the hot-bucket guard computed on COMBINED
occupancy — restricted to pairs with ≥1 wave member. The equivalence
tests and the DuckDB oracle pin it.

Scale contract: per-wave cost ∝ wave. The corpus is touched only through
wave-driven semi-joins (touched buckets, candidate ids); wave-side
broadcasts are censused and fall back to shuffle joins past
``max_broadcast_rows`` (the r6 guard pattern, see incremental.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import stage_cache
from .incremental import MAX_BROADCAST_ROWS
from .similarity import (LSH_BANDS, LSH_ROWS, _assign_cells, _explode_bands,
                         _shadow_losers, banded_sig_udf, cosine, norm,
                         semdedup_losers)

VECTORS = "vectors"
BUCKETS = "buckets"
STATS = "stats"
LAYOUT = "layout"


def _sub(path: str, name: str) -> str:
    return os.path.join(path, name)


def _base(emb: DataFrame, id_col: str, vec_col: str, bands: int,
          rows: int) -> DataFrame:
    """(id, v, nrm, sig) — the signature kernel MUST be similarity's
    (banded_sig_udf, the bitwise-equal Arrow twin of banded_sig_expr) so
    the full-recompute equivalence holds bit-for-bit."""
    return emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nrm"),
        banded_sig_udf(bands, rows)(F.col(vec_col)).alias("sig"))


def _write_sorted_once(df: DataFrame, writes: list) -> None:
    """Materialize an expensive projection ONCE (persist + count), then
    run each (project, sort_cols, path, mode) range-write off the cache.

    Why: ``repartitionByRange`` runs a boundary-sampling job over its
    child and then the real exchange — an unpersisted child pays the
    projection 2-3×. For the 256-plane signature this was measured at
    88k vectors: plain write 136 s, naive range write 375 s; cached
    range write pays the projection once. The cache is released before
    returning."""
    df = df.persist()
    df.count()  # materializes every column into the cache exactly once
    try:
        for project, sort_cols, path, mode in writes:
            (project(df).repartitionByRange(*sort_cols)
             .sortWithinPartitions(*sort_cols)
             .write.mode(mode).parquet(path))
    finally:
        df.unpersist()


def read_layout(spark: SparkSession, path: str) -> tuple[int, int]:
    row = spark.read.parquet(_sub(path, LAYOUT)).collect()[0]
    return int(row["bands"]), int(row["rows"])


def write_embedding_index(emb: DataFrame, path: str,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          bands: int = LSH_BANDS,
                          rows: int = LSH_ROWS) -> None:
    """Build from scratch (mode=overwrite). vectors/ is written first and
    read back to derive buckets/stats — the sign computation (bands·rows
    plane dots per vector) runs exactly once."""
    spark = emb.sparkSession
    base = _base(emb, id_col, vec_col, bands, rows)
    _write_sorted_once(base, [
        (lambda d: d, ["id"], _sub(path, VECTORS), "overwrite")])
    base_r = spark.read.parquet(_sub(path, VECTORS))
    buckets = _explode_bands(base_r, bands, rows)
    (buckets.repartitionByRange("band", "bucket")
            .sortWithinPartitions("band", "bucket")
            .write.mode("overwrite").parquet(_sub(path, BUCKETS)))
    (spark.read.parquet(_sub(path, BUCKETS))
        .groupBy("band", "bucket").agg(F.count("*").alias("cnt"))
        .write.mode("overwrite").parquet(_sub(path, STATS)))
    (spark.createDataFrame([(bands, rows)], "`bands` int, `rows` int")
        .coalesce(1).write.mode("overwrite").parquet(_sub(path, LAYOUT)))


def append_to_embedding_index(new_emb: DataFrame, path: str,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> None:
    """Fold an ingested wave in (cost ∝ wave); layout comes from the
    index — a mismatched wave cannot be appended."""
    spark = new_emb.sparkSession
    bands, rows = read_layout(spark, path)
    base = _base(new_emb, id_col, vec_col, bands, rows).persist()
    try:
        base.count()  # one signature pass for all three appends
        (base.repartitionByRange("id").sortWithinPartitions("id")
             .write.mode("append").parquet(_sub(path, VECTORS)))
        buckets = _explode_bands(base, bands, rows)
        (buckets.repartitionByRange("band", "bucket")
                .sortWithinPartitions("band", "bucket")
                .write.mode("append").parquet(_sub(path, BUCKETS)))
        (buckets.groupBy("band", "bucket").agg(F.count("*").alias("cnt"))
            .write.mode("append").parquet(_sub(path, STATS)))
    finally:
        base.unpersist()


def compact_embedding_index(spark: SparkSession, path: str,
                            target_bytes: int = 128 * 1024 * 1024) -> dict:
    """Same maintenance contract as incremental.compact_index."""
    from engine.spark.sinks import atomic_rewrite, compact_sorted_parquet

    out = {}
    out[VECTORS] = compact_sorted_parquet(
        spark, _sub(path, VECTORS), ["id"], target_bytes)
    out[BUCKETS] = compact_sorted_parquet(
        spark, _sub(path, BUCKETS), ["band", "bucket"], target_bytes)
    folded = (spark.read.parquet(_sub(path, STATS))
              .groupBy("band", "bucket")
              .agg(F.sum("cnt").cast("bigint").alias("cnt")))
    out[STATS] = atomic_rewrite(
        _sub(path, STATS),
        lambda tmp: (folded.repartitionByRange(1, "band", "bucket")
                     .sortWithinPartitions("band", "bucket")
                     .write.mode("overwrite").parquet(tmp)))
    return out


# ---------------------------------------------------------------------------
# Semantic (SemDeDup) index: k-means cells instead of LSH bands. A frozen
# codebook + per-member centroid-cosine rank persisted once; a wave is
# assigned against the codebook and SemDeDup-pruned against index + itself.
# Codebook provenance is orthogonal to the probe (production trains it
# offline on a sample and refreshes it out of band) — the exactness
# contract is relative to WHATEVER codebook the index froze.
# ---------------------------------------------------------------------------

CELLS = "cells"      # (cell, cv) — the frozen codebook
MEMBERS = "members"  # (id, cell, pcos) — sorted by cell (touched-cell probe)
CSTATS = "cstats"    # (cell, cnt) additive partials (combined max_cluster)
LOSERS = "losers"    # (id) — corpus docs already SemDeDup-dropped (see
                     # write_semantic_index; retroactive probes exclude them)


def _semantic_assign(emb: DataFrame, cent: DataFrame, id_col: str,
                     vec_col: str) -> DataFrame:
    """(id, v, nrm, cell, ccos) — THE assignment kernel
    (similarity._assign_cells at nprobe=1), so index rows and full
    recomputes rank identically."""
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                      norm(F.col(vec_col)).alias("nrm"))
    return _assign_cells(base, cent, keep_score=True)


def write_semantic_index(emb: DataFrame, path: str, centroids: DataFrame,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         losers_threshold: float | None = None) -> None:
    """Build from scratch: freeze ``centroids`` (cell, cv) into the index,
    assign every corpus vector, persist members (cell-sorted), vectors
    (id-sorted) and per-cell stats partials.

    ``losers_threshold`` additionally runs SemDeDup over the corpus itself
    at build time and persists the dropped ids as ``losers/`` — the
    exclusion set ``retroactive_wave_losers`` needs (a corpus doc that
    already lost cannot "newly" lose to a wave). One-time build cost, the
    natural byproduct of deduping a corpus before shipping it."""
    spark = emb.sparkSession
    (centroids.select("cell", "cv").coalesce(1)
              .write.mode("overwrite").parquet(_sub(path, CELLS)))
    cent = spark.read.parquet(_sub(path, CELLS))
    asg = _semantic_assign(emb, cent, id_col, vec_col)
    _write_sorted_once(asg, [
        (lambda d: d.select("id", "cell", F.col("ccos").alias("pcos")),
         ["cell"], _sub(path, MEMBERS), "overwrite"),
        (lambda d: d.select("id", "v", "nrm"),
         ["id"], _sub(path, VECTORS), "overwrite")])
    (spark.read.parquet(_sub(path, MEMBERS))
        .groupBy("cell").agg(F.count("*").alias("cnt"))
        .write.mode("overwrite").parquet(_sub(path, CSTATS)))
    if losers_threshold is not None:
        (semdedup_losers(emb, threshold=losers_threshold, centroids=cent,
                         id_col=id_col, vec_col=vec_col)
         .select("id").write.mode("overwrite").parquet(_sub(path, LOSERS)))


def append_to_semantic_index(new_emb: DataFrame, path: str,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> None:
    """Fold a processed wave in (cost ∝ wave); assignment uses the FROZEN
    codebook — appending never re-trains."""
    spark = new_emb.sparkSession
    cent = spark.read.parquet(_sub(path, CELLS))
    asg = _semantic_assign(new_emb, cent, id_col, vec_col).persist()
    try:
        asg.count()  # one assignment pass for all three appends
        (asg.select("id", "cell", F.col("ccos").alias("pcos"))
            .repartitionByRange("cell").sortWithinPartitions("cell")
            .write.mode("append").parquet(_sub(path, MEMBERS)))
        (asg.select("id", "v", "nrm")
            .repartitionByRange("id").sortWithinPartitions("id")
            .write.mode("append").parquet(_sub(path, VECTORS)))
        (asg.groupBy("cell").agg(F.count("*").alias("cnt"))
            .write.mode("append").parquet(_sub(path, CSTATS)))
    finally:
        asg.unpersist()


def _open_wave_probe(new_emb: DataFrame, index_path: str, id_col: str,
                     vec_col: str, max_broadcast_rows: int, restrict=None
                     ) -> tuple[DataFrame, DataFrame]:
    """The opening both SemDeDup wave probes share: assign the wave against
    the frozen codebook (checkpointed), census it for the broadcast hint,
    read the indexed members of the wave's touched cells, let
    ``restrict(wave, members, hint) -> (wave, members)`` trim either side,
    then fetch the surviving members' vectors by id (id-sorted layout →
    row-group pruning; volume ∝ touched-cell population).

    Returns (wave_side, corpus_side), both (id, cell, pcos, v, nrm) —
    the shape ``similarity._shadow_losers`` joins."""
    spark = new_emb.sparkSession
    cent = spark.read.parquet(_sub(index_path, CELLS))
    wave = stage_cache.checkpoint(
        "sem_wave", _semantic_assign(new_emb, cent, id_col, vec_col))
    n_wave = wave.count()
    hint = F.broadcast if n_wave <= max_broadcast_rows else (lambda df: df)

    touched = wave.select("cell").distinct()
    cmem = (spark.read.parquet(_sub(index_path, MEMBERS))
            .join(hint(touched), "cell", "left_semi"))
    if restrict is not None:
        wave, cmem = restrict(wave, cmem, hint)
    cvec = (spark.read.parquet(_sub(index_path, VECTORS))
            .join(hint(cmem.select("id")), "id", "left_semi"))
    corpus_side = (cmem.join(cvec, "id")
                   .select("id", "cell", "pcos", "v", "nrm"))
    wave_side = wave.select("id", "cell", F.col("ccos").alias("pcos"),
                            "v", "nrm")
    return wave_side, corpus_side


def semdedup_wave_losers(new_emb: DataFrame, index_path: str,
                         threshold: float = 0.95,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         max_cluster: int | None = None,
                         max_broadcast_rows: int = MAX_BROADCAST_ROWS
                         ) -> DataFrame:
    """SemDeDup pruning decision for THE WAVE against a frozen-codebook
    index: a wave doc is dropped iff some same-cell mate (indexed corpus
    OR wave) precedes it in the GLOBAL keep order (centroid-cosine ASC,
    id ASC — the r5 lesson: per-cell ranks over-delete) with pairwise
    cosine ≥ threshold. Returns (id, cell, kept_id, cosine), kept_id =
    the loser's first shadower in keep order — EXACTLY
    ``semdedup_losers(old ∪ new, centroids=<frozen>, nprobe=1)``
    restricted to wave ids (equivalence test + oracle pin it). Corpus
    docs are never re-dropped here: canon already shipped; the wave is
    what's being filtered.

    ``max_cluster`` uses COMBINED occupancy (persisted cstats + wave
    counts), mirroring the LSH hot-bucket guard. Wave-side broadcasts are
    censused with the same fallback as incremental_embedding_pairs."""
    def drop_big(wave, cmem, hint):
        touched = wave.select("cell").distinct()
        old_cnt = (wave.sparkSession.read.parquet(_sub(index_path, CSTATS))
                   .join(hint(touched), "cell", "left_semi")
                   .groupBy("cell").agg(F.sum("cnt").alias("old_cnt")))
        new_cnt = wave.groupBy("cell").agg(F.count("*").alias("new_cnt"))
        big = (new_cnt.join(old_cnt, "cell", "left_outer")
               .withColumn("cnt", F.coalesce("old_cnt", F.lit(0))
                           + F.col("new_cnt"))
               .filter(F.col("cnt") > max_cluster).select("cell"))
        return (wave.join(hint(big), "cell", "left_anti"),
                cmem.join(hint(big), "cell", "left_anti"))

    wave_side, corpus_side = _open_wave_probe(
        new_emb, index_path, id_col, vec_col, max_broadcast_rows,
        drop_big if max_cluster is not None else None)
    return _shadow_losers(wave_side.unionByName(corpus_side), wave_side,
                          threshold)


def retroactive_wave_losers(new_emb: DataFrame, index_path: str,
                            threshold: float = 0.95,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            max_broadcast_rows: int = MAX_BROADCAST_ROWS
                            ) -> DataFrame:
    """The other direction of ``semdedup_wave_losers``: CORPUS docs a wave
    NEWLY outranks — for consumers that can revoke shipped data (a corpus
    doc that keeps its slot under the no-revocation policy still stops
    being canon once a better-ranked wave doc lands).

    A corpus doc newly loses iff it had NO shadower inside the old corpus
    (else it is in the persisted ``losers/`` exclusion set) and ≥1 wave
    doc in its cell precedes it in the global keep order with pairwise
    cosine ≥ threshold — in which case ALL its shadowers are wave docs,
    so its kept_id under the full recompute is exactly the first wave
    shadower this probe sees. Contract:
    ``retroactive == (losers(old ∪ new) − losers(old)) ∩ corpus`` with
    identical (kept_id, cosine) — equivalence test + oracle pin it.
    Requires the index to have been built with ``losers_threshold`` equal
    to this ``threshold``."""
    def drop_old_losers(wave, cmem, hint):
        return wave, cmem.join(
            wave.sparkSession.read.parquet(_sub(index_path, LOSERS)),
            "id", "left_anti")

    wave_side, corpus_side = _open_wave_probe(
        new_emb, index_path, id_col, vec_col, max_broadcast_rows,
        drop_old_losers)
    return _shadow_losers(wave_side, corpus_side, threshold)


def incremental_embedding_pairs(new_emb: DataFrame, index_path: str,
                                threshold: float = 0.95,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                max_bucket: int | None = None,
                                max_broadcast_rows: int = MAX_BROADCAST_ROWS
                                ) -> DataFrame:
    """Exact-cosine near-dup pairs ≥ threshold TOUCHING the wave:
    wave×corpus + wave×wave, equal to ``cosine_pairs_above(old ∪ new,
    bucketed=True, rows=<index layout>, max_bucket=max_bucket)`` filtered
    to pairs with ≥1 wave member. Returns (id_a, id_b, cosine, origin)
    with id_a < id_b, origin ∈ {'new_new', 'new_old'}.

    ``max_bucket`` is the combined-occupancy guard: a band-bucket whose
    persisted + wave population exceeds it is dropped from candidate
    generation on BOTH sides — exactly what the full recompute's guard
    would do, so exactness survives the cap."""
    spark = new_emb.sparkSession
    bands, rows = read_layout(spark, index_path)
    wave = stage_cache.checkpoint(
        "embincr_wave", _base(new_emb, id_col, vec_col, bands, rows))
    # pre-partitioned by (band, bucket) so the occupancy aggregate and both
    # candidate joins reuse the cache's partitioning (no extra Exchange)
    b_new = stage_cache.persist(
        "embincr_b_new",
        _explode_bands(wave, bands, rows).repartition("band", "bucket"))

    # the persist's count: _explode_bands emits exactly ``bands`` rows/vector,
    # so it IS n_wave·bands — the broadcast-size variable
    bcast_ok = stage_cache.rows("embincr_b_new", spark) <= max_broadcast_rows
    hint = F.broadcast if bcast_ok else (lambda df: df)

    touched = b_new.select("band", "bucket").distinct()
    corpus_buckets = (spark.read.parquet(_sub(index_path, BUCKETS))
                      .join(hint(touched), ["band", "bucket"], "left_semi"))

    if max_bucket is not None:
        corpus_stats = (spark.read.parquet(_sub(index_path, STATS))
                        .join(hint(touched), ["band", "bucket"], "left_semi")
                        .groupBy("band", "bucket")
                        .agg(F.sum("cnt").alias("old_cnt")))
        new_cnt = (b_new.groupBy("band", "bucket")
                   .agg(F.count("*").alias("new_cnt")))
        hot = (new_cnt.join(corpus_stats, ["band", "bucket"], "left_outer")
               .withColumn("cnt", F.coalesce("old_cnt", F.lit(0))
                           + F.col("new_cnt"))
               .filter(F.col("cnt") > max_bucket).select("band", "bucket"))
        b_new = b_new.join(hint(hot), ["band", "bucket"], "left_anti")
        corpus_buckets = corpus_buckets.join(hint(hot), ["band", "bucket"],
                                             "left_anti")

    nn = (b_new.alias("a")
          .join(b_new.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")))
          .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")))
    no = (b_new.alias("w")
          .join(corpus_buckets.alias("c"),
                (F.col("w.band") == F.col("c.band"))
                & (F.col("w.bucket") == F.col("c.bucket")))
          .select(F.least(F.col("w.id"), F.col("c.id")).alias("id_a"),
                  F.greatest(F.col("w.id"), F.col("c.id")).alias("id_b")))
    cand = nn.unionByName(no).distinct()
    # cand feeds five subtrees of the verify plan (both verify joins plus
    # both arms of the id semi-join) — store the wave-proportional set so
    # AQE materializes the nn/no/distinct lineage once, not per consumer
    # (the incremental.py probe lesson)
    cand = stage_cache.checkpoint("embincr_cand", cand)

    # exact-cosine verify: corpus vectors read ONLY for candidate ids
    # (id-sorted layout → row-group pruning); wave membership rides the
    # union as a column, so origin tagging costs zero extra joins
    cand_ids = (cand.select(F.col("id_a").alias("id"))
                .unionByName(cand.select(F.col("id_b").alias("id")))
                .distinct())
    corpus_vecs = (spark.read.parquet(_sub(index_path, VECTORS))
                   .join(hint(cand_ids), "id", "left_semi"))
    vecs = (wave.select("id", "v", "nrm").withColumn("_new", F.lit(True))
            .unionByName(corpus_vecs.select("id", "v", "nrm")
                         .withColumn("_new", F.lit(False))))
    va = vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                     F.col("nrm").alias("na"), F.col("_new").alias("a_new"))
    vb = vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                     F.col("nrm").alias("nb"), F.col("_new").alias("b_new"))
    return (cand.join(va, "id_a").join(vb, "id_b")
            .select("id_a", "id_b",
                    cosine(F.col("va"), F.col("na"), F.col("vb"), F.col("nb"))
                     .alias("cosine"),
                    F.when(F.col("a_new") & F.col("b_new"),
                           F.lit("new_new")).otherwise(F.lit("new_old"))
                     .alias("origin"))
            .filter(F.col("cosine") >= threshold))
