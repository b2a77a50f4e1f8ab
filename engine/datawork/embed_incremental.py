"""Incremental embedding near-dup against a persisted banded-LSH index —
the embedding-space symmetry of engine/datawork/incremental.py (minhash):
a corpus's vectors are signed and bucketed ONCE; each new ingest wave is
near-dup-checked against the index + itself without rescanning corpus
vectors (reference lineage: the output-authoritative resume scans of
batch_pdf_processor.py:2562-2625 — persisted derived state stands in for
recompute).

Index layout under ``<path>/`` (the table rules — sorted tables, count
partials, compaction, the guard and the banded probe — live in
engine/datawork/index_store.py):

* ``vectors/`` — (id, v, nrm, sig): the only vector-derived state, a sorted
  table by id so the candidate-id semi-join on the verify side prunes
  parquet row groups.
* ``buckets/`` — (id, band, bucket): ``bands`` rows per vector, sorted by
  (band, bucket) for the wave's touched-bucket probe.
* ``stats/``   — (band, bucket, cnt), the count partials of ``buckets/``.
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

from pyspark.sql import DataFrame, SparkSession, functions as F

from engine.spark.schema import arrow_frame

from . import index_store, stage_cache
from .incremental import MAX_BROADCAST_ROWS
from .index_store import (BAND_KEYS, broadcast_hint, drop_hot, sub,
                          write_sorted, write_sorted_once)
from .similarity import (LSH_BANDS, LSH_ROWS, _assign_cells, _explode_bands,
                         _shadow_losers, banded_sig_udf, cosine, norm,
                         semdedup_losers)

VECTORS = "vectors"
BUCKETS = "buckets"
STATS = "stats"
LAYOUT = "layout"


def _base(emb: DataFrame, id_col: str, vec_col: str, bands: int,
          rows: int) -> DataFrame:
    """(id, v, nrm, sig) — the signature kernel MUST be similarity's
    (banded_sig_udf, the bitwise-equal Arrow twin of banded_sig_expr) so
    the full-recompute equivalence holds bit-for-bit."""
    return emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nrm"),
        banded_sig_udf(bands, rows)(F.col(vec_col)).alias("sig"))


def read_layout(spark: SparkSession, path: str) -> tuple[int, int]:
    row = spark.read.parquet(sub(path, LAYOUT)).collect()[0]
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
    write_sorted_once(_base(emb, id_col, vec_col, bands, rows), [
        (lambda d: d, ["id"], sub(path, VECTORS), "overwrite")])
    write_sorted(_explode_bands(spark.read.parquet(sub(path, VECTORS)),
                                bands, rows),
                 BAND_KEYS, sub(path, BUCKETS), "overwrite",
                 counts=sub(path, STATS))
    (arrow_frame(spark, [(bands, rows)], "`bands` int, `rows` int")
        .coalesce(1).write.mode("overwrite").parquet(sub(path, LAYOUT)))


def append_to_embedding_index(new_emb: DataFrame, path: str,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> None:
    """Fold an ingested wave in (cost ∝ wave); layout comes from the
    index — a mismatched wave cannot be appended."""
    bands, rows = read_layout(new_emb.sparkSession, path)
    # one signature pass for all three appends
    write_sorted_once(_base(new_emb, id_col, vec_col, bands, rows), [
        (lambda d: d, ["id"], sub(path, VECTORS), "append"),
        (lambda d: _explode_bands(d, bands, rows), BAND_KEYS,
         sub(path, BUCKETS), "append", sub(path, STATS))])


def compact_embedding_index(spark: SparkSession, path: str,
                            target_bytes: int = 128 * 1024 * 1024) -> dict:
    """Same maintenance contract as incremental.compact_index."""
    return index_store.compact(
        spark, path, {VECTORS: ["id"], BUCKETS: BAND_KEYS},
        {STATS: BAND_KEYS}, target_bytes)


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
CSTATS = "cstats"    # (cell, cnt) member counts (combined max_cluster)
LOSERS = "losers"    # (id) — corpus docs already SemDeDup-dropped (see
                     # write_semantic_index; retroactive probes exclude them)
LOSERS_AT = "losers_at"  # one row (threshold): losers/'s threshold, NULL
                         # when the index keeps no losers/


def _semantic_assign(emb: DataFrame, cent: DataFrame, id_col: str,
                     vec_col: str) -> DataFrame:
    """(id, v, nrm, cell, ccos) — THE assignment kernel
    (similarity._assign_cells at nprobe=1), so index rows and full
    recomputes rank identically."""
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                      norm(F.col(vec_col)).alias("nrm"))
    return _assign_cells(base, cent, keep_score=True)


def _losers_threshold(spark: SparkSession, path: str) -> float | None:
    return spark.read.parquet(sub(path, LOSERS_AT)).first()["threshold"]


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
    natural byproduct of deduping a corpus before shipping it. The
    threshold is frozen into the index (``losers_at/``), the way
    ``layout/`` freezes the LSH layout: probes are checked against it."""
    spark = emb.sparkSession
    (centroids.select("cell", "cv").coalesce(1)
              .write.mode("overwrite").parquet(sub(path, CELLS)))
    cent = spark.read.parquet(sub(path, CELLS))
    write_sorted_once(_semantic_assign(emb, cent, id_col, vec_col), [
        (lambda d: d.select("id", "cell", F.col("ccos").alias("pcos")),
         ["cell"], sub(path, MEMBERS), "overwrite", sub(path, CSTATS)),
        (lambda d: d.select("id", "v", "nrm"),
         ["id"], sub(path, VECTORS), "overwrite")])
    (arrow_frame(spark, [(losers_threshold,)], "threshold double")
        .coalesce(1).write.mode("overwrite").parquet(sub(path, LOSERS_AT)))
    if losers_threshold is not None:
        (semdedup_losers(emb, threshold=losers_threshold, centroids=cent,
                         id_col=id_col, vec_col=vec_col)
         .select("id").write.mode("overwrite").parquet(sub(path, LOSERS)))


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
    cent = spark.read.parquet(sub(index_path, CELLS))
    wave = stage_cache.checkpoint(
        "sem_wave", _semantic_assign(new_emb, cent, id_col, vec_col))
    n_wave = wave.count()
    hint = broadcast_hint(n_wave <= max_broadcast_rows)

    touched = wave.select("cell").distinct()
    cmem = (spark.read.parquet(sub(index_path, MEMBERS))
            .join(hint(touched), "cell", "left_semi"))
    if restrict is not None:
        wave, cmem = restrict(wave, cmem, hint)
    cvec = (spark.read.parquet(sub(index_path, VECTORS))
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
        return drop_hot(wave, cmem, sub(index_path, CSTATS), ["cell"],
                        max_cluster, hint)

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
    to this ``threshold`` (``ValueError`` otherwise)."""
    stored = _losers_threshold(new_emb.sparkSession, index_path)
    if stored != threshold:
        raise ValueError(f"index losers/ was built at threshold {stored}, "
                         f"probe asked for {threshold}")

    def drop_old_losers(wave, cmem, hint):
        return wave, cmem.join(
            wave.sparkSession.read.parquet(sub(index_path, LOSERS)),
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
    bands, rows = read_layout(new_emb.sparkSession, index_path)
    wave = stage_cache.checkpoint(
        "embincr_wave", _base(new_emb, id_col, vec_col, bands, rows))
    return index_store.banded_wave_probe(
        wave, lambda w: _explode_bands(w, bands, rows), index_path, VECTORS,
        ["v", "nrm"], "embincr", max_bucket, max_broadcast_rows, "cosine",
        lambda a, b: cosine(a("v"), a("nrm"), b("v"), b("nrm")), threshold)
