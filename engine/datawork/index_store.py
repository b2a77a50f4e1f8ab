"""The persisted-index layout: the one place that knows how a datawork index
table is written, folded, compacted and probed. The MinHash index
(incremental.py), the embedding-LSH and semantic indexes
(embed_incremental.py) and the ANN index (ann_index.py) spell their tables
through it, so the incremental probes' exactness contract ("equal to a full
recompute over old ∪ new") rests on one copy of each rule:

* **sorted table** — range-partitioned + sorted by its probe keys, so a
  wave's semi-join prunes parquet row groups by min/max statistics. An
  append adds files that are each sorted within themselves.
* **count table** — (keys..., cnt) ADDITIVE partials of a sorted table:
  merging counters in place would rewrite a corpus-sized table per wave, so
  writers add one row per key per wave and readers sum. A build derives
  the counts from the table it just wrote (read back); an append derives
  them from the wave's in-memory frame.
* **compaction** — each sorted table back to one global range-sorted
  layout, each count table folded to one row per key, atomically per table
  (``sinks.compact_sorted_parquet``, which recovers a stranded table first).
* **combined-occupancy guard** — a key whose persisted + wave count exceeds
  the cap is dropped on BOTH sides: exactly the keys a full recompute over
  old ∪ new drops.
* **banded wave probe** — the (band, bucket) candidate generation and
  verify join both banded indexes share; only the item table and the score
  differ.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import stage_cache

BAND_KEYS = ["band", "bucket"]


def sub(path: str, name: str) -> str:
    return os.path.join(path, name)


def broadcast_hint(ok: bool):
    """``F.broadcast`` when the wave-side relation passed its census, else
    no hint: AQE may still broadcast at runtime if it turns out small."""
    return F.broadcast if ok else (lambda df: df)


def write_sorted(df: DataFrame, keys: list, path: str, mode: str,
                 counts: str | None = None) -> None:
    """Write ``df`` as a sorted table at ``path``; with ``counts``, also
    write its count partials by the same keys there."""
    (df.repartitionByRange(*keys).sortWithinPartitions(*keys)
       .write.mode(mode).parquet(path))
    if counts is not None:
        src = df.sparkSession.read.parquet(path) if mode == "overwrite" \
            else df
        (src.groupBy(*keys).agg(F.count("*").alias("cnt"))
            .write.mode(mode).parquet(counts))


def write_sorted_once(df: DataFrame, writes: list) -> None:
    """Materialize an expensive projection ONCE (persist + count), then run
    each (project, keys, path, mode[, counts]) ``write_sorted`` off the
    cache.

    Why: ``repartitionByRange`` runs a boundary-sampling job over its
    child and then the real exchange — an unpersisted child pays the
    projection 2-3×. For the 256-plane signature this was measured at
    88k vectors: plain write 136 s, naive range write 375 s; cached
    range write pays the projection once. The cache is released before
    returning."""
    df = df.persist()
    df.count()  # materializes every column into the cache exactly once
    try:
        for project, *args in writes:
            write_sorted(project(df), *args)
    finally:
        df.unpersist()


def fold_counts(df: DataFrame, keys: list, name: str = "cnt") -> DataFrame:
    """One row per key with the partials summed."""
    return df.groupBy(*keys).agg(F.sum("cnt").cast("bigint").alias(name))


def compact(spark: SparkSession, path: str, sorted_tables: dict,
            count_tables: dict, target_bytes: int) -> dict:
    """Compact every ``{name: keys}`` table of the index at ``path``;
    returns per-table {files,bytes}×{before,after}."""
    from engine.spark.sinks import compact_sorted_parquet

    out = {name: compact_sorted_parquet(spark, sub(path, name), keys,
                                        target_bytes)
           for name, keys in sorted_tables.items()}
    for name, keys in count_tables.items():
        out[name] = compact_sorted_parquet(
            spark, sub(path, name), keys, target_bytes,
            aggregate_fn=lambda df: fold_counts(df, keys))
    return out


def drop_hot(wave: DataFrame, corpus: DataFrame, counts: str, keys: list,
             cap: int, hint) -> tuple[DataFrame, DataFrame]:
    """The combined-occupancy guard over the count table at ``counts``:
    only the wave's touched keys are aggregated, after a semi-join
    (untouched keys cannot produce wave pairs)."""
    touched = wave.select(*keys).distinct()
    old_cnt = fold_counts(wave.sparkSession.read.parquet(counts)
                          .join(hint(touched), keys, "left_semi"),
                          keys, "old_cnt")
    new_cnt = wave.groupBy(*keys).agg(F.count("*").alias("new_cnt"))
    hot = (new_cnt.join(old_cnt, keys, "left_outer")
           .withColumn("cnt", F.coalesce("old_cnt", F.lit(0))
                       + F.col("new_cnt"))
           .filter(F.col("cnt") > cap).select(*keys))
    return (wave.join(hint(hot), keys, "left_anti"),
            corpus.join(hint(hot), keys, "left_anti"))


def banded_wave_probe(items_new: DataFrame, explode, index_path: str,
                      items: str, cols: list, cache: str,
                      max_bucket: int | None, max_broadcast_rows: int,
                      score_name: str, score, threshold: float
                      ) -> DataFrame:
    """Pairs touching the wave of a banded index (``buckets/`` sorted by
    (band, bucket), ``stats/`` its counts, ``items`` holding (id, *cols)
    sorted by id): (id_a, id_b, <score_name>, origin) with id_a < id_b,
    origin ∈ {'new_new', 'new_old'}, and score ≥ ``threshold``.

    ``explode(items_new)`` gives the wave's (id, band, bucket) rows;
    ``score(a, b)`` builds the score from the two sides' columns, where
    ``a(col)`` / ``b(col)`` name a column of ``cols`` on each side. Stage
    cache entries are ``<cache>_b_new`` and ``<cache>_cand``."""
    spark = items_new.sparkSession
    # repartitioned by (band, bucket) BEFORE the persist (the
    # _minhash_bucket_slot trick): touched/distinct, the wave occupancy
    # aggregate, and both candidate joins all key on (band, bucket), so
    # they read the cache's outputPartitioning instead of each adding an
    # Exchange of the wave buckets
    b_new = stage_cache.persist(
        f"{cache}_b_new", explode(items_new).repartition(*BAND_KEYS))
    # census: the persist's own count — explode emits exactly ``bands``
    # rows per item, so it IS the broadcast-size variable (n_wave·bands):
    # the broadcast decision comes from the wave's REAL size, not a hope
    hint = broadcast_hint(
        stage_cache.rows(f"{cache}_b_new", spark) <= max_broadcast_rows)

    # corpus side: scans filtered by wave-driven semi-joins (no corpus
    # shuffle on the broadcast path; on the fallback path the corpus side
    # shuffles by (band,bucket) — still never by corpus items)
    touched = b_new.select(*BAND_KEYS).distinct()
    corpus_buckets = (spark.read.parquet(sub(index_path, "buckets"))
                      .join(hint(touched), BAND_KEYS, "left_semi"))
    if max_bucket is not None:
        b_new, corpus_buckets = drop_hot(
            b_new, corpus_buckets, sub(index_path, "stats"), BAND_KEYS,
            max_bucket, hint)

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
    # the candidate set feeds FIVE subtrees of the verify plan (both verify
    # joins, plus both arms of the candidate-id semi-join) — left lazy,
    # Catalyst replans and AQE re-materializes the whole nn/no/distinct
    # lineage once per consumer (measured at sf0.1: a 228-job probe, ~60
    # redundant shuffle stages and seconds of driver planning). cand is
    # wave-proportional by construction, so the checkpoint is bounded by
    # the same contract as the broadcasts above, and it keeps the verify
    # join's analyzed tree small. Its plan reads the index, so an append
    # or compaction of the index rebuilds it.
    cand = stage_cache.checkpoint(f"{cache}_cand",
                                  nn.unionByName(no).distinct())

    # verify: corpus items are read ONLY for candidate ids (semi-join;
    # candidate volume ∝ wave, so the same census decision governs the
    # hint). Wave membership rides the union as a column — origin tagging
    # then costs ZERO extra joins
    cand_ids = (cand.select(F.col("id_a").alias("id"))
                .unionByName(cand.select(F.col("id_b").alias("id")))
                .distinct())
    items_old = (spark.read.parquet(sub(index_path, items))
                 .join(hint(cand_ids), "id", "left_semi"))
    both = (items_new.select("id", *cols).withColumn("_new", F.lit(True))
            .unionByName(items_old.select("id", *cols)
                         .withColumn("_new", F.lit(False))))

    def side(s):
        return both.select(F.col("id").alias(f"id_{s}"),
                           F.col("_new").alias(f"{s}_new"),
                           *[F.col(c).alias(f"{c}_{s}") for c in cols])

    # origin is a function of wave membership, not of which candidate
    # branch produced the pair (both-in-wave pairs can also surface via
    # the wave×corpus join when ids overlap buckets — distinct() merged them)
    return (cand.join(side("a"), "id_a").join(side("b"), "id_b")
            .select("id_a", "id_b",
                    score(lambda c: F.col(f"{c}_a"),
                          lambda c: F.col(f"{c}_b")).alias(score_name),
                    F.when(F.col("a_new") & F.col("b_new"),
                           F.lit("new_new")).otherwise(F.lit("new_old"))
                     .alias("origin"))
            .filter(F.col(score_name) >= threshold))
