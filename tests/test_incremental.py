"""Incremental dedup vs full recompute — the exactness contract, the
append path, the combined-occupancy guard, and the no-corpus-shuffle plan."""

from __future__ import annotations

import random
import shutil

import pytest
from pyspark.sql import functions as F


def _mk_docs(spark, n=160, planted_every=7, seed=11):
    rnd = random.Random(seed)
    words = [f"w{i}" for i in range(250)]
    rows = []
    for i in range(n):
        base = " ".join(rnd.choice(words) for _ in range(40))
        rows.append((i, base))
        if i % planted_every == 0:  # planted near-dup (1-word mutation)
            mut = base.split()
            mut[3] = "zz"
            rows.append((10_000 + i, " ".join(mut)))
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def _split(docs, lo, hi):
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                     16, 10).cast("long") % 10)
    return docs.filter((bucket >= lo) & (bucket < hi))


def _full_pairs_touching(docs, wave_ids, threshold=0.5, max_bucket=100):
    from engine.datawork.dedup import minhash_verified_pairs
    full = minhash_verified_pairs(docs, threshold=threshold,
                                  max_bucket=max_bucket)
    rows = sorted((r.id_a, r.id_b, r.est_jaccard) for r in full.collect()
                  if r.id_a in wave_ids or r.id_b in wave_ids)
    return [(a, b, j, "new_new" if a in wave_ids and b in wave_ids
             else "new_old") for a, b, j in rows]


@pytest.fixture()
def idx_path(tmp_path):
    p = str(tmp_path / "minhash_index")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def test_incremental_equals_full_recompute(spark, idx_path):
    from engine.datawork.incremental import (incremental_verified_pairs,
                                             write_minhash_index)
    docs = _mk_docs(spark)
    corpus, wave = _split(docs, 0, 8), _split(docs, 8, 10)
    wave_ids = {r.doc_id for r in wave.select("doc_id").collect()}
    assert wave_ids  # split must be non-trivial

    write_minhash_index(corpus, idx_path)
    inc = incremental_verified_pairs(wave, idx_path).orderBy("id_a", "id_b")
    got = [(r.id_a, r.id_b, r.est_jaccard, r.origin) for r in inc.collect()]
    exp = _full_pairs_touching(docs, wave_ids)
    assert got == exp
    assert any(o == "new_old" for *_, o in got)  # cross-boundary dups exist


def test_append_then_second_wave(spark, idx_path):
    """After append_to_index(wave1), wave2 dedups against corpus ∪ wave1 —
    and equals the full recompute filtered to wave2-touching pairs."""
    from engine.datawork.incremental import (append_to_index,
                                             incremental_verified_pairs,
                                             write_minhash_index)
    docs = _mk_docs(spark, seed=23)
    corpus = _split(docs, 0, 6)
    wave1, wave2 = _split(docs, 6, 8), _split(docs, 8, 10)
    wave2_ids = {r.doc_id for r in wave2.select("doc_id").collect()}

    write_minhash_index(corpus, idx_path)
    append_to_index(wave1, idx_path)
    inc = (incremental_verified_pairs(wave2, idx_path)
           .orderBy("id_a", "id_b"))
    got = [(r.id_a, r.id_b, r.est_jaccard, r.origin) for r in inc.collect()]
    exp = _full_pairs_touching(docs, wave2_ids)
    assert got == exp


def test_reprobe_after_append_sees_appended_docs(spark, idx_path):
    """The same probe plan re-submitted after append_to_index, with no
    cache clear, must see the appended docs: cached probe stages are keyed
    on the index files as well as on the plan."""
    from engine.datawork import stage_cache
    from engine.datawork.incremental import (append_to_index,
                                             incremental_verified_pairs,
                                             write_minhash_index)
    docs = _mk_docs(spark, seed=23)
    corpus, appended = _split(docs, 0, 5), _split(docs, 5, 8)
    wave = _split(docs, 8, 10)

    def probe():
        return sorted(tuple(r) for r in
                      incremental_verified_pairs(wave, idx_path).collect())

    write_minhash_index(corpus, idx_path)
    before = probe()
    append_to_index(appended, idx_path)
    after = probe()
    stage_cache.clear(spark)
    assert after == probe()
    assert after != before


def test_combined_occupancy_guard(spark, idx_path):
    """A bucket under max_bucket in the corpus alone but over it COMBINED
    must be dropped — replicas split across the boundary may produce no
    pairs, exactly like a full recompute (which also drops the bucket)."""
    from engine.datawork.incremental import (incremental_verified_pairs,
                                             write_minhash_index)
    # 12 identical docs: ids 0..7 in "corpus", 8..11 in "wave" (explicit
    # split, not hash — the point is the occupancy arithmetic)
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame([(i, text) for i in range(12)],
                                 "doc_id: long, text: string")
    corpus = docs.filter(F.col("doc_id") < 8)
    wave = docs.filter(F.col("doc_id") >= 8)
    write_minhash_index(corpus, idx_path)

    # max_bucket=10: corpus occupancy 8 passes alone, combined 12 trips
    inc = incremental_verified_pairs(wave, idx_path, max_bucket=10)
    assert inc.count() == 0

    # sanity: with a generous guard the same wave yields all touching pairs
    inc_ok = incremental_verified_pairs(wave, idx_path, max_bucket=100)
    # pairs touching the 4 wave docs: 4*8 cross + C(4,2) inner = 38
    assert inc_ok.count() == 38
    assert inc_ok.filter(F.col("est_jaccard") != 1.0).count() == 0


def test_no_corpus_shuffle_in_plan(spark, idx_path):
    """The scale contract: every corpus-index scan reaches its join through
    a Broadcast exchange — no shuffle Exchange may sit above a scan of the
    index tables (wave-proportional cost depends on it)."""
    from engine.datawork.incremental import (incremental_verified_pairs,
                                             write_minhash_index)
    docs = _mk_docs(spark, n=60)
    corpus, wave = _split(docs, 0, 8), _split(docs, 8, 10)
    write_minhash_index(corpus, idx_path)
    plan = (incremental_verified_pairs(wave, idx_path)
            ._jdf.queryExecution().executedPlan().toString())
    # walk the tree: record, for each parquet scan of the index, whether a
    # shuffle Exchange appears between it and the root on its branch — the
    # simple textual proxy: an "Exchange hashpartitioning"/"rangepartitioning"
    # node must never list an index-scan as its direct child subtree root.
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Scan parquet" in ln and "minhash_index" in ln:
            # ascend: nearest less-indented ancestor lines must hit a join
            # or broadcast exchange before any shuffle Exchange
            def depth(s):
                return len(s) - len(s.lstrip(" :+-*"))
            d = depth(ln)
            for j in range(i - 1, -1, -1):
                dj = depth(lines[j])
                if dj < d:
                    d = dj
                    node = lines[j].lstrip(" :+-*")
                    if node.startswith("Exchange hashpartitioning") or \
                       node.startswith("Exchange rangepartitioning"):
                        raise AssertionError(
                            f"corpus index scan shuffled:\n{plan}")
                    if "Join" in node or node.startswith("BroadcastExchange"):
                        break


def test_broadcast_guard_fallback_equivalence(spark, idx_path):
    """max_broadcast_rows=0 forces the shuffle-join fallback on every
    wave-side hint; the pair set (incl. origin tags) must be identical to
    the broadcast path — the guard changes the physical strategy only."""
    from engine.datawork.incremental import (incremental_verified_pairs,
                                             write_minhash_index)
    docs = _mk_docs(spark, seed=31)
    corpus, wave = _split(docs, 0, 8), _split(docs, 8, 10)
    write_minhash_index(corpus, idx_path)

    fast = (incremental_verified_pairs(wave, idx_path)
            .orderBy("id_a", "id_b").collect())
    slow = (incremental_verified_pairs(wave, idx_path,
                                       max_broadcast_rows=0)
            .orderBy("id_a", "id_b").collect())
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]
    assert len(fast) > 0


def test_ann_batch_probe_guard_fallback(spark, tmp_path):
    """probe_index_batch with the wave-broadcast guard tripped returns the
    same (qid, id, score, rank) rows as the broadcast path."""
    import math
    from engine.datawork.ann_index import probe_index_batch, write_ann_index

    def vec(i):
        return [math.sin(i * 0.7 + d) for d in range(8)]

    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(80)],
        "vec_id: long, embedding: array<double>")
    path = str(tmp_path / "ann_index")
    from engine.datawork.similarity import lsh_planes
    planes = lsh_planes(n_planes=6, dim=8)
    write_ann_index(emb, path, planes=planes)
    wave = emb.filter(F.col("vec_id") % 5 == 0)

    fast = (probe_index_batch(spark, path, wave, k=3, planes=planes)
            .orderBy("qid", "rank").collect())
    slow = (probe_index_batch(spark, path, wave, k=3, planes=planes,
                              max_broadcast_queries=0)
            .orderBy("qid", "rank").collect())
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]
    assert len(fast) > 0


def test_compact_index_preserves_results_and_shrinks_files(spark, idx_path):
    """N appended waves → compact → identical probe results, fewer files,
    stats partials folded to one row per (band,bucket)."""
    from pathlib import Path

    from engine.datawork.incremental import (append_to_index, compact_index,
                                             incremental_verified_pairs,
                                             write_minhash_index)

    docs = _mk_docs(spark, n=200, seed=47)
    corpus = _split(docs, 0, 5)
    waves = [_split(docs, 5 + i, 6 + i) for i in range(4)]
    probe = _split(docs, 9, 10)

    write_minhash_index(corpus, idx_path)
    for w in waves:
        append_to_index(w, idx_path)

    def nfiles(sub):
        return len(list((Path(idx_path) / sub).rglob("*.parquet")))

    before = {s: nfiles(s) for s in ("sigs", "buckets", "stats")}
    pre = (incremental_verified_pairs(probe, idx_path)
           .orderBy("id_a", "id_b").collect())
    stats_pre = (spark.read.parquet(f"{idx_path}/stats")
                 .groupBy("band", "bucket").agg(F.sum("cnt").alias("cnt"))
                 .orderBy("band", "bucket").collect())

    report = compact_index(spark, idx_path)
    after = {s: nfiles(s) for s in ("sigs", "buckets", "stats")}
    post = (incremental_verified_pairs(probe, idx_path)
            .orderBy("id_a", "id_b").collect())
    stats_post = (spark.read.parquet(f"{idx_path}/stats")
                  .orderBy("band", "bucket").collect())

    assert [tuple(r) for r in pre] == [tuple(r) for r in post]
    for sub in ("sigs", "buckets", "stats"):
        assert after[sub] < before[sub], (sub, before, after)
        assert report[sub]["files_after"] == after[sub]
    # partials folded: stats now has exactly one row per key, same totals
    assert [(r.band, r.bucket, r.cnt) for r in stats_post] == \
           [(r.band, r.bucket, r.cnt) for r in stats_pre]


def test_stream_dedup_ingest_partitions_full_pair_set(spark, idx_path,
                                                      tmp_path):
    """3 streamed waves from an EMPTY index: the union of per-batch pair
    sets must equal the full-corpus recompute (cap pinned above the
    corpus ceiling so no bucket crosses it between waves), and the final
    index must hold every doc's signature."""
    from engine.datawork.incremental import (incremental_verified_pairs,
                                             stream_dedup_ingest,
                                             write_minhash_index)
    from engine.datawork.dedup import minhash_verified_pairs
    from engine.spark.streaming import stage_ordered_batches

    docs = _mk_docs(spark, n=120, seed=83)
    waves = [docs.filter(F.col("doc_id") % 3 == w) for w in range(3)]

    # bootstrap: an empty index with the full schema
    write_minhash_index(
        spark.createDataFrame([], "doc_id: long, text: string"), idx_path)

    stage = str(tmp_path / "stage")
    stage_ordered_batches(waves, stage)
    stream = (spark.readStream.schema(docs.schema)
              .option("pathGlobFilter", "*.parquet")
              .option("maxFilesPerTrigger", "1").parquet(stage))
    pairs_path = str(tmp_path / "pairs")
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    n_before = len(persistent())
    q = stream_dedup_ingest(stream, idx_path, pairs_path,
                            str(tmp_path / "ckpt"), threshold=0.5,
                            max_bucket=100_000)
    q.awaitTermination()
    # each micro-batch replaces the ingest's three stage-cache entries
    # (wave signatures, wave buckets, candidates) and releases the blocks
    # of the ones it replaced: the session's persisted RDDs do not grow
    # with the number of waves
    assert len(persistent()) - n_before <= 3

    got = sorted((r.id_a, r.id_b, r.est_jaccard)
                 for r in spark.read.parquet(pairs_path).collect())
    exp = sorted((r.id_a, r.id_b, r.est_jaccard)
                 for r in minhash_verified_pairs(
                     docs, threshold=0.5, max_bucket=100_000).collect())
    assert got == exp and len(got) > 0
    # a pair lands exactly once (the union is a partition, not a multiset)
    assert len(got) == len(set(got))
    # the index now holds the whole corpus
    n_sigs = spark.read.parquet(f"{idx_path}/sigs").count()
    assert n_sigs == docs.count()
    # and a fresh wave probes against ALL of it
    probe = spark.createDataFrame([(99_999, "nothing like the corpus x")],
                                  "doc_id: long, text: string")
    incremental_verified_pairs(probe, idx_path).count()  # must not raise


@pytest.mark.parametrize("family", ["minhash", "embedding"])
def test_compactor_recovers_stranded_stats(spark, tmp_path, family):
    """A crash inside atomic_rewrite's swap leaves ``stats.prerewrite-*``
    and no ``stats/``: each index compactor must restore the table before
    folding it, ending with one row per key and the same totals."""
    import math
    from pathlib import Path

    from engine.datawork import embed_incremental, incremental

    path = str(tmp_path / "idx")
    vecs = spark.createDataFrame(
        [(i, [math.cos(i * 0.3 + d * 1.7) for d in range(64)])
         for i in range(60)], "vec_id: long, embedding: array<double>")
    if family == "minhash":
        incremental.write_minhash_index(_mk_docs(spark, n=40), path)
        compact = incremental.compact_index
    else:
        embed_incremental.write_embedding_index(vecs, path)
        compact = embed_incremental.compact_embedding_index

    stats = Path(path) / "stats"
    pre = spark.read.parquet(str(stats))
    keys = [c for c in pre.columns if c != "cnt"]
    want = sorted(tuple(r) for r in pre.groupBy(*keys)
                  .agg(F.sum("cnt").alias("cnt")).collect())
    stats.rename(stats.with_name("stats.prerewrite-deadbeef"))

    report = compact(spark, path)
    assert stats.exists()
    assert not list(stats.parent.glob("stats.prerewrite-*"))
    got = sorted(tuple(r) for r in spark.read.parquet(str(stats)).collect())
    assert got == want
    assert report["stats"]["files_after"] == \
        len(list(stats.rglob("*.parquet")))
