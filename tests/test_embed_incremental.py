"""Incremental embedding near-dup vs full banded recompute — equivalence,
append path, combined-occupancy guard, broadcast fallback, compaction."""

from __future__ import annotations

import math
import random
import shutil

import pytest
from pyspark.sql import functions as F

DIM = 64
THRESH = 0.8


def _unit(rnd):
    v = [rnd.gauss(0, 1) for _ in range(DIM)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _mk_emb(spark, n=120, planted_every=6, seed=7):
    """Random unit vectors; every ``planted_every``-th gets a near-dup
    (tiny perturbation → cosine ≈ 0.999) under id+10_000."""
    rnd = random.Random(seed)
    rows = []
    for i in range(n):
        v = _unit(rnd)
        rows.append((i, v))
        if i % planted_every == 0:
            w = [x + rnd.gauss(0, 0.01) for x in v]
            nw = math.sqrt(sum(x * x for x in w))
            rows.append((10_000 + i, [x / nw for x in w]))
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")


def _split(emb, lo, hi):
    b = (F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8),
                16, 10).cast("long") % 10)
    return emb.filter((b >= lo) & (b < hi))


def _full_pairs_touching(emb, wave_ids, threshold=THRESH, max_bucket=None):
    from engine.datawork.similarity import LSH_ROWS, cosine_pairs_above
    full = cosine_pairs_above(emb, threshold=threshold, bucketed=True,
                              rows=LSH_ROWS, max_bucket=max_bucket)
    rows = sorted((r.id_a, r.id_b, r.cosine) for r in full.collect()
                  if r.id_a in wave_ids or r.id_b in wave_ids)
    return [(a, b, c, "new_new" if a in wave_ids and b in wave_ids
             else "new_old") for a, b, c in rows]


@pytest.fixture()
def idx_path(tmp_path):
    p = str(tmp_path / "embed_index")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _collect(df):
    return [(r.id_a, r.id_b, r.cosine, r.origin)
            for r in df.orderBy("id_a", "id_b").collect()]


def test_incremental_equals_full_recompute(spark, idx_path):
    from engine.datawork.embed_incremental import (
        incremental_embedding_pairs, write_embedding_index)
    emb = _mk_emb(spark)
    corpus, wave = _split(emb, 0, 8), _split(emb, 8, 10)
    wave_ids = {r.vec_id for r in wave.select("vec_id").collect()}
    assert wave_ids

    write_embedding_index(corpus, idx_path)
    got = _collect(incremental_embedding_pairs(wave, idx_path,
                                               threshold=THRESH))
    exp = _full_pairs_touching(emb, wave_ids)
    assert got == exp
    assert any(o == "new_old" for *_, o in got)  # cross-boundary dups exist


def test_append_then_second_wave(spark, idx_path):
    from engine.datawork.embed_incremental import (
        append_to_embedding_index, incremental_embedding_pairs,
        write_embedding_index)
    emb = _mk_emb(spark, seed=19)
    corpus = _split(emb, 0, 6)
    wave1, wave2 = _split(emb, 6, 8), _split(emb, 8, 10)
    wave2_ids = {r.vec_id for r in wave2.select("vec_id").collect()}

    write_embedding_index(corpus, idx_path)
    append_to_embedding_index(wave1, idx_path)
    got = _collect(incremental_embedding_pairs(wave2, idx_path,
                                               threshold=THRESH))
    assert got == _full_pairs_touching(emb, wave2_ids)


def test_combined_occupancy_guard(spark, idx_path):
    """A band-bucket under max_bucket in the corpus alone but over it
    combined is dropped on both sides — identical to the full recompute's
    guard over old ∪ new."""
    from engine.datawork.embed_incremental import (
        incremental_embedding_pairs, write_embedding_index)
    rnd = random.Random(3)
    v = _unit(rnd)
    # 12 identical vectors: every band-bucket they share has occupancy 12
    emb = spark.createDataFrame([(i, v) for i in range(12)],
                                "vec_id: long, embedding: array<double>")
    corpus = emb.filter(F.col("vec_id") < 8)
    wave = emb.filter(F.col("vec_id") >= 8)
    write_embedding_index(corpus, idx_path)

    hot = incremental_embedding_pairs(wave, idx_path, threshold=THRESH,
                                      max_bucket=10)
    assert hot.count() == 0  # combined occupancy 12 > 10 → all dropped

    ok = incremental_embedding_pairs(wave, idx_path, threshold=THRESH,
                                     max_bucket=100)
    assert ok.count() == 38  # 4×8 cross + C(4,2) inner
    assert ok.filter(F.col("cosine") < 0.999999).count() == 0


def test_broadcast_guard_fallback_equivalence(spark, idx_path):
    from engine.datawork.embed_incremental import (
        incremental_embedding_pairs, write_embedding_index)
    emb = _mk_emb(spark, seed=29)
    corpus, wave = _split(emb, 0, 8), _split(emb, 8, 10)
    write_embedding_index(corpus, idx_path)
    fast = _collect(incremental_embedding_pairs(wave, idx_path,
                                                threshold=THRESH))
    slow = _collect(incremental_embedding_pairs(wave, idx_path,
                                                threshold=THRESH,
                                                max_broadcast_rows=0))
    assert fast == slow and len(fast) > 0


def test_compact_preserves_results(spark, idx_path):
    from pathlib import Path

    from engine.datawork.embed_incremental import (
        append_to_embedding_index, compact_embedding_index,
        incremental_embedding_pairs, write_embedding_index)
    emb = _mk_emb(spark, n=160, seed=41)
    corpus = _split(emb, 0, 5)
    waves = [_split(emb, 5 + i, 6 + i) for i in range(4)]
    probe = _split(emb, 9, 10)

    write_embedding_index(corpus, idx_path)
    for w in waves:
        append_to_embedding_index(w, idx_path)

    def nfiles(sub):
        return len(list((Path(idx_path) / sub).rglob("*.parquet")))

    before = {s: nfiles(s) for s in ("vectors", "buckets", "stats")}
    pre = _collect(incremental_embedding_pairs(probe, idx_path,
                                               threshold=THRESH))
    compact_embedding_index(spark, idx_path)
    after = {s: nfiles(s) for s in ("vectors", "buckets", "stats")}
    post = _collect(incremental_embedding_pairs(probe, idx_path,
                                                threshold=THRESH))
    assert pre == post
    for sub in before:
        assert after[sub] < before[sub], (sub, before, after)


def test_layout_frozen_in_index(spark, idx_path):
    from engine.datawork.embed_incremental import (read_layout,
                                                   write_embedding_index)
    emb = _mk_emb(spark, n=20)
    write_embedding_index(emb, idx_path, bands=8, rows=3)
    assert read_layout(spark, idx_path) == (8, 3)
    sig_len = (spark.read.parquet(f"{idx_path}/vectors")
               .select(F.length("sig").alias("L")).distinct().collect())
    assert [r.L for r in sig_len] == [24]


def _semantic_full_losers(emb, cent, wave_ids, threshold=THRESH):
    from engine.datawork.similarity import semdedup_losers
    full = semdedup_losers(emb, threshold=threshold, centroids=cent)
    return sorted((r.id, r.cell, r.kept_id, r.cosine)
                  for r in full.collect() if r.id in wave_ids)


def _semantic_wave(df):
    return sorted((r.id, r.cell, r.kept_id, r.cosine) for r in df.collect())


def test_semdedup_wave_equals_full_recompute(spark, idx_path):
    from engine.datawork.embed_incremental import (semdedup_wave_losers,
                                                   write_semantic_index)
    from engine.datawork.similarity import train_kmeans
    emb = _mk_emb(spark, n=140, planted_every=4, seed=53)
    cent = train_kmeans(emb, n_cells=8)
    corpus, wave = _split(emb, 0, 8), _split(emb, 8, 10)
    wave_ids = {r.vec_id for r in wave.select("vec_id").collect()}

    write_semantic_index(corpus, idx_path, centroids=cent)
    got = _semantic_wave(semdedup_wave_losers(wave, idx_path,
                                              threshold=THRESH))
    exp = _semantic_full_losers(emb, cent, wave_ids)
    assert got == exp
    assert len(got) > 0  # planted near-dups must produce wave losers


def test_semdedup_wave_combined_max_cluster(spark, idx_path):
    """A cell under max_cluster in the corpus alone but over it combined
    is excluded on both sides — like the full recompute's guard."""
    from engine.datawork.embed_incremental import (semdedup_wave_losers,
                                                   write_semantic_index)
    from engine.datawork.similarity import train_kmeans
    rnd = random.Random(5)
    v = _unit(rnd)
    emb = spark.createDataFrame([(i, v) for i in range(12)],
                                "vec_id: long, embedding: array<double>")
    cent = train_kmeans(emb, n_cells=1)
    corpus = emb.filter(F.col("vec_id") < 8)
    wave = emb.filter(F.col("vec_id") >= 8)
    write_semantic_index(corpus, idx_path, centroids=cent)

    capped = semdedup_wave_losers(wave, idx_path, threshold=THRESH,
                                  max_cluster=10)
    assert capped.count() == 0  # combined 12 > 10 → cell excluded
    open_ = semdedup_wave_losers(wave, idx_path, threshold=THRESH,
                                 max_cluster=100)
    # identical vectors: every wave doc loses to the keep-order head
    assert open_.count() == 4


def test_banded_sig_udf_bitwise_equals_expression(spark):
    """The Arrow signature kernel must reproduce the Catalyst expression
    EXACTLY — same IEEE fold order, same null algebra — across random
    float32/float64 vectors, zero vectors (exact-0.0 dots), NULLs, and
    wrong-length rows."""
    import numpy as np

    from engine.datawork.similarity import banded_sig_expr, banded_sig_udf

    rs = np.random.RandomState(123)
    rows = []
    for i in range(400):
        v = rs.standard_normal(DIM)
        if i % 7 == 0:
            v = v.astype(np.float32).astype(np.float64)  # float32 storage
        if i % 13 == 0:
            v = v * 1e-12  # tiny magnitudes near the sign boundary
        rows.append((i, [float(x) for x in v]))
    rows += [
        (1000, [0.0] * DIM),          # every dot exactly 0.0 → all '0'
        (1001, None),                 # NULL vector
        (1002, [1.0] * 10),           # wrong length
        (1003, []),                   # empty
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    both = df.select(
        "vec_id",
        banded_sig_expr(F.col("embedding")).alias("expr_sig"),
        banded_sig_udf()(F.col("embedding")).alias("udf_sig"))
    bad = both.filter(
        ~(F.col("expr_sig").eqNullSafe(F.col("udf_sig")))).collect()
    assert bad == [], bad[:5]
    z = {r.vec_id: r.udf_sig for r in both.collect()}
    assert z[1000] == "0" * 96 and z[1001] == "0" * 96
    assert z[1002] == "0" * 96 and z[1003] == "0" * 96


def test_retroactive_losers_equal_full_minus_old(spark, idx_path):
    """retroactive == (losers(old ∪ new) − losers(old)) ∩ corpus, with
    identical (kept_id, cosine); every kept_id must be a wave doc (a
    newly-lost corpus doc's shadowers are all wave docs by definition)."""
    from engine.datawork.embed_incremental import (retroactive_wave_losers,
                                                   write_semantic_index)
    from engine.datawork.similarity import semdedup_losers, train_kmeans
    emb = _mk_emb(spark, n=140, planted_every=3, seed=71)
    cent = train_kmeans(emb, n_cells=8)
    corpus, wave = _split(emb, 0, 8), _split(emb, 8, 10)
    wave_ids = {r.vec_id for r in wave.select("vec_id").collect()}

    write_semantic_index(corpus, idx_path, centroids=cent,
                         losers_threshold=THRESH)
    got = _semantic_wave(retroactive_wave_losers(wave, idx_path,
                                                 threshold=THRESH))

    full = {r.id: (r.cell, r.kept_id, r.cosine)
            for r in semdedup_losers(emb, threshold=THRESH,
                                     centroids=cent).collect()}
    old = {r.id for r in semdedup_losers(corpus, threshold=THRESH,
                                         centroids=cent).collect()}
    exp = sorted((i, c, k, cs) for i, (c, k, cs) in full.items()
                 if i not in wave_ids and i not in old)
    assert got == exp
    assert len(got) > 0  # the planted structure must produce revocations
    assert all(k in wave_ids for _, _, k, _ in got)


def test_shared_fold_bitwise_equals_python_loop(spark):
    """similarity._fold — the one dot product behind dot, norm and cosine —
    must be the left-to-right double fold ``acc = acc + a[d]*b[d]`` the
    oracle's list fold performs, bit for bit, across random float32/float64
    pairs and tiny magnitudes; and keep its null algebra: NULL side → NULL,
    unequal lengths → NULL, two empty arrays → 0.0, zero vector → 0.0."""
    import numpy as np

    from engine.datawork.similarity import _fold

    rs = np.random.RandomState(321)
    rows = []
    for i in range(400):
        a = rs.standard_normal(DIM)
        b = rs.standard_normal(DIM)
        if i % 7 == 0:
            a = a.astype(np.float32).astype(np.float64)
        if i % 11 == 0:
            b = b * 1e-12
        rows.append((i, [float(x) for x in a], [float(x) for x in b]))
    expected = {}
    for i, a, b in rows:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        expected[i] = acc
    rows += [
        (1000, [0.0] * DIM, [1.0] * DIM),   # exact 0.0 fold
        (1001, None, [1.0] * DIM),          # NULL side
        (1002, [1.0] * DIM, None),
        (1003, [1.0] * 10, [1.0] * DIM),    # unequal lengths -> NULL
        (1004, [], []),                     # empty fold -> 0.0
        (1005, [1.0, 2.0], [3.0, 4.0]),     # small non-DIM but equal length
    ]
    df = spark.createDataFrame(
        rows, "vec_id: long, a: array<double>, b: array<double>")
    z = {r.vec_id: r.d for r in df.select(
        "vec_id", _fold(F.col("a"), F.col("b")).alias("d")).collect()}
    bad = [(i, z[i], e) for i, e in expected.items()
           if z[i] is None or z[i].hex() != e.hex()]
    assert bad == [], bad[:5]
    assert z[1000] == 0.0 and z[1004] == 0.0
    assert z[1001] is None and z[1002] is None and z[1003] is None
    assert z[1005] == 11.0


def test_retroactive_skips_docs_that_already_lost(spark, idx_path):
    """Three identical vectors in one cell: ids 0 and 2 are the corpus,
    id 1 is the probed wave. Id 2 already lost to id 0, so
    ``(losers(old ∪ new) − losers(old)) ∩ corpus`` is empty: the build
    must put id 2 in ``losers/``, and the probe must exclude it. A probe
    at a threshold other than the one ``losers/`` was built at is
    refused."""
    from engine.datawork.embed_incremental import (retroactive_wave_losers,
                                                   write_semantic_index)
    v = _unit(random.Random(3))

    def emb(*ids):
        return spark.createDataFrame([(i, v) for i in ids],
                                     "vec_id: long, embedding: array<double>")

    cent = spark.createDataFrame([(0, v)], "cell: int, cv: array<double>")
    write_semantic_index(emb(0, 2), idx_path, centroids=cent,
                         losers_threshold=THRESH)
    assert _semantic_wave(retroactive_wave_losers(emb(1), idx_path,
                                                  threshold=THRESH)) == []
    assert [r.id for r in spark.read.parquet(f"{idx_path}/losers")
            .collect()] == [2]
    with pytest.raises(ValueError):
        retroactive_wave_losers(emb(1), idx_path, threshold=0.9)
