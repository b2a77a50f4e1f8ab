"""Persisted ANN index: probe equivalence to the in-memory path,
batch-probe model check, plan pins."""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def index_dir(spark, emb, tmp_path_factory):
    from engine.datawork.ann_index import write_ann_index
    d = str(tmp_path_factory.mktemp("annidx") / "idx")
    write_ann_index(emb, d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _qvec(emb, vid=0):
    return [float(x) for x in
            emb.filter(F.col("vec_id") == vid).select("embedding").first()[0]]


@pytest.mark.parametrize("probe_bits", [0, 1])
def test_probe_matches_in_memory_path(spark, emb, index_dir, probe_bits):
    from engine.datawork.ann_index import probe_index
    from engine.datawork.similarity import lsh_bucket_topk
    q = _qvec(emb)
    got = [(r.id, r.score) for r in
           probe_index(spark, index_dir, q, k=10,
                       probe_bits=probe_bits).collect()]
    want = [(r.vec_id, r.score) for r in
            lsh_bucket_topk(emb, q, k=10, probe_bits=probe_bits).collect()]
    assert got == want and len(got) > 0


def test_batch_probe_matches_model(spark, emb, index_dir):
    """Brute-force model: per query, candidates are OTHER vectors sharing
    its home bucket; top-k by (cosine desc, id)."""
    import math

    from engine.datawork.ann_index import probe_index_batch
    from engine.datawork.similarity import lsh_planes

    planes = lsh_planes()
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.collect()}

    def bucket(v):
        return "".join(
            "1" if sum(a * b for a, b in zip(v, p)) > 0 else "0"
            for p in planes)

    buckets = {i: bucket(v) for i, v in vecs.items()}
    qids = [i for i in vecs if i % 17 == 0][:6]
    queries = emb.filter(F.col("vec_id").isin(qids))
    got = {}
    for r in probe_index_batch(spark, index_dir, queries, k=3).collect():
        got.setdefault(r.qid, []).append((r.rank, r.id, r.score))
    want = {}
    for q in qids:
        cand = [i for i in vecs
                if i != q and buckets[i] == buckets[q]]
        qv = vecs[q]
        qn = math.sqrt(sum(x * x for x in qv))

        def score(i):
            v = vecs[i]
            d = sum(a * b for a, b in zip(v, qv))
            return round(d / (math.sqrt(sum(x * x for x in v)) * qn), 6)

        top = sorted(((score(i), i) for i in cand),
                     key=lambda t: (-t[0], t[1]))[:3]
        if top:
            want[q] = [(r + 1, i, s) for r, (s, i) in enumerate(top)]
    got = {k: sorted(v) for k, v in got.items()}
    assert got == want


def test_probe_plans(spark, emb, index_dir):
    """Single probe: no Exchange at all (filter + local top-k merge).
    Batch probe: the wave is broadcast — the only hash exchange is the
    candidate-sized per-query window, never the corpus scan."""
    from engine.datawork.ann_index import probe_index, probe_index_batch
    q = _qvec(emb)
    p1 = (probe_index(spark, index_dir, q, k=10, probe_bits=1)
          ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange hashpartitioning" not in p1
    queries = emb.filter(F.col("vec_id") < 5)
    p2 = (probe_index_batch(spark, index_dir, queries, k=3)
          ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in p2 or "BroadcastNestedLoopJoin" in p2
    assert "CartesianProduct" not in p2
    assert p2.count("Exchange hashpartitioning") <= 1


def test_build_writes_vectors_only(index_dir):
    """A build writes the table the probes read and nothing else: no
    per-bucket ``stats/`` counts that no code reads."""
    from pathlib import Path
    assert (Path(index_dir) / "vectors").is_dir()
    assert not (Path(index_dir) / "stats").exists()
