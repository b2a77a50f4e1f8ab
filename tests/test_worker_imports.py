"""The per-task cost of a Python worker: importing ``engine`` keeps
``importlib.invalidate_caches()`` (called by pyspark at the start of every
task) from re-reading unchanged zip archives, and neither the extraction
pipeline's bookkeeping frames nor the datawork frames over driver-held
rows start a Python task."""

import importlib
import sys
import zipfile
import zipimport

from tools import synth


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    import engine

    counted_reads = []  # one _read_directory call per archive re-read
    read = zipimport._read_directory

    def counting(archive):
        counted_reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    archive = tmp_path / "zipguard.zip"
    _write_zip(archive, {"zipguard_m1": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zipguard_m1").X == 1
        # the first call records each importer's archive signature
        importlib.invalidate_caches()

        counted_reads.clear()
        importlib.invalidate_caches()
        assert counted_reads == []

        # a rewrite (new size) is re-read, so the new module is importable
        _write_zip(archive, {"zipguard_m1": "X = 1\n",
                             "zipguard_m2": "Y = 2\n"})
        importlib.invalidate_caches()
        assert str(archive) in counted_reads
        assert importlib.import_module("zipguard_m2").Y == 2

        guard = zipimport.zipimporter.invalidate_caches
        engine._reread_zip_only_when_changed()  # idempotent
        assert zipimport.zipimporter.invalidate_caches is guard
    finally:
        for name in ("zipguard_m1", "zipguard_m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_guard_reaches_the_executor(spark, tmp_path):
    """After engine code ran on the workers, a task's own
    ``invalidate_caches()`` re-reads no archive (16 per call without the
    guard: pyspark.zip and its package prefixes, py4j, the Spark jar)."""
    import pandas as pd

    from engine.spark.pipeline import extract_df

    src = str(tmp_path / "tx.parquet")
    synth.write_parquet(src, 40)
    n_tasks = 4
    assert extract_df(spark.read.parquet(src),
                      salt_partitions=n_tasks).count() > 0

    def probe(batches):
        # nested, so it pickles by value: the workers cannot import tests/
        import importlib
        import sys
        import zipimport
        reads = []
        read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pd.DataFrame({"engine": ["engine" in sys.modules],
                            "reads": [len(reads)]})

    rows = (spark.range(0, n_tasks, 1, n_tasks)
            .mapInPandas(probe, "engine boolean, reads long").collect())
    assert len(rows) == n_tasks
    assert all(r["engine"] for r in rows), rows
    assert [r["reads"] for r in rows] == [0] * n_tasks


def _record_parallelize(monkeypatch) -> list:
    from pyspark import SparkContext

    calls = []
    parallelize = SparkContext.parallelize

    def recording(self, *args, **kwargs):
        calls.append(args[:1])
        return parallelize(self, *args, **kwargs)

    monkeypatch.setattr(SparkContext, "parallelize", recording)
    return calls


def test_pipeline_starts_no_python_rdd(spark, tmp_path, monkeypatch):
    """run_pipeline's bookkeeping frames (committed buckets, orphan set,
    lineage manifest) start no Python-RDD task: a fresh run, a crash-resume
    that backfills orphan lineage, and waves with no input rows."""
    import shutil

    from engine.spark.pipeline import run_pipeline

    src = str(tmp_path / "tx.parquet")
    synth.write_parquet(src, 60)
    one = str(tmp_path / "one.parquet")
    spark.read.parquet(src).limit(1).write.parquet(one)
    out, out_one = str(tmp_path / "out"), str(tmp_path / "out_one")

    calls = _record_parallelize(monkeypatch)

    fresh = run_pipeline(spark, src, out, run_id="f", waves=2, n_buckets=16)
    assert fresh.turns_processed > 0 and calls == []

    shutil.rmtree(f"{out}/lineage")  # crash between output and lineage
    redo = run_pipeline(spark, src, out, run_id="r", waves=2, n_buckets=16)
    assert redo.turns_processed == 0 and calls == []
    lineage = spark.read.parquet(f"{out}/lineage").collect()
    assert {r["wave"] for r in lineage} == {-1}
    assert sum(r["turns_processed"] for r in lineage) == fresh.turns_processed

    # one conversation fills one bucket: the other three waves are empty
    sparse = run_pipeline(spark, one, out_one, run_id="e", waves=4,
                          n_buckets=16)
    assert sparse.turns_processed == 1 and sparse.waves_run == 4
    assert calls == []
    assert spark.read.parquet(f"{out_one}/lineage").count() == 1


def test_datawork_driver_rows_start_no_python_rdd(spark, tmp_path,
                                                  monkeypatch):
    """The datawork frames over driver-held rows (funnel counts, mixture
    weights, pack offsets, losers threshold, QC weights, and through the
    CLI the embedding index layout and the index-* report rows) start no
    Python-RDD task."""
    from pyspark.sql import functions as F

    from engine.datawork.curation import curate_funnel, mixture_sample
    from engine.datawork.embed_incremental import write_semantic_index
    from engine.datawork.job import run_op
    from engine.datawork.pack import pack_shards
    from engine.datawork.quality import load_qc_weights

    i = F.col("id")
    d, e = str(tmp_path / "docs.parquet"), str(tmp_path / "emb.parquet")
    words = [F.concat(F.lit("w"), (i * (k + 3) % 41).cast("string"))
             for k in range(30)]
    spark.range(200).select(
        i.alias("doc_id"), F.concat_ws(" ", *words).alias("text"),
        F.lit("en").alias("lang"),
        F.when(i % 3 == 0, "web").otherwise("books").alias("source")
    ).write.parquet(d)
    spark.range(200).select(
        i.alias("vec_id"),
        F.array(*[F.sin(i * 0.7 + k) for k in range(64)]).alias("embedding")
    ).write.parquet(e)
    docs, emb = spark.read.parquet(d), spark.read.parquet(e)
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                 1, 8), 16, 10).cast("long") % 100)
    corpus, bench = docs.filter(bucket >= 5), docs.filter(bucket < 5)
    weights = {r.source: 1 for r in docs.select("source").distinct().collect()}
    cent = spark.createDataFrame(
        [(i, r.embedding) for i, r in enumerate(emb.limit(4).collect())],
        "cell int, cv array<double>")
    calls = _record_parallelize(monkeypatch)

    funnel = [r.stage for r in curate_funnel(corpus, bench,
                                             budget=20).collect()]
    assert funnel == ["input", "quality", "dedup", "decontaminated",
                      "sampled"]
    assert mixture_sample(docs, budget=20, weights=weights).count() > 0
    assert pack_shards(docs, budget=256).count() == docs.count()
    write_semantic_index(emb, str(tmp_path / "sidx"), centroids=cent,
                         losers_threshold=0.95)
    assert load_qc_weights(spark).count() > 1
    # build/append rows share one report helper, compactions another
    for op, src, idx in [("index-build", d, "midx"),
                         ("index-compact", d, "midx"),
                         ("embed-index-build", e, "eidx")]:
        assert run_op(spark, op, src,
                      index_path=str(tmp_path / idx)).count() >= 1, op
    assert calls == []
