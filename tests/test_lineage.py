"""A wave's lineage manifest comes from its extraction map (a
``BucketTallies`` accumulator), not from a job that reads the written wave
back: the counts equal the committed output's, also when a task attempt
fails and is retried."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from tools import synth

REPO = Path(__file__).resolve().parents[1]
N_BUCKETS, WAVES = 16, 2


def _write_malformed_input(path: str, n_turns: int) -> None:
    """synth transcripts with every 7th turn relabelled a PDF payload: its
    text is no PDF, so the kernel records an extraction error."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = synth.build_rows(n_turns)
    for r in rows[::7]:
        r["tool"] = "doc.pdf"
    pq.write_table(pa.Table.from_pylist(rows), path)


@pytest.fixture(scope="module")
def src(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lineage") / "tx.parquet")
    _write_malformed_input(path, 300)
    return path


def test_tallies_equal_manifest_of_written_output(spark, src, tmp_path):
    from engine.spark.pipeline import _bucket_manifest, extract_df
    from engine.spark.udfs import BucketTallies, bucket_col

    out = str(tmp_path / "out")
    tallies = spark.sparkContext.accumulator({}, BucketTallies())
    wave = spark.read.parquet(src).repartition(bucket_col(N_BUCKETS))
    (extract_df(wave, N_BUCKETS, tallies=tallies)
     .write.partitionBy("conv_bucket").parquet(out))

    manifest = {r.conv_bucket: [r.turns_processed, r.extraction_failures,
                                r.bytes_parsed, r.partition_id]
                for r in _bucket_manifest(spark.read.parquet(out)).collect()}
    assert sum(v[1] for v in manifest.values()) > 0
    assert tallies.value == manifest


def test_fresh_run_reads_no_output_back(spark, src, tmp_path, monkeypatch):
    """A fresh run's waves write extracted_turns and never scan it: the
    only read is the resume scan's, which finds no table yet."""
    from pyspark.sql import DataFrameReader

    from engine.spark.pipeline import _bucket_manifest, run_pipeline

    reads = []
    parquet = DataFrameReader.parquet

    def recording(self, *paths, **options):
        df = parquet(self, *paths, **options)  # raises on a missing table
        if any("extracted_turns" in p for p in paths):
            reads.append(paths)
        return df

    monkeypatch.setattr(DataFrameReader, "parquet", recording)
    out = str(tmp_path / "out")
    stats = run_pipeline(spark, src, out, run_id="f", waves=WAVES,
                         n_buckets=N_BUCKETS)
    assert reads == []
    monkeypatch.undo()

    lineage = spark.read.parquet(f"{out}/lineage")
    manifest = _bucket_manifest(spark.read.parquet(f"{out}/extracted_turns"))
    cols = ["conv_bucket", "partition_id", "turns_processed",
            "extraction_failures", "bytes_parsed"]
    assert sorted(lineage.select(cols).collect()) \
        == sorted(manifest.select(cols).collect())
    assert stats.turns_processed == spark.read.parquet(src).count()


def test_runs_leave_accumulator_registry_unchanged(spark, src, tmp_path,
                                                   monkeypatch):
    """pyspark keeps every driver-side accumulator in a module registry
    for the life of the session: each wave drops its ``BucketTallies``
    once read, and a wave that fails drops it too."""
    from pyspark.accumulators import _accumulatorRegistry

    import engine.spark.pipeline as pipeline

    before = set(_accumulatorRegistry)
    for i in range(3):
        pipeline.run_pipeline(spark, src, str(tmp_path / f"o{i}"),
                              run_id=f"r{i}", waves=WAVES,
                              n_buckets=N_BUCKETS)
    assert set(_accumulatorRegistry) == before

    def failing(*args, **kwargs):
        raise RuntimeError("wave fails")

    monkeypatch.setattr(pipeline, "extract_df", failing)
    with pytest.raises(RuntimeError, match="wave fails"):
        pipeline.run_pipeline(spark, src, str(tmp_path / "failed"),
                              run_id="x", waves=WAVES, n_buckets=N_BUCKETS)
    assert set(_accumulatorRegistry) == before


PROBE = """
import json, sys
from pathlib import Path
import pyarrow.parquet as pq
from engine.spark.job import build_session
import engine.spark.pipeline as pipeline

src, work = sys.argv[1], Path(sys.argv[2])
spark = build_session("local[4,2]", shuffle_partitions=4, driver_memory="1g")
spark.sparkContext.setLogLevel("OFF")
# several Arrow batches per task, so a failed attempt adds tallies first
spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")


def lineage(name):
    stats = pipeline.run_pipeline(spark, src, str(work / name), name,
                                  n_buckets=16, waves=2)
    rows = pq.read_table(work / name / "lineage").drop(
        ["run_id", "wall_ms", "completed_at"]).to_pylist()
    n_out = pq.read_table(work / name / "extracted_turns",
                          columns=["turn_idx"]).num_rows
    return {"rows": sorted(rows, key=lambda r: r["conv_bucket"]),
            "turns": stats.turns_processed, "n_out": n_out}


def failing_first_attempt(batches, *args):
    from pyspark import TaskContext
    from engine.spark.udfs import extract_batches
    ctx = TaskContext.get()
    for out in extract_batches(batches, *args):
        yield out
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            (work / f"failed-stage-{ctx.stageId()}").touch()
            raise RuntimeError("first attempt fails after one batch")


clean = lineage("clean")
pipeline.extract_batches = failing_first_attempt
retried = lineage("retried")
failed = len(list(work.glob("failed-stage-*")))
print("RESULT " + json.dumps({"clean": clean, "retried": retried,
                              "failed": failed}))
spark.stop()
"""


def test_retried_attempt_counts_once(src, tmp_path):
    """On ``local[4,2]`` the first attempt of one extraction task per wave
    fails after yielding a batch: the retried run's lineage equals a clean
    run's, and its turns sum to the output row count. Its own interpreter,
    because the ``spark`` fixture's master allows no task retry."""
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    proc = subprocess.run([sys.executable, "-c", PROBE, src, str(tmp_path)],
                          cwd=REPO, env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    [line] = [ln for ln in proc.stdout.splitlines()
              if ln.startswith("RESULT ")]
    got = json.loads(line[len("RESULT "):])
    clean, retried = got["clean"], got["retried"]
    assert got["failed"] == WAVES
    assert sum(r["extraction_failures"] for r in clean["rows"]) > 0
    assert retried["rows"] == clean["rows"]
    assert retried["turns"] == retried["n_out"] == clean["n_out"]
    assert sum(r["turns_processed"] for r in retried["rows"]) \
        == retried["n_out"]
