"""Checkpoint/lineage resume contract (FIXTURES.md §3.2): a re-run of the same
run_id processes zero turns and produces zero duplicate output rows; a fresh
run over the same output dir under a new run_id reprocesses everything."""

import pytest

from tools import synth


@pytest.fixture(scope="module")
def paths(tmp_path_factory):
    base = tmp_path_factory.mktemp("resume")
    src = str(base / "tx.parquet")
    synth.write_parquet(src, 300)
    return src, str(base / "out")


def test_resume_is_idempotent(spark, paths):
    from engine.spark.pipeline import run_pipeline

    src, out = paths
    n_src = spark.read.parquet(src).count()

    first = run_pipeline(spark, src, out, run_id="runA", waves=3, n_buckets=64)
    assert first.turns_processed == n_src
    assert first.turns_skipped_resume == 0

    second = run_pipeline(spark, src, out, run_id="runA", waves=3, n_buckets=64)
    assert second.turns_processed == 0
    assert second.turns_skipped_resume == n_src

    extracted = spark.read.parquet(f"{out}/extracted_turns")
    assert extracted.count() == n_src
    assert extracted.select("conv_id", "turn_idx").distinct().count() == n_src

    lineage = spark.read.parquet(f"{out}/lineage")
    rows = lineage.collect()
    assert all(r["run_id"] == "runA" for r in rows)
    assert sum(r["turns_processed"] for r in rows) == n_src
    assert all(r["extraction_failures"] == 0 for r in rows)
    assert all(r["bytes_parsed"] > 0 for r in rows)

    # file layout: one data file per bucket (no partitionBy explosion) and
    # one manifest row per bucket
    from pathlib import Path
    n_files = len(list(Path(f"{out}/extracted_turns").rglob("*.parquet")))
    n_buckets = extracted.select("conv_bucket").distinct().count()
    assert n_files == n_buckets
    assert len(rows) == n_buckets


def test_crash_between_output_and_lineage_commit(spark, paths, tmp_path):
    """The resume authority is the OUTPUT table: output committed but lineage
    missing (crash in the window between the two commits) must not be
    reprocessed — and the manifest is backfilled from the output, with the
    wave writes' column types (an int32 wall_ms beside int64 files breaks
    every schema-inferring lineage read)."""
    import shutil
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from engine.spark.pipeline import run_pipeline

    src, _ = paths
    out = str(tmp_path / "out")
    n_src = spark.read.parquet(src).count()

    run_pipeline(spark, src, out, run_id="runC", waves=2, n_buckets=64)
    # crash after wave 1's output commit: only that wave's lineage is lost
    lin_files = sorted(Path(f"{out}/lineage").glob("*.parquet"))
    wave1 = [f for f in lin_files
             if set(pq.read_table(f, columns=["wave"])["wave"].to_pylist())
             == {1}]
    assert len(wave1) == 1 and len(lin_files) == 2
    wave1[0].unlink()

    redo = run_pipeline(spark, src, out, run_id="runC1", waves=2, n_buckets=64)
    assert redo.turns_processed == 0
    lin_files = sorted(Path(f"{out}/lineage").glob("*.parquet"))
    assert [pq.read_schema(f).field("wall_ms").type for f in lin_files] \
        == [pa.int64()] * len(lin_files)
    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.agg(F.sum("wall_ms")).collect()[0][0] >= 0
    rows = lineage.collect()
    assert {r["wave"] for r in rows} == {0, -1}
    assert all(r["conv_bucket"] % 2 == (r["wave"] == -1) for r in rows)
    assert sum(r["turns_processed"] for r in rows) == n_src

    shutil.rmtree(f"{out}/lineage")  # simulate the crash window

    redo = run_pipeline(spark, src, out, run_id="runC2", waves=2, n_buckets=64)
    assert redo.turns_processed == 0  # nothing reprocessed → no dup risk

    extracted = spark.read.parquet(f"{out}/extracted_turns")
    assert extracted.count() == n_src
    lineage = spark.read.parquet(f"{out}/lineage")
    rows = lineage.collect()
    assert all(r["wave"] == -1 for r in rows)  # backfilled
    assert sum(r["turns_processed"] for r in rows) == n_src


def test_lineage_read_error_aborts_instead_of_backfilling(
        spark, paths, tmp_path, monkeypatch):
    """Only "no lineage yet" may read as an empty manifest: any other
    lineage read failure must abort the run, not backfill every committed
    bucket a second time."""
    from engine.spark.pipeline import run_pipeline
    from engine.spark.sinks import TableSink

    src, _ = paths
    out = str(tmp_path / "out")
    run_pipeline(spark, src, out, run_id="runE", waves=2, n_buckets=64)
    n_lineage = spark.read.parquet(f"{out}/lineage").count()

    read = TableSink.read

    def failing_read(self, schema=None):
        if self.target.endswith("lineage"):
            raise RuntimeError("simulated lineage read failure")
        return read(self, schema)

    monkeypatch.setattr(TableSink, "read", failing_read)
    with pytest.raises(RuntimeError, match="simulated lineage read failure"):
        run_pipeline(spark, src, out, run_id="runE2", waves=2, n_buckets=64)
    monkeypatch.undo()

    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.count() == n_lineage
    assert lineage.filter("wave = -1").count() == 0


def test_bucket_is_process_stable(spark, paths):
    """kernel-side md5 bucket == SQL-side bucket expression, so resume
    anti-joins agree with what the kernel wrote."""
    from pyspark.sql import functions as F

    from engine.spark.udfs import bucket_col, stable_bucket

    src, _ = paths
    df = (spark.read.parquet(src).select("conv_id").distinct()
          .withColumn("sql_bucket", bucket_col(64)))
    for r in df.collect():
        assert r["sql_bucket"] == stable_bucket(r["conv_id"], 64)


def test_iceberg_sink_gated_with_clear_error(spark, tmp_path):
    """table_format='iceberg' must fail fast and actionably when the runtime
    lacks the Iceberg jars (this sandbox), not half-write anything."""
    import pytest

    from engine.spark.sinks import TableSink

    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        TableSink(spark, "cat.db.t", "iceberg")
    with pytest.raises(ValueError, match="table_format"):
        TableSink(spark, str(tmp_path), "orc")
    assert (tmp_path / "nothing").exists() is False


def test_parquet_sink_roundtrip(spark, tmp_path):
    from engine.spark.sinks import TableSink

    sink = TableSink(spark, str(tmp_path / "t"), "parquet",
                     partition_col="b")
    df = spark.createDataFrame([(1, 0), (2, 1)], "x int, b int")
    sink.append(df)
    sink.append(df)
    assert sink.read().count() == 4


def test_atomic_rewrite_crash_recovery(tmp_path, spark):
    """A crash between atomic_rewrite's two renames leaves the data in
    .prerewrite-* with nothing published; recover_rewrite restores it,
    and the next atomic_rewrite or compact_sorted_parquet call
    self-recovers too (ADVICE r6 #1)."""
    import shutil

    from engine.spark.sinks import (atomic_rewrite, compact_sorted_parquet,
                                    recover_rewrite)

    root = tmp_path / "idx"
    spark.range(10).write.parquet(str(root))
    # simulate the crash window: root moved aside, replacement not yet in
    shutil.move(str(root), str(tmp_path / "idx.prerewrite-deadbeef"))
    assert not root.exists()
    assert recover_rewrite(str(root)) is True
    assert spark.read.parquet(str(root)).count() == 10
    assert recover_rewrite(str(root)) is False  # no-op when healthy

    # self-recovery on the next rewrite call
    shutil.move(str(root), str(tmp_path / "idx.prerewrite-cafe0001"))
    out = atomic_rewrite(
        str(root),
        lambda tmp: spark.range(10).coalesce(1)
        .write.mode("overwrite").parquet(tmp))
    assert out["files_after"] >= 1
    assert spark.read.parquet(str(root)).count() == 10

    # compact_sorted_parquet publishes through the same swap, so it
    # recovers too
    shutil.move(str(root), str(tmp_path / "idx.prerewrite-cafe0002"))
    compact_sorted_parquet(spark, str(root), ["id"], target_bytes=10**9)
    assert spark.read.parquet(str(root)).count() == 10
    assert not list(tmp_path.glob("idx.prerewrite-*"))
