"""Table sinks: parquet directory-append (sandbox default) or Iceberg
catalog-table append, behind one dispatch point.

The pipeline's commit protocol maps 1:1 onto Iceberg (README "Iceberg
note"): each wave's output append is one atomic commit — a directory-append
job-commit on parquet, a snapshot on Iceberg — and the resume scan reads the
committed bucket set. This module makes that mapping code instead of prose:
``run_pipeline(..., table_format="iceberg")`` appends to catalog tables via
``DataFrame.writeTo`` (DataSourceV2), creating them partitioned by
``conv_bucket`` on first write. The sandbox has no iceberg-spark-runtime
jars, so the iceberg path raises a clear error here and is exercised only by
the dispatch/gating tests; on a jar-equipped cluster it is the same
code path (reference analogue: the resume scans of
batch_pdf_processor.py:2562-2625, which re-list the filesystem instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

FORMATS = ("parquet", "iceberg")


def _require_iceberg(spark: SparkSession) -> None:
    """Fail fast with an actionable message when the runtime lacks the
    Iceberg classes (sandbox default)."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource")
    except Exception:
        raise RuntimeError(
            "table_format='iceberg' needs iceberg-spark-runtime on the "
            "cluster classpath and a configured catalog "
            "(spark.sql.catalog.<name>); this runtime has neither — "
            "use table_format='parquet' or submit with "
            "--packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12")


class TableSink:
    """One logical output table. ``target`` is a directory path for parquet
    or a catalog table identifier (``cat.db.table``) for iceberg."""

    def __init__(self, spark: SparkSession, target: str,
                 table_format: str = "parquet",
                 partition_col: str | None = None):
        if table_format not in FORMATS:
            raise ValueError(f"table_format must be one of {FORMATS}, "
                             f"got {table_format!r}")
        if table_format == "iceberg":
            _require_iceberg(spark)
        self.spark = spark
        self.target = target
        self.format = table_format
        self.partition_col = partition_col

    def append(self, df: DataFrame) -> None:
        """One atomic commit (job-commit on parquet, snapshot on iceberg)."""
        if self.format == "parquet":
            w = df.write.mode("append")
            if self.partition_col:
                w = w.partitionBy(self.partition_col)
            w.parquet(self.target)
            return
        try:
            w = df.writeTo(self.target)
            w.append()
        except Exception as exc:
            if "TABLE_OR_VIEW_NOT_FOUND" not in str(exc):
                raise
            w = df.writeTo(self.target).using("iceberg")
            if self.partition_col:
                w = w.partitionedBy(F.col(self.partition_col))
            w.create()

    def read(self, schema=None) -> DataFrame:
        """The committed table. Raises AnalysisException when it does not
        exist yet — callers decide whether that means 'empty' (see
        pipeline.completed_buckets)."""
        if self.format == "parquet":
            r = self.spark.read
            if schema is not None:
                r = r.schema(schema)
            return r.parquet(self.target)
        return self.spark.read.table(self.target)


def recover_rewrite(path: str) -> bool:
    """Crash recovery for ``atomic_rewrite`` (ADVICE r6 #1): a crash in
    the swap window leaves the data stranded in ``<name>.prerewrite-*``
    with nothing at the published path. Call at startup (compaction
    entrypoints do): if the root is missing and exactly one prerewrite
    dir exists, restore it and return True. Multiple leftovers abort —
    that state needs a human."""
    import shutil
    from pathlib import Path

    root = Path(path)
    if root.exists():
        return False
    stranded = sorted(root.parent.glob(f"{root.name}.prerewrite-*"))
    if not stranded:
        return False
    if len(stranded) > 1:
        raise RuntimeError(
            f"{path} missing with {len(stranded)} .prerewrite-* leftovers "
            f"— ambiguous crash state, restore manually: {stranded}")
    shutil.move(str(stranded[0]), str(root))
    return True


def atomic_rewrite(path: str, write_fn) -> dict:
    """Replace a live parquet directory with a rewritten version:
    ``write_fn(tmp_path)`` materializes the replacement beside the
    original, then a rename swap publishes it; the original is moved
    aside (and restored on swap failure) before removal.

    Concurrency contract (ADVICE r6 #1): single writer, and NO concurrent
    reader during the swap — between the two renames the published path
    briefly does not exist, so a reader racing the swap can hit
    FileNotFound. Run compaction in the maintenance window the module
    docs already require for appends. A crash inside that window strands
    the data in ``.prerewrite-*``; ``recover_rewrite`` restores it at
    startup.

    Returns {files,bytes}×{before,after}. ``compact_sorted_parquet``
    publishes through it, for rewrites that change LAYOUT or fold partial
    rows (index compaction)."""
    import shutil
    import uuid
    from pathlib import Path

    recover_rewrite(path)  # restore a prior crash's stranded dir first
    root = Path(path)
    files = [p for p in root.rglob("*.parquet") if p.is_file()]
    if not files:
        raise ValueError(f"no parquet files under {path}")
    before_bytes = sum(p.stat().st_size for p in files)
    tmp = root.with_name(f"{root.name}.rewrite-{uuid.uuid4().hex[:8]}")
    old = root.with_name(f"{root.name}.prerewrite-{uuid.uuid4().hex[:8]}")
    write_fn(str(tmp))
    shutil.move(str(root), str(old))
    try:
        shutil.move(str(tmp), str(root))
    except Exception:
        shutil.move(str(old), str(root))  # roll back — original intact
        raise
    shutil.rmtree(str(old))
    after = [p for p in root.rglob("*.parquet") if p.is_file()]
    return {"files_before": len(files), "files_after": len(after),
            "bytes_before": before_bytes,
            "bytes_after": sum(p.stat().st_size for p in after)}


def compact_sorted_parquet(spark: SparkSession, path: str,
                           sort_cols: list, target_bytes: int = 128 * 1024
                           * 1024, aggregate_fn=None) -> dict:
    """Rewrite a parquet directory back to a few files RANGE-PARTITIONED +
    sorted by ``sort_cols`` — the compaction an append-accumulating index
    needs: per-wave appends each arrive sorted within their own files, so
    min/max row-group pruning degrades from "few row groups" to "few per
    appended file" as waves pile up; this restores the single global
    sorted layout. ``aggregate_fn`` (optional, DataFrame -> DataFrame)
    lets a caller fold additive partial rows (stats tables) in the same
    atomic pass."""
    import math
    from pathlib import Path

    recover_rewrite(path)  # a stranded root would census as empty
    root = Path(path)
    files = [p for p in root.rglob("*.parquet") if p.is_file()]
    if not files:
        raise ValueError(f"no parquet files under {path}")
    n_out = max(1, math.ceil(
        sum(p.stat().st_size for p in files) / target_bytes))
    df = spark.read.parquet(str(root))
    if aggregate_fn is not None:
        df = aggregate_fn(df)

    def _write(tmp: str) -> None:
        (df.repartitionByRange(n_out, *sort_cols)
           .sortWithinPartitions(*sort_cols)
           .write.mode("overwrite").parquet(tmp))

    return atomic_rewrite(str(root), _write)
