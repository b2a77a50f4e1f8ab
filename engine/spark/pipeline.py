"""The extraction pipeline: read → resume bucket filter → salted
repartition → Arrow-batch extract → cluster → write, with per-wave
checkpointing.

Physical design for 10^12 turns (SURVEY.md §4):

* Per-turn extraction is an embarrassingly parallel map, so the unit of
  shuffle-free parallelism is an input split. We repartition by
  ``hash(conv_id, turn_idx)`` ONLY when the source layout is skewed
  (synthetic data is written shuffled; a production Iceberg table bucketed by
  conv_id needs no repartition at all for the map — the repartition exists to
  break up pathological splits, e.g. one file holding a 2000-turn
  conversation run).
* Conversations are bucketed by a platform-stable md5 bucket (NOT Python
  ``hash``): the bucket is both the output partition key and the resume unit.
* Resume = skip the buckets already committed to the output (mirrors the
  reference's skip-completed scans, batch_pdf_processor.py:2562-2625). The
  committed set is ≤ n_buckets ints, so the driver holds it and each wave
  reads only its not-yet-done buckets through an ``isin`` filter.
* Lineage: a wave's manifest (per-bucket turns, failures, bytes) is summed
  by the extraction map into an accumulator as it feeds the writer, so no
  job reads the written wave back. Only the crash backfill aggregates the
  committed output.
* Bookkeeping frames (the committed-bucket set, the lineage manifest) are
  built driver-side or from Arrow, never as Python RDDs: a Python-RDD frame
  costs a Python task per slice, in a worker pool that runs no engine code.
* Resume scope is an immutable input snapshot: a bucket present in the
  output is considered fully done, so rows ADDED to the source after a
  bucket committed would be skipped — incremental ingestion takes a new
  output dir per input snapshot (on Iceberg: per input snapshot id).
* Waves: buckets are processed in ``waves`` sequential commit units; each
  wave's output + lineage rows commit together, so a killed run resumes at
  wave granularity with zero duplicate output rows. On Iceberg this is a
  snapshot per wave; on the parquet fallback it is a directory-append per
  wave (Spark's job-commit protocol keeps half-written waves invisible).
* Ordering: per-turn equality is checked under stable (conv_id, turn_idx)
  order; we never global-sort 10^12 rows — ``sortWithinPartitions`` clusters
  each output file and consumers order within conversation via a window.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Optional

from pyspark.accumulators import Accumulator, _accumulatorRegistry
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from .schema import EXTRACTED_SCHEMA, LINEAGE_SCHEMA, arrow_frame
from .udfs import BucketTallies, bucket_col, extract_batches

DEFAULT_BUCKETS = 1024


@dataclass
class RunStats:
    run_id: str
    waves_run: int
    turns_processed: int
    turns_skipped_resume: int
    wall_s: float
    # wall seconds per phase, summed across waves. "extract_write" is one
    # fused action by design (the map feeds the writer and sums the wave's
    # lineage counts; splitting it would cost a second extraction pass), so
    # regressions localize to: resume scan vs the fused extract+write vs
    # the manifest assembly from those counts ("lineage_read_agg", no job;
    # the name predates it) vs the manifest write.
    phases: dict = field(default_factory=dict)


#: RunStats of the most recent run_pipeline call in this process — how
#: bench.py surfaces the phase split without re-running the pipeline.
LAST_RUN_STATS: Optional[RunStats] = None


def extract_df(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS,
               salt_partitions: Optional[int] = None, *,
               tallies: Optional[Accumulator] = None) -> DataFrame:
    """transcripts → extracted_turns (no write). The core operator.

    ``salt_partitions`` > 0 forces an even repartition by
    ``hash(conv_id, turn_idx)`` — full-width salt, safe because the
    extraction map is per-turn (north_rule's "salted repartitioning for
    skewed long conversations"). ``tallies`` (a ``BucketTallies``
    accumulator) gets the per-bucket counts of every row the map yields.
    """
    src = df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    if salt_partitions:
        src = src.repartition(salt_partitions, F.xxhash64("conv_id", "turn_idx"))
    return src.mapInPandas(
        lambda it: extract_batches(it, n_buckets, tallies),
        schema=EXTRACTED_SCHEMA)


def _is_missing_table(exc: Exception) -> bool:
    """True iff ``exc`` says the table does not exist yet — the ONLY read
    failure a resume may treat as "empty". Any other error must abort the
    run: treating a transient error as an empty table would reprocess and
    APPEND duplicates (output) or backfill every bucket again (lineage)."""
    from pyspark.errors import AnalysisException
    msg = str(exc)
    return isinstance(exc, AnalysisException) and (
        "PATH_NOT_FOUND" in msg or "Path does not exist" in msg
        or "TABLE_OR_VIEW_NOT_FOUND" in msg)


def _bucket_manifest(extracted: DataFrame) -> DataFrame:
    """Per-bucket lineage counts over committed output rows (partition_id
    kept as a representative for debugging); the crash backfill's source."""
    return (extracted.groupBy("conv_bucket")
            .agg(F.min("partition_id").alias("partition_id"),
                 F.count("*").alias("turns_processed"),
                 F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
                  .alias("extraction_failures"),
                 F.sum("bytes_in").alias("bytes_parsed")))


def completed_buckets(spark: SparkSession, out_sink) -> DataFrame:
    """Distinct conv_buckets already committed to the OUTPUT table.

    The output is the resume authority, not the lineage manifest: a wave
    commits output first, lineage second, so a crash between the two commits
    must not cause the wave to be reprocessed (that would duplicate output
    rows). Buckets can only appear in the output fully written (the commit
    is all-or-nothing per wave: parquet job-commit / Iceberg snapshot), and
    reading just the partition column is a directory/manifest listing, not
    a data scan."""
    try:
        out = out_sink.read(EXTRACTED_SCHEMA)
        return out.select("conv_bucket").distinct()
    except Exception as exc:
        if _is_missing_table(exc):
            return arrow_frame(
                spark, [], StructType([EXTRACTED_SCHEMA["conv_bucket"]]))
        raise


def run_pipeline(spark: SparkSession, input_path: str, output_dir: str,
                 run_id: str, n_buckets: int = DEFAULT_BUCKETS,
                 waves: int = 4, salt_partitions: Optional[int] = None,
                 table_format: str = "parquet") -> RunStats:
    """End-to-end batch run with resume. Idempotent per (run_id, bucket).

    ``table_format="iceberg"`` writes catalog tables
    ``{output_dir}.extracted_turns`` / ``{output_dir}.lineage`` (one snapshot
    per wave commit) instead of parquet directories — same protocol, V2
    writer; requires iceberg runtime jars (see engine/spark/sinks.py).
    """
    from .sinks import TableSink
    t_start = time.monotonic()
    sep = "." if table_format == "iceberg" else "/"
    out_sink = TableSink(spark, f"{output_dir}{sep}extracted_turns",
                         table_format, partition_col="conv_bucket")
    lineage_sink = TableSink(spark, f"{output_dir}{sep}lineage", table_format)

    phases = {"resume_scan": 0.0, "extract_write": 0.0,
              "lineage_read_agg": 0.0, "lineage_write": 0.0}
    src = spark.read.parquet(input_path).withColumn("conv_bucket", bucket_col(n_buckets))

    t_phase = time.monotonic()
    # the committed-bucket set is ≤ n_buckets ints — collect it once so the
    # driver can skip fully-committed waves without launching a job (a no-op
    # resume otherwise pays one full input scan PER WAVE) and filter each
    # wave to its not-yet-done buckets with ``isin`` (bucket_col is never
    # null, so ``isin`` is exact: no three-valued logic to mind)
    done_values = {r["conv_bucket"]
                   for r in completed_buckets(spark, out_sink).collect()}
    phases["resume_scan"] += time.monotonic() - t_phase

    # lineage backfill: a crash between a wave's output commit and its
    # lineage commit leaves committed buckets with no manifest rows — repair
    # the manifest from the output (wave=-1 marks backfilled rows)
    if done_values:
        try:
            lin_values = {r["conv_bucket"] for r in
                          lineage_sink.read(LINEAGE_SCHEMA)
                          .select("conv_bucket").distinct().collect()}
        except Exception as exc:
            if not _is_missing_table(exc):
                raise
            lin_values = set()
        orphans = sorted(done_values - lin_values)
        if orphans:
            backfill = (_bucket_manifest(
                            out_sink.read(EXTRACTED_SCHEMA)
                            .filter(F.col("conv_bucket").isin(orphans)))
                        .withColumn("run_id", F.lit(run_id))
                        .withColumn("wave", F.lit(-1))
                        .withColumn("wall_ms", F.lit(0))
                        .withColumn("completed_at",
                                    F.lit(datetime.now(timezone.utc))
                                    .cast("timestamp"))
                        # the wave writes' types (wall_ms is int64 there):
                        # a narrower file makes lineage reads that infer
                        # the schema fail with a column type mismatch
                        .select([F.col(f.name).cast(f.dataType)
                                 for f in LINEAGE_SCHEMA.fields]))
            lineage_sink.append(backfill)

    total_processed = 0
    skipped = 0
    waves_run = 0
    for wave in range(waves):
        wave_buckets = [b for b in range(wave, n_buckets, waves)
                        if b not in done_values]
        if not wave_buckets:  # wave fully committed by a prior attempt
            waves_run += 1
            continue
        wave_df = src.filter(F.col("conv_bucket").isin(wave_buckets))
        # repartition BY THE BUCKET: each bucket lands in exactly one task, so
        # partitionBy(conv_bucket) writes one file per bucket per wave instead
        # of (tasks × buckets) tiny files — the classic partitionBy file
        # explosion. Buckets are md5-even, so task balance holds; task count
        # comes from salt_partitions (else spark.sql.shuffle.partitions).
        if salt_partitions:
            wave_df = wave_df.repartition(salt_partitions, F.col("conv_bucket"))
        else:
            wave_df = wave_df.repartition(F.col("conv_bucket"))
        # the wave's manifest comes from the extraction map itself, with no
        # job that reads the written wave back. Exact because the map runs
        # in the write job's result stage (the repartition above is the last
        # shuffle; the writer adds only a local sort): Spark merges a result
        # task's accumulator update once per partition and only from a
        # successful attempt (a PythonAccumulatorV2 drops failed attempts'
        # values). A shuffle between the map and the writer would make it a
        # map stage, whose re-runs can add twice.
        tallies = spark.sparkContext.accumulator({}, BucketTallies())
        try:
            # sort BEFORE the extraction map, not after: the map is 1:1 and
            # order-preserving per partition, so the output clustering is
            # identical, but the sort moves the narrow transcript rows
            # (~bytes of text) instead of the wide extracted rows (nested
            # passages/tables/spans) — at scale the post-extract sort
            # buffers the heavy rows and spills first (guide §8: move heavy
            # bytes once; decide order on the light side)
            extracted = extract_df(
                wave_df.drop("conv_bucket")
                       .sortWithinPartitions("conv_id", "turn_idx"),
                n_buckets, None, tallies=tallies)
            t_wave = time.monotonic()
            out_sink.append(extracted)
            counts = tallies.value
        finally:
            # pyspark's driver registry keeps every accumulator for the
            # life of the session. Nothing adds to this one after its job
            # ends: the DAGScheduler ignores a finished job's late results
            _accumulatorRegistry.pop(tallies.aid, None)

        wall_ms = int((time.monotonic() - t_wave) * 1000)
        phases["extract_write"] += wall_ms / 1000.0
        t_phase = time.monotonic()
        completed_at = datetime.now(timezone.utc)
        lin_rows = [
            {"run_id": run_id, "wave": wave, "conv_bucket": b,
             "partition_id": pid, "turns_processed": turns,
             "extraction_failures": failures, "bytes_parsed": nbytes,
             "wall_ms": wall_ms, "completed_at": completed_at}
            for b, (turns, failures, nbytes, pid) in sorted(counts.items())]
        phases["lineage_read_agg"] += time.monotonic() - t_phase
        t_phase = time.monotonic()
        n_wave = sum(r["turns_processed"] for r in lin_rows)
        # coalesce(1): one manifest file per wave
        lineage_sink.append(
            arrow_frame(spark, lin_rows, LINEAGE_SCHEMA).coalesce(1))
        phases["lineage_write"] += time.monotonic() - t_phase
        total_processed += int(n_wave)
        waves_run += 1

    if done_values:
        t_phase = time.monotonic()
        skipped = src.filter(
            F.col("conv_bucket").isin(sorted(done_values))).count()
        phases["resume_scan"] += time.monotonic() - t_phase

    global LAST_RUN_STATS
    stats = RunStats(run_id=run_id, waves_run=waves_run,
                     turns_processed=total_processed,
                     turns_skipped_resume=skipped,
                     wall_s=time.monotonic() - t_start,
                     phases={k: round(v, 3) for k, v in phases.items()})
    LAST_RUN_STATS = stats
    return stats


def assemble_conversations(extracted: DataFrame) -> DataFrame:
    """Conversation-level rollup (A6–A13 at conversation scope).

    Pure DataFrame ops — no UDF: stable turn order is imposed with
    array_sort over (turn_idx, …) structs, the Spark-native equivalent of the
    reference's sequential accumulation (SURVEY.md §2.4). Aggregation is a
    single hash-shuffle on conv_id; skewed conversations are bounded (≤ a few
    thousand turns) so no salting is needed for the agg itself.
    """
    ordered_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("turn_idx", "cleaned_text"))),
            lambda s: s["cleaned_text"]),
        "\n\n")
    return (extracted.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.max("turn_idx").alias("max_turn_idx"),
        ordered_text.alias("conversation_text"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("tickers"))))
         .alias("tickers"),
        F.sum("summary.passages_count").alias("passages_count"),
        F.sum("summary.tables_count").alias("tables_count"),
        F.sum("summary.numerics_count").alias("numerics_count"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("failed_turns"),
        F.sum(F.length(F.col("cleaned_text"))).alias("cleaned_chars"),
    ))
