"""Structured Streaming variant of the extraction pipeline.

The reference is pure batch (SURVEY.md §2.8) and the north rule needs batch
over a static table, but a transcript firehose is the natural streaming
source, and the extraction map is stateless per turn — so the SAME
mapInPandas kernel runs under readStream/writeStream unchanged:

    readStream(parquet dir) → extract (stateless Arrow map) → writeStream
    (parquet sink, checkpointLocation) with Trigger.AvailableNow for
    catch-up runs.

Streaming checkpointing subsumes the batch lineage for exactly-once file
sinks; watermarks/windows are NOT needed because there is no event-time
aggregation in the per-turn map (a conversation-level streaming rollup would
use a conv_id session window + watermark on ts — provided here as
``streaming_conversation_counts`` to pin that pattern down).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .schema import EXTRACTED_SCHEMA, TRANSCRIPT_SCHEMA
from .udfs import extract_batches


def scaled_stream_partitions(n_bytes: int, target_bytes: int = 64 << 20,
                             cap: int = 4096) -> int:
    """Scale-adaptive shuffle/state partition count for a stream over a
    bounded input: ceil(bytes / target) clamped to [1, cap].

    Stateful operators FREEZE ``spark.sql.shuffle.partitions`` into the
    checkpoint at first start, and every micro-batch then opens/commits
    one state store per partition — a constant tuned for either local
    mode or a cluster is wrong at the other scale (guide §2: derive
    partitioning from input size). At the bench's MB-scale replays this
    yields 1 partition (state commits stop dominating the drain); a
    6 TB/day stream at the same 64 MB target gets ~100k-capped
    partitions."""
    return max(1, min(cap, -(-int(n_bytes) // target_bytes)))


def stream_partition_scope(spark: SparkSession, n_partitions: int):
    """Context manager: pin ``spark.sql.shuffle.partitions`` while a
    streaming query is DEFINED AND STARTED, restoring the session value
    after the drain. Only the stream's state layout reads the pinned
    value; later batch queries see the restored session setting."""
    from contextlib import contextmanager

    @contextmanager
    def scope():
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n_partitions))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
    return scope()


def read_transcript_stream(spark: SparkSession, input_dir: str,
                           max_files_per_trigger: int = 16) -> DataFrame:
    return (spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def extract_stream(stream: DataFrame) -> DataFrame:
    """Same kernel, same schema — stateless, so it is streaming-safe."""
    return stream.mapInPandas(lambda it: extract_batches(it),
                              schema=EXTRACTED_SCHEMA)


def run_stream_to_parquet(spark: SparkSession, input_dir: str,
                          output_dir: str, checkpoint_dir: str,
                          available_now: bool = True):
    """Start (and with available_now=True, drain) the streaming job.
    Returns the StreamingQuery."""
    q = (extract_stream(read_transcript_stream(spark, input_dir))
         .writeStream
         .format("parquet")
         .option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir))
    if available_now:
        q = q.trigger(availableNow=True)
    return q.start()


def stage_ordered_batches(dfs, stage_dir: str) -> None:
    """Write each DataFrame as ONE parquet file into ``stage_dir`` with
    explicitly increasing mtimes (60 s apart), so the streaming file source
    under maxFilesPerTrigger=1 processes them in list order on ANY
    filesystem — coarse mtime granularity must not be able to reorder the
    micro-batches."""
    import os
    import shutil
    import tempfile
    import time as _time

    os.makedirs(stage_dir, exist_ok=True)
    base = _time.time()
    for i, df in enumerate(dfs):
        tmp = tempfile.mkdtemp(prefix="stage_batch_")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        [part] = [p for p in os.listdir(tmp) if p.endswith(".parquet")]
        dst = os.path.join(stage_dir, f"batch-{i:04d}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        os.utime(dst, (base + i * 60,) * 2)
        shutil.rmtree(tmp, ignore_errors=True)


def stage_partitioned_batches(df, wave_col, n_waves: int,
                              stage_dir: str) -> None:
    """``stage_ordered_batches`` for waves that PARTITION one frame: one
    write pass with ``partitionBy`` instead of one full input scan per
    wave, then the same explicit-mtime ordering contract. ``wave_col``
    must evaluate to ints in [0, n_waves). An empty wave still stages an
    (empty, schema-complete) file so the batch sequence is unchanged."""
    import os
    import shutil
    import tempfile
    import time as _time

    from pyspark.sql import functions as F

    os.makedirs(stage_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="stage_part_")
    try:
        (df.withColumn("__wave", wave_col.cast("int"))
           .repartition(F.col("__wave"))
           .write.partitionBy("__wave").mode("overwrite").parquet(tmp))
        base = _time.time()
        for i in range(n_waves):
            dst = os.path.join(stage_dir, f"batch-{i:04d}.parquet")
            wave_dir = os.path.join(tmp, f"__wave={i}")
            parts = ([p for p in os.listdir(wave_dir)
                      if p.endswith(".parquet")]
                     if os.path.isdir(wave_dir) else [])
            # one file per wave: each distinct __wave value owns one
            # post-repartition partition, hence one written file (unless
            # the session caps spark.sql.files.maxRecordsPerFile)
            if len(parts) > 1:
                raise RuntimeError(
                    f"stage_partitioned_batches: wave {i} wrote "
                    f"{len(parts)} parquet files in {wave_dir}, expected "
                    f"one: {sorted(parts)}")
            if parts:
                shutil.move(os.path.join(wave_dir, parts[0]), dst)
            else:  # empty wave — stage an empty file with the full schema
                empty_dir = tempfile.mkdtemp(prefix="stage_empty_")
                (df.filter(F.lit(False)).coalesce(1)
                   .write.mode("overwrite").parquet(empty_dir))
                [part] = [p for p in os.listdir(empty_dir)
                          if p.endswith(".parquet")]
                shutil.move(os.path.join(empty_dir, part), dst)
                shutil.rmtree(empty_dir, ignore_errors=True)
            os.utime(dst, (base + i * 60,) * 2)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


SESSION_OUT_SCHEMA = ("user_id int, session_id bigint, "
                      "n_events bigint, value_sum double")
SESSION_STATE_SCHEMA = ("last_ts long, session_id long, "
                        "n_events long, value_sum double")
# timeout mode emits one extra column: the session's first event-time epoch.
# After an eviction the ordinal session_id restarts at 1, so (user_id,
# session_id) alone is not a unique sink key there — (user_id,
# session_start) is, and its presence doubles as the marker distinguishing
# timeout-mode rows from sentinel-mode rows (ADVICE r4).
SESSION_OUT_SCHEMA_TIMEOUT = SESSION_OUT_SCHEMA + ", session_start long"
SESSION_STATE_SCHEMA_TIMEOUT = SESSION_STATE_SCHEMA + ", session_start long"


def stateful_sessionize(stream: DataFrame, gap_s: int = 300,
                        timeout_ms: int | None = None) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    sessions split on > ``gap_s`` event-time gaps, session state carried
    ACROSS micro-batches. An event with user_id IS NULL-safe value and
    ``event_id < 0`` is a flush sentinel: it closes the user's open session
    (how a bounded replay drains final state; an unbounded run would use a
    timeout instead).

    Emitted rows are completed sessions only — numbering and aggregates
    must equal the batch window-function sessionization (the oracle).

    A sentinel closes the open session but KEEPS the user's session
    counter in state (last_ts None marks "closed"), so events arriving in
    a later micro-batch continue numbering instead of emitting duplicate
    (user_id, session_id) keys into the append-mode sink. The cost is that
    flushed users retain a row of state for the rest of the run — fine for
    the bounded replays this drives.

    ``timeout_ms`` (VERDICT r3 #7) is the unbounded-deployment eviction
    path: ProcessingTimeTimeout instead of NoTimeout. A user idle for
    ``timeout_ms`` of processing time has the open session emitted ONCE
    and the state row REMOVED — state is bounded by the active-user set,
    not the all-time user set. The documented tradeoff vs sentinel mode:
    eviction forgets the session counter, so a user reappearing after a
    timeout restarts numbering at 1 — in timeout mode session_id is an
    ordinal within an eviction epoch, not a globally unique key. Timeout
    -mode rows therefore carry one EXTRA column, ``session_start`` (the
    session's first event-time epoch, ADVICE r4): (user_id, session_start)
    stays unique across evictions, and the extra column is the schema-level
    marker telling sink consumers which semantics produced the rows.
    Sentinel mode keeps the 4-column schema the batch oracle compares.
    """
    import pandas as pd

    timeout = timeout_ms is not None
    out_cols = ["user_id", "session_id", "n_events", "value_sum"] + (
        ["session_start"] if timeout else [])

    def fn(key, pdf_iter, state):
        (user_id,) = key

        def row(session_id, n_events, value_sum, session_start):
            base = (user_id, session_id, n_events, value_sum)
            return base + (session_start,) if timeout else base

        def unpack():
            if not state.exists:
                return None, 0, 0, 0.0, None
            vals = state.get
            return vals if timeout else vals + (None,)

        if timeout and state.hasTimedOut:
            # idle past the horizon: emit the open session once, evict
            out = []
            if state.exists:
                last_ts, session_id, n_events, value_sum, start = unpack()
                if n_events:
                    out.append(row(session_id, n_events, value_sum, start))
                state.remove()
            if out:
                yield pd.DataFrame(out, columns=out_cols)
            return
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        last_ts, session_id, n_events, value_sum, start = unpack()
        out = []
        for ts, event_id, value in zip(pdf["ts"], pdf["event_id"],
                                       pdf["value"]):
            if event_id < 0:  # sentinel: close the open session
                if n_events:
                    out.append(row(session_id, n_events, value_sum, start))
                last_ts, n_events, value_sum = None, 0, 0.0  # keep session_id
                continue
            epoch = int(ts.value // 1_000_000_000)
            if last_ts is None:
                session_id += 1
                n_events, value_sum, start = 0, 0.0, epoch
            elif epoch - last_ts > gap_s:
                out.append(row(session_id, n_events, value_sum, start))
                session_id += 1
                n_events, value_sum, start = 0, 0.0, epoch
            last_ts = epoch
            n_events += 1
            value_sum += float(value)
        if n_events:
            vals = (last_ts, session_id, n_events, value_sum)
            state.update(vals + (start,) if timeout else vals)
            if timeout:
                # the timeout timestamp is cleared on every invocation for
                # the key — re-arm it whenever a session stays open
                state.setTimeoutDuration(timeout_ms)
        elif session_id:
            # closed by a sentinel: keep the counter so a later batch for
            # this user continues numbering (no duplicate session keys) —
            # in timeout mode there is nothing left to emit, so drop the
            # row instead (numbering restart is timeout mode's documented
            # contract, and keeping it would defeat the bounded-state point)
            if not timeout:
                state.update((None, session_id, 0, 0.0))
            elif state.exists:
                state.remove()
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return (stream.groupBy("user_id")
            .applyInPandasWithState(
                fn,
                SESSION_OUT_SCHEMA_TIMEOUT if timeout else SESSION_OUT_SCHEMA,
                SESSION_STATE_SCHEMA_TIMEOUT if timeout
                else SESSION_STATE_SCHEMA,
                "append",
                "ProcessingTimeTimeout" if timeout else "NoTimeout"))


def streaming_conversation_counts(stream: DataFrame,
                                  watermark: str = "10 minutes") -> DataFrame:
    """Event-time pattern exemplar: late-tolerant per-conversation turn
    counts over 1-minute windows (watermark bounds state)."""
    return (stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 minute"), F.col("conv_id"))
            .agg(F.count("*").alias("turns_in_window"),
                 F.sum(F.length("text")).alias("bytes_in_window")))
