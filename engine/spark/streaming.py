"""Structured Streaming helpers for the declared streaming queries.

The extraction pipeline is batch over a static table (SURVEY.md §2.8);
incremental ingestion takes a new output dir per input snapshot. What
streams here are the event-table queries: a scale-adaptive state
partition count, ordered micro-batch staging for bounded replays, and
the custom stateful sessionizer behind ``events_stream_sessionize``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


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


def stateful_sessionize(stream: DataFrame, gap_s: int = 300) -> DataFrame:
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
    """
    import pandas as pd

    out_cols = ["user_id", "session_id", "n_events", "value_sum"]

    def fn(key, pdf_iter, state):
        (user_id,) = key
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        last_ts, session_id, n_events, value_sum = (
            state.get if state.exists else (None, 0, 0, 0.0))
        out = []
        for ts, event_id, value in zip(pdf["ts"], pdf["event_id"],
                                       pdf["value"]):
            if event_id < 0:  # sentinel: close the open session
                if n_events:
                    out.append((user_id, session_id, n_events, value_sum))
                last_ts, n_events, value_sum = None, 0, 0.0  # keep session_id
                continue
            epoch = int(ts.value // 1_000_000_000)
            if last_ts is None:
                session_id += 1
                n_events, value_sum = 0, 0.0
            elif epoch - last_ts > gap_s:
                out.append((user_id, session_id, n_events, value_sum))
                session_id += 1
                n_events, value_sum = 0, 0.0
            last_ts = epoch
            n_events += 1
            value_sum += float(value)
        if n_events:
            state.update((last_ts, session_id, n_events, value_sum))
        elif session_id:
            # closed by a sentinel: keep the counter so a later batch for
            # this user continues numbering (no duplicate session keys)
            state.update((None, session_id, 0, 0.0))
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return (stream.groupBy("user_id")
            .applyInPandasWithState(fn, SESSION_OUT_SCHEMA,
                                    SESSION_STATE_SCHEMA, "append",
                                    "NoTimeout"))
