"""Streaming helpers: the stateful sessionizer carries state across
micro-batches, the declared streaming queries drain exactly once, and
partitioned staging keeps one file per wave."""

import pytest


def test_stateful_sessionize_carries_state_across_microbatches(spark, tmp_path):
    """A session whose events span two files (→ two availableNow
    micro-batches with maxFilesPerTrigger=1) must come out as ONE session:
    the open session lives in the state store between triggers."""
    from pyspark.sql import functions as F

    from engine.spark.streaming import stateful_sessionize

    stage = str(tmp_path / "in")
    schema = "user_id int, event_id int, ts timestamp, value double"
    f1 = spark.createDataFrame(
        [(1, 10, "2024-01-01 00:00:00", 1.0),
         (1, 11, "2024-01-01 00:02:00", 2.0),     # same session, batch 1
         (2, 20, "2024-01-01 00:00:00", 5.0)],
        "user_id int, event_id int, ts string, value double"
    ).select("user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"),
             "value")
    f2 = spark.createDataFrame(
        [(1, 12, "2024-01-01 00:04:00", 4.0),     # continues user 1 session
         (1, 13, "2024-01-01 01:00:00", 8.0),     # new session (gap > 300 s)
         (1, -1, "2024-01-01 09:00:00", 0.0),     # flush sentinels
         (2, -1, "2024-01-01 09:00:00", 0.0)],
        "user_id int, event_id int, ts string, value double"
    ).select("user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"),
             "value")
    from engine.spark.streaming import stage_ordered_batches
    stage_ordered_batches([f1, f2], stage)

    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "*.parquet")
              .option("maxFilesPerTrigger", "1").parquet(stage))
    q = (stateful_sessionize(stream, gap_s=300)
         .writeStream.format("memory").queryName("sess_carry_sink")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = {(r["user_id"], r["session_id"]): (r["n_events"], r["value_sum"])
            for r in spark.table("sess_carry_sink").collect()}
    assert rows == {
        (1, 1): (3, 7.0),   # 3 events ACROSS the batch boundary, one session
        (1, 2): (1, 8.0),
        (2, 1): (1, 5.0),
    }

def test_stateful_sessionize_numbering_survives_sentinel(spark, tmp_path):
    """Events arriving AFTER a flush sentinel (a later micro-batch) must
    continue the user's session numbering — a reset would emit a duplicate
    (user_id, session_id) key into the append-mode sink."""
    from pyspark.sql import functions as F

    from engine.spark.streaming import stage_ordered_batches, stateful_sessionize

    stage = str(tmp_path / "in")
    schema = "user_id int, event_id int, ts timestamp, value double"

    def batch(rows):
        return spark.createDataFrame(
            rows, "user_id int, event_id int, ts string, value double"
        ).select("user_id", "event_id",
                 F.col("ts").cast("timestamp").alias("ts"), "value")

    stage_ordered_batches([
        batch([(1, 10, "2024-01-01 00:00:00", 1.0)]),
        batch([(1, -1, "2024-01-01 01:00:00", 0.0)]),   # flush
        batch([(1, 20, "2024-01-01 02:00:00", 3.0),     # user reappears
               (1, -1, "2024-01-01 09:00:00", 0.0)]),
    ], stage)

    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "*.parquet")
              .option("maxFilesPerTrigger", "1").parquet(stage))
    q = (stateful_sessionize(stream, gap_s=300)
         .writeStream.format("memory").queryName("sess_sentinel_sink")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = {(r["user_id"], r["session_id"]): (r["n_events"], r["value_sum"])
            for r in spark.table("sess_sentinel_sink").collect()}
    assert rows == {(1, 1): (1, 1.0), (1, 2): (1, 3.0)}  # 2, not 1 again

def test_stream_dedup_drops_replayed_tail(spark):
    """The staged input feeds MORE rows than the events table (the replayed
    tail); the drained aggregate must equal exactly-once counts."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = {r["event_type"]: (r["n"], r["value_sum"])
           for r in entry.q_events_stream_dedup(spark, sf).collect()}
    ev = spark.read.parquet(f"{sf}/events.parquet")
    total = ev.count()
    assert sum(n for n, _ in got.values()) == total  # exactly-once
    # and the replay was non-empty (≥1 event in the last 30 minutes)
    from pyspark.sql import functions as F
    mx = ev.agg(F.max("ts").alias("m")).first()["m"]
    replayed = ev.filter(
        F.col("ts") >= F.lit(mx) - F.expr("INTERVAL 30 MINUTES")).count()
    assert replayed >= 1


def test_stream_stream_join_matches_across_microbatches(spark, tmp_path):
    """A click in micro-batch 1 must still match a purchase arriving in
    micro-batch 2 (join state holds the click until watermark + bound
    passes), and pairs must emit exactly once. Two staged files +
    maxFilesPerTrigger=1 force real batch boundaries."""
    import datetime as dt

    from pyspark.sql import functions as F

    from engine.spark.streaming import stage_ordered_batches

    T = lambda m: dt.datetime(2024, 1, 1, 10, m)
    b1 = spark.createDataFrame(
        [(1, 7, T(0), "click", 0.0),      # matches purchase in batch 2
         (2, 8, T(5), "click", 0.0),
         (3, 8, T(7), "purchase", 5.0)],  # same-batch match for click 2
        "event_id int, user_id int, ts timestamp, "
        "event_type string, value double")
    b2 = spark.createDataFrame(
        [(4, 7, T(30), "purchase", 9.0),   # cross-batch match for click 1
         (5, 7, T(59), "purchase", 2.0),   # second match for click 1
         (6, 9, T(40), "purchase", 1.0)],  # no click → no pair
        b1.schema)
    stage = str(tmp_path / "stage")
    stage_ordered_batches([b1, b2], stage)

    def side(et, p):
        s = (spark.readStream.schema(b1.schema)
             .option("pathGlobFilter", "*.parquet")
             .option("maxFilesPerTrigger", "1").parquet(stage)
             .filter(F.col("event_type") == et))
        return (s.select(F.col("user_id").alias(f"{p}_user"),
                         F.col("ts").cast("timestamp_ltz")
                          .alias(f"{p}_ts"),
                         F.col("event_id").alias(f"{p}_id"))
                .withWatermark(f"{p}_ts", "1 hour"))

    joined = side("click", "c").join(
        side("purchase", "p"),
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")))
    q = (joined.writeStream.format("memory")
         .queryName("ss_join_test_sink").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["c_id"], r["p_id"])
                 for r in spark.table("ss_join_test_sink").collect())
    assert got == [(1, 4), (1, 5), (2, 3)]


def test_stage_partitioned_batches_rejects_split_wave(spark, tmp_path):
    """A wave directory holding two parquet files cannot become one staged
    batch; the error names the wave and the files instead of a bare
    unpack failure."""
    from pyspark.sql import functions as F

    from engine.spark.streaming import stage_partitioned_batches

    df = spark.range(4).withColumn("v", F.col("id") * 10)
    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")  # wave 0 (ids 0 and 2) writes two files
    try:
        with pytest.raises(RuntimeError, match=r"wave 0 wrote 2 parquet "
                                               r"files.*part-.*part-"):
            stage_partitioned_batches(df, F.col("id") % 2, 2,
                                      str(tmp_path / "stage"))
    finally:
        spark.conf.set(key, old)
