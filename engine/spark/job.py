"""spark-submit entry point.

    spark-submit --py-files engine.zip engine/spark/job.py \
        --input <transcripts parquet/iceberg path> \
        --output <dir> --run-id <id> [--waves 4] [--buckets 1024] \
        [--salt-partitions N]

Also runnable as ``python -m engine.spark.job`` for local smoke (builds its
own local[*] session). Package with ``python tools/package.py`` → engine.zip.

In client-mode spark-submit the driver JVM is up before ``build_session``
runs, so pass its driver JVM policy (C1-only JIT, no metaspace-triggered
GCs) on the command line; executors keep the JVM default::

    --conf "spark.driver.defaultJavaOptions=-XX:TieredStopAtLevel=1 -XX:MetaspaceSize=256m"
"""

from __future__ import annotations

import argparse
import sys


def build_session(master: str | None = None, app: str = "transcript-extract",
                  shuffle_partitions: int = 32, driver_memory: str = "8g"):
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.appName(app)
         .config("spark.driver.memory", driver_memory)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
         .config("spark.sql.parquet.compression.codec", "zstd")
         # C1-only JIT for the driver JVM (the whole engine under local[*]):
         # its hot code is short per-job bursts (closure cleaning, task
         # serialization, parquet writers) that C2 rarely repays. On 4 cores
         # the compiler threads took 2.4-5.9 s of a warm 2k-turn pipeline
         # run's 4.3-8.6 s of CPU, 0.3-0.8 s with C1 only. Long warm
         # sessions pay in wall time (a warm 20k-turn, 64-bucket run: ~1.6 s
         # more). The launcher puts defaultJavaOptions before
         # --driver-java-options, so -XX:TieredStopAtLevel=4 there restores
         # C2. Executors keep the JVM default.
         # MetaspaceSize: the JVM starts at a 21 MB metaspace high-water
         # mark, and Spark's class loading (plus each plan's generated
         # classes) passes it again and again in a session's first jobs;
         # each pass forces a young GC and a G1 concurrent mark. On 4 cores
         # those took 0.5-1.6 s of GC CPU in the first 2k-turn pipeline run,
         # 0.2 s with the mark at 256 MB. It is a GC trigger, not a reserve.
         .config("spark.driver.defaultJavaOptions",
                 "-XX:TieredStopAtLevel=1 -XX:MetaspaceSize=256m")
         # no Python call-site capture per Column call: with it on, every
         # pyspark.sql.functions / Column call walks the stack, tries to
         # import IPython and ipykernel, and makes four extra JVM round
         # trips. A 9-call bucket_col expression took 9.1 ms to build with
         # it, 4.9 ms without; the first call paid 0.35-0.5 s for the
         # IPython import; a cold 2k-turn, 16-bucket pipeline run took
         # 4.7 s instead of 5.4 s (4 cores). Errors lose only the Python
         # file:line of the DataFrame call that built the failing plan.
         .config("spark.python.sql.dataFrameDebugging.enabled", "false"))
    if master:
        b = b.master(master)
    return b.getOrCreate()


def tune_input_splits(spark, path: str, per_core_splits: int = 3,
                      floor_bytes: int = 1 << 20,
                      ceil_bytes: int = 128 << 20) -> int:
    """Proactively size ``spark.sql.files.maxPartitionBytes`` for a
    CPU-heavy scan of ``path``: target ≈ input_bytes / (cores ×
    ``per_core_splits``), clamped to [1 MB, 128 MB].

    The 128 MB default is tuned for IO-bound scans; this engine's scans
    feed extraction kernels and shingle explodes where each input byte
    costs orders of magnitude more CPU than the read, so a corpus that
    packs into fewer file-splits than cores silently idles the rest of the
    machine (round-4 profile: 500k docs → 8 splits → the explode ran 360 s
    on 8 of 32 cores; 32 partitions did it in 22.6 s). Sizing the splits at
    the source replaces the reactive ``_ensure_parallelism`` repartition —
    no extra narrow shuffle, and AQE still coalesces post-shuffle stages.

    Sizes via the Hadoop FileSystem API (works for hdfs:// s3a:// paths on
    a real cluster), falling back to a local os.walk. Returns the chosen
    byte size (also set on the session conf). Parquet caveat: a split can
    only parallelize across row groups, so writers must keep row groups
    bounded (tools/synth.py writes 20k-row groups for exactly this reason).
    """
    total = 0
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        total = int(fs.getContentSummary(hpath).getLength())
    except Exception:
        import os
        if os.path.isfile(path):
            total = os.path.getsize(path)
        else:
            for root, _dirs, files in os.walk(path):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
    cores = spark.sparkContext.defaultParallelism
    target = max(floor_bytes,
                 min(ceil_bytes, total // max(1, cores * per_core_splits)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))
    return target


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--waves", type=int, default=4)
    ap.add_argument("--buckets", type=int, default=1024)
    ap.add_argument("--salt-partitions", type=int, default=None)
    ap.add_argument("--table-format", default="parquet",
                    choices=["parquet", "iceberg"],
                    help="iceberg needs runtime jars + a catalog; --output "
                         "is then a catalog namespace (cat.db)")
    ap.add_argument("--master", default=None,
                    help="local override; omit under spark-submit")
    args = ap.parse_args(argv)

    spark = build_session(args.master)
    tune_input_splits(spark, args.input)
    from engine.spark.pipeline import run_pipeline
    stats = run_pipeline(spark, args.input, args.output, args.run_id,
                         n_buckets=args.buckets, waves=args.waves,
                         salt_partitions=args.salt_partitions,
                         table_format=args.table_format)
    print(f"run_id={stats.run_id} waves={stats.waves_run} "
          f"processed={stats.turns_processed} "
          f"skipped_resume={stats.turns_skipped_resume} "
          f"wall_s={stats.wall_s:.1f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
