"""Arrow-batched UDF wrappers around engine.core.

The whole extraction is ONE ``mapInPandas`` pass: Arrow ships columnar
batches to the Python worker, the kernel maps each row, and the nested
result columns go back as Arrow. No row-at-a-time Python UDFs anywhere
(input_hint: "vectorized pandas/Arrow UDFs, no per-row Python" — the regex
state machines are inherently per-payload, but transfer and scheduling are
batch-level, which is what kills per-row overhead; cf. the reference's
batching rationale, batch_figure_processor.py:38-43).

The kernel never raises; rows that fail carry ``error`` (mirrors the
reference's per-file error isolation, batch_pdf_processor.py:2754-2759).
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.accumulators import Accumulator, AccumulatorParam

from engine.core.extract import extract_turn

_EXTRACT_COLS = [
    "payload_kind", "cleaned_text", "title", "date", "language", "word_count",
    "page_count", "doc_id", "tickers", "authors", "passages", "tables",
    "numerics", "entities", "figures", "figures_kept", "figures_dropped",
    "clean_stats", "summary", "spans", "error",
]


class BucketTallies(AccumulatorParam):
    """Per-bucket lineage counts of extracted rows: ``{conv_bucket: [turns,
    failures, bytes_in, min partition_id]}``, merged sum/sum/sum/min."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, more):
        for bucket, (turns, failures, nbytes, pid) in more.items():
            t = acc.setdefault(bucket, [0, 0, 0, pid])
            t[:] = t[0] + turns, t[1] + failures, t[2] + nbytes, min(t[3], pid)
        return acc


def extract_batches(batches: Iterator[pd.DataFrame], n_buckets: int = 1024,
                    tallies: Optional[Accumulator] = None
                    ) -> Iterator[pd.DataFrame]:
    """mapInPandas body: transcript rows → EXTRACTED_SCHEMA rows.

    Runs on executors. Imports stay at module level so compiled regexes are
    reused across batches within a worker (Iterator form keeps one Python
    worker per partition). ``tallies`` (a ``BucketTallies`` accumulator)
    receives each batch's per-bucket counts of the rows it yields.
    """
    from pyspark import TaskContext
    ctx = TaskContext.get()  # None outside a task (a driver-side call)
    partition_id = ctx.partitionId() if ctx is not None else -1

    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        # NOTE: a single null turn_idx in a batch makes Arrow hand the whole
        # column over as float64 ('5' renders as '5.0'), which would silently
        # poison doc_name → doc_id for every row in the batch — normalize per
        # value, never via the column dtype.
        def _doc_name(conv, idx) -> str:
            conv_s = conv if isinstance(conv, str) else "None"
            idx_s = "None" if pd.isna(idx) else str(int(idx))
            return f"{conv_s}:{idx_s}"

        records = [
            extract_turn(text, tool, _doc_name(conv, idx))
            for text, tool, conv, idx in zip(
                pdf["text"], pdf["tool"], pdf["conv_id"], pdf["turn_idx"])
        ]
        out = pd.DataFrame({
            "conv_id": pdf["conv_id"].values,
            "turn_idx": pdf["turn_idx"].values,
            "role": pdf["role"].values if "role" in pdf else [None] * n,
            "ts": pdf["ts"].values if "ts" in pdf else [None] * n,
        })
        for col in _EXTRACT_COLS:
            out[col] = [r[col] for r in records]
        buckets = [stable_bucket(c, n_buckets) for c in pdf["conv_id"]]
        nbytes = [len(t) if isinstance(t, str) else 0 for t in pdf["text"]]
        out["conv_bucket"] = buckets
        out["partition_id"] = partition_id
        out["bytes_in"] = nbytes
        if tallies is not None:
            part = {}
            for bucket, rec, nb in zip(buckets, records, nbytes):
                t = part.setdefault(bucket, [0, 0, 0, partition_id])
                t[0] += 1
                t[1] += rec["error"] is not None
                t[2] += nb
            tallies.add(part)
        yield out


def stable_bucket(conv_id: str, n_buckets: int) -> int:
    """Deterministic, platform-stable bucket id (NOT Python hash(), which is
    salted per process). Matches the SQL side's xxhash64-free variant below —
    both sides must agree for the resume bucket filter, so the bucket is
    md5-based and computed identically in the kernel and in
    ``bucket_col``."""
    import hashlib
    key = conv_id if isinstance(conv_id, str) else ""
    return int.from_bytes(hashlib.md5(key.encode()).digest()[:4], "big") % n_buckets


def bucket_col(n_buckets: int):
    """Column expression computing the same bucket as ``stable_bucket``.

    Uses substr(md5(conv_id),1,8) parsed as hex — identical bytes to the
    kernel's md5[:4]. Spelled here rather than through
    ``engine.datawork.textstats.md5_u32`` (the same hash): it is the
    resume-bucket contract with ``stable_bucket``, and ``engine.spark``
    does not import ``engine.datawork``."""
    from pyspark.sql import functions as F
    key = F.coalesce(F.col("conv_id"), F.lit(""))  # null-safe, matches kernel
    return (F.conv(F.substring(F.md5(key), 1, 8), 16, 10)
            .cast("long") % n_buckets).cast("int")
