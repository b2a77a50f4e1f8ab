"""Bounded-memory frequency sketching: Misra-Gries heavy hitters with
exact verification.

The full token histogram of a 100 TB corpus is vocabulary-sized — fine —
but building it is one giant shuffle of every token occurrence. When the
question is only "which terms exceed 1/(k+1) of the stream?", the
two-phase Misra-Gries pipeline answers EXACTLY while shuffling almost
nothing:

1. Each partition runs a k-counter Misra-Gries pass (the 1982 streaming
   algorithm) over its own tokens and emits at most k candidate terms.
   MG's guarantee transfers to partitions by averaging: an item with
   global count > N/(k+1) must exceed n_p/(k+1) on at least one
   partition, so the union of per-partition candidates is a SUPERSET of
   every global heavy hitter. The union is tiny: partitions × k rows.
2. The candidate set is broadcast back, the token stream is filtered to
   candidates, and only those get an exact count; the final filter is
   the integer predicate cnt·(k+1) > N.

The output is therefore EXACTLY the set a full histogram would give —
the sketch only bounds the intermediate state (k counters per task, a
candidates×1 broadcast) — which is why a plain SQL GROUP BY ... HAVING
is a valid oracle even though the Spark plan never builds the full
histogram. Partitioning changes the CANDIDATE set but never the output.

The MG kernel is pure Python (Spark-free, deterministic) and doubles as
the pytest oracle; the Spark side runs it per-partition via mapInPandas
(Arrow-batched — this is the designed Pandas-UDF path, not a hot-loop
row UDF: the per-token work is a dict update).
"""

from __future__ import annotations

from typing import Dict, Iterable, Iterator

from pyspark.sql import DataFrame, functions as F

from .textstats import nonblank, words


def misra_gries(tokens: Iterable[str], k: int) -> Dict[str, int]:
    """The k-counter Misra-Gries summary of a token stream. Guarantees:
    at most k keys; every item with true count > n/(k+1) is a key; each
    kept estimate undercounts by at most n/(k+1). Deterministic: dict
    iteration order never affects WHICH keys survive a decrement round
    (all are decremented equally)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    counters: Dict[str, int] = {}
    for t in tokens:
        if t in counters:
            counters[t] += 1
        elif len(counters) < k:
            counters[t] = 1
        else:
            dead = []
            for key in counters:
                counters[key] -= 1
                if counters[key] == 0:
                    dead.append(key)
            for key in dead:
                del counters[key]
    return counters


def heavy_hitters(docs: DataFrame, k: int = 50,
                  text_col: str = "text") -> DataFrame:
    """Terms whose corpus frequency exceeds N/(k+1) tokens — exactly
    (see module docstring for why the sketch does not approximate the
    OUTPUT). Tokens are lowercased whitespace words, the convention of
    the vocab/tfidf/unigram family. Returns (term, cnt) with cnt the
    exact count.
    """

    def _partition_candidates(batches: Iterator) -> Iterator:
        import pandas as pd

        import re

        def stream() -> Iterator[str]:
            # mirror the JVM count side exactly: trim() strips SPACES
            # only, Java \s is ASCII — a tokenization mismatch here
            # would void the superset guarantee for exotic-whitespace
            # heavy hitters (empty-string tokens included)
            for pdf in batches:
                for text in pdf[text_col]:
                    if text is not None and str(text).strip(" ") != "":
                        yield from re.split(
                            r"\s+", str(text).lower().strip(" "),
                            flags=re.ASCII)

        # the SAME kernel as the pytest oracle — never fork the logic
        yield pd.DataFrame({"term": list(misra_gries(stream(), k))})

    cands = (docs.select(text_col)
             .mapInPandas(_partition_candidates, "term string")
             .distinct())
    tok = (docs.filter(nonblank(F.col(text_col)))
           .select(F.explode(words(F.col(text_col))).alias("term")))
    total = tok.agg(F.count("*").alias("n_total"))
    return (tok.join(F.broadcast(cands), "term")
            .groupBy("term").agg(F.count("*").cast("bigint").alias("cnt"))
            .crossJoin(F.broadcast(total))
            .filter(F.col("cnt") * (k + 1) > F.col("n_total"))
            .select("term", "cnt"))
