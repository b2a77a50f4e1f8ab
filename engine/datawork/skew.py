"""Skew-resilient aggregation: the two-stage salted groupBy.

A hot grouping key at corpus scale (one boilerplate domain, one viral
conversation) lands all its rows in one reducer task and turns a 1000-core
aggregation into a single-task crawl. AQE's skew handling only splits
skewed JOIN partitions — a skewed AGGREGATE still funnels into one task
for the final merge of that key, so the classic fix is to aggregate twice:

    stage 1: groupBy(keys + salt)  — the hot key's rows spread over
             ``salt`` reducer tasks, each producing a partial aggregate
    stage 2: groupBy(keys)         — merges ≤ salt partial rows per key

Only aggregates with a decomposition into (partial, merge) can ride this:
count → sum of counts, sum → sum, min/max → min/max. Averages must be
carried as (sum, count) and divided after the merge.

The results are EXACTLY the plain aggregation's (same floating-point sum
tree shape is NOT guaranteed in either plan — Spark's partial aggregation
already sums in partition order — so, as everywhere else in this repo,
double-valued outputs are rounded at the comparison boundary).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

DEFAULT_SALT = 16


def salted_count_sum(df: DataFrame, keys: Sequence[str],
                     sum_col: str, salt: int = DEFAULT_SALT) -> DataFrame:
    """groupBy(keys).agg(count(*) AS n, sum(sum_col) AS total) with a
    ``salt``-way first stage, immune to any single hot key.

    The salt spreads over the row's content hash PLUS a per-row position
    term (monotonically_increasing_id): content alone would send
    byte-identical rows — exactly the replayed/boilerplate shape that
    creates hot keys — into ONE salt bucket and quietly rebuild the
    single-task funnel. The position term is stable within a computation
    (each row is read and aggregated once; a retried task recomputes its
    whole partition, so partial aggregates are replaced wholesale, never
    mixed).

    Safe on arbitrary frames (ADVICE r3): only keys + sum_col are
    projected before salting, so unhashable payload columns (maps) never
    reach xxhash64, and the internal column names are suffixed until
    absent from the input, so same-named user columns cannot be clobbered
    by withColumn."""
    cols = list(dict.fromkeys([*keys, sum_col]))  # ordered, deduped
    df = df.select(*cols)

    def fresh(base: str) -> str:
        name = base
        while name in df.columns:
            name += "_x"
        return name

    c_salt, c_n, c_s = fresh("_salt"), fresh("_n"), fresh("_s")
    salt_col: Column = F.pmod(
        F.xxhash64(*cols, F.monotonically_increasing_id()),
        F.lit(salt))
    partial = (df.withColumn(c_salt, salt_col)
               .groupBy(*keys, c_salt)
               .agg(F.count("*").alias(c_n),
                    F.sum(sum_col).alias(c_s)))
    return (partial.groupBy(*keys)
            .agg(F.sum(c_n).alias("n"),
                 F.sum(c_s).alias("total")))

