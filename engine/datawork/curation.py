"""Corpus curation operators a training-data pipeline runs before mixing:
line-level dedup (CCNet-style boilerplate removal), benchmark
decontamination (n-gram overlap vs a held-out eval set), and
temperature-based mixture sampling.

All pure DataFrame algebra with exact DuckDB twins (engine/oracle_sql.py).
Reference scope note: the reference pipeline dedups entities/numerics
within a conversation (results_processor.py); these are the corpus-scale
counterparts a 100 TB ingest needs and the reference never had.

Scale shapes:

* ``dedup_lines`` — explode lines once, count line frequency with map-side
  combine on 16-byte md5 keys (never shuffles raw line strings), mark hot
  lines with one join, reassemble with one aggregate. Hot keys are by
  definition skewed (a hot line appears ≥ min_count times on the probe
  side); that join is a non-aggregating hash join, and AQE skew-join
  splits oversized partitions — no salting needed because nothing
  accumulates per key.
* ``contamination_report`` — the benchmark side is an eval set (thousands
  of docs, not billions), so its distinct-gram table is broadcast; the
  corpus side is a single pass: shingle → broadcast hash join → one
  per-doc aggregate. The corpus is never shuffled on gram strings.
* ``temperature_sample`` — per-group counts are a tiny aggregate joined
  back broadcast; the keep decision is a stateless hash predicate (no
  RNG, no sort, no window over data-sized groups), so the sample is
  reproducible across engines, runs, and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from engine.spark.schema import arrow_frame

from . import stage_cache
from .textstats import md5_u32

#: ids hash to a ppm bucket ``md5_u32(id) % _PPM`` in [0, 1e6) — the
#: corpus.hash_sample rule at ppm resolution. Deterministic across engines
#: (md5 of the decimal id string).
_PPM = 1_000_000


def dedup_lines(docs: DataFrame, min_count: int = 2,
                id_col: str = "doc_id", text_col: str = "text",
                sep: str = "\n", max_hot: int | None = None) -> DataFrame:
    """CCNet-style line-level dedup: drop every line whose exact text
    occurs ``>= min_count`` times across the corpus (boilerplate headers,
    nav bars, cookie banners), keep the rest in original order.

    Returns (id, text, n_kept, n_dropped) — ``text`` is the reassembled
    document. Blank lines (whitespace-only) are never counted as hot and
    always survive, so paragraph structure is preserved. NULL text
    normalizes to the empty string (one empty line, kept).

    The frequency count and the hot-line join both key on md5(line) —
    16-byte shuffle keys instead of arbitrary-length line strings (the
    guard-census lesson, dedup.py); collisions would need 2^64 lines.

    ``max_hot`` (scale guard, off by default): at a truly boilerplate-
    heavy corpus the hot set can outgrow the broadcast limit and AQE
    silently degrades the join to a shuffle (correct, slower). Setting
    ``max_hot`` caps the hot set to that many HOTTEST lines (cnt DESC,
    digest tiebreak — deterministic TakeOrdered, no global sort), which
    pins the broadcast and makes the cut observable: size the cap from
    ``line_dedup_report``'s census, and lines past it stay in documents
    by construction rather than by plan-time accident."""
    from .dedup import _ensure_parallelism
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    lines = (_ensure_parallelism(docs)
             .select(F.col(id_col).alias("id"),
                     F.posexplode(F.split(F.coalesce(F.col(text_col),
                                                     F.lit("")),
                                          sep, -1))
                      .alias("pos", "line"))
             .withColumn("lh", F.md5(F.col("line"))))
    hot = (lines.filter(F.trim(F.col("line")) != "")
           .groupBy("lh").agg(F.count("*").alias("cnt"))
           .filter(F.col("cnt") >= min_count))
    if max_hot is not None:
        hot = hot.orderBy(F.col("cnt").desc(), "lh").limit(max_hot)
    hot = hot.select("lh", F.lit(True).alias("_hot"))
    marked = lines.join(hot, "lh", "left")
    kept_struct = F.when(F.col("_hot").isNull(),
                         F.struct(F.col("pos"), F.col("line")))
    return (marked.groupBy("id")
            .agg(F.concat_ws(sep, F.transform(
                     F.array_sort(F.collect_list(kept_struct)),
                     lambda s: s.line)).alias(text_col),
                 F.count(F.when(F.col("_hot").isNull(), 1))
                  .cast("bigint").alias("n_kept"),
                 F.count(F.when(F.col("_hot").isNotNull(), 1))
                  .cast("bigint").alias("n_dropped"))
            .withColumnRenamed("id", id_col))


def line_dedup_report(docs: DataFrame, min_count: int = 2,
                      id_col: str = "doc_id", text_col: str = "text",
                      sep: str = "\n") -> DataFrame:
    """Census of what ``dedup_lines`` would drop — the observability row
    the dedup family's ``guard_report`` publishes for its guards, extended
    to the line-frequency rule (round-5 lead: at boilerplate-heavy corpora
    the hot-line set can outgrow AQE's broadcast threshold and the mark
    join silently degrades to a shuffle; this report is how an operator
    sees that coming — ``hot_lines`` IS the build side's row count).

    One row: (guard, threshold, hot_lines, dropped_rows, max_line_count)
    where dropped_rows = total line occurrences the dedup would remove and
    max_line_count = the hottest line's frequency. Same line semantics as
    ``dedup_lines`` (blank lines never hot, NULL text = one empty line);
    the census keys on md5(line) like the dedup itself."""
    from .dedup import _ensure_parallelism
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    lines = (_ensure_parallelism(docs)
             .select(F.explode(F.split(F.coalesce(F.col(text_col),
                                                  F.lit("")),
                                       sep, -1)).alias("line"))
             .filter(F.trim(F.col("line")) != "")
             .groupBy(F.md5(F.col("line")).alias("lh"))
             .agg(F.count("*").alias("cnt")))
    return lines.agg(
        F.lit("line_freq").alias("guard"),
        F.lit(min_count).cast("int").alias("threshold"),
        F.count(F.when(F.col("cnt") >= min_count, 1))
         .cast("bigint").alias("hot_lines"),
        F.coalesce(F.sum(F.when(F.col("cnt") >= min_count, F.col("cnt"))),
                   F.lit(0)).cast("bigint").alias("dropped_rows"),
        F.coalesce(F.max("cnt"), F.lit(0)).cast("bigint")
         .alias("max_line_count"))


def contamination_report(docs: DataFrame, bench: DataFrame, n: int = 3,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Benchmark decontamination scan: for every corpus doc sharing at
    least one word n-gram with the eval set, report
    (id, n_grams, n_hits, hit_ratio) — the decontamination decision
    (drop / keep / review) is the caller's, parameterized on hit_ratio.

    ``bench`` is the held-out eval set (same schema). Its distinct-gram
    table is broadcast — eval sets are thousands of docs by construction;
    if yours is not, it is training data, not a benchmark. The corpus side
    is one shingle pass + broadcast join + per-doc aggregate: no
    corpus-sized shuffle on gram strings (the join keys on md5(gram)).

    Uses the dedup family's shingle definition (n-word grams over
    whitespace tokens, per-doc distinct), so at n=13 this is the standard
    train/test-overlap scan from the GPT-3/PaLM appendix lineage.
    """
    from .dedup import shingles
    bench_set = (shingles(bench, id_col=id_col, text_col=text_col, n=n)
                 .select(F.md5(F.col("shingle")).alias("gh"))
                 .distinct()
                 .withColumn("_hit", F.lit(True)))
    grams = (shingles(docs, id_col=id_col, text_col=text_col, n=n)
             .select("id", F.md5(F.col("shingle")).alias("gh")))
    return (grams.join(F.broadcast(bench_set), "gh", "left")
            .groupBy("id")
            .agg(F.count("*").cast("bigint").alias("n_grams"),
                 F.count(F.col("_hit")).cast("bigint").alias("n_hits"))
            .filter(F.col("n_hits") > 0)
            .select(F.col("id").alias(id_col), "n_grams", "n_hits",
                    F.round(F.col("n_hits") / F.col("n_grams"), 6)
                     .alias("hit_ratio")))


def temperature_sample(docs: DataFrame, budget: int,
                       group_col: str = "lang",
                       id_col: str = "doc_id") -> DataFrame:
    """Temperature-based mixture sampling at T=2 (alpha=0.5): draw ~``budget``
    docs with per-group rates proportional to sqrt(group size) — the
    standard low-resource-upweighting mix (multilingual LM lineage:
    p_g ∝ n_g^alpha flattens the group distribution).

    Integerized so the sample is EXACTLY reproducible across engines:
    weights are s_g = floor(sqrt(n_g)) (correctly-rounded IEEE sqrt of an
    exact integer — identical in any engine), the per-group keep cutoff is

        cut_ppm_g = min(1e6, (1e6 * budget * s_g) div (sum(s) * n_g))

    in pure BIGINT arithmetic, and a doc is kept iff its md5 ppm-bucket
    falls below its group's cutoff — no RNG, no floats, no sort. The
    realized sample size concentrates around ``budget`` (each doc is an
    independent hash draw). BIGINT bound: 1e6 * budget * s_g must stay
    below 2^63 — safe to budget ~1e8 at s_g ~3e4 (n_g ~1e9); beyond that
    widen to decimal(38,0) in both engines.

    Returns sampled rows as (id, group, n_group, cut_ppm) — n_group and
    cut_ppm expose the realized mixture so the mixing report is free.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    groups = (docs.groupBy(group_col)
              .agg(F.count("*").alias("n_group"))
              .withColumn("s", F.floor(F.sqrt(F.col("n_group")))
                          .cast("bigint")))
    denom = groups.agg(F.sum("s").alias("denom"))
    cuts = (groups.crossJoin(F.broadcast(denom))
            .select(group_col, "n_group",
                    F.least(F.lit(_PPM).cast("bigint"),
                            F.expr(f"({_PPM} * {int(budget)}L * s) div "
                                   f"(denom * n_group)")).alias("cut_ppm")))
    return (docs.select(id_col, group_col)
            .join(F.broadcast(cuts), group_col)
            .filter(md5_u32(F.col(id_col).cast("string")) % _PPM
                    < F.col("cut_ppm"))
            .select(id_col, group_col, "n_group", "cut_ppm"))


#: PII patterns — RE2/Java-regex common subset (no lookaround, no backrefs)
#: so the Spark expression and the DuckDB oracle compile identically.
#: Order matters: emails first (their digit runs must not be half-eaten by
#: the number pass), then IPv4 (dotted digits would match neither other
#: pattern but redact before generic runs for clarity), then bare
#: 13-19-digit runs (card-shaped).
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    (r"\b\d{13,19}\b", "[NUMBER]"),
)


def redact_pii(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Scrub card-shaped digit runs, IPv4s, and emails from ``text``,
    replacing each with a typed placeholder; per-pattern match counts are
    emitted so the redaction rate is observable per doc (the counts are
    taken BEFORE any replacement — patterns are mutually non-overlapping
    by construction, see PII_PATTERNS ordering note).

    Pure codegen column expressions — zero shuffle, scales as a map."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    counts = [F.regexp_count(t, F.lit(pat)).cast("bigint").alias(name)
              for pat, name in (
                  (PII_PATTERNS[0][0], "n_emails"),
                  (PII_PATTERNS[1][0], "n_ips"),
                  (PII_PATTERNS[2][0], "n_numbers"))]
    red = t
    for pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    return docs.select(F.col(id_col), red.alias(text_col), *counts)


def curate_survivors(docs: DataFrame, bench: DataFrame,
                     contamination_max: float = 0.05,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """The curation funnel up to (but not including) sampling — the
    composed pre-mixing pipeline a training-data ingest actually runs:

      1. quality gate   — Gopher/C4 flags, keep pass_quality
      2. layered dedup  — exact-fingerprint + near-dup cluster losers
                          dropped (same chain as dedup_apply_full)
      3. decontamination — drop docs sharing >= contamination_max of
                          their 3-grams with the eval set

    The quality and dedup stage boundaries are stage-cache checkpoints
    (``stage_cache.checkpoint``), materialized once when built: left lazy, ``quality`` is re-evaluated by every consumer (the
    candidate chain, the exact-fingerprint window, the anti-join base —
    a full quality-regex pass each) and ``deduped`` by both the
    decontamination scan and the final anti-join. This is the
    store-the-stage-boundaries tradeoff the funnel report needs anyway
    — each stage is re-run exactly once per wave, never per consumer.
    """
    _, _, clean = _funnel_stages(docs, bench, contamination_max,
                                 id_col, text_col)
    return clean


def _funnel_stages(docs: DataFrame, bench: DataFrame,
                   contamination_max: float, id_col: str, text_col: str):
    """(quality, deduped, clean) with the first two checkpointed — the
    shared construction behind curate_survivors / curate_funnel."""
    from .clusters import duplicate_clusters
    from .corpus import deduplicated_corpus_full
    from .dedup import minhash_lsh_candidates
    from .textstats import with_quality_flags
    cols = docs.columns
    # every boundary is a checkpoint: the funnel is deep, and each
    # un-truncated downstream action re-analyzes the whole upstream tree on
    # the driver (measured 4 s to count a cached 4k-row stage)
    quality = stage_cache.checkpoint(
        "curate_quality",
        (with_quality_flags(docs, text_col=text_col)
         .filter(F.col("pass_quality")).select(*cols)))
    # the cluster labels come out of pointer doubling as a checkpoint scan
    # that never sameSemantics-matches across calls — keyed on the INPUT
    # (candidate) plan instead, a funnel report reuses the labels a curate
    # call just converged
    cand = minhash_lsh_candidates(quality, id_col=id_col, text_col=text_col)
    clusters = stage_cache.checkpoint("curate_clusters", cand,
                                      lambda: duplicate_clusters(cand))
    deduped = stage_cache.checkpoint(
        "curate_deduped",
        deduplicated_corpus_full(quality, clusters, id_col=id_col,
                                 text_col=text_col))
    flagged = (contamination_report(deduped, bench, id_col=id_col,
                                    text_col=text_col)
               .filter(F.col("hit_ratio") >= contamination_max)
               .select(id_col))
    return quality, deduped, deduped.join(flagged, id_col, "left_anti")


def curate_corpus(docs: DataFrame, bench: DataFrame, budget: int,
                  contamination_max: float = 0.05,
                  group_col: str = "lang", id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """quality → dedup → decontaminate → temperature-sample: the final
    sampled mixture (see curate_survivors for the funnel stages)."""
    survivors = curate_survivors(docs, bench, contamination_max,
                                 id_col, text_col)
    # temperature_sample consumes its input twice (group census + keep
    # join) and needs only (id, group) — truncate that narrow projection
    # so the decontamination anti-join runs once, not per consumer
    keyed = stage_cache.checkpoint("curate_keyed",
                                   survivors.select(id_col, group_col))
    return temperature_sample(keyed, budget=budget,
                              group_col=group_col, id_col=id_col)


def curate_funnel(docs: DataFrame, bench: DataFrame, budget: int,
                  contamination_max: float = 0.05,
                  group_col: str = "lang", id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-stage survivor counts — the ingest telemetry row a pipeline
    publishes per wave: (stage_idx, stage, n_docs) for input / quality /
    dedup / decontaminated / sampled.

    Stages are materialized in order through ``curate_survivors``'s
    checkpointed boundaries, so each count reads a cached stage instead of
    re-running the overlapping funnel lineage per stage (the lazy
    union-of-aggregates spelling re-evaluated 1+1+2+3+4 stage plans; this
    evaluates each exactly once). The counts are collected as the stages
    materialize and returned as a local relation — same rows, same
    schema."""
    spark = docs.sparkSession
    n_input = docs.count()
    quality, deduped, clean = _funnel_stages(docs, bench, contamination_max,
                                             id_col, text_col)
    keyed = stage_cache.checkpoint("curate_keyed",
                                   clean.select(id_col, group_col))
    n_clean = keyed.count()
    sampled = temperature_sample(keyed, budget=budget, group_col=group_col,
                                 id_col=id_col)
    rows = [(0, "input", n_input),
            (1, "quality", quality.count()),
            (2, "dedup", deduped.count()),
            (3, "decontaminated", n_clean),
            (4, "sampled", sampled.count())]
    return arrow_frame(spark, rows,
                       "stage_idx int, stage string, n_docs bigint")


def mixture_sample(docs: DataFrame, budget: int, weights: dict,
                   group_col: str = "source",
                   id_col: str = "doc_id") -> DataFrame:
    """Domain-mixture sampling to EXPLICIT target proportions: draw
    ~``budget`` docs with per-group sample counts proportional to the
    integer ``weights`` (the "data mixture" knob of LM training recipes —
    e.g. upweight curated sources, downweight crawl). Groups absent from
    ``weights`` are dropped.

    Same integerized machinery as ``temperature_sample`` so the draw is
    EXACTLY reproducible across engines: per-group keep cutoff

        cut_ppm_g = min(1e6, (1e6 * budget * w_g) div (sum_w * n_g))

    in pure BIGINT arithmetic, keep iff the doc's md5 ppm-bucket falls
    below the cutoff. A group whose target exceeds its population keeps
    everything (cutoff caps at 1e6) — the realized mixture then
    undershoots that group's share, which the returned (n_group, cut_ppm)
    columns expose. BIGINT bound: 1e6 * budget * max(w) < 2^63.

    Returns sampled rows as (id, group, n_group, cut_ppm).
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    if not weights or any(int(w) < 0 for w in weights.values()):
        raise ValueError("weights must be a non-empty map of >=0 ints")
    sum_w = sum(int(w) for w in weights.values())
    if sum_w <= 0:
        raise ValueError("at least one weight must be positive")
    spark = docs.sparkSession
    wdf = arrow_frame(spark, sorted((g, int(w)) for g, w in weights.items()),
                      f"{group_col} string, w bigint")
    groups = (docs.groupBy(group_col)
              .agg(F.count("*").alias("n_group"))
              .join(F.broadcast(wdf), group_col)
              .filter(F.col("w") > 0))
    cuts = groups.select(
        group_col, "n_group",
        F.least(F.lit(_PPM).cast("bigint"),
                F.expr(f"({_PPM} * {int(budget)}L * w) div "
                       f"({sum_w} * n_group)")).alias("cut_ppm"))
    return (docs.select(id_col, group_col)
            .join(F.broadcast(cuts), group_col)
            .filter(md5_u32(F.col(id_col).cast("string")) % _PPM
                    < F.col("cut_ppm"))
            .select(id_col, group_col, "n_group", "cut_ppm"))


def assign_splits(docs: DataFrame, train_pct: int = 98, val_pct: int = 1,
                  id_col: str = "doc_id") -> DataFrame:
    """Deterministic train/val/test assignment by md5 ppm-bucket of the
    id — no RNG, stable under reordering, repartitioning, and corpus
    growth (a doc's split never changes when other docs arrive, the
    property shuffle-based splits lack). Percentages are integers;
    test gets the remainder.

    Pure map-side column expression — zero shuffle, zero state. Returns
    the input with a ``split`` column appended (pass-through, so the
    assignment composes into any plan for free).
    """
    if not (0 < train_pct < 100 and 0 <= val_pct
            and train_pct + val_pct <= 100):
        raise ValueError(f"bad split percentages: {train_pct}/{val_pct}")
    b = md5_u32(F.col(id_col).cast("string")) % _PPM
    split = (F.when(b < train_pct * (_PPM // 100), F.lit("train"))
             .when(b < (train_pct + val_pct) * (_PPM // 100), F.lit("val"))
             .otherwise(F.lit("test")))
    return docs.withColumn("split", split)
