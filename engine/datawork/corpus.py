"""Corpus-level operations a training-data pipeline runs after dedup/stats:
apply the dedup decision, build a vocabulary, draw reproducible samples,
summarize length distributions.

All pure DataFrame algebra with exact DuckDB twins (engine/oracle_sql.py).
Scale shapes: vocabulary is one hash aggregate with map-side partial
aggregation + TakeOrdered (never a full sort); sampling is a stateless
hash filter (reproducible across runs/engines, no RNG); dedup-apply is an
anti-join against the (tiny) non-canonical member list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .textstats import md5_u32, nonblank, words


def deduplicated_corpus(docs: DataFrame, clusters: DataFrame,
                        id_col: str = "doc_id") -> DataFrame:
    """Keep one canonical doc per duplicate cluster: drop every clustered
    doc whose id is not its cluster's min id. ``clusters`` is
    (doc_id, cluster_id) from duplicate_clusters; docs not in any cluster
    pass through.

    No broadcast hint on the drop list — at web scale dedup removes
    30–50% of the corpus, so the non-canonical list is a large fraction of
    |docs|, not a dimension table; forcing a broadcast there kills the
    driver. A shuffled left-anti on the id is the scale-safe plan, and AQE
    still converts it to a broadcast join at runtime when the list really
    is small (the local/bench case)."""
    losers = (clusters.filter(F.col("doc_id") != F.col("cluster_id"))
              .select(F.col("doc_id").alias(id_col)))
    return docs.join(losers, id_col, "left_anti")


def deduplicated_corpus_full(docs: DataFrame, clusters: DataFrame,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Layered dedup ACTION: drop near-dup cluster losers AND exact-dup
    losers in one pass.

    The sf1 soak (BENCH/BASELINE.md) showed why the layers must compose:
    replica groups large enough to trip the LSH bucket guard (>max_bucket
    identical docs sharing every band bucket) never produce candidates —
    by design, they are owned by the one-aggregate exact pass instead. A
    corpus deduplicated ONLY by near-dup clusters keeps every such
    replica; this keeps exactly one canonical doc under both criteria.

    Scale shape: exact losers come from a min-over-fingerprint window (the
    same single hash shuffle exact_duplicates pays), the loser union is a
    shuffled distinct on ids, and the final anti-join carries no broadcast
    hint (see deduplicated_corpus).

    Edge: NULL-text docs share a NULL fingerprint and are therefore
    mutually "exact duplicates" — one survives. Same convention as
    exact_duplicates (and both engines' window/group semantics agree), and
    the sensible reading for a training corpus: textless docs carry no
    distinct content."""
    from pyspark.sql import Window
    from .textstats import fingerprint
    w = Window.partitionBy(fingerprint(F.col(text_col)))
    exact_losers = (docs
                    .withColumn("_canon", F.min(id_col).over(w))
                    .filter(F.col(id_col) != F.col("_canon"))
                    .select(F.col(id_col)))
    near_losers = (clusters.filter(F.col("doc_id") != F.col("cluster_id"))
                   .select(F.col("doc_id").alias(id_col)))
    losers = exact_losers.unionByName(near_losers).distinct()
    return docs.join(losers, id_col, "left_anti")


def token_vocabulary(docs: DataFrame, text_col: str = "text",
                     top_k: int = 200) -> DataFrame:
    """Corpus vocabulary: lower-cased whitespace tokens with counts, top-k
    by (count desc, token asc — deterministic tie-break). One shuffle with
    map-side combine; top-k is a TakeOrdered, not a global sort."""
    from .dedup import _ensure_parallelism
    tok = (_ensure_parallelism(docs)
           .filter(nonblank(F.col(text_col)))
           .select(F.explode(words(F.col(text_col))).alias("token")))
    return (tok.groupBy("token").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), F.col("token"))
            .limit(top_k))


def hash_sample(docs: DataFrame, percent: int = 10,
                id_col: str = "doc_id") -> DataFrame:
    """Reproducible ``percent``% sample: keep rows whose md5(id) bucket
    (first 8 hex digits mod 100) falls below the cutoff. Deterministic
    across engines, runs, and partitionings — the property RNG-based
    df.sample lacks; the standard way to pin a train/eval split."""
    return docs.filter(md5_u32(F.col(id_col).cast("string")) % 100 < percent)


def stratified_sample(docs: DataFrame, per_group: int,
                      group_col: str = "lang",
                      id_col: str = "doc_id") -> DataFrame:
    """Exactly min(per_group, group size) rows from every group — the
    quota sampler for balanced eval sets and per-source inspection
    pulls. Selection is the first ``per_group`` rows in md5(id) order
    (doc_id tiebreak), so the pick is deterministic across engines,
    runs, partitionings, AND stable under corpus growth within a group
    only when ids are append-only — unlike percent-based hash_sample,
    adding rows can displace earlier picks; that is inherent to exact
    quotas.

    Scale shape: one group-hash shuffle + in-partition TOP-K per group —
    row_number streams, and rank > per_group rows are discarded at the
    window, so the output is bounded by groups × per_group. A skewed
    mega-group bounds task time, not memory.
    """
    from pyspark.sql import Window
    rk = F.row_number().over(
        Window.partitionBy(group_col).orderBy(
            F.md5(F.col(id_col).cast("string")), F.col(id_col)))
    return (docs.withColumn("_rk", rk)
            .filter(F.col("_rk") <= per_group)
            .drop("_rk"))


def length_quantiles(docs: DataFrame, group_col: str = "lang",
                     value_col: str = "n_chars") -> DataFrame:
    """Per-group exact length percentiles (continuous interpolation — the
    same definition as DuckDB's quantile_cont). For 100 TB swap
    percentile → percentile_approx and accept the documented error bound;
    the exact version IS the oracle here."""
    pct = F.percentile(F.col(value_col), F.array(
        F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (docs.groupBy(group_col)
            .agg(F.count("*").alias("n_docs"), pct.alias("q"))
            .select(group_col, "n_docs",
                    F.round(F.col("q")[0], 4).alias("p50"),
                    F.round(F.col("q")[1], 4).alias("p90"),
                    F.round(F.col("q")[2], 4).alias("p99")))


def quality_buckets(scored: DataFrame, score_col: str = "nll",
                    group_col: str = "lang", id_col: str = "doc_id",
                    n_buckets: int = 3) -> DataFrame:
    """CCNet-style per-group quantile buckets: within each group (a
    language, a source), rank docs by a quality score and cut into
    n_buckets equal-count tiles — bucket 1 = best (lowest score when the
    score is a perplexity/NLL). With the default 3, labels follow
    CCNet's head/middle/tail.

    Cross-engine determinism is the whole trick: NULL scores sort LAST
    (Spark defaults them first ascending, DuckDB last — pinned
    explicitly), and ``id_col`` breaks score ties so ntile assignment is
    a pure function of the data in both engines. ntile's distribution
    rule (first n_rows % n tiles get the extra row) is SQL-standard and
    identical in Spark and DuckDB.

    Scale shape: ONE shuffle (hash by group) + an in-partition sort; a
    skewed mega-group bounds task time, not memory (ntile streams).
    For groups so hot a single task cannot sort them, pre-aggregate to
    approximate cutoffs instead (length_quantiles' percentile_approx
    note) — the exact version IS the oracle here.
    """
    from pyspark.sql import Window
    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).asc_nulls_last(), F.col(id_col))
    tile = F.ntile(n_buckets).over(w)
    if n_buckets == 3:
        label = F.element_at(F.array(F.lit("head"), F.lit("middle"),
                                     F.lit("tail")), tile)
    else:
        label = F.concat(F.lit("b"), tile.cast("string"))
    return scored.select(id_col, group_col, score_col,
                         tile.cast("int").alias("bucket"),
                         label.alias("bucket_label"))


def tfidf_top_terms(docs: DataFrame, top_k: int = 5,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Per-document top-k terms by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1 — the scikit-learn smoothing, never
    negative/zero), deterministic tie-break (score desc, term asc).

    Shapes: tf is one (id, term) aggregate with map-side combine; df
    derives from tf (already distinct per doc) with a second small
    aggregate; N enters as a broadcast 1-row aggregate, never a collect;
    the ranking window partitions by doc (bounded by per-doc vocabulary,
    never data-sized). The tf↔df join shuffles on the term — vocabulary-
    sized, and AQE handles the stopword-skewed head.

    md5-keying this join (the guard census' shuffle-shrink trick) was
    considered and REJECTED: the key here is a single word — typically
    well under the 32-byte hex digest — so hashing would grow the
    exchange, and the output needs the term string anyway. The census
    hashes because its keys are multi-word shingles ~10× digest size.
    Replacing the join with a count-over-window(term) was likewise
    rejected: a window partition cannot be skew-split by AQE, so the
    stopword head would land on one task — the join is the shape that
    survives skew."""
    from .dedup import _ensure_parallelism
    tok = (_ensure_parallelism(docs)
           .filter(nonblank(F.col(text_col)))
           .select(F.col(id_col).alias("id"),
                   F.explode(words(F.col(text_col))).alias("term")))
    tf = tok.groupBy("id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1
    scored = (tf.join(df, "term").crossJoin(F.broadcast(n))
              .select("id", "term", "tf",
                      F.round(F.col("tf") * idf, 6).alias("score")))
    from pyspark.sql import Window
    rk = F.row_number().over(
        Window.partitionBy("id").orderBy(F.col("score").desc(), "term"))
    return (scored.withColumn("rank", rk).filter(F.col("rank") <= top_k)
            .select(F.col("id").alias(id_col), "term", "tf", "score",
                    F.col("rank").cast("int").alias("rank")))


def unigram_logprob(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """CCNet-style language-model quality signal, reduced to the unigram
    case so it stays closed-form and engine-exact: score each doc by the
    mean negative log-probability of its tokens under the CORPUS unigram
    distribution (add-one smoothed). Low = fluent/common phrasing, high =
    rare-token soup — the standard cheap proxy for "looks like natural
    text" when no external LM can ship with the job.

    nll = -mean_i ln((count(term_i) + 1) / (total_tokens + vocab_size))

    Shapes: corpus counts are ONE token aggregate (map-side combined);
    the scalar (total, vocab) pair rides a broadcast 1-row aggregate; the
    per-doc mean is a second aggregate over the token join. Same join
    skew note as tfidf: stopword-headed term keys, AQE splits them.
    Empty/whitespace docs score NULL (no tokens — no evidence either way).
    """
    from .dedup import _ensure_parallelism
    toks_arr = F.when(nonblank(F.col(text_col)), words(F.col(text_col)))
    # explode_outer: empty docs ride the same aggregate as a null-term
    # row (avg/count skip nulls), so restoring them needs no
    # corpus×corpus re-join on the doc key (the dsir/quality lesson)
    tok_all = (_ensure_parallelism(docs)
               .select(F.col(id_col).alias("id"),
                       F.explode_outer(toks_arr).alias("term")))
    tok = tok_all.filter(F.col("term").isNotNull())
    cnt = tok.groupBy("term").agg(F.count("*").alias("cnt"))
    scalars = cnt.agg(F.sum("cnt").alias("total"),
                      F.count("*").alias("vocab"))
    lp = F.log((F.col("cnt") + 1) / (F.col("total") + F.col("vocab")))
    n = F.col("_n")
    return (tok_all.join(cnt, "term", "left")
            .crossJoin(F.broadcast(scalars))
            .groupBy("id")
            .agg(F.count("term").cast("bigint").alias("_n"),
                 F.round(-F.avg(lp), 6).alias("_nll"))
            .select(F.col("id").alias(id_col),
                    F.when(n > 0, n).alias("n_tokens"),
                    F.when(n > 0, F.col("_nll")).alias("nll")))


def snapshot_diff(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Delta between two corpus snapshots: which ids were added, removed,
    or had their content change. The wave-ingest bookkeeping op — a
    production corpus is versioned, and downstream consumers (index
    rebuilds, incremental dedup, retraining triggers) want the delta, not
    a full rescan.

    Scale shape: both sides project to (id, md5(text)) BEFORE the join,
    so the full-outer shuffle carries 32-byte digests instead of document
    text — at 100 TB the exchange is fingerprint-sized. Unchanged rows
    (the overwhelming majority between adjacent snapshots) are filtered
    out post-join, map-side, before anything else consumes the result.

    Output: (id, status in {'added','removed','changed'}, old_md5,
    new_md5) — digests kept so a consumer can verify which side it holds.
    """
    o = old.select(F.col(id_col).alias("id"),
                   F.md5(F.coalesce(F.col(text_col), F.lit("")))
                   .alias("old_md5"))
    n = new.select(F.col(id_col).alias("id"),
                   F.md5(F.coalesce(F.col(text_col), F.lit("")))
                   .alias("new_md5"))
    j = o.join(n, "id", "full_outer")
    status = (F.when(F.col("old_md5").isNull(), F.lit("added"))
              .when(F.col("new_md5").isNull(), F.lit("removed"))
              .when(F.col("old_md5") != F.col("new_md5"),
                    F.lit("changed")))
    return (j.withColumn("status", status)
            .filter(F.col("status").isNotNull())
            .select(F.col("id").alias(id_col), "status",
                    "old_md5", "new_md5"))


def chunk_documents(docs: DataFrame, max_tokens: int = 128,
                    stride: int = 96, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Sliding-window chunking for pretraining context prep (the
    tokenizer-with-overflow pattern): chunk k covers whitespace tokens
    [k·stride+1, k·stride+max_tokens]; a doc with n ≤ max_tokens tokens
    yields one chunk, else 1 + ceil((n − max_tokens)/stride), so the
    tail is always covered and consecutive chunks overlap by
    max_tokens − stride tokens. Output (id, chunk_idx, text, n_tokens);
    the chunk text is whitespace-NORMALIZED reconstruction (single
    spaces) — chunking operates on the token stream, not raw bytes.
    Empty/whitespace docs yield no chunks.

    Pure per-row codegen: split → sequence → transform → explode. No
    shuffle at all — chunking is embarrassingly parallel and the plan
    must say so."""
    if not 0 < stride <= max_tokens:
        raise ValueError(f"need 0 < stride <= max_tokens, got "
                         f"{stride}/{max_tokens}")
    # case kept, not textstats.words: chunks carry the doc's own words
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(w)
    n_extra = F.when(
        n > max_tokens,
        F.floor((n - max_tokens + stride - 1) / stride).cast("int")
    ).otherwise(F.lit(0))
    chunks = F.transform(
        F.sequence(F.lit(0), n_extra),
        lambda k: F.struct(
            k.cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(w, k * stride + 1, max_tokens))
             .alias("text"),
            F.least(F.lit(max_tokens), n - k * stride).cast("int")
             .alias("n_tokens")))
    return (docs
            .filter(nonblank(F.col(text_col)))
            .select(F.col(id_col), F.explode(chunks).alias("c"))
            .select(id_col, "c.chunk_idx", "c.text", "c.n_tokens"))


def profile_table(df: DataFrame, exact: bool = True) -> DataFrame:
    """ANALYZE-style column profile: one row per column with
    (column, n, n_null, n_distinct) — the ingest-gate sanity check a
    pipeline runs on every new wave before heavier ops (a column whose
    null rate or cardinality jumps is an upstream schema/extraction
    regression caught cheapest here).

    ``exact=True`` uses count(DISTINCT) — ONE aggregate over all columns,
    which Spark executes via an Expand (rows × columns); that is the
    oracle-checkable demo spelling. At 100 TB pass ``exact=False``:
    approx_count_distinct's HLL registers aggregate map-side with no
    Expand, the same cost as plain counts. The unpivot is a literal
    stack — no shuffle beyond the aggregate itself."""
    cols = df.columns
    nd = (F.count_distinct if exact
          else (lambda c: F.approx_count_distinct(c, rsd=0.01)))
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"_nn_{c}"))
        aggs.append(nd(F.col(c)).alias(f"_nd_{c}"))
    row = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _nn_{c}, _nd_{c}" for c in cols)
    return (row.selectExpr(
        "_n", f"stack({len(cols)}, {stack_args}) AS (column, _nn, _nd)")
        .select(F.col("column"),
                F.col("_n").cast("bigint").alias("n"),
                (F.col("_n") - F.col("_nn")).cast("bigint").alias("n_null"),
                F.col("_nd").cast("bigint").alias("n_distinct")))
