"""Physical-plan regression tests: the properties that make the engine hold
at 100 TB must be visible in the plan, not just asserted in prose —
predicate pushdown to the parquet scan, broadcast (never sort-merge) for the
small-side joins, and exactly one exchange for the salted extraction map."""

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def fmt(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_extraction_pushdown_and_single_shuffle(spark):
    from engine.spark.pipeline import extract_df
    src = spark.read.parquet(
        "/root/repo/data/synth/sf0.001/transcripts.parquet")
    plan = fmt(extract_df(src.filter(F.col("tool") == "ocr.markdown"),
                          salt_partitions=8))
    assert "EqualTo(tool,ocr.markdown)" in plan  # filter reached the scan
    # one Exchange for the salt repartition; a second only from AQE reuse
    assert plan.count("Exchange") <= 2
    assert "SortMergeJoin" not in plan


def test_small_dim_joins_broadcast(spark):
    import __spark_entry__ as entry
    plan = fmt(entry.q_top_customers(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pricing_summary_prunes_and_pushes(spark):
    import __spark_entry__ as entry
    plan = fmt(entry.q_pricing_summary(spark, SF))
    assert "LessThanOrEqual(l_shipdate" in plan   # pushed filter
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]  # pruned
    assert plan.count("HashAggregate") >= 2       # partial + final


def test_resume_antijoin_broadcasts(spark):
    from engine.spark.udfs import bucket_col
    src = spark.read.parquet(
        "/root/repo/data/synth/sf0.001/transcripts.parquet")
    done = spark.createDataFrame([(1,), (2,)], "conv_bucket int")
    plan = fmt(src.withColumn("conv_bucket", bucket_col(1024))
               .join(F.broadcast(done), "conv_bucket", "left_anti"))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_banded_lsh_pairs_is_equi_join_not_cartesian(spark):
    """The near-dup scale path must candidate-join on (band, bucket) —
    a hash/sort-merge equi join — never a nested-loop cross product."""
    from engine.datawork.similarity import cosine_pairs_above
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = fmt(cosine_pairs_above(emb, threshold=0.35, bucketed=True))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan or "BroadcastHashJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_minhash_candidates_equi_join_and_single_sig_agg(spark):
    """Band buckets come from ONE explode over the signature aggregate —
    the plan must not contain a per-band union re-running the aggregation
    (16 HashAggregate pairs), and the self-join must be an equi join."""
    from engine.datawork.dedup import (MINHASH_BANDS, MINHASH_K,
                                       _band_explode, minhash_signatures)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # live nodes only: when another op in the session persisted the
    # signature table, the cache manager substitutes an InMemoryTableScan
    # (MORE sharing, not less) — the cached build plan must not be
    # charged to this query
    nodes = live_nodes(_band_explode(minhash_signatures(docs), MINHASH_K,
                                     MINHASH_BANDS))
    assert nodes.count("HashAggregate") <= 2  # partial+final at most
    assert "Union" not in nodes
    assert "Generate" in nodes  # the explode


def test_guard_hot_key_drop_broadcasts(spark):
    from engine.datawork.dedup import minhash_lsh_candidates
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = fmt(minhash_lsh_candidates(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_apply_does_not_force_broadcast_of_loser_list(spark):
    """The non-canonical doc list is a large fraction of the corpus at real
    dedup rates — deduplicated_corpus must NOT hint a broadcast on it (AQE
    may still choose one at runtime for small inputs; forcing it is the
    scale bug)."""
    from engine.datawork.corpus import deduplicated_corpus
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], "doc_id bigint, cluster_id bigint")
    out = deduplicated_corpus(docs, clusters)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed  # no forced broadcast anywhere
    plan = fmt(out)
    assert "LeftAnti" in plan  # still the single anti-join shape


def test_dedup_apply_full_single_fingerprint_shuffle_no_hints(spark):
    """The layered action's exact-loser side must be one window over the
    fingerprint hash partitioning (the same shuffle exact_duplicates pays)
    and, like the plain apply, must not force any broadcast."""
    from engine.datawork.corpus import deduplicated_corpus_full
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id bigint, cluster_id bigint")
    out = deduplicated_corpus_full(docs, clusters)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    plan = fmt(out)
    assert "LeftAnti" in plan
    # exactly one Window operator (formatted explain lists each node twice:
    # tree + details)
    assert plan.count("Window") <= 2 and "Window" in plan


def test_asof_join_is_union_window_not_range_join(spark):
    """The as-of join must stay the union-sentinel + window shape — one
    shuffle by key, no range-condition nested-loop/cartesian explosion."""
    import __spark_entry__ as entry
    plan = fmt(entry.q_asof_latest_click(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def live_nodes(df) -> list:
    """Node names of the LIVE physical tree, one entry per node, both
    join branches included — via a JVM walk of the executedPlan (AFTER
    EnsureRequirements, so shuffle Exchanges are present; the AQE wrapper
    is descended through its inputPlan). A cached relation is a leaf
    InMemoryTableScan whose stored build plan is an innerChild and is
    therefore NOT visited.

    Textual parsing of the formatted explain cannot do this: node ids
    appear as " (n)" suffixes inside tree lines (so searching for "(1)"
    truncates the tree at the deepest-left leaf), and an
    InMemoryTableScan renders the cached relation's whole AQE dump inline
    at arbitrary indentation (so indentation pruning miscounts — the
    cache-build Exchanges would be charged to the live query)."""
    def walk(node, out):
        name = node.nodeName()
        out.append(name)
        if name == "AdaptiveSparkPlan":
            walk(node.initialPlan(), out)  # inputPlan lacks Exchanges
            return out
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i), out)
        return out
    return walk(df._jdf.queryExecution().executedPlan(), [])


def test_minhash_candidate_join_adds_no_exchange_over_bucket_cache(spark):
    """VERDICT r3 #1: the bucket table is repartitioned by (band, bucket)
    BEFORE the persist, so the candidate self-join (and the hot-bucket
    aggregate) read the cache's outputPartitioning and add ZERO further
    Exchange — the only shuffle left in the candidates plan is the final
    pair-distinct. Broadcast is disabled so the tiny test corpus plans the
    same sort-merge self-join a 500k-doc run would."""
    from engine.datawork.dedup import minhash_lsh_candidates
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        nodes = live_nodes(minhash_lsh_candidates(docs))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert any("InMemoryTableScan" in n for n in nodes)  # the shared cache
    # exactly ONE shuffle Exchange: the pair-distinct ("Exchange" is the
    # shuffle node's name; the hot-list anti-join is "BroadcastExchange")
    assert nodes.count("Exchange") == 1
    assert any("SortMergeJoin" in n for n in nodes)  # self-join, co-partitioned


def test_guard_embed_buckets_reuse_lsh_base_cache(spark):
    """VERDICT r3 #4: after cosine_pairs_above populates the embed_lsh_base
    slot, guard telemetry's banded buckets must derive from that cache (one
    96-plane sign computation per combined run, not two)."""
    from engine.datawork.similarity import (banded_buckets_shared,
                                            cosine_pairs_above)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cosine_pairs_above(emb, threshold=0.35, bucketed=True, rows=4).count()
    assert any("InMemoryTableScan" in n
               for n in live_nodes(banded_buckets_shared(emb)))


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Bucketing is the repo's stated co-location strategy for repeated
    big-big joins at 100 TB (SURVEY §4): two tables bucketed+sorted on the
    key must sort-merge-join with ZERO Exchange in the plan."""
    for name in ("bt_a", "bt_b"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (spark.range(0, 10_000)
         .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
         .write.bucketBy(8, "k").sortBy("k")
         .option("path", str(tmp_path / name)).saveAsTable(name))
    a, b = spark.table("bt_a"), spark.table("bt_b")
    plan = fmt(a.hint("merge").join(b, "k"))  # force SMJ (no broadcast out)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # buckets line up — no shuffle either side
    spark.sql("DROP TABLE bt_a")
    spark.sql("DROP TABLE bt_b")


def test_embed_verify_joins_add_no_exchange_over_base_cache(spark):
    """VERDICT r4 #6: embed_lsh_base is repartitioned by id BEFORE the
    persist, so both exact-verify joins read the cache's outputPartitioning
    for their base side — no Exchange in the verify plan carries the 64-dim
    vectors. Shuffle Exchanges left: banded repartition feeding the
    candidate join is gone too (the cache itself is the id-shuffle), so the
    plan keeps exactly: candidate-join band/bucket exchanges (2 sides over
    the exploded 4-tuple rows... counted empirically: 5 total with
    broadcast off, was 7 before the co-partitioning)."""
    from engine.datawork import stage_cache
    from engine.datawork.similarity import cosine_pairs_above
    stage_cache.clear(spark)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = cosine_pairs_above(emb, threshold=0.35, bucketed=True, rows=4)
        nodes = live_nodes(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert any("InMemoryTableScan" in n for n in nodes)
    assert nodes.count("Exchange") <= 5


def test_interval_join_is_equi_join_not_nested_loop(spark):
    """The bucketed interval join's fine path must plan as a hash/merge
    EQUI-join on the bucket id — never the BroadcastNestedLoopJoin Spark
    produces for a bare range predicate. (The deliberate nested-loop
    broadcast branch for mega-intervals only appears when max_buckets is
    exceeded; with hour buckets over day-scale windows it stays empty but
    still shows in the plan as a broadcast join over a filtered —
    provably tiny — side.)"""
    from engine.datawork.ranges import interval_join
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    iv = (ev.filter(F.col("event_type") == "purchase")
          .groupBy("user_id", F.to_date("ts").alias("day"))
          .agg(F.min("ts").alias("ts_start"), F.max("ts").alias("ts_end"))
          .drop("user_id", "day")
          .withColumn("iid", F.monotonically_increasing_id()))
    pts = ev.filter(F.col("event_type") == "click").select("event_id", "ts")
    plan = interval_join(pts, iv, "ts", "ts_start", "ts_end",
                         bucket_width_s=3600) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # exactly ONE nested-loop join: the deliberate mega-interval branch
    # (its build side is filtered to coverage > max_buckets — tiny by
    # contract); the fine path is an EQUI-join on the bucket id
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "Join [_b" in plan


def test_substring_dedup_equi_join_no_cartesian(spark):
    import __spark_entry__ as entry
    for q in ("q_dedup_substring_spans", "q_dedup_substring_apply"):
        plan = fmt(getattr(entry, q)(spark, SF))
        # the hot-gram test is an equi join on the md5 key, never a
        # nested-loop/cartesian; nothing sort-merges at this size
        assert "CartesianProduct" not in plan and \
               "BroadcastNestedLoop" not in plan, q
        assert "SortMergeJoin" not in plan, q


def test_winnow_pairs_reuse_cached_fingerprints(spark):
    import __spark_entry__ as entry
    plan = fmt(entry.q_winnow_similar_pairs(spark, SF))
    assert "CartesianProduct" not in plan and \
           "BroadcastNestedLoop" not in plan
    # the selection pass must be computed once and served from cache to
    # the df-count guard and both self-join sides
    assert plan.count("InMemoryTableScan") >= 2


def test_dsir_scoring_joins_broadcast_on_int_key(spark):
    """DSIR's whole point vs a string-keyed tf-idf join: the per-doc
    scoring join must be a BROADCAST join on the int bucket key. The only
    tolerated sort-merge is the 4096-row bucket-table full-outer (full
    outer cannot broadcast; it is model-sized, not corpus-sized)."""
    from engine.datawork.dsir import dsir_weights
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    raw = docs.filter(F.col("doc_id") % 11 != 0)
    tgt = docs.filter(F.col("doc_id") % 11 == 0)
    plan = fmt(dsir_weights(raw, tgt))
    assert "BroadcastHashJoin" in plan
    # the only sort-merge is the FullOuter between the two bucket-count
    # tables (full outer cannot broadcast; both sides are <= 4096 rows)
    import re
    smj_kinds = set(re.findall(r"SortMergeJoin (\w+)", plan))
    assert smj_kinds <= {"FullOuter"}
    assert "CartesianProduct" not in plan


def test_classifier_join_is_broadcast_only(spark):
    """Frozen-weights scoring: the 1024-row model broadcast is the ONLY
    join strategy — nothing in the plan may shuffle the corpus on a key."""
    from engine.datawork.quality import classifier_scores, load_qc_weights
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = fmt(classifier_scores(docs, load_qc_weights(spark)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_pair_join_is_equi_on_cell(spark):
    """SemDeDup's within-cluster comparison must reach the planner as an
    equi-join on the cell key (quadratic only inside a cluster), never a
    cartesian; the centroid assignment is the intended broadcast
    nested-loop (n_cells rows)."""
    from engine.datawork.similarity import semdedup_losers, train_kmeans
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = fmt(semdedup_losers(emb, threshold=0.35,
                               centroids=train_kmeans(emb)))
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) \
        or ("BroadcastHashJoin" in plan)


def test_funnel_single_aggregate_no_joins(spark):
    """The uncapped funnel is ONE per-entity aggregate + a global
    aggregate — no joins at all; with max_events the only join is the
    broadcast anti-join against the capped-entity list."""
    from engine.datawork.funnel import sequential_funnel
    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = fmt(sequential_funnel(ev, ["view", "click", "purchase"]))
    assert "Join" not in plan
    capped = fmt(sequential_funnel(ev, ["view", "click", "purchase"],
                                   max_events=100))
    assert "BroadcastHashJoin LeftAnti" in capped
    assert "SortMergeJoin" not in capped


def test_profile_table_is_one_aggregate(spark):
    """Exact profiling is one Expand-backed aggregate; the approx
    spelling must not introduce an Expand (HLL registers merge
    map-side)."""
    from engine.datawork.corpus import profile_table
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = fmt(profile_table(docs))
    assert "Join" not in exact
    approx = fmt(profile_table(docs, exact=False))
    assert "Expand" not in approx
