"""Datawork scale soaks: replicate an sf corpus ``--copies`` times with
planted duplicate structure, run one operator family over it, and report
each op's wall seconds next to a checkable result. Each scenario
reproduces the BENCH/BASELINE.md soak section named in ``SCENARIOS``.
Corpora, indexes and checkpoints are cached as
``$TMPDIR/spark_graft_soak_<sf>_<copies>x_*`` (default /tmp).

Usage:
    python tools/soak.py dedup --copies 100       # the sf1 soak (~500k docs)
    python tools/soak.py SCENARIO [--copies N] [--sf DIR] [--cores N] [--json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF = "/root/testdata/sf0.1"
CURATION_ZIPF_K = 1000


def default_cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def scratch(sf: str, copies: int, name: str) -> Path:
    return (Path(tempfile.gettempdir())
            / f"spark_graft_soak_{Path(sf).name}_{copies}x_{name}")


def timed(out: dict, name: str, fn):
    t0 = time.monotonic()
    res = fn()
    out[name] = {"wall_s": round(time.monotonic() - t0, 1), **res}
    print(f"  {name}: {out[name]}", flush=True)
    return res


def cluster_stats(pairs, checkpoint_dir: Path, members_key: str) -> dict:
    """Cluster ``pairs`` on the RELIABLE checkpoint path (checkpoint_dir
    set) and report the component census."""
    from pyspark.sql import functions as F

    from engine.datawork import clusters as clusters_mod
    cl = clusters_mod.duplicate_clusters(pairs,
                                         checkpoint_dir=str(checkpoint_dir))
    stats = (cl.groupBy("cluster_id").count()
             .agg(F.count("*").alias("clusters"),
                  F.max("count").alias("max_cluster"),
                  F.sum("count").alias("members")).first())
    return {members_key: stats["members"], "clusters": stats["clusters"],
            "max_cluster": stats["max_cluster"],
            "rounds": clusters_mod.LAST_ITERATIONS}


def guard_telemetry(spark, out: dict) -> None:
    from engine.datawork import dedup as dedup_mod, stage_cache
    out["rebalance_triggers"] = dedup_mod.REBALANCE_TRIGGERS
    out["stage_cache"] = stage_cache.stats(spark)


# ---- replicated corpora ------------------------------------------------

def _hash_unit(s):
    """Uniform [0, 1) from the md5 of string column ``s`` (deterministic,
    no RNG)."""
    from pyspark.sql import functions as F
    from engine.datawork.textstats import md5_u32
    return md5_u32(s) / F.lit(2.0 ** 32)


def _zipf_template(seed, k: int):
    """Template number ⌊k^u⌋ for the doc-hash uniform u of ``seed``:
    inverse-CDF sampling of Zipf(1), P(template t) ∝ 1/t."""
    from pyspark.sql import functions as F
    return F.floor(F.pow(F.lit(float(k)), _hash_unit(seed))).cast("int")


def _replicated(spark, sf: str, copies: int, name: str, table: str,
                cols: tuple, build, tune: bool = True):
    """``copies`` replicas of ``sf``'s ``table``, cached as parquet. Copy c
    of id i gets id i + c·(max id + 1); ``build(rep, new_id)`` maps the
    exploded rows (columns ``cols`` + ``copy``) to the planted corpus. The
    build is one narrow map, no shuffle."""
    from pyspark.sql import functions as F

    from engine.spark.job import tune_input_splits
    out = scratch(sf, copies, name)
    if not out.exists():
        src = spark.read.parquet(f"{sf}/{table}.parquet")
        n = src.selectExpr(f"max({cols[0]}) + 1 AS n").first()["n"]
        rep = src.select(*cols, F.explode(
            F.sequence(F.lit(0), F.lit(copies - 1))).alias("copy"))
        # write cores files, not one: a split can only parallelize across
        # row groups, so a single ~1 GB file (≈8 row groups at the 128 MB
        # default) caps the scan at ~8 non-empty tasks NO MATTER how small
        # maxPartitionBytes goes — the round-4 under-split trap.
        (build(rep, F.col(cols[0]) + F.col("copy") * F.lit(n))
            .repartition(spark.sparkContext.defaultParallelism)
            .write.mode("overwrite").parquet(str(out)))
    if tune:
        # proactive split sizing (VERDICT r4 #2): the shingle explode starts
        # on ≥ cores×3 splits, so the reactive _ensure_parallelism
        # repartition must never trigger (asserted by the dedup scenarios)
        print(f"  maxPartitionBytes={tune_input_splits(spark, str(out))}")
    return spark.read.parquet(str(out))


def text_corpus(spark, sf: str, copies: int, zipf_k: int = 0):
    """Copy 0 of every document is pristine; each later copy appends a
    per-copy ``variantN`` token to HALF the docs, so every original seeds
    one duplicate cluster of exact copies and near-dup variants — the
    boilerplate-at-scale shape whose candidate volume is quadratic in
    cluster size.

    ``zipf_k`` > 0 also appends a 12-word banner, one of ``zipf_k``
    templates drawn Zipf(1): the hottest banner lands on ~N/ln(K) docs, a
    head of templates crosses max_df and a long tail stays under it, so
    the guards engage on a DISTRIBUTION of hot keys (VERDICT r3 #8)."""
    from pyspark.sql import functions as F

    def build(rep, new_id):
        planted = rep.select(
            new_id.alias("doc_id"),
            F.when((F.col("copy") > 0) & (F.col("doc_id") % 2 == 0),
                   F.concat("text", F.lit(" variant"),
                            F.col("copy").cast("string")))
             .otherwise(F.col("text")).alias("text"))
        if not zipf_k:
            return planted
        tmpl = F.least(F.lit(zipf_k), F.greatest(F.lit(1), _zipf_template(
            F.col("doc_id").cast("string"), zipf_k))).cast("string")
        banner = F.concat_ws(" ", *[
            F.concat(F.lit(f"zipfw{i}t"), tmpl) for i in range(12)])
        return planted.select(
            "doc_id", F.concat_ws(" ", "text", banner).alias("text"))

    return _replicated(spark, sf, copies, f"docs_z{zipf_k}", "documents",
                       ("doc_id", "text"), build)


def embedding_corpus(spark, sf: str, copies: int):
    """Copy 0 pristine; each later copy nudges ONE deterministic dimension
    by a copy-dependent ±0.05 — near-identical vectors (cosine ≈ 1) that
    are not byte-equal, the replayed-embedding shape."""
    from pyspark.sql import functions as F

    def build(rep, new_id):
        dim = F.pmod(F.col("vec_id") + F.col("copy"), F.lit(64))
        nudge = (F.when(F.col("copy") % 2 == 1, F.lit(0.05))
                 .otherwise(F.lit(-0.05))) * F.signum(F.col("copy"))
        perturbed = F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: F.when(i == dim, x + nudge).otherwise(x))
        return rep.select(new_id.alias("vec_id"),
                          perturbed.alias("embedding"))

    return _replicated(spark, sf, copies, "emb", "embeddings",
                       ("vec_id", "embedding"), build)


def jittered_vectors(spark, sf: str, copies: int, eps: float):
    """Variant c of vector v perturbs EVERY dimension by an md5-seeded
    offset in [0, eps): each source spawns a tight near-dup cluster of
    ``copies`` vectors."""
    from pyspark.sql import functions as F

    def build(rep, new_id):
        seed = F.concat(new_id.cast("string"), F.lit(":"))
        pert = F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x + _hash_unit(F.concat(seed, i.cast("string")))
            * eps)
        return rep.select(new_id.alias("vec_id"), pert.alias("embedding"))

    return _replicated(spark, sf, copies, f"selvec_{eps}", "embeddings",
                       ("vec_id", "embedding"), build, tune=False)


def curation_corpus(spark, sf: str, copies: int):
    """Each doc becomes 4+ lines: the original text (replicated ``copies``
    times → exactly-duplicated lines at frequency = copies), two banner
    lines drawn Zipf(1) over CURATION_ZIPF_K templates, on every third doc
    a per-doc unique "rare" line (must SURVIVE line dedup), and a planted
    email + IPv4 (for the redaction pass)."""
    from pyspark.sql import functions as F

    def build(rep, did):
        banner = lambda salt: F.concat(  # noqa: E731
            F.lit("boilerplate navigation banner template number "),
            _zipf_template(F.concat(F.lit(salt), did.cast("string")),
                           CURATION_ZIPF_K).cast("string"),
            F.lit(" all rights reserved"))
        rare = F.when(did % 3 == 0,
                      F.concat(F.lit("\nrare unique line for doc "),
                               did.cast("string"))).otherwise(F.lit(""))
        text = F.concat(
            F.col("text"),
            F.lit("\n"), banner("ln"),
            F.lit("\n"), banner("l2"),
            rare,
            F.lit("\ncontact u"), did.cast("string"),
            F.lit("@example.org via 10."), (did % 200).cast("string"),
            F.lit(".0.7"))
        return rep.select(did.alias("doc_id"), text.alias("text"), "lang")

    return _replicated(spark, sf, copies, "cura", "documents",
                       ("doc_id", "text", "lang"), build)


# ---- scenarios ---------------------------------------------------------

def dedup(spark, sf, copies, out, zipf_k, verify):
    """exact → MinHash-LSH candidates → clusters → apply → guard report;
    with ``verify`` > 0 also the verified chain (signature-estimate
    Jaccard ≥ verify → clusters), under which the zipf soak's
    template-hub gluing must collapse."""
    from engine.datawork import dedup as dedup_mod
    from engine.datawork.clusters import duplicate_clusters
    from engine.datawork.corpus import deduplicated_corpus

    docs = text_corpus(spark, sf, copies, zipf_k)
    out.update(copies=copies, n_docs=docs.count(), zipf_k=zipf_k)
    timed(out, "exact", lambda: {
        "groups": dedup_mod.exact_duplicates(docs).count()})
    # persist: clusters/apply consume the pairs again — without it the
    # clusters timing silently re-pays the candidate join (+~55 s at 500k)
    cand = dedup_mod.minhash_lsh_candidates(docs).persist()
    timed(out, "minhash_candidates", lambda: {"pairs": cand.count()})
    ckpt = scratch(sf, copies, "ckpt")
    timed(out, "clusters", lambda: cluster_stats(cand, ckpt,
                                                 "docs_clustered"))
    # dedup_apply over the SAME clusters (rebuilt lazily — the anti-join is
    # what is timed)
    cl = duplicate_clusters(cand, checkpoint_dir=str(ckpt))
    timed(out, "dedup_apply", lambda: {
        "kept_docs": deduplicated_corpus(docs, cl).count()})
    timed(out, "guard_report", lambda: {"guards": {
        r["guard"]: {"hot_keys": r["hot_keys"],
                     "dropped_rows": r["dropped_rows"]}
        for r in dedup_mod.guard_report(docs).collect()}})
    if verify:
        ver = dedup_mod.minhash_verified_pairs(
            docs, threshold=verify).persist()
        timed(out, "verified_pairs", lambda: {"pairs": ver.count(),
                                              "threshold": verify})
        timed(out, "verified_clusters", lambda: cluster_stats(
            ver.select("id_a", "id_b"), scratch(sf, copies, "vckpt"),
            "docs_clustered"))
    guard_telemetry(spark, out)
    # proactive sizing must have made the reactive backstop a no-op — if
    # this fires, the scan came in under-split and part of the chain ran
    # on idle cores (the silent 16× round-4 failure mode)
    assert dedup_mod.REBALANCE_TRIGGERS == 0, (
        f"reactive rebalance fired {dedup_mod.REBALANCE_TRIGGERS}× despite "
        f"proactive split sizing")


def wave_bounds(n: int) -> tuple:
    """Ends of the 44% and 88% corpora, the 1% wave and the 10% wave."""
    return int(n * 0.44), int(n * 0.88), int(n * 0.89), int(n * 0.99)


def index_waves(out, df, id_col, n, unit, prefix, idx_small, idx_big,
                write_index, probe):
    """Per-wave cost ∝ wave size, NOT corpus size: build a 44% and an 88%
    corpus index, probe the same 1% wave against both (≈equal wall) and a
    10% wave against the 88% one (≈linear in wave). Returns the 10% wave."""
    from pyspark.sql import functions as F
    i = F.col(id_col)
    b_small, b_big, w1, w2 = wave_bounds(n)
    for p in (idx_small, idx_big):
        shutil.rmtree(p, ignore_errors=True)
    for name, size, idx in (("small", b_small, idx_small),
                            ("big", b_big, idx_big)):
        timed(out, f"{prefix}index_build_{name}", lambda: (
            write_index(df.filter(i < size), idx), {unit: size})[1])
    wave_s = df.filter((i >= b_big) & (i < w1))
    wave_b = df.filter((i >= w1) & (i < w2))
    for name, wave, idx in (("wave1pct_vs_corpus44", wave_s, idx_small),
                            ("wave1pct_vs_corpus88", wave_s, idx_big),
                            ("wave10pct_vs_corpus88", wave_b, idx_big)):
        timed(out, prefix + name, lambda: {"pairs": probe(wave, idx).count()})
    return wave_b


def dedup_incremental(spark, sf, copies, out, threshold):
    """index_waves on the persisted MinHash index, the broadcast-guard
    fallback, and a full recompute for contrast."""
    from pyspark.sql import functions as F

    from engine.datawork.dedup import minhash_verified_pairs
    from engine.datawork.incremental import (incremental_verified_pairs,
                                             write_minhash_index)
    docs = text_corpus(spark, sf, copies)
    n = docs.count()
    b_small, b_big, w1, w2 = wave_bounds(n)
    out.update(copies=copies, n_docs=n, zipf_k=0, sizes={
        "corpus_small": b_small, "corpus_big": b_big,
        "wave_small": w1 - b_big, "wave_big": w2 - w1})
    idx_big = str(scratch(sf, copies, "incr_big"))
    wave_b = index_waves(
        out, docs, "doc_id", n, "docs", "",
        str(scratch(sf, copies, "incr_small")), idx_big,
        write_minhash_index, lambda wave, idx: incremental_verified_pairs(
            wave, idx, threshold=threshold))

    # broadcast-guard fallback (r6): the same 10% wave with every wave-side
    # broadcast hint disabled (what a wave past the census cap gets). The
    # pair-set fingerprint must equal the broadcast path's.
    def fingerprint(**kw):
        row = incremental_verified_pairs(
            wave_b, idx_big, threshold=threshold, **kw).agg(
            F.count("*").alias("pairs"),
            F.sum(F.col("id_a") + F.col("id_b")).alias("id_sum"),
            F.round(F.sum("est_jaccard"), 3).alias("jac_sum")).first()
        return {"pairs": row["pairs"], "id_sum": row["id_sum"],
                "jac_sum": float(row["jac_sum"])}
    fp_b = timed(out, "wave10pct_bcast_fingerprint", fingerprint)
    fp_f = timed(out, "wave10pct_fallback_fingerprint",
                 lambda: fingerprint(max_broadcast_rows=0))
    out["fallback_matches_broadcast"] = (fp_b == fp_f)
    timed(out, "full_recompute_corpus88_plus_wave1pct", lambda: {
        "pairs": minhash_verified_pairs(
            docs.filter(F.col("doc_id") < w1), threshold=threshold).count()})
    guard_telemetry(spark, out)


def embed(spark, sf, copies, out, bands, max_bucket):
    """Banded-LSH near-dup pairs (exact verify) → clusters. rows-per-band
    must grow ~log2(N / target bucket): at 500k vectors the sf0.01 24×4
    layout puts ~31k vectors in every bucket and the guard drops them all,
    so rows come from similarity.auto_rows."""
    from engine.datawork.similarity import auto_rows, cosine_pairs_above
    emb = embedding_corpus(spark, sf, copies)
    n_vec = emb.count()
    out.update(copies=copies, n_vectors=n_vec, auto_rows=auto_rows(n_vec), bands=bands,
               rows="auto")
    pairs = cosine_pairs_above(emb, threshold=0.95, bucketed=True,
                               bands=bands, rows=None,
                               max_bucket=max_bucket).persist()
    timed(out, "embed_near_pairs", lambda: {"pairs": pairs.count()})
    timed(out, "embed_clusters", lambda: cluster_stats(
        pairs, scratch(sf, copies, "emb_ckpt"), "vectors_clustered"))
    guard_telemetry(spark, out)


def embed_incremental(spark, sf, copies, out, bands, rows, max_bucket,
                      threshold):
    """index_waves on the persisted embedding index."""
    from engine.datawork.embed_incremental import (
        incremental_embedding_pairs, write_embedding_index)
    emb = embedding_corpus(spark, sf, copies)
    n = emb.count()
    out.update(copies=copies, n_vectors=n, bands=bands, rows=rows)
    index_waves(
        out, emb, "vec_id", n, "vectors", "e",
        str(scratch(sf, copies, "eincr_small")),
        str(scratch(sf, copies, "eincr_big")),
        lambda df, idx: write_embedding_index(df, idx, bands=bands,
                                              rows=rows),
        lambda wave, idx: incremental_embedding_pairs(
            wave, idx, threshold=threshold, max_bucket=max_bucket))


def curation(spark, sf, copies, out):
    """Line dedup, decontamination, temperature sampling, TF-IDF, PII
    redaction, shard packing and the composed funnel over the planted
    multi-line corpus."""
    from pyspark.sql import functions as F

    from engine.datawork import dedup as dedup_mod
    from engine.datawork.corpus import tfidf_top_terms
    from engine.datawork.curation import (contamination_report,
                                          curate_funnel, dedup_lines,
                                          redact_pii, temperature_sample)
    from engine.datawork.pack import pack_shards
    from engine.datawork.textstats import md5_u32

    docs = curation_corpus(spark, sf, copies)
    out.update(copies=copies, n_docs=docs.count(), zipf_k=CURATION_ZIPF_K)

    # every replicated original line (freq = copies) and every banner line
    # is hot at min_count <= copies; rare lines must survive
    def run_line_dedup():
        agg = dedup_lines(docs, min_count=min(copies, 100)).agg(
            F.count("*").alias("docs"), F.sum("n_kept").alias("kept"),
            F.sum("n_dropped").alias("dropped")).first()
        return {"docs": agg["docs"], "lines_kept": agg["kept"],
                "lines_dropped": agg["dropped"]}
    timed(out, "line_dedup", run_line_dedup)

    bucket = md5_u32(F.col("doc_id").cast("string")) % 100
    bench, pool = docs.filter(bucket < 1), docs.filter(bucket >= 1)
    timed(out, "decontaminate_1pct_bench", lambda: {
        "contaminated_docs": contamination_report(pool, bench, n=3).count()})
    budget = out["n_docs"] // 100
    timed(out, "temperature_sample", lambda: {
        "budget": budget,
        "sampled": temperature_sample(docs, budget=budget).count()})
    timed(out, "tfidf_top5", lambda: {
        "rows": tfidf_top_terms(docs, top_k=5).count()})

    def run_redact():
        agg = (redact_pii(docs)
               .agg(F.sum("n_emails").alias("e"), F.sum("n_ips").alias("i"))
               .first())
        return {"emails": agg["e"], "ips": agg["i"]}
    timed(out, "redact_pii", run_redact)

    def run_pack():
        agg = pack_shards(docs, budget=2048).agg(
            F.max("shard_id").alias("mx"),
            F.sum("n_tokens").alias("tok")).first()
        return {"shards": agg["mx"] + 1, "tokens": agg["tok"]}
    timed(out, "pack_2048", run_pack)

    # quality gate + layered dedup + decontamination + sampling in one plan
    timed(out, "curate_funnel", lambda: {
        r["stage"]: r["n_docs"]
        for r in curate_funnel(pool, bench, budget=budget).collect()})
    # expected 1 at sf0.01 × 3 on 4 cores: the funnel's decontamination
    # shingles its corpus side (contamination_report's shingles(docs, ...))
    # from the curate_deduped checkpoint, a 1-partition LogicalRDD, and the
    # reactive guard splits it. Not an under-split scan; the bench side's
    # shingles over the filtered scan passes untouched.
    out["rebalance_triggers"] = dedup_mod.REBALANCE_TRIGGERS


def selection(spark, sf, copies, out, vec_copies, eps, cells):
    """SemDeDup over ``vec_copies`` jittered variants of every embedding:
    at a high threshold every planted cluster should collapse to one
    survivor, so losers ≈ n_vectors·(1 − 1/vec_copies) up to clusters split
    across k-means cells (nprobe=2 closes those). DSIR and the frozen
    classifier run over the curation corpus."""
    from pyspark.sql import functions as F

    from engine.datawork.dsir import dsir_weights
    from engine.datawork.quality import classifier_scores, load_qc_weights
    from engine.datawork.similarity import semdedup_losers, train_kmeans

    out.update(vec_copies=vec_copies, eps=eps, cells=cells,
               doc_copies=copies)
    vecs = jittered_vectors(spark, sf, vec_copies, eps)
    n_vec = vecs.count()
    out["n_vectors"] = n_vec
    expect = n_vec - n_vec // vec_copies

    def run_semdedup(nprobe):
        # the codebook is trained in the first leg's time; the stage cache
        # serves it to the second
        cent = train_kmeans(vecs, n_cells=cells)
        n = semdedup_losers(vecs, threshold=0.995, centroids=cent,
                            nprobe=nprobe).count()
        return {"losers": n, "expected_if_no_cluster_splits": expect,
                "collapse_ratio": round(n / max(1, expect), 4),
                "nprobe": nprobe}
    timed(out, f"semdedup_{n_vec // 1000}k", lambda: run_semdedup(1))
    timed(out, f"semdedup_{n_vec // 1000}k_nprobe2",
          lambda: run_semdedup(2))

    docs = curation_corpus(spark, sf, copies)
    n_docs = docs.count()
    out["n_docs"] = n_docs

    def run_dsir():
        w = dsir_weights(docs.filter(F.col("doc_id") % 11 != 0),
                         docs.filter(F.col("doc_id") % 11 == 0))
        agg = w.agg(F.count("*").alias("n"),
                    F.count("log_weight").alias("scored")).first()
        return {"raw_docs": agg["n"], "scored": agg["scored"]}
    timed(out, f"dsir_weights_{n_docs // 1000}k", run_dsir)

    def run_classifier():
        agg = classifier_scores(docs, load_qc_weights(spark)).agg(
            F.count("*").alias("n"),
            F.round(F.avg("score"), 4).alias("mean_score")).first()
        return {"docs": agg["n"], "mean_score": agg["mean_score"]}
    timed(out, f"classifier_{n_docs // 1000}k", run_classifier)


#: scenario → (the BENCH/BASELINE.md section it reproduces, runner, the
#: parameters that section fixes)
SCENARIOS = {
    "dedup": ("sf1 dedup soak (500k docs — round 3)",
              dedup, {"zipf_k": 0, "verify": 0.0}),
    "dedup-zipf": ("Round-4: adversarial Zipf-boilerplate soak (--zipf 1000)"
                   " + Round-4: the verified near-dup chain",
                   dedup, {"zipf_k": 1000, "verify": 0.5}),
    "dedup-incremental": ("Round-5: incremental dedup — per-wave cost vs "
                          "corpus size; Round-6: wave-broadcast guard",
                          dedup_incremental, {"threshold": 0.5}),
    "embed": ("Round-4: embedding soak with the SELF-SCALING layout",
              embed, {"bands": 16, "max_bucket": 200}),
    "embed-incremental": ("Round-6: incremental embedding near-dup — wave "
                          "cost vs corpus",
                          embed_incremental,
                          {"bands": 16, "rows": 16, "max_bucket": 200,
                           "threshold": 0.95}),
    "curation": ("Round-5: curation-suite soak + composed funnel at 500k",
                 curation, {}),
    "selection": ("Round-5 (cont.): selection-family soak; Round-6: "
                  "SemDeDup nprobe=2",
                  selection, {"vec_copies": 10, "eps": 0.01, "cells": 256}),
}


def main() -> int:
    ap = argparse.ArgumentParser(
        description="Datawork scale soaks, one per BENCH/BASELINE.md "
                    "soak section.",
        formatter_class=argparse.RawDescriptionHelpFormatter,
        epilog="scenarios (BENCH/BASELINE.md section):\n" + "\n".join(
            f"  {name:18s} {row[0]}" for name, row in SCENARIOS.items()))
    ap.add_argument("scenario", choices=SCENARIOS)
    ap.add_argument("--copies", type=int, default=10,
                    help="replicas of every source doc/vector")
    ap.add_argument("--sf", default=SF, help="source table dir")
    ap.add_argument("--cores", type=int, default=default_cores(),
                    help="local[N] (default $SPARK_GRAFT_CPUS, else all)")
    ap.add_argument("--json", action="store_true",
                    help="end with the report as one JSON line")
    args = ap.parse_args()

    from engine.spark.job import build_session
    section, run, params = SCENARIOS[args.scenario]
    print(f"{args.scenario}: BENCH/BASELINE.md \"{section}\"", flush=True)
    spark = build_session(f"local[{args.cores}]",
                          app=f"soak-{args.scenario}-{args.copies}x",
                          shuffle_partitions=args.cores * 2)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}
    run(spark, args.sf, args.copies, out, **params)
    if args.json:
        print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
