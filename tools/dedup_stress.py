"""Dedup-suite scale soak: planted duplicate structure at N× the sf0.1
document corpus, the whole dedup chain timed end to end.

Extends the round-2 50k-doc stress (BENCH/BASELINE.md "10× dedup stress")
and makes it a repeatable tool (VERDICT r2 #3): copy 0 of every document is
pristine; each later copy appends a per-copy ``variantN`` token to HALF the
docs, so every original doc seeds one duplicate cluster holding a mix of
exact copies and near-dup variants — the boilerplate-at-scale shape whose
candidate volume is quadratic in cluster size (exactly what the bucket
guards and member caps exist for).

Reported per op: wall seconds + the scale-relevant result (groups, candidate
volume, cluster count/max size, propagation rounds, guard engagement,
surviving corpus size). Clusters run with the RELIABLE checkpoint path
(checkpoint_dir set), so the soak exercises the fault-tolerant variant.

Usage:
    python tools/dedup_stress.py --copies 10    # the round-2 50k stress
    python tools/dedup_stress.py --copies 100   # the sf1 soak (~500k docs)
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def build_corpus(spark, sf_dir: str, copies: int, cache_dir: str,
                 zipf_k: int = 0):
    """N× replicated documents with planted duplicates, cached as parquet
    (the build itself is one narrow map — no shuffle).

    ``zipf_k`` > 0 additionally appends a 12-word boilerplate banner drawn
    Zipf(1)-distributed over ``zipf_k`` templates (template = floor(K^u)
    for a doc-hash uniform u — inverse-CDF sampling, P(template k) ∝ 1/k):
    the realistic shared-boilerplate skew shape where the hottest banner
    lands on ~N/ln(K) docs, a whole head of templates crosses max_df, and
    a long tail stays under it — so the guards engage on a DISTRIBUTION
    of hot keys, not just planted replica groups (VERDICT r3 #8)."""
    from pyspark.sql import functions as F
    out = Path(cache_dir)
    if not out.exists():
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n = docs.selectExpr("max(doc_id) + 1 AS n").first()["n"]
        rep = (docs.select(
            "doc_id", "text",
            F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("copy")))
        planted = rep.select(
            (F.col("doc_id") + F.col("copy") * F.lit(n)).alias("doc_id"),
            F.when((F.col("copy") > 0) & (F.col("doc_id") % 2 == 0),
                   F.concat("text", F.lit(" variant"),
                            F.col("copy").cast("string")))
             .otherwise(F.col("text")).alias("text"))
        if zipf_k:
            u = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                    1, 8), 16, 10).cast("double")
                 / F.lit(float(1 << 32)))
            tmpl = F.least(
                F.lit(zipf_k),
                F.greatest(F.lit(1),
                           F.floor(F.pow(F.lit(float(zipf_k)), u))
                           .cast("int"))).cast("string")
            banner = F.concat_ws(" ", *[
                F.concat(F.lit(f"zipfw{i}t"), tmpl) for i in range(12)])
            planted = planted.select(
                "doc_id", F.concat_ws(" ", "text", banner).alias("text"))
        # write cores files, not one: a split can only parallelize across
        # row groups, so a single ~1 GB file (≈8 row groups at the 128 MB
        # default) caps the scan at ~8 non-empty tasks NO MATTER how small
        # maxPartitionBytes goes — the exact round-4 under-split trap. A
        # production corpus written by a distributed job is many files
        # anyway; the old single-file cache was the artifact.
        (planted.repartition(spark.sparkContext.defaultParallelism)
                .write.mode("overwrite").parquet(str(out)))
    # proactive split sizing (VERDICT r4 #2): size the scan so the shingle
    # explode starts on ≥ cores×3 splits — the reactive _ensure_parallelism
    # repartition must then never trigger (asserted at the end of the soak)
    from engine.spark.job import tune_input_splits
    print(f"  maxPartitionBytes={tune_input_splits(spark, str(out))}")
    return spark.read.parquet(str(out))


def build_embedding_corpus(spark, sf_dir: str, copies: int, cache_dir: str):
    """N× replicated embeddings: copy 0 pristine; each later copy nudges
    ONE deterministic dimension by copy-dependent ±0.05 — near-identical
    vectors (cosine ≈ 1) that are not byte-equal, the replayed-embedding
    shape an embedding-dedup pass meets at scale."""
    from pyspark.sql import functions as F
    out = Path(cache_dir)
    if not out.exists():
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n = emb.selectExpr("max(vec_id) + 1 AS n").first()["n"]
        rep = emb.select(
            "vec_id", "embedding",
            F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("copy"))
        dim = F.pmod(F.col("vec_id") + F.col("copy"), F.lit(64))
        nudge = (F.when(F.col("copy") % 2 == 1, F.lit(0.05))
                 .otherwise(F.lit(-0.05))) * F.signum(F.col("copy"))
        perturbed = F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: F.when(i == dim, x + nudge).otherwise(x))
        rep.select((F.col("vec_id") + F.col("copy") * F.lit(n)).alias("vec_id"),
                   perturbed.alias("embedding")) \
           .repartition(spark.sparkContext.defaultParallelism) \
           .write.mode("overwrite").parquet(str(out))
    from engine.spark.job import tune_input_splits
    print(f"  maxPartitionBytes={tune_input_splits(spark, str(out))}")
    return spark.read.parquet(str(out))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--embeddings", action="store_true",
                    help="soak the embedding near-dup path instead of text")
    ap.add_argument("--max-bucket", type=int, default=200,
                    help="band-bucket guard for the embedding soak")
    ap.add_argument("--bands", type=int, default=16)
    ap.add_argument("--rows", type=int, default=16,
                    help="planes per band — must scale ~log2(N) (see the "
                         "in-code note); the sf0.01 oracle default is 24x4; "
                         "0 = self-scaling (similarity.auto_rows)")
    ap.add_argument("--verify-threshold", type=float, default=0.0,
                    help="also run the verified chain (candidates → "
                         "signature-estimate Jaccard ≥ τ → clusters); "
                         "0 = off. The zipf soak's template-hub gluing "
                         "must collapse under verification.")
    ap.add_argument("--zipf", type=int, default=0, metavar="K",
                    help="append a Zipf(1)-distributed boilerplate banner "
                         "over K templates (adversarial shared-boilerplate "
                         "skew; guards must engage with candidates bounded)")
    ap.add_argument("--embed-incremental", action="store_true",
                    help="soak the persisted embedding-index incremental "
                         "near-dup path (wave-proportional cost evidence)")
    ap.add_argument("--incremental", action="store_true",
                    help="soak the persisted-index incremental dedup path: "
                         "build 44%%/88%% corpus indexes, run a 1%% wave "
                         "against both and a 10%% wave against the big one "
                         "(wave-proportional cost evidence), plus a full "
                         "recompute for contrast")
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    from engine.datawork import clusters as clusters_mod, stage_cache
    from engine.datawork.clusters import duplicate_clusters
    from engine.datawork.corpus import deduplicated_corpus
    from engine.datawork.dedup import (exact_duplicates, guard_report,
                                       minhash_lsh_candidates)

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName(f"dedup-stress-{args.copies}x")
             .config("spark.sql.shuffle.partitions", str(args.cpus * 2))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.driver.memory", "48g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"copies": args.copies}

    def timed(name, fn):
        t0 = time.monotonic()
        res = fn()
        out[name] = {"wall_s": round(time.monotonic() - t0, 1), **res}
        print(f"  {name}: {out[name]}", flush=True)
        return res

    if args.embed_incremental:
        # wave-proportional cost for the PERSISTED embedding index
        # (engine/datawork/embed_incremental.py): same shape as the
        # MinHash --incremental soak — one wave, two corpus sizes, then
        # a bigger wave; rows sized by auto_rows for the corpus scale.
        from engine.datawork.embed_incremental import (
            incremental_embedding_pairs, write_embedding_index)
        from engine.datawork.similarity import auto_rows
        emb = build_embedding_corpus(
            spark, args.sf, args.copies,
            f"/tmp/spark_graft_stress_emb_{args.copies}x")
        n_vec = emb.count()
        out["n_vectors"] = n_vec
        rows_arg = args.rows if args.rows > 0 else auto_rows(n_vec)
        out["bands"], out["rows"] = args.bands, rows_arg
        vid = F.col("vec_id")
        b_small, b_big = int(n_vec * 0.44), int(n_vec * 0.88)
        w1, w2 = int(n_vec * 0.89), int(n_vec * 0.99)
        idx_s = f"/tmp/spark_graft_eincr_small_{args.copies}x"
        idx_b = f"/tmp/spark_graft_eincr_big_{args.copies}x"
        for p in (idx_s, idx_b):
            import shutil
            shutil.rmtree(p, ignore_errors=True)
        thr = args.verify_threshold or 0.95
        timed("eindex_build_small", lambda: (
            write_embedding_index(emb.filter(vid < b_small), idx_s,
                                  bands=args.bands, rows=rows_arg),
            {"vectors": b_small})[1])
        timed("eindex_build_big", lambda: (
            write_embedding_index(emb.filter(vid < b_big), idx_b,
                                  bands=args.bands, rows=rows_arg),
            {"vectors": b_big})[1])
        wave_s = emb.filter((vid >= b_big) & (vid < w1))
        wave_b = emb.filter((vid >= w1) & (vid < w2))
        timed("ewave1pct_vs_corpus44", lambda: {
            "pairs": incremental_embedding_pairs(
                wave_s, idx_s, threshold=thr,
                max_bucket=args.max_bucket).count()})
        timed("ewave1pct_vs_corpus88", lambda: {
            "pairs": incremental_embedding_pairs(
                wave_s, idx_b, threshold=thr,
                max_bucket=args.max_bucket).count()})
        timed("ewave10pct_vs_corpus88", lambda: {
            "pairs": incremental_embedding_pairs(
                wave_b, idx_b, threshold=thr,
                max_bucket=args.max_bucket).count()})
        if args.json:
            print(json.dumps(out))
        return 0

    if args.embeddings:
        from engine.datawork.similarity import cosine_pairs_above
        emb = build_embedding_corpus(
            spark, args.sf, args.copies,
            f"/tmp/spark_graft_stress_emb_{args.copies}x")
        out["n_vectors"] = emb.count()
        rows_arg = args.rows if args.rows > 0 else None  # 0 → auto_rows
        if rows_arg is None:
            from engine.datawork.similarity import auto_rows
            out["auto_rows"] = auto_rows(out["n_vectors"])
        out["bands"], out["rows"] = args.bands, args.rows or "auto"
        # THE banded-LSH scale rule this soak demonstrates: rows-per-band
        # must grow ~log2(N / target_bucket). The sf0.01 default (24×4)
        # gives 2^4 = 16 buckets per band — fine for 500 vectors, but at
        # 500k EVERY bucket holds ~31k vectors and the guard would drop
        # them all. rows=16 → 65,536 buckets/band keeps candidates sparse
        # while the seeded plane stream supplies as many planes as asked.
        pairs = cosine_pairs_above(emb, threshold=0.95, bucketed=True,
                                   bands=args.bands, rows=rows_arg,
                                   max_bucket=args.max_bucket).persist()
        timed("embed_near_pairs", lambda: {"pairs": pairs.count()})

        def run_clusters():
            cl = duplicate_clusters(
                pairs, checkpoint_dir=(f"/tmp/spark_graft_stress_emb_ckpt_"
                                       f"{args.copies}x"))
            stats = (cl.groupBy("cluster_id").count()
                     .agg(F.count("*").alias("clusters"),
                          F.max("count").alias("max_cluster"),
                          F.sum("count").alias("docs")).first())
            return {"vectors_clustered": stats["docs"],
                    "clusters": stats["clusters"],
                    "max_cluster": stats["max_cluster"],
                    "rounds": clusters_mod.LAST_ITERATIONS}
        timed("embed_clusters", run_clusters)
        from engine.datawork import dedup as dedup_mod
        out["rebalance_triggers"] = dedup_mod.REBALANCE_TRIGGERS
        out["stage_cache"] = stage_cache.stats(spark)
        if args.json:
            print(json.dumps(out))
        return 0

    suffix = f"_z{args.zipf}" if args.zipf else ""
    docs = build_corpus(spark, args.sf, args.copies,
                        f"/tmp/spark_graft_stress_{args.copies}x{suffix}",
                        zipf_k=args.zipf)
    out["n_docs"] = docs.count()
    out["zipf_k"] = args.zipf

    if args.incremental:
        # THE incremental-dedup scale claim (VERDICT r4 #1 "done" bar):
        # per-wave cost ∝ wave size, NOT corpus size. Evidence shape:
        #   same 1% wave against a 44% corpus and an 88% corpus → ≈equal
        #   wall (corpus-independence); 1% vs 10% wave against the same
        #   88% corpus → ≈linear in wave; full recompute over corpus∪wave
        #   timed for contrast (what a non-incremental pipeline pays).
        from engine.datawork.dedup import minhash_verified_pairs
        from engine.datawork.incremental import (incremental_verified_pairs,
                                                 write_minhash_index)
        n_docs = out["n_docs"]
        thr = args.verify_threshold or 0.5
        b_small, b_big = int(n_docs * 0.44), int(n_docs * 0.88)
        w1, w2 = int(n_docs * 0.89), int(n_docs * 0.99)
        did = F.col("doc_id")
        corpus_small = docs.filter(did < b_small)
        corpus_big = docs.filter(did < b_big)
        wave_s = docs.filter((did >= b_big) & (did < w1))   # ~1%
        wave_b = docs.filter((did >= w1) & (did < w2))      # ~10%
        idx_small = f"/tmp/spark_graft_incr_small_{args.copies}x{suffix}"
        idx_big = f"/tmp/spark_graft_incr_big_{args.copies}x{suffix}"
        out["sizes"] = {"corpus_small": b_small, "corpus_big": b_big,
                        "wave_small": w1 - b_big, "wave_big": w2 - w1}
        timed("index_build_small", lambda: (
            write_minhash_index(corpus_small, idx_small),
            {"docs": b_small})[1])
        timed("index_build_big", lambda: (
            write_minhash_index(corpus_big, idx_big),
            {"docs": b_big})[1])
        timed("wave1pct_vs_corpus44", lambda: {
            "pairs": incremental_verified_pairs(
                wave_s, idx_small, threshold=thr).count()})
        timed("wave1pct_vs_corpus88", lambda: {
            "pairs": incremental_verified_pairs(
                wave_s, idx_big, threshold=thr).count()})
        timed("wave10pct_vs_corpus88", lambda: {
            "pairs": incremental_verified_pairs(
                wave_b, idx_big, threshold=thr).count()})

        # broadcast-guard fallback (r6): the same 10% wave with every
        # wave-side broadcast hint disabled (max_broadcast_rows=0 — what a
        # wave past the census cap gets). The pair-set fingerprint must
        # equal the broadcast path's; the wall-clock delta is the price of
        # the shuffle fallback at this scale.
        def _fp(df):
            row = df.agg(
                F.count("*").alias("pairs"),
                F.sum(F.col("id_a") + F.col("id_b")).alias("id_sum"),
                F.round(F.sum("est_jaccard"), 3).alias("jac_sum")).first()
            return {"pairs": row["pairs"], "id_sum": row["id_sum"],
                    "jac_sum": float(row["jac_sum"])}
        fp_b = timed("wave10pct_bcast_fingerprint", lambda: _fp(
            incremental_verified_pairs(wave_b, idx_big, threshold=thr)))
        fp_f = timed("wave10pct_fallback_fingerprint", lambda: _fp(
            incremental_verified_pairs(wave_b, idx_big, threshold=thr,
                                       max_broadcast_rows=0)))
        out["fallback_matches_broadcast"] = (fp_b == fp_f)
        timed("full_recompute_corpus88_plus_wave1pct", lambda: {
            "pairs": minhash_verified_pairs(
                docs.filter(did < w1), threshold=thr).count()})
        from engine.datawork import dedup as dedup_mod
        out["rebalance_triggers"] = dedup_mod.REBALANCE_TRIGGERS
        out["stage_cache"] = stage_cache.stats(spark)
        if args.json:
            print(json.dumps(out))
        return 0

    timed("exact", lambda: {
        "groups": exact_duplicates(docs).count()})

    # persist: clusters/apply consume the pairs again — a production chain
    # would checkpoint candidates, and without this the clusters timing
    # silently re-pays the candidate join (+~55 s at 500k)
    cand = minhash_lsh_candidates(docs).persist()
    timed("minhash_candidates", lambda: {"pairs": cand.count()})

    def run_clusters():
        cl = duplicate_clusters(
            cand, checkpoint_dir=f"/tmp/spark_graft_stress_ckpt_{args.copies}x")
        agg = cl.groupBy("cluster_id").count()
        stats = agg.agg(F.count("*").alias("clusters"),
                        F.max("count").alias("max_cluster"),
                        F.sum("count").alias("docs_clustered")).first()
        return {"docs_clustered": stats["docs_clustered"],
                "clusters": stats["clusters"],
                "max_cluster": stats["max_cluster"],
                "rounds": clusters_mod.LAST_ITERATIONS}
    timed("clusters", run_clusters)

    # dedup_apply over the SAME clusters (rebuilt lazily — the anti-join is
    # the thing being timed; VERDICT r2 #1 "50k-doc stress timing")
    cl = duplicate_clusters(
        cand, checkpoint_dir=f"/tmp/spark_graft_stress_ckpt_{args.copies}x")
    timed("dedup_apply", lambda: {
        "kept_docs": deduplicated_corpus(docs, cl).count()})

    timed("guard_report", lambda: {"guards": {
        r["guard"]: {"hot_keys": r["hot_keys"],
                     "dropped_rows": r["dropped_rows"]}
        for r in guard_report(docs).collect()}})

    if args.verify_threshold > 0:
        from engine.datawork.dedup import minhash_verified_pairs
        ver = minhash_verified_pairs(
            docs, threshold=args.verify_threshold).persist()
        timed("verified_pairs", lambda: {"pairs": ver.count(),
                                         "threshold": args.verify_threshold})

        def run_verified_clusters():
            cl = duplicate_clusters(
                ver.select("id_a", "id_b"),
                checkpoint_dir=(f"/tmp/spark_graft_stress_vckpt_"
                                f"{args.copies}x"))
            stats = (cl.groupBy("cluster_id").count()
                     .agg(F.count("*").alias("clusters"),
                          F.max("count").alias("max_cluster"),
                          F.sum("count").alias("docs")).first())
            return {"docs_clustered": stats["docs"],
                    "clusters": stats["clusters"],
                    "max_cluster": stats["max_cluster"],
                    "rounds": clusters_mod.LAST_ITERATIONS}
        timed("verified_clusters", run_verified_clusters)

    # proactive sizing must have made the reactive backstop a no-op — if
    # this fires, the scan came in under-split and part of the chain ran
    # on idle cores (the silent 16× round-4 failure mode)
    from engine.datawork import dedup as dedup_mod
    out["rebalance_triggers"] = dedup_mod.REBALANCE_TRIGGERS
    out["stage_cache"] = stage_cache.stats(spark)
    assert dedup_mod.REBALANCE_TRIGGERS == 0, (
        f"reactive rebalance fired {dedup_mod.REBALANCE_TRIGGERS}× despite "
        f"proactive split sizing")

    if args.json:
        print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
