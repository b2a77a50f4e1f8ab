"""Measured recall of the approximate dedup/similarity paths vs exact truth.

Two families, each "approximate candidates + exact verify", so precision is
1.0 by construction and RECALL is the number that matters:

* embedding near-dup: banded hyperplane LSH (similarity.cosine_pairs_above
  bucketed=True) vs the brute-force all-pairs cosine, at several thresholds.
* MinHash-LSH candidates (dedup.minhash_lsh_candidates) vs exact n-gram
  Jaccard ground truth (dedup.ngram_jaccard_pairs), at several J thresholds.

Usage: python tools/recall_report.py [--sf /root/testdata/sf0.01] [--json]

Prints a table (and with --json one JSON line) for BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args()

    from engine.datawork.dedup import (MINHASH_BANDS, MINHASH_K,
                                       minhash_lsh_candidates,
                                       ngram_jaccard_pairs)
    from engine.datawork.similarity import (LSH_BANDS, LSH_ROWS,
                                            cosine_pairs_above)
    from engine.spark.job import build_session

    spark = build_session("local[8]", app="recall-report",
                          shuffle_partitions=16)

    out: dict = {"sf": args.sf}

    # ---- embedding banded LSH vs brute force ----
    emb = spark.read.parquet(f"{args.sf}/embeddings.parquet")
    truth = {(r["id_a"], r["id_b"]): r["cosine"] for r in
             cosine_pairs_above(emb, threshold=0.35, bucketed=False).collect()}
    got = {(r["id_a"], r["id_b"]) for r in
           cosine_pairs_above(emb, threshold=0.35, bucketed=True).collect()}
    assert got <= set(truth), "banded path emitted a non-true pair"
    # candidate volume BEFORE the exact verify — the cost side of the
    # bands knob (recall gains must be reported next to this, VERDICT r2
    # #5). Counted through the SAME function the production path joins
    # with, so the number cannot drift from the real plan.
    from engine.datawork.similarity import (banded_buckets,
                                            candidate_pairs_from_banded)
    emb_candidates = candidate_pairs_from_banded(banded_buckets(emb)).count()
    emb_rows = []
    for tau in (0.35, 0.5, 0.8):
        t = {k for k, c in truth.items() if c >= tau}
        g = {k for k in got if k in t}
        emb_rows.append({"tau": tau, "true_pairs": len(t),
                         "caught": len(g),
                         "recall": round(len(g) / len(t), 4) if t else None})
    out["embedding_lsh"] = {"bands": LSH_BANDS, "rows": LSH_ROWS,
                            "candidates": emb_candidates,
                            "thresholds": emb_rows}

    # ---- MinHash-LSH candidates vs exact Jaccard ----
    docs = spark.read.parquet(f"{args.sf}/documents.parquet")
    jacc = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
            ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    cand = {(r["id_a"], r["id_b"]) for r in
            minhash_lsh_candidates(docs).collect()}
    mh_rows = []
    for thr in (0.5, 0.7, 0.8):
        t = {k for k, j in jacc.items() if j >= thr}
        g = {k for k in cand if k in t}
        mh_rows.append({"jaccard": thr, "true_pairs": len(t),
                        "caught": len(g),
                        "recall": round(len(g) / len(t), 4) if t else None})
    out["minhash_lsh"] = {"k": MINHASH_K, "bands": MINHASH_BANDS,
                          "candidates": len(cand), "thresholds": mh_rows}

    # ---- IVF top-k recall: trained k-means codebook vs untrained rule ----
    # Mean top-10 recall over a fixed query panel at each nprobe. On this
    # synthetic near-uniform corpus neither codebook has geometric structure
    # to exploit, so treat the trained-vs-untrained delta as noise unless it
    # is large; the number that matters operationally is the scan bound
    # (max probed-cell population), where Lloyd iterations tighten balance.
    from pyspark.sql import functions as F

    from engine.datawork.similarity import (cosine_topk, ivf_assignments,
                                            ivf_topk, train_kmeans)
    cent = train_kmeans(emb)
    qids = [0, 7, 13, 21, 34, 42, 77, 111, 203, 340]
    qvecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in emb.filter(F.col("vec_id").isin(qids)).collect()}
    truths = {q: {r["vec_id"] for r in cosine_topk(emb, v, 10).collect()}
              for q, v in qvecs.items()}
    ivf_rows = []
    for label, c in (("untrained", None), ("trained", cent)):
        sizes = [r["n"] for r in ivf_assignments(emb, centroids=c)
                 .groupBy("cell").agg(F.count("*").alias("n")).collect()]
        for nprobe in (1, 2, 4):
            caught = sum(
                len({r["vec_id"] for r in
                     ivf_topk(emb, v, 10, nprobe=nprobe,
                              centroids=c).collect()} & truths[q])
                for q, v in qvecs.items())
            ivf_rows.append({
                "codebook": label, "nprobe": nprobe,
                "recall": round(caught / (10 * len(qids)), 4),
                "max_cell": max(sizes), "min_cell": min(sizes)})
    out["ivf_topk"] = {"queries": len(qids), "rows": ivf_rows}

    # ---- planted-cluster panel: the regime a TRAINED codebook exists for.
    # The sf embeddings are near-uniform (no geometry to learn — there the
    # untrained data-vector centroids actually rank better, see above); real
    # corpora cluster. 2000 vectors in 16 skew-sized Gaussian clusters,
    # cluster sizes quadratic in id so the 16 smallest-id vectors (the
    # untrained codebook) all come from ONE cluster — the failure mode
    # training fixes.
    import numpy as np
    rs = np.random.RandomState(7)
    centers = rs.standard_normal((16, 64)) * 3.0
    planted = [(i, [float(x) for x in
                    (centers[int(16 * (i / 2000.0) ** 2)]
                     + rs.standard_normal(64)).astype("float32")])
               for i in range(2000)]
    pemb = spark.createDataFrame(planted, "vec_id: long, embedding: array<float>")
    pcent = train_kmeans(pemb)
    pq = [5, 400, 900, 1500, 1900]
    pqv = {r["vec_id"]: [float(x) for x in r["embedding"]]
           for r in pemb.filter(F.col("vec_id").isin(pq)).collect()}
    ptruth = {q: {r["vec_id"] for r in cosine_topk(pemb, v, 10).collect()}
              for q, v in pqv.items()}
    planted_rows = []
    for label, c in (("untrained", None), ("trained", pcent)):
        for nprobe in (1, 2):
            caught = sum(
                len({r["vec_id"] for r in
                     ivf_topk(pemb, v, 10, nprobe=nprobe,
                              centroids=c).collect()} & ptruth[q])
                for q, v in pqv.items())
            planted_rows.append({"codebook": label, "nprobe": nprobe,
                                 "recall": round(caught / (10 * len(pq)), 4)})
    out["ivf_topk_planted"] = {"queries": len(pq), "rows": planted_rows}

    if args.json:
        print(json.dumps(out))
    else:
        print(f"embedding banded LSH  (B={LSH_BANDS} x r={LSH_ROWS}, "
              f"{emb_candidates} candidate pairs):")
        for r in emb_rows:
            print(f"  tau>={r['tau']:<5} true={r['true_pairs']:<5} "
                  f"caught={r['caught']:<5} recall={r['recall']}")
        print(f"minhash LSH  (k={MINHASH_K}, bands={MINHASH_BANDS}, "
              f"{len(cand)} candidate pairs):")
        for r in mh_rows:
            print(f"  J>={r['jaccard']:<6} true={r['true_pairs']:<5} "
                  f"caught={r['caught']:<5} recall={r['recall']}")
        print(f"ivf top-10 recall over {len(qids)} queries "
              f"(cells=16; scan bound = max cell):")
        for r in ivf_rows:
            print(f"  {r['codebook']:<10} nprobe={r['nprobe']} "
                  f"recall={r['recall']:<7} cell min/max="
                  f"{r['min_cell']}/{r['max_cell']}")
        print(f"ivf top-10 recall, PLANTED 16-cluster corpus "
              f"(2000 vecs, skewed sizes, {len(pq)} queries):")
        for r in planted_rows:
            print(f"  {r['codebook']:<10} nprobe={r['nprobe']} "
                  f"recall={r['recall']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
