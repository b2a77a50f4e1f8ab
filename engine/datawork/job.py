"""spark-submit entry point for the corpus/dedup operator suite.

    spark-submit --py-files engine.zip engine/datawork/job.py \
        --op dedup-apply --input <documents parquet> --output <dir>

Ops (all read a documents-shaped table: doc_id + text [+ any extra
columns, passed through where the op allows]):

    exact-dups      fingerprint groups (capped member lists)
    minhash-pairs   MinHash-LSH candidate near-dup pairs
    verified-pairs  candidates verified by the signature-estimate Jaccard
                    (--threshold; the boilerplate-skew-safe chain)
    containment-pairs  asymmetric Broder containment pairs (--threshold)
    clusters        duplicate clusters (connected components over
                    VERIFIED pairs — raw candidates glue template hubs)
    dedup-apply     the deduplicated corpus (one canonical doc per cluster)
    dedup-apply-full  layered action: exact + near-dup losers dropped
    guard-report    skew-guard telemetry (hot shingles / hot buckets)
    vocab           top-k token vocabulary
    sample          reproducible hash sample (--percent)
    quantiles       per-group length quantiles (--group-col)
    line-dedup      CCNet-style corpus-frequency line removal (--min-count)
    decontaminate   n-gram overlap report vs an eval set (--bench path)
    temperature-sample  alpha=0.5 mixture sample (--budget)
    tfidf           per-doc top-k TF-IDF terms (--top-k)
    redact-pii      email/IPv4/card-run scrub with per-pattern counts
    pack            token-budget shard packing (--pack-budget)
    substring-spans duplicated n-gram spans (ExactSubstr; --ngram)
    substring-dedup corpus with duplicated spans cut out
    decontaminate-spans  cut bench-overlapping spans (--bench, --ngram)
    winnow          winnowing (MOSS) fingerprints per doc
    winnow-pairs    doc pairs sharing fingerprints (--min-count)
    ppl-buckets     per-group unigram-NLL head/middle/tail terciles
    stratified-sample  exact --top-k docs per --group-col (md5 order)
    heavy-hitters   terms with freq > N/(k+1), exact (--top-k = k)
    dsir-weights    DSIR importance weights vs a target set (--bench)
    dsir-select     the --budget most-target-like docs (--bench)
    semdedup        SemDeDup losers over an embeddings parquet
                    (--threshold = pairwise cosine)
    classify        frozen hashed linear classifier scores
    chunk           sliding-window chunks (--pack-budget = window)
    entropy         per-doc character entropy
    curate          composed funnel: quality -> dedup -> decontaminate
                    (--bench) -> temperature sample (--budget)
    curate-funnel   the per-stage survivor counts of the same funnel

Also runnable as ``python -m engine.datawork.job`` for local smoke.
Under client-mode spark-submit the driver JVM is up before the builder
runs, so pass ``build_session``'s driver JVM policy on the command line;
executors keep the JVM default::

    --conf "spark.driver.defaultJavaOptions=-XX:TieredStopAtLevel=1 -XX:MetaspaceSize=256m"
"""

from __future__ import annotations

import argparse
import sys


def _near_dup_pairs(docs, threshold: float):
    """The CLI's near-dup pair source: signature-verified when
    ``threshold`` > 0 (the default — raw band-bucket candidates glue
    boilerplate-template hubs into giant components, BENCH round-4),
    raw candidates when 0."""
    if threshold > 0:
        from .dedup import minhash_verified_pairs
        return minhash_verified_pairs(docs, threshold=threshold) \
            .select("id_a", "id_b")
    from .dedup import minhash_lsh_candidates
    return minhash_lsh_candidates(docs)


DEDUP_OPS = {"exact-dups", "minhash-pairs", "verified-pairs", "clusters",
             "containment-pairs",
             "dedup-apply", "dedup-apply-full", "guard-report"}


def check_unique_ids(docs, id_col: str = "doc_id") -> None:
    """Guard the dedup family's one-row-per-id precondition (ADVICE r4:
    duplicate ids silently inflate per-doc shingle sizes and deflate
    Jaccard since shingles() dedups map-side only). One cheap aggregation
    over the id column alone — worth it in the CLI where the input parquet
    is user-supplied and nothing else enforces uniqueness."""
    from pyspark.sql import functions as F
    row = docs.agg(F.count(id_col).alias("n"),
                   F.count_distinct(id_col).alias("d")).first()
    if row["n"] != row["d"]:
        raise SystemExit(
            f"input violates the dedup precondition: {row['n'] - row['d']} "
            f"duplicate {id_col} rows (every dedup op requires one row per "
            f"id — run with --no-check-ids only if you know the Jaccard "
            f"skew is acceptable)")


def run_op(spark, op: str, input_path: str, percent: int = 10,
           group_col: str = "lang", top_k: int = 200,
           threshold: float = 0.5, check_ids: bool = False,
           min_count: int = 2, bench_path: str | None = None,
           budget: int = 1000, pack_budget: int = 2048,
           ngram: int = 6, max_hot: int | None = None,
           index_path: str | None = None):
    docs = spark.read.parquet(input_path)
    if check_ids and op in DEDUP_OPS:
        check_unique_ids(docs)
    if op == "exact-dups":
        from .dedup import exact_duplicates
        return exact_duplicates(docs)
    if op == "minhash-pairs":
        from .dedup import minhash_lsh_candidates
        return minhash_lsh_candidates(docs)
    if op == "verified-pairs":
        # threshold=0 is a legitimate request: every candidate annotated
        # with its estimate, nothing filtered (est_jaccard >= 0 always)
        from .dedup import minhash_verified_pairs
        return minhash_verified_pairs(docs, threshold=threshold)
    if op == "containment-pairs":
        from .dedup import ngram_containment_pairs
        return ngram_containment_pairs(docs, threshold=threshold)
    if op == "clusters":
        from .clusters import duplicate_clusters
        return duplicate_clusters(_near_dup_pairs(docs, threshold))
    if op == "dedup-apply":
        from .clusters import duplicate_clusters
        from .corpus import deduplicated_corpus
        clusters = duplicate_clusters(_near_dup_pairs(docs, threshold))
        return deduplicated_corpus(docs, clusters)
    if op == "dedup-apply-full":
        from .clusters import duplicate_clusters
        from .corpus import deduplicated_corpus_full
        clusters = duplicate_clusters(_near_dup_pairs(docs, threshold))
        return deduplicated_corpus_full(docs, clusters)
    if op == "guard-report":
        from .dedup import guard_report
        return guard_report(docs)
    if op == "vocab":
        from .corpus import token_vocabulary
        return token_vocabulary(docs, top_k=top_k)
    if op == "sample":
        from .corpus import hash_sample
        return hash_sample(docs, percent=percent)
    if op == "quantiles":
        from .corpus import length_quantiles
        return length_quantiles(docs, group_col=group_col)
    if op == "line-dedup":
        from .curation import dedup_lines
        return dedup_lines(docs, min_count=min_count, max_hot=max_hot)
    if op == "decontaminate":
        from .curation import contamination_report
        if not bench_path:
            raise SystemExit("--op decontaminate requires --bench <parquet>")
        return contamination_report(docs, spark.read.parquet(bench_path))
    if op == "temperature-sample":
        from .curation import temperature_sample
        return temperature_sample(docs, budget=budget, group_col=group_col)
    if op == "tfidf":
        from .corpus import tfidf_top_terms
        return tfidf_top_terms(docs, top_k=min(top_k, 50))
    if op in ("dsir-weights", "dsir-select"):
        from .dsir import dsir_select, dsir_weights
        if not bench_path:
            raise SystemExit(f"--op {op} requires --bench <target parquet>")
        target = spark.read.parquet(bench_path)
        if op == "dsir-weights":
            return dsir_weights(docs, target)
        return dsir_select(docs, target, budget=budget)
    if op == "semdedup":
        # input = an embeddings parquet (vec_id, embedding)
        from .similarity import semdedup_losers
        return semdedup_losers(docs, threshold=threshold)
    if op == "classify":
        from .quality import classifier_scores, load_qc_weights
        return classifier_scores(docs, load_qc_weights(spark))
    if op == "chunk":
        from .corpus import chunk_documents
        return chunk_documents(docs, max_tokens=pack_budget,
                               stride=max(1, (pack_budget * 3) // 4))
    if op == "entropy":
        from .textstats import char_entropy
        return char_entropy(docs)
    if op == "redact-pii":
        from .curation import redact_pii
        return redact_pii(docs)
    if op == "pack":
        from .pack import pack_shards
        return pack_shards(docs, budget=pack_budget)
    if op == "substring-spans":
        from .substrings import duplicate_ngram_spans
        return duplicate_ngram_spans(docs, n=ngram, min_count=min_count)
    if op == "substring-dedup":
        from .substrings import drop_duplicate_spans
        return drop_duplicate_spans(docs, n=ngram, min_count=min_count)
    if op == "decontaminate-spans":
        from .substrings import decontaminate_spans
        if not bench_path:
            raise SystemExit(
                "--op decontaminate-spans requires --bench <parquet>")
        return decontaminate_spans(docs, spark.read.parquet(bench_path),
                                   n=ngram)
    if op == "winnow":
        from .substrings import winnow_fingerprints
        return winnow_fingerprints(docs)
    if op == "winnow-pairs":
        from .substrings import winnow_similar_pairs
        return winnow_similar_pairs(docs, min_shared=min_count)
    if op == "stratified-sample":
        from .corpus import stratified_sample
        return stratified_sample(docs, per_group=top_k,
                                 group_col=group_col)
    if op == "heavy-hitters":
        from .sketch import heavy_hitters
        return heavy_hitters(docs, k=top_k)
    if op == "ppl-buckets":
        from .corpus import quality_buckets, unigram_logprob
        scored = (unigram_logprob(docs)
                  .join(docs.select("doc_id", group_col), "doc_id"))
        return quality_buckets(scored, score_col="nll",
                               group_col=group_col)
    if op in ("curate", "curate-funnel"):
        from .curation import curate_corpus, curate_funnel
        if not bench_path:
            raise SystemExit(f"--op {op} requires --bench <parquet>")
        fn = curate_corpus if op == "curate" else curate_funnel
        return fn(docs, spark.read.parquet(bench_path), budget=budget,
                  group_col=group_col)

    # persisted-index lifecycle (MinHash text index / banded embedding
    # index): --input is the corpus (build/append) or the wave (probe);
    # --index is the index directory. build/append/compact return a
    # one-row report so the main() write contract holds for every op.
    if op in ("index-build", "index-append", "index-probe",
              "index-compact", "embed-index-build", "embed-index-append",
              "embed-index-probe", "embed-index-compact"):
        if not index_path:
            raise SystemExit(f"--op {op} requires --index <dir>")
        from engine.spark.schema import arrow_frame

        def indexed():  # build/append: the docs folded in
            return arrow_frame(spark, [(index_path, docs.count())],
                               "`index` string, `docs` bigint")

        def compacted(rep):  # files per table
            return arrow_frame(
                spark, [(t, r["files_before"], r["files_after"])
                        for t, r in rep.items()],
                "`table` string, `files_before` int, `files_after` int")

        if op == "index-build":
            from .incremental import write_minhash_index
            write_minhash_index(docs, index_path)
            return indexed()
        if op == "index-append":
            from .incremental import append_to_index
            append_to_index(docs, index_path)
            return indexed()
        if op == "index-probe":
            from .incremental import incremental_verified_pairs
            return incremental_verified_pairs(docs, index_path,
                                              threshold=threshold)
        if op == "index-compact":
            from .incremental import compact_index
            return compacted(compact_index(spark, index_path))
        if op == "embed-index-build":
            from .embed_incremental import write_embedding_index
            write_embedding_index(docs, index_path)
            return indexed()
        if op == "embed-index-append":
            from .embed_incremental import append_to_embedding_index
            append_to_embedding_index(docs, index_path)
            return indexed()
        if op == "embed-index-probe":
            from .embed_incremental import incremental_embedding_pairs
            return incremental_embedding_pairs(docs, index_path,
                                               threshold=threshold)
        from .embed_incremental import compact_embedding_index
        return compacted(compact_embedding_index(spark, index_path))
    raise SystemExit(f"unknown --op {op!r}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--op", required=True,
                    choices=["exact-dups", "minhash-pairs", "verified-pairs",
                             "containment-pairs",
                             "clusters", "dedup-apply", "dedup-apply-full",
                             "guard-report", "vocab",
                             "sample", "quantiles", "line-dedup",
                             "decontaminate", "temperature-sample",
                             "tfidf", "redact-pii", "pack",
                             "substring-spans", "substring-dedup",
                             "decontaminate-spans", "winnow",
                             "winnow-pairs", "ppl-buckets",
                             "stratified-sample", "heavy-hitters",
                             "dsir-weights", "dsir-select", "semdedup", "classify",
                             "chunk", "entropy",
                             "curate", "curate-funnel",
                             "index-build", "index-append", "index-probe",
                             "index-compact", "embed-index-build",
                             "embed-index-append", "embed-index-probe",
                             "embed-index-compact"])
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--index", default=None,
                    help="index directory for the index-*/embed-index-* "
                         "ops (built by index-build / embed-index-build)")
    ap.add_argument("--percent", type=int, default=10)
    ap.add_argument("--group-col", default="lang")
    ap.add_argument("--top-k", type=int, default=200)
    ap.add_argument("--threshold", type=float, default=0.5,
                    help="signature-estimate Jaccard verify threshold for "
                         "verified-pairs/clusters/dedup-apply*; 0 = raw "
                         "unverified candidates")
    ap.add_argument("--max-hot", type=int, default=None,
                    help="line-dedup: cap the hot set to the N hottest "
                         "lines (pins the broadcast; size from the "
                         "line_dedup_report census)")
    ap.add_argument("--min-count", type=int, default=2,
                    help="line-dedup / substring-dedup hotness threshold; "
                         "min shared fingerprints for winnow-pairs")
    ap.add_argument("--bench", default=None,
                    help="eval-set parquet for --op decontaminate")
    ap.add_argument("--budget", type=int, default=1000,
                    help="temperature-sample target size")
    ap.add_argument("--pack-budget", type=int, default=2048,
                    help="tokens per shard for --op pack")
    ap.add_argument("--ngram", type=int, default=6,
                    help="window length for substring-spans/"
                         "substring-dedup/decontaminate-spans")
    ap.add_argument("--master", default=None,
                    help="local override; omit under spark-submit")
    ap.add_argument("--no-check-ids", action="store_true",
                    help="skip the doc_id-uniqueness precondition check "
                         "the dedup ops otherwise run up front")
    args = ap.parse_args(argv)

    from engine.spark.job import build_session, tune_input_splits
    spark = build_session(args.master, app=f"datawork-{args.op}")
    split_bytes = tune_input_splits(spark, args.input)
    print(f"maxPartitionBytes={split_bytes} "
          f"(proactive split sizing over {args.input})")
    out = run_op(spark, args.op, args.input, args.percent,
                 args.group_col, args.top_k, args.threshold,
                 check_ids=not args.no_check_ids,
                 min_count=args.min_count, bench_path=args.bench,
                 budget=args.budget, pack_budget=args.pack_budget,
                 ngram=args.ngram, max_hot=args.max_hot,
                 index_path=args.index)
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"op={args.op} rows={n} output={args.output}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
