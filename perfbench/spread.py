"""Run the benchmark on several seeds and report each end-to-end metric's
median and quartile spread (IQR / median) next to its declared bound.

    python3 perfbench/spread.py --workloads extract_mixed,pipeline_resume \\
        --seeds 1-10 [--trace 0] [--out results.jsonl]

A spread under a third of the bound is steady. Each run's result line, with
its workload, seed, wall seconds and the summary line before it, is
appended to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for workload in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        walls = []
        for seed in seeds(args.seeds):
            t0 = time.monotonic()
            proc = subprocess.run(
                spec["command"] + ["--workload", workload, "--seed", str(seed),
                                   "--seconds", str(spec["run_seconds"]),
                                   "--trace", args.trace],
                cwd=ROOT, capture_output=True, text=True)
            walls.append(time.monotonic() - t0)
            lines = proc.stdout.strip().splitlines()
            try:
                result = json.loads(lines[-1])
                summary = json.loads(lines[-2]) if len(lines) > 1 else {}
            except (IndexError, json.JSONDecodeError):
                print(f"{workload} seed {seed}: exit {proc.returncode}, "
                      f"no result", file=sys.stderr)
                continue
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"workload": workload, "seed": seed,
                                         "wall_s": walls[-1], **result,
                                         "summary": summary}) + "\n")
            if not result["correct"]:
                print(f"{workload} seed {seed}: failed {result['failed']} of "
                      f"{result['attempted']}", file=sys.stderr)
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        print(f"{workload}: {len(walls)} runs, wall median "
              f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for name, vals in values.items():
            med = statistics.median(vals)
            q1, _, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                         else (med, med, med))
            spread = (q3 - q1) / med if med else float("nan")
            print(f"  {name:40s} median {med:12.4f}  spread {spread:6.3f}"
                  f"  bound {bounds.get(name)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
