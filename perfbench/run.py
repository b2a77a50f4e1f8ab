"""Seeded closed-loop benchmark of the transcript-extraction engine.

    python3 perfbench/run.py --workload extract_mixed --seed 1 \\
        --seconds 8 --trace 0

Run from the root of a checkout. Workloads, metric names, units and bounds
are declared in ``BENCHMARK.json``; ``perfbench/README.md`` says what each
metric measures and which end-to-end metric each per-layer metric should
move. ``--trace 0`` measures the end-to-end metrics with tracing off;
``--trace 1`` is a separate run that reports every per-layer metric and
writes its spans to ``.perfbench_work/traces/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it gives host facts, set-up times and the workload-level
numbers.
"""

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

#: Spark cores: local[CORES], one driver process as the only client
CORES = 4


def declared() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def main(argv=None) -> int:
    spec = declared()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "engine" / "spark" / "pipeline.py").is_file():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2

    from perfbench import harness
    from perfbench.workloads import WORKLOADS, Run

    work = harness.WORK / f"run-{os.getpid()}"
    harness.prepare_environment(work)
    run = Run(args.workload, args.seed, args.seconds, CORES,
              harness.Tracer(False, f"{args.workload}-{args.seed}-"
                                    f"{os.getpid()}"), work)
    try:
        t0 = time.perf_counter()
        workload = WORKLOADS[args.workload](run)
        input_s = time.perf_counter() - t0
        metrics = (traced if args.trace else untraced)(run, workload)
    finally:
        run.close_session()
        harness.clean(work)
    if args.trace:
        run.tracer.write(harness.WORK / "traces" / f"{run.tracer.run_id}.json")
    else:
        try:
            harness.WORK.rmdir()  # leave no trace of an untraced run
        except OSError:
            pass

    units = {m["name"]: m["unit"] for m in
             spec["per_layer" if args.trace else "end_to_end"]}
    unknown = set(metrics) - set(units)
    missing = set(units) - set(metrics)
    if unknown or (missing and not run.failed):
        raise SystemExit(f"undeclared metrics {sorted(unknown)}, "
                         f"missing metrics {sorted(missing)}")
    summary = {k: {"value": v, "unit": u} for k, (v, u) in run.summary.items()}
    summary["ops_failed_ratio"] = {"value": run.failed / max(1, run.attempted),
                                   "unit": "ratio"}
    summary["input_s"] = {"value": input_s, "unit": "s"}
    print(json.dumps({"host": run.facts, "workload": args.workload,
                      "seed": args.seed, "setups_s": run.setups,
                      "summary": summary}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        # a metric is missing only when the operations it needs failed
        "metrics": {name: {"value": metrics.get(name, 0), "unit": unit}
                    for name, unit in units.items()}}))
    return 0


def untraced(run, workload) -> dict:
    rates = workload.measure(run)
    run.close_session()
    metrics = {"setup_s": run.setups[0]}
    run.summary["peak_rss_mb"] = (run.peak_rss_mb, "MB")
    if rates is not None:
        metrics["cpu_ms_per_turn"] = rates["cpu_ms_per_turn"]
        run.summary["turns_per_s"] = (rates["turns_per_s"], "1/s")
    return metrics


def traced(run, workload) -> dict:
    """The same session and operations with spans and Spark counters on,
    then the layer probes in that session.
    ``trace.cpu_ms_per_turn`` above the untraced ``cpu_ms_per_turn`` of the
    same workload and seed is the tracing overhead."""
    from perfbench import harness
    run.tracer.enabled = True
    with run.tracer.span(run.workload, "bench"):
        rates = workload.measure(run)
        if rates is not None:
            run.layers.update({f"trace.{k}": v for k, v in rates.items()})
            run.layers.update(harness.counter_metrics(run.totals, run.cores))
            workload.probes(run)
    run.close_session()
    for layer, s in run.tracer.self_seconds().items():
        run.layers[f"trace.self_s.{layer}"] = s
    return run.layers


if __name__ == "__main__":
    sys.exit(main())
