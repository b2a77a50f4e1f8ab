"""The workloads and the layer probes of traced runs.

Each workload is a closed loop with one client (this driver process): the
next operation starts when the previous one has returned. An operation is
one timed action, pipeline run or query. It fails when it raises or when its
correctness check fails; checks run outside the timed region.

A workload's ``measure`` runs its timed operations and returns the run's
throughput numbers; ``probes`` (traced runs only) then measures every layer
on its own, so each traced run reports every per-layer metric.
"""

from __future__ import annotations

import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import harness, inputs

#: transcript turns per input; fixed, so every seed does the same work
TURNS = 2000
#: well under the 1024 buckets / 4 waves default: each bucket dir and wave
#: adds Spark jobs and small files, and at 64 / 4 three full runs and a
#: resume took 80-100 s of a run on a 4-core host
PIPELINE_BUCKETS, PIPELINE_WAVES = 16, 2
#: timed units per run, at least (more fill the run's seconds). The first
#: unit of a fresh JVM runs slower and costs more CPU (JIT compilation), so
#: the median of three extractions is a warm one; two pipeline runs already
#: fill a run's time budget
EXTRACT_MIN_UNITS, PIPELINE_MIN_UNITS = 3, 2
#: kernel sample for the in-process core/udfs probes (a seeded share of a
#: mixed input)
KERNEL_SAMPLE_TURNS = 400
KERNEL_KINDS = {"chat.plain": "plain", "ocr.grounded": "grounded",
                "web.html": "html", "ocr.markdown": "markdown"}
#: declared queries of the datawork probe → the layer each one exercises
DATAWORK_QUERIES = {"dedup_incremental": "datawork",
                    "events_stream_sessionize": "streaming"}
#: rows every session runs through the kernel before it counts as set up:
#: four per core, of every payload kind, the same in every run
WARM_SEED, WARM_TURNS = 0, 16


@dataclass
class Run:
    """State of one workload run: its session, counts and metrics."""
    workload: str
    seed: int
    seconds: float
    cores: int
    tracer: harness.Tracer
    work: Path
    attempted: int = 0
    failed: int = 0
    setups: list = field(default_factory=list)
    peak_rss_mb: float = 0.0
    facts: dict = field(default_factory=dict)
    #: workload-level numbers for the summary line: name → (value, unit)
    summary: dict = field(default_factory=dict)
    #: per-layer metrics (traced runs)
    layers: dict = field(default_factory=dict)
    #: Spark counters of the timed operations
    totals: dict = field(default_factory=dict)
    session: harness.Session | None = None
    counters: harness.SparkCounters | None = None
    #: CPU seconds of this process, the JVM and its Python workers during
    #: the latest operation
    cpu_s: float = 0.0
    #: ``cpu_s`` of each timed unit
    unit_cpu_s: list = field(default_factory=list)

    @property
    def spark(self):
        return self.session.spark

    def open_session(self) -> None:
        """Start a fresh session (new JVM); record its set-up time. Traced
        runs count the Spark work of its timed operations."""
        warm = inputs.transcript_rows(WARM_SEED, TURNS, "mixed")[:WARM_TURNS]
        self.session = harness.Session(self.cores, warm)
        self.setups.append(self.session.setup_s)
        if not self.facts:
            self.facts = harness.host_facts(self.session)
        if self.tracer.enabled:
            self.counters = harness.SparkCounters(self.session, self.totals)

    def stop_counters(self) -> None:
        if self.counters is not None:
            self.counters.stop()
            self.counters = None

    def close_session(self) -> None:
        if self.session is None:
            return
        self.stop_counters()
        self.session.close()
        self.peak_rss_mb = max(self.peak_rss_mb, self.session.rss.peak_mb)
        self.session = None

    def op(self, name: str, layer: str, fn, check=None):
        """Run one operation in a span of ``layer``, time it and check it.
        Returns (result, wall seconds), or (None, None) when it failed."""
        self.attempted += 1
        cpu0 = (harness.tree_cpu_s(self.session.jvm_proc.pid)
                + time.process_time())
        try:
            with self.tracer.span(name, layer):
                t0 = time.perf_counter()
                if self.counters is not None:
                    with self.counters.observe(name):
                        result = fn()
                else:
                    result = fn()
                wall = time.perf_counter() - t0
                self.cpu_s = (harness.tree_cpu_s(self.session.jvm_proc.pid)
                              + time.process_time() - cpu0)
            problem = check(result) if check else None
        except Exception:
            problem = traceback.format_exc()
        if problem:
            self.failed += 1
            print(f"[perfbench] {name} failed: {problem}", file=sys.stderr)
            return None, None
        return result, wall


def rates(run: Run, walls: list[float]) -> dict | None:
    """``turns_per_s`` (wall clock) and ``cpu_ms_per_turn`` (CPU of this
    process, the JVM and its Python workers) of the median unit."""
    if not walls:
        return None
    return {"turns_per_s": TURNS / statistics.median(walls),
            "cpu_ms_per_turn": 1e3 * statistics.median(run.unit_cpu_s) / TURNS}


def loop(run: Run, unit, seconds: float, min_units: int) -> list[float]:
    """Closed loop over ``unit`` until ``seconds`` are up (at least
    ``min_units``, and no more once one fails). Returns the unit walls."""
    deadline = time.perf_counter() + seconds
    walls: list[float] = []
    while len(walls) < min_units or time.perf_counter() < deadline:
        wall = unit(run)
        if wall is None:
            break
        walls.append(wall)
        run.unit_cpu_s.append(run.cpu_s)
    return walls


# -------------------------------------------------------- extract_mixed

def _plain(v):
    """Spark and kernel values in one comparable form: structs and dicts as
    dicts without null fields, sequences as lists."""
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items() if x is not None}
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    return v


class ExtractMixed:
    """``extract_df(src, salt_partitions=4 × cores).count()`` over seeded
    transcripts of all four payload kinds."""

    def __init__(self, run: Run):
        self.path = inputs.write_transcripts(
            run.work / "inputs" / "transcripts.parquet", run.seed,
            TURNS, "mixed")

    def _extracted(self, run: Run):
        from engine.spark.pipeline import extract_df
        src = run.spark.read.parquet(str(self.path))
        with run.tracer.span("pipeline.extract_df", "pipeline"):
            return extract_df(src, salt_partitions=4 * run.cores)

    def unit(self, run: Run) -> float | None:
        _, wall = run.op(
            "extract_count", "exec", lambda: self._extracted(run).count(),
            lambda n: None if n == TURNS else f"{n} rows")
        return wall

    def measure(self, run: Run) -> dict | None:
        """A fresh session looping for the run's seconds, then the parity
        check."""
        run.open_session()
        walls = loop(run, self.unit, run.seconds, EXTRACT_MIN_UNITS)
        run.stop_counters()
        run.summary["unit_walls_s"] = (walls, "s")
        run.summary["unit_cpu_s"] = (run.unit_cpu_s, "s")
        run.op("extract_parity", "bench", lambda: self._extracted(run),
               lambda ext: self._parity(run, ext))
        return rates(run, walls)

    def _parity(self, run: Run, ext) -> str | None:
        """Every (conv_id, turn_idx) exactly once, and a seeded ~1/64
        sample of rows equal to ``extract_turn`` run in this process."""
        from pyspark.sql import functions as F
        from engine.core.extract import extract_turn
        from engine.spark.pipeline import DEFAULT_BUCKETS
        from engine.spark.udfs import _EXTRACT_COLS, stable_bucket
        cols = list(_EXTRACT_COLS) + ["conv_bucket"]
        sampled = (F.abs(F.xxhash64("conv_id", "turn_idx", F.lit(run.seed)))
                   % 64) == 0
        rows = ext.select("conv_id", "turn_idx",
                          F.when(sampled, F.struct(*cols)).alias("full")
                          ).collect()
        want = {(r["conv_id"], r["turn_idx"]): (r["text"], r["tool"])
                for r in run.spark.read.parquet(str(self.path)).select(
                    "conv_id", "turn_idx", "text", "tool").collect()}
        keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
        if len(keys) != len(set(keys)) or set(keys) != set(want):
            return (f"{len(keys)} output rows, {len(set(keys))} distinct "
                    f"keys, {len(want)} input keys")
        checked = 0
        for r in rows:
            if r["full"] is None:
                continue
            text, tool = want[(r["conv_id"], r["turn_idx"])]
            exp = extract_turn(text, tool, f"{r['conv_id']}:{r['turn_idx']}")
            exp["conv_bucket"] = stable_bucket(r["conv_id"], DEFAULT_BUCKETS)
            got = r["full"].asDict(recursive=True)
            for col in cols:
                if _plain(got[col]) != _plain(exp[col]):
                    return f"{r['conv_id']}:{r['turn_idx']} differs in {col}"
            checked += 1
        return None if checked else "empty parity sample"

    def probes(self, run: Run) -> None:
        # the pipeline layer over this workload's input: one crash-resume
        # cycle in the open session
        pipeline = Pipeline(self.path)
        cycle = (pipeline.crash_resume(run)
                 if pipeline.full_run(run) is not None else None)
        layer_probes(run, self.path, cycle)


# ------------------------------------------------------- pipeline_resume

def _input_keys(path: Path) -> set:
    import pyarrow.parquet as pq
    src = pq.read_table(path, columns=["conv_id", "turn_idx"])
    return set(zip(src["conv_id"].to_pylist(), src["turn_idx"].to_pylist()))


def _pipeline_check(out: Path, want: set) -> str | None:
    """Output rows equal the input rows with no duplicates; lineage covers
    each committed bucket once and its turns_processed sum to the output
    row count."""
    import pyarrow.parquet as pq
    got = pq.read_table(out / "extracted_turns",
                        columns=["conv_id", "turn_idx", "conv_bucket"])
    keys = list(zip(got["conv_id"].to_pylist(), got["turn_idx"].to_pylist()))
    if len(keys) != len(set(keys)) or set(keys) != want:
        return (f"{len(keys)} output rows, {len(set(keys))} distinct, "
                f"{len(want)} input rows")
    lin = pq.read_table(out / "lineage",
                        columns=["conv_bucket", "turns_processed"])
    buckets = lin["conv_bucket"].to_pylist()
    if (len(buckets) != len(set(buckets))
            or set(buckets) != {int(b) for b in
                                got["conv_bucket"].to_pylist()}):
        return f"lineage has {len(buckets)} rows for {len(set(buckets))} buckets"
    total = sum(lin["turns_processed"].to_pylist())
    return None if total == len(keys) else f"lineage sums to {total}"


def _simulate_crash(out: Path, lost_wave: int, orphan_wave: int) -> int:
    """Remove ``lost_wave``'s committed bucket dirs and lineage rows, and
    only the lineage rows of ``orphan_wave`` (a crash between its output
    and lineage commits). Returns the number of turns removed."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    lost = 0
    for bucket in range(lost_wave, PIPELINE_BUCKETS, PIPELINE_WAVES):
        d = out / "extracted_turns" / f"conv_bucket={bucket}"
        if d.exists():
            lost += pq.read_table(d, columns=["turn_idx"]).num_rows
            harness.clean(d)
    lin = pq.read_table(out / "lineage")
    keep = lin.filter(pc.invert(pc.is_in(
        lin["wave"], value_set=pc.cast([lost_wave, orphan_wave],
                                       lin.schema.field("wave").type))))
    harness.clean(out / "lineage")
    (out / "lineage").mkdir()
    pq.write_table(keep, out / "lineage" / "part-00000.parquet",
                   coerce_timestamps="us", allow_truncated_timestamps=True)
    return lost


class Pipeline:
    """``run_pipeline`` over one input, each full run into a fresh output
    dir, and the crash-resume cycle on the latest one. Every run is
    checked."""

    def __init__(self, path: Path):
        self.path, self.want = path, _input_keys(path)
        self.runs = 0
        #: (RunStats, wall seconds, output dir) of the latest full run
        self.last = None

    def _run(self, run: Run, out: Path, name: str):
        from engine.spark.pipeline import run_pipeline

        def pipeline():
            return run_pipeline(run.spark, str(self.path), str(out),
                                f"perfbench-{run.seed}",
                                n_buckets=PIPELINE_BUCKETS,
                                waves=PIPELINE_WAVES)
        return run.op(name, "pipeline", pipeline,
                      lambda _stats: _pipeline_check(out, self.want))

    def full_run(self, run: Run) -> float | None:
        """``run_pipeline`` into an empty dir; its wall seconds."""
        if self.last is not None:
            harness.clean(self.last[2])
        self.runs += 1
        out = run.work / "pipeline" / f"run{self.runs}"
        stats, wall = self._run(run, out, "pipeline_run")
        self.last = (stats, wall, out) if stats is not None else None
        return wall

    def crash_resume(self, run: Run) -> dict | None:
        """A simulated crash of a seed-chosen wave of the latest full run,
        then the resumed ``run_pipeline``. Returns the cycle's stats, or
        None when the resume failed."""
        full, t_full, out = self.last
        lost_wave, orphan_wave = random.Random(f"crash:{run.seed}").sample(
            range(PIPELINE_WAVES), 2)
        with run.tracer.span("simulate_crash", "bench"):
            lost = _simulate_crash(out, lost_wave, orphan_wave)
        resumed, t_resume = self._run(run, out, "pipeline_resume")
        if resumed is None:
            return None
        return {"out": out, "full": full, "resumed": resumed, "lost": lost,
                "t_full": t_full, "t_resume": t_resume}


class PipelineResume:
    """``run_pipeline`` into an empty dir over plain-chat transcripts in a
    closed loop, then a simulated crash of the last run's output and the
    resumed ``run_pipeline``."""

    def __init__(self, run: Run):
        self.path = inputs.write_transcripts(
            run.work / "inputs" / "transcripts.parquet", run.seed,
            TURNS, "plain")
        self.pipeline = Pipeline(self.path)
        self.cycle = None

    def measure(self, run: Run) -> dict | None:
        run.open_session()
        walls = loop(run, self.pipeline.full_run, run.seconds,
                     PIPELINE_MIN_UNITS)
        if self.pipeline.last is not None:
            self.cycle = self.pipeline.crash_resume(run)
        run.stop_counters()
        if not walls or self.cycle is None:
            return None
        run.summary["run_walls_s"] = (walls, "s")
        run.summary["unit_cpu_s"] = (run.unit_cpu_s, "s")
        run.summary["pipeline_wall_s"] = (statistics.median(walls), "s")
        run.summary["resume_wall_s"] = (self.cycle["t_resume"], "s")
        return rates(run, walls)

    def probes(self, run: Run) -> None:
        layer_probes(run, self.path, self.cycle)


# ----------------------------------------------------------- layer probes

def layer_probes(run: Run, path: Path, cycle) -> None:
    """Every per-layer metric that the timed operations' Spark counters do
    not give, measured in the open session after them."""
    kernel_probes(run)
    identity_map_probe(run, path)
    scaling_probe(run, path)
    if cycle is not None:
        pipeline_layers(run, cycle, path)
    datawork_probe(run)


def kernel_probes(run: Run) -> None:
    """core.* and udfs.*: the extraction kernel single-threaded in this
    process on a seeded sample of every payload kind, then the Arrow UDF
    body on the same rows as one pandas batch."""
    import pandas as pd
    from engine.core.extract import extract_turn
    from engine.spark.udfs import extract_batches
    rows = inputs.transcript_rows(run.seed, TURNS,
                                  "mixed")[:KERNEL_SAMPLE_TURNS]
    per_kind: dict[str, list[float]] = {k: [] for k in KERNEL_KINDS.values()}
    errors = 0
    with run.tracer.span("core.extract_turn", "core"):
        for r in rows:
            t0 = time.perf_counter()
            rec = extract_turn(r["text"], r["tool"],
                               f"{r['conv_id']}:{r['turn_idx']}")
            per_kind[KERNEL_KINDS[r["tool"]]].append(time.perf_counter() - t0)
            errors += rec["error"] is not None
    core_total = sum(sum(v) for v in per_kind.values())
    with run.tracer.span("udfs.extract_batches", "udfs"):
        t0 = time.perf_counter()
        n_out = sum(len(o) for o in extract_batches(
            iter([pd.DataFrame(rows)]), PIPELINE_BUCKETS))
        udf_total = time.perf_counter() - t0
    if n_out != len(rows):
        raise RuntimeError(f"extract_batches returned {n_out} of "
                           f"{len(rows)} rows")
    n = len(rows)
    run.layers.update({f"core.us_per_turn.{k}": 1e6 * statistics.fmean(v)
                       for k, v in per_kind.items()})
    run.layers.update({
        "core.error_turns": errors,
        "udfs.us_per_turn": 1e6 * udf_total / n,
        "udfs.overhead_us_per_turn": 1e6 * (udf_total - core_total) / n})


def identity_map_probe(run: Run, path: Path) -> None:
    """udfs.identity_map_s: the extraction map's scan, salted repartition
    and ``mapInPandas`` with an identity body (the Arrow boundary without
    the kernel)."""
    from pyspark.sql import functions as F
    src = run.spark.read.parquet(str(path)).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts")
    df = (src.repartition(4 * run.cores, F.xxhash64("conv_id", "turn_idx"))
          .mapInPandas(harness.identity_batches, schema=src.schema))
    with run.tracer.span("udfs.identity_map", "udfs"):
        t0 = time.perf_counter()
        df.count()
        run.layers["udfs.identity_map_s"] = time.perf_counter() - t0


def scaling_probe(run: Run, path: Path) -> None:
    """exec.scaling_efficiency: the extraction map over the workload's
    input in one task (one core busy) against 4 × cores tasks, both without
    counters in the same warm session: t_1 / (cores × t_N)."""
    from engine.spark.pipeline import extract_df
    src = run.spark.read.parquet(str(path))
    walls = {}
    for salt in (4 * run.cores, 1):
        with run.tracer.span(f"extract_count.salt{salt}", "exec"):
            t0 = time.perf_counter()
            extract_df(src, salt_partitions=salt).count()
            walls[salt] = time.perf_counter() - t0
    run.layers["exec.scaling_efficiency"] = (
        walls[1] / (run.cores * walls[4 * run.cores]))


def pipeline_layers(run: Run, cycle: dict, path: Path) -> None:
    """pipeline.* from the RunStats of the cycle's two runs, and sinks.*
    from its output and a timed ``completed_buckets`` call."""
    from engine.spark.pipeline import completed_buckets
    from engine.spark.sinks import TableSink
    full, resumed, out = cycle["full"], cycle["resumed"], cycle["out"]
    for tag, stats in (("run", full), ("resume", resumed)):
        for phase, s in stats.phases.items():
            run.layers[f"pipeline.{tag}.{phase}_s"] = s
    run.layers.update({
        "pipeline.run_wall_s": full.wall_s,
        "pipeline.resume_wall_s": resumed.wall_s,
        "pipeline.turns_processed": resumed.turns_processed,
        "pipeline.turns_skipped_resume": resumed.turns_skipped_resume,
        # turns the resume re-extracted per turn the crash lost
        "pipeline.resume_rework_ratio": (resumed.turns_processed
                                         / max(1, cycle["lost"])),
    })
    files = list(out.rglob("*.parquet"))
    data = sum(p.stat().st_size for p in files
               if "extracted_turns" in p.parts)
    run.layers["sinks.files_written"] = len(files)
    run.layers["sinks.bytes_per_input_byte"] = data / path.stat().st_size
    sink = TableSink(run.spark, str(out / "extracted_turns"),
                     partition_col="conv_bucket")
    with run.tracer.span("sinks.completed_buckets", "sinks"):
        t0 = time.perf_counter()
        completed_buckets(run.spark, sink).collect()
        run.layers["sinks.completed_buckets_s"] = time.perf_counter() - t0


def datawork_probe(run: Run) -> None:
    """datawork.* and streaming.*: DATAWORK_QUERIES over the fixed tables,
    each result compared (untimed) with its DuckDB oracle, normalised the
    way ``tools/check_oracles.py`` does."""
    import duckdb
    import __spark_entry__ as entry
    from tools.check_oracles import normalize
    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in ("documents", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{inputs.TABLES / t}.parquet')")

    def check(name, result):
        cols, rows = result
        rel = con.sql(oracles[name])
        if sorted(cols) != sorted(rel.columns):
            return f"columns {sorted(cols)} != {sorted(rel.columns)}"
        if normalize(rows, cols) != normalize(rel.fetchall(), rel.columns):
            return "rows differ from the DuckDB oracle"
        return None

    stream = harness.StreamTimings(run.session)
    try:
        for name, layer in DATAWORK_QUERIES.items():
            def query(name=name):
                df = queries[name](run.spark, str(inputs.TABLES))
                return df.columns, [tuple(r) for r in df.collect()]
            _, wall = run.op(f"datawork.{name}", layer, query,
                             lambda result, name=name: check(name, result))
            if wall is not None:
                run.layers[f"datawork.{name}_s"] = wall
    finally:
        con.close()
        batches = stream.stop()
    run.layers.update(batches)
    if "datawork.dedup_incremental_s" in run.layers:
        build = entry.q_dedup_incremental.last_build_s
        run.layers["datawork.incremental.build_s"] = build
        run.layers["datawork.incremental.probe_s"] = (
            run.layers["datawork.dedup_incremental_s"] - build)


WORKLOADS = {"extract_mixed": ExtractMixed,
             "pipeline_resume": PipelineResume}
