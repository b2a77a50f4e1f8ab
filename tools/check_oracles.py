"""Driver-equivalent correctness check: run every queries() entry on Spark at
sf0.01, run the matching oracle_sql() in DuckDB with the same views, and
compare row count + sorted-by-name columns + order-insensitive values.

``--json PATH`` additionally writes a CORRECTNESS-shaped snapshot with ONE
row per queries() entry ({rows_match, schema_match, hash_match, spark_rows,
oracle_rows, err}) — the gate emits the artifact itself, so a driver
snapshot can never silently omit queries (round-3 VERDICT #2: the r3
snapshot missed 2 of 52 green queries). Each row also carries ``t_spark``,
the query's Spark seconds (collect included; null on a Spark error): the
per-query leaf timings at the gate's local[8].

Usage: python tools/check_oracles.py [--sf /root/testdata/sf0.01]
                                     [--only name] [--json CORRECTNESS.json]
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "␀"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--json", default=None, metavar="PATH",
                    help="write a CORRECTNESS-shaped per-query snapshot "
                         "covering EVERY queries() entry")
    args = ap.parse_args()

    if args.json and args.only:
        # the snapshot's contract is FULL coverage (one row per queries()
        # entry — the round-3 omission this flag exists to prevent); a
        # partial snapshot in the same shape would silently recreate it
        raise SystemExit("--json requires a full run; drop --only "
                         "(a partial CORRECTNESS-shaped file would "
                         "silently under-report coverage)")

    import duckdb

    import __spark_entry__ as entry
    from engine.spark.job import build_session

    spark = build_session("local[8]", app="oracle-check",
                          shuffle_partitions=16)

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{args.sf}/{t}.parquet')")

    qs = entry.queries()
    # scale-aware extraction oracles: the driver contract pins sf0.01, but
    # any tag with committed expected_*.parquet can be cross-checked (the
    # data-pipeline oracles are scale-free SQL either way)
    exp_dir = REPO / "data" / "synth" / Path(args.sf).name
    if (exp_dir / "expected_turns.parquet").exists():
        from engine.oracle_sql import build_oracles
        oracles = build_oracles(str(exp_dir))
    else:
        oracles = entry.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    fails = []
    snapshot: dict = {}
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        rec = {"rows_match": None, "schema_match": None, "hash_match": None,
               "spark_rows": None, "oracle_rows": None, "err": None,
               "t_spark": None}
        snapshot[name] = rec
        t0 = time.monotonic()
        try:
            sdf = fn(spark, args.sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"{name:28s} SPARK-ERROR {exc}")
            fails.append(name)
            rec["err"] = f"spark: {str(exc)[:200]}"
            continue
        t_spark = time.monotonic() - t0
        rec.update(spark_rows=len(srows), t_spark=round(t_spark, 2))
        if name not in oracles:
            print(f"{name:28s} rows-only   n={len(srows):6d}   ({t_spark:.1f}s)")
            rec["err"] = "no_oracle"
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = rel.columns
            orows = rel.fetchall()
        except Exception as exc:
            print(f"{name:28s} ORACLE-ERROR {str(exc)[:140]}")
            fails.append(name)
            rec["err"] = f"oracle: {str(exc)[:200]}"
            continue
        ok_cols = sorted(scols) == sorted(ocols)
        s_norm, o_norm = normalize(srows, scols), normalize(orows, ocols)
        ok_rows = len(srows) == len(orows)
        ok_vals = s_norm == o_norm
        rec.update(rows_match=ok_rows, schema_match=ok_cols,
                   hash_match=ok_vals, oracle_rows=len(orows))
        status = "OK" if (ok_cols and ok_rows and ok_vals) else "MISMATCH"
        print(f"{name:28s} {status:9s} n={len(srows):6d} vs {len(orows):6d} "
              f"cols={'=' if ok_cols else '≠'} vals={'=' if ok_vals else '≠'} "
              f"({t_spark:.1f}s)")
        if status != "OK":
            fails.append(name)
            if not ok_cols:
                print(f"   spark cols: {sorted(scols)}")
                print(f"   duck  cols: {sorted(ocols)}")
            if not ok_vals:
                sset, oset = set(s_norm), set(o_norm)
                for d in list(sset - oset)[:3]:
                    print(f"   spark-only: {d}")
                for d in list(oset - sset)[:3]:
                    print(f"   duck-only : {d}")
    print(f"\n{len(qs) - len(fails)}/{len(qs)} queries OK")
    if args.json:
        Path(args.json).write_text(json.dumps(snapshot, indent=2) + "\n")
        print(f"wrote {args.json} ({len(snapshot)} queries)")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
