#!/usr/bin/env python
"""Full-registry oracle sweep → a driver-readable artifact.

VERDICT r13 #6: the 50-slot driver window grades ~23% of the registry
per round; the other entries' grades lived only inside a 20-minute
pytest run. This script runs EVERY registry entry at the driver's
grading scale factor (sf0.01 by default) and writes
``ORACLE_SWEEP_r{N}.json`` at the repo root — per-entry pass/fail with
the same compare contract CORRECTNESS_r{N}.json records (row count +
sorted column names + order-insensitive values, floats rounded to 6;
``tests/oracle_harness.compare``), rows-only entries recorded as the
weaker executed-with-stable-schema check, exactly like the driver does
for entries without an oracle. The full-registry grade is therefore
machine-checkable beside CORRECTNESS_r{N}.json instead of buried in a
pytest log.

Usage:
    python scripts/oracle_sweep.py [--round N] [--sf-dir DIR] [--out PATH]

The artifact layout:
    {"sf": ..., "wall_sec": ..., "n_entries": ..., "n_oracled": ...,
     "n_pass": ..., "n_fail": ..., "n_rows_only": ...,
     "entries": {name: {"oracled": bool, "pass": bool, "rows": int,
                        "sec": float, "err": str|null}, ...}}
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> int:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, default=None, help="round number for the artifact name")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None, help="explicit output path (overrides --round)")
    args = ap.parse_args()

    out = args.out
    if out is None:
        tag = f"r{args.round:02d}" if args.round is not None else "latest"
        out = os.path.join(repo, f"ORACLE_SWEEP_{tag}.json")

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    from datasheet_etl_spark.plans import registry, oracles
    from datasheet_etl_spark.session import get_session
    from datasheet_etl_spark.caching import reset_session
    from tests.oracle_harness import compare_counted

    spark = get_session(app_name="oracle_sweep")
    reg, ora = registry(), oracles()

    entries: dict[str, dict] = {}
    t_all = time.perf_counter()
    for name in sorted(reg):
        t0 = time.perf_counter()
        rec: dict = {"oracled": name in ora, "pass": False, "rows": None, "err": None}
        try:
            df = reg[name](spark, args.sf_dir)
            if name in ora:
                # compare_counted returns the row count from the SAME
                # execution — a separate df.count() would re-run the
                # whole plan, side-effectful staging/drains included
                # (review-found r14: it doubled the sweep wall)
                ok, msg, n_rows = compare_counted(df, ora[name], args.sf_dir)
                rec["pass"] = bool(ok)
                if not ok:
                    rec["err"] = msg[:300]
                rec["rows"] = n_rows
            else:
                # rows-only contract: executes, stable schema, >= 0 rows
                rec["rows"] = df.count()
                rec["pass"] = bool(df.columns)
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
        rec["sec"] = round(time.perf_counter() - t0, 3)
        entries[name] = rec
        status = "ok" if rec["pass"] else "FAIL"
        print(f"# {name}: {status} ({rec['sec']}s)", file=sys.stderr)
        reset_session(spark)

    n_oracled = sum(1 for r in entries.values() if r["oracled"])
    n_pass = sum(1 for r in entries.values() if r["oracled"] and r["pass"])
    n_rows_only_ok = sum(1 for r in entries.values() if not r["oracled"] and r["pass"])
    summary = {
        "sf_dir": args.sf_dir,
        "wall_sec": round(time.perf_counter() - t_all, 1),
        "n_entries": len(entries),
        "n_oracled": n_oracled,
        "n_pass": n_pass,
        "n_fail": n_oracled - n_pass,
        "n_rows_only": len(entries) - n_oracled,
        "n_rows_only_ok": n_rows_only_ok,
        "entries": entries,
    }
    with open(out, "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({k: v for k, v in summary.items() if k != "entries"}))
    spark.stop()
    return 0 if n_pass == n_oracled and n_rows_only_ok == len(entries) - n_oracled else 1


if __name__ == "__main__":
    raise SystemExit(main())
