#!/usr/bin/env python
"""Isolate one or more registry entries for optimization work (guide §1).

Usage:
    python scripts/profile_entry.py ENTRY [ENTRY ...] \
        [--sf-dir DIR] [--reps N] [--action noop|count] [--explain OUT_DIR]

For each entry: runs it REPS times (fresh plan each time, the session
reset between reps like bench.py does), timing each rep with bench.py's
``time_entry`` (wall, steal-scaled process-tree CPU, steal share),
optionally through the noop sink (times computation of every column, not
the count-pruned tree), and optionally dumps .explain("formatted") to
OUT_DIR/<entry>.txt, built after rep0 so rep0 stays the entry's cold
first run.

Reps separate one-time cost (JIT/codegen/staging builds) from steady-state
cost: rep1 >> rep2 ≈ rep3 means fixed overhead, not data work.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys


def _key_value(text: str) -> tuple[str, str]:
    """argparse type for KEY=VALUE options."""
    key, sep, value = text.partition("=")
    if not sep or not key:
        raise argparse.ArgumentTypeError(f"expected KEY=VALUE, got {text!r}")
    return key, value


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("entries", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--action", choices=["noop", "count"], default="noop")
    ap.add_argument("--explain", default=None, help="directory for explain('formatted') dumps")
    ap.add_argument("--suffix", default="", help="filename suffix for explain dumps, e.g. _before")
    ap.add_argument(
        "--conf", action="append", default=[], type=_key_value, help="extra spark conf k=v"
    )
    ap.add_argument(
        "--ab-conf",
        action="append",
        default=[],
        type=_key_value,
        help="A/B mode: runtime spark conf k=v applied only in the B arm",
    )
    ap.add_argument(
        "--ab-env",
        action="append",
        default=[],
        type=_key_value,
        help="A/B mode: env var K=V applied only in the B arm",
    )
    return ap.parse_args(argv)


def run_reps(run, reps: int, explain=None) -> list:
    """``run(rep)`` for each rep. ``explain`` (which builds and plans the
    entry again) runs only after rep0's timed run, so rep0 is always the
    entry's first build and execution."""
    out = []
    for rep in range(reps):
        out.append(run(rep))
        if rep == 0 and explain is not None:
            explain()
    return out


def main() -> int:
    args = parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    from bench import time_entry
    from datasheet_etl_spark.caching import reset_session
    from datasheet_etl_spark.plans import registry
    from datasheet_etl_spark.session import _env_int, get_session

    cpus = _env_int("SPARK_GRAFT_CPUS", 32)
    extra = dict(args.conf)
    spark = get_session(app_name="profile_entry", shuffle_partitions=cpus, extra_conf=extra)
    reg = registry()

    ab_conf = dict(args.ab_conf)
    ab_env = dict(args.ab_env)
    ab_mode = bool(ab_conf or ab_env)

    def timed_run(name: str, label: str) -> dict:
        spark.sparkContext.setJobDescription(f"{name} {label}")

        def run() -> None:
            df = reg[name](spark, args.sf_dir)
            if args.action == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()

        rec = time_entry(run)
        reset_session(spark)
        return rec

    class _b_arm:
        """Apply the B-arm conf/env overrides for one run, restore after."""

        def __enter__(self):
            self.prev_conf = {}
            for k, v in ab_conf.items():
                try:
                    self.prev_conf[k] = spark.conf.get(k)
                except Exception:
                    self.prev_conf[k] = None
                spark.conf.set(k, v)
            self.prev_env = {k: os.environ.get(k) for k in ab_env}
            os.environ.update(ab_env)

        def __exit__(self, *exc):
            for k, v in self.prev_conf.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            for k, v in self.prev_env.items():
                if v is None:
                    os.environ.pop(k, None)
                else:
                    os.environ[k] = v

    for name in args.entries:
        if name not in reg:
            print(f"!! unknown entry {name}", file=sys.stderr)
            continue
        if ab_mode:
            # ABBA-paired A/B (OPTIMIZATION_r15 methodology note: plain
            # A-then-B pairs on this host carry 10-25% systematic drift
            # — a batch control entry 'improved' 0.75x under a knob that
            # cannot touch it). Alternating the order cancels first-mover
            # bias; the per-position medians expose any residual drift.
            arm_walls: dict[str, list[float]] = {"A": [], "B": []}
            pos_walls: dict[int, list[float]] = {0: [], 1: []}
            for pair in range(args.reps):
                order = ["A", "B"] if pair % 2 == 0 else ["B", "A"]
                for pos, arm in enumerate(order):
                    if arm == "B":
                        with _b_arm():
                            rec = timed_run(name, f"ab pair{pair} {arm}")
                    else:
                        rec = timed_run(name, f"ab pair{pair} {arm}")
                    arm_walls[arm].append(rec["wall"])
                    pos_walls[pos].append(rec["wall"])
                    print(
                        f"  {name} pair{pair} pos{pos} arm={arm}: {rec['wall']}s "
                        f"steal={rec['steal']} cpu_s={rec['cpu_s']}",
                        file=sys.stderr,
                    )
            ma, mb = statistics.median(arm_walls["A"]), statistics.median(arm_walls["B"])
            print(
                f"{name}: A={arm_walls['A']} B={arm_walls['B']} "
                f"medianA={ma} medianB={mb} B/A={mb / ma:.3f} "
                f"pos0_median={statistics.median(pos_walls[0])} "
                f"pos1_median={statistics.median(pos_walls[1])} ({args.action}, ABBA)"
            )
            continue

        def explain(name: str = name) -> None:
            os.makedirs(args.explain, exist_ok=True)
            out = os.path.join(args.explain, f"{name}{args.suffix}.txt")
            plan_df = reg[name](spark, args.sf_dir)
            with open(out, "w") as fh:
                fh.write(plan_df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                ))
            reset_session(spark)

        runs = run_reps(
            lambda rep, name=name: timed_run(name, f"rep{rep}"),
            args.reps,
            explain if args.explain else None,
        )
        walls = [r["wall"] for r in runs]
        steals = [r["steal"] for r in runs]
        cpus_s = [r["cpu_s"] for r in runs]
        print(f"{name}: {walls} steal={steals} cpu_s={cpus_s} ({args.action})")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
