#!/usr/bin/env python
"""Headline benchmark: runs every registry entry once at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each entry is built and executed to completion (``count()``) exactly
once, after a warm-up of the session's one-time costs; nothing is
retried. ``queries`` holds those single-shot walls and ``value`` is the
wall of the whole timed loop. ``BENCH_TIMES.json`` records the same
walls plus, per entry, the process-tree CPU (this process, the JVM and
its Python workers) scaled by the share of busy host time the
hypervisor stole meanwhile (``env.cpu_s_per_entry``). That figure
spreads far less between runs on a shared host than wall does, so it is
the number to compare across runs (``scripts/bench_diff.py``). Entries whose
window saw more than 0.5% steal are listed in
``env.steal_frac_per_entry``. ``env.jit_ms_per_entry`` holds the
milliseconds the JVM's JIT compilers spent during each entry: an entry
that is first to exercise a code path pays for compiling it, so a CPU
move with a JIT move beside it is warm-up moving between entries, not
the entry itself getting slower or faster. ``env.cds`` records the
session's class-data sharing decision (``use``, ``build`` or
``off: <reason>``): a building or archive-less session loads classes
more slowly, so compare vectors with the same state.
"""

from __future__ import annotations

import json
import os
import sys
import time

from perfbench.procstat import host_steal_busy, steal_share, tree_cpu_s

METRIC = "query_inventory_wall_sec"
# an entry whose window saw more steal than this is named in the record
STEAL_NOTE = 0.005


def jit_compile_ms(spark) -> int:
    """Total milliseconds the driver JVM's JIT compilers have spent so far."""
    mx = spark._jvm.java.lang.management.ManagementFactory
    return int(mx.getCompilationMXBean().getTotalCompilationTime())


def time_entry(run, jit_ms=None) -> dict:
    """Call ``run()`` once. Returns its result as ``rows`` with the wall,
    the process-tree CPU scaled down by the host's steal share (as
    ``perfbench/run.py`` scales it) and that share. Given ``jit_ms``, a
    zero-argument reading of total JIT compile milliseconds, the record
    also carries its change across the call as ``jit_ms``."""
    jit0 = jit_ms() if jit_ms else 0
    cpu0, stolen0, t0 = tree_cpu_s(), host_steal_busy(), time.perf_counter()
    rows = run()
    wall = time.perf_counter() - t0
    steal = steal_share(stolen0)
    cpu = (tree_cpu_s() - cpu0) * (1 - steal)
    rec = {
        "wall": round(wall, 3),
        "cpu_s": round(cpu, 3),
        "steal": round(steal, 3),
        "rows": rows,
    }
    if jit_ms:
        rec["jit_ms"] = jit_ms() - jit0
    return rec


def run_entries(entries: dict, timer, reset) -> tuple[dict, dict]:
    """Time each of ``entries`` (name → zero-argument callable) once with
    ``timer`` and call ``reset()`` after each. One broken entry must not
    cost the run its other numbers: its error is recorded and the loop
    goes on. Returns (records, errors)."""
    records: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name, run in entries.items():
        try:
            rec = records[name] = timer(run)
            jit = f" jit={rec['jit_ms']}ms" if "jit_ms" in rec else ""
            print(
                f"# {name}: {rec['wall']:.3f}s cpu={rec['cpu_s']:.3f}s "
                f"steal={rec['steal']:.3f}{jit} rows={rec['rows']}",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: ERROR {type(exc).__name__}", file=sys.stderr)
        reset()
    return records, errors


def vectors(
    total: float,
    sf,
    records: dict,
    errors: dict,
    steal_sec: float,
    steal_frac: float,
    cds: str | None,
) -> tuple[dict, dict]:
    """The ``BENCH_TIMES.json`` document and the stdout line of one run.
    ``cds`` is the session's class-data sharing decision
    (``session.cds_decision()``)."""
    queries = {k: r["wall"] for k, r in records.items()}
    stolen = {k: r["steal"] for k, r in records.items() if r["steal"] > STEAL_NOTE}
    env = {
        "steal_sec": steal_sec,
        "steal_frac": steal_frac,
        "cds": cds,
        "cpu_s_per_entry": {k: r["cpu_s"] for k, r in records.items()},
    }
    if stolen:
        env["steal_frac_per_entry"] = stolen
    jit = {k: r["jit_ms"] for k, r in records.items() if "jit_ms" in r}
    if jit:
        env["jit_ms_per_entry"] = jit
    times = {
        "metric": METRIC,
        "value": total,
        "unit": "sec",
        "sf": sf,
        "queries": queries,
        "errors": errors,
        "env": env,
    }
    # the stdout line stays short enough for a tail capture: walls only,
    # with per-entry CPU, steal and error texts left to BENCH_TIMES.json
    line = {
        "metric": METRIC,
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "n_queries": len(queries),
        "n_errors": len(errors),
        "error_entries": sorted(errors),
        "steal_sec": steal_sec,
        "steal_frac": steal_frac,
        "n_entries_steal_polluted": len(stolen),
    }
    return times, line


def _warm_datasource_and_streaming(spark) -> None:
    """Run each Python DataSource and streaming seam once on synthetic rows."""
    # Python-seam + streaming machinery warm: the FIRST use of each
    # Python execution seam in a JVM pays one-time infrastructure —
    # spawning/importing the DataSource plan+read worker processes
    # (~4.6s measured clean at 32 cpus), the DataSource write worker
    # (~3.1s more), and the streaming engine's microbatch thread +
    # state store + applyInPandasWithState worker (~2s). Those costs
    # land on whichever entry runs each seam first (t105/t113/t114/t143),
    # mismeasuring those operators by 2-5s each. Warm each seam once with a tiny synthetic op so every
    # timed entry measures steady-state operator cost — on any
    # long-lived cluster these one-time costs amortize to zero.
    import shutil
    import tempfile

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from datasheet_etl_spark.sources.pyds import (
        register_jsonl_manifest,
        register_synth_events,
        register_synth_feed,
    )

    register_synth_events(spark)
    register_synth_feed(spark)
    register_jsonl_manifest(spark)
    (
        spark.read.format("synth_events")
        .option("numRows", "64")
        .option("numPartitions", "2")
        .load()
        .count()
    )
    _warm_dir = tempfile.mkdtemp(prefix="bench_warm_")
    try:
        (
            spark.range(0, 64, 1, 2)
            .selectExpr("id", "cast(id as string) s")
            .write.format("jsonl_manifest")
            .mode("overwrite")
            .save(f"{_warm_dir}/out")
        )

        def _warm_state_fn(key, pdfs, state):
            yield pd.DataFrame(
                {"bucket": [key[0]], "n": [sum(len(p) for p in pdfs)]}
            )

        _warm_q = (
            spark.readStream.format("synth_feed")
            .option("numRows", "20")
            .option("batchSize", "20")
            .load()
            .groupBy("bucket")
            .applyInPandasWithState(
                _warm_state_fn,
                "bucket int, n long",
                "n long",
                "update",
                GroupStateTimeout.NoTimeout,
            )
            .writeStream.format("memory")
            .queryName("_bench_warm_state")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _warm_q.awaitTermination()
        spark.catalog.dropTempView("_bench_warm_state")
    finally:
        shutil.rmtree(_warm_dir, ignore_errors=True)


def warm_up(spark, sf_dir: str) -> None:
    """Pay the session's one-time costs before the timed loop."""
    from datasheet_etl_spark.io import load_table

    # session/JIT/page-cache warmup so the first timed queries measure
    # steady-state query speed, not JVM startup + cold parquet footers
    for warm in ("region", "lineitem", "orders", "documents", "embeddings", "events"):
        load_table(spark, sf_dir, warm).count()
    # A failed warm costs one noisy first entry per seam, not the whole run.
    try:
        _warm_datasource_and_streaming(spark)
    except Exception as exc:  # noqa: BLE001
        print(
            f"# DataSource/streaming seam warm failed ({type(exc).__name__}: {exc}),"
            " continuing",
            file=sys.stderr,
        )
    # Python UDTF seam warm: the FIRST UDTF execution in a JVM pays
    # one-time infrastructure — the analyze-time Python runner (polymorphic
    # UDTFs resolve their schema in a separate Python process at plan
    # time) plus the SQL_TABLE_UDF eval worker spawn. Measured clean
    # (profile_entry, 4 reps): t147 rep1 8.6 s vs steady 0.84-1.03 s —
    # ~7.7 s of one-time cost that landed on whichever UDTF entry ran
    # first (t147, which sorts before t76). Same discipline as the
    # DataSource/streaming seam warms above: warm once on synthetic rows
    # so both UDTF entries measure steady-state operator cost.
    from pyspark.sql.functions import udtf as _udtf

    class _WarmPoly:
        @staticmethod
        def analyze(*args):
            from pyspark.sql.types import LongType, StructType
            from pyspark.sql.udtf import AnalyzeResult

            return AnalyzeResult(StructType().add("v", LongType()))

        def eval(self, x, k):
            yield (x,)

    # warm BOTH row codecs: the graded entries run the Arrow eval type
    # (SQL_ARROW_TABLE_UDF, its own worker path) while analyze() itself
    # always runs the plain Python runner
    # A failed warm costs one noisy first UDTF entry, not the whole run.
    try:
        spark.udtf.register("_bench_warm_udtf", _udtf(_WarmPoly))
        spark.udtf.register("_bench_warm_udtf_arrow", _udtf(_WarmPoly, useArrow=True))
        spark.range(0, 64, 1, 2).createOrReplaceTempView("_bench_warm_rows")
        for _fn in ("_bench_warm_udtf", "_bench_warm_udtf_arrow"):
            spark.sql(
                f"SELECT s.v FROM _bench_warm_rows r, LATERAL {_fn}(r.id, 1) s"
            ).count()
    except Exception as exc:  # noqa: BLE001
        print(
            f"# UDTF seam warm failed ({type(exc).__name__}: {exc}), continuing",
            file=sys.stderr,
        )
    finally:
        spark.catalog.dropTempView("_bench_warm_rows")


def main() -> int:
    from datasheet_etl_spark.session import _env_int, cds_decision, get_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = _env_int("SPARK_GRAFT_CPUS", 32)
    # 16g is ample for sf0.1 and measurably faster than a huge heap:
    # with 48g, G1 ergonomics tax every short task (~2-3x on sub-second
    # stages, measured on the minhash pipeline)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")

    from datasheet_etl_spark.caching import reset_session
    from datasheet_etl_spark.plans import registry

    spark = get_session(app_name="datasheet_etl_spark_bench", shuffle_partitions=cpus)
    reg = registry()
    warm_up(spark, sf_dir)

    entries = {
        name: (lambda fn=reg[name]: fn(spark, sf_dir).count()) for name in sorted(reg)
    }
    stolen0 = host_steal_busy()
    t_all = time.perf_counter()
    records, errors = run_entries(
        entries,
        lambda run: time_entry(run, jit_ms=lambda: jit_compile_ms(spark)),
        lambda: reset_session(spark),
    )
    total = round(time.perf_counter() - t_all, 3)
    steal_sec = round((host_steal_busy()[0] - stolen0[0]) / os.sysconf("SC_CLK_TCK"), 1)
    steal_frac = round(steal_share(stolen0), 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    times, line = vectors(
        total, sf_val, records, errors, steal_sec, steal_frac, cds_decision()
    )
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_TIMES.json"),
            "w",
        ) as fh:
            json.dump(times, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:  # read-only checkout must not kill the run
        print(f"# BENCH_TIMES.json not written: {exc}", file=sys.stderr)
    print(json.dumps(line, separators=(",", ":")))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
