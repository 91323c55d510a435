#!/usr/bin/env python
"""Diff two bench vectors: did the plans get slower, or did the host?

A raw per-entry wall ratio cannot answer that: five runs of identical
code once spanned 272.6-475.2 s of total wall. This tool diffs two
BENCH_TIMES-shaped JSON vectors:

- when both carry ``env.cpu_s_per_entry`` (each entry's process-tree
  CPU, scaled by the host's steal share), the headline is the MEDIAN
  per-entry CPU ratio over every common entry, with the largest movers
  listed;
- otherwise (an older vector) entries whose window saw steal in EITHER
  run (``env.steal_frac_per_entry``) are set apart and the headline is
  the median wall ratio of the clean entries (a uniform shift =
  environment; isolated outliers = plan changes worth reading);
- entries present in only one vector (additions/removals) are listed,
  so wall-total deltas decompose into carried-entry drift + new work;
- a warning leads when the vectors' session class-data sharing states
  (``env.cds``) differ: an archive-less or archive-building session
  loads classes more slowly, and that is a cache state, not a code
  change.

Usage:
    python scripts/bench_diff.py OLD.json NEW.json [--top N]
    python scripts/bench_diff.py 'git:HEAD~5:BENCH_TIMES.json' BENCH_TIMES.json
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def _load(spec: str) -> dict:
    if spec.startswith("git:"):
        _, rev, path = spec.split(":", 2)
        return json.loads(
            subprocess.check_output(["git", "show", f"{rev}:{path}"])
        )
    with open(spec) as fh:
        return json.load(fh)


def _jit(o_jit: dict, n_jit: dict, k: str) -> str:
    if k not in o_jit and k not in n_jit:
        return ""
    return f"  jit {o_jit.get(k, '?')} → {n_jit.get(k, '?')} ms"


def _outliers(
    ratios: dict, old: dict, new: dict, top: int, what: str,
    o_jit: dict | None = None, n_jit: dict | None = None,
) -> None:
    o_jit, n_jit = o_jit or {}, n_jit or {}
    out = sorted(ratios.items(), key=lambda kv: kv[1], reverse=True)
    grown = [(k, r) for k, r in out if r > 1.0]
    improved = [(k, r) for k, r in out if r < 1.0]
    for title, rows in (
        (f"\nslowest-growing {what} (top {top}):", grown[:top]),
        (f"fastest-improving {what} (top {top}):", improved[::-1][:top]),
    ):
        print(title)
        for k, r in rows:
            print(f"  {r:6.2f}x  {old[k]:7.2f}s → {new[k]:7.2f}s  {k}{_jit(o_jit, n_jit, k)}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--top", type=int, default=10, help="outliers to list")
    args = ap.parse_args(argv)

    old, new = _load(args.old), _load(args.new)
    oq, nq = old["queries"], new["queries"]
    o_env, n_env = old.get("env", {}), new.get("env", {})

    o_cds, n_cds = o_env.get("cds", "not recorded"), n_env.get("cds", "not recorded")
    if o_cds != n_cds:
        print(
            f"WARNING: class-data sharing differs (old {o_cds}, new {n_cds}); "
            f"class loading moved with the cache state, not the code"
        )
    common = sorted(set(oq) & set(nq))
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))
    for label, vec, q, env in (("old", old, oq, o_env), ("new", new, nq, n_env)):
        print(
            f"{label}: sf={vec.get('sf')} wall={vec.get('value')}s "
            f"steal={env.get('steal_frac')} ({len(q)} entries)"
        )

    o_cpu, n_cpu = o_env.get("cpu_s_per_entry"), n_env.get("cpu_s_per_entry")
    if o_cpu and n_cpu:
        # a tree process that exits outside the tree mid-entry takes its
        # earlier CPU with it, so a reading can be zero or negative
        ratios = {
            k: n_cpu[k] / o_cpu[k]
            for k in common
            if o_cpu.get(k, 0) > 0 and n_cpu.get(k, 0) > 0
        }
        print(
            f"common {len(common)} | CPU ratios {len(ratios)} | "
            f"added {len(added)} | removed {len(removed)}"
        )
        if ratios:
            print(
                f"\nHEADLINE median per-entry CPU ratio: "
                f"{statistics.median(ratios.values()):.3f} "
                f"(steal-scaled process-tree CPU, every common entry)"
            )
            _outliers(
                ratios, o_cpu, n_cpu, args.top, "entries by CPU",
                o_env.get("jit_ms_per_entry"), n_env.get("jit_ms_per_entry"),
            )
    else:
        o_pol = set(o_env.get("steal_frac_per_entry", {}))
        n_pol = set(n_env.get("steal_frac_per_entry", {}))
        clean = [k for k in common if k not in o_pol and k not in n_pol]
        polluted = [k for k in common if k in o_pol or k in n_pol]
        ratios = {k: nq[k] / oq[k] for k in clean if oq[k] > 0}
        print(
            f"common {len(common)} | clean-in-both {len(clean)} | "
            f"steal-polluted {len(polluted)} (excluded from the headline) | "
            f"added {len(added)} | removed {len(removed)}"
        )
        if ratios:
            med = statistics.median(ratios.values())
            print(
                f"\nHEADLINE median clean-entry ratio: {med:.3f} "
                f"(uniform shift ⇒ environment; read outliers below for plans)"
            )
            common_old = sum(oq[k] for k in common)
            common_new = sum(nq[k] for k in common)
            new_work = sum(nq[k] for k in added)
            print(
                f"carried-entry wall {common_old:.1f}s → {common_new:.1f}s "
                f"({common_new / common_old:.2f}x); new entries add "
                f"{new_work:.1f}s"
            )
            # a 0.000-wall entry (3-decimal rounding) has no ratio —
            # surface it rather than dropping it from every list
            for k in clean:
                if oq[k] == 0:
                    print(f"  (no ratio) {oq[k]:.3f}s → {nq[k]:.3f}s  {k}")
            _outliers(ratios, oq, nq, args.top, "clean entries")
        if polluted:
            print(
                "\nsteal-polluted (ratios are environment, listed for "
                "completeness):"
            )
            ranked = sorted(
                polluted,
                key=lambda k: -(nq[k] / oq[k]) if oq[k] > 0 else float("-inf"),
            )
            for k in ranked[: args.top]:
                r = f"{nq[k] / oq[k]:6.2f}x" if oq[k] > 0 else "  (n/a)"
                print(f"  {r}  {oq[k]:7.2f}s → {nq[k]:7.2f}s  {k}")
    if added:
        print(f"\nadded: {', '.join(added)}")
    if removed:
        print(f"removed: {', '.join(removed)}")
    return 0


if __name__ == "__main__":
    try:
        raise SystemExit(main())
    except BrokenPipeError:  # `| head` is a normal way to read this
        raise SystemExit(0)
