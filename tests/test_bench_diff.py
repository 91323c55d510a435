"""``scripts/bench_diff.py`` on tiny synthetic vectors (no Spark needed):
CPU-carrying vectors get the per-entry CPU headline with JIT ms beside
the largest movers, older wall-only vectors keep the clean-entry wall
headline, and differing class-data sharing states are warned about."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "bench_diff.py")


@pytest.fixture(scope="module")
def bench_diff():
    spec = importlib.util.spec_from_file_location("bench_diff", _PATH)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _write(tmp_path, name, queries, env):
    path = tmp_path / name
    vector = {"sf": 0.1, "value": sum(queries.values()), "queries": queries, "env": env}
    path.write_text(json.dumps(vector))
    return str(path)


def test_cpu_vectors_headline_the_median_cpu_ratio(bench_diff, tmp_path, capsys):
    old = _write(
        tmp_path, "old.json", {"a": 1.0, "b": 1.0, "c": 1.0, "e": 1.0},
        {
            "cpu_s_per_entry": {"a": 2.0, "b": 4.0, "c": 1.0, "e": 1.0},
            "steal_frac_per_entry": {"a": 0.3},
        },
    )
    new = _write(
        tmp_path, "new.json", {"a": 9.0, "b": 1.0, "c": 1.0, "d": 1.0, "e": 1.0},
        {"cpu_s_per_entry": {"a": 3.0, "b": 2.0, "c": 1.0, "d": 5.0, "e": -0.1}},
    )
    assert bench_diff.main([old, new]) == 0
    out = capsys.readouterr().out
    # ratios 1.5, 0.5, 1.0 over every common entry, the steal-noted one
    # included; e's negative reading has no ratio
    assert "HEADLINE median per-entry CPU ratio: 1.000" in out
    assert "common 4 | CPU ratios 3" in out
    assert "clean-in-both" not in out
    assert "added: d" in out


def test_wall_vectors_keep_the_clean_entry_headline(bench_diff, tmp_path, capsys):
    old = _write(
        tmp_path, "old.json", {"a": 1.0, "b": 1.0, "c": 2.0},
        {"steal_frac_per_entry": {"a": 0.3}},
    )
    new = _write(
        tmp_path, "new.json", {"a": 9.0, "b": 2.0, "c": 2.0},
        # one side alone carrying CPU is not enough for the CPU headline
        {"cpu_s_per_entry": {"a": 1.0, "b": 1.0, "c": 1.0}},
    )
    assert bench_diff.main([old, new]) == 0
    out = capsys.readouterr().out
    # a is steal-polluted in the old vector; b and c give 2.0 and 1.0
    assert "clean-in-both 2 | steal-polluted 1" in out
    assert "HEADLINE median clean-entry ratio: 1.500" in out
    assert "per-entry CPU" not in out


def test_cpu_movers_show_their_jit_ms(bench_diff, tmp_path, capsys):
    old = _write(
        tmp_path, "old.json", {"a": 1.0, "b": 1.0, "c": 1.0},
        {"cpu_s_per_entry": {"a": 1.0, "b": 2.0, "c": 1.0}},
    )
    new = _write(
        tmp_path, "new.json", {"a": 4.0, "b": 1.0, "c": 1.0},
        {
            "cpu_s_per_entry": {"a": 8.0, "b": 1.0, "c": 1.0},
            "jit_ms_per_entry": {"a": 6000, "b": 15, "c": 20},
        },
    )
    assert bench_diff.main([old, new]) == 0
    out = capsys.readouterr().out
    assert "8.00x     1.00s →    8.00s  a  jit ? → 6000 ms" in out
    assert "0.50x     2.00s →    1.00s  b  jit ? → 15 ms" in out

    newer = _write(
        tmp_path, "newer.json", {"a": 1.0, "b": 1.0, "c": 1.0},
        {
            "cpu_s_per_entry": {"a": 1.0, "b": 1.0, "c": 1.0},
            "jit_ms_per_entry": {"a": 40, "b": 15, "c": 20},
        },
    )
    assert bench_diff.main([new, newer]) == 0
    assert "0.12x     8.00s →    1.00s  a  jit 6000 → 40 ms" in capsys.readouterr().out


def test_differing_cds_states_are_warned_about(bench_diff, tmp_path, capsys):
    cpu = {"cpu_s_per_entry": {"a": 1.0}}
    use = _write(tmp_path, "use.json", {"a": 1.0}, {**cpu, "cds": "use"})
    use2 = _write(tmp_path, "use2.json", {"a": 1.0}, {**cpu, "cds": "use"})
    build = _write(tmp_path, "build.json", {"a": 1.0}, {**cpu, "cds": "build"})
    older = _write(tmp_path, "older.json", {"a": 1.0}, cpu)

    assert bench_diff.main([use, use2]) == 0
    assert "WARNING" not in capsys.readouterr().out
    assert bench_diff.main([use, build]) == 0
    out = capsys.readouterr().out
    assert out.startswith("WARNING: class-data sharing differs (old use, new build)")
    assert bench_diff.main([older, use]) == 0
    assert "(old not recorded, new use)" in capsys.readouterr().out
