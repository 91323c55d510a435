"""The per-entry loop and the output records of ``bench.py`` (no Spark
needed): every entry is timed exactly once, a raising entry is recorded
and the loop goes on, the session is reset after every entry, and the
stdout line keeps its key set, and the vector records the session's
class-data sharing decision."""

from __future__ import annotations

import importlib.util
import os
from types import SimpleNamespace

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")

STDOUT_KEYS = {
    "metric",
    "value",
    "unit",
    "queries",
    "sf",
    "n_queries",
    "n_errors",
    "error_entries",
    "steal_sec",
    "steal_frac",
    "n_entries_steal_polluted",
}


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location("bench", _PATH)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_each_entry_runs_once_with_a_reset_after_each(bench):
    log = []

    def entry(name, rows):
        def run():
            log.append(name)
            return rows

        return run

    def broken():
        log.append("b")
        raise ValueError("boom")

    entries = {"a": entry("a", 3), "b": broken, "c": entry("c", 5)}
    records, errors = bench.run_entries(
        entries, bench.time_entry, lambda: log.append("reset")
    )

    assert log == ["a", "reset", "b", "reset", "c", "reset"]
    assert errors == {"b": "ValueError: boom"}
    assert sorted(records) == ["a", "c"]
    assert [records[k]["rows"] for k in ("a", "c")] == [3, 5]
    for rec in records.values():
        assert rec["wall"] >= 0
        assert rec["cpu_s"] >= 0
        assert 0 <= rec["steal"] <= 1


def test_records_and_stdout_line(bench):
    records = {
        "a": {"wall": 1.25, "cpu_s": 2.5, "steal": 0.02, "rows": 1},
        "c": {"wall": 0.5, "cpu_s": 0.75, "steal": 0.0, "rows": 2},
    }
    times, line = bench.vectors(
        2.0, 0.1, records, {"b": "ValueError: boom"}, 1.5, 0.01, "use"
    )

    assert set(line) == STDOUT_KEYS
    assert line["queries"] == times["queries"] == {"a": 1.25, "c": 0.5}
    assert (line["value"], line["n_queries"], line["n_errors"]) == (2.0, 2, 1)
    assert line["error_entries"] == ["b"]
    assert line["n_entries_steal_polluted"] == 1
    assert times["env"] == {
        "steal_sec": 1.5,
        "steal_frac": 0.01,
        "cds": "use",
        "cpu_s_per_entry": {"a": 2.5, "c": 0.75},
        "steal_frac_per_entry": {"a": 0.02},
    }


def test_time_entry_records_jit_ms_across_the_call(bench):
    readings = iter([1_000, 1_250])
    rec = bench.time_entry(lambda: 7, jit_ms=lambda: next(readings))
    assert (rec["rows"], rec["jit_ms"]) == (7, 250)
    assert "jit_ms" not in bench.time_entry(lambda: 7)


def test_vectors_carry_jit_ms_per_entry(bench):
    records = {
        "a": {"wall": 1.25, "cpu_s": 2.5, "steal": 0.0, "rows": 1, "jit_ms": 4_200},
        "c": {"wall": 0.5, "cpu_s": 0.75, "steal": 0.0, "rows": 2, "jit_ms": 0},
    }
    times, line = bench.vectors(2.0, 0.1, records, {}, 0.0, 0.0, "off: not a local master")

    assert times["env"]["jit_ms_per_entry"] == {"a": 4_200, "c": 0}
    assert times["env"]["cds"] == "off: not a local master"
    assert set(line) == STDOUT_KEYS


def test_a_non_integer_cpus_names_the_variable(bench, monkeypatch):
    """``SPARK_GRAFT_CPUS`` is parsed before any session starts."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "four")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS must be an integer, got 'four'"):
        bench.main()


class _Rows:
    def count(self):
        return 0


class _FailingReadSession:
    """Just enough of a SparkSession for ``warm_up``: DataSource
    registration works, every DataSource read raises, and UDTF
    registrations are recorded."""

    def __init__(self):
        self.udtfs = []
        self.dataSource = SimpleNamespace(register=lambda cls: None)
        self.udtf = SimpleNamespace(register=lambda name, f: self.udtfs.append(name))
        self.catalog = SimpleNamespace(dropTempView=lambda name: True)

    @property
    def read(self):
        raise RuntimeError("synth read failed")

    def range(self, *args):
        return SimpleNamespace(createOrReplaceTempView=lambda name: None)

    def sql(self, query):
        return _Rows()


def test_warm_up_contains_a_failing_datasource_warm(bench, monkeypatch, capsys):
    """A failing DataSource/streaming seam warm is logged as one
    stderr line and skipped: ``warm_up`` returns and the UDTF warm
    still runs."""
    import datasheet_etl_spark.io as io

    monkeypatch.setattr(io, "load_table", lambda spark, sf_dir, name: _Rows())
    spark = _FailingReadSession()

    bench.warm_up(spark, "unused")

    err = capsys.readouterr().err.splitlines()
    assert err == [
        "# DataSource/streaming seam warm failed"
        " (RuntimeError: synth read failed), continuing"
    ]
    assert spark.udtfs == ["_bench_warm_udtf", "_bench_warm_udtf_arrow"]
