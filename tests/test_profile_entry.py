"""Argument handling, the ``SPARK_GRAFT_CPUS`` check and rep ordering of
``scripts/profile_entry.py`` (no Spark needed)."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "profile_entry.py")


@pytest.fixture(scope="module")
def profile_entry():
    spec = importlib.util.spec_from_file_location("profile_entry", _PATH)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_key_value_options_parse(profile_entry):
    args = profile_entry.parse_args(
        ["t01", "--conf", "a.b=1", "--ab-conf", "x=y=z", "--ab-env", "K="]
    )
    assert dict(args.conf) == {"a.b": "1"}
    assert dict(args.ab_conf) == {"x": "y=z"}
    assert dict(args.ab_env) == {"K": ""}


@pytest.mark.parametrize("flag", ["--conf", "--ab-conf", "--ab-env"])
@pytest.mark.parametrize("bad", ["no_equals", "=value"])
def test_key_value_without_key_is_an_argparse_error(profile_entry, capsys, flag, bad):
    with pytest.raises(SystemExit) as exc:
        profile_entry.parse_args(["t01", flag, bad])
    assert exc.value.code == 2
    assert "expected KEY=VALUE" in capsys.readouterr().err


@pytest.mark.parametrize("reps", [1, 3])
def test_explain_is_built_after_rep0_executes(profile_entry, reps):
    """rep0 must be the entry's first build and execution: the explain
    dump rebuilds the entry only after rep0's timed run."""
    builds = []
    log = []

    def entry():  # fake registry entry
        builds.append(len(builds))
        return f"df{len(builds)}"

    def run(rep):
        log.append((f"rep{rep}", entry(), len(builds)))
        return rep

    def explain():
        log.append(("explain", entry(), len(builds)))

    assert profile_entry.run_reps(run, reps, explain) == list(range(reps))
    assert log[0] == ("rep0", "df1", 1)
    assert log[1][0] == "explain"
    assert [e[0] for e in log if e[0] != "explain"] == [f"rep{i}" for i in range(reps)]
    assert len(builds) == reps + 1


def test_a_non_integer_cpus_names_the_variable(profile_entry, monkeypatch):
    """``SPARK_GRAFT_CPUS`` is parsed before any session starts."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "four")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    monkeypatch.setattr(sys, "argv", ["profile_entry.py", "t01"])
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS must be an integer, got 'four'"):
        profile_entry.main()
