"""Argument handling of ``scripts/profile_entry.py`` (no Spark needed)."""

from __future__ import annotations

import importlib.util
import os

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
