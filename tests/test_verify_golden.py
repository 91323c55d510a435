"""Golden parity for the double-verification dataflow.

``tests/fixtures/verify_golden.json`` holds what ``run_pipeline`` returns
for the edge-case tables built by :func:`golden_tables`: the result rows
as JSON strings, and the rows of the three ``VerifyResult`` frames.
Regenerate it only from a commit whose output is trusted:

    python tests/test_verify_golden.py

The result JSON must match byte for byte. ``conflicts`` and
``final_tables`` must match as sorted rows, and ``verdicts`` too, with
``confidence`` compared to 1e-9: the penalty sum has no defined
summation order, so its last bits may differ (0.49 vs
0.4900000000000001); the rounded result field does not.
"""

from __future__ import annotations

import json
import math
import os

import pytest

from datasheet_etl_spark.pipeline import (
    TABLE_SCHEMA,
    mock_rule_tables,
    mock_vision_tables,
    run_pipeline,
)

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "fixtures", "verify_golden.json")

H = ["Parameter", "Test Condition", "Min", "Typ", "Max", "Unit"]


def _row(parameter, cond, mn, typ, mx, unit):
    return dict(zip(H, [parameter, cond, mn, typ, mx, unit]))


def _table(key, table_id, rows, headers=H, title="Electrical Characteristics", side="vision"):
    vision = side == "vision"
    return (
        key,
        table_id,
        title,
        headers,
        rows,
        0.95 if vision else 0.85,
        "vision" if vision else "rule_based",
        "gpt-4o-mini" if vision else None,
        0.002 if vision else None,
    )


def _pairs():
    """(vision record, rule record or None) per edge case."""
    base = [
        _row("Input Voltage", "", "4.5", "", "28", "V"),
        _row("Shutdown Current", "EN = 0V", "", "1", "3", "µA"),
        _row("Line Regulation", "", "", "0.02", "", "%/V"),
        _row("Rise Time", "No load", "", "120", "", "ns"),
    ]
    # J1: only the first two rows are compared (both differ); rows 2-3 of
    # the vision side differ from nothing
    short = [dict(base[0], Max="30"), dict(base[1], Typ="1.5")]
    # an empty-map row and a null row: neither side's cells are compared
    # there and both rows leave the final table
    sparse_v = [base[0], {}, None, dict(base[3], Typ="150")]
    sparse_r = [dict(base[0], Min="5"), base[1], base[2], base[3]]
    # unit conflicts resolve rule_wins: row 0 is patched back; row 1 has no
    # vision Unit cell, so its rule_wins fix has nothing to patch
    unit_v = [base[0], {k: v for k, v in base[1].items() if k != "Unit"}, base[3]]
    unit_r = [dict(base[0], Unit="mV"), base[1], dict(base[3], Unit="ms", Typ=None)]
    # row keys outside the headers sort after them, by name; map insertion
    # order is scrambled on purpose
    odd_v = [
        {"Zeta": "z", "Unit": "V", "Alpha": "a", "Parameter": "Enable Threshold", "Max": "1.2"},
        {"Notes": "see fig. 3", "Min": "0.9", "Parameter": "Feedback Voltage", "Typ": None},
    ]
    odd_r = [
        {"Parameter": "Enable Threshold", "Max": "1.3", "Unit": "V", "Alpha": "b"},
        {"Parameter": "Feedback Voltage", "Min": "0.9", "Notes": "see fig. 4"},
    ]
    # Switching Frequency makes the row critical; 400 → 500 is a 20% diff
    crit_v = [base[0], _row("Switching Frequency", "", "360", "400", "440", "kHz")]
    crit_r = [base[0], _row("Switching Frequency", "", "360", "500", "440", "kHz")]
    # ten resolved HIGH conflicts push confidence under the 0.60 threshold
    low_v = [_row(f"Load Regulation {i}", "", "", "", "1", "mV/A") for i in range(10)]
    low_r = [_row(f"Load Regulation {i}", "", "", "", "2", "mV/A") for i in range(10)]
    # numbers that parse, exponent form, and a cell that does not parse
    num_v = [
        _row("Leakage Current", "", "-1", "1e3", "2.5 typ", ""),
        _row("", "", "0", "", "", "A"),
    ]
    return [
        (_table("vision_only.pdf", "vision_table_1", base), None),
        (
            _table("zip_short.pdf", "vision_table_1", base),
            _table("zip_short.pdf", "rule_table_1", short, side="rule"),
        ),
        (
            _table("empty_rows.pdf", "vision_table_1", []),
            _table("empty_rows.pdf", "rule_table_1", [], side="rule"),
        ),
        (
            _table("sparse_rows.pdf", "t1", sparse_v),
            _table("sparse_rows.pdf", "t1", sparse_r, side="rule"),
        ),
        (
            _table("null_headers.pdf", "t1", odd_v, headers=None),
            _table("null_headers.pdf", "t1", odd_r, side="rule"),
        ),
        (
            _table("unit_patch.pdf", "t1", unit_v),
            _table("unit_patch.pdf", "t1", unit_r, side="rule"),
        ),
        (
            _table("unknown_keys.pdf", "t1", odd_v),
            _table("unknown_keys.pdf", "t1", odd_r, side="rule"),
        ),
        (
            _table("title_punct.pdf", "t1", base, title="Electrical Characteristics:"),
            _table("title_punct.pdf", "t1", base, title="electrical characteristics", side="rule"),
        ),
        (
            _table("header_conflict.pdf", "t1", base, title="Absolute Maximum Ratings"),
            _table("header_conflict.pdf", "t2", base, headers=[], side="rule"),
        ),
        (
            _table("critical.pdf", "t1", crit_v),
            _table("critical.pdf", "t1", crit_r, side="rule"),
        ),
        (
            _table("low_confidence.pdf", "vision_table_1", low_v),
            _table("low_confidence.pdf", "rule_table_1", low_r, side="rule"),
        ),
        (
            _table("numbers.pdf", "t1", num_v),
            _table("numbers.pdf", "t1", num_v, side="rule"),
        ),
    ]


def golden_tables(spark):
    """The vision and rule frames: the LMR51430 fixture plus one table per
    edge case, each under its own key."""
    pairs = _pairs()
    vision = mock_vision_tables(spark).unionByName(
        spark.createDataFrame([v for v, _ in pairs], TABLE_SCHEMA)
    )
    rule = mock_rule_tables(spark).unionByName(
        spark.createDataFrame([r for _, r in pairs if r is not None], TABLE_SCHEMA)
    )
    return vision, rule


def _rows(df):
    return [[_plain(v) for v in r] for r in df.collect()]


def _plain(value):
    if hasattr(value, "asDict"):
        return _plain(list(value))
    if isinstance(value, dict):
        return {k: _plain(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_plain(v) for v in value]
    return value


def _sorted(rows):
    return sorted(rows, key=lambda r: json.dumps(r, sort_keys=True, ensure_ascii=False))


def capture(spark) -> dict:
    vision, rule = golden_tables(spark)
    result, vr = run_pipeline(spark, vision, rule)
    return {
        "result_json": sorted(result.toJSON().collect()),
        "result_schema": result.schema.simpleString(),
        "conflicts": {"columns": vr.conflicts.columns, "rows": _sorted(_rows(vr.conflicts))},
        "verdicts": {"columns": vr.verdicts.columns, "rows": _sorted(_rows(vr.verdicts))},
        "final_tables": {
            "columns": vr.final_tables.columns,
            "rows": _sorted(_rows(vr.final_tables)),
        },
    }


@pytest.fixture(scope="module")
def golden_pair(spark):
    with open(GOLDEN_PATH, encoding="utf-8") as f:
        want = json.load(f)
    return want, json.loads(json.dumps(capture(spark), ensure_ascii=False))


def test_result_json_byte_identical(golden_pair):
    want, got = golden_pair
    assert got["result_schema"] == want["result_schema"]
    assert got["result_json"] == want["result_json"]


@pytest.mark.parametrize("frame", ["conflicts", "final_tables"])
def test_frames_equal_as_sorted_rows(golden_pair, frame):
    want, got = golden_pair
    assert got[frame]["columns"] == want[frame]["columns"]
    assert got[frame]["rows"] == want[frame]["rows"]


def test_verdicts_equal_to_1e9(golden_pair):
    want, got = golden_pair
    cols = want["verdicts"]["columns"]
    assert got["verdicts"]["columns"] == cols
    at = cols.index("confidence")
    strip = lambda rows: [r[:at] + r[at + 1:] for r in rows]  # noqa: E731
    assert strip(got["verdicts"]["rows"]) == strip(want["verdicts"]["rows"])
    for g, w in zip(got["verdicts"]["rows"], want["verdicts"]["rows"]):
        assert math.isclose(g[at], w[at], rel_tol=0, abs_tol=1e-9), (g, w)


if __name__ == "__main__":
    from datasheet_etl_spark.session import get_session

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    session = get_session(app_name="verify_golden", shuffle_partitions=2, driver_memory="2g")
    with open(GOLDEN_PATH, "w", encoding="utf-8") as f:
        json.dump(capture(session), f, indent=1, ensure_ascii=False)
        f.write("\n")
    session.stop()
