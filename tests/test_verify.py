"""Golden-pipeline tests: the mock fixtures must reproduce the reference's
demo result exactly (behavioral spec: output/lmr51430_v04.json —
status verified, confidence 0.99, exactly one low table_id conflict
resolved vision_wins, 14 flat parameters)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from datasheet_etl_spark.pipeline import (
    mock_rule_tables,
    mock_vision_tables,
    run_pipeline,
)
from datasheet_etl_spark.verify import (
    smart_resolution,
    verifier_stats,
    verify,
    verify_tables,
)

GOLDEN_PARAMS = {
    "input_voltage_range_min": 4.2,
    "input_voltage_range_max": 36.0,
    "input_voltage_range_unit": "V",
    "quiescent_current_typ": 25.0,
    "quiescent_current_max": 40.0,
    "quiescent_current_unit": "µA",
    "output_current_max": 3.0,
    "output_current_unit": "A",
    "switching_frequency_min": 360.0,
    "switching_frequency_typ": 400.0,
    "switching_frequency_max": 440.0,
    "switching_frequency_unit": "kHz",
    "efficiency_typ": 92.0,
    "efficiency_unit": "%",
}


@pytest.fixture(scope="module")
def result_row(spark):
    result, vr = run_pipeline(spark)
    rows = result.collect()
    assert len(rows) == 1
    return rows[0]


def test_verification_block(result_row):
    v = result_row["verification"]
    assert v["status"] == "verified"
    assert v["confidence"] == 0.99
    assert v["resolution_method"] == "auto_resolved"
    assert v["conflict_count"] == 1


def test_single_table_id_conflict(result_row):
    conflicts = result_row["conflicts"]
    assert len(conflicts) == 1
    c = conflicts[0]
    assert c["field"] == "table_id"
    assert c["vision_value"] == "vision_table_1"
    assert c["rule_value"] == "rule_table_1"
    assert c["severity"] == "low"
    assert c["resolution"] == "vision_wins"
    assert c["resolved_value"] == "vision_table_1"


def test_flat_parameters(result_row):
    params = json.loads(result_row["parameters_json"])
    assert params == GOLDEN_PARAMS


def test_final_table_keeps_vision_values(result_row):
    table = result_row["tables"][0]
    assert table["table_id"] == "vision_table_1"
    assert table["headers"] == [
        "Parameter", "Test Condition", "Min", "Typ", "Max", "Unit",
    ]
    rows = table["rows"]
    assert len(rows) == 5
    # the µA/3 cells stay vision (unit + numeric matches, no conflict)
    assert rows[1]["Unit"] == "µA"
    assert rows[2]["Max"] == "3"


def test_perfect_match_path(spark):
    vr = verify(mock_vision_tables(spark), mock_vision_tables(spark).withColumn(
        "table_id", F.lit("vision_table_1")))
    verdicts = vr.verdicts.collect()
    assert len(verdicts) == 1
    v = verdicts[0]
    assert v["status"] == "verified"
    assert v["confidence"] == 1.0
    assert v["resolution_method"] == "perfect_match"
    assert v["conflict_count"] == 0


def test_vision_only_path(spark):
    rule_empty = mock_rule_tables(spark).filter(F.lit(False))
    vr = verify(mock_vision_tables(spark), rule_empty)
    v = vr.verdicts.collect()[0]
    assert v["status"] == "verified"
    assert v["confidence"] == 0.85
    assert v["resolution_method"] == "vision_only"


def test_critical_conflict_needs_review(spark):
    # big diff on a critical parameter row (Input Voltage Range → 'vin' is
    # not a substring, but Parameter context contains 'Frequency' → critical
    # via 'frequency') — behavioral spec: double_verifier.py:511-550 + test
    # scenario test_comprehensive.py:218-258.
    vision = mock_vision_tables(spark)
    bad_rows = [dict(r) for r in _collect_rows(vision)]
    bad_rows[3]["Typ"] = "500"  # Switching Frequency 400 → 500: 20% diff
    rule = _with_rows(mock_rule_tables(spark), bad_rows, spark)
    vr = verify(vision, rule)
    v = vr.verdicts.collect()[0]
    assert v["status"] == "needs_review"
    assert v["resolution_method"] == "manual_required"
    sev = {c["field"]: c["severity"] for c in vr.conflicts.collect()}
    assert sev["row[3].Typ"] == "CRITICAL"


def test_zip_truncation(spark):
    # unequal row counts: trailing rows of the longer side never compared
    vision = mock_vision_tables(spark)
    short_rows = _collect_rows(vision)[:3]
    rule = _with_rows(mock_rule_tables(spark), short_rows, spark)
    vr = verify(vision, rule)
    fields = [c["field"] for c in vr.conflicts.collect()]
    assert all(not f.startswith("row[3]") and not f.startswith("row[4]") for f in fields)


def test_smart_resolution_and_verifier_stats(spark):
    """The smart arbiter lets the rule side win only unit conflicts;
    verify_tables keeps one row per document; the golden pair's stats
    are one verified document with its one conflict resolved."""
    df = spark.createDataFrame([("unit",), ("value",), ("table_id",)], "t string")
    got = {
        r["t"]: r["res"]
        for r in df.select("t", smart_resolution(F.col("t")).alias("res")).collect()
    }
    assert got == {"unit": "rule_wins", "value": "vision_wins", "table_id": "vision_wins"}
    vision, rule = mock_vision_tables(spark), mock_rule_tables(spark)
    assert verify_tables(vision, rule).count() == 1
    vr = verify(vision, rule)
    stats = verifier_stats(vr.verdicts, vr.conflicts).collect()[0].asDict()
    assert stats == {
        "total_verifications": 1,
        "verified_count": 1,
        "conflict_count": 0,
        "needs_review_count": 0,
        "total_conflicts_found": 1,
        "conflicts_resolved": 1,
    }


def _collect_rows(df):
    return df.collect()[0]["rows"]


def _with_rows(df, rows, spark):
    from datasheet_etl_spark.pipeline import TABLE_SCHEMA

    base = df.collect()[0].asDict()
    base["rows"] = rows
    return spark.createDataFrame([tuple(base[f.name] for f in TABLE_SCHEMA)], TABLE_SCHEMA)


def _final_plan_counts(df) -> dict[str, int]:
    """Run ``df`` and count node kinds in its final adaptive plan."""
    import re

    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    assert "isFinalPlan=true" in plan.treeString()
    names = [
        m.group(1)
        for line in plan.executedPlan().treeString().splitlines()
        if (m := re.match(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?(\w+)", line))
    ]
    return {
        "join": sum("Join" in n for n in names),
        "generate": names.count("Generate"),
        "exchange": sum(n.endswith("Exchange") for n in names),
    }


def test_plan_shape_one_join_no_generate(spark):
    """The verification is one key join plus per-table expressions: over
    two documents the final plan of the result, the verdicts and the final
    tables holds at most one join and two exchanges, and nothing is
    exploded."""
    docs = ["a.pdf", "b.pdf"]
    vision = mock_vision_tables(spark, docs[0]).unionByName(mock_vision_tables(spark, docs[1]))
    rule = mock_rule_tables(spark, docs[0]).unionByName(mock_rule_tables(spark, docs[1]))
    result, vr = run_pipeline(spark, vision, rule)
    for name, df in (
        ("result", result),
        ("verdicts", verify(vision, rule).verdicts),
        ("final_tables", vr.final_tables),
    ):
        counts = _final_plan_counts(df)
        assert counts["join"] <= 1 and counts["generate"] == 0, (name, counts)
        assert counts["exchange"] <= 2, (name, counts)


# py4j round trips to build ``run_pipeline(spark)`` on the mock fixture,
# memory-release messages left out (their number follows Python's garbage
# collector). The build made 7,767 when this budget was set; +10% headroom.
RUN_PIPELINE_PY4J_BUDGET = 8_550


def test_run_pipeline_build_stays_within_its_py4j_budget(spark, monkeypatch):
    """Building the extract DAG is Python-side py4j traffic: every
    ``lit``, ``when`` and ``F.*`` call is a round trip to the JVM. A
    literal dimension rebuilt per call site shows up here long before it
    shows up in a wall time."""
    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    calls = []
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            calls.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    run_pipeline(spark)
    monkeypatch.undo()
    assert 0 < len(calls) <= RUN_PIPELINE_PY4J_BUDGET, len(calls)
