"""Merge-cell detection/resolution against reference behavior
(behavioral spec: merge_detector.py:99-460 and its docstring examples)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datasheet_etl_spark.merge_cells import (
    cells_from_raw,
    detect_merges,
    enhance_tables,
    resolve_rows,
)

# The reference docstring's canonical two-row-header example:
# Row 0: |           | Output Voltage |     |     |      |
# Row 1: | Parameter | Min | Typ | Max | Unit |
RAW_HEADER_MERGE = [
    ["", "Output Voltage", "", "", ""],
    ["Parameter", "Min", "Typ", "Max", "Unit"],
    ["VOUT", "4.9", "5.0", "5.1", "V"],
]

# A category row spanning 3 columns mid-table
RAW_CATEGORY = [
    ["Parameter", "Min", "Typ", "Max"],
    ["Electrical Characteristics", "", "", ""],
    ["VIN", "4.2", "12", "36"],
]


def _tables(spark, raw, key="t1"):
    return spark.createDataFrame(
        [(key, raw)], "key string, raw_table array<array<string>>"
    )


def test_header_merge_detected(spark):
    cells = cells_from_raw(_tables(spark, RAW_HEADER_MERGE))
    merges = detect_merges(cells).collect()
    assert len(merges) == 1
    m = merges[0]
    assert (m["row"], m["col_start"], m["col_end"]) == (0, 1, 4)
    assert m["content"] == "Output Voltage"
    assert m["confidence"] == 0.85


def test_category_span_detected(spark):
    cells = cells_from_raw(_tables(spark, RAW_CATEGORY))
    merges = detect_merges(cells).collect()
    by_row = {m["row"]: m for m in merges}
    assert 1 in by_row
    m = by_row[1]
    assert (m["col_start"], m["col_end"]) == (0, 3)
    assert m["confidence"] == 0.70
    assert m["content"] == "Electrical Characteristics"


def test_header_resolution_spreads_category(spark):
    res = enhance_tables(_tables(spark, RAW_HEADER_MERGE))
    headers = {r["col_idx"]: r["header"] for r in res.headers.collect()}
    # empty spanned header cells take the category; non-empty keep theirs
    assert headers[1] == "Output Voltage"
    assert headers[2] == "Output Voltage"
    assert headers[4] == "Output Voltage"
    assert headers[0] == ""  # col 0 not in span (span starts at the leader col 1)


def test_row_resolution_spreads_content(spark):
    cells = cells_from_raw(_tables(spark, RAW_CATEGORY))
    values = {
        (r["row_idx"], r["col_idx"]): r["value"]
        for r in resolve_rows(cells, detect_merges(cells)).collect()
    }
    assert {values[(1, c)] for c in range(4)} == {"Electrical Characteristics"}
    assert values[(2, 0)] == "VIN"
    res = enhance_tables(_tables(spark, RAW_CATEGORY))
    rows = {r["row_idx"]: r["row_map"] for r in res.resolved_rows.collect()}
    # the category row: all spanned cells take the merge content
    assert set(rows[1].values()) == {"Electrical Characteristics"}
    # the data row is untouched
    assert rows[2]["Parameter"] == "VIN"
    assert rows[2]["Max"] == "36"


def test_confidence_routing(spark):
    res = enhance_tables(_tables(spark, RAW_CATEGORY))
    routing = res.routing.collect()[0]
    assert routing["merge_confidence"] == 0.70
    assert bool(routing["needs_vision"]) is False  # 0.70 >= 0.60

    # no merges → confidence 1.0
    plain = [["Parameter", "Min"], ["VIN", "4.2"]]
    res2 = enhance_tables(_tables(spark, plain))
    r2 = res2.routing.collect()[0]
    assert r2["merge_confidence"] == 1.0
    assert bool(r2["needs_vision"]) is False
