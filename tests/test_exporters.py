"""Schema-contract tests for the sinks (survey §5.4): 16-col CSV header
order, Review-UI JSON shape, dynamic key-union CSV — golden values from
the reference's output/for_import_script.csv and lmr51430_review.json
(timestamp excluded, as the reference's own goldens differ only there)."""

from __future__ import annotations

import csv
import glob

import pytest

from datasheet_etl_spark.exporters import (
    IMPORT_SCRIPT_COLUMNS,
    batch_report_markdown,
    batch_stats,
    export_dynamic_csv,
    export_import_script_csv,
    to_review_format,
)
from datasheet_etl_spark.pipeline import extract_parameters, run_pipeline


@pytest.fixture(scope="module")
def pipeline_out(spark):
    result, vr = run_pipeline(spark)
    result = result.cache()
    return result, vr


def _read_csv(path_glob):
    [path] = glob.glob(path_glob)
    with open(path, newline="", encoding="utf-8") as f:
        return list(csv.reader(f))


def test_import_script_csv_contract(spark, pipeline_out, tmp_path):
    result, _ = pipeline_out
    out = str(tmp_path / "import_csv")
    export_import_script_csv(result, out)
    rows = _read_csv(out + "/part-*.csv")
    assert rows[0] == IMPORT_SCRIPT_COLUMNS
    data = dict(zip(rows[0], rows[1]))
    # golden: output/for_import_script.csv
    assert data["MPN"] == "LMR51430"
    assert data["Category"] == "Buck Converter"
    assert data["Vin_min"] == "4.2"
    assert data["Vin_max"] == "36.0"
    assert data["Iout_max"] == "3.0"
    assert data["Iq_typ"] == "25.0"
    assert data["Efficiency_typ"] == "92.0"
    assert data["Frequency_typ"] == "400.0"
    assert data["Status"] == "Active"
    assert data["Notes"] == "Extracted by Datasheet-ETL v0.4 (confidence: 99%)"


def test_dynamic_csv_key_union(spark, pipeline_out, tmp_path):
    result, vr = pipeline_out
    params = extract_parameters(vr.final_tables)
    out = str(tmp_path / "dyn_csv")
    cols = export_dynamic_csv(result, params, out)
    assert cols[:3] == ["source_file", "confidence", "status"]
    # param columns are the sorted key union (ref: batch_export.py:219-228)
    assert cols[3:] == sorted(cols[3:])
    assert "input_voltage_range_min" in cols
    rows = _read_csv(out + "/part-*.csv")
    assert rows[0] == cols


def test_review_format_golden(spark, pipeline_out):
    result, _ = pipeline_out
    review = to_review_format(result).collect()[0]
    assert review["mpn"] == "LMR51430"
    assert review["manufacturer"] == "Texas Instruments"
    assert review["source_file"] == "lmr51430.pdf"
    params = review["params"]
    # golden: output/lmr51430_review.json (extracted_at excluded)
    v_in_min = params["v_in_min"]
    assert v_in_min["value"] == 4.2
    assert v_in_min["unit"] == "V"
    assert v_in_min["confidence"] == 0.95
    assert v_in_min["source"] == "page_1_vision_table_1"
    assert list(v_in_min["verified_by"]) == ["vision", "pdfplumber"]
    assert bool(v_in_min["needs_review"]) is False
    assert params["i_q"]["value"] == 25.0
    assert params["i_q"]["unit"] == "µA"
    assert params["fsw"]["value"] == 400.0
    assert params["efficiency"]["value"] == 92.0
    assert len(params) == 9  # one per min/typ/max value present


def test_batch_stats_and_report(spark, pipeline_out):
    result, _ = pipeline_out
    stats = batch_stats(result).collect()[0]
    assert stats["total"] == 1
    assert stats["success"] == 1
    assert stats["success_rate"] == 1.0
    report = batch_report_markdown(result)
    assert "| Total Files | 1 |" in report
    assert "| lmr51430.pdf | verified | 0.99 |" in report


def test_result_json_sink_roundtrip(spark, pipeline_out, tmp_path):
    """S9: the JSON-lines sink reads back, under the CLI's pinned result
    schema, to exactly the rows run_pipeline produced."""
    from datasheet_etl_spark.cli import _read_result
    from datasheet_etl_spark.pipeline import write_result_json

    result, _ = pipeline_out
    out = str(tmp_path / "result_json")
    write_result_json(result, out)
    back = _read_result(spark, out)
    # the JSON reader relaxes nullability; types must match exactly
    assert back.schema.simpleString() == result.schema.simpleString()
    want = result.collect()
    assert len(want) >= 1
    assert sorted(back.collect(), key=repr) == sorted(want, key=repr)


def test_csv_json_roundtrip_lossless(spark, tmp_path):
    """write_table/read_table: orc/csv/json round-trips reproduce the
    parquet source exactly (schema given, ISO timestamps)."""
    from datasheet_etl_spark.io import load_table, read_table, write_table

    src = load_table(spark, "/root/testdata/sf0.001", "orders").limit(200)
    expect = sorted(tuple(r) for r in src.collect())
    for fmt in ("orc", "csv", "json"):
        path = str(tmp_path / f"orders_{fmt}")
        write_table(src, path, fmt)
        back = read_table(spark, path, fmt, schema=src.schema)
        assert sorted(tuple(r) for r in back.collect()) == expect, fmt


def test_observed_metrics_single_action(spark):
    """observe(): stage metrics materialize with the action itself and
    match a separately-computed aggregate."""
    from pyspark.sql import functions as F

    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.pipeline import observed

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    staged, obs = observed(
        li.filter(F.col("l_quantity") > 25),
        "filter_stage",
        F.count(F.lit(1)).alias("rows"),
        F.sum("l_quantity").alias("qty"),
    )
    out = staged.groupBy("l_returnflag").count()
    out.collect()  # one action drives both the query and the metrics
    got = obs.get
    check = li.filter(F.col("l_quantity") > 25).agg(
        F.count(F.lit(1)).alias("rows"), F.sum("l_quantity").alias("qty")
    ).first()
    assert got["rows"] == check["rows"] and got["qty"] == check["qty"]
