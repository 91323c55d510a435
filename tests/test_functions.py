"""Reference-semantics unit tests for the scalar expression layer.

The case tables reproduce the reference's comparator/normalizer test
inputs and expected booleans (behavioral spec: tests/test_comprehensive.py
:36-46, :68-78) — they encode the tolerance/alias semantics the engine
must preserve.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datasheet_etl_spark.functions import (
    canonical_header,
    clean_cell,
    detect_table_title,
    extract_manufacturer,
    extract_mpn,
    extract_number,
    has_standard_headers,
    infer_category,
    is_category_header,
    manufacturer_from_mpn_prefix,
    mpn_from_filename,
    normalize_text,
    normalize_unit,
    numbers_match,
    severity_penalty,
    slugify,
    text_match,
    units_match,
    values_match,
)
from datasheet_etl_spark.functions.units import UNIT_ALIASES

NUMERIC_CASES = [
    ("3.3", "3.3", True),      # exact
    ("3.3", "3.30", True),     # trailing zero
    ("3.3", "3.33", True),     # within 1%
    ("3.3", "3.5", False),     # outside tolerance
    ("0", "0", True),          # both zero
    ("100", "101", True),      # 1% of 100
    ("100", "102", False),     # 2% of 100
    ("1.5V", "1.5", True),     # unit suffix stripped
    ("-5", "-5.0", True),      # negatives
    ("", "3.3", False),        # empty side unparseable
    ("abc", "3.3", False),     # garbage unparseable
]

UNIT_CASES = [
    ("µA", "uA", True),        # micro variants
    ("µA", "μA", True),        # U+00B5 vs U+03BC
    ("mA", "milliamp", True),
    ("V", "volt", True),
    ("kHz", "kilohertz", True),
    ("°C", "C", True),
    ("MHz", "mhz", True),      # case-insensitive
    ("V", "A", False),
    ("mV", "V", False),
]


def _eval(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


@pytest.mark.parametrize("v1,v2,expected", NUMERIC_CASES)
def test_numbers_match(spark, v1, v2, expected):
    got = _eval(spark, numbers_match(F.lit(v1), F.lit(v2)))
    assert bool(got) == expected, f"{v1!r} vs {v2!r}"


@pytest.mark.parametrize("v1,v2,expected", UNIT_CASES)
def test_units_match(spark, v1, v2, expected):
    got = _eval(spark, units_match(F.lit(v1), F.lit(v2)))
    assert bool(got) == expected, f"{v1!r} vs {v2!r}"


def test_extract_number_null_land(spark):
    cases = {"": None, "abc": None, "1.5V": 1.5, " 3.30 ": 3.3, "-5.0": -5.0, "1e3": 1000.0}
    for raw, want in cases.items():
        got = _eval(spark, extract_number(F.lit(raw)))
        assert got == want, f"{raw!r} -> {got}"


def test_values_match_cascade(spark):
    # both empty → True; one empty → False; numeric/unit/text fallbacks
    assert _eval(spark, values_match(F.lit(""), F.lit(""))) is True
    assert _eval(spark, values_match(F.lit(""), F.lit("x"))) is False
    assert _eval(spark, values_match(F.lit("3"), F.lit("3.0"))) is True
    assert _eval(spark, values_match(F.lit("uA"), F.lit("µA"))) is True
    assert _eval(spark, values_match(F.lit("Hello  World."), F.lit("hello world"))) is True
    assert _eval(spark, values_match(F.lit("foo"), F.lit("bar"))) is False


def test_normalize_text(spark):
    assert _eval(spark, normalize_text(F.lit("  Hello,  WORLD!  "))) == "hello world"
    assert _eval(spark, normalize_text(F.lit(None))) == ""


def test_clean_cell(spark):
    assert _eval(spark, clean_cell(F.lit("a\n  b\tc"))) == "a b c"
    assert _eval(spark, clean_cell(F.lit(None))) == ""


def test_normalize_unit_fallback(spark):
    assert _eval(spark, normalize_unit(F.lit("ohms"))) == "Ω"
    assert _eval(spark, normalize_unit(F.lit("weird"))) == "weird"  # passthrough
    assert _eval(spark, normalize_unit(F.lit(None))) == ""


def test_normalize_unit_covers_every_alias(spark):
    """Every canonical unit in UNIT_ALIASES and each of its aliases, as
    written there, normalizes to that canonical unit (no alias shadows
    another's lowercase form)."""
    pairs = [
        (raw, canonical)
        for canonical, aliases in UNIT_ALIASES.items()
        for raw in (canonical, *aliases)
    ]
    got = spark.createDataFrame(pairs, "raw string, want string").select(
        "raw", "want", normalize_unit(F.col("raw")).alias("got")
    )
    assert [tuple(r) for r in got.filter("got != want").collect()] == []


def test_is_category_header_and_slugify(spark):
    cases = {
        "Electrical Characteristics": True,   # known section name
        "Recommended Operating Conditions": True,
        "VIN": True,                          # alpha ratio 1.0 > 0.8
        "3.3V max": False,                    # alpha ratio 0.5
        "4.2": False,
        "": False,
        None: False,
    }
    df = spark.createDataFrame([(k,) for k in cases], "t string")
    got = {
        r["t"]: r["h"]
        for r in df.select("t", is_category_header(F.col("t")).alias("h")).collect()
    }
    assert got == cases
    assert _eval(spark, slugify(F.lit("Input Voltage Range"))) == "input_voltage_range"


def test_severity_penalty(spark):
    df = spark.createDataFrame(
        [("CRITICAL", False), ("CRITICAL", True), ("LOW", False), ("ODD", False)],
        "sev string, resolved boolean",
    )
    got = [
        round(r["p"], 6)
        for r in df.select(severity_penalty(F.col("sev"), F.col("resolved")).alias("p"))
        .collect()
    ]
    # halved when resolved; an unknown severity costs MEDIUM's 0.05
    assert got == [0.2, 0.1, 0.02, 0.05]


def test_canonical_header(spark):
    cases = {
        "PARAMETER": "Parameter",
        "Test Conditions": "Test_Conditions",
        "min.": "Min",
        "Typ": "Typ",
        "MAX": "Max",
        "Units": "Unit",
        "Something": "Something",
        "": "Unknown",
    }
    for raw, want in cases.items():
        got = _eval(spark, canonical_header(F.lit(raw)))
        assert got == want, f"{raw!r} -> {got}"


def test_has_standard_headers(spark):
    yes = F.array(*[F.lit(x) for x in ["Parameter", "Min", "Typ", "Max", "Unit"]])
    no = F.array(*[F.lit(x) for x in ["Parameter", "Foo"]])
    assert _eval(spark, has_standard_headers(yes)) is True
    assert _eval(spark, has_standard_headers(no)) is False


def test_manufacturer_prefixes(spark):
    cases = {"LMR51430": "Texas Instruments", "MAX232": "Analog Devices", "XYZ1": ""}
    for mpn, want in cases.items():
        assert _eval(spark, manufacturer_from_mpn_prefix(F.lit(mpn))) == want


# (page text, table index, title): the first title pattern in the
# reference's order wins, title-cased; no match falls back to "Table i+1"
TITLE_CASES = [
    ("ELECTRICAL CHARACTERISTICS over operating range", 0, "Electrical Characteristics"),
    ("7.3 Recommended Operating Conditions", 2, "Recommended Operating Conditions"),
    ("Absolute Maximum Ratings then Electrical Characteristics", 0, "Electrical Characteristics"),
    ("pin functions", 1, "Pin Functions"),
    ("Typical Characteristics", 3, "Table 4"),
    ("", 0, "Table 1"),
]

# the MPN patterns are tried LMR, TPS, LM (pattern order, not text
# position), case-sensitively; no match is 'Unknown'
MPN_CASES = [
    ("LMR51430 SIMPLE SWITCHER", "LMR51430"),
    ("TPS54331 3-A step-down converter", "TPS54331"),
    ("LM5164-Q1 100-V input", "LM5164"),
    ("LM2596S replaces TPS5430", "TPS5430"),
    ("lmr51430 in lower case", "Unknown"),
    ("no part number here", "Unknown"),
]

MANUFACTURER_CASES = [
    ("Texas Instruments Incorporated", "Texas Instruments"),
    ("(c) 2023 ANALOG DEVICES, INC.", "Analog Devices"),
    ("onsemi NCP1117 regulator", "onsemi"),
    ("Analog Devices part, Texas Instruments pinout", "Texas Instruments"),
    ("www.example.com", "Unknown"),
]

# flat-parameter map -> category: switching frequency, then efficiency,
# then a typical quiescent current under 100
CATEGORY_CASES = [
    ({"switching_frequency_typ": 500.0}, "Buck Converter"),
    ({"efficiency_typ": 92.0}, "DC-DC Converter"),
    ({"quiescent_current_typ": 25.0}, "LDO"),
    ({"quiescent_current_typ": 150.0}, "Unknown"),
    ({"switching_frequency_typ": 500.0, "quiescent_current_typ": 25.0}, "Buck Converter"),
    ({}, "Unknown"),
]

FILENAME_CASES = [
    ("/data/LMR51430_v04.json", "LMR51430"),
    ("tps54331_datasheet.pdf", "TPS54331"),
    ("out/lm5164_extracted", "LM5164"),
    ("docs/lmr33630_extracted_v04.json", "LMR33630"),
]


@pytest.mark.parametrize("text,idx,expected", TITLE_CASES)
def test_detect_table_title(spark, text, idx, expected):
    assert _eval(spark, detect_table_title(F.lit(text), F.lit(idx))) == expected


@pytest.mark.parametrize("text,expected", MPN_CASES)
def test_extract_mpn(spark, text, expected):
    assert _eval(spark, extract_mpn(F.lit(text))) == expected


@pytest.mark.parametrize("text,expected", MANUFACTURER_CASES)
def test_extract_manufacturer(spark, text, expected):
    assert _eval(spark, extract_manufacturer(F.lit(text))) == expected


@pytest.mark.parametrize("params,expected", CATEGORY_CASES)
def test_infer_category(spark, params, expected):
    pairs = [c for k, v in params.items() for c in (F.lit(k), F.lit(v))]
    flat = F.create_map(*pairs).cast("map<string,double>")
    assert _eval(spark, infer_category(flat)) == expected


@pytest.mark.parametrize("path,expected", FILENAME_CASES)
def test_mpn_from_filename(spark, path, expected):
    assert _eval(spark, mpn_from_filename(F.lit(path))) == expected

def test_register_aggregate_seam_and_weighted_median(spark):
    """The GROUPED_AGG extension point (SURVEY §2.8): a user-registered
    custom aggregate runs through groupBy().agg() like a built-in, and
    the shipped weighted_median handles ties, NULLs, and single-row
    groups exactly."""
    import pandas as pd

    from datasheet_etl_spark.functions.aggregates import (
        get_aggregate,
        register_aggregate,
        weighted_median,
        weighted_median_fn,
    )

    # pure-python contract first (no Spark in the loop)
    s = pd.Series
    assert weighted_median_fn(s([1.0, 2.0, 3.0]), s([1, 1, 1])) == 2.0
    # heavy weight drags the median down
    assert weighted_median_fn(s([1.0, 2.0, 3.0]), s([10, 1, 1])) == 1.0
    # even split → LOWER weighted median
    assert weighted_median_fn(s([1.0, 2.0]), s([1, 1])) == 1.0
    # NULL values drop, not poison
    assert weighted_median_fn(s([None, 5.0]), s([3, 2])) == 5.0
    assert weighted_median_fn(s([None], dtype="float64"), s([1])) is None

    df = spark.createDataFrame(
        [("a", 1.0, 10), ("a", 2.0, 1), ("a", 3.0, 1), ("b", 7.0, 5)],
        "g string, v double, w long",
    )
    got = {
        r["g"]: r["m"]
        for r in df.groupBy("g")
        .agg(weighted_median(F.col("v"), F.col("w")).alias("m"))
        .collect()
    }
    assert got == {"a": 1.0, "b": 7.0}

    # user-registered aggregate: value range, vs the built-in oracle
    def value_range(v: pd.Series) -> float:
        return float(v.max() - v.min())

    register_aggregate("value_range", value_range, "double")
    # NB Spark disallows mixing a GROUPED_AGG UDF with non-pandas
    # aggregates in one agg() [INVALID_PANDAS_UDF_PLACEMENT] — compute
    # the oracle in a separate aggregation
    rng = {
        r["g"]: r["rng"]
        for r in df.groupBy("g")
        .agg(get_aggregate("value_range")(F.col("v")).alias("rng"))
        .collect()
    }
    want = {
        r["g"]: r["want"]
        for r in df.groupBy("g").agg((F.max("v") - F.min("v")).alias("want")).collect()
    }
    assert rng == want


def test_grouped_agg_udaf_over_unbounded_window(spark):
    """aggregates.py claims registered UDAFs work over unbounded
    windows — prove it: weighted_median over an unbounded per-group
    window annotates every row with its group's median."""
    from pyspark.sql import Window

    from datasheet_etl_spark.functions.aggregates import weighted_median

    df = spark.createDataFrame(
        [("a", 1.0, 10), ("a", 2.0, 1), ("b", 7.0, 5)],
        "g string, v double, w long",
    )
    w = Window.partitionBy("g")
    got = {
        (r["g"], r["v"]): r["m"]
        for r in df.withColumn(
            "m", weighted_median(F.col("v"), F.col("w")).over(w)
        ).collect()
    }
    assert got[("a", 1.0)] == 1.0 and got[("a", 2.0)] == 1.0
    assert got[("b", 7.0)] == 7.0
