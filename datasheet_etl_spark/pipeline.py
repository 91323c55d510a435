"""End-to-end extraction pipeline over mock stages (survey §3.1 → Spark DAG).

The reference's call chain (pipeline.py:246-295: vision extract → rule
extract → double verify → build result → review queue → JSON) becomes one
lazy DataFrame DAG. The mock extractors are deterministic literal
DataFrames reproducing the reference fixtures (behavioral spec:
pipeline.py:69-215), so the golden verification block (status=verified,
confidence 0.99, 1 low table_id conflict, 14 flat parameters —
output/lmr51430_v04.json) is testable end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datasheet_etl_spark.functions import slugify
from datasheet_etl_spark.verify import (
    DEFAULT_CONFIDENCE_THRESHOLD,
    VerifyResult,
    verify_tables,
)

TABLE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("table_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("headers", T.ArrayType(T.StringType())),
        T.StructField("rows", T.ArrayType(T.MapType(T.StringType(), T.StringType()))),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("extraction_method", T.StringType()),
        T.StructField("model", T.StringType()),
        T.StructField("cost_usd", T.DoubleType()),
    ]
)

_HEADERS = ["Parameter", "Test Condition", "Min", "Typ", "Max", "Unit"]


def _row(parameter, cond, mn, typ, mx, unit):
    return dict(
        zip(_HEADERS, [parameter, cond, mn, typ, mx, unit])
    )


_FIXTURE_ROWS_VISION = [
    _row("Input Voltage Range", "", "4.2", "", "36", "V"),
    _row("Quiescent Current", "VFB = 1.1V", "", "25", "40", "µA"),
    _row("Output Current", "Continuous", "", "", "3", "A"),
    _row("Switching Frequency", "", "360", "400", "440", "kHz"),
    _row("Efficiency", "VIN=12V, VOUT=5V, IOUT=2A", "", "92", "", "%"),
]

# rule side differs in exactly two cells: uA vs µA (unit-alias match) and
# 3.0 vs 3 (numeric-tolerance match) — plus the table_id, which conflicts.
_FIXTURE_ROWS_RULE = [
    _row("Input Voltage Range", "", "4.2", "", "36", "V"),
    _row("Quiescent Current", "VFB = 1.1V", "", "25", "40", "uA"),
    _row("Output Current", "Continuous", "", "", "3.0", "A"),
    _row("Switching Frequency", "", "360", "400", "440", "kHz"),
    _row("Efficiency", "VIN=12V, VOUT=5V, IOUT=2A", "", "92", "", "%"),
]


def mock_vision_tables(spark: SparkSession, doc_key: str = "lmr51430.pdf") -> DataFrame:
    """Deterministic stand-in for the vision extraction stage (S8)."""
    return spark.createDataFrame(
        [
            (
                doc_key,
                "vision_table_1",
                "Electrical Characteristics",
                _HEADERS,
                _FIXTURE_ROWS_VISION,
                0.95,
                "vision",
                "gpt-4o-mini",
                0.002,
            )
        ],
        TABLE_SCHEMA,
    )


def mock_rule_tables(spark: SparkSession, doc_key: str = "lmr51430.pdf") -> DataFrame:
    """Deterministic stand-in for the rule extraction stage."""
    return spark.createDataFrame(
        [
            (
                doc_key,
                "rule_table_1",
                "Electrical Characteristics",
                _HEADERS,
                _FIXTURE_ROWS_RULE,
                0.85,
                "rule_based",
                None,
                None,
            )
        ],
        TABLE_SCHEMA,
    )


_STATS = (("min", "Min"), ("typ", "Typ"), ("max", "Max"))


def _row_parameters(pos: Column, row: Column) -> Column:
    """One row's flat parameters, reference semantics (pipeline.py:345-367):
    ``{slug}_min/typ/max`` as float (plain float() parse — unparseable
    silently dropped) and ``{slug}_unit`` when non-empty, as
    array<struct<pos, param, value_num, value_str>>."""
    slug = slugify(F.coalesce(F.element_at(row, F.lit("Parameter")), F.lit("")))

    def entry(suffix: str, value_num: Column, value_str: Column) -> Column:
        return F.struct(
            pos.alias("pos"),
            F.concat(slug, F.lit(suffix)).alias("param"),
            value_num.alias("value_num"),
            value_str.alias("value_str"),
        )

    no_str = F.lit(None).cast("string")
    entries = [
        entry(f"_{stat}", F.element_at(row, F.lit(cell)).try_cast("double"), no_str)
        for stat, cell in _STATS
    ]
    entries.append(
        entry("_unit", F.lit(None).cast("double"), F.element_at(row, F.lit("Unit")))
    )
    return F.filter(
        F.array(*entries),
        lambda p: p["value_num"].isNotNull() | (F.coalesce(p["value_str"], F.lit("")) != ""),
    )


def _table_parameters(rows: Column) -> Column:
    return F.flatten(F.transform(rows, lambda row, pos: _row_parameters(pos, row)))


def _json_entry(pos: Column, param: Column, value_num: Column, value_str: Column) -> Column:
    """One flat parameter as an orderable JSON member: (pos, stat_rank,
    '"param": value'), sorting by row position then min/typ/max/unit — the
    reference's insertion order."""
    stat_rank = (
        F.when(param.endswith("_min"), 1)
        .when(param.endswith("_typ"), 2)
        .when(param.endswith("_max"), 3)
        .otherwise(4)
    )
    jval = F.when(value_num.isNotNull(), value_num.cast("string")).otherwise(
        F.concat(F.lit('"'), value_str, F.lit('"'))
    )
    return F.struct(
        pos.alias("pos"),
        stat_rank.alias("stat_rank"),
        F.concat(F.lit('"'), param, F.lit('": '), jval).alias("entry"),
    )


def _json_object(entries: Column) -> Column:
    """``_json_entry`` structs → one JSON object string in their sort
    order; NULL when there are none."""
    members = F.transform(F.array_sort(entries), lambda s: s["entry"])
    return F.nullif(
        F.concat(F.lit("{"), F.array_join(members, ", "), F.lit("}")), F.lit("{}")
    )


def extract_parameters(final_tables: DataFrame, key: str = "key") -> DataFrame:
    """A1 parameter flatten (long→wide) of every table's rows.

    Returns long form: (key, pos, param, value_num, value_str) where
    exactly one of value_num / value_str is non-NULL. The wide map/pivot
    shapes are built on top (``parameters_map``, dynamic pivot S10).
    """
    return final_tables.select(key, F.inline(_table_parameters(F.col("rows"))))


def parameters_map(params: DataFrame, key: str = "key") -> DataFrame:
    """Flat parameters as one JSON object string per document (ordered by
    row position then min/typ/max/unit — the reference's insertion
    order). JSON because the value type is float|string (survey §1.2:
    truly-Any becomes a JSON string column)."""
    entry = _json_entry(F.col("pos"), F.col("param"), F.col("value_num"), F.col("value_str"))
    return params.groupBy(key).agg(
        _json_object(F.collect_list(entry)).alias("parameters_json")
    )


def run_pipeline(
    spark: SparkSession,
    vision: DataFrame | None = None,
    rule: DataFrame | None = None,
    source_file: str | None = None,
    confidence_threshold: float | None = None,
) -> tuple[DataFrame, VerifyResult]:
    """Assemble the full result DataFrame: one row per document with
    metadata / verification / tables / parameters_json / conflicts —
    parsed-equal to the reference's result JSON. The result and the
    returned ``VerifyResult`` are projections of one ``verify_tables``
    frame.

    ``confidence_threshold`` routes docs below it to needs_review (the
    CLI maps Gold/Silver/Bronze accuracy tiers onto it)."""
    vision = vision if vision is not None else mock_vision_tables(spark)
    rule = rule if rule is not None else mock_rule_tables(spark)

    tables = verify_tables(
        vision,
        rule,
        confidence_threshold=(
            DEFAULT_CONFIDENCE_THRESHOLD
            if confidence_threshold is None
            else confidence_threshold
        ),
    )
    params = F.transform(
        _table_parameters(F.col("rows")),
        lambda p: _json_entry(p["pos"], p["param"], p["value_num"], p["value_str"]),
    )
    conflicts = F.array_sort(
        F.transform(
            "conflicts",
            lambda c: F.struct(
                c["field"].alias("field"),
                c["vision_value"].alias("vision_value"),
                c["rule_value"].alias("rule_value"),
                F.lower(c["severity"]).alias("severity"),
                c["resolution"].alias("resolution"),
                c["resolved_value"].alias("resolved_value"),
            ),
        )
    )
    table_struct = F.struct(
        F.col("table_id"),
        F.col("title"),
        F.col("headers"),
        F.col("rows"),
        F.col("confidence"),
        F.col("extraction_method"),
        F.col("model"),
        F.col("cost_usd"),
    )
    result = tables.select(
        "key",
        F.struct(
            F.col("key").alias("source_file"),
            F.lit("0.4").alias("pipeline_version"),
            F.lit("vision_first_double_verified").alias("extraction_method"),
            F.lit("gpt-4o-mini").alias("vision_model"),
        ).alias("metadata"),
        F.struct(
            F.col("verdict.status").alias("status"),
            F.round("verdict.confidence", 3).alias("confidence"),
            F.col("verdict.resolution_method").alias("resolution_method"),
            F.col("verdict.conflict_count").alias("conflict_count"),
        ).alias("verification"),
        F.array(table_struct).alias("tables"),
        _json_object(params).alias("parameters_json"),
        conflicts.alias("conflicts"),
    )
    return result, VerifyResult.of(tables)


def write_result_json(result: DataFrame, path: str) -> None:
    """S9 JSON sink: nested result rows as JSON lines."""
    result.write.mode("overwrite").json(path)


def observed(df, name: str, *metrics):
    """Attach observable metrics to a DataFrame (survey §4: the
    reference's mutable stats counters become ``observe()`` aggregates —
    computed during the SAME action that runs the plan, exact under task
    retry, no second job and no accumulator double-count).

    Returns (df, Observation); read ``observation.get`` after an action.
    Default metrics: row count.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    cols = list(metrics) or [F.count(F.lit(1)).alias("rows")]
    return df.observe(obs, *cols), obs
