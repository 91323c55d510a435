"""Pure Column-expression library — the engine's scalar layer.

Everything here returns a :class:`pyspark.sql.Column` built from built-in
functions only (no UDFs), so the whole layer stays inside whole-stage
codegen and is trivially oracle-testable.
"""

from datasheet_etl_spark.functions.scalar import (
    clean_cell,
    extract_number,
    normalize_text,
    slugify,
    canonical_header,
    has_standard_headers,
    detect_table_title,
    extract_mpn,
    extract_manufacturer,
    manufacturer_from_mpn_prefix,
    mpn_from_filename,
    infer_category,
    tokens,
    is_category_header,
)
from datasheet_etl_spark.functions.units import (
    UNIT_ALIASES,
    unit_alias_rows,
    normalize_unit,
)
from datasheet_etl_spark.functions.compare import (
    numbers_match,
    units_match,
    text_match,
    values_match,
    classify_conflict,
    assess_severity,
    severity_penalty,
    pct_diff,
)

__all__ = [
    "clean_cell",
    "extract_number",
    "normalize_text",
    "slugify",
    "canonical_header",
    "has_standard_headers",
    "detect_table_title",
    "extract_mpn",
    "extract_manufacturer",
    "manufacturer_from_mpn_prefix",
    "mpn_from_filename",
    "infer_category",
    "tokens",
    "is_category_header",
    "UNIT_ALIASES",
    "unit_alias_rows",
    "normalize_unit",
    "numbers_match",
    "units_match",
    "text_match",
    "values_match",
    "classify_conflict",
    "assess_severity",
    "severity_penalty",
    "pct_diff",
]
