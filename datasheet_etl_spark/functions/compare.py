"""Comparison / conflict-classification expressions (V1–V6).

These reproduce the reference's double-verification truth tables as pure
Catalyst expressions (ref: double_verifier.py:73-199, 477-550). All inputs
are string cells; NULL behaves like the empty string, matching the
reference where ``str(row.get(key, ""))`` coerces missing values to ''.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from datasheet_etl_spark.functions.scalar import extract_number, normalize_text
from datasheet_etl_spark.functions.units import literal_map, normalize_unit

NUMERIC_TOLERANCE = 0.01  # 1% relative (ref: double_verifier.py:76)

# critical-parameter substrings (ref: double_verifier.py:260-264)
CRITICAL_PARAMS = [
    "vin", "vout", "iout", "iq", "efficiency",
    "vin_min", "vin_max", "vout_min", "vout_max",
    "iout_max", "power", "frequency",
]

_CRITICAL_RE = "|".join(re.escape(c) for c in CRITICAL_PARAMS)

SEVERITY_PENALTIES = {"LOW": 0.02, "MEDIUM": 0.05, "HIGH": 0.10, "CRITICAL": 0.20}


def numbers_match(v1: Column, v2: Column, tolerance: float = NUMERIC_TOLERANCE) -> Column:
    """V1: relative difference ≤ tolerance on parsed numbers.

    Truth table (ref: double_verifier.py:79-102): unparseable either side →
    False; both zero → True; else |n1-n2|/max(|n1|,|n2|) ≤ tol.
    """
    n1, n2 = extract_number(v1), extract_number(v2)
    both_zero = (n1 == 0) & (n2 == 0)
    rel = F.abs(n1 - n2) / F.greatest(F.abs(n1), F.abs(n2))
    return F.when(n1.isNull() | n2.isNull(), F.lit(False)).otherwise(
        both_zero | (rel <= tolerance)
    )


def units_match(v1: Column, v2: Column) -> Column:
    """V2: equality after canonical unit normalization."""
    return normalize_unit(v1) == normalize_unit(v2)


def text_match(v1: Column, v2: Column) -> Column:
    """V3: equality after text normalization."""
    return normalize_text(v1) == normalize_text(v2)


def _empty(v: Column) -> Column:
    return F.coalesce(v.cast("string"), F.lit("")) == ""


def values_match(v1: Column, v2: Column) -> Column:
    """V4 cascade (ref: double_verifier.py:477-494): both empty → True;
    one empty → False; else numeric ∨ unit ∨ text match."""
    return (
        F.when(_empty(v1) & _empty(v2), F.lit(True))
        .when(_empty(v1) | _empty(v2), F.lit(False))
        .otherwise(numbers_match(v1, v2) | units_match(v1, v2) | text_match(v1, v2))
    )


def classify_conflict(field: Column, v1: Column) -> Column:
    """V5 (ref: double_verifier.py:496-509): unit-named field → 'unit';
    vision value parses numeric → 'numeric'; else 'text'."""
    return (
        F.when(F.lower(field).contains("unit"), "unit")
        .when(extract_number(v1).isNotNull(), "numeric")
        .otherwise("text")
    )


def pct_diff(v1: Column, v2: Column) -> Column:
    """Relative difference of the parsed numbers; NULL when unparseable
    or both magnitudes zero."""
    n1, n2 = extract_number(v1), extract_number(v2)
    max_val = F.greatest(F.abs(n1), F.abs(n2))
    return F.when(
        n1.isNotNull() & n2.isNotNull() & (max_val > 0), F.abs(n1 - n2) / max_val
    )


def _contains_critical(target: Column) -> Column:
    return F.lower(target).rlike(_CRITICAL_RE)


def severity_from_diff(field: Column, diff: Column, param_context: Column) -> Column:
    """V6 ladder over an already-computed relative diff.

    Split out so hot paths can project the (regex-heavy) numeric parse
    ONCE in a prior select: codegen does not common-subexpression-
    eliminate across CASE WHEN branches, so an inlined ``pct_diff``
    re-parses both strings in every branch that mentions it.
    """
    base_field = F.element_at(F.split(F.lower(field), r"\."), -1)
    return (
        F.when(_contains_critical(base_field), "CRITICAL")
        .when(_contains_critical(F.coalesce(param_context, F.lit(""))), "CRITICAL")
        .when(diff > 0.10, "HIGH")
        .when(diff > 0.05, "MEDIUM")
        .otherwise("LOW")
    )


def assess_severity(field: Column, v1: Column, v2: Column, param_context: Column) -> Column:
    """V6 ladder (ref: double_verifier.py:511-550).

    ``field`` is the bare field name (after stripping any ``row[i].``
    prefix); ``param_context`` is the row's Parameter cell ('' if none).
    critical-substring hit → CRITICAL; pct diff > 10% → HIGH; > 5% →
    MEDIUM; else LOW.
    """
    return severity_from_diff(field, pct_diff(v1, v2), param_context)


def severity_penalty(severity: Column, resolved: Column) -> Column:
    """V10 penalty: severity-keyed deduction, halved when resolved
    (ref: double_verifier.py:601-630)."""
    penalty = F.coalesce(
        F.element_at(literal_map(SEVERITY_PENALTIES, "double"), severity),
        F.lit(SEVERITY_PENALTIES["MEDIUM"]),
    )
    return F.when(resolved, penalty * 0.5).otherwise(penalty)
