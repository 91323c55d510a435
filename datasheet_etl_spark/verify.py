"""The double-verification dataflow (survey §2.5, V1–V15 + J1/J5).

Reference semantics (behavioral spec: double_verifier.py:304-644) as one
left join followed by per-table column expressions:

    vision tables ── left join on key ── rule tables (headers, rows, title, table_id)
                          │
                          │  one row per vision table; every step below is a
                          │  transform / filter / aggregate / map_entries /
                          │  map_from_entries over that row's arrays, with
                          │  nothing exploded, regrouped or joined again
                          ├─ cell conflicts per zipped row pair (V4 mismatch → V5 type → V6 severity)
                          ├─ header conflict (V7), metadata conflicts (title / table_id)
                          ├─ arbitration (V8: unit → rule_wins else vision_wins)
                          ├─ confidence (V10) → large-diff (V11) → status (V12)
                          └─ patch-back (J5): rule_wins values written into the
                             vision rows and metadata, each row's fields in
                             header order

Input table schema (both sides):
    key: string               -- document/table grouping key
    table_id, title: string
    headers: array<string>
    rows: array<map<string,string>>
plus passthrough columns on the vision side (confidence, model, …).

Contract: at most one table per ``key`` on each side. The join pairs each
vision table with the one rule table of its key; two rule tables under one
key would yield the vision table twice, once against each.

Row pairs follow the reference's ``zip(v_rows, r_rows)``: row i is compared
only while both sides have a row i (J1 truncation — never widen it,
survey §7.4.2), and a NULL row on either side compares nothing. Final rows
drop NULL and empty rows; a table with no rows keeps ``[]``.

Scale notes: the sort-merge join on ``key`` is the only exchange, one
shuffle per side. Everything after it runs in the projections above the
join, so the work grows with the cells compared, not with the number of
stages. A table's arrays are processed in one task, which datasheet tables
(tens of rows) fit comfortably.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datasheet_etl_spark.functions import (
    assess_severity,
    classify_conflict,
    severity_penalty,
    values_match,
)
from datasheet_etl_spark.functions.compare import pct_diff

DEFAULT_CONFIDENCE_THRESHOLD = 0.60

_UNRESOLVED_CONFLICTS = (
    "array<struct<field:string,vision_value:string,rule_value:string,"
    "severity:string,conflict_type:string>>"
)


@dataclass
class VerifyResult:
    """The three outputs of the verification dataflow."""

    conflicts: DataFrame  # key, field, vision_value, rule_value, severity, conflict_type, resolution, resolved_value
    verdicts: DataFrame   # key, status, confidence, resolution_method, conflict_count
    final_tables: DataFrame  # key, table_id, title, headers, …, rows (patched)

    @classmethod
    def of(cls, tables: DataFrame, key: str = "key") -> VerifyResult:
        """The three outputs as projections of one :func:`verify_tables` frame."""
        return cls(
            conflicts=tables.select(key, F.inline("conflicts")),
            verdicts=tables.select(key, "verdict.*"),
            final_tables=tables.drop("conflicts", "verdict"),
        )


def smart_resolution(conflict_type: Column) -> Column:
    """V8 SmartArbiter (ref: double_verifier.py:206-236): unit conflicts →
    rule_wins, everything else → vision_wins."""
    return F.when(conflict_type == "unit", "rule_wins").otherwise("vision_wins")


def _resolved_value(resolution: Column, vision_value: Column, rule_value: Column) -> Column:
    return F.when(resolution == "rule_wins", rule_value).otherwise(vision_value)


def _pyliststr(arr) -> Column:
    """Python ``str(list)`` shape for header-conflict values:
    ['a', 'b'] — matches the reference's str(headers)."""
    # str([]) == '[]' — the concat form would render "['']" for empties
    return F.when(F.size(arr) == 0, F.lit("[]")).otherwise(
        F.concat(F.lit("['"), F.array_join(arr, "', '"), F.lit("']"))
    )


def _unresolved(field, vision_value, rule_value, severity, conflict_type) -> Column:
    return F.struct(
        field.alias("field"),
        vision_value.alias("vision_value"),
        rule_value.alias("rule_value"),
        severity.alias("severity"),
        conflict_type.alias("conflict_type"),
    )


def _cell_field(pos: Column, fkey: Column) -> Column:
    return F.concat(F.lit("row["), pos.cast("string"), F.lit("]."), fkey)


def _cell_conflicts(pos: Column, v_row: Column, r_row: Column) -> Column:
    """V4–V6 over one zipped row pair (ref: _find_conflicts,
    double_verifier.py:412-475): every field of either row whose values do
    not match, missing values read as ''. NULL when either row is NULL."""
    param_ctx = F.coalesce(F.element_at(v_row, F.lit("Parameter")), F.lit(""))
    cells = F.transform(
        F.array_union(F.map_keys(v_row), F.map_keys(r_row)),
        lambda k: F.struct(
            k.alias("fkey"),
            F.coalesce(F.element_at(v_row, k), F.lit("")).alias("v"),
            F.coalesce(F.element_at(r_row, k), F.lit("")).alias("r"),
        ),
    )
    return F.transform(
        F.filter(cells, lambda c: ~values_match(c["v"], c["r"])),
        lambda c: _unresolved(
            _cell_field(pos, c["fkey"]),
            c["v"],
            c["r"],
            assess_severity(c["fkey"], c["v"], c["r"], param_ctx),
            classify_conflict(c["fkey"], c["v"]),
        ),
    )


def _table_conflicts() -> Column:
    """V7 header conflict and the title / table_id conflicts (both
    non-empty and mismatched) of one joined table; absent ones are
    filtered out."""
    found = [
        F.when(
            F.col("headers") != F.col("__r_headers"),
            _unresolved(
                F.lit("headers"),
                _pyliststr(F.col("headers")),
                _pyliststr(F.col("__r_headers")),
                F.lit("MEDIUM"),
                F.lit("structure"),
            ),
        )
    ]
    for fld in ("title", "table_id"):
        v = F.coalesce(F.col(fld), F.lit(""))
        r = F.coalesce(F.col(f"__r_{fld}"), F.lit(""))
        found.append(
            F.when(
                (v != "") & (r != "") & ~values_match(v, r),
                _unresolved(F.lit(fld), v, r, F.lit("LOW"), F.lit("text")),
            )
        )
    return F.filter(F.array(*found), lambda c: c.isNotNull())


def _arbitrated(c: Column) -> Column:
    resolution = smart_resolution(c["conflict_type"])
    return F.struct(
        c["field"].alias("field"),
        c["vision_value"].alias("vision_value"),
        c["rule_value"].alias("rule_value"),
        c["severity"].alias("severity"),
        c["conflict_type"].alias("conflict_type"),
        resolution.alias("resolution"),
        _resolved_value(resolution, c["vision_value"], c["rule_value"]).alias(
            "resolved_value"
        ),
    )


def _patched_row(pos: Column, row: Column) -> Column:
    """J5 for one vision row: rule_wins values overwrite their cells (a
    fix for a field the vision row lacks adds nothing), and the fields are
    rebuilt in header order, keys outside the headers last by name."""

    def korder(k):
        at = F.array_position(F.col("headers"), k)
        return F.when(at > 0, at).otherwise(F.lit(1_000_000))

    entries = F.transform(
        F.map_entries(row),
        lambda e: F.struct(
            korder(e["key"]).alias("korder"),
            e["key"].alias("fkey"),
            F.coalesce(
                F.element_at(F.col("__fixes"), _cell_field(pos, e["key"])), e["value"]
            ).alias("val"),
        ),
    )
    return F.map_from_entries(
        F.transform(
            F.array_sort(entries),
            lambda s: F.struct(s["fkey"].alias("key"), s["val"].alias("value")),
        )
    )


def _verdict(status: str, confidence: Column, method: str) -> Column:
    return F.struct(
        F.lit(status).alias("status"),
        confidence.alias("confidence"),
        F.lit(method).alias("resolution_method"),
        F.size("conflicts").cast("long").alias("conflict_count"),
    )


def verify_tables(
    vision: DataFrame,
    rule: DataFrame,
    key: str = "key",
    confidence_threshold: float = DEFAULT_CONFIDENCE_THRESHOLD,
) -> DataFrame:
    """The whole verification as one row per vision table: the vision
    columns with ``title``/``table_id``/``rows`` patched (rows last), plus
    ``conflicts`` (array of conflict structs, row order then headers/
    title/table_id) and ``verdict`` (struct of status, confidence,
    resolution_method, conflict_count). :meth:`VerifyResult.of` splits it
    into the three outputs.

    The verdict follows the reference decision ladder
    (double_verifier.py:304-398): no rule table → verified @0.85
    vision_only; zero conflicts → verified @1.0 perfect_match; unresolved
    high/critical or (critical ∧ >10% diff) → needs_review; confidence <
    threshold → conflict; else verified (auto_resolved). Confidence is 1
    less the V10 penalties, clipped to [0, 1].
    """
    passthrough = [c for c in vision.columns if c not in (key, "rows")]
    rule_side = rule.select(
        key,
        F.lit(True).alias("__has_rule"),
        *[F.col(c).alias(f"__r_{c}") for c in ("headers", "rows", "title", "table_id")],
    )
    empty_rows = F.array().cast("array<map<string,string>>")
    pairs = F.transform(
        F.coalesce(F.col("rows"), empty_rows),
        lambda row, i: F.struct(
            i.alias("pos"),
            row.alias("row"),
            F.coalesce(
                _cell_conflicts(i, row, F.get(F.col("__r_rows"), i)),
                F.array().cast(_UNRESOLVED_CONFLICTS),
            ).alias("conflicts"),
        ),
    )
    # The merge hint keeps one shuffle per side: on small inputs AQE would
    # otherwise turn the join into a broadcast after both shuffles have run,
    # which adds a broadcast job on top of them.
    joined = vision.join(rule_side.hint("merge"), key, "left").select(
        key,
        *passthrough,
        "__has_rule",
        pairs.alias("__pairs"),
        _table_conflicts().alias("__table_conflicts"),
    )

    conflicts = F.transform(
        F.concat(
            F.flatten(F.transform("__pairs", lambda p: p["conflicts"])),
            F.col("__table_conflicts"),
        ),
        _arbitrated,
    )
    with_conflicts = joined.select(
        key, *passthrough, "__has_rule", "__pairs", conflicts.alias("conflicts")
    )

    penalty = F.aggregate(
        "conflicts",
        F.lit(0.0),
        lambda acc, c: acc + severity_penalty(c["severity"], c["resolution"].isNotNull()),
    )
    critical_diff = F.array_max(
        F.transform(
            F.filter("conflicts", lambda c: c["severity"] == "CRITICAL"),
            lambda c: pct_diff(c["vision_value"], c["rule_value"]),
        )
    )
    needs_review = F.exists(
        "conflicts",
        lambda c: c["severity"].isin("HIGH", "CRITICAL") & c["resolution"].isNull(),
    ) | (critical_diff > 0.10)
    fixes = F.map_from_entries(
        F.transform(
            F.filter("conflicts", lambda c: c["resolution"] == "rule_wins"),
            lambda c: F.struct(c["field"], c["resolved_value"]),
        )
    )
    scored = with_conflicts.select(
        "*",
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), 1.0 - penalty)).alias("__confidence"),
        needs_review.alias("__needs_review"),
        fixes.alias("__fixes"),
    )

    confidence = F.col("__confidence")
    verdict = (
        F.when(F.col("__has_rule").isNull(), _verdict("verified", F.lit(0.85), "vision_only"))
        .when(F.size("conflicts") == 0, _verdict("verified", F.lit(1.0), "perfect_match"))
        .when(F.col("__needs_review"), _verdict("needs_review", confidence, "manual_required"))
        .when(confidence < confidence_threshold, _verdict("conflict", confidence, "low_confidence"))
        .otherwise(_verdict("verified", confidence, "auto_resolved"))
    )
    patched = {
        fld: F.coalesce(F.element_at("__fixes", F.lit(fld)), F.col(fld)).alias(fld)
        for fld in ("title", "table_id")
    }
    rows = F.transform(
        F.filter("__pairs", lambda p: F.size(p["row"]) > 0),
        lambda p: _patched_row(p["pos"], p["row"]),
    )
    return scored.select(
        key,
        *[patched.get(c, F.col(c)) for c in passthrough],
        rows.alias("rows"),
        "conflicts",
        verdict.alias("verdict"),
    )


def verify(
    vision: DataFrame,
    rule: DataFrame,
    key: str = "key",
    confidence_threshold: float = DEFAULT_CONFIDENCE_THRESHOLD,
) -> VerifyResult:
    """Run the full double-verification dataflow."""
    return VerifyResult.of(verify_tables(vision, rule, key, confidence_threshold), key)


def review_queue(verdicts: DataFrame) -> DataFrame:
    """V13: the needs_review routing filter — a sink-side selection, not
    driver-side control flow."""
    return verdicts.filter(F.col("status") == "needs_review")


def verifier_stats(verdicts: DataFrame, conflicts: DataFrame, key: str = "key") -> DataFrame:
    """A3: the reference's mutable counters as a single aggregate row."""
    counts = verdicts.agg(
        F.count("*").alias("total_verifications"),
        F.count_if(F.col("status") == "verified").alias("verified_count"),
        F.count_if(F.col("status") == "conflict").alias("conflict_count"),
        F.count_if(F.col("status") == "needs_review").alias("needs_review_count"),
    )
    cstats = conflicts.agg(
        F.count("*").alias("total_conflicts_found"),
        F.count_if(F.col("resolution").isNotNull()).alias("conflicts_resolved"),
    )
    return counts.crossJoin(cstats)


def accuracy_metrics(
    extracted: DataFrame, golden: DataFrame, key: str = "key"
) -> DataFrame:
    """A10 (ref: docs/architecture_v04.md:515-527 — planned in the
    reference, implemented here): extraction accuracy vs ground truth at
    cell, row, and table grain in ONE pass via ROLLUP.

    Full-outer join on (key, row_idx, col_idx) so both misses (golden
    cell never extracted) and hallucinations (extracted cell not in
    golden) count as mismatches; match is null-safe equality. Output:
    one row per (grain, key[, row_idx]) with accuracy ∈ [0,1] and the
    cell count it averages over.
    """
    e = extracted.select(
        key, "row_idx", "col_idx", F.col("content").alias("_e")
    )
    g = golden.select(key, "row_idx", "col_idx", F.col("content").alias("_g"))
    j = e.join(g, [key, "row_idx", "col_idx"], "full_outer")
    match = F.col("_e").eqNullSafe(F.col("_g")).cast("double")
    return (
        j.select(key, "row_idx", match.alias("_m"))
        .rollup(key, "row_idx")
        .agg(F.avg("_m").alias("accuracy"), F.count("*").alias("n_cells"))
        .select(
            F.when(F.col("row_idx").isNotNull(), "row")
            .when(F.col(key).isNotNull(), "table")
            .otherwise("overall")
            .alias("grain"),
            key,
            "row_idx",
            F.round("accuracy", 6).alias("accuracy"),
            "n_cells",
        )
    )


# ---------------------------------------------------------------------------
# U1/U2: pluggable comparator / arbiter registries
# (ref: interfaces.py:357-409, double_verifier.py:206-236, 287-289)
# ---------------------------------------------------------------------------

# name → (v1: Column, v2: Column) -> Column<boolean>. Built-ins compile to
# native expressions (codegen); user comparators may be pandas_udf-backed
# Column functions — the registry doesn't care, anything Column-in/
# Column-out composes into the match cascade.
def _builtin_comparators():
    from datasheet_etl_spark.functions.compare import (
        numbers_match,
        text_match,
        units_match,
    )

    return {
        "numeric": lambda a, b: numbers_match(a, b),
        "unit": lambda a, b: units_match(a, b),
        "text": lambda a, b: text_match(a, b),
    }


COMPARATORS: dict = _builtin_comparators()

# name → (conflicts: DataFrame) -> Column<string resolution>
ARBITERS: dict = {
    "smart": lambda df: smart_resolution(F.col("conflict_type")),
    "vision_wins": lambda df: F.lit("vision_wins"),
    "rule_wins": lambda df: F.lit("rule_wins"),
}


def register_comparator(name: str, fn) -> None:
    """U1 extension point: fn(Column, Column) -> boolean Column."""
    COMPARATORS[name] = fn


def register_arbiter(name: str, fn) -> None:
    """U2 extension point: fn(conflicts DataFrame) -> string Column
    ('vision_wins' | 'rule_wins' per row)."""
    ARBITERS[name] = fn


def custom_match(v1, v2, comparator_names=None):
    """OR-composition of registered comparators — the cascade shape the
    reference runs (any comparator passing ⇒ values match)."""
    names = comparator_names or list(COMPARATORS)
    out = F.lit(False)
    for name in names:
        out = out | COMPARATORS[name](v1, v2)
    return out


def arbitrate_with(conflicts: DataFrame, arbiter: str = "smart") -> DataFrame:
    """V8 arbitration with a registry-selected arbiter (U2): adds
    ``resolution`` and the winner's ``resolved_value``."""
    return conflicts.withColumn("resolution", ARBITERS[arbiter](conflicts)).withColumn(
        "resolved_value",
        _resolved_value(F.col("resolution"), F.col("vision_value"), F.col("rule_value")),
    )
