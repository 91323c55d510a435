"""Unit normalization as data, not control flow.

The reference normalizes unit strings through a canonical-alias table with
case-insensitive reverse lookup and trim-fallback (ref:
double_verifier.py:121-176). Here the table is data (``UNIT_ALIASES``),
looked up by one expression, so normalization stays inside pure Column
pipelines (J2/P14 in the survey).

Unicode note: both MICRO SIGN µ (U+00B5) and GREEK SMALL MU μ (U+03BC)
appear in the wild; both alias to the canonical µ-form (ref survey §7.4).
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F

# canonical → aliases (semantics per reference double_verifier.py:121-152;
# the canonical itself also resolves case-insensitively).
UNIT_ALIASES: dict[str, list[str]] = {
    "µA": ["uA", "μA", "microamp", "micro-amp", "ua"],
    "mA": ["milliamp", "milli-amp", "ma"],
    "A": ["amp", "amps", "ampere"],
    "µV": ["uV", "μV", "microvolt"],
    "mV": ["millivolt", "mv"],
    "V": ["volt", "volts", "Volt"],
    "kV": ["kilovolt", "kv"],
    "µW": ["uW", "μW", "microwatt"],
    "mW": ["milliwatt", "mw"],
    "W": ["watt", "watts"],
    "kW": ["kilowatt", "kw"],
    "µF": ["uF", "μF", "microfarad"],
    "nF": ["nanofarad", "nf"],
    "pF": ["picofarad", "pf"],
    "µH": ["uH", "μH", "microhenry"],
    "mH": ["millihenry", "mh"],
    "nH": ["nanohenry", "nh"],
    "Ω": ["ohm", "ohms", "R"],
    "kΩ": ["kohm", "k-ohm", "kR"],
    "MΩ": ["Mohm", "megohm", "MR"],
    "Hz": ["hertz", "hz"],
    "kHz": ["kilohertz", "khz"],
    "MHz": ["megahertz", "mhz", "Mhz"],
    "GHz": ["gigahertz", "ghz"],
    "°C": ["C", "degC", "deg C", "celsius"],
    "°F": ["F", "degF", "deg F", "fahrenheit"],
    "ns": ["nanosecond", "nanosec"],
    "µs": ["us", "μs", "microsecond", "microsec"],
    "ms": ["millisecond", "millisec"],
    "s": ["sec", "second", "seconds"],
}


def unit_alias_rows() -> list[tuple[str, str]]:
    """(alias_lower, canonical) rows — the reverse-lookup dimension."""
    rows: dict[str, str] = {}
    for canonical, aliases in UNIT_ALIASES.items():
        rows[canonical.lower()] = canonical
        for alias in aliases:
            rows[alias.lower()] = canonical
    return sorted(rows.items())


def literal_map(mapping: dict, value_type: str = "string") -> Column:
    """``mapping`` as ONE map literal: a ``from_json`` of a JSON string
    literal, which the optimizer folds to a constant map. Building it
    with ``create_map`` over per-entry ``lit``s costs two py4j round
    trips per entry at every call site."""
    return F.from_json(
        F.lit(json.dumps(mapping, ensure_ascii=False, sort_keys=True)),
        f"map<string,{value_type}>",
    )


def normalize_unit(unit: Column) -> Column:
    """Expression form: alias → canonical, unknown → trimmed input,
    NULL/empty → ''. One literal-map lookup (element_at) keeps it a pure
    expression."""
    lookup = literal_map(dict(unit_alias_rows()))
    cleaned = F.trim(F.coalesce(unit.cast("string"), F.lit("")))
    return F.when(cleaned == "", "").otherwise(
        F.coalesce(F.element_at(lookup, F.lower(cleaned)), cleaned)
    )
