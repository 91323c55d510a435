"""Custom-aggregate (UDAF) extension point: ``pandas_udf`` GROUPED_AGG.

The reference has no UDAF surface (SURVEY §2.8: `interfaces.py:357-382`
is its closest analogue — the pluggable-comparator registry, U1); this
engine's equivalent extension seam is a registry of Arrow-batched
grouped aggregates. A user extending the engine with an aggregate the
built-ins can't express registers ``fn(*pandas.Series) -> scalar`` here
and uses it directly in ``df.groupBy(...).agg(...)``.

Scale note — read before registering: a GROUPED_AGG UDAF receives the
ENTIRE group as pandas Series (no partial/map-side aggregation), so
per-group memory is O(group size). That is the right tool for
holistic aggregates (exact medians, order statistics) where no
decomposition exists; for anything decomposable (sums, moments,
sketches) use built-in expressions or a mergeable-partials shape
(`operators.relational.partial_rollup`) instead — they combine
map-side and never materialize a group on one executor. ``dsum`` is
the decomposable sum the query inventory and the streaming operators
share.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import PandasUDFType, pandas_udf


def dsum(col: Column, scale: int = 2) -> Column:
    """Order-independent (exact) sum of a double column via decimal."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


# name → (fn, return_type DDL string); mirrors verify.COMPARATORS /
# verify.ARBITERS (U1/U2). The pandas_udf object is built lazily on
# first use: creating one parses the return-type DDL through the
# ACTIVE SparkContext, so building it at registration time would force
# every registrant to run after session startup.
AGGREGATES: dict = {}
_COMPILED: dict = {}


def register_aggregate(name: str, fn, return_type: str) -> None:
    """U1-style extension point for custom aggregates: ``fn`` takes one
    or more ``pandas.Series`` (one whole group each, Arrow-batched) and
    returns a scalar of ``return_type``. Compiled on first use into a
    ``PandasUDFType.GROUPED_AGG`` pandas UDF — usable in
    ``df.groupBy(...).agg(get_aggregate(name)(col, ...))`` and over
    unbounded windows."""
    AGGREGATES[name] = (fn, return_type)
    _COMPILED.pop(name, None)


def get_aggregate(name: str):
    if name not in _COMPILED:
        fn, return_type = AGGREGATES[name]
        _COMPILED[name] = pandas_udf(fn, return_type, PandasUDFType.GROUPED_AGG)
    return _COMPILED[name]


def weighted_median_fn(values: pd.Series, weights: pd.Series) -> float:
    """Exact (lower) weighted median: the smallest value v such that
    the total weight of rows with value <= v reaches half the group's
    weight. Weights are integral (the caller casts), so the threshold
    test ``2*cum >= total`` is exact integer arithmetic — no float
    accumulation-order sensitivity; the sort on (value, weight) makes
    the scan order deterministic regardless of how Spark delivered the
    group's rows."""
    df = pd.DataFrame({"v": values, "w": weights}).dropna()
    if df.empty:
        return None
    df = df.sort_values(["v", "w"], kind="mergesort")
    total = int(df["w"].sum())
    cum = df["w"].cumsum()
    return float(df.loc[(2 * cum >= total).idxmax(), "v"])


register_aggregate("weighted_median", weighted_median_fn, "double")


def weighted_median(values: Column, weights: Column) -> Column:
    """The registered exact weighted-median aggregate (see
    :func:`weighted_median_fn`); oracled end-to-end by the
    ``t79_weighted_median_udaf`` registry entry."""
    return get_aggregate("weighted_median")(values, weights)
