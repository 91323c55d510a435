"""Spark's native sketch families: mergeability, exact regimes, NULLs."""

from __future__ import annotations

from functools import reduce

import pytest
from pyspark.sql import functions as F

from datasheet_etl_spark.operators.sketches import (
    hll_estimate,
    hll_merge,
    hll_partials,
)
from tests.conftest import SF_SMOKE


def _theta_partials(df, keys, col):
    return df.groupBy(*keys).agg(F.expr(f"theta_sketch_agg({col})").alias("sk"))


def _theta_merge(*partials, keys):
    u = reduce(lambda a, b: a.unionByName(b), partials)
    return u.groupBy(*keys).agg(F.expr("theta_union_agg(sk)").alias("sk"))


def _theta_estimate(sketches):
    return sketches.select(
        *[c for c in sketches.columns if c != "sk"],
        F.expr("theta_sketch_estimate(sk)").alias("n_distinct"),
    )


# (partials, merge, estimate, relative error bound vs count(DISTINCT));
# a bound of None means the estimate must EQUAL the exact count: below
# its nominal entries (4096 at the default lgNomEntries=12) a theta
# sketch retains every hash, while HLL stays approximate (lg_k=12 →
# ~1.6% rse, allow 3σ)
FAMILIES = {
    "hll": (hll_partials, hll_merge, hll_estimate, 0.05),
    "theta": (_theta_partials, _theta_merge, _theta_estimate, None),
}


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_hll_merge_equals_one_pass_and_tracks_exact(spark, family):
    """The mergeable-partials contract (t87 for HLL, t136's theta
    family): unioning independently-built shard sketches yields
    EXACTLY the one-pass sketch's estimate for every key, in any merge
    order; NULL values count as no value (adding NULL rows leaves every
    estimate unchanged); estimates track exact distincts — within the
    HLL error bound, or bit-for-bit for theta below nominal entries."""
    from datasheet_etl_spark.io import load_table

    partials, merge, estimate, rel_err = FAMILIES[family]

    def estimates(sketches):
        return {r["event_type"]: r["n_distinct"] for r in estimate(sketches).collect()}

    e = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "user_id", "event_id"
    )
    shards = [
        partials(e.filter(F.col("event_id") % 3 == i), ["event_type"], "user_id")
        for i in range(3)
    ]
    one_pass = estimates(partials(e, ["event_type"], "user_id"))
    merged = estimates(merge(*shards, keys=["event_type"]))
    # reversed merge order must agree too (associativity/commutativity)
    merged_rev = estimates(merge(*reversed(shards), keys=["event_type"]))
    assert merged == one_pass == merged_rev
    with_nulls = e.unionByName(
        e.select(
            "event_type", F.lit(None).cast("long").alias("user_id"), "event_id"
        )
    )
    assert estimates(partials(with_nulls, ["event_type"], "user_id")) == one_pass
    exact = {
        r["event_type"]: r["n"]
        for r in with_nulls.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, est in merged.items():
        if rel_err is None:
            assert exact[k] < 4096 and est == exact[k], (k, est, exact[k])
        else:
            assert abs(est - exact[k]) / exact[k] < rel_err, (k, est, exact[k])


def test_native_hll_beyond_exact_regime(spark):
    """t124's oracle rides the sparse-regime exactness; this pins the
    NATIVE Datasketches functions beyond it: at 200k distinct values
    the estimate lands within the documented lgConfigK=12 error
    (~1.6% RSE — assert 5%), and unioning two overlapping sketches
    equals sketching the union (mergeability, the property that makes
    the two-level partial path correct at any scale)."""
    from pyspark.sql import functions as F

    n = 200_000
    df = spark.range(n)
    est = df.select(
        F.expr("hll_sketch_estimate(hll_sketch_agg(id))").alias("e")
    ).collect()[0]["e"]
    assert abs(est - n) / n < 0.05, est

    # mergeability: sketch(A) ∪ sketch(B) == sketch(A ∪ B), compared
    # at the ESTIMATE level (the sketches' user-visible contract)
    a = df.filter("id < 120000")
    b = df.filter("id >= 80000")
    union_est = (
        a.select(F.expr("hll_sketch_agg(id)").alias("s"))
        .unionAll(b.select(F.expr("hll_sketch_agg(id)").alias("s")))
        .select(
            F.expr("hll_sketch_estimate(hll_union_agg(s))").alias("e")
        )
        .collect()[0]["e"]
    )
    whole_est = df.select(
        F.expr("hll_sketch_estimate(hll_sketch_agg(id))").alias("e")
    ).collect()[0]["e"]
    assert union_est == whole_est, (union_est, whole_est)


def test_kll_native_exact_regime_and_convention(spark):
    """t135's basis: below k a KLL sketch retains every item, and its
    quantile convention is "smallest item whose inclusive rank i/n ≥ q"
    (ceil(q·n), 1-based) — pinned on a frame where every index is
    distinguishable. Beyond k the sketch goes approximate: rank error
    within the documented bound (±1.7% at k=200, 99% conf — checked
    loosely at 3%)."""
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 100.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    sk = df.agg(F.expr("kll_sketch_agg_double(v, 200)").alias("s"))
    got = sk.select(
        *[
            F.expr(f"kll_sketch_get_quantile_double(s, {q}d)").alias(f"q{i}")
            for i, q in enumerate([0.0, 0.25, 0.5, 0.75, 1.0])
        ]
    ).first()
    assert tuple(got) == (1.0, 2.0, 4.0, 6.0, 100.0), tuple(got)

    # beyond-exact regime: 50k distinct values through k=200
    big = spark.range(50_000).select(
        (F.col("id") + 1).cast("double").alias("v")
    )
    est = big.agg(
        F.expr(
            "kll_sketch_get_quantile_double(kll_sketch_agg_double(v, 200),"
            " 0.5d)"
        ).alias("m")
    ).first()["m"]
    assert abs(est - 25_000) / 50_000 < 0.03, est


def test_theta_set_ops_exact_regime_and_null_empty_set(spark):
    """t136's basis: below the nominal entry count theta sketches are
    exact, set operators follow set algebra, and a NULL sketch (an
    empty FILTER arm) behaves as the empty set through union /
    intersection / difference."""
    li = spark.createDataFrame(
        [(1, "R", 10), (1, "R", 11), (1, "A", 11), (1, "A", 12),
         (2, "R", 20), (2, "A", 21), (3, "R", 30), (4, "A", 40),
         (4, "A", 41)],
        "p long, f string, s long",
    )
    g = li.groupBy("p").agg(
        F.expr("theta_sketch_agg(s) FILTER (WHERE f = 'R')").alias("sr"),
        F.expr("theta_sketch_agg(s) FILTER (WHERE f = 'A')").alias("sa"),
    )
    rows = {
        r["p"]: (r["u"], r["i"], r["d"])
        for r in g.select(
            "p",
            F.expr("theta_sketch_estimate(theta_union(sr, sa))").alias("u"),
            F.expr(
                "theta_sketch_estimate(theta_intersection(sr, sa))"
            ).alias("i"),
            F.expr(
                "theta_sketch_estimate(theta_difference(sr, sa))"
            ).alias("d"),
        ).collect()
    }
    # p=3 pins NULL as the SECOND operand (no A rows), p=4 as the
    # FIRST (no R rows) — both directions of the empty-set contract
    assert rows == {
        1: (3, 1, 1), 2: (2, 0, 1), 3: (1, 0, 1), 4: (2, 0, 0)
    }, rows
