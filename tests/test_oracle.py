"""Every registry query with an oracle must hash-match DuckDB (t2 gate)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE
from tests.oracle_harness import compare


def _params():
    from datasheet_etl_spark.plans import oracles, registry

    reg, ora = registry(), oracles()
    return [pytest.param(name, id=name) for name in sorted(reg)]


@pytest.mark.parametrize("name", _params())
def test_query_matches_oracle(spark, name):
    from datasheet_etl_spark.plans import oracles, registry

    reg, ora = registry(), oracles()
    df = reg[name](spark, SF_ORACLE)
    if name not in ora:
        # rows-only contract: must run and return a stable schema
        assert df.columns, f"{name}: no columns"
        assert df.count() >= 0
        return
    ok, msg = compare(df, ora[name], SF_ORACLE)
    assert ok, f"{name}: {msg}"


def test_graded_window_contract():
    """Only the first 50 registry entries are graded: pin that the
    window is exactly the explicit WINDOW list, every slot oracled, and
    that every SURVEY §2.9 query Q01-Q34 keeps an oracled entry
    wherever it sits in the order."""
    from datasheet_etl_spark.plans import WINDOW, oracles, registry

    first50 = list(registry())[:50]
    assert first50 == list(WINDOW)
    ora = oracles()
    assert all(k in ora for k in first50)
    contract = {k[:3] for k in ora if k[0] == "q" and int(k[1:3]) <= 34}
    assert contract == {f"q{i:02d}" for i in range(1, 35)}


def test_no_hugeint_oracle_columns():
    """No oracle may emit a HUGEINT-typed column (r15, the t131 root
    cause). DuckDB's sum(BIGINT) is HUGEINT: a plain int through
    fetchall() — so the tuple-path compare in this suite passes — but
    decimal128(38,0) through .arrow() and float64 through .df(), which
    a typed-path canonicalizer (the driver's) hashes differently from
    Spark's int64. t131 was the only such column among 221 oracles in
    r14 and was the round's one red driver row despite value-parity at
    three sfs. LIMIT-0 type resolution keeps this registry-wide sweep
    sub-second."""
    from datasheet_etl_spark.plans import oracles

    from tests.oracle_harness import oracle_arrow_types

    offenders = []
    for name, sql in sorted(oracles().items()):
        for col, typ in oracle_arrow_types(sql, SF_ORACLE):
            if typ == "decimal128(38, 0)":
                offenders.append((name, col))
    assert not offenders, (
        f"hugeint-typed oracle columns (CAST them AS BIGINT): {offenders}"
    )
