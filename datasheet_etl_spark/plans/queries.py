"""The declared query inventory (survey §2.9) with DuckDB oracle SQL.

Each query is a function ``(spark, sf_dir) -> DataFrame`` registered in
``QUERIES``; its ANSI-SQL equivalent for the DuckDB oracle lives in
``ORACLES`` under the same key. Column names are aliased identically on
both sides (the driver's compare sorts columns by name before hashing).

Determinism rules used throughout:

- Sums/averages of doubles go through an exact DECIMAL(18,s) cast on BOTH
  sides (``dsum``/``SQL_DSUM``): double summation is order-dependent and
  Spark's partial aggregation order differs from DuckDB's, so a plain
  ``sum(double)`` can differ in the last ulps and flip the 6-decimal
  rounding the driver hashes. Decimal sums are exact, then cast back to
  double identically.
- Raw ``events.ts`` values are never projected: the parquet stores
  nanoseconds, Spark truncates to microseconds, DuckDB keeps ns — any
  projected raw timestamp would hash-mismatch. Queries project derived
  epoch-second/bucket values computed identically on both sides
  (``epoch_us(ts)`` in DuckDB == Spark's microsecond timestamps).
- Every query ends in a deterministic ORDER BY or is a bounded aggregate.

Spark-first scale notes are on each query: what broadcasts, what
shuffles, and why the plan survives 100 TB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datasheet_etl_spark.functions import (
    assess_severity,
    normalize_text,
    severity_penalty,
    tokens,
)
from datasheet_etl_spark.functions.aggregates import dsum
from datasheet_etl_spark.io import load_table
from datasheet_etl_spark.operators.relational import (
    dynamic_pivot,
    incremental_anti,
    sanitize_identifier,
    sessionize,
    top_k_per_group,
    unpivot,
    zip_frames,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def sql_dsum(expr: str, scale: int = 2) -> str:
    return f"CAST(sum(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Q01–Q10: scans, scalar functions, joins
# ---------------------------------------------------------------------------


@register(
    "q01_scan_filter",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_quantity > 25
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q01_scan_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-project-filter (S2/P4/P6). Both predicates and the 4-column
    projection push into the parquet scan (check PushedFilters/ReadSchema)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") < "1996-01-01") & (F.col("l_quantity") > 25))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "q02_normalize",
    r"""
    SELECT doc_id,
           regexp_replace(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                          '[.,;:!?]', '', 'g') AS norm_text,
           length(text) AS text_len
    FROM documents
    ORDER BY doc_id
    """,
)
def q02_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String normalize (P4/P15) — the reference's text-normalize semantics
    as one codegen'd projection; no shuffle at all."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        normalize_text(F.col("text")).alias("norm_text"),
        F.length("text").alias("text_len"),
    ).orderBy("doc_id")


@register(
    "q03_regex_extract_cast",
    """
    SELECT p_partkey,
           TRY_CAST(NULLIF(regexp_extract(p_brand, '([0-9]+)', 1), '') AS DOUBLE) AS brand_num,
           TRY_CAST(NULLIF(regexp_extract(p_name, '([0-9]+)', 1), '') AS DOUBLE) AS name_num
    FROM part
    ORDER BY p_partkey
    """,
)
def q03_regex_extract_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp extract + cast, NULL on no-match (P8/P13). ``name_num`` is
    always NULL (p_name has no digits) — exercises the NULL-on-fail leg."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.nullif(F.regexp_extract("p_brand", r"([0-9]+)", 1), F.lit("")).cast("double").alias("brand_num"),
        F.nullif(F.regexp_extract("p_name", r"([0-9]+)", 1), F.lit("")).cast("double").alias("name_num"),
    ).orderBy("p_partkey")


@register(
    "q04_case_classify",
    """
    SELECT p_partkey,
           CASE WHEN p_size < 10 THEN 'small'
                WHEN p_size < 30 THEN 'medium'
                ELSE 'large' END AS size_class,
           CASE WHEN p_type = 'PROMO' THEN 'promotional'
                WHEN p_type = 'ECONOMY' THEN 'budget'
                ELSE lower(p_type) END AS type_class
    FROM part
    ORDER BY p_partkey
    """,
)
def q04_case_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """when/otherwise classification ladder (P11/V5)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.when(F.col("p_size") < 10, "small")
        .when(F.col("p_size") < 30, "medium")
        .otherwise("large")
        .alias("size_class"),
        F.when(F.col("p_type") == "PROMO", "promotional")
        .when(F.col("p_type") == "ECONOMY", "budget")
        .otherwise(F.lower("p_type"))
        .alias("type_class"),
    ).orderBy("p_partkey")


@register(
    "q05_broadcast_join",
    """
    SELECT c_custkey, c_name, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    ORDER BY c_custkey
    """,
)
def q05_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star equi-join with explicitly broadcast dims (J2). At 100 TB the
    fact side never shuffles: both dims ship to every executor."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
        .orderBy("c_custkey")
    )


@register(
    "q06_positional_join",
    """
    WITH a AS (
      SELECT l_orderkey, l_linenumber, l_quantity,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber, l_quantity) AS pos
      FROM lineitem WHERE l_quantity > 10
    ), b AS (
      SELECT l_orderkey, l_linenumber, l_discount,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber, l_discount) AS pos
      FROM lineitem WHERE l_discount > 0.02
    )
    SELECT a.l_orderkey AS l_orderkey, a.pos AS pos,
           a.l_linenumber AS line_a, b.l_linenumber AS line_b,
           a.l_quantity AS l_quantity, b.l_discount AS l_discount
    FROM a JOIN b ON a.l_orderkey = b.l_orderkey AND a.pos = b.pos
    ORDER BY a.l_orderkey, a.pos
    """,
)
def q06_positional_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional zip join (J1) via the reusable ``zip_frames`` helper.
    Inner-on-pos reproduces Python zip truncation semantics.
    (l_orderkey, l_linenumber) is NOT unique in the testdata, so each
    side tie-breaks on its payload column — any remaining ties are
    between identical rows and cannot change the output."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 10).select("l_orderkey", "l_linenumber", "l_quantity")
    b = li.filter(F.col("l_discount") > 0.02).select("l_orderkey", "l_linenumber", "l_discount")
    zipped = zip_frames(
        a,
        b,
        ["l_orderkey"],
        ["l_linenumber", "l_quantity"],
        right_order_keys=["l_linenumber", "l_discount"],
    )
    return zipped.select(
        "l_orderkey",
        "pos",
        F.col("l_linenumber_l").alias("line_a"),
        F.col("l_linenumber_r").alias("line_b"),
        "l_quantity",
        "l_discount",
    ).orderBy("l_orderkey", "pos")


@register(
    "q07_range_join",
    """
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS INTEGER) AS ship_lag_days
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q07_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join (J3): equi-key + BETWEEN residual. Catalyst
    plans the equi part as the join key and the range as a residual
    filter — the scalable shape for point-in-interval joins."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= o.o_orderdate + F.expr("INTERVAL 90 DAYS"))
    )
    return (
        li.join(o, cond)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")).alias(
                "ship_lag_days"
            ),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "q08_anti_join",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
    )
    ORDER BY o_orderkey
    """,
)
def q08_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (J4/S7) — the incremental-skip shape."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    out = incremental_anti(
        o, li.withColumnRenamed("l_orderkey", "o_orderkey"), ["o_orderkey"]
    )
    return out.select("o_orderkey", "o_orderstatus", "o_totalprice").orderBy("o_orderkey")


@register(
    "q09_semi_join",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def q09_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join — EXISTS."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    return c.join(o, "c_custkey", "left_semi").select("c_custkey", "c_name").orderBy("c_custkey")


@register(
    "q10_tolerance_predicate",
    """
    SELECT l_orderkey, l_linenumber,
           round(abs(l_extendedprice - l_extendedprice * (1 - l_discount))
                 / greatest(abs(l_extendedprice), abs(l_extendedprice * (1 - l_discount))), 6)
             AS rel_diff,
           (abs(l_extendedprice - l_extendedprice * (1 - l_discount))
            / greatest(abs(l_extendedprice), abs(l_extendedprice * (1 - l_discount)))) <= 0.01
             AS within_tol
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q10_tolerance_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1%-relative-tolerance comparator (V1) over generated pairs.
    Pure expression — identical IEEE arithmetic on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    a = F.col("l_extendedprice")
    b = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rel = F.abs(a - b) / F.greatest(F.abs(a), F.abs(b))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(rel, 6).alias("rel_diff"),
        (rel <= 0.01).alias("within_tol"),
    ).orderBy("l_orderkey", "l_linenumber")


# ---------------------------------------------------------------------------
# Q11–Q15: aggregation / reshape
# ---------------------------------------------------------------------------


@register(
    "q11_tpch_q1",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
           {sql_dsum('l_quantity')} / count(*) AS avg_qty,
           {sql_dsum('l_extendedprice')} / count(*) AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q11_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 core (A3/A5): partial+final hash aggregate, fully
    codegen'd. The flagship query. Decimal-exact sums keep the result
    bit-stable regardless of partial-aggregation order — which also makes
    the answer identical on 1 core or 1000 executors."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price, 4).alias("sum_disc_price"),
            (dsum(F.col("l_quantity")) / F.count("*")).alias("avg_qty"),
            (dsum(F.col("l_extendedprice")) / F.count("*")).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q12_conditional_agg",
    """
    SELECT count(*) AS total,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending,
           round(count(*) FILTER (WHERE o_orderstatus = 'F')
                 / greatest(count(*), 1), 6) AS finished_rate
    FROM orders
    """,
)
def q12_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_if-style conditional aggregation (A5: batch success/failed/
    skipped counters as one aggregate, not mutable state)."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("total"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        F.count_if(F.col("o_orderstatus") == "O").alias("n_open"),
        F.count_if(F.col("o_orderstatus") == "P").alias("n_pending"),
        F.round(
            F.count_if(F.col("o_orderstatus") == "F") / F.greatest(F.count("*"), F.lit(1)), 6
        ).alias("finished_rate"),
    )


@register(
    "q13_rollup",
    f"""
    SELECT n_name, o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, o_orderpriority)
    ORDER BY n_name NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q13_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (A10's multi-grain accuracy shape)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    return (
        joined.rollup("n_name", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), dsum(F.col("o_totalprice")).alias("total_price"))
        .orderBy(
            F.col("n_name").asc_nulls_first(), F.col("o_orderpriority").asc_nulls_first()
        )
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@register(
    "q14_dynamic_pivot",
    "SELECT n_name,\n"
    + ",\n".join(
        f"       {sql_dsum(f'''CASE WHEN o_orderpriority = '{p}' THEN o_totalprice END''')}"
        f" AS {sanitize_identifier(p)}"
        for p in _PRIORITIES
    )
    + """
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def q14_dynamic_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic pivot (A1/S10/Q14): two-pass — observed keys collected,
    sorted (the reference's key-union contract), explicit value list so
    the plan is deterministic."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    piv = dynamic_pivot(
        joined.select("n_name", "o_orderpriority", "o_totalprice"),
        ["n_name"],
        "o_orderpriority",
        dsum(F.col("o_totalprice")),
    )
    return piv.orderBy("n_name")


@register(
    "q15_unpivot",
    "SELECT n_name,\n"
    "       CASE o_orderpriority\n"
    + "".join(
        f"         WHEN '{p}' THEN '{sanitize_identifier(p)}'\n" for p in _PRIORITIES
    )
    + f"""       END AS priority,
           {sql_dsum('o_totalprice')} AS total
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, o_orderpriority
    ORDER BY n_name, priority
    """,
)
def q15_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/stack (A2): the Q14 result back to long form. stack() is a
    pure projection — the only shuffle is the one aggregate underneath."""
    piv = q14_dynamic_pivot(spark, sf_dir)
    value_cols = [c for c in piv.columns if c != "n_name"]
    long = unpivot(piv, ["n_name"], value_cols, key_col="priority", value_col="total")
    return long.filter(F.col("total").isNotNull()).orderBy("n_name", "priority")


# ---------------------------------------------------------------------------
# Q16–Q21: window functions
# ---------------------------------------------------------------------------


@register(
    "q16_topk_per_group",
    """
    SELECT c_nationkey, c_custkey, c_acctbal, rn
    FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    )
    WHERE rn <= 3
    ORDER BY c_nationkey, rn
    """,
)
def q16_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (W5) via the reusable helper; unique tiebreak on
    c_custkey makes it deterministic."""
    c = _t(spark, sf_dir, "customer")
    top = top_k_per_group(
        c.select("c_nationkey", "c_custkey", "c_acctbal"),
        ["c_nationkey"],
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
        k=3,
        keep_rank=True,
    )
    return top.orderBy("c_nationkey", "rn")


@register(
    "q17_forward_fill",
    """
    SELECT event_id, user_id,
           last_value(purchase_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM (
      SELECT event_id, user_id,
             CASE WHEN event_type = 'purchase' THEN value END AS purchase_value
      FROM events
    )
    ORDER BY user_id, event_id
    """,
)
def q17_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (W6): last non-NULL purchase value carried forward
    per user — the reference's merged-header spread as a window op."""
    e = _t(spark, sf_dir, "events")
    sparse = e.select(
        "event_id",
        "user_id",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("purchase_value"),
    )
    from datasheet_etl_spark.operators.relational import forward_fill

    filled = forward_fill(sparse, ["user_id"], ["event_id"], "purchase_value", "filled_value")
    return filled.select("event_id", "user_id", "filled_value").orderBy("user_id", "event_id")


@register(
    "q18_sessionize",
    f"""
    WITH ordered AS (
      SELECT user_id, event_id, value,
             epoch_us(ts) / 1000000.0 AS ts_sec,
             lag(epoch_us(ts) / 1000000.0) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_sec
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, value,
             CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec > 1800 THEN 1 ELSE 0 END AS is_start
      FROM ordered
    ), sessions AS (
      SELECT user_id, event_id, value,
             CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(event_id) AS first_event,
           max(event_id) AS last_event,
           {sql_dsum('value')} AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def q18_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize (W1/W8 idiom): gap>30min starts a session; session id =
    running sum of starts. One shuffle on user_id shared by the window
    and the final aggregate."""
    e = _t(spark, sf_dir, "events")
    sess = sessionize(
        e.select("user_id", "event_id", "value", "ts"),
        ["user_id"],
        "ts",
        gap=1800,
        order_keys=["event_id"],
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
            dsum(F.col("value")).alias("session_value"),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "q19_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
           round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
           round(min(l_extendedprice), 6) AS min_price,
           round(max(l_extendedprice), 6) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q19_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (W4): Spark ``percentile`` == DuckDB
    ``quantile_cont`` (linear interpolation). ``percentile_approx`` is
    the 100 TB path; exact is used here so the oracle hash matches."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("median_price"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90_price"),
            F.round(F.min("l_extendedprice"), 6).alias("min_price"),
            F.round(F.max("l_extendedprice"), 6).alias("max_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q20_running_total",
    """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def q20_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame aggregate (A9): running total per customer, decimal-
    exact so the prefix sums are bit-stable."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
    return o.select("o_custkey", "o_orderkey", running.alias("running_total")).orderBy(
        "o_custkey", "o_orderkey"
    )


@register(
    "q21_ranking_trio",
    """
    SELECT s_nationkey, s_suppkey, s_acctbal,
           rank() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS rnk,
           dense_rank() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS drnk,
           row_number() OVER (PARTITION BY s_nationkey
                              ORDER BY s_acctbal DESC, s_suppkey) AS rn
    FROM supplier
    ORDER BY s_nationkey, rn
    """,
)
def q21_ranking_trio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / row_number over supplier balances."""
    s = _t(spark, sf_dir, "supplier")
    wv = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc())
    wr = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    return s.select(
        "s_nationkey",
        "s_suppkey",
        "s_acctbal",
        F.rank().over(wv).alias("rnk"),
        F.dense_rank().over(wv).alias("drnk"),
        F.row_number().over(wr).alias("rn"),
    ).orderBy("s_nationkey", "rn")


# ---------------------------------------------------------------------------
# Q22–Q30: set ops, sort/limit, distinct, arrays, json, scalars, severity
# ---------------------------------------------------------------------------


@register(
    "q22_set_ops",
    """
    WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
         y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
    SELECT 'both' AS tag, o_custkey FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
    UNION ALL
    SELECT 'only_1995' AS tag, o_custkey FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)
    UNION ALL
    SELECT 'only_1996' AS tag, o_custkey FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y95)
    ORDER BY tag, o_custkey
    """,
)
def q22_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over two order-year slices."""
    o = _t(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    tagged = (
        y95.intersect(y96).withColumn("tag", F.lit("both"))
        .unionByName(y95.exceptAll(y96).withColumn("tag", F.lit("only_1995")))
        .unionByName(y96.exceptAll(y95).withColumn("tag", F.lit("only_1996")))
    )
    return tagged.select("tag", "o_custkey").orderBy("tag", "o_custkey")


@register(
    "q23_sort_limit",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q23_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N: Spark plans TakeOrderedAndProject — per-partition
    top-100 then a tiny driver merge, no full sort at any scale."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "q24_distinct_exact",
    """
    SELECT count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(*) AS n_rows
    FROM lineitem
    """,
)
def q24_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts (oracle-matched half of Q24)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.count("*").alias("n_rows"),
    )


@register("q24b_approx_distinct")  # no oracle: sketch values are engine-specific
def q24b_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog approx distinct — the 100 TB path (single pass, fixed
    memory). Rows-only check: sketch estimates are engine-specific."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_suppkey").alias("approx_suppliers"),
    )


@register(
    "q25_array_ops",
    """
    SELECT l_orderkey,
           len(list_sort(list(l_linenumber))) AS n_lines,
           array_to_string(list_sort(list(l_linenumber)), ',') AS lines_csv,
           len(list_intersect(list_sort(list(l_linenumber)), [1, 2, 3])) AS n_common,
           len(list_sort(list(l_linenumber))) AS map_n
    FROM lineitem
    GROUP BY l_orderkey
    ORDER BY l_orderkey
    """,
)
def q25_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/map ops (P2/P5/A6): collect_list → sort → size / intersect /
    join-to-string, plus a map_from_arrays round-trip (projected back to a
    scalar so the hash is engine-neutral)."""
    li = _t(spark, sf_dir, "lineitem")
    grouped = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_linenumber")).alias("lines")
    )
    m = F.map_from_arrays(F.array(F.lit("n")), F.array(F.size("lines")))
    return grouped.select(
        "l_orderkey",
        F.size("lines").alias("n_lines"),
        F.array_join(F.col("lines").cast("array<string>"), ",").alias("lines_csv"),
        F.size(F.array_intersect("lines", F.array(F.lit(1), F.lit(2), F.lit(3)))).alias(
            "n_common"
        ),
        F.element_at(m, "n").alias("map_n"),
    ).orderBy("l_orderkey")


@register(
    "q26_json_roundtrip",
    """
    SELECT event_id,
           CAST(props->>'$.k' AS INTEGER) AS k_val,
           to_json(struct_pack(event_id := event_id, event_type := event_type)) AS js,
           json_extract_string(
             to_json(struct_pack(event_id := event_id, event_type := event_type)),
             '$.event_type') AS rt_type
    FROM events
    ORDER BY event_id
    """,
)
def q26_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON parse + to_json/from_json round trip (P17/S9)."""
    e = _t(spark, sf_dir, "events")
    js = F.to_json(F.struct("event_id", "event_type"))
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("int").alias("k_val"),
        js.alias("js"),
        F.get_json_object(js, "$.event_type").alias("rt_type"),
    ).orderBy("event_id")


@register(
    "q27_scalar_pack",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INTEGER) AS days_to_98,
           CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS due_date,
           round(o_totalprice, 1) AS rounded_price,
           abs(o_totalprice - 100000.0) AS abs_dev,
           greatest(o_totalprice, 50000.0) AS floor_50k,
           least(o_totalprice, 200000.0) AS cap_200k,
           concat(o_orderstatus, '-', o_orderpriority) AS status_prio,
           substring(o_orderpriority, 1, 1) AS prio_code,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_decoded
    FROM orders
    ORDER BY o_orderkey
    """,
)
def q27_scalar_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide scalar pack: date/math/string built-ins in one projection."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.datediff(F.lit("1998-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_98"
        ),
        F.date_add(F.col("o_orderdate").cast("date"), 30).cast("string").alias("due_date"),
        F.round("o_totalprice", 1).alias("rounded_price"),
        F.abs(F.col("o_totalprice") - 100000.0).alias("abs_dev"),
        F.greatest(F.col("o_totalprice"), F.lit(50000.0)).alias("floor_50k"),
        F.least(F.col("o_totalprice"), F.lit(200000.0)).alias("cap_200k"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias(
            "status_decoded"
        ),
    ).orderBy("o_orderkey")


@register(
    "q28_severity_ladder",
    """
    SELECT severity, count(*) AS n
    FROM (
      SELECT CASE
               WHEN abs(l_extendedprice - l_extendedprice * (1 - l_discount))
                    / greatest(abs(l_extendedprice), abs(l_extendedprice * (1 - l_discount)))
                    > 0.10 THEN 'HIGH'
               WHEN abs(l_extendedprice - l_extendedprice * (1 - l_discount))
                    / greatest(abs(l_extendedprice), abs(l_extendedprice * (1 - l_discount)))
                    > 0.05 THEN 'MEDIUM'
               ELSE 'LOW' END AS severity
      FROM lineitem
    )
    GROUP BY severity
    ORDER BY severity
    """,
)
def q28_severity_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Severity assessment ladder (V6) over the Q10 pairs, via the
    library's assess_severity expression (no critical-param context).

    The regex-heavy numeric parse (the reference's parse-on-demand
    semantics) is projected ONCE in a prior select: codegen does not
    CSE across when-branches, so inlining pct_diff re-parsed the
    strings ~8× per row (~6× slower measured end to end)."""
    from datasheet_etl_spark.functions.compare import severity_from_diff
    from datasheet_etl_spark.functions.scalar import extract_number

    li = _t(spark, sf_dir, "lineitem")
    a = F.col("l_extendedprice").cast("string")
    b = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("string")
    n1, n2 = extract_number(a), extract_number(b)
    parsed = li.select(n1.alias("n1"), n2.alias("n2"))
    mx = F.greatest(F.abs(F.col("n1")), F.abs(F.col("n2")))
    diff = F.when(
        F.col("n1").isNotNull() & F.col("n2").isNotNull() & (mx > 0),
        F.abs(F.col("n1") - F.col("n2")) / mx,
    )
    sev = severity_from_diff(F.lit("row[0].price"), diff, F.lit(""))
    return (
        parsed.select(sev.alias("severity"))
        .groupBy("severity")
        .agg(F.count("*").alias("n"))
        .orderBy("severity")
    )


@register(
    "q29_confidence_agg",
    """
    SELECT user_id,
           round(greatest(0.0, least(1.0, 1.0 - sum(
             CASE WHEN value < 100 THEN 0.5 ELSE 1.0 END *
             CASE event_type
               WHEN 'error' THEN 0.20
               WHEN 'purchase' THEN 0.10
               WHEN 'click' THEN 0.05
               ELSE 0.02 END))), 6) AS confidence,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q29_confidence_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence scoring (V10): 1 − Σ severity-penalty (halved when
    resolved), clamped to [0,1] — the reference's mutable counter as a
    pure aggregate. Penalties are multiples of 0.005 so round(6) is
    fp-stable across engines."""
    e = _t(spark, sf_dir, "events")
    severity = (
        F.when(F.col("event_type") == "error", "CRITICAL")
        .when(F.col("event_type") == "purchase", "HIGH")
        .when(F.col("event_type") == "click", "MEDIUM")
        .otherwise("LOW")
    )
    penalty = severity_penalty(severity, F.col("value") < 100)
    return (
        e.groupBy("user_id")
        .agg(
            F.round(
                F.greatest(F.lit(0.0), F.least(F.lit(1.0), 1.0 - F.sum(penalty))), 6
            ).alias("confidence"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


@register(
    "q30_idempotent_rerun",
    """
    WITH agg AS (
      SELECT l_returnflag, l_linestatus FROM lineitem GROUP BY 1, 2
    ), processed AS (
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    )
    SELECT count(*) AS new_groups
    FROM agg a
    WHERE NOT EXISTS (
      SELECT 1 FROM processed p
      WHERE p.l_returnflag = a.l_returnflag AND p.l_linestatus = a.l_linestatus
    )
    """,
)
def q30_idempotent_rerun(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent rerun (S7/J4): re-running the Q11 grouping against the
    processed-keys table through the incremental anti-join yields zero
    new groups — exactly-once per key by construction."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(F.count("*").alias("n")).drop("n")
    processed = li.select("l_returnflag", "l_linestatus").distinct()
    fresh = incremental_anti(agg, processed, ["l_returnflag", "l_linestatus"])
    return fresh.agg(F.count("*").alias("new_groups"))


# ---------------------------------------------------------------------------
# Q31–Q34: streaming-shaped windows, dedup, similarity, text (batch mode)
# ---------------------------------------------------------------------------


@register(
    "q31_tumbling_window",
    f"""
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start_sec,
           event_type,
           count(*) AS n,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start_sec, event_type
    """,
)
def q31_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows (Q31, batch mode for the oracle; the same
    query runs under Structured Streaming with a watermark in the
    streaming module). Window starts are projected as epoch seconds —
    engine-neutral, ns-truncation-proof."""
    e = _t(spark, sf_dir, "events")
    win = F.window("ts", "1 hour")
    return (
        e.groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum(F.col("value")).alias("total_value"))
        .select(
            F.col("w.start").cast("long").alias("window_start_sec"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("window_start_sec", "event_type")
    )


@register(
    "q31b_sliding_window",
    f"""
    SELECT (epoch_us(ts) // 900000000) * 900 - k * 900 AS window_start_sec,
           count(*) AS n,
           {sql_dsum('value')} AS total_value
    FROM events, (SELECT unnest([0, 1, 2, 3]) AS k)
    GROUP BY 1
    ORDER BY window_start_sec
    """,
)
def q31b_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/15min windows: each event lands in exactly 4 windows;
    Spark's window() explodes them natively, the oracle unnests k=0..3."""
    e = _t(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "15 minutes")
    return (
        e.groupBy(win.alias("w"))
        .agg(F.count("*").alias("n"), dsum(F.col("value")).alias("total_value"))
        .select(F.col("w.start").cast("long").alias("window_start_sec"), "n", "total_value")
        .orderBy("window_start_sec")
    )


@register(
    "q32_dedup_latest",
    """
    SELECT user_id, event_type, event_id, value
    FROM (
      SELECT user_id, event_type, event_id, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    ORDER BY user_id, event_type
    """,
)
def q32_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (Q32): keep the latest event per business key —
    dropDuplicates implemented as deterministic top-1-per-group (W5),
    which unlike dropDuplicates has a defined winner under parallelism."""
    e = _t(spark, sf_dir, "events")
    deduped = top_k_per_group(
        e.select("user_id", "event_type", "event_id", "value"),
        ["user_id", "event_type"],
        [F.col("event_id").desc()],
        k=1,
    )
    return deduped.orderBy("user_id", "event_type")


@register(
    "q33_similarity_topk",
    """
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                       x -> x <> '')) AS ts
      FROM documents
    ), probes AS (SELECT doc_id AS probe_id, ts AS pts FROM toks WHERE doc_id < 5)
    SELECT probe_id, doc_id,
           round(jac, 6) AS jaccard, rn AS rank
    FROM (
      SELECT p.probe_id, t.doc_id,
             len(list_intersect(p.pts, t.ts))
               / len(list_distinct(list_concat(p.pts, t.ts))) AS jac,
             row_number() OVER (PARTITION BY p.probe_id
                                ORDER BY len(list_intersect(p.pts, t.ts))
                                      / len(list_distinct(list_concat(p.pts, t.ts))) DESC,
                                      t.doc_id) AS rn
      FROM probes p CROSS JOIN toks t
      WHERE t.doc_id <> p.probe_id
    )
    WHERE rn <= 5
    ORDER BY probe_id, rank
    """,
)
def q33_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard top-k (Q33): the exact-similarity baseline the
    MinHash/LSH path (training ops) approximates. The probe side is tiny
    → broadcast, so the corpus never shuffles."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.array_distinct(tokens(F.col("text"))).alias("ts"))
    probes = (
        toks.filter(F.col("doc_id") < 5)
        .withColumnRenamed("doc_id", "probe_id")
        .withColumnRenamed("ts", "pts")
    )
    pairs = F.broadcast(probes).crossJoin(toks).filter(F.col("doc_id") != F.col("probe_id"))
    jac = F.size(F.array_intersect("pts", "ts")) / F.size(F.array_union("pts", "ts"))
    scored = pairs.select("probe_id", "doc_id", jac.alias("jac"))
    top = top_k_per_group(
        scored,
        ["probe_id"],
        [F.col("jac").desc(), F.col("doc_id").asc()],
        k=5,
        keep_rank=True,
        rank_col="rank",
    )
    return top.select(
        "probe_id", "doc_id", F.round("jac", 6).alias("jaccard"), "rank"
    ).orderBy("probe_id", "rank")


@register(
    "q34_wordcount",
    """
    SELECT token, count(*) AS n FROM (
      SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                x -> x <> '')) AS token
      FROM documents
    )
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 100
    """,
)
def q34_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-count top-100 (Q34): tokenize → explode → hash-aggregate →
    bounded top-N (TakeOrderedAndProject, no global sort)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(100)
    )
