"""Aggregation operators (SURVEY.md §2.4 A1–A13) + the TPC-H Q1-shaped
headline pricing summary.

Determinism note (oracle hash parity): SUM over DOUBLE is order-dependent
in floating point, and Spark/DuckDB reduce in different orders. Every
double-typed SUM/AVG here goes through an exact DECIMAL accumulation
(``SUM(CAST(x AS DECIMAL(18,6)))``) and is cast back to DOUBLE at the end —
bit-identical in both engines regardless of parallelism. COUNT/MIN/MAX and
per-row arithmetic are already exact.

Scale note: all of these are single-shuffle hash aggregates with map-side
partial aggregation (Spark plans partial_sum/partial_count before the
exchange); group-by keys are low-cardinality so AQE coalesces the
post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from f1_lakehouse_spark.registry import register
from f1_lakehouse_spark.tables import load_table


def dsum(c: Column | str, scale: int = 6) -> Column:
    """Order-independent SUM for double columns: exact decimal accumulation."""
    c = F.col(c) if isinstance(c, str) else c
    return F.sum(c.cast(f"decimal(27,{scale})")).cast("double")


def davg(c: Column | str, scale: int = 6) -> Column:
    """Order-independent AVG: exact decimal sum / count."""
    c = F.col(c) if isinstance(c, str) else c
    return F.sum(c.cast(f"decimal(27,{scale})")).cast("double") / F.count(c)


def dsum_i(c: Column | str, digits: int) -> Column:
    """:func:`dsum` for expressions whose values have at most ``digits``
    fractional decimal digits — value- and dtype-identical, ~40% faster.

    ``cast(double AS decimal(27,s))`` pays a Double.toString + BigDecimal
    parse PER ROW (the r11-measured "decimal determinism tax", ~60-70% of
    q1's runtime). When the expression's true value is an exact
    ``digits``-decimal rational, ``rint(x * 10^digits)`` recovers the same
    scaled integer in pure FP codegen (the double is within ~1e-10 of the
    true value while the nearest competing integer is 0.5 away), a long
    sum accumulated as compact decimal(20,0) (long-backed adds; promotes
    past 9.2e18 so no overflow at any SF), and one EXACT decimal rescale
    after the aggregate — (30,0) x ({digits+1},{digits}) stays under
    precision 38 so no rounding — reproduces the identical rational, and
    decimal->double is correctly rounded at any scale. The oracle twin is
    unchanged (:func:`DSUM`): cross-engine parity is inherited from the
    per-row identity.

    Domain contract (verified per-row at sf0.001/0.01/0.1, zero mismatches
    vs the decimal(27,6) cast — procedure in docs/SCALE.md "Aggregations"):
    l_quantity is integer-valued; l_extendedprice, l_discount, l_tax,
    o_totalprice, c_acctbal, s_acctbal, p_retailprice and events.value are
    exact 2-decimal values. Products compose: extprice*(1-disc) -> 4,
    *(1+tax) -> 6, profit (0.8*retail*int_qty term) -> 4. Only call this
    with expressions covered by that verified contract; anything else
    stays on :func:`dsum`.
    """
    c = F.col(c) if isinstance(c, str) else c
    scaled = F.rint(c * F.lit(float(10**digits))).cast("long")
    return (
        F.sum(scaled.cast("decimal(20,0)"))
        * F.lit(10.0**-digits).cast(f"decimal({digits + 1},{digits})")
    ).cast("double")


def davg_i(c: Column | str, digits: int) -> Column:
    """:func:`davg` via the :func:`dsum_i` integer path (same contract)."""
    c = F.col(c) if isinstance(c, str) else c
    return dsum_i(c, digits) / F.count(c)


def DSUM(expr: str, scale: int = 6) -> str:
    """Oracle-side twin of :func:`dsum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(27,{scale}))) AS DOUBLE)"


def DAVG(expr: str, scale: int = 6) -> str:
    return f"{DSUM(expr, scale)} / COUNT({expr})"


# --- A1: GROUP BY multi-key + COUNT(*) (driver_session_summary.sql:36-44) ---


@register(
    "a1_group_count",
    oracle="""
SELECT l_returnflag, l_linestatus, l_suppkey, COUNT(*) AS n_lines
FROM lineitem GROUP BY 1, 2, 3
""",
    doc="multi-key GROUP BY + COUNT(*)",
    tags=("A1",),
)
def a1_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus", "l_suppkey").agg(
        F.count("*").alias("n_lines")
    )


# --- A2: conditional SUM / filtered count (driver_session_summary.sql:40-41) -


@register(
    "a2_conditional_sum",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
           AS deep_discount_lines,
       CAST(SUM(CASE WHEN l_discount <= 0.05 THEN 1 ELSE 0 END) AS BIGINT)
           AS shallow_discount_lines
FROM lineitem GROUP BY 1
""",
    doc="SUM(CASE WHEN ... 1 ELSE 0) conditional counts",
    tags=("A2", "P9"),
)
def a2_conditional_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias(
            "deep_discount_lines"
        ),
        F.sum(F.when(F.col("l_discount") <= 0.05, 1).otherwise(0)).alias(
            "shallow_discount_lines"
        ),
    )


# --- A3: MIN over a measure (driver_session_summary.sql:42) ------------------


@register(
    "a3_min_measure",
    oracle="""
SELECT l_suppkey, MIN(l_extendedprice) AS best_price, MAX(l_extendedprice) AS worst_price
FROM lineitem GROUP BY 1
""",
    doc="MIN/MAX per group (exact on doubles)",
    tags=("A3",),
)
def a3_min_measure(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.min("l_extendedprice").alias("best_price"),
        F.max("l_extendedprice").alias("worst_price"),
    )


# --- A5: COUNT(DISTINCT) KPIs (dashboard/app.py:151-155) ---------------------


@register(
    "a5_count_distinct",
    oracle="""
SELECT COUNT(*) AS n_lines,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
""",
    doc="KPI row: COUNT(*) + three COUNT(DISTINCT)s",
    tags=("A5",),
)
def a5_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_lines"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


# --- A6: DISTINCT projection for filter domains (dashboard/app.py:39-44) -----


@register(
    "a6_distinct_values",
    oracle="""
SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS order_year
FROM orders ORDER BY order_year
""",
    doc="SELECT DISTINCT ... ORDER BY (dropdown domain)",
    tags=("A6",),
)
def a6_distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(F.year("o_orderdate").alias("order_year"))
        .distinct()
        .orderBy("order_year")
    )


# --- A7: MEDIAN per group (dashboard/app.py:231-242 pace curve) --------------


@register(
    "a7_median_curve",
    oracle="""
SELECT l_linenumber, MEDIAN(l_quantity) AS median_qty, COUNT(*) AS n
FROM lineitem GROUP BY 1
""",
    doc="exact MEDIAN per group (session pace curve analog)",
    tags=("A7",),
)
def a7_median_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linenumber").agg(
        F.median("l_quantity").alias("median_qty"), F.count("*").alias("n")
    )


# --- A8+A9: AVG readings + MAX boolean flag (notebook cell 24 weather) --------


@register(
    "a8_a9_weather_style",
    oracle=f"""
SELECT event_type,
       {DAVG("value")} AS avg_value,
       MAX(CASE WHEN value > 90 THEN 1 ELSE 0 END) AS had_spike,
       COUNT(*) AS n
FROM events GROUP BY 1
""",
    doc="AVG per group (exact decimal path) + MAX(CASE) boolean flag",
    tags=("A8", "A9"),
)
def a8_a9_weather_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        davg_i("value", 2).alias("avg_value"),
        F.max(F.when(F.col("value") > 90, 1).otherwise(0)).alias("had_spike"),
        F.count("*").alias("n"),
    )


# --- A10: MIN over timestamp (dashboard/app.py:130-137 session date) ----------


@register(
    "a10_min_timestamp",
    oracle="""
SELECT o_orderpriority, MIN(o_orderdate) AS first_order, MAX(o_orderdate) AS last_order
FROM orders GROUP BY 1
""",
    doc="MIN/MAX over TIMESTAMP per group",
    tags=("A10",),
)
def a10_min_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


# --- A11: HAVING post-aggregation predicate (notebook cell 17) ----------------


@register(
    "a11_having",
    oracle="""
SELECT user_id, COUNT(DISTINCT event_type) AS n_types, COUNT(*) AS n_events
FROM events GROUP BY 1
HAVING COUNT(DISTINCT event_type) >= 4
""",
    doc="HAVING over COUNT(DISTINCT) (consistency-audit analog)",
    tags=("A11",),
)
def a11_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.countDistinct("event_type").alias("n_types"),
            F.count("*").alias("n_events"),
        )
        .filter(F.col("n_types") >= 4)
    )


# --- A12: ordered string_agg (ai/rag_api/app.py:77-90 schema doc) -------------


@register(
    "a12_string_agg",
    oracle="""
SELECT n_regionkey, string_agg(n_name, ', ' ORDER BY n_name) AS nations
FROM nation GROUP BY 1
""",
    doc="deterministic listagg: sorted collect_list + array_join",
    tags=("A12",),
)
def a12_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ", ").alias("nations")
    )


# --- A13: not_null test compiled shape (dbt data test) ------------------------


@register(
    "a13_not_null_failures",
    oracle="""
SELECT COUNT(*) AS failures
FROM (SELECT l_orderkey FROM lineitem WHERE l_orderkey IS NULL) t
""",
    doc="dbt not_null test: count of NULL key rows (expect 0)",
    tags=("A13", "D4"),
)
def a13_not_null_failures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey")
        .filter(F.col("l_orderkey").isNull())
        .agg(F.count("*").alias("failures"))
    )


# --- Headline: TPC-H Q1-shaped pricing summary --------------------------------


@register(
    "q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {DSUM("l_quantity")} AS sum_qty,
       {DSUM("l_extendedprice")} AS sum_base_price,
       {DSUM("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       {DSUM("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       {DAVG("l_quantity")} AS avg_qty,
       {DAVG("l_extendedprice")} AS avg_price,
       {DAVG("l_discount")} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
""",
    doc="TPC-H Q1 shape: 2-key group, 8 aggregates, pushed date filter",
    tags=("A1", "A2", "A8", "bench"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum_i("l_quantity", 2).alias("sum_qty"),
            dsum_i("l_extendedprice", 2).alias("sum_base_price"),
            dsum_i(disc_price, 4).alias("sum_disc_price"),
            dsum_i(charge, 6).alias("sum_charge"),
            davg_i("l_quantity", 2).alias("avg_qty"),
            davg_i("l_extendedprice", 2).alias("avg_price"),
            davg_i("l_discount", 2).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --- SQL-path query: parameterized spark.sql + GROUP BY ordinals ---------------
# (SURVEY §2.4 A1 note: GROUP BY ordinals are honored in the SQL path via
# spark.sql.groupByOrdinal, and §2.2 P7's $param binding maps to Spark 3.4+
# parameterized SQL. This query exercises both through spark.sql.)


@register(
    "sql_path_param_ordinals",
    oracle="""
SELECT l_returnflag, CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       COUNT(*) AS n_lines, MIN(l_extendedprice) AS best_price
FROM lineitem
WHERE l_linestatus = 'F' AND l_quantity >= 25
GROUP BY 1, 2
""",
    doc="spark.sql with named parameters + GROUP BY ordinals (SQL-API path)",
    tags=("A1", "P7", "sql-api"),
)
def sql_path_param_ordinals(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_sqlpath"
    )
    return spark.sql(
        """
        SELECT l_returnflag, CAST(year(l_shipdate) AS INT) AS ship_year,
               COUNT(*) AS n_lines, MIN(l_extendedprice) AS best_price
        FROM lineitem_sqlpath
        WHERE l_linestatus = :status AND l_quantity >= :min_qty
        GROUP BY 1, 2
        """,
        args={"status": "F", "min_qty": 25},
    )


# --- moment statistics from exact sums -----------------------------------------
# stddev/variance/correlation are order-dependent under streaming algorithms
# (Spark and DuckDB both use variants of Welford — with different merge
# orders). Deriving them from DECIMAL-exact moment sums (Σx, Σx², Σxy, n)
# makes the results bit-identical across engines and parallelism, at the
# cost of the numerically-naive formula — fine at these magnitudes.


@register(
    "stats_moments",
    oracle="""
WITH m AS (
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS syy,
           CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sxy
    FROM lineitem
)
SELECT n,
       sx / n AS mean_qty,
       (sxx - sx * sx / n) / (n - 1) AS var_qty,
       sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
       (sxy - sx * sy / n)
           / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)) AS corr_qty_price
FROM m
""",
    doc="variance/stddev/correlation from decimal-exact moment sums "
    "(order-independent, unlike engine-native Welford aggregates)",
    tags=("stats", "extension"),
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    p = F.col("l_extendedprice")

    def s(expr: Column, name: str) -> Column:
        return F.sum(expr.cast("decimal(27,6)")).cast("double").alias(name)

    m = li.agg(
        F.count("*").alias("n"),
        s(q, "sx"),
        s(q * q, "sxx"),
        s(p, "sy"),
        s(p * p, "syy"),
        s(q * p, "sxy"),
    )
    n = F.col("n")
    sx, sxx, sy, syy, sxy = (F.col(c) for c in ("sx", "sxx", "sy", "syy", "sxy"))
    var_q = (sxx - sx * sx / n) / (n - F.lit(1))
    return m.select(
        "n",
        (sx / n).alias("mean_qty"),
        var_q.alias("var_qty"),
        F.sqrt(var_q).alias("stddev_qty"),
        (
            (sxy - sx * sy / n)
            / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n))
        ).alias("corr_qty_price"),
    )


# --- A14: mode / deterministic argmax -------------------------------------------------
# The aggregate vocabulary's missing members: statistical MODE (most
# frequent value) and argmax ("the ship month carrying the most revenue").
# Spark's native max_by/mode break ties arbitrarily — unusable under the
# hash-compare gate — so both are expressed as rank-1 of a TOTAL order
# (count/revenue DESC, then the value itself), which also rides the
# WindowGroupLimit map-side pruning. Two-level shape: the heavy scan
# collapses in the (flag, month) partial aggregate (<= 3 x 13 groups,
# null months included); the window only ever sorts those.


@register(
    "a14_mode_argmax",
    oracle="""
WITH per AS (
    SELECT l_returnflag, CAST(month(l_shipdate) AS BIGINT) AS ship_month,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue
    FROM lineitem GROUP BY 1, 2
),
ranked AS (
    SELECT l_returnflag, ship_month, cnt, revenue,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag
                              ORDER BY cnt DESC, ship_month NULLS FIRST) AS rn_mode,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag
                              ORDER BY revenue DESC, ship_month NULLS FIRST) AS rn_rev
    FROM per
)
SELECT m.l_returnflag,
       m.ship_month AS mode_month, m.cnt AS mode_count,
       r.ship_month AS top_revenue_month, r.revenue AS top_revenue
FROM ranked m JOIN ranked r
  ON r.l_returnflag = m.l_returnflag AND r.rn_rev = 1
WHERE m.rn_mode = 1
""",
    doc="per-flag statistical mode of ship month and revenue-argmax month, "
    "both as rank-1 of a total order (deterministic ties, unlike native "
    "mode/max_by); window sorts only the 36-group partial aggregate",
    tags=("A14", "aggregate", "mode"),
)
def a14_mode_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy(
        "l_returnflag", F.month("l_shipdate").cast("long").alias("ship_month")
    ).agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("l_extendedprice").cast("decimal(27,6)"))
        .cast("double")
        .alias("revenue"),
    )
    # ship_month is NULL where l_shipdate is NULL: pin nulls-first on BOTH
    # engines (Spark's asc default; DuckDB defaults nulls LAST) so cnt ties
    # against the null-month group rank identically
    wm = Window.partitionBy("l_returnflag").orderBy(
        F.col("cnt").desc(), F.col("ship_month").asc_nulls_first()
    )
    wr = Window.partitionBy("l_returnflag").orderBy(
        F.col("revenue").desc(), F.col("ship_month").asc_nulls_first()
    )
    # self-join on a derived frame: persist AND materialize first
    # (CLAUDE.md convention), else the lineitem aggregate + both windows
    # recompute once per join side
    ranked = per.withColumns(
        {"rn_mode": F.row_number().over(wm), "rn_rev": F.row_number().over(wr)}
    ).persist()
    ranked.count()
    m = ranked.filter(F.col("rn_mode") == 1).select(
        "l_returnflag",
        F.col("ship_month").alias("mode_month"),
        F.col("cnt").alias("mode_count"),
    )
    r = ranked.filter(F.col("rn_rev") == 1).select(
        F.col("l_returnflag").alias("rf"),
        F.col("ship_month").alias("top_revenue_month"),
        F.col("revenue").alias("top_revenue"),
    )
    out = m.join(r, m["l_returnflag"] == r["rf"]).drop("rf")
    out = out.persist()
    out.count()
    ranked.unpersist()
    return out
