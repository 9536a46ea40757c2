"""Gold-layer model shapes (reference transform/models/gold/*.sql).

``flagship_supplier_summary`` re-expresses the reference's
``driver_session_summary`` (reference
``transform/models/gold/driver_session_summary.sql``, via its compiled
artifact — the source Jinja is corrupted, SURVEY.md §2.11 D1) over the
synthetic ``lineitem`` table:

- partition keys (season, round, grand_prix, session_code, driver,
  drivernumber, team) → (ship_year, l_returnflag, l_linestatus, l_suppkey)
- ``laptime IS NOT NULL`` in/out-lap filter (line 4) → ``net_price IS NOT
  NULL`` (zero-discount lines get a NULL net price)
- conditional pit-lane aggs (lines 40-41) → discounted/taxed line counts
- personal-best ROW_NUMBER window, NULLS LAST (lines 20-35) → cheapest
  net-price line per key group
- 7-key LEFT JOIN + COALESCE(...,0) (lines 46-59) → same shape on 4 keys

``team_summary`` re-expresses ``team_event_summary`` (reference
``transform/models/gold/team_event_summary.sql:7-15``): re-aggregation of
the flagship output by a coarser key — SUM of SUMs / MIN of MINs, the
classic partial→final decomposition.

Both shapes are frame-taking bodies (``supplier_summary(lineitem)``,
``flag_summary(supplier_level)``); the registered queries wrap them over
``load_table`` and the medallion's gold models (``plans/medallion.py``) run
them over silver, so each gold shape has one definition.

Scale notes: one shuffle on the 4 partition keys serves the window AND the
(fused, r11) aggregate — the whole query is a single lineitem scan, a
single Exchange, one Sort+Window and one aggregate pair; the reference's
agg-LEFT JOIN-agg formulation is kept verbatim in the oracle, which proves
the fused result identical. Window ordering carries unique tiebreakers
(l_orderkey, l_linenumber) so the plan is deterministic under any
parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from f1_lakehouse_spark.registry import register
from f1_lakehouse_spark.tables import load_table

KEYS = ["ship_year", "l_returnflag", "l_linestatus", "l_suppkey"]


def _timed_lines(lineitem: DataFrame) -> DataFrame:
    """The silver-style source CTE over a lineitem frame that carries
    ``ship_year``: key columns + the NULL-able measure + its filter."""
    net_price = F.when(
        F.col("l_discount") > 0, F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    )
    return lineitem.select(
        *KEYS,
        "l_orderkey",
        "l_linenumber",
        "l_discount",
        "l_tax",
        net_price.alias("net_price"),
    ).filter(F.col("net_price").isNotNull())


def supplier_summary(lineitem: DataFrame) -> DataFrame:
    """The driver_session_summary body over any lineitem frame with a
    ``ship_year`` column (the bronze table here, silver in the medallion)."""
    timed = _timed_lines(lineitem)

    # W1: personal-best ranking; ASC NULLS LAST to match DuckDB defaults
    # (reference driver_session_summary.sql:25 spells NULLS LAST explicitly).
    w = Window.partitionBy(*KEYS).orderBy(
        F.col("net_price").asc_nulls_last(), "l_orderkey", "l_linenumber"
    )

    # A1-A3 + W1 fused (r11 optimization, guide §2.4): the personal-best
    # count and the conditional aggregates group by the SAME keys over the
    # SAME filtered frame, so both halves of the reference's agg-LEFT
    # JOIN-agg shape fold into ONE aggregate after the window — the window's
    # exchange already clusters by KEYS, so the whole query is one scan and
    # one Exchange (before: two lineitem scans, two Exchanges, four
    # HashAggregates and a LeftOuter join). Result-identical to the
    # unfused shape (oracle unchanged): row_number() assigns rn=1 exactly
    # once per non-empty key group, every agg group is non-empty by
    # construction, and the old LEFT JOIN therefore always matched —
    # COALESCE(...,0) kept for the P8 shape (it is exercised on NULL by
    # the oracle's own LEFT JOIN formulation, which Spark no longer needs).
    return (
        timed.withColumn("rn", F.row_number().over(w))
        .groupBy(*KEYS)
        .agg(
            F.count("*").alias("lines_total"),
            F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias(
                "discounted_lines"
            ),
            F.sum(F.when(F.col("l_tax") > 0, 1).otherwise(0)).alias("taxed_lines"),
            F.min("net_price").alias("best_price"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("_pb_lines"),
        )
        .select(
            *KEYS,
            "lines_total",
            "discounted_lines",
            "taxed_lines",
            "best_price",
            F.coalesce(F.col("_pb_lines"), F.lit(0)).alias("best_price_lines"),
        )
    )


def flagship_supplier_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return supplier_summary(li.withColumn("ship_year", F.year("l_shipdate")))


FLAGSHIP_ORACLE = """
WITH timed AS (
    SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           l_returnflag, l_linestatus, l_suppkey, l_orderkey, l_linenumber,
           l_discount, l_tax,
           CASE WHEN l_discount > 0
                THEN l_extendedprice * (1 - l_discount) END AS net_price
    FROM lineitem
    WHERE CASE WHEN l_discount > 0
               THEN l_extendedprice * (1 - l_discount) END IS NOT NULL
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (
               PARTITION BY ship_year, l_returnflag, l_linestatus, l_suppkey
               ORDER BY net_price ASC NULLS LAST, l_orderkey, l_linenumber) AS rn
    FROM timed
), pb AS (
    SELECT ship_year, l_returnflag, l_linestatus, l_suppkey,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS best_price_lines
    FROM ranked GROUP BY 1, 2, 3, 4
), agg AS (
    SELECT ship_year, l_returnflag, l_linestatus, l_suppkey,
           COUNT(*) AS lines_total,
           CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
               AS discounted_lines,
           CAST(SUM(CASE WHEN l_tax > 0 THEN 1 ELSE 0 END) AS BIGINT) AS taxed_lines,
           MIN(net_price) AS best_price
    FROM timed GROUP BY 1, 2, 3, 4
)
SELECT a.ship_year, a.l_returnflag, a.l_linestatus, a.l_suppkey,
       a.lines_total, a.discounted_lines, a.taxed_lines, a.best_price,
       COALESCE(pb.best_price_lines, 0) AS best_price_lines
FROM agg a
LEFT JOIN pb USING (ship_year, l_returnflag, l_linestatus, l_suppkey)
"""

register(
    "flagship_supplier_summary",
    oracle=FLAGSHIP_ORACLE,
    doc="driver_session_summary shape: filter→window PB→conditional aggs→left join",
    tags=("gold", "J1", "W1", "A1", "A2", "A3", "P5", "P8"),
)(flagship_supplier_summary)


def flag_summary(supplier_level: DataFrame) -> DataFrame:
    """A4: re-aggregate the flagship output by a coarser key (SUM of SUMs /
    MIN of MINs), exactly the reference's team_event_summary
    (team_event_summary.sql:7-15) including its IN-list filter (P6, line 5).
    """
    return (
        supplier_level.filter(F.col("l_returnflag").isin("A", "R"))
        .groupBy("ship_year", "l_returnflag")
        .agg(
            F.sum("lines_total").alias("lines_total"),
            F.sum("discounted_lines").alias("discounted_lines"),
            F.sum("taxed_lines").alias("taxed_lines"),
            F.min("best_price").alias("best_price"),
            F.count("*").alias("supplier_groups"),
        )
    )


def team_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flag_summary(flagship_supplier_summary(spark, sf_dir))


TEAM_ORACLE = f"""
WITH driver_level AS ({FLAGSHIP_ORACLE})
SELECT ship_year, l_returnflag,
       CAST(SUM(lines_total) AS BIGINT) AS lines_total,
       CAST(SUM(discounted_lines) AS BIGINT) AS discounted_lines,
       CAST(SUM(taxed_lines) AS BIGINT) AS taxed_lines,
       MIN(best_price) AS best_price,
       COUNT(*) AS supplier_groups
FROM driver_level
WHERE l_returnflag IN ('A', 'R')
GROUP BY 1, 2
"""

register(
    "team_summary",
    oracle=TEAM_ORACLE,
    doc="team_event_summary shape: IN-list filter + re-aggregation (partial→final)",
    tags=("gold", "A4", "P6"),
)(team_summary)
