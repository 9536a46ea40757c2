"""Driver-gate adapters for the F1 parity layer (r3 verdict item 6).

The dashboard five (reference ``dashboard/app.py:130-242``), the notebook
analytics (cells 17/24/25/27/29), and the gold model tree
(``transform/models/gold/*.sql``) are implemented as *parameterized
DataFrame functions* over the F1 silver schema (f1/analytics.py,
f1/models.py) and were pytest-differential only — they read the
hive-partitioned bronze fixture, not the driver's parquet views, so they
never earned a driver row.

This module closes that gap: each adapter maps the driver's ``lineitem``
/ ``orders`` tables onto the F1 silver/results/weather schemas with ONE
documented, deterministic column mapping, then calls the **actual**
f1.analytics / f1.models functions on the mapped frames — the driver
gate now executes the very same code the dashboard executes, end to end,
against a DuckDB oracle that spells out the mapping + the function's
semantics in ANSI SQL.

The mapping (silver_laps analog, from ``lineitem``)::

    season        := year(l_shipdate)                       -- INT
    round         := month(l_shipdate)                      -- INT
    grand_prix    := l_linestatus
    session_code  := l_returnflag                           -- 'R' rows exist,
                                                            -- so the R/Q/S
                                                            -- IN-filter is live
    driver        := '' when l_suppkey % 7 = 0 else str(l_suppkey)
                                                            -- blank rows
                                                            -- exercise the
                                                            -- NULLIF repair
    drivernumber  := l_suppkey
    team          := 'T' || str(l_suppkey % 10)
    laptime       := floor(l_extendedprice*100 + 0.5) ns when l_discount > 0
                                                            -- NULLs exercise
                                                            -- the timed filter
    lapnumber     := l_linenumber
    lapstartdate  := l_shipdate
    pitintime     := l_shipdate when l_tax > 0.04
    pitouttime    := l_shipdate when l_discount > 0.06

Results / weather analogs (from ``orders``) use integer-valued DOUBLE
measures (``o_orderkey % k``) so every AVG/SUM is an exact integer sum —
order-independent in both engines, per the determinism rules in CLAUDE.md.

The one dashboard function NOT adapted 1:1 is ``latest_best_sample``
(LIMIT 5 under a non-total ORDER BY — the cut is nondeterministic by the
reference's own semantics); its shape is driver-covered by the generic
``o1_latest_best_sample`` twin, and ``fastest_laps`` is registered with k
covering the whole slice so the reference's presentation-order LIMIT
cannot make the selected SET nondeterministic (the k=50 presentation cut
itself stays pytest-verified in tests/test_f1_domain.py).

Every registered adapter is a memoized request frame
(``tables.cached_per_input(..., request=True)`` naming the tables its
mapping reads): a repeat over unchanged inputs and confs returns the
identical frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from f1_lakehouse_spark.f1 import analytics, models
from f1_lakehouse_spark.registry import register
from f1_lakehouse_spark.tables import cached_per_input, load_table

SEASON = 1996  # present at every SF (shipdate years span 1995-2001)
SESSION = "R"

# --- the mapped frames (Spark side) --------------------------------------------------


def silver_laps_analog(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.year("l_shipdate").alias("season"),
        F.month("l_shipdate").alias("round"),
        F.col("l_linestatus").alias("grand_prix"),
        F.col("l_returnflag").alias("session_code"),
        F.when(F.col("l_suppkey") % 7 == 0, F.lit("")).otherwise(
            F.col("l_suppkey").cast("string")
        ).alias("driver"),
        F.col("l_suppkey").alias("drivernumber"),
        F.concat(F.lit("T"), (F.col("l_suppkey") % 10).cast("string")).alias("team"),
        # floor(x*100 + 0.5): DuckDB CAST(double AS BIGINT) rounds while
        # Spark's cast truncates — floor-plus-half is identical in both
        F.when(
            F.col("l_discount") > 0,
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)),
        ).alias("laptime"),
        F.col("l_linenumber").alias("lapnumber"),
        F.col("l_shipdate").alias("lapstartdate"),
        F.when(F.col("l_tax") > 0.04, F.col("l_shipdate")).alias("pitintime"),
        F.when(F.col("l_discount") > 0.06, F.col("l_shipdate")).alias("pitouttime"),
    )


def results_analog(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.year("o_orderdate").alias("season"),
        F.concat(F.lit("T"), (F.col("o_custkey") % 12).cast("string")).alias(
            "teamname"
        ),
        # integer-valued double: SUMs are exact integer sums (order-free)
        (F.col("o_orderkey") % 26).cast("double").alias("points"),
        F.col("o_orderstatus").alias("status"),
    )


def weather_analog(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.year("o_orderdate").alias("season"),
        F.month("o_orderdate").alias("round"),
        F.when(F.col("o_orderstatus") == "F", F.lit("R"))
        .when(F.col("o_orderstatus") == "O", F.lit("Q"))
        .otherwise(F.lit("S"))
        .alias("session_code"),
        (F.col("o_orderkey") % 40).cast("double").alias("tracktemp"),
        (F.col("o_custkey") % 35).cast("double").alias("airtemp"),
        (F.col("o_orderkey") % 7 == 0).alias("rainfall"),
    )


# --- the mapping CTEs (oracle side) --------------------------------------------------

SILVER_SQL = """
    SELECT CAST(year(l_shipdate) AS INTEGER) AS season,
           CAST(month(l_shipdate) AS INTEGER) AS round,
           l_linestatus AS grand_prix,
           l_returnflag AS session_code,
           CASE WHEN l_suppkey % 7 = 0 THEN ''
                ELSE CAST(l_suppkey AS VARCHAR) END AS driver,
           l_suppkey AS drivernumber,
           'T' || CAST(l_suppkey % 10 AS VARCHAR) AS team,
           CASE WHEN l_discount > 0
                THEN CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) END AS laptime,
           l_linenumber AS lapnumber,
           l_shipdate AS lapstartdate,
           CASE WHEN l_tax > 0.04 THEN l_shipdate END AS pitintime,
           CASE WHEN l_discount > 0.06 THEN l_shipdate END AS pitouttime
    FROM lineitem
"""

RESULTS_SQL = """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS season,
           'T' || CAST(o_custkey % 12 AS VARCHAR) AS teamname,
           CAST(o_orderkey % 26 AS DOUBLE) AS points,
           o_orderstatus AS status
    FROM orders
"""

WEATHER_SQL = """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS season,
           CAST(month(o_orderdate) AS INTEGER) AS round,
           CASE o_orderstatus WHEN 'F' THEN 'R' WHEN 'O' THEN 'Q'
                ELSE 'S' END AS session_code,
           CAST(o_orderkey % 40 AS DOUBLE) AS tracktemp,
           CAST(o_custkey % 35 AS DOUBLE) AS airtemp,
           o_orderkey % 7 = 0 AS rainfall
    FROM orders
"""

# dss = driver_session_summary over the mapped silver frame; shared by the
# oracles that consume the gold model (reference
# transform/models/gold/driver_session_summary.sql semantics, see
# f1/models.py for the line-by-line mapping)
DSS_SQL = f"""
silver AS ({SILVER_SQL}),
timed AS (
    SELECT season, round, grand_prix, session_code,
           COALESCE(NULLIF(driver, ''), CAST(drivernumber AS VARCHAR)) AS driver,
           drivernumber AS driver_number, team, laptime, lapnumber,
           pitintime, pitouttime
    FROM silver WHERE laptime IS NOT NULL
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY season, round, grand_prix, session_code, driver,
                     driver_number, team
        ORDER BY laptime ASC NULLS LAST, lapnumber) AS rn
    FROM timed
),
pb AS (
    SELECT season, round, grand_prix, session_code, driver, driver_number,
           team,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS personal_best_laps
    FROM ranked GROUP BY 1, 2, 3, 4, 5, 6, 7
),
agg AS (
    SELECT season, round, grand_prix, session_code, driver, driver_number,
           team,
           COUNT(*) AS laps_total,
           CAST(SUM(CASE WHEN pitintime IS NULL AND pitouttime IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS laps_on_track,
           CAST(SUM(CASE WHEN pitintime IS NOT NULL OR pitouttime IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS pitstops,
           MIN(laptime) AS best_lap_time
    FROM timed GROUP BY 1, 2, 3, 4, 5, 6, 7
),
dss AS (
    SELECT a.season, a.round, a.grand_prix, a.session_code, a.driver,
           a.driver_number, a.team, a.laps_total, a.laps_on_track,
           a.pitstops, a.best_lap_time,
           COALESCE(pb.personal_best_laps, 0) AS personal_best_laps
    FROM agg a
    LEFT JOIN pb USING (season, round, grand_prix, session_code, driver,
                        driver_number, team)
)
"""


def _dss(spark: SparkSession, sf_dir: str) -> DataFrame:
    return models.driver_session_summary(silver_laps_analog(spark, sf_dir))


# --- gold model tree ----------------------------------------------------------------


@register(
    "f1_driver_session_summary",
    oracle=f"WITH {DSS_SQL} SELECT * FROM dss",
    doc="the ACTUAL f1.models.driver_session_summary function (reference "
    "gold driver_session_summary.sql: NULLIF driver repair, timed filter, "
    "personal-best window, conditional pit aggs, 7-key left join) run "
    "over the documented lineitem→silver mapping",
    tags=("f1", "gold", "J1", "W1"),
)
@cached_per_input("lineitem", request=True)
def f1_driver_session_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dss(spark, sf_dir)


@register(
    "f1_team_event_summary",
    oracle=f"""WITH {DSS_SQL}
SELECT season, round, grand_prix, session_code, team,
       CAST(SUM(laps_on_track) AS BIGINT) AS team_laps_on_track,
       CAST(SUM(pitstops) AS BIGINT) AS team_pitstops,
       MIN(best_lap_time) AS team_best_lap_time
FROM dss WHERE session_code IN ('R', 'Q', 'S')
GROUP BY 1, 2, 3, 4, 5""",
    doc="the ACTUAL f1.models.team_event_summary function (reference "
    "team_event_summary.sql:5-15: R/Q/S IN-filter + partial→final "
    "re-aggregation) over the mapped dss",
    tags=("f1", "gold", "A4", "P6"),
)
@cached_per_input("lineitem", request=True)
def f1_team_event_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return models.team_event_summary(_dss(spark, sf_dir))


# --- dashboard five -----------------------------------------------------------------


@register(
    "f1_session_date",
    oracle=f"""WITH silver AS ({SILVER_SQL})
SELECT strftime(MIN(lapstartdate), '%Y-%m-%d') AS session_date
FROM silver WHERE season = {SEASON} AND session_code = '{SESSION}'""",
    doc="the ACTUAL f1.analytics.session_date (dashboard/app.py:130-137: "
    "MIN(lapstartdate) date-formatted) over the mapped silver frame",
    tags=("f1", "dashboard", "F11"),
)
@cached_per_input("lineitem", request=True)
def f1_session_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.session_date(silver_laps_analog(spark, sf_dir), SEASON, SESSION)


@register(
    "f1_session_kpis",
    oracle=f"""WITH silver AS ({SILVER_SQL})
SELECT COUNT(*) AS laps,
       COUNT(DISTINCT driver) AS drivers,
       COUNT(DISTINCT team) AS teams,
       MIN(laptime) AS best_lap_ns
FROM silver WHERE season = {SEASON} AND session_code = '{SESSION}'""",
    doc="the ACTUAL f1.analytics.session_kpis (dashboard/app.py:145-158: "
    "lap count, distinct drivers/teams, best lap) over the mapped silver",
    tags=("f1", "dashboard", "A1", "A5"),
)
@cached_per_input("lineitem", request=True)
def f1_session_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.session_kpis(silver_laps_analog(spark, sf_dir), SEASON, SESSION)


@register(
    "f1_fastest_laps",
    oracle=f"""WITH {DSS_SQL}
SELECT driver, team, best_lap_time,
       best_lap_time / 1e9 AS best_lap_s,
       printf('%02d:%02d.%03d',
              (best_lap_time // 1000000) // 60000,
              ((best_lap_time // 1000000) % 60000) // 1000,
              (best_lap_time // 1000000) % 1000) AS best_lap_pretty
FROM dss WHERE season = {SEASON} AND session_code = '{SESSION}'""",
    doc="the ACTUAL f1.analytics.fastest_laps (dashboard/app.py:169-189: "
    "best-lap leaderboard with engine-side ns→s and mm:ss.mmm pretty "
    "print) over the mapped dss. Registered with k=None (whole slice, "
    "presentation sort only) so determinism is scale-free — no LIMIT cut "
    "exists to go nondeterministic and no CollectLimit single-partitions "
    "the slice; the dashboard's top-k path keeps its total-order multiset "
    "guarantee via the ORDER BY covering all output columns.",
    tags=("f1", "dashboard", "F8", "F9", "O3"),
)
@cached_per_input("lineitem", request=True)
def f1_fastest_laps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.fastest_laps(_dss(spark, sf_dir), SEASON, SESSION, k=None)


@register(
    "f1_pace_curve",
    oracle=f"""WITH silver AS ({SILVER_SQL})
SELECT lapnumber, MEDIAN(laptime) AS median_laptime
FROM silver
WHERE season = {SEASON} AND session_code = '{SESSION}' AND laptime IS NOT NULL
GROUP BY 1""",
    doc="the ACTUAL f1.analytics.pace_curve (dashboard/app.py:231-242: "
    "exact median laptime by lap number) over the mapped silver",
    tags=("f1", "dashboard", "A7"),
)
@cached_per_input("lineitem", request=True)
def f1_pace_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.pace_curve(silver_laps_analog(spark, sf_dir), SEASON, SESSION)


# --- notebook analytics -------------------------------------------------------------


@register(
    "f1_weather_pace_join",
    oracle=f"""WITH {DSS_SQL},
pace AS (
    SELECT season, round, session_code, MIN(best_lap_time) AS best_lap_ns
    FROM dss WHERE session_code = 'R' GROUP BY 1, 2, 3
),
weather_src AS ({WEATHER_SQL}),
weather AS (
    SELECT season, round, session_code,
           AVG(tracktemp) AS avg_track_temp,
           AVG(airtemp) AS avg_air_temp,
           CAST(MAX(CASE WHEN rainfall THEN 1 ELSE 0 END) AS INTEGER)
               AS had_rain
    FROM weather_src GROUP BY 1, 2, 3
)
SELECT p.season, p.round, p.session_code, p.best_lap_ns,
       w.avg_track_temp, w.avg_air_temp, w.had_rain
FROM pace p LEFT JOIN weather w USING (season, round, session_code)""",
    doc="the ACTUAL f1.analytics.weather_pace_join (notebook cells 24/25: "
    "per-race best lap LEFT JOIN weather aggregates + had_rain flag); "
    "integer-valued temps keep the AVGs exact across engines",
    tags=("f1", "notebook", "J2"),
)
@cached_per_input("lineitem", "orders", request=True)
def f1_weather_pace_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.weather_pace_join(
        _dss(spark, sf_dir), weather_analog(spark, sf_dir)
    )


@register(
    "f1_driver_alias_audit",
    oracle=f"""WITH silver AS ({SILVER_SQL})
SELECT season, driver,
       COUNT(DISTINCT drivernumber) AS n_numbers,
       COUNT(DISTINCT team) AS n_teams
FROM silver GROUP BY 1, 2
HAVING COUNT(DISTINCT drivernumber) > 1 OR COUNT(DISTINCT team) > 1""",
    doc="the ACTUAL f1.analytics.driver_alias_audit (notebook cell 17: "
    "drivers mapped to >1 number or team, HAVING filter) — the blank "
    "driver rows from the mapping are exactly the aliasing the audit "
    "exists to catch",
    tags=("f1", "notebook", "A11"),
)
@cached_per_input("lineitem", request=True)
def f1_driver_alias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.driver_alias_audit(silver_laps_analog(spark, sf_dir))


@register(
    "f1_team_points",
    oracle=f"""WITH results AS ({RESULTS_SQL})
SELECT teamname,
       SUM(points) AS total_points,
       COUNT(*) AS classified_entries
FROM results WHERE season = {SEASON}
GROUP BY 1""",
    doc="the ACTUAL f1.analytics.team_points (notebook cells 27/29: points "
    "per team per season); integer-valued points keep the double SUM "
    "exact across engines",
    tags=("f1", "notebook", "A1"),
)
@cached_per_input("orders", request=True)
def f1_team_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.team_points(results_analog(spark, sf_dir), SEASON)


@register(
    "f1_classification_breakdown",
    oracle=f"""WITH results AS ({RESULTS_SQL})
SELECT season, status, COUNT(*) AS n_results
FROM results GROUP BY 1, 2""",
    doc="the ACTUAL f1.analytics.classification_breakdown (results status "
    "distribution per season)",
    tags=("f1", "notebook", "A1"),
)
@cached_per_input("orders", request=True)
def f1_classification_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.classification_breakdown(results_analog(spark, sf_dir))
