"""Round-4ap extension operators (SURVEY.md §2.56).

SRE, navigation and MDM-conflict reads: SLO error-budget burn rate
(the alerting math from the Google SRE workbook), the geodesic
destination point (haversine's inverse — where does this bearing
and distance land), and the attribute-conflict audit (which merged
households contain members that disagree on an attribute — the
conflict rate golden-record survivorship silently resolves).

Contract discipline identical to the other extension modules: burn
rates are rationals over exact counts, the destination trig is an
identically-written projection rendered at 1e-4 degrees, and
conflict detection is exact distinct-counting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from census_postgres_py_spark.functions.rounding import round_dp
from census_postgres_py_spark.operators.geo import EARTH_R_KM
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

_SLO = 0.60  # "error" events budget: ≤40% of traffic may be errors


# ---------------------------------------------------------------------------
# agg_error_budget_burn — SLO burn rate per week
# ---------------------------------------------------------------------------


@register(
    "agg_error_budget_burn",
    oracle=f"""
    WITH ev AS (
        SELECT CAST(floor(epoch(date_trunc('day', ts)) / 604800)
                    AS BIGINT) AS wk,
               CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS bad
        FROM events
    ), wkly AS (
        SELECT wk,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(bad) AS BIGINT) AS n_bad
        FROM ev GROUP BY wk
    )
    SELECT wk, n, n_bad,
           floor(CAST(n_bad AS DOUBLE) / n * 1000000 + 0.5) / 1000000
               AS error_rate,
           floor(CAST(n_bad AS DOUBLE) / n / (1.0 - {_SLO})
                 * 10000 + 0.5) / 10000 AS burn_rate,
           CASE WHEN CAST(n_bad AS DOUBLE) * 10000
                     > n * (1.0 - {_SLO}) * 10000 * 2
                THEN 1 ELSE 0 END AS page_alert
    FROM wkly
    """,
)
def agg_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly SLO error-budget burn: with a 60% success objective
    the budget is 40% errors; burn rate = error_rate / budget — 1.0
    burns the budget exactly on schedule, 2.0 exhausts it in half
    the window and pages someone (the SRE-workbook multiwindow
    alert, single-window form).

    One combinable pass; the page decision cross-multiplies so the
    flag is an exact comparison, not a float threshold; rates are
    rendered rationals. (The fixture's event mix makes ~1/5 of
    traffic 'error' — a healthy service against this deliberately
    loose objective.)
    """
    ev = t(spark, sf_dir, "events").select(
        F.floor(
            F.unix_timestamp(F.date_trunc("day", "ts")) / 604800
        )
        .cast("long")
        .alias("wk"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias(
            "bad"
        ),
    )
    wkly = ev.groupBy("wk").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("bad").cast("long").alias("n_bad"),
    )
    budget = 1.0 - _SLO
    return wkly.select(
        "wk",
        "n",
        "n_bad",
        round_dp(
            F.col("n_bad").cast("double") / F.col("n"), 6
        ).alias("error_rate"),
        round_dp(
            F.col("n_bad").cast("double") / F.col("n") / budget, 4
        ).alias("burn_rate"),
        F.when(
            F.col("n_bad").cast("double") * 10000
            > F.col("n") * budget * 10000 * 2,
            1,
        )
        .otherwise(0)
        .alias("page_alert"),
    )


# ---------------------------------------------------------------------------
# fn_geo_destination — where does this bearing and distance land?
# ---------------------------------------------------------------------------

_LAT_SQL = "((c_custkey * 37 + c_custkey * c_custkey * 13) % 1200) / 10.0 - 60.0"
_LON_SQL = "((c_custkey * 73 + c_custkey * c_custkey * 29) % 3600) / 10.0 - 180.0"


@register(
    "fn_geo_destination",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey, {_LAT_SQL} AS lat, {_LON_SQL} AS lon,
               (c_custkey % 360) * pi() / 180.0 AS brg,
               (c_custkey % 500 + 100) / {EARTH_R_KM!r} AS ang
        FROM customer
    )
    SELECT c_custkey,
           floor(degrees(asin(sin(radians(lat)) * cos(ang)
                 + cos(radians(lat)) * sin(ang) * cos(brg)))
                 * 10000 + 0.5) / 10000 AS dest_lat,
           floor(degrees(radians(lon) + atan2(
                 sin(brg) * sin(ang) * cos(radians(lat)),
                 cos(ang) - sin(radians(lat))
                 * (sin(radians(lat)) * cos(ang)
                    + cos(radians(lat)) * sin(ang) * cos(brg))))
                 * 10000 + 0.5) / 10000 AS dest_lon_raw
    FROM pts
    """,
)
def fn_geo_destination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle destination point: from each customer's centroid,
    travel (custkey mod 500 + 100) km on bearing (custkey mod 360)° —
    haversine's inverse, the navigation primitive behind delivery-
    radius rings and isochrone seeds.

    The spherical direct formula (dest_lat = asin(sinφ₁cosδ +
    cosφ₁sinδcosθ); dest_lon = λ₁ + atan2(sinθsinδcosφ₁,
    cosδ − sinφ₁·sinφ₂), with sinφ₂ substituted algebraically so
    neither engine re-derives it through asin→sin) as a pure
    codegen'd trig projection, rendered at 1e-4 degrees (~11 m).
    No shuffle, no UDF — costs the same as any arithmetic map at
    100 TB. Longitude is reported unnormalized (can exceed ±180°;
    wrap-around is a presentation concern the tests pin).
    """
    k = F.col("c_custkey")
    lat = (k * 37 + k * k * 13) % 1200 / 10.0 - 60.0
    lon = (k * 73 + k * k * 29) % 3600 / 10.0 - 180.0
    brg = (k % 360) * F.lit(3.141592653589793) / 180.0
    ang = (k % 500 + 100) / F.lit(EARTH_R_KM)
    sin_lat2 = F.sin(F.radians(lat)) * F.cos(ang) + F.cos(
        F.radians(lat)
    ) * F.sin(ang) * F.cos(brg)
    dest_lat = F.degrees(F.asin(sin_lat2))
    dest_lon = F.degrees(
        F.radians(lon)
        + F.atan2(
            F.sin(brg) * F.sin(ang) * F.cos(F.radians(lat)),
            F.cos(ang)
            - F.sin(F.radians(lat)) * sin_lat2,
        )
    )
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        round_dp(dest_lat, 4).alias("dest_lat"),
        round_dp(dest_lon, 4).alias("dest_lon_raw"),
    )


# ---------------------------------------------------------------------------
# dq_attribute_conflicts — what survivorship silently resolved
# ---------------------------------------------------------------------------


@register(
    "dq_attribute_conflicts",
    oracle="""
    WITH members AS (
        SELECT CAST(c_custkey // 3 AS BIGINT) AS household,
               c_nationkey
        FROM customer
    ), per_hh AS (
        SELECT household,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations
        FROM members GROUP BY household
    )
    SELECT n_members,
           CAST(count(*) AS BIGINT) AS n_households,
           CAST(sum(CASE WHEN n_nations > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_conflicted,
           floor(CAST(sum(CASE WHEN n_nations > 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000
               AS conflict_rate
    FROM per_hh GROUP BY n_members
    """,
)
def dq_attribute_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-conflict audit on the same households dim_golden_
    record merges: how many multi-member households disagree on
    nationality, by household size — the number an MDM team reads
    BEFORE trusting survivorship (a high conflict rate means the
    'golden' value is a coin flip, not a consensus).

    Distinct-count per household then a size-bucketed rollup — two
    combinable aggregations over the member frame; the rate is a
    rendered rational. Single-member households show conflict
    rate 0 by construction, pinned by tests.
    """
    members = t(spark, sf_dir, "customer").select(
        F.expr("c_custkey div 3").cast("long").alias("household"),
        "c_nationkey",
    )
    per_hh = members.groupBy("household").agg(
        F.count("*").cast("long").alias("n_members"),
        F.countDistinct("c_nationkey").cast("long").alias("n_nations"),
    )
    conflicted = F.sum(
        F.when(F.col("n_nations") > 1, 1).otherwise(0)
    )
    return per_hh.groupBy("n_members").agg(
        F.count("*").cast("long").alias("n_households"),
        conflicted.cast("long").alias("n_conflicted"),
        round_dp(
            conflicted.cast("double") / F.count("*"), 6
        ).alias("conflict_rate"),
    )
