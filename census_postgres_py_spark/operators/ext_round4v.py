"""Round-4v extension operators (SURVEY.md §2.36).

Marketing-science and calendar reads: geometric adstock (the
carryover transform every media-mix model applies, kept EXACT by a
dyadic decay), rolling 7-day active users (the WAU curve — sliding
distinct counting done scalably by day-explosion of the reduced
user-day frame), and business-day spans (closed-form weekday
arithmetic, no calendar table, no per-day explosion).

Contract discipline identical to the other extension modules: the
adstock kernel Σ x_{t−k}·2^(7−k) is all-integer (dyadic decay,
scaled by 2⁷), the WAU explode is 7× a REDUCED frame — never the
raw log — and the workday formula is branch-free integer arithmetic
shared between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from census_postgres_py_spark.functions.rounding import half_up
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

_D38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# agg_adstock — geometric carryover with dyadic decay (λ = 1/2, 8 taps)
# ---------------------------------------------------------------------------


@register(
    "agg_adstock",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               date_trunc('day', ts) AS d,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ), ks AS (
        SELECT CAST(range AS BIGINT) AS k FROM range(0, 8)
    ), taps AS (
        SELECT a.event_type, a.d,
               b.cents * CAST(pow(2, 7 - ks.k) AS BIGINT) AS w
        FROM daily a
        CROSS JOIN ks
        JOIN daily b
          ON b.event_type = a.event_type
         AND b.d = a.d - ks.k * INTERVAL 1 DAY
    )
    SELECT event_type, epoch_ms(CAST(d AS TIMESTAMP)) AS day_ms,
           CAST(sum(w) AS BIGINT) AS adstock_x128
    FROM taps GROUP BY event_type, d
    """,
)
def agg_adstock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric adstock of daily revenue per event type — the media
    carryover transform adstock_t = Σ_{k=0..7} x_{t−k}·λᵏ with
    λ = 1/2, scaled by 2⁷ = 128 so every tap is an INTEGER
    (a dyadic decay makes the canonical float transform exact; a
    media-mix model divides by 128 downstream).

    The log reduces to the O(types × calendar) daily frame first;
    the 8-tap kernel is a broadcast lag-join on calendar dates
    (day-exact even across gaps, where row-based lag() would slip),
    and the weighted sum is one combinable integer aggregation.
    """
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").alias("d"),
        )
        .agg(
            F.sum(half_up(F.col("value") * 100)).cast("long").alias("cents")
        )
    )
    ks = spark.range(0, 8).select(F.col("id").alias("k"))
    a = daily.alias("a")
    b = daily.alias("b")
    taps = (
        a.crossJoin(F.broadcast(ks))
        .join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (
                F.col("b.d")
                == F.col("a.d") - F.col("k") * F.expr("INTERVAL 1 DAY")
            ),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.col("a.d").alias("d"),
            (
                F.col("b.cents")
                * F.pow(F.lit(2), 7 - F.col("k")).cast("long")
            ).alias("w"),
        )
    )
    return taps.groupBy("event_type", "d").agg(
        F.sum("w").cast("long").alias("adstock_x128")
    ).select(
        "event_type",
        F.unix_millis(F.col("d")).alias("day_ms"),
        "adstock_x128",
    )


# ---------------------------------------------------------------------------
# agg_rolling_active_users — trailing-7-day distinct users per day (WAU)
# ---------------------------------------------------------------------------


@register(
    "agg_rolling_active_users",
    oracle="""
    WITH user_day AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS d
        FROM events
    ), span AS (
        SELECT CAST(range AS BIGINT) AS o FROM range(0, 7)
    ), contrib AS (
        SELECT DISTINCT user_id,
               d + o * INTERVAL 1 DAY AS wd
        FROM user_day CROSS JOIN span
    ), bounds AS (
        SELECT min(d) AS lo, max(d) AS hi FROM user_day
    )
    SELECT epoch_ms(CAST(wd AS TIMESTAMP)) AS day_ms,
           CAST(count(*) AS BIGINT) AS wau
    FROM contrib CROSS JOIN bounds
    WHERE wd >= bounds.lo AND wd <= bounds.hi
    GROUP BY wd
    """,
)
def agg_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (the WAU curve)
    — sliding-window DISTINCT counting, which no plain window frame
    can do exactly, done the scale-correct way: each (user, day)
    presence row "shines forward" onto the 7 days it keeps the user
    active for, then one exact distinct + count per day.

    The explosion is 7× the REDUCED user-day frame (the raw log
    collapses first — at 100 TB user-day is orders of magnitude
    smaller than events), both DISTINCTs are hash-partitioned
    combinable shuffles, and there is no per-day subquery or
    O(days × users) loop. Days past the observed range are clipped
    so the curve covers exactly the event span.
    """
    ev = t(spark, sf_dir, "events")
    user_day = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    span = spark.range(0, 7).select(F.col("id").alias("o"))
    contrib = (
        user_day.crossJoin(F.broadcast(span))
        .select(
            "user_id",
            (F.col("d") + F.col("o") * F.expr("INTERVAL 1 DAY")).alias(
                "wd"
            ),
        )
        .distinct()
    )
    bounds = user_day.agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .filter((F.col("wd") >= F.col("lo")) & (F.col("wd") <= F.col("hi")))
        .groupBy("wd")
        .agg(F.count("*").cast("long").alias("wau"))
        .select(F.unix_millis(F.col("wd")).alias("day_ms"), "wau")
    )


# ---------------------------------------------------------------------------
# fn_workdays_between — closed-form business-day span
# ---------------------------------------------------------------------------

# Weekday count of the k-th residue: how many i in [0, rem) satisfy
# (start_dow0 + i) % 7 == target. Branch-free: g = (target - s0) mod 7
# is the first offset that hits the residue; it contributes iff g < rem,
# then every 7th offset after.


def _residue_count(s0: str, rem: str, target: int, intdiv: str) -> str:
    g = f"((({target}) - ({s0}) + 7) % 7)"
    return (
        f"(CASE WHEN {g} < ({rem}) THEN"
        f" 1 + (({rem}) - 1 - {g}) {intdiv} 7 ELSE 0 END)"
    )


def _workdays_sql(days: str, s0: str, intdiv: str) -> str:
    """Weekdays (Mon–Fri) in [start, start+days), where s0 is the
    start's 0-based dow (0=Mon) — full weeks contribute 5 each, the
    remainder loses its Saturday (residue 5) and Sunday (residue 6)
    hits."""
    full = f"(({days}) {intdiv} 7) * 5"
    rem = f"(({days}) % 7)"
    sat = _residue_count(s0, rem, 5, intdiv)
    sun = _residue_count(s0, rem, 6, intdiv)
    return f"{full} + {rem} - {sat} - {sun}"


@register(
    "fn_workdays_between",
    oracle=f"""
    WITH iv AS (
        SELECT o_orderkey,
               CAST(o_orderkey % 30 + 1 AS BIGINT) AS span_days,
               CAST(isodow(o_orderdate) - 1 AS BIGINT) AS s0
        FROM orders
    )
    SELECT o_orderkey, span_days, s0,
           CAST({_workdays_sql("span_days", "s0", "//")} AS BIGINT)
               AS workdays
    FROM iv
    """,
)
def fn_workdays_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business days (Mon–Fri) inside each order's fulfillment window
    [order date, order date + span) — SLA clocks and lead-time KPIs
    run on workdays, not calendar days.

    Closed-form integer arithmetic: full weeks contribute 5, the
    remainder subtracts its Saturday/Sunday residue hits via a
    branch-free first-hit formula — no calendar dimension join, no
    per-day explosion, identical expression text on both engines.
    O(1) per row, whole-stage-codegen'd.
    """
    iv = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 30 + 1).cast("long").alias("span_days"),
        # Spark dayofweek: 1=Sunday..7=Saturday → 0-based Monday
        (((F.dayofweek("o_orderdate") + 5) % 7)).cast("long").alias("s0"),
    )
    return iv.select(
        "o_orderkey",
        "span_days",
        "s0",
        F.expr(_workdays_sql("span_days", "s0", "div"))
        .cast("long")
        .alias("workdays"),
    )
