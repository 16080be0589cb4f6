"""Round-4ak extension operators (SURVEY.md §2.51).

Advertising, retail-returns and designed-experiment reads: weekly
reach & frequency (the advertising duo — how many distinct users,
how often each), returns impact per brand-year (gross vs net
revenue once 'R'-flagged lines come back), and the one-way ANOVA
F-statistic for the day-of-week effect (is the weekday pattern
statistically real, the hypothesis-test sibling of
agg_seasonal_strength).

Contract discipline identical to the other extension modules: reach
and frequency are rationals over exact distinct counts, returns
arithmetic is integer cents with flag classification, and the ANOVA
sums of squares assemble from exact per-group (n, Σ, Σ²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import gated_broadcast, t

_D38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# agg_reach_frequency — distinct users and events-per-user per week
# ---------------------------------------------------------------------------


@register(
    "agg_reach_frequency",
    oracle="""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(epoch(date_trunc('day', ts)) / 604800)
                    AS BIGINT) AS wk,
               user_id
        FROM events
    )
    SELECT event_type, wk,
           CAST(count(*) AS BIGINT) AS impressions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS reach,
           floor(CAST(count(*) AS DOUBLE) / count(DISTINCT user_id)
                 * 1000000 + 0.5) / 1000000 AS frequency
    FROM ev GROUP BY event_type, wk
    """,
)
def agg_reach_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly reach & frequency per event type: impressions, distinct
    users reached, and impressions-per-reached-user — the advertising
    pair every campaign report leads with (same total impressions can
    be broad-and-shallow or narrow-and-nagging; frequency tells you
    which).

    One pass: count + exact distinct per (type, week) — the distinct
    is hash-partitioned and combinable (at planetary scale the
    HLL-sketch variant agg_hll_mergeable is the drop-in); frequency
    is a rational over the two exact counts.
    """
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(
            F.unix_timestamp(F.date_trunc("day", "ts")) / 604800
        )
        .cast("long")
        .alias("wk"),
        "user_id",
    )
    return ev.groupBy("event_type", "wk").agg(
        F.count("*").cast("long").alias("impressions"),
        F.countDistinct("user_id").cast("long").alias("reach"),
        round_dp(
            F.count("*").cast("double") / F.countDistinct("user_id"), 6
        ).alias("frequency"),
    )


# ---------------------------------------------------------------------------
# join_returns_impact — gross vs net revenue once returns come back
# ---------------------------------------------------------------------------


@register(
    "join_returns_impact",
    oracle="""
    SELECT p.p_brand AS brand,
           CAST(year(l.l_shipdate) AS BIGINT) AS y,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returned,
           CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS gross_cents,
           CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 0
                    ELSE CAST(floor(l.l_extendedprice * 100 + 0.5)
                              AS BIGINT) END) AS BIGINT) AS net_cents,
           floor(CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000
               AS return_rate
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1, 2
    """,
)
def join_returns_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returns impact per brand-year: line counts, return counts
    ('R' flag), gross revenue and revenue net of returned lines —
    the merchandising view that turns "we sold 1M" into "we kept
    750k", per brand, per year.

    One broadcast dim join + one combinable rollup; the return
    classification and both revenue columns are integer arithmetic;
    return_rate is the rendered rational. At 100 TB this is the
    cheapest possible star-join shape.
    """
    li = t(spark, sf_dir, "lineitem")
    cents = half_up(F.col("l_extendedprice") * 100)
    return (
        li.join(
            gated_broadcast(
                spark, sf_dir, "part",
                t(spark, sf_dir, "part").select("p_partkey", "p_brand"),
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("l_shipdate").cast("long").alias("y"),
        )
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_returned"),
            F.sum(cents).cast("long").alias("gross_cents"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 0).otherwise(cents)
            )
            .cast("long")
            .alias("net_cents"),
            round_dp(
                F.sum(
                    F.when(
                        F.col("l_returnflag") == "R", 1
                    ).otherwise(0)
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("return_rate"),
        )
    )


# ---------------------------------------------------------------------------
# agg_anova_weekday — is the day-of-week effect statistically real?
# ---------------------------------------------------------------------------


@register(
    "agg_anova_weekday",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               date_trunc('day', ts) AS d,
               CAST(isodow(ts) AS BIGINT) AS dow,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS x
        FROM events GROUP BY 1, 2, 3
    ), g AS (
        SELECT event_type, dow,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(x * x) AS HUGEINT) AS sxx
        FROM daily GROUP BY event_type, dow
    ), terms AS (
        SELECT event_type, n, sx, sxx,
               CAST(floor(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n
                          + 0.5) AS HUGEINT) AS ssb_term
        FROM g
    ), tot AS (
        SELECT event_type,
               CAST(sum(n) AS BIGINT) AS tn,
               CAST(sum(sx) AS HUGEINT) AS tsx,
               CAST(sum(sxx) AS HUGEINT) AS tsxx,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(ssb_term) AS HUGEINT) AS ssb_raw
        FROM terms GROUP BY event_type
    )
    SELECT event_type, k, tn,
           floor((CAST(ssb_raw AS DOUBLE)
                  - CAST(tsx AS DOUBLE) * CAST(tsx AS DOUBLE) / tn)
                 / (k - 1)
                 / ((CAST(tsxx AS DOUBLE) - CAST(ssb_raw AS DOUBLE))
                    / (tn - k))
                 * 10000 + 0.5) / 10000 AS f_stat
    FROM tot
    """,
)
def agg_anova_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F for the day-of-week effect on daily revenue
    per event type: F = (SSB/(k−1)) / (SSW/(n−k)) — the hypothesis
    test behind agg_seasonal_strength's descriptive score (F ≫ 2.1
    at these d.o.f. = the weekday pattern is real, not luck).

    Sums of squares assemble from per-dow exact (n, Σx, Σx²); each
    dow's (Σx)²/n term is floored to an INTEGER before the per-type
    sum (a float sum across a shuffle is not merge-order-safe — the
    repo's core discipline), so the F ratio is one final projection
    over exact operands, rendered at 1e-4. The floored term fits
    int64 well past these scale factors; at extreme scale it rides
    in decimal128 on both engines.
    """
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").alias("d"),
            (((F.dayofweek("ts") + 5) % 7) + 1)
            .cast("long")
            .alias("dow"),
        )
        .agg(
            F.sum(half_up(F.col("value") * 100)).cast("long").alias("x")
        )
    )
    g = daily.groupBy("event_type", "dow").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast(_D38)).alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast(_D38)).alias("sxx"),
    )
    terms = g.withColumn(
        "ssb_term",
        half_up(
            F.col("sx").cast("double")
            * F.col("sx").cast("double")
            / F.col("n")
        ).cast(_D38),
    )
    tot = terms.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("sx").alias("tsx"),
        F.sum("sxx").alias("tsxx"),
        F.count("*").cast("long").alias("k"),
        F.sum("ssb_term").alias("ssb_raw"),
    )
    ssb = F.col("ssb_raw").cast("double") - F.col("tsx").cast(
        "double"
    ) * F.col("tsx").cast("double") / F.col("tn")
    ssw = F.col("tsxx").cast("double") - F.col("ssb_raw").cast("double")
    f_stat = (ssb / (F.col("k") - 1)) / (
        ssw / (F.col("tn") - F.col("k"))
    )
    return tot.select(
        "event_type",
        "k",
        "tn",
        round_dp(f_stat, 4).alias("f_stat"),
    )
