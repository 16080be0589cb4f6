"""Round-4am extension operators (SURVEY.md §2.53).

Market-structure, compounding and denormalization-audit reads: the
Herfindahl–Hirschman Index (the antitrust concentration number per
market-year), a rolling geometric mean (the compounding-correct
average for growth-like series), and a denormalized-field audit
(does the stored n_chars column still equal length(text) — the
check every pre-computed column needs after enough pipeline
generations).

Contract discipline identical to the other extension modules: HHI
renders from exact integer share sums, the geometric mean carries
e6-integerized logs through exact frame sums, and the audit is pure
integer comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import gated_broadcast, t

_D38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# agg_hhi_concentration — brand-market concentration per year
# ---------------------------------------------------------------------------


@register(
    "agg_hhi_concentration",
    oracle="""
    WITH rev AS (
        SELECT CAST(year(l.l_shipdate) AS BIGINT) AS y,
               p.p_brand AS brand,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS c
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ), s AS (
        SELECT y,
               CAST(count(*) AS BIGINT) AS n_brands,
               CAST(sum(c) AS HUGEINT) AS tot,
               CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS ssq
        FROM rev GROUP BY y
    )
    SELECT y, n_brands,
           floor(CAST(ssq AS DOUBLE) * 10000
                 / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))
                 * 10000 + 0.5) / 10000 AS hhi
    FROM s
    """,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman Index of brand revenue per ship year —
    Σ(share·100)², the antitrust market-structure number
    (< 1500 unconcentrated, > 2500 highly concentrated), from the
    identity HHI = 10⁴·Σc²/(Σc)² so the shares never materialize.

    Brand-year revenue reduces in one combinable pass; HHI needs
    only (Σc, Σc²) per year — both exact decimal sums over the
    brand-cardinality frame — and one rendered division. The
    cheapest concentration metric a 100 TB fact table can support.
    """
    rev = (
        t(spark, sf_dir, "lineitem")
        .join(
            gated_broadcast(
                spark, sf_dir, "part",
                t(spark, sf_dir, "part").select("p_partkey", "p_brand"),
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            F.year("l_shipdate").cast("long").alias("y"),
            F.col("p_brand").alias("brand"),
        )
        .agg(
            F.sum(half_up(F.col("l_extendedprice") * 100))
            .cast("long")
            .alias("c")
        )
    )
    # widen BEFORE squaring: brand-year cents clear 3e9 at sf0.1, so
    # c² overflows int64 (ANSI Spark throws) — the decimal cast must
    # wrap the operands, not the product
    cd = F.col("c").cast(_D38)
    s = rev.groupBy("y").agg(
        F.count("*").cast("long").alias("n_brands"),
        F.sum(cd).alias("tot"),
        F.sum(cd * cd).alias("ssq"),
    )
    return s.select(
        "y",
        "n_brands",
        round_dp(
            F.col("ssq").cast("double")
            * 10000
            / (
                F.col("tot").cast("double")
                * F.col("tot").cast("double")
            ),
            4,
        ).alias("hhi"),
    )


# ---------------------------------------------------------------------------
# win_rolling_geomean — compounding-correct rolling average
# ---------------------------------------------------------------------------


@register(
    "win_rolling_geomean",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               date_trunc('day', ts) AS d,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ), pts AS (
        SELECT event_type, d,
               CAST(floor(ln(CAST(cents AS DOUBLE)) * 1000000 + 0.5)
                    AS BIGINT) AS lx
        FROM daily WHERE cents > 0
    ), roll AS (
        SELECT event_type, d,
               CAST(sum(lx) OVER w AS HUGEINT) AS slx,
               CAST(count(*) OVER w AS BIGINT) AS n
        FROM pts
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, epoch_ms(CAST(d AS TIMESTAMP)) AS day_ms, n,
           CAST(floor(exp(CAST(slx AS DOUBLE) / n / 1000000) + 0.5)
                AS BIGINT) AS geomean_cents
    FROM roll
    """,
)
def win_rolling_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling GEOMETRIC mean of daily revenue per event type
    — the compounding-correct average (the arithmetic mean of a
    growth-like series overstates it; portfolio and rate series
    average geometrically).

    exp(mean(ln x)) with the repo's float discipline: each day's ln
    e6-integerizes ONCE, the rolling frame sums integers exactly,
    and the single exp runs on an identically-written rational —
    rendered to whole cents. Reduce-before-window as always.
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
    pts = daily.filter(F.col("cents") > 0).select(
        "event_type",
        "d",
        half_up(F.log(F.col("cents").cast("double")) * 1000000).alias("lx"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, 0)
    )
    roll = pts.select(
        "event_type",
        "d",
        F.sum(F.col("lx").cast(_D38)).over(w).alias("slx"),
        F.count("*").over(w).cast("long").alias("n"),
    )
    return roll.select(
        "event_type",
        F.unix_millis(F.col("d")).alias("day_ms"),
        "n",
        half_up(F.exp(F.col("slx").cast("double") / F.col("n") / 1000000))
        .alias("geomean_cents"),
    )


# ---------------------------------------------------------------------------
# dq_denormalized_field_audit — is the stored n_chars still true?
# ---------------------------------------------------------------------------


@register(
    "dq_denormalized_field_audit",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_chars <> len(text) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stale,
           CAST(max(CASE WHEN n_chars <> len(text)
                    THEN abs(n_chars - len(text)) END) AS BIGINT)
               AS worst_drift,
           CAST(sum(len(text)) AS BIGINT) AS true_chars,
           CAST(sum(n_chars) AS BIGINT) AS claimed_chars
    FROM documents GROUP BY lang
    """,
)
def dq_denormalized_field_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denormalized-column audit: documents carry a pre-computed
    n_chars — does it still equal length(text)? Every warehouse
    accumulates such columns, and after enough pipeline generations
    some go stale; this is the per-language recount that says
    whether you can trust the shortcut (the fixture's answer —
    zero drift — is itself the certification).

    Pure codegen'd projection + combinable rollup: the audit costs
    one scan at any scale, which is exactly why these recounts
    should run nightly rather than be assumed.
    """
    d = t(spark, sf_dir, "documents")
    stale = F.col("n_chars") != F.length("text")
    return d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(stale, 1).otherwise(0)).cast("long").alias("n_stale"),
        F.max(
            F.when(stale, F.abs(F.col("n_chars") - F.length("text")))
        )
        .cast("long")
        .alias("worst_drift"),
        F.sum(F.length("text")).cast("long").alias("true_chars"),
        F.sum("n_chars").cast("long").alias("claimed_chars"),
    )
