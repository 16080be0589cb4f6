"""Round-4p extension operators (SURVEY.md §2.30).

Robust-statistics and sampling reads: Tukey-fence outlier audit (the
IQR rule every data-quality dashboard ships first), deterministic
weighted sampling without replacement (the Efraimidis–Spirakis
one-pass top-k that replaces "ORDER BY random()" in distributed
pipelines), and Bollinger-band breakout detection (rolling mean ± 2σ
from exact windowed integer sums).

Contract discipline identical to the other extension modules: every
quantile operand is integer cents (interpolation lands on dyadic
rationals — exact in binary floating point on both engines), the
E-S keys derive from md5 (bit-identical on both engines), and the
rolling variance comes from exact windowed sums of cents and squared
cents, so the only float work is identically-written projections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

_D38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# dq_outlier_iqr — Tukey-fence outlier audit per priority class
# ---------------------------------------------------------------------------


@register(
    "dq_outlier_iqr",
    oracle="""
    WITH c AS (
        SELECT o_orderpriority AS grp,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ), q AS (
        SELECT grp,
               quantile_cont(cents, 0.25) AS q1,
               quantile_cont(cents, 0.75) AS q3
        FROM c GROUP BY grp
    ), fences AS (
        SELECT grp, q1, q3,
               q1 - 1.5 * (q3 - q1) AS lo,
               q3 + 1.5 * (q3 - q1) AS hi
        FROM q
    )
    SELECT c.grp, f.q1, f.q3,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN c.cents < f.lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN c.cents > f.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_high
    FROM c JOIN fences f ON f.grp = c.grp
    GROUP BY c.grp, f.q1, f.q3
    """,
)
def dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit of order values per priority class —
    the 1.5·IQR rule, reported as per-group fence quantiles plus
    how many rows fall below/above the fences.

    Quantiles interpolate over INTEGER cents, so Q1/Q3 land on
    dyadic rationals (k/4 cents) that binary doubles represent
    exactly — the fence comparison can never wobble. The quantile
    pass is per-group exact (at 100 TB swap in percentile_approx;
    kept exact here for the oracle hash, same trade as
    agg_percentile); the audit pass re-scans with the 5-row fence
    table broadcast, both aggregations map-side combinable.
    """
    c = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        half_up(F.col("o_totalprice") * 100).alias("cents"),
    )
    q = c.groupBy("grp").agg(
        F.percentile("cents", 0.25).alias("q1"),
        F.percentile("cents", 0.75).alias("q3"),
    )
    fences = q.select(
        "grp",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        c.join(F.broadcast(fences), "grp")
        .groupBy("grp", "q1", "q3")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when(F.col("cents") < F.col("lo"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_low"),
            F.sum(
                F.when(F.col("cents") > F.col("hi"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_high"),
        )
    )


# ---------------------------------------------------------------------------
# sample_weighted — Efraimidis–Spirakis deterministic weighted top-k
# ---------------------------------------------------------------------------


@register(
    "sample_weighted",
    oracle="""
    WITH keyed AS (
        SELECT o_orderkey, o_custkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS w_cents,
               (CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),
                                        1, 13)) AS BIGINT) + 1.0)
                   / 4503599627370497.0 AS u
        FROM orders
    ), scored AS (
        SELECT o_orderkey, o_custkey, w_cents,
               ln(u) / w_cents AS es_key
        FROM keyed
    )
    SELECT o_orderkey, o_custkey, w_cents,
           floor(es_key * 1000000000 + 0.5) / 1000000000 AS es_key_r
    FROM scored
    ORDER BY es_key DESC, o_orderkey LIMIT 100
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample of 100 orders, probability ∝ order value —
    the Efraimidis–Spirakis scheme: key = u^(1/w) with u uniform per
    row, take the k largest keys. Equivalently rank by ln(u)/w, which
    avoids underflow at 100 TB weights.

    "Uniform" u is DERIVED, not random: the top 52 bits of
    md5(orderkey) scaled into (0,1) — bit-identical on every engine
    and every rerun, which is what makes a distributed sample
    reproducible (and what `ORDER BY random() LIMIT k` can never
    be). The top-k is a TakeOrderedAndProject — per-partition heads
    merged on the driver, no global sort, no shuffle of the losers.
    The rendered key rounds at 1e-9; ORDERING uses the raw double
    (exact dyadic-rational inputs through one ln — identical on both
    engines per the text_tfidf precedent).
    """
    keyed = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        half_up(F.col("o_totalprice") * 100).alias("w_cents"),
        (
            (
                F.conv(
                    F.substring(
                        F.md5(F.col("o_orderkey").cast("string")), 1, 13
                    ),
                    16,
                    10,
                ).cast("long")
                + F.lit(1.0)
            )
            / F.lit(4503599627370497.0)
        ).alias("u"),
    )
    scored = keyed.select(
        "o_orderkey",
        "o_custkey",
        "w_cents",
        (F.log("u") / F.col("w_cents")).alias("es_key"),
    )
    return (
        scored.select(
            "o_orderkey",
            "o_custkey",
            "w_cents",
            round_dp(F.col("es_key"), 9).alias("es_key_r"),
            F.col("es_key"),
        )
        .orderBy(F.col("es_key").desc(), "o_orderkey")
        .limit(100)
        .drop("es_key")
    )


# ---------------------------------------------------------------------------
# win_bollinger — rolling mean ± 2σ breakout flags
# ---------------------------------------------------------------------------


@register(
    "win_bollinger",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               date_trunc('day', ts) AS d,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS HUGEINT) AS cents
        FROM events GROUP BY 1, 2
    ), roll AS (
        SELECT event_type, d, cents,
               CAST(sum(cents) OVER w AS HUGEINT) AS sx,
               CAST(sum(cents * cents) OVER w AS HUGEINT) AS sxx,
               CAST(count(*) OVER w AS BIGINT) AS n
        FROM daily
        WINDOW w AS (
            PARTITION BY event_type ORDER BY d
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
        )
    )
    SELECT event_type, epoch_ms(CAST(d AS TIMESTAMP)) AS day_ms,
           CAST(cents AS BIGINT) AS cents,
           CAST(floor(CAST(sx AS DOUBLE) / n + 0.5) AS BIGINT) AS ma_cents,
           CASE WHEN n >= 3 AND
                     (CAST(cents AS DOUBLE) - CAST(sx AS DOUBLE) / n)
                     * (CAST(cents AS DOUBLE) - CAST(sx AS DOUBLE) / n)
                     > 4.0 * (CAST(sxx AS DOUBLE) / n
                              - (CAST(sx AS DOUBLE) / n)
                                * (CAST(sx AS DOUBLE) / n))
                     AND CAST(cents AS DOUBLE) > CAST(sx AS DOUBLE) / n
                THEN 1 ELSE 0 END AS breakout_up,
           CASE WHEN n >= 3 AND
                     (CAST(cents AS DOUBLE) - CAST(sx AS DOUBLE) / n)
                     * (CAST(cents AS DOUBLE) - CAST(sx AS DOUBLE) / n)
                     > 4.0 * (CAST(sxx AS DOUBLE) / n
                              - (CAST(sx AS DOUBLE) / n)
                                * (CAST(sx AS DOUBLE) / n))
                     AND CAST(cents AS DOUBLE) < CAST(sx AS DOUBLE) / n
                THEN 1 ELSE 0 END AS breakout_down
    FROM roll
    """,
)
def win_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breakout flags on each type's daily revenue:
    a day breaks out when it sits more than 2 rolling-σ from the
    7-day rolling mean — the volatility-scaled alert rule.

    Reduce-before-window as always: the log collapses to
    O(types × calendar) daily rows, then ONE rows-frame window pass
    carries (Σx, Σx², n) — all exact integer sums in decimal — per
    frame. The band test |x−μ| > 2σ is evaluated SQUARED
    ((x−μ)² > 4·var) so no sqrt enters the comparison; μ and var are
    dyadic-free rationals evaluated in an identically-written double
    projection on both engines, and the output flags are integers.
    Warm-up frames (n<3) never flag.
    """
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").alias("d"),
        )
        .agg(
            F.sum(half_up(F.col("value") * 100)).cast(_D38).alias("cents")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, 0)
    )
    roll = daily.select(
        "event_type",
        "d",
        "cents",
        F.sum("cents").over(w).alias("sx"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("sxx"),
        F.count("*").over(w).cast("long").alias("n"),
    )
    xd = F.col("cents").cast("double")
    mu = F.col("sx").cast("double") / F.col("n")
    var = F.col("sxx").cast("double") / F.col("n") - mu * mu
    beyond = (xd - mu) * (xd - mu) > 4.0 * var
    flag_up = F.when(
        (F.col("n") >= 3) & beyond & (xd > mu), 1
    ).otherwise(0)
    flag_dn = F.when(
        (F.col("n") >= 3) & beyond & (xd < mu), 1
    ).otherwise(0)
    return roll.select(
        "event_type",
        F.unix_millis(F.col("d")).alias("day_ms"),
        F.col("cents").cast("long").alias("cents"),
        half_up(mu).alias("ma_cents"),
        flag_up.alias("breakout_up"),
        flag_dn.alias("breakout_down"),
    )
