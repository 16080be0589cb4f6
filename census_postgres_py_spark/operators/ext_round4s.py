"""Round-4s extension operators (SURVEY.md §2.33).

Model-evaluation and dependence reads: the exact two-sample
Kolmogorov–Smirnov statistic (the drift test between two score
distributions, kept INTEGER by cross-multiplying the CDFs), the
decile lift / gains table (the "is the model better than random"
read every targeting campaign starts from), and rolling correlation
between two daily series (the co-movement monitor).

Contract discipline identical to the other extension modules: the KS
prefix sums use the bucketed two-level shape (dq_sequence_gaps
precedent) so no global single-partition window touches a
data-sized frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

_D38 = "decimal(38,0)"
_KS_BUCKET = 100000  # cents-space bucket width for the two-level prefix


# ---------------------------------------------------------------------------
# agg_ks_statistic — exact two-sample Kolmogorov–Smirnov distance
# ---------------------------------------------------------------------------


@register(
    "agg_ks_statistic",
    oracle="""
    WITH c AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
               CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS is_o
        FROM orders WHERE o_orderstatus IN ('O', 'F')
    ), per_v AS (
        SELECT v,
               CAST(sum(is_o) AS BIGINT) AS co,
               CAST(sum(1 - is_o) AS BIGINT) AS cf
        FROM c GROUP BY v
    ), cum AS (
        SELECT v,
               CAST(sum(co) OVER (ORDER BY v) AS HUGEINT) AS i,
               CAST(sum(cf) OVER (ORDER BY v) AS HUGEINT) AS j
        FROM per_v
    ), tot AS (
        SELECT CAST(sum(co) AS HUGEINT) AS n1,
               CAST(sum(cf) AS HUGEINT) AS n2
        FROM per_v
    ), scaled AS (
        SELECT v, abs(i * tot.n2 - j * tot.n1) AS d_scaled,
               tot.n1 AS n1, tot.n2 AS n2
        FROM cum CROSS JOIN tot
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(max(d_scaled) AS BIGINT) AS d_scaled,
           CAST(min(v) FILTER (
               WHERE d_scaled = (SELECT max(d_scaled) FROM scaled))
               AS BIGINT) AS at_cents,
           floor(CAST(max(d_scaled) AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS d
    FROM scaled GROUP BY n1, n2
    """,
)
def agg_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS distance between open ('O') and fulfilled
    ('F') order-value distributions — the standard "did the
    distribution drift" test, with the sup over |F₁−F₂| kept INTEGER
    by comparing i·n₂ vs j·n₁ instead of the float CDFs.

    Per-value counts collapse map-side; the prefix sums run in the
    bucketed two-level shape (intra-bucket cumsum partitioned by
    value-bucket + a bucket-offset join over the tiny per-bucket
    frame — dq_sequence_gaps precedent), so nothing windows over a
    data-sized frame in one task. The argmax reports the smallest
    value achieving the sup (deterministic tiebreak); d is the one
    final double division, rounded at 1e-6.
    """
    c = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("O", "F"))
        .select(
            half_up(F.col("o_totalprice") * 100).alias("v"),
            F.when(F.col("o_orderstatus") == "O", 1)
            .otherwise(0)
            .alias("is_o"),
        )
    )
    per_v = c.groupBy("v").agg(
        F.sum("is_o").cast("long").alias("co"),
        F.sum(1 - F.col("is_o")).cast("long").alias("cf"),
    )
    bkt = F.expr("v div {0}".format(_KS_BUCKET))
    per_v = per_v.withColumn("bkt", bkt)
    w_in = Window.partitionBy("bkt").orderBy("v")
    intra = per_v.select(
        "v",
        "bkt",
        F.sum("co").over(w_in).cast(_D38).alias("io"),
        F.sum("cf").over(w_in).cast(_D38).alias("jo"),
    )
    per_bkt = per_v.groupBy("bkt").agg(
        F.sum("co").cast(_D38).alias("bo"),
        F.sum("cf").cast(_D38).alias("bf"),
    )
    w_b = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per_bkt.select(
        "bkt",
        F.coalesce(F.sum("bo").over(w_b), F.lit(0).cast(_D38)).alias(
            "off_o"
        ),
        F.coalesce(F.sum("bf").over(w_b), F.lit(0).cast(_D38)).alias(
            "off_f"
        ),
    )
    cum = intra.join(F.broadcast(offsets), "bkt").select(
        "v",
        (F.col("io") + F.col("off_o")).alias("i"),
        (F.col("jo") + F.col("off_f")).alias("j"),
    )
    tot = per_v.agg(
        F.sum("co").cast(_D38).alias("n1"),
        F.sum("cf").cast(_D38).alias("n2"),
    )
    scaled = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        F.abs(F.col("i") * F.col("n2") - F.col("j") * F.col("n1")).alias(
            "d_scaled"
        ),
        "n1",
        "n2",
    )
    best = scaled.agg(F.max("d_scaled").alias("mx"))
    return (
        scaled.crossJoin(F.broadcast(best))
        .filter(F.col("d_scaled") == F.col("mx"))
        .groupBy("n1", "n2")
        .agg(
            F.max("d_scaled").cast("long").alias("d_scaled"),
            F.min("v").cast("long").alias("at_cents"),
        )
        .select(
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            "d_scaled",
            "at_cents",
            round_dp(
                F.col("d_scaled").cast("double")
                / (
                    F.col("n1").cast("double")
                    * F.col("n2").cast("double")
                ),
                6,
            ).alias("d"),
        )
    )


# ---------------------------------------------------------------------------
# agg_decile_lift — gains table over a spend-based propensity score
# ---------------------------------------------------------------------------


@register(
    "agg_decile_lift",
    oracle="""
    WITH cutoff AS (
        SELECT date_trunc('month', max(o_orderdate))
                   - INTERVAL 6 MONTH AS cut
        FROM orders
    ), feat AS (
        SELECT o.o_custkey AS cust,
               CAST(sum(CASE WHEN o.o_orderdate < c.cut
                             THEN CAST(floor(o.o_totalprice * 100 + 0.5)
                                       AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS score,
               CAST(max(CASE WHEN o.o_orderdate >= c.cut
                             THEN 1 ELSE 0 END) AS BIGINT) AS response
        FROM orders o CROSS JOIN cutoff c
        GROUP BY o.o_custkey
    ), ranked AS (
        SELECT score, response,
               row_number() OVER (ORDER BY score DESC, cust) AS rn,
               count(*) OVER () AS n
        FROM feat
    ), dec AS (
        SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS decile,
               CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum(response) AS BIGINT) AS responders
        FROM ranked GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(n_cust) AS BIGINT) AS tn,
               CAST(sum(responders) AS BIGINT) AS tr
        FROM dec
    )
    SELECT decile, n_cust, responders,
           floor(CAST(responders AS DOUBLE) / n_cust * 1000000 + 0.5)
               / 1000000 AS response_rate,
           floor(CAST(sum(responders) OVER w AS DOUBLE) * tot.tn
                 / (CAST(sum(n_cust) OVER w AS DOUBLE) * tot.tr)
                 * 1000000 + 0.5) / 1000000 AS cum_lift
    FROM dec CROSS JOIN tot
    WINDOW w AS (ORDER BY decile)
    """,
)
def agg_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains table: customers ranked by pre-cutoff spend
    (the propensity score), outcome = ordered again in the last six
    months — response rate and cumulative lift per decile, the chart
    that says whether the top decile is worth targeting.

    Time-split feature/outcome from ONE combinable pass over orders
    (conditional sums against a broadcast 1-row cutoff). The global
    rank is over the CUSTOMER frame (already reduced); decile is
    (rn−1)·10 div n — identical integer banding on both engines,
    immune to ntile's remainder-distribution differences. Lift is
    rationals-over-exact-integers on a 10-row frame.
    """
    o = t(spark, sf_dir, "orders")
    cutoff = o.agg(
        F.add_months(F.date_trunc("month", F.max("o_orderdate")), -6)
        .cast("timestamp")
        .alias("cut")
    )
    feat = (
        o.crossJoin(F.broadcast(cutoff))
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.sum(
                F.when(
                    F.col("o_orderdate") < F.col("cut"),
                    half_up(F.col("o_totalprice") * 100),
                ).otherwise(0)
            )
            .cast("long")
            .alias("score"),
            F.max(
                F.when(F.col("o_orderdate") >= F.col("cut"), 1).otherwise(0)
            )
            .cast("long")
            .alias("response"),
        )
    )
    w_rank = Window.orderBy(F.col("score").desc(), F.col("cust"))
    ranked = feat.select(
        "score",
        "response",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    dec = (
        ranked.groupBy(
            F.expr("(rn - 1) * 10 div n").cast("long").alias("decile")
        )
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            F.sum("response").cast("long").alias("responders"),
        )
    )
    tot = dec.agg(
        F.sum("n_cust").cast("long").alias("tn"),
        F.sum("responders").cast("long").alias("tr"),
    )
    w_cum = Window.orderBy("decile")
    return (
        dec.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_cust",
            "responders",
            round_dp(
                F.col("responders").cast("double") / F.col("n_cust"), 6
            ).alias("response_rate"),
            round_dp(
                F.sum("responders").over(w_cum).cast("double")
                * F.col("tn")
                / (
                    F.sum("n_cust").over(w_cum).cast("double")
                    * F.col("tr")
                ),
                6,
            ).alias("cum_lift"),
        )
    )


# ---------------------------------------------------------------------------
# win_rolling_corr — 14-day rolling correlation of two daily series
# ---------------------------------------------------------------------------


@register(
    "win_rolling_corr",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS d,
               CAST(sum(CASE WHEN event_type = 'click'
                        THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), roll AS (
        SELECT d,
               CAST(count(*) OVER w AS BIGINT) AS n,
               CAST(sum(x) OVER w AS HUGEINT) AS sx,
               CAST(sum(y) OVER w AS HUGEINT) AS sy,
               CAST(sum(x * y) OVER w AS HUGEINT) AS sxy,
               CAST(sum(x * x) OVER w AS HUGEINT) AS sxx,
               CAST(sum(y * y) OVER w AS HUGEINT) AS syy
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT epoch_ms(CAST(d AS TIMESTAMP)) AS day_ms, n,
           CASE WHEN n >= 3 THEN
               floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                     * 1000000 + 0.5) / 1000000
           END AS corr_14d
    FROM roll
    """,
)
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day rolling Pearson correlation between daily click and
    purchase revenue — the co-movement monitor ("are clicks still
    converting?") behind marketing dashboards.

    The two series pivot out of ONE conditional aggregation (no
    self-join); the rolling frame carries all six exact integer sums;
    the correlation is one identically-written double projection per
    calendar row, NULL for warm-up frames (n<3). The window input is
    O(calendar) at any data scale.
    """
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "click",
                    half_up(F.col("value") * 100),
                ).otherwise(0)
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    half_up(F.col("value") * 100),
                ).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
    )
    w = Window.orderBy("d").rowsBetween(-13, 0)
    roll = daily.select(
        "d",
        F.count("*").over(w).cast("long").alias("n"),
        F.sum(F.col("x").cast(_D38)).over(w).alias("sx"),
        F.sum(F.col("y").cast(_D38)).over(w).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(_D38)).over(w).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(_D38)).over(w).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(_D38)).over(w).alias("syy"),
    )
    nd = F.col("n").cast("double")
    dx = lambda c: F.col(c).cast("double")  # noqa: E731
    num = nd * dx("sxy") - dx("sx") * dx("sy")
    den = F.sqrt(
        (nd * dx("sxx") - dx("sx") * dx("sx"))
        * (nd * dx("syy") - dx("sy") * dx("sy"))
    )
    return roll.select(
        F.unix_millis(F.col("d")).alias("day_ms"),
        "n",
        F.when(
            F.col("n") >= 3,
            round_dp(num / den, 6),
        ).alias("corr_14d"),
    )
