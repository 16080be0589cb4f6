"""Round-4d extension operators (SURVEY.md §2.18).

Fourth round-4 widening pass — audit-and-forecast reads: Benford's-law
first-digit screening (the fraud/data-entry anomaly audit), revenue
concentration (the Pareto complement to `agg_gini`), the
new-vs-returning engagement split, and a seasonal-naive forecast
backtest (the baseline every real forecaster must beat).

Contract discipline identical to the other extension modules:
shared aliases, integer cents before sums, `floor(x*k + 0.5)` half-up
renders on one shared expression tree, epoch-millis timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t


# ---------------------------------------------------------------------------
# agg_benford — first-digit distribution audit
# ---------------------------------------------------------------------------


@register(
    "agg_benford",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
                   AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders
    ), tot AS (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM d
    )
    SELECT digit,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(floor(count(*) * 1000000 / tot.n + 0.5) AS BIGINT)
               AS share_ppm,
           CAST(floor(log10(1 + 1.0 / digit) * 1000000 + 0.5) AS BIGINT)
               AS benford_ppm,
           CAST(floor(count(*) * 1000000 / tot.n + 0.5) AS BIGINT)
               - CAST(floor(log10(1 + 1.0 / digit) * 1000000 + 0.5)
                      AS BIGINT) AS deviation_ppm
    FROM d CROSS JOIN tot
    GROUP BY digit, tot.n
    """,
)
def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit: the first-significant-digit distribution
    of order totals vs the log10(1+1/d) expectation — the classic
    fabricated-data / fat-finger screen a DQ suite runs on every
    monetary column.

    The leading digit comes from the INTEGER cents render (cast to
    string, first char) — integer formatting is locale-free and
    identical on both engines, avoiding double→string scientific-
    notation hazards and floor(log10(x)) boundary ULPs. One combinable
    aggregation (9-row output, map-side partials do everything), total
    as a 1-row broadcast. The Benford expectation constants fold at
    plan time; their ppm renders sit ≥ 5e-3 from any half-up boundary,
    so engine libm ULP differences cannot flip them.
    """
    orders = t(spark, sf_dir, "orders")
    d = orders.select(
        F.substring(half_up(F.col("o_totalprice") * 100).cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    tot = d.agg(F.count("*").cast("double").alias("n"))
    share = half_up(F.count("*") * F.lit(1000000) / F.col("n"))
    benford = half_up(F.log10(1 + 1.0 / F.col("digit")) * F.lit(1000000))
    return (
        d.crossJoin(F.broadcast(tot))
        .groupBy("digit", "n")
        .agg(
            F.count("*").cast("long").alias("n_values"),
            share.alias("share_ppm"),
            F.first(benford).alias("benford_ppm"),
            (share - F.first(benford)).alias("deviation_ppm"),
        )
        .select("digit", "n_values", "share_ppm", "benford_ppm", "deviation_ppm")
    )


# ---------------------------------------------------------------------------
# agg_pareto_share — revenue concentration report
# ---------------------------------------------------------------------------


@register(
    "agg_pareto_share",
    oracle="""
    WITH c AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ), r AS (
        SELECT o_custkey, cents,
               row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn,
               sum(cents) OVER (ORDER BY cents DESC, o_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM c
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM c
    )
    SELECT tot.n_customers, tot.total_cents,
           CAST(floor(CAST(sum(CASE WHEN rn <= ceil(tot.n_customers * 0.01)
                    THEN cents ELSE 0 END) AS DOUBLE) * 1000000
                    / tot.total_cents + 0.5) AS BIGINT) AS top1pct_ppm,
           CAST(floor(CAST(sum(CASE WHEN rn <= ceil(tot.n_customers * 0.10)
                    THEN cents ELSE 0 END) AS DOUBLE) * 1000000
                    / tot.total_cents + 0.5) AS BIGINT) AS top10pct_ppm,
           CAST(floor(CAST(sum(CASE WHEN rn <= ceil(tot.n_customers * 0.20)
                    THEN cents ELSE 0 END) AS DOUBLE) * 1000000
                    / tot.total_cents + 0.5) AS BIGINT) AS top20pct_ppm,
           CAST(sum(CASE WHEN cum * 10 < tot.total_cents * 8
                    THEN 1 ELSE 0 END) + 1 AS BIGINT) AS custs_for_80pct
    FROM r CROSS JOIN tot
    GROUP BY tot.n_customers, tot.total_cents
    """,
)
def agg_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (the Pareto/"80-20" read, complementing
    `agg_gini`): share of exact-cents revenue held by the top 1 / 10 /
    20 % of customers, and how many customers it takes to cover 80 %.

    Scale shape: the per-customer rollup is combinable over the fact
    table; the ranking window then runs over the AGGREGATED customer
    frame (|customers| rows). The 80 % cut is all-integer — `cum·10 <
    total·8` — so no float threshold can drift. Output is one report
    row. At true scale the global sort window would yield to an
    approx-quantile threshold pass; the report contract is unchanged.
    """
    orders = t(spark, sf_dir, "orders")
    c = orders.groupBy("o_custkey").agg(
        F.sum(half_up(F.col("o_totalprice") * 100)).cast("long").alias("cents")
    )
    w = Window.orderBy(F.col("cents").desc(), "o_custkey")
    r = c.select(
        "cents",
        F.row_number().over(w).alias("rn"),
        F.sum("cents")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    tot = c.agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
    )

    def top_share(frac: float):
        inside = F.sum(
            F.when(
                F.col("rn") <= F.ceil(F.col("n_customers") * F.lit(frac)),
                F.col("cents"),
            ).otherwise(F.lit(0))
        )
        return half_up(
            inside.cast("double") * F.lit(1000000) / F.col("total_cents")
        )

    return (
        r.crossJoin(F.broadcast(tot))
        .groupBy("n_customers", "total_cents")
        .agg(
            top_share(0.01).alias("top1pct_ppm"),
            top_share(0.10).alias("top10pct_ppm"),
            top_share(0.20).alias("top20pct_ppm"),
            (
                F.sum(
                    F.when(
                        F.col("cum") * 10 < F.col("total_cents") * 8, 1
                    ).otherwise(0)
                )
                + 1
            )
            .cast("long")
            .alias("custs_for_80pct"),
        )
        .select(
            "n_customers",
            "total_cents",
            "top1pct_ppm",
            "top10pct_ppm",
            "top20pct_ppm",
            "custs_for_80pct",
        )
    )


# ---------------------------------------------------------------------------
# agg_new_vs_returning — weekly engagement split
# ---------------------------------------------------------------------------


@register(
    "agg_new_vs_returning",
    oracle="""
    WITH wa AS (
        SELECT DISTINCT date_trunc('week', ts) AS wk, user_id FROM events
    ), first_wk AS (
        SELECT user_id, min(wk) AS fw FROM wa GROUP BY 1
    )
    SELECT epoch_ms(CAST(wa.wk AS TIMESTAMP)) AS week_ms,
           CAST(count(*) AS BIGINT) AS active_users,
           CAST(count(*) FILTER (WHERE wa.wk = f.fw) AS BIGINT)
               AS new_users,
           CAST(count(*) FILTER (WHERE wa.wk <> f.fw) AS BIGINT)
               AS returning_users,
           CAST(floor(CAST(count(*) FILTER (WHERE wa.wk = f.fw) AS DOUBLE)
                * 1000000 / count(*) + 0.5) AS BIGINT) AS new_share_ppm
    FROM wa JOIN first_wk f ON wa.user_id = f.user_id
    GROUP BY wa.wk
    """,
)
def agg_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly new-vs-returning split: per ISO week, how many active
    users are in their FIRST-ever week vs returning — the engagement
    decomposition read alongside `agg_churn_weekly` on every growth
    dashboard.

    Scale shape: one distinct (week, user) collapse over raw events
    (combinable, the only full-data pass), a per-user min-week
    aggregate, and a user-keyed equi-join of two already-collapsed
    frames — both partition on user_id, co-located at scale. The
    final weekly rollup is combinable into O(calendar) rows.
    """
    ev = t(spark, sf_dir, "events")
    wa = ev.select(F.date_trunc("week", "ts").alias("wk"), "user_id").distinct()
    first_wk = wa.groupBy("user_id").agg(F.min("wk").alias("fw"))
    new_cnt = F.count(F.when(F.col("wk") == F.col("fw"), 1)).cast("long")
    return (
        wa.join(first_wk, "user_id")
        .groupBy("wk")
        .agg(
            F.count("*").cast("long").alias("active_users"),
            new_cnt.alias("new_users"),
            F.count(F.when(F.col("wk") != F.col("fw"), 1))
            .cast("long")
            .alias("returning_users"),
            half_up(new_cnt.cast("double") * F.lit(1000000) / F.count("*"))
            .alias("new_share_ppm"),
        )
        .select(
            F.unix_millis("wk").alias("week_ms"),
            "active_users",
            "new_users",
            "returning_users",
            "new_share_ppm",
        )
    )


# ---------------------------------------------------------------------------
# ts_forecast_naive — seasonal-naive forecast backtest
# ---------------------------------------------------------------------------


@register(
    "ts_forecast_naive",
    oracle="""
    WITH wk AS (
        SELECT date_trunc('week', ts) AS w, isodow(ts) AS dow,
               hour(ts) AS hr
        FROM events
    ), bounds AS (
        SELECT max(w) AS mxw,
               CAST(count(DISTINCT w) AS BIGINT) - 1 AS n_train
        FROM wk
    )
    SELECT CAST(dow AS INTEGER) AS dow, CAST(hr AS INTEGER) AS hr,
           CAST(count(*) FILTER (WHERE w < b.mxw) AS BIGINT)
               AS train_events,
           CAST(count(*) FILTER (WHERE w = b.mxw) AS BIGINT)
               AS actual_last,
           CAST(floor(CAST(count(*) FILTER (WHERE w < b.mxw) AS DOUBLE)
                * 1000000 / b.n_train + 0.5) AS BIGINT) AS forecast_ppm,
           abs(CAST(floor(CAST(count(*) FILTER (WHERE w < b.mxw)
                    AS DOUBLE) * 1000000 / b.n_train + 0.5) AS BIGINT)
               - CAST(count(*) FILTER (WHERE w = b.mxw) AS BIGINT)
                 * 1000000) AS abs_err_ppm
    FROM wk CROSS JOIN bounds b
    GROUP BY dow, hr, b.n_train
    """,
)
def ts_forecast_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each hour-of-week
    cell's event count in the FINAL week as the mean of the prior
    weeks at that cell, and report the absolute error — the baseline
    model every real forecaster has to beat, and the cheapest
    regression test for "did traffic shape change this week".

    Scale shape: a single combinable aggregation over events with two
    conditional counts per cell (train window vs holdout week) — no
    dense calendar grid materialization, no join of per-week frames;
    the week boundary and train-week count ride in on a 1-row
    broadcast. Cells with zero train AND zero holdout events are
    absent on both engines identically (forecasting them is moot).
    Forecast is an exact rational ppm (train_count / n_train_weeks).
    """
    ev = t(spark, sf_dir, "events")
    wk = ev.select(
        F.date_trunc("week", "ts").alias("w"),
        (((F.dayofweek("ts") + 5) % 7) + 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
    )
    bounds = wk.agg(
        F.max("w").alias("mxw"),
        (F.count_distinct("w") - 1).cast("long").alias("n_train"),
    )
    train = F.count(F.when(F.col("w") < F.col("mxw"), 1)).cast("long")
    actual = F.count(F.when(F.col("w") == F.col("mxw"), 1)).cast("long")
    forecast = half_up(
        train.cast("double") * F.lit(1000000) / F.col("n_train")
    )
    return (
        wk.crossJoin(F.broadcast(bounds))
        .groupBy("dow", "hr", "n_train")
        .agg(
            train.alias("train_events"),
            actual.alias("actual_last"),
            forecast.alias("forecast_ppm"),
            F.abs(forecast - actual * F.lit(1000000)).alias("abs_err_ppm"),
        )
        .select(
            "dow", "hr", "train_events", "actual_last", "forecast_ppm",
            "abs_err_ppm",
        )
    )
