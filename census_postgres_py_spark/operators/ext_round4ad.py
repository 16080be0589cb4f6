"""Round-4ad extension operators (SURVEY.md §2.44).

Pricing-economics and forecastability reads: the Laspeyres price
index (base-basket inflation per month — the CPI construction),
the value-weighted backlog burndown (open-order VALUE per day, the
cents-weighted sibling of ts_active_intervals), and seasonal
strength (the 0–1 forecastability score telling you whether the
weekly pattern is signal or noise).

Contract discipline identical to the other extension modules: index
terms and variance components are floored to integers BEFORE any
cross-partition sum; the burndown is pure integer delta-encoding.
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
# agg_price_index_laspeyres — base-basket price index per month
# ---------------------------------------------------------------------------


@register(
    "agg_price_index_laspeyres",
    oracle="""
    WITH pm AS (
        SELECT l_partkey AS part,
               date_trunc('month', l_shipdate) AS m,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem GROUP BY 1, 2
    ), base_m AS (
        SELECT min(m) AS bm FROM pm
    ), base AS (
        SELECT pm.part, pm.cents AS c0, pm.qty AS q0
        FROM pm JOIN base_m ON pm.m = base_m.bm
    ), matched AS (
        SELECT pm.m,
               CAST(floor(CAST(pm.cents AS DOUBLE) * base.q0 / pm.qty
                          + 0.5) AS BIGINT) AS term_cents,
               base.c0
        FROM pm JOIN base ON base.part = pm.part
    )
    SELECT epoch_ms(CAST(m AS TIMESTAMP)) AS month_ms,
           CAST(count(*) AS BIGINT) AS n_parts,
           floor(CAST(sum(term_cents) AS DOUBLE) / sum(c0)
                 * 1000000 + 0.5) / 1000000 AS laspeyres
    FROM matched GROUP BY m
    """,
)
def agg_price_index_laspeyres(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index per ship month: what the FIRST month's
    basket (its quantities) would cost at each month's unit prices,
    over that basket's base cost — the CPI construction, restricted
    each month to parts traded in both periods (the matched basket).

    Unit prices stay RATIONAL (Σcents/Σqty per part-month — never a
    float average); each part's term re-prices the base quantity and
    floors to integer cents BEFORE the per-month sum, so the only
    cross-partition aggregations are exact. The base basket is one
    month of the reduced part-month frame, broadcast into the join.
    """
    pm = (
        t(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.date_trunc("month", "l_shipdate").alias("m"),
        )
        .agg(
            F.sum(half_up(F.col("l_extendedprice") * 100))
            .cast("long")
            .alias("cents"),
            F.sum(F.col("l_quantity").cast("long"))
            .cast("long")
            .alias("qty"),
        )
    )
    base_m = pm.agg(F.min("m").alias("bm"))
    base = (
        pm.join(F.broadcast(base_m), pm["m"] == F.col("bm"))
        .select(
            F.col("part").alias("bpart"),
            F.col("cents").alias("c0"),
            F.col("qty").alias("q0"),
        )
    )
    # base is part-cardinality-sized (parts present in the base
    # month) — fact-scale, so the hint is gated. Preference-keyed on
    # part (the TIGHT bound: distinct partkeys ≤ |part|, which stays
    # broadcastable long after lineitem's row count crosses the cap)
    # with lineitem — the derivation source this op reads — as the
    # fallback for table-subset corpora that carry no part.parquet
    # (r8 ADVICE: keying on lineitem alone closed the gate at ~sf1.3
    # for a frame that never outgrows part).
    matched = pm.join(
        gated_broadcast(spark, sf_dir, ("part", "lineitem"), base),
        pm["part"] == F.col("bpart"),
    ).select(
        "m",
        half_up(F.col("cents").cast("double") * F.col("q0") / F.col("qty"))
        .alias("term_cents"),
        "c0",
    )
    return matched.groupBy("m").agg(
        F.count("*").cast("long").alias("n_parts"),
        round_dp(
            F.sum("term_cents").cast("double") / F.sum("c0"), 6
        ).alias("laspeyres"),
    ).select(
        F.unix_millis(F.col("m")).alias("month_ms"),
        "n_parts",
        "laspeyres",
    )


# ---------------------------------------------------------------------------
# ts_backlog_value — open-order VALUE per day (cents-weighted burndown)
# ---------------------------------------------------------------------------


@register(
    "ts_backlog_value",
    oracle="""
    WITH iv AS (
        SELECT o_orderdate AS s,
               o_orderdate + (o_orderkey % 30 + 1) * INTERVAL 1 DAY AS e,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ), deltas AS (
        SELECT s AS d, cents AS delta FROM iv
        UNION ALL
        SELECT e + INTERVAL 1 DAY, -cents FROM iv
    ), byday AS (
        SELECT d, CAST(sum(delta) AS BIGINT) AS net
        FROM deltas GROUP BY d
    )
    SELECT epoch_ms(CAST(d AS TIMESTAMP)) AS day_ms,
           CAST(sum(net) OVER (ORDER BY d) AS BIGINT) AS backlog_cents
    FROM byday
    """,
)
def ts_backlog_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order VALUE per day — the backlog burndown in cents,
    the revenue-at-risk curve operations watches next to the count
    curve (ts_active_intervals): each order contributes its value
    from order date through its fulfillment window.

    Same scale-correct delta-encoding as the count curve: ±cents
    events collapse map-side to O(calendar) rows; the prefix sum is
    a window over the calendar frame. All integers; the final day's
    cumulative returns to zero by construction (every +cents has a
    matching −cents), which the tests pin as the conservation check.
    """
    o = t(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_orderdate").alias("s"),
        (
            F.col("o_orderdate")
            + ((F.col("o_orderkey") % 30 + 1) * F.expr("INTERVAL 1 DAY"))
        ).alias("e"),
        half_up(F.col("o_totalprice") * 100).alias("cents"),
    )
    deltas = iv.select(
        F.col("s").alias("d"), F.col("cents").alias("delta")
    ).unionAll(
        iv.select(
            F.col("e") + F.expr("INTERVAL 1 DAY"), -F.col("cents")
        )
    )
    byday = deltas.groupBy("d").agg(
        F.sum("delta").cast("long").alias("net")
    )
    w = Window.orderBy("d")
    return byday.select(
        F.unix_millis(F.col("d")).alias("day_ms"),
        F.sum("net").over(w).cast("long").alias("backlog_cents"),
    )


# ---------------------------------------------------------------------------
# agg_seasonal_strength — forecastability of the weekly pattern
# ---------------------------------------------------------------------------


@register(
    "agg_seasonal_strength",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               date_trunc('day', ts) AS d,
               CAST(isodow(ts) AS BIGINT) AS dow,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2, 3
    ), dt AS (
        SELECT event_type, d, dow, cents,
               CAST(floor(CAST(sum(cents) OVER w AS DOUBLE)
                          / count(*) OVER w + 0.5) AS BIGINT) AS trend
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), detr AS (
        SELECT event_type, dow, cents - trend AS y FROM dt
    ), dowm AS (
        SELECT event_type, dow,
               CAST(floor(CAST(sum(y) AS DOUBLE) / count(*)
                          + 0.5) AS BIGINT) AS seas
        FROM detr GROUP BY event_type, dow
    ), resid AS (
        SELECT d.event_type, d.y, d.y - m.seas AS r
        FROM detr d JOIN dowm m
          ON m.event_type = d.event_type AND m.dow = d.dow
    ), s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y * y) AS HUGEINT) AS syy,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(r * r) AS HUGEINT) AS srr,
               CAST(sum(r) AS HUGEINT) AS sr
        FROM resid GROUP BY event_type
    )
    SELECT event_type, n,
           floor(greatest(0.0,
               1.0 - (CAST(n AS DOUBLE) * CAST(srr AS DOUBLE)
                      - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               * 1000000 + 0.5) / 1000000 AS seasonal_strength
    FROM s
    """,
)
def agg_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal strength F_s = max(0, 1 − Var(residual)/Var(detrended))
    per event type — the Hyndman forecastability score: near 1 means
    the day-of-week pattern explains the detrended variance (model
    it), near 0 means it's noise (don't).

    Pipeline mirrors ts_decompose_daily: 7-day centered trend
    (rendered to integer cents per row), day-of-week means (rendered
    integer), residuals — every intermediate floors to integers
    BEFORE the variance sums, so (n, Σ, Σ²) accumulate exactly and
    the score is one identically-written final projection.
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
            F.sum(half_up(F.col("value") * 100)).cast("long").alias("cents")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    dt = daily.select(
        "event_type",
        "dow",
        "cents",
        half_up(F.sum("cents").over(w).cast("double") / F.count("*").over(w))
        .alias("trend"),
    )
    detr = dt.select(
        "event_type", "dow", (F.col("cents") - F.col("trend")).alias("y")
    )
    dowm = detr.groupBy("event_type", "dow").agg(
        half_up(F.sum("y").cast("double") / F.count("*")).alias("seas")
    )
    resid = detr.join(F.broadcast(dowm), ["event_type", "dow"]).select(
        "event_type",
        "y",
        (F.col("y") - F.col("seas")).alias("r"),
    )
    s = resid.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum((F.col("y") * F.col("y")).cast(_D38)).alias("syy"),
        F.sum(F.col("y").cast(_D38)).alias("sy"),
        F.sum((F.col("r") * F.col("r")).cast(_D38)).alias("srr"),
        F.sum(F.col("r").cast(_D38)).alias("sr"),
    )
    nd = F.col("n").cast("double")
    dx = lambda c: F.col(c).cast("double")  # noqa: E731
    strength = F.greatest(
        F.lit(0.0),
        1.0
        - (nd * dx("srr") - dx("sr") * dx("sr"))
        / (nd * dx("syy") - dx("sy") * dx("sy")),
    )
    return s.select(
        "event_type",
        "n",
        round_dp(strength, 6).alias("seasonal_strength"),
    )
