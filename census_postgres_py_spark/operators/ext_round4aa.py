"""Round-4aa extension operators (SURVEY.md §2.41).

Feature-store, temporal-integrity and dispersion reads: a point-in-
time feature snapshot (the as-of-cutoff wide frame a feature store
serves to training jobs — leakage-guarded by construction), a
temporal-consistency audit (ship-before-order detection — the
date-logic sibling of dq_fk_orphans), and
the variance-to-mean ratio (the overdispersion screen that says
whether counts are Poisson-like or bursty).

Contract discipline identical to the other extension modules: all
features are integer counts/cents or day-diffs, the audit flags are
exact date comparisons, and VMR renders from exact (n, Σx, Σx²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import gated_broadcast, t


# ---------------------------------------------------------------------------
# pipeline_feature_store_e2e — point-in-time customer feature snapshot
# ---------------------------------------------------------------------------


@register(
    "pipeline_feature_store_e2e",
    oracle="""
    WITH cutoff AS (
        SELECT date_trunc('month', max(o_orderdate))
                   - INTERVAL 3 MONTH AS cut
        FROM orders
    ), order_feats AS (
        SELECT o.o_custkey AS cust,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS spend_cents,
               CAST(date_diff('day', max(o.o_orderdate), max(c.cut))
                    AS BIGINT) AS recency_days,
               CAST(count(DISTINCT date_trunc('month', o.o_orderdate))
                    AS BIGINT) AS active_months
        FROM orders o CROSS JOIN cutoff c
        WHERE o.o_orderdate < c.cut
        GROUP BY o.o_custkey
    )
    SELECT f.cust AS c_custkey, c.c_nationkey,
           f.n_orders, f.spend_cents, f.recency_days, f.active_months
    FROM order_feats f JOIN customer c ON c.c_custkey = f.cust
    """,
)
def pipeline_feature_store_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time customer feature snapshot as-of a 3-months-back
    cutoff: order count, lifetime spend, recency, months active —
    the wide frame a feature store serves to a training job, with
    the leakage guard (`o_orderdate < cutoff`) IN the plan, not in a
    code-review comment.

    The cutoff is a 1-row broadcast (never a driver-side date
    computation that could drift from the data); every feature is
    one combinable aggregation over the pre-cutoff slice; the dim
    attributes join broadcast. At 100 TB this is the canonical
    scan → filter-pushdown → combinable agg → broadcast-join shape,
    and re-running it at any past cutoff replays history exactly.
    """
    o = t(spark, sf_dir, "orders")
    cutoff = o.agg(
        F.add_months(F.date_trunc("month", F.max("o_orderdate")), -3)
        .cast("timestamp")
        .alias("cut")
    )
    feats = (
        o.crossJoin(F.broadcast(cutoff))
        .filter(F.col("o_orderdate") < F.col("cut"))
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(half_up(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("spend_cents"),
            F.datediff(F.max("cut"), F.max("o_orderdate"))
            .cast("long")
            .alias("recency_days"),
            F.countDistinct(F.date_trunc("month", "o_orderdate"))
            .cast("long")
            .alias("active_months"),
        )
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return feats.join(
        gated_broadcast(spark, sf_dir, "customer", cust),
        feats["cust"] == cust["c_custkey"],
    ).select(
        "c_custkey",
        "c_nationkey",
        "n_orders",
        "spend_cents",
        "recency_days",
        "active_months",
    )


# ---------------------------------------------------------------------------
# dq_temporal_consistency — ship-before-order audit
# ---------------------------------------------------------------------------


@register(
    "dq_temporal_consistency",
    oracle="""
    WITH li AS (
        SELECT l.l_shipdate AS ship, o.o_orderdate
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN ship < o_orderdate THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations,
           CAST(min(CASE WHEN ship < o_orderdate
                    THEN date_diff('day', o_orderdate, ship) END)
                AS BIGINT) AS worst_lead_days
    FROM li GROUP BY 1
    """,
)
def dq_temporal_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ship-before-order audit: a line item shipped before its order
    was placed is a physically impossible record — the date-logic
    integrity check every warehouse runs next to FK orphans. The
    fixture's ship dates are generated INDEPENDENTLY of order dates,
    so ~half the lines genuinely violate — a real data-quality
    finding this audit surfaces and quantifies per order year.

    One co-partitioned fact join on orderkey (both sides hash the
    same key — at 100 TB this is the bucketed-join shape), then a
    combinable per-year rollup with the violation flag and the worst
    negative lead time. Exact date comparisons only.
    """
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    joined = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("l_shipdate").alias("ship"), "o_orderdate"
    )
    return joined.groupBy(
        F.year("o_orderdate").cast("long").alias("order_year")
    ).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(
            F.when(F.col("ship") < F.col("o_orderdate"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_violations"),
        F.min(
            F.when(
                F.col("ship") < F.col("o_orderdate"),
                F.datediff(F.col("ship"), F.col("o_orderdate")),
            )
        )
        .cast("long")
        .alias("worst_lead_days"),
    )


# ---------------------------------------------------------------------------
# agg_overdispersion — variance-to-mean ratio of daily counts
# ---------------------------------------------------------------------------


@register(
    "agg_overdispersion",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(x * x) AS HUGEINT) AS sxx
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n, CAST(sx AS BIGINT) AS total,
           floor((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1) / CAST(sx AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS vmr
    FROM s WHERE n > 1
    """,
)
def agg_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean ratio (Fisher dispersion index) of each
    type's daily event counts — VMR ≈ 1 is Poisson-like arrivals;
    VMR ≫ 1 means bursty traffic, which changes every capacity and
    anomaly-threshold decision downstream.

    VMR = s²/x̄ = (n·Σx² − (Σx)²) / ((n−1)·Σx) over the reduced
    calendar frame, all sums exact integers, one identically-written
    final projection at 1e-6.
    """
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").alias("d"),
        )
        .agg(F.count("*").cast("long").alias("x"))
    )
    d38 = "decimal(38,0)"
    s = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    return s.filter(F.col("n") > 1).select(
        "event_type",
        "n",
        F.col("sx").cast("long").alias("total"),
        round_dp((nd * sxx - sx * sx) / (nd - 1) / sx, 6).alias("vmr"),
    )
