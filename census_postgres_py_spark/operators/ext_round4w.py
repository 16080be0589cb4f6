"""Round-4w extension operators (SURVEY.md §2.37).

Small-sample-honest statistics and feature hygiene: empirical-Bayes
smoothed rates (the additive-shrinkage fix for "this segment has 2
users and a 100% conversion rate"), the Mann–Kendall trend test (the
nonparametric "is this series really trending" screen), and rare-
category collapse (the cardinality guard applied before one-hot or
target encoding).

Contract discipline identical to the other extension modules: the
shrinkage estimate is a rational over exact integers, Mann–Kendall's
S statistic is an integer pair-sign sum, and the collapse mapping is
pure counting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

_PRIOR_M = 50  # pseudo-observations behind the global prior


# ---------------------------------------------------------------------------
# agg_eb_smoothed_rate — additive shrinkage toward the global rate
# ---------------------------------------------------------------------------


@register(
    "agg_eb_smoothed_rate",
    oracle=f"""
    WITH seg AS (
        SELECT user_id % 97 AS segment,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k
        FROM events GROUP BY 1
    ), g AS (
        SELECT CAST(sum(n) AS BIGINT) AS tn,
               CAST(sum(k) AS BIGINT) AS tk
        FROM seg
    )
    SELECT seg.segment, seg.n, seg.k,
           floor(CAST(seg.k AS DOUBLE) / seg.n * 1000000 + 0.5)
               / 1000000 AS raw_rate,
           floor((CAST(seg.k AS DOUBLE)
                  + {_PRIOR_M} * CAST(g.tk AS DOUBLE) / g.tn)
                 / (seg.n + {_PRIOR_M}) * 1000000 + 0.5)
               / 1000000 AS smoothed_rate
    FROM seg CROSS JOIN g
    """,
)
def agg_eb_smoothed_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes purchase-rate per user segment: the raw k/n
    next to the shrunk (k + m·p₀)/(n + m) with m = 50 pseudo-
    observations at the global rate p₀ — the standard fix that stops
    tiny segments from topping every conversion leaderboard.

    One combinable pass builds the per-segment (n, k); the global
    prior is a 1-row broadcast. Both rates are rationals over exact
    integers rendered identically at 1e-6 — the shrinkage itself
    never aggregates floats. At 100 TB this is scan → combinable agg
    → broadcast join → projection: the cheapest possible shape.
    """
    seg = (
        t(spark, sf_dir, "events")
        .groupBy((F.col("user_id") % 97).alias("segment"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("k"),
        )
    )
    g = seg.agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("k").cast("long").alias("tk"),
    )
    kd = F.col("k").cast("double")
    p0 = F.col("tk").cast("double") / F.col("tn")
    return seg.crossJoin(F.broadcast(g)).select(
        "segment",
        "n",
        "k",
        round_dp(kd / F.col("n"), 6).alias("raw_rate"),
        round_dp(
            (kd + _PRIOR_M * p0) / (F.col("n") + _PRIOR_M), 6
        ).alias("smoothed_rate"),
    )


# ---------------------------------------------------------------------------
# agg_mann_kendall — nonparametric monotone-trend test
# ---------------------------------------------------------------------------


@register(
    "agg_mann_kendall",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               date_trunc('day', ts) AS d,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), pairs AS (
        SELECT a.event_type,
               CASE WHEN b.x > a.x THEN 1
                    WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn
        FROM daily a JOIN daily b
          ON b.event_type = a.event_type AND b.d > a.d
    )
    SELECT p.event_type,
           CAST(sum(p.sgn) AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS n_pairs,
           floor(CAST(sum(p.sgn) AS DOUBLE) / count(*) * 1000000 + 0.5)
               / 1000000 AS kendall_tau_a
    FROM pairs p GROUP BY p.event_type
    """,
)
def agg_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall S and Kendall τ-a per event type's daily revenue
    series — the rank-based "is it really trending" screen that
    ignores outliers a linear fit would chase.

    S = Σ_{i<j} sign(x_j − x_i) is an INTEGER pair sum over the
    O(calendar) daily frame (the raw log reduces first; the pair
    join is calendar²-bounded, and at century scale one switches to
    the equivalent inversion-count/rank decomposition — S is
    computable from a single rank pass). τ-a = S / C(n,2) is the
    one rendered ratio.
    """
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").alias("d"),
        )
        .agg(
            F.sum(half_up(F.col("value") * 100)).cast("long").alias("x")
        )
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.d") > F.col("a.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.when(F.col("b.x") > F.col("a.x"), 1)
        .when(F.col("b.x") < F.col("a.x"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    return pairs.groupBy("event_type").agg(
        F.sum("sgn").cast("long").alias("s"),
        F.count("*").cast("long").alias("n_pairs"),
        round_dp(
            F.sum("sgn").cast("double") / F.count("*"), 6
        ).alias("kendall_tau_a"),
    )


# ---------------------------------------------------------------------------
# transform_rare_collapse — cardinality guard for categorical features
# ---------------------------------------------------------------------------

_MIN_SUPPORT = 72


@register(
    "transform_rare_collapse",
    oracle=f"""
    WITH counts AS (
        SELECT o_custkey % 211 AS cat, CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY 1
    ), mapped AS (
        SELECT o.o_orderkey,
               CASE WHEN ct.c >= {_MIN_SUPPORT}
                    THEN CAST(o.o_custkey % 211 AS VARCHAR)
                    ELSE '__other__' END AS category
        FROM orders o JOIN counts ct ON ct.cat = o.o_custkey % 211
    )
    SELECT category,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
    FROM mapped GROUP BY category
    """,
)
def transform_rare_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse categories seen fewer than 72 times into
    '__other__' — the cardinality guard applied before one-hot /
    target encoding so the feature space can't explode on long-tail
    values (category = custkey mod 211, a deliberately skewed
    derived attribute).

    Category supports come from one combinable count; the mapping
    joins the (small, category-cardinality-sized) support table back
    broadcast, so the collapse is shuffle-free on the fact side; the
    report is a second combinable rollup. At 100 TB the support
    table stays vocabulary-sized — this never windows or sorts the
    fact table.
    """
    o = t(spark, sf_dir, "orders")
    counts = o.groupBy((F.col("o_custkey") % 211).alias("cat")).agg(
        F.count("*").cast("long").alias("c")
    )
    mapped = (
        o.withColumn("cat", F.col("o_custkey") % 211)
        .join(F.broadcast(counts), "cat")
        .select(
            "o_orderkey",
            F.when(
                F.col("c") >= _MIN_SUPPORT,
                F.col("cat").cast("string"),
            )
            .otherwise(F.lit("__other__"))
            .alias("category"),
        )
    )
    return mapped.groupBy("category").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("o_orderkey").cast("long").alias("n_keys"),
    )
