"""Round-4u extension operators (SURVEY.md §2.35).

Spectral, robust-clamp and hierarchy-rollup reads: a daily-series
periodogram (which cycle lengths carry the energy — the spectral
sibling of ts_autocorr), per-group winsorization (clamp at P5/P95,
the standard fat-tail guard before averaging), and hierarchical
spend rollup over the customer tree (every ancestor's subtree
revenue — the BOM-cost / org-rollup aggregation, built on the
hier_flatten closure).

Contract discipline identical to the other extension modules: the
periodogram e6-integerizes each cos/sin product BEFORE summation
(text_tfidf ln-precedent extended to trig — both engines evaluate
the identically-written argument), winsor bounds are dyadic-exact
percentiles over integer cents, and the rollup is pure integer
arithmetic over the closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.operators.ext_round4n import _closure_levels
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

_D38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# ts_periodogram — energy per candidate cycle length
# ---------------------------------------------------------------------------


@register(
    "ts_periodogram",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_diff('day',
                    (SELECT min(date_trunc('day', ts)) FROM events),
                    date_trunc('day', ts)) AS BIGINT) AS idx,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1
    ), periods AS (
        SELECT CAST(range AS BIGINT) AS p FROM range(2, 15)
    ), terms AS (
        SELECT p,
               CAST(floor(cents * cos(2 * pi() * idx / p) + 0.5)
                    AS BIGINT) AS cx,
               CAST(floor(cents * sin(2 * pi() * idx / p) + 0.5)
                    AS BIGINT) AS cy
        FROM daily CROSS JOIN periods
    ), s AS (
        SELECT p, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cx) AS HUGEINT) AS sx,
               CAST(sum(cy) AS HUGEINT) AS sy
        FROM terms GROUP BY p
    )
    SELECT p, n,
           CAST(floor(sqrt(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                           + CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                      / n + 0.5) AS BIGINT) AS amp_cents
    FROM s
    """,
)
def ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram of the daily revenue series at candidate cycle
    lengths 2–14 days — the spectral "which rhythm dominates" read
    (a 7-day peak = weekly seasonality), complementing ts_autocorr.

    The log reduces to O(calendar) daily rows first; the DFT terms
    come from a broadcast cross join with the 13-row period frame.
    Each cents·cos / cents·sin product is floored to an integer PER
    TERM (the trig arguments are identical rational expressions on
    both engines — ln-precedent), so the per-period sums are exact
    integer accumulations; the amplitude is one final double render.
    """
    ev = t(spark, sf_dir, "events")
    d0 = ev.agg(
        F.min(F.date_trunc("day", "ts")).alias("d0")
    )
    daily = (
        ev.crossJoin(F.broadcast(d0))
        .groupBy(
            F.datediff(F.date_trunc("day", "ts"), F.col("d0"))
            .cast("long")
            .alias("idx")
        )
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    periods = spark.range(2, 15).select(F.col("id").alias("p"))
    arg = 2 * F.lit(3.141592653589793) * F.col("idx") / F.col("p")
    terms = daily.crossJoin(F.broadcast(periods)).select(
        "p",
        F.floor(F.col("cents") * F.cos(arg) + F.lit(0.5))
        .cast("long")
        .alias("cx"),
        F.floor(F.col("cents") * F.sin(arg) + F.lit(0.5))
        .cast("long")
        .alias("cy"),
    )
    s = terms.groupBy("p").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("cx").cast(_D38)).alias("sx"),
        F.sum(F.col("cy").cast(_D38)).alias("sy"),
    )
    return s.select(
        "p",
        "n",
        F.floor(
            F.sqrt(
                F.col("sx").cast("double") * F.col("sx").cast("double")
                + F.col("sy").cast("double") * F.col("sy").cast("double")
            )
            / F.col("n")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("amp_cents"),
    )


# ---------------------------------------------------------------------------
# transform_winsorize — P5/P95 clamp per priority class
# ---------------------------------------------------------------------------


@register(
    "transform_winsorize",
    oracle="""
    WITH c AS (
        SELECT o_orderkey, o_orderpriority AS grp,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ), bounds AS (
        SELECT grp,
               quantile_cont(cents, 0.05) AS lo,
               quantile_cont(cents, 0.95) AS hi
        FROM c GROUP BY grp
    )
    SELECT c.o_orderkey, c.grp, c.cents,
           CAST(CASE WHEN c.cents < b.lo THEN ceil(b.lo)
                     WHEN c.cents > b.hi THEN floor(b.hi)
                     ELSE c.cents END AS BIGINT) AS winsor_cents,
           CASE WHEN c.cents < b.lo OR c.cents > b.hi
                THEN 1 ELSE 0 END AS clamped
    FROM c JOIN bounds b ON b.grp = c.grp
    """,
)
def transform_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clamp each order's value into its priority
    class's [P5, P95] band — the standard tail guard applied before
    any mean-based KPI, keeping row count (unlike trimming).

    The per-group bounds are one exact-percentile aggregation over
    integer cents (dyadic-exact interpolation — the dq_outlier_iqr
    proof), broadcast back into a shuffle-free clamp projection.
    Fractional bounds round INWARD (ceil on the low clamp, floor on
    the high) so clamped values stay inside the band as integers.
    """
    c = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    bounds = c.groupBy("grp").agg(
        F.percentile("cents", 0.05).alias("lo"),
        F.percentile("cents", 0.95).alias("hi"),
    )
    return (
        c.join(F.broadcast(bounds), "grp")
        .select(
            "o_orderkey",
            "grp",
            "cents",
            F.when(F.col("cents") < F.col("lo"), F.ceil("lo"))
            .when(F.col("cents") > F.col("hi"), F.floor("hi"))
            .otherwise(F.col("cents"))
            .cast("long")
            .alias("winsor_cents"),
            F.when(
                (F.col("cents") < F.col("lo"))
                | (F.col("cents") > F.col("hi")),
                1,
            )
            .otherwise(0)
            .alias("clamped"),
        )
    )


# ---------------------------------------------------------------------------
# hier_rollup_spend — subtree revenue per ancestor over the closure
# ---------------------------------------------------------------------------


@register(
    "hier_rollup_spend",
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT c_custkey AS child,
               CAST(c_custkey // 10 AS BIGINT) AS parent
        FROM customer WHERE c_custkey // 10 >= 1
    ), cl AS (
        SELECT parent AS anc, child AS des FROM edges
        UNION ALL
        SELECT e.parent, cl.des
        FROM cl JOIN edges e ON cl.anc = e.child
    ), spend AS (
        SELECT o_custkey AS cust,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS own_c
        FROM orders GROUP BY 1
    ), rolled AS (
        SELECT cl.anc,
               CAST(count(*) AS BIGINT) AS n_desc,
               CAST(sum(coalesce(s.own_c, 0)) AS BIGINT) AS desc_c
        FROM cl LEFT JOIN spend s ON s.cust = cl.des
        GROUP BY cl.anc
    )
    SELECT r.anc AS c_custkey, r.n_desc,
           CAST(coalesce(s.own_c, 0) AS BIGINT) AS own_c,
           r.desc_c,
           CAST(coalesce(s.own_c, 0) + r.desc_c AS BIGINT) AS subtree_c
    FROM rolled r LEFT JOIN spend s ON s.cust = r.anc
    """,
)
def hier_rollup_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree revenue per ancestor in the customer hierarchy — own
    spend, descendant spend and their total for every internal node:
    the BOM-cost / org-chart rollup, and the reason warehouses
    flatten hierarchies into closure bridges in the first place.

    Reuses hier_flatten's bounded iterative closure, then ONE
    hash join against the per-customer spend frame (reduced first —
    combinable agg over orders) and ONE combinable rollup by
    ancestor. Compare the oracle: the recursive CTE re-derives the
    same closure. All cents integers; customers with no orders
    contribute zero via the left join.
    """
    from functools import reduce as _reduce

    # Shared footer-bounded closure (r12): the r11 copy of the unroll
    # loop probed isEmpty per hop — each probe a build-time job
    # re-running the whole chain (15 build jobs at sf0.1); see
    # hier_flatten for the bound derivation.
    levels = [
        lv.select("anc", "des")
        for lv in _closure_levels(spark, sf_dir)
    ]
    cl = _reduce(DataFrame.unionAll, levels)
    spend = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("own_c")
        )
    )
    rolled = (
        cl.join(spend, cl["des"] == spend["cust"], "left")
        .groupBy("anc")
        .agg(
            F.count("*").cast("long").alias("n_desc"),
            F.sum(F.coalesce(F.col("own_c"), F.lit(0)))
            .cast("long")
            .alias("desc_c"),
        )
    )
    own = spend.select(
        F.col("cust").alias("anc2"), F.col("own_c").alias("own_direct")
    )
    return (
        rolled.join(own, rolled["anc"] == own["anc2"], "left")
        .select(
            F.col("anc").alias("c_custkey"),
            "n_desc",
            F.coalesce(F.col("own_direct"), F.lit(0))
            .cast("long")
            .alias("own_c"),
            "desc_c",
            (
                F.coalesce(F.col("own_direct"), F.lit(0)) + F.col("desc_c")
            )
            .cast("long")
            .alias("subtree_c"),
        )
    )
