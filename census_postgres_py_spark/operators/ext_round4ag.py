"""Round-4ag extension operators (SURVEY.md §2.47).

Portfolio-classification and fiscal reads: the BCG growth-share
matrix (brands classed star/cow/question/dog by integer-exact
dominance tests), ABC-XYZ inventory segmentation (revenue class ×
demand-variability class — the planogram behind safety-stock
policy), and progressive bracket duty (the piecewise-marginal
computation every payroll/customs engine runs).

Contract discipline identical to the other extension modules: every
CLASSIFICATION decision is an integer comparison (cross-multiplied
where thresholds are rational), so class labels can never flip on
float rounding; only displayed ratios are rendered.
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
# agg_bcg_matrix — growth-share quadrants per brand-year
# ---------------------------------------------------------------------------


@register(
    "agg_bcg_matrix",
    oracle="""
    WITH rev AS (
        SELECT p.p_brand AS brand,
               CAST(year(l.l_shipdate) AS BIGINT) AS y,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS c
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ), comp AS (
        SELECT brand, y, c,
               max(c) OVER (PARTITION BY y) AS best,
               lag(c) OVER (PARTITION BY brand ORDER BY y) AS prev_c
        FROM rev
    )
    SELECT brand, y, c AS rev_cents,
           floor(CAST(c AS DOUBLE) / best * 1000000 + 0.5) / 1000000
               AS rel_share,
           CASE WHEN prev_c IS NULL THEN NULL
                WHEN c >= prev_c THEN 1 ELSE 0 END AS grew,
           CASE WHEN prev_c IS NULL THEN 'new'
                WHEN c = best AND c >= prev_c THEN 'star'
                WHEN c = best THEN 'cash_cow'
                WHEN c >= prev_c THEN 'question'
                ELSE 'dog' END AS quadrant
    FROM comp
    """,
)
def agg_bcg_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BCG growth-share quadrants per brand-year: the year's leading
    brand splits star (still growing) / cash-cow (flat or declining);
    everyone else splits question (growing) / dog — the portfolio
    slide, with every classification an INTEGER comparison (equal to
    the year max; ≥ prior year), so no label can flip on rounding.
    rel_share (vs the year leader) is rendered for display only.

    Brand-year revenue reduces in one combinable pass with a
    broadcast part dim; leadership is a per-year window over the
    brand frame (brand-cardinality-sized); growth is one lag per
    brand. First-observed years class 'new'.
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
            F.col("p_brand").alias("brand"),
            F.year("l_shipdate").cast("long").alias("y"),
        )
        .agg(
            F.sum(half_up(F.col("l_extendedprice") * 100))
            .cast("long")
            .alias("c")
        )
    )
    w_year = Window.partitionBy("y")
    w_brand = Window.partitionBy("brand").orderBy("y")
    comp = rev.select(
        "brand",
        "y",
        "c",
        F.max("c").over(w_year).alias("best"),
        F.lag("c").over(w_brand).alias("prev_c"),
    )
    return comp.select(
        "brand",
        "y",
        F.col("c").alias("rev_cents"),
        round_dp(
            F.col("c").cast("double") / F.col("best"), 6
        ).alias("rel_share"),
        F.when(F.col("prev_c").isNull(), F.lit(None).cast("int"))
        .when(F.col("c") >= F.col("prev_c"), 1)
        .otherwise(0)
        .alias("grew"),
        F.when(F.col("prev_c").isNull(), "new")
        .when(
            (F.col("c") == F.col("best"))
            & (F.col("c") >= F.col("prev_c")),
            "star",
        )
        .when(F.col("c") == F.col("best"), "cash_cow")
        .when(F.col("c") >= F.col("prev_c"), "question")
        .otherwise("dog")
        .alias("quadrant"),
    )


# ---------------------------------------------------------------------------
# agg_abc_xyz — revenue class × variability class per part
# ---------------------------------------------------------------------------


@register(
    "agg_abc_xyz",
    oracle="""
    WITH pr AS (
        SELECT l_partkey AS part,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
        FROM lineitem GROUP BY 1
    ), ranked AS (
        SELECT part, rev,
               CAST(sum(rev) OVER (ORDER BY rev DESC, part)
                    AS HUGEINT) AS cum,
               CAST(sum(rev) OVER () AS HUGEINT) AS tot
        FROM pr
    ), abc AS (
        SELECT part, rev,
               CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                    WHEN cum * 100 <= tot * 95 THEN 'B'
                    ELSE 'C' END AS abc
        FROM ranked
    ), pm AS (
        SELECT l_partkey AS part,
               date_trunc('month', l_shipdate) AS m,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY 1, 2
    ), var AS (
        SELECT part,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS HUGEINT) AS sq,
               CAST(sum(q * q) AS HUGEINT) AS sqq
        FROM pm GROUP BY part
    ), xyz AS (
        SELECT part,
               CASE WHEN n < 2 THEN 'Z'
                    WHEN 2 * n * (n * sqq - sq * sq)
                         <= 1 * (n - 1) * sq * sq THEN 'X'
                    WHEN 1 * n * (n * sqq - sq * sq)
                         <= 1 * (n - 1) * sq * sq THEN 'Y'
                    ELSE 'Z' END AS xyz
        FROM var
    )
    SELECT abc.abc, xyz.xyz,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(abc.rev) AS BIGINT) AS rev_cents
    FROM abc JOIN xyz ON xyz.part = abc.part
    GROUP BY abc.abc, xyz.xyz
    """,
)
def agg_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ segmentation: parts classed by cumulative revenue
    share (A ≤ 80%, B ≤ 95%, C rest) × monthly-demand variability
    (coefficient of variation: X ≤ ~0.7, Y ≤ 1, Z above) — the 9-cell
    grid that decides safety-stock policy per cell.

    Every boundary is INTEGER: the ABC cut cross-multiplies
    (cum·100 ≤ tot·80); the XYZ cut compares k·n·(n·Σq²−(Σq)²) vs
    (n−1)·(Σq)² — CV² ≤ 1/2 and ≤ 1 without ever forming the float.
    The revenue ranking windows over the PART frame (reduced first;
    the bucketed two-level shape is the >10⁸-part fallback). Output
    is the 9-cell rollup.
    """
    li = t(spark, sf_dir, "lineitem")
    pr = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(half_up(F.col("l_extendedprice") * 100))
        .cast("long")
        .alias("rev")
    )
    w_cum = Window.orderBy(F.col("rev").desc(), F.col("part")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    ranked = pr.select(
        "part",
        "rev",
        F.sum(F.col("rev").cast(_D38)).over(w_cum).alias("cum"),
        F.sum(F.col("rev").cast(_D38)).over(w_all).alias("tot"),
    )
    abc = ranked.select(
        "part",
        "rev",
        F.when(
            F.col("cum") * 100 <= F.col("tot") * 80, "A"
        )
        .when(F.col("cum") * 100 <= F.col("tot") * 95, "B")
        .otherwise("C")
        .alias("abc"),
    )
    pm = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.date_trunc("month", "l_shipdate").alias("m"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
    var = pm.groupBy("part").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("q").cast(_D38)).alias("sq"),
        F.sum((F.col("q") * F.col("q")).cast(_D38)).alias("sqq"),
    )
    nI = F.col("n").cast(_D38)
    num = nI * F.col("sqq") - F.col("sq") * F.col("sq")
    den = (nI - 1) * F.col("sq") * F.col("sq")
    xyz = var.select(
        "part",
        F.when(F.col("n") < 2, "Z")
        .when(2 * nI * num <= den, "X")
        .when(nI * num <= den, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return (
        abc.join(xyz, "part")
        .groupBy("abc", "xyz")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("rev").cast("long").alias("rev_cents"),
        )
    )


# ---------------------------------------------------------------------------
# fn_tax_brackets — progressive marginal duty per order
# ---------------------------------------------------------------------------

# bracket floors (cents) and marginal rates (tenths): 0% to 50k,
# 10% to 150k, 20% to 300k, 30% above.
_BRACKETS = ((5000000, 1), (15000000, 2), (30000000, 3))


def _duty_x10_sql(v: str) -> str:
    terms = []
    prev_hi = None
    for i, (lo, rate) in enumerate(_BRACKETS):
        hi = _BRACKETS[i + 1][0] if i + 1 < len(_BRACKETS) else None
        if hi is None:
            terms.append(f"greatest({v} - {lo}, 0) * {rate}")
        else:
            terms.append(
                f"greatest(least({v}, {hi}) - {lo}, 0) * {rate}"
            )
    return " + ".join(terms)


@register(
    "fn_tax_brackets",
    oracle=f"""
    WITH c AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        FROM orders
    ), duty AS (
        SELECT y, v,
               CAST(({_duty_x10_sql("v")}) // 10 AS BIGINT) AS duty_cents
        FROM c
    )
    SELECT y,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(duty_cents) AS BIGINT) AS duty_total_cents,
           floor(CAST(sum(duty_cents) AS DOUBLE) / sum(v)
                 * 1000000 + 0.5) / 1000000 AS effective_rate
    FROM duty GROUP BY y
    """,
)
def fn_tax_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive marginal duty on order value (0% below $50k, 10%
    to $150k, 20% to $300k, 30% above) — the piecewise computation
    every payroll, customs and royalty engine runs, totalled per
    order year with the effective (blended) rate.

    The bracket sum is pure integer arithmetic (greatest/least
    clamps × integer rate tenths, one final div 10), generated from
    the SAME bracket table for both engines — no CASE ladder to
    drift, no floats until the rendered effective rate. Codegen'd
    projection + one combinable rollup.
    """
    c = t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("long").alias("y"),
        half_up(F.col("o_totalprice") * 100).alias("v"),
    )
    duty = c.select(
        "y",
        "v",
        F.expr(f"({_duty_x10_sql('v')}) div 10")
        .cast("long")
        .alias("duty_cents"),
    )
    return duty.groupBy("y").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("duty_cents").cast("long").alias("duty_total_cents"),
        round_dp(
            F.sum("duty_cents").cast("double") / F.sum("v"), 6
        ).alias("effective_rate"),
    )
