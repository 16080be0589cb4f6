"""Round-4an extension operators (SURVEY.md §2.54).

Causal-inference, statistical-literacy and header-detail reads: a
difference-in-differences estimate (the quasi-experimental workhorse
— treated brands vs control, before vs after), a Simpson's-paradox
detector (does the aggregate trend reverse inside every stratum —
the classic aggregation trap), and header-detail reconciliation
(does o_totalprice equal the sum of its lines — the oldest audit in
double-entry data engineering).

Contract discipline identical to the other extension modules: DiD
assembles from four exact cell rationals; Simpson slopes use exact
integer regression sums per stratum; reconciliation is pure cents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import gated_broadcast, t

_D38 = "decimal(38,0)"
_CUT_YEAR = 1998  # DiD treatment period starts here


# ---------------------------------------------------------------------------
# agg_did_estimate — difference-in-differences on unit price
# ---------------------------------------------------------------------------


@register(
    "agg_did_estimate",
    oracle=f"""
    WITH cells AS (
        SELECT CAST(CASE WHEN p.p_brand LIKE '%1%' THEN 1 ELSE 0 END
                    AS BIGINT) AS treated,
               CAST(CASE WHEN year(l.l_shipdate) >= {_CUT_YEAR}
                    THEN 1 ELSE 0 END AS BIGINT) AS post,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
                             AS BIGINT)) AS HUGEINT) AS cents,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS HUGEINT) AS qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ), up AS (
        SELECT treated, post,
               CAST(cents AS DOUBLE) / CAST(qty AS DOUBLE) AS unit_price
        FROM cells
    )
    SELECT
        CAST(count(*) AS BIGINT) AS n_cells,
        floor((max(CASE WHEN treated = 1 AND post = 1
                   THEN unit_price END)
               - max(CASE WHEN treated = 1 AND post = 0
                     THEN unit_price END)
               - (max(CASE WHEN treated = 0 AND post = 1
                      THEN unit_price END)
                  - max(CASE WHEN treated = 0 AND post = 0
                        THEN unit_price END)))
              * 10000 + 0.5) / 10000 AS did_cents
    FROM up
    """,
)
def agg_did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on average unit price: brands whose
    name contains '1' are 'treated', the post period starts in
    1998; DiD = (T_post − T_pre) − (C_post − C_pre) — the
    quasi-experimental estimate that nets out both the level gap and
    the common time trend, here landing near zero because the
    fixture applied no treatment (the honest placebo run every DiD
    deserves first).

    The four cells reduce in ONE combinable pass (treated and post
    are just group keys); unit prices stay rationals of exact
    decimal sums; the estimate is one rendered combination of the
    four cell values.
    """
    cells = (
        t(spark, sf_dir, "lineitem")
        .join(
            gated_broadcast(
                spark, sf_dir, "part",
                t(spark, sf_dir, "part").select("p_partkey", "p_brand"),
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            F.when(F.col("p_brand").contains("1"), 1)
            .otherwise(0)
            .cast("long")
            .alias("treated"),
            F.when(F.year("l_shipdate") >= _CUT_YEAR, 1)
            .otherwise(0)
            .cast("long")
            .alias("post"),
        )
        .agg(
            F.sum(
                half_up(F.col("l_extendedprice") * 100).cast(_D38)
            ).alias("cents"),
            F.sum(F.col("l_quantity").cast("long").cast(_D38)).alias(
                "qty"
            ),
        )
    )
    up = cells.select(
        "treated",
        "post",
        (F.col("cents").cast("double") / F.col("qty").cast("double")).alias(
            "unit_price"
        ),
    )
    cell = lambda tr, po: F.max(  # noqa: E731
        F.when(
            (F.col("treated") == tr) & (F.col("post") == po),
            F.col("unit_price"),
        )
    )
    did = (cell(1, 1) - cell(1, 0)) - (cell(0, 1) - cell(0, 0))
    return up.agg(
        F.count("*").cast("long").alias("n_cells"),
        round_dp(did, 4).alias("did_cents"),
    )


# ---------------------------------------------------------------------------
# agg_simpson_flip — does the aggregate trend survive stratification?
# ---------------------------------------------------------------------------


@register(
    "agg_simpson_flip",
    oracle="""
    WITH pts AS (
        SELECT c.c_nationkey AS nation,
               CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS x,
               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), strata AS (
        SELECT nation,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(x * y) AS HUGEINT) AS sxy,
               CAST(sum(x * x) AS HUGEINT) AS sxx
        FROM pts GROUP BY nation
    ), slopes AS (
        SELECT nation,
               CASE WHEN CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                    THEN 1 ELSE -1 END AS sgn
        FROM strata WHERE n > 2
    ), overall AS (
        SELECT CASE WHEN CAST(sum(n) AS DOUBLE)
                         * CAST(sum(sxy) AS DOUBLE)
                         - CAST(sum(sx) AS DOUBLE)
                           * CAST(sum(sy) AS DOUBLE) > 0
                    THEN 1 ELSE -1 END AS overall_sgn
        FROM strata
    )
    SELECT overall.overall_sgn,
           CAST(count(*) AS BIGINT) AS n_strata,
           CAST(sum(CASE WHEN slopes.sgn = overall.overall_sgn
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_agreeing,
           CASE WHEN sum(CASE WHEN slopes.sgn = overall.overall_sgn
                         THEN 1 ELSE 0 END) * 2 < count(*)
                THEN 1 ELSE 0 END AS simpson_flip
    FROM slopes CROSS JOIN overall
    GROUP BY overall.overall_sgn
    """,
)
def agg_simpson_flip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen on the balance→spend relationship:
    the sign of the pooled regression slope vs the per-nation signs
    — if most strata disagree with the aggregate, the pooled trend
    is an aggregation artifact and every dashboard drawing it is
    lying. Sign decisions use the covariance NUMERATOR only
    (n·Σxy − Σx·Σy), an exact integer-derived quantity — no slope
    division, no float compare.

    One combinable pass builds per-stratum sums; the overall sums
    are THEIR rollup (no second scan); output is the one-row screen
    (overall sign, strata agreeing, flip flag).
    """
    pts = (
        t(spark, sf_dir, "orders")
        .join(
            gated_broadcast(
                spark, sf_dir, "customer",
                t(spark, sf_dir, "customer").select(
                    "c_custkey", "c_nationkey", "c_acctbal"
                ),
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_nationkey").alias("nation"),
            half_up(F.col("c_acctbal") * 100).alias("x"),
            half_up(F.col("o_totalprice") * 100).alias("y"),
        )
    )
    strata = pts.groupBy("nation").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast(_D38)).alias("sx"),
        F.sum(F.col("y").cast(_D38)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(_D38)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(_D38)).alias("sxx"),
    )
    num = (
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    )
    slopes = strata.filter(F.col("n") > 2).select(
        F.when(num > 0, 1).otherwise(-1).alias("sgn")
    )
    overall = strata.agg(
        F.when(
            F.sum("n").cast("double") * F.sum("sxy").cast("double")
            - F.sum("sx").cast("double") * F.sum("sy").cast("double")
            > 0,
            1,
        )
        .otherwise(-1)
        .alias("overall_sgn")
    )
    return (
        slopes.crossJoin(F.broadcast(overall))
        .groupBy("overall_sgn")
        .agg(
            F.count("*").cast("long").alias("n_strata"),
            F.sum(
                F.when(
                    F.col("sgn") == F.col("overall_sgn"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_agreeing"),
        )
        .select(
            "overall_sgn",
            "n_strata",
            "n_agreeing",
            F.when(
                F.col("n_agreeing") * 2 < F.col("n_strata"), 1
            )
            .otherwise(0)
            .alias("simpson_flip"),
        )
    )


# ---------------------------------------------------------------------------
# dq_header_detail_reconcile — does the header total match its lines?
# ---------------------------------------------------------------------------


@register(
    "dq_header_detail_reconcile",
    oracle="""
    WITH lines AS (
        SELECT l_orderkey,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS line_cents
        FROM lineitem GROUP BY 1
    ), rec AS (
        SELECT o.o_orderkey,
               CAST(year(o.o_orderdate) AS BIGINT) AS y,
               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                   AS header_cents,
               coalesce(l.line_cents, 0) AS line_cents,
               CASE WHEN l.l_orderkey IS NULL THEN 'no_lines'
                    WHEN CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                         = l.line_cents THEN 'balanced'
                    ELSE 'mismatch' END AS status
        FROM orders o LEFT JOIN lines l ON l.l_orderkey = o.o_orderkey
    )
    SELECT y, status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(abs(header_cents - line_cents)) AS BIGINT)
               AS abs_gap_cents
    FROM rec GROUP BY y, status
    """,
)
def dq_header_detail_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-detail reconciliation: does each order's o_totalprice
    equal the sum of its line extendedprices? The oldest audit in
    transactional data — and on this fixture the honest answer is
    that headers and lines are generated INDEPENDENTLY, so the audit
    quantifies a systematic imbalance (plus orders with no lines at
    all) per year, instead of rubber-stamping a 'balanced'.

    Line sums reduce combinable on orderkey (co-partitioned with the
    header join key — the bucketed-join shape at 100 TB); the
    classification and gap arithmetic are exact cents; the report is
    a per-(year, status) rollup.
    """
    lines = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(half_up(F.col("l_extendedprice") * 100))
            .cast("long")
            .alias("line_cents")
        )
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("y"),
        half_up(F.col("o_totalprice") * 100).alias("header_cents"),
    )
    rec = o.join(lines, o["o_orderkey"] == lines["l_orderkey"], "left").select(
        "y",
        "header_cents",
        F.coalesce(F.col("line_cents"), F.lit(0)).alias("line_cents"),
        F.when(F.col("l_orderkey").isNull(), "no_lines")
        .when(F.col("header_cents") == F.col("line_cents"), "balanced")
        .otherwise("mismatch")
        .alias("status"),
    )
    return rec.groupBy("y", "status").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.abs(F.col("header_cents") - F.col("line_cents")))
        .cast("long")
        .alias("abs_gap_cents"),
    )
