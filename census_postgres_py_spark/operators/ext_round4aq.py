"""Round-4aq extension operators (SURVEY.md §2.57).

Distribution-alignment and effect-size reads: quantile
normalization (force every group onto the pooled distribution — the
bioinformatics/ML batch-effect remover, done exactly with integer
rank arithmetic), the covariance matrix of the lineitem measures
(the 3×3 profiling artifact every feature audit starts from), and
Cohen's d (the standardized effect size that tells you whether a
significant difference is also a MEANINGFUL one).

Contract discipline identical to the other extension modules:
quantile mapping is pure integer rank→position arithmetic, the
covariance entries render from exact decimal sums, and d is one
identically-written projection over exact moments.
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
# transform_quantile_normalize — every group onto the pooled distribution
# ---------------------------------------------------------------------------


@register(
    "transform_quantile_normalize",
    oracle="""
    WITH c AS (
        SELECT o_orderkey, o_orderpriority AS grp,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ), ranked AS (
        SELECT o_orderkey, grp, cents,
               row_number() OVER (
                   PARTITION BY grp ORDER BY cents, o_orderkey) AS r,
               count(*) OVER (PARTITION BY grp) AS n
        FROM c
    ), pooled AS (
        SELECT cents AS ref_cents,
               row_number() OVER (ORDER BY cents, o_orderkey) AS pos,
               count(*) OVER () AS big_n
        FROM c
    ), mapped AS (
        SELECT ranked.o_orderkey, ranked.grp, ranked.cents,
               CAST((2 * ranked.r - 1) * pooled_dim.big_n
                    // (2 * ranked.n) + 1 AS BIGINT) AS pos
        FROM ranked CROSS JOIN (
            SELECT max(big_n) AS big_n FROM pooled) pooled_dim
    )
    SELECT m.o_orderkey, m.grp, m.cents,
           p.ref_cents AS qnorm_cents
    FROM mapped m JOIN pooled p ON p.pos = m.pos
    """,
)
def transform_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization: each order's value is replaced by the
    POOLED distribution's value at the same quantile position within
    its priority group — after this, every group has (near-)identical
    marginal distribution, which is how microarray pipelines and
    multi-source feature stores kill batch effects without touching
    rank order.

    The mapping is pure integer arithmetic: group rank r of n maps to
    pooled position ⌊(2r−1)·N/(2n)⌋+1 (the midpoint rule — no float
    quantile, no interpolation ambiguity), then ONE equi-join on
    position fetches the reference value. Group windows partition per
    group; the pooled rank is the one global window (bucketed
    two-level at extreme scale, dq_sequence_gaps precedent).
    """
    c = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("grp"),
        half_up(F.col("o_totalprice") * 100).alias("cents"),
    )
    w_g = Window.partitionBy("grp").orderBy("cents", "o_orderkey")
    w_gn = Window.partitionBy("grp")
    ranked = c.select(
        "o_orderkey",
        "grp",
        "cents",
        F.row_number().over(w_g).alias("r"),
        F.count("*").over(w_gn).alias("n"),
    )
    w_p = Window.orderBy("cents", "o_orderkey")
    pooled = c.select(
        F.col("cents").alias("ref_cents"),
        F.row_number().over(w_p).alias("pos"),
    )
    big_n = c.agg(F.count("*").alias("big_n"))
    mapped = ranked.crossJoin(F.broadcast(big_n)).select(
        "o_orderkey",
        "grp",
        "cents",
        (
            F.expr("(2 * r - 1) * big_n div (2 * n)") + 1
        )
        .cast("long")
        .alias("pos"),
    )
    return mapped.join(pooled, "pos").select(
        "o_orderkey",
        "grp",
        "cents",
        F.col("ref_cents").alias("qnorm_cents"),
    )


# ---------------------------------------------------------------------------
# agg_covariance_matrix — the 3×3 measure profile
# ---------------------------------------------------------------------------


@register(
    "agg_covariance_matrix",
    oracle="""
    WITH m AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
               CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS d
        FROM lineitem
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS HUGEINT) AS sq, CAST(sum(p) AS HUGEINT) AS sp,
               CAST(sum(d) AS HUGEINT) AS sd,
               CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sqq,
               CAST(sum(CAST(q AS HUGEINT) * p) AS HUGEINT) AS sqp,
               CAST(sum(CAST(q AS HUGEINT) * d) AS HUGEINT) AS sqd,
               CAST(sum(CAST(p AS HUGEINT) * p) AS HUGEINT) AS spp,
               CAST(sum(CAST(p AS HUGEINT) * d) AS HUGEINT) AS spd,
               CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sdd
        FROM m
    ), pairs AS (
        SELECT * FROM (VALUES
            ('quantity', 'quantity'), ('quantity', 'price_cents'),
            ('quantity', 'discount_bps'), ('price_cents', 'price_cents'),
            ('price_cents', 'discount_bps'),
            ('discount_bps', 'discount_bps')) AS v(ma, mb)
    )
    SELECT pairs.ma, pairs.mb,
           floor((CASE
              WHEN pairs.ma = 'quantity' AND pairs.mb = 'quantity'
                THEN (CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                      - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
              WHEN pairs.ma = 'quantity' AND pairs.mb = 'price_cents'
                THEN (CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE)
                      - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
              WHEN pairs.ma = 'quantity' AND pairs.mb = 'discount_bps'
                THEN (CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE)
                      - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE))
              WHEN pairs.ma = 'price_cents' AND pairs.mb = 'price_cents'
                THEN (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                      - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
              WHEN pairs.ma = 'price_cents' AND pairs.mb = 'discount_bps'
                THEN (CAST(n AS DOUBLE) * CAST(spd AS DOUBLE)
                      - CAST(sp AS DOUBLE) * CAST(sd AS DOUBLE))
              ELSE (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
                    - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
           END) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))
           * 100 + 0.5) / 100 AS cov
    FROM s CROSS JOIN pairs
    """,
)
def agg_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance matrix of the three lineitem measures
    (quantity, price cents, discount basis points) in tall form —
    the 3×3 profile a feature audit reads before modeling ("price
    and quantity are uncorrelated here; discount is independent of
    both").

    ONE combinable pass collects all nine raw moments (operands
    widened to decimal BEFORE multiplying — the HHI lesson); every
    covariance entry is then a pure projection over the single
    1-row moment frame, unioned into tall (ma, mb, cov) form and
    rendered at 1e-2. No per-pair scans, no assembly loop.
    """
    m = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        half_up(F.col("l_extendedprice") * 100).alias("p"),
        half_up(F.col("l_discount") * 10000).alias("d"),
    )
    qd = F.col("q").cast(_D38)
    pd_ = F.col("p").cast(_D38)
    dd = F.col("d").cast(_D38)
    s = m.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(qd).alias("sq"),
        F.sum(pd_).alias("sp"),
        F.sum(dd).alias("sd"),
        F.sum(qd * qd).alias("sqq"),
        F.sum(qd * pd_).alias("sqp"),
        F.sum(qd * dd).alias("sqd"),
        F.sum(pd_ * pd_).alias("spp"),
        F.sum(pd_ * dd).alias("spd"),
        F.sum(dd * dd).alias("sdd"),
    )
    nd = F.col("n").cast("double")
    dx = lambda c: F.col(c).cast("double")  # noqa: E731

    def cov(sab: str, sa: str, sb: str):
        return (nd * dx(sab) - dx(sa) * dx(sb)) / (nd * (nd - 1))

    entries = [
        ("quantity", "quantity", cov("sqq", "sq", "sq")),
        ("quantity", "price_cents", cov("sqp", "sq", "sp")),
        ("quantity", "discount_bps", cov("sqd", "sq", "sd")),
        ("price_cents", "price_cents", cov("spp", "sp", "sp")),
        ("price_cents", "discount_bps", cov("spd", "sp", "sd")),
        ("discount_bps", "discount_bps", cov("sdd", "sd", "sd")),
    ]
    from functools import reduce

    frames = [
        s.select(
            F.lit(ma).alias("ma"),
            F.lit(mb).alias("mb"),
            round_dp(expr, 2).alias("cov"),
        )
        for ma, mb, expr in entries
    ]
    return reduce(DataFrame.unionAll, frames)


# ---------------------------------------------------------------------------
# agg_cohens_d — is the difference meaningful, not just significant?
# ---------------------------------------------------------------------------


@register(
    "agg_cohens_d",
    oracle="""
    WITH m AS (
        SELECT CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS grp,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        FROM orders WHERE o_orderstatus IN ('O', 'F')
    ), s AS (
        SELECT grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS HUGEINT) AS sv,
               CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS svv
        FROM m GROUP BY grp
    ), wide AS (
        SELECT
            max(CASE WHEN grp = 1 THEN n END) AS n1,
            max(CASE WHEN grp = 1 THEN CAST(sv AS DOUBLE) END) AS sv1,
            max(CASE WHEN grp = 1 THEN CAST(svv AS DOUBLE) END) AS svv1,
            max(CASE WHEN grp = 0 THEN n END) AS n0,
            max(CASE WHEN grp = 0 THEN CAST(sv AS DOUBLE) END) AS sv0,
            max(CASE WHEN grp = 0 THEN CAST(svv AS DOUBLE) END) AS svv0
        FROM s
    )
    SELECT CAST(n1 AS BIGINT) AS n_open, CAST(n0 AS BIGINT) AS n_filled,
           floor((sv1 / n1 - sv0 / n0)
                 / sqrt(((svv1 - sv1 * sv1 / n1)
                         + (svv0 - sv0 * sv0 / n0))
                        / (n1 + n0 - 2))
                 * 1000000 + 0.5) / 1000000 AS cohens_d
    FROM wide
    """,
)
def agg_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d between open ('O') and fulfilled ('F') order values
    — the standardized mean difference (pooled-SD units) that says
    whether a gap MATTERS (|d| < 0.2 trivial, > 0.8 large), the
    companion every KS/chi-square result needs before anyone acts
    on it. The fixture's statuses share a distribution, so d ≈ 0.

    Two-group moments from one combinable pass (status is the group
    key); the pooled-SD formula is a single identically-written
    projection over the six exact numbers, rendered at 1e-6.
    """
    m = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("O", "F"))
        .select(
            F.when(F.col("o_orderstatus") == "O", 1)
            .otherwise(0)
            .alias("grp"),
            half_up(F.col("o_totalprice") * 100).alias("v"),
        )
    )
    vd = F.col("v").cast(_D38)
    s = m.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(vd).alias("sv"),
        F.sum(vd * vd).alias("svv"),
    )
    pick = lambda g, c: F.max(  # noqa: E731
        F.when(F.col("grp") == g, F.col(c).cast("double"))
    )
    wide = s.agg(
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        pick(1, "sv").alias("sv1"),
        pick(1, "svv").alias("svv1"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        pick(0, "sv").alias("sv0"),
        pick(0, "svv").alias("svv0"),
    )
    mean_diff = F.col("sv1") / F.col("n1") - F.col("sv0") / F.col("n0")
    pooled = F.sqrt(
        (
            (F.col("svv1") - F.col("sv1") * F.col("sv1") / F.col("n1"))
            + (F.col("svv0") - F.col("sv0") * F.col("sv0") / F.col("n0"))
        )
        / (F.col("n1") + F.col("n0") - 2)
    )
    return wide.select(
        F.col("n1").cast("long").alias("n_open"),
        F.col("n0").cast("long").alias("n_filled"),
        round_dp(mean_diff / pooled, 6).alias("cohens_d"),
    )
