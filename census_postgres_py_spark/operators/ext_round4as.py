"""Round-4as extension operators (SURVEY.md §2.59).

Concentration-crosspoint, nonparametric-test and forensic reads: the
80/20 crosspoint (HOW MANY customers actually make 80% of revenue —
the number people quote from a Pareto chart), Mood's median test
(the rank-free two-sample location test that survives outliers),
and the second-digit Benford screen (the forensic escalation run
when first digits look clean).

Contract discipline identical to the other extension modules: the
crosspoint is an integer cumulative compare, Mood's statistic
cross-multiplies to exact counts, and the Benford expectations are
shared double literals applied to exact digit counts.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

_D38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# agg_pareto_crosspoint — how many customers make 80% of revenue?
# ---------------------------------------------------------------------------


@register(
    "agg_pareto_crosspoint",
    oracle="""
    WITH spend AS (
        SELECT o_custkey AS cust,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS c
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT c,
               row_number() OVER (ORDER BY c DESC, cust) AS rn,
               CAST(sum(c) OVER (ORDER BY c DESC, cust) AS HUGEINT) AS cum,
               CAST(sum(c) OVER () AS HUGEINT) AS tot,
               count(*) OVER () AS n
        FROM spend
    )
    SELECT CAST(min(n) AS BIGINT) AS n_customers,
           CAST(min(CASE WHEN cum * 100 >= tot * 80 THEN rn END)
                AS BIGINT) AS k80,
           floor(CAST(min(CASE WHEN cum * 100 >= tot * 80 THEN rn END)
                      AS DOUBLE) / min(n) * 1000000 + 0.5) / 1000000
               AS k80_share
    FROM ranked
    """,
)
def agg_pareto_crosspoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 crosspoint: the smallest k such that the top-k
    customers (by spend, custkey tiebreak) hold ≥ 80% of revenue —
    the single number people quote off a Pareto chart
    (agg_pareto_share draws the curve; this reads the intercept).

    Per-customer spend reduces first; the crossing test is the
    integer comparison cum·100 ≥ tot·80 over the ranked customer
    frame (bucketed two-level at extreme scale), and the answer is
    one argmin. The fixture's near-uniform spend puts k80 near 75%
    of customers — a flat business, honestly reported.
    """
    spend = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.sum(half_up(F.col("o_totalprice") * 100)).cast("long").alias("c")
        )
    )
    w = Window.orderBy(F.col("c").desc(), F.col("cust"))
    w_all = Window.partitionBy()
    ranked = spend.select(
        F.row_number().over(w).alias("rn"),
        F.sum(F.col("c").cast(_D38))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum(F.col("c").cast(_D38)).over(w_all).alias("tot"),
        F.count("*").over(w_all).alias("n"),
    )
    k80 = F.min(
        F.when(F.col("cum") * 100 >= F.col("tot") * 80, F.col("rn"))
    )
    return ranked.agg(
        F.min("n").cast("long").alias("n_customers"),
        k80.cast("long").alias("k80"),
        round_dp(k80.cast("double") / F.min("n"), 6).alias("k80_share"),
    )


# ---------------------------------------------------------------------------
# agg_moods_median_test — rank-free two-sample location test
# ---------------------------------------------------------------------------


@register(
    "agg_moods_median_test",
    oracle="""
    WITH m AS (
        SELECT CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS grp,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        FROM orders WHERE o_orderstatus IN ('O', 'F')
    ), med AS (
        SELECT quantile_cont(v, 0.5) AS pooled_median FROM m
    ), counts AS (
        SELECT grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN m.v > med.pooled_median
                        THEN 1 ELSE 0 END) AS BIGINT) AS above
        FROM m CROSS JOIN med GROUP BY grp
    ), wide AS (
        SELECT max(CASE WHEN grp = 1 THEN n END) AS n1,
               max(CASE WHEN grp = 1 THEN above END) AS a1,
               max(CASE WHEN grp = 0 THEN n END) AS n0,
               max(CASE WHEN grp = 0 THEN above END) AS a0
        FROM counts
    )
    SELECT CAST(n1 AS BIGINT) AS n_open, CAST(a1 AS BIGINT) AS above_open,
           CAST(n0 AS BIGINT) AS n_filled,
           CAST(a0 AS BIGINT) AS above_filled,
           floor(CAST(n1 + n0 AS DOUBLE)
                 * (CAST(a1 AS DOUBLE) * (n0 - a0)
                    - CAST(a0 AS DOUBLE) * (n1 - a1))
                 * (CAST(a1 AS DOUBLE) * (n0 - a0)
                    - CAST(a0 AS DOUBLE) * (n1 - a1))
                 / (CAST(a1 + a0 AS DOUBLE)
                    * (n1 + n0 - a1 - a0)
                    * n1 * n0)
                 * 10000 + 0.5) / 10000 AS chi2
    FROM wide
    """,
)
def agg_moods_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test between open and fulfilled order values:
    count each group's points above the POOLED median and form the
    2×2 chi-square — the location test that ignores every outlier
    (only sides matter), the robust cousin of the t-test/Cohen's d
    pair. Same-distribution fixture → χ² far below the 3.84
    significance line.

    One pooled exact-percentile pass (dyadic-exact on integer
    cents), one conditional count per group, and the chi-square is
    a single identically-written projection over four exact counts
    (the 2×2 shortcut formula — no expected-cell table needed).
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
    med = m.agg(F.percentile("v", 0.5).alias("pooled_median"))
    counts = (
        m.crossJoin(F.broadcast(med))
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when(F.col("v") > F.col("pooled_median"), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("above"),
        )
    )
    pick = lambda g, c: F.max(  # noqa: E731
        F.when(F.col("grp") == g, F.col(c))
    )
    wide = counts.agg(
        pick(1, "n").alias("n1"),
        pick(1, "above").alias("a1"),
        pick(0, "n").alias("n0"),
        pick(0, "above").alias("a0"),
    )
    n1 = F.col("n1").cast("double")
    a1 = F.col("a1").cast("double")
    n0 = F.col("n0").cast("double")
    a0 = F.col("a0").cast("double")
    det = a1 * (n0 - a0) - a0 * (n1 - a1)
    chi2 = (
        (n1 + n0)
        * det
        * det
        / ((a1 + a0) * (n1 + n0 - a1 - a0) * n1 * n0)
    )
    return wide.select(
        F.col("n1").cast("long").alias("n_open"),
        F.col("a1").cast("long").alias("above_open"),
        F.col("n0").cast("long").alias("n_filled"),
        F.col("a0").cast("long").alias("above_filled"),
        round_dp(chi2, 4).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# dq_benford_second_digit — the forensic escalation screen
# ---------------------------------------------------------------------------

_P2 = [
    sum(math.log10(1 + 1.0 / (10 * k + d)) for k in range(1, 10))
    for d in range(10)
]
_P2_SQL = ", ".join(f"({d}, {_P2[d]!r})" for d in range(10))


@register(
    "dq_benford_second_digit",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100 + 0.5)
                                        AS BIGINT) AS VARCHAR), 2, 1)
                    AS BIGINT) AS d2
        FROM orders
        WHERE floor(o_totalprice * 100 + 0.5) >= 10
    ), obs AS (
        SELECT d2, CAST(count(*) AS BIGINT) AS c FROM digits GROUP BY d2
    ), tot AS (
        SELECT CAST(sum(c) AS DOUBLE) AS n FROM obs
    ), expected AS (
        SELECT * FROM (VALUES {_P2_SQL}) AS v(d2, p)
    )
    SELECT e.d2, coalesce(obs.c, 0) AS observed,
           CAST(floor(e.p * tot.n + 0.5) AS BIGINT) AS expected_n,
           floor((coalesce(obs.c, 0) - e.p * tot.n)
                 * (coalesce(obs.c, 0) - e.p * tot.n)
                 / (e.p * tot.n) * 10000 + 0.5) / 10000 AS chi2_term
    FROM expected e
    LEFT JOIN obs ON obs.d2 = e.d2
    CROSS JOIN tot
    """,
)
def dq_benford_second_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-digit Benford screen on order cents — the forensic
    escalation auditors run when first digits pass (fabricators who
    know Benford's first-digit law rarely fake the much flatter
    second-digit distribution: P(d) = Σ_k log10(1+1/(10k+d))).

    The expectation table is TEN shared double literals (computed
    once in Python, interpolated verbatim into both engines — the
    agg_sprt_decision constant discipline); digit extraction is
    string surgery on exact integer cents; each χ² term renders per
    digit. The fixture's uniform-ish prices flunk Benford loudly —
    the correct verdict for synthetic data, and exactly why this
    screen catches fabricated numbers.
    """
    cents = half_up(F.col("o_totalprice") * 100)
    digits = (
        t(spark, sf_dir, "orders")
        .filter(cents >= 10)
        .select(
            F.substring(cents.cast("string"), 2, 1)
            .cast("long")
            .alias("d2")
        )
    )
    obs = digits.groupBy("d2").agg(F.count("*").cast("long").alias("c"))
    tot = obs.agg(F.sum("c").cast("double").alias("n"))
    expected = spark.createDataFrame(
        [(d, _P2[d]) for d in range(10)], "d2 long, p double"
    )
    j = (
        expected.join(obs, "d2", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "d2",
            F.coalesce(F.col("c"), F.lit(0)).alias("observed"),
            half_up(F.col("p") * F.col("n")).alias("expected_n"),
            round_dp(
                (F.coalesce(F.col("c"), F.lit(0)) - F.col("p") * F.col("n"))
                * (
                    F.coalesce(F.col("c"), F.lit(0))
                    - F.col("p") * F.col("n")
                )
                / (F.col("p") * F.col("n")),
                4,
            ).alias("chi2_term"),
        )
    )
    return j
