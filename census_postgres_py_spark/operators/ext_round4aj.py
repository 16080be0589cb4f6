"""Round-4aj extension operators (SURVEY.md §2.50).

Reconciliation, master-data and retention-model reads: cross-system
checksum reconciliation (the nightly "do the two copies agree, and
WHERE not" report), golden-record survivorship (merge a household's
attributes by per-field precedence rules — the MDM step after
record linkage), and the fitted retention decay (power-law slope of
the cohort curve — the one number that extrapolates LTV).

Contract discipline identical to the other extension modules:
checksums are xor/sum-of-md5-prefix integers (order-insensitive by
construction), survivorship picks by integer argmax with total
tiebreaks, and the decay fit uses e6-integerized logs with exact
decimal sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

_D38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# dq_checksum_reconciliation — which partitions diverge between copies
# ---------------------------------------------------------------------------


@register(
    "dq_checksum_reconciliation",
    oracle="""
    WITH sys_a AS (
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               o_orderkey % 16 AS pt
        FROM orders
    ), sys_b AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 1009 = 0
                    THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 1
                    ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
               END AS cents,
               o_orderkey % 16 AS pt
        FROM orders
    ), ca AS (
        SELECT pt, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(('0x' || substring(md5(
                   CAST(o_orderkey AS VARCHAR) || ':'
                   || CAST(cents AS VARCHAR)), 1, 12)) AS BIGINT))
                   AS HUGEINT) AS ck
        FROM sys_a GROUP BY pt
    ), cb AS (
        SELECT pt, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(('0x' || substring(md5(
                   CAST(o_orderkey AS VARCHAR) || ':'
                   || CAST(cents AS VARCHAR)), 1, 12)) AS BIGINT))
                   AS HUGEINT) AS ck
        FROM sys_b GROUP BY pt
    )
    SELECT ca.pt,
           ca.n AS n_a, cb.n AS n_b,
           CASE WHEN ca.n = cb.n AND ca.ck = cb.ck THEN 1 ELSE 0 END
               AS consistent
    FROM ca JOIN cb ON cb.pt = ca.pt
    """,
)
def dq_checksum_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-system reconciliation: partition-level row counts and
    content checksums for two copies of orders (copy B carries a
    deterministic 1-cent corruption on every 1009th key), reporting
    which of the 16 partitions agree — the nightly recon that tells
    you WHERE to look, not just that totals drifted.

    The checksum is a SUM of per-row md5-prefix integers — rendered
    commutative, so partition checksums are combinable aggregates
    immune to row order (the property a naive "hash of concatenated
    rows" lacks), and two copies can be summed on different engines
    or clusters and still compared. Every corrupted partition flips
    exactly its own flag.
    """
    base = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        half_up(F.col("o_totalprice") * 100).alias("cents"),
        (F.col("o_orderkey") % 16).alias("pt"),
    )
    sys_b = base.withColumn(
        "cents",
        F.when(
            F.col("o_orderkey") % 1009 == 0, F.col("cents") + 1
        ).otherwise(F.col("cents")),
    )

    def cksum(df: DataFrame, label: str) -> DataFrame:
        row_h = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("o_orderkey").cast("string"),
                            F.col("cents").cast("string"),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            )
            .cast("long")
            .cast(_D38)
        )
        return df.groupBy("pt").agg(
            F.count("*").cast("long").alias(f"n_{label}"),
            F.sum(row_h).alias(f"ck_{label}"),
        )

    ca = cksum(base, "a")
    cb = cksum(sys_b, "b")
    return ca.join(cb, "pt").select(
        "pt",
        "n_a",
        "n_b",
        F.when(
            (F.col("n_a") == F.col("n_b"))
            & (F.col("ck_a") == F.col("ck_b")),
            1,
        )
        .otherwise(0)
        .alias("consistent"),
    )


# ---------------------------------------------------------------------------
# dim_golden_record — per-field survivorship merge
# ---------------------------------------------------------------------------


@register(
    "dim_golden_record",
    oracle="""
    WITH members AS (
        SELECT c_custkey, c_nationkey, c_acctbal,
               CAST(c_custkey // 3 AS BIGINT) AS household
        FROM customer
    ), spend AS (
        SELECT o_custkey AS cust,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sp,
               max(o_orderdate) AS last_d
        FROM orders GROUP BY 1
    ), joined AS (
        SELECT m.household, m.c_custkey, m.c_nationkey, m.c_acctbal,
               coalesce(s.sp, 0) AS sp,
               s.last_d
        FROM members m LEFT JOIN spend s ON s.cust = m.c_custkey
    ), ranked AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY household
                   ORDER BY sp DESC, c_custkey DESC) AS r_sp,
               row_number() OVER (
                   PARTITION BY household
                   ORDER BY coalesce(epoch_ms(CAST(last_d AS TIMESTAMP)),
                                     -1) DESC, c_custkey DESC) AS r_d
        FROM joined
    )
    SELECT household,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(max(CASE WHEN r_sp = 1 THEN c_custkey END) AS BIGINT)
               AS rep_custkey,
           CAST(max(CASE WHEN r_d = 1 THEN c_nationkey END) AS BIGINT)
               AS nation_latest_order,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS acctbal_cents,
           CAST(sum(sp) AS BIGINT) AS spend_cents
    FROM ranked GROUP BY household
    """,
)
def dim_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship per household (custkey div 3):
    representative = biggest spender, nationality = member with the
    most recent order, balances and spend summed — each FIELD
    chooses its own precedence rule, which is exactly what makes MDM
    survivorship different from dedup_keep_best's pick-one-row.

    Spend reduces first; argmax fields use max_by over (value,
    custkey) structs — integer totals with total tiebreaks, so
    survivorship can never flip between runs; members with no
    orders participate with epoch −1 (never latest unless alone).
    """
    members = t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.expr("c_custkey div 3").cast("long").alias("household"),
    )
    spend = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.sum(half_up(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("sp"),
            F.max("o_orderdate").alias("last_d"),
        )
    )
    joined = members.join(
        spend, members["c_custkey"] == spend["cust"], "left"
    ).select(
        "household",
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.coalesce(F.col("sp"), F.lit(0)).alias("sp"),
        "last_d",
    )
    return joined.groupBy("household").agg(
        F.count("*").cast("long").alias("n_members"),
        F.max_by(
            F.col("c_custkey"), F.struct(F.col("sp"), F.col("c_custkey"))
        )
        .cast("long")
        .alias("rep_custkey"),
        F.max_by(
            F.col("c_nationkey"),
            F.struct(
                F.coalesce(F.unix_millis(F.col("last_d")), F.lit(-1)),
                F.col("c_custkey"),
            ),
        )
        .cast("long")
        .alias("nation_latest_order"),
        F.sum(half_up(F.col("c_acctbal") * 100))
        .cast("long")
        .alias("acctbal_cents"),
        F.sum("sp").cast("long").alias("spend_cents"),
    )


# ---------------------------------------------------------------------------
# agg_retention_fit — power-law decay slope of the cohort curve
# ---------------------------------------------------------------------------


@register(
    "agg_retention_fit",
    oracle="""
    WITH fm AS (
        SELECT o_custkey AS cust,
               min(date_trunc('month', o_orderdate)) AS cohort
        FROM orders GROUP BY 1
    ), activity AS (
        SELECT DISTINCT o.o_custkey AS cust,
               CAST(date_diff('month', fm.cohort,
                              date_trunc('month', o.o_orderdate))
                    AS BIGINT) AS k
        FROM orders o JOIN fm ON fm.cust = o.o_custkey
    ), curve AS (
        SELECT k, CAST(count(*) AS BIGINT) AS active
        FROM activity WHERE k >= 1 AND k <= 24 GROUP BY k
    ), pts AS (
        SELECT CAST(floor(ln(CAST(k AS DOUBLE)) * 1000000 + 0.5)
                    AS BIGINT) AS x,
               CAST(floor(ln(CAST(active AS DOUBLE)) * 1000000 + 0.5)
                    AS BIGINT) AS y
        FROM curve
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(x * y) AS HUGEINT) AS sxy,
               CAST(sum(x * x) AS HUGEINT) AS sxx
        FROM pts
    )
    SELECT n,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS decay_slope
    FROM s
    """,
)
def agg_retention_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law decay slope of the aggregate retention curve:
    ln(active customers at month k since first order) regressed on
    ln(k), k = 1..24 — smiling retention flattens on a log-log
    plot, and THIS slope is the number an LTV model extrapolates
    with (agg_retention_cohort reports the raw matrix; this fits
    it).

    First-order cohorts reduce per customer; the activity frame is
    DISTINCT (customer, month-offset); the curve is calendar-sized;
    the fit is the e6-integerized-log + exact-decimal-sums
    regression (text_zipf_slope precedent).
    """
    o = t(spark, sf_dir, "orders")
    fm = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cohort")
    )
    activity = (
        o.join(fm, o["o_custkey"] == fm["cust"])
        .select(
            "cust",
            (
                (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
                - (F.year("cohort") * 12 + F.month("cohort"))
            )
            .cast("long")
            .alias("k"),
        )
        .distinct()
    )
    curve = (
        activity.filter((F.col("k") >= 1) & (F.col("k") <= 24))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("active"))
    )
    pts = curve.select(
        half_up(F.log(F.col("k").cast("double")) * 1000000).alias("x"),
        half_up(F.log(F.col("active").cast("double")) * 1000000).alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast(_D38)).alias("sx"),
        F.sum(F.col("y").cast(_D38)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(_D38)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(_D38)).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    dx = lambda c: F.col(c).cast("double")  # noqa: E731
    slope = (nd * dx("sxy") - dx("sx") * dx("sy")) / (
        nd * dx("sxx") - dx("sx") * dx("sx")
    )
    return s.select(
        "n",
        round_dp(slope, 6).alias("decay_slope"),
    )
