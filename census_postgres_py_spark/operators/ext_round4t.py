"""Round-4t extension operators (SURVEY.md §2.34).

Validation and scoring reads: exact ROC AUC (the Mann–Whitney
rank-sum form with tie correction, kept fully integer), a Luhn
checksum audit over derived account numbers (the classic
data-capture validity screen), and a column-uniqueness profile (the
"which columns could be keys" one-pass survey).

Contract discipline identical to the other extension modules: AUC's
2U statistic is integer by construction (ties contribute n_N(s)
half-steps, so doubling clears the halves), the Luhn digit sum is a
fixed-width unrolled integer expression, and the uniqueness profile
is a stack/unpivot followed by combinable counts.
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
# agg_auc_roc — exact ROC AUC via the tie-corrected rank-sum
# ---------------------------------------------------------------------------


@register(
    "agg_auc_roc",
    oracle="""
    WITH cutoff AS (
        SELECT date_trunc('month', max(o_orderdate))
                   - INTERVAL 6 MONTH AS cut
        FROM orders
    ), feat AS (
        SELECT o.o_custkey AS cust,
               CAST(sum(CASE WHEN o.o_orderdate < c.cut
                             THEN CAST(floor(o.o_totalprice * 100 + 0.5)
                                       AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS score,
               CAST(max(CASE WHEN o.o_orderdate >= c.cut
                             THEN 1 ELSE 0 END) AS BIGINT) AS label
        FROM orders o CROSS JOIN cutoff c
        GROUP BY o.o_custkey
    ), per_s AS (
        SELECT score,
               CAST(sum(label) AS BIGINT) AS np,
               CAST(sum(1 - label) AS BIGINT) AS nn
        FROM feat GROUP BY score
    ), cum AS (
        SELECT score, np, nn,
               CAST(coalesce(sum(nn) OVER (
                   ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS HUGEINT) AS below_n
        FROM per_s
    ), tot AS (
        SELECT CAST(sum(np) AS HUGEINT) AS tp,
               CAST(sum(nn) AS HUGEINT) AS tn
        FROM per_s
    )
    SELECT CAST(tot.tp AS BIGINT) AS n_pos, CAST(tot.tn AS BIGINT) AS n_neg,
           CAST(sum(np * (2 * below_n + nn)) AS BIGINT) AS u2,
           floor(CAST(sum(np * (2 * below_n + nn)) AS DOUBLE)
                 / (2.0 * CAST(tot.tp AS DOUBLE) * CAST(tot.tn AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS auc
    FROM cum CROSS JOIN tot
    GROUP BY tot.tp, tot.tn
    """,
)
def agg_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the spend-score vs repurchase-label split
    (same time-split as agg_decile_lift) — the Mann–Whitney identity
    AUC = P(score⁺ > score⁻) + ½·P(tie), evaluated WITHOUT floats:
    2U = Σ_s n₊(s)·(2·N₋(<s) + n₋(s)) over distinct scores, so ties
    contribute exact half-credits and the only division is the final
    rendered ratio.

    Per-score (n₊, n₋) collapse map-side; the strictly-below
    cumulative is one window over the DISTINCT-score frame (already
    reduced; at 100 TB this is the bucketed two-level candidate, see
    agg_ks_statistic). Everything up to the final render is integer.
    """
    o = t(spark, sf_dir, "orders")
    cutoff = o.agg(
        F.add_months(F.date_trunc("month", F.max("o_orderdate")), -6)
        .cast("timestamp")
        .alias("cut")
    )
    feat = (
        o.crossJoin(F.broadcast(cutoff))
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.sum(
                F.when(
                    F.col("o_orderdate") < F.col("cut"),
                    half_up(F.col("o_totalprice") * 100),
                ).otherwise(0)
            )
            .cast("long")
            .alias("score"),
            F.max(
                F.when(F.col("o_orderdate") >= F.col("cut"), 1).otherwise(0)
            )
            .cast("long")
            .alias("label"),
        )
    )
    per_s = feat.groupBy("score").agg(
        F.sum("label").cast("long").alias("np"),
        F.sum(1 - F.col("label")).cast("long").alias("nn"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_s.select(
        "np",
        "nn",
        F.coalesce(F.sum("nn").over(w), F.lit(0)).cast(_D38).alias(
            "below_n"
        ),
    )
    tot = per_s.agg(
        F.sum("np").cast(_D38).alias("tp"),
        F.sum("nn").cast(_D38).alias("tn"),
    )
    u2 = F.sum(
        (F.col("np").cast(_D38))
        * (F.lit(2).cast(_D38) * F.col("below_n") + F.col("nn").cast(_D38))
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("tp", "tn")
        .agg(u2.alias("u2d"))
        .select(
            F.col("tp").cast("long").alias("n_pos"),
            F.col("tn").cast("long").alias("n_neg"),
            F.col("u2d").cast("long").alias("u2"),
            round_dp(
                F.col("u2d").cast("double")
                / (
                    F.lit(2.0)
                    * F.col("tp").cast("double")
                    * F.col("tn").cast("double")
                ),
                6,
            ).alias("auc"),
        )
    )


# ---------------------------------------------------------------------------
# fn_luhn_checksum — account-number validity audit
# ---------------------------------------------------------------------------

# 11-digit base account number derived from the key; the 12th is the
# Luhn check digit. Corruption injected on every 53rd customer.
_LUHN_BASE_SQL = "CAST(c_custkey * 7919 + 100000000000 AS BIGINT)"


def _luhn_digit_terms(num: str, intdiv: str) -> str:
    """Unrolled Luhn sum over the 11 digits of ``num`` (positions
    counted from the RIGHT starting at 1; odd positions double).
    ``intdiv`` is the engine's integer-division token (``//`` for
    DuckDB, ``div`` for Spark SQL) — NEVER a float division, which
    would truncate wrongly near representation boundaries."""
    terms = []
    for pos in range(1, 12):  # digit positions 1..11 from the right
        d = f"(({num}) {intdiv} {10 ** (pos - 1)} % 10)"
        if pos % 2 == 1:  # doubled digits (check digit will sit at pos 0)
            terms.append(f"((2 * {d}) {intdiv} 10 + (2 * {d}) % 10)")
        else:
            terms.append(d)
    return " + ".join(terms)


def _luhn_digit_terms_sql(num: str) -> str:
    return _luhn_digit_terms(num, "//")


@register(
    "fn_luhn_checksum",
    oracle=f"""
    WITH acct AS (
        SELECT c_custkey, c_nationkey,
               {_LUHN_BASE_SQL} AS base,
               CASE WHEN c_custkey % 53 = 0 THEN 1 ELSE 0 END AS corrupt
        FROM customer
    ), full_num AS (
        SELECT c_custkey, c_nationkey,
               base * 10
                   + (10 - ({_luhn_digit_terms_sql("base")}) % 10) % 10
                   + corrupt AS acct_num
        FROM acct
    ), checked AS (
        SELECT c_nationkey,
               CASE WHEN (
                   ({_luhn_digit_terms_sql("acct_num // 10")})
                   + acct_num % 10
               ) % 10 = 0 THEN 1 ELSE 0 END AS valid
        FROM full_num
    )
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(1 - valid) AS BIGINT) AS n_invalid
    FROM checked GROUP BY c_nationkey
    """,
)
def fn_luhn_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn (mod-10) checksum audit of derived 12-digit account
    numbers, with corruption injected on every 53rd customer — the
    classic keyed-entry validity screen (card/IMEI/NPI numbers),
    reported as invalid counts per nation.

    The check digit and its re-validation are the SAME fixed-width
    unrolled integer expression on both engines (11 digit terms, no
    loops, no strings, no UDF) — whole-stage-codegen folds it into a
    single projection, so the audit costs the same as any arithmetic
    map at 100 TB, followed by one combinable rollup. The audit
    flags exactly the injected corruptions: Luhn detects every
    single-digit error, and +1 on the check digit is one.
    """
    luhn_base = _luhn_digit_terms("base", "div")
    luhn_body = _luhn_digit_terms("acct_num div 10", "div")
    acct = t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        (F.col("c_custkey") * 7919 + F.lit(100000000000))
        .cast("long")
        .alias("base"),
        F.when(F.col("c_custkey") % 53 == 0, 1).otherwise(0).alias(
            "corrupt"
        ),
    )
    full_num = acct.select(
        "c_nationkey",
        F.expr(
            f"base * 10 + (10 - ({luhn_base}) % 10) % 10 + corrupt"
        ).alias("acct_num"),
    )
    checked = full_num.select(
        "c_nationkey",
        F.expr(
            f"CASE WHEN (({luhn_body}) + acct_num % 10) % 10 = 0"
            " THEN 1 ELSE 0 END"
        ).alias("valid"),
    )
    return checked.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(1 - F.col("valid")).cast("long").alias("n_invalid"),
    )


# ---------------------------------------------------------------------------
# dq_uniqueness_profile — which columns could be keys
# ---------------------------------------------------------------------------


@register(
    "dq_uniqueness_profile",
    oracle="""
    WITH stacked AS (
        SELECT 'o_orderstatus' AS col, o_orderstatus AS val FROM orders
        UNION ALL
        SELECT 'o_orderpriority', o_orderpriority FROM orders
        UNION ALL
        SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'o_orderkey', CAST(o_orderkey AS VARCHAR) FROM orders
    ), per_val AS (
        SELECT col, val, CAST(count(*) AS BIGINT) AS c
        FROM stacked GROUP BY col, val
    ), ranked AS (
        SELECT col, val, c,
               row_number() OVER (
                   PARTITION BY col ORDER BY c DESC, val) AS rn
        FROM per_val
    )
    SELECT col,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
               AS n_in_dups,
           max(CASE WHEN rn = 1 THEN val END) AS top_value,
           CAST(max(CASE WHEN rn = 1 THEN c END) AS BIGINT) AS top_count
    FROM ranked GROUP BY col
    """,
)
def dq_uniqueness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-uniqueness survey over orders: per candidate column,
    row count, distinct count, rows involved in duplicates, and the
    modal value — the one-glance answer to "which of these could be
    a key, and what collides".

    One stack/unpivot (a zero-shuffle projection) feeds ONE
    per-(col,value) combinable count; distinct counts, dup mass and
    the mode all roll up from that frame — the whole profile is two
    aggregations regardless of column count, instead of N separate
    COUNT(DISTINCT) scans. Mode ties break lexicographically via
    (count desc, value) ranking.
    """
    o = t(spark, sf_dir, "orders")
    stacked = o.select(
        F.expr(
            "stack(4,"
            " 'o_orderstatus', o_orderstatus,"
            " 'o_orderpriority', o_orderpriority,"
            " 'o_custkey', CAST(o_custkey AS STRING),"
            " 'o_orderkey', CAST(o_orderkey AS STRING)"
            ") AS (col, val)"
        )
    )
    per_val = stacked.groupBy("col", "val").agg(
        F.count("*").cast("long").alias("c")
    )
    w = Window.partitionBy("col").orderBy(F.col("c").desc(), F.col("val"))
    ranked = per_val.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("col").agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_distinct"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_in_dups"),
        F.max(F.when(F.col("rn") == 1, F.col("val"))).alias("top_value"),
        F.max(F.when(F.col("rn") == 1, F.col("c")))
        .cast("long")
        .alias("top_count"),
    )
