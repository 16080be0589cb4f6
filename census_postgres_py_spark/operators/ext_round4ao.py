"""Round-4ao extension operators (SURVEY.md §2.55).

Interval-algebra, information-theory and tail-risk reads: per-
customer interval-union coverage (how many distinct days was ANY
order open — overlaps must not double-count), mutual information
between event type and weekday (the dependence measure correlation
can't see for categoricals), and the p99/p50 tail ratio (the SRE
"tail amplification" number).

Contract discipline identical to the other extension modules: the
interval union runs the classic sweep as ONE per-customer window
over integer day numbers; MI terms e6-integerize per cell before
the total; the tail ratio renders from dyadic-exact percentiles.
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
# agg_interval_union_days — overlap-free coverage per customer
# ---------------------------------------------------------------------------


@register(
    "agg_interval_union_days",
    oracle="""
    WITH iv AS (
        SELECT o_custkey AS cust,
               CAST(date_diff('day', DATE '1990-01-01', o_orderdate)
                    AS BIGINT) AS s,
               CAST(date_diff('day', DATE '1990-01-01', o_orderdate)
                    + (o_orderkey % 30 + 1) AS BIGINT) AS e
        FROM orders
    ), swept AS (
        SELECT cust, s, e,
               max(e) OVER (
                   PARTITION BY cust ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max
        FROM iv
    ), segs AS (
        SELECT cust,
               CASE WHEN prev_max IS NULL OR prev_max < s
                    THEN e - s + 1
                    WHEN e > prev_max THEN e - prev_max
                    ELSE 0 END AS covered
        FROM swept
    )
    SELECT cust AS c_custkey,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(covered) AS BIGINT) AS covered_days
    FROM segs GROUP BY cust
    """,
)
def agg_interval_union_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct days each customer had ANY order open (inclusive
    fulfillment windows, overlaps counted once) — the interval-UNION
    length, which naive Σ durations overstates whenever orders
    overlap; utilization, coverage and uptime all need this number.

    The classic sweep as pure relational algebra: per customer,
    intervals sort by start and each contributes its days beyond
    the running max end (one rows-frame window over integer day
    numbers — no explode-to-days, no per-day join). Partitioned per
    customer: bounded frames at any scale, all integers.
    """
    iv = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
        .cast("long")
        .alias("s"),
        (
            F.datediff(
                F.col("o_orderdate"), F.lit("1990-01-01").cast("date")
            )
            + (F.col("o_orderkey") % 30 + 1)
        )
        .cast("long")
        .alias("e"),
    )
    w = (
        Window.partitionBy("cust")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    swept = iv.select(
        "cust", "s", "e", F.max("e").over(w).alias("prev_max")
    )
    covered = (
        F.when(
            F.col("prev_max").isNull() | (F.col("prev_max") < F.col("s")),
            F.col("e") - F.col("s") + 1,
        )
        .when(F.col("e") > F.col("prev_max"), F.col("e") - F.col("prev_max"))
        .otherwise(0)
    )
    return swept.select("cust", covered.alias("covered")).groupBy(
        F.col("cust").alias("c_custkey")
    ).agg(
        F.count("*").cast("long").alias("n_intervals"),
        F.sum("covered").cast("long").alias("covered_days"),
    )


# ---------------------------------------------------------------------------
# agg_mutual_information — dependence between event type and weekday
# ---------------------------------------------------------------------------


@register(
    "agg_mutual_information",
    oracle="""
    WITH cells AS (
        SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(sum(c) AS DOUBLE) AS n FROM cells
    ), marg_t AS (
        SELECT event_type, CAST(sum(c) AS BIGINT) AS ct FROM cells GROUP BY 1
    ), marg_d AS (
        SELECT dow, CAST(sum(c) AS BIGINT) AS cd FROM cells GROUP BY 1
    ), terms AS (
        SELECT cells.c,
               CAST(floor(cells.c / tot.n
                          * ln(cells.c * tot.n
                               / (marg_t.ct * CAST(marg_d.cd AS DOUBLE)))
                          * 1000000000 + 0.5) AS BIGINT) AS term_e9
        FROM cells
        JOIN marg_t USING (event_type)
        JOIN marg_d USING (dow)
        CROSS JOIN tot
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           floor(CAST(sum(term_e9) AS DOUBLE) / 1000 + 0.5) / 1000000
               AS mi_nats
    FROM terms
    """,
)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(event_type; weekday) in nats — the
    categorical dependence measure (zero iff independent) that
    Pearson correlation cannot express for nominal columns; the
    fixture's near-uniform grid lands near zero, the honest
    independence verdict.

    The contingency cells, both marginals and the total come from
    ONE combinable count pass and its rollups (marginals are
    cell-frame aggregations, never a second scan); each cell's
    p·ln(p/(pq)) term e9-integerizes before the 35-row total.
    """
    cells = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            (((F.dayofweek("ts") + 5) % 7) + 1)
            .cast("long")
            .alias("dow"),
        )
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = cells.agg(F.sum("c").cast("double").alias("n"))
    marg_t = cells.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("ct")
    )
    marg_d = cells.groupBy("dow").agg(
        F.sum("c").cast("long").alias("cd")
    )
    terms = (
        cells.join(F.broadcast(marg_t), "event_type")
        .join(F.broadcast(marg_d), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            half_up(
                F.col("c")
                / F.col("n")
                * F.log(
                    F.col("c")
                    * F.col("n")
                    / (F.col("ct") * F.col("cd").cast("double"))
                )
                * 1000000000
            ).alias("term_e9"),
        )
    )
    return terms.agg(
        F.count("*").cast("long").alias("n_cells"),
        (half_up(F.sum("term_e9").cast("double") / 1000) / 1000000).alias(
            "mi_nats"
        ),
    )


# ---------------------------------------------------------------------------
# win_tail_ratio — p99/p50 amplification per event type
# ---------------------------------------------------------------------------


@register(
    "win_tail_ratio",
    oracle="""
    WITH c AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(cents, 0.50), 2) AS p50,
           round(quantile_cont(cents, 0.99), 2) AS p99,
           floor(quantile_cont(cents, 0.99) / quantile_cont(cents, 0.50)
                 * 10000 + 0.5) / 10000 AS tail_ratio
    FROM c GROUP BY event_type
    """,
)
def win_tail_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p99/p50 tail amplification of event values per type — the
    SRE/latency number that says how much worse the bad cases are
    than the typical one (uniform-ish fixtures sit near 2; heavy
    tails blow past 10).

    Exact percentiles over integer cents (dyadic-exact
    interpolation, the dq_outlier_iqr proof) in one combinable
    aggregation; the ratio is a single rendered division. The
    t-digest sketch (agg_tdigest) is the mergeable stand-in at
    planetary scale.
    """
    c = t(spark, sf_dir, "events").select(
        "event_type",
        half_up(F.col("value") * 100).alias("cents"),
    )
    return c.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.percentile("cents", 0.50), 2).alias("p50"),
        F.round(F.percentile("cents", 0.99), 2).alias("p99"),
        round_dp(
            F.percentile("cents", 0.99) / F.percentile("cents", 0.50), 4
        ).alias("tail_ratio"),
    )
