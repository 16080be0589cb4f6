"""Round-4r extension operators (SURVEY.md §2.32).

Revenue-motion and spatial-assignment reads: SaaS-style growth
accounting (month-over-month revenue decomposed into new / expansion
/ contraction / churn — the waterfall every board deck shows),
trimmed mean (the robust central-tendency read that survives fat
tails), and nearest-facility assignment (each customer's closest
supplier within 300 km via the 3×3 grid-candidate join — the
logistics "which depot serves this address" query).

Contract discipline identical to the other extension modules; the
geo op reuses the geo module's deterministic coordinate derivation
and wrap-safe grid, and ranks candidates on an e4-integerized
distance so float ULPs can never reorder the argmin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up
from census_postgres_py_spark.operators.geo import (
    CELL_DEG,
    RADIUS_KM,
    _haversine_km,
    _haversine_sql,
    _lat,
    _LAT_SQL,
    _lon,
    _LON_SQL,
)
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t


# ---------------------------------------------------------------------------
# agg_growth_accounting — monthly revenue waterfall
# ---------------------------------------------------------------------------


@register(
    "agg_growth_accounting",
    oracle="""
    WITH rev AS (
        SELECT o_custkey AS cust,
               date_trunc('month', o_orderdate) AS m,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS c
        FROM orders GROUP BY 1, 2
    ), shifted AS (
        SELECT cust, m + INTERVAL 1 MONTH AS m, c AS prev_c FROM rev
    ), joined AS (
        SELECT coalesce(r.cust, s.cust) AS cust,
               coalesce(r.m, s.m) AS m,
               coalesce(r.c, 0) AS cur_c,
               coalesce(s.prev_c, 0) AS prev_c
        FROM rev r FULL OUTER JOIN shifted s
          ON s.cust = r.cust AND s.m = r.m
    )
    SELECT epoch_ms(CAST(m AS TIMESTAMP)) AS month_ms,
           CAST(sum(CASE WHEN prev_c = 0 THEN cur_c ELSE 0 END)
                AS BIGINT) AS new_c,
           CAST(sum(CASE WHEN prev_c > 0 AND cur_c > prev_c
                         THEN cur_c - prev_c ELSE 0 END)
                AS BIGINT) AS expansion_c,
           CAST(sum(CASE WHEN cur_c > 0 AND prev_c > cur_c
                         THEN prev_c - cur_c ELSE 0 END)
                AS BIGINT) AS contraction_c,
           CAST(sum(CASE WHEN cur_c = 0 THEN prev_c ELSE 0 END)
                AS BIGINT) AS churned_c,
           CAST(sum(cur_c) - sum(prev_c) AS BIGINT) AS net_change_c
    FROM joined GROUP BY m
    """,
)
def agg_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SaaS growth accounting on order revenue: each month's change
    decomposes exactly into new + expansion − contraction − churned
    (net_change_c checks the identity) — the waterfall behind every
    "where did the growth come from" board slide.

    Per-(customer, month) cents collapse in one combinable agg; the
    month-over-month comparison is a FULL OUTER self-join with one
    side shifted a month forward — hash-partitioned on (cust, month),
    no window over the raw orders. At 100 TB both sides are the
    REDUCED frame (customers × active months), and the final rollup
    is calendar-sized. All cents integers end to end.
    """
    rev = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.date_trunc("month", "o_orderdate").alias("m"),
        )
        .agg(
            F.sum(half_up(F.col("o_totalprice") * 100)).cast("long").alias("c")
        )
    )
    shifted = rev.select(
        "cust",
        F.add_months(F.col("m"), 1).cast("timestamp").alias("m"),
        F.col("c").alias("prev_c"),
    )
    joined = rev.alias("r").join(
        shifted.alias("s"),
        (F.col("s.cust") == F.col("r.cust")) & (F.col("s.m") == F.col("r.m")),
        "full_outer",
    ).select(
        F.coalesce(F.col("r.m"), F.col("s.m")).alias("m"),
        F.coalesce(F.col("r.c"), F.lit(0)).alias("cur_c"),
        F.coalesce(F.col("s.prev_c"), F.lit(0)).alias("prev_c"),
    )
    z = F.lit(0)
    return joined.groupBy("m").agg(
        F.sum(F.when(F.col("prev_c") == 0, F.col("cur_c")).otherwise(z))
        .cast("long")
        .alias("new_c"),
        F.sum(
            F.when(
                (F.col("prev_c") > 0) & (F.col("cur_c") > F.col("prev_c")),
                F.col("cur_c") - F.col("prev_c"),
            ).otherwise(z)
        )
        .cast("long")
        .alias("expansion_c"),
        F.sum(
            F.when(
                (F.col("cur_c") > 0) & (F.col("prev_c") > F.col("cur_c")),
                F.col("prev_c") - F.col("cur_c"),
            ).otherwise(z)
        )
        .cast("long")
        .alias("contraction_c"),
        F.sum(F.when(F.col("cur_c") == 0, F.col("prev_c")).otherwise(z))
        .cast("long")
        .alias("churned_c"),
        (F.sum("cur_c") - F.sum("prev_c")).cast("long").alias("net_change_c"),
    ).select(
        F.unix_millis(F.col("m")).alias("month_ms"),
        "new_c",
        "expansion_c",
        "contraction_c",
        "churned_c",
        "net_change_c",
    )


# ---------------------------------------------------------------------------
# agg_trimmed_mean — 10%-trimmed mean per priority class
# ---------------------------------------------------------------------------


@register(
    "agg_trimmed_mean",
    oracle="""
    WITH c AS (
        SELECT o_orderpriority AS grp, o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ), ranked AS (
        SELECT grp, cents,
               row_number() OVER (
                   PARTITION BY grp ORDER BY cents, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY grp) AS n
        FROM c
    ), kept AS (
        SELECT grp, cents, n FROM ranked
        WHERE rn > n // 10 AND rn <= n - n // 10
    )
    SELECT grp,
           CAST(max(n) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(floor(CAST(sum(cents) AS DOUBLE) / count(*) + 0.5)
                AS BIGINT) AS trimmed_mean_cents,
           CAST(CAST(sum(cents) AS HUGEINT)
                // CAST(count(*) AS HUGEINT)
                AS BIGINT) AS trimmed_mean_floor_cents
    FROM kept GROUP BY grp
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of order value per priority class — drop the
    cheapest and priciest decile (by exact rank with an orderkey
    tiebreak) and average the middle 80%: the robust mean that
    ignores promo freebies and whale orders alike.

    One window pass per group for (rank, n) over integer cents, a
    rank-band filter, then a combinable integer sum — the mean is a
    rational over exact integers rendered half-up (plus a pure
    integer floor variant that involves no doubles at all, exact at
    any group size).
    """
    c = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        "o_orderkey",
        half_up(F.col("o_totalprice") * 100).alias("cents"),
    )
    wo = Window.partitionBy("grp").orderBy("cents", "o_orderkey")
    wp = Window.partitionBy("grp")
    ranked = c.select(
        "grp",
        "cents",
        F.row_number().over(wo).alias("rn"),
        F.count("*").over(wp).alias("n"),
    )
    kept = ranked.filter(
        (F.col("rn") > F.expr("n div 10"))
        & (F.col("rn") <= F.col("n") - F.expr("n div 10"))
    )
    d38 = "decimal(38,0)"
    return kept.groupBy("grp").agg(
        F.max("n").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_kept"),
        half_up(F.sum("cents").cast("double") / F.count("*")).alias(
            "trimmed_mean_cents"
        ),
        F.floor(
            F.sum(F.col("cents").cast(d38))
            / F.count("*").cast(d38)
        )
        .cast("long")
        .alias("trimmed_mean_floor_cents"),
    )


# ---------------------------------------------------------------------------
# join_nearest_facility — argmin grid-KNN (customer → closest supplier)
# ---------------------------------------------------------------------------

_S_LAT_SQL = _LAT_SQL.replace("c_custkey", "s_suppkey")
_S_LON_SQL = _LON_SQL.replace("c_custkey", "s_suppkey")


def _s_lat():
    k = F.col("s_suppkey")
    return (k * 37 + k * k * 13) % 1200 / 10.0 - 60.0


def _s_lon():
    k = F.col("s_suppkey")
    return (k * 73 + k * k * 29) % 3600 / 10.0 - 180.0


@register(
    "join_nearest_facility",
    oracle=f"""
    WITH c AS (
        SELECT c_custkey, {_LAT_SQL} AS lat, {_LON_SQL} AS lon
        FROM customer
    ), s AS (
        SELECT s_suppkey, {_S_LAT_SQL} AS lat, {_S_LON_SQL} AS lon
        FROM supplier
    ), cand AS (
        SELECT c.c_custkey, s.s_suppkey,
               CAST(floor({_haversine_sql("c.lat", "c.lon", "s.lat", "s.lon")}
                          * 10000 + 0.5) AS BIGINT) AS dist_e4
        FROM c CROSS JOIN s
        WHERE {_haversine_sql("c.lat", "c.lon", "s.lat", "s.lon")}
              <= {RADIUS_KM}
    ), ranked AS (
        SELECT c_custkey, s_suppkey, dist_e4,
               row_number() OVER (
                   PARTITION BY c_custkey
                   ORDER BY dist_e4, s_suppkey) AS rn
        FROM cand
    )
    SELECT c_custkey, s_suppkey, dist_e4 FROM ranked WHERE rn = 1
    """,
)
def join_nearest_facility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closest supplier within 300 km for each customer — the
    "which depot serves this address" assignment, as a grid-candidate
    argmin instead of the oracle's O(customers × suppliers) scan.

    Suppliers explode to their 3×3 cell neighborhood (facilities are
    the SMALL side — 9× amplification of the small table only); the
    candidate join is a plain equi-join on cell, haversine runs on
    candidates only, and the argmin is a per-customer row_number over
    the e4-integerized distance (suppkey tiebreak) — float ULPs can
    never flip the winner. Cell geometry guarantees every ≤300 km
    supplier lands in the neighborhood (same proof as
    join_spatial_grid), so the result is EXACTLY the brute-force
    answer. Customers with no supplier in range drop out, matching
    the oracle's inner semantics.
    """
    n_cx = int(360 / CELL_DEG)
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", _lat().alias("lat"), _lon().alias("lon")
    )
    supp = t(spark, sf_dir, "supplier").select(
        "s_suppkey", _s_lat().alias("lat"), _s_lon().alias("lon")
    )
    cx = F.floor((F.col("lon") + 180.0) / CELL_DEG).cast("int")
    cy = F.floor((F.col("lat") + 90.0) / CELL_DEG).cast("int")
    s9 = (
        supp.withColumn("cx0", cx)
        .withColumn("cy0", cy)
        .withColumn("dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            "s_suppkey",
            F.col("lat").alias("s_lat"),
            F.col("lon").alias("s_lon"),
            (((F.col("cx0") + F.col("dx")) + n_cx) % n_cx).alias("cx"),
            (F.col("cy0") + F.col("dy")).alias("cy"),
        )
    )
    c1 = cust.select(
        "c_custkey",
        F.col("lat").alias("c_lat"),
        F.col("lon").alias("c_lon"),
        cx.alias("cx"),
        cy.alias("cy"),
    )
    d = _haversine_km(
        F.col("c_lat"), F.col("c_lon"), F.col("s_lat"), F.col("s_lon")
    )
    cand = (
        c1.join(F.broadcast(s9), ["cx", "cy"])
        .filter(d <= RADIUS_KM)
        .select(
            "c_custkey",
            "s_suppkey",
            half_up(d * 10000).alias("dist_e4"),
        )
    )
    w = Window.partitionBy("c_custkey").orderBy("dist_e4", "s_suppkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_custkey", "s_suppkey", "dist_e4")
    )
