"""Round-4z extension operators (SURVEY.md §2.40).

Attribution, concentration-curve and schema-discovery reads:
position-based (U-shaped) multi-touch attribution (40/20/40 — the
adtech credit split, allocated in integer basis points with
remainder discipline), decile Lorenz curve points (the cumulative-
share curve Gini summarizes away), and FK-candidate inference
(containment profiling — "which columns look like foreign keys" —
the metadata-discovery pass run before any modeling).

Contract discipline identical to the other extension modules: all
attribution credit is integer basis points that sum to exactly
10 000 per conversion, Lorenz points are rationals over exact
integer sums, and containment ratios are rendered from exact
distinct counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t


# ---------------------------------------------------------------------------
# win_attribution_position — U-shaped multi-touch credit
# ---------------------------------------------------------------------------


@register(
    "win_attribution_position",
    oracle="""
    WITH conv AS (
        SELECT user_id, ts AS conv_ts, event_id AS conv_id
        FROM events WHERE event_type = 'purchase'
    ), touch AS (
        SELECT user_id, ts AS touch_ts, event_id AS touch_id
        FROM events WHERE event_type = 'click'
    ), assigned AS (
        SELECT c.conv_id, t.touch_id,
               row_number() OVER (
                   PARTITION BY c.conv_id
                   ORDER BY t.touch_ts, t.touch_id) AS pos,
               count(*) OVER (PARTITION BY c.conv_id) AS n
        FROM conv c JOIN touch t
          ON t.user_id = c.user_id
         AND t.touch_ts < c.conv_ts
         AND t.touch_ts >= c.conv_ts - INTERVAL 3 DAY
    )
    SELECT conv_id, touch_id,
           CAST(CASE
               WHEN n = 1 THEN 10000
               WHEN n = 2 THEN CASE WHEN pos = 1 THEN 5000 ELSE 5000 END
               WHEN pos = 1 THEN 4000
               WHEN pos = n THEN 4000
               ELSE 2000 // (n - 2)
                    + CASE WHEN pos = 2
                           THEN 2000 % (n - 2) ELSE 0 END
           END AS BIGINT) AS credit_bps
    FROM assigned
    """,
)
def win_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: every
    purchase credits its 3-day click path 40% / 20% / 40%
    (first / middle / last) — the adtech standard between last-touch
    (all-40-at-the-end) and linear.

    Credit is INTEGER basis points: 10 000 per conversion, middles
    get 2000 div (n−2) each with the remainder assigned to the
    first middle touch, so Σcredit = 10 000 EXACTLY for every
    conversion — float splits can't promise that. Touches rank by a
    total order (ts, event_id); the path join is an equi-join on
    user plus a bounded time predicate, partitioned per conversion —
    no global window anywhere.
    """
    ev = t(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("cu"),
        F.col("ts").alias("conv_ts"),
        F.col("event_id").alias("conv_id"),
    )
    touch = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("tu"),
        F.col("ts").alias("touch_ts"),
        F.col("event_id").alias("touch_id"),
    )
    joined = conv.join(
        touch,
        (F.col("tu") == F.col("cu"))
        & (F.col("touch_ts") < F.col("conv_ts"))
        & (
            F.col("touch_ts")
            >= F.col("conv_ts") - F.expr("INTERVAL 3 DAY")
        ),
    )
    w = Window.partitionBy("conv_id").orderBy("touch_ts", "touch_id")
    wp = Window.partitionBy("conv_id")
    assigned = joined.select(
        "conv_id",
        "touch_id",
        F.row_number().over(w).alias("pos"),
        F.count("*").over(wp).alias("n"),
    )
    mid_each = F.expr("2000 div (n - 2)")
    mid_rem = F.lit(2000) % (F.col("n") - 2)
    credit = (
        F.when(F.col("n") == 1, 10000)
        .when(F.col("n") == 2, 5000)
        .when(F.col("pos") == 1, 4000)
        .when(F.col("pos") == F.col("n"), 4000)
        .otherwise(
            mid_each
            + F.when(F.col("pos") == 2, mid_rem).otherwise(0)
        )
    )
    return assigned.select(
        "conv_id", "touch_id", credit.cast("long").alias("credit_bps")
    )


# ---------------------------------------------------------------------------
# agg_lorenz_points — decile concentration curve
# ---------------------------------------------------------------------------


@register(
    "agg_lorenz_points",
    oracle="""
    WITH spend AS (
        SELECT o_custkey AS cust,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS c
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT c,
               row_number() OVER (ORDER BY c, cust) AS rn,
               count(*) OVER () AS n
        FROM spend
    ), dec AS (
        SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS decile,
               CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum(c) AS BIGINT) AS cents
        FROM ranked GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(cents) AS BIGINT) AS tc,
               CAST(sum(n_cust) AS BIGINT) AS tn
        FROM dec
    )
    SELECT decile, n_cust, cents,
           floor(CAST(sum(cents) OVER w AS DOUBLE) / tot.tc
                 * 1000000 + 0.5) / 1000000 AS cum_share,
           floor(CAST(sum(n_cust) OVER w AS DOUBLE) / tot.tn
                 * 1000000 + 0.5) / 1000000 AS cum_pop
    FROM dec CROSS JOIN tot
    WINDOW w AS (ORDER BY decile)
    """,
)
def agg_lorenz_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile Lorenz curve of customer spend: cumulative revenue
    share vs cumulative population share, poorest decile first — the
    CURVE behind agg_gini's single number ("the bottom 50% hold 21%
    of revenue" reads off this, not off a coefficient).

    Per-customer spend reduces first; ranking runs over the reduced
    customer frame with a total tiebreak; deciles use the same
    (rn−1)·10 div n banding as agg_decile_lift; the two cumulative
    shares are rationals over exact integer sums on a 10-row frame.
    """
    spend = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.sum(half_up(F.col("o_totalprice") * 100)).cast("long").alias("c")
        )
    )
    w_rank = Window.orderBy("c", "cust")
    ranked = spend.select(
        "c",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    dec = ranked.groupBy(
        F.expr("(rn - 1) * 10 div n").cast("long").alias("decile")
    ).agg(
        F.count("*").cast("long").alias("n_cust"),
        F.sum("c").cast("long").alias("cents"),
    )
    tot = dec.agg(
        F.sum("cents").cast("long").alias("tc"),
        F.sum("n_cust").cast("long").alias("tn"),
    )
    w_cum = Window.orderBy("decile")
    return dec.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_cust",
        "cents",
        round_dp(
            F.sum("cents").over(w_cum).cast("double") / F.col("tc"), 6
        ).alias("cum_share"),
        round_dp(
            F.sum("n_cust").over(w_cum).cast("double") / F.col("tn"), 6
        ).alias("cum_pop"),
    )


# ---------------------------------------------------------------------------
# dq_fk_inference — containment profiling for FK discovery
# ---------------------------------------------------------------------------

_CANDIDATES = (
    ("orders.o_custkey", "customer.c_custkey"),
    ("lineitem.l_partkey", "part.p_partkey"),
    ("lineitem.l_suppkey", "supplier.s_suppkey"),
    ("events.user_id", "customer.c_custkey"),
)


def _fk_pair_sql(child: str, parent: str) -> str:
    ct, cc = child.split(".")
    pt, pc = parent.split(".")
    return f"""
    SELECT '{child}' AS child_col, '{parent}' AS parent_col,
           CAST((SELECT count(DISTINCT {cc}) FROM {ct}) AS BIGINT)
               AS n_child_distinct,
           CAST((SELECT count(DISTINCT {pc}) FROM {pt}) AS BIGINT)
               AS n_parent_distinct,
           CAST((SELECT count(*) FROM
                    (SELECT DISTINCT {cc} AS v FROM {ct}) c
                 WHERE EXISTS (SELECT 1 FROM {pt} p
                               WHERE p.{pc} = c.v)) AS BIGINT)
               AS n_contained,
           floor(CAST((SELECT count(*) FROM
                    (SELECT DISTINCT {cc} AS v FROM {ct}) c
                 WHERE EXISTS (SELECT 1 FROM {pt} p
                               WHERE p.{pc} = c.v)) AS DOUBLE)
                 / (SELECT count(DISTINCT {cc}) FROM {ct})
                 * 1000000 + 0.5) / 1000000 AS containment
    """


@register(
    "dq_fk_inference",
    oracle=" UNION ALL ".join(
        _fk_pair_sql(c, p) for c, p in _CANDIDATES
    ),
)
def dq_fk_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK-candidate inference by containment: for each proposed
    (child column → parent key) pair, what fraction of the child's
    distinct values exist in the parent — containment 1.0 means the
    pair behaves like a real foreign key, anything less quantifies
    the orphan rate. The schema-discovery read run before trusting
    joins on an undocumented lake.

    Each pair costs two combinable DISTINCTs and one semi-join of
    the (small) distinct frames — never a row-level join of the
    fact tables; the four pair reports union into one frame. All
    ratios render from exact counts.
    """
    from functools import reduce

    frames = []
    for child, parent in _CANDIDATES:
        ct, cc = child.split(".")
        pt, pc = parent.split(".")
        # r13: ONE full-outer join of the two distinct key sets + ONE
        # multi-aggregate pass replaces the former left-semi join plus
        # THREE separate scalar aggs cross-joined together (12 exec
        # jobs per pair at AQE stage granularity -> ~4). The join on v
        # reuses the distincts' hash(v) exchanges, so no new shuffle;
        # sum(c)=|child keys| (counts a NULL child key exactly like the
        # old count(*)), sum(p)=|parent keys|, and sum(c*p)=|c∩p| (a
        # NULL key never joins, exactly like the old EXISTS semi-join).
        cd = (
            t(spark, sf_dir, ct)
            .select(F.col(cc).alias("v"))
            .distinct()
            .withColumn("c", F.lit(1))
        )
        pd_ = (
            t(spark, sf_dir, pt)
            .select(F.col(pc).alias("v"))
            .distinct()
            .withColumn("p", F.lit(1))
        )
        stats = cd.join(pd_, "v", "full_outer").agg(
            F.sum("c").cast("long").alias("n_child_distinct"),
            F.sum("p").cast("long").alias("n_parent_distinct"),
            F.sum(F.col("c") * F.col("p")).cast("long").alias("n_contained"),
        )
        frames.append(
            stats.select(
                F.lit(child).alias("child_col"),
                F.lit(parent).alias("parent_col"),
                "n_child_distinct",
                "n_parent_distinct",
                "n_contained",
                round_dp(
                    F.col("n_contained").cast("double")
                    / F.col("n_child_distinct"),
                    6,
                ).alias("containment"),
            )
        )
    return reduce(DataFrame.unionAll, frames)
