"""Round-4af extension operators (SURVEY.md §2.46).

Calibration, storage-precision and recommendation-serving reads:
expected calibration error (does the smoothed rate PREDICT the
held-out rate — the ML-eval sibling of agg_eb_smoothed_rate), a
float32 storage-precision audit (which money values silently change
if someone downcasts the column), and the per-anchor complement
table ("frequently bought together", the artifact a product page
actually serves).

Contract discipline identical to the other extension modules:
calibration gaps e6-integerize per bin before the weighted sum, the
precision audit compares exact integers recovered from both widths,
and complement ranking orders by an e6-integerized lift with a
partner-key tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import gated_broadcast, t

_D38 = "decimal(38,0)"
_PRIOR_M = 50


# ---------------------------------------------------------------------------
# agg_calibration_error — does the trained rate predict the holdout?
# ---------------------------------------------------------------------------


@register(
    "agg_calibration_error",
    oracle=f"""
    WITH ev AS (
        SELECT user_id % 97 AS segment,
               CAST(user_id % 2 AS BIGINT) AS fold,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS k
        FROM events
    ), seg AS (
        SELECT segment, fold,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(k) AS BIGINT) AS k
        FROM ev GROUP BY segment, fold
    ), g AS (
        SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(k) AS BIGINT) AS tk
        FROM seg WHERE fold = 0
    ), joined AS (
        SELECT tr.segment,
               (tr.k + {_PRIOR_M} * CAST(g.tk AS DOUBLE) / g.tn)
                   / (tr.n + {_PRIOR_M}) AS pred,
               CAST(ho.k AS DOUBLE) / ho.n AS obs,
               ho.n AS n_holdout
        FROM seg tr
        JOIN seg ho ON ho.segment = tr.segment AND ho.fold = 1
        CROSS JOIN g
        WHERE tr.fold = 0
    ), gaps AS (
        SELECT n_holdout,
               CAST(floor(abs(pred - obs) * 1000000 + 0.5) AS BIGINT)
                   AS gap_e6
        FROM joined
    )
    SELECT CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(n_holdout) AS BIGINT) AS n_holdout_events,
           floor(CAST(sum(gap_e6 * n_holdout) AS DOUBLE)
                 / sum(n_holdout) + 0.5) / 1000000 AS ece
    FROM gaps
    """,
)
def agg_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error of the EB-smoothed purchase rate:
    train on even users, predict each segment's rate, compare to the
    odd users' observed rate, weight gaps by holdout size — the
    "is the model honest about its probabilities" number that AUC
    can't see.

    Both folds come from ONE combinable pass (fold = user mod 2 is
    just another group key); the prior is a 1-row broadcast;
    per-segment |pred − obs| gaps e6-integerize BEFORE the weighted
    sum, so the final ECE is a rational over exact integers.
    """
    ev = t(spark, sf_dir, "events").select(
        (F.col("user_id") % 97).alias("segment"),
        (F.col("user_id") % 2).cast("long").alias("fold"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "k"
        ),
    )
    seg = ev.groupBy("segment", "fold").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("k").cast("long").alias("k"),
    )
    g = seg.filter(F.col("fold") == 0).agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("k").cast("long").alias("tk"),
    )
    tr = seg.filter(F.col("fold") == 0).select(
        "segment",
        F.col("n").alias("tr_n"),
        F.col("k").alias("tr_k"),
    )
    ho = seg.filter(F.col("fold") == 1).select(
        F.col("segment").alias("hseg"),
        F.col("n").alias("n_holdout"),
        F.col("k").alias("ho_k"),
    )
    joined = (
        tr.join(ho, tr["segment"] == ho["hseg"])
        .crossJoin(F.broadcast(g))
        .select(
            "n_holdout",
            (
                (
                    F.col("tr_k")
                    + _PRIOR_M * F.col("tk").cast("double") / F.col("tn")
                )
                / (F.col("tr_n") + _PRIOR_M)
            ).alias("pred"),
            (F.col("ho_k").cast("double") / F.col("n_holdout")).alias(
                "obs"
            ),
        )
    )
    gaps = joined.select(
        "n_holdout",
        half_up(F.abs(F.col("pred") - F.col("obs")) * 1000000).alias("gap_e6"),
    )
    return gaps.agg(
        F.count("*").cast("long").alias("n_segments"),
        F.sum("n_holdout").cast("long").alias("n_holdout_events"),
        (
            half_up(
                F.sum(F.col("gap_e6") * F.col("n_holdout")).cast("double")
                / F.sum("n_holdout")
            )
            / 1000000
        ).alias("ece"),
    )


# ---------------------------------------------------------------------------
# fn_float32_precision_audit — what breaks if someone downcasts money
# ---------------------------------------------------------------------------


@register(
    "fn_float32_precision_audit",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN
                   CAST(floor(CAST(CAST(o_totalprice AS FLOAT) AS DOUBLE)
                              * 100 + 0.5) AS BIGINT)
                   <> CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_lossy,
           CAST(max(CASE WHEN
                   CAST(floor(CAST(CAST(o_totalprice AS FLOAT) AS DOUBLE)
                              * 100 + 0.5) AS BIGINT)
                   <> CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
               THEN abs(CAST(floor(CAST(CAST(o_totalprice AS FLOAT)
                                        AS DOUBLE) * 100 + 0.5) AS BIGINT)
                        - CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               END) AS BIGINT) AS max_cents_error
    FROM orders GROUP BY 1
    """,
)
def fn_float32_precision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-precision audit: how many order totals change their
    CENTS value if the column is downcast to float32 (7 significant
    digits — prices above ~$83k can't hold cents), and the worst
    error — the audit you run before approving a "save space, use
    FLOAT" schema migration.

    Both engines round-trip double → float32 → double with IEEE
    semantics, so the comparison is exact and identical; the rollup
    is one combinable pass. At 100 TB this is a pure codegen'd
    projection — the audit costs one scan.
    """
    exact = half_up(F.col("o_totalprice") * 100)
    narrowed = half_up(
        F.col("o_totalprice").cast("float").cast("double") * 100
    )
    lossy = narrowed != exact
    return (
        t(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(lossy, 1).otherwise(0))
            .cast("long")
            .alias("n_lossy"),
            F.max(F.when(lossy, F.abs(narrowed - exact)))
            .cast("long")
            .alias("max_cents_error"),
        )
    )


# ---------------------------------------------------------------------------
# join_complement_rank — "frequently bought together" per anchor part
# ---------------------------------------------------------------------------

_MIN_PAIR = 3


@register(
    "join_complement_rank",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), part_n AS (
        SELECT l_partkey AS part, CAST(count(*) AS BIGINT) AS n
        FROM op GROUP BY 1
    ), n_orders AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS total
        FROM op
    ), pairs AS (
        SELECT a.l_partkey AS anchor, b.l_partkey AS partner,
               CAST(count(*) AS BIGINT) AS together
        FROM op a JOIN op b
          ON b.l_orderkey = a.l_orderkey
         AND b.l_partkey <> a.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= {_MIN_PAIR}
    ), scored AS (
        SELECT p.anchor, p.partner, p.together,
               CAST(floor(p.together * o.total / (na.n * nb.n) * 1000000
                          + 0.5) AS BIGINT) AS lift_e6
        FROM pairs p
        JOIN part_n na ON na.part = p.anchor
        JOIN part_n nb ON nb.part = p.partner
        CROSS JOIN n_orders o
    ), ranked AS (
        SELECT anchor, partner, together, lift_e6,
               row_number() OVER (
                   PARTITION BY anchor
                   ORDER BY lift_e6 DESC, partner) AS rn
        FROM scored
    )
    SELECT anchor, partner, together, lift_e6, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3
    """,
)
def join_complement_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 complements per anchor part by lift (co-purchase rate
    over independence), support ≥ 3 — the "frequently bought
    together" table a product page serves, keyed by anchor
    (agg_basket_lift reports the global top pairs; THIS is the
    serving artifact).

    Distinct (order, part) reduces first; the pair join is the
    co-purchase equi-join on orderkey; lift e6-integerizes before
    ranking so the per-anchor top-3 (WindowGroupLimit, partner
    tiebreak) can never wobble on float ordering. Part totals are
    part-cardinality-sized, so their broadcast is GATED like every
    other part-derived hint (tables.gated_broadcast), preference-keyed
    on part — the tight bound (distinct partkeys ≤ |part|), which
    stays broadcastable far past where lineitem's row count closes the
    gate (r8 ADVICE) — falling back to lineitem (the derivation source
    this op reads) on table-subset corpora without part.parquet;
    n_orders stays an unconditional hint (one scalar row).
    """
    op = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    part_n = op.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count("*").cast("long").alias("n")
    )
    n_orders = op.agg(
        F.countDistinct("l_orderkey").cast("double").alias("total")
    )
    a = op.alias("a")
    b = op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("b.l_partkey") != F.col("a.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("anchor"),
            F.col("b.l_partkey").alias("partner"),
        )
        .agg(F.count("*").cast("long").alias("together"))
        .filter(F.col("together") >= _MIN_PAIR)
    )
    na = part_n.select(
        F.col("part").alias("anchor"), F.col("n").alias("na")
    )
    nb = part_n.select(
        F.col("part").alias("partner"), F.col("n").alias("nb")
    )
    scored = (
        pairs.join(gated_broadcast(spark, sf_dir, ("part", "lineitem"), na), "anchor")
        .join(gated_broadcast(spark, sf_dir, ("part", "lineitem"), nb), "partner")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "anchor",
            "partner",
            "together",
            half_up(
                F.col("together")
                * F.col("total")
                / (F.col("na") * F.col("nb"))
                * 1000000
            ).alias("lift_e6"),
        )
    )
    w = Window.partitionBy("anchor").orderBy(
        F.col("lift_e6").desc(), F.col("partner")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "anchor",
            "partner",
            "together",
            "lift_e6",
            F.col("rn").cast("long").alias("rn"),
        )
    )
