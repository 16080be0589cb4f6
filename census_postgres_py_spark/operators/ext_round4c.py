"""Round-4c extension operators (SURVEY.md §2.17).

Third round-4 widening pass — lifecycle analytics and ML-prep:
forward-fill imputation (the time-series gap filler), cohort LTV
curves, centroid-silhouette embedding quality, a time-bounded
conversion funnel (steps must happen within 72 h of each other, the
form every product-analytics funnel actually uses), and RFM customer
segmentation.

Contract discipline identical to §2.15/§2.16 (registry.py:8-19):
shared aliases, exact integer cents before any sum, `floor(x*k + 0.5)`
half-up renders, epoch-millis timestamps, 6-dp rounding on the
float-accumulation aggregates (same accepted-risk envelope as
`emb_centroid_label`, green since r3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

_EMB_DIM = 64


# ---------------------------------------------------------------------------
# transform_ffill — forward-fill imputation
# ---------------------------------------------------------------------------


@register(
    "transform_ffill",
    oracle="""
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
           CASE WHEN event_type = 'purchase'
                THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END
               AS purchase_cents,
           last_value(CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END
                    IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS filled_cents
    FROM events
    """,
)
def transform_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill imputation: carry each user's last observed
    purchase amount forward onto every subsequent event — the
    gap-filling step before any per-user time-series feature, and the
    general "latest known value as-of this row" primitive.

    One window pass: `last(col, ignorenulls=True)` over an unbounded-
    preceding row frame — O(1) state per row, a single shuffle on
    user_id, no self-join (the naive formulation is an as-of self-join
    per event). Rows before a user's first purchase stay NULL on both
    engines — imputation never invents data. The fill value is exact
    integer cents, so the carried value is hash-stable.
    """
    ev = t(spark, sf_dir, "events")
    v = F.when(
        F.col("event_type") == "purchase", half_up(F.col("value") * 100)
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        v.alias("purchase_cents"),
        F.last(v, ignorenulls=True).over(w).alias("filled_cents"),
    )


# ---------------------------------------------------------------------------
# agg_cohort_ltv — cohort lifetime-value curves
# ---------------------------------------------------------------------------


@register(
    "agg_cohort_ltv",
    oracle="""
    WITH co AS (
        SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS cm
        FROM orders GROUP BY 1
    ), facts AS (
        SELECT (year(o.o_orderdate) * 12 + month(o.o_orderdate))
                   - (year(co.cm) * 12 + month(co.cm)) AS age_m,
               co.cm,
               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders o JOIN co ON o.o_custkey = co.o_custkey
    ), agg AS (
        SELECT cm, CAST(age_m AS BIGINT) AS age_months,
               CAST(sum(cents) AS BIGINT) AS rev_cents
        FROM facts GROUP BY cm, age_m
    )
    SELECT epoch_ms(CAST(cm AS TIMESTAMP)) AS cohort_ms, age_months,
           rev_cents,
           CAST(sum(rev_cents) OVER (PARTITION BY cm ORDER BY age_months
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_rev_cents
    FROM agg
    """,
)
def agg_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: customers grouped by first-order month, with
    the cohort's exact-cents revenue at each month of age and the
    cumulative curve — the lifetime-value read behind every
    payback-period decision.

    Scale shape: the cohort assignment is a combinable min-aggregate
    per customer; the fact join is custkey⋈custkey (both sides
    partition on the key — co-partitioned at scale, no broadcast
    needed); the (cohort, age) rollup is combinable; and the running
    cumulative windows over O(calendar)² already-aggregated rows.
    Month arithmetic is pure integers (year*12+month), not engine
    month-diff semantics.
    """
    orders = t(spark, sf_dir, "orders")
    co = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cm")
    )
    months = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    facts = orders.join(co, "o_custkey").select(
        "cm",
        (months(F.col("o_orderdate")) - months(F.col("cm")))
        .cast("long")
        .alias("age_months"),
        half_up(F.col("o_totalprice") * 100).alias("cents"),
    )
    agg = facts.groupBy("cm", "age_months").agg(
        F.sum("cents").cast("long").alias("rev_cents")
    )
    w = (
        Window.partitionBy("cm")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return agg.select(
        F.unix_millis("cm").alias("cohort_ms"),
        "age_months",
        "rev_cents",
        F.sum("rev_cents").over(w).cast("long").alias("cum_rev_cents"),
    )


# ---------------------------------------------------------------------------
# emb_silhouette_approx — centroid-based clustering quality
# ---------------------------------------------------------------------------


@register(
    "emb_silhouette_approx",
    oracle=f"""
    WITH cent AS (
        SELECT label, i AS pos, avg(CAST(embedding[i] AS DOUBLE)) AS m
        FROM embeddings, range(1, {_EMB_DIM + 1}) t(i)
        GROUP BY label, i
    ), carr AS (
        SELECT label, list(m ORDER BY pos) AS centroid
        FROM cent GROUP BY label
    ), dists AS (
        SELECT e.vec_id, e.label AS own_label, c.label AS c_label,
               sqrt(list_sum(list_transform(range(1, {_EMB_DIM + 1}),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
                        * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))))
                   AS d
        FROM embeddings e CROSS JOIN carr c
    ), pv AS (
        SELECT vec_id, own_label,
               min(CASE WHEN c_label = own_label THEN d END) AS a,
               min(CASE WHEN c_label <> own_label THEN d END) AS b
        FROM dists GROUP BY vec_id, own_label
    )
    SELECT own_label AS label, CAST(count(*) AS BIGINT) AS n_vectors,
           floor(avg(a) * 1000000 + 0.5) / 1000000 AS avg_intra,
           floor(avg(b) * 1000000 + 0.5) / 1000000 AS avg_nearest_other,
           floor(avg((b - a) / greatest(a, b)) * 1000000 + 0.5) / 1000000
               AS silhouette
    FROM pv GROUP BY own_label
    """,
)
def emb_silhouette_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based (simplified) silhouette per label: mean distance
    to the own-label centroid vs the nearest OTHER centroid, and the
    per-vector silhouette (b−a)/max(a,b) averaged per label — the
    clustering-quality report that tells you whether labels are
    separable BEFORE training on them.

    True silhouette is O(n²); the centroid form is the standard O(n·k)
    approximation. Scale shape: centroids are one Summarizer.mean pass
    (fixed-width combinable accumulators, |labels| output rows); the
    k=10 centroid table broadcasts onto the corpus and distances run
    as JVM zip_with folds — per-row cost O(k·d), no explode, no
    driver collect. 6-dp half-up render on the float averages (same
    accepted-risk envelope as emb_centroid_label).
    """
    from pyspark.ml.functions import array_to_vector, vector_to_array

    from pyspark.ml.stat import Summarizer

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    cent = (
        e.select("label", array_to_vector(F.col("embedding")).alias("v"))
        .groupBy("label")
        .agg(Summarizer.mean(F.col("v")).alias("c"))
        .select(F.col("label").alias("c_label"), vector_to_array("c").alias("centroid"))
    )
    diff2 = F.zip_with(
        "embedding",
        "centroid",
        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
    )
    d = F.sqrt(F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x))
    dists = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        F.col("label").alias("own_label"),
        "c_label",
        d.alias("d"),
    )
    pv = dists.groupBy("vec_id", "own_label").agg(
        F.min(F.when(F.col("c_label") == F.col("own_label"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("c_label") != F.col("own_label"), F.col("d"))).alias("b"),
    )
    sil = (F.col("b") - F.col("a")) / F.greatest("a", "b")
    return pv.groupBy(F.col("own_label").alias("label")).agg(
        F.count("*").cast("long").alias("n_vectors"),
        round_dp(F.avg("a"), 6).alias("avg_intra"),
        round_dp(F.avg("b"), 6).alias("avg_nearest_other"),
        round_dp(F.avg(sil), 6).alias("silhouette"),
    )


# ---------------------------------------------------------------------------
# agg_funnel_bounded — time-bounded conversion funnel
# ---------------------------------------------------------------------------


@register(
    "agg_funnel_bounded",
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY 1
    ), s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'view'
          AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 72 HOUR
        GROUP BY 1
    ), s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 72 HOUR
        GROUP BY 1
    )
    SELECT s1.user_id, epoch_ms(CAST(s1.t1 AS TIMESTAMP)) AS signup_ms,
           epoch_ms(CAST(s2.t2 AS TIMESTAMP)) AS view_ms,
           epoch_ms(CAST(s3.t3 AS TIMESTAMP)) AS purchase_ms,
           CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                     WHEN s2.t2 IS NOT NULL THEN 2
                     ELSE 1 END AS INTEGER) AS stage
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
)
def agg_funnel_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded conversion funnel: signup → first view within 72 h
    → first purchase within 72 h of that view, one row per signed-up
    user with the step timestamps reached. The unbounded step funnel
    (`win_funnel_steps`) answers "ever converted"; this one answers
    the product question — "converted while the journey was live".

    Scale shape: each stage is a combinable min-aggregate after an
    equi-join on user_id, so all three stages shuffle on the SAME key
    and the per-stage tables shrink monotonically (stage n rows ⊆
    stage n−1). No window over raw events, no per-user event sort —
    the 72 h predicate rides the join filter.
    """
    ev = t(spark, sf_dir, "events")
    h72 = F.expr("INTERVAL 72 HOURS")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "view")
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + h72))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + h72))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            F.unix_millis("t1").alias("signup_ms"),
            F.unix_millis("t2").alias("view_ms"),
            F.unix_millis("t3").alias("purchase_ms"),
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .cast("int")
            .alias("stage"),
        )
    )


# ---------------------------------------------------------------------------
# agg_rfm_segments — RFM customer segmentation
# ---------------------------------------------------------------------------


@register(
    "agg_rfm_segments",
    oracle="""
    WITH mx AS (
        SELECT max(o_orderdate) AS mxd FROM orders
    ), c AS (
        SELECT o_custkey, max(o_orderdate) AS last_o,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS monetary_cents
        FROM orders GROUP BY 1
    ), r AS (
        SELECT o_custkey,
               CAST(date_diff('day', c.last_o, mx.mxd) AS BIGINT)
                   AS recency_days,
               frequency, monetary_cents
        FROM c CROSS JOIN mx
    )
    SELECT o_custkey, recency_days, frequency, monetary_cents,
           CAST(ntile(5) OVER (ORDER BY recency_days, o_custkey)
                AS INTEGER) AS r_score,
           CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey)
                AS INTEGER) AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey)
                AS INTEGER) AS m_score
    FROM r
    """,
)
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency (days since last order,
    vs the corpus max date), frequency (order count), monetary (exact
    cents), each scored into quintiles — the classic CRM segmentation,
    with deterministic custkey tiebreaks so quintile edges are stable.

    Scale shape: the per-customer rollup is one combinable aggregation
    over the fact table; the corpus max date is a 1-row broadcast. The
    three ntile windows then run over the ALREADY-aggregated customer
    frame — |customers| rows, not |orders| — which still serializes
    through one task per window; at true 100 TB scale the quintile
    edges would come from approx_percentile thresholds instead (same
    output contract, no global sort), which is why the scores are a
    projection over the frame rather than fused into the rollup.
    """
    orders = t(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("mxd"))
    c = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_o"),
        F.count("*").cast("long").alias("frequency"),
        F.sum(half_up(F.col("o_totalprice") * 100))
        .cast("long")
        .alias("monetary_cents"),
    )
    r = c.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        F.datediff("mxd", "last_o").cast("long").alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    return r.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(5)
        .over(Window.orderBy("recency_days", "o_custkey"))
        .cast("int")
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("frequency").desc(), "o_custkey"))
        .cast("int")
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("monetary_cents").desc(), "o_custkey"))
        .cast("int")
        .alias("m_score"),
    )
