"""Statistical / product-analytics aggregates (SURVEY.md §2.12).

Both operators follow the repo's exact-arithmetic oracle discipline:
anything summed is an INTEGER (cents, centered day offsets), so the
partial-aggregate combine order can't perturb a single bit, and the
only floating point is one final division evaluated identically by
Spark and DuckDB. That is also the 100 TB posture — integer sums are
combinable partials with no ULP drift across 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

_X_EPOCH = "1995-01-01"  # x centered here to keep n*Sxy inside int64/decimal


@register(
    "agg_regression",
    oracle=f"""
    WITH s AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(x * x) AS HUGEINT) AS sxx,
               CAST(sum(x * y) AS HUGEINT) AS sxy
        FROM (SELECT o_orderpriority,
                     datediff('day', DATE '{_X_EPOCH}',
                              CAST(o_orderdate AS DATE)) AS x,
                     CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
              FROM orders)
        GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           floor(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000 + 0.5)
               / 1000000 AS slope_cents_per_day,
           floor((CAST(sy AS DOUBLE)
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) * 100 + 0.5)
               / 100 AS intercept_cents
    FROM s
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS fit (order price trend per priority class) from
    the five classic sufficient statistics — n, Σx, Σy, Σxx, Σxy — as
    EXACT integer sums (x = days since {_X_EPOCH}, y = price cents),
    carried in decimal(38,0) so n·Σxy (~1e20 at sf1) cannot overflow
    or round. slope = (nΣxy − ΣxΣy)/(nΣxx − Σx²) evaluated in one
    deterministic double division at the end.

    This is the mergeable-partials pattern for ANY moment-based
    statistic: the five sums combine associatively across partitions
    (one map-side-combinable shuffle), unlike a fit on gathered rows.
    Spark's regr_slope/regr_intercept exist but accumulate doubles —
    order-dependent ULPs — which is why the exact-sum form is both the
    scale answer and the hash-stable one."""
    o = t(spark, sf_dir, "orders")
    d38 = "decimal(38,0)"
    x = F.datediff(F.col("o_orderdate").cast("date"), F.lit(_X_EPOCH).cast("date"))
    y = half_up(F.col("o_totalprice") * 100)
    s = (
        o.select("o_orderpriority", x.alias("x"), y.alias("y"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").cast(d38).alias("sx"),
            F.sum("y").cast(d38).alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast(d38).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast(d38).alias("sxy"),
        )
    )
    n38 = F.col("n").cast(d38)
    numer = (n38 * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denom = (n38 * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = numer / denom
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return s.select(
        "o_orderpriority",
        "n",
        round_dp(slope, 6).alias("slope_cents_per_day"),
        round_dp(intercept, 2).alias("intercept_cents"),
    )


_COHORT_EPOCH = "2024-01-01"  # events span 2024-01; weeks = 7-day buckets


@register(
    "agg_retention_cohort",
    oracle=f"""
    WITH um AS (
        SELECT DISTINCT user_id,
               CAST(datediff('day', DATE '{_COHORT_EPOCH}', CAST(ts AS DATE))
                    // 7 AS INTEGER) AS w
        FROM events
    ),
    c AS (SELECT user_id, min(w) AS cw FROM um GROUP BY user_id)
    SELECT cw AS cohort_week, CAST(w - cw AS INTEGER) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM um JOIN c USING (user_id)
    GROUP BY 1, 2
    """,
)
def agg_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-activity week,
    counted in each later week they return. The product-analytics
    staple (and a genuinely multi-stage plan: distinct -> min -> join
    -> count). Weekly 7-day buckets from a fixed epoch because the
    events fixture spans one month — the bucket arithmetic is pure
    integer (no date_trunc week-start or months_between semantics to
    disagree on).

    Scale shape: (user, week) distinct and the per-user min both
    shuffle on user_id, so AQE coalesces them into co-partitioned
    stages with no extra exchange for the join; the final count(*)
    needs no distinct because (user, week) was already deduped."""
    ev = t(spark, sf_dir, "events")
    w = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit(_COHORT_EPOCH).cast("date"))
        / 7
    ).cast("int")
    um = ev.select("user_id", w.alias("w")).distinct()
    c = um.groupBy("user_id").agg(F.min("w").alias("cw"))
    return (
        um.join(c, "user_id")
        .groupBy(
            F.col("cw").alias("cohort_week"),
            (F.col("w") - F.col("cw")).cast("int").alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "win_moving_regression",
    oracle=f"""
    WITH base AS (
        SELECT o_custkey, o_orderkey,
               datediff('day', DATE '{_X_EPOCH}',
                        CAST(o_orderdate AS DATE)) AS x,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
        FROM orders
    ), w AS (
        SELECT o_custkey, o_orderkey,
               CAST(count(*) OVER win AS BIGINT)  AS n,
               sum(x)     OVER win AS sx,
               sum(y)     OVER win AS sy,
               sum(x * x) OVER win AS sxx,
               sum(x * y) OVER win AS sxy
        FROM base
        WINDOW win AS (PARTITION BY o_custkey
                       ORDER BY x, o_orderkey
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT o_custkey, o_orderkey, n AS n_window,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE floor(CAST(n * sxy - sx * sy AS DOUBLE)
                           / CAST(n * sxx - sx * sx AS DOUBLE)
                           * 1000000 + 0.5) / 1000000
           END AS slope_cents_per_day
    FROM w
    """,
)
def win_moving_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling per-customer OLS price trend over the trailing 7 orders.

    The moving-regression trick: all five OLS sufficient statistics are
    WINDOW SUMS over the same ROWS frame, so the whole fit is one
    window pass of integer arithmetic (exact, merge-order-free) plus a
    final double division — no self-join against the trailing rows, no
    UDAF. One shuffle on o_custkey; the frame is bounded so state per
    row is O(1). The same five-sums shape computes rolling variance,
    covariance, and beta at 100 TB.
    """
    o = t(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit(_X_EPOCH).cast("date")
        ).alias("x"),
        half_up(F.col("o_totalprice") * 100).alias("y"),
    )
    win = (
        Window.partitionBy("o_custkey")
        .orderBy("x", "o_orderkey")
        .rowsBetween(-6, 0)
    )
    x, y = F.col("x"), F.col("y")
    w = base.select(
        "o_custkey",
        "o_orderkey",
        F.count("*").over(win).alias("n"),
        F.sum(x).over(win).alias("sx"),
        F.sum(y).over(win).alias("sy"),
        F.sum(x * x).over(win).alias("sxx"),
        F.sum(x * y).over(win).alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    den = n * sxx - sx * sx
    slope = (n * sxy - sx * sy).cast("double") / den.cast("double")
    return w.select(
        "o_custkey",
        "o_orderkey",
        n.alias("n_window"),
        F.when(den != 0, round_dp(slope, 6)).alias("slope_cents_per_day"),
    )


@register(
    "win_rolling_median",
    oracle=f"""
    WITH base AS (
        SELECT o_custkey, o_orderkey,
               datediff('day', DATE '{_X_EPOCH}',
                        CAST(o_orderdate AS DATE)) AS x,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
        FROM orders
    )
    SELECT o_custkey, o_orderkey,
           floor(median(CAST(y AS DOUBLE))
                     OVER (PARTITION BY o_custkey ORDER BY x, o_orderkey
                           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                 * 100 + 0.5) / 100 AS med_cents
    FROM base
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median order price over the trailing 7 orders — the
    robust twin of win_moving_regression's mean-based trend (outlier
    orders don't drag it).

    Spark evaluates `percentile(.., 0.5)` as a window aggregate over
    the bounded ROWS frame: O(frame) work per row, no self-join, no
    UDF. Both engines interpolate the even-count middle (DuckDB
    `median` interpolates even on integer input, returning DOUBLE —
    median{1,2} = 1.5; the explicit DOUBLE cast on both sides is a
    belt-and-suspenders type pin, not a semantics change).
    """
    o = t(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit(_X_EPOCH).cast("date")
        ).alias("x"),
        half_up(F.col("o_totalprice") * 100).alias("y"),
    )
    win = (
        Window.partitionBy("o_custkey")
        .orderBy("x", "o_orderkey")
        .rowsBetween(-6, 0)
    )
    med = F.expr("percentile(CAST(y AS DOUBLE), 0.5)").over(win)
    return base.select(
        "o_custkey",
        "o_orderkey",
        round_dp(med, 2).alias("med_cents"),
    )


@register(
    "agg_entropy",
    oracle="""
    WITH per AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(sum(n) AS BIGINT) AS n_events,
           floor((log2(CAST(sum(n) AS DOUBLE))
                  - sum(n * log2(CAST(n AS DOUBLE)))
                    / CAST(sum(n) AS DOUBLE)) * 1000000 + 0.5)
               / 1000000 AS entropy_bits
    FROM per GROUP BY user_id
    """,
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy (bits) of the event-type mix — the
    behavioral-diversity / bot-detection screener (entropy ~0 = a
    single repeated action).

    Uses the merge-friendly identity H = log2(N) − Σ n·log2(n) / N
    over INTEGER counts: both shuffles (user×type, then user) carry
    combinable sums only, and the single non-associative float step is
    the final projection — same exactness discipline as agg_regression.
    """
    ev = t(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    n = F.col("n")
    agg = per.groupBy("user_id").agg(
        F.sum(n).alias("N"),
        F.sum(n * F.log2(n.cast("double"))).alias("nlogn"),
    )
    ent = F.log2(F.col("N").cast("double")) - F.col("nlogn") / F.col("N").cast(
        "double"
    )
    return agg.select(
        "user_id",
        F.col("N").cast("long").alias("n_events"),
        round_dp(ent, 6).alias("entropy_bits"),
    )


_PR_ITERS = 3
_PR_DAMP = 0.85


@register(
    "graph_pagerank_iter",
    oracle=f"""
    WITH eraw AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), edges AS (
        SELECT s AS src, p + 1000000 AS dst FROM eraw
        UNION ALL
        SELECT p + 1000000 AS src, s AS dst FROM eraw
    ), deg AS (
        SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src
    ), r0 AS (
        SELECT src AS node, 1.0 AS r FROM deg
    ), r1 AS (
        SELECT e.dst AS node,
               {1 - _PR_DAMP} + {_PR_DAMP} * sum(r0.r / deg.d) AS r
        FROM edges e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
        GROUP BY e.dst
    ), r2 AS (
        SELECT e.dst AS node,
               {1 - _PR_DAMP} + {_PR_DAMP} * sum(r1.r / deg.d) AS r
        FROM edges e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
        GROUP BY e.dst
    ), r3 AS (
        SELECT e.dst AS node,
               {1 - _PR_DAMP} + {_PR_DAMP} * sum(r2.r / deg.d) AS r
        FROM edges e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
        GROUP BY e.dst
    )
    SELECT node, floor(r * 10000 + 0.5) / 10000 AS rank
    FROM r3
    """,
)
def graph_pagerank_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier<->part co-occurrence graph, unrolled
    {_PR_ITERS} power iterations — the canonical iterative join+agg
    Spark workload (same shape as label propagation / HITS / SimRank).

    Edges are symmetrized with part ids offset into a disjoint id
    space. Each iteration is edges ⋈ ranks (shuffle on src) then a
    combinable sum per dst — the contribution sum merges
    associatively, so 1000 executors aggregate partials tree-wise.
    For a bounded unroll the lineage stays a static DAG (no
    checkpoint needed); dedup_clusters_cc shows the checkpoint-per-
    round variant for unbounded iteration. Every join key is an
    integer; AQE handles the skewed high-degree nodes.

    Hash-stability caveat: the per-iteration sum(r/d) is a floating
    aggregate whose partial-merge order varies with partitioning, so
    the result is rounded at 1e-4 (coarse enough that ULP-level
    accumulation drift cannot flip a rounded digit; measured drift is
    <1e-12 at sf0.01). If a driver-grade flake ever appears here,
    suspect a rank landing exactly on a rounding boundary — not a
    logic bug.
    """
    li = t(spark, sf_dir, "lineitem")
    # localCheckpoint (r12): eraw feeds the symmetrizing union TWICE,
    # and through it deg + the three unrolled iterations — six
    # consumers of the same distinct subtree. AQE's ReusedExchange
    # dedups the shuffle WRITE but every consumer still re-runs the
    # reduce-side distinct aggregation; materializing the ~|E| two-long
    # frame runs it once. Interleaved same-JVM A/B at sf0.1 (5 pairs):
    # 3.18 -> 2.58 s warm-min, checkpoint side won all 5 pairs. (The
    # r5-era note below about localCheckpoint LOSING applied to the
    # fatter edges-join-deg frame, whose blocking materialization cost
    # more than it saved; the narrow eraw frame is the cheap one.)
    eraw = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct().localCheckpoint()
    edges = eraw.select(
        F.col("s").alias("src"), (F.col("p") + 1000000).alias("dst")
    ).unionAll(
        eraw.select(
            (F.col("p") + 1000000).alias("src"), F.col("s").alias("dst")
        )
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    # contributions always divide by the SOURCE's degree => pre-join
    # degree once; AQE's shuffle-stage reuse serves the repeated
    # subtree across the unrolled iterations (measured 2x faster than
    # an eager localCheckpoint here — checkpoint pays a blocking
    # materialization this bounded unroll doesn't need; the UNBOUNDED
    # iteration in dedup_clusters_cc is where checkpointing wins).
    ed = edges.join(deg, "src")
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0).alias("r"))
    for _ in range(_PR_ITERS):
        ranks = (
            ed.join(ranks, ed.src == ranks.node)
            .groupBy(F.col("dst"))
            .agg(
                (
                    F.lit(1 - _PR_DAMP)
                    + F.lit(_PR_DAMP) * F.sum(F.col("r") / F.col("d"))
                ).alias("r")
            )
            .select(F.col("dst").alias("node"), "r")
        )
    return ranks.select("node", round_dp(F.col("r"), 4).alias("rank"))


@register(
    "agg_time_to_convert",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS first_purchase
        FROM events GROUP BY user_id
    ), lat AS (
        SELECT user_id,
               date_diff('second', first_click, first_purchase) AS sec
        FROM firsts
        WHERE first_click IS NOT NULL AND first_purchase IS NOT NULL
          AND first_purchase >= first_click
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           CAST(floor(quantile_cont(CAST(sec AS DOUBLE), 0.5)) AS BIGINT)
               AS p50_sec,
           CAST(floor(quantile_cont(CAST(sec AS DOUBLE), 0.9)) AS BIGINT)
               AS p90_sec,
           CAST(max(sec) AS BIGINT) AS max_sec
    FROM lat
    """,
)
def agg_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: per user, first click ->
    first purchase elapsed seconds, reported as exact p50/p90/max.

    One conditional-min aggregate computes both anchor timestamps in
    a single pass (no self-join of the events table against itself),
    then the percentile runs over the tiny per-user latency frame —
    at 100 TB the heavy input collapses to |users| rows before any
    non-combinable work. Both engines interpolate percentiles on
    DOUBLE and the result is floored to whole seconds, so the hash
    can't wobble on interpolation ULPs.
    """
    ev = t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).alias("first_click"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    lat = firsts.filter(
        F.col("first_click").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_click"))
    ).select(
        (
            F.unix_timestamp("first_purchase") - F.unix_timestamp("first_click")
        ).alias("sec")
    )
    return lat.agg(
        F.count("*").cast("long").alias("n_converted"),
        F.floor(F.expr("percentile(CAST(sec AS DOUBLE), 0.5)"))
        .cast("long")
        .alias("p50_sec"),
        F.floor(F.expr("percentile(CAST(sec AS DOUBLE), 0.9)"))
        .cast("long")
        .alias("p90_sec"),
        F.max("sec").cast("long").alias("max_sec"),
    )


@register(
    "agg_gini",
    oracle="""
    WITH cents AS (
        SELECT o_custkey % 100 AS seg,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y,
               o_orderkey
        FROM orders
    ), ranked AS (
        SELECT seg, y,
               row_number() OVER (PARTITION BY seg ORDER BY y, o_orderkey)
                   AS rnk
        FROM cents
    ), s AS (
        SELECT seg,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(rnk * y) AS HUGEINT) AS sry
        FROM ranked GROUP BY seg
    )
    SELECT seg, n,
           floor((2.0 * CAST(sry AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(sy AS DOUBLE))
                  - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS gini
    FROM s
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Gini coefficient of order-value concentration —
    the inequality metric behind "do 20% of customers drive 80% of
    revenue" dashboards.

    Uses the rank-sum identity G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    integer cents with a total tiebreak order, so the only float work
    is the final projection: one window pass for ranks (shuffle on
    segment), one combinable agg for the three sums — exact and
    hash-stable at any executor count. The rnk·y operands are cast to
    decimal(38,0) BEFORE summing so the aggregate itself accumulates
    in decimal (Spark sum(long) would accumulate in int64 and can wrap
    at 100 TB group sizes; DuckDB's sum(BIGINT) → HUGEINT never does).
    """
    o = t(spark, sf_dir, "orders")
    cents = o.select(
        (F.col("o_custkey") % 100).alias("seg"),
        half_up(F.col("o_totalprice") * 100).alias("y"),
        "o_orderkey",
    )
    w = Window.partitionBy("seg").orderBy("y", "o_orderkey")
    ranked = cents.withColumn("rnk", F.row_number().over(w))
    d38 = "decimal(38,0)"
    s = ranked.groupBy("seg").agg(
        F.count("*").alias("n"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("rnk").cast("long") * F.col("y")).cast(d38)).alias("sry"),
    )
    nd = F.col("n").cast("double")
    gini = (
        2.0 * F.col("sry").cast("double") / (nd * F.col("sy").cast("double"))
        - (nd + 1.0) / nd
    )
    return s.select(
        "seg",
        "n",
        round_dp(gini, 6).alias("gini"),
    )
