"""Window functions (SURVEY.md §2.5 — all mandated extensions; the
reference delegates analytics to Postgres [PK]).

Every window here partitions by a key (customer / user): one shuffle
on the partition key, per-partition sort, streamed frame evaluation.
At 100 TB the concern is partition-key skew — a single giant user
serializes — which AQE can't fix for windows; the mitigation is
pre-bucketing on the key or splitting hot keys upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import gated_broadcast, t


@register(
    "win_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
           CAST(rank() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC) AS BIGINT) AS rnk
    FROM orders
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking within partition; row_number carries a total tiebreak
    so the assignment is deterministic."""
    o = t(spark, sf_dir, "orders")
    w_rn = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_rk = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w_rn).cast("long").alias("rn"),
        F.rank().over(w_rk).cast("long").alias("rnk"),
    )


@register(
    "win_topk_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def win_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k = rank + filter. Catalyst 4.x rewrites this to
    a per-partition top-k (WindowGroupLimit) before the shuffle, so
    only k rows per group per partition move."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
    FROM events
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics: inter-event gap per user."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis("ts")
    return ev.select(
        "event_id",
        "user_id",
        (ms - F.lag(ms).over(w)).alias("gap_ms"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "win_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_spend
    FROM orders
    """,
)
def win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) frame aggregate per customer."""
    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@register(
    "win_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           floor(avg(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
               RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
                 * 100 + 0.5) / 100 AS trailing_avg_7d
    FROM orders
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame on epoch seconds: 7-day trailing average of order
    totals per customer (value-based frame, not row-based).

    o_orderdate is TIMESTAMP_NTZ from parquet, which Spark 4 refuses to
    cast to BIGINT directly — epoch seconds are derived via
    ``unix_micros(cast(... as timestamp))`` (session tz is UTC, so this
    equals DuckDB's ``epoch()``)."""
    o = t(spark, sf_dir, "orders").withColumn(
        "epoch_s", F.expr("unix_micros(cast(o_orderdate as timestamp)) div 1000000")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("epoch_s")
        .rangeBetween(-7 * 86400, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        round_dp(F.avg("o_totalprice").over(w), 2).alias("trailing_avg_7d"),
    )


@register(
    "win_funnel_steps",
    oracle="""
    WITH base AS (
        SELECT user_id, event_type, ts, event_id FROM events
        WHERE ts < TIMESTAMP '2024-01-04'
    ), s1 AS (
        SELECT user_id, event_type, ts, event_id,
               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   OVER w AS seen_view
        FROM base
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), s2 AS (
        SELECT *, max(CASE WHEN event_type = 'click' AND seen_view = 1
                           THEN 1 ELSE 0 END) OVER w AS seen_click
        FROM s1
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), s3 AS (
        SELECT *, max(CASE WHEN event_type = 'purchase' AND seen_click = 1
                           THEN 1 ELSE 0 END) OVER w AS seen_purchase,
                  CASE WHEN event_type = 'purchase' AND seen_click = 1
                       THEN epoch_ms(ts) END AS conv_ms
        FROM s2
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id,
           CAST(max(seen_view) AS BIGINT) AS reached_view,
           CAST(max(seen_click) AS BIGINT) AS reached_click,
           CAST(max(seen_purchase) AS BIGINT) AS reached_purchase,
           min(conv_ms) AS first_conversion_ms
    FROM s3 GROUP BY user_id
    """,
)
def win_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel (MATCH_RECOGNIZE-lite): per user, did a
    view → click → purchase sequence occur IN ORDER, and when did the
    first in-order purchase land.

    The pattern state machine is expressed as three chained running-max
    windows over the same (user, ts) order: ``seen_view`` flips to 1 at
    the first view, ``seen_click`` only counts clicks after that flip,
    ``seen_purchase`` only purchases after a qualifying click. All
    three windows share one partitioning+sort, so the whole funnel is
    ONE shuffle + one per-partition sort regardless of pattern depth —
    the idiomatic Spark answer to MATCH_RECOGNIZE (which Spark lacks).
    Restricted to the first 3 days so not every user converts (the
    predicate reaches the parquet scan as a pushed filter).
    """
    ev = t(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-04").cast("timestamp")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_ = lambda kind: F.col("event_type") == kind  # noqa: E731
    s1 = ev.withColumn(
        "seen_view", F.max(F.when(is_("view"), 1).otherwise(0)).over(w)
    )
    s2 = s1.withColumn(
        "seen_click",
        F.max(
            F.when(is_("click") & (F.col("seen_view") == 1), 1).otherwise(0)
        ).over(w),
    )
    s3 = s2.withColumn(
        "seen_purchase",
        F.max(
            F.when(is_("purchase") & (F.col("seen_click") == 1), 1).otherwise(0)
        ).over(w),
    ).withColumn(
        "conv_ms",
        F.when(
            is_("purchase") & (F.col("seen_click") == 1), F.unix_millis("ts")
        ),
    )
    return s3.groupBy("user_id").agg(
        F.max("seen_view").cast("long").alias("reached_view"),
        F.max("seen_click").cast("long").alias("reached_click"),
        F.max("seen_purchase").cast("long").alias("reached_purchase"),
        F.min("conv_ms").alias("first_conversion_ms"),
    )


@register(
    "win_gap_islands",
    oracle="""
    WITH m AS (
        SELECT DISTINCT o_custkey,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
                   AS midx
        FROM orders
    ), i AS (
        SELECT o_custkey, midx,
               midx - row_number() OVER (PARTITION BY o_custkey
                                         ORDER BY midx) AS island
        FROM m
    )
    SELECT o_custkey,
           CAST(min(midx) AS BIGINT) AS streak_start,
           CAST(count(*) AS BIGINT) AS streak_len
    FROM i GROUP BY o_custkey, island
    """,
)
def win_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active months per
    customer (streak detection), via the classic ``value - row_number``
    dense-grouping idiom — a run of consecutive month indexes maps to a
    constant island id, so streaks fall out of one groupBy.

    Distinct-months, the window, and the island groupBy all shuffle on
    the same key (custkey), so at 100 TB this is one repartition
    reused across stages; no self-join and no per-row state beyond the
    sort. (stream_session covers the *time-gap* variant; this is the
    *integer-gap* variant used for retention/streak analytics.)
    """
    o = t(spark, sf_dir, "orders")
    m = (
        o.select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("midx"),
        )
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("midx")
    i = m.withColumn("island", F.col("midx") - F.row_number().over(w))
    return (
        i.groupBy("o_custkey", "island")
        .agg(
            F.min("midx").alias("streak_start"),
            F.count("*").alias("streak_len"),
        )
        .select("o_custkey", "streak_start", "streak_len")
    )


@register(
    "win_ntile_distribution",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal, c_custkey)
    """,
)
def win_ntile_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows — ntile / percent_rank / cume_dist — per
    nation partition.

    ``percent_rank`` and ``cume_dist`` are exact rank ratios, so with a
    total in-partition order (acctbal, custkey tiebreak) the doubles
    are bit-identical across engines — no rounding idiom needed.
    Partitioned windows parallelize per key at any scale; a *global*
    ORDER BY window would serialize onto one task, which is exactly
    what this shape avoids at 100 TB (use range-partitioned sort +
    per-partition offsets if a global quantile id is truly required).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "win_running_distinct",
    oracle="""
    SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS distinct_types_to_date
    FROM (
        SELECT user_id, event_id, ts,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    )
    """,
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) per user — "how many distinct event
    types has this user touched as of each event" — which no engine's
    window frames support directly.

    The scalable idiom: a first-occurrence flag (row_number == 1 within
    (user, type)) turns the distinct count into a running SUM of a
    0/1 column — O(1) state per row, streamed. The naive alternative,
    `size(collect_set() over ...)`, re-materializes the set per row and
    is O(k) memory x rows; at 100 TB it OOMs on any high-cardinality
    user. Two shuffles (the two window keys), both on user-prefixed
    keys.
    """
    ev = t(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            (F.row_number().over(w_first) == 1).cast("int").alias("first"),
        )
        .select(
            "user_id",
            "event_id",
            F.unix_millis("ts").alias("ts_ms"),
            F.sum("first").over(w_run).cast("long").alias(
                "distinct_types_to_date"
            ),
        )
    )


@register(
    "win_share_of_total",
    oracle="""
    SELECT c_mktsegment,
           floor(seg_rev * 100 + 0.5) / 100 AS segment_revenue,
           floor(seg_rev / sum(seg_rev) OVER () * 1000000 + 0.5) / 1000000
               AS revenue_share
    FROM (
        SELECT c_mktsegment, sum(o_totalprice) AS seg_rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    )
    """,
)
def win_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total (ratio_to_report): each segment's revenue as a
    fraction of the grand total, via an UNPARTITIONED window over the
    already-aggregated frame. The window runs over 5 rows, not 150k —
    aggregate first, window after is the order that survives scale;
    windowing the raw fact table for a grand total would serialize it
    through one partition.
    """
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = (
        o.join(gated_broadcast(spark, sf_dir, "customer", c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.sum("o_totalprice").alias("seg_rev"))
    )
    w = Window.partitionBy()
    return seg.select(
        "c_mktsegment",
        round_dp(F.col("seg_rev"), 2).alias("segment_revenue"),
        round_dp(
            F.col("seg_rev") / F.sum("seg_rev").over(w), 6
        ).alias("revenue_share"),
    )


@register(
    "win_value_fns",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_price,
           nth_value(o_totalprice, 2) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_value_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional window values (first/last/nth): each order annotated
    with its customer's first, latest, and second order price. The
    classic trap is in the oracle on purpose: `last_value` over the
    DEFAULT frame (unbounded..current) returns the CURRENT row, so
    last/nth need an explicit unbounded-following frame — same rule in
    Spark, DuckDB, and every ANSI engine.
    """
    o = t(spark, sf_dir, "orders")
    w_def = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w_def.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w_def).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w_full).alias("second_price"),
    )


@register(
    "win_range_interval",
    oracle="""
    SELECT o_custkey, o_orderkey,
           floor(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
               * 100 + 0.5) / 100 AS trailing_30d
    FROM orders
    """,
)
def win_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval RANGE frame — `RANGE BETWEEN INTERVAL 30 DAY
    PRECEDING` directly over the timestamp ordering column, the form
    win_range_frame emulates with epoch-second arithmetic (the
    DataFrame API's rangeBetween is numeric-only; the SQL surface
    takes true intervals). RANGE frames make ties-by-date share a
    frame, which ROWS frames can't express.
    """
    from census_postgres_py_spark.tables import register_views

    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey,
               floor(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
                   * 100 + 0.5) / 100 AS trailing_30d
        FROM orders
        """
    )


_CHANNELS = "['ads','email','organic','social']"  # DuckDB literal list


@register(
    "win_attribution_last_touch",
    oracle=f"""
    WITH tagged AS (
        SELECT event_id, user_id, ts, event_type,
               CASE WHEN event_type = 'click'
                    THEN ({_CHANNELS})[
                        CAST(json_extract(props, '$.k') AS BIGINT) % 4 + 1]
                    END AS channel
        FROM events
    ), attributed AS (
        SELECT event_id, user_id, event_type,
               last_value(channel IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS attr_channel
        FROM tagged
    )
    SELECT event_id, user_id,
           coalesce(attr_channel, 'none') AS attr_channel
    FROM attributed WHERE event_type = 'purchase'
    """,
)
def win_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to
    the channel of the most recent PRECEDING click by the same user
    ('none' when no click came first).

    The running last-non-null is `last(channel, ignorenulls=True)`
    over an unbounded-preceding frame — O(1) state per row in one
    window pass, the same shape at any history length. Channel derives
    from the click's JSON payload (`get_json_object` -> modular pick),
    so extraction, sessionless attribution, and the null-gap semantics
    are all exercised JVM-side. The funnel twin (win_funnel_steps)
    counts conversions; this op answers WHO gets credit.
    """
    ev = t(spark, sf_dir, "events")
    channels = F.array(
        F.lit("ads"), F.lit("email"), F.lit("organic"), F.lit("social")
    )
    k = F.get_json_object("props", "$.k").cast("long")
    tagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(
            F.col("event_type") == "click",
            F.element_at(channels, (k % 4 + 1).cast("int")),
        ).alias("channel"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    attributed = tagged.withColumn(
        "attr_channel", F.last("channel", ignorenulls=True).over(w)
    )
    return attributed.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.coalesce("attr_channel", F.lit("none")).alias("attr_channel"),
    )
