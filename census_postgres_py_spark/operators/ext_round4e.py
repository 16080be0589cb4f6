"""Round-4e extension operators (SURVEY.md §2.19).

Final round-4 widening pass — incremental-warehouse and ops-signal
reads: mergeable partial-aggregate state (the pattern that makes a
warehouse incremental instead of recompute-the-world), local-peak
detection over the daily activity series, and the inter-purchase-gap
read behind replenishment/repurchase models.

Contract discipline identical to the other extension modules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import cents
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t


# ---------------------------------------------------------------------------
# agg_state_merge — mergeable partial-aggregate state
# ---------------------------------------------------------------------------


@register(
    "agg_state_merge",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS min_cents,
           CAST(max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS max_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable partial-aggregate state: the orders fact is split into
    two "ingest batches" (orderdate before/after 1998-01-01), each
    batch is reduced to a per-key STATE frame (count, sum, min, max —
    all associative+commutative), and the states are merged and
    finalized WITHOUT touching the raw rows again. This is the
    incremental-warehouse pattern: yesterday's state + today's batch =
    today's report, O(|batch|) not O(|history|).

    The oracle is the direct one-shot aggregate over all rows — the
    merge is correct iff it reproduces it exactly, which the
    all-integer accumulators guarantee at any partition/merge order.
    Scale shape: both branch aggregations are combinable, the state
    frames are |keys| rows, and the merge shuffles only states.
    """
    orders = t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderdate",
        cents(F.col("o_totalprice")).alias("cents"),
    )
    split = F.lit("1998-01-01").cast("timestamp")

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.min("cents").cast("long").alias("min_cents"),
            F.max("cents").cast("long").alias("max_cents"),
        )

    s1 = state(orders.filter(F.col("o_orderdate") < split))
    s2 = state(orders.filter(F.col("o_orderdate") >= split))
    return (
        s1.unionByName(s2)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("sum_cents").cast("long").alias("sum_cents"),
            F.min("min_cents").cast("long").alias("min_cents"),
            F.max("max_cents").cast("long").alias("max_cents"),
        )
    )


# ---------------------------------------------------------------------------
# win_peak_detection — local maxima in the daily series
# ---------------------------------------------------------------------------


@register(
    "win_peak_detection",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS d, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ), nbr AS (
        SELECT d, n,
               lag(n)  OVER (ORDER BY d) AS prv,
               lead(n) OVER (ORDER BY d) AS nxt
        FROM daily
    )
    SELECT epoch_ms(CAST(d AS TIMESTAMP)) AS day_ms, n AS n_events,
           prv AS prev_events, nxt AS next_events
    FROM nbr
    WHERE prv IS NOT NULL AND nxt IS NOT NULL
      AND n > prv AND n > nxt
    """,
)
def win_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection over the daily event-count series: days
    whose count strictly exceeds both neighbors — the ops-alerting
    primitive behind "traffic spiked on the 14th" annotations.

    The raw log collapses to O(calendar) daily rows first (combinable
    count, one shuffle); lag/lead then run over that aggregated frame
    — the same "reduce before you window" shape as win_period_growth,
    so the unpartitioned window is a non-issue. Series endpoints are
    excluded (a boundary day has only one neighbor — calling it a peak
    would be unfalsifiable). Strict integer comparisons; plateaus are
    not peaks on either engine.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count("*").cast("long").alias("n")
    )
    w = Window.orderBy("d")
    nbr = daily.select(
        "d",
        "n",
        F.lag("n").over(w).alias("prv"),
        F.lead("n").over(w).alias("nxt"),
    )
    return nbr.filter(
        F.col("prv").isNotNull()
        & F.col("nxt").isNotNull()
        & (F.col("n") > F.col("prv"))
        & (F.col("n") > F.col("nxt"))
    ).select(
        F.unix_millis("d").alias("day_ms"),
        F.col("n").alias("n_events"),
        F.col("prv").alias("prev_events"),
        F.col("nxt").alias("next_events"),
    )


# ---------------------------------------------------------------------------
# agg_interpurchase_gap — repurchase-interval analysis
# ---------------------------------------------------------------------------


@register(
    "agg_interpurchase_gap",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               date_diff('day',
                   lag(o_orderdate) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS gap_days
        FROM orders
    ), cg AS (
        SELECT o_custkey, gap_days FROM gaps WHERE gap_days IS NOT NULL
    ), seg AS (
        SELECT c.c_mktsegment, cg.gap_days
        FROM cg JOIN customer c ON cg.o_custkey = c.c_custkey
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(floor(CAST(sum(gap_days) AS DOUBLE) * 1000 / count(*)
                + 0.5) AS BIGINT) AS avg_gap_millidays,
           CAST(min(gap_days) AS BIGINT) AS min_gap_days,
           CAST(max(gap_days) AS BIGINT) AS max_gap_days
    FROM seg
    GROUP BY c_mktsegment
    """,
)
def agg_interpurchase_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase gap analysis: days between a customer's
    consecutive orders, rolled up per market segment (count, mean in
    exact milli-days, min, max) — the input to every replenishment /
    repurchase-propensity model.

    Scale shape: the lag window partitions by customer (many small
    frames, one shuffle on custkey, total (orderdate, orderkey)
    tiebreak order); the segment join reuses the custkey partitioning
    against the customer dim (co-partitioned at scale — customer is
    NOT broadcast-sized at 100 TB); the rollup is combinable with an
    integer day-sum, so the mean is an exact rational rendered in
    milli-days.
    """
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias(
            "gap_days"
        ),
    ).filter(F.col("gap_days").isNotNull())
    seg = gaps.join(cust, gaps.o_custkey == cust.c_custkey)
    return seg.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.floor(
            F.sum("gap_days").cast("double") * F.lit(1000) / F.count("*")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("avg_gap_millidays"),
        F.min("gap_days").cast("long").alias("min_gap_days"),
        F.max("gap_days").cast("long").alias("max_gap_days"),
    )


# ---------------------------------------------------------------------------
# text_pack_sequences — pretraining sequence packing (concat-and-chunk)
# ---------------------------------------------------------------------------


@register(
    "text_pack_sequences",
    oracle="""
    WITH d AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ), packed AS (
        SELECT doc_id, source, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
                    ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum_before
        FROM d
    )
    SELECT doc_id, source, n_tokens,
           CAST(cum_before // 512 AS BIGINT) AS bin_id,
           CAST(cum_before % 512 AS BIGINT) AS offset_in_bin
    FROM packed
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (the pretraining "concat-and-chunk" step):
    documents are laid end-to-end per source in deterministic doc_id
    order, and each doc gets the 512-token training-bin id and offset
    where it starts — documents straddle bin boundaries exactly as
    the concat-then-chunk tokenizer pipeline does. The (bin_id,
    offset) assignment is what a batch-collation job shards on.

    One running-sum window per source (a single shuffle; frames are
    per-source, never global). All-integer arithmetic — the packing is
    reproducible at any executor count, which is the property that
    makes distributed tokenization restartable. At 100 TB the
    partition key becomes (source, date-shard) to bound frame length;
    the assignment arithmetic is unchanged.
    """
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(F.filter(F.split("text", " "), lambda x: x != ""))
        .cast("long")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = toks.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    return packed.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(F.col("cum_before") / 512).cast("long").alias("bin_id"),
        (F.col("cum_before") % 512).cast("long").alias("offset_in_bin"),
    )
