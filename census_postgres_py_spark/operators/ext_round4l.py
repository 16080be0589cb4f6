"""Round-4l extension operators (SURVEY.md §2.26).

Completeness-and-aging reads: ID-sequence gap detection in the
bucketed two-level shape that actually scales (the naive form is one
global window — a single task at 100 TB), and open-order aging
buckets (the operations report behind backlog management).

Contract discipline identical to the other extension modules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

_BUCKET = 1024


@register(
    "dq_sequence_gaps",
    oracle="""
    WITH present AS (
        SELECT event_id AS id FROM events WHERE event_id % 97 <> 0
    ), lagged AS (
        SELECT id, lag(id) OVER (ORDER BY id) AS prev FROM present
    )
    SELECT prev + 1 AS gap_start, id - 1 AS gap_end,
           CAST(id - prev - 1 AS BIGINT) AS n_missing
    FROM lagged
    WHERE prev IS NOT NULL AND id - prev > 1
    """,
)
def dq_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID-sequence gap detection — the ingest-completeness audit
    ("which event ids never arrived?"). The fixture's id space is
    dense, so gaps are injected by dropping every 97th id; the report
    lists each missing range exactly.

    The textbook formulation is ONE lag() over the globally-ordered id
    column — a single task over the whole table, the canonical
    unscalable window. This implementation is the two-level shape that
    holds at 100 TB: ids hash-partition into fixed 1024-wide buckets;
    INTRA-bucket gaps come from a lag window PARTITIONED by bucket
    (embarrassingly parallel, frames of ≤1024 rows); CROSS-bucket
    junction gaps come from a lag over the per-bucket (min, max)
    aggregate — an O(n/1024) frame. The union is exactly the global
    answer (every adjacent id pair is either intra-bucket or a
    junction between consecutive non-empty buckets), which the
    single-window oracle states directly.
    """
    present = (
        t(spark, sf_dir, "events")
        .select(F.col("event_id").alias("id"))
        .filter(F.col("id") % 97 != 0)
    )
    bucketed = present.withColumn("bkt", F.floor(F.col("id") / _BUCKET))
    w_in = Window.partitionBy("bkt").orderBy("id")
    intra = (
        bucketed.withColumn("prev", F.lag("id").over(w_in))
        .filter(F.col("prev").isNotNull() & (F.col("id") - F.col("prev") > 1))
        .select(
            (F.col("prev") + 1).alias("gap_start"),
            (F.col("id") - 1).alias("gap_end"),
            (F.col("id") - F.col("prev") - 1).cast("long").alias("n_missing"),
        )
    )
    per_bucket = bucketed.groupBy("bkt").agg(
        F.min("id").alias("mn"), F.max("id").alias("mx")
    )
    w_b = Window.orderBy("bkt")
    boundary = (
        per_bucket.withColumn("prev_mx", F.lag("mx").over(w_b))
        .filter(
            F.col("prev_mx").isNotNull() & (F.col("mn") - F.col("prev_mx") > 1)
        )
        .select(
            (F.col("prev_mx") + 1).alias("gap_start"),
            (F.col("mn") - 1).alias("gap_end"),
            (F.col("mn") - F.col("prev_mx") - 1).cast("long").alias("n_missing"),
        )
    )
    return intra.unionByName(boundary)


@register(
    "agg_order_aging",
    oracle="""
    WITH mx AS (
        SELECT max(o_orderdate) AS mxd FROM orders
    ), open_o AS (
        SELECT date_diff('day', o_orderdate, mx.mxd) // 30 AS bkt,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders CROSS JOIN mx
        WHERE o_orderstatus = 'O'
    )
    SELECT CAST(bkt AS BIGINT) AS bucket,
           CAST(bkt * 30 AS VARCHAR) || '-'
               || CAST(bkt * 30 + 29 AS VARCHAR) || 'd' AS age_band,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS value_cents
    FROM open_o
    GROUP BY bkt
    """,
)
def agg_order_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order aging: orders still open (status 'O') bucketed into
    30-day age bands as of the corpus max date, with exact-cents value
    at risk per band — the backlog report an operations team reviews
    weekly (receivables aging is the same query on invoices).

    The status filter pushes to the parquet scan; the corpus max date
    is a 1-row broadcast; the banding is integer day arithmetic and
    the rollup combinable. Band labels are built from the SAME integer
    on both engines (no date formatting).
    """
    orders = t(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("mxd"))
    open_o = (
        orders.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(mx))
        .select(
            F.floor(F.datediff("mxd", "o_orderdate") / 30).alias("bkt"),
            half_up(F.col("o_totalprice") * 100).alias("cents"),
        )
    )
    return open_o.groupBy("bkt").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("value_cents"),
    ).select(
        F.col("bkt").cast("long").alias("bucket"),
        F.concat(
            (F.col("bkt") * 30).cast("string"),
            F.lit("-"),
            (F.col("bkt") * 30 + 29).cast("string"),
            F.lit("d"),
        ).alias("age_band"),
        "n_orders",
        "value_cents",
    )
