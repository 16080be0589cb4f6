"""Round-4q extension operators (SURVEY.md §2.31).

Order-theoretic and capacity reads: the 2-D skyline (Pareto frontier
— "cheapest-and-freshest" offers no other row dominates), the daily
interval-concurrency curve (how many orders are open at once — the
capacity-planning read), and embedding truncation quality (how much
cosine mass the first 32 of 64 dims retain — the Matryoshka-style
"can we serve half the vector" question).

Contract discipline identical to the other extension modules. The
skyline oracle states the naive quadratic NOT EXISTS definition; the
Spark plan is the sort-order sweep (one range-frame window) that
scales linearithmically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t


# ---------------------------------------------------------------------------
# join_skyline — 2-D Pareto frontier via a range-frame window sweep
# ---------------------------------------------------------------------------


@register(
    "join_skyline",
    oracle="""
    WITH pts AS (
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS date_ms
        FROM orders
    )
    SELECT p.o_orderkey, p.cents, p.date_ms
    FROM pts p
    WHERE NOT EXISTS (
        SELECT 1 FROM pts q
        WHERE q.cents <= p.cents AND q.date_ms >= p.date_ms
          AND (q.cents < p.cents OR q.date_ms > p.date_ms)
    )
    """,
)
def join_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline of orders under (price ↓ better, date ↑ better):
    the Pareto-frontier rows no other order both undercuts on price
    and beats on recency — the "dominated offer" pruning read.

    The textbook definition is the quadratic NOT-EXISTS self-join the
    oracle states. The Spark plan is the classic sort-sweep collapsed
    into ONE window pass: ordered by price, a RANGE frame ending at
    -1 sees exactly the strictly-cheaper rows, so a row survives iff
    its date beats every strictly-cheaper date (max over the frame)
    AND it is the best date within its own price tie-group (ties that
    match on both coordinates all survive, per the strict-dominance
    definition). All comparisons are exact integers. The single
    global sort is the known 2-D skyline trade; at 100 TB one
    range-partitions by price and prefixes each partition with the
    running max of its predecessors' dates — the same two-level
    decomposition as dq_sequence_gaps.
    """
    pts = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        half_up(F.col("o_totalprice") * 100).alias("cents"),
        F.unix_millis(F.col("o_orderdate")).alias("date_ms"),
    )
    w_lt = (
        Window.orderBy("cents").rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy("cents")
    sk = pts.select(
        "o_orderkey",
        "cents",
        "date_ms",
        F.max("date_ms").over(w_lt).alias("best_cheaper"),
        F.max("date_ms").over(w_eq).alias("best_tie"),
    )
    return sk.filter(
        (
            F.col("best_cheaper").isNull()
            | (F.col("date_ms") > F.col("best_cheaper"))
        )
        & (F.col("date_ms") == F.col("best_tie"))
    ).select("o_orderkey", "cents", "date_ms")


# ---------------------------------------------------------------------------
# ts_active_intervals — daily concurrent-open-order curve
# ---------------------------------------------------------------------------


@register(
    "ts_active_intervals",
    oracle="""
    WITH iv AS (
        SELECT o_orderdate AS s,
               o_orderdate
                   + (o_orderkey % 30 + 1) * INTERVAL 1 DAY AS e
        FROM orders
    ), deltas AS (
        SELECT s AS d, CAST(1 AS BIGINT) AS delta FROM iv
        UNION ALL
        SELECT e + INTERVAL 1 DAY, CAST(-1 AS BIGINT) FROM iv
    ), byday AS (
        SELECT d, CAST(sum(delta) AS BIGINT) AS net
        FROM deltas GROUP BY d
    )
    SELECT epoch_ms(CAST(d AS TIMESTAMP)) AS day_ms,
           CAST(sum(net) OVER (ORDER BY d) AS BIGINT) AS n_active
    FROM byday
    """,
)
def ts_active_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily concurrent-open-order count — the capacity curve behind
    "how many orders are in flight at once". Each order is open from
    its order date for (orderkey mod 30)+1 days (a deterministic
    fulfillment window derived from data).

    The scalable shape is delta-encoding, NOT a calendar×orders range
    join: each interval emits +1 on its start day and −1 the day
    after it closes; per-day deltas collapse in one map-side-
    combinable aggregation (O(data) → O(calendar) rows); the running
    prefix sum is a window over the CALENDAR frame — thousands of
    rows per decade, regardless of data size. All integers.
    """
    o = t(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_orderdate").alias("s"),
        F.col("o_orderdate")
        + ((F.col("o_orderkey") % 30 + 1) * F.expr("INTERVAL 1 DAY")),
    ).toDF("s", "e")
    deltas = iv.select(
        F.col("s").alias("d"), F.lit(1).cast("long").alias("delta")
    ).unionAll(
        iv.select(
            F.col("e") + F.expr("INTERVAL 1 DAY"),
            F.lit(-1).cast("long"),
        )
    )
    byday = deltas.groupBy("d").agg(
        F.sum("delta").cast("long").alias("net")
    )
    w = Window.orderBy("d")
    return byday.select(
        F.unix_millis(F.col("d")).alias("day_ms"),
        F.sum("net").over(w).cast("long").alias("n_active"),
    )


# ---------------------------------------------------------------------------
# emb_truncation_quality — Matryoshka-style retained-norm audit
# ---------------------------------------------------------------------------

_TRUNC_DIM = 32


@register(
    "emb_truncation_quality",
    oracle=f"""
    WITH per_row AS (
        SELECT label,
               CAST(floor(
                   sqrt(
                       list_reduce(
                           list_transform(embedding[1:{_TRUNC_DIM}],
                                          x -> CAST(x AS DOUBLE)
                                               * CAST(x AS DOUBLE)),
                           (a, b) -> a + b)
                       / list_reduce(
                           list_transform(embedding,
                                          x -> CAST(x AS DOUBLE)
                                               * CAST(x AS DOUBLE)),
                           (a, b) -> a + b))
                   * 1000000 + 0.5) AS BIGINT) AS ret_e6
        FROM embeddings
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(ret_e6) AS BIGINT) AS min_ret_e6,
           CAST(floor(CAST(sum(ret_e6) AS DOUBLE) / count(*) + 0.5)
                AS BIGINT) AS avg_ret_e6
    FROM per_row GROUP BY label
    """,
)
def emb_truncation_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label retained-cosine audit of truncating 64-dim
    embeddings to their first 32 dims — cos(v, truncate(v)) =
    ‖v₁..₃₂‖/‖v‖, the Matryoshka question "is half the vector good
    enough to serve?".

    Both squared norms are PER-ROW sequential left folds over the
    array (deterministic order — never a cross-partition float sum),
    rendered to integer micro-units per row; the per-label rollup is
    then exact integer min/sum/count, map-side combinable. The
    retention ratio needs no centroid join — it's a pure projection,
    so the whole plan is scan → project → combinable agg at any
    scale.
    """
    sq_sum = (
        lambda col: F.aggregate(
            col,
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    per_row = t(spark, sf_dir, "embeddings").select(
        "label",
        half_up(
            F.sqrt(
                sq_sum(F.slice("embedding", 1, _TRUNC_DIM))
                / sq_sum(F.col("embedding"))
            )
            * 1000000
        ).alias("ret_e6"),
    )
    return per_row.groupBy("label").agg(
        F.count("*").cast("long").alias("n"),
        F.min("ret_e6").cast("long").alias("min_ret_e6"),
        half_up(F.sum("ret_e6").cast("double") / F.count("*")).alias(
            "avg_ret_e6"
        ),
    )
