"""Aggregation operators (SURVEY.md §2.4).

The reference's aggregation surface is load-validation row counts [PK];
everything beyond plain hash agg is a mandated extension
(BASELINE.json:6). All groupBys here are partial-aggregated map-side by
Spark automatically (the classic combiner), so the shuffle carries one
row per (partition × group), not per input row — the property that
makes these linear-ish at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import r6
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import gated_broadcast, register_views, t

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "agg_hash",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS sum_charge,
           round(avg(l_quantity), 2) AS avg_qty,
           round(avg(l_extendedprice), 2) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped hash aggregate: 2 group cols × 8 measures."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(DISTINCT) — Spark expands to a two-phase agg (dedup on
    (group, key) then count), both phases map-side partial."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_cust"),
            F.count("*").alias("n_orders"),
        )
    )


@register("agg_approx_distinct")  # approximate => rows-only check
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ cardinality per event_type (rsd=0.02). At 100 TB this is
    THE distinct-count: constant memory per group vs the exact
    expansion's shuffle of every (group, key) pair."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT o_orderstatus,
           round(median(o_totalprice), 2) AS median_price,
           round(quantile_cont(o_totalprice, 0.95), 2) AS p95_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / continuous quantile per group. (For 100 TB use
    `percentile_approx` — t-digest-style sketch, one pass, mergeable;
    exact percentile is kept here because the oracle hash needs exact.)
    """
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.median("o_totalprice"), 2).alias("median_price"),
            F.round(F.percentile("o_totalprice", 0.95), 2).alias("p95_price"),
        )
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT r_name, n_name,
           round(sum(c_acctbal), 2) AS acct_total,
           CAST(count(*) AS BIGINT) AS n_cust
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtotal hierarchy region -> nation -> grand total."""
    c = t(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("c_acctbal"), 2).alias("acct_total"),
            F.count("*").alias("n_cust"),
        )
    )


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations of (returnflag, linestatus)."""
    return (
        t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n"),
        )
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets {(status), (priority), ()} via Spark SQL
    (same Catalyst Expand node as rollup/cube)."""
    register_views(spark, sf_dir, names=["orders"])
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "agg_collect",
    oracle="""
    SELECT o_custkey,
           array_to_string(list_sort(list(o_orderkey)), ',') AS order_ids,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    WHERE o_totalprice > 250000
    GROUP BY o_custkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group -> array (collect_list), sorted then string-rendered so
    the value hash is deterministic regardless of arrival order."""
    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 250000)
        .groupBy("o_custkey")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("o_orderkey"))).alias(
                "order_ids"
            ),
            F.count("*").alias("n"),
        )
    )


@register(
    "agg_filtered",
    oracle="""
    SELECT user_id,
           round(coalesce(sum(value) FILTER (event_type = 'purchase'), 0.0), 2)
               AS purchase_value,
           round(coalesce(sum(value) FILTER (event_type = 'click'), 0.0), 2)
               AS click_value,
           CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_errors
    FROM events
    GROUP BY user_id
    """,
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional / FILTERed aggregates (the estimate-vs-margin column
    split in the reference's paired outputs [PK analog])."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
                F.lit(0.0),
            ),
            2,
        ).alias("purchase_value"),
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "click", F.col("value"))),
                F.lit(0.0),
            ),
            2,
        ).alias("click_value"),
        F.count(F.when(F.col("event_type") == "error", F.lit(1))).alias("n_errors"),
    )


@register(
    "pivot_wide",
    oracle="""
    SELECT user_id,
           CAST(coalesce(count(*) FILTER (event_type = 'click'),    0) AS BIGINT) AS click,
           CAST(coalesce(count(*) FILTER (event_type = 'error'),    0) AS BIGINT) AS error,
           CAST(coalesce(count(*) FILTER (event_type = 'purchase'), 0) AS BIGINT) AS purchase,
           CAST(coalesce(count(*) FILTER (event_type = 'signup'),   0) AS BIGINT) AS signup,
           CAST(coalesce(count(*) FILTER (event_type = 'view'),     0) AS BIGINT) AS view
    FROM events
    GROUP BY user_id
    """,
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long -> wide pivot (the reference interleaves estimate/margin
    pairs into wide tables [PK analog]). Pivot values are declared
    explicitly — at scale, never let Spark run the extra distinct-scan
    to discover them."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
    )


@register(
    "unpivot_long",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
           l_quantity AS val FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    """,
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long unpivot (a sequence row -> (table, cell, value)
    triples in reference terms [PK analog]); `melt` is a zero-shuffle
    Expand node."""
    return t(spark, sf_dir, "lineitem").melt(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@register(
    "agg_skew_salted",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           floor(sum(value) * 100 + 0.5) / 100 AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed keys.

    `event_type` has only 5 distinct values over the whole table — on
    a 1000-executor cluster a plain groupBy would funnel everything
    into 5 reducer partitions. Phase 1 salts the key with
    xxhash64(event_id) % 32 and pre-aggregates on (key, salt) — 160
    evenly spread partial groups; phase 2 re-aggregates the partials
    on the real key. The decomposition is exact for count/sum (and
    any algebraic aggregate); Spark's own partial aggregation gives
    map-side combining for free, but salting additionally spreads the
    REDUCE side, which is the part AQE's skew handling doesn't fix
    for aggregations.
    """
    ev = t(spark, sf_dir, "events")
    salted = ev.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(32))
    )
    partial = salted.groupBy("event_type", "salt").agg(
        F.count("*").alias("pn"), F.sum("value").alias("pv")
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").cast("long").alias("n"),
        (F.floor(F.sum("pv") * 100 + F.lit(0.5)) / 100).alias("total_value"),
    )


@register("agg_hll_mergeable")  # sketch estimate => rows-only check
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches — the pre-aggregation pattern that makes
    distinct counts feasible at 100 TB: build one sketch per
    (event_type, day) partial (what an ingest job would persist per
    partition), then answer "distinct users per event_type" by
    UNIONING the stored sketches — no rescan of the raw data, and the
    merge is associative so it parallelizes like a sum.

    `hll_union_agg(hll_sketch_agg(...))` must estimate within HLL
    error of the exact count — tests pin the tolerance against
    count(DISTINCT); the estimate itself is approximate, so no SQL
    oracle (same policy as agg_approx_distinct).
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sketch")
    )
    return daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch"))
        .cast("long")
        .alias("approx_users"),
        F.count("*").cast("long").alias("n_daily_sketches"),
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users
    FROM events GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counting via roaring-style bitmaps —
    the middle ground between `count(DISTINCT)` (exact, but the
    distinct shuffle carries every key instance) and HLL (mergeable,
    but approximate): each (group, bucket) partial aggregates its
    member ids into a fixed 4 KB bitmap, bitmaps OR-merge
    associatively, and popcount gives the exact cardinality.

    At 100 TB the win is the same as HLL's — partials persist per
    ingest partition and merge at query time without rescanning — but
    the answer is exact, which training-data dedup accounting usually
    requires. `bitmap_bucket_number/bit_position` are 1-based, so ids
    are shifted +1 to keep id 0 countable (any dense surrogate works
    at scale). The oracle is plain count(DISTINCT) — the hash-match
    itself proves the bitmap path is exact.
    """
    ev = t(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") + 1).alias("uid")
    )
    partials = ev.groupBy(
        "event_type", F.bitmap_bucket_number("uid").alias("bucket")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("uid")).alias("bm"))
    return partials.groupBy("event_type").agg(
        F.bitmap_count(F.bitmap_or_agg("bm")).cast("long")
        .alias("n_distinct_users"),
    )


@register(
    "agg_stats_exact",
    oracle="""
    WITH s AS (
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sy,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS sxx,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS syy,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           floor((sx / n) * 1000000 + 0.5) / 1000000 AS mean_qty,
           floor(((sxx - sx * sx / n) / (n - 1)) * 1000000 + 0.5)
               / 1000000 AS var_qty,
           floor(((n * sxy - sx * sy)
               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
               * 1000000 + 0.5) / 1000000 AS corr_qty_price
    FROM s
    """,
)
def agg_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed second moments (mean / variance / correlation) with
    *deterministic* results.

    Built-in ``var_samp``/``corr`` accumulate doubles, so the answer
    depends on partition merge order — two runs of the same job on a
    real cluster can hash-differ, which poisons cached derived tables
    and oracle checks alike. Instead we accumulate the five sufficient
    statistics as exact DECIMAL sums (associative, order-independent,
    map-side combinable — one narrow shuffle of 6 numbers per group)
    and evaluate the closed-form moments on the driver-side scalars.
    DECIMAL(38,4) holds sum(x*x) up to ~1e34, so the accumulators
    cannot overflow even at 100 TB row counts.
    """
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    s = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(x).cast("double").alias("sx"),
            F.sum(y).cast("double").alias("sy"),
            F.sum(x * x).cast("double").alias("sxx"),
            F.sum(y * y).cast("double").alias("syy"),
            F.sum(x * y).cast("double").alias("sxy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # The sufficient statistics are bit-identical across engines, but
    # the closed-form moment EXPRESSIONS are compound double math where
    # compiler FMA contraction can differ by 1 ULP between DuckDB and
    # the JVM (seen at sf0.001 on corr) — so pin all three to the
    # repo-wide floor(x*1e6+0.5)/1e6 idiom on both sides.
    return s.select(
        "l_returnflag",
        "n",
        r6(sx / n).alias("mean_qty"),
        r6((sxx - sx * sx / n) / (n - 1)).alias("var_qty"),
        r6(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("corr_qty_price"),
    )


@register(
    "agg_mode",
    oracle="""
    WITH c AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
               o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
        FROM orders GROUP BY order_year, o_orderpriority
    ), r AS (
        SELECT order_year, o_orderpriority, cnt,
               row_number() OVER (PARTITION BY order_year
                                  ORDER BY cnt DESC, o_orderpriority) AS rn
        FROM c
    )
    SELECT order_year, o_orderpriority AS mode_priority, cnt
    FROM r WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode (most frequent value) per group.

    Built-in ``mode()`` breaks ties arbitrarily in both engines, so it
    can never hash-match; count + row_number with a total tiebreak
    (count DESC, value ASC) is the reproducible form. Two shuffles:
    the count agg (map-side combined) and a tiny per-group window over
    |distinct values| rows — the window input is already reduced, so
    at 100 TB the expensive part stays the combinable count.
    """
    from pyspark.sql.window import Window

    c = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            "o_orderpriority",
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = Window.partitionBy("order_year").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "order_year",
            F.col("o_orderpriority").alias("mode_priority"),
            "cnt",
        )
    )


_PROFILE_COLS = (
    ("c_custkey", "int"),
    ("c_name", "str"),
    ("c_nationkey", "int"),
    ("c_acctbal", "double"),
    ("c_mktsegment", "str"),
)


def _profile_oracle() -> str:
    branches = []
    for col, kind in _PROFILE_COLS:
        if kind == "double":
            mn, mx = (
                f"printf('%.2f', min({col}))",
                f"printf('%.2f', max({col}))",
            )
        else:
            mn, mx = f"CAST(min({col}) AS VARCHAR)", f"CAST(max({col}) AS VARCHAR)"
        branches.append(
            f"""
            SELECT '{col}' AS column_name,
                   CAST(count(*) - count({col}) AS BIGINT) AS n_null,
                   CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
                   {mn} AS min_value, {mx} AS max_value
            FROM customer
            """
        )
    return " UNION ALL ".join(branches)


@register("agg_profile_summary", oracle=_profile_oracle())
def agg_profile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling — per-column null count, distinct count, and
    min/max — the validation pass every load pipeline runs before
    publishing a table (the reference's post-load sanity counts [PK],
    generalized to a full per-column profile).

    ONE aggregation pass computes every column's measures side by side
    (null/min/max are map-side combinable; the distincts share the one
    shuffle), then the single result row is exploded into one row per
    column. Per-column UNION-ALL rescans — what the naive SQL does,
    and what the oracle literally is — would read the table N times;
    at 100 TB one pass vs five is the whole game. Doubles are
    formatted to fixed 2dp strings on both sides so the profile is
    type-uniform and hash-stable.
    """
    aggs = []
    for col, kind in _PROFILE_COLS:
        aggs.append(
            F.sum(F.col(col).isNull().cast("long")).alias(f"{col}__nn")
        )
        aggs.append(F.countDistinct(col).alias(f"{col}__nd"))
        if kind == "double":
            aggs.append(
                F.format_string("%.2f", F.min(col)).alias(f"{col}__mn")
            )
            aggs.append(
                F.format_string("%.2f", F.max(col)).alias(f"{col}__mx")
            )
        else:
            aggs.append(F.min(col).cast("string").alias(f"{col}__mn"))
            aggs.append(F.max(col).cast("string").alias(f"{col}__mx"))
    one = t(spark, sf_dir, "customer").agg(*aggs)
    per_col = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(col).alias("column_name"),
                    F.col(f"{col}__nn").alias("n_null"),
                    F.col(f"{col}__nd").alias("n_distinct"),
                    F.col(f"{col}__mn").alias("min_value"),
                    F.col(f"{col}__mx").alias("max_value"),
                )
                for col, _ in _PROFILE_COLS
            ]
        )
    ).alias("p")
    return one.select(per_col).select("p.*")


@register(
    "agg_histogram",
    oracle="""
    WITH buckets AS (
        SELECT DISTINCT event_type,
               unnest(generate_series(0, 19)) AS bucket
        FROM events
    ), counts AS (
        SELECT event_type,
               CAST(least(floor(value / 25.0), 19) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT b.event_type, b.bucket, b.bucket * 25.0 AS bucket_lo,
           coalesce(c.n, 0) AS n
    FROM buckets b LEFT JOIN counts c
      ON b.event_type = c.event_type AND b.bucket = c.bucket
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense fixed-width histogram of `events.value` per event type —
    the profiling primitive behind every data-quality dashboard.

    Bucketing is pure arithmetic (`least(floor(value/25), 19)`), so
    the count is one map-side-combinable aggregation: partials carry
    at most types x 20 rows per task regardless of input size. The
    dense grid (including empty buckets — the part naive GROUP BY
    misses) comes from a `sequence`+`explode` over the distinct types,
    a broadcastable few-hundred-row frame, left-joined to the counts.
    At 100 TB the scan dominates; everything after the partial agg is
    driver-trivial.
    """
    ev = t(spark, sf_dir, "events")
    counts = (
        ev.groupBy(
            "event_type",
            F.least(F.floor(F.col("value") / 25.0), F.lit(19))
            .cast("long")
            .alias("bucket"),
        )
        .agg(F.count("*").alias("n"))
    )
    buckets = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(19))).alias("bucket"),
        )
        .withColumn("bucket", F.col("bucket").cast("long"))
    )
    return (
        buckets.join(F.broadcast(counts), ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            (F.col("bucket") * 25.0).alias("bucket_lo"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
    )


@register(
    "agg_argmax",
    oracle="""
    SELECT o_custkey, best_orderkey, best_price
    FROM (
        SELECT o_custkey, o_orderkey AS best_orderkey,
               o_totalprice AS best_price,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC,
                                           o_orderkey DESC) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax as ONE map-side-combinable aggregate: the customer's
    most expensive order via `max(struct(price, orderkey))` — struct
    comparison is lexicographic, so the orderkey rides along and also
    breaks price ties deterministically.

    This is the scale-path contrast to win_topk_group: the window
    needs a full shuffle + per-partition SORT of every row; the struct
    max carries ONE row of state per group through partial aggregation
    — at 100 TB that's the difference between sorting the fact table
    and a combiner. (The oracle uses the window form on purpose: two
    different algorithms, same answer.)
    """
    o = t(spark, sf_dir, "orders")
    best = F.max(F.struct("o_totalprice", "o_orderkey")).alias("best")
    return (
        o.groupBy("o_custkey")
        .agg(best)
        .select(
            "o_custkey",
            F.col("best.o_orderkey").alias("best_orderkey"),
            F.col("best.o_totalprice").alias("best_price"),
        )
    )


@register(
    "agg_observe_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(l_discount) AS BIGINT) AS n_null_disc,
           floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS sum_price
    FROM lineitem WHERE l_quantity >= 25
    """,
)
def agg_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass pipeline metrics via `df.observe()` — data-quality
    counters collected DURING the job's own action, not by a second
    scan (the Spark-native form of the reference's post-load
    validation counts [PK]; same machinery as Delta/DQ expectation
    frameworks).

    The observed aggregates ride the existing physical plan as an
    `CollectMetrics` node — zero extra shuffles, zero extra passes; at
    100 TB a separate validation query would double the scan bill.
    The driver-side metrics row is re-wrapped as a DataFrame so the
    oracle can hash-check it against a plain aggregation.
    """
    from pyspark.sql import Observation, Row

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 25)
    obs = Observation()
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_discount").isNull().cast("long")).alias("n_null_disc"),
        (F.floor(F.sum("l_extendedprice") * 100 + F.lit(0.5)) / 100).alias(
            "sum_price"
        ),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            Row(
                n_rows=int(m["n_rows"]),
                n_null_disc=int(m["n_null_disc"]),
                sum_price=float(m["sum_price"]),
            )
        ]
    )


@register(
    "agg_distinct_multiple",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           CAST(count(DISTINCT year(o_orderdate)) AS BIGINT) AS n_years,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_distinct_multiple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several COUNT(DISTINCT x) over DIFFERENT columns in one
    aggregation — Spark plans this with an Expand node (one duplicated
    input stream per distinct set) feeding a single shuffle, not one
    job per distinct column. Worth knowing at 100 TB: each extra
    distinct column multiplies the shuffled volume via Expand, so
    beyond 2-3 of them, sketches (agg_hll_mergeable) or separate
    pre-aggregations win.
    """
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.countDistinct(F.year("o_orderdate")).alias("n_years"),
        F.count("*").alias("n_orders"),
    )


@register(
    "agg_bool",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_orderstatus = 'F') AS any_finished,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'O')
                AS BIGINT) AS n_open
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (`every`/`some`/`count_if`) — per-group
    data-quality predicates ("did EVERY row pass", "did ANY fail"),
    the grouped form of the checks agg_observe_metrics collects
    globally. All three are map-side combinable single bits/counts of
    state — the cheapest possible verification pass at 100 TB.
    """
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.some(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.count_if(F.col("o_orderstatus") == "O").alias("n_open"),
    )


@register(
    "agg_topn_others",
    oracle="""
    WITH brand_rev AS (
        SELECT p_brand, sum(l_extendedprice) AS rev
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    ), ranked AS (
        SELECT p_brand, rev,
               row_number() OVER (ORDER BY rev DESC, p_brand) AS rn
        FROM brand_rev
    )
    SELECT CASE WHEN rn <= 3 THEN p_brand ELSE 'Others' END AS brand_group,
           floor(sum(rev) * 100 + 0.5) / 100 AS revenue
    FROM ranked
    GROUP BY 1
    """,
)
def agg_topn_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N-plus-Others rollup — the BI presentation shape (top 3
    brands named, the tail collapsed to one row). Rank over the tiny
    aggregated frame, relabel, re-aggregate: the raw scan pays one
    combinable shuffle; everything ranked is post-aggregation (a few
    hundred rows), so the unpartitioned window is free. Tiebreak on
    brand name keeps the N-th boundary deterministic.
    """
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(gated_broadcast(spark, sf_dir, "part", p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(F.sum("l_extendedprice").alias("rev"))
    )
    w = Window.partitionBy().orderBy(F.col("rev").desc(), F.col("p_brand"))
    return (
        rev.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "brand_group",
            F.when(F.col("rn") <= 3, F.col("p_brand")).otherwise("Others"),
        )
        .groupBy("brand_group")
        .agg(
            (F.floor(F.sum("rev") * 100 + F.lit(0.5)) / 100).alias("revenue")
        )
    )


@register(
    "agg_listagg",
    oracle="""
    SELECT n_nationkey,
           string_agg(c_name, ',' ORDER BY c_name) AS members
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_nationkey
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-group ordered LISTAGG (ANSI SQL:2023, native in Spark
    4.0) — the rendering aggregate behind "members" columns and
    denormalized exports. WITHIN GROUP ordering is what makes the
    result deterministic under distributed merge; an unordered listagg
    is partition-order-dependent and unusable in a re-runnable
    pipeline. State is the concatenated string, so group size is the
    scale bound — cap or bucket groups beyond report scale.
    """
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation").select("n_nationkey")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_nationkey")
        .agg(
            F.expr(
                "listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name)"
            ).alias("members")
        )
    )


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0, SPARK-49555): the linear
    `FROM … |> WHERE … |> AGGREGATE` form — each stage reads top-down
    like a DataFrame chain, and Catalyst compiles it to the identical
    plan as the nested-SELECT oracle. Surface parity matters: a user
    migrating hand-written pipe-syntax queries runs them unchanged.
    """
    from census_postgres_py_spark.tables import register_views

    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n,
                     floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n, revenue
        """
    )


@register(
    "agg_grouping_id",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status_lvl,
           coalesce(o_orderpriority, 'ALL') AS prio_lvl,
           CAST(2 * grouping(o_orderstatus) + grouping(o_orderpriority)
                AS BIGINT) AS lvl,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtotal-level labeling with `grouping()` — the disambiguator
    that makes ROLLUP output machine-readable: a NULL group value can
    mean "subtotal row" OR a genuinely NULL key, and only grouping()
    tells them apart (agg_rollup leaves them ambiguous on purpose;
    this is the production form). The level id is composed explicitly
    (2*g(a)+g(b)) so both engines agree bit-for-bit.
    """
    o = t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            (
                2 * F.grouping("o_orderstatus") + F.grouping("o_orderpriority")
            )
            .cast("long")
            .alias("lvl"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status_lvl"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("prio_lvl"),
            "lvl",
            "n",
        )
    )
