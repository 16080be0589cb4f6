"""Round-4m extension operators (SURVEY.md §2.27).

Exact-arithmetic time-series reads: lag-k autocorrelation of the
daily revenue series (the "is there weekly periodicity?" question
every forecast model asks first), CUSUM changepoint location (the
level-shift detector behind data-incident timelines), and a
cumulative VWAP window over lineitem (the running volume-weighted
price used for execution-quality and cost-basis reporting).

Contract discipline identical to the other extension modules: every
division is rational-over-exact-integer-sums, rendered identically in
Spark and the DuckDB oracle, so partial-aggregation order can never
flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

_D38 = "decimal(38,0)"
_MAX_LAG = 7


# ---------------------------------------------------------------------------
# ts_autocorr — lag-k autocorrelation of the daily series, exact sums
# ---------------------------------------------------------------------------


@register(
    "ts_autocorr",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               date_trunc('day', ts) AS d,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS HUGEINT) AS cents
        FROM events GROUP BY 1, 2
    ), lags AS (
        SELECT CAST(range AS INTEGER) AS lag FROM range(1, 8)
    ), pairs AS (
        SELECT a.event_type, l.lag,
               a.cents AS x, b.cents AS y
        FROM daily a
        CROSS JOIN lags l
        JOIN daily b
          ON b.event_type = a.event_type
         AND b.d = a.d - l.lag * INTERVAL 1 DAY
    ), s AS (
        SELECT event_type, lag,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(x * y) AS HUGEINT) AS sxy,
               CAST(sum(x * x) AS HUGEINT) AS sxx,
               CAST(sum(y * y) AS HUGEINT) AS syy
        FROM pairs GROUP BY 1, 2
    )
    SELECT event_type, lag, n_pairs,
           floor((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000 AS acf
    FROM s
    WHERE n_pairs > 2
    """,
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of each event type's daily revenue
    series — the ACF a forecaster reads before choosing seasonal
    terms (a spike at lag 7 says "weekly pattern").

    Reduce-before-join: the raw log collapses to O(types × calendar)
    daily rows FIRST (one combinable shuffle over the full table),
    then the lag pairing is a self-join on that tiny frame — at
    100 TB the expensive pass is the initial map-side-combinable
    aggregation, never the pairing. Pearson r comes from the six
    exact integer sums (n, Σx, Σy, Σxy, Σx², Σy²) accumulated in
    decimal(38,0) — Spark's sum(long) would wrap at 100 TB group
    sizes — so the only float work is one identically-written final
    projection, rounded half-up at 1e-6 on both engines.
    """
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").alias("d"),
        )
        .agg(
            F.sum(half_up(F.col("value") * 100)).cast(_D38).alias("cents")
        )
    )
    lags = spark.range(1, _MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (
                F.col("b.d")
                == F.col("a.d") - F.col("lag") * F.expr("INTERVAL 1 DAY")
            ),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            "lag",
            F.col("a.cents").alias("x"),
            F.col("b.cents").alias("y"),
        )
    )
    s = pairs.groupBy("event_type", "lag").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(_D38).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(_D38).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast(_D38).alias("syy"),
    )
    nd = F.col("n_pairs").cast("double")
    dx = lambda c: F.col(c).cast("double")  # noqa: E731
    num = nd * dx("sxy") - dx("sx") * dx("sy")
    den = F.sqrt(
        (nd * dx("sxx") - dx("sx") * dx("sx"))
        * (nd * dx("syy") - dx("sy") * dx("sy"))
    )
    return s.filter(F.col("n_pairs") > 2).select(
        "event_type",
        "lag",
        "n_pairs",
        round_dp(num / den, 6).alias("acf"),
    )


# ---------------------------------------------------------------------------
# ts_cusum_changepoint — integer-exact CUSUM level-shift locator
# ---------------------------------------------------------------------------


@register(
    "ts_cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               date_trunc('day', ts) AS d,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS HUGEINT) AS cents
        FROM events GROUP BY 1, 2
    ), cum AS (
        SELECT event_type, d, cents,
               CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY d)
                    AS HUGEINT) AS sk,
               CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                    AS BIGINT) AS k,
               CAST(sum(cents) OVER (PARTITION BY event_type)
                    AS HUGEINT) AS sn,
               CAST(count(*) OVER (PARTITION BY event_type)
                    AS BIGINT) AS n
        FROM daily
    ), stat AS (
        SELECT event_type, d, k, n,
               n * sk - k * sn AS c_scaled
        FROM cum
    ), ranked AS (
        SELECT event_type, d, k, n, c_scaled,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY abs(c_scaled) DESC, d
               ) AS rn
        FROM stat
    )
    SELECT event_type,
           epoch_ms(CAST(d AS TIMESTAMP)) AS cp_day_ms,
           k AS cp_index, n AS n_days,
           CAST(CAST(abs(c_scaled) AS DECIMAL(38,0)) AS VARCHAR)
               AS cusum_abs
    FROM ranked WHERE rn = 1
    """,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint locator per event type — "on which day did
    the level of this series shift?", the first question in a
    data-incident postmortem.

    The classical statistic C_k = S_k − k·(S_n/n) involves a mean;
    scaling by n gives n·S_k − k·S_n, an INTEGER that ranks
    identically (argmax_k |C_k| = argmax_k |n·C_k|), so the whole
    detector runs in exact decimal arithmetic — no float, nothing for
    partial-merge order to perturb. Reduce-before-window: the log
    collapses to O(types × calendar) daily rows first; both windows
    then partition by event_type over that tiny frame (at 100 TB the
    window input is ~36 500 rows per type per century, not the log).
    Ties in |C| break to the earliest day.
    """
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").alias("d"),
        )
        .agg(
            F.sum(half_up(F.col("value") * 100)).cast(_D38).alias("cents")
        )
    )
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("d")
    cum = daily.select(
        "event_type",
        "d",
        F.sum("cents").over(wo).alias("sk"),
        F.row_number().over(wo).cast("long").alias("k"),
        F.sum("cents").over(wp).alias("sn"),
        F.count("*").over(wp).cast("long").alias("n"),
    )
    stat = cum.withColumn(
        "c_scaled",
        F.col("n") * F.col("sk") - F.col("k") * F.col("sn"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("c_scaled")).desc(), F.col("d")
    )
    return (
        stat.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.unix_millis(F.col("d")).alias("cp_day_ms"),
            F.col("k").alias("cp_index"),
            F.col("n").alias("n_days"),
            F.abs(F.col("c_scaled"))
            .cast(_D38)
            .cast("string")
            .alias("cusum_abs"),
        )
    )


# ---------------------------------------------------------------------------
# win_vwap — cumulative volume-weighted average price per part
# ---------------------------------------------------------------------------


@register(
    "win_vwap",
    oracle="""
    WITH li AS (
        SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
               CAST(l_quantity AS BIGINT) AS qty,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS pc
        FROM lineitem
    ), cum AS (
        SELECT l_partkey,
               epoch_ms(CAST(l_shipdate AS TIMESTAMP)) AS ship_ms,
               l_orderkey, l_linenumber,
               CAST(sum(qty) OVER w AS HUGEINT) AS cum_qty,
               CAST(sum(pc * qty) OVER w AS HUGEINT) AS cum_pq
        FROM li
        WINDOW w AS (
            PARTITION BY l_partkey
            ORDER BY l_shipdate, l_orderkey, l_linenumber
        )
    )
    SELECT l_partkey, ship_ms, l_orderkey, l_linenumber,
           CAST(cum_qty AS BIGINT) AS cum_qty,
           CAST(floor(CAST(cum_pq AS DOUBLE) / CAST(cum_qty AS DOUBLE)
                      + 0.5) AS BIGINT) AS vwap_cents
    FROM cum
    """,
)
def win_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running volume-weighted average price per part as of each
    shipment — the cost-basis / execution-quality read ("what was the
    average price paid per unit of part P up to this shipment?").

    One window pass partitioned by l_partkey (massively parallel — the
    part key space grows with the data, so no partition is a straggler
    at 100 TB) with a total tiebreak order (shipdate, orderkey,
    linenumber). Both cumulative sums accumulate integers in
    decimal(38,0) — price·qty per row is ~5e8 in cents-units, so a
    popular part's running Σ(p·q) clears int64 well before 100 TB.
    The VWAP projection is one identically-written double division
    rendered half-up to whole cents.
    """
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("qty"),
        half_up(F.col("l_extendedprice") * 100).alias("pc"),
    )
    w = Window.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    cum = li.select(
        "l_partkey",
        F.unix_millis(F.col("l_shipdate")).alias("ship_ms"),
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("qty").cast(_D38)).over(w).alias("cum_qty"),
        F.sum((F.col("pc") * F.col("qty")).cast(_D38)).over(w).alias("cum_pq"),
    )
    return cum.select(
        "l_partkey",
        "ship_ms",
        "l_orderkey",
        "l_linenumber",
        F.col("cum_qty").cast("long").alias("cum_qty"),
        half_up(
            F.col("cum_pq").cast("double") / F.col("cum_qty").cast("double")
        ).alias("vwap_cents"),
    )
