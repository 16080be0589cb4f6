"""Time-series resampling (SURVEY.md §2 EXT — telemetry/metrics shape).

The reference's domain is batch census loads [PK]; a 100 TB estate's
second-biggest table is invariably event telemetry, and the first
query anyone runs on it is "resample to a fixed grid and fill the
gaps". Expressed Spark-first: the hourly rollup is one map-side
combinable aggregation, the dense grid is `sequence()` + `explode`
(generated, never shuffled), and the forward-fill is a single
`last(ignorenulls)` running window — three shuffles total, all on
`user_id`, so AQE can coalesce them and a pre-bucketed source would
pay one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t


@register(
    "ts_resample_fill",
    oracle="""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               floor(avg(value) * 100 + 0.5) / 100 AS v
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1
    ), grid AS (
        SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS g
        FROM bounds
    )
    SELECT g.user_id, epoch_ms(g.g) AS grid_ms, h.v AS value_ffill
    FROM grid g ASOF LEFT JOIN hourly h
      ON g.user_id = h.user_id AND g.g >= h.h
    """,
)
def ts_resample_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample events to a dense per-user hourly grid and forward-fill
    observation gaps with the last seen hourly average.

    Grid generation is `sequence(min_hour, max_hour)` per user —
    computed from the already-aggregated hourly rollup, so the dense
    timeline (~700 rows/user/month) never touches the raw event scan.
    The fill is `last(v, ignorenulls)` over a running frame: Spark
    streams it per partition in one pass, the exact physical shape an
    ASOF join would cost anyway (the oracle literally uses ASOF).
    Hourly averages are rounded to 2dp BEFORE the fill so both engines
    propagate identical values. Grid timestamps are exported as
    epoch-ms BIGINT per the registry's timestamp rule.
    """
    ev = t(spark, sf_dir, "events")
    v2 = round_dp(F.avg("value"), 2).alias("v")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(v2)
    bounds = hourly.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    # pin the grid-generation stage's parallelism: bounds is one
    # compact row per user, so AQE coalesces its exchange to a single
    # partition and the ~700x sequence/explode fan-out below would run
    # in one task (the single-task disease, BASELINE.md r6
    # continuation). ROUND-ROBIN on purpose: a user_id-keyed
    # repartition here is subsumed by the fill window's own
    # ENSURE_REQUIREMENTS exchange (Catalyst eliminates the adjacent
    # user shuffle, restoring the coalesced single-task stage), while
    # a round-robin exchange satisfies no downstream requirement and
    # therefore survives to spread the explode; the window re-shuffles
    # the grid either way.
    bounds = bounds.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions"))
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("grid_ts"),
    )
    g, h = grid.alias("g"), hourly.alias("h")
    joined = g.join(
        h,
        (F.col("g.user_id") == F.col("h.user_id"))
        & (F.col("g.grid_ts") == F.col("h.h")),
        "left",
    ).select(
        F.col("g.user_id").alias("user_id"),
        F.col("g.grid_ts").alias("grid_ts"),
        F.col("h.v").alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("grid_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        F.unix_millis("grid_ts").alias("grid_ms"),
        F.last("v", ignorenulls=True).over(w).alias("value_ffill"),
    )


@register(
    "ts_anomaly_mad",
    oracle="""
    WITH med AS (
        SELECT user_id, median(value) AS med FROM events GROUP BY 1
    ), stats AS (
        SELECT e.user_id, median(abs(e.value - m.med)) AS mad,
               min(m.med) AS med
        FROM events e JOIN med m USING (user_id) GROUP BY 1
    )
    SELECT e.user_id, e.event_id, e.value
    FROM events e JOIN stats s USING (user_id)
    WHERE abs(e.value - s.med) > 3 * s.mad
    """,
)
def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-entity anomaly detection: flag events whose value
    deviates from the user's median by more than 3x the median
    absolute deviation. MAD is the robust alternative to z-scores
    (udf_grouped_map's demo) — a user's own outliers can't inflate the
    threshold the way they inflate a stddev.

    Two grouped exact medians and two joins, every stage keyed on
    user_id so the shuffles co-locate (at 100 TB swap `median` for
    `percentile_approx` — one-pass, mergeable partials — and the
    per-user stats frame stays 1 row/user, tiny next to the scan).
    Exact interpolated medians are IEEE-deterministic on both engines,
    so the 3xMAD threshold compares identically.
    """
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "value")
    med = ev.groupBy("user_id").agg(F.median("value").alias("med"))
    dev = ev.join(med, "user_id").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    stats = dev.groupBy("user_id").agg(
        F.median("adev").alias("mad"), F.min("med").alias("med")
    )
    return (
        ev.join(stats, "user_id")
        .filter(F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"))
        .select("user_id", "event_id", "value")
    )
