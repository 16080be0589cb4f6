"""Round-4h extension operators (SURVEY.md §2.22).

Calendar-and-layout reads: 4-4-5 fiscal calendar mapping (the retail
warehouse's reporting calendar), classical seasonal decomposition of
the daily series (trend / day-of-week seasonal / residual, all
integer-rational), and dynamic partition overwrite (the idempotent
partition-replace write semantics every partitioned lake table needs).

Contract discipline identical to the other extension modules.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark import scratch
from census_postgres_py_spark.functions.rounding import half_up
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import read_back, t


# ---------------------------------------------------------------------------
# fn_fiscal_445 — retail fiscal calendar mapping
# ---------------------------------------------------------------------------


@register(
    "fn_fiscal_445",
    oracle="""
    WITH d AS (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS dt FROM orders
    ), fy AS (
        SELECT o_orderkey, dt,
               CASE WHEN month(dt) >= 2 THEN year(dt)
                    ELSE year(dt) - 1 END AS fyear
        FROM d
    ), wk AS (
        SELECT o_orderkey, dt, fyear,
               date_diff('day', make_date(fyear, 2, 1), dt) // 7 + 1
                   AS fweek
        FROM fy
    ), q AS (
        SELECT o_orderkey, dt, fyear, fweek,
               least((fweek - 1) // 13, 3) + 1 AS fquarter
        FROM wk
    )
    SELECT o_orderkey, epoch_ms(CAST(dt AS TIMESTAMP)) AS date_ms,
           CAST(fyear AS INTEGER) AS fiscal_year,
           CAST(fweek AS INTEGER) AS fiscal_week,
           CAST(fquarter AS INTEGER) AS fiscal_quarter,
           CAST((fquarter - 1) * 3
                + CASE WHEN fweek - (fquarter - 1) * 13 <= 4 THEN 1
                       WHEN fweek - (fquarter - 1) * 13 <= 8 THEN 2
                       ELSE 3 END AS INTEGER) AS fiscal_period
    FROM q
    """,
)
def fn_fiscal_445(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-4-5 fiscal calendar mapping: every order date gets its fiscal
    year (starting Feb 1), fiscal week, 13-week quarter, and the
    4-4-5 period within it — the reporting calendar retail and CPG
    warehouses actually close their books on, where "month" boundaries
    never match the Gregorian ones.

    Pure integer day arithmetic from a pinned epoch (days since the
    fiscal year's Feb 1, floor-divided into weeks, weeks banded
    4-4-5) — no engine week-numbering semantics, no locale, no
    formatting. Codegen'd projection, shuffle-free, scan-bound. The
    53rd (partial) week of long fiscal years lands in Q4/P12 by the
    clamp, matching standard 4-4-5 practice.
    """
    orders = t(spark, sf_dir, "orders")
    dt = F.col("o_orderdate").cast("date")
    fyear = F.when(F.month(dt) >= 2, F.year(dt)).otherwise(F.year(dt) - 1)
    d = orders.select(
        "o_orderkey", dt.alias("dt"), fyear.alias("fyear")
    )
    fweek = (
        F.floor(F.datediff(F.col("dt"), F.make_date("fyear", F.lit(2), F.lit(1))) / 7)
        + 1
    )
    wk = d.withColumn("fweek", fweek)
    fquarter = F.least(F.floor((F.col("fweek") - 1) / 13), F.lit(3)) + 1
    q = wk.withColumn("fquarter", fquarter)
    wk_in_q = F.col("fweek") - (F.col("fquarter") - 1) * 13
    period = (F.col("fquarter") - 1) * 3 + (
        F.when(wk_in_q <= 4, 1).when(wk_in_q <= 8, 2).otherwise(3)
    )
    return q.select(
        "o_orderkey",
        F.unix_millis(F.col("dt").cast("timestamp")).alias("date_ms"),
        F.col("fyear").cast("int").alias("fiscal_year"),
        F.col("fweek").cast("int").alias("fiscal_week"),
        F.col("fquarter").cast("int").alias("fiscal_quarter"),
        period.cast("int").alias("fiscal_period"),
    )


# ---------------------------------------------------------------------------
# ts_decompose_daily — trend / seasonal / residual decomposition
# ---------------------------------------------------------------------------


@register(
    "ts_decompose_daily",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS d,
               CAST(isodow(ts) AS INTEGER) AS dow,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), tr AS (
        SELECT d, dow, n,
               CAST(sum(n) OVER w AS BIGINT) AS wsum,
               CAST(count(*) OVER w AS BIGINT) AS wcnt
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), dw AS (
        SELECT dow, CAST(sum(n) AS BIGINT) AS dsum,
               CAST(count(*) AS BIGINT) AS dcnt
        FROM daily GROUP BY dow
    ), g AS (
        SELECT CAST(sum(n) AS BIGINT) AS gsum,
               CAST(count(*) AS BIGINT) AS gcnt
        FROM daily
    )
    SELECT epoch_ms(CAST(tr.d AS TIMESTAMP)) AS day_ms, tr.dow, tr.n,
           CAST(floor(CAST(tr.wsum AS DOUBLE) * 1000 / tr.wcnt + 0.5)
                AS BIGINT) AS trend_e3,
           CAST(floor(CAST(dw.dsum AS DOUBLE) * 1000 / dw.dcnt + 0.5)
                AS BIGINT)
               - CAST(floor(CAST(g.gsum AS DOUBLE) * 1000 / g.gcnt + 0.5)
                      AS BIGINT) AS seasonal_e3,
           tr.n * 1000
               - CAST(floor(CAST(tr.wsum AS DOUBLE) * 1000 / tr.wcnt + 0.5)
                      AS BIGINT)
               - (CAST(floor(CAST(dw.dsum AS DOUBLE) * 1000 / dw.dcnt
                       + 0.5) AS BIGINT)
                  - CAST(floor(CAST(g.gsum AS DOUBLE) * 1000 / g.gcnt
                         + 0.5) AS BIGINT)) AS residual_e3
    FROM tr JOIN dw ON tr.dow = dw.dow CROSS JOIN g
    """,
)
def ts_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the daily event series:
    trend (centered 7-day moving average), day-of-week seasonal
    component (dow mean minus grand mean), and the residual — the
    decomposition every anomaly/capacity model starts from, with all
    three components summing back to the observation by construction
    (n·1000 = trend + seasonal + residual in milli-events).

    Reduce-before-window: the raw log collapses to O(calendar) daily
    rows; the centered MA is one ordered pass over that frame (edge
    days average over their shorter window — identical frame semantics
    on both engines); the dow means are a 7-row broadcast. Every
    division is rational-over-exact-integers rendered half-up.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("d"),
        (((F.dayofweek("ts") + 5) % 7) + 1).cast("int").alias("dow"),
    ).agg(F.count("*").cast("long").alias("n"))
    w = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "dow",
        "n",
        F.sum("n").over(w).cast("long").alias("wsum"),
        F.count("*").over(w).cast("long").alias("wcnt"),
    )
    dw = daily.groupBy("dow").agg(
        F.sum("n").cast("long").alias("dsum"),
        F.count("*").cast("long").alias("dcnt"),
    )
    g = daily.agg(
        F.sum("n").cast("long").alias("gsum"),
        F.count("*").cast("long").alias("gcnt"),
    )
    trend = half_up(F.col("wsum").cast("double") * F.lit(1000) / F.col("wcnt"))
    seasonal = (
        half_up(F.col("dsum").cast("double") * F.lit(1000) / F.col("dcnt"))
        - half_up(F.col("gsum").cast("double") * F.lit(1000) / F.col("gcnt"))
    )
    return (
        tr.join(F.broadcast(dw), "dow")
        .crossJoin(F.broadcast(g))
        .select(
            F.unix_millis("d").alias("day_ms"),
            "dow",
            "n",
            trend.alias("trend_e3"),
            seasonal.alias("seasonal_e3"),
            (F.col("n") * 1000 - trend - seasonal).alias("residual_e3"),
        )
    )


# ---------------------------------------------------------------------------
# sink_dynamic_partition_overwrite — idempotent partition replace
# ---------------------------------------------------------------------------


@register(
    "sink_dynamic_partition_overwrite",
    oracle="""
    WITH final AS (
        SELECT event_type,
               CASE WHEN event_type = 'purchase' THEN value * 2
                    ELSE value END AS v
        FROM events
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(v * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM final GROUP BY event_type
    """,
)
def sink_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite: the partitioned events table is
    fully written once, then a CORRECTION batch containing ONLY the
    `purchase` partition (values doubled) is written in dynamic
    overwrite mode — replacing exactly that partition and leaving the
    other four untouched. This is the idempotent backfill/restatement
    semantics every partitioned lake table relies on: re-running a
    day's job replaces that day, never truncates the table (static
    overwrite would) and never duplicates it (append would).

    The writer-level `partitionOverwriteMode=dynamic` option scopes
    the behavior to this write (no session-level conf mutation). The
    final report re-reads the table from disk, so the oracle hash
    proves the on-disk result of the partition replace, not a plan.
    Doubling is an exact float op (×2 is a power of two), so the
    corrected cents are engine-identical.
    """
    base = scratch.call_dir("dpo_events")
    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(base)
    correction = ev.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.col("value") * 2
    )
    (
        correction.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(base)
    )
    back = read_back(spark, ev.schema, base)
    return back.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(half_up(F.col("value") * 100)).cast("long").alias("value_cents"),
    )
