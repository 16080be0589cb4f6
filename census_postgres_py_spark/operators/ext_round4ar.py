"""Round-4ar extension operators (SURVEY.md §2.58).

Process-control, identity-minting and apportionment reads: Western
Electric control-chart rules (the SPC screen run on every
manufacturing and SLO dashboard — done with FULLY integer sigma
tests), deterministic UUIDv3 minting (stable surrogate identifiers
from md5, bit-twiddled to a spec-correct UUID), and
largest-remainder apportionment (Hamilton's method — allocate a
capped capacity across orders so the parts sum EXACTLY to the cap).

Contract discipline identical to the other extension modules: the
sigma rules cross-multiply so no sqrt or float enters a decision,
the UUID is pure string/hex surgery, and apportionment is integer
floor-division plus a remainder-ranked top-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

_D38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# agg_spc_rules — Western Electric rules with integer sigma tests
# ---------------------------------------------------------------------------


@register(
    "agg_spc_rules",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        FROM daily GROUP BY event_type
    ), flagged AS (
        SELECT daily.event_type, daily.d, daily.x,
               CASE WHEN CAST(s.n * daily.x - s.sx AS DOUBLE)
                         * CAST(s.n * daily.x - s.sx AS DOUBLE)
                         * (s.n - 1)
                    > 9.0 * s.n * CAST(s.n * s.sxx - s.sx * s.sx
                                       AS DOUBLE)
                    THEN 1 ELSE 0 END AS beyond3,
               CASE WHEN CAST(s.n * daily.x - s.sx AS DOUBLE)
                         * CAST(s.n * daily.x - s.sx AS DOUBLE)
                         * (s.n - 1)
                    > 4.0 * s.n * CAST(s.n * s.sxx - s.sx * s.sx
                                       AS DOUBLE)
                    THEN CASE WHEN s.n * daily.x - s.sx > 0
                         THEN 1 ELSE -1 END ELSE 0 END AS side2
        FROM daily JOIN s ON s.event_type = daily.event_type
    ), ruled AS (
        SELECT event_type, d, beyond3,
               CASE WHEN abs(side2
                    + lag(side2, 1, 0) OVER w
                    + lag(side2, 2, 0) OVER w) >= 2
                    AND side2 <> 0 THEN 1 ELSE 0 END AS rule2
        FROM flagged
        WINDOW w AS (PARTITION BY event_type ORDER BY d)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(beyond3) AS BIGINT) AS rule1_hits,
           CAST(sum(rule2) AS BIGINT) AS rule2_hits
    FROM ruled GROUP BY event_type
    """,
)
def agg_spc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Western Electric SPC screen on daily revenue: rule 1 (a point
    beyond 3σ) and rule 2 (2 of 3 consecutive points beyond 2σ on
    the same side) — the control-chart alarms manufacturing and SRE
    dashboards both run.

    No sqrt ever enters a decision: "x beyond kσ" cross-multiplies
    to (n·x − Σx)²·(n−1) > k²·n·(n·Σx² − (Σx)²) — exact integer
    operands compared in identically-written doubles. Rule 2 is one
    lag window over the daily frame using a signed ±1 side marker
    (|side + lag1 + lag2| ≥ 2 ⟺ two of three on one side). In-
    control fixture → near-zero hits, the honest answer.
    """
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").alias("d"),
        )
        .agg(
            F.sum(half_up(F.col("value") * 100)).cast("long").alias("x")
        )
    )
    s = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast(_D38)).alias("sx"),
        F.sum(F.col("x").cast(_D38) * F.col("x").cast(_D38)).alias(
            "sxx"
        ),
    )
    j = daily.join(F.broadcast(s), "event_type")
    dev = (F.col("n") * F.col("x") - F.col("sx")).cast("double")
    var_n = (
        F.col("n").cast(_D38) * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    lhs = dev * dev * (F.col("n") - 1)
    beyond3 = F.when(lhs > 9.0 * F.col("n") * var_n, 1).otherwise(0)
    side2 = F.when(
        lhs > 4.0 * F.col("n") * var_n,
        F.when(F.col("n") * F.col("x") - F.col("sx") > 0, 1).otherwise(
            -1
        ),
    ).otherwise(0)
    flagged = j.select(
        "event_type",
        "d",
        beyond3.alias("beyond3"),
        side2.alias("side2"),
    )
    w = Window.partitionBy("event_type").orderBy("d")
    ruled = flagged.select(
        "event_type",
        "beyond3",
        F.when(
            (
                F.abs(
                    F.col("side2")
                    + F.lag("side2", 1, 0).over(w)
                    + F.lag("side2", 2, 0).over(w)
                )
                >= 2
            )
            & (F.col("side2") != 0),
            1,
        )
        .otherwise(0)
        .alias("rule2"),
    )
    return ruled.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("beyond3").cast("long").alias("rule1_hits"),
        F.sum("rule2").cast("long").alias("rule2_hits"),
    )


# ---------------------------------------------------------------------------
# fn_uuid3_mint — deterministic namespaced surrogate UUIDs
# ---------------------------------------------------------------------------

_NS = "census-spark:order:"


@register(
    "fn_uuid3_mint",
    oracle=f"""
    WITH h AS (
        SELECT o_orderkey,
               md5('{_NS}' || CAST(o_orderkey AS VARCHAR)) AS hex
        FROM orders
    )
    SELECT o_orderkey,
           substring(hex, 1, 8) || '-' || substring(hex, 9, 4) || '-'
           || '3' || substring(hex, 14, 3) || '-'
           || CASE CAST(('0x' || substring(hex, 17, 1)) AS BIGINT) % 4
                  WHEN 0 THEN '8' WHEN 1 THEN '9'
                  WHEN 2 THEN 'a' ELSE 'b' END
           || substring(hex, 18, 3) || '-' || substring(hex, 21, 12)
               AS order_uuid
    FROM h
    """,
)
def fn_uuid3_mint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic UUIDv3 per order from a namespace + key —
    stable surrogate identifiers (same input mints the same UUID on
    every engine and every run, unlike uuid()), with the version
    nibble forced to 3 and the variant nibble folded into 8/9/a/b
    exactly as RFC 4122 prescribes.

    Pure md5 + hex surgery in one codegen'd projection — the pattern
    that lets two independent systems mint IDENTICAL ids for the
    same business key without coordinating, which is the whole point
    of name-based UUIDs in data integration.
    """
    hexc = F.md5(
        F.concat(F.lit(_NS), F.col("o_orderkey").cast("string"))
    )
    variant = (
        F.conv(F.substring(hexc, 17, 1), 16, 10).cast("long") % 4
    )
    variant_c = (
        F.when(variant == 0, "8")
        .when(variant == 1, "9")
        .when(variant == 2, "a")
        .otherwise("b")
    )
    uuid = F.concat(
        F.substring(hexc, 1, 8),
        F.lit("-"),
        F.substring(hexc, 9, 4),
        F.lit("-3"),
        F.substring(hexc, 14, 3),
        F.lit("-"),
        variant_c,
        F.substring(hexc, 18, 3),
        F.lit("-"),
        F.substring(hexc, 21, 12),
    )
    return t(spark, sf_dir, "orders").select(
        "o_orderkey", uuid.alias("order_uuid")
    )


# ---------------------------------------------------------------------------
# join_apportion_capacity — Hamilton largest-remainder allocation
# ---------------------------------------------------------------------------


@register(
    "join_apportion_capacity",
    oracle="""
    WITH o AS (
        SELECT o_orderkey,
               date_trunc('week', o_orderdate) AS wk,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ), caps AS (
        SELECT wk, CAST(sum(cents) AS BIGINT) AS demand,
               CAST(sum(cents) * 8 // 10 AS BIGINT) AS cap
        FROM o GROUP BY wk
    ), base AS (
        SELECT o.o_orderkey, o.wk, o.cents, caps.cap, caps.demand,
               CAST(CAST(o.cents AS HUGEINT) * caps.cap
                    // caps.demand AS BIGINT) AS floor_alloc,
               CAST(CAST(o.cents AS HUGEINT) * caps.cap
                    % caps.demand AS BIGINT) AS rem
        FROM o JOIN caps USING (wk)
    ), ranked AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY wk ORDER BY rem DESC, o_orderkey) AS rr,
               CAST(cap - sum(floor_alloc) OVER (PARTITION BY wk)
                    AS BIGINT) AS shortfall
        FROM base
    )
    SELECT o_orderkey,
           epoch_ms(CAST(wk AS TIMESTAMP)) AS week_ms,
           cents,
           CAST(floor_alloc + CASE WHEN rr <= shortfall THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_cents
    FROM ranked
    """,
)
def join_apportion_capacity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment: each week's
    capacity is 80% of demand, split across orders proportionally —
    integer floor shares first, then the shortfall goes one cent at
    a time to the largest remainders, so Σ allocations == capacity
    EXACTLY (pinned by tests). The same algorithm that apportions
    parliament seats, ad budgets and fill-rates; naive proportional
    rounding never balances.

    Quota arithmetic is integer throughout (cents·cap div demand in
    decimal128 — no float quota); the remainder rank and the
    shortfall are one window pass per week, orderkey tiebreak.
    """
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_trunc("week", "o_orderdate").alias("wk"),
        half_up(F.col("o_totalprice") * 100).alias("cents"),
    )
    caps = o.groupBy("wk").agg(
        F.sum("cents").cast("long").alias("demand"),
        F.expr("sum(cents) * 8 div 10").cast("long").alias("cap"),
    )
    base = o.join(caps, "wk").select(
        "o_orderkey",
        "wk",
        "cents",
        "cap",
        "demand",
        (F.col("cents").cast(_D38) * F.col("cap").cast(_D38))
        .cast(_D38)
        .alias("prod"),
    )
    base = base.select(
        "o_orderkey",
        "wk",
        "cents",
        "cap",
        F.expr("prod div demand").cast("long").alias("floor_alloc"),
        (F.col("prod") % F.col("demand")).cast("long").alias("rem"),
    )
    w_rank = Window.partitionBy("wk").orderBy(
        F.col("rem").desc(), F.col("o_orderkey")
    )
    w_all = Window.partitionBy("wk")
    # pin the per-week window stage's parallelism: the compact base
    # frame's exchange otherwise AQE-coalesces to one task (the
    # single-task disease, BASELINE.md r6 continuation); the explicit
    # hash repartition on the window key is exempt and serves both
    # windows with no second exchange
    base = base.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "wk"
    )
    ranked = base.select(
        "o_orderkey",
        "wk",
        "cents",
        "floor_alloc",
        F.row_number().over(w_rank).alias("rr"),
        (F.col("cap") - F.sum("floor_alloc").over(w_all))
        .cast("long")
        .alias("shortfall"),
    )
    return ranked.select(
        "o_orderkey",
        F.unix_millis(F.col("wk")).alias("week_ms"),
        "cents",
        (
            F.col("floor_alloc")
            + F.when(F.col("rr") <= F.col("shortfall"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_cents"),
    )
