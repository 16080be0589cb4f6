"""Round-4ai extension operators (SURVEY.md §2.49).

FP&A decomposition, coordinated sampling and class rebalancing:
the price-volume-mix bridge (why did revenue change — the waterfall
between two fiscal years), consistent cross-table sampling (the
same entities sampled in EVERY table, the property ad-hoc
`TABLESAMPLE` can never give you), and class-balanced downsampling
(equal rows per label via deterministic hash ranking — the
rebalancing step before training on skewed labels).

Contract discipline identical to the other extension modules:
bridge terms floor to cents per part before brand sums and the
decomposition identity (price + volume + cross = matched ΔR) is
pinned by tests; sampling membership derives from md5 bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import gated_broadcast, t

_D38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# agg_pvm_bridge — price / volume / cross revenue decomposition
# ---------------------------------------------------------------------------

_Y0, _Y1 = 1997, 1998


@register(
    "agg_pvm_bridge",
    oracle=f"""
    WITH py AS (
        SELECT p.p_brand AS brand, l.l_partkey AS part,
               CAST(year(l.l_shipdate) AS BIGINT) AS y,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS cents,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE year(l.l_shipdate) IN ({_Y0}, {_Y1})
        GROUP BY 1, 2, 3
    ), matched AS (
        SELECT a.brand, a.part,
               a.cents AS c0, a.qty AS q0, b.cents AS c1, b.qty AS q1
        FROM py a JOIN py b
          ON b.part = a.part AND a.y = {_Y0} AND b.y = {_Y1}
    ), terms AS (
        SELECT brand,
               c1 - c0 AS dr,
               CAST(floor((CAST(c1 AS DOUBLE) / q1
                           - CAST(c0 AS DOUBLE) / q0) * q0 + 0.5)
                    AS BIGINT) AS price_c,
               CAST(floor(CAST(c0 AS DOUBLE) / q0 * (q1 - q0) + 0.5)
                    AS BIGINT) AS volume_c
        FROM matched
    )
    SELECT brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(dr) AS BIGINT) AS delta_cents,
           CAST(sum(price_c) AS BIGINT) AS price_effect_c,
           CAST(sum(volume_c) AS BIGINT) AS volume_effect_c,
           CAST(sum(dr) - sum(price_c) - sum(volume_c) AS BIGINT)
               AS cross_effect_c
    FROM terms GROUP BY brand
    """,
)
def agg_pvm_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix bridge per brand between 1997 and 1998:
    matched-part revenue change split into price effect
    ((p₁−p₀)·q₀), volume effect (p₀·Δq) and the cross/mix residual —
    the FP&A waterfall that answers "did we sell more, or just
    charge more?". The residual is defined as ΔR − price − volume,
    so the decomposition sums EXACTLY by construction and the tests
    pin it.

    Part-year frames reduce first (one combinable pass, pushed year
    filter); the match is a self-join on part between the two years;
    unit prices stay rational until one floored-to-cents term per
    part. Brand sums are exact integer aggregations.
    """
    py = (
        t(spark, sf_dir, "lineitem")
        .filter(F.year("l_shipdate").isin(_Y0, _Y1))
        .join(
            gated_broadcast(
                spark, sf_dir, "part",
                t(spark, sf_dir, "part").select("p_partkey", "p_brand"),
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("l_partkey").alias("part"),
            F.year("l_shipdate").cast("long").alias("y"),
        )
        .agg(
            F.sum(half_up(F.col("l_extendedprice") * 100))
            .cast("long")
            .alias("cents"),
            F.sum(F.col("l_quantity").cast("long"))
            .cast("long")
            .alias("qty"),
        )
    )
    a = py.filter(F.col("y") == _Y0).select(
        "brand",
        "part",
        F.col("cents").alias("c0"),
        F.col("qty").alias("q0"),
    )
    b = py.filter(F.col("y") == _Y1).select(
        F.col("part").alias("bpart"),
        F.col("cents").alias("c1"),
        F.col("qty").alias("q1"),
    )
    matched = a.join(b, a["part"] == b["bpart"])
    p0 = F.col("c0").cast("double") / F.col("q0")
    p1 = F.col("c1").cast("double") / F.col("q1")
    terms = matched.select(
        "brand",
        (F.col("c1") - F.col("c0")).alias("dr"),
        half_up((p1 - p0) * F.col("q0")).alias("price_c"),
        half_up(p0 * (F.col("q1") - F.col("q0"))).alias("volume_c"),
    )
    return terms.groupBy("brand").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("dr").cast("long").alias("delta_cents"),
        F.sum("price_c").cast("long").alias("price_effect_c"),
        F.sum("volume_c").cast("long").alias("volume_effect_c"),
        (F.sum("dr") - F.sum("price_c") - F.sum("volume_c"))
        .cast("long")
        .alias("cross_effect_c"),
    )


# ---------------------------------------------------------------------------
# fn_consistent_sampling — the same entities sampled in every table
# ---------------------------------------------------------------------------

_SAMPLE_PCT = 20  # keep users whose md5 bucket < 20 of 100


def _keep_sql(col: str) -> str:
    return (
        f"CAST(('0x' || substring(md5(CAST({col} AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % 100 < {_SAMPLE_PCT}"
    )


@register(
    "fn_consistent_sampling",
    oracle=f"""
    WITH o_keep AS (
        SELECT DISTINCT o_custkey AS k FROM orders
        WHERE {_keep_sql("o_custkey")}
    ), e_keep AS (
        SELECT DISTINCT user_id AS k FROM events
        WHERE {_keep_sql("user_id")}
    ), o_all AS (
        SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n FROM orders
    ), e_all AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM events
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM o_keep) AS n_orders_keys,
           (SELECT CAST(count(*) AS BIGINT) FROM e_keep) AS n_events_keys,
           (SELECT CAST(count(*) AS BIGINT)
            FROM e_keep WHERE k IN (SELECT k FROM o_keep)
              AND k IN (SELECT DISTINCT o_custkey FROM orders))
               AS n_shared_sampled,
           (SELECT CAST(count(*) AS BIGINT)
            FROM e_keep WHERE k IN (SELECT DISTINCT o_custkey FROM orders)
              AND k NOT IN (SELECT k FROM o_keep)) AS n_inconsistent,
           o_all.n AS n_orders_total, e_all.n AS n_events_total
    FROM o_all CROSS JOIN e_all
    """,
)
def fn_consistent_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coordinated 20% entity sample across TWO tables: the same
    md5-bucket rule keeps a user in orders iff it keeps them in
    events, so joins on the sample still work — the property random
    TABLESAMPLE destroys (its samples don't intersect, orphaning
    every joined row). n_inconsistent counts sampled event-users
    that exist in orders but were NOT sampled there — ZERO by
    construction, and the hash-checked proof of coordination.

    Membership is a codegen'd md5 projection; because the keep rule is
    a pure function of the KEY VALUE, it evaluates on the distinct key
    frames (one distinct per table — strictly fewer md5 evaluations
    than the per-row filter, same surviving key set), and all six
    audit counts fold into ONE full-outer join of the two flagged key
    sets + ONE multi-aggregate (r13, the dq_fk_inference restructure:
    the former 2 semi-joins + 1 anti-join + 6 scalar aggs cross-joined
    ran 18 exec jobs at AQE stage granularity; the join on k reuses
    the distincts' exchanges, so this is 2 distinct shuffles + 1
    single-row agg). Flag algebra per key: keep flags agree across
    tables by construction, o_keep ⊆ o_all, NULL flags on the
    unmatched side drop out of every sum exactly like the old joins
    dropped unmatched keys.
    """
    keep_flag = lambda c: (  # noqa: E731
        (
            F.conv(F.substring(F.md5(F.col(c).cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 100
            < _SAMPLE_PCT
        ).cast("int")
    )
    o = t(spark, sf_dir, "orders")
    e = t(spark, sf_dir, "events")
    o_flags = (
        o.select(F.col("o_custkey").alias("k"))
        .distinct()
        .select("k", F.lit(1).alias("oa"), keep_flag("k").alias("ok"))
    )
    e_flags = (
        e.select(F.col("user_id").alias("k"))
        .distinct()
        .select("k", F.lit(1).alias("ea"), keep_flag("k").alias("ek"))
    )
    cnt = lambda col, name: (  # noqa: E731
        F.coalesce(F.sum(col), F.lit(0)).cast("long").alias(name)
    )
    return o_flags.join(e_flags, "k", "full_outer").agg(
        cnt(F.col("ok"), "n_orders_keys"),
        cnt(F.col("ek"), "n_events_keys"),
        cnt(F.col("ek") * F.col("ok"), "n_shared_sampled"),
        cnt(F.col("ek") * (F.col("oa") - F.col("ok")), "n_inconsistent"),
        cnt(F.col("oa"), "n_orders_total"),
        cnt(F.col("ea"), "n_events_total"),
    )


# ---------------------------------------------------------------------------
# sample_balanced_classes — equal rows per label by hash rank
# ---------------------------------------------------------------------------

_PER_CLASS = 30


@register(
    "sample_balanced_classes",
    oracle=f"""
    WITH ranked AS (
        SELECT vec_id, label,
               row_number() OVER (
                   PARTITION BY label
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM embeddings
    )
    SELECT label, vec_id, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {_PER_CLASS}
    """,
)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsample: exactly min(n_label, 30) rows per
    label, chosen by md5 order — the rebalancing step before
    training on skewed labels, REPRODUCIBLE across engines and
    reruns (the md5 rank is a deterministic shuffle; `ORDER BY
    rand()` samples differently every run and every engine).

    One rank window per label over (md5, id) — a WindowGroupLimit,
    so only each label's head ever materializes; no global sort, no
    driver-side sampling state.
    """
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PER_CLASS)
        .select("label", "vec_id", F.col("rn").cast("long").alias("rn"))
    )
