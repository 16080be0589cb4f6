"""Round-4j extension operators (SURVEY.md §2.24).

Warehouse-modeling reads: bridge-table allocation (the Kimball
many-to-many revenue split that avoids double counting), session path
signatures (the ordered-journey fingerprint behind path analysis), and
deterministic PII masking (referentially-stable dev-copy
anonymization).

Contract discipline identical to the other extension modules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from census_postgres_py_spark.functions.rounding import cents
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import gated_broadcast, t


# ---------------------------------------------------------------------------
# join_bridge_allocation — many-to-many revenue allocation
# ---------------------------------------------------------------------------


@register(
    "join_bridge_allocation",
    oracle="""
    WITH lines AS (
        SELECT l_orderkey, l_partkey,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS lc
        FROM lineitem
    ), ord AS (
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS oc
        FROM orders
    ), tot AS (
        SELECT l_orderkey, CAST(sum(lc) AS BIGINT) AS tc
        FROM lines GROUP BY 1
    ), alloc AS (
        SELECT l.l_partkey,
               CAST(floor(CAST(o.oc AS DOUBLE) * l.lc / t.tc) AS BIGINT)
                   AS ac
        FROM lines l
        JOIN ord o ON l.l_orderkey = o.o_orderkey
        JOIN tot t ON l.l_orderkey = t.l_orderkey
    )
    SELECT p.p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(a.ac) AS BIGINT) AS allocated_cents
    FROM alloc a JOIN part p ON a.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def join_bridge_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bridge-table allocation: order-header revenue is split across
    the order's line items proportionally to line value (floor'd
    integer cents — deterministic, remainder stays at the header), and
    the allocated amounts roll up per brand. This is the Kimball
    many-to-many bridge pattern — the only way to attribute a
    header-level measure through a bridge WITHOUT double counting it
    once per line.

    All three fact-side frames (lines, headers, per-order totals)
    partition on the order key, so both joins are co-partitioned — at
    scale one shuffle each side, reused across the pair; the brand dim
    broadcasts. The allocation is floor(oc·lc/tc) over exact integers
    (products ≤ ~5e14, inside double's 2^53 exact range at any tested
    sf; decimal(38,0) is the >petabyte form).
    """
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", cents(F.col("l_extendedprice")).alias("lc")
    )
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        cents(F.col("o_totalprice")).alias("oc"),
    )
    tot = li.groupBy("l_orderkey").agg(F.sum("lc").cast("long").alias("tc"))
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    alloc = (
        li.join(orders, "l_orderkey")
        .join(tot, "l_orderkey")
        .select(
            "l_partkey",
            F.floor(F.col("oc").cast("double") * F.col("lc") / F.col("tc"))
            .cast("long")
            .alias("ac"),
        )
    )
    return (
        alloc.join(gated_broadcast(spark, sf_dir, "part", part), alloc.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum("ac").cast("long").alias("allocated_cents"),
        )
    )


# ---------------------------------------------------------------------------
# agg_path_signatures — ordered-journey fingerprints
# ---------------------------------------------------------------------------


@register(
    "agg_path_signatures",
    oracle="""
    WITH paths AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM events GROUP BY 1, 2
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_journeys
    FROM paths GROUP BY path
    ORDER BY n_journeys DESC, path
    LIMIT 20
    """,
)
def agg_path_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path signatures: each (user, day) journey collapses to
    its ordered event-type string ("view>view>purchase"), and the
    top-20 most common journeys surface — the path-analysis read
    behind funnel discovery and bot-pattern detection (a bot's journey
    repeats exactly; humans straggle).

    The ordered collapse is collect_list of (ts, event_id, type)
    structs + array_sort — a total (ts, event_id) order makes the
    path deterministic at any partitioning; DuckDB's ORDER BY inside
    string_agg states the same contract. One shuffle on the journey
    key, then the path rollup is combinable into a tiny frame;
    TakeOrderedAndProject keeps the top 20 with a path tiebreak. Paths
    are day-bounded so no journey string grows unbounded.
    """
    ev = t(spark, sf_dir, "events")
    sig = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s.event_type,
        ),
        ">",
    )
    paths = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(sig.alias("path"))
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_journeys"))
        .orderBy(F.col("n_journeys").desc(), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# transform_mask_deterministic — referentially-stable anonymization
# ---------------------------------------------------------------------------


@register(
    "transform_mask_deterministic",
    oracle="""
    SELECT c_custkey,
           'Customer#' || substr(md5(c_name), 1, 8) AS masked_name,
           c_nationkey,
           c_mktsegment,
           CAST(floor(c_acctbal / 100) AS BIGINT) * 100
               AS acctbal_bucket
    FROM customer
    """,
)
def transform_mask_deterministic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic PII masking for dev/test copies: names become
    hash-derived tokens (SAME input → SAME mask, so joins and
    group-bys still line up across masked tables — the property naive
    random masking destroys), balances generalize to 100-unit buckets
    (k-anonymity-style), and non-identifying analytics columns pass
    through. `text_pii_redact` removes PII from free text; this masks
    STRUCTURED identifiers while preserving referential behavior.

    Pure codegen'd projection — md5 + substring + floor arithmetic,
    shuffle-free, scan-bound at any scale. The mask is keyless here;
    production would concat a secret salt inside the hash (same plan
    shape, one extra literal).
    """
    cust = t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.concat(F.lit("Customer#"), F.substring(F.md5("c_name"), 1, 8)).alias(
            "masked_name"
        ),
        "c_nationkey",
        "c_mktsegment",
        (F.floor(F.col("c_acctbal") / 100).cast("long") * 100).alias(
            "acctbal_bucket"
        ),
    )
