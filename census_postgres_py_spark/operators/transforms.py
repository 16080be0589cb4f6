"""Projection / filter / scalar transforms (SURVEY.md §2.2).

Reference behavior re-expressed: the reference's load stage slices wide
ACS sequence rows into coded column names (``b01001001``…), filters to
chosen states/summary-levels, normalizes jam values to NULL, casts text
cells to numerics, and builds ``geoid`` surrogate keys [PK — SURVEY.md
§1.1; no file:line possible, reference checkout empty]. Each is a pure
Catalyst projection/filter here — pushed into the parquet scan, no
shuffle, whole-stage-codegen'd, so all of these are scan-bound at any
scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from census_postgres_py_spark.functions.rounding import round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t


@register(
    "project_rename",
    oracle="""
    SELECT l_orderkey AS c001, l_linenumber AS c002, l_quantity AS c003,
           l_extendedprice AS c004, l_discount AS c005, l_returnflag AS c006
    FROM lineitem
    """,
)
def project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional -> coded column names (ACS ``b01001001`` style).

    Column pruning means only the six referenced columns are read from
    parquet — the reference's manual column slicing is free here.
    """
    li = t(spark, sf_dir, "lineitem")
    coded = ["c001", "c002", "c003", "c004", "c005", "c006"]
    src = [
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_returnflag",
    ]
    return li.select(*[F.col(s).alias(c) for s, c in zip(src, coded)])


@register(
    "filter_pred",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           l_discount, CAST(l_shipdate AS DATE) AS ship_day
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row predicate (the reference's state / SUMLEVEL selection analog).

    Both conjuncts are Parquet-pushed (`PushedFilters` in explain) —
    at 100 TB this prunes row groups before any CPU is spent.
    """
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        F.to_date("l_shipdate").alias("ship_day"),
    )


@register(
    "filter_in_set",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    WHERE n_name IN ('NATION_2', 'NATION_7', 'NATION_11', 'NATION_19',
                     'NATION_23')
    """,
)
def filter_in_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership filter (the reference's chosen-states list).

    Names are the synthetic fixture's actual nation names so the query
    returns non-empty results — a 0-row hash match proves nothing."""
    chosen = ["NATION_2", "NATION_7", "NATION_11", "NATION_19", "NATION_23"]
    return (
        t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(chosen))
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@register(
    "null_normalize",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           coalesce(nullif(l_discount, 0.0), -1.0) AS disc_n,
           CASE WHEN l_tax = 0.0 THEN NULL ELSE l_tax END AS tax_n
    FROM lineitem
    """,
)
def null_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentinel -> NULL normalization (ACS jam values -> SQL NULL).

    The reference maps '.'-coded suppressed cells to NULL at load time
    [PK]; here it is `nullif`/`when` + `coalesce` defaults.
    """
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(F.nullif(F.col("l_discount"), F.lit(0.0)), F.lit(-1.0)).alias(
            "disc_n"
        ),
        F.when(F.col("l_tax") == 0.0, F.lit(None).cast("double"))
        .otherwise(F.col("l_tax"))
        .alias("tax_n"),
    )


@register(
    "cast_types",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(trunc(l_quantity) AS INTEGER) AS qty_int,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_day_str,
           CAST(trunc(l_extendedprice) AS BIGINT) AS price_long
    FROM lineitem
    """,
)
def cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text/numeric casts during load (sequence-file cell typing [PK]).

    Spark ``CAST(double AS INT)`` truncates toward zero; DuckDB's
    rounds to nearest — the oracle pins truncation explicitly with
    ``trunc()`` so both sides share one semantic."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("int").alias("qty_int"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day_str"),
        F.col("l_extendedprice").cast("long").alias("price_long"),
    )


@register(
    "surrogate_key",
    oracle="""
    SELECT c_custkey,
           c_mktsegment || '-' || lpad(CAST(c_custkey AS VARCHAR), 8, '0')
               AS seg_key,
           format('{:06d}', c_nationkey) AS geoid6
    FROM customer
    """,
)
def surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`geoid`-style surrogate key by concat/zero-pad (the reference
    builds geoid from SUMLEVEL+COMPONENT+STUSAB+LOGRECNO [PK])."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat_ws(
            "-", F.col("c_mktsegment"), F.lpad(F.col("c_custkey").cast("string"), 8, "0")
        ).alias("seg_key"),
        F.format_string("%06d", F.col("c_nationkey")).alias("geoid6"),
    )


@register(
    "case_when",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                WHEN o_totalprice < 150000 THEN 'mid'
                ELSE 'high' END AS price_band,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY 1
    """,
)
def case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional recode (the reference's component/summary-level
    recodes [PK]) + hash agg over the recode."""
    o = t(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
    )
    return (
        o.select(band.alias("price_band"), "o_totalprice")
        .groupBy("price_band")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "transform_impute_mean",
    oracle="""
    WITH masked AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_custkey % 11 = 0 THEN NULL
                    ELSE c_acctbal END AS bal
        FROM customer
    ), seg AS (
        SELECT c_mktsegment,
               floor(avg(bal) * 100 + 0.5) / 100 AS seg_mean
        FROM masked GROUP BY c_mktsegment
    )
    SELECT m.c_custkey, m.c_mktsegment,
           coalesce(m.bal, s.seg_mean) AS bal_imputed,
           CASE WHEN m.bal IS NULL THEN true ELSE false END AS was_imputed
    FROM masked m JOIN seg s USING (c_mktsegment)
    """,
)
def transform_impute_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean imputation: NULL balances (masked here on a
    deterministic key rule to create the holes) are filled with their
    market segment's mean, plus a was_imputed audit flag.

    The data-prep staple before any ML feature export. The mean table
    is |segments| rows — it computes in one combinable agg pass and
    BROADCASTS back, so imputation costs one scan + one map-side join
    at any corpus size (never a shuffle of the fact side). The mean is
    rounded once, identically on both engines, so the filled value is
    bit-stable for downstream fingerprinting.
    """
    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("c_custkey") % 11 == 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    seg = c.groupBy("c_mktsegment").agg(
        round_dp(F.avg("bal"), 2).alias("seg_mean")
    )
    out = c.join(F.broadcast(seg), "c_mktsegment")
    return out.select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce("bal", "seg_mean").alias("bal_imputed"),
        F.col("bal").isNull().alias("was_imputed"),
    )
