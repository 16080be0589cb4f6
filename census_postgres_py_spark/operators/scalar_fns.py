"""Scalar function families (SURVEY.md §2.7).

The reference's scalar surface is trivial string/cast work during load
[PK]; breadth here is a mandated extension so the oracle queries can
exercise string/date/math/array/json/map expressions. Everything stays
JVM-side inside whole-stage codegen — no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from census_postgres_py_spark.functions.rounding import round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t


@register(
    "fn_string",
    oracle="""
    SELECT c_custkey,
           CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS cust_num,
           lower(c_mktsegment) AS seg_lower,
           CAST(length(c_name) AS BIGINT) AS name_len,
           replace(c_name, 'Customer#', 'C-') AS short_name,
           substring(c_mktsegment, 1, 4) AS seg4,
           upper(trim(c_mktsegment)) AS seg_up
    FROM customer
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: regexp_extract / lower / length / replace /
    substring / trim / upper."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", r"([0-9]+)", 1).cast("long").alias("cust_num"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.length("c_name").cast("long").alias("name_len"),
        F.replace(F.col("c_name"), F.lit("Customer#"), F.lit("C-")).alias(
            "short_name"
        ),
        F.substring("c_mktsegment", 1, 4).alias("seg4"),
        F.upper(F.trim(F.col("c_mktsegment"))).alias("seg_up"),
    )


@register(
    "fn_date",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(month(o_orderdate) AS BIGINT) AS o_month,
           CAST(dayofmonth(o_orderdate) AS BIGINT) AS o_day,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
                          DATE '2002-01-01') AS BIGINT) AS age_days,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
               AS plus3m
    FROM orders
    """,
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date family: year/month/day extraction, datediff, date_trunc,
    add_months."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("o_day"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("age_days"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.add_months(F.to_date("o_orderdate"), 3).alias("plus3m"),
    )


@register(
    "fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                 * 100 + 0.5) / 100 AS charge,
           abs(l_discount - 0.05) AS disc_dist,
           CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
           CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_k,
           round(ln(l_extendedprice + 1), 6) AS log_price,
           round(pow(l_quantity, 2), 2) AS qty_sq,
           round(sqrt(l_extendedprice), 6) AS price_sqrt
    FROM lineitem
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family: round/abs/ceil/floor/ln/pow/sqrt.

    ``charge`` is rounded as ``floor(x*100 + 0.5)/100`` on BOTH sides:
    Spark ``round(double, 2)`` rounds the decimal rendering HALF_UP
    while DuckDB rounds the binary double, and they disagree on
    half-cent boundaries — identical arithmetic sidesteps that.
    """
    li = t(spark, sf_dir, "lineitem")
    charge_raw = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        round_dp(charge_raw, 2).alias("charge"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dist"),
        F.ceil("l_quantity").cast("long").alias("qty_ceil"),
        F.floor(F.col("l_extendedprice") / 1000).cast("long").alias("price_k"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("log_price"),
        F.round(F.pow("l_quantity", F.lit(2)), 2).alias("qty_sq"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
    )


@register(
    "fn_array",
    oracle="""
    SELECT vec_id, label,
           CAST(len(embedding) AS BIGINT) AS dim,
           round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                              x -> x * x))), 6) AS l2_norm,
           round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
           round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val,
           round(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                         x -> x)) / len(embedding), 6)
               AS mean_val
    FROM embeddings
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array / higher-order family: size, aggregate (fold), transform,
    element_at, array_max — L2 norm of the embedding column computed
    entirely JVM-side (no UDF)."""
    e = t(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sq_sum = F.aggregate(
        as_double, F.lit(0.0), lambda acc, x: acc + x * x
    )
    val_sum = F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x)
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.sqrt(sq_sum), 6).alias("l2_norm"),
        F.round(F.element_at(F.col("embedding"), 1).cast("double"), 6).alias(
            "first_val"
        ),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
        F.round(val_sum / F.size("embedding"), 6).alias("mean_val"),
    )


@register(
    "fn_json",
    oracle="""
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 2)
               AS avg_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family: extract a path from the props column and aggregate
    over it (`get_json_object` is codegen'd JVM-side)."""
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 2).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.count("*").alias("n"),
    )


@register(
    "fn_map",
    oracle="""
    SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY user_id, event_type
    """,
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family round-trip: build a per-user event_type->count map
    (map_from_entries) then explode it back to rows — the final
    relation is SQL-checkable even though the intermediate is a map."""
    ev = t(spark, sf_dir, "events")
    counted = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    as_map = counted.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "cnt"))).alias(
            "type_counts"
        )
    )
    exploded = as_map.select(
        "user_id", F.explode(F.col("type_counts")).alias("event_type", "cnt")
    )
    return exploded.select("user_id", "event_type", F.col("cnt").cast("long").alias("cnt"))


@register(
    "fn_hash",
    oracle="""
    SELECT c_custkey,
           md5(c_name) AS h_md5,
           sha256(c_name) AS h_sha256
    FROM customer
    """,
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic hash family — the stable-key workhorses of a
    training pipeline (content addressing, dedup keys, split
    assignment). md5/sha256 are engine-independent bit-for-bit (unlike
    xxhash64/murmur3, whose seeds differ per engine), which is why the
    deterministic-sampling and fingerprint operators build on them.
    Pure codegen'd projection — scan-bound, no shuffle.
    """
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.md5(F.col("c_name").cast("binary")).alias("h_md5"),
        F.sha2(F.col("c_name").cast("binary"), 256).alias("h_sha256"),
    )


@register(
    "fn_nested_explode",
    oracle="""
    SELECT l_orderkey,
           CAST(row_number() OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber, l_quantity) - 1
                AS BIGINT) AS pos,
           l_linenumber, l_quantity
    FROM lineitem
    """,
)
def fn_nested_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-data round trip: pack each order's lines into a sorted
    ARRAY<STRUCT>, then posexplode back to relational rows with stable
    positions.

    This is the document/metadata data model (multimodal manifests,
    token spans, ACS cell groups) exercised end-to-end: collect_list →
    array_sort gives a deterministic nested value independent of
    partial-merge order — collect_list alone is partition-order-
    dependent and would break re-runnability at scale — and posexplode
    recovers ordinal positions without a window over the full table.
    One shuffle (the groupBy); the explode is pipeline-local.
    """
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    nested = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(F.struct("l_linenumber", "l_quantity"))
        ).alias("lines")
    )
    return nested.select(
        "l_orderkey", F.posexplode("lines").alias("pos", "line")
    ).select(
        "l_orderkey",
        F.col("pos").cast("long").alias("pos"),
        F.col("line.l_linenumber").alias("l_linenumber"),
        F.col("line.l_quantity").alias("l_quantity"),
    )


@register(
    "fn_variant_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def fn_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via Spark 4's VARIANT type: `parse_json`
    once into a binary-encoded variant, then typed `variant_get` path
    extraction — the open-lakehouse answer to "JSON strings re-parsed
    by every query". At 100 TB the variant parse happens once at ingest
    and lands in parquet; every downstream extraction is a binary path
    walk, not a string re-parse (fn_json keeps the classic
    get_json_object path for comparison).
    """
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.variant_get(F.parse_json("props"), "$.k", "long").alias("k"),
    )


@register(
    "fn_xml_parse",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    """,
)
def fn_xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML parsing (Spark 4 `from_xml`): render each order as an
    XML record and parse it back with an explicit schema — the
    feed-ingestion shape for the XML half of enterprise data exchange
    (the scan side of spark-xml, expression-level). Values are chosen
    XML-safe (keys, single-char status, numeric price); hash-equality
    with the source row (the oracle) proves the round trip is lossless
    including the double.
    """
    o = t(spark, sf_dir, "orders")
    xml = F.concat(
        F.lit("<o><k>"), F.col("o_orderkey").cast("string"),
        F.lit("</k><s>"), F.col("o_orderstatus"),
        F.lit("</s><p>"), F.col("o_totalprice").cast("string"),
        F.lit("</p></o>"),
    )
    parsed = o.select(
        F.from_xml(xml, "k BIGINT, s STRING, p DOUBLE").alias("r")
    )
    return parsed.select(
        F.col("r.k").alias("o_orderkey"),
        F.col("r.s").alias("o_orderstatus"),
        F.col("r.p").alias("o_totalprice"),
    )


@register(
    "fn_try_arith",
    oracle="""
    SELECT c_custkey,
           try_cast(c_name AS BIGINT) AS name_as_int,
           try_cast(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT)
               AS cust_num,
           CASE WHEN c_nationkey = 0 THEN NULL
                ELSE floor(c_acctbal / c_nationkey * 10000 + 0.5) / 10000
           END AS bal_per_nation
    FROM customer
    """,
)
def fn_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic (`try_cast` / `try_divide`): malformed
    input becomes NULL instead of killing the job — jam-value handling
    generalized to every cast and every division. ANSI mode on a real
    cluster turns silent garbage into exceptions; the try_* family is
    how a 100 TB load keeps ANSI strictness AND survives dirty rows.
    """
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.expr("try_cast(c_name AS BIGINT)").alias("name_as_int"),
        F.expr(
            "try_cast(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT)"
        ).alias("cust_num"),
        round_dp(
            F.try_divide(F.col("c_acctbal"), F.col("c_nationkey")), 4
        ).alias("bal_per_nation"),
    )


@register(
    "fn_url_parse",
    oracle="""
    SELECT doc_id,
           source || '.example.com' AS host,
           '/docs/' || CAST(doc_id AS VARCHAR) AS path,
           'lang=' || lang AS query,
           lang AS lang_param
    FROM documents
    """,
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition with `parse_url` (HOST / PATH / QUERY /
    QUERY:key) — the first transform of every web-crawl pipeline
    (canonicalization, domain-level dedup, robots bucketing). URLs are
    synthesized from document metadata, so the oracle can state the
    expected parts by construction — the check proves Spark's parser
    splits exactly where the spec says.
    """
    d = t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


@register(
    "fn_format",
    oracle="""
    SELECT c_custkey,
           'b01001' || lpad(CAST(c_custkey % 49 + 1 AS VARCHAR), 3, '0')
               AS acs_cell_id,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
           concat_ws('|', c_mktsegment, CAST(c_nationkey AS VARCHAR))
               AS composite,
           printf('%.1f', round(c_acctbal, 1)) AS bal_1dp
    FROM customer
    """,
)
def fn_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendering family (lpad / concat_ws / format_string) building
    ACS-style zero-padded cell identifiers — the reference generates
    column names like `b01001001` by padding cell ordinals exactly
    this way [PK], so this is the naming half of its metadata-driven
    schema machinery as expressions. `round(x,1)` before printf keeps
    the rendered decimal identical on both engines.
    """
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat(
            F.lit("b01001"),
            F.lpad((F.col("c_custkey") % 49 + 1).cast("string"), 3, "0"),
        ).alias("acs_cell_id"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.concat_ws(
            "|", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")
        ).alias("composite"),
        F.format_string("%.1f", F.round("c_acctbal", 1)).alias("bal_1dp"),
    )


_AES_KEY = "0123456789abcdef"  # 16-byte demo key; prod: KMS-managed


@register(
    "fn_crypto_roundtrip",
    oracle="SELECT c_custkey, c_name AS name_back FROM customer",
)
def fn_crypto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption (`aes_encrypt`/`aes_decrypt`) — the PII
    column protected at rest while the rest of the row stays queryable.
    ECB mode on purpose: GCM (the default) salts a random IV per call,
    which is stronger but NON-deterministic — a re-run would produce
    different bytes and break re-runnable pipelines and equality joins
    on encrypted columns; deterministic encryption is the standard
    trade for joinable pseudonymized keys. The oracle checks the
    decrypt(encrypt(x)) == x law; the test additionally pins that the
    ciphertext differs from the plaintext.
    """
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.expr(
            f"CAST(aes_decrypt(aes_encrypt(c_name, '{_AES_KEY}', 'ECB'),"
            f" '{_AES_KEY}', 'ECB') AS STRING)"
        ).alias("name_back"),
    )
