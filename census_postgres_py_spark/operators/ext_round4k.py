"""Round-4k extension operators (SURVEY.md §2.25).

ML-encoding and governance reads: leave-one-out target encoding (the
leakage-guarded categorical encoder), week-over-week rank movers (the
"movers and shakers" merchandising report), and source-mirror
detection via exact integer term-profile cosine (catching scraped /
duplicated sources before they double-count in training data).

Contract discipline identical to the other extension modules. The
mirror cosine is exact: integer dot products and norms (order
-independent sums), one double sqrt/division at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import cents
from census_postgres_py_spark.functions.text import tokens
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import gated_broadcast, t


# ---------------------------------------------------------------------------
# transform_target_encode_loo — leakage-guarded categorical encoding
# ---------------------------------------------------------------------------


@register(
    "transform_target_encode_loo",
    oracle="""
    WITH o AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ), cat AS (
        SELECT o_orderpriority,
               CAST(sum(cents) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM o GROUP BY 1
    )
    SELECT o.o_orderkey, o.o_orderpriority, o.cents,
           CAST(floor(CAST(cat.s - o.cents AS DOUBLE) * 1000
                / nullif(cat.n - 1, 0) + 0.5) AS BIGINT)
               AS loo_enc_millicents
    FROM o JOIN cat ON o.o_orderpriority = cat.o_orderpriority
    """,
)
def transform_target_encode_loo(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leave-one-out target encoding: each order's priority category is
    replaced by the mean target (order value) of the OTHER rows in its
    category — (Σ − own)/(n − 1) — the standard high-cardinality
    categorical encoder with the leakage guard built in (plain mean
    encoding leaks each row's own label into its feature; LOO is what
    training pipelines actually ship).

    One combinable (sum, count) aggregation per category, broadcast
    back onto the rows; the LOO arithmetic is a shared double
    expression over exact integer cents, rendered in milli-cents.
    Singleton categories encode NULL via nullif (no other rows to
    borrow a mean from) identically on both engines.
    """
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        cents(F.col("o_totalprice")).alias("cents"),
    )
    cat = o.groupBy("o_orderpriority").agg(
        F.sum("cents").cast("long").alias("s"),
        F.count("*").cast("long").alias("n"),
    )
    return o.join(F.broadcast(cat), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        "cents",
        F.floor(
            (F.col("s") - F.col("cents")).cast("double")
            * F.lit(1000)
            / F.nullif(F.col("n") - 1, F.lit(0))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("loo_enc_millicents"),
    )


# ---------------------------------------------------------------------------
# win_rank_delta — week-over-week rank movers
# ---------------------------------------------------------------------------


@register(
    "win_rank_delta",
    oracle="""
    WITH bw AS (
        SELECT date_trunc('week', l.l_shipdate) AS wk, p.p_brand,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
                    AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ), ranked AS (
        SELECT wk, p_brand, rev_cents,
               CAST(row_number() OVER (PARTITION BY wk
                    ORDER BY rev_cents DESC, p_brand) AS BIGINT) AS rnk
        FROM bw
    )
    SELECT epoch_ms(CAST(wk AS TIMESTAMP)) AS week_ms, p_brand,
           rev_cents, rnk,
           lag(rnk) OVER (PARTITION BY p_brand ORDER BY wk) AS prev_rnk,
           lag(rnk) OVER (PARTITION BY p_brand ORDER BY wk) - rnk
               AS rank_delta
    FROM ranked
    """,
)
def win_rank_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week rank movers: each brand's weekly revenue rank
    and its change vs the brand's previous observed week (positive =
    climbed) — the "movers and shakers" report on every merchandising
    dashboard, and the window-composition pattern (rank within one
    partition, lag within the orthogonal one) that trips up naive SQL.

    The fact⋈dim join broadcasts the part dim; the (week, brand)
    rollup is combinable into an O(calendar × brands) frame, on which
    both window passes run — per-week ranking frames of |brands| rows
    and per-brand lag frames of |weeks| rows. Ranks are total-ordered
    (revenue desc, brand); a brand absent from a week compares against
    its previous OBSERVED week, the standard movers convention.
    """
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", cents(F.col("l_extendedprice")).alias("lc")
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bw = (
        li.join(gated_broadcast(spark, sf_dir, "part", part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.date_trunc("week", "l_shipdate").alias("wk"), "p_brand"
        )
        .agg(F.sum("lc").cast("long").alias("rev_cents"))
    )
    wrank = Window.partitionBy("wk").orderBy(F.col("rev_cents").desc(), "p_brand")
    ranked = bw.withColumn("rnk", F.row_number().over(wrank).cast("long"))
    wlag = Window.partitionBy("p_brand").orderBy("wk")
    prev = F.lag("rnk").over(wlag)
    return ranked.select(
        F.unix_millis("wk").alias("week_ms"),
        "p_brand",
        "rev_cents",
        "rnk",
        prev.alias("prev_rnk"),
        (prev - F.col("rnk")).alias("rank_delta"),
    )


# ---------------------------------------------------------------------------
# dedup_source_mirror — scraped-source detection via profile cosine
# ---------------------------------------------------------------------------


@register(
    "dedup_source_mirror",
    oracle="""
    WITH toks AS (
        SELECT source,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS term
        FROM documents
    ), tc AS (
        SELECT source, term, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2
    ), norms AS (
        SELECT source, CAST(sum(c * c) AS BIGINT) AS n2
        FROM tc GROUP BY 1
    ), dots AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(sum(a.c * b.c) AS BIGINT) AS dot
        FROM tc a JOIN tc b ON a.term = b.term AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT d.source_a, d.source_b,
           CAST(floor(d.dot / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2)
                * 1000000 + 0.5) AS BIGINT) AS profile_cos_e6
    FROM dots d
    JOIN norms na ON d.source_a = na.source
    JOIN norms nb ON d.source_b = nb.source
    """,
)
def dedup_source_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mirror detection: cosine similarity between per-source
    TERM-COUNT profiles for every source pair — the corpus-governance
    screen that catches a scraped or mirrored source (near-identical
    profile) before its documents double-count in training data.
    Document-level dedup (`dedup_minhash` etc.) finds copied PAGES;
    this finds copied SITES even when no single page is identical.

    Everything heavy is exact integers: term counts, the pairwise dot
    (Σ ca·cb via a term-keyed equi-join — inverted-index shaped,
    linear in shared vocabulary, never documents²), and squared norms
    are all order-independent integer sums, so there is NO float
    accumulation anywhere; the single sqrt/divide at the end is one
    shared expression over exact inputs — hash-exact without a
    tolerance. Output is the |sources|²/2 pair frame (tiny).
    """
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokens("text")).alias("term"))
    tc = toks.groupBy("source", "term").agg(
        F.count("*").cast("long").alias("c")
    )
    norms = tc.groupBy("source").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("n2")
    )
    a = tc.select(
        F.col("source").alias("source_a"), "term", F.col("c").alias("ca")
    )
    b = tc.select(
        F.col("source").alias("source_b"), "term", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot"))
    )
    na = norms.select(F.col("source").alias("source_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("source").alias("source_b"), F.col("n2").alias("nb2"))
    return (
        dots.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.floor(
                F.col("dot")
                / F.sqrt(F.col("na2").cast("double") * F.col("nb2"))
                * F.lit(1000000)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("profile_cos_e6"),
        )
    )
