"""Round-4ah extension operators (SURVEY.md §2.48).

Inventory-costing, corpus-linguistics and econometrics reads: FIFO
lot matching (the interval-algebra formulation of first-in-first-out
costing — the classic "hard in SQL" problem, solved with two
cumulative windows and one overlap join), term burstiness (which
words clump into few documents — content words — vs spread evenly —
function words), and log-log price elasticity (the %demand-per-
%price slope every pricing team estimates).

Contract discipline identical to the other extension modules: FIFO
match quantities are exact integer interval overlaps, burstiness is
VMR over exact per-doc counts, and the elasticity regression runs
on e6-integerized logs with exact decimal sums (text_zipf_slope
precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.functions.text import tokens
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import gated_broadcast, t

_D38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# join_fifo_matching — first-in-first-out lot consumption
# ---------------------------------------------------------------------------


@register(
    "join_fifo_matching",
    oracle="""
    WITH flows AS (
        SELECT l_partkey AS part, l_shipdate AS d,
               l_orderkey, l_linenumber,
               CAST(l_quantity AS BIGINT) AS q,
               CAST(l_orderkey % 2 AS BIGINT) AS side
        FROM lineitem
    ), inb AS (
        SELECT part, d, q,
               CAST(coalesce(sum(q) OVER (
                   PARTITION BY part ORDER BY d, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS lo,
               CAST(sum(q) OVER (
                   PARTITION BY part ORDER BY d, l_orderkey, l_linenumber)
                   AS BIGINT) AS hi
        FROM flows WHERE side = 0
    ), outb AS (
        SELECT part, d, q,
               CAST(coalesce(sum(q) OVER (
                   PARTITION BY part ORDER BY d, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS lo,
               CAST(sum(q) OVER (
                   PARTITION BY part ORDER BY d, l_orderkey, l_linenumber)
                   AS BIGINT) AS hi
        FROM flows WHERE side = 1
    ), matched AS (
        SELECT i.part,
               least(i.hi, o.hi) - greatest(i.lo, o.lo) AS mq,
               date_diff('day', i.d, o.d) AS age_days
        FROM inb i JOIN outb o
          ON o.part = i.part
         AND i.lo < o.hi AND o.lo < i.hi
    )
    SELECT part,
           CAST(sum(mq) AS BIGINT) AS matched_qty,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(sum(mq * age_days) AS BIGINT) AS qty_age_days
    FROM matched GROUP BY part
    """,
)
def join_fifo_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot matching per part: even-orderkey lines are inbound
    lots, odd are outbound demand (both in ship-date order); every
    outbound unit consumes the OLDEST unconsumed inbound unit — the
    first-in-first-out costing rule, reported as matched quantity
    and quantity-weighted lot age (the FIFO inventory-age metric).

    The interval-algebra trick makes the procedural rule relational:
    cumulative-quantity windows give each flow a [lo, hi) position
    on the part's unit axis; a FIFO match between lot i and demand o
    is EXACTLY their interval overlap, so one per-part range join +
    least/greatest arithmetic replaces the row-at-a-time loop. All
    integers; windows partition per part (bounded frames at any
    scale); signed ages can be negative when demand precedes supply
    — the fixture's honest answer, not an error.
    """
    flows = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("part"),
        F.col("l_shipdate").alias("d"),
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("q"),
        (F.col("l_orderkey") % 2).cast("long").alias("side"),
    )
    w = Window.partitionBy("part").orderBy(
        "d", "l_orderkey", "l_linenumber"
    )

    def cum(df: DataFrame) -> DataFrame:
        return df.select(
            "part",
            "d",
            "q",
            F.coalesce(
                F.sum("q").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
            .cast("long")
            .alias("lo"),
            F.sum("q").over(w).cast("long").alias("hi"),
        )

    inb = cum(flows.filter(F.col("side") == 0)).select(
        F.col("part").alias("ip"),
        F.col("d").alias("ind"),
        F.col("lo").alias("ilo"),
        F.col("hi").alias("ihi"),
    )
    outb = cum(flows.filter(F.col("side") == 1)).select(
        F.col("part").alias("op"),
        F.col("d").alias("outd"),
        F.col("lo").alias("olo"),
        F.col("hi").alias("ohi"),
    )
    matched = inb.join(
        outb,
        (F.col("op") == F.col("ip"))
        & (F.col("ilo") < F.col("ohi"))
        & (F.col("olo") < F.col("ihi")),
    ).select(
        F.col("ip").alias("part"),
        (
            F.least(F.col("ihi"), F.col("ohi"))
            - F.greatest(F.col("ilo"), F.col("olo"))
        ).alias("mq"),
        F.datediff(F.col("outd"), F.col("ind")).alias("age_days"),
    )
    return matched.groupBy("part").agg(
        F.sum("mq").cast("long").alias("matched_qty"),
        F.count("*").cast("long").alias("n_matches"),
        F.sum(F.col("mq") * F.col("age_days"))
        .cast("long")
        .alias("qty_age_days"),
    )


# ---------------------------------------------------------------------------
# text_burstiness — content words clump, function words spread
# ---------------------------------------------------------------------------


@register(
    "text_burstiness",
    oracle="""
    WITH per_doc AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
        FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS term
            FROM documents
        ) GROUP BY doc_id, term
    ), nd AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM documents
    ), s AS (
        SELECT term,
               CAST(count(*) AS BIGINT) AS df,
               CAST(sum(c) AS HUGEINT) AS sc,
               CAST(sum(c * c) AS HUGEINT) AS scc
        FROM per_doc GROUP BY term
    )
    SELECT term, df, CAST(sc AS BIGINT) AS total,
           floor((CAST(nd.n AS DOUBLE) * CAST(scc AS DOUBLE)
                  - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
                 / (CAST(nd.n AS DOUBLE) - 1) / CAST(sc AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS burstiness
    FROM s CROSS JOIN nd
    WHERE sc >= 50
    """,
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term burstiness (VMR of per-document counts, zeros
    included via the n-of-corpus denominator): bursty terms clump
    into few documents (topical content words), low-burstiness terms
    spread evenly (function words) — the corpus-linguistics signal
    behind stopword induction and keyword extraction.

    Per-(doc, term) counts reduce combinable; absent docs contribute
    exact zeros ANALYTICALLY (n·Σc² uses the corpus n, never a dense
    doc × vocab explosion); terms below 50 total occurrences are cut
    for estimator stability. One identically-written final render.
    """
    per_doc = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("c"))
    )
    nd = t(spark, sf_dir, "documents").agg(
        F.count("*").cast("long").alias("n")
    )
    s = per_doc.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum(F.col("c").cast(_D38)).alias("sc"),
        F.sum((F.col("c") * F.col("c")).cast(_D38)).alias("scc"),
    )
    ndd = F.col("n").cast("double")
    sc = F.col("sc").cast("double")
    scc = F.col("scc").cast("double")
    return (
        s.crossJoin(F.broadcast(nd))
        .filter(F.col("sc") >= 50)
        .select(
            "term",
            "df",
            F.col("sc").cast("long").alias("total"),
            round_dp(
                (ndd * scc - sc * sc) / (ndd - 1) / sc, 6
            ).alias("burstiness"),
        )
    )


# ---------------------------------------------------------------------------
# agg_price_elasticity — log-log demand slope per brand
# ---------------------------------------------------------------------------


@register(
    "agg_price_elasticity",
    oracle="""
    WITH bm AS (
        SELECT p.p_brand AS brand,
               date_trunc('month', l.l_shipdate) AS m,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS cents,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ), pts AS (
        SELECT brand,
               CAST(floor(ln(CAST(cents AS DOUBLE) / qty) * 1000000 + 0.5)
                    AS BIGINT) AS x,
               CAST(floor(ln(CAST(qty AS DOUBLE)) * 1000000 + 0.5)
                    AS BIGINT) AS y
        FROM bm
    ), s AS (
        SELECT brand,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(x * y) AS HUGEINT) AS sxy,
               CAST(sum(x * x) AS HUGEINT) AS sxx
        FROM pts GROUP BY brand
    )
    SELECT brand, n,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS elasticity
    FROM s WHERE n > 2
    """,
)
def agg_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Own-price elasticity per brand: OLS slope of ln(monthly qty)
    on ln(monthly avg unit price) — the %-demand-per-%-price number
    every pricing decision quotes (the fixture's prices are random
    w.r.t. demand, so estimates hover near zero — the honest null).

    Unit price stays rational (Σcents/Σqty) until ONE ln per
    (brand, month) point; log points e6-integerize before the exact
    decimal regression sums (text_zipf_slope precedent); the slope
    is one identically-written render.
    """
    bm = (
        t(spark, sf_dir, "lineitem")
        .join(
            gated_broadcast(
                spark, sf_dir, "part",
                t(spark, sf_dir, "part").select("p_partkey", "p_brand"),
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", "l_shipdate").alias("m"),
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
    pts = bm.select(
        "brand",
        half_up(F.log(F.col("cents").cast("double") / F.col("qty")) * 1000000)
        .alias("x"),
        half_up(F.log(F.col("qty").cast("double")) * 1000000).alias("y"),
    )
    s = pts.groupBy("brand").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast(_D38)).alias("sx"),
        F.sum(F.col("y").cast(_D38)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(_D38)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(_D38)).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    dx = lambda c: F.col(c).cast("double")  # noqa: E731
    slope = (nd * dx("sxy") - dx("sx") * dx("sy")) / (
        nd * dx("sxx") - dx("sx") * dx("sx")
    )
    return s.filter(F.col("n") > 2).select(
        "brand",
        "n",
        round_dp(slope, 6).alias("elasticity"),
    )
