"""Round-4al extension operators (SURVEY.md §2.52).

Curation, drift-monitoring and fintech reads: the perplexity filter
(score each document under a corpus bigram LM — the standard "drop
the weird text" step in training-data curation), the Population
Stability Index (the binned drift metric model-risk teams alarm
on), and the monthly time-weighted average balance (the gap-filled
daily mean behind interest accrual and working-capital KPIs).

Contract discipline identical to the other extension modules:
log-probabilities e6-integerize per bigram BEFORE the per-doc sum,
PSI terms render per bin before the 10-row total, and TWAB fills
calendar gaps with a last-value window over integer cents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up
from census_postgres_py_spark.functions.text import tokens
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

_D38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# text_perplexity_filter — most-surprising docs under a corpus bigram LM
# ---------------------------------------------------------------------------


@register(
    "text_perplexity_filter",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ), big AS (
        SELECT doc_id, ws[i] AS a, ws[i + 1] AS b
        FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
    ), bc AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS c
        FROM big GROUP BY a, b
    ), uc AS (
        SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM bc GROUP BY a
    ), v AS (
        SELECT CAST(count(DISTINCT b) AS BIGINT) AS vocab FROM bc
    ), scored AS (
        SELECT big.doc_id,
               CAST(floor(-ln((bc.c + 1.0) / (uc.ca + v.vocab))
                          * 1000000 + 0.5) AS BIGINT) AS nll_e6
        FROM big
        JOIN bc ON bc.a = big.a AND bc.b = big.b
        JOIN uc ON uc.a = big.a
        CROSS JOIN v
    ), per_doc AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(nll_e6) AS HUGEINT) AS snll
        FROM scored GROUP BY doc_id
    ), ranked AS (
        SELECT doc_id, n_bigrams,
               CAST(floor(CAST(snll AS DOUBLE) / n_bigrams + 0.5)
                    AS BIGINT) AS avg_nll_e6,
               row_number() OVER (
                   ORDER BY CAST(floor(CAST(snll AS DOUBLE) / n_bigrams
                                       + 0.5) AS BIGINT) DESC,
                            doc_id) AS rn
        FROM per_doc
    )
    SELECT doc_id, n_bigrams, avg_nll_e6, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 20
    """,
)
def text_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-surprising documents under an add-one-smoothed
    corpus bigram LM (highest mean negative log-likelihood per
    bigram) — the perplexity filter every pretraining-data pipeline
    runs to surface boilerplate, gibberish and wrong-language text
    before training.

    The LM is the corpus itself: bigram and left-unigram counts are
    two combinable aggs; vocabulary size is a 1-row broadcast. Each
    bigram's −ln p e6-integerizes BEFORE the per-doc sum (exact
    integer accumulation — shuffle order can't wobble the score);
    the mean is a rendered rational and the top-20 carries a doc_id
    tiebreak. At 100 TB the count tables are vocabulary²-sized and
    broadcast; the heavy pass is the one bigram explode.
    """
    w = t(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("ws")
    )
    big = w.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(ws, 1, size(ws) - 1),"
                " (x, i) -> struct(x AS a, element_at(ws, i + 2) AS b))"
            )
        ).alias("p"),
    ).select("doc_id", "p.a", "p.b")
    bc = big.groupBy("a", "b").agg(F.count("*").cast("long").alias("c"))
    uc = bc.groupBy("a").agg(F.sum("c").cast("long").alias("ca"))
    v = bc.agg(F.countDistinct("b").cast("long").alias("vocab"))
    scored = (
        big.join(F.broadcast(bc), ["a", "b"])
        .join(F.broadcast(uc), "a")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            half_up(
                -F.log(
                    (F.col("c") + 1.0) / (F.col("ca") + F.col("vocab"))
                )
                * 1000000
            ).alias("nll_e6"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum(F.col("nll_e6").cast(_D38)).alias("snll"),
    )
    avg = (
        half_up(F.col("snll").cast("double") / F.col("n_bigrams")).alias(
            "avg_nll_e6"
        )
    )
    ranked = per_doc.select("doc_id", "n_bigrams", avg)
    wr = Window.orderBy(F.col("avg_nll_e6").desc(), F.col("doc_id"))
    return (
        ranked.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 20)
        .select(
            "doc_id",
            "n_bigrams",
            "avg_nll_e6",
            F.col("rn").cast("long").alias("rn"),
        )
    )


# ---------------------------------------------------------------------------
# dq_distribution_psi — Population Stability Index between two halves
# ---------------------------------------------------------------------------


@register(
    "dq_distribution_psi",
    oracle="""
    WITH c AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
               CAST(o_orderkey % 2 AS BIGINT) AS half
        FROM orders
    ), edges AS (
        SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5,
                                 0.6, 0.7, 0.8, 0.9]) AS qs
        FROM c
    ), binned AS (
        SELECT half,
               1 + len(list_filter(edges.qs, q -> c.v > q)) AS bin
        FROM c CROSS JOIN edges
    ), counts AS (
        SELECT bin,
               CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS na,
               CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS nb
        FROM binned GROUP BY bin
    ), tot AS (
        SELECT CAST(sum(na) AS DOUBLE) AS ta,
               CAST(sum(nb) AS DOUBLE) AS tb
        FROM counts
    ), terms AS (
        SELECT bin, na, nb,
               CAST(floor((na / tot.ta - nb / tot.tb)
                          * ln((na / tot.ta) / (nb / tot.tb))
                          * 1000000 + 0.5) AS BIGINT) AS term_e6
        FROM counts CROSS JOIN tot
    )
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(na) AS BIGINT) AS n_ref,
           CAST(sum(nb) AS BIGINT) AS n_cur,
           floor(CAST(sum(term_e6) AS DOUBLE) + 0.5) / 1000000 AS psi
    FROM terms
    """,
)
def dq_distribution_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the even-key half
    (reference) and odd-key half (current) of order values, over
    global decile bins — THE model-monitoring drift alarm
    (< 0.1 stable, 0.1–0.25 watch, > 0.25 page someone). The halves
    here share one distribution, so PSI ≈ 0 — the honest null the
    tests pin.

    Decile edges come from one exact-percentile pass over integer
    cents (dyadic-exact — dq_outlier_iqr proof) broadcast as an
    ARRAY, so binning is a branch-free filter-count per row, not a
    9-way CASE; per-bin counts are combinable; each bin's
    (p−q)·ln(p/q) term e6-integerizes before the 10-row total.
    """
    c = t(spark, sf_dir, "orders").select(
        half_up(F.col("o_totalprice") * 100).alias("v"),
        (F.col("o_orderkey") % 2).cast("long").alias("half"),
    )
    edges = c.agg(
        F.percentile(
            "v", [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]
        ).alias("qs")
    )
    binned = c.crossJoin(F.broadcast(edges)).select(
        "half",
        (
            1
            + F.size(F.filter("qs", lambda q: F.col("v") > q))
        ).alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long")
        .alias("nb"),
    )
    tot = counts.agg(
        F.sum("na").cast("double").alias("ta"),
        F.sum("nb").cast("double").alias("tb"),
    )
    pa = F.col("na") / F.col("ta")
    pb = F.col("nb") / F.col("tb")
    terms = counts.crossJoin(F.broadcast(tot)).select(
        "na",
        "nb",
        half_up((pa - pb) * F.log(pa / pb) * 1000000).alias("term_e6"),
    )
    return terms.agg(
        F.count("*").cast("long").alias("n_bins"),
        F.sum("na").cast("long").alias("n_ref"),
        F.sum("nb").cast("long").alias("n_cur"),
        (half_up(F.sum("term_e6").cast("double")) / 1000000).alias("psi"),
    )


# ---------------------------------------------------------------------------
# ts_twab_monthly — gap-filled time-weighted average balance
# ---------------------------------------------------------------------------


@register(
    "ts_twab_monthly",
    oracle="""
    WITH iv AS (
        SELECT o_orderdate AS s,
               o_orderdate + (o_orderkey % 30 + 1) * INTERVAL 1 DAY AS e,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ), deltas AS (
        SELECT s AS d, cents AS delta FROM iv
        UNION ALL
        SELECT e + INTERVAL 1 DAY, -cents FROM iv
    ), byday AS (
        SELECT d, CAST(sum(delta) AS BIGINT) AS net
        FROM deltas GROUP BY d
    ), bounds AS (
        SELECT min(d) AS lo, max(d) AS hi FROM byday
    ), spine AS (
        SELECT unnest(generate_series(bounds.lo, bounds.hi,
                                      INTERVAL 1 DAY)) AS d
        FROM bounds
    ), filled AS (
        SELECT spine.d,
               CAST(coalesce(sum(byday.net) FILTER (
                   WHERE byday.d <= spine.d), 0) AS BIGINT) AS bal
        FROM spine LEFT JOIN byday ON byday.d <= spine.d
        GROUP BY spine.d
    )
    SELECT epoch_ms(CAST(date_trunc('month', d) AS TIMESTAMP)) AS month_ms,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(floor(CAST(sum(bal) AS DOUBLE) / count(*) + 0.5)
                AS BIGINT) AS twab_cents
    FROM filled GROUP BY date_trunc('month', d)
    """,
)
def ts_twab_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly time-weighted average backlog balance: the daily
    open-order value (gaps carry the prior balance — a day with no
    order activity still HAS a balance) averaged per calendar month
    — the interest-accrual / working-capital computation, where
    skipping quiet days would overweight busy ones.

    The curve's deltas reduce map-side as in ts_backlog_value; the
    calendar spine generates from the 1-row bounds (sequence(), a
    few thousand rows per decade); the balance on each spine day is the
    prefix sum over delta days — the fill is ANALYTIC, not a
    join-every-day-to-every-delta blowup on the Spark side: one
    window over the union of spine and delta days. Monthly TWAB is
    a combinable rollup of integers.
    """
    o = t(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_orderdate").alias("s"),
        (
            F.col("o_orderdate")
            + ((F.col("o_orderkey") % 30 + 1) * F.expr("INTERVAL 1 DAY"))
        ).alias("e"),
        half_up(F.col("o_totalprice") * 100).alias("cents"),
    )
    deltas = iv.select(
        F.col("s").alias("d"), F.col("cents").alias("delta")
    ).unionAll(
        iv.select(F.col("e") + F.expr("INTERVAL 1 DAY"), -F.col("cents"))
    )
    byday = deltas.groupBy("d").agg(
        F.sum("delta").cast("long").alias("net")
    )
    bounds = byday.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.expr("sequence(lo, hi, INTERVAL 1 DAY)")
        ).alias("d")
    ).select("d", F.lit(0).cast("long").alias("net"))
    merged = byday.unionAll(spine)
    per_day = merged.groupBy("d").agg(
        F.sum("net").cast("long").alias("net")
    )
    w = Window.orderBy("d")
    filled = per_day.select(
        "d", F.sum("net").over(w).cast("long").alias("bal")
    )
    return filled.groupBy(
        F.date_trunc("month", "d").alias("m")
    ).agg(
        F.count("*").cast("long").alias("n_days"),
        half_up(F.sum("bal").cast("double") / F.count("*")).alias(
            "twab_cents"
        ),
    ).select(
        F.unix_millis(F.col("m")).alias("month_ms"),
        "n_days",
        "twab_cents",
    )
