"""Round-4f extension operators (SURVEY.md §2.20).

Statistical reads over the corpus: chi-square independence for
categorical drift/dependence testing, Heaps-law vocabulary growth (the
corpus-curation saturation signal), and a discrete survival curve (the
retention read past simple cohort tables).

Contract discipline identical to the other extension modules; the
chi-square and survival arithmetic is rational-over-exact-integers, so
both engines evaluate the same IEEE expression tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up
from census_postgres_py_spark.functions.text import tokens
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t


# ---------------------------------------------------------------------------
# agg_chisq_independence — categorical dependence test
# ---------------------------------------------------------------------------


@register(
    "agg_chisq_independence",
    oracle="""
    WITH ct AS (
        SELECT event_type, CAST(isodow(ts) AS INTEGER) AS dow,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ), rt AS (
        SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM ct GROUP BY 1
    ), cl AS (
        SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM ct GROUP BY 1
    ), tt AS (
        SELECT CAST(sum(o) AS DOUBLE) AS n FROM ct
    ), j AS (
        SELECT ct.event_type, ct.dow, ct.o,
               CAST(rt.r AS DOUBLE) * cl.c / tt.n AS e
        FROM ct JOIN rt USING (event_type) JOIN cl USING (dow)
        CROSS JOIN tt
    )
    SELECT event_type, dow, o AS observed,
           CAST(floor(e * 100 + 0.5) AS BIGINT) AS expected_c100,
           CAST(floor((o - e) * (o - e) / e * 10000 + 0.5) AS BIGINT)
               AS chi2_contrib_e4
    FROM j
    """,
)
def agg_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between event type and ISO weekday:
    the per-cell observed count, expected count under independence
    (row·col/total), and the (o−e)²/e contribution — the categorical
    drift/dependence screen a feature platform runs before trusting a
    crosstab feature ("is behavior day-of-week dependent?").

    One combinable contingency aggregation over raw events; the row,
    column, and grand-total margins are re-aggregations of the
    |types|×7 cell table (tiny) broadcast back onto it. Every input to
    the statistic is an exact integer, and expected/contribution are
    one shared double expression tree — hash-exact on both engines,
    no distributional approximation anywhere.
    """
    ev = t(spark, sf_dir, "events")
    ct = ev.groupBy(
        "event_type",
        (((F.dayofweek("ts") + 5) % 7) + 1).cast("int").alias("dow"),
    ).agg(F.count("*").cast("long").alias("o"))
    rt = ct.groupBy("event_type").agg(F.sum("o").cast("long").alias("r"))
    cl = ct.groupBy("dow").agg(F.sum("o").cast("long").alias("c"))
    tt = ct.agg(F.sum("o").cast("double").alias("n"))
    e = F.col("r").cast("double") * F.col("c") / F.col("n")
    j = (
        ct.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(cl), "dow")
        .crossJoin(F.broadcast(tt))
        .withColumn("e", e)
    )
    return j.select(
        "event_type",
        "dow",
        F.col("o").alias("observed"),
        half_up(F.col("e") * 100).alias("expected_c100"),
        half_up(
            (F.col("o") - F.col("e"))
            * (F.col("o") - F.col("e"))
            / F.col("e")
            * 10000
        ).alias("chi2_contrib_e4"),
    )


# ---------------------------------------------------------------------------
# text_vocab_growth — Heaps-law vocabulary saturation
# ---------------------------------------------------------------------------


@register(
    "text_vocab_growth",
    oracle="""
    WITH toks AS (
        SELECT doc_id // 50 AS b,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS term
        FROM documents
    ), bucket_tokens AS (
        SELECT b, CAST(count(*) AS BIGINT) AS bucket_tokens
        FROM toks GROUP BY b
    ), firstb AS (
        SELECT term, min(b) AS fb FROM toks GROUP BY term
    ), newt AS (
        SELECT fb AS b, CAST(count(*) AS BIGINT) AS new_terms
        FROM firstb GROUP BY fb
    )
    SELECT CAST(bt.b AS BIGINT) AS bucket, bt.bucket_tokens,
           CAST(coalesce(n.new_terms, 0) AS BIGINT) AS new_terms,
           CAST(sum(bt.bucket_tokens) OVER (ORDER BY bt.b
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_tokens,
           CAST(sum(coalesce(n.new_terms, 0)) OVER (ORDER BY bt.b
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_vocab
    FROM bucket_tokens bt LEFT JOIN newt n ON bt.b = n.b
    """,
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: documents are bucketed in stable
    doc_id order (50 docs per bucket) and each bucket reports its new
    never-seen-before terms plus the cumulative token and vocabulary
    curves — the saturation signal a corpus-curation pipeline watches
    to decide whether more crawl yields new language or just more of
    the same.

    "First bucket a term appears in" is a combinable min-aggregate
    over the exploded token stream — no ordered scan, no state; the
    growth curve then assembles on the O(buckets) frame. At 100 TB the
    bucket key is a date/crawl-shard instead of doc_id ranges; the
    min-aggregate shape is unchanged.
    """
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        F.floor(F.col("doc_id") / 50).cast("long").alias("b"),
        F.explode(tokens("text")).alias("term"),
    )
    bucket_tokens = toks.groupBy("b").agg(
        F.count("*").cast("long").alias("bucket_tokens")
    )
    firstb = toks.groupBy("term").agg(F.min("b").alias("fb"))
    newt = firstb.groupBy(F.col("fb").alias("b")).agg(
        F.count("*").cast("long").alias("new_terms")
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined = bucket_tokens.join(newt, "b", "left").select(
        F.col("b").alias("bucket"),
        "bucket_tokens",
        F.coalesce("new_terms", F.lit(0)).cast("long").alias("new_terms"),
    )
    return joined.select(
        "bucket",
        "bucket_tokens",
        "new_terms",
        F.sum("bucket_tokens")
        .over(Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum_tokens"),
        F.sum("new_terms")
        .over(Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum_vocab"),
    )


# ---------------------------------------------------------------------------
# agg_survival_curve — discrete retention survival
# ---------------------------------------------------------------------------


@register(
    "agg_survival_curve",
    oracle="""
    WITH wa AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    ), life AS (
        SELECT user_id,
               CAST(date_diff('day', min(wk), max(wk)) // 7 AS BIGINT)
                   AS lifespan_weeks
        FROM wa GROUP BY 1
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users FROM life
    ), ages AS (
        SELECT unnest(range(0, 5)) AS age_weeks
    )
    SELECT CAST(a.age_weeks AS BIGINT) AS age_weeks,
           tot.n_users,
           CAST(count(*) FILTER (WHERE l.lifespan_weeks >= a.age_weeks)
                AS BIGINT) AS surviving,
           CAST(floor(CAST(count(*) FILTER (WHERE l.lifespan_weeks
                    >= a.age_weeks) AS DOUBLE) * 1000000 / tot.n_users
                    + 0.5) AS BIGINT) AS survival_ppm
    FROM ages a CROSS JOIN life l CROSS JOIN tot
    GROUP BY a.age_weeks, tot.n_users
    """,
)
def agg_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete survival curve: the share of users still active at
    least k weeks after their first week, for k = 0..4 — the
    survival-analysis read behind "what fraction of a cohort is alive
    at week k", one level deeper than the retention triangle
    (`agg_retention_cohort`).

    Lifespan = (last active week − first active week) is a combinable
    min/max aggregate per user over the distinct (user, week) frame.
    The curve evaluation crosses the |users| lifespan table with the
    FIVE age points — a broadcast-bounded expansion (|users|·5), then
    one combinable conditional count per age. Everything is integer
    until the final ppm render.
    """
    ev = t(spark, sf_dir, "events")
    wa = ev.select("user_id", F.date_trunc("week", "ts").alias("wk")).distinct()
    life = wa.groupBy("user_id").agg(
        F.floor(F.datediff(F.max("wk"), F.min("wk")) / 7)
        .cast("long")
        .alias("lifespan_weeks")
    )
    tot = life.agg(F.count("*").cast("long").alias("n_users"))
    ages = spark.range(0, 5).select(F.col("id").cast("long").alias("age_weeks"))
    surviving = F.count(
        F.when(F.col("lifespan_weeks") >= F.col("age_weeks"), 1)
    ).cast("long")
    return (
        F.broadcast(ages)
        .crossJoin(life)
        .crossJoin(F.broadcast(tot))
        .groupBy("age_weeks", "n_users")
        .agg(
            surviving.alias("surviving"),
            half_up(
                surviving.cast("double") * F.lit(1000000) / F.col("n_users")
            ).alias("survival_ppm"),
        )
        .select("age_weeks", "n_users", "surviving", "survival_ppm")
    )
