"""Round-4ae extension operators (SURVEY.md §2.45).

Extreme-value, engagement and corpus-novelty reads: Gumbel block
maxima (the method-of-moments tail fit behind "what daily peak
should we provision for"), the DAU/MAU stickiness ratio (the
product-engagement KPI), and n-gram novelty (how much of the later
corpus is genuinely new text — the dataset-curation dedup
complement).

Contract discipline identical to the other extension modules:
block maxima are integers, moment fits render from exact (n, Σ, Σ²)
with shared double constants, stickiness is a rational over exact
distinct counts, and novelty is exact set arithmetic via anti-join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.functions.text import tokens
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

_D38 = "decimal(38,0)"
_EULER = 0.5772156649015329
_SQRT6_PI = math.sqrt(6.0) / math.pi
_LNLN99 = math.log(-math.log(0.99))  # shared literal — no per-engine libm


# ---------------------------------------------------------------------------
# agg_gumbel_maxima — method-of-moments tail fit on weekly peaks
# ---------------------------------------------------------------------------


@register(
    "agg_gumbel_maxima",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               date_trunc('day', ts) AS d,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ), blocks AS (
        SELECT event_type,
               CAST(floor(epoch(d) / 604800) AS BIGINT) AS wk,
               CAST(max(cents) AS BIGINT) AS mx
        FROM daily GROUP BY 1, 2
    ), s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(mx) AS HUGEINT) AS sx,
               CAST(sum(mx * mx) AS HUGEINT) AS sxx
        FROM blocks GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(floor(
               (CAST(sx AS DOUBLE) / n)
               - {_EULER!r} * sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
                 * {_SQRT6_PI!r}
               + 0.5) AS BIGINT) AS mu_cents,
           CAST(floor(
               sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
               * {_SQRT6_PI!r} + 0.5) AS BIGINT) AS beta_cents,
           CAST(floor(
               (CAST(sx AS DOUBLE) / n)
               - {_EULER!r} * sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
                 * {_SQRT6_PI!r}
               - sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
                 * {_SQRT6_PI!r} * ({_LNLN99!r})
               + 0.5) AS BIGINT) AS p99_peak_cents
    FROM s WHERE n > 1
    """,
)
def agg_gumbel_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel fit of weekly daily-revenue peaks per event type —
    method of moments (β = s·√6/π, μ = x̄ − γβ) plus the implied
    99th-percentile peak, the capacity-planning read ("provision for
    this").

    Daily totals reduce first, weekly block maxima are a second
    combinable agg (max), and the fit uses exact (n, Σ, Σ²) of the
    integer maxima with shared double constants (γ, √6/π) — both
    engines evaluate the identical closed form, rendered to whole
    cents.
    """
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").alias("d"),
        )
        .agg(
            F.sum(half_up(F.col("value") * 100)).cast("long").alias("cents")
        )
    )
    blocks = daily.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("d") / 604800).cast("long").alias("wk"),
    ).agg(F.max("cents").cast("long").alias("mx"))
    s = blocks.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("mx").cast(_D38)).alias("sx"),
        F.sum((F.col("mx") * F.col("mx")).cast(_D38)).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    std = F.sqrt((nd * sxx - sx * sx) / (nd * (nd - 1)))
    beta = std * _SQRT6_PI
    mu = (sx / F.col("n")) - _EULER * beta
    p99 = mu - beta * _LNLN99
    return s.filter(F.col("n") > 1).select(
        "event_type",
        "n",
        half_up(mu).alias("mu_cents"),
        half_up(beta).alias("beta_cents"),
        half_up(p99).alias("p99_peak_cents"),
    )


# ---------------------------------------------------------------------------
# agg_stickiness_ratio — DAU/MAU engagement per month
# ---------------------------------------------------------------------------


@register(
    "agg_stickiness_ratio",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS d,
               date_trunc('month', ts) AS m
        FROM events
    ), dau AS (
        SELECT m, d, CAST(count(*) AS BIGINT) AS dau
        FROM ud GROUP BY m, d
    ), mau AS (
        SELECT m, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        FROM ud GROUP BY m
    ), davg AS (
        SELECT m, CAST(sum(dau) AS BIGINT) AS sum_dau,
               CAST(count(*) AS BIGINT) AS n_days
        FROM dau GROUP BY m
    )
    SELECT epoch_ms(CAST(davg.m AS TIMESTAMP)) AS month_ms,
           davg.n_days, mau.mau,
           floor(CAST(davg.sum_dau AS DOUBLE)
                 / davg.n_days / mau.mau * 1000000 + 0.5)
               / 1000000 AS stickiness
    FROM davg JOIN mau ON mau.m = davg.m
    """,
)
def agg_stickiness_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — mean daily actives over
    monthly actives, the "how many of this month's users show up on
    a given day" engagement KPI (1/30 = once a month, 1.0 = daily).

    Everything reduces through the DISTINCT (user, day) frame: DAU
    is a per-day count, MAU a per-month distinct, both combinable;
    the ratio is a rational over exact integers. The raw log is
    scanned once.
    """
    ud = t(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("month", "ts").alias("m"),
    ).distinct()
    dau = ud.groupBy("m", "d").agg(
        F.count("*").cast("long").alias("dau")
    )
    mau = ud.groupBy("m").agg(
        F.countDistinct("user_id").cast("long").alias("mau")
    )
    davg = dau.groupBy("m").agg(
        F.sum("dau").cast("long").alias("sum_dau"),
        F.count("*").cast("long").alias("n_days"),
    )
    return davg.join(mau, "m").select(
        F.unix_millis(F.col("m")).alias("month_ms"),
        "n_days",
        "mau",
        round_dp(
            F.col("sum_dau").cast("double") / F.col("n_days") / F.col("mau"), 6
        ).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# text_ngram_novelty — how much of the later corpus is new text
# ---------------------------------------------------------------------------


@register(
    "text_ngram_novelty",
    oracle="""
    WITH halves AS (
        SELECT doc_id, lang,
               CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS half,
               list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
    ), tri AS (
        SELECT DISTINCT lang, half,
               w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS g
        FROM halves, unnest(generate_series(1, len(w) - 2)) AS t(i)
    ), new_half AS (
        SELECT lang, g FROM tri WHERE half = 1
    ), old_half AS (
        SELECT lang, g FROM tri WHERE half = 0
    )
    SELECT n.lang,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN o.g IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           floor(CAST(sum(CASE WHEN o.g IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) * 1000000 + 0.5)
               / 1000000 AS novelty
    FROM new_half n
    LEFT JOIN old_half o ON o.lang = n.lang AND o.g = n.g
    GROUP BY n.lang
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram novelty of the odd-id half of the corpus against the
    even-id half, per language: what fraction of the "new batch's"
    distinct trigrams were never seen before — the curation metric
    that says whether an incoming crawl adds text or re-crawls what
    you have (in production the halves are last month vs this
    month).

    Trigrams explode from a JVM-side transform, DISTINCT per
    (lang, half) collapses repeats BEFORE the membership join, and
    novelty is one left-join + combinable count over the distinct-
    trigram frame — vocabulary-scaled, not corpus-scaled.
    """
    halves = t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 2).alias("half"),
        "lang",
        tokens("text").alias("w"),
    )
    tri = (
        halves.select(
            "lang",
            "half",
            F.explode(
                F.expr(
                    "transform(slice(w, 1, greatest(size(w) - 2, 0)),"
                    " (x, i) -> concat(x, ' ', element_at(w, i + 2),"
                    " ' ', element_at(w, i + 3)))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    new_half = tri.filter(F.col("half") == 1).select("lang", "g")
    old_half = tri.filter(F.col("half") == 0).select(
        F.col("lang").alias("ol"), F.col("g").alias("og")
    )
    joined = new_half.join(
        old_half,
        (F.col("ol") == F.col("lang")) & (F.col("og") == F.col("g")),
        "left",
    )
    return joined.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum(F.when(F.col("og").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_novel"),
        round_dp(
            F.sum(F.when(F.col("og").isNull(), 1).otherwise(0)).cast(
                "double"
            )
            / F.count("*"),
            6,
        ).alias("novelty"),
    )
