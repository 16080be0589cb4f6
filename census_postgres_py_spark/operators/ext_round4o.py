"""Round-4o extension operators (SURVEY.md §2.29).

Corpus-statistics reads over ``documents``: BM25 ranked retrieval
(the lexical-search scorer every RAG pipeline starts from), PMI
bigram collocations (the "which word pairs co-occur more than
chance" phrase detector), and the Zipf rank-frequency slope (the
corpus-health diagnostic — natural text sits near −1).

Float discipline follows the text_tfidf precedent: ln over
exact-count rationals is computed in an identically-written
projection on both engines, then half-up-rounded to 1e-6 BEFORE any
further aggregation, so every SUM in the plan is over exact
integers and partial-merge order can never flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import (
    vocab_rows_per_doc,
    gated_broadcast,
    t,
)
from census_postgres_py_spark.functions.text import tokens

_D38 = "decimal(38,0)"
_QUERY_TERMS = ("join", "scan", "window", "stream")
_K1 = 1.2
_B = 0.75


# ---------------------------------------------------------------------------
# text_bm25 — BM25 ranked retrieval for a fixed query
# ---------------------------------------------------------------------------


@register(
    "text_bm25",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS term
        FROM documents
    ), dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        FROM toks GROUP BY doc_id
    ), stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS nd,
               CAST(sum(dl) AS DOUBLE) AS sdl
        FROM dl
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks
        WHERE term IN ('join', 'scan', 'window', 'stream')
        GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), contrib AS (
        SELECT tf.doc_id,
               CAST(floor(
                   ln((stats.nd - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1)
                   * (tf.tf * ({_K1} + 1)
                      / (tf.tf + {_K1} * (1 - {_B} + {_B}
                         * (CAST(dl.dl AS DOUBLE) / (stats.sdl / stats.nd)))))
                   * 1000000 + 0.5) AS BIGINT) AS c_e6
        FROM tf
        JOIN dl ON dl.doc_id = tf.doc_id
        JOIN dfreq ON dfreq.term = tf.term
        CROSS JOIN stats
    ), scored AS (
        SELECT doc_id, CAST(sum(c_e6) AS BIGINT) AS score_e6,
               CAST(count(*) AS BIGINT) AS n_terms
        FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, score_e6, n_terms
    FROM scored ORDER BY score_e6 DESC, doc_id LIMIT 20
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for the query "join scan window stream"
    — the Robertson idf · saturated-tf scorer behind every lexical
    retrieval baseline (k1=1.2, b=0.75).

    The query-term filter lands BEFORE the per-(doc,term) count, so
    the heavy aggregation only ever sees query-term tokens (a few
    rows per doc, not the vocabulary). Doc length and the corpus
    stats are combinable aggregates; df (4 rows) and stats (1 row)
    broadcast into the score join. Each term's contribution is
    rendered to integer micro-units FIRST, so the per-doc sum — the
    only cross-partition aggregation of a float-derived value — is
    an exact integer sum. Final top-20 is a TakeOrderedAndProject
    with doc_id tiebreak.
    """
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("nd"),
        F.sum("dl").cast("double").alias("sdl"),
    )
    tf = (
        toks.filter(F.col("term").isin(*_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    idf = F.log(
        (F.col("nd") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    sat = (F.col("tf") * (_K1 + 1)) / (
        F.col("tf")
        + _K1
        * (
            1
            - _B
            + _B
            * (
                F.col("dl").cast("double")
                / (F.col("sdl") / F.col("nd"))
            )
        )
    )
    contrib = (
        tf.join(dl, "doc_id")
        .join(gated_broadcast(
            spark, sf_dir, "documents", dfreq,
            rows_per_source_row=vocab_rows_per_doc(sf_dir),
        ), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            half_up(idf * sat * 1000000).alias("c_e6"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum("c_e6").cast("long").alias("score_e6"),
            F.count("*").cast("long").alias("n_terms"),
        )
        .orderBy(F.col("score_e6").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# text_pmi_bigrams — pointwise mutual information collocations
# ---------------------------------------------------------------------------


@register(
    "text_pmi_bigrams",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
    ), big AS (
        SELECT w[i] AS a, w[i + 1] AS b
        FROM w, unnest(generate_series(1, len(w) - 1)) AS t(i)
    ), uni AS (
        SELECT a AS term, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS a
            FROM documents
        ) GROUP BY 1
    ), bc AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
        FROM big GROUP BY a, b HAVING count(*) >= 5
    ), nt AS (
        SELECT CAST(sum(c) AS DOUBLE) AS nt FROM uni
    ), nb AS (
        SELECT CAST(count(*) AS DOUBLE) AS nb FROM big
    )
    SELECT bc.a, bc.b, bc.c_ab,
           floor(ln(CAST(bc.c_ab AS DOUBLE) * nt.nt * nt.nt
                    / (nb.nb * ua.c * ub.c))
                 * 1000000 + 0.5) / 1000000 AS pmi
    FROM bc
    JOIN uni ua ON ua.term = bc.a
    JOIN uni ub ON ub.term = bc.b
    CROSS JOIN nt CROSS JOIN nb
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI of adjacent-token bigrams seen ≥5 times — the
    more-than-chance collocation detector (phrase mining, tokenizer
    merge candidates).

    Bigrams come from a JVM-side ``transform`` over the token array
    (no posexplode self-join — each doc emits its adjacent pairs in
    one pass). Unigram and bigram counts are combinable aggs; the
    unigram table is vocabulary-sized and broadcasts into the score
    join twice (left word, right word). PMI = ln(c_ab·N_t²/(N_b·c_a·
    c_b)) over exact counts, one identically-written projection,
    rounded half-up at 1e-6.
    """
    docs = t(spark, sf_dir, "documents")
    w = docs.select("doc_id", tokens("text").alias("w"))
    big = w.select(
        F.explode(
            F.expr(
                "transform(slice(w, 1, size(w) - 1),"
                " (x, i) -> struct(x AS a, element_at(w, i + 2) AS b))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    uni = (
        w.select(F.explode("w").alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("c"))
    )
    bc = (
        big.groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    nt = uni.agg(F.sum("c").cast("double").alias("nt"))
    nb = big.agg(F.count("*").cast("double").alias("nb"))
    ua = uni.select(F.col("term").alias("a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("term").alias("b"), F.col("c").alias("cb"))
    pmi = F.log(
        F.col("c_ab").cast("double")
        * F.col("nt")
        * F.col("nt")
        / (F.col("nb") * F.col("ca") * F.col("cb"))
    )
    return (
        bc.join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nb))
        .select(
            "a",
            "b",
            "c_ab",
            round_dp(pmi, 6).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# text_zipf_slope — rank-frequency log-log slope per language
# ---------------------------------------------------------------------------


@register(
    "text_zipf_slope",
    oracle="""
    WITH toks AS (
        SELECT lang,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS term
        FROM documents
    ), cnt AS (
        SELECT lang, term, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY lang, term
    ), ranked AS (
        SELECT lang, c,
               row_number() OVER (
                   PARTITION BY lang ORDER BY c DESC, term) AS rn
        FROM cnt
    ), pts AS (
        SELECT lang,
               CAST(floor(ln(CAST(rn AS DOUBLE)) * 1000000 + 0.5)
                    AS BIGINT) AS x,
               CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5)
                    AS BIGINT) AS y
        FROM ranked WHERE rn <= 100
    ), s AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(x * y) AS HUGEINT) AS sxy,
               CAST(sum(x * x) AS HUGEINT) AS sxx
        FROM pts GROUP BY lang
    )
    SELECT lang, n,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS slope
    FROM s
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS slope of ln(frequency) vs ln(rank) over each language's
    top-100 terms — the Zipf diagnostic (natural text ≈ −1; machine-
    generated or deduplicated-to-death corpora drift away from it).

    Term counts are one combinable agg; ranking is a per-language
    window over the vocabulary-sized count frame (tiny at any data
    scale — the window input is the VOCABULARY, not the corpus). The
    log points are rendered to integer micro-units first, so the
    regression sums are exact decimal accumulations; the slope is one
    identically-written final projection rounded at 1e-6.
    """
    docs = t(spark, sf_dir, "documents")
    cnt = (
        docs.select("lang", F.explode(tokens("text")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").cast("long").alias("c"))
    )
    wr = Window.partitionBy("lang").orderBy(F.col("c").desc(), F.col("term"))
    pts = (
        cnt.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 100)
        .select(
            "lang",
            half_up(F.log(F.col("rn").cast("double")) * 1000000).alias("x"),
            half_up(F.log(F.col("c").cast("double")) * 1000000).alias("y"),
        )
    )
    s = pts.groupBy("lang").agg(
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
    return s.select(
        "lang",
        "n",
        round_dp(slope, 6).alias("slope"),
    )
