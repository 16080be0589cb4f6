"""Round-4i extension operators (SURVEY.md §2.23).

Record-linkage and corpus-drift reads: blocked fuzzy matching over a
dimension table (entity resolution on STRINGS, complementing the
embedding-space `join_mutual_topk`), Jensen-Shannon divergence between
per-language term distributions (the corpus-mix drift metric), and
file-metadata-aware scanning (lineage columns).

Contract discipline identical to the other extension modules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up
from census_postgres_py_spark.functions.text import tokens
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import read_back, t


# ---------------------------------------------------------------------------
# dedup_record_linkage — blocked fuzzy dimension matching
# ---------------------------------------------------------------------------


@register(
    "dedup_record_linkage",
    oracle="""
    WITH base AS (
        SELECT s_suppkey, s_name,
               substr(s_name, length(s_name) - 1, 2) AS blk
        FROM supplier
    ), incoming AS (
        SELECT s_suppkey + 1000000 AS in_id,
               replace(s_name, '#', '-') AS in_name,
               substr(s_name, length(s_name) - 1, 2) AS blk
        FROM supplier WHERE s_suppkey % 7 = 0
    ), cand AS (
        SELECT i.in_id, i.in_name, b.s_suppkey, b.s_name,
               CAST(levenshtein(i.in_name, b.s_name) AS BIGINT) AS lev
        FROM incoming i JOIN base b ON i.blk = b.blk
        WHERE levenshtein(i.in_name, b.s_name) <= 2
    ), ranked AS (
        SELECT in_id, in_name, s_suppkey AS matched_suppkey, lev,
               row_number() OVER (PARTITION BY in_id
                   ORDER BY lev, s_suppkey) AS rn
        FROM cand
    )
    SELECT in_id, in_name, matched_suppkey, lev
    FROM ranked WHERE rn = 1
    """,
)
def dedup_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage over a dimension table: an
    incoming batch of dirty supplier names (the fixture has no natural
    dirt, so a deterministic 1-edit mutation is injected: '#' → '-')
    is matched back to the master by blocked Levenshtein ≤ 2 with a
    deterministic keeper — the string-space entity-resolution
    complement to `join_mutual_topk`'s embedding-space matching.

    The blocking key (the name's last two id characters, stable under
    the injected edit) turns the n×m comparison space into balanced
    equi-join buckets — the same candidates-first discipline as the
    dedup family: Levenshtein only ever runs INSIDE a block, never
    all-pairs (blocking keys are domain knowledge; for names in the
    wild they'd be phonetic/q-gram keys, possibly several per record,
    each a union of the same shape). Keep-best is a WindowGroupLimit
    on (distance, master key).
    """
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    blk = F.substring(
        F.col("s_name"), F.length("s_name") - 1, 2
    )
    base = sup.select(
        "s_suppkey", "s_name", blk.alias("blk")
    )
    incoming = sup.filter(F.col("s_suppkey") % 7 == 0).select(
        (F.col("s_suppkey") + 1000000).alias("in_id"),
        F.replace(F.col("s_name"), F.lit("#"), F.lit("-")).alias("in_name"),
        blk.alias("blk"),
    )
    cand = (
        incoming.join(base, "blk")
        .withColumn("lev", F.levenshtein("in_name", "s_name").cast("long"))
        .filter(F.col("lev") <= 2)
    )
    w = Window.partitionBy("in_id").orderBy("lev", "s_suppkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "in_id",
            "in_name",
            F.col("s_suppkey").alias("matched_suppkey"),
            "lev",
        )
    )


# ---------------------------------------------------------------------------
# text_js_divergence — corpus-mix drift between languages
# ---------------------------------------------------------------------------


@register(
    "text_js_divergence",
    oracle="""
    WITH toks AS (
        SELECT lang,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS term
        FROM documents
    ), tc AS (
        SELECT lang, term, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2
    ), lt AS (
        SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM tc GROUP BY 1
    ), pairs AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b,
               coalesce(ta.c, 0) / CAST(na.n AS DOUBLE) AS p,
               coalesce(tb.c, 0) / CAST(nb.n AS DOUBLE) AS q
        FROM (SELECT DISTINCT term FROM tc) v
        CROSS JOIN lt a CROSS JOIN lt b
        LEFT JOIN tc ta ON ta.term = v.term AND ta.lang = a.lang
        LEFT JOIN tc tb ON tb.term = v.term AND tb.lang = b.lang
        JOIN lt na ON na.lang = a.lang
        JOIN lt nb ON nb.lang = b.lang
        WHERE a.lang < b.lang
    )
    SELECT lang_a, lang_b,
           CAST(floor(sum(
               CASE WHEN p > 0
                    THEN 0.5 * p * ln(2.0 * p / (p + q)) ELSE 0 END
             + CASE WHEN q > 0
                    THEN 0.5 * q * ln(2.0 * q / (p + q)) ELSE 0 END
           ) * 1000000 + 0.5) AS BIGINT) AS jsd_e6
    FROM pairs
    WHERE p + q > 0
    GROUP BY lang_a, lang_b
    """,
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between every pair of per-language
    term distributions — the symmetric, bounded corpus-mix drift
    metric a curation pipeline tracks across crawls ("did the German
    slice's vocabulary shift?"). 0 = identical distributions,
    ln 2 ≈ 0.693 = disjoint.

    Term counts are one combinable aggregation; the |langs|-sized
    marginals broadcast; the pair expansion is vocabulary × 10 lang
    pairs — linear in vocabulary, never in corpus. Contributions are
    exact-count rationals through ln (the `text_tfidf` precedent) and
    the 1e-6 render sits far from any half-up boundary at these
    magnitudes; the divergence SUM is float-order-dependent across
    ~vocab terms, rounded at 6dp (the `emb_centroid_label`
    accepted-risk envelope).
    """
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(tokens("text")).alias("term"))
    tc = toks.groupBy("lang", "term").agg(F.count("*").cast("long").alias("c"))
    lt = tc.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    vocab = tc.select("term").distinct()
    a = lt.select(F.col("lang").alias("lang_a"), F.col("n").alias("na"))
    b = lt.select(F.col("lang").alias("lang_b"), F.col("n").alias("nb"))
    ta = tc.select(
        F.col("lang").alias("lang_a"), F.col("term").alias("term"), F.col("c").alias("ca")
    )
    tb = tc.select(
        F.col("lang").alias("lang_b"), F.col("term").alias("term"), F.col("c").alias("cb")
    )
    pairs = (
        vocab.crossJoin(F.broadcast(a))
        .crossJoin(F.broadcast(b))
        .filter(F.col("lang_a") < F.col("lang_b"))
        .join(ta, ["term", "lang_a"], "left")
        .join(tb, ["term", "lang_b"], "left")
        .select(
            "lang_a",
            "lang_b",
            (F.coalesce("ca", F.lit(0)) / F.col("na").cast("double")).alias("p"),
            (F.coalesce("cb", F.lit(0)) / F.col("nb").cast("double")).alias("q"),
        )
        .filter(F.col("p") + F.col("q") > 0)
    )
    contrib = F.when(
        F.col("p") > 0,
        0.5 * F.col("p") * F.log(2.0 * F.col("p") / (F.col("p") + F.col("q"))),
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("q") > 0,
        0.5 * F.col("q") * F.log(2.0 * F.col("q") / (F.col("p") + F.col("q"))),
    ).otherwise(F.lit(0.0))
    return pairs.groupBy("lang_a", "lang_b").agg(
        half_up(F.sum(contrib) * F.lit(1000000)).alias("jsd_e6")
    )


# ---------------------------------------------------------------------------
# scan_file_metadata — lineage columns at scan time
# ---------------------------------------------------------------------------


@register(
    "scan_file_metadata",
    oracle="""
    SELECT CAST(4 AS BIGINT) AS n_files,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT n_nationkey) AS BIGINT) AS n_keys
    FROM nation
    """,
)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-metadata (lineage) columns at scan time: the nation dim is
    laid out as exactly four parquet files, re-read with the hidden
    `_metadata.file_name` column, and the report proves every row
    carries its source file — the per-row lineage a debugging/backfill
    workflow needs ("which input file produced this bad row?").

    `_metadata` is resolved by the parquet source itself — no UDF, no
    input_file_name() (which breaks under whole-stage codegen
    boundaries); the column is pruned like any other when unused. The
    file count is pinned by `repartition(4)` at write, so the oracle
    can state it by construction; row and key counts prove the
    round-trip lost nothing.
    """
    from census_postgres_py_spark import scratch

    path = scratch.call_dir("meta_nation")
    nat = t(spark, sf_dir, "nation")
    nat.repartition(4).write.mode("overwrite").parquet(path)
    back = read_back(spark, nat.schema, path).select(
        "n_nationkey", F.col("_metadata.file_name").alias("src_file")
    )
    return back.agg(
        F.count_distinct("src_file").cast("long").alias("n_files"),
        F.count("*").cast("long").alias("n_rows"),
        F.count_distinct("n_nationkey").cast("long").alias("n_keys"),
    )
