"""Round-4 extension operators (SURVEY.md §2.15).

Fourth-round widening along the axes real pipelines ask for next:
web-corpus URL canonicalization, ML feature encoding, batch
sessionization + streaks, basket co-occurrence, deterministic A/B
reads, readability scoring, boilerplate-prefix dedup, and EMA
smoothing. Registered after the r4 grading window; driver-graded via
the r5/r6 rotation (window machinery retired in r10 — see registry.py).

Same contract discipline as every other module: identical aliases on
both engines, integer/decimal accumulation wherever a sum can wrap,
half-up fixed-point rounding on the one float projection, epoch-millis
export for timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import gated_broadcast, t

_SESSION_GAP_MIN = 30


@register(
    "fn_url_canonicalize",
    oracle="""
    SELECT doc_id,
           'https://' || source || '.example.com/docs/'
               || CAST(doc_id AS VARCHAR)
               || '?lang=' || lang || '&ref=x' AS canonical_url,
           source || '.example.com' AS host_key
    FROM documents
    """,
)
def fn_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical URL key for web-corpus dedup: lowercase the host,
    drop the default :443 port and the #fragment, strip tracking
    (utm_*) params, and emit the sorted surviving query string — the
    transform that makes "same page, different tracking link" collapse
    to one key before any content dedup runs.

    URLs are synthesized from document metadata (fn_url_parse's
    idiom), so the oracle states the canonical form by construction.
    All codegen'd string expressions (parse_url + regexp + array
    sort/filter via JVM fns) — shuffle-free, no UDF.
    """
    d = t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.upper(F.col("source")),
        F.lit(".Example.COM:443/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=feed&lang="),
        F.col("lang"),
        F.lit("&ref=x#frag"),
    )
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    path = F.parse_url(url, F.lit("PATH"))
    # split query, drop utm_* params, keep declaration order of the
    # survivors (already sorted by construction here; array_sort would
    # pin it for arbitrary inputs but Spark/DuckDB sort stability on
    # '=': keep it simple and deterministic either way)
    params = F.filter(
        F.split(F.parse_url(url, F.lit("QUERY")), "&"),
        lambda p: ~p.startswith("utm_"),
    )
    canon = F.concat(
        F.lit("https://"),
        host,
        path,
        F.when(
            F.size(params) > 0,
            F.concat(F.lit("?"), F.array_join(F.array_sort(params), "&")),
        ).otherwise(F.lit("")),
    )
    return d.select(
        "doc_id",
        canon.alias("canonical_url"),
        host.alias("host_key"),
    )


@register(
    "transform_onehot",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS pri_urgent,
           CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END
               AS pri_high,
           CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END
               AS pri_medium,
           CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END
               AS pri_notspec,
           CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS pri_low,
           CAST(CAST(substr(o_orderpriority, 1, 1) AS INTEGER) - 1
                AS BIGINT) AS pri_index
    FROM orders
    """,
)
def transform_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot encoding of a low-cardinality categorical against a
    FIXED vocabulary (the ML-feature-prep step before any trainer).

    The category list is pinned in code, not inferred — inference
    would need a distinct pass AND could silently reorder columns
    between runs, the training-serving-skew classic. Pure codegen'd
    projection: no shuffle, no pivot, schema known statically.
    """
    cats = [
        ("1-URGENT", "pri_urgent"),
        ("2-HIGH", "pri_high"),
        ("3-MEDIUM", "pri_medium"),
        ("4-NOT SPECIFIED", "pri_notspec"),
        ("5-LOW", "pri_low"),
    ]
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        *[
            F.when(F.col("o_orderpriority") == v, 1)
            .otherwise(0)
            .alias(name)
            for v, name in cats
        ],
        (F.substring("o_orderpriority", 1, 1).cast("int") - 1)
        .cast("long")
        .alias("pri_index"),
    )


@register(
    "win_sessionize",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, epoch_ms(ts) AS ts_ms, event_id
        FROM events
    ), flagged AS (
        SELECT user_id, ts_ms, event_id,
               CASE WHEN ts_ms - lag(ts_ms)
                        OVER (PARTITION BY user_id
                              ORDER BY ts_ms, event_id)
                        > {_SESSION_GAP_MIN} * 60000
                    OR lag(ts_ms) OVER (PARTITION BY user_id
                                        ORDER BY ts_ms, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_start
        FROM ev
    ), sessioned AS (
        SELECT user_id, ts_ms, event_id,
               sum(is_start) OVER (PARTITION BY user_id
                                   ORDER BY ts_ms, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           min(ts_ms) AS start_ms,
           CAST(count(*) AS BIGINT) AS n_events,
           max(ts_ms) - min(ts_ms) AS dur_ms
    FROM sessioned
    GROUP BY user_id, session_no
    """,
)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a session breaks after 30 idle minutes;
    output is one row per (user, session) with start, size, duration —
    the classic lag -> boundary-flag -> running-sum assignment.

    Distinct from stream_session (Spark's native session_window in a
    streaming job): this is the BATCH shape every warehouse runs
    nightly, and the session id is deterministic (total order by
    ts, event_id). ONE shuffle on user_id serves both windows and the
    final groupBy — the aggregation keys are a superset of the window
    partition key, so no second exchange. O(1) state per row.
    """
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_millis(F.col("ts")).alias("ts_ms"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gap = F.col("ts_ms") - F.lag("ts_ms").over(w)
    flagged = ev.withColumn(
        "is_start",
        F.when(gap.isNull() | (gap > _SESSION_GAP_MIN * 60000), 1).otherwise(
            0
        ),
    )
    sessioned = flagged.withColumn(
        "session_no",
        F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessioned.groupBy(
        "user_id", F.col("session_no").cast("long").alias("session_no")
    ).agg(
        F.min("ts_ms").alias("start_ms"),
        F.count("*").cast("long").alias("n_events"),
        (F.max("ts_ms") - F.min("ts_ms")).alias("dur_ms"),
    )


@register(
    "win_streak",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), grouped AS (
        SELECT user_id, d,
               CAST(d AS DATE) - CAST(row_number()
                   OVER (PARTITION BY user_id ORDER BY d) AS INTEGER)
                   AS grp
        FROM days
    ), streaks AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS len
        FROM grouped GROUP BY user_id, grp
    )
    SELECT user_id,
           max(len) AS longest_streak,
           CAST(sum(len) AS BIGINT) AS n_active_days
    FROM streaks GROUP BY user_id
    """,
)
def win_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user (plus total
    active days) — the engagement metric behind every retention
    dashboard, and the canonical gaps-and-islands reduction: distinct
    days -> row_number -> (day - rank) constant per island -> count.

    Two shuffles total (distinct, then the window+agg reuse one
    exchange on user_id); day arithmetic stays in DATE space on both
    engines so timezone never enters.
    """
    days = (
        t(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    grouped = days.withColumn(
        "grp", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = grouped.groupBy("user_id", "grp").agg(
        F.count("*").alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak"),
        F.sum("len").cast("long").alias("n_active_days"),
    )


_COOC_TOP = 20


@register(
    "agg_cooccurrence",
    oracle=f"""
    WITH pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_orders
    FROM pairs
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT {_COOC_TOP}
    """,
)
def agg_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top part-pair co-occurrence across orders (2-item frequent
    itemsets / market-basket support) with a total tiebreak order.

    The C(k,2) pair space expands INSIDE each order's sorted part
    array (one groupBy + a JVM nested transform — the same idiom as
    the co-purchase edge builder in ext_round4n), so the blow-up is
    Σ k²/2 over per-order basket sizes (~7 here), never corpus², and
    the pair stream skips the self-join-on-orderkey probe/build it
    used to flow through. collect_set dedups repeat lines in the
    partial agg, so no separate DISTINCT shuffle either. The top-k is
    TakeOrderedAndProject (a k-row heap per partition, merged on the
    driver), not a global sort. At 100 TB the same plan holds; if
    baskets were huge, cap per-basket items first (the standard
    guard), but that is a data contract, not a plan change.
    """
    baskets = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        # AQE coalesces the compact basket-array stage to a handful
        # of partitions; re-spread before the C(k,2) fan-out so the
        # expansion + partial pair counts use every core (same
        # explode-after-coalesce fix as join_bipartite_projection).
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.part_a").alias("part_a"),
            F.col("p.part_b").alias("part_b"),
        )
        .agg(F.count("*").cast("long").alias("n_orders"))
    )
    return pairs.orderBy(
        F.col("n_orders").desc(), "part_a", "part_b"
    ).limit(_COOC_TOP)


@register(
    "agg_ab_lift",
    oracle="""
    WITH assigned AS (
        SELECT DISTINCT user_id,
               CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                        < '8' THEN 'A' ELSE 'B' END AS variant
        FROM events
    ), conv AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ), stats AS (
        SELECT a.variant,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_converted
        FROM assigned a LEFT JOIN conv c ON a.user_id = c.user_id
        GROUP BY a.variant
    )
    SELECT variant, n_users, n_converted,
           floor(CAST(n_converted AS DOUBLE) / n_users * 1000000 + 0.5)
               / 1000000 AS conv_rate
    FROM stats
    """,
)
def agg_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B experiment read: users are assigned to arms
    by md5 hex prefix (50/50, stable across runs and engines — the
    sample_split_assign discipline applied to experimentation), then
    per-arm conversion (any purchase event) is counted.

    Why hash assignment matters at scale: a rerun must put every user
    in the SAME arm or the read is garbage; engine-seeded RNG can't
    promise that, content hashing can. Plan: distinct users (one
    shuffle), broadcast-size converter set joined back, one combinable
    count — the corpus collapses to |users| rows before any join.
    """
    ev = t(spark, sf_dir, "events")
    assigned = ev.select("user_id").distinct().select(
        "user_id",
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            "A",
        )
        .otherwise("B")
        .alias("variant"),
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    stats = (
        assigned.join(conv, "user_id", "left")
        .groupBy("variant")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum(F.coalesce(F.col("converted"), F.lit(0)))
            .cast("long")
            .alias("n_converted"),
        )
    )
    rate = F.col("n_converted").cast("double") / F.col("n_users")
    return stats.select(
        "variant",
        "n_users",
        "n_converted",
        round_dp(rate, 6).alias("conv_rate"),
    )


@register(
    "text_readability",
    oracle="""
    WITH counts AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS w,
               CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT)
                   AS s
        FROM documents
    )
    SELECT doc_id, w AS n_words, s AS n_syllables,
           floor(CAST(206835 * w - 1015 * w * w - 84600 * s AS DOUBLE)
                 / (10.0 * w) + 0.5) / 100 AS flesch
    FROM counts WHERE w > 0
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability scoring: word count, vowel-group
    syllable approximation, and the classic 206.835 − 1.015·wps −
    84.6·spw formula (single-sentence corpus ⇒ words-per-sentence =
    word count). The quality-gate signal that catches word-salad and
    run-on boilerplate in a crawl.

    Pure codegen'd regexp counts — `regexp_extract_all` + `size` on
    both engines, shuffle-free, one pass. Joins text_quality's
    length/punct ratios as the §2.10 quality family's third lens.

    Hash-stability: the formula is evaluated as ONE exact integer
    numerator (206835·w − 1015·w² − 84600·s, milli-points scaled by w)
    over one double division — a single correctly-rounded IEEE op on
    identical integers, so both engines produce the identical double.
    The naive float chain differs between engines at the ULP level
    (DuckDB folds 1.015·w in DECIMAL, Spark in double) and this
    formula lands EXACTLY on .xx5 rounding boundaries for many (w, s).
    """
    d = t(spark, sf_dir, "documents")
    words = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), 0))
        .cast("long")
    )
    syll = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[aeiouy]+"), 0))
        .cast("long")
    )
    base = d.select(
        "doc_id", words.alias("w"), syll.alias("s")
    ).filter(F.col("w") > 0)
    num = (
        F.lit(206835) * F.col("w")
        - F.lit(1015) * F.col("w") * F.col("w")
        - F.lit(84600) * F.col("s")
    ).cast("double")
    return base.select(
        "doc_id",
        F.col("w").alias("n_words"),
        F.col("s").alias("n_syllables"),
        (half_up(num / (F.lit(10.0) * F.col("w"))) / 100).alias("flesch"),
    )


_PREFIX_LEN = 64


@register(
    "dedup_prefix_cluster",
    oracle=f"""
    WITH pref AS (
        SELECT doc_id, substr(text, 1, {_PREFIX_LEN}) AS prefix
        FROM documents
    )
    SELECT md5(prefix) AS prefix_key,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS keeper_id
    FROM pref
    GROUP BY prefix
    HAVING count(*) > 1
    """,
)
def dedup_prefix_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-prefix clustering: documents sharing their first
    {64} characters (template headers, scraped navigation, license
    stubs) grouped into clusters with a deterministic keeper — the
    cheap first-pass dedup every crawl pipeline runs BEFORE the
    expensive shingle/minhash stages, because it removes the worst
    offenders with one hash shuffle.

    Grouping key is the md5 of the prefix (fixed 32-byte shuffle key
    instead of a 64-char string); a templated corpus makes this key
    skewed by construction — at 100 TB pre-aggregate with the salted
    two-phase idiom (agg_skew_salted) if one template dominates.
    """
    d = t(spark, sf_dir, "documents")
    pref = d.select(
        "doc_id", F.substring("text", 1, _PREFIX_LEN).alias("prefix")
    )
    return (
        pref.groupBy("prefix")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("keeper_id"),
        )
        .filter(F.col("n_docs") > 1)
        .select(F.md5("prefix").alias("prefix_key"), "n_docs", "keeper_id")
    )


_EMA_SPAN = 7
_EMA_ALPHA = 0.25


@register(
    "win_ema",
    oracle=f"""
    WITH base AS (
        SELECT o_custkey, o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
        FROM orders
    ), lagged AS (
        SELECT o_custkey, o_orderkey, y,
               {" , ".join(
                   f"lag(y, {i}) OVER (PARTITION BY o_custkey "
                   f"ORDER BY o_orderkey) AS y{i}"
                   for i in range(1, _EMA_SPAN)
               )}
        FROM base
    )
    SELECT o_custkey, o_orderkey,
           floor((
               {" + ".join(
                   f"coalesce(y{i} * {(1 - _EMA_ALPHA) ** i!r}, 0)"
                   if i else "y * 1.0"
                   for i in range(_EMA_SPAN)
               )}
           ) / (
               {" + ".join(
                   f"(CASE WHEN y{i} IS NOT NULL THEN "
                   f"{(1 - _EMA_ALPHA) ** i!r} ELSE 0 END)"
                   if i else "1.0"
                   for i in range(_EMA_SPAN)
               )}
           ) * 100 + 0.5) / 100 AS ema_cents
    FROM lagged
    """,
)
def win_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average over the trailing
    {7}-order frame (span-bounded EMA — the smoothing every
    monitoring/trend surface applies before alerting).

    A true infinite-history EMA is a sequential recurrence — wrong
    shape for a distributed engine. The bounded-span form is a LINEAR
    combination of the last k values, so it unrolls to k lag() terms
    with fixed weights (1-α)^i, all inside ONE window pass over ONE
    shuffle on the partition key: exact, order-stable, codegen'd, and
    the weights are compile-time constants. Integer cents in, one
    rounded float projection out.
    """
    o = t(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey",
        "o_orderkey",
        half_up(F.col("o_totalprice") * 100).alias("y"),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    decay = 1 - _EMA_ALPHA
    terms = [F.col("y").cast("double")]
    wsum = [F.lit(1.0)]
    for i in range(1, _EMA_SPAN):
        yi = F.lag("y", i).over(w)
        terms.append(F.coalesce(yi * F.lit(decay**i), F.lit(0.0)))
        wsum.append(
            F.when(yi.isNotNull(), F.lit(decay**i)).otherwise(F.lit(0.0))
        )
    num = terms[0]
    for x in terms[1:]:
        num = num + x
    den = wsum[0]
    for x in wsum[1:]:
        den = den + x
    return base.select(
        "o_custkey",
        "o_orderkey",
        round_dp(num / den, 2).alias("ema_cents"),
    )


# ---------------------------------------------------------------------------
# Batch 2: embedding diagnostics, warehouse audits, feature prep, phash dedup
# ---------------------------------------------------------------------------

_EMB_DIM = 64


def _label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, n_vectors, centroid array<double>) via Summarizer.mean —
    fixed-width combinable accumulators, ONE small shuffle on label,
    no 64x explode (emb_centroid_label's idiom)."""
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    e = t(spark, sf_dir, "embeddings")
    return (
        e.select("label", array_to_vector(F.col("embedding")).alias("v"))
        .groupBy("label")
        .agg(
            Summarizer.mean(F.col("v")).alias("c"),
            F.count("*").alias("n_vectors"),
        )
        .select(
            "label",
            "n_vectors",
            vector_to_array(F.col("c")).alias("centroid"),
        )
    )


_CENT_SQL = f"""
    cent AS (
        SELECT label, i AS pos, avg(CAST(embedding[i] AS DOUBLE)) AS m
        FROM embeddings, range(1, {_EMB_DIM + 1}) t(i)
        GROUP BY label, i
    ), carr AS (
        SELECT label, list(m ORDER BY pos) AS centroid
        FROM cent GROUP BY label
    )
"""


@register(
    "emb_label_confusion",
    oracle=f"""
    WITH {_CENT_SQL}
    SELECT a.label AS label_a, b.label AS label_b,
           floor(list_cosine_similarity(a.centroid, b.centroid) * 1000000
                 + 0.5) / 1000000 AS confusion
    FROM carr a JOIN carr b ON a.label < b.label
    """,
)
def emb_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-label centroid cosine matrix — which classes are entangled
    in embedding space (high off-diagonal cosine = the labeler or the
    encoder can't tell them apart). The training-data QA report run
    after every re-embed.

    Centroids via one Summarizer pass (|labels| rows), then the
    pairwise matrix is a self-join of that TINY frame (45 pairs here)
    — a bounded BroadcastNestedLoopJoin on label<label, explicitly NOT
    the corpus joined to itself; corpus cost stays one combinable
    shuffle no matter how many vectors."""
    from census_postgres_py_spark.functions.vector import cosine

    cent = _label_centroids(spark, sf_dir)
    a = cent.select(
        F.col("label").alias("label_a"), F.col("centroid").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), F.col("centroid").alias("cb")
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            round_dp(cosine(F.col("ca"), F.col("cb")), 6).alias("confusion"),
        )
    )


_OUTLIER_K = 5


@register(
    "emb_outlier_topk",
    oracle=f"""
    WITH {_CENT_SQL},
    scored AS (
        SELECT e.label, e.vec_id,
               floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                            c.centroid) * 1000000 + 0.5)
                   / 1000000 AS cos_r
        FROM embeddings e JOIN carr c USING (label)
    ), ranked AS (
        SELECT label, vec_id, cos_r,
               row_number() OVER (PARTITION BY label
                                  ORDER BY cos_r, vec_id) AS rn
        FROM scored
    )
    SELECT label, vec_id, cos_r AS cos_to_centroid, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {_OUTLIER_K}
    """,
)
def emb_outlier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mislabel candidates: the k vectors FARTHEST from their
    own label centroid (lowest cosine). What a data-quality loop sends
    for re-annotation.

    Centroids broadcast back onto the corpus (O(dim) per row), ranking
    is a WindowGroupLimit per label — no global sort. Ranking happens
    on the ROUNDED cosine (6dp) with vec_id tiebreak so rank order is
    engine-identical even at float-merge ULP differences."""
    from census_postgres_py_spark.functions.vector import cosine

    cent = _label_centroids(spark, sf_dir).select("label", "centroid")
    e = t(spark, sf_dir, "embeddings")
    scored = e.join(F.broadcast(cent), "label").select(
        "label",
        "vec_id",
        round_dp(
            cosine(F.col("embedding"), F.col("centroid")), 6
        ).alias("cos_r"),
    )
    w = Window.partitionBy("label").orderBy("cos_r", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _OUTLIER_K)
        .select(
            "label", "vec_id", F.col("cos_r").alias("cos_to_centroid"), "rn"
        )
    )


_HH_FACTOR_X10 = 14  # heavy hitter: support >= 1.4x the mean part support


@register(
    "agg_heavy_hitters",
    oracle=f"""
    WITH supp AS (
        SELECT l_partkey AS part, CAST(count(DISTINCT l_orderkey) AS BIGINT)
                   AS n_orders
        FROM lineitem GROUP BY l_partkey
    ), tot AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_total,
               CAST((SELECT count(*) FROM supp) AS BIGINT) AS n_parts,
               CAST((SELECT sum(n_orders) FROM supp) AS BIGINT) AS sum_supp
        FROM lineitem
    )
    SELECT part, n_orders,
           n_orders * 1000000 // n_total AS support_ppm
    FROM supp, tot
    WHERE n_orders * n_parts * 10 >= {_HH_FACTOR_X10} * sum_supp
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters: parts whose order-support is >= 1.4x the
    corpus-mean part support, with integer ppm support. The two-pass
    exact answer that sketch methods (count-min, Misra-Gries)
    approximate — the per-part support agg is combinable and the
    corpus totals are one scalar row, so exactness costs one extra
    shuffle at 100 TB, never a driver bottleneck.

    The threshold is RELATIVE (n·|parts|·10 >= 14·Σn) in pure integer
    arithmetic — no float division before the filter, the cut is exact
    and engine-identical, and the definition survives any scale factor
    (an absolute ppm cut empties as the catalog grows). The 1-row
    totals frame crossJoins on (broadcast) — the text_tfidf
    scalar-broadcast idiom."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    supp = (
        li.distinct()
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(F.count("*").cast("long").alias("n_orders"))
    )
    tot = supp.agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("n_orders").cast("long").alias("sum_supp"),
    ).crossJoin(
        F.broadcast(
            li.agg(
                F.countDistinct("l_orderkey").cast("long").alias("n_total")
            )
        )
    )
    return (
        supp.crossJoin(F.broadcast(tot))
        .filter(
            F.col("n_orders") * F.col("n_parts") * 10
            >= F.lit(_HH_FACTOR_X10) * F.col("sum_supp")
        )
        .select(
            "part",
            "n_orders",
            F.expr("n_orders * 1000000 div n_total").alias("support_ppm"),
        )
    )


@register(
    "dq_fk_orphans",
    oracle="""
    SELECT 'lineitem->orders' AS fk,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_checked,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'lineitem->part',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey))
                AS BIGINT)
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT count(*) FROM orders) AS BIGINT),
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    """,
)
def dq_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for the three FK
    edges of the star (lineitem->orders, lineitem->part,
    orders->customer) in one report — the day-one data-quality gate of
    any warehouse load, and the check the reference delegated to
    Postgres FK constraints.

    Each edge is a broadcast LEFT join against the DISTINCT parent key
    set with a membership flag, then ONE conditional aggregate —
    n_checked and n_orphans come out of the same pass, the three edges
    union into a single plan, and no fact table is scanned twice
    (the first cut ran count() + anti-join count() per edge: 6 actions;
    this is 1). Output is 3 rows; a healthy load reports zeros — the
    value is the loud nonzero after a bad partial load."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    p = t(spark, sf_dir, "part")
    c = t(spark, sf_dir, "customer")

    def edge(
        fact: DataFrame, fk: str, dim: DataFrame, pk: str, name: str,
        dim_table: str,
    ):
        # dim key sets are table-row-scale (orders/part/customer), so
        # the hint is gated like every other fact-scale broadcast
        keys = dim.select(F.col(pk).alias("k")).distinct().withColumn(
            "hit", F.lit(1)
        )
        return (
            fact.select(F.col(fk).alias("k"))
            .join(gated_broadcast(spark, sf_dir, dim_table, keys), "k", "left")
            .agg(
                F.count("*").cast("long").alias("n_checked"),
                F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_orphans"),
            )
            .select(F.lit(name).alias("fk"), "n_checked", "n_orphans")
        )

    return (
        edge(li, "l_orderkey", o, "o_orderkey", "lineitem->orders", "orders")
        .unionByName(
            edge(li, "l_partkey", p, "p_partkey", "lineitem->part", "part")
        )
        .unionByName(
            edge(o, "o_custkey", c, "c_custkey", "orders->customer", "customer")
        )
    )


_BUCKET_W = 50000


@register(
    "transform_bucketize",
    oracle=f"""
    SELECT o_orderkey,
           CAST(least(floor(o_totalprice / {_BUCKET_W}), 9) AS BIGINT)
               AS bucket,
           '[' || CAST(CAST(least(floor(o_totalprice / {_BUCKET_W}), 9)
                            * {_BUCKET_W} AS BIGINT) AS VARCHAR)
               || ',' ||
               CASE WHEN least(floor(o_totalprice / {_BUCKET_W}), 9) = 9
                    THEN 'inf'
                    ELSE CAST(CAST((least(floor(o_totalprice / {_BUCKET_W}),
                                          9) + 1) * {_BUCKET_W} AS BIGINT)
                              AS VARCHAR) END
               || ')' AS bucket_label
    FROM orders
    """,
)
def transform_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width numeric binning with labeled ranges (the feature-
    prep discretizer + the histogram axis every BI tool renders). Bin
    edges are compile-time constants — never inferred from data, so
    the same order lands in the same bucket on every run and every
    engine; the top bucket is open-ended ('[450000,inf)').

    Codegen'd floor arithmetic + string concat, shuffle-free."""
    o = t(spark, sf_dir, "orders")
    b = F.least(F.floor(F.col("o_totalprice") / _BUCKET_W), F.lit(9)).cast(
        "long"
    )
    lo = (b * _BUCKET_W).cast("long").cast("string")
    hi = F.when(b == 9, F.lit("inf")).otherwise(
        ((b + 1) * _BUCKET_W).cast("long").cast("string")
    )
    return o.select(
        "o_orderkey",
        b.alias("bucket"),
        F.concat(F.lit("["), lo, F.lit(","), hi, F.lit(")")).alias(
            "bucket_label"
        ),
    )


_ZCELL_SHIFT = 8  # drop 4 low bits per dimension -> 16x16-key cells


@register(
    "agg_zorder_cells",
    oracle=f"""
    WITH z AS (
        SELECT l_partkey AS pk, l_suppkey AS sk,
               {" | ".join(
                   f"(((l_partkey >> {i}) & 1) << {2 * i + 1})"
                   f" | (((l_suppkey >> {i}) & 1) << {2 * i})"
                   for i in range(16)
               )} AS zval
        FROM lineitem
    )
    SELECT zval >> {_ZCELL_SHIFT} AS cell,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(max(pk) - min(pk) AS BIGINT) AS pk_span,
           CAST(max(sk) - min(sk) AS BIGINT) AS sk_span
    FROM z GROUP BY cell
    """,
)
def agg_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) cell statistics: interleave the bits of the
    two join/filter keys, truncate the curve to prefix cells, and
    report each cell's row count + bounding box. The point of z-order
    clustering made measurable: every cell's bbox is tiny in BOTH
    dimensions (<= 15 here), so zone maps built on z-sorted files can
    skip on either predicate — a lexicographic sort gets one tight
    dimension and one full-domain dimension.

    The Morton code is a 32-term codegen'd bit expression (shifts,
    masks, ors — JVM intrinsics); cells come from ONE hash shuffle on
    the z-prefix. No global sort anywhere: at 100 TB the same
    expression is the repartitionByRange key at write time, and this
    op is the audit you run on the result (sink_manifest_stats'
    zone-map twin)."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    )
    zbits = None
    for i in range(16):
        term = F.shiftleft(
            F.shiftright(F.col("pk"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        ).bitwiseOR(
            F.shiftleft(
                F.shiftright(F.col("sk"), i).bitwiseAND(F.lit(1)), 2 * i
            )
        )
        zbits = term if zbits is None else zbits.bitwiseOR(term)
    z = li.withColumn("zval", zbits)
    return (
        z.groupBy(
            F.shiftright(F.col("zval"), _ZCELL_SHIFT).alias("cell")
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            (F.max("pk") - F.min("pk")).cast("long").alias("pk_span"),
            (F.max("sk") - F.min("sk")).cast("long").alias("sk_span"),
        )
    )


_PHASH_HAM = 6  # 8 bands of 8 bits: <=6 flips leaves >=2 bands intact


def _phash_batches(batches):
    """Arrow-batch kernel: SIMG payload -> 64-bit average-hash.

    Real decode (multimodal._parse_img), crop to the 8x8-divisible
    region, block-mean to an 8x8 grid, threshold at the grid mean,
    pack row-major into a signed int64 (two's complement)."""
    import numpy as np
    import pandas as pd

    from census_postgres_py_spark.operators.multimodal import _parse_img

    for pdf in batches:
        if not len(pdf):
            continue
        ids, hashes = [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, px = _parse_img(bytes(payload))
            img = px.reshape(h, w).astype(np.float64)
            hb, wb = h // 8, w // 8
            cells = (
                img[: hb * 8, : wb * 8]
                .reshape(8, hb, 8, wb)
                .mean(axis=(1, 3))
            )
            bits = (cells > cells.mean()).flatten()
            val = 0
            for i, b in enumerate(bits):
                if b:
                    val |= 1 << i
            if val >= 1 << 63:
                val -= 1 << 64
            ids.append(int(doc_id))
            hashes.append(val)
        yield pd.DataFrame(
            {"doc_id": ids, "phash": np.array(hashes, dtype=np.int64)}
        )


@register("mm_phash_dedup")  # binary decode kernel => rows-only check
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup — the multimodal twin of
    dedup_simhash: decode every SIMG payload, compute a 64-bit 8x8
    average-hash inside one mapInPandas stage, then find all image
    pairs within Hamming distance {6} via 8-bit byte-band candidate
    generation + exact popcount verify.

    Recall is EXACT by pigeonhole (6 flips touch at most 6 of the 8
    bands, so every qualifying pair shares >= 2 intact bands and
    surfaces in the equi-join); rows-only for the driver because the
    decode kernel isn't SQL-expressible — tests/test_ext_round4.py
    brute-forces the identical answer in numpy and compares sets. At
    100 TB: hashes are 8 bytes/image written at ingest; the band join
    is the same banded-LSH shuffle shape as the text dedups — never
    all-pairs."""
    from census_postgres_py_spark.operators.multimodal import _payloads

    # localCheckpoint (r12): the band self-join consumes this frame on
    # BOTH sides, and an opaque MapInPandas subtree never canonicalizes
    # to a ReusedExchange — the r11 plan ran the encode+phash python
    # chain TWICE (once per join branch). The frame is 16 bytes/image
    # (exactly the at-ingest hash column of the 100-TB design), so
    # materializing it is the decide-on-small-rows move: decode once,
    # self-join the lightweight hashes.
    hashes = _payloads(spark, sf_dir).mapInPandas(
        _phash_batches, schema="doc_id long, phash long"
    ).localCheckpoint()
    bands = hashes.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftrightunsigned(F.col("phash"), 8 * b)
                        .bitwiseAND(F.lit(255))
                        .alias("band_val"),
                    )
                    for b in range(8)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "phash", "bb.band_idx", "bb.band_val")
    a = bands.select(
        F.col("doc_id").alias("a_id"),
        F.col("phash").alias("a_hash"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("b_id"),
        F.col("phash").alias("b_hash"),
        "band_idx",
        "band_val",
    )
    # Popcount BEFORE the distinct (r12): hamming is a codegen'd
    # per-row expression over columns already in hand, so running it on
    # the raw join output costs nothing extra, while deduping only the
    # SURVIVORS shrinks the distinct's exchange from every candidate
    # pair (measured 866k distinct / 1.14M raw rows at sf0.1) to the
    # qualifying pairs times their band multiplicity (≤ 8 × 17.3k) —
    # shuffle-fewer-bytes applied to the one exchange this op has.
    # Same output set: (a_id, b_id) determines (a_hash, b_hash), hence
    # hamming, so filter∘distinct ≡ distinct∘filter here.
    ham = F.bit_count(
        F.col("a_hash").bitwiseXOR(F.col("b_hash"))
    ).cast("long")
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= _PHASH_HAM)
        .select("a_id", "b_id", "hamming")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Batch 3: point-in-time join, rules-as-data range dim, weighted median,
# escaped-CSV round-trip, warehouse e2e composition
# ---------------------------------------------------------------------------

_SCD_OPEN = "9999-12-31"


@register(
    "join_point_in_time",
    oracle=f"""
    WITH hist AS (
        SELECT o_custkey,
               CAST(row_number() OVER w AS BIGINT) AS version,
               o_totalprice AS price,
               CAST(o_orderdate AS DATE) AS valid_from,
               coalesce(CAST(lead(o_orderdate) OVER w AS DATE),
                        DATE '{_SCD_OPEN}') AS valid_to
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), fact AS (
        SELECT o.o_custkey AS cust, l.l_orderkey, l.l_linenumber,
               CAST(l.l_shipdate AS DATE) AS ship_date
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT f.l_orderkey, f.l_linenumber, f.cust, f.ship_date,
           h.version AS pit_version, h.price AS pit_price
    FROM fact f
    JOIN hist h ON f.cust = h.o_custkey
               AND f.ship_date >= h.valid_from
               AND f.ship_date < h.valid_to
    """,
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) dimension lookup — enrich each fact row with
    the dimension version that was valid ON ITS OWN DATE, not today's:
    every shipment gets the customer's price attribute as of its ship
    date. THE correctness primitive of ML feature backfills (feature
    leakage = using today's dim for yesterday's fact) and of restated
    warehouse reports.

    NOT implemented as a range join (fact x every version, then
    filter): the history and the facts are UNIONED and sorted once per
    customer — dim rows sort before fact rows on ties — and a running
    `last_value(ignore nulls)` carries the in-force version onto each
    fact row. ONE hash shuffle on the key, O(1) state per row, no
    interval blow-up; same-date version chains (zero-width intervals)
    resolve to the latest version exactly like the oracle's strict
    `< valid_to`. The oracle is the brute-force interval join.
    """
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    wv = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dim = o.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.row_number().over(wv).cast("long").alias("version"),
        F.col("o_totalprice").alias("price"),
        F.lit(1).alias("is_dim"),
        F.lit(None).cast("long").alias("l_orderkey"),
        F.lit(None).cast("long").alias("l_linenumber"),
    )
    fact = (
        li.select("l_orderkey", "l_linenumber", "l_shipdate")
        .join(
            o.select(
                F.col("o_orderkey"), F.col("o_custkey").alias("cust")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "cust",
            F.col("l_shipdate").cast("date").alias("d"),
            F.lit(None).cast("long").alias("version"),
            F.lit(None).cast("double").alias("price"),
            F.lit(0).alias("is_dim"),
            "l_orderkey",
            "l_linenumber",
        )
    )
    merged = dim.unionByName(fact)
    wm = (
        Window.partitionBy("cust")
        .orderBy(
            "d",
            F.col("is_dim").desc(),
            F.coalesce(F.col("version"), F.lit(0)),
            F.coalesce(F.col("l_orderkey"), F.lit(0)),
            F.coalesce(F.col("l_linenumber"), F.lit(0)),
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = merged.select(
        "*",
        F.last("version", ignorenulls=True).over(wm).alias("pit_version"),
        F.last("price", ignorenulls=True).over(wm).alias("pit_price"),
    )
    # Inner-PIT semantics: a fact dated BEFORE the key's first version
    # has no in-force dimension and is dropped (this fixture's shipdates
    # can precede the order date, so ~9% of facts predate version 1) —
    # identical to the oracle's inner interval join. Keep the row with
    # NULLs instead for left-PIT semantics.
    return (
        carried.filter(
            (F.col("is_dim") == 0) & F.col("pit_version").isNotNull()
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "cust",
            F.col("d").alias("ship_date"),
            "pit_version",
            "pit_price",
        )
    )


_TIERS = [
    (0, 1000, "T0_micro"),
    (1000, 5000, "T1_small"),
    (5000, 20000, "T2_mid"),
    (20000, 75000, "T3_large"),
    (75000, 200000, "T4_major"),
    (200000, 600000, "T5_jumbo"),
]


@register(
    "join_range_dim",
    oracle=f"""
    SELECT o.o_orderkey, v.tier, CAST(v.lo AS BIGINT) AS tier_lo
    FROM orders o
    JOIN (VALUES {", ".join(f"({lo}, {hi}, '{name}')" for lo, hi, name in _TIERS)})
         v(lo, hi, tier)
      ON o.o_totalprice >= v.lo AND o.o_totalprice < v.hi
    """,
)
def join_range_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rules-as-data banded lookup: classify every order against a
    TABLE of irregular value ranges (rate cards, tax brackets, SLA
    tiers) — the join-shaped sibling of transform_bucketize's
    compile-time arithmetic: here the bands live in data and change
    without a deploy.

    The band table is broadcast and the non-equi condition runs as a
    BroadcastNestedLoopJoin — bounded at |fact| x |bands| predicate
    evaluations with NO shuffle of the fact side, which is the right
    plan when the dim is tiny and bands are irregular (for sorted
    numeric bands at huge band counts, a bucketized equi-join like
    join_interval_bin takes over).
    """
    dim = spark.createDataFrame(_TIERS, "lo long, hi long, tier string")
    o = t(spark, sf_dir, "orders")
    return (
        o.join(
            F.broadcast(dim),
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi")),
        )
        .select(
            "o_orderkey", "tier", F.col("lo").cast("long").alias("tier_lo")
        )
    )


@register(
    "agg_weighted_percentile",
    oracle="""
    WITH base AS (
        SELECT l_returnflag AS flag,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y,
               CAST(l_quantity AS BIGINT) AS wt,
               l_orderkey, l_linenumber
        FROM lineitem
    ), cum AS (
        SELECT flag, y, wt,
               sum(wt) OVER (PARTITION BY flag
                             ORDER BY y, l_orderkey, l_linenumber
                             ROWS UNBOUNDED PRECEDING) AS cw,
               sum(wt) OVER (PARTITION BY flag) AS tw
        FROM base
    )
    SELECT flag,
           min(y) AS wmedian_cents,
           CAST(any_value(tw) AS BIGINT) AS total_weight
    FROM cum WHERE cw * 2 >= tw
    GROUP BY flag
    """,
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median (quantity-weighted price per return
    flag) — 'the price at which half the shipped VOLUME is cheaper',
    which is the number pricing teams actually want and
    `percentile(0.5)` can't give them.

    Lower weighted median over integer cents and integer weights: one
    window pass accumulates running weight, the answer is min(y) where
    2·cumw >= totw — all-integer comparisons, no interpolation, no
    float, so the result is exact and engine-identical. One shuffle on
    the group key serves both window frames and the final agg."""
    li = t(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("flag"),
        half_up(F.col("l_extendedprice") * 100).alias("y"),
        F.col("l_quantity").cast("long").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    wo = Window.partitionBy("flag").orderBy("y", "l_orderkey", "l_linenumber")
    cum = base.select(
        "flag",
        "y",
        F.sum("wt")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cw"),
        F.sum("wt").over(Window.partitionBy("flag")).alias("tw"),
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("y").alias("wmedian_cents"),
            F.first("tw").cast("long").alias("total_weight"),
        )
    )


@register(
    "sink_csv_escaped",
    oracle="""
    SELECT doc_id,
           md5('v1,"' || lang || '"' || chr(10) || source) AS payload_md5
    FROM documents
    """,
)
def sink_csv_escaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip with HOSTILE payloads — embedded delimiters,
    double quotes, and newlines in every value — proving the sink's
    quoting/escaping and the source's multiLine parser reproduce the
    bytes exactly (the silent-corruption class of CSV interchange:
    a naive split-on-comma reader shreds these rows).

    Each document synthesizes the payload 'v1,"<lang>"\\n<source>'
    (comma + quoted quote + hard newline), writes through the CSV sink
    (default RFC-4180 quote-doubling), reads back with
    multiLine=true, and emits md5(payload) per doc — the oracle
    computes the same md5 from the definition, so one flipped or lost
    byte anywhere in the write/read pair fails the hash."""
    from census_postgres_py_spark import scratch

    d = t(spark, sf_dir, "documents")
    payload = F.concat(
        F.lit('v1,"'),
        F.col("lang"),
        F.lit('"'),
        F.lit("\n"),
        F.col("source"),
    )
    out = d.select("doc_id", payload.alias("payload"))
    path = scratch.call_dir("csv_escaped")
    out.coalesce(4).write.mode("overwrite").option("header", True).csv(path)
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .schema("doc_id long, payload string")
        .csv(path)
    )
    return back.select("doc_id", F.md5("payload").alias("payload_md5"))


@register(
    "pipeline_warehouse_e2e",
    oracle="""
    WITH current_state AS (
        SELECT o_custkey, o_totalprice AS price
        FROM (
            SELECT o_custkey, o_totalprice, o_orderstatus,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders
        ) WHERE rn = 1 AND o_orderstatus <> 'P'
    )
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(floor(s.price * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS state_cents,
           CAST(sum(CASE WHEN s.price > 100000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_large
    FROM current_state s
    JOIN customer c ON c.c_custkey = s.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def pipeline_warehouse_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed warehouse refresh, end to end: CDC changelog
    compaction (cdc_apply's dataflow — latest change wins, deletes
    drop) -> broadcast-join the surviving current state to the
    customer dimension -> per-segment state report (customer counts,
    exact integer-cents totals, large-account counts). What a team
    replacing the reference's Postgres warehouse runs on every feed
    arrival, as ONE lineage-connected plan: WindowGroupLimit top-1 per
    key, one broadcast join, one combinable agg — three stages, two
    shuffles, no driver state.
    """
    from census_postgres_py_spark.operators.cdc import cdc_apply

    state = cdc_apply(spark, sf_dir)
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = state.join(
        gated_broadcast(spark, sf_dir, "customer", c),
        state["o_custkey"] == c["c_custkey"],
    )
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum(half_up(F.col("price") * 100)).cast("long").alias("state_cents"),
        F.sum(F.when(F.col("price") > 100000, 1).otherwise(0))
        .cast("long")
        .alias("n_large"),
    )


_CMS_EPS = 0.0005  # relative error bound (vs total count)
_CMS_CONF = 0.99
_CMS_SEED = 42
_CMS_PROBES = [0, 7, 13, 101, 997]


@register("agg_count_min_sketch")  # sketch estimate => rows-only check
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates — the last member of the
    mergeable-sketch family (agg_hll_mergeable: distinct; agg_tdigest:
    quantiles; agg_bitmap_distinct: exact sets; this: per-item
    frequencies in fixed memory). Spark's `count_min_sketch` aggregate
    builds per-partition sketches and MERGES them tree-wise — the
    fixed-width-accumulator shape that makes frequency monitoring free
    at 100 TB, where a groupBy on a high-cardinality key would shuffle
    the world.

    The sketch (a few KB, independent of corpus size) is the ONE thing
    collected to the driver; probe-key estimates are read back through
    the JVM CountMinSketch API and joined against the exact counts so
    the output shows the (always >= 0) overcount per probe. Fixed seed
    => deterministic; rows-only for the driver (no SQL twin for the
    sketch internals) — tests pin the CMS guarantee est-exact <= eps*N.
    """
    li = t(spark, sf_dir, "lineitem").select("l_partkey")
    sk_bytes = li.agg(
        F.count_min_sketch(
            F.col("l_partkey"),
            F.lit(_CMS_EPS),
            F.lit(_CMS_CONF),
            F.lit(_CMS_SEED),
        ).alias("sk")
    ).collect()[0]["sk"]
    jvm = spark._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(sk_bytes))
    )
    est = spark.createDataFrame(
        [
            (int(p), int(cms.estimateCount(jvm.java.lang.Long(int(p)))))
            for p in _CMS_PROBES
        ],
        "part long, est_count long",
    )
    exact = (
        li.filter(F.col("l_partkey").isin(_CMS_PROBES))
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(F.count("*").cast("long").alias("exact_count"))
    )
    return (
        est.join(exact, "part", "left")
        .select(
            "part",
            "est_count",
            F.coalesce("exact_count", F.lit(0)).alias("exact_count"),
            (F.col("est_count") - F.coalesce("exact_count", F.lit(0))).alias(
                "overcount"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Batch 4: rolling anomaly score, feature scaling, row checksums, dup-rate DQ
# ---------------------------------------------------------------------------

_Z_FRAME = 30
_Z_MIN_N = 5


@register(
    "win_rolling_zscore",
    oracle=f"""
    WITH base AS (
        SELECT o_custkey, o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
        FROM orders
    ), stats AS (
        SELECT o_custkey, o_orderkey, y,
               CAST(count(*) OVER w AS BIGINT) AS n,
               CAST(sum(y) OVER w AS BIGINT) AS s,
               CAST(sum(y * y) OVER w AS BIGINT) AS q
        FROM base
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
                     ROWS BETWEEN {_Z_FRAME - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT o_custkey, o_orderkey,
           CASE WHEN n * q - s * s <= 0 THEN 0.0
                ELSE floor((n * y - s)
                           / sqrt(CAST(n * q - s * s AS DOUBLE) * n
                                  / (n - 1))
                           * 10000 + 0.5) / 10000 END AS zscore
    FROM stats WHERE n >= {_Z_MIN_N}
    """,
)
def win_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly signal: how many trailing-window
    standard deviations each order sits from its customer's recent
    mean — the alerting primitive behind spend-spike and fraud
    monitors, windowed so the baseline adapts.

    Sufficient statistics (count, Σy, Σy²) accumulate as EXACT
    integers over the bounded ROWS frame in one window pass; the only
    float work is the final (n·y − s)/√(...) projection, written as
    the identical expression tree on both engines so IEEE rounding
    matches step for step. Warm-up rows (n < 5) are excluded — a
    2-sample std is noise, not baseline. One shuffle; O(1) state/row.
    """
    o = t(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey",
        "o_orderkey",
        half_up(F.col("o_totalprice") * 100).alias("y"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(-(_Z_FRAME - 1), 0)
    )
    stats = base.select(
        "o_custkey",
        "o_orderkey",
        "y",
        F.count("*").over(w).cast("long").alias("n"),
        F.sum("y").over(w).cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("long").alias("q"),
    )
    b = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    z = (F.col("n") * F.col("y") - F.col("s")) / F.sqrt(
        b.cast("double") * F.col("n") / (F.col("n") - 1)
    )
    return (
        stats.filter(F.col("n") >= _Z_MIN_N)
        .select(
            "o_custkey",
            "o_orderkey",
            F.when(b <= 0, F.lit(0.0))
            .otherwise(round_dp(z, 4))
            .alias("zscore"),
        )
    )


@register(
    "transform_minmax_scale",
    oracle="""
    WITH base AS (
        SELECT o_custkey, o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
        FROM orders
    ), ranges AS (
        SELECT o_custkey, o_orderkey, y,
               min(y) OVER (PARTITION BY o_custkey) AS lo,
               max(y) OVER (PARTITION BY o_custkey) AS hi
        FROM base
    )
    SELECT o_custkey, o_orderkey,
           CASE WHEN hi = lo THEN 0.5
                ELSE floor(CAST(y - lo AS DOUBLE) / (hi - lo) * 1000000
                           + 0.5) / 1000000 END AS scaled
    FROM ranges
    """,
)
def transform_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max feature scaling to [0, 1] (the normalization
    step before distance-based models), constant-value groups pinned
    to 0.5 rather than dividing by zero.

    Group extrema come from UNORDERED whole-partition window frames —
    no orderBy means no sort, just one hash shuffle and a running
    min/max per group; the scale itself is one exact integer
    difference over one double division, identical on both engines.
    The broadcast-back-join alternative (transform_impute_mean's
    shape) pays the same shuffle plus a join — the window form wins
    when the fact table is the only input.
    """
    o = t(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey",
        "o_orderkey",
        half_up(F.col("o_totalprice") * 100).alias("y"),
    )
    wp = Window.partitionBy("o_custkey")
    ranged = base.select(
        "o_custkey",
        "o_orderkey",
        "y",
        F.min("y").over(wp).alias("lo"),
        F.max("y").over(wp).alias("hi"),
    )
    scaled = (F.col("y") - F.col("lo")).cast("double") / (
        F.col("hi") - F.col("lo")
    )
    return ranged.select(
        "o_custkey",
        "o_orderkey",
        F.when(F.col("hi") == F.col("lo"), F.lit(0.5))
        .otherwise(round_dp(scaled, 6))
        .alias("scaled"),
    )


@register(
    "fn_row_checksum",
    oracle="""
    SELECT o_orderkey,
           md5(concat_ws(chr(31),
               CAST(o_orderkey AS VARCHAR),
               CAST(o_custkey AS VARCHAR),
               coalesce(o_orderstatus, chr(0)),
               CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                    AS VARCHAR),
               CAST(CAST(o_orderdate AS DATE) AS VARCHAR),
               coalesce(o_orderpriority, chr(0)))) AS row_md5
    FROM orders
    """,
)
def fn_row_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical whole-row checksum — the content-address that makes
    table diffs, idempotent upserts, and audit trails O(1) per row
    (snapshot_diff compares columns; this collapses the row to one
    comparable key FIRST, which is what you ship across systems).

    Canonicalization rules make the hash engine-independent: every
    field renders through a FIXED form (integers as decimal strings,
    money as integer cents — never raw doubles, whose to-string
    differs between engines — dates as ISO), NULL gets a sentinel
    distinct from any value, and fields join on the unit-separator
    control char. Codegen'd projection, shuffle-free.
    """
    o = t(spark, sf_dir, "orders")
    sep = "\x1f"
    nul = "\x00"
    parts = [
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.coalesce(F.col("o_orderstatus"), F.lit(nul)),
        half_up(F.col("o_totalprice") * 100).cast("string"),
        F.col("o_orderdate").cast("date").cast("string"),
        F.coalesce(F.col("o_orderpriority"), F.lit(nul)),
    ]
    return o.select(
        "o_orderkey",
        F.md5(F.concat_ws(sep, *parts)).alias("row_md5"),
    )


@register(
    "dq_dup_rate",
    oracle=f"""
    WITH marked AS (
        SELECT source,
               CASE WHEN count(*) OVER (
                        PARTITION BY substr(text, 1, {_PREFIX_LEN})) > 1
                    THEN 1 ELSE 0 END AS in_dup
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(in_dup) AS BIGINT) AS n_dup_docs,
           CAST(sum(in_dup) AS BIGINT) * 1000000 // count(*) AS dup_ppm
    FROM marked GROUP BY source
    """,
)
def dq_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication-rate report: what fraction of each
    source's documents share a boilerplate prefix with ANY other
    document — the corpus-health dashboard number that tells you which
    crawler/feed is flooding the corpus with templates BEFORE you pay
    for full near-dup dedup on it.

    Two shuffles: one window count over the prefix key (global dup
    membership — dedup_prefix_cluster's key, reused as a flag), one
    combinable per-source rollup. The rate is integer ppm — no float
    anywhere."""
    d = t(spark, sf_dir, "documents")
    wpref = Window.partitionBy(F.substring("text", 1, _PREFIX_LEN))
    marked = d.select(
        "source",
        F.when(F.count("*").over(wpref) > 1, 1).otherwise(0).alias("in_dup"),
    )
    return marked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("in_dup").cast("long").alias("n_dup_docs"),
        F.expr("sum(in_dup) * 1000000 div count(*)").alias("dup_ppm"),
    )


# ---------------------------------------------------------------------------
# Batch 5: behavioral analytics — transition matrix, recency features,
# audience overlap
# ---------------------------------------------------------------------------


@register(
    "agg_markov_transitions",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY epoch_ms(ts), event_id)
                   AS prev_type
        FROM events
    ), pairs AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               CAST(count(*) AS BIGINT) AS n
        FROM ordered WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ), totals AS (
        SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total FROM pairs
        GROUP BY from_type
    )
    SELECT p.from_type, p.to_type, p.n,
           p.n * 1000000 // t.row_total AS prob_ppm
    FROM pairs p JOIN totals t USING (from_type)
    """,
)
def agg_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix: for every consecutive
    event pair per user (time-ordered, total tiebreak), count
    from_type -> to_type and express each row's transition probability
    in integer ppm — the Markov model behind next-action prediction,
    funnel-leak diagnosis, and bot detection (uniform rows = scripted
    traffic).

    One window shuffle on user_id for the lag, one combinable count on
    the (from, to) pair — the |types|² matrix is tiny no matter how
    large the corpus. Probabilities are integer ppm of EXACT integer
    counts: no float, engine-identical."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_millis(F.col("ts")).alias("ts_ms"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    ordered = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    pairs = ordered.groupBy("from_type", "to_type").agg(
        F.count("*").cast("long").alias("n")
    )
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.expr("n * 1000000 div sum(n) over (partition by from_type)")
        .alias("prob_ppm"),
    )


@register(
    "win_time_since_last",
    oracle="""
    WITH ev AS (
        SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
        FROM events
    )
    SELECT event_id, user_id, ts_ms,
           ts_ms - last_value(CASE WHEN event_type = 'purchase'
                                   THEN ts_ms END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS ms_since_purchase
    FROM ev
    """,
)
def win_time_since_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency feature: at EVERY event, milliseconds since the user's
    previous 'purchase' (NULL before the first one) — the
    time-since-last-X family that powers churn features, cooldown
    rules, and attribution windows.

    The conditional-carry idiom: a CASE picks only purchase
    timestamps, `last_value(... IGNORE NULLS)` over the
    UNBOUNDED-to-1-PRECEDING frame carries the most recent one
    forward, and a subtraction finishes it. One window pass, one
    shuffle, O(1) state per row — no self-join against the purchase
    subset (the naive plan, which shuffles twice and skews on heavy
    purchasers)."""
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_millis(F.col("ts")).alias("ts_ms"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_purchase = F.last(
        F.when(F.col("event_type") == "purchase", F.col("ts_ms")),
        ignorenulls=True,
    ).over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts_ms",
        (F.col("ts_ms") - last_purchase).alias("ms_since_purchase"),
    )


@register(
    "agg_overlap_matrix",
    oracle="""
    WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_both
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
)
def agg_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, how
    many users did BOTH — the co-engagement report behind feature
    adoption and cross-sell analysis.

    The corpus first collapses to DISTINCT (user, type) — at most
    |users|·|types| rows — and the pair space comes from an equi-join
    ON THE USER, so the blow-up per user is bounded by |types|²
    (25 here), never corpus². Same basket-bounded shape as
    agg_cooccurrence, applied to behavior."""
    ut = (
        t(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    return (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
