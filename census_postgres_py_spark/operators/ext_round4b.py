"""Round-4b extension operators (SURVEY.md §2.16).

Second round-4 widening pass, along the axes a team running the engine
at corpus scale asks for next: association-rule lift for basket
analysis, incremental-ingest dedup (the "only process unseen docs"
gate), int8 embedding quantization for a feature store, weekly churn
and hour-of-week seasonality reads, period-over-period growth, a join
-key skew audit (the report that tells you WHERE to salt), overlapping
token-window chunking, unicode slug keys, and a distributed PCA power
iteration over the embedding corpus.

Same contract discipline as every module before it (registry.py:8-19):
identical aliases on both engines, integer/decimal accumulation
wherever a sum can wrap, `floor(x*k + 0.5)` half-up fixed-point on
every float projection (identical IEEE expression trees on both
engines, so the hash compare is exact), epoch-millis timestamp export,
and `nullif` guards wherever a divisor could be zero so NULL
propagation — not engine-specific div-by-zero behavior — decides.

Registered after the r4 grading window; driver-graded via the r5/r6
rotation (window machinery retired in r10 — see registry.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up
from census_postgres_py_spark.functions.text import tokens
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import gated_broadcast, t


# ---------------------------------------------------------------------------
# agg_basket_lift — association rules over order baskets
# ---------------------------------------------------------------------------


@register(
    "agg_basket_lift",
    oracle="""
    WITH b AS (
        SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n AS (
        SELECT CAST(count(DISTINCT ok) AS DOUBLE) AS n_orders FROM b
    ), singles AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY brand
    ), pairs AS (
        SELECT a.brand AS brand_a, c.brand AS brand_b,
               CAST(count(*) AS BIGINT) AS pair_orders
        FROM b a JOIN b c ON a.ok = c.ok AND a.brand < c.brand
        GROUP BY a.brand, c.brand
    )
    SELECT brand_a, brand_b, pair_orders,
           CAST(floor(CAST(pair_orders AS DOUBLE) * n.n_orders * 1000000
                      / (CAST(sa.cnt AS DOUBLE) * sb.cnt) + 0.5)
                AS BIGINT) AS lift_ppm,
           CAST(floor(CAST(pair_orders AS DOUBLE) * 1000000 / n.n_orders
                      + 0.5) AS BIGINT) AS support_ppm
    FROM pairs
    JOIN singles sa ON pairs.brand_a = sa.brand
    JOIN singles sb ON pairs.brand_b = sb.brand
    CROSS JOIN n
    ORDER BY lift_ppm DESC, brand_a, brand_b
    LIMIT 20
    """,
)
def agg_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule lift over order baskets: top-20 brand pairs by
    lift = P(a,b) / (P(a)·P(b)), the 2-item frequent-itemset read every
    merchandising warehouse runs.

    Scale shape: `part` is a dim → broadcast into lineitem; the basket
    table is DISTINCT (order, brand) — bounded at |orders|·|brands|;
    the pair self-join is an equi-join on the order key (per-basket
    blow-up bounded by brands²=625, never a cross join); brand margins
    are a 25-row broadcast. Lift is computed in one double expression
    tree shared verbatim with the oracle, then TakeOrderedAndProject
    keeps the top 20 with a total (brand_a, brand_b) tiebreak.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(gated_broadcast(spark, sf_dir, "part", part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    n = b.agg(F.count_distinct("ok").cast("double").alias("n_orders"))
    singles = b.groupBy("brand").agg(F.count("*").cast("long").alias("cnt"))
    a, c = b.alias("a"), b.alias("c")
    pairs = (
        a.join(c, (F.col("a.ok") == F.col("c.ok")) & (F.col("a.brand") < F.col("c.brand")))
        .groupBy(
            F.col("a.brand").alias("brand_a"),
            F.col("c.brand").alias("brand_b"),
        )
        .agg(F.count("*").cast("long").alias("pair_orders"))
    )
    # ca is widened to double BEFORE the product: a long*long margin
    # product would wrap at ~3e9-order counts; the double path is
    # exact to 2^53 and mirrored verbatim in the oracle
    lift = half_up(
        F.col("pair_orders").cast("double")
        * F.col("n_orders")
        * F.lit(1000000)
        / (F.col("ca").cast("double") * F.col("cb"))
    )
    support = half_up(
        F.col("pair_orders").cast("double") * F.lit(1000000) / F.col("n_orders")
    )
    return (
        pairs.join(
            F.broadcast(singles.select(F.col("brand").alias("brand_a"), F.col("cnt").alias("ca"))),
            "brand_a",
        )
        .join(
            F.broadcast(singles.select(F.col("brand").alias("brand_b"), F.col("cnt").alias("cb"))),
            "brand_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "pair_orders",
            lift.alias("lift_ppm"),
            support.alias("support_ppm"),
        )
        .orderBy(F.col("lift_ppm").desc(), "brand_a", "brand_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# dedup_incremental — only-process-unseen ingest gate
# ---------------------------------------------------------------------------


@register(
    "dedup_incremental",
    oracle="""
    WITH basekeys AS (
        SELECT DISTINCT md5(text) AS content_key
        FROM documents WHERE doc_id % 10 <> 0
    ), incoming AS (
        SELECT doc_id, md5(text) AS content_key
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, md5(text) AS content_key
        FROM documents WHERE doc_id % 10 = 3
    )
    SELECT i.doc_id, i.content_key,
           CASE WHEN b.content_key IS NULL THEN 'new' ELSE 'dup' END
               AS status
    FROM incoming i LEFT JOIN basekeys b ON i.content_key = b.content_key
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: classify an incoming batch against the
    existing corpus's content fingerprints — the "only embed/process
    unseen documents" gate at the front of every recurring crawl.

    Fixture has no cross-batch dups (FIXTURES.md "no exact duplicate
    texts"), so known dups are injected: base = doc_id%10≠0, incoming
    = doc_id%10=0 (all genuinely new) plus re-keyed copies of the
    doc_id%10=3 base docs (all dups). Scale shape: the corpus
    fingerprint set is distinct md5s only — far smaller than the
    corpus, but still cluster-sized, so this is a partitioned
    hash equi-join on the key (NOT a broadcast); the incoming side
    shuffles once by content_key. Left join + null-flag keeps both
    classes in one pass (an anti join would need a second for 'dup').
    """
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    basekeys = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select(F.md5("text").alias("content_key"))
        .distinct()
    )
    incoming = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", F.md5("text").alias("content_key"))
        .unionAll(
            docs.filter(F.col("doc_id") % 10 == 3).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.md5("text").alias("content_key"),
            )
        )
    )
    b = basekeys.select(F.col("content_key").alias("base_key"))
    return (
        incoming.join(b, incoming.content_key == b.base_key, "left")
        .select(
            "doc_id",
            "content_key",
            F.when(F.col("base_key").isNull(), F.lit("new"))
            .otherwise(F.lit("dup"))
            .alias("status"),
        )
    )


# ---------------------------------------------------------------------------
# emb_quantize_int8 — feature-store embedding compression
# ---------------------------------------------------------------------------


@register(
    "emb_quantize_int8",
    oracle="""
    WITH s AS (
        SELECT vec_id, embedding,
               nullif(list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))), 0.0) AS mx
        FROM embeddings
    )
    SELECT vec_id,
           CAST(floor(mx / 127 * 1000000 + 0.5) AS BIGINT) AS scale_ppm,
           array_to_string(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) / mx * 127 + 0.5)
                         AS BIGINT)), ',') AS q_vec,
           CAST(list_sum(list_transform(embedding,
               x -> abs(CAST(floor(CAST(x AS DOUBLE) / mx * 127 + 0.5)
                             AS BIGINT)))) AS BIGINT) AS q_l1
    FROM s
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the 4×
    compression a feature store applies before serving ANN shards
    (scale = max|x|/127 per vector, q = round(x/scale)).

    Entirely elementwise `transform` lambdas — codegen'd, shuffle-free,
    scan-bound at any corpus size. Every float step (widen to double,
    divide, multiply, floor-half-up) is an exactly-rounded IEEE op
    evaluated in the same order by both engines, so the quantized
    values hash-match without tolerance. `nullif(mx, 0)` makes an
    all-zero vector yield NULLs identically on both sides instead of
    relying on engine div-by-zero behavior. q_l1 is an integer checksum
    of the quantized vector (exact, mergeable).
    """
    e = t(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    mx = F.nullif(
        F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(xd(x)))),
        F.lit(0.0),
    )
    s = e.select("vec_id", "embedding", mx.alias("mx"))
    q = F.transform(
        F.col("embedding"),
        lambda x: half_up(xd(x) / F.col("mx") * F.lit(127)),
    )
    return s.select(
        "vec_id",
        half_up(F.col("mx") / F.lit(127) * F.lit(1000000)).alias("scale_ppm"),
        F.array_join(q, ",").alias("q_vec"),
        F.aggregate(
            q, F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
        ).alias("q_l1"),
    )


# ---------------------------------------------------------------------------
# agg_churn_weekly — week-over-week user churn
# ---------------------------------------------------------------------------


@register(
    "agg_churn_weekly",
    oracle="""
    WITH wa AS (
        SELECT DISTINCT date_trunc('week', ts) AS wk, user_id FROM events
    ), mx AS (
        SELECT max(wk) AS mxwk FROM wa
    )
    SELECT epoch_ms(CAST(cur.wk AS TIMESTAMP)) AS week_ms,
           CAST(count(*) AS BIGINT) AS active_users,
           CAST(count(*) FILTER (WHERE nxt.user_id IS NULL) AS BIGINT)
               AS churned_users,
           CAST(floor(CAST(count(*) FILTER (WHERE nxt.user_id IS NULL)
                           AS DOUBLE) * 1000000 / count(*) + 0.5)
                AS BIGINT) AS churn_ppm
    FROM wa cur
    LEFT JOIN wa nxt
      ON nxt.user_id = cur.user_id
     AND nxt.wk = cur.wk + INTERVAL 7 DAY
    CROSS JOIN mx
    WHERE cur.wk < mx.mxwk
    GROUP BY cur.wk
    """,
)
def agg_churn_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly churn: of the users active in week w, how many never
    appear in week w+1 — the retention counterpart every growth
    dashboard pairs with `agg_retention_cohort`.

    Scale shape: the distinct (week, user) collapse is the only pass
    over raw events (combinable, one shuffle); the week-over-week
    probe is a self equi-join of the ALREADY-collapsed activity table
    on (user, week+7d) — both sides partition on user_id, and the
    activity table is |users|·|weeks|, orders of magnitude smaller
    than the event log. The final week is excluded via a 1-row
    broadcast max (no next week exists to prove churn against).
    """
    ev = t(spark, sf_dir, "events")
    wa = ev.select(
        F.date_trunc("week", "ts").alias("wk"), "user_id"
    ).distinct()
    mx = wa.agg(F.max("wk").alias("mxwk"))
    cur, nxt = wa.alias("cur"), wa.alias("nxt")
    joined = cur.join(
        nxt,
        (F.col("nxt.user_id") == F.col("cur.user_id"))
        & (F.col("nxt.wk") == F.col("cur.wk") + F.expr("INTERVAL 7 DAY")),
        "left",
    ).crossJoin(F.broadcast(mx)).filter(F.col("cur.wk") < F.col("mxwk"))
    churned = F.count(F.when(F.col("nxt.user_id").isNull(), 1)).cast("long")
    return joined.groupBy(F.col("cur.wk").alias("wk")).agg(
        F.count("*").cast("long").alias("active_users"),
        churned.alias("churned_users"),
        half_up(churned.cast("double") * F.lit(1000000) / F.count("*")).alias(
            "churn_ppm"
        ),
    ).select(
        F.unix_millis("wk").alias("week_ms"),
        "active_users",
        "churned_users",
        "churn_ppm",
    )


# ---------------------------------------------------------------------------
# agg_seasonality — hour-of-week activity profile
# ---------------------------------------------------------------------------


@register(
    "agg_seasonality",
    oracle="""
    WITH e AS (
        SELECT CAST(isodow(ts) AS INTEGER) AS dow,
               CAST(hour(ts) AS INTEGER) AS hr,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ), tot AS (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM events
    )
    SELECT dow, hr,
           CAST(count(*) AS BIGINT) AS events,
           CAST(floor(count(*) * 1000000 / tot.n + 0.5) AS BIGINT)
               AS share_ppm,
           CAST(sum(cents) AS BIGINT) AS value_cents
    FROM e CROSS JOIN tot
    GROUP BY dow, hr, tot.n
    """,
)
def agg_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week seasonality profile: events and exact-cents value
    per (ISO weekday, hour) cell with ppm traffic share — the load
    heatmap behind capacity planning and anomaly baselines.

    One combinable aggregation over the event log (168-cell output, so
    map-side partials do nearly all the work); the corpus total is a
    1-row broadcast. Weekday numbering is pinned to ISO (1=Monday) on
    both engines — Spark's Sunday-based `dayofweek` is remapped with
    integer arithmetic, never with locale-dependent formatting. The
    value column is rendered to integer cents per row BEFORE summing,
    so the aggregate is exact and partial-merge-order-proof.
    """
    ev = t(spark, sf_dir, "events")
    e = ev.select(
        (((F.dayofweek("ts") + 5) % 7) + 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
        half_up(F.col("value") * 100).alias("cents"),
    )
    tot = ev.agg(F.count("*").cast("double").alias("n"))
    return (
        e.crossJoin(F.broadcast(tot))
        .groupBy("dow", "hr", "n")
        .agg(
            F.count("*").cast("long").alias("events"),
            half_up(F.count("*") * F.lit(1000000) / F.col("n")).alias(
                "share_ppm"
            ),
            F.sum("cents").cast("long").alias("value_cents"),
        )
        .select("dow", "hr", "events", "share_ppm", "value_cents")
    )


# ---------------------------------------------------------------------------
# win_period_growth — week-over-week revenue growth
# ---------------------------------------------------------------------------


@register(
    "win_period_growth",
    oracle="""
    WITH w AS (
        SELECT date_trunc('week', o_orderdate) AS wk,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1
    )
    SELECT epoch_ms(CAST(wk AS TIMESTAMP)) AS week_ms, rev_cents,
           lag(rev_cents) OVER (ORDER BY wk) AS prev_cents,
           rev_cents - lag(rev_cents) OVER (ORDER BY wk) AS delta_cents,
           CAST(floor((rev_cents - lag(rev_cents) OVER (ORDER BY wk))
                      * 1000000.0 / lag(rev_cents) OVER (ORDER BY wk)
                      + 0.5) AS BIGINT) AS growth_ppm
    FROM w
    """,
)
def win_period_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period growth: weekly revenue in exact cents with
    the WoW delta and ppm growth rate — the first chart on every
    revenue dashboard.

    The raw fact table is reduced FIRST (combinable exact-cents sum,
    one shuffle, ~350 weekly rows at any scale factor — time-bounded,
    not data-bounded), and only then does the unpartitioned lag()
    window run. A global window is normally a scale smell; here it
    operates on the already-aggregated weeks-of-history frame, whose
    size is O(calendar), so the single task is microseconds. First
    week's prev/delta/growth stay NULL on both engines (no sentinel).
    """
    orders = t(spark, sf_dir, "orders")
    w = orders.groupBy(F.date_trunc("week", "o_orderdate").alias("wk")).agg(
        F.sum(half_up(F.col("o_totalprice") * 100))
        .cast("long")
        .alias("rev_cents")
    )
    win = Window.orderBy("wk")
    prev = F.lag("rev_cents").over(win)
    return w.select(
        F.unix_millis("wk").alias("week_ms"),
        "rev_cents",
        prev.alias("prev_cents"),
        (F.col("rev_cents") - prev).alias("delta_cents"),
        half_up((F.col("rev_cents") - prev) * F.lit(1000000.0) / prev).alias(
            "growth_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# dq_skew_report — join-key skew audit
# ---------------------------------------------------------------------------


@register(
    "dq_skew_report",
    oracle="""
    WITH pk AS (SELECT count(*) AS c FROM lineitem GROUP BY l_partkey),
         sk AS (SELECT count(*) AS c FROM lineitem GROUP BY l_suppkey),
         ok AS (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey)
    SELECT 'l_orderkey' AS col_name,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(c) AS BIGINT) AS max_rows_per_key,
           CAST(floor(CAST(max(c) AS DOUBLE) * count(*) * 1000000
                      / sum(c) + 0.5) AS BIGINT) AS skew_ratio_ppm
    FROM ok
    UNION ALL
    SELECT 'l_partkey', CAST(sum(c) AS BIGINT), CAST(count(*) AS BIGINT),
           CAST(max(c) AS BIGINT),
           CAST(floor(CAST(max(c) AS DOUBLE) * count(*) * 1000000
                      / sum(c) + 0.5) AS BIGINT)
    FROM pk
    UNION ALL
    SELECT 'l_suppkey', CAST(sum(c) AS BIGINT), CAST(count(*) AS BIGINT),
           CAST(max(c) AS BIGINT),
           CAST(floor(CAST(max(c) AS DOUBLE) * count(*) * 1000000
                      / sum(c) + 0.5) AS BIGINT)
    FROM sk
    """,
)
def dq_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit: for each FK column of the fact table,
    report key cardinality, the hottest key's row count, and the
    max/mean skew ratio (ppm) — the report that tells an operator
    WHICH join needs salting (`join_skew_salted`) or AQE skew
    handling BEFORE the 100 TB run, not after it dies.

    Three per-key count aggregations (each combinable — the shuffle
    carries one row per distinct key, not per fact row) reduced to a
    3-row report. skew_ratio = max_count / (n_rows / n_keys), computed
    in one shared double expression tree. A uniform key sits near
    1 000 000 ppm; a pathological key is orders of magnitude above.
    """
    li = t(spark, sf_dir, "lineitem")

    def audit(col: str) -> DataFrame:
        per_key = li.groupBy(col).agg(F.count("*").alias("c"))
        return per_key.agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_keys"),
            F.max("c").cast("long").alias("max_rows_per_key"),
            half_up(
                F.max("c").cast("double")
                * F.count("*")
                * F.lit(1000000)
                / F.sum("c")
            ).alias("skew_ratio_ppm"),
        ).select(
            F.lit(col).alias("col_name"),
            "n_rows",
            "n_keys",
            "max_rows_per_key",
            "skew_ratio_ppm",
        )

    return audit("l_orderkey").unionAll(audit("l_partkey")).unionAll(
        audit("l_suppkey")
    )


# ---------------------------------------------------------------------------
# text_chunk_stride — overlapping token-window chunking
# ---------------------------------------------------------------------------


@register(
    "text_chunk_stride",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ), s AS (
        SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0
    ), e AS (
        SELECT doc_id, toks, n,
               unnest(range(0, CASE WHEN n <= 32 THEN 1
                   ELSE CAST(ceil((n - 32) / 24.0) AS BIGINT) + 1 END)) AS i
        FROM s
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
           array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk_text,
           CAST(least(32, n - i*24) AS BIGINT) AS chunk_tokens,
           CAST(CASE WHEN i = 0 THEN 0
                ELSE least(8, least(32, n - i*24)) END AS BIGINT)
               AS overlap_prev
    FROM e
    """,
)
def text_chunk_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking: 32-token windows at stride
    24 (8-token overlap) — the RAG/pretraining chunker that preserves
    context across boundaries, complementing the non-overlapping
    `text_chunk_fixed`.

    Same shuffle-free shape as the fixed chunker: tokenize once,
    `sequence` + `explode` one row per window start, `slice` the
    window out (both engines clamp the final short window). Chunk
    count is 1 for n≤32 else ceil((n-32)/24)+1 — the standard "last
    window may be short, never empty" convention. Embarrassingly
    parallel, scan-bound; output partitioning inherits the input's.
    """
    docs = t(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", tokens("text").alias("toks")
    ).withColumn("n", F.size("toks")).filter(F.col("n") > 0)
    k = F.when(F.col("n") <= 32, F.lit(1).cast("long")).otherwise(
        F.ceil((F.col("n") - 32) / F.lit(24.0)).cast("long") + 1
    )
    e = toked.select(
        "doc_id",
        "toks",
        "n",
        F.explode(F.sequence(F.lit(0).cast("long"), k - 1)).alias("i"),
    )
    start = F.col("i") * 24 + 1
    return e.select(
        "doc_id",
        F.col("i").cast("long").alias("chunk_id"),
        F.array_join(
            F.slice("toks", start.cast("int"), F.lit(32)), " "
        ).alias("chunk_text"),
        F.least(F.lit(32), F.col("n") - F.col("i") * 24)
        .cast("long")
        .alias("chunk_tokens"),
        F.when(F.col("i") == 0, F.lit(0))
        .otherwise(F.least(F.lit(8), F.least(F.lit(32), F.col("n") - F.col("i") * 24)))
        .cast("long")
        .alias("overlap_prev"),
    )


# ---------------------------------------------------------------------------
# fn_unicode_slug — unicode-normalized URL slug keys
# ---------------------------------------------------------------------------

_ACCENTS_FROM = "éèêáíóúçñ"
_ACCENTS_TO = "eeeaioucn"


@register(
    "fn_unicode_slug",
    oracle=f"""
    WITH titled AS (
        SELECT doc_id,
               'Résumé ' || upper(source) || ' – Détail Nº '
                   || CAST(doc_id AS VARCHAR) || ' (' || lang || ')'
               AS title
        FROM documents
    )
    SELECT doc_id, title,
           regexp_replace(regexp_replace(
               translate(lower(title), '{_ACCENTS_FROM}', '{_ACCENTS_TO}'),
               '[^a-z0-9]+', '-', 'g'), '^-+|-+$', '', 'g') AS slug
    FROM titled
    """,
)
def fn_unicode_slug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode slug keys: lower-case, strip accents via a PINNED
    character map, collapse every non-alphanumeric run to a single
    hyphen, trim edge hyphens — the canonical URL-path / dedup key
    for titles in a multilingual corpus.

    Accented display titles are synthesized from document metadata
    (the fixture's text is pure ASCII — FIXTURES.md), so the oracle
    states the construction too. The accent map is explicit data, not
    an engine's locale table: `translate` is UTF-8-character-based on
    both engines, and the regexes ([^a-z0-9]+, edge-hyphen trim) sit
    in the RE2 ∩ Java-regex common subset. All codegen'd string
    expressions — shuffle-free, scan-bound.
    """
    docs = t(spark, sf_dir, "documents")
    title = F.concat(
        F.lit("Résumé "),
        F.upper("source"),
        F.lit(" – Détail Nº "),
        F.col("doc_id").cast("string"),
        F.lit(" ("),
        F.col("lang"),
        F.lit(")"),
    )
    slug = F.regexp_replace(
        F.regexp_replace(
            F.translate(F.lower(title), _ACCENTS_FROM, _ACCENTS_TO),
            r"[^a-z0-9]+",
            "-",
        ),
        r"^-+|-+$",
        "",
    )
    return docs.select("doc_id", title.alias("title"), slug.alias("slug"))


# ---------------------------------------------------------------------------
# emb_pca_power — distributed PCA via moment accumulation + power iteration
# ---------------------------------------------------------------------------


@register("emb_pca_power")  # rows-only: eigendecomposition is not DuckDB SQL
def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus via the
    scale-correct two-phase split: one distributed pass accumulates
    the exact second-moment (Gram) matrix and mean — O(n·d²) work,
    O(d²) state per partition, tree-reduced — then the driver runs a
    deterministic power iteration on the d×d covariance (d=64, so
    driver work is microseconds and INDEPENDENT of corpus size).

    mapInPandas emits one flattened (n, Σx, Σxxᵀ) partial per Arrow
    batch (numpy matmul, no per-row Python); partials are summed
    elementwise via posexplode → groupBy(idx) — a shuffle of
    |partitions|·d² tiny rows, then a d²-bounded collect. Power
    iteration: 200 fixed steps from the all-ones vector, sign pinned
    by the first nonzero loading, so the result is reproducible.

    Output: per-dimension loadings of PC1 plus the explained-variance
    share (ppm, same value each row). Rows-only check (no closed-form
    SQL oracle); `tests/test_ext_round4b.py` pins the loadings against
    numpy's eigh on the same data.
    """
    import numpy as np
    import pandas as pd

    e = t(spark, sf_dir, "embeddings").select("embedding")
    d = 64

    def moment_partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            flat = np.concatenate(
                ([float(len(m))], m.sum(axis=0), (m.T @ m).ravel())
            )
            yield pd.DataFrame({"part": [flat.tolist()]})

    partials = e.mapInPandas(
        moment_partials, schema="part array<double>"
    )
    summed = (
        partials.select(F.posexplode("part").alias("idx", "v"))
        .groupBy("idx")
        .agg(F.sum("v").alias("s"))
        .collect()
    )
    vec = np.zeros(1 + d + d * d)
    for row in summed:
        vec[row["idx"]] = row["s"]
    n, sx, gram = vec[0], vec[1 : 1 + d], vec[1 + d :].reshape(d, d)
    mean = sx / n
    cov = (gram - n * np.outer(mean, mean)) / (n - 1)
    v = np.ones(d) / np.sqrt(d)
    for _ in range(200):
        v = cov @ v
        v /= np.linalg.norm(v)
    eigval = float(v @ cov @ v)
    nz = np.flatnonzero(np.abs(v) > 1e-12)
    if len(nz) and v[nz[0]] < 0:
        v = -v
    share_ppm = int(np.floor(eigval * 1e6 / np.trace(cov) + 0.5))
    rows = [
        (int(i), float(np.floor(v[i] * 1e4 + 0.5) / 1e4), share_ppm)
        for i in range(d)
    ]
    return spark.createDataFrame(
        rows, schema="dim int, loading double, pc1_share_ppm bigint"
    )
