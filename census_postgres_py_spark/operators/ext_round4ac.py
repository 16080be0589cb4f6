"""Round-4ac extension operators (SURVEY.md §2.43).

Search-infra, weighted-dedup and completeness reads: a prefix
autocomplete index (prefix → top-3 completions, the type-ahead
artifact), TF-IDF signature cosine near-dup (weighted overlap — the
dedup variant that ignores stopword collisions raw Jaccard falls
for), and the coverage matrix (which (nation, month) reporting
cells are missing — the completeness grid behind "did everyone
report this period?").

Contract discipline identical to the other extension modules:
TF-IDF cells e6-integerize BEFORE any pair arithmetic so dots and
norms are exact integers; prefix ranking carries a total tiebreak;
the coverage grid is a tiny dim × calendar cross join anti-joined
against facts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark import stats
from census_postgres_py_spark.functions.text import tokens
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import (
    gated_broadcast,
    t,
    vocab_rows_per_doc,
    vocab_sample_distinct,
)

_D38 = "decimal(38,0)"

#: dedup_tfidf_cosine plan gate: corpora whose 512-doc head sample has
#: at most this many distinct terms take the single-pass exact plan
#: (see the op docstring). 0 forces the prefix plan (escape hatch).
_SMALL_VOCAB_CONF = "spark.census.tfidf.smallVocabMax"
_SMALL_VOCAB_MAX = 2048


# ---------------------------------------------------------------------------
# text_prefix_autocomplete — prefix → top-3 completions index
# ---------------------------------------------------------------------------


@register(
    "text_prefix_autocomplete",
    oracle="""
    WITH cnt AS (
        SELECT term, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS term
            FROM documents
        ) GROUP BY term
    ), pref AS (
        SELECT substring(term, 1, p) AS prefix, term, c
        FROM cnt, unnest(generate_series(2, 5)) AS t(p)
        WHERE len(term) >= p
    ), ranked AS (
        SELECT prefix, term, c,
               row_number() OVER (
                   PARTITION BY prefix ORDER BY c DESC, term) AS rn
        FROM pref
    )
    SELECT prefix, term, c AS term_count, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3
    """,
)
def text_prefix_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocomplete index: for every 2–5 character prefix in the
    corpus vocabulary, the top-3 completions by frequency — the
    artifact a type-ahead service loads, built batch-side.

    The heavy pass is ONE combinable term count over the corpus;
    prefix explosion (≤4 rows per term) happens on the VOCABULARY
    frame, which is tiny at any corpus size — this is why
    autocomplete indexes build from the term dictionary, never the
    raw token stream. Per-prefix top-3 is a WindowGroupLimit with a
    lexicographic tiebreak.
    """
    cnt = (
        t(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("c"))
    )
    ps = spark.range(2, 6).select(F.col("id").cast("int").alias("p"))
    pref = (
        cnt.crossJoin(F.broadcast(ps))
        .filter(F.length("term") >= F.col("p"))
        .select(
            F.expr("substring(term, 1, p)").alias("prefix"),
            "term",
            "c",
        )
    )
    w = Window.partitionBy("prefix").orderBy(F.col("c").desc(), F.col("term"))
    return (
        pref.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "prefix",
            "term",
            F.col("c").alias("term_count"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_tfidf_cosine — weighted near-dup via signature terms
# ---------------------------------------------------------------------------

_SIG_K = 5  # signature size: top-weight terms per doc
_COS_TH = 0.5


def _tfidf_cosine_small_vocab(spark, sig) -> DataFrame:
    """Single-pass exact plan for hub-vocabulary corpora (see the
    dedup_tfidf_cosine docstring's PLAN CHOICE note).

    Every pair with cos > 0 shares ≥1 signature term, so the full⋈full
    inverted-index join on (term, lang) meets each pair once PER SHARED
    TERM, and — terms being unique within a signature — ONE groupBy
    sums the exact integer dot. The per-doc squared norms ride the
    index rows as constants (min() is a constant-pick, not math), so
    the τ filter right after the groupBy is the EXACT filter: no upper
    bound, no survivor shell, no re-dot joins. Candidate volume is
    within ~25% of the prefix plan's on these corpora (measured at
    sf0.1: 3.0M vs 2.4M join rows) because nothing is rare enough for
    a prefix to drop; what disappears is the 84%-of-candidates
    survivor machinery (measured 73% of core-seconds at 500k docs).

    The explicit hash repartition on the join keys mirrors the prefix
    path: it pins pair-stage parallelism (AQE otherwise lands the
    whole Σ df² expansion in one task behind a small-side broadcast)
    and is exempt from AQE coalescing. A corpus-hub term still bounds
    one join task's OUTPUT at df_a·df_b for that term; at 100 TB the
    big-vocab prefix path owns that regime (this path is only chosen
    when the sampled vocabulary is tiny, where df is uniform-ish by
    construction)."""
    # norms ride the index rows as 8-byte doubles, not 16-byte decimals
    # — the cast is deterministic and happens before the final cos
    # division either way, so the value is bit-identical while the
    # pair-scale shuffle drops ~16 bytes/row and min() gets cheaper.
    # r13: nsq arrives ON the sig rows (window over the signature
    # exchange, see dedup_tfidf_cosine) — the former sig⋈norms joins
    # here were 4 of this plan's 6 exchanges (2 norm aggs + 2
    # doc_id-keyed SMJs), all removed outright (guide §2.4).
    a = sig.select(
        F.col("doc_id").alias("da"),
        "lang",
        "term",
        F.col("w").alias("wa"),
        F.col("nsq").cast("double").alias("na"),
    )
    b = sig.select(
        F.col("doc_id").alias("db"),
        F.col("lang").alias("lb"),
        F.col("term").alias("tb"),
        F.col("w").alias("wb"),
        F.col("nsq").cast("double").alias("nb"),
    )
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    a = a.repartition(npart, "term", "lang")
    b = b.repartition(npart, "tb", "lb")
    pair_on = (
        (F.col("tb") == F.col("term"))
        & (F.col("lb") == F.col("lang"))
        & (F.col("da") < F.col("db"))
    )
    dots = (
        a.join(b, pair_on)
        .groupBy("da", "db")
        .agg(
            F.sum((F.col("wa") * F.col("wb")).cast(_D38)).alias("dot"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
    )
    cos = (
        F.col("dot").cast("double") / F.sqrt(F.col("na")) / F.sqrt(F.col("nb"))
    )
    return dots.filter(cos >= _COS_TH).select(
        "da",
        "db",
        (F.floor(cos * 1000000 + F.lit(0.5)) / 1000000).alias("cos_sim"),
    )


@register(
    "dedup_tfidf_cosine",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), nd AS (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
    ), cells AS (
        SELECT tf.doc_id, tf.term,
               CAST(floor(tf.tf * ln(nd.n / dfreq.df) * 1000000 + 0.5)
                    AS BIGINT) AS w
        FROM tf JOIN dfreq USING (term) CROSS JOIN nd
    ), sig AS (
        SELECT s.doc_id, d.lang, s.term, s.w FROM (
            SELECT doc_id, term, w,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY w DESC, term) AS rn
            FROM cells WHERE w > 0
        ) s JOIN documents d ON d.doc_id = s.doc_id
        WHERE s.rn <= {_SIG_K}
    ), norms AS (
        SELECT doc_id, CAST(sum(w * w) AS HUGEINT) AS nsq
        FROM sig GROUP BY doc_id
    ), dots AS (
        SELECT a.doc_id AS da, b.doc_id AS db,
               CAST(sum(a.w * b.w) AS HUGEINT) AS dot
        FROM sig a JOIN sig b
          ON b.term = a.term AND b.lang = a.lang
         AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.da, d.db,
           floor(CAST(d.dot AS DOUBLE)
                 / sqrt(CAST(na.nsq AS DOUBLE))
                 / sqrt(CAST(nb.nsq AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS cos_sim
    FROM dots d
    JOIN norms na ON na.doc_id = d.da
    JOIN norms nb ON nb.doc_id = d.db
    WHERE CAST(d.dot AS DOUBLE)
          / sqrt(CAST(na.nsq AS DOUBLE))
          / sqrt(CAST(nb.nsq AS DOUBLE)) >= {_COS_TH}
    """,
)
def dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by TF-IDF signature cosine ≥ 0.5: each doc is
    reduced to its 5 highest-weight terms, pairs meet through an
    inverted-index join on shared signature terms — the WEIGHTED
    overlap detector that raw Jaccard can't be (two docs sharing
    only stopwords score ~0 here).

    Weights e6-integerize per cell (tf·ln(N/df), the text_tfidf
    precedent) BEFORE any pair math, so dots and squared norms are
    exact integers and the candidate join can't wobble; pairs block
    by language — the realistic dedup unit.

    Candidate generation is WEIGHTED-PREFIX-FILTERED (r5 VERDICT
    item 4; the Bayardo/Chaudhuri all-pairs bound, same family as
    the r5 PPJoin rewrite of the exact-Jaccard index): per doc,
    signature terms are ordered rarest-first by global df and the
    maximal SUFFIX whose potential Σ x̂·maxŵ(t) < τ is dropped from
    the index, where x̂ is the doc's L2-normalized weight and
    maxŵ(t) the corpus-wide max normalized weight of t. A pair
    sharing only dropped terms has cos ≤ that suffix potential < τ,
    so pruning is lossless; a hot vocabulary term (high df, the hub
    that used to contribute df² candidate pairs) sorts LAST and is
    the first thing dropped, so the inverted index joins on the
    rare, discriminative end of each signature. Candidates = a
    SINGLE prefix ⋈ full join keyed so the prefix side is the
    smaller doc_id — lossless because the suffix bound holds per
    doc: a pair sharing nothing in the smaller doc's prefix is
    below τ regardless of what the other doc indexes. The join rows
    carry both weights and the per-doc norm/suffix-potential
    constants, so ONE groupBy dedups each candidate pair, sums its
    partial dot over the indexed shared terms, and applies the
    Bayardo upper bound exact_cos ≤ partial_cos + suffix_pot(da) —
    pairs provably below τ die inside that single pass. Only the
    ≈ output-sized survivor shell is re-dotted exactly, via a
    per-pair fold over the two ≤K-entry signature maps.

    On a degenerate hot-vocabulary corpus the TRUE result is
    itself Θ(n²) (measured on the 10× stress fixture: 99,878 →
    6,735,382 pairs for 10× docs), so end-to-end time there is
    output-bound for ANY candidate generator — the honest scale
    claim is flat per-output-pair cost, pinned by the stress bench
    alongside a Heaps-law-vocabulary corpus where the true answer
    (and the measured runtime) stays ~linear.

    PLAN CHOICE (r9, from the r8 500k-doc profile): on SMALL-
    VOCABULARY corpora the prefix bound is structurally vacuous —
    the droppable suffix is constructed to have potential JUST
    under τ, and when every term is common the per-doc suffix
    carries most of the weight, so exact_cos ≤ partial + dpa
    filters almost nothing (measured: 531M candidate pairs → 447M
    bound survivors → 212k true pairs; the survivor re-dot was 73%
    of all core-seconds). Meanwhile the prefix drops only ~20% of
    index rows there (nothing is rare), so the candidate set is
    nearly full⋈full ANYWAY. The op therefore samples the corpus
    vocabulary driver-side (tables.vocab_sample_distinct, O(1)
    head batch) and, under ``spark.census.tfidf.smallVocabMax``
    (default 2048 distinct terms in a 512-doc sample), switches to
    the SINGLE-PASS exact plan: full⋈full inverted-index join,
    one pair-scale groupBy summing the EXACT integer dot with the
    norms carried as constants — no bound, no survivor joins, no
    re-dot. Above the threshold (real web corpora, Heaps-law
    vocabularies at scale) rare terms make the prefix selective
    and suffix potentials small, so the prefix+bound plan keeps
    its ≪ full⋈full candidate count and stays.
    """
    docs = t(spark, sf_dir, "documents")
    # r13: lang rides the token rows through the tf aggregation (it is
    # functionally dependent on doc_id — one lang per document — so
    # grouping by (doc_id, lang, term) forms exactly the same groups as
    # (doc_id, term)) instead of a separate documents scan broadcast-
    # joined onto the signature frame: one fewer scan, one fewer join,
    # one fewer serial build job under the lazy checkpoint, for ~a few
    # bytes of lang per tf shuffle row.
    toks = docs.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("term")
    )
    tf = toks.groupBy("doc_id", "lang", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    # r13: the corpus row count is EXACT in the parquet footer
    # (stats.rows — num_rows is a required footer field), so the
    # former count() aggregation + scalar broadcast — one more serial
    # driver-blocking build job under the lazy checkpoint — folds to a
    # literal (guide §6 footer metadata, the hier/manifest discipline).
    nd = float(stats.rows(sf_dir, "documents"))
    cells = (
        # dfreq/maxw are vocabulary-scale (grows with the corpus via
        # Heaps' law) — gated like every fact-scale hint
        tf.join(gated_broadcast(
            spark, sf_dir, "documents", dfreq,
            rows_per_source_row=vocab_rows_per_doc(sf_dir),
        ), "term")
        .withColumn("n", F.lit(nd))
        .select(
            "doc_id",
            "lang",
            "term",
            "df",
            F.floor(
                F.col("tf") * F.log(F.col("n") / F.col("df")) * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("w"),
        )
        .filter(F.col("w") > 0)
    )
    w_sig = Window.partitionBy("doc_id").orderBy(
        F.col("w").desc(), F.col("term")
    )
    # r13: the squared norm rides each signature row as a second
    # window over the SAME doc_id partitioning (the rn window already
    # clustered+sorted by doc_id, so this adds zero exchange and zero
    # sort) instead of a separate groupBy frame. Decimal addition is
    # exact integer arithmetic, so the window sum equals the old
    # groupBy sum bit-for-bit regardless of order; every former
    # sig⋈norms join downstream becomes a projection (guide §2.4 —
    # window keyed like the preceding aggregation needs no second
    # shuffle).
    sig = (
        cells.withColumn("rn", F.row_number().over(w_sig))
        .filter(F.col("rn") <= _SIG_K)
        .withColumn(
            "nsq",
            F.sum((F.col("w") * F.col("w")).cast(_D38)).over(
                Window.partitionBy("doc_id")
            ),
        )
        .select("doc_id", "lang", "term", "df", "w", "nsq")
    )
    sig = sig.localCheckpoint(eager=False)
    small_vocab_max = int(
        spark.conf.get(_SMALL_VOCAB_CONF, str(_SMALL_VOCAB_MAX))
    )
    if vocab_sample_distinct(sf_dir) <= small_vocab_max:
        return _tfidf_cosine_small_vocab(spark, sig)
    # prefix flags: x̂ = w/‖w‖; maxŵ(t) broadcast (vocab-sized); a
    # suffix (rarest-first order => common terms AT the suffix end) is
    # droppable iff its potential Σ x̂·maxŵ < τ; tails are monotone so
    # in_prefix ⇔ tail potential ≥ τ (minus a float-safety margin)
    nhat = sig.select(
        "doc_id",
        "lang",
        "term",
        "df",
        "w",
        "nsq",
        (F.col("w") / F.sqrt(F.col("nsq").cast("double"))).alias("xhat"),
    )
    maxw = nhat.groupBy("term").agg(F.max("xhat").alias("maxw"))
    w_tail = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("df").asc(), F.col("term"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    # Per-doc suffix potential dpa = Σ x̂·maxŵ over the DROPPED rows:
    # an upper bound (< τ by construction) on what the suffix could
    # add to ANY cosine, because ŷ_t ≤ maxŵ(t) for every partner doc.
    # r13: computed as a conditional window sum over the SAME doc_id
    # partitioning the tail_pot window just established (zero extra
    # exchange/sort) and carried ON the flagged rows — the former
    # droppot groupBy + left join and the nrm_d joins on both index
    # sides were 5 doc_id-keyed plan nodes, all removed (guide §2.4).
    # FP note: the window sums pot in partition order where the old
    # groupBy summed in aggregation order; double addition can differ
    # by ~1 ulp between the two, which cannot flip the bound filter —
    # a true pair passes it with ≥1e-9 slack (7 orders of magnitude
    # above ulp) and a flipped near-boundary FALSE survivor only costs
    # one extra exact re-dot, never a wrong answer.
    w_doc = Window.partitionBy("doc_id")
    flagged = (
        nhat.join(gated_broadcast(
            spark, sf_dir, "documents", maxw,
            rows_per_source_row=vocab_rows_per_doc(sf_dir),
        ), "term")
        .withColumn("pot", F.col("xhat") * F.col("maxw"))
        .withColumn("tail_pot", F.sum("pot").over(w_tail))
        .withColumn("in_prefix", F.col("tail_pot") >= _COS_TH - 1e-9)
        .withColumn(
            "dpa",
            F.coalesce(
                F.sum(
                    F.when(~F.col("in_prefix"), F.col("pot"))
                ).over(w_doc),
                F.lit(0.0),
            ),
        )
        .select(
            "doc_id", "lang", "term", "w", "in_prefix", "nsq", "dpa"
        )
    )
    flagged = flagged.localCheckpoint(eager=False)
    # single-sided candidate join (lossless): the prefix theorem holds
    # PER DOC — if a true pair (x, y) shared no term in P(x), every
    # shared term would sit in x's droppable suffix and cos < τ. So
    # "shared term ∈ prefix of the smaller-id side" alone captures
    # every true pair; the former (prefix ⋈ full) ∪ (full ⋈ prefix)
    # union did the quadratic candidate work twice for nothing.
    pref_a = flagged.filter("in_prefix").select(
        F.col("doc_id").alias("da"),
        "lang",
        "term",
        F.col("w").alias("wa"),
        F.sqrt(F.col("nsq").cast("double")).alias("na_d"),
        "dpa",
    )
    full_b = flagged.select(
        F.col("doc_id").alias("db"),
        F.col("lang").alias("lb"),
        F.col("term").alias("tb"),
        F.col("w").alias("wb"),
        F.sqrt(F.col("nsq").cast("double")).alias("nb_d"),
    )
    pair_on = (
        (F.col("tb") == F.col("term"))
        & (F.col("lb") == F.col("lang"))
        & (F.col("da") < F.col("db"))
    )
    # Pin the pair stage's parallelism: both index sides are
    # byte-compact (≤K rows/doc), so the planner broadcasts one and
    # streams the other with the checkpoint's ~1-partition layout —
    # and the Σ df² candidate expansion + partial dots then run in a
    # SINGLE task (measured 6s → 16s flips at sf0.1 depending on
    # which plan AQE landed on). An explicit hash repartition on the
    # join keys is exempt from AQE coalescing, co-partitions the
    # sides if the planner shuffles instead, and costs one exchange
    # of index-sized (not pair-sized) rows.
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pref_a = pref_a.repartition(npart, "term", "lang")
    full_b = full_b.repartition(npart, "tb", "lb")
    # ONE pair-scale shuffle: the groupBy that dedups candidate pairs
    # also sums the exact integer dot over the INDEXED shared terms
    # (the partial dot) and carries the per-doc constants the bound
    # needs — no joins against the n²-sized pair set.
    pdots = (
        pref_a.join(full_b, pair_on)
        .groupBy("da", "db")
        .agg(
            F.sum((F.col("wa") * F.col("wb")).cast(_D38)).alias("pdot"),
            F.min("na_d").alias("na_d"),
            F.min("nb_d").alias("nb_d"),
            F.min("dpa").alias("dpa"),
        )
    )
    # Bayardo-style upper-bound prune: exact_cos ≤ partial_cos +
    # dpa(da), so a pair below τ on that bound is provably not in the
    # answer and dies HERE, inside the single pass. Survivors are
    # ≈ output-sized (true pairs plus a near-threshold shell).
    survivors = pdots.filter(
        F.col("pdot").cast("double") / (F.col("na_d") * F.col("nb_d"))
        + F.col("dpa")
        >= _COS_TH - 1e-9
    ).select("da", "db")
    # exact dot for survivors only: a per-pair fold over the two
    # ≤K-entry signature maps (JVM-side, no row inflation) recovers
    # any shared-suffix contribution the partial dot missed.
    # nsq rides the sigmap rows (constant per doc — min() is a
    # constant-pick), so the final norm attachment is part of these
    # two survivor joins instead of two more doc_id-keyed joins.
    sigmap = flagged.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "w"))).alias("m"),
        F.min("nsq").alias("nsq"),
    )
    dots = (
        survivors.join(
            sigmap.select(
                F.col("doc_id").alias("da"),
                F.col("m").alias("ma"),
                F.col("nsq").alias("na"),
            ),
            "da",
        )
        .join(
            sigmap.select(
                F.col("doc_id").alias("db"),
                F.col("m").alias("mb"),
                F.col("nsq").alias("nb"),
            ),
            "db",
        )
        .select(
            "da",
            "db",
            F.expr(
                "aggregate(map_keys(ma), CAST(0 AS DECIMAL(38,0)), "
                "(acc, k) -> acc + CAST(ma[k] AS DECIMAL(38,0)) "
                "* coalesce(mb[k], CAST(0 AS BIGINT)))"
            )
            .cast(_D38)
            .alias("dot"),
            "na",
            "nb",
        )
    )
    cos = (
        F.col("dot").cast("double")
        / F.sqrt(F.col("na").cast("double"))
        / F.sqrt(F.col("nb").cast("double"))
    )
    return dots.filter(cos >= _COS_TH).select(
        "da",
        "db",
        (F.floor(cos * 1000000 + F.lit(0.5)) / 1000000).alias("cos_sim"),
    )


# ---------------------------------------------------------------------------
# dq_coverage_matrix — missing (nation, month) reporting cells
# ---------------------------------------------------------------------------


@register(
    "dq_coverage_matrix",
    oracle="""
    WITH months AS (
        SELECT DISTINCT date_trunc('month', o_orderdate) AS m FROM orders
    ), nations AS (
        SELECT n_nationkey, n_name FROM nation
    ), expected AS (
        SELECT n.n_nationkey, n.n_name, m.m
        FROM nations n CROSS JOIN months m
    ), observed AS (
        SELECT DISTINCT c.c_nationkey AS n_nationkey,
               date_trunc('month', o.o_orderdate) AS m
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT e.n_nationkey, e.n_name,
           epoch_ms(CAST(e.m AS TIMESTAMP)) AS month_ms
    FROM expected e
    LEFT JOIN observed o
      ON o.n_nationkey = e.n_nationkey AND o.m = e.m
    WHERE o.n_nationkey IS NULL
    """,
)
def dq_coverage_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage gaps: every (nation, month) cell with NO orders —
    the completeness grid an ops team reads as "which regions went
    dark in which period" (censuses, ETL feeds and partner reports
    all get audited this way).

    The expected grid is dims × calendar — a broadcast cross join of
    two tiny frames, NEVER materialized against the fact table; the
    observed cells reduce from facts in one DISTINCT (the fact scan
    is the only data-sized pass); gaps fall out of one anti-join.
    """
    o = t(spark, sf_dir, "orders")
    months = o.select(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).distinct()
    nations = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    expected = F.broadcast(nations).crossJoin(F.broadcast(months))
    observed = (
        o.join(
            t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            o["o_custkey"] == F.col("c_custkey"),
        )
        .select(
            F.col("c_nationkey").alias("nk"),
            F.date_trunc("month", "o_orderdate").alias("om"),
        )
        .distinct()
    )
    return (
        expected.join(
            observed,
            (F.col("nk") == F.col("n_nationkey"))
            & (F.col("om") == F.col("m")),
            "left_anti",
        )
        .select(
            "n_nationkey",
            "n_name",
            F.unix_millis(F.col("m")).alias("month_ms"),
        )
    )
