"""Near-duplicate detection family (BASELINE.json:6 "dedup"; SURVEY.md
§2.6 dedup_minhash + the training-data-pipeline variants).

Design for 100 TB: every variant is candidate-generation-first — an
inverted-index / LSH-band / bit-band EQUI join produces candidate pairs
(linear-ish in data + collisions), and only candidates pay the exact
verification cost. The O(n²) all-pairs comparison never appears except
in `dedup_embedding_cosine`, which is the deliberately-naive brute
baseline (its scale path is `similarity.py`'s LSH).

FIXTURES.md: no near-duplicate texts exist in `documents`, so each
query first INJECTS deterministic mutated copies (doc_id + 1_000_000,
last 2 tokens dropped — functions/text.drop_last_tokens) and then must
re-discover them.

The document ops are frame functions ``op(docs, n_docs)``: a
(doc_id, text) corpus and an upper bound on its rows, which decides the
scale gate (_SHINGLE_CHECKPOINT_MIN_DOCS) without a Spark job
(``edit_distance(docs)`` has no gate). Their registered ids are thin
adapters that pass the oracle-sized corpus (_corpus); stress runs pass
any corpus they like.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark import stats
from census_postgres_py_spark.functions.text import (
    drop_last_tokens,
    tokens,
    word_shingles,
)
from census_postgres_py_spark.functions.vector import cosine
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

DUP_OFFSET = 1_000_000
# Oracle-sized corpus cap of the registered ops (the oracle SQL's
# `doc_id < 200`); only _corpus reads it, so the filter and the scale
# gate's row bound cannot disagree.
DUP_MAX_DOC_ID = 200
N_HASHES = 64  # minhash signature length
N_BANDS = 16  # => rows-per-band r = 4
# dedup_containment indexes this many EXTRA a-side prefix slots beyond
# the ⌊0.1·n⌋+1 pigeonhole minimum, buying a vote-count candidate
# filter of up to 1+EXTRA shared rare shingles (derivation at the use
# site). Cost is linear in postings (~1.6x on the hub corpus), payoff
# is a candidate-set collapse on hot-vocabulary corpora.
CONT_PREFIX_EXTRA = 3
# Corpus-wide budget for the two-stage verify's one silent-miss mode
# (two INTERSECTION shingles colliding in xxhash64 — see
# _hashed_prefilter): when the birthday bound
# votes_upper · max_n² / 2⁶⁵ exceeds this probability, the EXACT ops
# fall back to the raw-shingle verify instead of the hashed prefilter,
# so the two-stage path is provably exact at arbitrary scale rather
# than argued at the measured one (r10 VERDICT item 7). The default
# keeps the measured hub-100x decade (1.89e9 votes × ~600²-shingle
# docs → p ≤ 2e-5) comfortably on the hashed path with ~50x headroom.
_COLLISION_BUDGET = 1e-3
# Volume FLOOR for electing the hashed two-stage verify: below this
# estimated raw-array candidate-shuffle size the prefilter's extra
# joins cost more than the bytes they save. Measured on the web-vocab
# 10x corpus (votes 1.3M, ~1.1 KB raw arrays → ~3 GB est. shuffle):
# raw verify 15.8 s vs hashed 41.1 s, identical output — while the
# hub-100x decade (votes 1.89e9 → ~4 TB est.) is the regime the
# two-stage path exists for (raw ENOSPC'd at ~1 TB of actual shuffle,
# r9 VERDICT item 2). The regimes sit 3 orders of magnitude apart, so
# the default floor (64 GB) has huge margin on both sides.
_HASHED_VERIFY_MIN_BYTES = 64e9
# Per-shingle raw-array cost estimate: 3 words of the measured corpora
# average ~20 chars + UnsafeData array element overhead ≈ 40 B
# (measured string content alone: 1118 B for avg 47 shingles ≈ 24 B).
_EST_BYTES_PER_SHINGLE = 40

# Shared oracle SQL fragment: documents + injected near-dup copies,
# exploded to (doc_id, shingle) with per-doc distinct-shingle counts.
_ORACLE_SHINGLES = """
    WITH with_dups AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               array_to_string(
                   list_slice(list_filter(string_split(text, ' '), x -> x <> ''),
                              1,
                              greatest(len(list_filter(string_split(text, ' '),
                                                       x -> x <> '')) - 2, 1)),
                   ' ') AS text
        FROM documents WHERE doc_id < 200
    ), toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM with_dups
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingles
        FROM toks
    ), ex AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM sh
    ), ns AS (
        SELECT doc_id, len(shingles) AS n_sh FROM sh
    )
"""


def _with_generations(docs: DataFrame, gens: tuple[int, ...]) -> DataFrame:
    """``docs`` plus one deterministic mutated copy per generation: the
    i-th (from 1) drops the last ``gens[i - 1]`` tokens and adds
    i·DUP_OFFSET to doc_id."""
    corpus = docs
    for i, k in enumerate(gens, 1):
        corpus = corpus.unionByName(
            docs.select(
                (F.col("doc_id") + i * DUP_OFFSET).alias("doc_id"),
                drop_last_tokens("text", k).alias("text"),
            )
        )
    return corpus


def _corpus(
    spark: SparkSession, sf_dir: str, gens: tuple[int, ...] = (2,)
) -> tuple[DataFrame, int]:
    """(corpus, n_docs) of a registered dedup op: documents with doc_id
    < DUP_MAX_DOC_ID plus the ``gens`` mutation generations, and an
    upper bound on the corpus rows from the parquet footer — so the
    scale gate costs no Spark job on any registered call."""
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < DUP_MAX_DOC_ID)
        .select("doc_id", "text")
    )
    n_docs = (1 + len(gens)) * min(
        DUP_MAX_DOC_ID, stats.rows(sf_dir, "documents")
    )
    return _with_generations(docs, gens), n_docs


def _shingled(df: DataFrame) -> DataFrame:
    """(doc_id, shingles, n_sh, sh_h): raw distinct 3-word shingles plus
    their xxhash64 image (sorted long array). ``sh_h`` exists so the
    candidate-verify stages can ship 8-byte hashes instead of raw
    shingle STRINGS (~25-100x fewer shuffle bytes per candidate —
    the hub-corpus 100x verify was ~1 TB of string-array shuffle,
    ENOSPC on this box). ``n_sh`` stays the RAW distinct-shingle count
    (a within-doc hash collision would shrink size(sh_h), never n_sh),
    so Jaccard/containment denominators are exact regardless of
    collisions."""
    return (
        df.select("doc_id", word_shingles(tokens("text"), 3).alias("shingles"))
        .withColumn("n_sh", F.size("shingles"))
        .withColumn(
            "sh_h",
            F.array_sort(F.transform("shingles", lambda s: F.xxhash64(s))),
        )
    )


#: Above this input-doc count the dedup ops materialize their derived
#: per-doc frame (shingle sets / simhash fingerprints) ONCE with
#: localCheckpoint instead of leaving it lazy. The lazy plan is pure
#: but recomputes tokenize+shingle per consuming subtree — the
#: inverted index, the prefix filter, and BOTH exact-verify sides each
#: re-scan and re-shingle the corpus, so at stress scale ~90% of wall
#: time was redundant derivation (measured: the checkpointed CC
#: pipeline ran the identical candidate+verify dataflow at 35.6 s vs
#: 317 s standalone on the 500k-doc web corpus). At the oracle-sized
#: fixture (≤600 docs) the gate stays closed and the plan stays lazy —
#: no checkpoint job in bench/driver runs.
_SHINGLE_CHECKPOINT_MIN_DOCS = 20_000


def _shared_shingled(docs: DataFrame, at_scale: bool) -> DataFrame:
    """Shingle-set frame, materialized once when the corpus is big
    enough that per-subtree recompute dominates (see
    _SHINGLE_CHECKPOINT_MIN_DOCS). localCheckpoint, like the triangle op's
    small-graph path: executor-local, not fault-tolerant — a lost
    executor re-runs the job, the right trade for a derived frame that
    is cheap to rebuild but expensive to rebuild FOUR times."""
    sh = _shingled(docs)
    return sh.localCheckpoint() if at_scale else sh


def _rescore_survivors_raw(
    shingled: DataFrame, survivors: DataFrame
) -> DataFrame:
    """(a_id, b_id, common, a_n, b_n) on RAW shingle arrays for the
    (tiny) survivor set — the exact stage of the two-stage verify."""
    a = shingled.select(
        F.col("doc_id").alias("a_id"),
        F.col("shingles").alias("a_sh"),
        F.col("n_sh").alias("a_n"),
    )
    b = shingled.select(
        F.col("doc_id").alias("b_id"),
        F.col("shingles").alias("b_sh"),
        F.col("n_sh").alias("b_n"),
    )
    common = F.size(F.array_intersect("a_sh", "b_sh")).cast("long")
    return (
        survivors.join(a, "a_id")
        .join(b, "b_id")
        .select("a_id", "b_id", common.alias("common"), "a_n", "b_n")
    )


def _hashed_prefilter(
    shingled: DataFrame, candidates: DataFrame
) -> DataFrame:
    """Hashed-array candidate prefilter: (a_id, b_id, common_h, a_n,
    b_n) with common_h = |h(A) ∩ h(B)| over 8-byte xxhash64 arrays.

    This is the shuffle-heavy join of every shingle-dedup op — at the
    hub-corpus 100x decade the candidate floor is ~1e9 pairs and RAW
    shingle-string arrays cost ~1 KB/side (~1 TB shuffle, ENOSPC on
    this box; r9 VERDICT item 2). Hashes cut the payload ~25-100x.

    Collision safety (why the two-stage verify stays exact):

    * equal shingles always hash equal, and n_sh is the RAW count, so
      common_h can differ from the true |A∩B| only via 64-bit
      collisions WITHIN one candidate pair's shingle sets;
    * OVERCOUNT (h(x)=h(y), x∈A\\B, y∈B\\A) can only ADD survivors —
      eliminated exactly by the raw-shingle rescore of survivors
      (_rescore_survivors_raw), which re-applies the real threshold;
    * UNDERCOUNT (two intersection shingles colliding) is the one
      silent-miss mode: P ≤ Σ_pairs |A∩B|²/2⁶⁵ — at 1e9 candidate
      pairs of ≤1k-shingle docs that is ≤ 3e-5 corpus-wide, and on the
      graded fixtures it is deterministically zero (pinned by
      tests/test_dedup.py::test_hashed_verify_matches_raw_verify).
    """
    a = shingled.select(
        F.col("doc_id").alias("a_id"),
        F.col("sh_h").alias("a_h"),
        F.col("n_sh").alias("a_n"),
    )
    b = shingled.select(
        F.col("doc_id").alias("b_id"),
        F.col("sh_h").alias("b_h"),
        F.col("n_sh").alias("b_n"),
    )
    common_h = F.size(F.array_intersect("a_h", "b_h")).cast("long")
    return (
        candidates.join(a, "a_id")
        .join(b, "b_id")
        .select("a_id", "b_id", common_h.alias("common_h"), "a_n", "b_n")
    )


def _elect_hashed_verify(
    shingled: DataFrame, prefix_with_df: DataFrame
) -> bool:
    """Election of the two-stage (hashed-prefilter) verify for the
    EXACT shingle-dedup ops — called only on the AT-SCALE path, never
    at fixture scale. Two independent conditions, both from two small
    aggregation jobs over frames the scale path already derived:

    votes_upper = Σ over indexed prefix postings of df(shingle)
    = Σ_s df_pre(s)·df(s) ≥ Σ_s df_pre(s)² ≥ #candidate pairs (every
    candidate pair shares ≥ 1 indexed shingle, and the vote sum counts
    each sharing once per side-combination).

    1. VOLUME FLOOR (perf): estimated raw-array candidate shuffle
       = votes_upper · 2 sides · avg_n_sh · _EST_BYTES_PER_SHINGLE
       must exceed _HASHED_VERIFY_MIN_BYTES. Below it the raw
       single-stage verify is both faster (measured 15.8 vs 41.1 s on
       the web-10x corpus — the prefilter's extra joins dominate) and
       trivially exact; above it the hashed path is what fits in disk
       at all (hub-100x: ~4 TB estimated, raw ENOSPC'd).
    2. COLLISION BUDGET (safety): with |A∩B| ≤ max n_sh, corpus-wide
       undercount probability ≤ votes_upper · max_n² / 2⁶⁵ (birthday
       argument in _hashed_prefilter's docstring) must stay within
       _COLLISION_BUDGET, so the two-stage path is provably exact
       at arbitrary scale, not argued at the measured one.

    Either way the output is row-identical — both verifies apply the
    same unrounded threshold to the same candidate set."""
    votes = float(prefix_with_df.agg(F.sum("df")).collect()[0][0] or 0)
    st = shingled.agg(
        F.max("n_sh").alias("mx"), F.avg("n_sh").alias("av")
    ).collect()[0]
    max_n = float(st["mx"] or 0)
    avg_n = float(st["av"] or 0.0)
    est_bytes = votes * 2 * avg_n * _EST_BYTES_PER_SHINGLE
    if est_bytes < _HASHED_VERIFY_MIN_BYTES:
        return False
    return votes * max_n**2 / 2.0**65 <= _COLLISION_BUDGET


def _exact_jaccard_pairs(
    shingled: DataFrame, candidates: DataFrame, at_scale: bool = False
) -> DataFrame:
    """Verify candidate (a_id, b_id) pairs with exact shingle-set
    Jaccard; only candidates pay this cost.

    ``at_scale=True`` (stress corpora / forced gate) takes the
    two-stage verify — hashed-array prefilter, raw rescore of
    survivors only (see _hashed_prefilter's collision-safety note) —
    which is what fits the hub-100x verify inside box disk. At fixture
    scale the extra prefilter join is pure stage overhead (~0.5 s of
    bench time for a ~200-pair survivor set), so the gate keeps the
    single raw join there; output is identical on both paths (pinned
    by test_shingle_checkpoint_gate_is_output_invariant, which forces
    the gate open, and test_hashed_verify_matches_raw_verify)."""
    if at_scale:
        pre = _hashed_prefilter(shingled, candidates)
        jacc_h = F.col("common_h").cast("double") / (
            F.col("a_n") + F.col("b_n") - F.col("common_h")
        )
        survivors = pre.filter(jacc_h >= 0.5).select("a_id", "b_id")
        scored = _rescore_survivors_raw(shingled, survivors)
    else:
        scored = _rescore_survivors_raw(shingled, candidates)
    jacc = F.col("common").cast("double") / (
        F.col("a_n") + F.col("b_n") - F.col("common")
    )
    return (
        scored.where(jacc >= 0.5)
        .select("a_id", "b_id", "common", F.round(jacc, 4).alias("jaccard"))
    )


@register(
    "dedup_ngram_jaccard",
    oracle=_ORACLE_SHINGLES
    + """
    , pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(count(*) AS BIGINT) AS common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT a_id, b_id, common,
           round(CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common), 4)
               AS jaccard
    FROM pairs
    JOIN ns na ON na.doc_id = a_id
    JOIN ns nb ON nb.doc_id = b_id
    WHERE CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard(*_corpus(spark, sf_dir))


def ngram_jaccard(docs: DataFrame, n_docs: int) -> DataFrame:
    """EXACT n-gram Jaccard dedup via inverted shingle index.

    Candidate generation = equi-join on shingle (each shared shingle
    votes once), so cost is Σ collisions, not n². The exact Jaccard
    follows from |A∩B| counted by the join plus per-doc shingle counts
    — no second pass over the texts. The shingle frame is shared via
    the row-bound-gated checkpoint (_shared_shingled) past fixture scale:
    the index/prefix/verify subtrees otherwise each re-shingle the
    corpus (measured 317 → 27.6 s at the 500k-doc web corpus).
    """
    at_scale = n_docs >= _SHINGLE_CHECKPOINT_MIN_DOCS
    return _inverted_index_jaccard(_shared_shingled(docs, at_scale), at_scale)


def _inverted_index_jaccard(
    shingled: DataFrame, at_scale: bool = False
) -> DataFrame:
    """(a_id, b_id, common, jaccard) for every pair with Jaccard >= 0.5,
    EXACTLY, via a prefix-filtered inverted shingle index.

    The naive index (self-join every posting) costs Σ_shingle df(s)² —
    quadratic in doc frequency, which melts on hot shingles (measured:
    117 s of the 10x stress corpus's CC pipeline was this one join).
    The standard exact fix (Chaudhuri et al. SSJoin / Bayardo All-Pairs
    / PPJoin) applied Spark-first:

    * global shingle order = ascending document frequency (rarest
      first, shingle text tiebreak) — one groupBy(shingle) + one
      row_number window, both linear;
    * each doc indexes only its first ⌊n/2⌋+1 shingles in that order.
      For J(A,B) ≥ 0.5, |A∩B| ≥ 0.5·|A∪B| ≥ ⌈0.5·max(|A|,|B|)⌉, so
      the two prefixes MUST share a shingle (pigeonhole) — recall is
      exactly 1, and hot shingles sit at the END of the order, mostly
      outside every prefix, so collision lists stay short;
    * Jaccard length filter pushed into the candidate join:
      J ≥ 0.5 ⇒ max(n) ≤ 2·min(n);
    * candidates (distinct pairs) go through the two-stage verify
      (_exact_jaccard_pairs): hashed-array prefilter shipping 8-byte
      xxhash64 arrays, raw-shingle rescore for survivors only — the
      ≥ 0.5 cut uses the UNROUNDED raw ratio, so output is identical
      row-for-row to the naive plan and the DuckDB oracle (collision
      argument in _hashed_prefilter's docstring).
    """
    ex = shingled.select(
        "doc_id", "n_sh", F.explode("shingles").alias("shingle")
    )
    df_rank = ex.groupBy("shingle").agg(F.count("*").alias("df"))
    pref_base = (
        ex.join(df_rank, "shingle")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "shingle")
            ),
        )
        .filter(F.col("pos") <= F.floor(F.col("n_sh") / 2) + 1)
    )
    # df dropped BEFORE the candidate join — carrying it would widen
    # every posting row of the hot self-join (the r10 containment
    # regression pattern); the budget gate below aggregates it off a
    # separate lightweight subtree instead
    if at_scale:
        # Materialize the prefix subtree (ex⋈df_rank + per-doc window)
        # ONCE before the election's eager Σdf agg — otherwise the
        # election job and the candidate join below each compute it in
        # full, exactly in the regime where it is expensive (r11
        # ADVICE). Prefix postings are a ~⌊n/2⌋+1 slice of the shingle
        # frame, so the checkpoint is smaller than the already-
        # checkpointed `shingled` it derives from.
        pref_base = pref_base.localCheckpoint()
        at_scale = _elect_hashed_verify(shingled, pref_base)
    prefix = pref_base.select("doc_id", "n_sh", "shingle")
    a = prefix.select(
        F.col("doc_id").alias("a_id"), F.col("n_sh").alias("a_n"), "shingle"
    )
    b = prefix.select(
        F.col("doc_id").alias("b_id"), F.col("n_sh").alias("b_n"), "shingle"
    )
    # Vote-count lower bound (the r10 candidate-collapse, exact by
    # pigeonhole): J(A,B) >= 0.5 forces c = |A∩B| >= c* = ⌈(na+nb)/3⌉.
    # Order I = A∩B ascending in the global shingle order, i1<i2<…; at
    # most na−c elements of A precede any i_k besides i1..i_{k-1}, so
    # i_k's rank within A is <= k + na − c, i.e. i_k lands in A's
    # ⌊na/2⌋+1-prefix for every k <= qa = ⌊na/2⌋+1 − na + c*
    # (= c* + 1 − ⌈na/2⌉); likewise qb for B. Hence the pair SHARES at
    # least Q = max(1, min(qa, qb)) prefix shingles — e.g. Q = 9 for two
    # 46-shingle docs, not just 1. Counting join votes per pair costs
    # the SAME shuffle the old .distinct() paid, but the >= Q cut drops
    # hub-corpus candidates from the ~1e9 share-one-shingle floor to
    # ~true-pair scale, which is what unlocks the hub 100x decade row
    # (the verify join previously shipped ~1 TB of arrays; r9 VERDICT
    # item 2).
    q_min = F.expr(
        "greatest(1, (a_n + b_n + 2) DIV 3 + 1"
        " - greatest((a_n + 1) DIV 2, (b_n + 1) DIV 2))"
    )
    cand = (
        a.join(b, "shingle")
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.col("b_n") <= 2 * F.col("a_n"))
            & (F.col("a_n") <= 2 * F.col("b_n"))
        )
        .groupBy("a_id", "b_id", "a_n", "b_n")
        .agg(F.count("*").alias("shared_pre"))
        .filter(F.col("shared_pre") >= q_min)
        .select("a_id", "b_id")
    )
    return _exact_jaccard_pairs(shingled, cand, at_scale=at_scale)


@register("dedup_minhash")  # LSH recall < 1 by design => rows-only check
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash(*_corpus(spark, sf_dir))


def minhash(docs: DataFrame, n_docs: int) -> DataFrame:
    """MinHash + LSH banding near-dup detection (the 100 TB path).

    shingle -> 64 minhashes (xxhash64 seeded per permutation) -> 16
    bands x 4 rows -> band-bucket equi-join for candidates -> exact
    Jaccard re-check on candidates only. Fully deterministic (fixed
    seeds), but banding recall < 1, so no SQL oracle — the exact twin
    `dedup_ngram_jaccard` is the correctness anchor; tests assert this
    finds every injected pair. Shingle frame shared past fixture scale
    (_shared_shingled): the signature build and both exact-verify
    sides otherwise each re-shingle the corpus.

    The collision-budget gate (_elect_hashed_verify) is
    deliberately NOT applied here: this op's recall is already < 1 by
    banding design, so a ≤ 2⁻⁶⁵-per-pair hash collision in the verify
    is noise against the banding loss — the budget guard protects the
    EXACT ops (jaccard/containment/cc), whose output contract is
    row-identity with the naive plan.
    """
    at_scale = n_docs >= _SHINGLE_CHECKPOINT_MIN_DOCS
    shingled = _shared_shingled(docs, at_scale)
    ex = shingled.select("doc_id", F.explode("shingles").alias("shingle"))
    sig = ex.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
            for i in range(N_HASHES)
        ]
    )
    r = N_HASHES // N_BANDS
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.xxhash64(
                            *[F.col(f"h{band * r + j}") for j in range(r)]
                        ).alias("bucket"),
                    )
                    for band in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    a = bands.select(F.col("doc_id").alias("a_id"), "band", "bucket")
    b = bands.select(F.col("doc_id").alias("b_id"), "band", "bucket")
    candidates = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    return _exact_jaccard_pairs(shingled, candidates, at_scale=at_scale)


def _simhash_fp(with_dups: DataFrame) -> DataFrame:
    """(doc_id, simhash) 64-bit fingerprints: tokens -> xxhash64 ->
    per-bit ±1 votes -> sign bits. Module-level so the band-width
    invariance test can cross-join it for the candidate-free exact
    Hamming answer without re-deriving the vote logic."""
    from functools import reduce

    n_bits = 64
    toks = with_dups.select("doc_id", F.explode(tokens("text")).alias("tok"))
    h = F.xxhash64("tok")
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                # shiftright+mask instead of a 1<<i literal: bit 63's
                # mask doesn't fit a positive signed-64 literal
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(n_bits)
        ]
    )
    return votes.select(
        "doc_id",
        reduce(
            lambda acc, c: acc.bitwiseOR(c),
            [
                F.shiftleft(
                    F.when(F.col(f"b{i}") > 0, F.lit(1)).otherwise(F.lit(0)).cast(
                        "long"
                    ),
                    i,
                )
                for i in range(n_bits)
            ],
        ).alias("simhash"),
    )


@register("dedup_simhash")  # bit-band candidate gen => rows-only check
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(*_corpus(spark, sf_dir))


def simhash(docs: DataFrame, n_docs: int) -> DataFrame:
    """SimHash (64-bit) near-dup detection.

    Per doc: tokens -> xxhash64 -> per-bit +/-1 votes -> sign bits ->
    64-bit fingerprint. Candidates via 16-bit bands: Hamming distance
    <= 3 flips at most 3 of the 4 bands, so at least one band matches
    exactly (pigeonhole, tight at k=3 = the classic 64-bit simhash
    near-dup radius) — an equi-join on (band_idx, band) finds every
    such pair without n² comparisons, and the exact Hamming filter on
    candidates makes the OUTPUT invariant to band width: any pair a
    narrower banding would additionally collide has Hamming >= 4 and
    is dropped by the filter anyway. Band width is therefore purely a
    collision-cost knob, and it is the scale-critical one: expected
    same-bucket pairs are ~n²/2^width per band, so the former 8-bit
    bands (256 buckets) go quadratic by ~100k docs (measured: the
    500k-doc stress corpus projects ~7.6e9 candidate votes) while
    16-bit bands (65,536 buckets) keep the same corpus at ~15M — the
    Manku/Google multi-table layout, byte-identical output (pinned by
    tests/test_dedup.py::test_simhash_band_width_is_output_invariant).
    Measured on the injected drop-2-tokens mutations at sf0.01:
    Hamming distribution mean 2.5 / p75 3.25, so k=3 recovers ~75% of
    them — simhash is the coarse/cheap screen; dedup_minhash is the
    high-recall path (finds 100%, tests assert).
    """
    n_bits = 64
    n_bands = 4
    band_width = n_bits // n_bands
    fp = _simhash_fp(docs)
    if n_docs >= _SHINGLE_CHECKPOINT_MIN_DOCS:
        # both band-join sides consume fp; past fixture scale the
        # 64-sum vote aggregation is too expensive to run twice
        fp = fp.localCheckpoint()
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright("simhash", band_width * i)
                        .bitwiseAND(F.lit((1 << band_width) - 1))
                        .alias("band"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band_idx", "bb.band")
    a = bands.select(
        F.col("doc_id").alias("a_id"), F.col("simhash").alias("a_fp"),
        "band_idx", "band",
    )
    b = bands.select(
        F.col("doc_id").alias("b_id"), F.col("simhash").alias("b_fp"),
        "band_idx", "band",
    )
    cand = (
        a.join(b, ["band_idx", "band"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_fp", "b_fp")
        .distinct()
    )
    hamming = F.bit_count(F.col("a_fp").bitwiseXOR(F.col("b_fp")))
    return (
        cand.select("a_id", "b_id", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= 3)
    )


def _oracle_drop_k(k: int) -> str:
    """DuckDB mirror of functions/text.drop_last_tokens(text, k)."""
    w = "list_filter(string_split(text, ' '), x -> x <> '')"
    return (
        f"array_to_string(list_slice({w}, 1, greatest(len({w}) - {k}, 1)), ' ')"
    )


_ORACLE_CC = f"""
    WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, {_oracle_drop_k(2)} AS text
        FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, {_oracle_drop_k(4)} AS text
        FROM documents WHERE doc_id < 200
    ), toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM corpus
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingles
        FROM toks
    ), ex AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM sh
    ), ns AS (
        SELECT doc_id, len(shingles) AS n_sh FROM sh
    ), pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), good_pairs AS (
        SELECT p.a_id, p.b_id
        FROM pairs p
        JOIN ns na ON na.doc_id = p.a_id
        JOIN ns nb ON nb.doc_id = p.b_id
        WHERE CAST(p.common AS DOUBLE) / (na.n_sh + nb.n_sh - p.common) >= 0.5
    ), edges AS (
        SELECT a_id AS s, b_id AS d FROM good_pairs
        UNION ALL
        SELECT b_id AS s, a_id AS d FROM good_pairs
    ), cc AS (
        SELECT doc_id, doc_id AS label FROM sh
        UNION
        SELECT e.d AS doc_id, cc.label
        FROM cc JOIN edges e ON e.s = cc.doc_id
    )
    SELECT doc_id, CAST(min(label) AS BIGINT) AS cluster_id
    FROM cc GROUP BY doc_id
"""


def min_label_cc(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Distributed connected components over (src, dst) edges; returns
    (doc_id, label) with label = min node id in the component.

    Min-label propagation PLUS pointer doubling: each round every node
    takes min(label) over itself and its neighbors, then follows its
    label's label (path halving — label values are always real node
    ids, so the hop is a self-join of the label table). Plain
    propagation needs diameter rounds; the doubling hop lets label
    information travel 2^k hops after k rounds, so convergence is
    O(log diameter) — the property that kept the 10x stress corpus's
    CC from adding rounds with scale (BASELINE.md stress table; cf.
    Kiveris et al., "Connected Components in MapReduce and Beyond",
    whose alternating-star rounds bound is the same idea). Per round:
    one shuffle join + one agg + one self-join, `localCheckpoint` to
    cut the growing lineage, and an exact changed-row count so we stop
    at the FIXPOINT (the oracle is a recursive CTE's fixpoint —
    returning non-converged labels would silently diverge). The
    32-round cap is a safety net only; hitting it means the edge set
    is pathological, so fail loudly.
    """
    labels = nodes.select(
        "doc_id", F.col("doc_id").alias("label")
    ).localCheckpoint()
    for _ in range(32):
        prop = edges.join(labels, F.col("src") == F.col("doc_id")).select(
            F.col("dst").alias("doc_id"), "label"
        )
        # Materialize the neighbor-min BEFORE the pointer-doubling
        # self-join: besides cutting lineage, self-joining the live
        # union+groupBy plan trips a Catalyst attribute-resolution bug
        # ("key not found: label#N") in Spark 4.1's localCheckpoint.
        nm = (
            labels.unionByName(prop)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        new_labels = (
            nm.alias("a")
            .join(nm.alias("b"), F.col("a.label") == F.col("b.doc_id"), "left")
            .select(
                F.col("a.doc_id").alias("doc_id"),
                F.least(
                    F.col("a.label"),
                    F.coalesce(F.col("b.label"), F.col("a.label")),
                ).alias("label"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            "min_label_cc: label propagation did not converge in 32 "
            "pointer-doubling rounds (reaches components of diameter "
            "~2^32) - the edge set is pathological"
        )
    return labels


@register("dedup_clusters_cc", oracle=_ORACLE_CC)
def dedup_clusters_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clusters_cc(*_corpus(spark, sf_dir, (2, 4)))


def clusters_cc(docs: DataFrame, n_docs: int) -> DataFrame:
    """Duplicate-CLUSTER assignment: connected components over the
    near-dup pair graph, cluster_id = min doc_id in the component.

    Pairs alone don't dedup a corpus — A~B and B~C must collapse to ONE
    keeper even when A~C was never emitted. This is the step between
    "LSH found pairs" and "drop all but one per cluster" in every
    production pipeline. The registered corpus is documents(<200) + two
    mutation generations (drop-2 and drop-4 tokens), so components are
    chains, not just pairs, and label propagation genuinely has to
    iterate.

    Algorithm: `min_label_cc` — min-label propagation with pointer
    doubling, O(log diameter) rounds (see its docstring for the scale
    argument). Oracle: DuckDB recursive CTE reaching the same fixpoint.
    """
    return _clusters(docs, n_docs)[1]


def _clusters(docs: DataFrame, n_docs: int) -> tuple[DataFrame, DataFrame]:
    """(shingled, clusters): the corpus's shingle frame and its
    (doc_id, cluster_id) assignment (clusters_cc)."""
    # Materialize once: the shingle frame feeds the inverted index, the
    # CC node set, AND (in the e2e pipeline) the survivor sizes —
    # without this the tokenize+shingle scan re-runs per consumer
    # (measured 16 s/pass on the 10x stress corpus).
    shingled = _shingled(docs).localCheckpoint()
    pairs = _inverted_index_jaccard(
        shingled, at_scale=n_docs >= _SHINGLE_CHECKPOINT_MIN_DOCS
    ).select("a_id", "b_id")
    edges = (
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionByName(
            pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
        )
        .localCheckpoint()
    )
    labels = min_label_cc(edges, shingled.select("doc_id"))
    return shingled, labels.select(
        "doc_id", F.col("label").cast("long").alias("cluster_id")
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4)
               AS cos_sim
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.45
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: all pairs with cosine >= 0.45 (exact).

    Candidates-first, two stages:

    1. Candidate generation — distributed BLOCK-PAIR matmul, no driver
       collect anywhere (the round-2 version collected the whole table
       to the driver as a broadcast build side — an unbounded
       driver-memory dependency; this is the fix). Rows are assigned a
       block b = vec_id % B (B sized so one block's float64 matrix is
       a few MB); each row is exploded to every unordered block pair
       {b, k}, so group (i, j) receives exactly block i's and block
       j's rows after ONE hash shuffle. An `applyInPandas` kernel then
       runs one BLAS matmul per block pair and keeps pairs >= 0.449.
       The 0.001 slack is ~1e12 × any float-accumulation-order
       difference, so candidate RECALL vs the exact predicate is total
       — this stage can only over-select.
    2. Exact verification — the (tiny) candidate set joins back to the
       embedding table and is re-scored with the sequential JVM-side
       ``zip_with``/``aggregate`` fold, whose left-to-right accumulation
       matches DuckDB's bit-for-bit; the real >= 0.45 filter and the
       rounding both happen here, so the output is identical to the
       brute-force plan's.

    Scale shape: every unordered pair of ids lands in exactly one of
    the B(B+1)/2 groups, so the work is a perfect partition of the n²/2
    similarity space into bounded-memory tiles — the classic
    block-partitioned all-pairs. Shuffle volume is n×B rows (each row
    replicated once per pair it serves); executor memory is 2 blocks,
    independent of table size. For corpora where even n×B amplification
    is too hot, the hyperplane-LSH bucketing in similarity.py is the
    approximate-recall alternative; this operator is the exact tier.
    """
    import numpy as np
    import pandas as pd

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # B ~ n/block_rows. count() is a distributed metadata-cheap action,
    # not a collect; at fixture scale (500 rows, block 128) B=4 -> 10
    # real block-pair groups, so the tiling is genuinely exercised.
    n = e.count()
    # Exact all-pairs is O(n²) dot products no matter how well it's
    # tiled — at 10⁵ vectors that's 10¹⁰ similarities, and past that
    # this baseline tier is the wrong tool at ANY cluster size. Fail
    # fast with the scale path named rather than melt a cluster.
    _ALL_PAIRS_MAX = 100_000
    if n > _ALL_PAIRS_MAX:
        raise ValueError(
            f"dedup_embedding_cosine is the EXACT all-pairs baseline and "
            f"refuses n={n} > {_ALL_PAIRS_MAX} vectors (O(n^2) compute). "
            f"Use join_similarity_ivf (similarity.py) — the IVF-bucketed "
            f"approximate tier — or join_similarity_ann for LSH."
        )
    block_rows = 128 if n <= 4096 else 4096
    n_blocks = max(1, -(-n // block_rows))

    def block_sims(pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = int(pdf["i"].iat[0]), int(pdf["j"].iat[0])
        left = pdf[pdf["b"] == i]
        right = pdf[pdf["b"] == j] if i != j else left
        if not len(left) or not len(right):
            return pd.DataFrame({"a_id": [], "b_id": []}).astype("int64")
        l_ids = left["vec_id"].to_numpy(np.int64)
        r_ids = right["vec_id"].to_numpy(np.int64)
        l_mat = np.stack(left["embedding"].to_numpy()).astype(np.float64)
        r_mat = np.stack(right["embedding"].to_numpy()).astype(np.float64)
        l_mat /= np.linalg.norm(l_mat, axis=1, keepdims=True)
        r_mat /= np.linalg.norm(r_mat, axis=1, keepdims=True)
        keep = (l_mat @ r_mat.T) >= 0.449
        # one ordered emission per unordered id pair: the i==j tile
        # takes its own upper triangle, cross tiles order by id
        keep &= l_ids[:, None] < r_ids[None, :] if i == j else True
        li, ri = np.nonzero(keep)
        return pd.DataFrame(
            {
                "a_id": np.minimum(l_ids[li], r_ids[ri]),
                "b_id": np.maximum(l_ids[li], r_ids[ri]),
            }
        )

    # parallelism restore before the n_blocks-way explode: a
    # single-row-group parquet scans as ONE task, which would run
    # the whole n×B amplification single-threaded (the explode-
    # after-coalesce disease; see emb_dedup_sweep's measured case).
    # Scoped to the tiled branch ONLY — the a/b exact-rescore sides
    # below stay on the unshuffled scan (r10 ADVICE: rebinding `e`
    # made the rescore scans pay a repartition they don't need).
    tiles_src = (
        e.repartition(spark.sparkContext.defaultParallelism)
        if n_blocks > 1
        else e
    )
    tiled = (
        # pmod, not %: a negative vec_id under % gets b < 0 and its
        # rows join no tile — silently dropped pairs (r9 ADVICE)
        tiles_src
        .withColumn("b", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int"))
        .withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
        .withColumn("i", F.least("b", "k"))
        .withColumn("j", F.greatest("b", "k"))
    )
    cand = tiled.groupBy("i", "j").applyInPandas(
        block_sims, "a_id long, b_id long"
    )

    a = e.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"))
    b = e.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"))
    cos = cosine(F.col("a_emb"), F.col("b_emb"))
    return (
        F.broadcast(cand)
        .join(a, "a_id")
        .join(b, "b_id")
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= 0.45)
        .select("a_id", "b_id", F.round("cos_raw", 4).alias("cos_sim"))
    )


EDIT_D = 32  # max edit distance; injected suffix-deletions are 6-18


@register(
    "dedup_edit_distance",
    oracle="""
    WITH with_dups AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               array_to_string(
                   list_slice(list_filter(string_split(text, ' '), x -> x <> ''),
                              1,
                              greatest(len(list_filter(string_split(text, ' '),
                                                       x -> x <> '')) - 2, 1)),
                   ' ') AS text
        FROM documents WHERE doc_id < 200
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
    FROM with_dups a JOIN with_dups b
      ON a.doc_id < b.doc_id
     AND abs(length(a.text) - length(b.text)) <= 32
    WHERE levenshtein(a.text, b.text) <= 32
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return edit_distance(_corpus(spark, sf_dir)[0])


def edit_distance(docs: DataFrame) -> DataFrame:
    """EXACT edit-distance near-dup pairs (Levenshtein <= EDIT_D) via
    lossless length-band blocking.

    Candidate generation: edit distance >= |len(a) - len(b)|, so a pair
    within threshold D must fall in the same or adjacent length band of
    width D. Each doc emits ONE row per side — the smaller-id side keyed
    by its own band, the larger-id side exploded to bands {k-1, k, k+1}
    — and a plain equi-join on the band key yields every qualifying pair
    exactly once. No O(n^2) stage; cost is sum of band-collision counts.

    Verification uses Spark's threshold-banded ``levenshtein(l, r, D)``
    (O(D * len) per pair instead of O(len^2), returns -1 when the
    distance exceeds D) — candidates-only, JVM-side, no UDF.

    At 100 TB corpus sizes length-banding alone over-collides (most docs
    share popular lengths); there, this operator is the VERIFY stage
    composed behind `dedup_minhash`'s LSH candidates. The band join
    keeps the same shape either way.
    """
    docs = docs.withColumn("len", F.length("text"))
    band = (F.col("len") / EDIT_D).cast("long")
    a = docs.select(
        F.col("doc_id").alias("a_id"),
        F.col("text").alias("a_text"),
        band.alias("band"),
    )
    b = docs.select(
        F.col("doc_id").alias("b_id"),
        F.col("text").alias("b_text"),
        F.explode(F.array(band - 1, band, band + 1)).alias("band"),
    )
    dist = F.levenshtein("a_text", "b_text", EDIT_D)
    return (
        a.join(b, "band")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(F.abs(F.length("a_text") - F.length("b_text")) <= EDIT_D)
        .withColumn("edit_dist", dist.cast("long"))
        .filter(F.col("edit_dist") >= 0)
        .select("a_id", "b_id", "edit_dist")
    )


@register(
    "dedup_containment",
    oracle=_ORACLE_SHINGLES
    + """
    , pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(count(*) AS BIGINT) AS common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT a_id, b_id, common,
           round(CAST(common AS DOUBLE) / na.n_sh, 4) AS containment
    FROM pairs
    JOIN ns na ON na.doc_id = a_id
    WHERE CAST(common AS DOUBLE) / na.n_sh >= 0.9
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment(*_corpus(spark, sf_dir))


def containment(docs: DataFrame, n_docs: int) -> DataFrame:
    """ASYMMETRIC containment dedup: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|
    ≥ 0.9 — "A is (nearly) a sub-document of B". Jaccard misses the
    quote/excerpt/prefix-copy case (a 10% excerpt of a long doc has
    tiny Jaccard but containment 1.0); training-data pipelines filter
    on containment precisely to kill boilerplate-wrapped copies.

    Same inverted shingle index as `dedup_ngram_jaccard`, with the
    asymmetric-threshold PREFIX filter (the SSJoin/PPJoin idea carried
    to containment): C(A→B) ≥ 0.9 means at most ⌊0.1·|A|⌋ of A's
    shingles can miss B, so among A's ⌊0.1·|A|⌋+1 globally-RAREST
    shingles (ascending document frequency, shingle tiebreak — same
    order `_inverted_index_jaccard` uses) at least one is in B —
    recall is exactly 1 by pigeonhole, and indexing CONT_PREFIX_EXTRA
    more slots strengthens it to a per-pair vote-count bound (see the
    candidate stage). Only that ~10%+EXTRA prefix of the
    a-side is indexed against the FULL b-side index, so candidate
    votes fall from Σ_s df(s)² (the naive two-full-index join, which
    grows quadratically on hub shingles — a shared-vocabulary 500k-doc
    corpus projects ~9e9 votes) to Σ_s df_prefix(s)·df(s), with hot
    shingles sitting at the END of the rarity order, mostly outside
    every prefix. Candidates are ORDERED pairs (C(A→B) ≠ C(B→A); both
    directions are generated and scored independently) and go through
    the two-stage verify — hashed-array prefilter (8-byte xxhash64
    arrays; collision argument in _hashed_prefilter) then raw-shingle
    rescore of survivors with the unrounded ≥ 0.9 cut — so output is
    row-identical to the naive plan and the DuckDB oracle (pinned by
    tests/test_dedup.py::test_containment_prefix_plan_matches_naive).
    The prefix length uses exact integer arithmetic
    (least(n, n − (9n+9) DIV 10 + 1 + EXTRA), (9n+9) DIV 10 = ⌈0.9n⌉):
    a float 0.1·n could round a boundary length down and silently lose
    the recall guarantee. The injected truncated copies are fully contained in
    their originals (containment 1.0) while the reverse direction
    drops below 1.0 by exactly the two clipped shingles. Shingle frame
    shared past fixture scale (_shared_shingled): the df-rank, prefix,
    full-index, and both verify subtrees otherwise each re-shingle the
    corpus (measured 324 → 30.5 s at the 500k-doc web corpus).
    """
    at_scale = n_docs >= _SHINGLE_CHECKPOINT_MIN_DOCS
    shingled = _shared_shingled(docs, at_scale)
    ex = shingled.select(
        "doc_id", "n_sh", F.explode("shingles").alias("shingle")
    )
    df_rank = ex.groupBy("shingle").agg(F.count("*").alias("df"))
    pos = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "shingle")
    )
    if at_scale:
        # Extended prefix + vote-count candidate bound (exact by the
        # same pigeonhole as the Jaccard Q bound): c >= ⌈0.9·na⌉ puts
        # at least pa' − (na − c) of A's intersection shingles inside
        # its pa'-long prefix, ALL of which are in B (full index), so
        # votes per true pair >= pa' − na + ⌈0.9na⌉
        # = min(⌈0.9na⌉, 1 + CONT_PREFIX_EXTRA). The b_n >= ⌈0.9·a_n⌉
        # length filter is exact too (c <= min(na,nb)). Counting votes
        # per pair costs the shuffle the old .distinct() already paid;
        # requiring 1+EXTRA shared rare shingles (vs 1) collapses the
        # hub-corpus candidate set from the share-one floor to
        # ~true-pair scale (1.6x more prefix postings, measured
        # 1.18e9 -> 1.89e9 votes at 500k hub docs — the trade that
        # unlocks the 100x decade row).
        extra = CONT_PREFIX_EXTRA
        pref_base = (
            ex.join(df_rank, "shingle")
            .withColumn("pos", pos)
            .filter(
                F.col("pos")
                <= F.expr(
                    "least(n_sh,"
                    f" n_sh - (9 * n_sh + 9) DIV 10 + 1 + {extra})"
                )
            )
        )
        # materialize once: the election's Σdf agg below and the
        # candidate join both consume this subtree (r11 ADVICE — see
        # the matching note in the Jaccard op)
        pref_base = pref_base.localCheckpoint()
        prefix = pref_base.select(
            F.col("doc_id").alias("a_id"),
            F.col("n_sh").alias("a_n"),
            "shingle",
        )
        # hashed-verify election (r10 item 7 + r11 volume floor):
        # below the shuffle-volume floor, or past the collision
        # budget, the hashed prefilter is skipped and candidates go
        # straight to the raw-shingle rescore — faster at mid-scale,
        # provably exact at any scale
        hashed_ok = _elect_hashed_verify(shingled, pref_base)
        full = ex.select(
            F.col("doc_id").alias("b_id"),
            F.col("n_sh").alias("b_n"),
            "shingle",
        )
        vote_min = F.expr(f"least((9 * a_n + 9) DIV 10, {1 + extra})")
        cand = (
            prefix.join(full, "shingle")
            .filter(
                (F.col("a_id") != F.col("b_id"))
                & (F.col("b_n") >= F.expr("(9 * a_n + 9) DIV 10"))
            )
            .groupBy("a_id", "b_id", "a_n")
            .agg(F.count("*").alias("shared_pre"))
            .filter(F.col("shared_pre") >= vote_min)
            .select("a_id", "b_id")
        )
        if hashed_ok:
            pre = _hashed_prefilter(shingled, cand)
            survivors = pre.filter(
                F.col("common_h").cast("double") / F.col("a_n") >= 0.9
            ).select("a_id", "b_id")
            scored = _rescore_survivors_raw(shingled, survivors)
        else:
            scored = _rescore_survivors_raw(shingled, cand)
    else:
        # Fixture scale: the vote machinery is a tautology at extra=0
        # (shared_pre >= 1 is exactly "shared a prefix shingle") but
        # NOT free — the r10 unified plan carried a_n/b_n longs through
        # every posting row of the prefix⋈full join and replaced the
        # .distinct() with a wider groupBy+count, a measured ~1.6x
        # fixture-scale regression (r10 VERDICT item 1: 1.87 -> 2.98 s
        # warm-min interleaved A/B at sf0.1). Keep the literal minimal
        # candidate tail here; the bound only earns its cost where the
        # gate opens.
        prefix = (
            ex.join(df_rank, "shingle")
            .withColumn("pos", pos)
            .filter(
                F.col("pos") <= F.expr("n_sh - (9 * n_sh + 9) DIV 10 + 1")
            )
            .select(F.col("doc_id").alias("a_id"), "shingle")
        )
        full = ex.select(F.col("doc_id").alias("b_id"), "shingle")
        cand = (
            prefix.join(full, "shingle")
            .filter(F.col("a_id") != F.col("b_id"))
            .select("a_id", "b_id")
            .distinct()
        )
        scored = _rescore_survivors_raw(shingled, cand)
    cont = F.col("common").cast("double") / F.col("a_n")
    return (
        scored.where(cont >= 0.9)
        .select(
            "a_id",
            "b_id",
            "common",
            F.round(cont, 4).alias("containment"),
        )
    )


_E2E_SURVIVOR_TAIL = """
    , clusters AS (
        SELECT doc_id, CAST(min(label) AS BIGINT) AS cluster_id
        FROM cc GROUP BY doc_id
    ), ranked AS (
        SELECT c.cluster_id, c.doc_id, ns.n_sh,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY ns.n_sh DESC, c.doc_id) AS rn,
               count(*) OVER (PARTITION BY c.cluster_id) AS n_docs
        FROM clusters c JOIN ns ON ns.doc_id = c.doc_id
    )
    SELECT cluster_id, CAST(doc_id AS BIGINT) AS survivor_id,
           CAST(n_docs AS BIGINT) AS n_docs
    FROM ranked WHERE rn = 1
"""

_ORACLE_DEDUP_E2E = _ORACLE_CC.replace(
    """SELECT doc_id, CAST(min(label) AS BIGINT) AS cluster_id
    FROM cc GROUP BY doc_id""",
    _E2E_SURVIVOR_TAIL,
)
assert _ORACLE_DEDUP_E2E != _ORACLE_CC  # the tail swap must have landed


@register("pipeline_dedup_e2e", oracle=_ORACLE_DEDUP_E2E)
def pipeline_dedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    return survivors(*_corpus(spark, sf_dir, (2, 4)))


def survivors(docs: DataFrame, n_docs: int) -> DataFrame:
    """The composed corpus-dedup lifecycle — candidate pairs → exact
    verify → connected components → ONE survivor per cluster — i.e.
    what dedup_* stages do separately, run end-to-end the way a
    training-data refresh actually runs them.

    Cluster assignment comes from clusters_cc (inverted-index
    candidates, exact Jaccard >= 0.5, iterative min-label CC), whose
    checkpointed shingle frame also gives the sizes; the survivor policy is keep-the-richest: most shingles wins, doc_id
    breaks ties (dedup_keep_best's shape applied to near-dup clusters).
    Output is one row per cluster with its survivor and size, so the
    dedup rate is directly visible. Every stage is keyed — inverted
    index on shingle, CC on doc ids, survivor window on cluster_id —
    no stage is all-pairs, which is what lets the same dataflow run at
    corpus scale.
    """
    shingled, clusters = _clusters(docs, n_docs)
    joined = clusters.join(shingled.select("doc_id", "n_sh"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_sh").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    return (
        joined.select(
            "cluster_id",
            "doc_id",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wc).cast("long").alias("n_docs"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").cast("long").alias("survivor_id"),
            "n_docs",
        )
    )
