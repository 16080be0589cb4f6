"""Round-4ab extension operators (SURVEY.md §2.42).

Sequential-testing, drift and collaborative-filtering reads: the
SPRT decision trace (Wald's sequential A/B test — when could each
experiment have stopped?), embedding centroid drift between corpus
halves (the "did my vector space move" monitor), and the bipartite
customer projection (customers linked by common parts — the
item-overlap primitive under neighborhood CF).

Contract discipline identical to the other extension modules: the
SPRT log-likelihood is a·k + b·(n−k) with shared double constants
over exact integer counts, centroid components are e6-integerized
per element BEFORE any cross-partition sum, and the projection is
pure integer counting behind a documented degree cap.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark import stats
from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import gated_broadcast, t

_D38 = "decimal(38,0)"

# SPRT under H0: p=0.50 vs H1: p=0.55 purchase-share of (purchase vs
# click) events; boundaries at ln(19) ≈ ±2.944 (α=β=0.05).
_P0, _P1 = 0.50, 0.55
_LLR_POS = math.log(_P1 / _P0)
_LLR_NEG = math.log((1 - _P1) / (1 - _P0))
_BOUND = math.log(19.0)


@register(
    "agg_sprt_decision",
    oracle=f"""
    WITH ev AS (
        SELECT user_id % 8 AS expt,
               date_trunc('day', ts) AS d,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS k
        FROM events WHERE event_type IN ('purchase', 'click')
    ), daily AS (
        SELECT expt, d,
               CAST(sum(k) AS BIGINT) AS dk,
               CAST(count(*) AS BIGINT) AS dn
        FROM ev GROUP BY expt, d
    ), cum AS (
        SELECT expt, d,
               CAST(sum(dk) OVER w AS BIGINT) AS k,
               CAST(sum(dn) OVER w AS BIGINT) AS n
        FROM daily
        WINDOW w AS (PARTITION BY expt ORDER BY d)
    ), llr AS (
        SELECT expt, d, k, n,
               k * ({_LLR_POS!r}) + (n - k) * ({_LLR_NEG!r}) AS llr
        FROM cum
    ), crossed AS (
        SELECT expt, d, k, n, llr,
               row_number() OVER (
                   PARTITION BY expt ORDER BY d) AS day_idx,
               CASE WHEN abs(llr) >= {_BOUND!r} THEN 1 ELSE 0 END AS hit
        FROM llr
    )
    SELECT expt,
           CAST(min(CASE WHEN hit = 1 THEN day_idx END) AS BIGINT)
               AS decision_day,
           CAST(max(k) AS BIGINT) AS k_final,
           CAST(max(n) AS BIGINT) AS n_final,
           floor(arg_max(llr, day_idx) * 1000000 + 0.5) / 1000000
               AS llr_final
    FROM crossed GROUP BY expt
    """,
)
def agg_sprt_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT trace per experiment arm (users split mod 8): the
    cumulative log-likelihood ratio of "purchase share = 55%" vs
    "50%", and the first day |LLR| crosses the ±ln 19 boundary —
    i.e. how many days of data each arm needed before a sequential
    test could have stopped. The fixture's true share sits near 50%,
    so most arms never cross — the honest sequential answer.

    LLR_t = k_t·ln(p₁/p₀) + (n_t−k_t)·ln(q₁/q₀) is linear in the
    exact integer counts with two shared double constants, so both
    engines compute bit-identical traces; the daily counts reduce
    map-side and the cumulative runs per-experiment over the
    calendar frame. NULL decision_day = "still running".
    """
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            (F.col("user_id") % 8).alias("expt"),
            F.date_trunc("day", "ts").alias("d"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("k"),
        )
    )
    daily = ev.groupBy("expt", "d").agg(
        F.sum("k").cast("long").alias("dk"),
        F.count("*").cast("long").alias("dn"),
    )
    w = Window.partitionBy("expt").orderBy("d")
    cum = daily.select(
        "expt",
        "d",
        F.sum("dk").over(w).cast("long").alias("k"),
        F.sum("dn").over(w).cast("long").alias("n"),
    )
    llr = F.col("k") * F.lit(_LLR_POS) + (F.col("n") - F.col("k")) * F.lit(
        _LLR_NEG
    )
    crossed = cum.select(
        "expt",
        "k",
        "n",
        llr.alias("llr"),
        F.row_number().over(w).alias("day_idx"),
        F.when(F.abs(llr) >= _BOUND, 1).otherwise(0).alias("hit"),
    )
    return crossed.groupBy("expt").agg(
        F.min(F.when(F.col("hit") == 1, F.col("day_idx")))
        .cast("long")
        .alias("decision_day"),
        F.max("k").cast("long").alias("k_final"),
        F.max("n").cast("long").alias("n_final"),
        round_dp(
            F.max_by(F.col("llr"), F.col("day_idx")), 6
        ).alias("llr_final"),
    )


# ---------------------------------------------------------------------------
# emb_centroid_drift — label centroids of corpus halves compared
# ---------------------------------------------------------------------------


@register(
    "emb_centroid_drift",
    oracle="""
    WITH halves AS (
        SELECT label, CAST(vec_id % 2 AS BIGINT) AS half,
               i AS pos,
               CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000
                                   + 0.5) AS BIGINT)) AS HUGEINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM embeddings, range(1, 65) t(i)
        GROUP BY label, vec_id % 2, i
    ), paired AS (
        SELECT a.label, a.pos,
               CAST(a.s AS DOUBLE) / a.n AS ca,
               CAST(b.s AS DOUBLE) / b.n AS cb
        FROM halves a JOIN halves b
          ON b.label = a.label AND b.pos = a.pos
        WHERE a.half = 0 AND b.half = 1
    )
    SELECT label,
           floor(sum(ca * cb)
                 / sqrt(sum(ca * ca)) / sqrt(sum(cb * cb))
                 * 1000000 + 0.5) / 1000000 AS centroid_cos
    FROM paired GROUP BY label
    """,
)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine between each label's centroid computed on the even-id
    half vs the odd-id half of the corpus — the split-half stability
    monitor ("is this cluster real or sampling noise?"); in
    production the halves are yesterday's batch vs today's.

    Per-element values e6-integerize BEFORE the cross-partition sum
    (the repo's float-discipline: a float mean's partial-merge order
    can wobble; an integer sum cannot), so each centroid component
    is an exact rational. The final cosine folds over the 64-row
    per-label frame with identically-written double arithmetic.
    The posexplode is 64× a 2-column projection of the reduced
    table — at 100 TB one switches to Summarizer's vectorized
    moments (emb_dim_stats) per (label, half).
    """
    e = t(spark, sf_dir, "embeddings").select(
        "label",
        (F.col("vec_id") % 2).cast("long").alias("half"),
        F.posexplode(F.col("embedding")).alias("pos0", "x"),
    )
    halves = e.groupBy(
        "label", "half", (F.col("pos0") + 1).alias("pos")
    ).agg(
        F.sum(half_up(F.col("x").cast("double") * 1000000))
        .cast(_D38)
        .alias("s"),
        F.count("*").cast("long").alias("n"),
    )
    a = halves.filter(F.col("half") == 0).select(
        "label", "pos", (F.col("s").cast("double") / F.col("n")).alias("ca")
    )
    b = halves.filter(F.col("half") == 1).select(
        F.col("label").alias("lb"),
        F.col("pos").alias("pb"),
        (F.col("s").cast("double") / F.col("n")).alias("cb"),
    )
    paired = a.join(
        b, (F.col("lb") == F.col("label")) & (F.col("pb") == F.col("pos"))
    )
    return paired.groupBy("label").agg(
        round_dp(
            F.sum(F.col("ca") * F.col("cb"))
            / F.sqrt(F.sum(F.col("ca") * F.col("ca")))
            / F.sqrt(F.sum(F.col("cb") * F.col("cb"))),
            6,
        ).alias("centroid_cos")
    )


# ---------------------------------------------------------------------------
# join_bipartite_projection — customers linked by common parts
# ---------------------------------------------------------------------------

_MAX_PART_DEGREE = 50  # drop hub parts: the standard CF popularity cap
_MIN_COMMON = 3


@register(
    "join_bipartite_projection",
    oracle=f"""
    WITH cp AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), deg AS (
        SELECT part FROM cp GROUP BY part
        HAVING count(*) <= {_MAX_PART_DEGREE}
    ), kept AS (
        SELECT cp.cust, cp.part FROM cp JOIN deg USING (part)
    )
    SELECT a.cust AS cust_a, b.cust AS cust_b,
           CAST(count(*) AS BIGINT) AS n_common
    FROM kept a JOIN kept b
      ON b.part = a.part AND a.cust < b.cust
    GROUP BY a.cust, b.cust
    HAVING count(*) >= {_MIN_COMMON}
    """,
)
def join_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project the customer–part bipartite graph onto customers:
    pairs sharing ≥ 3 distinct parts, the item-overlap edge list
    under every neighborhood collaborative filter ("customers like
    you bought…").

    The projection joins the DISTINCT (customer, part) frame to
    itself ON PART — fan-out is Σ_part deg², so hub parts (bought by
    > 50 customers) are dropped first: the standard CF popularity
    cap, which both bounds the quadratic blow-up AND removes the
    least-informative signal (everyone buys the bestseller). The cap
    frame is part-cardinality-sized; everything else is equi-join +
    combinable count.

    Plan note (measured, don't re-litigate): the in-basket generator
    expansion that won for agg_cooccurrence and the co-purchase edge
    builder LOSES here — buyer sets run 30–50 customers (vs ~7-item
    order baskets), so C(deg,2) ≈ 435 struct allocations per group
    flow through interpreted lambda transforms, where the self-join
    emits the same pair stream through codegen'd probe/build. 10×
    stress corpus: self-join 14.8 s, generator 66.3 s; the generator
    was ~1.5 s faster only at sf0.1 where pair volume is small.
    """
    cp = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .join(
            t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_partkey").alias("part"),
        )
        .distinct()
    )
    deg = (
        cp.groupBy("part")
        .agg(F.count("*").alias("dc"))
        .filter(F.col("dc") <= _MAX_PART_DEGREE)
        .select("part")
    )
    # deg is part-cardinality-sized — fact-scale, so gated like every
    # other part-derived hint (tables.gated_broadcast). Preference-
    # keyed on part (the tight bound — distinct partkeys ≤ |part| —
    # broadcastable far past the lineitem-row cap) falling back to
    # lineitem, the derivation source this op reads, when part.parquet
    # is absent (edges-only stress corpora): the r8 unconditional part
    # key crashed there on the footer read of the missing file, and the
    # r8 lineitem rekey closed the gate at ~sf1.3 for a part-sized frame
    # (r8 ADVICE).
    kept = cp.join(gated_broadcast(spark, sf_dir, ("part", "lineitem"), deg), "part")
    a = kept.alias("a")
    b = kept.alias("b")
    pairs = a.join(
        b,
        (F.col("b.part") == F.col("a.part"))
        & (F.col("a.cust") < F.col("b.cust")),
    )
    # r13: the Σ deg² pair stream is this op's one heavy shuffle (the
    # groupBy below dedups ~9M rows at sf0.1); when the parquet footer
    # proves every custkey fits in 31 unsigned bits, the (cust_a,
    # cust_b) key packs into ONE long — 8 bytes of grouping key per
    # pair row instead of 16, one hash/compare instead of two (guide
    # §2.3 narrower types). a.cust < b.cust makes the packing
    # injective; the output unpacks to the same long pair, so rows are
    # identical. Keys too wide (≥ 2³¹ at large scale factors) -> the
    # two-column groupBy below.
    lo, hi = stats.key_range(spark, sf_dir, "orders", "o_custkey")
    if 0 <= lo and hi <= 2**31 - 1:
        return (
            pairs.select(
                F.expr("shiftleft(CAST(a.cust AS BIGINT), 32) | b.cust")
                .alias("pk")
            )
            .groupBy("pk")
            .agg(F.count("*").cast("long").alias("n_common"))
            .filter(F.col("n_common") >= _MIN_COMMON)
            .select(
                F.expr("shiftright(pk, 32)").cast("long").alias("cust_a"),
                F.expr("pk & 4294967295").cast("long").alias("cust_b"),
                "n_common",
            )
        )
    return (
        pairs.groupBy(
            F.col("a.cust").alias("cust_a"),
            F.col("b.cust").alias("cust_b"),
        )
        .agg(F.count("*").cast("long").alias("n_common"))
        .filter(F.col("n_common") >= _MIN_COMMON)
    )
