"""Round-4g extension operators (SURVEY.md §2.21).

Matching-and-scaling reads: reciprocal best-match pairs over the
embedding corpus (the entity-resolution primitive), maximum drawdown
over the revenue series (the peak-to-trough risk read), and robust
(median/IQR) feature scaling.

Contract discipline identical to the other extension modules;
similarity ranking uses the proven rounded-6dp + id-tiebreak idiom
(`emb_outlier_topk`), so rank order is engine-identical under float
ULP differences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import cents, r6
from census_postgres_py_spark.functions.vector import cosine
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t


# ---------------------------------------------------------------------------
# join_mutual_topk — reciprocal best-match pairs
# ---------------------------------------------------------------------------


@register(
    "join_mutual_topk",
    oracle="""
    WITH pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                     CAST(b.embedding AS DOUBLE[])) * 1000000 + 0.5)
                   / 1000000 AS cos_r
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ), best AS (
        SELECT va, vb, cos_r,
               row_number() OVER (PARTITION BY va
                   ORDER BY cos_r DESC, vb) AS rn
        FROM pairs
    ), top1 AS (
        SELECT va, vb, cos_r FROM best WHERE rn = 1
    )
    SELECT t1.va AS vec_a, t1.vb AS vec_b, t1.cos_r AS cos_sim
    FROM top1 t1 JOIN top1 t2 ON t1.vb = t2.va AND t2.vb = t1.va
    WHERE t1.va < t1.vb
    """,
)
def join_mutual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best-match pairs: (a, b) where b is a's nearest
    neighbor AND a is b's — the mutual-top-1 criterion entity
    resolution uses to accept a match without a threshold, and the
    strongest near-duplicate signal an embedding space offers.

    Candidates-first, reusing `dedup_embedding_cosine`'s block-pair
    tiling (a naive zip_with over all n² ordered pairs measured 122 s
    at sf0.1 — BLAS tiles run it in ~2 s): rows shuffle once into
    B(B+1)/2 bounded-memory tiles, one matmul per tile emits each
    row's within-tile best matches with a 1e-3 slack band (the global
    argmax of a row is always some tile's row-max, so candidate recall
    is total; the slack additionally covers accumulation-order ULPs
    and the 1e-6 ranking granularity — it can only over-select).
    Candidates are then re-scored EXACTLY with the JVM zip_with fold
    (bit-identical to DuckDB's sequential fold), best-per-vector is a
    WindowGroupLimit on the ROUNDED cosine with id tiebreak, and
    reciprocity is a self equi-join of the |n|-row top-1 table on the
    reversed key. At 100 TB the tile stage swaps for LSH/IVF candidate
    generation (`join_similarity_ann`/`_ivf`) feeding the SAME
    rescore + top-1 + reciprocity tail — the mutual filter is
    candidate-source-agnostic.
    """
    import numpy as np
    import pandas as pd

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = e.count()
    # larger tiles than dedup_embedding_cosine: top-1 extraction is one
    # argmax per row, so per-tile overhead (Arrow + task setup)
    # dominates long before tile memory does
    block_rows = 512 if n <= 16384 else 4096
    n_blocks = max(1, -(-n // block_rows))

    def tile_best(pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = int(pdf["i"].iat[0]), int(pdf["j"].iat[0])
        left = pdf[pdf["b"] == i]
        right = pdf[pdf["b"] == j] if i != j else left
        if not len(left) or not len(right):
            return pd.DataFrame({"va": [], "vb": []}).astype("int64")
        l_ids = left["vec_id"].to_numpy(np.int64)
        r_ids = right["vec_id"].to_numpy(np.int64)
        l_mat = np.stack(left["embedding"].to_numpy()).astype(np.float64)
        r_mat = np.stack(right["embedding"].to_numpy()).astype(np.float64)
        l_mat /= np.linalg.norm(l_mat, axis=1, keepdims=True)
        r_mat /= np.linalg.norm(r_mat, axis=1, keepdims=True)
        sims = l_mat @ r_mat.T
        if i == j:
            np.fill_diagonal(sims, -2.0)
        out_a, out_b = [], []
        # every row's near-max band, from BOTH sides of the tile
        keep_l = sims >= (sims.max(axis=1, keepdims=True) - 1e-3)
        li, ri = np.nonzero(keep_l)
        out_a.append(l_ids[li]); out_b.append(r_ids[ri])
        keep_r = sims >= (sims.max(axis=0, keepdims=True) - 1e-3)
        li, ri = np.nonzero(keep_r)
        out_a.append(r_ids[ri]); out_b.append(l_ids[li])
        return pd.DataFrame(
            {"va": np.concatenate(out_a), "vb": np.concatenate(out_b)}
        ).drop_duplicates()

    # parallelism restore before the n_blocks-way explode: a
    # single-row-group parquet scans as ONE task, which would run
    # the whole n×B amplification single-threaded (the explode-
    # after-coalesce disease; see emb_dedup_sweep's measured case).
    # Scoped to the tiled branch only — the a/b rescore sides below
    # stay on the unshuffled scan (r10 ADVICE).
    tiles_src = (
        e.repartition(spark.sparkContext.defaultParallelism)
        if n_blocks > 1
        else e
    )
    tiled = (
        # pmod, not %: sign-safe blocking (r9 ADVICE; repo idiom)
        tiles_src
        .withColumn("b", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int"))
        .withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
        .withColumn("i", F.least("b", "k"))
        .withColumn("j", F.greatest("b", "k"))
    )
    cand = tiled.groupBy("i", "j").applyInPandas(tile_best, "va long, vb long")

    a = e.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    pairs = (
        F.broadcast(cand)
        .join(a, "va")
        .join(b, "vb")
        .select("va", "vb", r6(cosine(F.col("ea"), F.col("eb"))).alias("cos_r"))
    )
    w = Window.partitionBy("va").orderBy(F.col("cos_r").desc(), "vb")
    top1 = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("va", "vb", "cos_r")
    )
    t2 = top1.select(
        F.col("va").alias("rb"), F.col("vb").alias("ra")
    )
    return (
        top1.join(
            t2, (F.col("vb") == F.col("rb")) & (F.col("va") == F.col("ra"))
        )
        .filter(F.col("va") < F.col("vb"))
        .select(
            F.col("va").alias("vec_a"),
            F.col("vb").alias("vec_b"),
            F.col("cos_r").alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# win_drawdown — peak-to-trough of the revenue series
# ---------------------------------------------------------------------------


@register(
    "win_drawdown",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', o_orderdate) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1
    ), curve AS (
        SELECT d, rev_cents,
               CAST(sum(rev_cents) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_cents
        FROM daily
    ), dd AS (
        SELECT d, rev_cents, cum_cents,
               CAST(max(cum_cents) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS peak_cents
        FROM curve
    )
    SELECT epoch_ms(CAST(d AS TIMESTAMP)) AS day_ms, rev_cents,
           cum_cents, peak_cents,
           peak_cents - cum_cents AS drawdown_cents
    FROM dd
    """,
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown of the cumulative daily revenue series: each day's
    running total, the running peak, and the peak-to-current gap —
    the risk read behind "how far below the high-water mark are we",
    and (since revenue is nonnegative here) a template for any
    monotone-or-not KPI curve (net inventory, balance, margin).

    Reduce-before-window throughout: the fact table collapses to
    O(calendar) daily rows (combinable exact-cents sum, one shuffle),
    then the running sum AND running max share one ordered pass over
    that tiny frame. All integers end to end.
    """
    orders = t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d")).agg(
        F.sum(cents(F.col("o_totalprice"))).cast("long").alias("rev_cents")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    curve = daily.withColumn(
        "cum_cents", F.sum("rev_cents").over(w).cast("long")
    ).withColumn("peak_cents", F.max("cum_cents").over(w).cast("long"))
    return curve.select(
        F.unix_millis("d").alias("day_ms"),
        "rev_cents",
        "cum_cents",
        "peak_cents",
        (F.col("peak_cents") - F.col("cum_cents")).alias("drawdown_cents"),
    )


# ---------------------------------------------------------------------------
# transform_robust_scale — median/IQR feature scaling
# ---------------------------------------------------------------------------


@register(
    "transform_robust_scale",
    oracle="""
    WITH stats AS (
        SELECT c_mktsegment,
               quantile_cont(c_acctbal, 0.5) AS med,
               quantile_cont(c_acctbal, 0.75)
                   - quantile_cont(c_acctbal, 0.25) AS iqr
        FROM customer GROUP BY 1
    )
    SELECT c.c_custkey, c.c_mktsegment,
           CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_c100,
           CAST(floor((c.c_acctbal - s.med) / nullif(s.iqr, 0.0) * 1000000
                + 0.5) AS BIGINT) AS robust_z_e6
    FROM customer c JOIN stats s ON c.c_mktsegment = s.c_mktsegment
    """,
)
def transform_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust feature scaling: (x − median) / IQR per market segment —
    the outlier-resistant alternative to z-scoring
    (`transform_minmax_scale`'s robust sibling), standard prep for
    balance-like columns with heavy tails.

    Exact interpolating percentiles (Spark `percentile` ≡ DuckDB
    `quantile_cont`, both linear-interpolation type-7) computed once
    per segment and broadcast back onto the rows; the scaled value is
    one shared double expression rendered at 1e-6. `nullif(iqr, 0)`
    makes a constant group NULL identically on both engines. At 100 TB
    the exact percentile (sort-based aggregate) yields to
    `approx_percentile` — same contract, combinable sketch.
    """
    cust = t(spark, sf_dir, "customer")
    stats = cust.groupBy("c_mktsegment").agg(
        F.percentile("c_acctbal", F.lit(0.5)).alias("med"),
        (
            F.percentile("c_acctbal", F.lit(0.75))
            - F.percentile("c_acctbal", F.lit(0.25))
        ).alias("iqr"),
    )
    return cust.join(F.broadcast(stats), "c_mktsegment").select(
        "c_custkey",
        "c_mktsegment",
        cents(F.col("c_acctbal")).alias("acctbal_c100"),
        F.floor(
            (F.col("c_acctbal") - F.col("med"))
            / F.nullif(F.col("iqr"), F.lit(0.0))
            * F.lit(1000000)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("robust_z_e6"),
    )
