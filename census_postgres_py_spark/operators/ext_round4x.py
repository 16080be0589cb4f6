"""Round-4x extension operators (SURVEY.md §2.38).

Market-data, dedup-tuning and lake-maintenance reads: OHLC candles
(the open/high/low/close rollup every price dashboard draws),
an embedding near-dup threshold sweep (pick the dedup cutoff by
seeing the dup-rate curve BEFORE committing to one), and an
end-to-end manifest-pruned scan (write → manifest → prune → read
only matching files — the table-format zone-map workflow).

Contract discipline identical to the other extension modules: OHLC
open/close come from deterministic (ts, event_id) rank windows, the
sweep's cosine is the sequential JVM fold whose accumulation order
matches DuckDB bit-for-bit (dedup_embedding_cosine stage-2
precedent), and the pruning op's correctness statement is equality
with the unpruned oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark import stats
from census_postgres_py_spark.operators.scans import _scratch
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import gated_broadcast, read_back, t

_BUCKET_S = 21600  # 6-hour candle


# ---------------------------------------------------------------------------
# win_ohlc_candles — 6-hour OHLC per event type
# ---------------------------------------------------------------------------


@register(
    "win_ohlc_candles",
    oracle=f"""
    WITH pts AS (
        SELECT event_type, event_id,
               CAST(floor(epoch(ts) / {_BUCKET_S}) AS BIGINT) AS bucket,
               ts,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ), ranked AS (
        SELECT event_type, bucket, cents,
               row_number() OVER (
                   PARTITION BY event_type, bucket
                   ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (
                   PARTITION BY event_type, bucket
                   ORDER BY ts DESC, event_id DESC) AS rn_z
        FROM pts
    )
    SELECT event_type, bucket,
           CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open,
           CAST(max(cents) AS BIGINT) AS high,
           CAST(min(cents) AS BIGINT) AS low,
           CAST(max(CASE WHEN rn_z = 1 THEN cents END) AS BIGINT) AS close,
           CAST(count(*) AS BIGINT) AS n_trades,
           CAST(sum(cents) AS BIGINT) AS volume_cents
    FROM ranked GROUP BY event_type, bucket
    """,
)
def win_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour OHLC candles per event type — open, high, low, close,
    trade count and value volume, the standard market/price rollup.

    Open and close are the first/last rows under the TOTAL order
    (ts, event_id) — two rank windows partitioned by (type, bucket),
    deterministic even when timestamps collide, instead of engine-
    specific first()/arg_min semantics. The candle rollup itself is
    a combinable aggregation over integer cents. At 100 TB windows
    partition by (type, bucket) — bounded frames that scale with the
    candle width, never with history length.
    """
    pts = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.unix_timestamp("ts") / _BUCKET_S)
        .cast("long")
        .alias("bucket"),
        "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    w_a = Window.partitionBy("event_type", "bucket").orderBy(
        "ts", "event_id"
    )
    w_z = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = pts.select(
        "event_type",
        "bucket",
        "cents",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_z).alias("rn_z"),
    )
    return ranked.groupBy("event_type", "bucket").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("cents")))
        .cast("long")
        .alias("open"),
        F.max("cents").cast("long").alias("high"),
        F.min("cents").cast("long").alias("low"),
        F.max(F.when(F.col("rn_z") == 1, F.col("cents")))
        .cast("long")
        .alias("close"),
        F.count("*").cast("long").alias("n_trades"),
        F.sum("cents").cast("long").alias("volume_cents"),
    )


# ---------------------------------------------------------------------------
# emb_dedup_sweep — dup-rate curve across cosine thresholds
# ---------------------------------------------------------------------------

_THRESHOLDS = (30, 40, 50, 60, 70)  # cosine × 100


def _tile_rows_default(spark: SparkSession) -> int:
    """Memory-aware default for the block-pair tile edge (rows).

    A tile task holds ~3 tile-sized float64 transients (the BLAS sims
    output, the bool mask promoted during the compare, and numpy
    temporaries), i.e. ~24·rows² bytes, with defaultParallelism tasks
    concurrent. Budget half the per-core physical memory for them:
    rows = sqrt((mem/cores/2) / 24), clamped to [2048, 8192] and
    rounded down to a multiple of 1024 (tile-count granularity — the
    exact value only moves candidate-batch shape, never output).
    Executors are sized from `spark.executor.memory` when the
    deployment sets it; local mode falls back to physical RAM (the
    Python workers draw from the same host). On the 32-core/128 GiB
    bench box: 4 GiB/core → 2 GiB budget → 9460 → clamp 8192, the
    measured 100×-decade optimum (tools/decades_r10.log)."""
    import os
    import re

    mem = None
    conf_mem = spark.conf.get("spark.executor.memory", None)
    if conf_mem:
        m = re.fullmatch(r"(\d+)([kmgt]?)(b?)", conf_mem.strip().lower())
        if m:
            # Spark's getSizeAsMb reads a suffix-LESS number as MiB —
            # '4096' means 4 GiB — while an explicit 'b' means bytes.
            # Mirror both, or a bare value silently clamps the tile
            # edge to the floor (r11 ADVICE).
            unit = m.group(2) or ("" if m.group(3) else "m")
            mem = int(m.group(1)) * 1024 ** " kmgt".index(unit or " ")
    if mem is None:
        try:
            mem = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        except (ValueError, OSError, AttributeError):
            mem = 32 * 1024**3  # unknowable host: assume a modest box
    cores = max(1, spark.sparkContext.defaultParallelism)
    rows = int(((mem / cores / 2) / 24) ** 0.5)
    return max(2048, min(8192, rows // 1024 * 1024))


@register(
    "emb_dedup_sweep",
    oracle=f"""
    WITH pairs AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               list_reduce(list_transform(range(1, 65),
                   i -> CAST(a.embedding[i] AS DOUBLE)
                        * CAST(b.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y)
               / sqrt(list_reduce(list_transform(range(1, 65),
                     i -> CAST(a.embedding[i] AS DOUBLE)
                          * CAST(a.embedding[i] AS DOUBLE)),
                     (x, y) -> x + y))
               / sqrt(list_reduce(list_transform(range(1, 65),
                     i -> CAST(b.embedding[i] AS DOUBLE)
                          * CAST(b.embedding[i] AS DOUBLE)),
                     (x, y) -> x + y)) AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
    ), th AS (
        SELECT CAST(unnest({list(_THRESHOLDS)}) AS BIGINT) AS th_x100
    )
    SELECT th.th_x100,
           CAST(count(CASE WHEN pairs.cos >= th.th_x100 / 100.0
                      THEN 1 END) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT CASE WHEN pairs.cos >= th.th_x100 / 100.0
                      THEN pairs.ib END) AS BIGINT) AS n_dropped
    FROM th CROSS JOIN pairs
    GROUP BY th.th_x100
    """,
)
def emb_dedup_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold sweep over label-blocked embedding pairs:
    for each candidate cosine cutoff (0.30–0.70), how many pairs
    cross it and how many rows a keep-lowest-id dedup would drop —
    the curve you read BEFORE committing a dedup threshold to a
    100 TB corpus.

    Pairs are blocked by label (the shard-local dedup shape) and the
    within-label all-pairs space is TILED with the same block-pair
    scheme as dedup_embedding_cosine: rows get block b = pmod(vec_id,
    B) — B ∝ n, so a full 8192×8192 tile's float64 sims matrix is
    ~536 MB transient per task (plus the bool mask), the per-task
    budget to price executor concurrency against; mod-blocking bounds
    tile size only under a roughly uniform vec_id distribution, and
    clustered/strided ids inflate individual blocks (true of any
    hash-free blocking; this fixture's ids are dense-sequential).
    Every row is exploded to its unordered block pairs, and one BLAS
    matmul per (label, i, j) tile emits candidates ≥ the lowest
    threshold with 0.001 recall slack. The r9-continuation decade run caught the
    pre-tiling plan going 315.9× for 100× rows: one pandas task per
    label materialized a label_rows² sims matrix (3.2 GB per 20k-row
    label at 200k vectors, single-threaded per label) — the exact
    unbounded-per-group-memory disease the tiling bounds (measured
    282.6 → 100.3 s at 200k vectors with the gated-broadcast rescore
    pin below, output identical; the remaining time is the exact
    JVM-fold rescore of the ~20M label-blocked candidates above the
    lowest threshold — the count floor any oracle-exact sweep must pay
    at this corpus's similarity profile, and runtime rides far below
    the floor's ~n² growth). Each candidate
    pair's cosine is then computed ONCE with the sequential JVM
    zip_with/aggregate fold (bit-identical to DuckDB's list_reduce),
    so the BLAS pass can only OVER-select and the swept counts are
    exact; the 5 thresholds ride a broadcast cross join — the
    expensive similarity work is never repeated per threshold.
    n_dropped counts distinct higher-ids (keep-lowest survivorship).
    """
    import pandas as pd

    lowest = min(_THRESHOLDS) / 100.0

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    # footer row count (O(1), no job): e is the UNFILTERED table, so
    # unlike the dedup ops' seam-swappable input this is exact.
    # a corpus at or under one tile degenerates to one group per
    # label — the pre-tiling plan shape, no explode amplification at
    # fixture scale
    n = stats.rows(sf_dir, "embeddings")
    # Tile rows: default scales off host memory per concurrent task
    # (r10 ADVICE — a fixed 8192 was validated only on one 32-way
    # 128 GiB box; one full 8192 tile = ~536 MB float64 sims transient
    # per task, so smaller hosts risk Python-worker OOM by default).
    # _tile_rows_default budgets ~1/2 of per-core physical memory for
    # ~3 tile-sized transients and clamps to [2048, 8192]; on the
    # 128 GiB/32-core bench box it resolves to 8192 — the measured
    # optimum. Conf-overridable so the knob stays PRICED by
    # measurement, not asserted; the r10 event-log profile
    # (tools/decades_r10.log) showed the dominant cost is NOT the sims
    # matrix but the ~1 ms/row FlatMapGroupsInPandas machinery on the
    # n×B exploded rows — so FEWER, BIGGER tiles win as long as the
    # matrix fits: 4096 tiles (49 blocks, 9.8M row-instances) ran
    # 777 s at the 100× decade vs 8192 tiles (25 blocks, 5M
    # row-instances) at 135.6 s, byte-identical output (the exact JVM
    # rescore decides membership; tiles only generate candidates).
    block_rows = int(
        spark.conf.get(
            "spark.census.embsweep.tileRows",
            str(_tile_rows_default(spark)),
        )
    )
    n_blocks = max(1, -(-n // block_rows))

    def _tile_candidates(pdf: pd.DataFrame):
        import numpy as np

        i, j = int(pdf["i"].iat[0]), int(pdf["j"].iat[0])
        left = pdf[pdf["b"] == i]
        right = pdf[pdf["b"] == j] if i != j else left
        if not len(left) or not len(right):
            return pd.DataFrame({"ia": [], "ib": []}).astype("int64")
        l_ids = left["vec_id"].to_numpy(np.int64)
        r_ids = right["vec_id"].to_numpy(np.int64)
        lm = np.vstack(left["v"].to_numpy()).astype("float64")
        rm = np.vstack(right["v"].to_numpy()).astype("float64")
        lm /= np.linalg.norm(lm, axis=1, keepdims=True)
        rm /= np.linalg.norm(rm, axis=1, keepdims=True)
        keep = (lm @ rm.T) >= lowest - 0.001
        # the i==j tile takes its own upper triangle BY ID (tile rows
        # arrive unordered); cross tiles hold disjoint id sets
        keep &= l_ids[:, None] < r_ids[None, :] if i == j else True
        ii, jj = np.nonzero(keep)
        return pd.DataFrame(
            {
                "ia": np.minimum(l_ids[ii], r_ids[jj]),
                "ib": np.maximum(l_ids[ii], r_ids[jj]),
            }
        )

    # Parallelism restore BEFORE the n_blocks-way explode: the
    # stress embeddings parquet is ONE row group, so the scan (and
    # therefore the explode that amplifies it n_blocks×, ~5 GB at
    # 200k vectors) would otherwise run in a single task — the
    # explode-after-coalesce disease stage_audit.py documents,
    # invisible at fixture scale where n_blocks == 1 skips this.
    # The repartition itself shuffles only the un-exploded base
    # table (~50 MB at the 100× decade), and is scoped to the tiled
    # branch only — the a/b exact-rescore sides below stay on the
    # unshuffled scan (r10 ADVICE).
    tiles_src = (
        e.repartition(spark.sparkContext.defaultParallelism)
        if n_blocks > 1
        else e
    )
    tiled = (
        # pmod, not %: Spark's % follows the dividend's sign, so a
        # negative vec_id would land in a b < 0 block no partner row
        # joins — silently dropped pairs (r9 ADVICE; sketches.py idiom)
        tiles_src
        .withColumn("b", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int"))
        .withColumn(
            "k", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
        )
        .withColumn("i", F.least("b", "k"))
        .withColumn("j", F.greatest("b", "k"))
    )
    cand = tiled.groupBy("label", "i", "j").applyInPandas(
        _tile_candidates, "ia long, ib long"
    )
    # exact rescore of the (sparse) candidate set: sequential JVM fold,
    # bit-identical to DuckDB's list_reduce — the BLAS pass above can
    # only OVER-select (0.001 slack ≫ any accumulation-order drift)
    sq = lambda v: F.aggregate(  # noqa: E731
        F.zip_with(v, v, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ev = e.withColumn("nrm", F.sqrt(sq(F.col("v"))))
    a = ev.select(
        F.col("vec_id").alias("ia"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = ev.select(
        F.col("vec_id").alias("ib"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # gated broadcast of the vector sides: the candidate set is the
    # BIG side here (~n²/label-density rows of two longs), so shuffling
    # and sorting it for an SMJ is the expensive mode of a bimodal plan
    # (measured 143 vs 246 s at 200k vectors depending on which shape
    # AQE landed); hash-joining against the row-count-gated embedding
    # table avoids the candidate shuffle entirely and degrades safely
    # to the shuffle plan past the gate
    gb = lambda df: gated_broadcast(spark, sf_dir, "embeddings", df)  # noqa: E731
    pairs = (
        cand.join(gb(a), "ia")
        .join(gb(b), "ib")
        .select(
            "ib",
            (dot / F.col("na") / F.col("nb")).alias("cos"),
        )
        .filter(F.col("cos") >= lowest)
    )
    th = spark.createDataFrame(
        [(x,) for x in _THRESHOLDS], "th_x100 long"
    )
    # broadcast the 5-row threshold frame explicitly — without the hint
    # this planned a CartesianProduct (pairs ⨯ th materialized by
    # shuffle), the one plan shape banned repo-wide (tools/plan_sweep.py)
    return (
        pairs.crossJoin(F.broadcast(th))
        .groupBy("th_x100")
        .agg(
            F.count(
                F.when(F.col("cos") >= F.col("th_x100") / 100.0, 1)
            )
            .cast("long")
            .alias("n_pairs"),
            F.countDistinct(
                F.when(
                    F.col("cos") >= F.col("th_x100") / 100.0,
                    F.col("ib"),
                )
            )
            .cast("long")
            .alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_manifest_prune_e2e — zone-map write → prune → selective read
# ---------------------------------------------------------------------------


@register(
    "pipeline_manifest_prune_e2e",
    oracle="""
    WITH b AS (
        SELECT (max(o_orderkey) + 1) // 4 AS lo,
               (max(o_orderkey) + 1) // 2 - 1 AS hi
        FROM orders
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders CROSS JOIN b
    WHERE o_orderkey BETWEEN b.lo AND b.hi
    GROUP BY o_orderpriority
    """,
)
def pipeline_manifest_prune_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end zone-map pruning: write orders range-partitioned on
    o_orderkey, collect a per-file (min, max) manifest, answer a key-
    range query by reading ONLY the files whose zone overlaps — the
    workflow behind every table format's file skipping, made explicit.

    The write range-partitions (repartitionByRange) so file zones are
    disjoint and the manifest is selective; the manifest itself is
    file-count-sized — reading it driver-side is the same metadata
    work a table format's planner does, NOT a data collect. The final
    aggregation runs on the pruned file list; the oracle computes the
    same answer from the unpruned table, so the hash-match IS the
    proof that pruning lost nothing.
    """
    # Query the second key octile-pair [N/4, N/2) — relative bounds so
    # the op is meaningful at every scale factor (keys are dense 0..N-1).
    # max key from the parquet footer stats (stats.key_range: no scan
    # job unless a writer left no statistics).
    n_keys = stats.key_range(spark, sf_dir, "orders", "o_orderkey")[1] + 1
    lo, hi = n_keys // 4, n_keys // 2 - 1
    base = _scratch(f"orders_zoned_{os.path.basename(sf_dir)}")
    if not os.path.exists(os.path.join(base, "_SUCCESS")):
        (
            t(spark, sf_dir, "orders")
            .repartitionByRange(8, "o_orderkey")
            .write.mode("overwrite")
            .parquet(base)
        )
    files = stats.files(base)
    zoned_schema = t(spark, sf_dir, "orders").schema
    zones = stats.bounds(spark, files, "o_orderkey")
    keep = [p for p, (mn, mx) in zones.items() if mx >= lo and mn <= hi]
    assert 0 < len(keep) < len(files), "zone map must actually prune"
    pruned = read_back(spark, zoned_schema, *keep).filter(
        F.col("o_orderkey").between(lo, hi)
    )
    return pruned.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("cents"),
    )
