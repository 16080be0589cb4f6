"""UDF / UDAF surface (SURVEY.md §2.9).

Policy (SURVEY.md §3.2): built-in functions first; when Python is
genuinely needed, Arrow-vectorized Pandas UDFs only — never
row-at-a-time `udf()`. Each operator here has a native-function twin
in its oracle SQL, so the harness double-checks the UDF path against
pure-SQL semantics (self-differential testing, SURVEY.md §5.2).

SELECTION RULE — `udf_window_agg` vs `udf_window_agg_fast`:
`udf_window_agg` (grouped-agg pandas UDF `.over()` a running frame)
invokes Python ONCE PER ROW-FRAME — cost grows with rows × frame, a
scale-killer over frames of more than ~1k rows. It exists only as the
API-surface demo of the `.over()` form. For any real workload use
`udf_window_agg_fast` (applyInPandas: one Python kernel per GROUP,
cumulative numpy inside — cost = rows, single shuffle, no Window).
Never ship the per-frame form over >1k-row frames or unbounded
partitions at 100 TB.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType
from pyspark.sql.window import Window

from census_postgres_py_spark import stats
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t


@F.pandas_udf(DoubleType())
def _discounted_price(price: pd.Series, discount: pd.Series) -> pd.Series:
    """Arrow-batched scalar UDF: whole columns in, whole columns out."""
    return price * (1.0 - discount)


@register(
    "udf_pandas_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100
               AS disc_price
    FROM lineitem
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar Pandas UDF vs the same math natively (the
    oracle IS the native twin — exact float-op-order equality).

    Rounding is ``floor(x*100 + 0.5)/100`` on both sides: Spark/DuckDB
    ``round(double, 2)`` disagree on half-cent boundaries (decimal-
    rendering HALF_UP vs binary-double rounding)."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(_discounted_price("l_extendedprice", "l_discount") * 100 + 0.5) / 100)
        .alias("disc_price"),
    )


@F.pandas_udf(DoubleType())
def _weighted_avg(price: pd.Series, qty: pd.Series) -> float:
    """GROUPED_AGG pandas UDF: the whole group's columns arrive as one
    Arrow batch (requires groups to fit executor memory — fine for
    bounded group counts; for open-ended keys prefer the sum/sum
    decomposition)."""
    denom = qty.sum()
    return float((price * qty).sum() / denom) if denom else float("nan")


@register(
    "udf_grouped_agg",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 2)
               AS w_avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF (quantity-weighted mean price) as a grouped-agg
    Pandas UDF, checked against its sum/sum SQL decomposition."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(_weighted_avg("l_extendedprice", "l_quantity"), 2).alias(
            "w_avg_price"
        )
    )


def _zscore(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-group map: z-score of event value within each user."""
    mean = pdf["value"].mean()
    std = pdf["value"].std(ddof=1)  # stddev_samp semantics, matches SQL
    z = (pdf["value"] - mean) / std if std and std > 0 else pd.Series(
        [float("nan")] * len(pdf), index=pdf.index
    )
    return pd.DataFrame(
        {"event_id": pdf["event_id"], "user_id": pdf["user_id"], "z": z.round(3)}
    )


@register(
    "udf_grouped_map",
    oracle="""
    SELECT event_id, user_id,
           round((value - avg(value) OVER (PARTITION BY user_id))
                 / stddev_samp(value) OVER (PARTITION BY user_id), 3) AS z
    FROM events
    """,
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map transform (per-user z-score), checked
    against the equivalent window-function SQL. Groups are streamed
    one Arrow batch per user — parallel across users, bounded by the
    largest single group.

    The grouping exchange is explicitly hash-repartitioned: the
    grouped columns are byte-compact, so AQE otherwise coalesces the
    shuffle to ONE partition and every user's Python kernel runs in a
    single task (measured 3.1s serial at sf0.1 by tools/
    stage_audit.py). A user repartition on the group key satisfies
    applyInPandas's required distribution (no second exchange) and is
    exempt from AQE coalescing."""
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return (
        ev.repartition(npart, "user_id")
        .groupBy("user_id")
        .applyInPandas(_zscore, schema="event_id long, user_id long, z double")
    )


def _join_stats(docs_pdf: pd.DataFrame, emb_pdf: pd.DataFrame) -> pd.DataFrame:
    """Cogrouped kernel: both sides of one key arrive as full pandas
    frames; emit the doc's char count joined with its embedding's L2
    norm (empty side => no output row, i.e. inner-join semantics)."""
    if not len(docs_pdf) or not len(emb_pdf):
        return pd.DataFrame(
            {"doc_id": [], "n_chars": [], "emb_norm": []}
        ).astype({"doc_id": "int64", "n_chars": "int64", "emb_norm": "float64"})
    import numpy as np

    vec = np.asarray(emb_pdf["embedding"].iloc[0], dtype=np.float64)
    return pd.DataFrame(
        {
            "doc_id": docs_pdf["doc_id"].iloc[:1],
            "n_chars": docs_pdf["n_chars"].iloc[:1].astype("int64"),
            "emb_norm": [round(float(np.sqrt((vec * vec).sum())), 4)],
        }
    )


@register(
    "udf_cogrouped_map",
    oracle="""
    SELECT d.doc_id,
           CAST(d.n_chars AS BIGINT) AS n_chars,
           round(sqrt(list_aggregate(
               list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x),
               'sum')), 4) AS emb_norm
    FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    """,
)
def udf_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas (the 4th Pandas-UDF surface after
    scalar / grouped-agg / grouped-map): documents and embeddings
    share the 0..499 key space, so each key's rows from BOTH tables
    arrive together in one kernel call — the pattern for per-entity
    multi-source feature assembly when the combine logic needs real
    Python (here it's a norm, so the oracle is plain SQL).

    Scale shape: one shuffle per side on the cogroup key — identical
    to a shuffle join — then Arrow-batched kernels per key group.
    """
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return (
        docs.groupBy("doc_id")
        .cogroup(emb.groupBy("vec_id"))
        .applyInPandas(
            lambda d, e: _join_stats(d, e),
            schema="doc_id long, n_chars long, emb_norm double",
        )
    )


@register(
    "udf_map_in_arrow",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5)
               / 100 AS charge
    FROM lineitem
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow`: the zero-copy tier below pandas UDFs — the
    function receives raw ``pyarrow.RecordBatch``es and computes with
    Arrow compute kernels, skipping the Arrow→pandas conversion both
    directions. For numeric kernels over wide batches this is the
    cheapest possible Python detour (the data never leaves Arrow
    buffers); at 100 TB it is the pattern for Python-side feature
    pipelines where pandas materialization would double memory.

    The oracle is the native-SQL twin of the same float expression —
    Arrow kernels evaluate left-to-right like the JVM, so the result
    is bit-identical (same self-differential policy as
    udf_pandas_scalar).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def charge_batches(batches):
        for batch in batches:
            price = batch.column("l_extendedprice")
            disc = batch.column("l_discount")
            tax = batch.column("l_tax")
            raw = pc.multiply(
                pc.multiply(price, pc.subtract(pa.scalar(1.0), disc)),
                pc.add(pa.scalar(1.0), tax),
            )
            charge = pc.divide(
                pc.floor(pc.add(pc.multiply(raw, pa.scalar(100.0)),
                                pa.scalar(0.5))),
                pa.scalar(100.0),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("l_orderkey"), batch.column("l_linenumber"),
                 charge],
                names=["l_orderkey", "l_linenumber", "charge"],
            )

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax"
    )
    return li.mapInArrow(
        charge_batches,
        "l_orderkey long, l_linenumber int, charge double",
    )


@F.pandas_udf(DoubleType())
def _norm_score_iter(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Iterator-form scalar Pandas UDF: the 'expensive init' slot runs
    ONCE per partition (here a stand-in normalization table; in a real
    LLM pipeline, a tokenizer or ONNX session), then every Arrow batch
    streams through it. The plain scalar form would re-enter Python
    with no place to hoist the init."""
    norm_table = {c: float(i) for i, c in enumerate("ABCDEFGHIJ")}  # "model"
    for prices in batches:
        yield prices / 100.0 + norm_table["B"]


@register(
    "udf_pandas_iter",
    oracle="""
    SELECT o_orderkey,
           floor((o_totalprice / 100.0 + 1.0) * 100 + 0.5) / 100 AS score
    FROM orders
    """,
)
def udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-Series Pandas UDF — the per-partition-init surface
    (SPARK-26412): amortizes loading a model/tokenizer across all of a
    partition's Arrow batches instead of paying it per batch. The
    arithmetic is trivial on purpose; the oracle is its native twin,
    so the check proves the iterator plumbing is value-transparent.
    """
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        (F.floor(_norm_score_iter("o_totalprice") * 100 + F.lit(0.5)) / 100).alias(
            "score"
        ),
    )


# Exact-cents formulation: accumulating double DOLLARS lets float
# rounding drift across the half-cent boundary between engines (seen
# once at sf0.1, row 54558: .97 vs .96). Both sides instead sum exact
# integer cents (DuckDB: HUGEINT; kernels: int64), so the two operands
# of the final division are IDENTICAL integers and IEEE double division
# makes the rounded result bit-equal by construction.
_WINDOW_AGG_ORACLE = """
    WITH c AS (
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS pc
        FROM orders
    )
    SELECT o_custkey, o_orderkey,
           floor(CAST(sum(pc * pc) OVER w AS DOUBLE)
                 / CAST(sum(pc) OVER w AS DOUBLE) + 0.5) / 100 AS w_run
    FROM c
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """


@F.pandas_udf(DoubleType())
def _wavg_run_cents(price: pd.Series) -> float:
    """Frame kernel for udf_window_agg: exact int64-cents sums (frame
    sums stay far under 2^63), one correctly-rounded double division —
    matches _WINDOW_AGG_ORACLE bit for bit."""
    import numpy as np

    pc = np.floor(price.to_numpy(dtype="float64") * 100 + 0.5).astype(
        np.int64
    )
    den = int(pc.sum())
    if not den:
        return float("nan")
    num = int((pc * pc).sum())
    # convert THEN divide (two roundings), matching DuckDB's
    # CAST(...AS DOUBLE)/CAST(...AS DOUBLE) — Python's exact int/int
    # division rounds once and can differ by 1 ULP above 2^53
    return float(np.floor(np.float64(num) / np.float64(den) + 0.5) / 100)


@register("udf_window_agg", oracle=_WINDOW_AGG_ORACLE)
def udf_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg Pandas UDF applied OVER a window frame — the
    seventh and last pandas-UDF surface (scalar, iterator, grouped
    agg, grouped map, cogrouped, mapInPandas/Arrow, window agg): a
    custom UDAF evaluated per running frame, something no built-in
    combination expresses when the aggregate itself is custom.

    Each ROW's frame ships to Python as its own Arrow batch, so cost
    is one UDF invocation per row (~12 s for 150k rows at sf0.1 vs
    ~0.1 s for the decomposed window) — strictly a last resort for
    aggregates that genuinely can't decompose into built-ins. This one
    can, which is exactly what makes the oracle checkable: the sum/sum
    SQL twin must agree to the cent.
    """
    li = t(spark, sf_dir, "orders")
    # One Python round-trip PER ROW means this demo tier must never see
    # production volume: fail fast with the scale path named (same
    # policy as dedup_embedding_cosine's all-pairs guard). Row count is
    # a cheap PROXY for what actually costs — the number of per-row
    # frames shipped to Python — read from the parquet footer (O(1),
    # no table scan) via stats.rows, the same path convention t()
    # scans, so the guard can't silently measure the wrong file.
    _PER_ROW_FRAME_MAX = 1_000_000
    n = stats.rows(sf_dir, "orders")
    if n > _PER_ROW_FRAME_MAX:
        raise ValueError(
            f"udf_window_agg ships one Arrow batch per ROW-frame and "
            f"refuses n={n} > {_PER_ROW_FRAME_MAX} rows. Use "
            f"udf_window_agg_fast (segmented-cumsum mapInPandas, one "
            f"call per batch) — same output, benched ~20x faster."
        )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the kernel does its own exact-cents rounding (see
    # _WINDOW_AGG_ORACLE note) — no outer float rounding to drift
    run = _wavg_run_cents("o_totalprice").over(w)
    return li.select("o_custkey", "o_orderkey", run.alias("w_run"))


def _running_wavg_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Segmented-cumsum kernel: ONE Python call per Arrow batch (not
    per row-frame, not per group). Requires input contiguous-grouped
    by o_custkey and ordered (o_orderdate, o_orderkey) within group —
    the Spark side guarantees it. Running sums for the group that
    straddles a batch boundary are carried across batches."""
    import numpy as np

    last_key, off_pp, off_p = None, np.int64(0), np.int64(0)
    for pdf in batches:
        n = len(pdf)
        if not n:
            continue
        keys = pdf["o_custkey"].to_numpy()
        p = pdf["o_totalprice"].to_numpy(dtype="float64")
        # Exact integer cents (see _WINDOW_AGG_ORACLE note). The batch-
        # global int64 cumsum of pc*pc may WRAP mod 2^64 — that is fine
        # and deliberate: the per-segment difference we actually use is
        # < 2^63, so modular subtraction recovers it exactly.
        pc = np.floor(p * 100 + 0.5).astype(np.int64)
        with np.errstate(over="ignore"):
            cpp, cp = np.cumsum(pc * pc), np.cumsum(pc)
            starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
            sizes = np.diff(np.r_[starts, n])
            zero = np.zeros(1, dtype=np.int64)
            base_pp = np.repeat(np.r_[zero, cpp[starts[1:] - 1]], sizes)
            base_p = np.repeat(np.r_[zero, cp[starts[1:] - 1]], sizes)
            seg_pp, seg_p = cpp - base_pp, cp - base_p
            if last_key is not None and keys[0] == last_key:
                n0 = starts[1] if len(starts) > 1 else n
                seg_pp[:n0] += off_pp
                seg_p[:n0] += off_p
        last_key = keys[-1]
        off_pp, off_p = np.int64(seg_pp[-1]), np.int64(seg_p[-1])
        w_run = (
            np.floor(seg_pp.astype("float64") / seg_p.astype("float64") + 0.5)
            / 100
        )
        yield pd.DataFrame(
            {
                "o_custkey": keys,
                "o_orderkey": pdf["o_orderkey"].to_numpy(),
                "w_run": w_run,
            }
        )


@register("udf_window_agg_fast", oracle=_WINDOW_AGG_ORACLE)
def udf_window_agg_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for `udf_window_agg`, same oracle: instead of
    shipping every row's frame to Python as its own Arrow batch (one
    UDF call per row — O(rows) Python entries, O(rows²) bytes crossing
    Arrow for unbounded frames), hash-partition on the window key, sort
    within partitions, and stream batches through `mapInPandas` with a
    vectorized segmented cumsum + cross-batch carry. Python entries
    drop to O(rows / arrow_batch_size); bytes to O(rows).

    Per-group `applyInPandas` was measured and rejected for this op:
    with ~15k tiny customer groups the per-group kernel/pandas overhead
    made it SLOWER than the per-frame surface (13.8 s vs 10.5 s at
    sf0.1). The batch-streaming form is the 100 TB shape: one shuffle
    (same as the native window), a partition-local sort, then a linear
    numpy pass — no per-group Python re-entry, no group-size memory
    bound beyond one Arrow batch."""
    o = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    return (
        o.repartition("o_custkey")
        .sortWithinPartitions("o_custkey", "o_orderdate", "o_orderkey")
        .mapInPandas(
            _running_wavg_batches,
            schema="o_custkey long, o_orderkey long, w_run double",
        )
    )


# Deterministic "model": w[j] = ((7*j + 3) % 11 - 5) / 10, b = 0.25 —
# affine in j so the oracle regenerates the identical weights in SQL.
_SCORE_DIM = 64
_SCORE_BIAS = 0.25


def _score_weights():
    import numpy as np

    j = np.arange(_SCORE_DIM, dtype=np.int64)
    return ((7 * j + 3) % 11 - 5) / 10.0


@register(
    "udf_model_score",
    oracle=f"""
    SELECT vec_id,
           floor(1.0 / (1.0 + exp(-(
               list_dot_product(
                   CAST(embedding AS DOUBLE[]),
                   list_transform(range(0, {_SCORE_DIM}),
                                  j -> CAST((7*j + 3) % 11 - 5 AS DOUBLE)
                                       / 10.0))
               + {_SCORE_BIAS}))) * 1000000 + 0.5) / 1000000 AS score
    FROM embeddings
    """,
)
def udf_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched model inference over an embedding column: a logistic
    scorer evaluated as ONE numpy matmul per Arrow batch inside an
    iterator Pandas UDF — the exact shape of running a distilled
    classifier/reward model over a 100 TB corpus (weights broadcast by
    closure, batch-level vectorization, zero per-row Python).

    The iterator form amortizes weight setup once per PARTITION (real
    models pay model-load here, not per batch); the oracle replays the
    same linear+sigmoid arithmetic in SQL, so the Arrow round trip is
    value-hash-checked.
    """
    import numpy as np

    w = _score_weights()

    @F.pandas_udf(DoubleType())
    def score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for emb in batches:
            x = np.stack(emb.to_numpy()).astype(np.float64)
            z = x @ w + _SCORE_BIAS
            s = 1.0 / (1.0 + np.exp(-z))
            yield pd.Series(np.floor(s * 1e6 + 0.5) / 1e6)

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.select("vec_id", score(F.col("embedding")).alias("score"))


@register(
    "udf_grouped_train",
    oracle=f"""
    WITH s AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(x * x) AS HUGEINT) AS sxx,
               CAST(sum(x * y) AS HUGEINT) AS sxy
        FROM (SELECT o_orderpriority,
                     datediff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS x,
                     CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
              FROM orders)
        GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           floor(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000 + 0.5)
               / 1000000 AS slope_cents_per_day
    FROM s
    """,
)
def udf_grouped_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group model TRAINING via `applyInPandas`: each priority
    class's price-trend model is fit inside one Python call over that
    group's Arrow batch — the map side of any per-entity model fleet
    (per-store forecaster, per-user personalization, federated fit).

    The kernel accumulates the same exact integer sufficient sums as
    the native twin (`agg_regression`), so the UDF path is
    value-hash-checked against pure SQL — the repo's
    self-differential discipline applied to a training loop. Groups
    train in parallel across executors; cost is bounded by the
    largest group, the real constraint to know before sharding a
    100 TB fit."""
    import numpy as np

    o = t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderdate", "o_totalprice"
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x = (
            (pdf["o_orderdate"].values.astype("datetime64[D]")
             - np.datetime64("1995-01-01", "D"))
            .astype(np.int64)
        )
        y = np.floor(pdf["o_totalprice"].to_numpy() * 100 + 0.5).astype(
            np.int64
        )
        n = len(pdf)
        sx, sy = int(x.sum()), int(y.sum())
        sxx, sxy = int((x * x).sum()), int((x * y).sum())
        slope = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
        return pd.DataFrame(
            {
                "o_orderpriority": [pdf["o_orderpriority"].iloc[0]],
                "n": [n],
                "slope_cents_per_day": [
                    float(np.floor(slope * 1e6 + 0.5) / 1e6)
                ],
            }
        )

    # Explicit hash repartition on the group key: AQE otherwise
    # coalesces the grouping exchange to one partition (5 compact
    # groups) and every class trains serially in a single task
    # (tools/stage_audit.py: 1.8s at sf0.1). User repartitions are
    # exempt from coalescing and satisfy the required distribution.
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        o.repartition(npart, "o_orderpriority")
        .groupBy("o_orderpriority")
        .applyInPandas(
            fit,
            schema="o_orderpriority string, n long, slope_cents_per_day double",
        )
    )
