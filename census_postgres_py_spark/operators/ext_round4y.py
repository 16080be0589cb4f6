"""Round-4y extension operators (SURVEY.md §2.39).

Momentum, feature-hashing and lifecycle-state reads: the RSI
oscillator (rolling gain/loss ratio — exact as a rational over
integer sums), the hashing trick (token → signed bucket features,
the fixed-width vectorizer that needs no vocabulary), and monthly
dormancy states (new / retained / reactivated — the lifecycle
machine behind every retention deck).

Contract discipline identical to the other extension modules: RSI
is 100·Σgain/(Σgain+Σloss) over exact windowed integer sums (no
float smoothing), bucket/sign hashes derive from md5 hex digits
(bit-identical on both engines), and the state classification is
pure integer month arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

_D38 = "decimal(38,0)"
_N_BUCKETS = 64


# ---------------------------------------------------------------------------
# win_rsi — relative strength index over daily revenue
# ---------------------------------------------------------------------------


@register(
    "win_rsi",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               date_trunc('day', ts) AS d,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ), deltas AS (
        SELECT event_type, d,
               cents - lag(cents) OVER (
                   PARTITION BY event_type ORDER BY d) AS delta
        FROM daily
    ), gl AS (
        SELECT event_type, d,
               CASE WHEN delta > 0 THEN delta ELSE 0 END AS gain,
               CASE WHEN delta < 0 THEN -delta ELSE 0 END AS loss
        FROM deltas WHERE delta IS NOT NULL
    ), roll AS (
        SELECT event_type, d,
               CAST(sum(gain) OVER w AS HUGEINT) AS sg,
               CAST(sum(loss) OVER w AS HUGEINT) AS sl,
               CAST(count(*) OVER w AS BIGINT) AS n
        FROM gl
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, epoch_ms(CAST(d AS TIMESTAMP)) AS day_ms, n,
           CASE WHEN sg + sl > 0 THEN
               floor(100.0 * CAST(sg AS DOUBLE)
                     / (CAST(sg AS DOUBLE) + CAST(sl AS DOUBLE))
                     * 10000 + 0.5) / 10000
           END AS rsi
    FROM roll
    """,
)
def win_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day RSI of each type's daily revenue — the momentum
    oscillator (RSI = 100·Σgain/(Σgain+Σloss) over the Cutler
    simple-average form, which unlike Wilder's recursive smoothing
    is windowable and EXACT: both rolling sums are integers).

    Reduce-before-window throughout: daily frame first, one lag for
    deltas, one rows-frame pass carrying (Σgain, Σloss, n). The only
    float is the final rendered ratio (1e-4, i.e. basis points).
    Flat windows (all deltas zero) render NULL rather than a fake
    50 — the honest "no signal" answer.
    """
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").alias("d"),
        )
        .agg(
            F.sum(half_up(F.col("value") * 100)).cast("long").alias("cents")
        )
    )
    w_lag = Window.partitionBy("event_type").orderBy("d")
    deltas = daily.select(
        "event_type",
        "d",
        (F.col("cents") - F.lag("cents").over(w_lag)).alias("delta"),
    ).filter(F.col("delta").isNotNull())
    gl = deltas.select(
        "event_type",
        "d",
        F.when(F.col("delta") > 0, F.col("delta")).otherwise(0).alias(
            "gain"
        ),
        F.when(F.col("delta") < 0, -F.col("delta")).otherwise(0).alias(
            "loss"
        ),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-13, 0)
    )
    roll = gl.select(
        "event_type",
        "d",
        F.sum(F.col("gain").cast(_D38)).over(w).alias("sg"),
        F.sum(F.col("loss").cast(_D38)).over(w).alias("sl"),
        F.count("*").over(w).cast("long").alias("n"),
    )
    sg = F.col("sg").cast("double")
    sl = F.col("sl").cast("double")
    return roll.select(
        "event_type",
        F.unix_millis(F.col("d")).alias("day_ms"),
        "n",
        F.when(
            (F.col("sg") + F.col("sl")) > 0,
            round_dp(100.0 * sg / (sg + sl), 4),
        ).alias("rsi"),
    )


# ---------------------------------------------------------------------------
# text_feature_hashing — the hashing trick, vocabulary-free vectorizer
# ---------------------------------------------------------------------------


@register(
    "text_feature_hashing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS term
        FROM documents
    ), hashed AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(term), 1, 8)) AS BIGINT)
                   % {_N_BUCKETS} AS bucket,
               CASE WHEN CAST(('0x' || substring(md5(term), 9, 1))
                         AS BIGINT) % 2 = 0
                    THEN 1 ELSE -1 END AS sign
        FROM toks
    )
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CAST(sum(sign) AS BIGINT) AS weight
    FROM hashed GROUP BY doc_id, bucket
    HAVING sum(sign) <> 0
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: every token maps to one of 64 buckets via
    md5, with a second md5 digit supplying the ± sign that keeps
    collisions unbiased (Weinberger et al.) — the vocabulary-free
    vectorizer that gives a FIXED feature width at any corpus size,
    which is exactly why streaming/100 TB featurizers use it.

    Token → (bucket, sign) is a codegen'd projection (md5 + hex
    slice + mod — no vocabulary table, no fit step, no shuffle);
    the sparse feature weights are one combinable aggregation.
    Zero-sum cells drop on both engines (true sparse semantics).
    """
    toks = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.col("text"), " "), lambda x: x != ""
            )
        ).alias("term"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10)
        .cast("long")
        % _N_BUCKETS
    )
    sign = F.when(
        F.conv(F.substring(F.md5(F.col("term")), 9, 1), 16, 10)
        .cast("long")
        % 2
        == 0,
        1,
    ).otherwise(-1)
    hashed = toks.select(
        "doc_id", bucket.alias("bucket"), sign.alias("sign")
    )
    return (
        hashed.groupBy("doc_id", "bucket")
        .agg(F.sum("sign").cast("long").alias("weight"))
        .filter(F.col("weight") != 0)
    )


# ---------------------------------------------------------------------------
# agg_dormancy_states — monthly new / retained / reactivated counts
# ---------------------------------------------------------------------------


@register(
    "agg_dormancy_states",
    oracle="""
    WITH cm AS (
        SELECT DISTINCT o_custkey AS cust,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                    AS BIGINT) AS m
        FROM orders
    ), lagged AS (
        SELECT cust, m,
               lag(m) OVER (PARTITION BY cust ORDER BY m) AS prev_m
        FROM cm
    ), st AS (
        SELECT m,
               CASE WHEN prev_m IS NULL THEN 'new'
                    WHEN m - prev_m = 1 THEN 'retained'
                    WHEN m - prev_m >= 2 THEN 'reactivated'
               END AS state
        FROM lagged
    )
    SELECT m AS month_index, state,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM st GROUP BY m, state
    """,
)
def agg_dormancy_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly customer lifecycle states: first-ever month = new,
    consecutive month = retained, return after a gap ≥ 2 months =
    reactivated — the dormancy machine behind "how much of this
    month's activity is win-back".

    The order log reduces to DISTINCT (customer, month-index) first
    (month-index = y·12+m−1, pure integer); ONE lag window
    partitioned by customer over that reduced frame classifies every
    active month; the report is a combinable rollup. At 100 TB the
    window input is customers × active-months, partitioned per
    customer — frames of a few dozen rows.
    """
    cm = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("cust"),
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
            )
            .cast("long")
            .alias("m"),
        )
        .distinct()
    )
    w = Window.partitionBy("cust").orderBy("m")
    lagged = cm.select(
        "m", F.lag("m").over(w).alias("prev_m")
    )
    st = lagged.select(
        "m",
        F.when(F.col("prev_m").isNull(), "new")
        .when(F.col("m") - F.col("prev_m") == 1, "retained")
        .otherwise("reactivated")
        .alias("state"),
    )
    return st.groupBy(
        F.col("m").alias("month_index"), "state"
    ).agg(F.count("*").cast("long").alias("n_customers"))
