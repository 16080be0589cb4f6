"""Join operators (SURVEY.md §2.3).

The reference's only joins are the geoheader ⋈ estimates ⋈ margins
equi-joins that assemble per-ACS-table outputs [PK — SURVEY.md §1.1].
Spark-first re-expression: geoheader-sized dims are *broadcast* (no
shuffle of the fact side), the fact⋈fact joins shuffle on their keys
and AQE handles skew; the extension joins (semi/anti/range/as-of/
similarity) are compositions of built-in operators chosen for their
100 TB shuffle behavior — notes per operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from census_postgres_py_spark.functions.rounding import round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import gated_broadcast, read_back, t


@register(
    "join_inner_hash",
    oracle="""
    SELECT o_orderkey, c_custkey, c_mktsegment, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join (estimates ⋈ margins on (stusab, logrecno, seq)
    in the reference [PK]). Catalyst picks broadcast/SMJ/shuffled-hash
    by size; at 100 TB both sides shuffle-partition on the key and AQE
    splits skewed partitions."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_custkey", "c_mktsegment", "o_totalprice"
    )


@register(
    "join_broadcast",
    oracle="""
    SELECT p_brand,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-dim broadcast join (geoheader is tiny vs sequence files
    [PK]). `broadcast()` pins the dim to every executor: the 100 TB
    fact side never shuffles for this join."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(gated_broadcast(spark, sf_dir, "part", p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "join_multiway_star",
    oracle="""
    SELECT r_name,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY r_name, o_year
    """,
)
def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: 3+-table star join — revenue per region per year.

    The reference's geo ⋈ e ⋈ m assembly generalized [PK]. Plan shape
    at scale: lineitem⋈orders shuffles on orderkey (the only big⋈big
    edge), then orders-side dims collapse to broadcasts (customer is
    1e-4 of lineitem; nation/region are constants) — one shuffle total
    plus the agg exchange. The o_orderdate filter prunes before the
    shuffle.
    """
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(gated_broadcast(spark, sf_dir, "customer", c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c_custkey,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           round(coalesce(sum(o_totalprice), 0.0), 2) AS spent
    FROM customer
    LEFT JOIN (SELECT * FROM orders
               WHERE o_orderdate < TIMESTAMP '1996-01-01') o
           ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping unmatched keys (geographies with no
    estimate rows survive the reference's assembly [PK?])."""
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("spent"),
        )
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders
                        WHERE o_orderstatus = 'F')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence filter as left-semi join: no row duplication, right
    side reduced to distinct keys during the shuffle."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-existence filter as left-anti join.

    Restricted to 'F'-status orders so the result is non-empty in the
    fixture (every customer has SOME order — an unrestricted anti-join
    returns 0 rows and proves nothing)."""
    c = t(spark, sf_dir, "customer")
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_theta_range",
    oracle="""
    SELECT p.p_size,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(abs(p.p_retailprice - q.p_retailprice)), 2)
               AS avg_price_gap
    FROM part p
    JOIN part q
      ON q.p_size BETWEEN p.p_size - 1 AND p.p_size + 1
     AND p.p_partkey < q.p_partkey
    GROUP BY p.p_size
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (range) join WITHOUT the O(n²) nested-loop plan.

    A naive `ON q.size BETWEEN p.size-1 AND p.size+1` is a broadcast
    nested-loop join — quadratic, dead at scale. Because the band is
    bounded (±1 on an integer key), we expand the left side into its 3
    candidate keys with `explode` and run a plain shuffled EQUI join —
    linear in input, shuffle-partitioned on the band key. This is the
    standard interval-bucketing rewrite for fixed-width band joins.
    """
    p = t(spark, sf_dir, "part").select("p_partkey", "p_size", "p_retailprice")
    q = p.select(
        F.col("p_partkey").alias("q_partkey"),
        F.col("p_size").alias("q_size"),
        F.col("p_retailprice").alias("q_retailprice"),
    )
    expanded = p.withColumn(
        "cand_size",
        F.explode(
            F.array(F.col("p_size") - 1, F.col("p_size"), F.col("p_size") + 1)
        ),
    )
    pairs = expanded.join(q, expanded.cand_size == q.q_size).filter(
        F.col("p_partkey") < F.col("q_partkey")
    )
    return pairs.groupBy("p_size").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg(F.abs(F.col("p_retailprice") - F.col("q_retailprice"))), 2).alias(
            "avg_price_gap"
        ),
    )


@register(
    "join_asof",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_id, value, 1 AS is_probe
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT user_id, ts, event_id, value, 0 AS is_probe
        FROM events WHERE event_type = 'view'
    ), merged AS (
        SELECT user_id, ts, event_id, is_probe,
               max(CASE WHEN is_probe = 0 THEN epoch_ms(ts) END)
                   OVER (PARTITION BY user_id
                         ORDER BY ts, is_probe
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS prior_view_ms
        FROM tagged
    )
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, prior_view_ms
    FROM merged WHERE is_probe = 1
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each 'purchase' matched to the user's latest
    prior-or-equal 'view' (SURVEY.md §2.3 join_asof).

    Spark has no native ASOF JOIN; the scalable idiom is the
    union-merge: tag both sides, sort within user by (ts, tag) — one
    shuffle, one sort, NO join — and carry the most recent right-side
    timestamp forward with a running `max` window. Equivalent to
    `pd.merge_asof` per user but fully distributed; skew is bounded by
    per-user event counts. Timestamps exported as epoch-millis (ns
    parquet source; Spark stores µs — see registry notes).
    """
    ev = t(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("is_probe")
    )
    quotes = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", F.lit(0).alias("is_probe")
    )
    tagged = probes.unionByName(quotes)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = tagged.withColumn(
        "prior_view_ms",
        F.max(
            F.when(F.col("is_probe") == 0, F.unix_millis(F.col("ts")))
        ).over(w),
    )
    return merged.filter(F.col("is_probe") == 1).select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        "prior_view_ms",
    )


@register(
    "join_copartitioned",
    oracle="""
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(max(c_acctbal), 2) AS acctbal
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY o_custkey
    """,
)
def join_copartitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-reuse co-located join: both sides are explicitly hash-
    partitioned on their join key (one exchange each), and every
    downstream key-aligned operator — the SortMergeJoin AND the
    groupBy on the same key — reuses that partitioning with ZERO
    additional exchanges (pinned by tests/test_plans.py).

    This is the 100 TB "shuffle once, consume many" pattern: on a
    real cluster the two repartitions are replaced by bucketed table
    layouts written at ingest, and the join + any same-key
    aggregation run shuffle-free. The merge hint pins SMJ so the
    demonstration doesn't degrade to a broadcast (which would hide
    the partitioning-reuse property this operator exists to show).
    """
    o = t(spark, sf_dir, "orders").repartition(32, "o_custkey")
    c = t(spark, sf_dir, "customer").repartition(32, "c_custkey")
    j = o.hint("merge").join(c, o.o_custkey == c.c_custkey)
    return j.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(F.max("c_acctbal"), 2).alias("acctbal"),
    )


@register(
    "join_skew_salted",
    oracle="""
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
           floor(sum(o_totalprice) * 100 + 0.5) / 100 AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join — the manual fix for hot keys that AQE's
    skew splitting can't always save (it splits partitions, not a
    single giant key).

    The fact side gets a salt in [0, 16) hashed from its own row id;
    the dimension side is exploded 16x so every (key, salt) pair
    exists. The join key becomes (custkey, salt), spreading one hot
    customer over 16 reducers; result is provably identical to the
    unsalted join (the oracle IS the unsalted join). Cost: 16x the
    dim shuffle volume — cheap when dim << fact, which is the only
    time you salt. Salt count would be tuned to (hot-key rows /
    target-partition rows) at 100 TB.
    """
    n_salt = 16
    orders = t(spark, sf_dir, "orders").withColumn(
        "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(n_salt))
    )
    cust = (
        t(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn(
            "salt",
            F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)).cast("array<long>")),
        )
    )
    # hint a shuffle-hash join: if Catalyst broadcast the dim there
    # would be no reduce-side skew to fix and the salt would be dead
    # weight (a plan test pins this)
    joined = orders.join(
        cust.hint("shuffle_hash"),
        (F.col("o_custkey") == F.col("c_custkey"))
        & (orders["salt"] == cust["salt"]),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n"),
        round_dp(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "join_null_safe",
    oracle="""
    WITH l AS (
        SELECT c_custkey, nullif(c_nationkey, 3) AS nk FROM customer
    ), r AS (
        SELECT nullif(n_nationkey, 3) AS nk, n_name FROM nation
    )
    SELECT c_custkey, n_name
    FROM l JOIN r ON l.nk IS NOT DISTINCT FROM r.nk
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of silently dropping — the semantics a
    load pipeline needs when "unknown" is a real join category (the
    reference jams sentinel values to NULL on load; joining those rows
    back up requires null-safety or they vanish).

    NULLs are introduced via nullif on one nation key, so exactly the
    rows an inner join would lose are the ones this operator must
    keep. `eqNullSafe` stays a hash-relation key (null-safe equality
    is still an equi-join — no fallback to nested-loop), so the plan
    is the same broadcast/shuffled hash join at any scale.
    """
    left = t(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_nationkey"), F.lit(3)).alias("nk")
    )
    right = t(spark, sf_dir, "nation").select(
        F.nullif(F.col("n_nationkey"), F.lit(3)).alias("rnk"),
        "n_name",
    )
    return (
        left.join(F.broadcast(right), left["nk"].eqNullSafe(right["rnk"]))
        .select("c_custkey", "n_name")
    )


@register(
    "join_partition_pruned",
    oracle="""
    WITH d(dim_year, label) AS (VALUES (1996, 'y96'), (1997, 'y97'))
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
    FROM orders JOIN d ON year(o_orderdate) = dim_year
    GROUP BY label
    """,
)
def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP): a fact table PARTITIONED on
    year joined to a dim filtered to 2 of 7 years — the fact scan must
    read only the 2 matching partition directories, with the pruning
    values discovered from the dim AT RUNTIME (no literal year
    predicate anywhere on the fact side).

    This is the flagship 100 TB scan-avoidance pattern: a date-
    partitioned fact at scale is pruned by whatever dimension the
    query filters on, turning a full scan into a 2/7 scan. The
    executed plan carries ``dynamicpruningexpression(o_year IN
    dynamicpruning#...)`` in the fact's PartitionFilters —
    tests/test_plans.py pins exactly that. The partitioned copy is
    written once per fixture (``scratch.cached``), standing in for the
    already-partitioned fact a warehouse would own.
    """
    from census_postgres_py_spark import scratch

    by_year = t(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    fact_dir = scratch.cached(
        "orders_dpp",
        sf_dir,
        lambda d: by_year.write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(d),
        "orders",
    )
    fact = read_back(spark, by_year.schema, fact_dir)
    years = spark.createDataFrame(
        [(y, f"y{y % 100}") for y in range(1995, 2002)],
        "dim_year int, label string",
    )
    dim = years.filter(F.col("label").isin("y96", "y97"))
    return (
        fact.join(F.broadcast(dim), fact["o_year"] == dim["dim_year"])
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n"),
            round_dp(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


_BLOOM_M = 1 << 17  # bit-space; 2048-word bitmask = 16 KB broadcast
_BLOOM_K = 3
_BLOOM_WORDS = _BLOOM_M // 64


@register(
    "join_bloom_prefilter",
    oracle="""
    SELECT l.l_orderkey, o.o_totalprice,
           CAST(sum(l.l_quantity) AS BIGINT) AS sum_qty,
           floor(sum(l.l_extendedprice) * 100 + 0.5) / 100 AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 480000
    GROUP BY 1, 2
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction: probe a compact filter built
    from the selective dim side BEFORE shuffling the fact side.

    The pattern Spark's own runtime bloom filter (and Trino's dynamic
    filtering) applies under the hood, built here from public
    primitives so the reduction is explicit and plan-visible: the
    qualifying orders hash to k=3 positions in a 128K bit-space
    (`xxhash64(key, seed) mod m`), the bits are OR-folded into a dense
    2048-word LONG array (16 KB) built with one tiny aggregation, and
    the lineitem scan keeps only rows whose k bits are all set —
    `element_at` + `getbit`, O(1) per probe, codegen'd, no shuffle.
    (A sorted-position array with `array_contains` is the obvious
    first cut, but its linear scan made the probe O(|bloom|) per row —
    10x slower at sf0.1; the bitmask is what real blooms are.) The
    exact broadcast join afterwards removes bloom false positives, so
    the result equals the plain join (the oracle) while the fact rows
    reaching the join drop ~25x. At real scale m is sized from the
    dim-side cardinality estimate, exactly as Spark's own
    runtime-bloom rule sizes its filter. At 100 TB this is the
    difference between shuffling 4% of a scan and all of it.
    """
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    dim = orders.filter(F.col("o_totalprice") > 480000).select(
        "o_orderkey", "o_totalprice"
    )

    def positions(key: str):
        return [
            F.pmod(F.xxhash64(F.col(key), F.lit(s)), F.lit(_BLOOM_M))
            for s in range(_BLOOM_K)
        ]

    # position -> (word, bit); OR-fold per word; densify to a fixed
    # word-indexed array so the probe can address it in O(1)
    words = (
        dim.select(F.explode(F.array(*positions("o_orderkey"))).alias("p"))
        .select(
            (F.col("p") / 64).cast("long").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )
    bloom = (
        spark.range(_BLOOM_WORDS)
        .withColumnRenamed("id", "w")
        .join(words, "w", "left")
        .select("w", F.coalesce("bits", F.lit(0).cast("long")).alias("bits"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("w", "bits"))),
                lambda s: s["bits"],
            ).alias("bloom")
        )
    )

    probe = F.lit(True)
    for expr in positions("l_orderkey"):
        probe = probe & (
            F.getbit(
                F.element_at(F.col("bloom"), (expr / 64).cast("int") + 1),
                (expr % 64).cast("int"),
            )
            == 1
        )
    pre = (
        li.select("l_orderkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(bloom))
        .filter(probe)
        .drop("bloom")
    )
    return (
        pre.join(
            gated_broadcast(spark, sf_dir, "orders", dim),
            pre["l_orderkey"] == dim["o_orderkey"],
        )
        .groupBy("l_orderkey", "o_totalprice")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            round_dp(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


@register(
    "join_lateral_topk",
    oracle="""
    SELECT n.n_name, c.c_custkey, c.c_acctbal
    FROM nation n, LATERAL (
        SELECT c_custkey, c_acctbal FROM customer
        WHERE c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 2
    ) c
    """,
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — "for each nation, its top-2
    customers by balance" written the way an analyst writes it. Spark
    SQL supports LATERAL since 3.2; Catalyst DECORRELATES it into the
    same shuffle + ranked-window plan win_topk_group builds by hand,
    so the declarative form costs nothing extra at scale — the point
    of expressing per-row subqueries declaratively instead of
    driver-side loops. Total tiebreak (c_custkey) keeps the top-2
    deterministic.
    """
    from census_postgres_py_spark.tables import register_views

    register_views(spark, sf_dir, ["nation", "customer"])
    return spark.sql(
        """
        SELECT n.n_name, c.c_custkey, c.c_acctbal
        FROM nation n, LATERAL (
            SELECT c_custkey, c_acctbal FROM customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 2
        ) c
        """
    )


_IV_BIN_DAYS = 32  # bin width >= max interval span (24 days) => <=2 bins


@register(
    "join_interval_bin",
    oracle="""
    WITH iv AS (
        SELECT o_custkey, o_orderkey,
               datediff('day', DATE '1992-01-01',
                        CAST(o_orderdate AS DATE)) AS s,
               datediff('day', DATE '1992-01-01',
                        CAST(o_orderdate AS DATE))
                   + (o_orderkey % 20) + 5 AS e
        FROM orders
    )
    SELECT a.o_custkey,
           a.o_orderkey AS a_key, b.o_orderkey AS b_key,
           least(a.e, b.e) - greatest(a.s, b.s) + 1 AS overlap_days
    FROM iv a JOIN iv b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
     AND a.s <= b.e AND b.s <= a.e
    """,
)
def join_interval_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join via time-bin blocking (range-join
    optimization): each order's activity window [orderdate,
    orderdate + 5..24d] explodes to the <=2 32-day bins it spans, pairs
    equi-join on (custkey, bin), duplicates from bin-straddling pairs
    collapse with distinct, and only then does the exact overlap
    predicate run.

    The plain formulation (oracle) is an equi-join on custkey with a
    THETA residual — per-key cost is quadratic in key size, which at
    100 TB means a hot key with 10^5 intervals does 10^10 comparisons.
    Binning bounds candidates to time-ADJACENT pairs per key: cost
    follows actual temporal density, the classic range-join binning
    strategy. Bin width is chosen >= max span so any overlapping pair
    shares at least one bin (no recall loss — provable, and pinned
    against the brute-force oracle).
    """
    o = t(spark, sf_dir, "orders")
    iv = o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).alias("s"),
    ).withColumn("e", F.col("s") + (F.col("o_orderkey") % 20) + 5)
    binned = iv.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / _IV_BIN_DAYS),
                F.floor(F.col("e") / _IV_BIN_DAYS),
            )
        ),
    )
    a = binned.select(
        F.col("o_custkey"),
        F.col("o_orderkey").alias("a_key"),
        F.col("s").alias("a_s"),
        F.col("e").alias("a_e"),
        "bin",
    )
    b = binned.select(
        F.col("o_custkey"),
        F.col("o_orderkey").alias("b_key"),
        F.col("s").alias("b_s"),
        F.col("e").alias("b_e"),
        "bin",
    )
    pairs = (
        a.join(b, ["o_custkey", "bin"])
        .filter(F.col("a_key") < F.col("b_key"))
        .filter((F.col("a_s") <= F.col("b_e")) & (F.col("b_s") <= F.col("a_e")))
        .select("o_custkey", "a_key", "b_key", "a_s", "a_e", "b_s", "b_e")
        .distinct()
    )
    return pairs.select(
        "o_custkey",
        "a_key",
        "b_key",
        (
            F.least("a_e", "b_e") - F.greatest("a_s", "b_s") + 1
        ).alias("overlap_days"),
    )


@register(
    "join_nearest_event",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_id, 1 AS is_probe
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT user_id, ts, event_id, 0 AS is_probe
        FROM events WHERE event_type = 'view'
    ), merged AS (
        SELECT user_id, ts, event_id, is_probe,
               max(CASE WHEN is_probe = 0 THEN epoch_ms(ts) END)
                   OVER (PARTITION BY user_id ORDER BY ts, is_probe
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS prior_ms,
               min(CASE WHEN is_probe = 0 THEN epoch_ms(ts) END)
                   OVER (PARTITION BY user_id ORDER BY ts, is_probe
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS next_ms
        FROM tagged
    )
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
           CASE WHEN prior_ms IS NULL THEN next_ms
                WHEN next_ms IS NULL THEN prior_ms
                WHEN epoch_ms(ts) - prior_ms <= next_ms - epoch_ms(ts)
                     THEN prior_ms ELSE next_ms END AS nearest_view_ms
    FROM merged WHERE is_probe = 1
    """,
)
def join_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional nearest-neighbor time join: each purchase matched
    to the CLOSEST view by the same user in either direction (ties
    break backward) — what join_asof can't answer when context can
    arrive just after the anchor event.

    Same union-merge shape as join_asof — one shuffle, one sort, NO
    join — but two running extremes over the same sorted frame: a
    backward running max and a forward running min of the view
    timestamp. Window frames in both directions reuse one sort order,
    so the bidirectional variant costs the same single pass as the
    backward-only one.
    """
    ev = t(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("is_probe")
    )
    quotes = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", F.lit(0).alias("is_probe")
    )
    tagged = probes.unionByName(quotes)
    view_ms = F.when(F.col("is_probe") == 0, F.unix_millis(F.col("ts")))
    back = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    merged = tagged.withColumn("prior_ms", F.max(view_ms).over(back)).withColumn(
        "next_ms", F.min(view_ms).over(fwd)
    )
    ts_ms = F.unix_millis("ts")
    nearest = (
        F.when(F.col("prior_ms").isNull(), F.col("next_ms"))
        .when(F.col("next_ms").isNull(), F.col("prior_ms"))
        .when(
            ts_ms - F.col("prior_ms") <= F.col("next_ms") - ts_ms,
            F.col("prior_ms"),
        )
        .otherwise(F.col("next_ms"))
    )
    return merged.filter(F.col("is_probe") == 1).select(
        "event_id",
        "user_id",
        ts_ms.alias("ts_ms"),
        nearest.alias("nearest_view_ms"),
    )
