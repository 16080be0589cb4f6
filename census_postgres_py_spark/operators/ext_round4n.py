"""Round-4n extension operators (SURVEY.md §2.28).

Graph-shaped reads over relational data: recursive hierarchy
flattening (the WITH RECURSIVE workload — org charts, BOM explosions,
account rollups — expressed as Spark's bounded iterative join),
triangle counting on the co-purchase graph (the clustering-coefficient
numerator behind community detection), and the degree histogram (the
first diagnostic anyone runs on a graph before choosing partitioning).

Contract discipline identical to the other extension modules. The
hierarchy here is derived deterministically from data (parent(c) =
c div 10 over custkey), so both engines build the identical DAG with
no fixture changes.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from census_postgres_py_spark import stats
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

# graph_triangle_count broadcasts the out-adjacency table (|E| total
# array elements) to both sides of the edge join — a win while E fits
# comfortably in executor memory, a cluster-killer past it. The gate
# bounds |E| EXACTLY by Σ_baskets C(k,2) (shape-independent — the r7
# footer heuristic 3·|lineitem| under-counted for baskets >7 lines) and
# falls back to plain shuffled hash joins on the node key above the
# cap. ~48 M estimated edges; at ~16 B/element that bounds the
# broadcast near 800 MB.
_ADJ_BROADCAST_MAX_EDGES = 48_000_000

# Degree-orientation gate for graph_triangle_count (r10). Probing the
# degree distribution costs one lineitem scan + a part-keyed count, so
# it only runs past a footer-answered row floor; the orientation flips
# on when the max/mean part-occurrence ratio proves a power-law hub
# (uniform corpora sit near 1, the zipf(1.1) stress corpus at ~1e5).
_DEG_ORIENT_MIN_ROWS = 4_000_000
_DEG_ORIENT_SKEW_RATIO = 32.0


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """child→parent edges of the derived customer hierarchy."""
    return (
        t(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("child"),
            F.expr("c_custkey div 10").cast("long").alias("parent"),
        )
        .filter(F.col("parent") >= 1)
    )


@register(
    "hier_flatten",
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT c_custkey AS child,
               CAST(c_custkey // 10 AS BIGINT) AS parent
        FROM customer WHERE c_custkey // 10 >= 1
    ), cl AS (
        SELECT parent AS anc, child AS des, 1 AS depth FROM edges
        UNION ALL
        SELECT e.parent, cl.des, cl.depth + 1
        FROM cl JOIN edges e ON cl.anc = e.child
    )
    SELECT anc, des, CAST(depth AS INTEGER) AS depth FROM cl
    """,
)
def hier_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the customer hierarchy — every
    (ancestor, descendant, depth) pair, the flattened bridge table a
    warehouse builds from any WITH RECURSIVE hierarchy (org rollups,
    BOM explosion, account trees).

    Spark has no recursive CTE; the closure is the standard bounded
    iterative join — each pass extends every path by one parent hop,
    so pass k yields exactly the depth-(k+1) paths (≤19 passes for ANY
    int64 key space — the unroll bound is log10 of the key domain, not
    data size). Each hop is an equi-join on the hop key: at 100 TB
    that's a hash-partitioned shuffle per level, with the frontier
    shrinking ~10× per hop, and AQE re-sizes each round's partitions.

    UNROLL BOUND (r12): depth-k pairs need a descendant ≥ 10^k (parent
    = child div 10, anc ≥ 1), so the exact level count is
    ⌊log10(max c_custkey)⌋ — read off the parquet footer stats
    (:func:`stats.key_range`, which scans once per file version only
    when a writer left no statistics). The r11 loop probed
    `frontier.isEmpty()` after every hop instead: each probe was a
    full JOB re-running the whole k-join chain from scratch (O(d²)
    joins of driver-blocking build-time work — 14 build jobs at
    sf0.1), after which the final union re-ran all of them again.
    With the bound known up front nothing executes until the caller's
    one action, and ReusedExchange serves the shared chain prefixes.
    Interleaved A/B at sf0.1, 5 pairs: 1.13 → 0.47 s warm-min,
    identical 48,890-row output.
    """
    return reduce(DataFrame.unionAll, _closure_levels(spark, sf_dir))


def _closure_levels(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """Per-depth frames of the customer-hierarchy transitive closure
    (level k = (anc, des, depth=k)); shared by hier_flatten and
    hier_rollup_spend. Unroll bound documented in hier_flatten's
    docstring."""
    edges = _edges(spark, sf_dir)
    up = edges.select(
        F.col("child").alias("hop"), F.col("parent").alias("up_parent")
    )
    levels = [
        edges.select(
            F.col("parent").alias("anc"),
            F.col("child").alias("des"),
            F.lit(1).cast("int").alias("depth"),
        )
    ]
    _, max_key = stats.key_range(spark, sf_dir, "customer", "c_custkey")
    frontier = levels[0]
    # levels 1..⌊log10(max key)⌋: depth-k pairs need des ≥ 10^k, so
    # len(str(max_key)) - 2 extra hops past level 1
    for _ in range(len(str(max_key)) - 2):
        frontier = (
            frontier.join(up, frontier["anc"] == up["hop"])
            .select(
                F.col("up_parent").alias("anc"),
                "des",
                (F.col("depth") + 1).cast("int").alias("depth"),
            )
        )
        levels.append(frontier)
    return levels


def _partkeys_fit_int32(spark: SparkSession, sf_dir: str) -> bool:
    """Footer proof that every l_partkey fits int32."""
    lo, hi = stats.key_range(spark, sf_dir, "lineitem", "l_partkey")
    return -(2**31) <= lo and hi <= 2**31 - 1


def _occ_skew_stats(sf_dir: str, occ_lazy: DataFrame):
    """(max, mean) part occurrence count of the fixture's lineitem — a
    statistic of the file, not of the call, so it is memoized per file
    fingerprint (in-process only, no cross-run persistence)."""

    def probe():
        st = occ_lazy.agg(
            F.max("occ").alias("mx"), F.avg("occ").alias("av")
        ).collect()[0]
        return (st["mx"], st["av"])

    return stats.memo(f"{sf_dir}/lineitem.parquet", "occ_skew", probe)


def _baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per order: the sorted array of its distinct parts —
    the single shuffle that co-locates an order's lines.

    Partkeys compact to int32 when the parquet footer stats prove they
    fit (r8 VERDICT item 3): the basket arrays, the edge pairs, the
    adjacency lists, and the wedge-sort spill downstream are all built
    from this column, so the cast halves the bytes of the entire graph
    family's working set (measured heap impact in BASELINE.md's
    triangle decade row). Consumers that surface partkeys re-widen to
    long at their output boundary."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    key = (
        F.col("l_partkey").cast("int")
        if _partkeys_fit_int32(spark, sf_dir)
        else F.col("l_partkey")
    )
    return li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set(key)).alias("ps")
    )


def _edges_from_baskets(baskets: DataFrame) -> DataFrame:
    """Distinct undirected co-purchase edges, oriented a < b.

    Pairs expand INSIDE each order's sorted part array (a JVM nested
    transform) instead of a self-join on orderkey — the join's
    probe/build and the order-local duplicate pairs never
    materialize (~35% faster at sf0.1, and the per-order work stays
    O(lines²) local with no skew beyond basket size).
    """
    return (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(x AS pa, y AS pb))))"
                )
            ).alias("p")
        )
        .select("p.pa", "p.pb")
        .distinct()
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _edges_from_baskets(_baskets(spark, sf_dir))


_EDGES_SQL = """
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey
"""


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH edges AS (
        {_EDGES_SQL}
    ), tri AS (
        SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
        FROM edges e1
        JOIN edges e2 ON e2.pa = e1.pb
        JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ), corners AS (
        SELECT unnest([x, y, z]) AS part FROM tri
    )
    SELECT part AS l_partkey, CAST(count(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY part
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph —
    the numerator of local clustering coefficient, the standard
    "how clique-ish is this node's neighborhood" community signal.

    Edges are oriented low→high partkey, so each triangle
    (x < y < z) is enumerated exactly once — at its lowest edge
    (x, y), by intersecting the two endpoints' out-neighbor lists:
    z ∈ N⁺(x) ∩ N⁺(y) ⟺ triangle x<y<z. The plan builds the
    out-adjacency table once (one groupBy over E), joins it to BOTH
    endpoints of every edge, and closes triangles with a per-row JVM
    ``array_intersect`` — the "edge-iterator" triangle algorithm.
    Total intersect work is Σ_edges d⁺(u)+d⁺(v) = Θ(wedges), the
    same asymptotic cost as the classic wedge-close two-join plan,
    but those ~50 M wedge elements are traversed inside per-row
    hash-set probes over only |E| (~1.2 M) rows: the wedge stream
    never materializes through join machinery (measured ~40% faster
    than the broadcast wedge-close plan at sf0.1, byte-identical
    output). Per-node rollup from ONE enumeration: corners x and y
    each credit |intersection| and every z credits 1, combined in a
    single integer aggregation. Orientation still bounds list length
    by out-degree (the standard skew guard). The adjacency broadcast
    holds exactly when E itself is broadcastable (it is E, grouped:
    |E| total array elements) — so it is GATED on an exact upper
    bound of |E| vs ``_ADJ_BROADCAST_MAX_EDGES``: Σ_orders C(k,2) over
    per-basket DISTINCT-part counts, read off the operator's own basket table
    (localCheckpointed once, serving the bound agg AND the main
    plan's first stage — the estimate adds a block scan, not a
    second lineitem shuffle). The r7 footer heuristic 3·|lineitem|
    was only valid for baskets of ≤7 lines (Σ C(k,2) ≤ 3k iff
    k ≤ 7) and UNDER-counted past that — this bound is
    shape-independent: it is exactly the per-basket pair count
    before the global distinct, which only shrinks it. Past the cap
    both adjacency attachments become shuffled hash joins on the node
    key, keeping the same Θ(wedges) intersect work with
    shuffle-partition parallelism instead of a per-executor copy of E.
    """
    # DEGREE ORIENTATION (r10): the id-orientation above is only a
    # skew guard when ids are uncorrelated with popularity. On a
    # power-law corpus where the LOW ids are the hubs (the classic
    # Zipf rank→id layout; measured 34× time for 10× rows on the
    # zipf(1.1) stress corpus), the hub's entire neighborhood becomes
    # its out-list and every hub edge drags it through the intersect.
    # The fix is the textbook degree orientation — orient each edge
    # from its lower-(degree, id) endpoint, bounding out-degrees by
    # O(√m) — expressed as a pure KEY REMAP so the whole enumeration
    # pipeline is reused verbatim: pk' = (occ(part) << 32) | part,
    # sorted basket arrays of pk' ARE degree-oriented, and the output
    # groupBy unpacks the low 32 bits. Triangle sets are invariant
    # under ANY consistent total order, so the output is byte-
    # identical (pinned by test_triangle_degree_orientation_invariant).
    # Measured on the zipf 10x corpus (5.8M lines, 132M triangles),
    # isolated A/B, one fresh JVM per leg, warm min of 3 reps:
    # id-orient 63.4s vs degree-orient 13.4s — 4.7x, identical output
    # (tools/decades_r10.log).
    # Gated twice: a footer row floor (the probe itself costs a scan)
    # and a measured max/mean occurrence ratio; the packed key needs
    # 0 ≤ partkey < 2³¹, proven from footer stats. occ is clamped to
    # 2³⁰ (order only needs a deterministic function of the node; the
    # low 32 id bits keep keys unique), so the shift can never
    # overflow into the sign bit.
    pk_lo, pk_hi = stats.key_range(spark, sf_dir, "lineitem", "l_partkey")
    orient_by_degree = False
    if (
        0 <= pk_lo
        and pk_hi <= 2**31 - 1
        and stats.rows(sf_dir, "lineitem") >= _DEG_ORIENT_MIN_ROWS
    ):
        li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        occ_lazy = li.groupBy("l_partkey").agg(F.count("*").alias("occ"))
        # Probe max/mean straight off the lazy groupBy — the partial
        # aggs collapse to 2 doubles per partition, no materialized
        # blocks. Checkpoint occ ONLY once orientation is confirmed
        # (it then serves the packed-key join); on low-skew corpora
        # the probe leaves nothing behind (r10 ADVICE: the eager
        # localCheckpoint made every low-skew call pay checkpoint
        # blocks that were immediately discarded). r13: the probe's
        # (max, mean) is a property of the fixture FILE, not of the
        # call, so it memoizes per file fingerprint (stats.memo, like
        # the fixture schema) — repeated
        # in-process calls (selfcheck, pytest, repeated reps) skip the
        # lineitem scan; the first call of any process still measures.
        mx, av = _occ_skew_stats(sf_dir, occ_lazy)
        orient_by_degree = bool(
            mx is not None and av and mx / av >= _DEG_ORIENT_SKEW_RATIO
        )
        if orient_by_degree:
            occ = occ_lazy.localCheckpoint()
            packed = li.join(occ, "l_partkey").select(
                "l_orderkey",
                F.expr(
                    "shiftleft(CAST(least(occ, 1073741824) AS BIGINT), 32)"
                    " | l_partkey"
                ).alias("pk"),
            )
            baskets = packed.groupBy("l_orderkey").agg(
                F.array_sort(F.collect_set("pk")).alias("ps")
            )
    if not orient_by_degree:
        baskets = _baskets(spark, sf_dir)
    if 3 * stats.rows(sf_dir, "lineitem") <= _ADJ_BROADCAST_MAX_EDGES:
        # SMALL-GRAPH fast path, gated by an O(1) footer bound on the
        # basket table's SIZE (3·|lineitem| longs ≈ ≤128 MB at the
        # default cap — a bound on bytes checkpointed, NOT the
        # broadcast decision): localCheckpoint baskets once and let it
        # serve BOTH the exact bound agg (a near-free block scan) and
        # the main plan's first stage. Measured 3.54s vs 3.94s for the
        # two-scan variant at sf0.1. The broadcast decision itself
        # always uses the exact Σ C(k,2) below. (Contrast pagerank,
        # where an eager checkpoint LOSES — its bounded unroll never
        # needs the materialization; here the estimate action forces
        # one anyway.) Blocks are freed by the ContextCleaner when the
        # result DF is dropped.
        baskets = baskets.localCheckpoint()
        est_edges = int(
            baskets.agg(
                F.coalesce(
                    F.sum(F.expr("size(ps) * (size(ps) - 1) DIV 2")),
                    F.lit(0),
                ).alias("w")
            ).collect()[0][0]
        )
    else:
        # BIG-GRAPH path: never materialize lineitem-scale basket
        # blocks just to decide a gate that will almost surely close
        # (the r8 100× re-measure hit disk exhaustion doing exactly
        # that) — the exact bound comes from the cheap combinable
        # count-per-order agg instead (one long per order shuffled,
        # one scalar collected; ≥ the distinct-part pair count, so
        # still a valid upper bound), and the basket table stays lazy.
        li = t(spark, sf_dir, "lineitem").select("l_orderkey")
        est_edges = int(
            li.groupBy("l_orderkey")
            .agg(F.count("*").alias("k"))
            .agg(
                F.coalesce(
                    F.sum(F.expr("k * (k - 1) DIV 2")), F.lit(0)
                ).alias("w")
            )
            .collect()[0][0]
        )
    edges = _edges_from_baskets(baskets)
    adj = edges.groupBy(F.col("pa").alias("node")).agg(
        F.collect_list("pb").alias("nbrs")
    )
    if est_edges <= _ADJ_BROADCAST_MAX_EDGES:
        adj = F.broadcast(adj)
    closed = (
        edges.join(
            adj.withColumnRenamed("nbrs", "na"),
            edges.pa == F.col("node"),
        )
        .drop("node")
        .join(
            adj.withColumnRenamed("nbrs", "nb"),
            edges.pb == F.col("node"),
        )
        .drop("node")
        .select("pa", "pb", F.array_intersect("na", "nb").alias("zs"))
        .where(F.size("zs") > 0)
    )
    corners = closed.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("pa").alias("part"),
                        F.size("zs").cast("long").alias("c"),
                    ),
                    F.struct(
                        F.col("pb").alias("part"),
                        F.size("zs").cast("long").alias("c"),
                    ),
                ),
                F.transform(
                    "zs",
                    lambda z: F.struct(
                        z.alias("part"), F.lit(1).cast("long").alias("c")
                    ),
                ),
            )
        ).alias("pc")
    )
    part_out = (
        # unpack the degree-orientation remap: partkey = low 32 bits
        F.col("pc.part").bitwiseAND(F.lit((1 << 32) - 1)).cast("long")
        if orient_by_degree
        # re-widen: baskets may carry int32-compacted partkeys
        else F.col("pc.part").cast("long")
    )
    return corners.groupBy(part_out.alias("l_partkey")).agg(
        F.sum("pc.c").cast("long").alias("n_triangles")
    )


@register(
    "graph_degree_hist",
    oracle=f"""
    WITH edges AS (
        {_EDGES_SQL}
    ), deg AS (
        SELECT part, CAST(sum(c) AS BIGINT) AS degree FROM (
            SELECT pa AS part, count(*) AS c FROM edges GROUP BY pa
            UNION ALL
            SELECT pb, count(*) FROM edges GROUP BY pb
        ) GROUP BY part
    )
    SELECT CAST(degree // 16 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(degree) AS BIGINT) AS min_degree,
           CAST(max(degree) AS BIGINT) AS max_degree
    FROM deg GROUP BY 1
    """,
)
def graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph (16-wide buckets) —
    the first skew diagnostic before graph work: a heavy tail here is
    what forces salting / orientation in the triangle pass.

    Degree = edge-endpoint count per node, computed as two combinable
    per-endpoint aggregations unioned then summed (never a collect);
    the histogram is a second tiny combinable pass. All integers.
    """
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.groupBy(F.col("pa").alias("part"))
        .agg(F.count("*").alias("c"))
        .unionAll(
            edges.groupBy(F.col("pb").alias("part")).agg(
                F.count("*").alias("c")
            )
        )
        .groupBy("part")
        .agg(F.sum("c").cast("long").alias("degree"))
    )
    return (
        deg.groupBy(
            F.expr("degree div 16").cast("long").alias("bucket")
        )
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.min("degree").cast("long").alias("min_degree"),
            F.max("degree").cast("long").alias("max_degree"),
        )
    )
