"""Scans / sources / sinks as verifiable operators (SURVEY.md §2.1).

Round-trip pattern: where an operator's subject is I/O (CSV,
fixed-width, JSONL, partitioned parquet), the query WRITES fixture data
through the source format into a scratch dir, re-reads it through the
engine's reader, and returns a relation the oracle can reproduce from
the original table — lossless round-trip == hash match.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from census_postgres_py_spark import scratch
from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.sources.csv_sequence import (
    read_sequence_csv,
    write_sequence_csv,
)
from census_postgres_py_spark.sources.fixed_width import (
    FixedWidthField,
    format_fixed_width,
    parse_fixed_width_lines,
)
from census_postgres_py_spark.sources.metadata_schema import schema_from_metadata
from census_postgres_py_spark.tables import read_back, t


@register(
    "scan_parquet",
    oracle="""
    SELECT l_orderkey, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity >= 25
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan with projection + predicate. ReadSchema in the
    physical plan carries exactly 3 of lineitem's 11 columns and the
    quantity filter shows in PushedFilters — verified in
    tests/test_plans.py; this is what makes a 100 TB scan pay only for
    what the query touches."""
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 25)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
    )


@register(
    "scan_csv_schema",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_csv_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACS sequence-file-style scan: headerless CSV, explicit schema,
    '.' jam values as NULL. Round-trips `nation` through the format;
    hash-equality with the parquet original proves losslessness."""
    path = scratch.call_dir("nation_seq_csv")
    nation = t(spark, sf_dir, "nation")
    write_sequence_csv(nation, path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return read_sequence_csv(spark, path, schema).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@register(
    "scan_fixed_width",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def scan_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geoheader-style fixed-width parse: render `region` as
    fixed-width lines, re-parse by column offsets, compare to the
    original. substring/trim/cast projections — no UDF, codegen'd."""
    layout = [
        FixedWidthField("r_regionkey", 1, 4, "int"),
        FixedWidthField("r_name", 5, 16, "string"),
    ]
    region = t(spark, sf_dir, "region")
    lines = format_fixed_width(region, layout)
    return parse_fixed_width_lines(lines, layout)


@register(
    "scan_jsonl",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_total
    FROM events
    GROUP BY event_type
    """,
)
def scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan with explicit schema: dump events as JSONL,
    re-read, aggregate. Integer payloads keep the round-trip exact
    (float round-trip via JSON is exercised in tests, not the oracle).
    """
    path = scratch.call_dir("events_jsonl")
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    ev.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("k", T.LongType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("k").alias("k_total")
    )


@register(
    "sink_parquet",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY 1
    """,
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned columnar sink (the load stage analog): write orders
    partitioned by order year — the (year, span, stusab) layout of
    SURVEY.md §1.2 that enables partition pruning at 100 TB — then
    re-read and aggregate per partition."""
    path = scratch.call_dir("orders_by_year")
    o = t(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("long")
    )
    o.write.mode("overwrite").partitionBy("o_year").parquet(path)
    back = read_back(spark, o.schema, path)
    return back.groupBy(F.col("o_year").cast("long").alias("o_year")).agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "schema_from_metadata",
    oracle="""
    SELECT * FROM (VALUES
        ('fileid',   'string', CAST(1 AS BIGINT)),
        ('filetype', 'string', CAST(2 AS BIGINT)),
        ('stusab',   'string', CAST(3 AS BIGINT)),
        ('chariter', 'string', CAST(4 AS BIGINT)),
        ('sequence', 'int',    CAST(5 AS BIGINT)),
        ('logrecno', 'int',    CAST(6 AS BIGINT)),
        ('b01001001', 'double', CAST(7 AS BIGINT)),
        ('b01001002', 'double', CAST(8 AS BIGINT)),
        ('b01001003', 'double', CAST(9 AS BIGINT))
    ) AS meta(col_name, data_type, ordinal)
    """,
)
def schema_from_metadata_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-driven schema generation: an ACS-lookup-style spec
    (table b01001, 3 cells) becomes a StructType; the query returns the
    generated schema as rows so the oracle pins the expected layout."""
    from census_postgres_py_spark.sources.metadata_schema import (
        sequence_table_schema,
    )

    schema = sequence_table_schema("B01001", cell_count=3)
    rows = [
        (f.name, f.dataType.simpleString(), i + 1)
        for i, f in enumerate(schema.fields)
    ]
    out_schema = T.StructType(
        [
            T.StructField("col_name", T.StringType()),
            T.StructField("data_type", T.StringType()),
            T.StructField("ordinal", T.LongType()),
        ]
    )
    return spark.createDataFrame(rows, out_schema)


@register(
    "sink_jdbc",
    oracle="""
    SELECT CAST(n_regionkey AS BIGINT) AS region_key,
           CAST(count(*) AS BIGINT) AS n_nations,
           min(n_name) AS first_nation
    FROM nation GROUP BY n_regionkey
    """,
)
def sink_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC bulk-load round-trip (BASELINE.json:7 "JDBC write to
    Postgres from DataFrame"). Executes a REAL partitioned
    ``df.write.jdbc`` — 4 writer connections, batched INSERTs,
    overwrite+truncate semantics — into an embedded Apache Derby
    database (the JDBC engine Spark already ships for the Hive
    metastore), then reads the table back through JDBC and aggregates
    it, so the oracle hash proves every row survived the
    write→database→read trip. Swap the target for Postgres via
    SPARK_GRAFT_JDBC_URL and only the dialect changes; the Spark plan
    (repartition → parallel INSERT) is identical."""
    from census_postgres_py_spark.sources.jdbc import (
        JdbcTarget,
        derby_target,
        read_jdbc,
        writer_for,
    )

    nation = t(spark, sf_dir, "nation")
    ext_url = os.environ.get("SPARK_GRAFT_JDBC_URL")
    if ext_url:
        target = JdbcTarget(
            url=ext_url,
            table="acs_demo.nation",
            user=os.environ.get("SPARK_GRAFT_JDBC_USER", "census"),
            password=os.environ.get("SPARK_GRAFT_JDBC_PASSWORD", ""),
            num_partitions=4,
        )
    else:
        target = derby_target("nation_sink")
    writer_for(nation, target).save()
    back = read_jdbc(spark, target)
    return (
        back.groupBy(F.col("n_regionkey").cast("long").alias("region_key"))
        .agg(
            F.count("*").alias("n_nations"),
            F.min("n_name").alias("first_nation"),
        )
    )


@register(
    "sink_merge_upsert",
    oracle="""
    WITH updates AS (
        SELECT o_orderkey, o_orderpriority,
               o_totalprice + 100.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
    ), merged AS (
        SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM updates u
                          WHERE u.o_orderkey = o.o_orderkey)
        UNION ALL
        SELECT o_orderkey, o_orderpriority, o_totalprice FROM updates
    )
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           floor(sum(o_totalprice) * 100 + 0.5) / 100 AS total
    FROM merged GROUP BY o_orderpriority
    """,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert sink — the incremental-refresh pattern (SCD type 1)
    on a plain parquet table, since no transactional table format ships
    in this environment.

    merged = target ANTI-JOIN updates  ∪  updates: one shuffled anti
    join (or broadcast, when the delta batch is small — the usual case)
    plus a write. The merged table is actually WRITTEN and re-scanned,
    so the round-trip is part of what the oracle hash proves. At
    100 TB the write is partitioned so only partitions containing
    updated keys rewrite (here: whole-table, fixture-sized). On Delta/
    Iceberg this collapses to MERGE INTO; the dataflow underneath is
    exactly this plan.
    """
    target = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    updates = target.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 100.0
    )
    merged = target.join(
        updates.select("o_orderkey"), "o_orderkey", "left_anti"
    ).unionByName(updates)
    path = scratch.call_dir("orders_merged")
    merged.write.mode("overwrite").parquet(path)
    back = read_back(spark, merged.schema, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        round_dp(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "sink_bucketed",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
           floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o_orderpriority
    """,
)
def sink_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed parquet sink + exchange-free read-back join.

    Both sides are written ``bucketBy(8, <join key>)`` +
    ``sortBy(<join key>)`` into catalog tables, then joined on the
    bucket key: Spark sees matching bucketing on both sides and plans
    the SortMergeJoin with NO shuffle exchange on either input (a plan
    test pins this — the only Exchange left is the final groupBy's).
    This is THE amortization pattern at 100 TB: pay the partition
    shuffle once at write time, then every subsequent co-located join
    on that key is scan + merge, no network. The fixture uses 8
    buckets; a real deployment sizes buckets so each is a few hundred
    MB (e.g. 100 TB fact / 256 MB ≈ 400k buckets).
    """
    pairs = [
        ("orders", "o_orderkey", ["o_orderkey", "o_orderpriority"]),
        ("lineitem", "l_orderkey", ["l_orderkey", "l_extendedprice"]),
    ]
    for name, key, cols in pairs:
        tbl = f"cppys_{name}_bucketed"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            t(spark, sf_dir, name)
            .select(*cols)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", scratch.call_dir(tbl))
            .mode("overwrite")
            .saveAsTable(tbl)
        )
    o = spark.table("cppys_orders_bucketed")
    li = spark.table("cppys_lineitem_bucketed")
    # the resolved frames keep the bucketed relations (files stay in
    # the call dir), so the catalog entries can go: the caller's
    # catalog ends the call as it began
    for name, _, _ in pairs:
        spark.sql(f"DROP TABLE cppys_{name}_bucketed")
    # hint("merge"): at fixture scale Catalyst would broadcast orders
    # and the bucketing would never engage; at 100 TB neither side is
    # broadcastable and SMJ-over-buckets is the plan this op exists to
    # demonstrate — sorted buckets make it scan + merge, zero shuffle.
    return (
        o.hint("merge")
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            round_dp(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


@register(
    "scan_orc",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC columnar scan — the second columnar format big estates
    actually hold (Hive-lineage warehouses are ORC; Spark reads/writes
    it natively with the same pushdown/pruning machinery as parquet).
    Round-trips `customer` (long/int/double/string columns) through
    ORC; hash-equality with the parquet original proves the format
    conversion is lossless, the same bar as scan_csv_schema.
    """
    cust = t(spark, sf_dir, "customer")
    path = scratch.cached(
        "customer_orc",
        sf_dir,
        lambda d: cust.write.mode("overwrite").orc(d),
        "customer",
    )
    return spark.read.orc(path).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


@register(
    "scan_merge_schema",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: one directory holding parquet files
    written before AND after a column was added, read as one table
    with `mergeSchema` — missing columns NULL-padded.

    Every long-lived 100 TB estate has this shape (producers upgrade
    at different times; nobody rewrites history). mergeSchema pays a
    footer read per file at planning — on a real deployment the merged
    schema comes from the table catalog instead — but the scan itself
    stays one pass with pushdown intact.
    """
    o = t(spark, sf_dir, "orders")

    def _build(d: str) -> None:
        v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        )
        v1.write.mode("overwrite").parquet(d)
        v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        v2.write.mode("append").parquet(d)

    path = scratch.cached("orders_evo", sf_dir, _build, "orders")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


@register(
    "sink_compact_files",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    """,
)
def sink_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance job every parquet lake
    runs: rewrite a directory fragmented into many tiny files (here 64,
    simulating per-micro-batch appends) into few right-sized ones.

    Target file count = total bytes / 128 MB (min 1), the same rule a
    table-format OPTIMIZE applies. `repartition(n)` (round-robin, not
    coalesce) rebalances evenly so compacted files come out uniform —
    `coalesce` would glue adjacent small files and preserve skew.
    Row-identity with the source table (the oracle) proves the rewrite
    is lossless.
    """
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]
    li = t(spark, sf_dir, "lineitem").select(*cols)
    frag = scratch.cached(
        "li_frag",
        sf_dir,
        lambda d: li.repartition(64).write.mode("overwrite").parquet(d),
        "lineitem",
    )
    total = sum(
        os.path.getsize(os.path.join(frag, f))
        for f in os.listdir(frag)
        if f.endswith(".parquet")
    )
    n_out = max(1, total // (128 * 1024 * 1024))
    compact = scratch.call_dir("li_compact")
    read_back(spark, li.schema, frag).repartition(int(n_out)).write.mode(
        "overwrite"
    ).parquet(compact)
    return read_back(spark, li.schema, compact).select(*cols)


@register(
    "scan_csv_dropmalformed",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_csv_dropmalformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row policy at ingest: a landing CSV polluted with
    garbage lines (wrong arity, non-numeric keys) read in DROPMALFORMED
    mode — valid rows parse, junk is discarded, the job does NOT die.

    The ACS analog of jam values one level up: jam handling fixes bad
    CELLS, the parse mode fixes bad LINES (truncated uploads, header
    echoes, log noise). PERMISSIVE + `_corrupt_record` is the forensic
    variant; DROPMALFORMED is the right default for a 100 TB landing
    zone where one bad file must not kill a 1000-executor job.
    Hash-equality with the clean source proves nothing valid was
    dropped and nothing invalid survived.
    """
    nation = t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )

    def _build(d: str) -> None:
        rows = nation.collect()  # nation is 25 rows — driver-side render ok
        with open(os.path.join(d, "part-dirty.csv"), "w") as f:
            for i, r in enumerate(rows):
                f.write(f"{r.n_nationkey},{r.n_name},{r.n_regionkey}\n")
                if i % 7 == 0:  # interleave deterministic junk lines
                    f.write("GARBAGE LINE WITHOUT COMMAS\n")
                    f.write("not_a_number,Broken\n")

    path = scratch.cached("nation_dirty_csv", sf_dir, _build, "nation")
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return spark.read.schema(schema).option("mode", "DROPMALFORMED").csv(
        os.path.join(path, "part-dirty.csv")
    )


@register(
    "scan_csv_compressed",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_csv_compressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-text ingest (gzip CSV) — the format the outside
    world actually ships. Spark decompresses transparently, BUT gzip
    is non-splittable: one file = one task regardless of size, so a
    100 TB landing zone must arrive as MANY gzip files (or bzip2/zstd
    frames) for the cluster to parallelize — the read itself is the
    easy part, the file layout is the scale decision.
    """
    nation = t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = scratch.cached(
        "nation_csv_gz",
        sf_dir,
        lambda d: nation.write.mode("overwrite")
        .option("compression", "gzip")
        .csv(d),
        "nation",
    )
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return spark.read.schema(schema).csv(path)


@register(
    "sink_partitioned_sorted",
    oracle="""
    SELECT l_orderkey, l_returnflag, l_quantity, l_extendedprice
    FROM lineitem
    """,
)
def sink_partitioned_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-optimized sink: partition by a categorical column and
    `sortWithinPartitions` on the range-filter column before writing —
    the poor man's Z-order. Sorted row groups give parquet min/max
    statistics that actually PRUNE: a later `l_orderkey BETWEEN ...`
    scan skips whole row groups instead of reading everything
    (tests verify the stats are disjoint, the mechanism row-group
    skipping needs). Same bytes, same rows (the oracle), radically
    different selective-read cost at 100 TB.
    """
    cols = ["l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"]
    li = t(spark, sf_dir, "lineitem").select(*cols)
    path = scratch.cached(
        "li_sorted",
        sf_dir,
        lambda d: li.repartition("l_returnflag")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(d),
        "lineitem",
    )
    return read_back(spark, li.schema, path).select(*cols)


@register(
    "scan_text_wholefile",
    oracle="""
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents WHERE doc_id < 40
    """,
)
def scan_text_wholefile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-document-per-file ingestion (`wholetext=True`) — how raw
    text corpora actually land (a crawl dump is millions of files, not
    one CSV). Each file becomes ONE row regardless of newlines; doc
    identity is recovered from the file path via
    `input_file_name()`-style parsing (here the filename encodes
    doc_id). Small-files economics apply at 100 TB: list+open
    dominates, so the first job is usually exactly this scan feeding
    sink_compact_files.
    """
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )

    def _build(d: str) -> None:
        for r in docs.collect():  # 40 files — driver-side write is the point
            with open(os.path.join(d, f"doc_{r.doc_id:06d}.txt"), "w") as f:
                f.write(r.text)

    path = scratch.cached("docs_wholefile", sf_dir, _build, "documents")
    raw = spark.read.text(os.path.join(path, "doc_*.txt"), wholetext=True)
    return raw.select(
        F.regexp_extract(F.input_file_name(), r"doc_(\d+)\.txt", 1)
        .cast("long")
        .alias("doc_id"),
        F.length("value").cast("long").alias("n_chars"),
    )


@register(
    "scan_python_datasource",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4.0, SPARK-44076) — the
    extension point for in-house formats the built-in readers can't
    touch (the reference's bespoke sequence-file layout is exactly
    this shape). The source plans one `InputPartition` PER SHARD, so
    Spark schedules shard reads in parallel across executors — the
    partition planning, not the parsing, is what makes a custom
    source scale; a reader without partitions() serializes the whole
    corpus through one task.
    """
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    nation = t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )

    def _build(d: str) -> None:
        rows = nation.collect()
        for shard in range(5):
            with open(os.path.join(d, f"shard_{shard}.csv"), "w") as f:
                for r in rows[shard::5]:
                    f.write(f"{r.n_nationkey},{r.n_name},{r.n_regionkey}\n")

    path = scratch.cached("pyds_nation", sf_dir, _build, "nation")

    class SeqCsvReader(DataSourceReader):
        def __init__(self, options: dict) -> None:
            self._path = options["path"]

        def partitions(self):
            return [
                InputPartition(os.path.join(self._path, f))
                for f in sorted(os.listdir(self._path))
                if f.endswith(".csv")
            ]

        def read(self, partition):
            with open(partition.value) as f:
                for line in f:
                    key, name, region = line.rstrip("\n").split(",")
                    yield (int(key), name, int(region))

    class SeqCsvSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "acs_seqcsv"

        def schema(self) -> str:
            return "n_nationkey INT, n_name STRING, n_regionkey INT"

        def reader(self, schema):
            return SeqCsvReader(self.options)

    spark.dataSource.register(SeqCsvSource)
    return spark.read.format("acs_seqcsv").option("path", path).load()


_LOG_LINE_RE = r"^(\d{4}-\d{2}-\d{2}) \[(\w+)\] order=(\d+) amount_cents=(\d+)$"


@register(
    "scan_log_regex",
    oracle="""
    SELECT CAST(o_orderdate AS DATE) AS day,
           CASE o_orderstatus WHEN 'F' THEN 'INFO'
                              WHEN 'O' THEN 'WARN'
                              ELSE 'ERROR' END AS level,
           o_orderkey AS o_key,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS amount_cents
    FROM orders
    """,
)
def scan_log_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured log ingestion: render orders as app-log lines,
    write a real text file, read it back and parse with
    `regexp_extract` into typed columns — the grep-to-table path every
    pipeline needs for request/audit logs.

    Scale notes: text scan splits by line ranges (parallel like any
    file source); the four regexp_extract calls share one codegen'd
    pattern match per line; values round-trip exactly because every
    field is rendered from integers/dates (no float-to-text
    ambiguity). The oracle recomputes the fields straight from the
    source table, so the whole render->write->scan->parse loop is
    hash-checked."""
    o = t(spark, sf_dir, "orders")
    level = (
        F.when(F.col("o_orderstatus") == "F", "INFO")
        .when(F.col("o_orderstatus") == "O", "WARN")
        .otherwise("ERROR")
    )
    line = F.concat_ws(
        "",
        F.col("o_orderdate").cast("date").cast("string"),
        F.lit(" ["), level, F.lit("] order="),
        F.col("o_orderkey").cast("string"),
        F.lit(" amount_cents="),
        half_up(F.col("o_totalprice") * 100).cast("string"),
    )
    path = scratch.call_dir("app_log_lines")
    o.select(line.alias("value")).write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    return raw.select(
        F.regexp_extract("value", _LOG_LINE_RE, 1).cast("date").alias("day"),
        F.regexp_extract("value", _LOG_LINE_RE, 2).alias("level"),
        F.regexp_extract("value", _LOG_LINE_RE, 3).cast("long").alias("o_key"),
        F.regexp_extract("value", _LOG_LINE_RE, 4)
        .cast("long")
        .alias("amount_cents"),
    )


@register(
    "scan_binaryfile",
    oracle="""
    SELECT doc_id,
           CAST(8 + (16 + doc_id % 48) * (16 + (doc_id * 3) % 32)
                AS BIGINT) AS n_bytes,
           CAST(16 + doc_id % 48 AS BIGINT) AS width,
           CAST(16 + (doc_id * 3) % 32 AS BIGINT) AS height
    FROM documents WHERE doc_id < 40
    """,
)
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-file ingestion via Spark's `binaryFile` source — the
    landing-zone scan of an image/audio corpus: each file becomes one
    row of (path, modificationTime, length, content BINARY). Here the
    files are real SIMG payloads (operators/multimodal.py format);
    the scan recovers doc identity from the path, validates the magic
    JVM-side (substring on the binary column — no Python), and
    extracts the header dims with JVM byte arithmetic.

    This is the missing first stage of the multimodal pipeline:
    binaryFile -> (mm_decode_features | mm_resize) over the content
    column. At 100 TB the same small-files economics as
    scan_text_wholefile apply — this scan feeds sink_compact_files."""
    from census_postgres_py_spark.operators.multimodal import _encode_img

    def _build(d: str) -> None:
        for doc_id in range(40):  # 40 files — driver write is the point
            with open(os.path.join(d, f"img_{doc_id:06d}.simg"), "wb") as f:
                f.write(_encode_img(doc_id))

    path = scratch.cached("imgs_binary", sf_dir, _build, "documents")
    raw = spark.read.format("binaryFile").load(
        os.path.join(path, "img_*.simg")
    )
    # u16be dims live at bytes 5-6 (width) and 7-8 (height): decode
    # arithmetically (binary slice -> hex -> base-16 conv), never via a
    # UTF-8 string cast — bytes >= 0x80 are invalid UTF-8 and would
    # decode to U+FFFD. All JVM expressions on the binary col.
    def be16(off: int):
        def byte(o: int):
            return F.conv(
                F.hex(F.substring(F.col("content"), o, 1)), 16, 10
            ).cast("long")

        return byte(off) * 256 + byte(off + 1)

    out = raw.select(
        F.regexp_extract(F.input_file_name(), r"img_(\d+)\.simg", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.substring(F.col("content"), 1, 4).cast("string").alias("magic"),
        be16(5).cast("long").alias("width"),
        be16(7).cast("long").alias("height"),
    )
    return out.filter(F.col("magic") == "SIMG").drop("magic")


@register(
    "scan_jsonl_permissive",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
           CAST(sum(CASE WHEN o_orderkey % 7 <> 0 THEN o_orderkey * 3
                         ELSE 0 END) AS BIGINT) AS v_sum
    FROM orders WHERE o_orderkey < 4000
    """,
)
def scan_jsonl_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE JSON ingestion with `_corrupt_record` quarantine —
    the production counterpart of scan_csv_dropmalformed: bad lines
    are KEPT (schema columns null, raw text in the corrupt column) so
    the pipeline can route them to a quarantine sink instead of
    silently shrinking the corpus. Every 7th rendered line is broken
    deterministically; the op reports (total, corrupt, checksum of
    parsed values) so the oracle can verify the parser recovered
    every good line and quarantined every bad one.
    """
    keys = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 4000)
        .select("o_orderkey")
    )

    def _build(d: str) -> None:
        lines = keys.withColumn(
            "line",
            F.when(
                F.col("o_orderkey") % 7 == 0,
                F.concat(
                    F.lit('{"k": '), F.col("o_orderkey"), F.lit(", v broken")
                ),
            ).otherwise(
                F.concat(
                    F.lit('{"k": '),
                    F.col("o_orderkey"),
                    F.lit(', "v": '),
                    F.col("o_orderkey") * 3,
                    F.lit("}"),
                )
            ),
        ).select("line")
        lines.write.mode("overwrite").text(d)

    path = scratch.cached("orders_jsonl_perm", sf_dir, _build, "orders")
    schema = "k long, v long, _corrupt string"
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(os.path.join(path, "part-*"))
    )
    return back.agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.col("_corrupt").isNotNull().cast("long")).alias("n_corrupt"),
        F.sum(F.coalesce("v", F.lit(0))).cast("long").alias("v_sum"),
    )


@register(
    "sink_manifest_stats",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(CAST(o_orderdate AS DATE)) AS min_date,
           max(CAST(o_orderdate AS DATE)) AS max_date,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders GROUP BY o_orderpriority
    """,
)
def sink_manifest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a partitioned lake table, then build its MANIFEST: per-
    partition row counts and column min/max bounds — the zone-map
    metadata a lakehouse (Delta/Iceberg-style) keeps so point/range
    queries can SKIP whole partitions without opening a file.

    The stats pass reads the partition column back from the DIRECTORY
    layout (partition discovery), so the manifest query scans only the
    pruned data columns; the bounds are combinable min/max partials.
    At 100 TB this job runs per ingest batch and its output IS the
    skipping index — join_partition_pruned demonstrates the read side
    consuming exactly these semantics via DPP.
    """
    path = scratch.cached(
        "orders_manifest",
        sf_dir,
        lambda d: t(spark, sf_dir, "orders")
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(d),
        "orders",
    )
    back = read_back(spark, t(spark, sf_dir, "orders").schema, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min(F.col("o_orderdate").cast("date")).alias("min_date"),
        F.max(F.col("o_orderdate").cast("date")).alias("max_date"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )
