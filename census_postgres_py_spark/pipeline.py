"""Composed ACS-lineage load pipeline (SURVEY.md §3.1) — the
reference's end-to-end product shape, re-expressed Spark-first:

    lookup metadata -> generated schema          (schema_from_metadata)
    -> sequence e*/m* files, headerless CSV,
       '.' jam values                            (csv_sequence)
    -> geoheader fixed-width parse               (fixed_width)
    -> jam-value NULL normalization              (nullValue='.')
    -> geoheader ⋈ estimates ⋈ margins           (broadcast equi-joins)
    -> column slice into the derived census
       table (b01001-style coded columns)
    -> partitioned columnar sink + re-scan       (partitionBy stusab)

The reference drives this per (year, span, state) against census.gov
archives and Postgres [PK — SURVEY.md §1.1]; the harness has neither,
so the pipeline SYNTHESIZES its ACS-shaped inputs deterministically
from the fixture star schema (nation/customer): per-nation "geography"
rows and a two-cell estimates/margins sequence. Every stage is the
real operator the standalone queries exercise; what's synthetic is
only the bytes on disk. The oracle reproduces the final derived table
straight from nation ⋈ customer, so lossless file round-trips are
part of what the hash-match proves.

Scale posture: the synthetic inputs have one row per nation, fixed in
size like `tables.BROADCAST_DIMS`, so Spark computes them in one
aggregation and the driver writes the three files with plain file I/O
— three Spark write jobs would add a commit protocol and, without
libhadoop, a forked `chmod` per Hadoop-created file (README, "Files
cost forks"). The paper's stages stay Spark: the schema-explicit CSV
scans and the fixed-width parse are linear and shuffle-free, the
dimension-sized geoheader is broadcast into the joins, and only the
final partitioned write shuffles. Partitioning the sink by `stusab`
mirrors the reference's schema-per-state layout and is what makes
downstream geography-filtered scans prune at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from census_postgres_py_spark import scratch
from census_postgres_py_spark.functions.rounding import round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.sources.csv_sequence import (
    read_sequence_csv,
    sequence_csv_line,
)
from census_postgres_py_spark.sources.fixed_width import (
    FixedWidthField,
    fixed_width_line,
    parse_fixed_width_lines,
)
from census_postgres_py_spark.sources.metadata_schema import sequence_table_schema
from census_postgres_py_spark.tables import read_back, t

TABLE_ID = "b01001"
N_CELLS = 2
JAM_POP_FLOOR = 6  # margins suppressed (jam '.') below this population

GEO_LAYOUT = [
    FixedWidthField("stusab", 1, 2, "string"),
    FixedWidthField("sumlevel", 3, 3, "string"),
    FixedWidthField("logrecno", 6, 7, "int"),
    FixedWidthField("geoid", 13, 16, "string"),
    FixedWidthField("name", 29, 32, "string"),
]


def _stusab():
    # synthetic 2-char state code: 5 "states" spread over the nations
    # (fixture n_name values carry no geography, so key off nationkey;
    # the oracle reproduces the same expression)
    return F.concat(F.lit("S"), (F.col("n_nationkey") % 5).cast("string"))


def _write_lines(path: str, lines: list[str]) -> None:
    """One text file of ``lines`` in a new directory ``path`` — read by
    ``spark.read.csv``/``text`` like a one-task Spark write, without the
    commit protocol or the Hadoop-created ``.crc``/``_SUCCESS`` files."""
    os.makedirs(path)
    with open(
        os.path.join(path, "part-00000"), "w", encoding="utf-8", newline="\n"
    ) as f:
        f.writelines(line + "\n" for line in lines)


def _synthesize_inputs(
    spark: SparkSession, sf_dir: str, out: str
) -> tuple[str, str, str]:
    """Render ACS-shaped geoheader + e/m sequence files under ``out``
    from the fixture star schema. Deterministic; the oracle re-derives
    the same quantities from the original tables.

    One row per nation, so every value — the 2dp rounding and the jam
    ``when`` included — is computed by Spark in one select (numbers
    bit-identical to the oracle's) and collected once; the driver
    writes the three files."""
    nation = t(spark, sf_dir, "nation")
    customer = t(spark, sf_dir, "customer")
    pop, bal = F.col("pop"), F.col("bal")
    rows = (
        nation.join(
            customer, customer.c_nationkey == nation.n_nationkey, "left"
        )
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.count("c_custkey").cast("double").alias("pop"),
            round_dp(F.sum("c_acctbal"), 2).alias("bal"),
        )
        .select(
            _stusab().alias("stusab"),
            F.lit("040").alias("sumlevel"),
            (F.col("n_nationkey") + 1).cast("int").alias("logrecno"),
            F.concat(
                F.lit("04000US"),
                F.lpad(F.col("n_nationkey").cast("string"), 2, "0"),
            ).alias("geoid"),
            F.col("n_name").alias("name"),
            pop.alias("e1"),
            bal.alias("e2"),
            # margins: 10% of estimate, jam-suppressed for small pops
            round_dp(pop * 0.1, 2).alias("m1"),
            F.when(pop >= JAM_POP_FLOOR, round_dp(bal * 0.1, 2)).alias("m2"),
        )
        .collect()
    )

    geo_path = os.path.join(out, "geo")
    _write_lines(geo_path, [fixed_width_line(r, GEO_LAYOUT) for r in rows])

    columns = sequence_table_schema(TABLE_ID, N_CELLS).fieldNames()

    def seq_lines(filetype: str, c1: str, c2: str) -> list[str]:
        lines = []
        for r in rows:
            v = {
                "fileid": "ACSSF",
                "filetype": filetype,
                "stusab": r["stusab"],
                "chariter": "000",
                "sequence": 1,
                "logrecno": r["logrecno"],
                f"{TABLE_ID}001": r[c1],
                f"{TABLE_ID}002": r[c2],  # NULL -> the '.' jam value
            }
            lines.append(sequence_csv_line(v[c] for c in columns))
        return lines

    e_path = os.path.join(out, "e")
    m_path = os.path.join(out, "m")
    _write_lines(e_path, seq_lines("2014e5", "e1", "e2"))
    _write_lines(m_path, seq_lines("2014m5", "m1", "m2"))
    return geo_path, e_path, m_path


@register(
    "pipeline_acs_e2e",
    oracle=f"""
    WITH per_nation AS (
        SELECT n.n_nationkey, n.n_name,
               CAST(count(c.c_custkey) AS DOUBLE) AS pop,
               floor(sum(c.c_acctbal) * 100 + 0.5) / 100 AS bal
        FROM nation n
        LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    )
    SELECT '04000US' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS geoid,
           n_name AS name,
           'S' || CAST(n_nationkey % 5 AS VARCHAR) AS stusab,
           pop AS {TABLE_ID}001,
           bal AS {TABLE_ID}002,
           floor(pop * 0.1 * 100 + 0.5) / 100 AS {TABLE_ID}001_m,
           CASE WHEN pop >= {JAM_POP_FLOOR}
                THEN floor(bal * 0.1 * 100 + 0.5) / 100 END AS {TABLE_ID}002_m
    FROM per_nation
    """,
)
def pipeline_acs_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full reference lifecycle in one composed dataflow; returns
    the derived census table (geoid-keyed, coded estimate + margin
    columns) re-read from its partitioned parquet sink."""
    out = scratch.call_dir("acs_pipeline")
    geo_path, e_path, m_path = _synthesize_inputs(spark, sf_dir, out)

    # metadata -> schema; schema -> jam-value-aware CSV scans
    schema = sequence_table_schema(TABLE_ID, N_CELLS)
    est = read_sequence_csv(spark, e_path, schema)
    mar = read_sequence_csv(spark, m_path, schema)

    # geoheader: fixed-width text -> typed columns (dimension-sized)
    geo = parse_fixed_width_lines(spark.read.text(geo_path), GEO_LAYOUT)

    cells = [f"{TABLE_ID}{i:03d}" for i in range(1, N_CELLS + 1)]
    est_slice = est.select(
        "stusab", "logrecno", *[F.col(c).alias(c) for c in cells]
    )
    mar_slice = mar.select(
        "stusab", "logrecno", *[F.col(c).alias(f"{c}_m") for c in cells]
    )

    derived = (
        F.broadcast(geo.select("stusab", "logrecno", "geoid", "name"))
        .join(est_slice, ["stusab", "logrecno"])
        .join(mar_slice, ["stusab", "logrecno"])
        .select("geoid", "name", "stusab", *cells, *[f"{c}_m" for c in cells])
    )

    sink = os.path.join(out, "sink")
    derived.write.mode("overwrite").partitionBy("stusab").parquet(sink)
    return read_back(spark, derived.schema, sink).select(
        "geoid", "name", "stusab", *cells, *[f"{c}_m" for c in cells]
    )


@register(
    "pipeline_training_e2e",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               list_filter(
                   string_split(
                       regexp_replace(text, '[0-9]+', '<NUM>', 'g'), ' '),
                   x -> x <> '') AS toks
        FROM documents WHERE lang = 'en'
    ), feat AS (
        SELECT doc_id, toks, len(toks) AS n,
               array_to_string(toks, ' ') AS norm
        FROM base
    ), qual AS (
        SELECT * FROM feat WHERE n BETWEEN 10 AND 10000
    ), keep AS (
        SELECT min(doc_id) AS doc_id FROM qual GROUP BY md5(norm)
    ), kept AS (
        SELECT q.doc_id, q.n FROM qual q JOIN keep k ON q.doc_id = k.doc_id
    ), chunks AS (
        SELECT doc_id, n,
               unnest(range(0, CAST(ceil(n / 32.0) AS BIGINT))) AS i
        FROM kept
    ), c2 AS (
        SELECT doc_id, least(32, n - i * 32) AS chunk_tokens,
               substr(md5(CAST(doc_id AS VARCHAR) || ':'
                          || CAST(i AS VARCHAR)), 1, 1) AS shard
        FROM chunks
    )
    SELECT shard, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(chunk_tokens) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM c2 GROUP BY shard
    """,
)
def pipeline_training_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM training-data pipeline — every §2.10/§2.11
    stage chained into one dataflow, ending in per-shard packing
    statistics:

        scan documents -> PII redact (digit runs)      text_pii_redact
        -> language filter (lang = 'en')               text_lang_id gate
        -> quality filter (10 <= tokens <= 10000)      text_quality gate
        -> exact dedup on content fingerprint          fn_hash + dedup_exact
        -> 32-token chunking                           text_chunk_fixed
        -> deterministic shard assignment (md5 nibble) sample_hash family
        -> per-shard packing stats                     agg_hash

    One narrow plan: scan -> codegen'd projections/filters -> one
    combinable groupBy for the fingerprint dedup -> self-join on the
    kept ids -> shuffle-free chunk explosion -> one final 16-group agg.
    At 100 TB every stage before the dedup groupBy is scan-bound and
    pipelined inside a single stage; the dedup shuffle keys on the
    md5 fingerprint, which is uniformly distributed — no skew by
    construction. Shards come from a hash nibble so output files are
    balanced regardless of document-length skew.
    """
    docs = t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    toks = F.filter(
        F.split(F.regexp_replace("text", r"[0-9]+", "<NUM>"), " "),
        lambda x: x != "",
    )
    feat = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.size(toks).alias("n"),
        F.concat_ws(" ", toks).alias("norm"),
    )
    qual = feat.filter(F.col("n").between(10, 10000))
    keep = (
        qual.groupBy(F.md5(F.col("norm").cast("binary")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = qual.join(keep, "doc_id").select("doc_id", "n")
    chunks = kept.select(
        "doc_id",
        "n",
        F.explode(
            F.sequence(F.lit(0), ((F.col("n") - 1) / 32).cast("long"))
        ).alias("i"),
    )
    c2 = chunks.select(
        "doc_id",
        F.least(F.lit(32), F.col("n") - F.col("i") * 32).alias(
            "chunk_tokens"
        ),
        F.substring(
            F.md5(
                F.concat_ws(":", F.col("doc_id"), F.col("i")).cast("binary")
            ),
            1,
            1,
        ).alias("shard"),
    )
    return c2.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum("chunk_tokens").cast("long").alias("n_tokens"),
        F.count_distinct(F.col("doc_id")).cast("long").alias("n_docs"),
    )
