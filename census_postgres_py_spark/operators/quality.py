"""Declarative data-quality rule engine (SURVEY.md §2.12).

The reference hard-codes its validation (jam-value normalization, row
counts per sequence file [PK — SURVEY.md §1.1]); an engine should take
rules as DATA. `dq_rule_engine` evaluates a rule table against a fact
table in ONE scan: every rule becomes a conditional-count aggregate,
the single agg row is unpivoted to one row per rule. At 100 TB that is
one pass over the data regardless of rule count — the alternative
(one query per rule) multiplies the scan cost by the rule count, which
is exactly what the one-SELECT-per-rule oracle does at fixture scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from census_postgres_py_spark.functions.rounding import half_up, round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

# (rule_id, SQL predicate that VALID rows satisfy) — a config table in
# production; inline here so the oracle can mirror it literally.
DQ_RULES: list[tuple[str, str]] = [
    ("date_in_range", "o_orderdate >= TIMESTAMP '1992-01-01' "
                      "AND o_orderdate < TIMESTAMP '1999-01-01'"),
    ("priority_not_low", "o_orderpriority <> '5-LOW'"),
    ("status_known", "o_orderstatus IN ('F', 'O', 'P')"),
    ("totalprice_ge_1000", "o_totalprice >= 1000.0"),
    ("totalprice_positive", "o_totalprice > 0.0"),
]


def _oracle() -> str:
    selects = [
        f"""
        SELECT '{rid}' AS rule_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN NOT ({pred}) THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_viol,
               floor((count(*) - sum(CASE WHEN NOT ({pred}) THEN 1 ELSE 0
                                     END)) * 1000000.0 / count(*) + 0.5)
                   / 1000000.0 AS pass_rate
        FROM orders
        """
        for rid, pred in DQ_RULES
    ]
    return " UNION ALL ".join(selects)


@register("dq_rule_engine", oracle=_oracle())
def dq_rule_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rules-as-data quality gate, one scan for all rules.

    Each predicate compiles to `sum(CASE WHEN NOT p THEN 1 END)` inside
    a single aggregate (partial/map-side combinable, codegen'd), then
    `stack()` unpivots the one result row into (rule_id, counts) rows.
    Adding a rule adds a column to one agg, not a pass over the table.
    """
    o = t(spark, sf_dir, "orders")
    aggs = [F.count("*").alias("n_rows")]
    for rid, pred in DQ_RULES:
        aggs.append(
            F.sum(F.when(~F.expr(pred), 1).otherwise(0)).alias(f"v_{rid}")
        )
    one = o.agg(*aggs)
    stack_args = ", ".join(f"'{rid}', v_{rid}" for rid, _ in DQ_RULES)
    return one.select(
        F.expr(
            f"stack({len(DQ_RULES)}, {stack_args}) AS (rule_id, n_viol)"
        ),
        "n_rows",
    ).select(
        "rule_id",
        "n_rows",
        "n_viol",
        (
            half_up(
                (F.col("n_rows") - F.col("n_viol"))
                * 1000000.0
                / F.col("n_rows")
            )
            / 1000000.0
        ).alias("pass_rate"),
    )


@register(
    "dq_partition_drift",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), med AS (
        SELECT event_type, median(n) AS med FROM daily GROUP BY event_type
    ), dev AS (
        SELECT d.event_type, d.day, d.n, m.med,
               abs(d.n - m.med) AS adev
        FROM daily d JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.n,
           floor(d.med * 100 + 0.5) / 100 AS med,
           floor(m.mad * 100 + 0.5) / 100 AS mad,
           CASE WHEN abs(d.n - d.med) > 3 * greatest(m.mad, 0.5)
                THEN true ELSE false END AS is_anomaly
    FROM dev d JOIN mad m USING (event_type)
    """,
)
def dq_partition_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level volume drift detection: flag (event_type, day)
    partitions whose row count deviates > 3 robust sigmas (MAD) from
    that type's median daily volume.

    This is the freshness/completeness monitor a 100 TB ingest runs
    after every load: the heavy pass is ONE combinable count per
    partition key; the median/MAD passes run on the already-aggregated
    (types x days) frame — thousands of rows, never the raw table.
    Median is exact (`F.median`), mirrored manually in the oracle CTE
    rather than trusting engine `mad()` variants to agree.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    med = daily.groupBy("event_type").agg(F.median("n").alias("med"))
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("n") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    out = dev.join(F.broadcast(mad), "event_type")
    return out.select(
        "event_type",
        "day",
        "n",
        round_dp(F.col("med"), 2).alias("med"),
        round_dp(F.col("mad"), 2).alias("mad"),
        (
            F.abs(F.col("n") - F.col("med"))
            > 3 * F.greatest(F.col("mad"), F.lit(0.5))
        ).alias("is_anomaly"),
    )
