"""Geospatial operators (SURVEY.md §2.13) — census data is inherently
geographic (the reference's geoheader carries lat/lon centroids for
every summary level [PK — SURVEY.md §1.1]), so the engine needs the two
fundamental geo moves: a scalar great-circle distance, and a RADIUS
JOIN that does not compare all pairs.

Coordinates are derived deterministically from c_custkey (affine-mod,
lat clamped to [-60, 60)) so the DuckDB oracle can regenerate them —
the same trick the multimodal SIMG format uses. Both engines evaluate
the identical haversine expression; trig ULP differences are ~1e-12 of
a km, far below the 4-decimal rounding, and the radius predicate is
nowhere near that close to a boundary for the fixture ids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from census_postgres_py_spark.functions.rounding import round_dp
from census_postgres_py_spark.registry import register
from census_postgres_py_spark.tables import t

EARTH_R_KM = 6371.0088
RADIUS_KM = 300.0  # join_spatial_grid pair radius
CELL_DEG = 6.0  # grid cell size; 6 deg lon = 333 km >= radius even at lat 60

# lat in [-60, 59.9], lon in [-180, 179.9], 0.1-degree grid — exact in
# integer arithmetic, so Spark and DuckDB regenerate identical doubles.
# The QUADRATIC term matters: a purely affine map puts points on a
# lattice whose pair deltas are multiples of (3.7 deg, 7.3 deg) — no
# close pairs at all — while k^2 scatters them pseudo-uniformly.
_LAT_SQL = "((c_custkey * 37 + c_custkey * c_custkey * 13) % 1200) / 10.0 - 60.0"
_LON_SQL = "((c_custkey * 73 + c_custkey * c_custkey * 29) % 3600) / 10.0 - 180.0"


def _lat() -> Column:
    k = F.col("c_custkey")
    return (k * 37 + k * k * 13) % 1200 / 10.0 - 60.0


def _lon() -> Column:
    k = F.col("c_custkey")
    return (k * 73 + k * k * 29) % 3600 / 10.0 - 180.0


def _haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance, JVM-side trig only (codegen'd, no UDF)."""
    dphi = F.radians(lat2 - lat1) / 2
    dlmb = F.radians(lon2 - lon1) / 2
    a = F.sin(dphi) * F.sin(dphi) + F.cos(F.radians(lat1)) * F.cos(
        F.radians(lat2)
    ) * F.sin(dlmb) * F.sin(dlmb)
    return 2 * EARTH_R_KM * F.asin(F.sqrt(a))


def _haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return (
        f"2 * {EARTH_R_KM} * asin(sqrt("
        f"sin(radians(({lat2}) - ({lat1})) / 2) ^ 2"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * sin(radians(({lon2}) - ({lon1})) / 2) ^ 2))"
    )


@register(
    "fn_geo_haversine",
    oracle=f"""
    SELECT c_custkey, lat, lon,
           floor({_haversine_sql("51.4779", "0.0015", "lat", "lon")} * 10000
                 + 0.5) / 10000 AS dist_km
    FROM (SELECT c_custkey, {_LAT_SQL} AS lat, {_LON_SQL} AS lon
          FROM customer)
    """,
)
def fn_geo_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar great-circle distance (customer centroid -> Greenwich):
    pure built-in trig, whole-stage-codegen'd, shuffle-free — the
    distance column costs the same as any arithmetic projection at any
    scale. 4-decimal floor rounding on both sides (sub-meter)."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey", _lat().alias("lat"), _lon().alias("lon")
    )
    d = _haversine_km(F.lit(51.4779), F.lit(0.0015), F.col("lat"), F.col("lon"))
    return c.select(
        "c_custkey",
        "lat",
        "lon",
        round_dp(d, 4).alias("dist_km"),
    )


@register(
    "join_spatial_grid",
    oracle=f"""
    SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
           floor({_haversine_sql("a.lat", "a.lon", "b.lat", "b.lon")} * 10000
                 + 0.5) / 10000 AS dist_km
    FROM (SELECT c_custkey, {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM customer) a
    JOIN (SELECT c_custkey, {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM customer) b
      ON a.c_custkey < b.c_custkey
    WHERE {_haversine_sql("a.lat", "a.lon", "b.lat", "b.lon")} <= {RADIUS_KM}
    """,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius self-join (all customer pairs within 300 km) WITHOUT the
    n² comparison: the spatial analog of LSH bucketing.

    Each point gets a 6-degree grid cell; one side explodes to
    its 3x3 cell neighborhood (9x amplification of keys only), the
    pair candidates come from a plain equi-join on cell, and the exact
    haversine predicate runs only on candidates. Cell size >= radius in
    BOTH axes at every latitude in range (6 deg lon = 333 km at the
    |lat| <= 60 clamp), so any true pair shares or neighbors a cell —
    candidate recall is exact by construction, like the minhash band
    join. Longitude cells WRAP (mod 180 cells) so antimeridian pairs
    are not lost; haversine itself is wrap-safe.

    Scale: cost = sum of per-cell-pair products (data-density bound,
    like every spatial index), one shuffle per side; the oracle is the
    brute-force O(n²) twin, which is exactly the plan this operator
    exists to avoid."""
    pts = t(spark, sf_dir, "customer").select(
        "c_custkey", _lat().alias("lat"), _lon().alias("lon")
    )
    n_cx = int(360 / CELL_DEG)  # lon cell count before wrap
    cx = F.floor((F.col("lon") + 180.0) / CELL_DEG).cast("int")
    cy = F.floor((F.col("lat") + 90.0) / CELL_DEG).cast("int")
    a = (
        pts.withColumn("cx0", cx)
        .withColumn("cy0", cy)
        .withColumn("dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            F.col("c_custkey").alias("a_id"),
            F.col("lat").alias("a_lat"),
            F.col("lon").alias("a_lon"),
            (((F.col("cx0") + F.col("dx")) + n_cx) % n_cx).alias("cx"),
            (F.col("cy0") + F.col("dy")).alias("cy"),
        )
    )
    b = pts.select(
        F.col("c_custkey").alias("b_id"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
        cx.alias("cx"),
        cy.alias("cy"),
    )
    d = _haversine_km(
        F.col("a_lat"), F.col("a_lon"), F.col("b_lat"), F.col("b_lon")
    )
    return (
        a.join(b, ["cx", "cy"])
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("d_raw", d)
        .filter(F.col("d_raw") <= RADIUS_KM)
        .select(
            "a_id",
            "b_id",
            round_dp(F.col("d_raw"), 4).alias("dist_km"),
        )
    )
