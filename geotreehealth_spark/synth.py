"""Deterministic geospatial views derived from the driver's TPC-H-ish parquet.

The geospatial fixture tables (stems / crowns / plots / tiles / lidar,
FIXTURES.md §2-§6) are not materialized in /root/testdata — so we *derive* them
from the tables that are (orders, lineitem, events) with pure integer/IEEE
arithmetic that evaluates bit-identically in Spark SQL and DuckDB. Each view is
defined ONCE as SQL text in the common dialect of both engines; the engine runs
it via ``spark.sql`` and the correctness oracle embeds the same text in a
DuckDB ``WITH`` clause. This gives the driver's value-hash comparison an exact
target with zero drift between the two derivations.

Shape mirrors the reference's data model (SURVEY.md §1 / FIXTURES.md):
- stems   ← orders   (field GPS points; ~15k rows at sf0.01)
- crowns  ← lineitem (delineated crown footprints; ~60k rows at sf0.01).
  For SQL-expressible geometry the crown footprint is the axis-aligned square
  of side 2*radius centered on (cx, cy); the irregular-polygon WKB path is
  exercised by the pytest parity suite (tests/test_pip.py etc.) where the
  oracle is numpy, not SQL.
- plots   ← generated 10x10 grid of 100 m boxes (get_polygons.py:615-623)
- tiles   ← generated 10x10 grid with 10 m overlap buffer (batch_sam.py:359,
  config.py:42)
- lidar   ← events (point cloud with z in [0, 35) m)

Skew (north_rule: "skew from dense forest plots"): 80% of entities have their
x-coordinate compressed into [0, 200) — a 5x-hot strip of cells — keyed on
``key % 5 < 4`` so stems, crowns and lidar cluster in the same region.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

EXTENT = 1000.0  # site frame is [0, EXTENT)^2 meters, like FIXTURES.md §2

# --- shared-dialect SQL (valid in BOTH Spark SQL and DuckDB) -----------------

STEMS_SQL = """
SELECT CAST(o_orderkey AS STRING) AS stem_tag,
       o_orderkey AS stem_key,
       CASE WHEN o_orderkey % 5 < 4
            THEN (((o_orderkey * 48271) % 1000000) / 1000e0) * 0.2e0
            ELSE ((o_orderkey * 48271) % 1000000) / 1000e0 END AS x,
       ((o_orderkey * 69621) % 1000000) / 1000e0 AS y,
       ((o_orderkey * 131) % 1500) / 10e0 AS dbh,
       CAST(2018 + (o_orderkey % 4) AS INT) AS year,
       o_orderpriority AS site_id,
       CASE o_orderstatus WHEN 'O' THEN 'A' WHEN 'P' THEN 'AU' ELSE 'D' END AS status,
       CAST(1 + (o_orderkey % 5) AS INT) AS crown_position,
       CASE WHEN o_orderkey % 7 = 0 THEN 'FAD' ELSE NULL END AS fad,
       CAST(o_orderkey % 2000 AS STRING) AS dup_tag
FROM orders
"""

# (l_orderkey, l_linenumber) is NOT unique in the driver's synthetic lineitem,
# so crowns are derived from the GROUP BY of that pair with MIN-aggregated
# attribute sources — crown_id is unique by construction in both engines.
CROWNS_SQL = """
SELECT CAST(l_orderkey * 10 + l_linenumber AS STRING) AS crown_id,
       l_orderkey * 10 + l_linenumber AS crown_key,
       CASE WHEN l_orderkey % 5 < 4
            THEN ((((l_orderkey * 48271 + l_linenumber * 7919) % 1000000) / 1000e0)) * 0.2e0
            ELSE (((l_orderkey * 48271 + l_linenumber * 7919) % 1000000) / 1000e0) END AS cx,
       ((l_orderkey * 69621 + l_linenumber * 104729) % 1000000) / 1000e0 AS cy,
       1e0 + ((pk % 70) / 10e0) AS radius,
       0.5e0 + ((sk % 5000) / 10000e0) AS score,
       CASE WHEN l_orderkey % 20 < 17 THEN CAST(l_orderkey AS STRING) ELSE NULL END AS stem_tag,
       (l_linenumber % 2) = 0 AS selected
FROM (SELECT l_orderkey, l_linenumber,
             MIN(l_partkey) AS pk, MIN(l_suppkey) AS sk
      FROM lineitem
      GROUP BY l_orderkey, l_linenumber)
"""

# bbox + area side-columns (SURVEY.md §4: "bbox columns stored alongside WKB so
# Catalyst can push range predicates")
CROWNS_BBOX_SQL = f"""
SELECT crown_id, crown_key, cx, cy, radius, score, stem_tag, selected,
       cx - radius AS xmin, cy - radius AS ymin,
       cx + radius AS xmax, cy + radius AS ymax,
       4e0 * radius * radius AS ca
FROM ({CROWNS_SQL})
"""

LIDAR_SQL = """
SELECT event_id AS point_id,
       CASE WHEN event_id % 5 < 4
            THEN (((event_id * 104729) % 1000000) / 1000e0) * 0.2e0
            ELSE ((event_id * 104729) % 1000000) / 1000e0 END AS x,
       ((event_id * 15485863) % 1000000) / 1000e0 AS y,
       ((event_id * 7919) % 35000) / 1000e0 AS z,
       CAST((event_id * 7127) % 65536 AS INT) AS red,
       CAST((event_id * 8191) % 65536 AS INT) AS green,
       CAST((event_id * 9973) % 65536 AS INT) AS blue
FROM events
"""

_PLOTS_BODY = """
SELECT CAST(i AS STRING) AS plot_id,
       (i % 10) * 100e0 AS pxmin,
       CAST(FLOOR(i / 10) AS BIGINT) * 100e0 AS pymin,
       (i % 10) * 100e0 + 100e0 AS pxmax,
       CAST(FLOOR(i / 10) AS BIGINT) * 100e0 + 100e0 AS pymax
FROM {gen}
"""

# 10x10 grid of 100 m tiles, 10 m overlap buffer on every side
# (batch_sam.py:359 split_raster(tile=1024, overlap) analog)
_TILES_BODY = """
SELECT CAST(i AS STRING) AS tile_id,
       i AS tile_key,
       (i % 10) * 100e0 - 10e0 AS txmin,
       CAST(FLOOR(i / 10) AS BIGINT) * 100e0 - 10e0 AS tymin,
       (i % 10) * 100e0 + 110e0 AS txmax,
       CAST(FLOOR(i / 10) AS BIGINT) * 100e0 + 110e0 AS tymax
FROM {gen}
"""

_SPARK_GEN = "(SELECT explode(sequence(0, 99)) AS i)"
_DUCK_GEN = "range(100) t(i)"

PLOTS_SQL_SPARK = _PLOTS_BODY.format(gen=_SPARK_GEN)
PLOTS_SQL_DUCK = _PLOTS_BODY.format(gen=_DUCK_GEN)
TILES_SQL_SPARK = _TILES_BODY.format(gen=_SPARK_GEN)
TILES_SQL_DUCK = _TILES_BODY.format(gen=_DUCK_GEN)


# per-table hash-repartition key (r6): partitioning each ingest by its
# primary key instead of round-robin (a) skips the local sort every keyless
# repartition pays (spark.sql.execution.sortBeforeRepartition) and (b) lets
# downstream aggregations/joins keyed by (a superset of) the key reuse the
# ingest exchange — the crowns view's GROUP BY (l_orderkey, l_linenumber)
# drops from two 600k-row shuffles to one (measured 1.56 s -> 0.48 s noop at
# sf0.1), and that derivation runs 1-2x inside ~20 of the 35 headline
# queries. Keys are near-unique per table, so the spread across partitions
# matches round-robin; values are partition-independent either way.
TABLE_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def register_tpch_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver parquet tables as temp views (idempotent).

    The driver fixtures are single-file single-row-group parquet, so the scan
    yields ONE partition no matter how many cores the session has — and every
    narrow chain glued to it (cell encode, explode, join map side) would run
    single-threaded (measured: crown-stem join scaling 0.45 at 4→16 cores
    purely from this). A tiny repartition to the session's parallelism after
    ingest restores the downstream parallelism a many-file 100-TB table would
    have natively; values are partition-independent. Partitioning is BY the
    table key (TABLE_KEYS) so key-compatible downstream exchanges are reused.

    Registration is memoized per (session, sf_dir) via a session conf marker
    (r6): a warm re-registration cost ~0.9 s of pure driver work (10 parquet
    footer reads + view plumbing) and ran 1-3x inside EVERY query entry. The
    memo stores no data and no results — only the view definitions — so every
    action still computes from the parquet inputs; switching sf_dir (or a new
    session) re-registers, and a dropped/shadow-replaced view is detected by
    the catalog existence check below and triggers re-registration. One
    assumption remains (review r6): the parquet FILES under sf_dir are
    immutable while a session lives — true for the read-only test fixtures;
    a session whose data dir is rewritten in place must register under a new
    path (or new session) to refresh the captured file listing.
    """
    marker = "spark.geotreehealth.tpchViewsDir"
    try:
        if spark.conf.get(marker, None) == sf_dir and all(
            spark.catalog.tableExists(name) for name in TPCH_TABLES
        ):
            return
    except Exception:  # noqa: BLE001 - conf read must never break ingest
        pass
    target = spark.sparkContext.defaultParallelism
    for name in TPCH_TABLES:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        key = TABLE_KEYS.get(name)
        part = df.repartition(target, key) if key else df.repartition(target)
        part.createOrReplaceTempView(name)
    spark.conf.set(marker, sf_dir)


def stems(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tpch_views(spark, sf_dir)
    return spark.sql(STEMS_SQL)


def crowns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crown table with bbox + area side-columns."""
    register_tpch_views(spark, sf_dir)
    return spark.sql(CROWNS_BBOX_SQL)


def plots(spark: SparkSession) -> DataFrame:
    return spark.sql(PLOTS_SQL_SPARK)


def tiles(spark: SparkSession) -> DataFrame:
    return spark.sql(TILES_SQL_SPARK)


def lidar(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tpch_views(spark, sf_dir)
    return spark.sql(LIDAR_SQL)


def oracle_with(*views: tuple[str, str]) -> str:
    """Compose a DuckDB WITH-clause prefix from (name, sql) pairs."""
    parts = ",\n".join(f"{name} AS ({sql})" for name, sql in views)
    return f"WITH {parts}\n"


# canonical (name, duckdb-sql) pairs for oracle composition
ORACLE_VIEWS = {
    "stems": STEMS_SQL,
    "crowns": CROWNS_BBOX_SQL,
    "plots": PLOTS_SQL_DUCK,
    "tiles": TILES_SQL_DUCK,
    "lidar": LIDAR_SQL,
}
