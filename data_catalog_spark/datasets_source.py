"""The bridge fixture: a deterministic `datasets` catalog derived from the
driver's star schema (FIXTURES.md §3).

The reference's own corpus is tool-generated (tools/local_index_setup.py:81-120:
cycled categories/orgs, derived titles/URIs, mixed visibility).  We apply the
same recipe to the driver-provided ``part`` table so catalog search / facet /
security queries can be oracle-checked: ONE portable SQL text (valid in both
Spark SQL and DuckDB) defines the table, so both engines derive bit-identical
inputs.

Portability rules used here: only ``||``, CASE, CAST(.. AS STRING/BIGINT),
lower, lpad, replace, floor and integer ``%`` — all identical in Spark SQL
and DuckDB.  No doubles flow into the output except via floor() (cast
truncation differs between engines; floor does not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .io import read_table

# Column recipe (mirrors the generator semantics of the reference dev corpus):
#   id          — part key (string, the ES _id)
#   title       — p_name ("cold widget"), english-analyzed full-text target
#   category    — p_brand lowered (~25 values; facet field, reference cycles 8)
#   dataSample  — CSV-header-ish text (reference: "ID,Something,OtherThing")
#   format      — cycled csv/json/parquet (filter + facet, matched lowercase)
#   recordCount — p_size * 100
#   size        — floor(p_retailprice) * 1024 bytes
#   sourceUri   — http URL whose uri_analyzer tokens come from p_name
#   targetUri   — hdfs URI with scheme + deep path (delete-cascade shape)
#   storeType   — 'hdfs' with some NULLs (physical-mapping-only field)
#   isPublic    — alternating visibility
#   orgUUID     — cycled org01/org02/org03 (reference: 3 orgs)
#   creationTime— ISO-8601 string spread across 2014 (range-filter target)
DATASETS_FROM_PART_SQL = """
SELECT
  CAST(p_partkey AS STRING)                                   AS id,
  p_name                                                      AS title,
  lower(p_brand)                                              AS category,
  'id,name,' || lower(p_type) || ',' || lower(p_brand)        AS dataSample,
  CASE p_partkey % 3 WHEN 0 THEN 'csv' WHEN 1 THEN 'json' ELSE 'parquet' END
                                                              AS format,
  CAST(p_size AS BIGINT) * 100                                AS recordCount,
  CAST(floor(p_retailprice) AS BIGINT) * 1024                 AS size,
  'http://www.catalog.com/' || replace(lower(p_name), ' ', '/')
                                                              AS sourceUri,
  'hdfs://namenode:8200/warehouse/' || lower(p_brand) || '/' ||
      CAST(p_partkey AS STRING) || '/000000_1'                AS targetUri,
  CASE WHEN p_partkey % 7 = 0 THEN CAST(NULL AS STRING) ELSE 'hdfs' END
                                                              AS storeType,
  p_partkey % 2 = 0                                           AS isPublic,
  'org0' || CAST(p_partkey % 3 + 1 AS STRING)                 AS orgUUID,
  '2014-' || lpad(CAST(p_partkey % 12 + 1 AS STRING), 2, '0') || '-' ||
      lpad(CAST(p_partkey % 28 + 1 AS STRING), 2, '0') || 'T' ||
      lpad(CAST(p_partkey % 24 AS STRING), 2, '0') || ':00:00'
                                                              AS creationTime
FROM part
"""

# DuckDB oracle prelude: the same table as a CTE over the pre-registered
# `part` view.
ORACLE_DATASETS_CTE = f"WITH datasets AS ({DATASETS_FROM_PART_SQL})"


def datasets_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the `datasets` DataFrame from ``{sf_dir}/part.parquet``."""
    read_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(DATASETS_FROM_PART_SQL)
