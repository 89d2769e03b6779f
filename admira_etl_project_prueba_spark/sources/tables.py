"""Loaders for the driver's deterministic parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings, one parquet file per table under ``{sf_dir}/``.

Scale note: each loader is a ``spark.read.parquet`` — columnar,
vectorized, filter-pushdown-capable.  On a real 100 TB layout these would be
directories of many files (possibly date-partitioned); the API is unchanged.

Every table's schema is declared (``TABLE_SCHEMAS``, the schema Spark
infers from the files), so building a frame starts no Spark job: an
undeclared read runs one schema-inference job per table before the
query's own action.  ``orders.o_orderdate``, ``lineitem.l_shipdate`` and
``events.ts`` are parquet ``TIMESTAMP(MICROS)`` without UTC adjustment,
read as ``TIMESTAMP_NTZ``; the ``*key`` columns keep the files' mixed
INT/BIGINT types.  A file that drifts from its declared schema fails the
scan at action time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from admira_etl_project_prueba_spark.session import apply_runtime_confs

#: DDL schema of every testdata table, in file column order
TABLE_SCHEMAS: dict[str, str] = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    ),
    "supplier": (
        "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double"
    ),
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, "
        "o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp_ntz"
    ),
    "events": (
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string"
    ),
    "documents": (
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint"
    ),
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

TABLE_NAMES = list(TABLE_SCHEMAS)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` under ``sf_dir``, scanned with its declared schema."""
    apply_runtime_confs(spark)
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(
        f"{sf_dir}/{name}.parquet"
    )


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events, with ``ts`` a microsecond TIMESTAMP_NTZ."""
    return load_table(spark, sf_dir, "events")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table as a dict of DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Expose every table as a temp view — the engine's SQL front door.

    After this, any ANSI query runs via ``spark.sql(...)`` with the same
    Catalyst plans (pushdown, pruning, AQE) as the DataFrame API; the two
    surfaces are the same engine.  In production these would be catalog
    tables (Hive/Unity/Glue) — the query text is unchanged.
    """
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
