"""The testdata table loaders declare every table's schema: the declared
schemas are exactly what Spark infers from the files (the shipped
fixture and ``tools/gen_testdata.py`` output alike), and building a
frame, or a catalog query on top of it, starts no Spark job."""

from __future__ import annotations

import pytest

from admira_etl_project_prueba_spark.plans.catalog import CATALOG
from admira_etl_project_prueba_spark.sources.tables import TABLE_NAMES, load_table

#: the catalog_mix entries whose construction is table loads only
#: (trade_pagerank counts and collects its edge set to build, or above
#: the driver bound checkpoints its rounds; its job counts are pinned in
#: tests/test_graph.py)
_LOAD_ONLY_ENTRIES = [
    "ingest_consolidate",
    "metrics_by_channel_page1",
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q18_large_volume_customers",
]


def _assert_declared_schemas_match(spark, sf_dir):
    for name in TABLE_NAMES:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        declared = load_table(spark, sf_dir, name).schema
        assert declared == inferred, (name, declared, inferred)


def test_declared_schemas_match_the_fixture(spark, sf_dir):
    _assert_declared_schemas_match(spark, sf_dir)


def test_declared_schemas_match_generated_testdata(spark, tmp_path):
    """The generator behind perfbench and the scale tools writes the
    declared schemas, so a drifted generator fails here rather than in a
    scan at action time."""
    from tools.gen_testdata import generate

    generate(0.001, str(tmp_path), seed=42)
    _assert_declared_schemas_match(spark, str(tmp_path))


def test_loading_a_table_starts_no_job(spark, sf_dir, jobs_started):
    for name in TABLE_NAMES:
        _, jobs = jobs_started(spark, lambda: load_table(spark, sf_dir, name))
        assert jobs == [], name


@pytest.mark.parametrize("name", _LOAD_ONLY_ENTRIES)
def test_building_a_catalog_query_starts_no_job(spark, sf_dir, jobs_started, name):
    df, jobs = jobs_started(spark, lambda: CATALOG[name].fn(spark, sf_dir))
    assert jobs == [], (name, jobs)
    assert df.columns
