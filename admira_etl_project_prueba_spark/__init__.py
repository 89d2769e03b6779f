"""admira_etl_project_prueba_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference ETL service ``crisXD96/admira-etl-project-prueba``
(a single-process Go marketing/CRM consolidation pipeline), extended with the
data-pipeline operators a 100 TB training-data workload needs (deduplication,
similarity search, text analysis, multimodal columns).

Design stance (see docs/SCALE.md):

* DataFrame/SQL only — every operator is a declarative Catalyst plan; no RDDs.
* All reference semantics (union-aggregate consolidation, guarded ratio math,
  flexible date parsing, channel inference, deterministic pagination) compile
  to built-in ``pyspark.sql.functions`` — zero row-at-a-time Python in the
  hot path.
* Python UDFs appear only where built-ins genuinely cannot express the
  semantics (multimodal decode plumbing), and then as Arrow-batched
  ``mapInPandas``/``pandas_udf``.
* The fact store is date-partitioned Parquet with idempotent upsert-by-key,
  so re-ingest does not duplicate facts; every write commits an immutable
  version, so readers never see a half-written store.
"""

__version__ = "0.1.0"

from admira_etl_project_prueba_spark.session import get_spark  # noqa: F401
