"""The one bounded driver fast path shared by the iterative operators.

Connected components (:func:`graph.connected_components_star`), PageRank
(:func:`graph.pagerank`) and the BPE frontier trainer
(:func:`textops._bpe_train_frontier`) all iterate over a frame that is
usually tiny next to the corpus: a deduplicated edge set, a word
vocabulary.  When it fits under :data:`DRIVER_ROWS_MAX` rows they collect
it once and finish in Python instead of paying one or more Spark jobs per
round; above the bound their distributed loops run unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType

#: Row bound for the driver fast path.  65 536 rows of an edge pair or a
#: (word, cnt, seq) triple is about a megabyte on the driver.  Read at
#: call time, so setting it to 0 forces every distributed loop
#: (``tools/oracle_check.py --distributed`` and the tests do).
DRIVER_ROWS_MAX = 65_536


def collect_if_small(df: DataFrame) -> list[Row] | None:
    """``df.collect()`` when ``df`` has at most :data:`DRIVER_ROWS_MAX`
    rows, else ``None``.  The ``count()`` runs first, so ``df`` should be
    checkpointed (or cheap): the collect then reads what the count
    materialized."""
    if df.count() <= DRIVER_ROWS_MAX:
        return df.collect()
    return None


def local_frame(
    spark: SparkSession, columns: list[list], schema: StructType
) -> DataFrame:
    """A local frame of driver-side ``columns`` (one list per field of
    ``schema``, in order), shipped to the JVM as one Arrow table, so
    acting on it starts no Python worker (``createDataFrame`` over a
    list of rows pickles them into an RDD that a Python worker converts
    at action time)."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table(dict(zip(schema.fieldNames(), columns))), schema
    )
