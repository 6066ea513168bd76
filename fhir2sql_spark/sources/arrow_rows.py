"""Driver-held rows as a DataFrame, built through Arrow.

``spark.createDataFrame(list_of_rows)`` parallelizes the pickled rows
and converts them in a Python map, so EVERY read of that frame runs one
Python worker task per partition (each one pays the worker's start-up
import work, whatever its row count). An Arrow table crosses to the JVM
as record batches instead, and reading it runs no Python worker: up to
``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by default)
the JVM decodes the batches into a local relation (a
``LocalTableScan``), above it the frame is an RDD of the batches, one
partition per batch. Neither has a ``PythonRDD`` in its lineage.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def arrow_frame(
    spark: SparkSession,
    schema: StructType | str,
    column_batches: Iterable[Sequence[Sequence]],
) -> DataFrame:
    """A DataFrame of ``schema`` (a StructType or a DDL string) from
    batches of columns (one list of values per field). Batches are
    converted to Arrow as the iterable yields them, so a generator
    never holds more than one batch as Python objects; no batches
    gives an empty frame of ``schema``."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_batches(
        (pa.record_batch(list(cols), schema=arrow_schema) for cols in column_batches),
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
