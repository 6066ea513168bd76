"""tools/task_audit.py's PythonRDD count: the Python worker reads a
query's inputs cost, read from the plan without running it."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from fhir2sql_spark import registry
from fhir2sql_spark.sources.arrow_rows import arrow_frame
from tests.conftest import SF_MED
from tools.task_audit import python_rdds


def test_python_rdds_counts_pickled_row_inputs(spark):
    pickled = spark.createDataFrame([(1,), (2,)], "x int")
    arrow = arrow_frame(spark, StructType([StructField("x", IntegerType())]), [([1, 2],)])
    assert python_rdds(arrow) == 0
    assert python_rdds(pickled) == 1
    assert python_rdds(pickled.unionByName(spark.createDataFrame([(3,)], "x int"))) == 2
    assert python_rdds(arrow.join(F.broadcast(pickled), "x")) == 1
    assert python_rdds(arrow.where(F.col("x") < pickled.select(F.max("x")).scalar())) == 1


def test_driver_built_query_frames_read_no_python_worker(spark):
    """The queries whose results or broadcast sides are driver-held
    rows build them through Arrow, so reading them starts no Python
    worker."""
    registry.load_all()
    for name in (
        "q_embed_ivf_trained",
        "q_agg_kmv_jaccard",
        "q_bpe_merges",
        "q_sample_kcenter",
    ):
        assert python_rdds(registry.QUERIES[name](spark, SF_MED)) == 0, name
