"""Single-slice DataFrames from tiny driver-side collections.

``spark.createDataFrame(small_list)`` parallelizes the rows into
``defaultParallelism`` PythonRDD slices. Evaluating that as one task
(``.coalesce(1)`` before a single-file write, or a broadcast build
that fuses the scan) computes every slice SEQUENTIALLY, and each
slice pays its own Python-runner round-trip — measured ~7 s for a
16-row centroid write on local[32] (OPTIMIZATION_r17.md, fix 1),
and the same pathology follows the core count on a real cluster.
Driver-side model/lookup tables are by definition tiny, so they
belong in ONE slice: one round-trip, one task, whatever downstream
does with them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def tiny_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """``createDataFrame`` for a small driver-side row list, pinned to
    a single partition (one Python-runner round-trip however the frame
    is consumed). Empty ``rows`` yield an empty single-slice frame with
    the declared schema."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )
