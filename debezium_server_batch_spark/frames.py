"""Driver-built DataFrames that never start a Python worker.

``spark.createDataFrame(rows, schema)`` over a Python list parallelizes
pickled rows and converts them in a Python worker, so even
``createDataFrame([], schema)`` starts ``pyspark.daemon``. ``local_frame``
converts the rows to an Arrow table on the driver under the exact Spark
schema (names, types, nullability) and hands the Arrow batches to the
JVM, which decodes them itself. Replay, lookups and the CDC queries use
it for every frame they build from driver-side values.

The conversion is tied to the bundled Spark 4.1.2 internals:
``pyspark.sql.conversion.LocalDataToArrowConversion.convert`` (Spark
Connect's row converter; its ``use_large_var_types`` argument and value
checks are not public API) and ``pyspark.sql.pandas.types.to_arrow_schema``.
``tests/test_envelope.py::test_local_frame_round_trips_exact_schema``
guards both; it fails if a Spark upgrade changes their signature or
behaviour.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(spark: SparkSession, rows: Iterable, schema: T.StructType) -> DataFrame:
    """A DataFrame of ``rows`` (tuples, Rows or dicts) under ``schema``,
    decoded JVM-side from Arrow. Values follow ``createDataFrame``'s
    Python conventions: naive datetimes are local time, Decimals are
    rescaled to the column's scale, None in a non-nullable field raises."""
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = list(rows)
    if rows:
        table = LocalDataToArrowConversion.convert(rows, schema, use_large_var_types=False)
    else:
        table = to_arrow_schema(schema).empty_table()
    return spark.createDataFrame(table, schema)
