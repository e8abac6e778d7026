"""Small frames built from driver-held rows.

``spark.createDataFrame(<python list>)`` plans as ``sc.parallelize`` plus
a Python ``map``: every job that reads such a frame runs
``defaultParallelism`` Python tasks, each with a fixed worker setup cost
that dwarfs a request-sized frame.  Handing Spark an Arrow table instead
plans as a ``LocalRelation``: the rows travel with the plan, and no job
or Python worker touches them.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: Iterable, schema: str | StructType
) -> DataFrame:
    """``rows`` (tuples, lists, dicts or Rows) under ``schema`` (DDL
    string or StructType) as an Arrow-backed ``LocalRelation``.

    Same schema and rows as ``spark.createDataFrame(rows, schema)``:
    values go through the schema's own ``toInternal`` first, so
    timestamps and dates are encoded exactly as the list path encodes
    them (naive datetimes read in the driver's local zone, then stored
    as UTC instants)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    internal = [struct.toInternal(r) for r in rows]
    columns = list(zip(*internal)) if internal else [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)
