"""Driver-built rows as Arrow local relations.

``spark.createDataFrame(list_of_tuples)`` plans as ``Scan ExistingRDD``
over a pickled PythonRDD: running it starts a Python worker pool of its
own just to unpickle a handful of rows. A ``pyarrow.Table`` plans as
``LocalTableScan`` instead — the rows ship inside the plan and no
Python worker runs. Every driver-side row list in the package (lineage
and meta commits, CC round markers, pack offsets, report rows, sink
manifests, catalogs) becomes a DataFrame through :func:`local_frame`.

Semantics follow ``createDataFrame(rows, schema)``: each row is checked
by the same type verifier (a ``str`` in a ``long`` column, a ``None``
in a non-nullable field or an ``int`` in a ``double`` column raises)
and converted by ``StructType.toInternal``, so a naive ``datetime`` is
read in the driver's local zone exactly as before and an aware one is
converted to UTC.
"""

from __future__ import annotations

from typing import Any, Iterable, Union

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(
    spark: SparkSession,
    rows: Iterable[Any],
    schema: Union[T.StructType, str],
) -> DataFrame:
    """``rows`` (tuples, ``Row``s or dicts) as a ``LocalTableScan``
    DataFrame of ``schema`` (a StructType or a DDL string such as
    ``"round long, done boolean"``)."""
    struct = (
        schema if isinstance(schema, T.StructType) else T.DataType.fromDDL(schema)
    )
    verify = T._make_type_verifier(struct)
    to_tuple = T._create_converter(struct)
    internal = []
    for row in rows:
        verify(row)
        internal.append(struct.toInternal(to_tuple(row)))
    arrow_schema = to_arrow_schema(struct)
    columns = [
        pa.array([r[i] for r in internal], type=field.type)
        for i, field in enumerate(arrow_schema)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow_schema), struct
    )
