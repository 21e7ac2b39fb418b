"""One row seam: per-row Python work behind a DataFrame.

``map_rows(df, fn, schema)`` runs ``fn(row: dict) -> dict`` on the
executors, once per input row, and returns a DataFrame of ``schema``.
It owns the batch plumbing of the per-row codec/media queries (pandas
batch in, one dict per row, pandas batch out), so the batch transport
is chosen in this one place.

Inputs arrive as plain Python values: ``int`` for integral columns,
``bytes`` for binary, ``str`` for strings and ``None`` for NULL
(a NULL in a double column arrives as ``nan``: the pandas batch cannot
tell the two apart). Each output batch is built with the schema's
column names in schema order, so an empty batch or a dict whose key
order differs cannot misalign columns; a missing key is NULL and a key
outside the schema is dropped.

``map_rows`` does not repartition: callers that need the Python stage
spread over the cluster pre-partition the input themselves (see
:mod:`.spread`).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import IntegralType, StructType


def map_rows(df: DataFrame, fn: Callable[[dict], dict],
             schema: str | StructType) -> DataFrame:
    names = (schema if isinstance(schema, StructType)
             else StructType.fromDDL(schema)).names
    integral = {f.name for f in df.schema.fields
                if isinstance(f.dataType, IntegralType)}

    def run(batches):
        for pdf in batches:
            keys = list(pdf.columns)
            cols = [_values(pdf[k], k in integral) for k in keys]
            rows = [fn(dict(zip(keys, vals))) for vals in zip(*cols)]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, schema)


def _values(col: pd.Series, integral: bool) -> list:
    vals = col.tolist()
    if integral and col.dtype.kind == "f":
        # Arrow hands a nullable integral column with NULLs to pandas
        # as float64 with NaN holes.
        return [None if v != v else int(v) for v in vals]
    return vals
