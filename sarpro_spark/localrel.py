"""Bounded local relations shipped to the JVM once (Arrow), not per action.

``spark.createDataFrame(list_of_rows)`` backs the DataFrame with an RDD of
PICKLED Python rows: every downstream action re-runs one Python worker task
per partition just to unpickle the same bounded rows. Measured on local[32]
(r13 optimization round): ~7 CPU-s and ~0.6 s wall PER ACTION for an
899-row grid relation, and the grid-shift roundtrip queries take ~10
actions over such relations per run (cell-build checkpoint, per-round
broadcast collects, the forward-shift build), so this hidden JVM<->Python
boundary — not codegen — dominated their CPU (~60 of ~70 s/run).

Building a :mod:`pyarrow` Table driver-side and handing THAT to
``createDataFrame`` yields a JVM ``LocalRelation`` (``LocalTableScan`` in
plans): the bytes cross the boundary exactly once at construction and
execution never touches a Python worker again (guide §4 — eliminate the
Python boundary; the relation is bounded dimension data by contract at
every call site, so materializing it driver-side is scale-safe).

Semantics are pinned by tests/test_localrel.py: ``None`` -> NULL and
``float('nan')`` -> NaN (pyarrow arrays keep the distinction; a pandas
route would conflate them), ints/doubles/strings/booleans/binary/
timestamps/dates/arrays round-trip identically to the pickle path.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructType, TimestampType


def local_relation(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: str | StructType,
) -> DataFrame:
    """Arrow-backed drop-in for ``spark.createDataFrame(rows, schema)`` on
    bounded driver-side row lists. Values land bit-identical to the pickle
    path; the physical source becomes a LocalTableScan (no Python at
    execution time).

    Timestamps (r14, ADVICE r13): ``pa.array`` would read a NAIVE datetime
    as UTC wall time while the pickle path's ``TimestampType.toInternal``
    interprets it in the driver's LOCAL timezone — divergent on any
    non-UTC driver. Timestamp columns therefore go through ``toInternal``
    itself (epoch micros) and are cast to the Arrow type, so the two paths
    agree BY CONSTRUCTION in every timezone. (No production call site
    passes timestamps today; the equivalence is pinned by
    tests/test_localrel.py.) A ``TimestampType`` nested in an array, map
    or struct would skip that fix, so such a field raises ``TypeError``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow_schema = to_arrow_schema(st)
    for sf in st.fields:
        if not isinstance(sf.dataType, TimestampType) and _has_timestamp(sf.dataType):
            raise TypeError(
                f"local_relation: field {sf.name!r} ({sf.dataType.simpleString()}) nests a "
                "timestamp; only top-level timestamp columns are supported"
            )
    rows = list(rows)
    if rows:
        cols = list(zip(*rows))
    else:
        cols = [[] for _ in arrow_schema]
    arrays = []
    for col, field, sf in zip(cols, arrow_schema, st.fields):
        if isinstance(sf.dataType, TimestampType):
            micros = [None if v is None else sf.dataType.toInternal(v) for v in col]
            arrays.append(pa.array(micros, type=pa.int64()).cast(field.type))
        else:
            arrays.append(pa.array(list(col), type=field.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema))


def _has_timestamp(dt: DataType) -> bool:
    if isinstance(dt, TimestampType):
        return True
    if isinstance(dt, ArrayType):
        return _has_timestamp(dt.elementType)
    if isinstance(dt, MapType):
        return _has_timestamp(dt.keyType) or _has_timestamp(dt.valueType)
    if isinstance(dt, StructType):
        return any(_has_timestamp(f.dataType) for f in dt.fields)
    return False
