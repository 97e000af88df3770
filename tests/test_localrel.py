"""local_relation (Arrow-backed bounded local relations) semantics.

The r13 optimization round replaced ``spark.createDataFrame(rows, schema)``
with :func:`sarpro_spark.localrel.local_relation` at every bounded
local-relation call site: the pickle path backs the DataFrame with an RDD
of pickled Python rows and re-runs one Python worker task per partition on
EVERY downstream action (measured ~7 CPU-s per action for an 899-row grid
on local[32]); the Arrow path ships the bytes to a JVM LocalRelation once.
These tests pin the equivalence contract the switch relies on: identical
values (None vs NaN distinction included), identical schema, and the
LocalTableScan physical source.
"""

from __future__ import annotations

import datetime
import math

import pytest

from sarpro_spark.localrel import local_relation


def _rows_equal(spark, rows, schema):
    """Assert pickle-path and arrow-path DataFrames are value-identical."""
    a = local_relation(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema == b.schema
    # exceptAll distinguishes NULL from NaN and respects multiplicity
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    return a


def test_scalar_types_match_pickle_path(spark):
    rows = [
        (1, 2.5, "a", True, b"\x00\xff"),
        (2, float("nan"), None, None, None),
        (None, None, "c", False, b""),
    ]
    df = _rows_equal(spark, rows, "i int, x double, s string, b boolean, bin binary")
    out = {r["i"]: r for r in df.collect()}
    # NaN stays NaN (not NULL) and NULL stays NULL — the distinction a
    # pandas-based conversion would destroy
    assert math.isnan(out[2]["x"])
    assert out[None]["x"] is None


def test_temporal_and_array_types(spark):
    rows = [
        (datetime.datetime(2024, 1, 1, 12, 30), datetime.date(2024, 2, 2), [1.0, 2.0]),
        (None, None, None),
    ]
    _rows_equal(spark, rows, "ts timestamp, d date, v array<double>")


def test_timestamps_use_tointernal_micros(spark):
    """r14 (ADVICE r13): naive datetimes must cross the Arrow boundary as
    ``TimestampType.toInternal`` epoch micros — the exact value the pickle
    path ships — not as pa.array's assumes-UTC wall-time reading, which
    diverges on any non-UTC driver. Pin the lock-step at the Arrow layer
    (the DataFrame-level equality above only covers the UTC test env)."""
    from pyspark.sql.types import TimestampType

    t = TimestampType()
    vals = [datetime.datetime(2024, 1, 1, 12, 30, 5, 123456), None]
    df = local_relation(spark, [(v,) for v in vals], "ts timestamp")
    got = [r["ts"] for r in df.collect()]
    # round-trip through toInternal/fromInternal == pickle-path semantics
    assert got[0] == t.fromInternal(t.toInternal(vals[0]))
    assert got[1] is None


@pytest.mark.parametrize("ddl", [
    "id int, ts array<timestamp>",
    "id int, ts map<string, timestamp>",
    "id int, ts struct<at: timestamp, n: int>",
    "id int, ts array<struct<at: timestamp>>",
])
def test_nested_timestamps_rejected(spark, ddl):
    """A timestamp inside an array, map or struct would bypass the
    ``toInternal`` fix above, so it is refused by field name up front."""
    with pytest.raises(TypeError, match="field 'ts'"):
        local_relation(spark, [], ddl)


def test_empty_rows(spark):
    df = local_relation(spark, [], "i int, s string")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["i", "s"]


def test_physical_source_is_local_table_scan(spark):
    """The point of the switch: no RDD of pickled rows, no Python worker
    at execution time — the plan scans a JVM LocalRelation."""
    df = local_relation(spark, [(1, 2.0)], "i int, x double")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_grid_relation_bit_identical(spark):
    """The heaviest call-site family: the synthetic NTv2 grid must come out
    bit-identical to the pickle path (the oracle hashes every downstream
    coordinate to 1e-8 deg)."""
    from sarpro_spark.operators.gridshift import synthetic_grid_rows

    rows = synthetic_grid_rows()
    _rows_equal(spark, rows, "i int, j int, dlat_sec double, dlon_sec double")
