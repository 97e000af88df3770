"""Data model: test-table loaders + the synthetic band frame.

The raster model (SURVEY §1.1): a *band frame* is a DataFrame with columns
``(product_id int, band string, row int, col int, v double)`` — the per-pixel
long format used for oracle-verifiable correctness, with ``product_id`` as the
natural partitioning key (one product ≙ one work unit, as in the reference's
batch loop ``/root/reference/src/api/mod.rs:474-536``).

Because the driver's testdata has no raster tables, the deterministic
``synthetic band frame`` is derived from ``lineitem``: pixels are laid out in
row-major order per product (row_number over a unique key), 64 columns wide,
with two co-registered bands (vv from extendedprice, vh from quantity). The
identical derivation is expressed as the ``PX_CTE`` SQL fragment so every
raster operator has a DuckDB-checkable analog.

Inside a per-product pandas task a band is a dense 2-D array (the reference's
``Array2<f32>``); between tasks it is the long pixel frame ``(keys..., row,
col, values...)``. The pixel-grid codec at the end of this module
(:func:`keyed_schema`, :func:`to_grid`, :func:`to_rows`) is the one
conversion between the two.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: number of synthetic products the lineitem pixels are sharded into.
#: 32 == local core count so raster work parallelizes fully (one product is
#: the unit of work, as in the reference's batch loop).
N_PRODUCTS = 32
#: synthetic image width (columns)
GRID_WIDTH = 64


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is TIMESTAMP(NANOS) parquet, which Spark's reader rejects;
        # read the raw int64 nanos and convert (integer DIV — a double divide
        # would lose precision above 2^53).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


#: memoized cached band frames per (session, sf_dir) — the grid derivation is
#: a window over lineitem and nearly every raster query reads it (often more
#: than once per plan); caching it is the moral equivalent of a materialized
#: staging table. ~20 MB at sf0.1.
_BAND_FRAME_CACHE: dict[tuple[int, str], DataFrame] = {}


def band_frame(spark: SparkSession, sf_dir: str, cache: bool = True) -> DataFrame:
    """Wide synthetic band frame: (product_id, row, col, vv, vh).

    Deterministic pixel grid from lineitem; must stay in lock-step with
    :data:`PX_CTE`. At scale the analogous frame comes straight from a
    parquet scan partitioned by product_id — the window here only exists to
    manufacture a grid from relational rows.
    """
    key = (id(spark), sf_dir)
    if cache and key in _BAND_FRAME_CACHE:
        return _BAND_FRAME_CACHE[key]
    li = load_table(spark, sf_dir, "lineitem")
    pid = (F.col("l_orderkey") % F.lit(N_PRODUCTS)).cast("int")
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data; the
    # extra keys make tied rows carry identical (vv, vh) so the pixel
    # assignment is deterministic as a multiset across engines.
    w = Window.partitionBy(pid).orderBy(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"
    )
    rn = F.row_number().over(w)
    out = li.select(
        pid.alias("product_id"),
        F.floor((rn - F.lit(1)) / F.lit(GRID_WIDTH)).cast("int").alias("row"),
        ((rn - F.lit(1)) % F.lit(GRID_WIDTH)).cast("int").alias("col"),
        (F.col("l_extendedprice") / F.lit(1000.0)).alias("vv"),
        F.col("l_quantity").cast("double").alias("vh"),
    )
    if cache:
        out = out.cache()
        _BAND_FRAME_CACHE[key] = out
    return out


def band_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-format band frame: (product_id, band, row, col, v)."""
    wide = band_frame(spark, sf_dir)
    vv = wide.select("product_id", F.lit("vv").alias("band"), "row", "col", F.col("vv").alias("v"))
    vh = wide.select("product_id", F.lit("vh").alias("band"), "row", "col", F.col("vh").alias("v"))
    return vv.unionByName(vh)


def single_band(spark: SparkSession, sf_dir: str, band: str) -> DataFrame:
    """One band as (product_id, row, col, v)."""
    wide = band_frame(spark, sf_dir)
    return wide.select("product_id", "row", "col", F.col(band).alias("v"))


#: SQL twin of :func:`band_frame` — prepend to oracle queries as a WITH clause.
PX_CTE = f"""
px AS (
  SELECT
    CAST(l_orderkey % {N_PRODUCTS} AS INTEGER) AS product_id,
    CAST(FLOOR((rn - 1) / {GRID_WIDTH}) AS INTEGER) AS row,
    CAST((rn - 1) % {GRID_WIDTH} AS INTEGER) AS col,
    l_extendedprice / 1000.0 AS vv,
    CAST(l_quantity AS DOUBLE) AS vh
  FROM (
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity,
           ROW_NUMBER() OVER (
             PARTITION BY CAST(l_orderkey % {N_PRODUCTS} AS INTEGER)
             ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity
           ) AS rn
    FROM lineitem
  ) t
)
""".strip()


# --- pixel-grid codec: long pixel frame <-> dense per-product array ----------


def keyed_schema(df: DataFrame, keys: list[str], fields: str) -> StructType:
    """Output schema of a per-product task: ``df``'s key fields, then
    ``fields`` as a DDL string such as ``"row int, col int, q int"``."""
    return StructType([df.schema[k] for k in keys] + StructType.fromDDL(fields).fields)


def to_grid(pdf: pd.DataFrame, names: list[str], dtype=np.float64) -> np.ndarray:
    """Pixel rows -> zero-filled dense array sized by the row/col maxima:
    ``(rows, cols)`` for one value column, ``(rows, cols, k)`` for k."""
    r, c = pdf["row"].to_numpy(), pdf["col"].to_numpy()
    grid = np.zeros((int(r.max()) + 1, int(c.max()) + 1, len(names)), dtype=dtype)
    for i, name in enumerate(names):
        grid[r, c, i] = pdf[name].to_numpy()
    return grid[:, :, 0] if len(names) == 1 else grid


def to_rows(keys: dict, names: list[str], values: np.ndarray, at=None) -> pd.DataFrame:
    """Array -> pixel rows ``(keys..., row, col, names...)``. Without ``at``,
    ``values`` is a dense array shaped as :func:`to_grid` returns and every
    cell is emitted in row-major order; with ``at=(rows, cols)``, ``values``
    holds one entry (or one row of k) per position. Each key is a scalar or
    a per-row array."""
    if at is None:
        at = np.divmod(np.arange(values.shape[0] * values.shape[1]), values.shape[1])
    flat = values.reshape(len(at[0]), len(names))
    return pd.DataFrame(
        {**keys, "row": at[0].astype(np.int32), "col": at[1].astype(np.int32)}
        | {name: flat[:, i] for i, name in enumerate(names)}
    )
