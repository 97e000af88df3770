"""Elementwise operators: polarization math (E1-E5), dB + validity (E6/P2).

Reference semantics (studied, not copied):
  - sum/diff/ratio/n-diff/log-ratio: /root/reference/src/core/processing/ops.rs
    (zero-denominator guard ``|den| > 1e-10`` -> 0; log-ratio returns the
    *linear* ratio — the downstream dB conversion makes it 10*log10(a/b)).
  - dB conversion + mask: /root/reference/src/core/processing/pipeline.rs:8-40
    (``db = 10*log10(max(v, 1e-10))``, ``valid = db > -50``; invalid pixels are
    never dropped — they are excluded from statistics and forced to 0 on
    output).

All of these are pure column expressions: JVM-side, whole-stage-codegen
fusable, no shuffle. ``zip_bands`` is the relational form of the reference's
pixel-aligned band zip — an equi-join on (product_id,row,col), which Spark
executes shuffle-free when both sides share a partitioning, or as a local
zip when the bands live as columns of one frame (the fast path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sarpro_spark.types import DB_VALID_THRESHOLD, EPS_INTENSITY, PolarizationOperation

# --- column-level ops (operate on linear intensities) ---


def op_sum(a: Column, b: Column) -> Column:
    """E1: a + b (ops.rs:4)."""
    return a + b


def op_diff(a: Column, b: Column) -> Column:
    """E2: a - b (ops.rs:7)."""
    return a - b


def op_ratio(a: Column, b: Column) -> Column:
    """E3: a/b where |b| > 1e-10 else 0 (ops.rs:10-19)."""
    return F.when(F.abs(b) > F.lit(EPS_INTENSITY), a / b).otherwise(F.lit(0.0))


def op_n_diff(a: Column, b: Column) -> Column:
    """E4: (a-b)/(a+b) where |a+b| > 1e-10 else 0 (ops.rs:22-32)."""
    den = a + b
    return F.when(F.abs(den) > F.lit(EPS_INTENSITY), (a - b) / den).otherwise(F.lit(0.0))


def op_log_ratio(a: Column, b: Column) -> Column:
    """E5: identical to ratio on the linear domain (ops.rs:35-44); the dB
    conversion applied downstream turns it into 10*log10(a/b)."""
    return op_ratio(a, b)


POLARIZATION_OPS = {
    PolarizationOperation.SUM: op_sum,
    PolarizationOperation.DIFF: op_diff,
    PolarizationOperation.RATIO: op_ratio,
    PolarizationOperation.N_DIFF: op_n_diff,
    PolarizationOperation.LOG_RATIO: op_log_ratio,
}


def to_db(v: Column) -> Column:
    """E6: 10*log10(max(v, 1e-10)) (pipeline.rs:19-21)."""
    return F.lit(10.0) * F.log10(F.greatest(v.cast("double"), F.lit(EPS_INTENSITY)))


def valid_mask(db: Column) -> Column:
    """P2: db > -50 dB (pipeline.rs:23)."""
    return db > F.lit(DB_VALID_THRESHOLD)


def with_db_mask(df: DataFrame, v: str = "v") -> DataFrame:
    """Attach ``db`` and ``valid`` columns (E6 + P2) to a band frame."""
    db = to_db(F.col(v))
    return df.withColumn("db", db).withColumn("valid", valid_mask(F.col("db")))


def zip_bands(a: DataFrame, b: DataFrame, op: PolarizationOperation) -> DataFrame:
    """Pixel-aligned zip of two single-band frames (product_id,row,col,v).

    Relationally an equi-join on the pixel key followed by a projection —
    exactly what the reference's ndarray ``Zip`` does positionally. At scale:
    if both band frames come from the same source file this join is collapsed
    by reading both bands as columns of one scan; across files, pre-bucket
    both sides by product_id so the join is co-located and shuffle-free.
    """
    key = ["product_id", "row", "col"]
    joined = a.alias("a").join(b.alias("b"), on=key, how="inner")
    return joined.select(
        *key, POLARIZATION_OPS[op](F.col("a.v"), F.col("b.v")).alias("v")
    )
