"""Sink/batch-surface queries: W4 worldfile, W6 metadata labels, A9 batch
report — oracle-checked string/metadata operators (SURVEY §2.7, §2.4 A9)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sarpro_spark import frames
from sarpro_spark.frames import PX_CTE
from sarpro_spark.operators import elementwise as ew
from sarpro_spark.queries import query
from sarpro_spark.sinks import writers as w
from sarpro_spark.types import DB_VALID_THRESHOLD, EPS_INTENSITY


# --- W6: operation-aware polarization labels ---------------------------------

_LABEL_SQL = f"""
WITH prods AS (
  SELECT DISTINCT CAST(l_orderkey % {frames.N_PRODUCTS} AS INTEGER) AS product_id FROM lineitem
),
meta AS (
  SELECT product_id,
         CASE product_id % 3 WHEN 0 THEN 'VV,VH' WHEN 1 THEN 'HH,HV' ELSE 'VV' END AS pols,
         CASE product_id % 6 WHEN 0 THEN 'sum' WHEN 1 THEN 'difference' WHEN 2 THEN 'ratio'
              WHEN 3 THEN 'normalized_diff' WHEN 4 THEN 'log_ratio' ELSE NULL END AS operation
  FROM prods
)
SELECT product_id, pols, operation,
  CASE
    WHEN operation = 'multiband_vv_vh' THEN 'MULTIBAND(VV, VH)'
    WHEN operation = 'multiband_hh_hv' THEN 'MULTIBAND(HH, HV)'
    WHEN operation = 'sum' THEN
      CASE WHEN pols LIKE '%VV%' AND pols LIKE '%VH%' THEN 'SUM(VV, VH)'
           WHEN pols LIKE '%HH%' AND pols LIKE '%HV%' THEN 'SUM(HH, HV)' ELSE pols END
    WHEN operation = 'difference' THEN
      CASE WHEN pols LIKE '%VV%' AND pols LIKE '%VH%' THEN 'DIFF(VV, VH)'
           WHEN pols LIKE '%HH%' AND pols LIKE '%HV%' THEN 'DIFF(HH, HV)' ELSE pols END
    WHEN operation = 'ratio' THEN
      CASE WHEN pols LIKE '%VV%' AND pols LIKE '%VH%' THEN 'RATIO(VV, VH)'
           WHEN pols LIKE '%HH%' AND pols LIKE '%HV%' THEN 'RATIO(HH, HV)' ELSE pols END
    WHEN operation = 'normalized_diff' THEN
      CASE WHEN pols LIKE '%VV%' AND pols LIKE '%VH%' THEN 'NORM_DIFF(VV, VH)'
           WHEN pols LIKE '%HH%' AND pols LIKE '%HV%' THEN 'NORM_DIFF(HH, HV)' ELSE pols END
    WHEN operation = 'log_ratio' THEN
      CASE WHEN pols LIKE '%VV%' AND pols LIKE '%VH%' THEN 'LOG_RATIO(VV, VH)'
           WHEN pols LIKE '%HH%' AND pols LIKE '%HV%' THEN 'LOG_RATIO(HH, HV)' ELSE pols END
    ELSE pols
  END AS label
FROM meta
""".strip()


@query("metadata_polarization_label", sql=_LABEL_SQL, tags=("sink", "string"))
def q_metadata_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 (metadata.rs:40-113): operation-aware polarization label — pure
    string/conditional projection."""
    li = frames.load_table(spark, sf_dir, "lineitem")
    prods = li.select((F.col("l_orderkey") % frames.N_PRODUCTS).cast("int").alias("product_id")).distinct()
    pols = (
        F.when(F.col("product_id") % 3 == 0, "VV,VH")
        .when(F.col("product_id") % 3 == 1, "HH,HV")
        .otherwise("VV")
    )
    op = (
        F.when(F.col("product_id") % 6 == 0, "sum")
        .when(F.col("product_id") % 6 == 1, "difference")
        .when(F.col("product_id") % 6 == 2, "ratio")
        .when(F.col("product_id") % 6 == 3, "normalized_diff")
        .when(F.col("product_id") % 6 == 4, "log_ratio")
        .otherwise(F.lit(None).cast("string"))
    )
    meta = prods.select("product_id", pols.alias("pols"), op.alias("operation"))
    return meta.withColumn("label", w.polarization_label_expr(F.col("pols"), F.col("operation")))


# --- A9: batch report --------------------------------------------------------

_BATCH_SQL = f"""
WITH {PX_CTE},
per_product AS (
  SELECT product_id,
         AVG(CASE WHEN 10.0 * LOG10(GREATEST(vv, {EPS_INTENSITY!r})) > {DB_VALID_THRESHOLD!r}
                  THEN 1.0 ELSE 0.0 END) AS valid_frac,
         COUNT(*) AS n_px
  FROM px GROUP BY product_id
),
statused AS (
  SELECT product_id,
         CASE WHEN n_px < 100 THEN 'error: too few pixels'
              WHEN valid_frac <= 0.5 THEN 'skipped: mostly invalid'
              ELSE 'ok' END AS status
  FROM per_product
)
SELECT CASE WHEN status = 'ok' THEN 'processed'
            WHEN status LIKE 'skip%' THEN 'skipped'
            ELSE 'errors' END AS outcome,
       COUNT(*) AS n
FROM statused GROUP BY 1
""".strip()


@query("batch_report", sql=_BATCH_SQL, tags=("sink", "batch"))
def q_batch_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (api/mod.rs:474-536): per-product viability -> status -> grouped
    BatchReport counters (the distributed accumulator)."""
    from sarpro_spark.plans.pipeline import batch_status

    px = frames.single_band(spark, sf_dir, "vv")
    valid = ew.valid_mask(ew.to_db(F.col("v")))
    per_product = px.groupBy("product_id").agg(
        F.avg(F.when(valid, 1.0).otherwise(0.0)).alias("valid_frac"),
        F.count(F.lit(1)).alias("n_px"),
    )
    statused = per_product.select(
        "product_id",
        F.when(F.col("n_px") < 100, "error: too few pixels")
        .when(F.col("valid_frac") <= 0.5, "skipped: mostly invalid")
        .otherwise("ok")
        .alias("status"),
    )
    return batch_status(statused)


# --- W4: worldfile sidecar ---------------------------------------------------

_WORLDFILE_SQL = f"""
WITH prods AS (
  SELECT DISTINCT CAST(l_orderkey % {frames.N_PRODUCTS} AS INTEGER) AS product_id FROM lineitem
),
gt AS (
  SELECT product_id,
         CAST(product_id AS DOUBLE) * 128.0 AS gt0, 10.5 AS gt1, 0.25 AS gt2,
         CAST(product_id AS DOUBLE) * -64.0 AS gt3, -0.5 AS gt4, -10.25 AS gt5
  FROM prods
)
SELECT product_id,
  printf('%.12f', gt1) || chr(10) || printf('%.12f', gt4) || chr(10) ||
  printf('%.12f', gt2) || chr(10) || printf('%.12f', gt5) || chr(10) ||
  printf('%.12f', gt0 + 0.5 * gt1 + 0.5 * gt2) || chr(10) ||
  printf('%.12f', gt3 + 0.5 * gt4 + 0.5 * gt5) AS worldfile
FROM gt
""".strip()


@query("worldfile_sidecar", sql=_WORLDFILE_SQL, tags=("sink", "string"))
def q_worldfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 (worldfile.rs:33-52): geotransform -> 6-line pixel-center world file
    content (dyadic test values keep %.12f identical across engines)."""
    li = frames.load_table(spark, sf_dir, "lineitem")
    prods = li.select((F.col("l_orderkey") % frames.N_PRODUCTS).cast("int").alias("product_id")).distinct()
    gt = prods.select(
        "product_id",
        (F.col("product_id").cast("double") * 128.0).alias("gt0"),
        F.lit(10.5).alias("gt1"),
        F.lit(0.25).alias("gt2"),
        (F.col("product_id").cast("double") * -64.0).alias("gt3"),
        F.lit(-0.5).alias("gt4"),
        F.lit(-10.25).alias("gt5"),
    )
    return gt.select("product_id", w.worldfile_expr().alias("worldfile"))


# --- W1/W2 + S4: GeoTIFF write -> read-back roundtrip certification ----------

# The oracle is the standard-A2 U8 autoscale SQL itself (plus the derived
# second band): a value-hash match therefore proves the TIFF write -> decode
# path is PIXEL-IDENTICAL — the encode/decode cancels exactly or the hash
# fails. Certifies W1/W2 (2-sample u8 write), S4 (decode), and the W7 embed
# guard (non-identity north-up geotransform embedded per product).


def _tiff_rt_sql() -> str:
    from sarpro_spark.operators import autoscale as asc
    from sarpro_spark.queries_raster import _KEYS, _VV_SRC_CTE
    from sarpro_spark.types import BitDepth

    u8 = asc.oracle_autoscale_sql(_VV_SRC_CTE, ["product_id"], _KEYS, "standard-a2", BitDepth.U8)
    return f"SELECT t.product_id, t.row, t.col, t.q, 255 - t.q AS q_inv FROM (\n{u8}\n) t"


@query("tiff_roundtrip", sql=_tiff_rt_sql(), tags=("sink", "tiff", "kernel"))
def q_tiff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2/S4 end-to-end (tiff.rs:6-78, sentinel1.rs:885-911): per-product
    U8 pipeline -> 2-band GeoTIFF written executor-side (W7 geotransform
    embed) -> decoded back -> pixel frame. Products cycle through the four
    codec paths (none / DEFLATE / LZW / PackBits by product_id % 4) AND
    alternate strip/tiled organization (by product_id % 2) — one hash row
    certifies every compression x layout the codec supports (reference
    parity: GDAL reads any compression and tiled S1 measurement rasters
    transparently, gdal.rs:107-141). Write and read are stages of ONE lazy
    plan (read tasks consume the write manifest)."""
    import tempfile

    import sarpro_spark.operators.kernel as krn
    from sarpro_spark.types import BitDepth

    px = frames.single_band(spark, sf_dir, "vv")
    u8 = krn.single_band_kernel(px, ["product_id"], "standard-a2", BitDepth.U8)
    two = u8.select(
        "product_id",
        "row",
        "col",
        F.col("q"),
        (F.lit(255) - F.col("q")).alias("q_inv"),
        (F.col("product_id").cast("double") * 128.0).alias("gt0"),
        F.lit(10.5).alias("gt1"),
        F.lit(0.0).alias("gt2"),
        (F.col("product_id").cast("double") * -64.0).alias("gt3"),
        F.lit(0.0).alias("gt4"),
        F.lit(-10.25).alias("gt5"),
        F.when(F.col("product_id") % 4 == 0, "none")
        .when(F.col("product_id") % 4 == 1, "deflate")
        .when(F.col("product_id") % 4 == 2, "lzw")
        .otherwise("packbits")
        .alias("comp"),
        # layout alternates strip/tiled (TIFF 6.0 section 15) so the one
        # hash row certifies every codec x organization combination
        (F.col("product_id") % 2 == 1).alias("tiled"),
    )
    out_dir = tempfile.mkdtemp(prefix="sarpro_tiff_rt_")
    manifest = w.write_geotiffs(
        two, out_dir, ["product_id"], ["q", "q_inv"], bits=8,
        gt_cols=("gt0", "gt1", "gt2", "gt3", "gt4", "gt5"),
        compression_col="comp", tiled_col="tiled",
    )
    back = w.read_images_px(manifest, ["q", "q_inv"], ["product_id"])
    # the synthetic px grid is ragged (per-product counts vary, partial last
    # row) while TIFF rasters are rectangular — compare on the original
    # footprint; the canvas fill cells outside it are write padding
    footprint = px.select("product_id", "row", "col")
    return back.join(footprint, ["product_id", "row", "col"])


# --- W3: JPEG write -> decode -> PSNR certification ---------------------------

# JPEG is lossy, so the roundtrip gate is a fidelity BOUND, not equality: the
# Spark side writes real baseline-JPEG bytes per product (executor-side),
# decodes them back with the in-repo decoder, and computes per-product PSNR
# against the pre-encode RGB; the oracle pins the per-product footprint and
# asserts every product clears the bound. A product whose encode or decode is
# broken fails rows/hash immediately.

_JPEG_RT_SQL = f"""
WITH {PX_CTE}
SELECT product_id, COUNT(*) AS n_px, TRUE AS hi_fidelity
FROM px GROUP BY product_id
""".strip()


@query("jpeg_roundtrip", sql=_JPEG_RT_SQL, tags=("sink", "jpeg", "kernel"))
def q_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 end-to-end (jpeg.rs:6-30): per-product synRGB U8 -> baseline JPEG
    bytes written executor-side (world-file + prj sidecars, JPEG embeds no
    geotransform) -> decoded back -> per-product PSNR >= 30 dB asserted
    against the oracle's TRUE column. Write, decode and the fidelity agg are
    stages of ONE lazy plan."""
    import tempfile

    import sarpro_spark.operators.kernel as krn

    wide = frames.band_frame(spark, sf_dir)
    rgb = krn.multiband_synrgb_kernel(wide, ["product_id"], suppressed=False)
    staged = rgb.select(
        "product_id", "row", "col", "r", "g", "b",
        (F.col("product_id").cast("double") * 128.0).alias("gt0"),
        F.lit(10.5).alias("gt1"), F.lit(0.0).alias("gt2"),
        (F.col("product_id").cast("double") * -64.0).alias("gt3"),
        F.lit(0.0).alias("gt4"), F.lit(-10.25).alias("gt5"),
    )
    out_dir = tempfile.mkdtemp(prefix="sarpro_jpeg_rt_")
    manifest = w.write_jpegs(
        staged, out_dir, ["product_id"], ["r", "g", "b"],
        quality=92, gt_cols=("gt0", "gt1", "gt2", "gt3", "gt4", "gt5"),
    )
    back = w.read_images_px(manifest, ["r", "g", "b"], ["product_id"])
    orig = rgb.select(
        "product_id", "row", "col",
        F.col("r").alias("r0"), F.col("g").alias("g0"), F.col("b").alias("b0"),
    )
    joined = back.join(orig, ["product_id", "row", "col"])
    err = (
        (F.col("r") - F.col("r0")) * (F.col("r") - F.col("r0"))
        + (F.col("g") - F.col("g0")) * (F.col("g") - F.col("g0"))
        + (F.col("b") - F.col("b0")) * (F.col("b") - F.col("b0"))
    ).cast("double")
    per = joined.groupBy("product_id").agg(
        F.count(F.lit(1)).alias("n_px"),
        (F.sum(err) / (F.count(F.lit(1)) * 3.0)).alias("mse"),
    )
    psnr = F.lit(10.0) * F.log10(F.lit(255.0 * 255.0) / F.greatest(F.col("mse"), F.lit(1e-12)))
    return per.select("product_id", "n_px", (psnr >= 30.0).alias("hi_fidelity"))
