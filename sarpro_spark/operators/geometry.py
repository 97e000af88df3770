"""G1/G2/G3/G4/G6: geometric operators.

Reference (studied, not copied):
  G1 ``calculate_resize_dimensions`` (resize.rs:6-30): long side -> target,
     short side scaled proportionally with round-half-away; no-op (original
     dims) if target > long side.
  G2 Lanczos3 resize (resize.rs:32-89): separable Lanczos a=3 convolution.
     Rebuilt as a grouped pandas kernel (``lanczos_resize_grouped``) — per
     product, O(rows*cols*support) numpy; plus an oracle-friendly box-filter
     analog (``box_resize``) as groupBy(row/k, col/k).avg.
  G4 ``add_padding_to_square`` (padding.rs:5-49): centered copy into a
     max_dim^2 zero canvas; pad = (max_dim - dim) / 2 (integer division).
  G6 geotransform update (save.rs:67-87): gt1 *= cols/final_cols;
     gt5 *= rows/final_rows; gt0 -= pad_left*gt1'; gt3 -= pad_top*gt5'.

Scale notes: padding is expressed as canvas-generate + co-partitioned left
join (never a collect); the canvas explode is O(max_dim^2) rows per product,
distributed. Resize keeps each product's block in one task via applyInPandas
keyed by product — the same partitioning unit the batch dataflow already uses.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sarpro_spark import frames


def calculate_resize_dimensions(cols: int, rows: int, target: int) -> tuple[int, int]:
    """G1 (pure): returns (new_cols, new_rows)."""
    short, long_ = min(rows, cols), max(rows, cols)
    if target > long_:
        return cols, rows
    scale = target / long_
    new_short = int(np.floor(short * scale + 0.5))  # round half away (positive)
    return (target, new_short) if cols > rows else (new_short, target)


# --- G4: pad to square -------------------------------------------------------


def product_dims(px: DataFrame, group_cols: list[str]) -> DataFrame:
    """Per-product raster dims from a dense pixel frame (row/col 0-based)."""
    return px.groupBy(*group_cols).agg(
        (F.max("col") + 1).cast("int").alias("cols"),
        (F.max("row") + 1).cast("int").alias("rows"),
    )


def pad_to_square(
    px: DataFrame,
    group_cols: list[str],
    value: str = "v",
    fill=0.0,
    dims: DataFrame | None = None,
) -> DataFrame:
    """G4: centered zero-pad each product's raster to max_dim x max_dim.

    Scale design (the r01 version exploded the full max_dim^2 canvas out of
    ONE dims row per product — 704M rows in a single task at the reference's
    native 26544^2 products — then shuffled all of them through a cell-grain
    join): here the canvas only ever exists at ROW grain until the final
    narrow projection.

      1. dims -> explode rows (one row-stub per canvas row),
      2. repartition on (group, row) so canvas rows spread across the cluster,
      3. data rows collapse to a per-(group, row) col->value map (one shuffle
         of the data at row grain, map-side combine),
      4. left-join maps to row-stubs on (group, row) — co-partitioned,
      5. col-explode + map lookup emits the max_dim^2 cells INSIDE the task.

    No max_dim^2-row shuffle exists anywhere in the plan; per-task memory is
    O(cols) for the row map, and cell materialization parallelism is
    (products x max_dim) row-stubs.
    """
    if dims is None:
        dims = product_dims(px, group_cols)
    dims = dims.select(
        *group_cols,
        "cols",
        "rows",
        F.greatest("cols", "rows").alias("max_dim"),
        ((F.greatest("cols", "rows") - F.col("cols")) / 2).cast("int").alias("pad_cols"),
        ((F.greatest("cols", "rows") - F.col("rows")) / 2).cast("int").alias("pad_rows"),
    )
    row_stubs = dims.select(
        *group_cols,
        "max_dim",
        F.explode(F.sequence(F.lit(0), F.col("max_dim") - 1)).alias("row"),
    ).repartition(_canvas_partitions(dims), *group_cols, "row")
    shifted = px.join(
        F.broadcast(dims.select(*group_cols, "pad_cols", "pad_rows")), group_cols
    ).select(
        *group_cols,
        (F.col("row") + F.col("pad_rows")).alias("row"),
        (F.col("col") + F.col("pad_cols")).alias("col"),
        F.col(value),
    )
    row_maps = shifted.groupBy(*group_cols, "row").agg(
        F.map_from_entries(F.collect_list(F.struct("col", value))).alias("_vals")
    )
    joined = row_stubs.join(row_maps, on=[*group_cols, "row"], how="left")
    return joined.select(
        *group_cols,
        "row",
        F.explode(F.sequence(F.lit(0), F.col("max_dim") - 1)).alias("col"),
        "_vals",
    ).select(
        *group_cols,
        "row",
        "col",
        F.coalesce(F.element_at(F.col("_vals"), F.col("col")), F.lit(fill)).alias(value),
    )


def sql_pad_to_square(src_rel: str, group_cols: list[str], value: str = "v", fill: str = "0.0") -> str:
    """DuckDB twin of :func:`pad_to_square` over relation ``src_rel`` with
    columns group_cols + row + col + value. Returns CTEs ending in ``padded``."""
    g = ", ".join(group_cols)
    gd = ", ".join(f"d.{c}" for c in group_cols)
    return f"""
dims AS (
  -- NOTE: DuckDB CAST(double AS INT) rounds while Spark cast truncates —
  -- always FLOOR before casting on the SQL side.
  SELECT {g}, CAST(MAX(col)+1 AS INTEGER) AS cols, CAST(MAX(row)+1 AS INTEGER) AS rows,
         CAST(GREATEST(MAX(col)+1, MAX(row)+1) AS INTEGER) AS max_dim,
         CAST(FLOOR((GREATEST(MAX(col)+1, MAX(row)+1) - (MAX(col)+1)) / 2.0) AS INTEGER) AS pad_cols,
         CAST(FLOOR((GREATEST(MAX(col)+1, MAX(row)+1) - (MAX(row)+1)) / 2.0) AS INTEGER) AS pad_rows
  FROM {src_rel} GROUP BY {g}
),
canvas AS (
  SELECT {gd}, r.i AS row, c.i AS col, d.pad_cols, d.pad_rows
  FROM dims d,
       LATERAL (SELECT UNNEST(RANGE(0, d.max_dim)) AS i) r,
       LATERAL (SELECT UNNEST(RANGE(0, d.max_dim)) AS i) c
),
shifted AS (
  SELECT s.{g.replace(', ', ', s.')}, s.row + d.pad_rows AS row, s.col + d.pad_cols AS col, s.{value}
  FROM {src_rel} s JOIN dims d USING ({g})
),
padded AS (
  SELECT cv.{g.replace(', ', ', cv.')}, cv.row, cv.col, COALESCE(sh.{value}, {fill}) AS {value}
  FROM canvas cv LEFT JOIN shifted sh USING ({g}, row, col)
)""".strip()


# --- G2 relational analog: box resize ----------------------------------------


def box_resize(px: DataFrame, group_cols: list[str], k: int, value: str = "v") -> DataFrame:
    """Average-pool k x k cells — the oracle-checkable resize analog (the
    reference's GDAL Average path for >=4x reductions, sentinel1.rs:1074-1108).
    Single shuffle with map-side combine."""
    return (
        px.groupBy(
            *group_cols,
            F.floor(F.col("row") / k).cast("int").alias("row"),
            F.floor(F.col("col") / k).cast("int").alias("col"),
        )
        .agg(F.avg(value).alias(value), F.count(F.lit(1)).alias("n_src"))
    )


# --- G2 fidelity path: separable Lanczos3 via applyInPandas ------------------


def _lanczos_kernel(x: np.ndarray, a: int = 3) -> np.ndarray:
    out = np.sinc(x) * np.sinc(x / a)
    out[np.abs(x) >= a] = 0.0
    return out


def _lanczos_weights(src: int, dst: int, a: int = 3) -> tuple[np.ndarray, np.ndarray]:
    """Per-output-pixel source start indices + normalized weight matrix
    (pixel-center convention, kernel widened when minifying)."""
    scale = src / dst
    support = a * max(scale, 1.0)
    centers = (np.arange(dst) + 0.5) * scale - 0.5
    start = np.maximum(np.ceil(centers - support).astype(np.int64), 0)
    width = int(np.ceil(2 * support)) + 1
    idx = start[:, None] + np.arange(width)[None, :]
    mask = idx < src
    idx = np.minimum(idx, src - 1)
    x = (idx - centers[:, None]) / max(scale, 1.0)
    w = _lanczos_kernel(x, a) * mask
    wsum = w.sum(axis=1, keepdims=True)
    w = np.divide(w, wsum, out=np.zeros_like(w), where=wsum != 0)
    return start, w


def lanczos_resize_array(img: np.ndarray, new_rows: int, new_cols: int, a: int = 3) -> np.ndarray:
    """Separable Lanczos-a resample of a 2-D array (float64 accumulation);
    a ``(rows, cols, k)`` array is resampled one channel at a time."""
    if img.ndim == 3:
        return np.stack(
            [lanczos_resize_array(img[:, :, i], new_rows, new_cols, a) for i in range(img.shape[2])], axis=2
        )
    rows, cols = img.shape
    startc, wc = _lanczos_weights(cols, new_cols, a)
    idxc = np.minimum(startc[:, None] + np.arange(wc.shape[1])[None, :], cols - 1)
    tmp = (img[:, idxc] * wc[None, :, :]).sum(axis=2)  # rows x new_cols
    startr, wr = _lanczos_weights(rows, new_rows, a)
    idxr = np.minimum(startr[:, None] + np.arange(wr.shape[1])[None, :], rows - 1)
    out = (tmp[idxr, :] * wr[:, :, None]).sum(axis=1)
    return out


def lanczos_resize_grouped(
    px: DataFrame,
    group_cols: list[str],
    target_size: int,
    value_cols: list[str] = ("q",),
    clamp_max: int = 255,
) -> DataFrame:
    """G2/G3: per-product Lanczos3 resize of every ``value_cols`` channel to
    ``target_size`` long side via applyInPandas — each product is one
    grouped-map task (the reference's unit of work), Arrow both ways, no
    driver involvement."""
    schema = frames.keyed_schema(px, group_cols, ", ".join(f"`{c}` int" for c in ["row", "col", *value_cols]))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        img = frames.to_grid(pdf, value_cols)
        rows, cols = img.shape[:2]
        new_cols, new_rows = calculate_resize_dimensions(cols, rows, target_size)
        if (new_cols, new_rows) == (cols, rows):
            res = img
        else:
            res = lanczos_resize_array(img, new_rows, new_cols)
        res = np.clip(np.floor(res + 0.5), 0, clamp_max).astype(np.int32)
        return frames.to_rows({c: pdf[c].iloc[0] for c in group_cols}, value_cols, res)

    return px.groupBy(*group_cols).applyInPandas(fn, schema=schema)


# --- G6: geotransform update -------------------------------------------------


def geotransform_update(
    dims: DataFrame,
    target_size: int | None,
    pad: bool,
    gt_cols: tuple[str, ...] = ("gt0", "gt1", "gt2", "gt3", "gt4", "gt5"),
) -> DataFrame:
    """G1 + G3 dims plumbing + G6 column math over a per-product frame carrying
    cols/rows + a 6-element geotransform as columns gt0..gt5.

    Mirrors resize_image_data_with_meta (resize.rs:91-236) + the gt update in
    save.rs:67-87: scale factors from the resize, centered-pad shifts, then
      gt1' = gt1 * cols/final_cols,  gt5' = gt5 * rows/final_rows,
      gt0' = gt0 - pad_left*gt1',    gt3' = gt3 - pad_top*gt5'.
    """
    cols, rows = F.col("cols"), F.col("rows")
    if target_size is None:
        new_cols, new_rows = cols, rows
    else:
        long_ = F.greatest(cols, rows)
        short = F.least(cols, rows)
        scale = F.lit(float(target_size)) / long_.cast("double")
        new_short = F.floor(short.cast("double") * scale + F.lit(0.5)).cast("int")
        no_op = F.lit(target_size) > long_
        tgt = F.lit(target_size)
        new_cols = F.when(no_op, cols).otherwise(F.when(cols > rows, tgt).otherwise(new_short))
        new_rows = F.when(no_op, rows).otherwise(F.when(cols > rows, new_short).otherwise(tgt))
    d = dims.withColumn("new_cols", new_cols).withColumn("new_rows", new_rows)
    if pad:
        fd = F.greatest(F.col("new_cols"), F.col("new_rows"))
        d = (
            d.withColumn("final_cols", fd)
            .withColumn("final_rows", fd)
            .withColumn("pad_left", ((fd - F.col("new_cols")) / 2).cast("int"))
            .withColumn("pad_top", ((fd - F.col("new_rows")) / 2).cast("int"))
        )
    else:
        d = (
            d.withColumn("final_cols", F.col("new_cols"))
            .withColumn("final_rows", F.col("new_rows"))
            .withColumn("pad_left", F.lit(0))
            .withColumn("pad_top", F.lit(0))
        )
    g0, g1, g2, g3, g4, g5 = (F.col(c) for c in gt_cols)
    gt1n = g1 * (cols.cast("double") / F.col("final_cols").cast("double"))
    gt5n = g5 * (rows.cast("double") / F.col("final_rows").cast("double"))
    d = d.withColumn("gt1_new", gt1n).withColumn("gt5_new", gt5n)
    d = d.withColumn(
        "gt0_new", g0 - F.col("pad_left").cast("double") * F.col("gt1_new")
    ).withColumn("gt3_new", g3 - F.col("pad_top").cast("double") * F.col("gt5_new"))
    return d


# --- G5: in-engine affine warp (near / bilinear / cubic) ---------------------


def affine_warp(
    px: DataFrame,
    geo: DataFrame,
    group_cols: list[str],
    value: str = "v",
    alg: str = "bilinear",
) -> DataFrame:
    """G5 brought in-engine for the affine case: resample each product from
    its source grid onto a per-product TARGET grid with bilinear weights.
    The reference shells out to gdalwarp for this (sentinel1.rs:914-1072);
    full curvilinear CRS reprojection (datum shifts) stays external, but the
    affine warp — scale / shear / rotation / translation onto a target
    geotransform, the dominant GRD case — is pure relational algebra:

      1. target canvas at ROW grain (explode rows -> repartition -> explode
         cols inside the task; the pad_to_square scale pattern — no
         O(rows*cols) single-task explode),
      2. inverse-affine source coordinates as column expressions,
      3. EXPLODE the 4 bilinear corners (dr, dc) with their weights,
      4. one co-partitioned join against the source pixel frame,
      5. groupBy target cell: value = SUM(w*v)/SUM(w) over present corners
         (edge cells renormalize; fully out-of-footprint cells drop).

    ``geo`` carries per product: sg0..sg5 (source geotransform), dg0..dg5
    (target geotransform), dst_rows, dst_cols. Weighted-sum determinism: with
    dyadic geotransforms and integer-quantized values every w*v product is
    exact in f64, so the 4-corner sum is order-independent — the oracle twin
    (sql_affine_warp) hash-matches bit-for-bit.

    ``alg`` selects the reference's ``-r {near,bilinear,cubic}`` resampling
    kernel family (src/io/sentinel1.rs:988-1032, CLI mapping
    src/cli/runner.rs:61-67): nearest = 1 tap, bilinear = 4 taps, cubic =
    16-tap Keys cubic convolution (a = -0.5, GDAL's cubic) — same canvas /
    coords plan, only the gather stage differs.
    """
    coords = affine_coords(geo, group_cols)
    return resample_gather(coords, px, group_cols, value, alg=alg)


def _canvas_partitions(df: DataFrame) -> int:
    """Explicit partition count for the canvas row-stub repartition.

    The stub exchange carries one tiny row per TARGET ROW while everything
    downstream (col explode, tap explode, candidate join, the gather's
    pre-shuffle work) fans out by dst_cols or more — the classic
    explode-after-exchange trap: AQE coalesces the exchange by its own
    (tiny) byte size and the whole canvas lands in one task (measured in r6:
    warp_utm_from_lonlat peaked at 704 MB task memory with its canvas stage
    coalesced to ONE task at sf0.1). A user-specified count plans as
    REPARTITION_BY_NUM, which AQE must not coalesce, so per-task work stays
    (total canvas)/N — bounded by the same shuffle.partitions contract that
    sizes every other exchange for the data scale.

    Platforms that manage AQE themselves may set the conf to a non-numeric
    value (e.g. ``"auto"``); fall back to the cluster's default parallelism
    rather than crashing every warp route on ``int()``."""
    raw = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    try:
        return int(raw)
    except (TypeError, ValueError):
        return int(df.sparkSession.sparkContext.defaultParallelism)


def affine_coords(geo: DataFrame, group_cols: list[str]) -> DataFrame:
    """Target canvas + inverse-affine source coordinates shared by every
    kernel: one row per target cell (group, row, col, cs, rs). Row-grain
    explode -> repartition (explicit count — see _canvas_partitions) ->
    in-task col explode (the pad_to_square scale shape — never an
    O(rows*cols) single-task explode)."""
    gcols = [F.col(c) for c in group_cols]
    stubs = geo.select(
        *gcols, "sg0", "sg1", "sg2", "sg3", "sg4", "sg5",
        "dg0", "dg1", "dg2", "dg3", "dg4", "dg5", "dst_cols",
        F.explode(F.sequence(F.lit(0), F.col("dst_rows") - 1)).alias("row"),
    ).repartition(_canvas_partitions(geo), *group_cols, "row")
    cells = stubs.select(
        *gcols, "sg0", "sg1", "sg2", "sg3", "sg4", "sg5",
        "dg0", "dg1", "dg2", "dg3", "dg4", "dg5", "row",
        F.explode(F.sequence(F.lit(0), F.col("dst_cols") - 1)).alias("col"),
    )
    x = F.col("dg0") + (F.col("col") + 0.5) * F.col("dg1") + (F.col("row") + 0.5) * F.col("dg2")
    y = F.col("dg3") + (F.col("col") + 0.5) * F.col("dg4") + (F.col("row") + 0.5) * F.col("dg5")
    det = F.col("sg1") * F.col("sg5") - F.col("sg2") * F.col("sg4")
    cs = ((x - F.col("sg0")) * F.col("sg5") - (y - F.col("sg3")) * F.col("sg2")) / det - 0.5
    rs = ((y - F.col("sg3")) * F.col("sg1") - (x - F.col("sg0")) * F.col("sg4")) / det - 0.5
    return cells.select(*gcols, "row", "col", cs.alias("cs"), rs.alias("rs"))


def affine_warp_bilinear(
    px: DataFrame,
    geo: DataFrame,
    group_cols: list[str],
    value: str = "v",
) -> DataFrame:
    """Back-compat alias: :func:`affine_warp` with the bilinear kernel."""
    return affine_warp(px, geo, group_cols, value, alg="bilinear")


def resample_gather(
    coords: DataFrame,
    px: DataFrame,
    group_cols: list[str],
    value: str = "v",
    alg: str = "bilinear",
) -> DataFrame:
    """Kernel dispatch for the gather stage shared by every warp route —
    the execution-side consumer of ProcessingParams.resample_alg (the
    reference's ``-r`` flag, src/cli/runner.rs:61-67). ``lanczos`` is the
    TRUE 36-tap windowed sinc since r11 (lanczos_gather) — the reference's
    warp silently degrades it to bilinear (sentinel1.rs:937-941
    ``_ => "bilinear"``) even though its RESIZE stage is Lanczos3; this
    engine honors the request exactly instead (documented deviation — a
    user needing byte-parity with the reference's degraded output passes
    ``-r bilinear`` explicitly)."""
    if alg == "bilinear":
        return bilinear_gather(coords, px, group_cols, value)
    if alg in ("near", "nearest"):
        return nearest_gather(coords, px, group_cols, value)
    if alg == "cubic":
        return cubic_gather(coords, px, group_cols, value)
    if alg == "lanczos":
        return lanczos_gather(coords, px, group_cols, value)
    raise ValueError(f"unsupported resample alg {alg!r} (near|bilinear|cubic|lanczos)")


def bilinear_gather(
    coords: DataFrame,
    px: DataFrame,
    group_cols: list[str],
    value: str = "v",
) -> DataFrame:
    """Shared bilinear resampler: ``coords`` carries one row per TARGET cell
    (group, row, col, cs, rs) with fractional source pixel coordinates;
    returns the weighted 4-corner sample from ``px``. Corner explode -> one
    co-partitioned join -> per-cell weighted agg (edge cells renormalize by
    the present-corner weight mass; fully out-of-footprint cells drop)."""
    gcols = [F.col(c) for c in group_cols]
    cs, rs = F.col("cs"), F.col("rs")
    src = coords.select(
        *gcols, "row", "col",
        F.floor(cs).cast("int").alias("c0"),
        F.floor(rs).cast("int").alias("r0"),
        (cs - F.floor(cs)).alias("wc"),
        (rs - F.floor(rs)).alias("wr"),
    )
    corners = src.select(
        *gcols, "row", "col", "c0", "r0", "wc", "wr",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
                    for dr in (0, 1)
                    for dc in (0, 1)
                ]
            )
        ).alias("k"),
    ).select(
        *gcols, "row", "col",
        (F.col("r0") + F.col("k.dr")).alias("srow"),
        (F.col("c0") + F.col("k.dc")).alias("scol"),
        (
            F.when(F.col("k.dr") == 1, F.col("wr")).otherwise(1.0 - F.col("wr"))
            * F.when(F.col("k.dc") == 1, F.col("wc")).otherwise(1.0 - F.col("wc"))
        ).alias("w"),
    )
    srcpx = px.select(
        *gcols, F.col("row").alias("srow"), F.col("col").alias("scol"),
        F.col(value).cast("double").alias("_v"),
    )
    # Structural intent: cells x pixels is BIG x BIG and must never be
    # planned as a broadcast. Without the hint, a CACHED px lineage reports
    # optimistic in-memory stats, the 64 MB threshold bites, and the driver
    # dies building a multi-GiB broadcast (reproduced in the r5 sf1 soak —
    # the exact failure a mis-estimated relation causes at 100 TB).
    hit = corners.join(srcpx.hint("shuffle_merge"), [*group_cols, "srow", "scol"])
    return (
        hit.groupBy(*group_cols, "row", "col")
        .agg(F.sum(F.col("w") * F.col("_v")).alias("_wv"), F.sum("w").alias("_w"))
        .where(F.col("_w") > 0.0)
        .select(*gcols, "row", "col", (F.col("_wv") / F.col("_w")).alias(value))
    )


def nearest_gather(
    coords: DataFrame,
    px: DataFrame,
    group_cols: list[str],
    value: str = "v",
) -> DataFrame:
    """``-r near``: single-tap gather at the rounded source coordinate —
    no corner explode, no weights, no aggregate; one co-partitioned join.
    Bit-exact by construction (the value passes through untouched), so this
    kernel certifies against the oracle with no rounding doctrine at all.
    Out-of-footprint cells drop via the inner join, as in bilinear."""
    gcols = [F.col(c) for c in group_cols]
    taps = coords.select(
        *gcols, "row", "col",
        F.floor(F.col("rs") + F.lit(0.5)).cast("int").alias("srow"),
        F.floor(F.col("cs") + F.lit(0.5)).cast("int").alias("scol"),
    )
    srcpx = px.select(
        *gcols, F.col("row").alias("srow"), F.col("col").alias("scol"),
        F.col(value).cast("double").alias("_v"),
    )
    # same BIG x BIG structural pin as bilinear_gather: a cached px lineage
    # must never flip this to a broadcast (r5 soak reproduced the OOM)
    hit = taps.join(srcpx.hint("shuffle_merge"), [*group_cols, "srow", "scol"])
    return hit.select(*gcols, "row", "col", F.col("_v").alias(value))


#: Keys cubic-convolution free parameter — a = -0.5 is the classic Keys
#: (1981) choice and what GDAL's `-r cubic` uses; the reference exposes it
#: via `-r cubic` (src/io/sentinel1.rs:933-936; the reference DEFAULT is
#: lanczos→bilinear, core/params.rs:38 + sentinel1.rs:937-941).
CUBIC_A = -0.5


def _cubic_w(dist_from_tap):
    """1-D Keys cubic weight for a tap at |x| = dist_from_tap in [0, 2).
    Horner forms with a = -0.5 baked in, written with the IDENTICAL
    operation order as the SQL twin so dyadic inputs stay bit-exact:
      |x| <= 1:  (1.5*x - 2.5)*x*x + 1
      1 < |x| < 2: ((-0.5*x + 2.5)*x - 4.0)*x + 2.0
    """
    x = dist_from_tap
    return F.when(
        x <= 1.0, (F.lit(1.5) * x - F.lit(2.5)) * x * x + F.lit(1.0)
    ).otherwise(((F.lit(-0.5) * x + F.lit(2.5)) * x - F.lit(4.0)) * x + F.lit(2.0))


def cubic_gather(
    coords: DataFrame,
    px: DataFrame,
    group_cols: list[str],
    value: str = "v",
) -> DataFrame:
    """``-r cubic``: 16-tap Keys cubic-convolution gather — the reference's
    default warp kernel. Same plan shape as bilinear (tap explode -> one
    co-partitioned join -> per-cell weighted agg), 4x the tap fan-out (a
    bounded constant — shuffle stays linear in the canvas). Edge cells
    renormalize by the present-tap weight mass like bilinear; cubic weights
    can be negative, so the drop test is on |mass| (deterministic: with
    dyadic fractions every weight is exact, and both engines compute the
    identical sum)."""
    gcols = [F.col(c) for c in group_cols]
    cs, rs = F.col("cs"), F.col("rs")
    src = coords.select(
        *gcols, "row", "col",
        F.floor(cs).cast("int").alias("c0"),
        F.floor(rs).cast("int").alias("r0"),
        (cs - F.floor(cs)).alias("fc"),
        (rs - F.floor(rs)).alias("fr"),
    )
    taps = src.select(
        *gcols, "row", "col", "c0", "r0", "fc", "fr",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
                    for dr in (-1, 0, 1, 2)
                    for dc in (-1, 0, 1, 2)
                ]
            )
        ).alias("k"),
    )
    # |x| per axis: d=-1 -> 1+f, d=0 -> f, d=1 -> 1-f, d=2 -> 2-f
    def axis_dist(d, f):
        return (
            F.when(d == -1, F.lit(1.0) + f)
            .when(d == 0, f)
            .when(d == 1, F.lit(1.0) - f)
            .otherwise(F.lit(2.0) - f)
        )

    wr = _cubic_w(axis_dist(F.col("k.dr"), F.col("fr")))
    wc = _cubic_w(axis_dist(F.col("k.dc"), F.col("fc")))
    tapped = taps.select(
        *gcols, "row", "col",
        (F.col("r0") + F.col("k.dr")).alias("srow"),
        (F.col("c0") + F.col("k.dc")).alias("scol"),
        (wr * wc).alias("w"),
    )
    srcpx = px.select(
        *gcols, F.col("row").alias("srow"), F.col("col").alias("scol"),
        F.col(value).cast("double").alias("_v"),
    )
    hit = tapped.join(srcpx.hint("shuffle_merge"), [*group_cols, "srow", "scol"])
    return (
        hit.groupBy(*group_cols, "row", "col")
        .agg(F.sum(F.col("w") * F.col("_v")).alias("_wv"), F.sum("w").alias("_w"))
        .where(F.abs(F.col("_w")) > 1e-9)
        .select(*gcols, "row", "col", (F.col("_wv") / F.col("_w")).alias(value))
    )


#: Lanczos window half-width (a = 3 -> 6 taps/axis, 36 taps total) — the
#: same Lanczos3 the reference's RESIZE stage uses (fast_image_resize;
#: lanczos_resize_array above); r11 brings it to the WARP gather too.
LANCZOS_A = 3
#: fractional-phase quantization: the per-axis fraction snaps to 1/32
#: pixel and the 1-D weights come from a PRECOMPUTED 6x33 table — the
#: standard separable phase-LUT trick real resamplers use, and the dyadic
#: doctrine's answer to sin() in the hot path: no libm runs in EITHER
#: engine (Java Math.sin and C libm differ in the last ulp — with ~1e6
#: weights per warp a rounding-boundary straddle WILL happen), the table
#: floats are shared literals, and the plan stays whole-stage codegen.
LANCZOS_PHASES = 32
#: combined 2-D weight grain: w = floor(w_r*w_c*2^24 + 0.5)/2^24. With
#: integer-quantized pixel values (<= 2^16) every w*v addend is then an
#: EXACT f64 multiple of 2^-24, so the 36-tap sums are order-independent
#: and both engines hash identically regardless of aggregation order.
_LANCZOS_WSCALE = 16777216.0  # 2^24


def _lanczos_phase_table() -> list[float]:
    """6x33 separable weight table: index (d+2)*33 + phase, where tap
    offset d in [-2, 3] and the source fraction f snapped to phase/32.
    L(x) = sinc(x)*sinc(x/3) for |x| < 3, else 0 (x = |d - f|)."""
    tab = []
    for d in range(-(LANCZOS_A - 1), LANCZOS_A + 1):
        for ph in range(LANCZOS_PHASES + 1):
            x = abs(d - ph / float(LANCZOS_PHASES))
            w = 0.0 if x >= LANCZOS_A else float(np.sinc(x) * np.sinc(x / LANCZOS_A))
            tab.append(w)
    return tab


def _lanczos_w_col(d, phase) -> "F.Column":
    """1-D Lanczos weight as a literal-array lookup (codegen, no libm):
    ``d`` tap-offset column in [-2, 3], ``phase`` snapped-fraction column
    in [0, 32]."""
    arr = F.array(*[F.lit(w) for w in _lanczos_phase_table()])
    return F.element_at(arr, (d + F.lit(2)) * F.lit(LANCZOS_PHASES + 1) + phase + F.lit(1))


def lanczos_gather(
    coords: DataFrame,
    px: DataFrame,
    group_cols: list[str],
    value: str = "v",
) -> DataFrame:
    """``-r lanczos``: TRUE 36-tap Lanczos3 windowed-sinc gather (r11) —
    the kernel the reference resizes with but degrades to bilinear in the
    warp (sentinel1.rs:937-941). Same plan shape as cubic (tap explode ->
    one co-partitioned join -> per-cell weighted agg), 6x6 taps; the
    fractional phase snaps to 1/32 pixel and weights come from the
    precomputed table (see LANCZOS_PHASES — determinism is structural,
    not a rounding afterthought). Edge renormalization and the |mass|
    drop rule match cubic (lanczos lobes go negative too)."""
    gcols = [F.col(c) for c in group_cols]
    cs, rs = F.col("cs"), F.col("rs")
    src = coords.select(
        *gcols, "row", "col",
        F.floor(cs).cast("int").alias("c0"),
        F.floor(rs).cast("int").alias("r0"),
        F.floor((cs - F.floor(cs)) * LANCZOS_PHASES + F.lit(0.5)).cast("int").alias("pc"),
        F.floor((rs - F.floor(rs)) * LANCZOS_PHASES + F.lit(0.5)).cast("int").alias("pr"),
    )
    taps = src.select(
        *gcols, "row", "col", "c0", "r0", "pc", "pr",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
                    for dr in range(-(LANCZOS_A - 1), LANCZOS_A + 1)
                    for dc in range(-(LANCZOS_A - 1), LANCZOS_A + 1)
                ]
            )
        ).alias("k"),
    )
    wr = _lanczos_w_col(F.col("k.dr"), F.col("pr"))
    wc = _lanczos_w_col(F.col("k.dc"), F.col("pc"))
    w = F.floor(wr * wc * F.lit(_LANCZOS_WSCALE) + F.lit(0.5)) / F.lit(_LANCZOS_WSCALE)
    tapped = taps.select(
        *gcols, "row", "col",
        (F.col("r0") + F.col("k.dr")).alias("srow"),
        (F.col("c0") + F.col("k.dc")).alias("scol"),
        w.alias("w"),
    )
    srcpx = px.select(
        *gcols, F.col("row").alias("srow"), F.col("col").alias("scol"),
        F.col(value).cast("double").alias("_v"),
    )
    # same BIG x BIG structural pin as every gather (r5 soak OOM class)
    hit = tapped.join(srcpx.hint("shuffle_merge"), [*group_cols, "srow", "scol"])
    return (
        hit.groupBy(*group_cols, "row", "col")
        .agg(F.sum(F.col("w") * F.col("_v")).alias("_wv"), F.sum("w").alias("_w"))
        .where(F.abs(F.col("_w")) > 1e-9)
        .select(*gcols, "row", "col", (F.col("_wv") / F.col("_w")).alias(value))
    )


def all_kernels_gather(
    coords: DataFrame,
    px: DataFrame,
    group_cols: list[str],
    value: str = "v",
) -> DataFrame:
    """All four ``-r`` kernels from ONE gather: the nearest tap, the 4
    bilinear corners, and the cubic 4x4 patch are subsets of the Lanczos3
    6x6 patch (r11), so a single 36-tap explode + ONE co-partitioned join
    computes q_near / q_bilinear / q_cubic / q_lanczos simultaneously (one
    shuffle of the pixel frame instead of four). Hash-equivalence with the
    single-kernel gathers is exact, not approximate: under the dyadic
    fixture doctrine every weight is exact IEEE, the bilinear/cubic
    weights are literal 0.0 on taps outside their own patch, and
    x + 0.0 = x — so each per-leg sum is bit-identical to the sum the
    dedicated gather computes over its own tap subset, in any order (the
    lanczos addends are exact 2^-24 multiples — see _LANCZOS_WSCALE).
    Per-leg presence mirrors each gather's drop rule: nearest needs its
    tap matched, bilinear positive corner mass, cubic/lanczos |mass| >
    1e-9."""
    gcols = [F.col(c) for c in group_cols]
    cs, rs = F.col("cs"), F.col("rs")
    src = coords.select(
        *gcols, "row", "col",
        F.floor(cs).cast("int").alias("c0"),
        F.floor(rs).cast("int").alias("r0"),
        (cs - F.floor(cs)).alias("fc"),
        (rs - F.floor(rs)).alias("fr"),
        F.floor(cs + F.lit(0.5)).cast("int").alias("cn"),
        F.floor(rs + F.lit(0.5)).cast("int").alias("rn"),
        F.floor((cs - F.floor(cs)) * LANCZOS_PHASES + F.lit(0.5)).cast("int").alias("pc"),
        F.floor((rs - F.floor(rs)) * LANCZOS_PHASES + F.lit(0.5)).cast("int").alias("pr"),
    )
    taps = src.select(
        *gcols, "row", "col", "c0", "r0", "fc", "fr", "cn", "rn", "pc", "pr",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
                    for dr in range(-(LANCZOS_A - 1), LANCZOS_A + 1)
                    for dc in range(-(LANCZOS_A - 1), LANCZOS_A + 1)
                ]
            )
        ).alias("k"),
    )

    def axis_dist(d, f):
        return (
            F.when(d == -1, F.lit(1.0) + f)
            .when(d == 0, f)
            .when(d == 1, F.lit(1.0) - f)
            .otherwise(F.lit(2.0) - f)
        )

    dr, dc = F.col("k.dr"), F.col("k.dc")
    cub_taps = (-1, 0, 1, 2)
    w_cub = F.when(
        dr.isin(*cub_taps) & dc.isin(*cub_taps),
        _cubic_w(axis_dist(dr, F.col("fr"))) * _cubic_w(axis_dist(dc, F.col("fc"))),
    ).otherwise(F.lit(0.0))
    w_bil = F.when(
        dr.isin(0, 1) & dc.isin(0, 1),
        F.when(dr == 1, F.col("fr")).otherwise(1.0 - F.col("fr"))
        * F.when(dc == 1, F.col("fc")).otherwise(1.0 - F.col("fc")),
    ).otherwise(F.lit(0.0))
    w_lan = (
        F.floor(
            _lanczos_w_col(dr, F.col("pr")) * _lanczos_w_col(dc, F.col("pc"))
            * F.lit(_LANCZOS_WSCALE) + F.lit(0.5)
        ) / F.lit(_LANCZOS_WSCALE)
    )
    tapped = taps.select(
        *gcols, "row", "col", "cn", "rn",
        (F.col("r0") + dr).alias("srow"),
        (F.col("c0") + dc).alias("scol"),
        w_cub.alias("w_cub"),
        w_bil.alias("w_bil"),
        w_lan.alias("w_lan"),
    )
    srcpx = px.select(
        *gcols, F.col("row").alias("srow"), F.col("col").alias("scol"),
        F.col(value).cast("double").alias("_v"),
    )
    hit = tapped.join(srcpx.hint("shuffle_merge"), [*group_cols, "srow", "scol"])
    near_v = F.when((F.col("srow") == F.col("rn")) & (F.col("scol") == F.col("cn")), F.col("_v"))
    agg = hit.groupBy(*group_cols, "row", "col").agg(
        F.sum(F.col("w_cub") * F.col("_v")).alias("_wv_c"),
        F.sum("w_cub").alias("_w_c"),
        F.sum(F.col("w_bil") * F.col("_v")).alias("_wv_b"),
        F.sum("w_bil").alias("_w_b"),
        F.sum(F.col("w_lan") * F.col("_v")).alias("_wv_l"),
        F.sum("w_lan").alias("_w_l"),
        F.max(near_v).alias("_v_n"),
    )
    return agg.select(
        *gcols, "row", "col",
        F.col("_v_n").alias("q_near"),
        F.when(F.col("_w_b") > 0.0, F.col("_wv_b") / F.col("_w_b")).alias("q_bilinear"),
        F.when(F.abs(F.col("_w_c")) > 1e-9, F.col("_wv_c") / F.col("_w_c")).alias("q_cubic"),
        F.when(F.abs(F.col("_w_l")) > 1e-9, F.col("_wv_l") / F.col("_w_l")).alias("q_lanczos"),
    )


# --- G5b: piecewise-affine warp from a GCP grid (the reference's TPS path) ---


#: seam tolerance in tile-fraction units (u, v): candidates within TOL of a
#: tile edge are accepted by BOTH neighbors and a deterministic arbitration
#: picks one — a strictly half-open test would let float noise drop seam
#: cells entirely (claimed by 0 tiles) on curvilinear grids.
GCP_SEAM_TOL = 1e-9


def fit_gcp_tiles(gcps: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """Per-tile corner extraction for the exact BILINEAR pixel->ground map.

    ``gcps``: (group, gi, gj, gx, gy) — ground coordinates observed at source
    pixel (row=k*gi, col=k*gj), pixel-index (center) convention. Returns one
    row per tile (ti, tj) carrying its 4 corner GCPs (x00..y11) plus the
    ground bounding box for candidate pruning (the bilinear patch's edges are
    straight lines between corners, so the corner bbox bounds the patch).

    The per-tile map is the exact bilinear interpolant of the 4 corners:
        (x, y)(u, v) = (1-u)(1-v)*P00 + u(1-v)*P01 + (1-u)v*P10 + uv*P11
    with (u, v) = in-tile fractions of (scol, srow). Unlike an affine fit it
    interpolates the corners for ANY grid, and along a shared edge it depends
    only on that edge's 2 corners — the piecewise map is continuous across
    seams (no dropped or double-owned boundary strips up to float noise,
    which GCP_SEAM_TOL + arbitration absorbs).

    Mirrors the reference's no-projection fallback ``gdalwarp -tps`` from the
    product's GCP grid (/root/reference/src/io/sentinel1.rs:1017-1032): TPS is
    approximated piecewise — exact at every GCP, bilinear between them."""
    # One pass, no self-joins: each GCP explodes to the <=4 tiles it corners
    # and a pivot-style aggregate reassembles per-tile corners — a 4-way
    # self-join here would re-execute the whole upstream GCP derivation once
    # per leg (measured 2x the operator runtime at sf0.01). Mirrors the
    # DuckDB twin's gcorners CTE exactly.
    offsets = F.array(
        *[
            F.struct(F.lit(oi).alias("oi"), F.lit(oj).alias("oj"))
            for oi, oj in [(0, 0), (0, 1), (1, 0), (1, 1)]
        ]
    )
    s = gcps.select(
        *group_cols, "gi", "gj", "gx", "gy", F.explode(offsets).alias("o")
    ).select(
        *group_cols,
        (F.col("gi") - F.col("o.oi")).alias("ti"),
        (F.col("gj") - F.col("o.oj")).alias("tj"),
        F.col("o.oi").alias("oi"),
        F.col("o.oj").alias("oj"),
        "gx",
        "gy",
    )

    def corner(coord: str, oi: int, oj: int) -> F.Column:
        return F.max(
            F.when((F.col("oi") == oi) & (F.col("oj") == oj), F.col(coord))
        )

    t = (
        s.groupBy(*group_cols, "ti", "tj")
        .agg(
            corner("gx", 0, 0).alias("x00"),
            corner("gx", 0, 1).alias("x01"),
            corner("gx", 1, 0).alias("x10"),
            corner("gx", 1, 1).alias("x11"),
            corner("gy", 0, 0).alias("y00"),
            corner("gy", 0, 1).alias("y01"),
            corner("gy", 1, 0).alias("y10"),
            corner("gy", 1, 1).alias("y11"),
            F.count(F.lit(1)).alias("_nc"),
        )
        .where(F.col("_nc") == 4)
        .drop("_nc")
    )
    return t.select(
        *group_cols,
        "ti",
        "tj",
        "x00", "x01", "x10", "x11",
        "y00", "y01", "y10", "y11",
        F.least("x00", "x01", "x10", "x11").alias("xmin"),
        F.greatest("x00", "x01", "x10", "x11").alias("xmax"),
        F.least("y00", "y01", "y10", "y11").alias("ymin"),
        F.greatest("y00", "y01", "y10", "y11").alias("ymax"),
    )


def warp_gcp_grid(
    px: DataFrame,
    gcps: DataFrame,
    geo: DataFrame,
    group_cols: list[str],
    k: int,
    bucket: float = 256.0,
    value: str = "v",
    alg: str = "bilinear",
) -> DataFrame:
    """G5 curvilinear path in-engine: piecewise-BILINEAR warp over a GCP grid.

      1. extract per-tile corner GCPs (tiny relation: a k^2-fold reduction of
         the raster — broadcastable at any product size),
      2. target canvas at ROW grain (same scale shape as affine_warp),
      3. candidate tile lookup via a GROUND-space bucket equi-join (each tile
         emits keys covering its bbox; each cell one key) — never cell x tile,
      4. exact membership by INVERSE BILINEAR: solve the tile's bilinear map
         for the cell's in-tile fractions (u, v) (quadratic closed form,
         linear branch for affine-consistent tiles); accept within
         GCP_SEAM_TOL of [0,1]^2 and arbitrate seam double-claims to the
         lowest (ti, tj) — the map is continuous across seams, so either
         neighbor yields the same source coordinate,
      5. shared bilinear gather against the source pixels.

    ``geo`` carries per product: dg0..dg5 + dst_rows/dst_cols (target grid).
    The reference handles this case by shelling to ``gdalwarp -tps``
    (sentinel1.rs:1017-1032); here the warp stays relational end-to-end.
    """
    gcols = [F.col(c) for c in group_cols]
    tiles = fit_gcp_tiles(gcps, group_cols, k)
    # bucket cover of each tile's ground bbox (bbox spans are O(k * pixel
    # scale); the explode fanout is bounded by ceil(span/bucket)^2)
    tiles_b = tiles.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("xmin") / bucket).cast("long"),
                F.floor(F.col("xmax") / bucket).cast("long"),
            )
        ).alias("bx"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("ymin") / bucket).cast("long"),
                F.floor(F.col("ymax") / bucket).cast("long"),
            )
        ).alias("by"),
    )
    stubs = geo.select(
        *gcols, "dg0", "dg1", "dg2", "dg3", "dg4", "dg5", "dst_cols",
        F.explode(F.sequence(F.lit(0), F.col("dst_rows") - 1)).alias("row"),
    ).repartition(_canvas_partitions(geo), *group_cols, "row")
    cells = stubs.select(
        *gcols, "row",
        F.explode(F.sequence(F.lit(0), F.col("dst_cols") - 1)).alias("col"),
        (F.col("dg0") + (F.col("col") + 0.5) * F.col("dg1") + (F.col("row") + 0.5) * F.col("dg2")).alias("x"),
        (F.col("dg3") + (F.col("col") + 0.5) * F.col("dg4") + (F.col("row") + 0.5) * F.col("dg5")).alias("y"),
    ).select(
        *gcols, "row", "col", "x", "y",
        F.floor(F.col("x") / bucket).cast("long").alias("bx"),
        F.floor(F.col("y") / bucket).cast("long").alias("by"),
    )
    # tiles are a k^2-fold reduction of the raster — broadcastable at any
    # product size; pin it so the plan never degrades to a shuffle join on
    # the full cell grid (AQE would usually pick this, but the intent is
    # structural, not a runtime accident)
    cand = cells.join(F.broadcast(tiles_b), [*group_cols, "bx", "by"])
    # inverse bilinear: with e = P01-P00, f = P10-P00, g = P00-P01-P10+P11,
    # h = P-P00, solve h = u*e + v*f + u*v*g. Eliminating u gives
    # qa*v^2 + qb*v + qc = 0 with the 2-D crosses below; the affine-
    # consistent case (g = 0 -> qa = 0) reduces to the linear branch.
    # Expression order is kept IDENTICAL to sql_warp_gcp_grid so both
    # engines produce bit-equal doubles.
    c1 = cand.select(
        *gcols, "row", "col", "ti", "tj",
        (F.col("x01") - F.col("x00")).alias("e_x"),
        (F.col("y01") - F.col("y00")).alias("e_y"),
        (F.col("x10") - F.col("x00")).alias("f_x"),
        (F.col("y10") - F.col("y00")).alias("f_y"),
        (F.col("x00") - F.col("x01") - F.col("x10") + F.col("x11")).alias("g_x"),
        (F.col("y00") - F.col("y01") - F.col("y10") + F.col("y11")).alias("g_y"),
        (F.col("x") - F.col("x00")).alias("h_x"),
        (F.col("y") - F.col("y00")).alias("h_y"),
    )
    c2 = c1.select(
        *gcols, "row", "col", "ti", "tj",
        "e_x", "e_y", "f_x", "f_y", "g_x", "g_y", "h_x", "h_y",
        (F.col("g_x") * F.col("f_y") - F.col("g_y") * F.col("f_x")).alias("qa"),
        (
            (F.col("e_x") * F.col("f_y") - F.col("e_y") * F.col("f_x"))
            + (F.col("h_x") * F.col("g_y") - F.col("h_y") * F.col("g_x"))
        ).alias("qb"),
        (F.col("h_x") * F.col("e_y") - F.col("h_y") * F.col("e_x")).alias("qc"),
    )
    c3 = c2.select(
        "*",
        F.sqrt(
            F.greatest(F.col("qb") * F.col("qb") - 4.0 * F.col("qa") * F.col("qc"), F.lit(0.0))
        ).alias("sq"),
    )
    tol = GCP_SEAM_TOL
    va = (-F.col("qb") + F.col("sq")) / (2.0 * F.col("qa"))
    vb = (-F.col("qb") - F.col("sq")) / (2.0 * F.col("qa"))
    v = (
        F.when(F.abs(F.col("qa")) < 1e-9, -F.col("qc") / F.col("qb"))
        .when((va >= -tol) & (va <= 1.0 + tol), va)
        .otherwise(vb)
    )
    c4 = c3.select(
        *gcols, "row", "col", "ti", "tj",
        "e_x", "e_y", "f_x", "f_y", "g_x", "g_y", "h_x", "h_y",
        v.alias("v"),
    )
    den_x = F.col("e_x") + F.col("v") * F.col("g_x")
    den_y = F.col("e_y") + F.col("v") * F.col("g_y")
    u = F.when(
        F.abs(den_x) >= F.abs(den_y), (F.col("h_x") - F.col("v") * F.col("f_x")) / den_x
    ).otherwise((F.col("h_y") - F.col("v") * F.col("f_y")) / den_y)
    c5 = c4.select(*gcols, "row", "col", "ti", "tj", "v", u.alias("u"))
    # Validity folds into the arbitration struct instead of a WHERE clause:
    # a pushable filter over (u, v) would be pushed through and re-inline the
    # full quadratic trees into the join projection during optimization
    # (measured ~25s of DRIVER planning time at sf0.01 — the cluster sat
    # idle while Catalyst churned). As a struct field it references the u/v
    # columns once, stays above the projection, and the post-agg filter on
    # the winner's flag cannot push below the aggregate.
    bad = (
        (F.col("u") < -tol) | (F.col("u") > 1.0 + tol)
        | (F.col("v") < -tol) | (F.col("v") > 1.0 + tol)
    ).cast("int")
    # seam arbitration: valid claimants sort before invalid, then the
    # lowest-index tile owns the cell. min over the struct = one hash
    # aggregate with map-side combine — no sort window; (ti, tj) is unique
    # per (cell, tile) so the winner is deterministic, and DuckDB's
    # ROW_NUMBER twin sorts the same keys. Continuity of the piecewise-
    # bilinear map makes the values agree anyway.
    c6 = (
        c5.groupBy(*group_cols, "row", "col")
        .agg(F.min(F.struct(bad.alias("bad"), "ti", "tj", "u", "v")).alias("_w"))
        .where(F.col("_w.bad") == 0)
    )
    kf = float(k)
    u_cl = F.least(F.greatest(F.col("_w.u"), F.lit(0.0)), F.lit(1.0))
    v_cl = F.least(F.greatest(F.col("_w.v"), F.lit(0.0)), F.lit(1.0))
    coords = c6.select(
        *gcols, "row", "col",
        ((F.col("_w.tj").cast("double") + u_cl) * kf).alias("cs"),
        ((F.col("_w.ti").cast("double") + v_cl) * kf).alias("rs"),
    )
    return resample_gather(coords, px, group_cols, value, alg=alg)


# --- G5c: true thin-plate-spline GCP warp (the reference's -tps interpolant) -


def tps_solve_np(ground_xy, px_rc):
    """Solve the classic TPS interpolation system (Duchon 1977 / Bookstein
    1989, the interpolant ``gdalwarp -tps`` fits): find f(x, y) = a0 + a1*x +
    a2*y + sum_i w_i * U(|P - P_i|), U(r) = r^2 * ln(r^2), that EXACTLY
    interpolates px_rc at the GCP ground positions, with the standard side
    conditions sum w = sum w*x = sum w*y = 0.

    ``ground_xy``: (n, 2) GCP ground coordinates; ``px_rc``: (n, 2) values
    to interpolate (source pixel cs, rs). Returns (weights (n, 2),
    affine (3, 2)). n is a GCP-grid count (tens to hundreds per product) —
    the (n+3)^2 solve is driver-side by design, mirroring the reference
    where gdalwarp's TPS solve is likewise a single-process step
    (/root/reference/src/io/sentinel1.rs:1016-1029)."""
    ground_xy = np.asarray(ground_xy, dtype=np.float64)
    px_rc = np.asarray(px_rc, dtype=np.float64)
    n = len(ground_xy)
    if n < 3:
        raise ValueError(
            f"TPS solve needs >= 3 GCPs (affine part has 3 dof); got {n}"
        )
    d = ground_xy[:, None, :] - ground_xy[None, :, :]
    r2 = (d * d).sum(-1)
    if bool((r2[np.triu_indices(n, k=1)] == 0.0).any()):
        raise ValueError(
            "TPS solve: duplicate GCP ground positions make the "
            f"(n+3)x(n+3) system singular (n={n})"
        )
    pmat = np.hstack([np.ones((n, 1)), ground_xy])
    if np.linalg.matrix_rank(pmat) < 3:
        raise ValueError(
            f"TPS solve: GCP ground positions are collinear (n={n}); the "
            "side-condition block P has rank < 3 and the system is singular"
        )
    with np.errstate(divide="ignore", invalid="ignore"):
        kmat = np.where(r2 > 0.0, r2 * np.log(np.where(r2 > 0.0, r2, 1.0)), 0.0)
    p = pmat
    a = np.zeros((n + 3, n + 3))
    a[:n, :n] = kmat
    a[:n, n:] = p
    a[n:, :n] = p.T
    b = np.zeros((n + 3, 2))
    b[:n] = px_rc
    # near-coincident (but not bit-identical) GCPs pass the exact-duplicate
    # guard yet make the system numerically singular — LU is backward-stable
    # so the solve residual stays small even when the solution is garbage;
    # a condition number is the honest detector. The RAW system's cond is
    # dominated by coordinate units (a UTM-meter grid measures ~1e24 yet
    # solves to full warp accuracy), so the diagnostic conditions the
    # UNIT-NORMALIZED twin system (center + scale ground coords to a unit
    # box): its cond reflects only intrinsic geometry — well-separated
    # grids measure ~1e2-1e4, (near-)coincident or (near-)collinear sets
    # blow past 1e12. The actual solve below is unchanged (bit-stability
    # contract of the distributed per-product solve).
    span = ground_xy.max(axis=0) - ground_xy.min(axis=0)
    scale = float(max(span.max(), 1e-300))
    nxy = (ground_xy - ground_xy.min(axis=0)) / scale
    nd = nxy[:, None, :] - nxy[None, :, :]
    nr2 = (nd * nd).sum(-1)
    with np.errstate(divide="ignore", invalid="ignore"):
        nk = np.where(nr2 > 0.0, nr2 * np.log(np.where(nr2 > 0.0, nr2, 1.0)), 0.0)
    na = np.zeros((n + 3, n + 3))
    na[:n, :n] = nk
    na[:n, n:] = np.hstack([np.ones((n, 1)), nxy])
    na[n:, :n] = na[:n, n:].T
    cond = float(np.linalg.cond(na))
    if not np.isfinite(cond) or cond > 1e12:
        raise ValueError(
            f"TPS solve: ill-conditioned system (normalized cond="
            f"{cond:.3e} > 1e12, n={n}) — GCP ground positions are "
            "(near-)coincident or (near-)collinear; thin the GCP grid or "
            "fix the geolocation"
        )
    sol = np.linalg.solve(a, b)
    return sol[:n], sol[n:]


def tps_eval_np(ground_xy, weights, affine, pts):
    """Numpy evaluator twin of the distributed apply (tests / validation)."""
    pts = np.asarray(pts, dtype=np.float64)
    d = pts[:, None, :] - np.asarray(ground_xy, dtype=np.float64)[None, :, :]
    r2 = (d * d).sum(-1)
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.where(r2 > 0.0, r2 * np.log(np.where(r2 > 0.0, r2, 1.0)), 0.0)
    return (
        affine[0][None, :]
        + pts[:, 0:1] * affine[1][None, :]
        + pts[:, 1:2] * affine[2][None, :]
        + u @ np.asarray(weights)
    )


def warp_gcp_tps(
    px: DataFrame,
    gcps: DataFrame,
    geo: DataFrame,
    group_cols: list[str],
    value: str = "v",
    alg: str = "bilinear",
    snap: float | None = None,
) -> DataFrame:
    """G5 TRUE thin-plate-spline GCP warp — the same interpolant as the
    reference's no-projection fallback ``gdalwarp -tps``
    (sentinel1.rs:1016-1029), complementing the piecewise-bilinear
    :func:`warp_gcp_grid` (exact at GCPs, bilinear between; TPS is exact at
    GCPs and C^1-smooth everywhere, so there are no tile seams at all):

      1. solve the TPS system PER PRODUCT in parallel with
         ``applyInPandas`` over the GCP relation grouped by product (r8 —
         replaces the r7 driver collect + serial loop, the last
         driver-side bottleneck; the (n+3)^2 numpy solve is unchanged
         bit-for-bit, one Arrow task per product, so 10k products solve
         as 10k independent tasks instead of a serial driver scan),
      2. broadcast ONE coefficient row per product (arrays over the GCPs),
      3. target canvas at ROW grain (identical stub pattern as
         warp_gcp_grid, explicit-count repartition),
      4. per-cell source coordinates as a single column expression:
         affine part + F.aggregate fold over the zipped coefficient arrays
         (fold order = array order, so an oracle twin can reproduce the
         sum bit-for-bit as a left-associated unrolled chain),
      5. optional dyadic lattice snap of (cs, rs) — the cross-engine
         doctrine knob for oracle fixtures (U(r) involves LN, so unsnapped
         coordinates carry ulp-grain libm noise),
      6. shared resample gather.

    ``gcps``: (group..., gx, gy, scol, srow) — ground position and the
    source PIXEL coordinate it interpolates to. ``geo``: target grid
    (dg0..dg5, dst_rows, dst_cols) as in warp_gcp_grid."""
    gcols = [F.col(c) for c in group_cols]
    coef = tps_coefficients(gcps, group_cols)
    stubs = geo.select(
        *gcols, "dg0", "dg1", "dg2", "dg3", "dg4", "dg5", "dst_cols",
        F.explode(F.sequence(F.lit(0), F.col("dst_rows") - 1)).alias("row"),
    ).repartition(_canvas_partitions(geo), *group_cols, "row")
    cells = stubs.select(
        *gcols, "row",
        F.explode(F.sequence(F.lit(0), F.col("dst_cols") - 1)).alias("col"),
        (F.col("dg0") + (F.col("col") + 0.5) * F.col("dg1") + (F.col("row") + 0.5) * F.col("dg2")).alias("x"),
        (F.col("dg3") + (F.col("col") + 0.5) * F.col("dg4") + (F.col("row") + 0.5) * F.col("dg5")).alias("y"),
    )
    # one coefficient row per product — GCP-grid-sized arrays, broadcastable
    # at any product size (the tiles_b class of relation)
    j = cells.join(F.broadcast(coef), group_cols)
    cs, rs = tps_spline_cols(snap=snap)
    coords = j.select(*gcols, "row", "col", cs.alias("cs"), rs.alias("rs"))
    return resample_gather(coords, px, group_cols, value, alg=alg)


def tps_coefficients(gcps: DataFrame, group_cols: list[str]) -> DataFrame:
    """The distributed TPS solve shared by :func:`warp_gcp_tps` and
    :func:`tps_gcp_residuals` (r9 factor-out — ONE applyInPandas task per
    product, the driver never sees a GCP row): solves the (n+3)^2 system
    per group over GCPs pinned to the deterministic (gy, gx) mergesort
    order and returns ONE coefficient row per group
    (xs/ys/wc/wr arrays + the six affine terms)."""
    # key types must come from the relation actually grouped (gcps) — if a
    # group column is e.g. int in px but bigint in gcps, a px-derived
    # schema would narrow the Arrow key conversion
    key_schema = ", ".join(
        f"{c} {gcps.schema[c].dataType.simpleString()}" for c in group_cols
    )
    coef_schema = (
        f"{key_schema}, xs array<double>, ys array<double>, "
        "wc array<double>, wr array<double>, "
        "a0c double, a1c double, a2c double, a0r double, a1r double, a2r double"
    )

    def _solve_group(key, pdf):
        import pandas as pd

        # (gy, gx) sort = the operator's pinned deterministic GCP order;
        # mergesort so the order is reproducible even with ties
        pdf = pdf.sort_values(["gy", "gx"], kind="mergesort")
        gxy = list(zip(pdf["gx"].tolist(), pdf["gy"].tolist()))
        target = list(zip(pdf["scol"].tolist(), pdf["srow"].tolist()))
        try:
            w, aff = tps_solve_np(gxy, target)
        except ValueError as e:
            raise ValueError(
                f"warp_gcp_tps: degenerate GCP set for product key {key}: {e}"
            ) from e
        row = {c: [k] for c, k in zip(group_cols, key)}
        row.update(
            xs=[[float(x) for x, _ in gxy]],
            ys=[[float(y) for _, y in gxy]],
            wc=[[float(v) for v in w[:, 0]]],
            wr=[[float(v) for v in w[:, 1]]],
            a0c=[float(aff[0, 0])], a1c=[float(aff[1, 0])], a2c=[float(aff[2, 0])],
            a0r=[float(aff[0, 1])], a1r=[float(aff[1, 1])], a2r=[float(aff[2, 1])],
        )
        return pd.DataFrame(row)

    # one Arrow task per product: the (n+3)^2 solve runs on executors, the
    # driver never sees a GCP row (r7's collect+loop grew with product count)
    return (
        gcps.select(*group_cols, "gx", "gy", "scol", "srow")
        .groupBy(*group_cols)
        .applyInPandas(_solve_group, schema=coef_schema)
    )


def tps_spline_cols(
    snap: float | None = None, x: str = "x", y: str = "y"
) -> tuple[F.Column, F.Column]:
    """(cs, rs) spline-evaluation column pair over a frame that joins the
    :func:`tps_coefficients` row onto per-point ``x``/``y`` columns —
    affine part + F.aggregate fold over the zipped coefficient arrays
    (fold order = array order, so an oracle twin can reproduce the sum
    bit-for-bit as a left-associated unrolled chain)."""

    def bend(wcol: str) -> F.Column:
        # fold order = array order; each term references x/y once. U(0) = 0
        # handles the cell-exactly-on-a-GCP case without LN(0).
        def term(acc, t):
            r2 = (F.col(x) - t["xs"]) * (F.col(x) - t["xs"]) + (
                F.col(y) - t["ys"]
            ) * (F.col(y) - t["ys"])
            return acc + t[wcol] * F.when(r2 > 0.0, r2 * F.log(r2)).otherwise(0.0)

        return F.aggregate(
            F.arrays_zip("xs", "ys", F.col(wcol).alias(wcol)), F.lit(0.0), term
        )

    cs = F.col("a0c") + F.col("a1c") * F.col(x) + F.col("a2c") * F.col(y) + bend("wc")
    rs = F.col("a0r") + F.col("a1r") * F.col(x) + F.col("a2r") * F.col(y) + bend("wr")
    if snap is not None:
        cs = F.floor(cs * snap + F.lit(0.5)) / snap
        rs = F.floor(rs * snap + F.lit(0.5)) / snap
    return cs, rs


def tps_gcp_residuals(gcps: DataFrame, group_cols: list[str]) -> DataFrame:
    """r9 TPS determinism certificate: evaluate the PRODUCTION spline
    (distributed :func:`tps_coefficients` solve + the same
    :func:`tps_spline_cols` fold the warp applies per cell) back at the
    GCPs themselves and emit per-GCP residuals against the interpolation
    targets. TPS interpolates exactly, so both residual columns are ~1e-9
    (solver round-off) — a certificate run hashes them at the 1e-6 grain
    as hard zeros, pinning (a) the (gy, gx)-mergesort solve order, (b) the
    coefficient broadcast, and (c) the fold evaluation order forever: any
    nondeterminism or refactor drift in the distributed solve shows up as
    a nonzero residual before it can corrupt a warp.

    Input ``gcps``: (group..., gx, gy, scol, srow) exactly as
    :func:`warp_gcp_tps` takes. Output: every input column plus
    ``pred_c``/``pred_r`` (unsnapped spline evaluation) and
    ``res_c``/``res_r`` (pred - target)."""
    coef = tps_coefficients(gcps, group_cols)
    j = gcps.join(F.broadcast(coef), group_cols)
    cs, rs = tps_spline_cols(snap=None, x="gx", y="gy")
    return j.select(
        *[F.col(c) for c in gcps.columns],
        cs.alias("pred_c"),
        rs.alias("pred_r"),
        (cs - F.col("scol")).alias("res_c"),
        (rs - F.col("srow")).alias("res_r"),
    )


def sql_resample_gather(
    coords_rel: str,
    px_rel: str,
    group_cols: list[str],
    value: str = "v",
    alg: str = "bilinear",
    corners_name: str = "cornersw",
) -> str:
    """DuckDB twin of :func:`resample_gather`: the gather-stage CTEs shared
    by every warp route, ending in ``warped``. ``coords_rel`` yields
    (group, row, col, cs, rs). Weight expressions are written in the
    IDENTICAL Horner operation order as the Spark columns so dyadic
    fixtures stay bit-exact across engines."""
    g = ", ".join(group_cols)
    on = " AND ".join(f"p.{c} = c.{c}" for c in group_cols)
    if alg in ("near", "nearest"):
        gc = ", ".join(f"c.{c}" for c in group_cols)
        return f"""warped AS (
  SELECT {gc}, c.row, c.col, CAST(p.{value} AS DOUBLE) AS {value}
  FROM (
    SELECT {g}, row, col,
           CAST(FLOOR(rs + 0.5) AS INTEGER) AS srow,
           CAST(FLOOR(cs + 0.5) AS INTEGER) AS scol
    FROM {coords_rel}
  ) c
  JOIN {px_rel} p ON {on} AND p.row = c.srow AND p.col = c.scol
)"""
    if alg == "bilinear":
        return f"""{corners_name} AS (
  SELECT {g}, row, col,
         CAST(FLOOR(rs) AS INTEGER) + kk.dr AS srow,
         CAST(FLOOR(cs) AS INTEGER) + kk.dc AS scol,
         (CASE WHEN kk.dr = 1 THEN rs - FLOOR(rs) ELSE 1.0 - (rs - FLOOR(rs)) END)
       * (CASE WHEN kk.dc = 1 THEN cs - FLOOR(cs) ELSE 1.0 - (cs - FLOOR(cs)) END) AS w
  FROM {coords_rel},
       LATERAL (SELECT UNNEST([0,0,1,1]) AS dr, UNNEST([0,1,0,1]) AS dc) kk
),
warped AS (
  SELECT {g}, row, col, SUM(w * _v) / SUM(w) AS {value}
  FROM (
    SELECT c.*, CAST(p.{value} AS DOUBLE) AS _v
    FROM {corners_name} c
    JOIN {px_rel} p
      ON {on}
     AND p.row = c.srow AND p.col = c.scol
  ) j
  GROUP BY {g}, row, col
  HAVING SUM(w) > 0.0
)"""
    if alg == "cubic":
        # Keys a=-0.5; per-axis |x| by tap offset: -1 -> 1+f, 0 -> f,
        # 1 -> 1-f, 2 -> 2-f. Inner (|x|<=1): (1.5*x - 2.5)*x*x + 1.0;
        # outer: ((-0.5*x + 2.5)*x - 4.0)*x + 2.0 — Horner forms in
        # lock-step with _cubic_w. (At the only overlap point |x|=1 both
        # forms give exactly 0.0 in the dyadic fixture arithmetic.)
        def axis(off_col: str, f: str) -> str:
            inner = lambda x: f"((1.5 * {x} - 2.5) * {x} * {x} + 1.0)"
            outer = lambda x: f"(((-0.5 * {x} + 2.5) * {x} - 4.0) * {x} + 2.0)"
            return (f"(CASE {off_col} WHEN -1 THEN {outer(f'(1.0 + {f})')} "
                    f"WHEN 0 THEN {inner(f)} "
                    f"WHEN 1 THEN {inner(f'(1.0 - {f})')} "
                    f"ELSE {outer(f'(2.0 - {f})')} END)")
        taps = ",".join(str(d) for d in (-1, 0, 1, 2) for _ in range(4))
        tapsc = ",".join(str(d) for _ in range(4) for d in (-1, 0, 1, 2))
        wr = axis("kk.dr", "fr")
        wc = axis("kk.dc", "fc")
        return f"""{corners_name} AS (
  SELECT {g}, row, col,
         CAST(FLOOR(rs) AS INTEGER) + kk.dr AS srow,
         CAST(FLOOR(cs) AS INTEGER) + kk.dc AS scol,
         {wr}
       * {wc} AS w
  FROM (SELECT *, rs - FLOOR(rs) AS fr, cs - FLOOR(cs) AS fc FROM {coords_rel}),
       LATERAL (SELECT UNNEST([{taps}]) AS dr, UNNEST([{tapsc}]) AS dc) kk
),
warped AS (
  SELECT {g}, row, col, SUM(w * _v) / SUM(w) AS {value}
  FROM (
    SELECT c.*, CAST(p.{value} AS DOUBLE) AS _v
    FROM {corners_name} c
    JOIN {px_rel} p
      ON {on}
     AND p.row = c.srow AND p.col = c.scol
  ) j
  GROUP BY {g}, row, col
  HAVING ABS(SUM(w)) > 1e-9
)"""
    if alg == "lanczos":
        # r11 TRUE Lanczos3: phase-snapped table lookup — the weight list
        # is the SAME Python-computed literals the Spark plan carries, so
        # no libm runs in either engine (see LANCZOS_PHASES) and the
        # 2^-24-grain combined weights make the 36-tap sums
        # order-independent (see _LANCZOS_WSCALE)
        wlist = "[" + ", ".join(repr(w) for w in _lanczos_phase_table()) + "]"
        nper = LANCZOS_PHASES + 1
        offs = list(range(-(LANCZOS_A - 1), LANCZOS_A + 1))
        taps = ",".join(str(d) for d in offs for _ in offs)
        tapsc = ",".join(str(d) for _ in offs for d in offs)
        wr = f"list_extract(lwtab.t, (kk.dr + 2) * {nper} + pr + 1)"
        wc = f"list_extract(lwtab.t, (kk.dc + 2) * {nper} + pc + 1)"
        return f"""lwtab AS (SELECT {wlist} AS t),
{corners_name} AS (
  SELECT {g}, row, col,
         CAST(FLOOR(rs) AS INTEGER) + kk.dr AS srow,
         CAST(FLOOR(cs) AS INTEGER) + kk.dc AS scol,
         FLOOR({wr} * {wc} * {_LANCZOS_WSCALE!r} + 0.5) / {_LANCZOS_WSCALE!r} AS w
  FROM (SELECT *,
          CAST(FLOOR((rs - FLOOR(rs)) * {LANCZOS_PHASES} + 0.5) AS INTEGER) AS pr,
          CAST(FLOOR((cs - FLOOR(cs)) * {LANCZOS_PHASES} + 0.5) AS INTEGER) AS pc
        FROM {coords_rel}),
       lwtab,
       LATERAL (SELECT UNNEST([{taps}]) AS dr, UNNEST([{tapsc}]) AS dc) kk
),
warped AS (
  SELECT {g}, row, col, SUM(w * _v) / SUM(w) AS {value}
  FROM (
    SELECT c.*, CAST(p.{value} AS DOUBLE) AS _v
    FROM {corners_name} c
    JOIN {px_rel} p
      ON {on}
     AND p.row = c.srow AND p.col = c.scol
  ) j
  GROUP BY {g}, row, col
  HAVING ABS(SUM(w)) > 1e-9
)"""
    raise ValueError(f"unsupported resample alg {alg!r} (near|bilinear|cubic|lanczos)")



def sql_warp_gcp_grid(
    px_rel: str,
    gcp_rel: str,
    geo_rel: str,
    group_cols: list[str],
    k: int,
    bucket: float = 256.0,
    value: str = "v",
    alg: str = "bilinear",
) -> str:
    """DuckDB twin of :func:`warp_gcp_grid`. ``gcp_rel`` yields (group, gi,
    gj, gx, gy); ``geo_rel`` yields (group, dg0..dg5, dst_rows, dst_cols).
    Returns CTEs ending in ``warped``."""
    g = ", ".join(group_cols)
    gt = ", ".join(f"t.{c}" for c in group_cols)
    gg = ", ".join(f"g.{c}" for c in group_cols)
    kf = float(k)
    return f"""
gcorners AS (
  SELECT {g}, gi AS ti, gj AS tj,
         MAX(CASE WHEN oi = 0 AND oj = 0 THEN 1 ELSE 0 END) AS _h00,
         MAX(CASE WHEN oi = 0 AND oj = 0 THEN gx END) AS x00,
         MAX(CASE WHEN oi = 0 AND oj = 1 THEN gx END) AS x01,
         MAX(CASE WHEN oi = 1 AND oj = 0 THEN gx END) AS x10,
         MAX(CASE WHEN oi = 1 AND oj = 1 THEN gx END) AS x11,
         MAX(CASE WHEN oi = 0 AND oj = 0 THEN gy END) AS y00,
         MAX(CASE WHEN oi = 0 AND oj = 1 THEN gy END) AS y01,
         MAX(CASE WHEN oi = 1 AND oj = 0 THEN gy END) AS y10,
         MAX(CASE WHEN oi = 1 AND oj = 1 THEN gy END) AS y11,
         COUNT(*) AS _nc
  FROM (
    SELECT {g}, gx, gy, gi - o.oi AS gi, gj - o.oj AS gj, o.oi, o.oj
    FROM {gcp_rel} p,
         LATERAL (SELECT UNNEST([0,0,1,1]) AS oi, UNNEST([0,1,0,1]) AS oj) o
  ) s
  GROUP BY {g}, gi, gj
  HAVING COUNT(*) = 4 AND MAX(CASE WHEN oi = 0 AND oj = 0 THEN 1 ELSE 0 END) = 1
),
tilesw AS (
  SELECT {g}, ti, tj,
         x00, x01, x10, x11, y00, y01, y10, y11,
         LEAST(x00,x01,x10,x11) AS xmin, GREATEST(x00,x01,x10,x11) AS xmax,
         LEAST(y00,y01,y10,y11) AS ymin, GREATEST(y00,y01,y10,y11) AS ymax
  FROM gcorners
),
tilesb AS (
  SELECT t.*, bx.i AS bx, by.i AS by
  FROM tilesw t,
       LATERAL (SELECT UNNEST(RANGE(CAST(FLOOR(t.xmin/{bucket!r}) AS BIGINT),
                                    CAST(FLOOR(t.xmax/{bucket!r}) AS BIGINT) + 1)) AS i) bx,
       LATERAL (SELECT UNNEST(RANGE(CAST(FLOOR(t.ymin/{bucket!r}) AS BIGINT),
                                    CAST(FLOOR(t.ymax/{bucket!r}) AS BIGINT) + 1)) AS i) by
),
gcellsw AS (
  SELECT {gg}, r.i AS row, c.i AS col,
         g.dg0 + (c.i + 0.5) * g.dg1 + (r.i + 0.5) * g.dg2 AS x,
         g.dg3 + (c.i + 0.5) * g.dg4 + (r.i + 0.5) * g.dg5 AS y
  FROM {geo_rel} g,
       LATERAL (SELECT UNNEST(RANGE(0, g.dst_rows)) AS i) r,
       LATERAL (SELECT UNNEST(RANGE(0, g.dst_cols)) AS i) c
),
-- inverse bilinear, expression order in lock-step with warp_gcp_grid
gcand1 AS (
  SELECT {gt}, t.ti, t.tj, cl.row, cl.col,
         t.x01 - t.x00 AS e_x, t.y01 - t.y00 AS e_y,
         t.x10 - t.x00 AS f_x, t.y10 - t.y00 AS f_y,
         t.x00 - t.x01 - t.x10 + t.x11 AS g_x,
         t.y00 - t.y01 - t.y10 + t.y11 AS g_y,
         cl.x - t.x00 AS h_x, cl.y - t.y00 AS h_y
  FROM gcellsw cl
  JOIN tilesb t
    ON {' AND '.join(f't.{c} = cl.{c}' for c in group_cols)}
   AND t.bx = CAST(FLOOR(cl.x/{bucket!r}) AS BIGINT)
   AND t.by = CAST(FLOOR(cl.y/{bucket!r}) AS BIGINT)
),
gcand2 AS (
  SELECT *,
         g_x * f_y - g_y * f_x AS qa,
         (e_x * f_y - e_y * f_x) + (h_x * g_y - h_y * g_x) AS qb,
         h_x * e_y - h_y * e_x AS qc
  FROM gcand1
),
gcand3 AS (
  SELECT *, SQRT(GREATEST(qb * qb - 4.0 * qa * qc, 0.0)) AS sq FROM gcand2
),
gcand4 AS (
  SELECT *,
         CASE WHEN ABS(qa) < 1e-9 THEN -qc / qb
              WHEN (-qb + sq) / (2.0 * qa) >= {-GCP_SEAM_TOL!r}
               AND (-qb + sq) / (2.0 * qa) <= {1.0 + GCP_SEAM_TOL!r}
              THEN (-qb + sq) / (2.0 * qa)
              ELSE (-qb - sq) / (2.0 * qa) END AS v
  FROM gcand3
),
gcand5 AS (
  SELECT *,
         CASE WHEN ABS(e_x + v * g_x) >= ABS(e_y + v * g_y)
              THEN (h_x - v * f_x) / (e_x + v * g_x)
              ELSE (h_y - v * f_y) / (e_y + v * g_y) END AS u
  FROM gcand4
),
gcand6 AS (
  SELECT {g}, row, col, ti, tj, u, v,
         ROW_NUMBER() OVER (PARTITION BY {g}, row, col ORDER BY ti, tj) AS _rn
  FROM gcand5
  WHERE u >= {-GCP_SEAM_TOL!r} AND u <= {1.0 + GCP_SEAM_TOL!r}
    AND v >= {-GCP_SEAM_TOL!r} AND v <= {1.0 + GCP_SEAM_TOL!r}
),
gcoords AS (
  SELECT {g}, row, col,
         (CAST(tj AS DOUBLE) + LEAST(GREATEST(u, 0.0), 1.0)) * {kf!r} AS cs,
         (CAST(ti AS DOUBLE) + LEAST(GREATEST(v, 0.0), 1.0)) * {kf!r} AS rs
  FROM gcand6 WHERE _rn = 1
),
{sql_resample_gather(px_rel=px_rel, coords_rel="gcoords", group_cols=group_cols, value=value, alg=alg, corners_name="gcornerw")}""".strip()


def sql_affine_warp(
    px_rel: str,
    geo_rel: str,
    group_cols: list[str],
    value: str = "v",
    alg: str = "bilinear",
) -> str:
    """DuckDB twin of :func:`affine_warp`. ``px_rel`` yields
    (group, row, col, value); ``geo_rel`` yields (group, sg0..sg5, dg0..dg5,
    dst_rows, dst_cols). ``alg`` in near|bilinear|cubic selects the gather
    kernel (sql_resample_gather). Returns CTEs ending in ``warped``."""
    g = ", ".join(group_cols)
    gg = ", ".join(f"g.{c}" for c in group_cols)
    return f"""
cellsw AS (
  SELECT {gg}, r.i AS row, c.i AS col,
         g.dg0 + (c.i + 0.5) * g.dg1 + (r.i + 0.5) * g.dg2 AS x,
         g.dg3 + (c.i + 0.5) * g.dg4 + (r.i + 0.5) * g.dg5 AS y,
         g.sg0, g.sg1, g.sg2, g.sg3, g.sg4, g.sg5
  FROM {geo_rel} g,
       LATERAL (SELECT UNNEST(RANGE(0, g.dst_rows)) AS i) r,
       LATERAL (SELECT UNNEST(RANGE(0, g.dst_cols)) AS i) c
),
srccoord AS (
  SELECT {g}, row, col,
         ((x - sg0) * sg5 - (y - sg3) * sg2) / (sg1 * sg5 - sg2 * sg4) - 0.5 AS cs,
         ((y - sg3) * sg1 - (x - sg0) * sg4) / (sg1 * sg5 - sg2 * sg4) - 0.5 AS rs
  FROM cellsw
),
{sql_resample_gather("srccoord", px_rel, group_cols, value, alg, "cornersw")}""".strip()
