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

from types import SimpleNamespace
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sarpro_spark import frames
from sarpro_spark.functions.partitioning import shuffle_partition_count


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
    ).repartition(shuffle_partition_count(dims), *group_cols, "row")
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


# --- G5: in-engine affine warp (near / bilinear / cubic / lanczos) -----------


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

    ``alg`` selects the reference's ``-r {near,bilinear,cubic,lanczos}``
    resampling kernel (src/io/sentinel1.rs:988-1032, CLI mapping
    src/cli/runner.rs:61-67): nearest = 1 tap, bilinear = 4 taps, cubic =
    16-tap Keys cubic convolution (a = -0.5, GDAL's cubic), lanczos = 36-tap
    Lanczos3 — same canvas / coords plan, only the gather's kernel table
    entry differs (:func:`resample_gather`).
    """
    coords = affine_coords(geo, group_cols)
    return resample_gather(coords, px, group_cols, value, alg=alg)


def affine_coords(geo: DataFrame, group_cols: list[str]) -> DataFrame:
    """Target canvas + inverse-affine source coordinates shared by every
    kernel: one row per target cell (group, row, col, cs, rs). Row-grain
    explode -> repartition (explicit count, :func:`shuffle_partition_count`) ->
    in-task col explode (the pad_to_square scale shape — never an
    O(rows*cols) single-task explode). The count is explicit because the
    stub exchange carries one tiny row per target row: AQE coalesced it by
    bytes and warp_utm_from_lonlat peaked at 704 MB task memory with its
    whole canvas in ONE task at sf0.1."""
    gcols = [F.col(c) for c in group_cols]
    stubs = geo.select(
        *gcols, "sg0", "sg1", "sg2", "sg3", "sg4", "sg5",
        "dg0", "dg1", "dg2", "dg3", "dg4", "dg5", "dst_cols",
        F.explode(F.sequence(F.lit(0), F.col("dst_rows") - 1)).alias("row"),
    ).repartition(shuffle_partition_count(geo), *group_cols, "row")
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


# --- the -r kernel table and the one gather built from it --------------------

#: Keys cubic-convolution free parameter — a = -0.5 is the classic Keys
#: (1981) choice and what GDAL's `-r cubic` uses; the reference exposes it
#: via `-r cubic` (src/io/sentinel1.rs:933-936; the reference DEFAULT is
#: lanczos→bilinear, core/params.rs:38 + sentinel1.rs:937-941).
CUBIC_A = -0.5
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


class _Sql:
    """DuckDB SQL text that composes with the operators of a Spark Column,
    so one weight expression renders for both engines. Every operation is
    parenthesized: the text keeps the Python expression's operation order,
    which is what keeps the twins bit-exact."""

    def __init__(self, text):
        self.text = str(text) if isinstance(text, (str, _Sql)) else repr(text)

    def __str__(self):
        return self.text

    def _op(op):
        return lambda a, b: _Sql(f"({a} {op} {_Sql(b)})")

    __add__, __sub__, __mul__, __truediv__ = _op("+"), _op("-"), _op("*"), _op("/")
    __le__, __gt__, __eq__ = _op("<="), _op(">"), _op("=")
    __hash__ = None
    del _op


#: the expression forms a kernel statement uses, once per engine
_SPARK = SimpleNamespace(
    lit=F.lit, abs=F.abs, floor=F.floor, int=lambda x: x.cast("int"),
    when=lambda c, a, b: F.when(c, a).otherwise(b),
    at=lambda tab, i: F.element_at(F.array(*[F.lit(w) for w in tab]), i),
)
_DUCK = SimpleNamespace(
    lit=_Sql, abs=lambda x: _Sql(f"ABS({x})"), floor=lambda x: _Sql(f"FLOOR({x})"),
    int=lambda x: _Sql(f"CAST({x} AS INTEGER)"),
    when=lambda c, a, b: _Sql(f"(CASE WHEN {c} THEN {a} ELSE {b} END)"),
    at=lambda tab, i: _Sql(f"list_extract([{', '.join(map(repr, tab))}], {i})"),
)


def _cubic_w(x, e):
    """1-D Keys cubic weight for a tap at distance x in [0, 2].
    Horner forms with a = -0.5 baked in (one statement for both engines,
    so dyadic inputs stay bit-exact):
      |x| <= 1:  (1.5*x - 2.5)*x*x + 1
      1 < |x| < 2: ((-0.5*x + 2.5)*x - 4.0)*x + 2.0
    """
    return e.when(
        x <= 1.0, (e.lit(1.5) * x - e.lit(2.5)) * x * x + e.lit(1.0),
        ((e.lit(-0.5) * x + e.lit(2.5)) * x - e.lit(4.0)) * x + e.lit(2.0),
    )


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


def _lanczos_w(d, phase, e):
    """1-D Lanczos weight as a literal-list lookup (codegen, no libm): tap
    offset ``d`` in [-2, 3], snapped fraction ``phase`` in [0, 32]."""
    return e.at(_lanczos_phase_table(), (d + e.lit(2)) * e.lit(LANCZOS_PHASES + 1) + phase + e.lit(1))


#: per-axis weight arguments, computed once per target cell from the
#: fraction f = x - floor(x)
_ARGS = {
    "frac": lambda f, e: f,
    "phase": lambda f, e: e.int(e.floor(f * e.lit(LANCZOS_PHASES) + e.lit(0.5))),
}


class _Kernel(NamedTuple):
    offsets: tuple[int, ...]  # tap offsets per axis, from the base
    half: bool  # base floor(x + 0.5) (the rounded pixel) instead of floor(x)
    arg: str  # the per-axis weight argument (_ARGS)
    w1: Callable  # 1-D weight (offset, arg, engine)
    snap: bool  # 2-D weight floor(w_r*w_c*2^24 + 0.5)/2^24, else w_r*w_c
    mass: Callable  # which cells keep a value, from the present-tap weight sum


#: The reference's ``-r`` kernels (src/cli/runner.rs:61-67), each stated
#: once: both engines' gathers are built from this table. Cubic and Lanczos
#: weights go negative, so their mass rule is |mass| > 1e-9; nearest's one
#: tap weighs 1, so its mass is positive exactly when the tap is present.
_KERNELS = {
    "near": _Kernel((0,), True, "frac", lambda d, f, e: e.lit(1.0), False, lambda m, e: m > 0.0),
    "bilinear": _Kernel(
        (0, 1), False, "frac", lambda d, f, e: e.when(d == 1, f, e.lit(1.0) - f), False,
        lambda m, e: m > 0.0,
    ),
    "cubic": _Kernel(
        (-1, 0, 1, 2), False, "frac", lambda d, f, e: _cubic_w(e.abs(d - f), e), False,
        lambda m, e: e.abs(m) > 1e-9,
    ),
    "lanczos": _Kernel(
        tuple(range(1 - LANCZOS_A, LANCZOS_A + 1)), False, "phase", _lanczos_w, True,
        lambda m, e: e.abs(m) > 1e-9,
    ),
}


def _kernel(alg: str) -> _Kernel:
    k = _KERNELS.get("near" if alg == "nearest" else alg)
    if k is None:
        raise ValueError(f"unsupported resample alg {alg!r} (near|bilinear|cubic|lanczos)")
    return k


def _base(x, half, e):
    return e.int(e.floor(x + e.lit(0.5)) if half else e.floor(x))


def _tap_weight(k: _Kernel, dr, dc, ar, ac, e):
    w = k.w1(dr, ar, e) * k.w1(dc, ac, e)
    return e.floor(w * e.lit(_LANCZOS_WSCALE) + e.lit(0.5)) / e.lit(_LANCZOS_WSCALE) if k.snap else w


def resample_gather(
    coords: DataFrame,
    px: DataFrame,
    group_cols: list[str],
    value: str = "v",
    alg: str | tuple[str, ...] = "bilinear",
) -> DataFrame:
    """The gather stage every warp route ends in — the execution-side
    consumer of ProcessingParams.resample_alg (the reference's ``-r`` flag).
    ``coords`` carries one row per TARGET cell (group, row, col, cs, rs)
    with fractional source pixel coordinates; the plan is a tap explode ->
    ONE co-partitioned join against ``px`` -> ONE per-cell weighted
    aggregate, sum(w*v)/sum(w) over the present taps (edge cells
    renormalize; a cell failing its kernel's mass rule drops).

    ``alg`` is one kernel name (returns ``value``) or a tuple of names
    (returns one nullable ``q_<name>`` column per kernel, null where that
    kernel's mass rule fails). A tuple explodes the union of its kernels'
    taps — the nearest tap, the bilinear corners and the cubic patch all
    lie inside the Lanczos3 6x6 patch — so one pixel shuffle serves every
    kernel. Each leg is bit-identical to its single-kernel gather: under
    the dyadic fixture doctrine every weight is exact IEEE, a kernel's
    weight is a literal 0.0 on taps outside its own patch and x + 0.0 = x,
    so each per-leg sum is the same in any order (the lanczos addends are
    exact 2^-24 multiples — see _LANCZOS_WSCALE). Nearest alone is one
    tap: the value passes through untouched on a join-only plan.

    ``lanczos`` is the TRUE 36-tap windowed sinc since r11 — the
    reference's warp silently degrades it to bilinear (sentinel1.rs:937-941
    ``_ => "bilinear"``) even though its RESIZE stage is Lanczos3; this
    engine honors the request exactly instead (documented deviation — a
    user needing byte-parity with the reference's degraded output passes
    ``-r bilinear`` explicitly)."""
    names = (alg,) if isinstance(alg, str) else tuple(alg)
    ks = {n: _kernel(n) for n in names}
    half = all(k.half for k in ks.values())
    # a rounding kernel under a floor(x) base: floor(x + 0.5) is floor(x)
    # or floor(x) + 1, so its taps reach one further per axis
    span = sorted({d + s for k in ks.values() for d in k.offsets for s in range(1 + (k.half > half))})
    gcols = [F.col(c) for c in group_cols]
    per_cell = {}
    for a in "rc":
        x = F.col(f"{a}s")
        per_cell[f"_{a}0"] = _base(x, half, _SPARK)
        for k in ks.values():
            per_cell[f"_{k.arg}_{a}"] = _ARGS[k.arg](x - F.floor(x), _SPARK)
            if k.half > half:
                per_cell[f"_{a}n"] = _base(x, True, _SPARK)
    cells = coords.select(*gcols, "row", "col", *[c.alias(n) for n, c in per_cell.items()])
    srcpx = px.select(
        *gcols, F.col("row").alias("srow"), F.col("col").alias("scol"),
        F.col(value).cast("double").alias("_v"),
    )
    # Structural intent: cells x pixels is BIG x BIG and must never be
    # planned as a broadcast. Without the hint, a CACHED px lineage reports
    # optimistic in-memory stats, the 64 MB threshold bites, and the driver
    # dies building a multi-GiB broadcast (reproduced in the r5 sf1 soak —
    # the exact failure a mis-estimated relation causes at 100 TB).
    keys = [*group_cols, "srow", "scol"]
    if len(span) == 1:  # nearest alone: the one tap's value passes through
        taps = cells.select(*gcols, "row", "col", F.col("_r0").alias("srow"), F.col("_c0").alias("scol"))
        hit = taps.join(srcpx.hint("shuffle_merge"), keys)
        return hit.select(*gcols, "row", "col", F.col("_v").alias(value if isinstance(alg, str) else f"q_{names[0]}"))
    tap = F.explode(F.array(*[
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc")) for dr in span for dc in span
    ])).alias("k")
    taps = cells.select(*gcols, "row", "col", *per_cell, tap)
    dr, dc = F.col("k.dr"), F.col("k.dc")
    srow, scol = F.col("_r0") + dr, F.col("_c0") + dc
    ws = []
    for n, k in ks.items():
        own_r, own_c = (srow - F.col("_rn"), scol - F.col("_cn")) if k.half > half else (dr, dc)
        w = _tap_weight(k, own_r, own_c, F.col(f"_{k.arg}_r"), F.col(f"_{k.arg}_c"), _SPARK)
        if k.half > half or list(k.offsets) != span:
            w = F.when(own_r.isin(*k.offsets) & own_c.isin(*k.offsets), w).otherwise(F.lit(0.0))
        ws.append(w.alias(f"_w_{n}"))
    hit = taps.select(*gcols, "row", "col", srow.alias("srow"), scol.alias("scol"), *ws).join(
        srcpx.hint("shuffle_merge"), keys
    )
    agg = hit.groupBy(*group_cols, "row", "col").agg(*[
        f for n in ks
        for f in (F.sum(F.col(f"_w_{n}") * F.col("_v")).alias(f"_wv_{n}"), F.sum(f"_w_{n}").alias(f"_m_{n}"))
    ])
    legs = {n: (F.col(f"_wv_{n}") / F.col(f"_m_{n}"), k.mass(F.col(f"_m_{n}"), _SPARK)) for n, k in ks.items()}
    if isinstance(alg, str):
        v, keep = legs[alg]
        return agg.where(keep).select(*gcols, "row", "col", v.alias(value))
    return agg.select(*gcols, "row", "col", *[F.when(keep, v).alias(f"q_{n}") for n, (v, keep) in legs.items()])


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
    ).repartition(shuffle_partition_count(geo), *group_cols, "row")
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
    ).repartition(shuffle_partition_count(geo), *group_cols, "row")
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
    """DuckDB twin of :func:`resample_gather` for one kernel: the tap CTE
    ``corners_name`` and ``warped``, rendered from the same kernel table
    (same weight statements, same operation order, same literals), so
    dyadic fixtures stay bit-exact across engines. ``coords_rel`` yields
    (group, row, col, cs, rs)."""
    k = _kernel(alg)
    g = ", ".join(group_cols)
    on = " AND ".join(f"p.{c} = c.{c}" for c in group_cols)
    cell = ", ".join(
        f"{_base(x, k.half, _DUCK)} AS _{a}0, {_ARGS[k.arg](x - _DUCK.floor(x), _DUCK)} AS _{a}a"
        for a, x in (("r", _Sql("rs")), ("c", _Sql("cs")))
    )
    w = _tap_weight(k, _Sql("kk.dr"), _Sql("kk.dc"), _Sql("_ra"), _Sql("_ca"), _DUCK)
    taps = ",".join(str(d) for d in k.offsets for _ in k.offsets)
    tapsc = ",".join(str(d) for _ in k.offsets for d in k.offsets)
    return f"""{corners_name} AS (
  SELECT {g}, row, col, _r0 + kk.dr AS srow, _c0 + kk.dc AS scol, {w} AS w
  FROM (SELECT *, {cell} FROM {coords_rel}),
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
  HAVING {k.mass(_Sql("SUM(w)"), _DUCK)}
)"""


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
    dst_rows, dst_cols). ``alg`` in near|bilinear|cubic|lanczos selects the
    gather kernel (sql_resample_gather). Returns CTEs ending in ``warped``."""
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
