"""Grouped-kernel image path: the reference's whole per-product dataflow as
ONE applyInPandas task per product.

The relational operators (stats.py / autoscale.py / clahe.py) are the
oracle-checkable semantics reference and the right shape when pixels arrive
as rows. When a product's raster fits one task (the reference's own unit of
work: one GRD product ≙ one image), the entire dB -> histogram stats ->
autoscale/CLAHE -> quantize chain collapses into a single NumPy kernel:
no intermediate shuffles at all — one grouped exchange in, Arrow both ways,
vectorized math inside. Same formulas, same f64 ops, so outputs are
bit-identical to the relational path (asserted in tests and against the same
DuckDB oracles).

This is the (b)-path of SURVEY §7's operator doctrine: composition of
DataFrame ops when semantics allow (relational modules), pandas-UDF kernel
when per-block array math wins (here).
"""

from __future__ import annotations

import math
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from sarpro_spark import frames
from sarpro_spark.types import (
    AutoscaleStrategy,
    BitDepth,
    DB_VALID_THRESHOLD,
    EPS_INTENSITY,
    F64_EPSILON,
    HIST_NUM_BINS,
)

_PCTS = {
    "p01": 0.01, "p02": 0.02, "p05": 0.05, "p10": 0.10, "p25": 0.25,
    "median": 0.5, "p75": 0.75, "p90": 0.90, "p95": 0.95, "p98": 0.98, "p99": 0.99,
}


def histogram_stats_np(v: np.ndarray) -> dict:
    """A1 on a 1-D array of valid values (autoscale.rs:35-160 semantics)."""
    n = v.size
    if n == 0:
        return {k: 0.0 for k in ("vmin", "vmax", "vmean", "vstd", *_PCTS)} | {"valid_count": 0}
    vmin, vmax = float(v.min()), float(v.max())
    mean = float(v.mean())
    std = float(np.sqrt(((v - mean) ** 2).mean())) if n > 1 else 0.0
    out = {"valid_count": n, "vmin": vmin, "vmax": vmax, "vmean": mean, "vstd": std}
    if abs(vmax - vmin) < F64_EPSILON:
        for name, p in _PCTS.items():
            out[name] = vmin if p <= 0.5 else vmax
        return out
    span = vmax - vmin
    inv_span = 1.0 / span
    t = np.clip((v - vmin) * inv_span, 0.0, 1.0)
    idx = np.minimum((t * HIST_NUM_BINS).astype(np.int64), HIST_NUM_BINS - 1)
    hist = np.bincount(idx, minlength=HIST_NUM_BINS)
    cum = np.cumsum(hist)
    cum_before = cum - hist
    bw = span / HIST_NUM_BINS
    for name, p in _PCTS.items():
        target = min(int(math.floor(p * n)), n - 1)
        b = int(np.searchsorted(cum, target, side="right"))
        h = hist[b]
        frac = (target - cum_before[b]) / h if h > 0 else 0.0
        out[name] = vmin + b * bw + frac * bw
    return out


def clip_params_np(s: dict, strategy: AutoscaleStrategy | str) -> tuple[float, float, float]:
    """(low, high, gamma) — A2 heuristic for 'standard-a2', else the A3 table."""
    dr = s["vmax"] - s["vmin"]
    iqr = s["p75"] - s["p25"]
    if strategy == "standard-a2":
        if dr < 15.0:
            rng = max(20.0, dr * 0.8)
            low, high, gamma = s["median"] - rng / 2.0, s["median"] + rng / 2.0, 1.1
        elif iqr < 5.0:
            low, high, gamma = s["p25"] - 2.5 * iqr, s["p75"] + 2.5 * iqr, 1.0
        elif dr > 40.0:
            low = max(s["p02"], s["vmin"] + 0.02 * dr)
            high = min(s["p98"], s["vmax"] - 0.02 * dr)
            gamma = 0.9
        else:
            low, high, gamma = s["p02"], s["p98"], 1.0
        return max(low, s["vmin"]), min(high, s["vmax"]), gamma
    if strategy == AutoscaleStrategy.ROBUST:
        return (
            max(s["p25"] - 2.5 * iqr, s["p01"], s["vmin"]),
            min(s["p75"] + 2.5 * iqr, s["p99"], s["vmax"]),
            1.0,
        )
    if strategy == AutoscaleStrategy.ADAPTIVE:
        skew = (s["vmean"] - s["median"]) / max(abs(s["vstd"]), 1.0)
        tail = (s["p99"] - s["p95"]) / max(s["p95"] - s["p75"], 1.0)
        if abs(skew) > 0.5:
            return (s["p02"], s["p98"], 0.9) if skew > 0 else (s["p05"], s["p95"], 1.1)
        if tail > 2.0:
            return s["p10"], s["p90"], 0.8
        return s["p05"], s["p95"], 1.0
    if strategy in (AutoscaleStrategy.EQUALIZED, AutoscaleStrategy.CLAHE):
        return s["p01"], s["p99"], 1.0
    if strategy == AutoscaleStrategy.TAMED:
        return s["p25"], s["p99"], 1.0
    return s["p05"], s["p95"], 1.0


def quantize_np(db: np.ndarray, valid: np.ndarray, low, high,
                gamma, max_val: float) -> np.ndarray:
    """low/high/gamma may be scalars (per-product kernels) or per-pixel
    arrays (the tiled path joins params onto rows)."""
    rng = np.maximum(high - low, 1.0)
    clipped = np.clip(db, low, high)
    norm = ((clipped - low) / rng) ** gamma
    q = np.clip(norm * max_val, 0.0, max_val).astype(np.int64)  # trunc, as u16
    return np.where(valid, q, 0)


def scale_u16_to_u8_np(q: np.ndarray) -> np.ndarray:
    mn, mx = float(q.min()), float(q.max())
    scale = 255.0 / (mx - mn) if mx > mn else 1.0
    return np.clip(np.floor((q - mn) * scale + 0.5), 0.0, 255.0).astype(np.int64)


def clahe_np(db: np.ndarray, valid: np.ndarray, s: dict, max_val: float,
             tiles: int = 8, bins: int = 256, clip_limit: float = 2.0) -> np.ndarray:
    """A4, vectorized (same formulas/ops as operators/clahe.py)."""
    rows, cols = db.shape
    low, high = s["p01"], s["p99"]
    rng = max(high - low, 1.0)
    norm = np.where(valid, (np.clip(db, low, high) - low) / rng, 0.0)
    th = (rows + tiles - 1) // tiles
    tw = (cols + tiles - 1) // tiles

    nclamped = np.clip(norm, 0.0, 1.0)
    bpos = np.floor(nclamped * (bins - 1) + 0.5).astype(np.int64)
    rr, cc = np.meshgrid(np.arange(rows), np.arange(cols), indexing="ij")
    ty_px = rr // th
    tx_px = cc // tw

    # per-tile histograms in one pass
    flat_tile = (ty_px * tiles + tx_px)[valid]
    flat_bin = bpos[valid]
    hist = np.zeros((tiles * tiles, bins))
    np.add.at(hist, (flat_tile, flat_bin), 1.0)

    # tile geometry + clip thresholds
    ty_idx = np.arange(tiles)
    tile_rows = np.clip(np.minimum((ty_idx + 1) * th, rows) - ty_idx * th, 0, None)
    tile_cols = np.clip(np.minimum((ty_idx + 1) * tw, cols) - ty_idx * tw, 0, None)
    area = np.outer(tile_rows, tile_cols).reshape(-1).astype(np.float64)
    thr = np.maximum(clip_limit * area / bins, 1.0)[:, None]

    over = hist > thr
    excess = np.where(over, hist - thr, 0.0).sum(axis=1, keepdims=True)
    hist = np.where(over, np.trunc(thr), hist)
    add = np.floor(excess / bins)
    rem = np.floor(excess - add * bins + 0.5)
    hist = hist + add + (np.arange(bins)[None, :] < rem)
    total = np.maximum(hist.sum(axis=1, keepdims=True), 1.0)
    cdfs = np.clip(np.cumsum(hist, axis=1) / total, 0.0, 1.0)  # (tiles^2, bins)

    # bilinear sampling (exact expression shape)
    rf = rr / th - 0.5
    cf = cc / tw - 0.5
    tyf = np.maximum(np.floor(rf), 0.0)
    txf = np.maximum(np.floor(cf), 0.0)
    dy = rf - tyf
    dx = cf - txf
    ty0 = np.minimum(tyf, tiles - 1).astype(np.int64)
    tx0 = np.minimum(txf, tiles - 1).astype(np.int64)
    ty1 = np.minimum(tyf + 1, tiles - 1).astype(np.int64)
    tx1 = np.minimum(txf + 1, tiles - 1).astype(np.int64)

    def cdf_at(ty, tx):
        return cdfs[(ty * tiles + tx).ravel(), bpos.ravel()].reshape(rows, cols)

    c00, c01 = cdf_at(ty0, tx0), cdf_at(ty0, tx1)
    c10, c11 = cdf_at(ty1, tx0), cdf_at(ty1, tx1)
    top = c00 * (1.0 - dx) + c01 * dx
    bottom = c10 * (1.0 - dx) + c11 * dx
    out = top * (1.0 - dy) + bottom * dy
    q = np.floor(np.clip(out, 0.0, 1.0) * max_val).astype(np.int64)
    return np.where(valid, q, 0)


def tamed_synrgb_params_np(s: dict, is_copol: bool) -> tuple[float, float]:
    """A7 band-specific window (autoscale.rs:710-742)."""
    low = min(s["p02"], s["p05"]) if is_copol else s["p05"]
    return low, s["p99"]


def synrgb_default_np(q1: np.ndarray, q2: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """C1 in f64 — mirrors operators/synrgb.py expressions exactly (round
    then clamp for r/g, clamp then round for b, b2==0 guard)."""
    r = np.clip(np.floor((q1 / 255.0) ** 0.7 * 255.0 + 0.5), 0.0, 255.0).astype(np.int64)
    g = np.clip(np.floor((q2 / 255.0) ** 0.9 * 255.0 + 0.5), 0.0, 255.0).astype(np.int64)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = r.astype(np.float64) / g.astype(np.float64)
        b = np.floor(np.clip(ratio**0.1 * 255.0 * 0.24, 0.0, 255.0) + 0.5)
    b = np.where(q2 == 0, 0, np.nan_to_num(b, nan=0.0)).astype(np.int64)
    return r, g, b


def synrgb_suppressed_np(q1: np.ndarray, q2: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """C2 + A8 in f64 — mirrors synrgb.synrgb_suppressed exactly."""
    hist = np.bincount(np.concatenate([q1.ravel(), q2.ravel()]), minlength=256)
    total = q1.size + q2.size
    target = int(np.floor(total * 0.05 + 0.5))
    cum = np.cumsum(hist)
    fl = int(np.searchsorted(cum, target, side="left"))  # first cum >= target
    if target == 0:
        fl = 0
    fl = min(fl + 3, 40)

    denom = max(255.0 - fl, 1.0)

    def lut(v: np.ndarray, gamma: float) -> np.ndarray:
        shifted = (v.astype(np.float64) - fl) / denom
        mapped = np.clip(np.floor(shifted**gamma * 255.0 + 0.5), 0.0, 255.0)
        return np.where(v <= fl, 0, mapped).astype(np.int64)

    with np.errstate(invalid="ignore"):
        r0 = lut(q1, 1.15)
        g0 = lut(q2, 1.10)
    ratio = (r0 + 8.0) / (g0 + 8.0)
    b0 = np.floor(np.clip(ratio**0.1 * 255.0 * 0.18, 0.0, 255.0) + 0.5).astype(np.int64)
    water = (q1 <= fl) & (q2 <= fl)
    zero = np.zeros_like(r0)
    return (
        np.where(water, zero, r0),
        np.where(water, zero, g0),
        np.where(water, zero, b0),
    )


def multiband_synrgb_kernel(
    wide: DataFrame,
    group_cols: list[str],
    suppressed: bool = False,
    v1: str = "vv",
    v2: str = "vh",
) -> DataFrame:
    """W10 JPEG path as one grouped task per product: both bands -> dB ->
    stats -> A7 band-specific U8 -> C1/C2 composite. Input (group..., row,
    col, v1, v2); output (group..., row, col, r, g, b). f64 formulas —
    bit-identical to the relational synrgb queries and their oracles."""
    schema = frames.keyed_schema(wide, group_cols, "row int, col int, r int, g int, b int")

    def band_q(pdf: pd.DataFrame, col: str, is_copol: bool) -> np.ndarray:
        v = pdf[col].to_numpy(dtype=np.float64)
        db = 10.0 * np.log10(np.maximum(v, EPS_INTENSITY))
        valid = db > DB_VALID_THRESHOLD
        s = histogram_stats_np(db[valid])
        if s["valid_count"] == 0:
            return np.zeros(v.size, dtype=np.int64)
        low, high = tamed_synrgb_params_np(s, is_copol)
        return quantize_np(db, valid, low, high, 1.0, 255.0)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        q1 = band_q(pdf, v1, is_copol=True)
        q2 = band_q(pdf, v2, is_copol=False)
        if suppressed:
            r, g, b = synrgb_suppressed_np(q1, q2)
        else:
            r, g, b = synrgb_default_np(q1, q2)
        return frames.to_rows(
            {c: pdf[c].iloc[0] for c in group_cols}, ["r", "g", "b"],
            np.stack([r, g, b], axis=1).astype(np.int32),
            at=(pdf["row"].to_numpy(), pdf["col"].to_numpy()),
        )

    return wide.groupBy(*group_cols).applyInPandas(fn, schema=schema)


def single_band_kernel_tiled(
    px: DataFrame,
    group_cols: list[str],
    strategy: AutoscaleStrategy | str,
    bit_depth: BitDepth,
    value: str = "v",
    max_chunk: int = 1 << 20,
) -> DataFrame:
    """Scale hardening of :func:`single_band_kernel`: NO task ever holds a
    whole product, so a 26544^2 (704 MP) GRD product cannot OOM one executor.

      phase 1  per-product dB histogram stats via the distributed relational
               aggregation (map-side combine, one shuffle) + strategy params
               (tiny frame, broadcast)
      phase 2  quantize as a vectorized pandas kernel over mapInPandas —
               per-pixel params ride the broadcast join, so the kernel needs
               NO grouping shuffle at all: it runs on the scan partitioning,
               one Arrow batch (sub-chunked to <= max_chunk pixels) at a time,
               memory O(chunk) regardless of product size
      phase 3  (U8 only) per-product q16 extent agg -> broadcast -> the
               relational double-quantization rescale

    Same formulas as the one-task kernel and the relational path — shares
    their oracle SQL; bit-equality across all three is asserted in
    tests/test_kernel.py (chunk-grain invariance via tiny max_chunk). CLAHE
    is spatial (tile neighborhoods) and not tileable this way — use the full
    kernel or the relational CLAHE."""
    from pyspark.sql import functions as F

    from sarpro_spark.operators import autoscale as asc
    from sarpro_spark.operators import elementwise as ew
    from sarpro_spark.operators import stats as st

    if strategy == AutoscaleStrategy.CLAHE:
        raise ValueError("CLAHE is spatial — not expressible at row-block grain")

    pxdb = ew.with_db_mask(px, v=value)
    stats = st.histogram_stats(pxdb, group_cols)
    if strategy == "standard-a2":
        params = asc.params_standard(stats, group_cols)
    else:
        params = asc.params_advanced(stats, group_cols, strategy)
    quant_max = 255.0 if bit_depth == BitDepth.U8 else 65535.0

    joined = pxdb.join(F.broadcast(params), group_cols)
    schema = frames.keyed_schema(px, group_cols, "row int, col int, q int")

    def fn(batches):
        for pdf in batches:
            for s in range(0, len(pdf), max_chunk):
                c = pdf.iloc[s : s + max_chunk]
                q = quantize_np(
                    c["db"].to_numpy(dtype=np.float64),
                    c["valid"].to_numpy(dtype=bool),
                    c["low"].to_numpy(dtype=np.float64),
                    c["high"].to_numpy(dtype=np.float64),
                    c["gamma"].to_numpy(dtype=np.float64),
                    quant_max,
                )
                yield frames.to_rows(
                    {g: c[g].to_numpy() for g in group_cols}, ["q"], q.astype(np.int32),
                    at=(c["row"].to_numpy(), c["col"].to_numpy()),
                )

    q16 = joined.mapInPandas(fn, schema=schema)
    if bit_depth == BitDepth.U8:
        # q16 feeds BOTH the per-product extent agg and the rescale join —
        # persist so the stats+quantize chain (two shuffles + a pandas kernel)
        # executes once, not once per consumer. Plain persist (not
        # checkpoint): lineage stays available for executor-loss recompute.
        q16 = q16.persist()
        q16 = q16.withColumnRenamed("q", "_q16")
        q16 = asc.scale_u16_to_u8(q16, group_cols, value="_q16", out="q").drop("_q16")
    return q16.select(*group_cols, "row", "col", "q")


def single_band_kernel(
    px: DataFrame,
    group_cols: list[str],
    strategy: AutoscaleStrategy | str,
    bit_depth: BitDepth,
    value: str = "v",
) -> DataFrame:
    """The full W9 per-product pipeline as one grouped task: intensity ->
    dB/mask -> stats -> strategy params (or CLAHE) -> quantize (+ U8 double
    quantization). Input (group..., row, col, v); output (group..., row, col,
    q)."""
    schema = frames.keyed_schema(px, group_cols, "row int, col int, q int")
    max_val = 255.0 if bit_depth == BitDepth.U8 else 65535.0
    is_clahe = strategy == AutoscaleStrategy.CLAHE

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        img = frames.to_grid(pdf, [value])
        rows, cols = img.shape
        mag = np.maximum(img, EPS_INTENSITY)
        db = 10.0 * np.log10(mag)
        valid = db > DB_VALID_THRESHOLD
        s = histogram_stats_np(db[valid])
        if s["valid_count"] == 0:
            q = np.zeros((rows, cols), dtype=np.int64)
        elif is_clahe:
            q = clahe_np(db, valid, s, max_val)
        else:
            low, high, gamma = clip_params_np(s, strategy)
            q = quantize_np(db, valid, low, high, gamma, max_val)
        if bit_depth == BitDepth.U8 and s["valid_count"] > 0 and not is_clahe:
            # reference U8 path rescales the WHOLE quantized buffer, invalid
            # zeros included (autoscale.rs:662-672)
            q = scale_u16_to_u8_np(q)
        # emit only the input pixel positions (the grid may be ragged in its
        # last row; padding cells are the padding operator's job, not ours)
        at = pdf["row"].to_numpy(), pdf["col"].to_numpy()
        return frames.to_rows({c: pdf[c].iloc[0] for c in group_cols}, ["q"], q[at].astype(np.int32), at)

    return px.groupBy(*group_cols).applyInPandas(fn, schema=schema)
