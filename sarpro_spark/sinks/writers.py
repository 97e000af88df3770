"""W1-W10: sinks — metadata extraction, sidecar generation, data writers.

Reference: /root/reference/src/io/writers/ (studied, not copied).

The relational engine's primary sink is partitioned Parquet (columnar,
predicate-pushdown-friendly — what a 100 TB consumer reads back). Image
encodes (W1-W3: GeoTIFF/JPEG) happen per product inside a grouped pandas
task, so no pixel data crosses the driver; the bytes come from the in-repo
codecs ``sinks/tiff.py`` and ``sinks/jpeg.py`` (numpy only: the JPEG coder
runs its DCT and Huffman entropy coding as array operations, no
per-coefficient Python).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sarpro_spark import frames

# --- W6: metadata field extraction + operation-aware polarization label ------

_OP_LABEL = {
    "sum": "SUM",
    "difference": "DIFF",
    "ratio": "RATIO",
    "normalized_diff": "NORM_DIFF",
    "log_ratio": "LOG_RATIO",
}


def polarization_label(polarizations: list[str], operation: str | None) -> str:
    """W6 (metadata.rs:40-113): e.g. SUM(VV, VH) when the pair is present,
    MULTIBAND(VV, VH) for multiband ops, else the joined list."""
    if operation is None:
        return ",".join(polarizations)
    if operation == "multiband_vv_vh":
        return "MULTIBAND(VV, VH)"
    if operation == "multiband_hh_hv":
        return "MULTIBAND(HH, HV)"
    prefix = _OP_LABEL.get(operation)
    if prefix is None:
        return ",".join(polarizations)
    if "VV" in polarizations and "VH" in polarizations:
        return f"{prefix}(VV, VH)"
    if "HH" in polarizations and "HV" in polarizations:
        return f"{prefix}(HH, HV)"
    return ",".join(polarizations)


def polarization_label_expr(pols: Column, operation: Column) -> Column:
    """Column twin of :func:`polarization_label`; ``pols`` is the
    comma-joined polarization list, ``operation`` the op name or null."""
    has_vv_vh = pols.contains("VV") & pols.contains("VH")
    has_hh_hv = pols.contains("HH") & pols.contains("HV")

    def labeled(prefix: str) -> Column:
        return (
            F.when(has_vv_vh, F.lit(f"{prefix}(VV, VH)"))
            .when(has_hh_hv, F.lit(f"{prefix}(HH, HV)"))
            .otherwise(pols)
        )

    out = F.when(operation == "multiband_vv_vh", F.lit("MULTIBAND(VV, VH)")).when(
        operation == "multiband_hh_hv", F.lit("MULTIBAND(HH, HV)")
    )
    for op, prefix in _OP_LABEL.items():
        out = out.when(operation == op, labeled(prefix))
    return out.otherwise(pols)


def extract_metadata_fields(meta: dict, operation: str | None = None) -> dict[str, str]:
    """W6 (metadata.rs:20-229): SafeMetadata -> KEY=value map (subset of ~35
    fields; optional fields included only when present, as in the reference)."""
    out: dict[str, str] = {}
    direct = {
        "INSTRUMENT": "instrument",
        "PLATFORM": "platform",
        "ACQUISITION_START": "acquisition_start",
        "ACQUISITION_STOP": "acquisition_stop",
        "PRODUCT_TYPE": "product_type",
        "PROCESSING_FACILITY": "processing_facility",
        "PROCESSING_SOFTWARE": "processing_software",
        "MODE": "instrument_mode",
    }
    for k, src in direct.items():
        v = meta.get(src)
        if v is not None:
            out[k] = str(v)
    for k, src in {
        "ORBIT_NUMBER": "orbit_number",
        "RELATIVE_ORBIT_NUMBER": "relative_orbit_number",
        "RANGE_SAMPLING_RATE": "range_sampling_rate",
        "RADAR_FREQUENCY": "radar_frequency",
        "PRF": "prf",
        "SLANT_RANGE": "slant_range",
        "PLATFORM_VELOCITY": "platform_velocity",
        "RANGE_PIXEL_SPACING": "range_pixel_spacing",
        "AZIMUTH_PIXEL_SPACING": "azimuth_pixel_spacing",
        "LINES": "lines",
        "SAMPLES": "samples",
    }.items():
        v = meta.get(src)
        if v is not None:
            out[k] = str(v)
    out["POLARIZATIONS"] = polarization_label(meta.get("polarizations", []), operation)
    return out


# --- W4/W5: world file + prj sidecars ----------------------------------------

WORLD_EXT = {"jpg": "jgw", "jpeg": "jgw", "png": "pgw", "tif": "tfw", "tiff": "tfw"}


def world_ext_for(filename: str) -> str:
    """W4 extension rule (worldfile.rs:11-30): jgw/pgw/tfw, first-letter+w
    fallback, wld when no extension."""
    ext = filename.rsplit(".", 1)[-1].lower() if "." in filename else ""
    if ext in WORLD_EXT:
        return WORLD_EXT[ext]
    if ext:
        return ext[0] + "w"
    return "wld"


def worldfile_content(gt: list[float]) -> str:
    """W4 (worldfile.rs:33-52): pixel-center convention, one %.12f per line:
    A, D, B, E, C=gt0+0.5A+0.5B, F=gt3+0.5D+0.5E."""
    a, b, d, e = gt[1], gt[2], gt[4], gt[5]
    c = gt[0] + 0.5 * a + 0.5 * b
    f = gt[3] + 0.5 * d + 0.5 * e
    return "".join(f"{v:.12f}\n" for v in (a, d, b, e, c, f))


def worldfile_expr(gt_cols: tuple[str, ...] = ("gt0", "gt1", "gt2", "gt3", "gt4", "gt5")) -> Column:
    """Column twin of :func:`worldfile_content` (format_string %.12f)."""
    g0, g1, g2, g3, g4, g5 = (F.col(c) for c in gt_cols)
    c = g0 + F.lit(0.5) * g1 + F.lit(0.5) * g2
    f_ = g3 + F.lit(0.5) * g4 + F.lit(0.5) * g5
    parts = [F.format_string("%.12f", x) for x in (g1, g4, g2, g5, c, f_)]
    return F.concat_ws("\n", *parts)


def write_prj(path: str, projection: str) -> None:
    """W5: raw projection string sidecar."""
    with open(os.path.splitext(path)[0] + ".prj", "w", encoding="utf-8") as fh:
        fh.write(projection)


# --- W7: TIFF metadata embed rules -------------------------------------------

IDENTITY_GT = [0.0, 1.0, 0.0, 0.0, 0.0, 1.0]


def tiff_embed_plan(
    geotransform: list[float] | None,
    projection: str | None,
    fields: dict[str, str],
) -> dict:
    """W7 (metadata.rs:297-341): what gets embedded in a GeoTIFF —
    geotransform skipped when identity, projection written ONLY IF a
    non-identity geotransform was set, all metadata items always. Returns the
    embed plan (:func:`write_geotiffs` applies the same rules when it writes)."""
    set_gt = geotransform is not None and geotransform != IDENTITY_GT
    set_proj = set_gt and projection is not None
    return {
        "set_geotransform": geotransform if set_gt else None,
        "set_projection": projection if set_proj else None,
        "metadata_items": dict(fields),
    }


# --- W8: JSON sidecar --------------------------------------------------------


def convert_metadata_to_json(fields: dict[str, str], geotransform: list[float] | None = None,
                             crs: str | None = None, extras: dict | None = None) -> str:
    """W8 (metadata.rs:232-294): lowercased keys, numeric-string coercion,
    geotransform as array, optional extras. Deterministic key order (sorted)
    so outputs are reproducible across engines."""
    obj: dict = {}
    for k, v in fields.items():
        key = k.lower()
        try:
            if v.strip() and (v.strip().lstrip("-").replace(".", "", 1).replace("e-", "", 1)
                              .replace("e+", "", 1).replace("e", "", 1).isdigit()):
                num = float(v)
                obj[key] = int(num) if num.is_integer() and "." not in v and "e" not in v.lower() else num
            else:
                obj[key] = v
        except ValueError:
            obj[key] = v
    if geotransform is not None:
        obj["geotransform"] = geotransform
    if crs is not None:
        obj["crs"] = crs
    for k, v in (extras or {}).items():
        obj[k.lower()] = v
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))


# --- parquet/json data sinks -------------------------------------------------


# --- W1/W2/W3: image encode + read-back (pure-Python codecs, executor-side) --

#: manifest fields every image writer returns after the product's keys
_MANIFEST = "path string, rows int, cols int, n_bands int, n_bytes bigint"


def _image_path(pdf, group_cols: list[str], out_dir: str, ext: str) -> str:
    """One file per product, named after its group key."""
    stem = "_".join(str(pdf[g].iloc[0]) for g in group_cols).replace("/", "_")
    os.makedirs(out_dir, exist_ok=True)
    return os.path.join(out_dir, f"{stem}.{ext}")


def _manifest_row(pdf, group_cols: list[str], path: str, arr, n_bands: int, n_bytes: int, **extra):
    """The one row a writer returns per product: its keys, then ``_MANIFEST``
    and ``extra``."""
    import pandas as pd

    keys = {g: pdf[g].iloc[0] for g in group_cols}
    return pd.DataFrame(
        {**keys, "path": [path], "rows": [arr.shape[0]], "cols": [arr.shape[1]],
         "n_bands": [n_bands], "n_bytes": [n_bytes]} | {k: [v] for k, v in extra.items()}
    )


def write_geotiffs(
    px: DataFrame,
    out_dir: str,
    group_cols: list[str],
    value_cols: list[str],
    bits: int = 8,
    gt_cols: tuple[str, ...] | None = None,
    projection_col: str | None = None,
    description_col: str | None = None,
    compression: str = "none",
    compression_col: str | None = None,
    tiled_col: str | None = None,
) -> DataFrame:
    """W1 (1-band) / W2 (2-band) GeoTIFF write (tiff.rs:6-78): one TIFF per
    product via applyInPandas — pixels are assembled and encoded inside the
    executor task that owns the product; only a tiny manifest row (path, dims,
    byte count) returns. W7 embed rules applied: identity geotransform is NOT
    embedded, projection sidecar (.prj, W5) written only when a non-identity
    geotransform was set. ``out_dir`` must be shared storage on a cluster."""
    import numpy as np

    from sarpro_spark.sinks.tiff import write_tiff

    dtype = np.uint8 if bits == 8 else np.uint16
    schema = frames.keyed_schema(px, group_cols, f"{_MANIFEST}, embedded_gt string")

    def fn(pdf):
        arr = frames.to_grid(pdf, value_cols, dtype)
        gt = None
        if gt_cols is not None:
            gt = [float(pdf[g].iloc[0]) for g in gt_cols]
            if gt == IDENTITY_GT:  # W7: identity never embedded
                gt = None
        desc = str(pdf[description_col].iloc[0]) if description_col else None
        path = _image_path(pdf, group_cols, out_dir, "tif")
        comp = str(pdf[compression_col].iloc[0]) if compression_col else compression
        tiled = bool(pdf[tiled_col].iloc[0]) if tiled_col else False
        n = write_tiff(path, arr, geotransform=gt, description=desc, compression=comp,
                       tile_size=(16, 16) if tiled else None)
        if gt is not None and projection_col is not None:  # W7 projection rule
            write_prj(path, str(pdf[projection_col].iloc[0]))
        return _manifest_row(pdf, group_cols, path, arr, len(value_cols), n,
                             embedded_gt=json.dumps(gt) if gt is not None else None)

    return px.groupBy(*group_cols).applyInPandas(fn, schema=schema)


def read_images_px(manifest: DataFrame, value_cols: list[str], group_cols: list[str]) -> DataFrame:
    """S4 read-back over a :func:`write_geotiffs` or :func:`write_jpegs`
    manifest: mapInPandas decodes each file executor-side (TIFF or JPEG,
    picked by the file suffix) and emits the dense (group, row, col,
    values...) frame — the writers' inverse, used by the tiff_roundtrip and
    jpeg_roundtrip certification queries (JPEG is lossy, so its
    certification is a PSNR bound, not pixel equality)."""
    import numpy as np

    from sarpro_spark.sinks.jpeg import decode_jpeg
    from sarpro_spark.sinks.tiff import read_tiff

    schema = frames.keyed_schema(manifest, group_cols, ", ".join(f"`{c}` int" for c in ["row", "col", *value_cols]))

    def decode(path: str):
        if path.lower().endswith((".tif", ".tiff")):
            return read_tiff(path)[0]
        with open(path, "rb") as fh:
            return decode_jpeg(fh.read())

    def fn(batches):
        for pdf in batches:
            for _, rec in pdf.iterrows():
                arr = decode(rec["path"]).astype(np.int32)
                yield frames.to_rows({g: rec[g] for g in group_cols}, value_cols, arr)

    return manifest.mapInPandas(fn, schema=schema)


def write_jpegs(
    rgb: DataFrame,
    out_dir: str,
    group_cols: list[str],
    value_cols: list[str] = ("r", "g", "b"),
    quality: int = 90,
    gt_cols: tuple[str, ...] | None = None,
    projection_col: str | None = None,
) -> DataFrame:
    """W3: JPEG byte sink (jpeg.rs:6-30 — studied, not copied; codec is the
    in-repo baseline implementation, sinks/jpeg.py). One .jpg per product via
    applyInPandas: pixels are assembled and entropy-coded inside the executor
    task that owns the product; only a manifest row returns. JPEG cannot
    embed a geotransform, so georeferencing goes to the W4 world file (.jgw)
    + W5 .prj sidecars when ``gt_cols`` is a non-identity transform —
    mirroring the reference's JPEG save path. ``value_cols`` of length 3 =
    RGB, length 1 = grayscale."""
    import numpy as np

    from sarpro_spark.sinks.jpeg import encode_jpeg

    schema = frames.keyed_schema(rgb, group_cols, f"{_MANIFEST}, sidecars string")

    def fn(pdf):
        arr = frames.to_grid(pdf, value_cols, np.uint8)
        path = _image_path(pdf, group_cols, out_dir, "jpg")
        data = encode_jpeg(arr, quality=quality)
        with open(path, "wb") as fh:
            fh.write(data)
        sidecars = []
        if gt_cols is not None:
            gt = [float(pdf[g].iloc[0]) for g in gt_cols]
            if gt != IDENTITY_GT:
                wf = os.path.splitext(path)[0] + "." + world_ext_for(path)
                with open(wf, "w", encoding="utf-8") as fh:
                    fh.write(worldfile_content(gt))
                sidecars.append(os.path.basename(wf))
                if projection_col is not None:
                    write_prj(path, str(pdf[projection_col].iloc[0]))
                    sidecars.append(os.path.basename(os.path.splitext(path)[0] + ".prj"))
        return _manifest_row(pdf, group_cols, path, arr, len(value_cols), len(data),
                             sidecars=json.dumps(sidecars))

    return rgb.groupBy(*group_cols).applyInPandas(fn, schema=schema)
