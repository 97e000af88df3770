"""S1-S11: SAFE-product sources, rebuilt as a products-DataFrame dataflow.

Reference (studied, not copied): /root/reference/src/io/sentinel1.rs.
The reference opens one product at a time in a sequential loop; here the unit
of parallelism is the *products DataFrame* (S11) — each product row flows
through discovery -> metadata parse -> viability check as column/UDF logic, so
a 1000-executor cluster opens thousands of products concurrently and failures
become a status column (S2's error-tolerant open) instead of control flow.

Band loading (S4/S5) decodes the measurement TIFFs with the in-repo
pure-Python codec (``sinks/tiff.py``, no GDAL) inside executor tasks; the
driver-shaped parts — directory iteration, polarization file classification,
XML metadata parsing, auto-CRS resolution — run as column/UDF logic.
"""

from __future__ import annotations

import math
import os
import re
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sarpro_spark.localrel import local_relation

SPEED_OF_LIGHT = 299_792_458.0

# --- S11: batch directory iteration ------------------------------------------


def iterate_safe_products(spark: SparkSession, input_dir: str) -> DataFrame:
    """S11 (api/mod.rs:460-470): immediate subdirectories = candidate products.
    Returns the driving table of the batch dataflow."""
    subdirs = sorted(
        os.path.join(input_dir, d)
        for d in os.listdir(input_dir)
        if os.path.isdir(os.path.join(input_dir, d))
    )
    return local_relation(spark, [(p,) for p in subdirs], "product_path string")


# --- S3: polarization file discovery -----------------------------------------


def list_measurement_files(spark: SparkSession, products: DataFrame) -> DataFrame:
    """File listing per product — distributed: each executor task lists the
    measurement/ dirs of the products it owns (mapInPandas over the driving
    table; at millions of products the driver never walks the filesystem).
    Paths only — metadata-scale, not data-scale."""
    import pandas as pd

    def fn(batches):
        for pdf in batches:
            out = []
            for ppath in pdf["product_path"]:
                mdir = os.path.join(ppath, "measurement")
                if os.path.isdir(mdir):
                    for name in sorted(os.listdir(mdir)):
                        out.append((ppath, os.path.join(mdir, name), name))
            yield pd.DataFrame(out, columns=["product_path", "path", "name"])

    return (
        products.select("product_path")
        .repartition("product_path")
        .mapInPandas(fn, schema="product_path string, path string, name string")
    )


def classify_polarization_files(files: DataFrame) -> DataFrame:
    """S3 (sentinel1.rs:799-882): name-based band classification as column
    logic — lowercase name must end .tif/.tiff, `_warped` intermediates are
    skipped (P5), band = first of vv/vh/hh/hv contained in the name."""
    lname = F.lower(F.col("name"))
    is_tiff = lname.endswith(".tif") | lname.endswith(".tiff")
    not_warped = ~lname.rlike("_warped\\.tiff?$") & ~lname.contains("_warped.tif")
    band = (
        F.when(lname.contains("vv"), "vv")
        .when(lname.contains("vh"), "vh")
        .when(lname.contains("hh"), "hh")
        .when(lname.contains("hv"), "hv")
        .otherwise(F.lit(None))
    )
    return (
        files.where(is_tiff & not_warped)
        .withColumn("band", band)
        .where(F.col("band").isNotNull())
    )


# --- S8: manifest parse ------------------------------------------------------


def parse_manifest_safe(xml_text: str) -> dict:
    """S8 (sentinel1.rs:1176-1281): platform, acquisition period, orbit,
    product type, polarizations, processing facility/software. Namespace-
    agnostic streaming walk (the reference uses quick-xml events)."""
    out: dict = {"polarizations": []}
    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError as e:
        raise ValueError(f"manifest parse error: {e}") from e

    def local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1]

    for el in root.iter():
        tag = local(el.tag)
        text = (el.text or "").strip()
        if tag == "familyName" and text and "platform" not in out:
            out["platform"] = text
        elif tag == "number" and text and "platform_number" not in out:
            out["platform_number"] = text
        elif tag == "instrumentMode" or tag == "mode":
            if text:
                out.setdefault("instrument_mode", text)
        elif tag == "startTime" and text:
            out.setdefault("acquisition_start", text)
        elif tag == "stopTime" and text:
            out.setdefault("acquisition_stop", text)
        elif tag in ("orbitNumber", "relativeOrbitNumber") and text:
            key = "orbit_number" if tag == "orbitNumber" else "relative_orbit_number"
            try:
                out.setdefault(key, int(text))
            except ValueError:
                pass
        elif tag == "productType" and text:
            out.setdefault("product_type", text)
        elif tag in ("transmitterReceiverPolarisation", "polarisation") and text:
            if text not in out["polarizations"]:
                out["polarizations"].append(text)
        elif tag == "facility" and "processing_facility" not in out:
            name = el.get("name") or text
            if name:
                out["processing_facility"] = name
        elif tag == "software" and "processing_software" not in out:
            name = el.get("name")
            ver = el.get("version")
            if name:
                out["processing_software"] = f"{name} {ver}".strip()
    return out


# --- S9: annotation parse ----------------------------------------------------


def parse_annotation_xml(xml_text: str) -> dict:
    """S9 (sentinel1.rs:1297-1442): PRF, pulse params, pixel spacing, dims,
    orbit state vectors -> platform velocity sqrt(vx^2+vy^2+vz^2) of the MID
    vector (:1436-1439), slant range = srt*c/2 (:1403-1408)."""
    out: dict = {}
    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError as e:
        raise ValueError(f"annotation parse error: {e}") from e

    def local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1]

    def fget(el, name):
        for c in el.iter():
            if local(c.tag) == name and c.text:
                try:
                    return float(c.text.strip())
                except ValueError:
                    return None
        return None

    scalar_map = {
        "prf": "prf",
        "txPulseLength": "pulse_length",
        "txPulseStartFrequency": "pulse_start_frequency",
        "txPulseRampRate": "pulse_ramp_rate",
        "rangeSamplingRate": "range_sampling_rate",
        "radarFrequency": "radar_frequency",
        "rangePixelSpacing": "range_pixel_spacing",
        "azimuthPixelSpacing": "azimuth_pixel_spacing",
        "incidenceAngleMidSwath": "incidence_angle_mid",
    }
    velocities: list[tuple[float, float, float]] = []
    for el in root.iter():
        tag = local(el.tag)
        text = (el.text or "").strip()
        if tag in scalar_map and text:
            try:
                out.setdefault(scalar_map[tag], float(text))
            except ValueError:
                pass
        elif tag == "slantRangeTime" and text:
            try:
                srt = float(text)
                out.setdefault("slant_range_time", srt)
                out.setdefault("slant_range", srt * SPEED_OF_LIGHT / 2.0)
            except ValueError:
                pass
        elif tag in ("numberOfSamples", "numberOfLines") and text:
            key = "samples" if tag == "numberOfSamples" else "lines"
            try:
                out.setdefault(key, int(text))
            except ValueError:
                pass
        elif tag == "orbit":
            vx = fget(el, "x") is not None  # presence probe
            v = (fget(el, "vx"), fget(el, "vy"), fget(el, "vz"))
            if all(x is not None for x in v):
                velocities.append(v)  # type: ignore[arg-type]
            del vx
    if velocities:
        vx, vy, vz = velocities[len(velocities) // 2]  # mid state vector
        out["platform_velocity"] = math.sqrt(vx * vx + vy * vy + vz * vz)
    return out


# --- S10: auto CRS resolution ------------------------------------------------


def lonlat_to_epsg(lon: float, lat: float) -> str:
    """S10 (sentinel1.rs:1766-1808): UTM/UPS EPSG from a lon/lat centroid with
    polar, Norway, and Svalbard exceptions (public UTM grid rules)."""
    if lat >= 84.0:
        return "EPSG:32661"
    if lat <= -80.0:
        return "EPSG:32761"
    lon_norm = lon
    if lon_norm < -180.0 or lon_norm >= 180.0:
        lon_norm = ((lon_norm + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
    norway = 56.0 <= lat < 64.0 and 3.0 <= lon_norm < 12.0
    svalbard = 72.0 <= lat < 84.0
    if norway:
        zone = 32
    elif svalbard:
        if 0.0 <= lon_norm < 9.0:
            zone = 31
        elif 9.0 <= lon_norm < 21.0:
            zone = 33
        elif 21.0 <= lon_norm < 33.0:
            zone = 35
        elif 33.0 <= lon_norm < 42.0:
            zone = 37
        else:
            zone = min(max(int(math.floor((lon_norm + 180.0) / 6.0)) + 1, 1), 60)
    else:
        zone = min(max(int(math.floor((lon_norm + 180.0) / 6.0)) + 1, 1), 60)
    return f"EPSG:326{zone:02d}" if lat >= 0.0 else f"EPSG:327{zone:02d}"


def resolve_auto_target_crs_from_centroid(lon: float, lat: float) -> str:
    """S10 wrapper: the reference derives the centroid from GCPs via GDAL or
    `gdalinfo -json`; here the centroid arrives as data (the avg(lon),
    avg(lat) aggregation over the GCP frame)."""
    return lonlat_to_epsg(lon, lat)


def epsg_column(lon: F.Column, lat: F.Column) -> F.Column:
    """Column-expression twin of :func:`lonlat_to_epsg` — the same UTM/UPS
    zone rules (polar sheets, Norway, Svalbard) as a pure ``F.when`` chain,
    so the CRS pick stays inside whole-stage codegen (and is directly
    twinnable in SQL) instead of a row-at-a-time Python UDF. The double-mod
    longitude normalization ``((x+180) % 360 + 360) % 360 - 180`` yields
    identical values under Python's and Spark's remainder semantics by
    construction."""
    lon_norm = F.when(
        (lon < -180.0) | (lon >= 180.0),
        ((lon + 180.0) % 360.0 + 360.0) % 360.0 - 180.0,
    ).otherwise(lon)
    zone_std = F.least(
        F.greatest((F.floor((lon_norm + 180.0) / 6.0) + 1).cast("int"), F.lit(1)),
        F.lit(60),
    )
    norway = (lat >= 56.0) & (lat < 64.0) & (lon_norm >= 3.0) & (lon_norm < 12.0)
    svalbard = (lat >= 72.0) & (lat < 84.0)
    zone = (
        F.when(norway, 32)
        .when(svalbard & (lon_norm >= 0.0) & (lon_norm < 9.0), 31)
        .when(svalbard & (lon_norm >= 9.0) & (lon_norm < 21.0), 33)
        .when(svalbard & (lon_norm >= 21.0) & (lon_norm < 33.0), 35)
        .when(svalbard & (lon_norm >= 33.0) & (lon_norm < 42.0), 37)
        .otherwise(zone_std)
    )
    hemi = F.when(lat >= 0.0, F.lit("EPSG:326")).otherwise(F.lit("EPSG:327"))
    return (
        F.when(lat >= 84.0, F.lit("EPSG:32661"))
        .when(lat <= -80.0, F.lit("EPSG:32761"))
        .otherwise(F.concat(hemi, F.lpad(zone.cast("string"), 2, "0")))
    )


def centroid_epsg(gcps: DataFrame, group_cols: list[str]) -> DataFrame:
    """Distributed S10: per-product GCP centroid -> EPSG. The zone pick is
    :func:`epsg_column` — pure column arithmetic on the per-product centroid
    rows (metadata grain), codegen end-to-end, no Python UDF."""
    cent = gcps.groupBy(*group_cols).agg(
        F.avg("lon").alias("lon"), F.avg("lat").alias("lat")
    )
    return cent.withColumn("target_crs", epsg_column(F.col("lon"), F.col("lat")))


# --- S1/S2: product open with per-product status ------------------------------


#: open_products / open_product_dirs output layout (shared with the
#: streaming ingest twin, streaming/ingest.py)
OPEN_COLS = [
    "product_path", "status", "platform", "product_type", "acquisition_start",
    "acquisition_stop", "orbit_number", "polarizations", "vv_path", "vh_path",
    "hh_path", "hv_path",
]
OPEN_SCHEMA = (
    "product_path string, status string, platform string, product_type string, "
    "acquisition_start string, acquisition_stop string, orbit_number bigint, "
    "polarizations string, vv_path string, vh_path string, hh_path string, hv_path string"
)


def open_product_dirs(products: DataFrame) -> DataFrame:
    """S1 validate + S2 error-tolerant open over a (product_path) relation —
    the per-directory half of :func:`open_products`, shared with the
    streaming ingest (streaming/ingest.py opens exactly the dirs that
    arrived in a micro-batch). Each executor task opens/parses the products
    it owns — the driver never touches the filesystem (the r01 collect()
    loop broke at millions of products)."""
    import pandas as pd

    def fn(batches):
        for pdf in batches:
            out = [_open_one(p) for p in pdf["product_path"]]
            yield pd.DataFrame(out, columns=OPEN_COLS)

    return (
        products.select("product_path")
        .repartition("product_path")
        .mapInPandas(fn, schema=OPEN_SCHEMA)
    )


def open_products(spark: SparkSession, input_dir: str, permissive: bool = True) -> DataFrame:
    """S1 validate + S2 error-tolerant open over the products DataFrame.

    Each product: require annotation/ + measurement/, parse manifest, detect
    GRD, discover polarization files. Failures become status='error: ...'
    (permissive) instead of raising — the reference's open_with_warnings.
    Returns one row per product with metadata + band file map + status.
    """
    opened = open_product_dirs(iterate_safe_products(spark, input_dir))
    if not permissive:
        bad = opened.where(F.col("status") != "ok").select("product_path", "status").first()
        if bad is not None:
            raise ValueError(f"{bad['product_path']}: {bad['status']}")
    return opened


def _open_one(path: str) -> tuple:
    """Open/validate ONE product directory (runs inside executor tasks)."""
    rec = {
        "product_path": path,
        "status": "ok",
        "platform": None,
        "product_type": None,
        "acquisition_start": None,
        "acquisition_stop": None,
        "orbit_number": None,
        "polarizations": None,
        "vv_path": None,
        "vh_path": None,
        "hh_path": None,
        "hv_path": None,
    }
    try:
        ann = os.path.join(path, "annotation")
        mea = os.path.join(path, "measurement")
        if not os.path.isdir(ann) or not os.path.isdir(mea):
            raise ValueError("missing annotation/ or measurement/ directory")
        manifest_path = os.path.join(path, "manifest.safe")
        if os.path.isfile(manifest_path):
            with open(manifest_path, encoding="utf-8") as f:
                meta = parse_manifest_safe(f.read())
            rec.update(
                platform=meta.get("platform"),
                product_type=meta.get("product_type"),
                acquisition_start=meta.get("acquisition_start"),
                acquisition_stop=meta.get("acquisition_stop"),
                orbit_number=meta.get("orbit_number"),
                polarizations=",".join(meta.get("polarizations", [])),
            )
            if meta.get("product_type") and "GRD" not in meta["product_type"]:
                raise ValueError(f"unsupported product type {meta['product_type']} (GRD required)")
        name_re = re.compile(r"\.tiff?$", re.IGNORECASE)
        for fname in sorted(os.listdir(mea)):
            low = fname.lower()
            if not name_re.search(low) or "_warped.tif" in low:
                continue
            for band in ("vv", "vh", "hh", "hv"):
                if band in low:
                    rec[f"{band}_path"] = os.path.join(mea, fname)
                    break
        if not any(rec[f"{b}_path"] for b in ("vv", "vh", "hh", "hv")):
            raise ValueError("no polarization measurement files found")
    except Exception as e:  # noqa: BLE001
        rec["status"] = f"error: {e}"
    return tuple(rec[k] for k in (
        "product_path", "status", "platform", "product_type", "acquisition_start",
        "acquisition_stop", "orbit_number", "polarizations", "vv_path", "vh_path",
        "hh_path", "hv_path",
    ))


# --- S4/S5: band read (pure-Python uncompressed-TIFF decode) -----------------


def load_band(path: str, target_size: int | None = None):
    """S4 band read + S5 downsample-on-read (sentinel1.rs:885-911, 1074-1108).

    Real Sentinel-1 GRD measurement files are uncompressed strip u16 TIFF —
    decoded by the pure-Python codec (sinks/tiff.py), no GDAL needed.
    ``target_size``: average-pool by the integer factor that brings the long
    side to <= target (the reference's GDAL-Average >=4x reduction analog;
    its Lanczos fidelity path is operators/geometry.lanczos_resize_array).
    Returns a 2-D numpy array (float64 when pooled, source dtype otherwise).
    Compressed TIFFs raise NotImplementedError (out of scope: real GRD inputs
    are uncompressed)."""
    import numpy as np

    from sarpro_spark.sinks.tiff import read_tiff

    arr, _meta = read_tiff(path)
    if arr.ndim == 3:  # multi-sample measurement: first band
        arr = arr[:, :, 0]
    if target_size is None:
        return arr
    k = max(1, int(np.ceil(max(arr.shape) / target_size)))
    if k == 1:
        return arr
    rows, cols = arr.shape
    tr, tc = rows - rows % k, cols - cols % k  # trim ragged edge like GDAL
    pooled = arr[:tr, :tc].astype(np.float64).reshape(tr // k, k, tc // k, k).mean(axis=(1, 3))
    return pooled


def read_bands_px(
    products: DataFrame,
    band: str = "vv",
    target_size: int | None = None,
    value: str = "v",
) -> DataFrame:
    """Distributed S4/S5: decode each product's measurement TIFF inside the
    executor task that owns its manifest row (mapInPandas over the opened
    products frame) and emit the dense (product_path, row, col, value) pixel
    frame the operator pipeline consumes. The pixel payload never exists on
    the driver."""
    import numpy as np

    from sarpro_spark import frames

    path_col = f"{band}_path"
    schema = frames.keyed_schema(products, ["product_path"], f"row int, col int, `{value}` double")

    def fn(batches):
        for pdf in batches:
            for _, rec in pdf.iterrows():
                if rec[path_col]:
                    arr = load_band(rec[path_col], target_size).astype(np.float64)
                    yield frames.to_rows({"product_path": rec["product_path"]}, [value], arr)

    cols = ["product_path", path_col]
    return products.select(*cols).repartition("product_path").mapInPandas(fn, schema=schema)
