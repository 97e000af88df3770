"""W9/W10/A9: pipeline assembly — ProcessingParams -> DataFrame DAG.

Reference lifecycle (studied): save orchestrators
/root/reference/src/core/processing/save.rs:23-406 and the batch loop
/root/reference/src/api/mod.rs:474-536. The reference runs one product at a
time and hand-stages memory (drop band1 intermediates before band2); in Spark
the whole batch is ONE lazy DAG — every product flows through the same plan,
partitioned by product_id, and Tungsten handles staging/spill. The sequential-
staging trick is superseded by lazy evaluation (SURVEY §4).

Plan shape per product (single band, W9):
  scan -> one grouped pandas task (dB+mask -> stats -> params -> quantize) ->
  optional Lanczos resize (grouped pandas task) -> optional pad (canvas join)
  -> gt update (metadata-grain column math)

Multiband (W10): band1 and band2 are paired on (product, row, col) and one
grouped pandas task per product applies A7 per band, then the synRGB
compositor.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sarpro_spark.operators import elementwise as ew
from sarpro_spark.operators import geometry as geom
from sarpro_spark.operators import kernel as krn
from sarpro_spark.types import (
    AutoscaleStrategy,
    BitDepth,
    OutputFormat,
    PolarizationOperation,
    ProcessingParams,
)


def single_band_pipeline(
    band: DataFrame,
    params: ProcessingParams,
    group_cols: list[str] = ("product_id",),
) -> DataFrame:
    """W9 (save.rs:23-170): dB -> autoscale(strategy, bit depth) -> optional
    resize -> optional pad. Input: (group..., row, col, v).

    The autoscale runs as the per-product grouped NumPy kernel — one task per
    product, zero intermediate shuffles, bit-identical to the relational
    operators (tests/test_kernel.py). Products too large for one task go
    through ``kernel.single_band_kernel_tiled`` instead."""
    group_cols = list(group_cols)
    strategy = "standard-a2" if params.autoscale == AutoscaleStrategy.STANDARD else params.autoscale
    out = krn.single_band_kernel(band, group_cols, strategy, params.bit_depth)
    if params.size is not None:
        clamp_max = 255 if params.bit_depth == BitDepth.U8 else 65535
        out = geom.lanczos_resize_grouped(out, group_cols, params.size, value_cols=["q"], clamp_max=clamp_max)
    if params.pad:
        out = geom.pad_to_square(out, group_cols, value="q", fill=0)
    return out


def operation_pipeline(
    band_a: DataFrame,
    band_b: DataFrame,
    op: PolarizationOperation,
    params: ProcessingParams,
    group_cols: list[str] = ("product_id",),
) -> DataFrame:
    """OP(op) route (runner.rs:122-265): zip bands on the pixel key, apply the
    linear-domain op, then the W9 pipeline."""
    combined = ew.zip_bands(band_a, band_b, op)
    return single_band_pipeline(combined, params, group_cols)


def multiband_synrgb_pipeline(
    band_long: DataFrame,
    params: ProcessingParams,
    group_cols: list[str] = ("product_id",),
    copol: str = "vv",
    crosspol: str = "vh",
) -> DataFrame:
    """W10 JPEG path (save.rs:286-406): the two bands paired on the pixel
    key, then per product in one grouped task the A7 Tamed-synRGB U8 scale
    of each band and the strategy-dispatched compositor (Tamed/Clahe ->
    suppressed C2, else default C1 — synthetic_rgb.rs:182-197); optional
    resize of r, g and b in one grouped task, then optional pad."""
    group_cols = list(group_cols)
    keys = [*group_cols, "row", "col"]

    def band(name: str) -> DataFrame:
        return band_long.where(F.col("band") == name).select(*keys, F.col("v").alias(name))

    suppressed = params.autoscale in (AutoscaleStrategy.TAMED, AutoscaleStrategy.CLAHE)
    out = krn.multiband_synrgb_kernel(
        band(copol).join(band(crosspol), keys), group_cols, suppressed=suppressed, v1=copol, v2=crosspol
    )
    if params.size is not None:
        out = geom.lanczos_resize_grouped(out, group_cols, params.size, value_cols=["r", "g", "b"])
    if params.pad:
        out = (
            geom.pad_to_square(out.select(*keys, "r"), group_cols, value="r", fill=0)
            .join(geom.pad_to_square(out.select(*keys, "g"), group_cols, value="g", fill=0), keys)
            .join(geom.pad_to_square(out.select(*keys, "b"), group_cols, value="b", fill=0), keys)
        )
    return out


def needs_warp(current_epsg: str | None, target_crs: str | None) -> bool:
    """P4 warp-skip guard (sentinel1.rs:959-986): skip reprojection entirely
    when the dataset already carries the target CRS — plan-level no-op
    elimination at DAG-build time. (The reference shells out to gdalwarp for
    the warp itself; the rebuilt engine executes every route in-engine —
    see :func:`warp_route`.)"""
    if target_crs is None:
        return False
    if current_epsg is None:
        return True
    return current_epsg.strip().upper() != target_crs.strip().upper()


#: UTM zone codes: EPSG:326zz (north) / 327zz (south), zone zz in 01..60.
#: A prefix test overmatched here before (EPSG:3266/3273 are real non-UTM
#: CRSs) — match the exact code shape and validate the zone number.
_UTM_EPSG_RE = re.compile(r"^EPSG:32[67](0[1-9]|[1-5]\d|60)$")
#: UPS polar codes lonlat_to_epsg emits at |lat| >= 84 / <= -80
_UPS_EPSG_CODES = frozenset({"EPSG:32661", "EPSG:32761"})
#: GDA94 / MGA zones 49-56 (EPSG:28349-28356) — exact code shape only
_MGA_EPSG_RE = re.compile(r"^EPSG:283(49|5[0-6])$")


def crs_projection_support(target_crs: str) -> str | None:
    """Which in-engine projection family (operators/tmerc.py) covers a
    target CRS: 'utm' (Krüger series), 'ups' (polar stereographic), 'laea'
    (EPSG:3035 Lambert Azimuthal Equal-Area, the European grid), 'webmerc'
    (EPSG:3857 spherical pseudo-Mercator), or None for CRSs the engine
    cannot project geographic coordinates into. The reference delegates any
    user ``-t_srs`` to gdalwarp (sentinel1.rs:1030-1041); these four
    families cover the codes lonlat_to_epsg emits plus the two most-used
    explicit targets."""
    code = target_crs.strip().upper()
    if _UTM_EPSG_RE.match(code):
        return "utm"
    if code in _UPS_EPSG_CODES:
        return "ups"
    if code == "EPSG:3035":
        return "laea"
    if code == "EPSG:3857":
        return "webmerc"
    if code == "EPSG:2154":
        return "lcc"
    if code == "EPSG:27700":
        # r8: the first DATUM-SHIFTED family — WGS84 GCPs pass through the
        # 7-parameter Helmert (EPSG 9606) to OSGB36 before the National
        # Grid Transverse Mercator (operators/tmerc.py osgb_forward_steps)
        return "osgb"
    if code == "EPSG:31370":
        # r9: second Helmert family — BD72 (exact-inverse of the published
        # BD72->WGS84 set) + Belgian Lambert 72 LCC-2SP; pure parameter
        # entry over the generic datum/conic chains (tmerc.py
        # bd72_forward_steps)
        return "bd72"
    if code == "EPSG:5070":
        # r9: Albers equal-area conic (NAD83 Conus Albers; NAD83 ~ WGS84,
        # no datum shift — tmerc.py albers_forward_steps)
        return "albers"
    if _MGA_EPSG_RE.match(code):
        # r10: GDA94 / MGA zones 49-56 — UTM-south parameters on GRS80
        # (GDA94 ~ WGS84, same no-shift doctrine as NAD83). The family the
        # repo's old loud-fail example EPSG:28355 actually belongs to.
        return "mga"
    return None


#: CRSs whose datum needs an NTv2-style distortion GRID (EPSG method 9615)
#: rather than a Helmert: supported ONLY when the caller supplies the shift
#: grid (operators/gridshift.py — the grid files are jurisdiction data, not
#: engine code). Maps CRS -> the in-engine projection instance applied AFTER
#: the datum shift.
NTV2_FAMILIES: dict[str, str] = {
    # AGD66 / AMG zone 55 (ANS ellipsoid + AGD66<-WGS84 grid shift).
    # EPSG:28355 — this repo's historical label for the example — is
    # actually GDA94 / MGA zone 55 (no datum shift); 20255 is the real
    # grid-shifted code.
    "EPSG:20255": "amg55",
    # NAD27 / UTM zone 14N (Clarke-1866 ellipsoid + NAD27<-NAD83 NADCON
    # grid shift, r11) — the second grid FORMAT instance (.las/.los);
    # same 'gcp_ntv2' route, the loaders differ, the mechanism doesn't.
    "EPSG:26714": "nad27utm14",
}


def gridshift_family_tm(family: str) -> dict:
    """Projection constants for a grid-shifted family (NTV2_FAMILIES
    values) — a dispatch TABLE, not a hardcoded instance, so adding a
    family cannot silently reuse another family's zone constants
    (r11 ADVICE): each entry pairs the post-shift Transverse Mercator
    with its own ellipsoid/zone."""
    from sarpro_spark.operators import tmerc as tmx

    table = {
        "amg55": lambda: tmx.AMG55_TM,
        "nad27utm14": lambda: tmx.nad27_tm(14),
    }
    if family not in table:
        raise ValueError(f"no projection constants for grid-shift family {family!r}")
    return table[family]()


def warp_route(
    current_epsg: str | None,
    target_crs: str | None,
    has_gcps: bool = False,
    gcp_crs: str | None = None,
    ntv2_grids: frozenset[str] | set[str] | None = None,
) -> str:
    """G5 route selection mirroring the reference's warp dispatch
    (sentinel1.rs:959-1032), every route in-engine:

    - 'none': no warp needed (P4 guard)
    - 'affine': projected affine case — geometry.affine_warp
    - 'gcp_utm': no projection, GEOGRAPHIC GCP grid (EPSG:4326), UTM
      target — GCPs are projected in-engine (operators/tmerc.py Krüger
      series) and feed geometry.warp_gcp_grid (the reference's
      `gdalwarp -tps -s_srs EPSG:4326` branch, fully relational here —
      certified by the warp_utm_from_lonlat query)
    - 'gcp_ups': same with a UPS polar target (EPSG:32661/32761) — the
      polar-stereographic forward steps project the GCPs
    - 'gcp_laea': same with the EPSG:3035 European equal-area grid (r7)
    - 'gcp_webmerc': same with EPSG:3857 pseudo-Mercator (r7)
    - 'gcp_osgb': same with EPSG:27700 British National Grid (r8) — the
      first DATUM-SHIFTED route: the 7-parameter Helmert (EPSG 9606)
      carries WGS84 GCPs onto OSGB36 before the Airy-ellipsoid TM
    - 'gcp_ntv2' (r10): a GRID-SHIFTED datum target (NTV2_FAMILIES, e.g.
      AGD66 EPSG:20255) when the caller SUPPLIED the shift grid
      (``ntv2_grids`` contains the code): the NTv2 inverse shift
      (operators/gridshift.py, EPSG method 9615) carries WGS84 GCPs onto
      the grid datum before the family's projection. Without a grid the
      code keeps failing loudly — the engine ships the MECHANISM, the
      jurisdiction grids stay user-supplied data.
    - 'gcp': no projection, GCP grid already in target ground units —
      geometry.warp_gcp_grid directly

    Geographic GCPs with a target OUTSIDE the in-engine projection families
    raise ValueError: silently routing to 'gcp' would treat lon/lat degrees
    as target ground units and produce a wrong-but-plausible raster (the
    reference delegates arbitrary CRSs to gdalwarp; this engine's contract
    is to fail loudly at plan time instead)."""
    if not needs_warp(current_epsg, target_crs):
        return "none"
    if current_epsg is None and has_gcps:
        if gcp_crs is not None and gcp_crs.strip().upper() == "EPSG:4326":
            fam = crs_projection_support(target_crs) if target_crs else None
            if fam is not None:
                return f"gcp_{fam}"
            code = target_crs.strip().upper() if target_crs else ""
            if code in NTV2_FAMILIES and ntv2_grids and code in {
                c.strip().upper() for c in ntv2_grids
            }:
                return "gcp_ntv2"
            raise ValueError(
                f"unsupported target CRS {target_crs!r} for geographic GCPs: "
                "in-engine projection covers UTM (EPSG:326xx/327xx, zones "
                "1-60), UPS (EPSG:32661/32761), LAEA Europe (EPSG:3035), "
                "Web Mercator (EPSG:3857), Lambert-93 (EPSG:2154), Conus "
                "Albers (EPSG:5070), GDA94/MGA zones 49-56 "
                "(EPSG:28349-28356), and the Helmert datum-shift families "
                "British National Grid (EPSG:27700) and Belgian Lambert 72 "
                "(EPSG:31370); CRSs whose datum needs a distortion GRID "
                "(e.g. AGD66 EPSG:20255) route 'gcp_ntv2' ONLY when their "
                "NTv2 shift grid is supplied (operators/gridshift.py) — "
                "otherwise reproject externally or supply GCPs in target "
                "ground units"
            )
        return "gcp"
    return "affine"


def project_gcps(
    gcps: DataFrame,
    target_crs: str,
    lon: str = "lon",
    lat: str = "lat",
    ntv2_grid: DataFrame | None = None,
    ntv2_header: dict | None = None,
) -> DataFrame:
    """Project a geographic (EPSG:4326) GCP grid into the ground units of a
    supported target CRS — the execution half of the 'gcp_utm' / 'gcp_ups'
    routes (warp_route). Emits ``gx``/``gy`` columns ready for
    geometry.warp_gcp_grid. For an explicit UTM target the zone/hemisphere
    come from the CODE (a user-supplied --target-crs pins them), unlike the
    auto-CRS flow where utm_zone_steps derives them per GCP centroid.
    r10: an NTV2_FAMILIES target executes when the caller supplies the
    shift-grid relation + header (the 'gcp_ntv2' route): NTv2 INVERSE
    shift (WGS84/GDA-side -> grid datum, operators/gridshift.py) then the
    family's projection. Unsupported CRSs raise, mirroring warp_route."""
    from sarpro_spark.operators import tmerc as tmx

    fam = crs_projection_support(target_crs)
    code = target_crs.strip().upper()
    if fam is None and code in NTV2_FAMILIES and ntv2_grid is not None:
        from sarpro_spark.operators import gridshift as gsx

        if ntv2_header is None:
            # A grid without its header would silently interpolate with the
            # synthetic fixture's window/increments (grid_shift_inverse's
            # hdr=None default) — wrong-but-plausible coordinates, the exact
            # failure the gridshift doctrine says must fail loudly.
            raise ValueError(
                f"NTv2 route for {code}: ntv2_grid supplied without "
                "ntv2_header — read_gsb/read_gsb_df return the header; pass "
                "it through (the synthetic-fixture default is test-only)"
            )
        # GCPs are WGS84; the grid stores source(AGD66)->target(WGS84-era
        # datum) shifts, so carrying GCPs ONTO the grid datum is the
        # fixed-point INVERSE
        shifted = gsx.grid_shift_inverse(
            gcps, ntv2_grid, ntv2_header, lon=lon, lat=lat,
            out_lon="ntv_lon", out_lat="ntv_lat",
        )
        proj = tmx.apply_steps(
            shifted,
            tmx.tm_forward_steps_c(
                gridshift_family_tm(NTV2_FAMILIES[code]),
                lon="ntv_lon", lat="ntv_lat", p="ntm",
                easting="ntv2_easting", northing="ntv2_northing",
            ),
        )
        return proj.withColumn("gx", F.col("ntv2_easting")).withColumn(
            "gy", F.col("ntv2_northing")
        )
    if fam == "utm":
        zone = int(code[-2:])
        south = code[:8] == "EPSG:327"
        proj = gcps.withColumn("lon0", F.lit(zone * 6.0 - 183.0)).withColumn(
            "south", F.lit(south)
        )
        proj = tmx.apply_steps(proj, tmx.tm_forward_steps(lon=lon, lat=lat))
        return proj.withColumn("gx", F.col("easting")).withColumn("gy", F.col("northing"))
    if fam == "ups":
        proj = gcps.withColumn("south", F.lit(code == "EPSG:32761"))
        proj = tmx.apply_steps(proj, tmx.ups_forward_steps(lon=lon, lat=lat))
        return proj.withColumn("gx", F.col("ups_easting")).withColumn(
            "gy", F.col("ups_northing")
        )
    if fam == "laea":
        proj = tmx.apply_steps(gcps, tmx.laea_forward_steps(lon=lon, lat=lat))
        return proj.withColumn("gx", F.col("laea_easting")).withColumn(
            "gy", F.col("laea_northing")
        )
    if fam == "webmerc":
        proj = tmx.apply_steps(gcps, tmx.webmerc_forward_steps(lon=lon, lat=lat))
        return proj.withColumn("gx", F.col("wm_easting")).withColumn(
            "gy", F.col("wm_northing")
        )
    if fam == "lcc":
        proj = tmx.apply_steps(gcps, tmx.lcc_forward_steps(lon=lon, lat=lat))
        return proj.withColumn("gx", F.col("lcc_easting")).withColumn(
            "gy", F.col("lcc_northing")
        )
    if fam == "osgb":
        # r8: datum shift + projection in ONE flat step chain (WGS84
        # geocentric -> Helmert 9606 -> Airy geodetic -> National Grid TM)
        proj = tmx.apply_steps(gcps, tmx.osgb_forward_steps(lon=lon, lat=lat))
        return proj.withColumn("gx", F.col("osgb_easting")).withColumn(
            "gy", F.col("osgb_northing")
        )
    if fam == "bd72":
        # r9: second Helmert family (exact-inverse leg of the published
        # BD72->WGS84 set, then Belgian Lambert 72 LCC-2SP)
        proj = tmx.apply_steps(gcps, tmx.bd72_forward_steps(lon=lon, lat=lat))
        return proj.withColumn("gx", F.col("bd72_easting")).withColumn(
            "gy", F.col("bd72_northing")
        )
    if fam == "albers":
        proj = tmx.apply_steps(gcps, tmx.albers_forward_steps(lon=lon, lat=lat))
        return proj.withColumn("gx", F.col("alb_easting")).withColumn(
            "gy", F.col("alb_northing")
        )
    if fam == "mga":
        proj = tmx.apply_steps(
            gcps,
            tmx.tm_forward_steps_c(
                tmx.mga_tm(int(code[-2:])), lon=lon, lat=lat, p="mga",
                easting="mga_easting", northing="mga_northing",
            ),
        )
        return proj.withColumn("gx", F.col("mga_easting")).withColumn(
            "gy", F.col("mga_northing")
        )
    raise ValueError(
        f"unsupported target CRS {target_crs!r}: in-engine projection covers "
        "UTM (EPSG:326xx/327xx, zones 1-60), UPS (EPSG:32661/32761), "
        "LAEA Europe (EPSG:3035), Web Mercator (EPSG:3857), Lambert-93 "
        "(EPSG:2154), Conus Albers (EPSG:5070), British National Grid "
        "(EPSG:27700) and Belgian Lambert 72 (EPSG:31370)"
    )


def resample_kernel(params) -> str:
    """Execution-side consumer of ProcessingParams.resample_alg (the
    reference's `-r` flag, src/cli/runner.rs:61-67; the reference DEFAULT is
    lanczos — core/params.rs:38, api/mod.rs:498 — which the warp maps to
    bilinear, sentinel1.rs:937-941): maps the param to the
    geometry.resample_gather kernel name every warp route passes through.
    Until round 6 this knob was parsed and round-tripped but never
    consumed — `--resample cubic` silently produced bilinear output."""
    from sarpro_spark.types import ResampleAlg

    return {
        ResampleAlg.NEAREST: "near",
        ResampleAlg.BILINEAR: "bilinear",
        ResampleAlg.CUBIC: "cubic",
        # r11: TRUE Lanczos3 in the warp (geometry.lanczos_gather). The
        # reference DEGRADES -r lanczos to bilinear in its warp
        # (sentinel1.rs:937-941 '_ => "bilinear"') even though its resize
        # stage is Lanczos3 — this engine honors the request exactly
        # (documented deviation; byte-parity with the reference's degraded
        # output = pass -r bilinear explicitly)
        ResampleAlg.LANCZOS: "lanczos",
    }[params.resample_alg]


def gcp_warp(
    px: DataFrame,
    gcps: DataFrame,
    geo: DataFrame,
    group_cols: list[str],
    params: ProcessingParams,
    k: int | None = None,
    value: str = "v",
    snap: float | None = None,
):
    """Execution-side consumer of ProcessingParams.gcp_interpolant for every
    gcp_* warp route: dispatches the exact piecewise-bilinear GCP grid
    (default) or the true thin-plate spline (the reference's ``gdalwarp
    -tps`` interpolant) over ONE GCP relation — the regular geolocation
    grid ``(group, gi, gj, gx, gy)`` with the source-pixel convention
    srow = k*gi, scol = k*gj (exactly what an S1 annotation provides; ``k``
    is the grid spacing in pixels). The TPS branch derives its free-form
    (gx, gy, scol, srow) control points from the same rows, so switching
    interpolants is a params flip, not a re-plumb. Both branches feed the
    shared resample gather with the params' ``-r`` kernel. For projected
    routes (gcp_utm/ups/laea/webmerc/lcc), project the GCPs with
    :func:`project_gcps` first (gx/gy from the projected easting/northing);
    the interpolant choice is orthogonal to the target CRS."""
    from sarpro_spark.operators import geometry as geom

    if k is None:
        raise ValueError("gcp_warp needs the GCP grid spacing k (pixels per cell)")
    kernel = resample_kernel(params)
    if params.gcp_interpolant == "tps":
        ctrl = gcps.select(
            *group_cols, "gx", "gy",
            (F.col("gj") * float(k)).alias("scol"),
            (F.col("gi") * float(k)).alias("srow"),
        )
        return geom.warp_gcp_tps(
            px, ctrl, geo, group_cols, value=value, alg=kernel, snap=snap
        )
    if params.gcp_interpolant == "grid":
        return geom.warp_gcp_grid(
            px, gcps, geo, group_cols, k, value=value, alg=kernel
        )
    raise ValueError(
        f"unknown gcp_interpolant {params.gcp_interpolant!r} (grid|tps)"
    )


def batch_status(products: DataFrame, status_col: str = "status") -> DataFrame:
    """A9 (api/mod.rs:452-536): per-product outcome -> BatchReport counters.
    processed/skipped/errors as a single groupBy — the distributed analog of
    the reference's accumulator struct."""
    cat = (
        F.when(F.col(status_col) == "ok", "processed")
        .when(F.col(status_col).startswith("skip"), "skipped")
        .otherwise("errors")
    )
    return (
        products.withColumn("outcome", cat)
        .groupBy("outcome")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def pipeline_route(params: ProcessingParams) -> tuple[str, str]:
    """P1/C3 dispatch decision (api/mod.rs:539-674): (route, band) where
    route in {multiband, operation, single}. Pair preference: multiband and
    two-input operations consume the VV/VH pair (HH/HV when VV absent is the
    discovery layer's coalesce — the dispatch itself names the pair slot)."""
    from sarpro_spark.types import Polarization

    if params.polarization == Polarization.MULTIBAND or (
        params.format == OutputFormat.JPEG and params.polarization is None
    ):
        return "multiband", "vv+vh"
    if params.operation is not None:
        return "operation", "vv+vh"
    band = params.polarization.value if params.polarization else "vv"
    return "single", band


def build_pipeline(band_long: DataFrame, params: ProcessingParams) -> DataFrame:
    """Library-API analog (api/mod.rs:539-674): params -> DAG dispatch on
    polarization/operation/format."""
    route, band = pipeline_route(params)
    if route == "multiband":
        return multiband_synrgb_pipeline(band_long, params)
    if route == "operation":
        a = band_long.where(F.col("band") == "vv").drop("band")
        b = band_long.where(F.col("band") == "vh").drop("band")
        return operation_pipeline(a, b, params.operation, params)
    single = band_long.where(F.col("band") == band).drop("band")
    return single_band_pipeline(single, params)
