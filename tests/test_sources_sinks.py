"""Tests for S1-S11 sources, W4-W8 sinks, W9/W10/A9 pipeline assembly."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sarpro_spark.sinks import writers as w
from sarpro_spark.sources import safe

MANIFEST = """<?xml version="1.0" encoding="UTF-8"?>
<xfdu:XFDU xmlns:xfdu="urn:ccsds:schema:xfdu:1" xmlns:safe="http://www.esa.int/safe/sentinel-1.0">
  <metadataSection>
    <safe:platform><safe:familyName>SENTINEL-1</safe:familyName><safe:number>A</safe:number>
      <safe:instrument><safe:mode>IW</safe:mode></safe:instrument></safe:platform>
    <safe:acquisitionPeriod><safe:startTime>2024-01-15T05:31:02.123456</safe:startTime>
      <safe:stopTime>2024-01-15T05:31:27.654321</safe:stopTime></safe:acquisitionPeriod>
    <safe:orbitReference><safe:orbitNumber>51234</safe:orbitNumber>
      <safe:relativeOrbitNumber>112</safe:relativeOrbitNumber></safe:orbitReference>
    <s1sarl1:standAloneProductInformation xmlns:s1sarl1="http://www.esa.int/safe/sentinel-1.0/sentinel-1/sar/level-1">
      <s1sarl1:productType>GRD</s1sarl1:productType>
      <s1sarl1:transmitterReceiverPolarisation>VV</s1sarl1:transmitterReceiverPolarisation>
      <s1sarl1:transmitterReceiverPolarisation>VH</s1sarl1:transmitterReceiverPolarisation>
    </s1sarl1:standAloneProductInformation>
    <safe:processing><safe:facility name="Copernicus Ground Segment">
      <safe:software name="Sentinel-1 IPF" version="3.61"/></safe:facility></safe:processing>
  </metadataSection>
</xfdu:XFDU>
"""

ANNOTATION = """<?xml version="1.0" encoding="UTF-8"?>
<product>
  <generalAnnotation>
    <productInformation>
      <rangeSamplingRate>64345238.12</rangeSamplingRate>
      <radarFrequency>5405000454.33</radarFrequency>
    </productInformation>
    <downlinkInformation>
      <prf>1717.128973</prf>
      <txPulseLength>5.24e-05</txPulseLength>
    </downlinkInformation>
    <orbitList>
      <orbit><position><x>1</x><y>2</y><z>3</z></position>
        <velocity><vx>3000.0</vx><vy>4000.0</vy><vz>0.0</vz></velocity></orbit>
      <orbit><position><x>1</x><y>2</y><z>3</z></position>
        <velocity><vx>0.0</vx><vy>3000.0</vy><vz>4000.0</vz></velocity></orbit>
      <orbit><position><x>1</x><y>2</y><z>3</z></position>
        <velocity><vx>4000.0</vx><vy>0.0</vy><vz>3000.0</vz></velocity></orbit>
    </orbitList>
  </generalAnnotation>
  <imageAnnotation><imageInformation>
    <slantRangeTime>5.33e-03</slantRangeTime>
    <rangePixelSpacing>10.0</rangePixelSpacing>
    <azimuthPixelSpacing>10.0</azimuthPixelSpacing>
    <numberOfSamples>25124</numberOfSamples>
    <numberOfLines>16704</numberOfLines>
  </imageInformation></imageAnnotation>
</product>
"""


@pytest.fixture()
def safe_dir(tmp_path):
    """Two valid SAFE products + one broken (missing measurement/)."""
    for i, name in enumerate(["A.SAFE", "B.SAFE"]):
        p = tmp_path / name
        (p / "annotation").mkdir(parents=True)
        (p / "measurement").mkdir()
        (p / "manifest.safe").write_text(MANIFEST)
        (p / "annotation" / "iw-vv.xml").write_text(ANNOTATION)
        (p / "measurement" / f"s1a-iw-grd-vv-{i}.tiff").write_bytes(b"II*\0")
        (p / "measurement" / f"s1a-iw-grd-vh-{i}.tiff").write_bytes(b"II*\0")
        (p / "measurement" / f"s1a-iw-grd-vv-{i}_warped.tiff").write_bytes(b"II*\0")
        (p / "measurement" / "notes.txt").write_text("not a band")
    broken = tmp_path / "C.SAFE"
    (broken / "annotation").mkdir(parents=True)
    (broken / "manifest.safe").write_text(MANIFEST)
    return str(tmp_path)


def test_iterate_and_open_products(spark, safe_dir):
    prods = safe.iterate_safe_products(spark, safe_dir)
    assert prods.count() == 3
    opened = safe.open_products(spark, safe_dir, permissive=True)
    rows = {os.path.basename(r["product_path"]): r for r in opened.collect()}
    assert rows["A.SAFE"]["status"] == "ok"
    assert rows["A.SAFE"]["platform"] == "SENTINEL-1"
    assert rows["A.SAFE"]["product_type"] == "GRD"
    assert rows["A.SAFE"]["orbit_number"] == 51234
    assert rows["A.SAFE"]["polarizations"] == "VV,VH"
    # band files resolved, warped intermediates skipped (P5)
    assert rows["A.SAFE"]["vv_path"].endswith("vv-0.tiff")
    assert rows["A.SAFE"]["vh_path"].endswith("vh-0.tiff")
    assert rows["C.SAFE"]["status"].startswith("error:")


def test_open_products_strict_raises(spark, safe_dir):
    with pytest.raises(ValueError):
        safe.open_products(spark, safe_dir, permissive=False)


def test_classify_polarization_files(spark, safe_dir):
    prods = safe.iterate_safe_products(spark, safe_dir)
    files = safe.list_measurement_files(spark, prods)
    classified = safe.classify_polarization_files(files)
    got = {(os.path.basename(r["product_path"]), r["band"]) for r in classified.collect()}
    assert ("A.SAFE", "vv") in got and ("A.SAFE", "vh") in got
    # txt + warped excluded
    assert classified.where(F.col("name").contains("_warped")).count() == 0
    assert classified.where(F.col("name").endswith(".txt")).count() == 0


def test_parse_annotation():
    meta = safe.parse_annotation_xml(ANNOTATION)
    assert meta["prf"] == pytest.approx(1717.128973)
    # mid orbit state vector (index 1): |(0,3000,4000)| = 5000
    assert meta["platform_velocity"] == pytest.approx(5000.0)
    assert meta["slant_range"] == pytest.approx(5.33e-03 * safe.SPEED_OF_LIGHT / 2.0)
    assert meta["samples"] == 25124 and meta["lines"] == 16704


@pytest.mark.parametrize(
    "lon,lat,expected",
    [
        (9.0, 48.0, "EPSG:32632"),  # central Europe, zone 32 north
        (9.0, -30.0, "EPSG:32732"),  # southern hemisphere
        (5.0, 60.0, "EPSG:32632"),  # Norway exception (else zone 31)
        (5.0, 50.0, "EPSG:32631"),  # same lon below 56 -> zone 31
        (15.0, 75.0, "EPSG:32633"),  # Svalbard band 9..21 -> 33
        (25.0, 78.0, "EPSG:32635"),  # Svalbard band 21..33 -> 35
        (0.0, 85.0, "EPSG:32661"),  # north UPS
        (0.0, -85.0, "EPSG:32761"),  # south UPS
        (185.0, 10.0, "EPSG:32631"),  # lon normalization: 185 -> -175 -> zone 1? no: (-175+180)/6=0 -> 1
    ],
)
def test_lonlat_to_epsg(lon, lat, expected):
    if (lon, lat) == (185.0, 10.0):
        assert safe.lonlat_to_epsg(lon, lat) == "EPSG:32601"
    else:
        assert safe.lonlat_to_epsg(lon, lat) == expected


def test_centroid_epsg(spark):
    gcps = spark.createDataFrame(
        [("p1", 8.0, 47.0), ("p1", 10.0, 49.0), ("p2", 4.0, 58.0), ("p2", 6.0, 62.0)],
        "g string, lon double, lat double",
    )
    out = {r["g"]: r["target_crs"] for r in safe.centroid_epsg(gcps, ["g"]).collect()}
    assert out["p1"] == "EPSG:32632"
    assert out["p2"] == "EPSG:32632"  # Norway exception at (5, 60)


def test_epsg_column_matches_python_everywhere(spark):
    """epsg_column (the codegen when-chain) must agree with lonlat_to_epsg
    (the driver-side scalar) across every branch: both UPS sheets, Norway,
    all four Svalbard bands + the Svalbard else-branch, hemisphere split,
    zone clamping, and out-of-range longitude normalization."""
    from pyspark.sql import functions as F

    lons = [-185.0, -180.0, -175.0, -12.0, 0.0, 3.0, 5.0, 8.9, 9.0, 11.9, 12.0,
            20.9, 21.0, 32.9, 33.0, 41.9, 42.0, 60.0, 179.9, 180.0, 185.0]
    lats = [-85.0, -80.0, -79.9, -30.0, 0.0, 47.0, 55.9, 56.0, 63.9, 64.0,
            71.9, 72.0, 78.0, 83.9, 84.0, 89.0]
    pts = [(lo, la) for lo in lons for la in lats]
    df = spark.createDataFrame(pts, "lon double, lat double").withColumn(
        "got", safe.epsg_column(F.col("lon"), F.col("lat"))
    )
    for r in df.collect():
        want = safe.lonlat_to_epsg(r["lon"], r["lat"])
        assert r["got"] == want, (r["lon"], r["lat"], r["got"], want)
    # and the plan is UDF-free
    assert "BatchEvalPython" not in df._jdf.queryExecution().executedPlan().toString()


def test_polarization_label():
    assert w.polarization_label(["VV", "VH"], "sum") == "SUM(VV, VH)"
    assert w.polarization_label(["HH", "HV"], "ratio") == "RATIO(HH, HV)"
    assert w.polarization_label(["VV"], "sum") == "VV"
    assert w.polarization_label(["VV", "VH"], None) == "VV,VH"
    assert w.polarization_label([], "multiband_vv_vh") == "MULTIBAND(VV, VH)"
    assert w.polarization_label(["VV", "VH"], "unknown_op") == "VV,VH"


def test_worldfile_content():
    gt = [100.0, 10.0, 0.0, 200.0, 0.0, -10.0]
    content = w.worldfile_content(gt)
    lines = content.strip().split("\n")
    assert lines[0] == "10.000000000000"
    assert lines[4] == "105.000000000000"  # C = 100 + 0.5*10 + 0
    assert lines[5] == "195.000000000000"  # F = 200 + 0 + 0.5*(-10)
    assert w.world_ext_for("x.jpg") == "jgw"
    assert w.world_ext_for("x.tiff") == "tfw"
    assert w.world_ext_for("x.webp") == "ww"
    assert w.world_ext_for("noext") == "wld"


def test_metadata_fields_and_json():
    meta = safe.parse_manifest_safe(MANIFEST)
    fields = w.extract_metadata_fields(
        {**meta, "instrument": "SAR-C"}, operation="normalized_diff"
    )
    assert fields["POLARIZATIONS"] == "NORM_DIFF(VV, VH)"
    assert fields["PLATFORM"] == "SENTINEL-1"
    assert fields["ORBIT_NUMBER"] == "51234"
    js = w.convert_metadata_to_json(fields, geotransform=[0, 1, 0, 0, 0, 1], crs="EPSG:32632")
    import json

    obj = json.loads(js)
    assert obj["orbit_number"] == 51234  # numeric coercion
    assert obj["platform"] == "SENTINEL-1"
    assert obj["geotransform"] == [0, 1, 0, 0, 0, 1]
    assert obj["crs"] == "EPSG:32632"


def test_batch_status(spark):
    from sarpro_spark.plans.pipeline import batch_status

    df = spark.createDataFrame(
        [("a", "ok"), ("b", "ok"), ("c", "skipped: x"), ("d", "error: y")],
        "p string, status string",
    )
    out = {r["outcome"]: r["n"] for r in batch_status(df).collect()}
    assert out == {"processed": 2, "skipped": 1, "errors": 1}


def test_full_pipeline_smoke(spark, sf_dir):
    """W9/W10 build_pipeline: params -> DAG -> rows out, for the main routes."""
    from sarpro_spark import frames
    from sarpro_spark.plans.pipeline import build_pipeline
    from sarpro_spark.types import (
        AutoscaleStrategy,
        BitDepth,
        OutputFormat,
        Polarization,
        PolarizationOperation,
        ProcessingParams,
    )

    long = frames.band_long(spark, sf_dir)
    # single band U16 robust
    p1 = ProcessingParams(polarization=Polarization.VV, autoscale=AutoscaleStrategy.ROBUST,
                          bit_depth=BitDepth.U16)
    out1 = build_pipeline(long, p1)
    assert out1.count() > 0 and "q" in out1.columns
    # op route (ratio) with pad
    p2 = ProcessingParams(operation=PolarizationOperation.RATIO, pad=True)
    out2 = build_pipeline(long, p2)
    assert out2.count() > 0
    # multiband synRGB JPEG routes: every pixel equals the kernel's numpy
    # reference chain (A1 stats -> A7 window -> quantize -> C1 or C2), so a
    # wrong default/suppressed compositor mapping fails here
    import numpy as np

    from sarpro_spark.operators import kernel as krn
    from sarpro_spark.operators.geometry import calculate_resize_dimensions, lanczos_resize_array
    from sarpro_spark.types import DB_VALID_THRESHOLD, EPS_INTENSITY

    wide = frames.band_frame(spark, sf_dir).toPandas()

    def band_q(v, is_copol):
        db = 10.0 * np.log10(np.maximum(v, EPS_INTENSITY))
        valid = db > DB_VALID_THRESHOLD
        low, high = krn.tamed_synrgb_params_np(krn.histogram_stats_np(db[valid]), is_copol)
        return krn.quantize_np(db, valid, low, high, 1.0, 255.0)

    def expected(compose, size=None):
        ref = {}
        for pid, p in wide.groupby("product_id"):
            r, c = p["row"].to_numpy(), p["col"].to_numpy()
            rgb = np.stack(compose(band_q(p["vv"].to_numpy(), True), band_q(p["vh"].to_numpy(), False)), axis=1)
            if size is None:
                ref.update({(pid, i, j): tuple(v) for i, j, v in zip(r, c, rgb.tolist())})
                continue
            grid = np.zeros((r.max() + 1, c.max() + 1, 3))
            grid[r, c] = rgb
            new_cols, new_rows = calculate_resize_dimensions(grid.shape[1], grid.shape[0], size)
            res = np.clip(np.floor(lanczos_resize_array(grid, new_rows, new_cols) + 0.5), 0, 255)
            ref.update({(pid, i, j): tuple(res[i, j].astype(int).tolist())
                        for i in range(new_rows) for j in range(new_cols)})
        return ref

    for autoscale, compose, size in (
        (AutoscaleStrategy.STANDARD, krn.synrgb_default_np, None),
        (AutoscaleStrategy.TAMED, krn.synrgb_suppressed_np, None),
        (AutoscaleStrategy.TAMED, krn.synrgb_suppressed_np, 32),
    ):
        p3 = ProcessingParams(polarization=Polarization.MULTIBAND, format=OutputFormat.JPEG,
                              autoscale=autoscale, size=size)
        got = {(r["product_id"], r["row"], r["col"]): (r["r"], r["g"], r["b"])
               for r in build_pipeline(long, p3).collect()}
        assert got == expected(compose, size), (autoscale, size)


# --- pure-Python TIFF codec (W1/W2 write, S4 read) ---------------------------


def test_tiff_roundtrip_u16_multistrip(tmp_path):
    import numpy as np

    from sarpro_spark.sinks import tiff as t

    rng = np.random.default_rng(11)
    arr = rng.integers(0, 65536, size=(300, 47), dtype=np.uint16)
    p = str(tmp_path / "a.tif")
    t.write_tiff(p, arr, rows_per_strip=64)  # forces 5 strips
    back, meta = t.read_tiff(p)
    assert back.dtype == np.uint16 and back.shape == (300, 47)
    assert np.array_equal(back, arr)
    assert meta == {}


def test_tiff_roundtrip_2band_u8_with_geo(tmp_path):
    import numpy as np

    from sarpro_spark.sinks import tiff as t

    arr = np.stack(
        [np.arange(12, dtype=np.uint8).reshape(3, 4), np.full((3, 4), 7, np.uint8)],
        axis=2,
    )
    gt = (500.0, 10.0, 0.0, -250.0, 0.0, -10.0)
    p = str(tmp_path / "b.tif")
    t.write_tiff(p, arr, geotransform=gt, description='{"k":"v"}')
    back, meta = t.read_tiff(p)
    assert back.shape == (3, 4, 2)
    assert np.array_equal(back, arr)
    assert meta["geotransform"] == gt
    assert meta["description"] == '{"k":"v"}'


def test_tiff_identity_gt_not_embedded(tmp_path):
    import numpy as np

    from sarpro_spark.sinks import tiff as t

    arr = np.zeros((2, 2), np.uint8)
    p = str(tmp_path / "c.tif")
    # rotated geotransform (gt2 != 0) must not embed either
    t.write_tiff(p, arr, geotransform=(0.0, 1.0, 0.3, 0.0, 0.0, 1.0))
    _, meta = t.read_tiff(p)
    assert "geotransform" not in meta


def test_load_band_and_downsample(tmp_path):
    import numpy as np

    from sarpro_spark.sinks import tiff as t
    from sarpro_spark.sources.safe import load_band

    arr = np.arange(64, dtype=np.uint16).reshape(8, 8) * 100
    p = str(tmp_path / "band.tiff")
    t.write_tiff(p, arr)
    full = load_band(p)
    assert np.array_equal(full, arr)
    half = load_band(p, target_size=4)  # k=2 average pooling
    assert half.shape == (4, 4)
    assert half[0, 0] == (0 + 100 + 800 + 900) / 4.0


def test_safe_e2e_read_pipeline_write(spark, tmp_path):
    """S1->S4 open + decode -> W9 pipeline -> W1 write -> re-read: the full
    reference dataflow on a synthetic SAFE product with REAL u16 TIFFs."""
    import numpy as np

    from sarpro_spark.sinks import tiff as t

    p = tmp_path / "D.SAFE"
    (p / "annotation").mkdir(parents=True)
    (p / "measurement").mkdir()
    (p / "manifest.safe").write_text(MANIFEST)
    (p / "annotation" / "iw-vv.xml").write_text(ANNOTATION)
    rng = np.random.default_rng(5)
    vv = (rng.uniform(0, 4000, size=(20, 16)) ** 1.0).astype(np.uint16)
    t.write_tiff(str(p / "measurement" / "s1a-iw-grd-vv-9.tiff"), vv)
    t.write_tiff(str(p / "measurement" / "s1a-iw-grd-vh-9.tiff"), (vv // 2).astype(np.uint16))

    prods = safe.open_products(spark, str(tmp_path), permissive=True)
    px = safe.read_bands_px(prods.where(F.col("status") == "ok"), band="vv")
    rows = px.collect()
    assert len(rows) == 20 * 16
    got = {(r["row"], r["col"]): r["v"] for r in rows}
    assert got[(3, 5)] == float(vv[3, 5])

    # pipeline: intensity -> u8 autoscale kernel -> tiff out -> re-read
    import sarpro_spark.operators.kernel as krn
    from sarpro_spark.types import BitDepth

    frame = px.withColumnRenamed("product_path", "product_id")
    u8 = krn.single_band_kernel(frame, ["product_id"], "standard-a2", BitDepth.U8)
    out_dir = str(tmp_path / "out")
    manifest = w.write_geotiffs(u8, out_dir, ["product_id"], ["q"], bits=8)
    man = manifest.collect()
    assert len(man) == 1 and man[0]["n_bands"] == 1
    back = w.read_images_px(manifest, ["q"], ["product_id"]).collect()
    orig = {(r["row"], r["col"]): r["q"] for r in u8.collect()}
    assert len(back) == 20 * 16
    for r in back:
        assert r["q"] == orig[(r["row"], r["col"])]


# --- W3: JPEG codec + sink ----------------------------------------------------


def test_jpeg_roundtrip_gray_and_rgb():
    """Baseline JPEG encode -> decode must clear a PSNR bound at each quality
    tier (lossy, so fidelity bound, not equality) and q=100 must be near-
    transparent."""
    import numpy as np

    from sarpro_spark.sinks.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(11)
    x, y = np.meshgrid(np.linspace(0, 255, 96), np.linspace(0, 255, 80))
    img = np.clip(0.5 * x + 0.4 * y + rng.normal(0, 4, x.shape), 0, 255).astype(np.uint8)
    rgb = np.stack([img, np.roll(img, 5, 0), 255 - img], axis=2)

    def psnr(a, b):
        mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
        return 10 * np.log10(255**2 / max(mse, 1e-12))

    for arr, floor90, floor100 in ((img, 33.0, 45.0), (rgb, 30.0, 45.0)):
        d90 = decode_jpeg(encode_jpeg(arr, quality=90))
        d100 = decode_jpeg(encode_jpeg(arr, quality=100))
        assert d90.shape == arr.shape
        assert psnr(arr, d90) > floor90
        assert psnr(arr, d100) > floor100


def test_jpeg_marker_structure_and_odd_dims():
    """JFIF marker stream: SOI/APP0/DQT/SOF0/DHT/SOS/EOI present, in order;
    non-multiple-of-8 dimensions round-trip at the declared size."""
    import numpy as np

    from sarpro_spark.sinks.jpeg import decode_jpeg, encode_jpeg

    arr = np.arange(77 * 93, dtype=np.uint8).reshape(77, 93) % 251
    data = encode_jpeg(arr, quality=85)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    for marker in (b"\xff\xe0", b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
        assert marker in data
    # SOF0 dims
    sof = data.index(b"\xff\xc0")
    h, wdt = int.from_bytes(data[sof + 5:sof + 7], "big"), int.from_bytes(data[sof + 7:sof + 9], "big")
    assert (h, wdt) == (77, 93)
    assert decode_jpeg(data).shape == (77, 93)


def test_write_jpegs_sink_with_sidecars(spark, tmp_path):
    """write_jpegs: one .jpg per product, world-file + prj sidecars for
    non-identity geotransforms, manifest rows describe the bytes written."""
    import json as _json

    import numpy as np

    rows = []
    rng = np.random.default_rng(3)
    for pid in ("P1", "P2"):
        base = rng.integers(0, 255, size=(16, 24, 3), dtype=np.uint8)
        for r in range(16):
            for c in range(24):
                rows.append((pid, r, c, int(base[r, c, 0]), int(base[r, c, 1]), int(base[r, c, 2]),
                             100.0, 10.0, 0.0, -50.0, 0.0, -10.0))
    df = spark.createDataFrame(
        rows,
        "product_id string, row int, col int, r int, g int, b int, "
        "gt0 double, gt1 double, gt2 double, gt3 double, gt4 double, gt5 double",
    )
    out = str(tmp_path / "jp")
    man = w.write_jpegs(df, out, ["product_id"], ["r", "g", "b"], quality=90,
                        gt_cols=("gt0", "gt1", "gt2", "gt3", "gt4", "gt5"),
                        projection_col=None).collect()
    assert len(man) == 2
    for m in man:
        assert m["rows"] == 16 and m["cols"] == 24 and m["n_bands"] == 3
        with open(m["path"], "rb") as fh:
            assert fh.read(2) == b"\xff\xd8"
        sidecars = _json.loads(m["sidecars"])
        assert any(s.endswith(".jgw") for s in sidecars)
    back = w.read_images_px(
        spark.createDataFrame([tuple(m) for m in man], schema=w.write_jpegs(
            df, out, ["product_id"], ["r", "g", "b"]).schema), ["r", "g", "b"], ["product_id"]
    ).collect()
    assert len(back) == 2 * 16 * 24


def test_tiff_deflate_roundtrip_and_predictor(tmp_path):
    import struct
    import zlib

    import numpy as np

    from sarpro_spark.sinks import tiff as t

    rng = np.random.default_rng(17)
    # deflate write+read, multi-strip, u8 and u16
    for dtype in (np.uint8, np.uint16):
        arr = rng.integers(0, np.iinfo(dtype).max + 1, size=(90, 31), dtype=dtype)
        p = str(tmp_path / "d.tif")
        n = t.write_tiff(p, arr, rows_per_strip=32, compression="deflate")
        back, _ = t.read_tiff(p)
        assert np.array_equal(back, arr)
        assert n > 0

    # horizontal-predictor (tag 317=2) deflate fixture, the common GDAL shape:
    # hand-built so the reader is certified against foreign producers too
    arr = rng.integers(0, 65536, size=(11, 13), dtype=np.uint16)
    diff = arr.astype(np.int64).copy()
    diff[:, 1:] = (arr[:, 1:].astype(np.int64) - arr[:, :-1].astype(np.int64)) % 65536
    comp = zlib.compress(diff.astype("<u2").tobytes())
    tags = [(256, 4, [13]), (257, 4, [11]), (258, 3, [16]), (259, 3, [8]),
            (262, 3, [1]), (273, 4, [8]), (277, 3, [1]), (278, 4, [11]),
            (279, 4, [len(comp)]), (284, 3, [1]), (317, 3, [2]), (339, 3, [1])]
    body = struct.pack("<H", len(tags))
    for tg, typ, vals in tags:
        fmt = {3: "H", 4: "I"}[typ]
        raw = struct.pack("<" + fmt * len(vals), *vals)
        body += struct.pack("<HHI", tg, typ, len(vals)) + raw.ljust(4, b"\x00")
    body += struct.pack("<I", 0)
    p = str(tmp_path / "pred.tif")
    with open(p, "wb") as f:
        f.write(b"II*\x00" + struct.pack("<I", 8 + len(comp)) + comp + body)
    back, _ = t.read_tiff(p)
    assert np.array_equal(back, arr)


def test_tiff_all_compressions_roundtrip(tmp_path):
    """Every supported strip codec (none/deflate/LZW/PackBits) roundtrips
    u8 and u16, multi-strip, with the horizontal-predictor-free path; the
    PackBits encoder is additionally pinned to the TIFF 6.0 spec's own
    worked example (byte-exact both directions)."""
    import numpy as np

    from sarpro_spark.sinks.tiff import (
        lzw_decode,
        lzw_encode,
        packbits_decode,
        packbits_encode,
        read_tiff,
        write_tiff,
    )

    rs = np.random.RandomState(5)
    imgs = {
        "u8": rs.randint(0, 256, (37, 21), dtype=np.uint8),
        "u16": rs.randint(0, 65536, (37, 21), dtype=np.uint16),
        "runs": np.repeat(rs.randint(0, 3, 40), 25).reshape(40, 25).astype(np.uint8),
    }
    for comp in ("none", "deflate", "lzw", "packbits"):
        for name, img in imgs.items():
            p = str(tmp_path / f"{comp}_{name}.tiff")
            write_tiff(p, img, rows_per_strip=7, compression=comp)
            back, _ = read_tiff(p)
            assert (back == img).all(), (comp, name)

    # TIFF 6.0 spec PackBits worked example — byte-exact encode AND decode
    spec_in = bytes([0xAA, 0xAA, 0xAA, 0x80, 0x00, 0x2A, 0xAA, 0xAA, 0xAA,
                     0xAA, 0x80, 0x00, 0x2A, 0x22, 0xAA, 0xAA, 0xAA, 0xAA,
                     0xAA, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA])
    spec_out = bytes([0xFE, 0xAA, 0x02, 0x80, 0x00, 0x2A, 0xFD, 0xAA, 0x03,
                      0x80, 0x00, 0x2A, 0x22, 0xF7, 0xAA])
    assert packbits_encode(spec_in) == spec_out
    assert packbits_decode(spec_out) == spec_in

    # LZW: cross every code-width boundary and the 4094-entry table reset
    big = bytes(rs.randint(0, 256, 200_000, dtype=np.uint8))
    assert lzw_decode(lzw_encode(big)) == big
    zeros = b"\x00" * 150_000
    assert lzw_decode(lzw_encode(zeros)) == zeros

    # Regression: the FINAL data code landing exactly on an early-change
    # boundary (253rd/765th/1789th code after a clear) used to desync the
    # encoder's EOI width from the decoder's phantom-entry bump.
    # bytes(range(253)) has all-distinct adjacent pairs -> exactly 253 data
    # codes, the last one at the 9->10 bit boundary.
    boundary = bytes(range(253))
    assert lzw_decode(lzw_encode(boundary)) == boundary
    for trial in range(400):
        rs2 = np.random.RandomState(1000 + trial)
        n = int(rs2.choice([253, 254, 765, 766, 1789, 1790]))
        d = bytes(rs2.randint(0, 256, n, dtype=np.uint8))
        assert lzw_decode(lzw_encode(d)) == d, (trial, n)
    # and through the full TIFF writer/reader (the ADVICE repro shape)
    for trial in range(20):
        rs3 = np.random.RandomState(2000 + trial)
        img = rs3.randint(0, 256, (11, 23), dtype=np.uint8)  # 253-byte strips
        p = str(tmp_path / f"lzw_boundary_{trial}.tiff")
        write_tiff(p, img, rows_per_strip=11, compression="lzw")
        back, _ = read_tiff(p)
        assert (back == img).all(), trial


def test_tiled_tiff_roundtrip(tmp_path):
    """Tile organization (TIFF 6.0 section 15): every codec roundtrips u8,
    u16 and RGB through 16x16 tiles, including non-multiple-of-16 image
    dims whose edge tiles carry zero padding that must be clipped, a
    tile-exact image, and a single-tile image; geo metadata survives."""
    import numpy as np

    from sarpro_spark.sinks.tiff import read_tiff, write_tiff

    rs = np.random.RandomState(11)
    imgs = {
        "edge_u8": rs.randint(0, 256, (53, 41), dtype=np.uint8),
        "edge_u16": rs.randint(0, 65536, (40, 63), dtype=np.uint16),
        "rgb": rs.randint(0, 256, (35, 50, 3), dtype=np.uint8),
        "exact": rs.randint(0, 256, (32, 48), dtype=np.uint8),
        "single": rs.randint(0, 256, (9, 13), dtype=np.uint8),
    }
    for comp in ("none", "deflate", "lzw", "packbits"):
        for name, img in imgs.items():
            p = str(tmp_path / f"tiled_{comp}_{name}.tiff")
            write_tiff(
                p, img, tile_size=(16, 16), compression=comp,
                geotransform=(10.0, 0.5, 0.0, 20.0, 0.0, -0.5),
                description="tiled",
            )
            back, meta = read_tiff(p)
            assert back.shape == img.shape, (comp, name)
            assert (back == img).all(), (comp, name)
            assert meta["description"] == "tiled"
            assert meta["geotransform"][:2] == (10.0, 0.5)
    # spec: tile dims must be multiples of 16
    import pytest

    with pytest.raises(ValueError):
        write_tiff(str(tmp_path / "bad.tiff"), imgs["exact"], tile_size=(20, 16))


def test_truncated_jpeg_raises_not_garbage():
    """r6 ADVICE fix: zero-padding past the end of the entropy data must not
    silently decode a TRUNCATED stream to garbage with ok=True — only
    marker-terminated streams may pad (EOB fill before EOI)."""
    import numpy as np
    import pytest

    from sarpro_spark.sinks.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(24, 32), dtype=np.uint8)
    blob = encode_jpeg(img, quality=85)
    decode_jpeg(blob)  # intact stream decodes

    truncated = blob[: len(blob) - 12]  # chop entropy tail incl. EOI
    with pytest.raises(ValueError, match="truncated JPEG"):
        decode_jpeg(truncated)

    from sarpro_spark.llm.multimodal import safe_decode_image

    px, ok = safe_decode_image(truncated)
    assert ok is False and px is None
