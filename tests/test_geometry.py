"""Tests for G1/G2/G4/G6 geometry operators."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sarpro_spark.operators import geometry as geom


def test_calculate_resize_dimensions():
    # reference semantics (resize.rs:6-30)
    assert geom.calculate_resize_dimensions(4000, 3000, 2000) == (2000, 1500)
    assert geom.calculate_resize_dimensions(3000, 4000, 2000) == (1500, 2000)
    # no-op when target larger than long side
    assert geom.calculate_resize_dimensions(100, 50, 500) == (100, 50)
    # equal target == long side -> unchanged long, rounded short
    assert geom.calculate_resize_dimensions(100, 50, 100) == (100, 50)
    # round-half-up on the short side: 99*(50/100) = 49.5 -> 50
    assert geom.calculate_resize_dimensions(100, 99, 50) == (50, 50)


def _px(spark, rows, cols, vals=None):
    data = []
    for r in range(rows):
        for c in range(cols):
            v = float(vals[r][c]) if vals is not None else float(r * cols + c)
            data.append(("p", r, c, v))
    return spark.createDataFrame(data, "g string, row int, col int, v double")


def test_pad_to_square_centered(spark):
    px = _px(spark, 2, 4)  # rows=2, cols=4 -> canvas 4x4, pad_rows=1, pad_cols=0
    out = geom.pad_to_square(px, ["g"]).collect()
    assert len(out) == 16
    by_rc = {(r["row"], r["col"]): r["v"] for r in out}
    # original row 0 lands at canvas row 1
    assert by_rc[(1, 0)] == 0.0 and by_rc[(1, 3)] == 3.0
    assert by_rc[(2, 0)] == 4.0
    # padding rows are zero-filled
    assert all(by_rc[(0, c)] == 0.0 for c in range(4))
    assert all(by_rc[(3, c)] == 0.0 for c in range(4))


def test_pad_to_square_preserves_sum(spark):
    px = _px(spark, 3, 5)
    before = px.agg(F.sum("v")).collect()[0][0]
    padded = geom.pad_to_square(px, ["g"])
    after = padded.agg(F.sum("v")).collect()[0][0]
    assert before == after
    assert padded.count() == 25


def test_box_resize(spark):
    px = _px(spark, 4, 4)
    out = geom.box_resize(px, ["g"], k=2).collect()
    by_rc = {(r["row"], r["col"]): r["v"] for r in out}
    # top-left 2x2 block of values [[0,1],[4,5]] -> mean 2.5
    assert by_rc[(0, 0)] == 2.5
    assert len(out) == 4


def test_lanczos_identity_and_constant():
    img = np.arange(48, dtype=np.float64).reshape(6, 8)
    # identity: same-size resample returns the image (weights collapse to 1)
    out = geom.lanczos_resize_array(img, 6, 8)
    np.testing.assert_allclose(out, img, atol=1e-9)
    # constant preservation under downscale (partition of unity)
    const = np.full((40, 60), 7.5)
    out = geom.lanczos_resize_array(const, 20, 30)
    np.testing.assert_allclose(out, 7.5, atol=1e-9)


def test_lanczos_downscale_box_agreement():
    # smooth gradient: Lanczos downscale should stay close to box-filter
    rows, cols = 32, 64
    img = np.add.outer(np.linspace(0, 100, rows), np.linspace(0, 50, cols))
    out = geom.lanczos_resize_array(img, 16, 32)
    box = img.reshape(16, 2, 32, 2).mean(axis=(1, 3))
    assert np.abs(out - box).max() < 1.5


def test_lanczos_resize_grouped(spark):
    rows, cols = 12, 16
    data = [("p", r, c, int(10 + (r * cols + c) % 200)) for r in range(rows) for c in range(cols)]
    px = spark.createDataFrame(data, "g string, row int, col int, q int")
    out = geom.lanczos_resize_grouped(px, ["g"], target_size=8, value_cols=["q"])
    rows_out = out.collect()
    # 16x12 -> long side 16 -> 8, short 12*(8/16)=6
    assert len(rows_out) == 8 * 6
    assert all(0 <= r["q"] <= 255 for r in rows_out)


def test_geotransform_update_invertibility(spark):
    dims = spark.createDataFrame(
        [(1, 100, 80, 5.0, 2.0, 0.0, 50.0, 0.0, -2.0)],
        "g int, cols int, rows int, gt0 double, gt1 double, gt2 double, gt3 double, gt4 double, gt5 double",
    )
    out = geom.geotransform_update(dims, target_size=50, pad=True).collect()[0]
    # 100x80 -> 50x40 -> padded to 50x50, pad_left=0, pad_top=5
    assert (out["new_cols"], out["new_rows"]) == (50, 40)
    assert (out["final_cols"], out["final_rows"]) == (50, 50)
    assert (out["pad_left"], out["pad_top"]) == (0, 5)
    # pixel size scales by cols/final_cols = 2x
    assert out["gt1_new"] == pytest.approx(4.0)
    assert out["gt5_new"] == pytest.approx(-3.2)
    # origin shifts by pad * new pixel size
    assert out["gt0_new"] == pytest.approx(5.0 - 0 * 4.0)
    assert out["gt3_new"] == pytest.approx(50.0 - 5 * (-3.2))


# --- G5: affine warp ----------------------------------------------------------


def _geo_frame(spark, rows, cols, sg, dg, dst_rows, dst_cols):
    return spark.createDataFrame(
        [("P", *sg, *dg, dst_rows, dst_cols)],
        "product_id string, sg0 double, sg1 double, sg2 double, sg3 double, sg4 double, sg5 double, "
        "dg0 double, dg1 double, dg2 double, dg3 double, dg4 double, dg5 double, "
        "dst_rows int, dst_cols int",
    )


def test_affine_warp_identity(spark):
    """Warping onto the SOURCE grid itself must return every pixel exactly
    (bilinear weights collapse to 1 at cell centers, edges renormalize)."""
    from sarpro_spark.operators.geometry import affine_warp

    rng = np.random.RandomState(5)
    vals = rng.randint(0, 256, size=(6, 7))
    data = [("P", r, c, float(vals[r, c])) for r in range(6) for c in range(7)]
    px = spark.createDataFrame(data, "product_id string, row int, col int, v double")
    gt = (100.0, 8.0, 0.0, -50.0, 0.0, -8.0)
    geo = _geo_frame(spark, 6, 7, gt, gt, 6, 7)
    out = affine_warp(px, geo, ["product_id"], value="v", alg="bilinear").collect()
    assert len(out) == 6 * 7
    got = {(r["row"], r["col"]): r["v"] for r in out}
    for r in range(6):
        for c in range(7):
            assert got[(r, c)] == float(vals[r, c])


def test_affine_warp_matches_numpy_bilinear(spark):
    """2x upsample + dyadic shear vs a direct numpy bilinear implementation."""
    from sarpro_spark.operators.geometry import affine_warp

    rng = np.random.RandomState(9)
    R, C = 5, 6
    vals = rng.randint(0, 256, size=(R, C)).astype(np.float64)
    data = [("P", r, c, float(vals[r, c])) for r in range(R) for c in range(C)]
    px = spark.createDataFrame(data, "product_id string, row int, col int, v double")
    sg = (0.0, 8.0, 0.0, 0.0, 0.0, -8.0)
    dg = (0.0, 4.0, 2.0, 0.0, 0.0, -4.0)
    geo = _geo_frame(spark, R, C, sg, dg, 2 * R, 2 * C)
    out = {(r["row"], r["col"]): r["v"]
           for r in affine_warp(px, geo, ["product_id"], value="v", alg="bilinear").collect()}

    expect = {}
    for tr in range(2 * R):
        for tc in range(2 * C):
            x = dg[0] + (tc + 0.5) * dg[1] + (tr + 0.5) * dg[2]
            y = dg[3] + (tc + 0.5) * dg[4] + (tr + 0.5) * dg[5]
            cs = (x - sg[0]) / sg[1] - 0.5
            rs = (y - sg[3]) / sg[5] - 0.5
            r0, c0 = int(np.floor(rs)), int(np.floor(cs))
            wr, wc = rs - r0, cs - c0
            acc = wsum = 0.0
            for dr, dc in ((0, 0), (0, 1), (1, 0), (1, 1)):
                rr, cc = r0 + dr, c0 + dc
                if 0 <= rr < R and 0 <= cc < C:
                    w = (wr if dr else 1 - wr) * (wc if dc else 1 - wc)
                    acc += w * vals[rr, cc]
                    wsum += w
            if wsum > 0:
                expect[(tr, tc)] = acc / wsum
    assert set(out) == set(expect)
    for k, v in expect.items():
        assert abs(out[k] - v) < 1e-9, (k, out[k], v)


def test_gcp_warp_curved_grid_matches_numpy(spark):
    """Non-affine-consistent GCP grid (cross terms make x11-x10-x01+x00 != 0
    in every tile): the exact per-tile bilinear map must (a) claim every
    covered target cell exactly once — no seam drops or double-owns — and
    (b) agree with an independent numpy implementation of inverse-bilinear +
    gather. This is the fixture the dyadic oracle (tile-affine by
    construction) cannot exercise."""
    import numpy as np

    from sarpro_spark.operators.geometry import GCP_SEAM_TOL, warp_gcp_grid

    k, n_g = 4, 4  # 4x4 tiles over a 16x16 source raster
    size = k * n_g

    def gx(gi, gj):
        return 20.0 * gj + 1.5 * gi * gj + 3.0 * gi

    def gy(gi, gj):
        return -15.0 * gi + 0.8 * gi * gj

    src = np.arange(size * size, dtype=np.float64).reshape(size, size)
    px = spark.createDataFrame(
        [(1, r, c, float(src[r, c])) for r in range(size) for c in range(size)],
        "product_id int, row int, col int, v double",
    )
    gcps = spark.createDataFrame(
        [(1, gi, gj, gx(gi, gj), gy(gi, gj)) for gi in range(n_g + 1) for gj in range(n_g + 1)],
        "product_id int, gi int, gj int, gx double, gy double",
    )
    dg = (0.0, 2.0, 0.0, 0.0, 0.0, -2.0)
    dst_rows, dst_cols = 31, 59
    geo = spark.createDataFrame(
        [(1, *dg, dst_rows, dst_cols)],
        "product_id int, dg0 double, dg1 double, dg2 double, dg3 double, "
        "dg4 double, dg5 double, dst_rows long, dst_cols long",
    )
    got = {
        (r["row"], r["col"]): r["v"]
        for r in warp_gcp_grid(px, gcps, geo, ["product_id"], k=k, bucket=64.0).collect()
    }

    # independent numpy reference: same math, different implementation
    tol = GCP_SEAM_TOL
    expected = {}
    for row in range(dst_rows):
        for col in range(dst_cols):
            x = dg[0] + (col + 0.5) * dg[1] + (row + 0.5) * dg[2]
            y = dg[3] + (col + 0.5) * dg[4] + (row + 0.5) * dg[5]
            claims = []
            for ti in range(n_g):
                for tj in range(n_g):
                    c00 = (gx(ti, tj), gy(ti, tj))
                    c01 = (gx(ti, tj + 1), gy(ti, tj + 1))
                    c10 = (gx(ti + 1, tj), gy(ti + 1, tj))
                    c11 = (gx(ti + 1, tj + 1), gy(ti + 1, tj + 1))
                    ex, ey = c01[0] - c00[0], c01[1] - c00[1]
                    fx, fy = c10[0] - c00[0], c10[1] - c00[1]
                    gx_, gy_ = c00[0] - c01[0] - c10[0] + c11[0], c00[1] - c01[1] - c10[1] + c11[1]
                    hx, hy = x - c00[0], y - c00[1]
                    qa = gx_ * fy - gy_ * fx
                    qb = (ex * fy - ey * fx) + (hx * gy_ - hy * gx_)
                    qc = hx * ey - hy * ex
                    if abs(qa) < 1e-9:
                        v = -qc / qb
                    else:
                        sq = np.sqrt(max(qb * qb - 4.0 * qa * qc, 0.0))
                        va = (-qb + sq) / (2.0 * qa)
                        v = va if -tol <= va <= 1.0 + tol else (-qb - sq) / (2.0 * qa)
                    den_x, den_y = ex + v * gx_, ey + v * gy_
                    if abs(den_x) >= abs(den_y):
                        u = (hx - v * fx) / den_x
                    else:
                        u = (hy - v * fy) / den_y
                    if -tol <= u <= 1.0 + tol and -tol <= v <= 1.0 + tol:
                        claims.append((ti, tj, u, v))
            if not claims:
                continue
            ti, tj, u, v = min(claims)
            cs = (tj + min(max(u, 0.0), 1.0)) * k
            rs = (ti + min(max(v, 0.0), 1.0)) * k
            c0, r0 = int(np.floor(cs)), int(np.floor(rs))
            wc, wr = cs - c0, rs - r0
            wv = w = 0.0
            for dr in (0, 1):
                for dc in (0, 1):
                    sr, sc = r0 + dr, c0 + dc
                    if 0 <= sr < size and 0 <= sc < size:
                        ww = (wr if dr else 1 - wr) * (wc if dc else 1 - wc)
                        wv += ww * src[sr, sc]
                        w += ww
            if w > 0.0:
                expected[(row, col)] = wv / w

    assert set(got) == set(expected)  # exact coverage: no drops, no extras
    for cell, val in expected.items():
        assert got[cell] == pytest.approx(val, abs=1e-9), cell
    # sanity: the grid really is non-affine-consistent in every tile
    assert all(
        abs(gx(ti, tj) - gx(ti, tj + 1) - gx(ti + 1, tj) + gx(ti + 1, tj + 1)) > 0.5
        for ti in range(n_g) for tj in range(1, n_g)
    )


def test_tmerc_kruger_vs_snyder_and_roundtrip():
    """Two independently-derived public TM expansions (Kruger-n series vs
    Snyder/Redfearn USGS PP 1395) must agree sub-mm across zones and
    hemispheres; forward->inverse roundtrips to ~1e-10 deg; central-meridian
    and rectifying-radius invariants hold."""
    import numpy as np

    from sarpro_spark.operators import tmerc as tm

    rng = np.random.RandomState(42)
    n = 4000
    zone = rng.randint(1, 61, n)
    lon0 = zone * 6.0 - 183.0
    lon = lon0 + rng.uniform(-3.0, 3.0, n)  # UTM's designed domain
    lat = rng.uniform(-80.0, 84.0, n)
    south = lat < 0

    e1, n1 = tm.utm_forward_np(lon, lat, lon0, south)
    e2, n2 = tm.utm_forward_snyder_np(lon, lat, lon0, south)
    # Snyder's 6th-order truncation is the limiting factor, not Kruger
    assert np.abs(e1 - e2).max() < 1e-3
    assert np.abs(n1 - n2).max() < 2e-3

    lon_i, lat_i = tm.utm_inverse_np(e1, n1, lon0, south)
    assert np.abs(lon_i - lon).max() < 1e-9
    assert np.abs(lat_i - lat).max() < 1e-9

    # central meridian: E == false easting exactly, N monotone in |lat|
    e3, n3 = tm.utm_forward_np(lon0, lat, lon0, south)
    assert np.abs(e3 - 500000.0).max() == 0.0
    # published WGS84 rectifying radius
    assert abs(tm.A_RECT - 6367449.145823415) < 1e-6
    # equator on the central meridian is the projection origin
    e0, n0 = tm.utm_forward_np(3.0, 0.0, 3.0, False)
    assert abs(float(e0) - 500000.0) == 0.0 and abs(float(n0)) < 1e-9


def test_tmerc_spark_sql_steps_match_numpy(spark):
    """The shared SQL step chain (the one both Spark and the DuckDB oracle
    execute) must reproduce the numpy reference to float noise, zone rule
    included."""
    import numpy as np

    from pyspark.sql import functions as F

    from sarpro_spark.operators import tmerc as tm

    rows = [
        (0, -177.0, -60.0),
        (1, 9.0, 48.0),       # zone 32 north, on the central meridian
        (2, -58.4, -34.6),    # zone 21 south
        (3, 151.2, -33.9),    # zone 56 south
        (4, 139.7, 35.7),     # zone 54 north
        (5, -0.1, 51.5),      # zone 30 north, near a zone edge
    ]
    df = spark.createDataFrame(rows, "pid long, lon double, lat double")
    out = tm.apply_steps(
        tm.apply_steps(df, tm.utm_zone_steps("lon", "lat")),
        tm.tm_forward_steps(),
    )
    inv = tm.apply_steps(out, tm.tm_inverse_steps()).select(
        "pid", "lon", "lat", "zone", "south", "easting", "northing",
        "lon_inv", "lat_inv",
    )
    got = {r["pid"]: r for r in inv.collect()}
    for pid, lon, lat in rows:
        r = got[pid]
        zone = int(min(max(np.floor((lon + 180.0) / 6.0) + 1, 1), 60))
        assert r["zone"] == zone
        assert r["south"] == (lat < 0.0)
        e, n = tm.utm_forward_np(lon, lat, zone * 6.0 - 183.0, lat < 0.0)
        assert abs(r["easting"] - float(e)) < 1e-6
        assert abs(r["northing"] - float(n)) < 1e-6
        assert abs(r["lon_inv"] - lon) < 1e-9
        assert abs(r["lat_inv"] - lat) < 1e-9


def test_apply_steps_shadowing_replaces_in_place(spark):
    """A step chain that names an existing column replaces it where it
    stands (withColumn semantics, later steps see the new value) instead
    of appending a duplicate; fresh names still append. Both step forms
    (SQL text, Column) take the same guard."""
    from sarpro_spark.operators import tmerc as tm

    df = spark.createDataFrame([(1.0, 2.0, 3.0)], "a double, b double, c double")
    out = tm.apply_steps(df, [("b", "a + 10"), ("d", "b * 2")])
    assert out.columns == ["a", "b", "c", "d"]
    assert tuple(out.first()) == (1.0, 11.0, 3.0, 22.0)

    out = tm.apply_steps(df, [("c", F.col("a") - 1), ("e", F.col("b") + 1)])
    assert out.columns == ["a", "b", "c", "e"]
    assert tuple(out.first()) == (1.0, 2.0, 0.0, 3.0)

    out = tm.apply_steps(df, [("d", "a + c"), ("e", "d * 2")])
    assert out.columns == ["a", "b", "c", "d", "e"]
    assert tuple(out.first()) == (1.0, 2.0, 3.0, 4.0, 8.0)


def test_ups_polar_stereographic():
    """UPS (Polar Stereographic variant A): reproduces the EPSG Guidance
    Note 7-2 worked example, roundtrips both sheets to ~1e-11 deg, and the
    poles map to the false origin exactly."""
    import numpy as np

    from sarpro_spark.operators import tmerc as tm

    # EPSG worked example: UPS North, 73N 44E -> E 3320416.75, N 632668.43
    e, n = tm.ups_forward_np(44.0, 73.0, False)
    assert abs(float(e) - 3320416.75) < 0.01
    assert abs(float(n) - 632668.43) < 0.01

    rng = np.random.RandomState(3)
    lat = np.concatenate([rng.uniform(84, 90, 1500), rng.uniform(-90, -80, 1500)])
    lon = rng.uniform(-180, 180, 3000)
    south = lat < 0
    E, N = tm.ups_forward_np(lon, lat, south)
    lo, la = tm.ups_inverse_np(E, N, south)
    assert np.abs(la - lat).max() < 1e-9
    assert np.abs((lo - lon + 180.0) % 360.0 - 180.0).max() < 1e-9

    for s in (False, True):
        ep, np_ = tm.ups_forward_np(0.0, -90.0 if s else 90.0, s)
        assert float(ep) == 2000000.0 and float(np_) == 2000000.0


# --- round-6: resampling-kernel family (near / cubic) ------------------------


def _coords(spark, pts):
    """(group, row, col, cs, rs) target-cell coordinate frame."""
    return spark.createDataFrame(
        [("p", r, c, float(cs), float(rs)) for (r, c, cs, rs) in pts],
        "g string, row int, col int, cs double, rs double",
    )


def test_nearest_gather_picks_rounded_pixel(spark):
    px = _px(spark, 4, 4)  # v = r*4 + c
    coords = _coords(spark, [
        (0, 0, 1.25, 2.75),   # -> (row 3, col 1) = 13
        (0, 1, 2.5, 0.0),     # half rounds up -> col 3 -> 3
        (0, 2, -0.4, 0.4),    # -> (0, 0) = 0
        (0, 3, 5.0, 0.0),     # out of footprint -> dropped
    ])
    out = {(r["row"], r["col"]): r["v"] for r in
           geom.resample_gather(coords, px, ["g"], alg="near").collect()}
    assert out == {(0, 0): 13.0, (0, 1): 3.0, (0, 2): 0.0}


def test_cubic_gather_partition_of_unity_and_linearity(spark):
    # constant field -> constant out (weights sum to 1); linear ramp ->
    # exact linear interpolation in the interior (Keys a=-0.5 reproduces
    # polynomials up to degree 2 exactly; dyadic fractions keep it IEEE-exact)
    const = _px(spark, 8, 8, [[7.0] * 8 for _ in range(8)])
    ramp = _px(spark, 8, 8, [[2.0 * c + 3.0 * r for c in range(8)] for r in range(8)])
    pts = [(0, 0, 3.25, 4.5), (0, 1, 2.0, 2.0), (0, 2, 4.75, 1.25)]
    coords = _coords(spark, pts)
    out_c = {(r["row"], r["col"]): r["v"] for r in
             geom.resample_gather(coords, const, ["g"], alg="cubic").collect()}
    assert out_c == {(0, 0): 7.0, (0, 1): 7.0, (0, 2): 7.0}
    out_r = {(r["row"], r["col"]): r["v"] for r in
             geom.resample_gather(coords, ramp, ["g"], alg="cubic").collect()}
    for (row, col, cs, rs) in pts:
        assert out_r[(row, col)] == 2.0 * cs + 3.0 * rs


def test_cubic_gather_edge_renormalizes(spark):
    # a cell whose 16-tap footprint is clipped by the raster edge still
    # produces the constant under renormalization
    const = _px(spark, 4, 4, [[5.0] * 4 for _ in range(4)])
    coords = _coords(spark, [(0, 0, 0.25, 0.25)])  # taps at -1 clipped
    out = geom.resample_gather(coords, const, ["g"], alg="cubic").collect()
    assert len(out) == 1 and out[0]["v"] == pytest.approx(5.0)


def test_resample_gather_dispatch(spark):
    px = _px(spark, 2, 2)
    coords = _coords(spark, [(0, 0, 0.5, 0.5)])
    assert geom.resample_gather(coords, px, ["g"], alg="near").count() == 1
    assert geom.resample_gather(coords, px, ["g"], alg="bilinear").count() == 1
    assert geom.resample_gather(coords, px, ["g"], alg="cubic").count() == 1
    assert geom.resample_gather(coords, px, ["g"], alg="lanczos").count() == 1
    with pytest.raises(ValueError, match="unsupported resample alg"):
        geom.resample_gather(coords, px, ["g"], alg="sinc")


def test_warp_route_crs_matrix():
    from sarpro_spark.plans.pipeline import crs_projection_support, warp_route

    # UTM zones 1-60 only; the old prefix test wrongly matched EPSG:3266/3273
    assert crs_projection_support("EPSG:32601") == "utm"
    assert crs_projection_support("EPSG:32760") == "utm"
    assert crs_projection_support("EPSG:32600") is None
    assert crs_projection_support("EPSG:32661") == "ups"
    assert crs_projection_support("EPSG:32761") == "ups"
    assert crs_projection_support("EPSG:3266") is None
    assert warp_route(None, "EPSG:32661", True, gcp_crs="EPSG:4326") == "gcp_ups"
    # r7 in-engine families: LAEA Europe and Web Mercator route like UTM/UPS
    assert crs_projection_support("EPSG:3035") == "laea"
    assert crs_projection_support("EPSG:3857") == "webmerc"
    assert warp_route(None, "EPSG:3035", True, gcp_crs="EPSG:4326") == "gcp_laea"
    assert warp_route(None, "EPSG:3857", True, gcp_crs="EPSG:4326") == "gcp_webmerc"
    assert crs_projection_support("EPSG:2154") == "lcc"
    assert warp_route(None, "EPSG:2154", True, gcp_crs="EPSG:4326") == "gcp_lcc"
    # r8: EPSG:27700 routes through the Helmert datum shift, not a failure
    assert crs_projection_support("EPSG:27700") == "osgb"
    assert warp_route(None, "EPSG:27700", True, gcp_crs="EPSG:4326") == "gcp_osgb"
    # r9: EPSG:31370 (second Helmert family) and EPSG:5070 (Albers) route
    assert crs_projection_support("EPSG:31370") == "bd72"
    assert warp_route(None, "EPSG:31370", True, gcp_crs="EPSG:4326") == "gcp_bd72"
    assert crs_projection_support("EPSG:5070") == "albers"
    assert warp_route(None, "EPSG:5070", True, gcp_crs="EPSG:4326") == "gcp_albers"
    # r10: EPSG:28355 — long mislabeled AGD66 here — is GDA94 / MGA zone
    # 55 (GRS80, no datum shift) and now genuinely routes; the exact-shape
    # regex must not overmatch neighbors
    assert crs_projection_support("EPSG:28355") == "mga"
    assert warp_route(None, "EPSG:28355", True, gcp_crs="EPSG:4326") == "gcp_mga"
    assert crs_projection_support("EPSG:28349") == "mga"
    assert crs_projection_support("EPSG:28348") is None
    assert crs_projection_support("EPSG:28357") is None
    # geographic GCPs + unsupported target must FAIL, not route 'gcp'.
    # The standing loud-failure example is now EPSG:20255 (AGD66 / AMG 55)
    # WITHOUT its NTv2 grid — a distortion-grid datum no Helmert covers.
    import pytest as _pt

    with _pt.raises(ValueError, match="unsupported target CRS"):
        warp_route(None, "EPSG:20255", True, gcp_crs="EPSG:4326")
    # ground-unit GCPs still route 'gcp' for any target
    assert warp_route(None, "EPSG:20255", True, gcp_crs=None) == "gcp"


def test_resample_kernel_param_consumed():
    from sarpro_spark.plans.pipeline import resample_kernel
    from sarpro_spark.types import ProcessingParams, ResampleAlg

    # reference default is lanczos (core/params.rs:38, api/mod.rs:498);
    # the reference's warp DEGRADES it to bilinear (sentinel1.rs:937-941),
    # this engine honors it with the true 36-tap kernel since r11
    assert ProcessingParams().resample_alg == ResampleAlg.LANCZOS
    assert resample_kernel(ProcessingParams()) == "lanczos"
    assert resample_kernel(ProcessingParams(resample_alg=ResampleAlg.CUBIC)) == "cubic"
    assert resample_kernel(ProcessingParams(resample_alg=ResampleAlg.NEAREST)) == "near"
    assert resample_kernel(ProcessingParams(resample_alg=ResampleAlg.BILINEAR)) == "bilinear"


def test_resample_gather_accepts_lanczos(spark):
    # r11: -r lanczos dispatches the TRUE 36-tap kernel (no more bilinear
    # degrade). On a symmetric 2x2 patch at the half-pixel point the 4
    # inner taps dominate and renormalization makes the result the source
    # mean — same as bilinear there — while the kernel itself is lanczos
    # (its leg is compared with the fused gather in
    # test_all_kernels_gather_matches_dedicated_gathers).
    from sarpro_spark.operators.geometry import resample_gather

    coords = spark.createDataFrame(
        [("p", 0, 0, 0.5, 0.5)], "g string, row int, col int, cs double, rs double"
    )
    px = spark.createDataFrame(
        [("p", r, c, float(r * 2 + c)) for r in (0, 1) for c in (0, 1)],
        "g string, row int, col int, v double",
    )
    got = resample_gather(coords, px, ["g"], alg="lanczos").collect()
    # symmetric patch at the exact center: renormalized lanczos = the mean
    assert got[0]["v"] == pytest.approx(1.5, abs=1e-9)


def test_lanczos_gather_properties(spark):
    """True-kernel checks: integer coordinates reproduce the source value
    exactly (all non-center taps have weight sinc(k) = 0), and a constant
    field is preserved at any fractional phase (partition of unity under
    renormalization)."""
    from sarpro_spark.operators import geometry as geom

    px = spark.createDataFrame(
        [("p", r, c, float((r * 7 + c * 3) % 19)) for r in range(12) for c in range(12)],
        "g string, row int, col int, v double",
    )
    coords = spark.createDataFrame(
        [("p", 0, 0, 5.0, 6.0)], "g string, row int, col int, cs double, rs double"
    )
    v = geom.resample_gather(coords, px, ["g"], alg="lanczos").collect()[0]["v"]
    assert v == pytest.approx(float((6 * 7 + 5 * 3) % 19), abs=1e-9)

    const = spark.createDataFrame(
        [("p", r, c, 7.0) for r in range(12) for c in range(12)],
        "g string, row int, col int, v double",
    )
    frac = spark.createDataFrame(
        [("p", 0, 0, 5.34375, 6.21875)],  # phases 11/32 and 7/32 exactly
        "g string, row int, col int, cs double, rs double",
    )
    v = geom.resample_gather(frac, const, ["g"], alg="lanczos").collect()[0]["v"]
    assert v == pytest.approx(7.0, abs=1e-9)


def test_project_gcps_utm_and_ups(spark):
    import numpy as np

    from sarpro_spark.operators import tmerc as tmx
    from sarpro_spark.plans.pipeline import project_gcps

    gcps = spark.createDataFrame(
        [("p", 0, 0, 3.0, 50.0), ("p", 0, 1, 3.5, 50.25)],
        "g string, gi int, gj int, lon double, lat double",
    )
    out = {(r["gi"], r["gj"]): (r["gx"], r["gy"])
           for r in project_gcps(gcps, "EPSG:32631").collect()}
    e, n = tmx.utm_forward_np([3.0, 3.5], [50.0, 50.25], 3.0, False)
    assert out[(0, 0)] == pytest.approx((e[0], n[0]), abs=1e-6)
    assert out[(0, 1)] == pytest.approx((e[1], n[1]), abs=1e-6)

    polar = spark.createDataFrame(
        [("p", 0, 0, 45.0, -85.0)], "g string, gi int, gj int, lon double, lat double"
    )
    row = project_gcps(polar, "EPSG:32761").collect()[0]
    pe, pn = tmx.ups_forward_np([45.0], [-85.0], [True])
    assert (row["gx"], row["gy"]) == pytest.approx((pe[0], pn[0]), abs=1e-6)

    # r7: EPSG:3035 / EPSG:3857 project in-engine now; EPSG:2154 still raises
    laea_row = project_gcps(
        spark.createDataFrame(
            [("p", 0, 0, 5.0, 50.0)], "g string, gi int, gj int, lon double, lat double"
        ),
        "EPSG:3035",
    ).collect()[0]
    le, ln_ = tmx.laea_forward_np(5.0, 50.0)
    assert (laea_row["gx"], laea_row["gy"]) == pytest.approx((float(le), float(ln_)), abs=1e-6)
    wm_row = project_gcps(
        spark.createDataFrame(
            [("p", 0, 0, 5.0, 50.0)], "g string, gi int, gj int, lon double, lat double"
        ),
        "EPSG:3857",
    ).collect()[0]
    we, wn = tmx.webmerc_forward_np(5.0, 50.0)
    assert (wm_row["gx"], wm_row["gy"]) == pytest.approx((float(we), float(wn)), abs=1e-6)

    lcc_row = project_gcps(
        spark.createDataFrame(
            [("p", 0, 0, 5.0, 47.0)], "g string, gi int, gj int, lon double, lat double"
        ),
        "EPSG:2154",
    ).collect()[0]
    ce, cn = tmx.lcc_forward_np(5.0, 47.0)
    assert (lcc_row["gx"], lcc_row["gy"]) == pytest.approx((float(ce), float(cn)), abs=1e-6)

    # r8: EPSG:27700 projects through the Helmert chain; the loud-failure
    # example is now EPSG:28355 (not in the family table; the grid-shifted
    # AGD66 code EPSG:20255 routes gcp_ntv2 when a grid is supplied, r10)
    osgb_row = project_gcps(
        spark.createDataFrame(
            [("p", 0, 0, -1.0, 52.0)], "g string, gi int, gj int, lon double, lat double"
        ),
        "EPSG:27700",
    ).collect()[0]
    oe, on = tmx.osgb_forward_np([-1.0], [52.0])
    assert (osgb_row["gx"], osgb_row["gy"]) == pytest.approx((float(oe[0]), float(on[0])), abs=1e-6)

    # r9: BD72 and Conus Albers project in-engine
    bd_row = project_gcps(
        spark.createDataFrame(
            [("p", 0, 0, 4.5, 50.7)], "g string, gi int, gj int, lon double, lat double"
        ),
        "EPSG:31370",
    ).collect()[0]
    be, bn = tmx.bd72_forward_np([4.5], [50.7])
    assert (bd_row["gx"], bd_row["gy"]) == pytest.approx((float(be[0]), float(bn[0])), abs=1e-6)

    al_row = project_gcps(
        spark.createDataFrame(
            [("p", 0, 0, -96.0, 38.0)], "g string, gi int, gj int, lon double, lat double"
        ),
        "EPSG:5070",
    ).collect()[0]
    ae, an = tmx.albers_forward_np([-96.0], [38.0])
    assert (al_row["gx"], al_row["gy"]) == pytest.approx((float(ae[0]), float(an[0])), abs=1e-6)

    # r10: EPSG:28355 (GDA94/MGA55) projects as plain GRS80 TM — near the
    # WGS84 UTM 55S value (datum identical, ellipsoid differs in the 9th
    # decimal of 1/f)
    mga_row = project_gcps(
        spark.createDataFrame(
            [("p", 0, 0, 147.5, -35.0)], "g string, gi int, gj int, lon double, lat double"
        ),
        "EPSG:28355",
    ).collect()[0]
    ue, un = tmx.utm_forward_np([147.5], [-35.0], 147.0, True)
    assert (mga_row["gx"], mga_row["gy"]) == pytest.approx(
        (float(ue[0]), float(un[0])), abs=1.0
    )

    with pytest.raises(ValueError, match="unsupported target CRS"):
        project_gcps(gcps, "EPSG:20255")


def test_laea_epsg_worked_example():
    # EPSG Guidance Note 7-2 ETRS89-LAEA example: 50N 5E ->
    # E 3962799.45, N 2999718.85 (to the cm)
    from sarpro_spark.operators import tmerc as tmx

    e, n = tmx.laea_forward_np(5.0, 50.0)
    assert float(e) == pytest.approx(3962799.45, abs=0.01)
    assert float(n) == pytest.approx(2999718.85, abs=0.01)
    # origin lands exactly on the false easting/northing
    e0, n0 = tmx.laea_forward_np(tmx.LAEA_LON0, tmx.LAEA_LAT0)
    assert (float(e0), float(n0)) == (tmx.LAEA_FE, tmx.LAEA_FN)
    # inverse recovers the input below the series truncation (~1e-8 deg)
    import numpy as np

    lons = np.linspace(-10.0, 30.0, 9)
    lats = np.linspace(35.0, 70.0, 9)
    LO, LA = np.meshgrid(lons, lats)
    lo2, la2 = tmx.laea_inverse_np(*tmx.laea_forward_np(LO, LA))
    assert float(np.abs(lo2 - LO).max()) < 1e-9
    assert float(np.abs(la2 - LA).max()) < 1e-7


def test_webmerc_known_points():
    from sarpro_spark.operators import tmerc as tmx

    # the canonical corner: lon 180 -> 20037508.342789244 m
    e, _ = tmx.webmerc_forward_np(180.0, 0.0)
    assert float(e) == pytest.approx(20037508.342789244, abs=1e-6)
    # equator northing is exactly 0
    _, n = tmx.webmerc_forward_np(45.0, 0.0)
    assert float(n) == pytest.approx(0.0, abs=1e-9)


def test_ups_inverse_steps_roundtrip_vs_numpy(spark):
    from sarpro_spark.operators import tmerc as tmx

    pts = spark.createDataFrame(
        [(84.5, 12.25, False), (89.999, -179.75, False), (90.0, 0.0, False),
         (-80.5, 45.0, True), (-89.5, -90.0, True), (-90.0, 0.0, True)],
        "lat double, lon double, south boolean",
    )
    fw = tmx.apply_steps(pts, tmx.ups_forward_steps())
    iv = tmx.apply_steps(fw, tmx.ups_inverse_steps())
    for r in iv.collect():
        assert abs(r["ups_lat"] - r["lat"]) <= 1e-9
        if abs(r["lat"]) != 90.0:
            assert abs(r["ups_lon"] - r["lon"]) <= 1e-9
        # column steps agree with the numpy validator
        nlon, nlat = tmx.ups_inverse_np([r["ups_easting"]], [r["ups_northing"]], [r["south"]])
        assert abs(nlat[0] - r["ups_lat"]) <= 1e-12
        assert abs(nlon[0] - r["ups_lon"]) <= 1e-12


def test_all_kernels_gather_matches_dedicated_gathers(spark):
    """The fused 36-tap gather (a tuple of kernels) must be BIT-identical
    per leg to each single-kernel gather (the zero-weight outer taps add
    exact +0.0 terms, which cannot change an exact-dyadic sum)."""
    px = _px(spark, 10, 12, [[float((3 * r + 5 * c) % 97) for c in range(12)]
                             for r in range(10)])
    pts = [(0, i, 0.25 * i + 0.125, 9.0 - 0.75 * i) for i in range(14)]
    coords = _coords(spark, pts)
    fused = {(r["row"], r["col"]): r for r in
             geom.resample_gather(
                 coords, px, ["g"], alg=("near", "bilinear", "cubic", "lanczos")
             ).collect()}
    for alg, qcol in (
        ("near", "q_near"),
        ("bilinear", "q_bilinear"),
        ("cubic", "q_cubic"),
        ("lanczos", "q_lanczos"),
    ):
        solo = {(r["row"], r["col"]): r["v"] for r in
                geom.resample_gather(coords, px, ["g"], alg=alg).collect()}
        fused_leg = {k: r[qcol] for k, r in fused.items() if r[qcol] is not None}
        assert fused_leg == solo, alg


def _keys_w_np(x):
    import numpy as np

    x = np.abs(np.asarray(x, dtype=np.float64))
    a = -0.5
    inner = (a + 2.0) * x**3 - (a + 3.0) * x**2 + 1.0
    outer = a * x**3 - 5.0 * a * x**2 + 8.0 * a * x - 4.0 * a
    return np.where(x <= 1.0, inner, np.where(x < 2.0, outer, 0.0))


def test_cubic_gather_matches_numpy_reference(spark):
    """Golden test: interior cells of a random field resampled at random
    dyadic fractions (k/64) agree with an independent numpy Keys a=-0.5
    convolution to <= 1e-12 (the engine's Horner form vs the naive
    polynomial — algebraically equal, float-wise within rounding)."""
    import numpy as np

    rng = np.random.default_rng(42)
    field = rng.integers(0, 256, size=(12, 14)).astype(np.float64)
    px = _px(spark, 12, 14, field)
    pts = []
    for i in range(20):
        rs = 3.0 + (int(rng.integers(0, 64)) / 64.0) + int(rng.integers(0, 6))
        cs = 3.0 + (int(rng.integers(0, 64)) / 64.0) + int(rng.integers(0, 7))
        pts.append((0, i, cs, rs))
    coords = _coords(spark, pts)
    got = {(r["row"], r["col"]): r["v"] for r in
           geom.resample_gather(coords, px, ["g"], alg="cubic").collect()}
    for (row, col, cs, rs) in pts:
        r0, c0 = int(np.floor(rs)), int(np.floor(cs))
        fr, fc = rs - r0, cs - c0
        acc = 0.0
        for dr in (-1, 0, 1, 2):
            for dc in (-1, 0, 1, 2):
                rr, cc = r0 + dr, c0 + dc
                if 0 <= rr < 12 and 0 <= cc < 14:
                    w = float(_keys_w_np(dr - fr) * _keys_w_np(dc - fc))
                    acc += w * field[rr, cc]
        assert abs(got[(row, col)] - acc) <= 1e-9 * max(1.0, abs(acc)), (rs, cs)


def test_lcc_epsg_worked_example():
    """EPSG GN7-2 LCC-2SP worked example (NAD27 / Texas South Central on
    Clarke 1866, US survey feet): 28d30'N 96dW -> E 2963503.91, N 254759.80
    — anchors the generic lcc2sp_constants algebra against the published
    numbers; Lambert-93 then instantiates the same code on GRS80."""
    import numpy as np

    from sarpro_spark.operators import tmerc as tmx

    c = tmx.lcc2sp_constants(
        20925832.16, 1 / 294.97870,
        lat0=27 + 50 / 60, lon0=-99.0,
        sp1=28 + 23 / 60, sp2=30 + 17 / 60,
        fe=2000000.0, fn=0.0,
    )
    e, n = tmx.lcc_forward_np(-96.0, 28.5, c)
    assert float(e) == pytest.approx(2963503.91, abs=0.02)
    assert float(n) == pytest.approx(254759.80, abs=0.02)
    lo, la = tmx.lcc_inverse_np(2963503.91, 254759.80, c)
    assert float(lo) == pytest.approx(-96.0, abs=1e-7)
    assert float(la) == pytest.approx(28.5, abs=1e-7)
    # Lambert-93: the projection origin lands on the false origin
    e0, n0 = tmx.lcc_forward_np(tmx.LAMBERT93["lon0"], 46.5)
    assert float(e0) == pytest.approx(700000.0, abs=1e-6)
    assert float(n0) == pytest.approx(6600000.0, abs=1e-6)
    # roundtrip over the France window: series truncation ~e^10
    LO, LA = np.meshgrid(np.linspace(-5.0, 10.0, 9), np.linspace(41.0, 51.0, 9))
    lo2, la2 = tmx.lcc_inverse_np(*tmx.lcc_forward_np(LO, LA))
    assert float(np.abs(lo2 - LO).max()) < 1e-9
    assert float(np.abs(la2 - LA).max()) < 1e-8


def test_osgb_worked_example_and_datum_chain():
    """r8 EPSG:27700 anchors (all public, OS 'A guide to coordinate systems
    in Great Britain'):
    (a) projection leg — the Annex C worked example (OSGB36 geodetic
        52d39'27.2531\"N 1d43'4.5177\"E -> E 651409.903 N 313177.270) through
        the generic Krüger instance tm_constants(Airy, National Grid);
    (b) Helmert leg — the exact-matrix inverse really is exact (roundtrip
        through forward+reverse at machine precision, where the
        negated-parameter approximation would be ~mm);
    (c) full WGS84 -> grid -> WGS84 roundtrip <= 1e-7 deg over GB."""
    import numpy as np

    from sarpro_spark.operators import tmerc as tmx

    lat = 52 + 39 / 60 + 27.2531 / 3600
    lon = 1 + 43 / 60 + 4.5177 / 3600
    e, n = tmx.tm_forward_c_np(tmx.OSGB_TM, lon, lat)
    # published values computed with the Redfearn series; Krüger-4 agrees
    # to ~0.3 mm (measured -0.09 mm E, +0.32 mm N)
    assert float(e) == pytest.approx(651409.903, abs=0.002)
    assert float(n) == pytest.approx(313177.270, abs=0.002)
    lo, la = tmx.tm_inverse_c_np(tmx.OSGB_TM, float(e), float(n))
    assert float(lo) == pytest.approx(lon, abs=1e-9)
    assert float(la) == pytest.approx(lat, abs=1e-9)

    c = tmx.HELMERT_WGS84_TO_OSGB36
    x, y, z = tmx._geodetic_to_geocentric_np(tmx.WGS84_A, tmx.WGS84_F, [1.5], [55.0])
    x2, y2, z2 = tmx._helmert_np(c, x, y, z)
    # the shift is a real datum shift: order 100 m, not a no-op
    d = float(np.sqrt((x2 - x) ** 2 + (y2 - y) ** 2 + (z2 - z) ** 2).item())
    assert 50.0 < d < 1000.0
    x3, y3, z3 = tmx._helmert_np(c, x2, y2, z2, inverse=True)
    assert float(abs(x3 - x)[0]) < 1e-6
    assert float(abs(y3 - y)[0]) < 1e-6
    assert float(abs(z3 - z)[0]) < 1e-6

    LO, LA = np.meshgrid(np.linspace(-7.5, 1.8, 13), np.linspace(50.0, 60.5, 13))
    E, N = tmx.osgb_forward_np(LO.ravel(), LA.ravel())
    lo2, la2 = tmx.osgb_inverse_np(E, N)
    assert float(np.abs(lo2 - LO.ravel()).max()) < 1e-7
    assert float(np.abs(la2 - LA.ravel()).max()) < 1e-7
    # sanity anchor: central London lands in the right 100 m square
    eL, nL = tmx.osgb_forward_np([-0.1276], [51.5074])
    assert float(eL[0]) == pytest.approx(530047.0, abs=100.0)
    assert float(nL[0]) == pytest.approx(180422.0, abs=100.0)


def test_osgb_steps_match_numpy_twin(spark):
    """The portable SQL step chain (osgb_forward_steps/osgb_inverse_steps
    through apply_steps) reproduces the numpy twin to float noise — the
    same lock-step doctrine every projection family certifies."""
    import numpy as np

    from sarpro_spark.operators import tmerc as tmx

    pts = [(float(lo), float(la)) for lo in (-6.0, -2.0, 1.5) for la in (50.5, 55.0, 60.0)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    fw = tmx.apply_steps(df, tmx.osgb_forward_steps())
    iv = tmx.apply_steps(fw, tmx.osgb_inverse_steps())
    rows = iv.select("lon", "lat", "osgb_easting", "osgb_northing", "osgb_lon", "osgb_lat").collect()
    for r in rows:
        e_np, n_np = tmx.osgb_forward_np([r["lon"]], [r["lat"]])
        assert abs(r["osgb_easting"] - float(e_np[0])) < 1e-6
        assert abs(r["osgb_northing"] - float(n_np[0])) < 1e-6
        assert abs(r["osgb_lon"] - r["lon"]) < 1e-7
        assert abs(r["osgb_lat"] - r["lat"]) < 1e-7


def test_project_gcps_osgb(spark):
    """warp_route('EPSG:27700') -> 'gcp_osgb' and project_gcps projects
    geographic GCPs through the datum chain (gx/gy = National Grid)."""
    from sarpro_spark.plans.pipeline import project_gcps, warp_route

    assert warp_route(None, "EPSG:27700", True, gcp_crs="EPSG:4326") == "gcp_osgb"
    gcps = spark.createDataFrame(
        [(0, -0.1276, 51.5074), (0, -3.2, 55.95)], "product_id int, lon double, lat double"
    )
    rows = {r["lat"]: r for r in project_gcps(gcps, "EPSG:27700").collect()}
    assert abs(rows[51.5074]["gx"] - 530047.0) < 100.0
    assert abs(rows[51.5074]["gy"] - 180422.0) < 100.0
    # Edinburgh-ish point lands in the right region too
    assert abs(rows[55.95]["gx"] - 325000.0) < 2000.0
    assert abs(rows[55.95]["gy"] - 673000.0) < 2000.0


def test_bd72_constants_chain_and_steps(spark):
    """r9 BD72 (EPSG:31370) anchors: (a) the instance constants are the
    published EPSG/NGI values (the canonical proj4 registry entry —
    asserted literally so a typo cannot hide behind self-consistency),
    (b) the LCC leg's false origin is the POLE: rho0 == 0 exactly and the
    pole projects onto (FE, FN), (c) the Helmert leg shifts a Brussels
    point by the documented ~110 m (sign errors flip or double this),
    (d) numpy-twin roundtrip <= 1e-7 deg over Belgium, (e) the portable
    SQL step chain matches the numpy twin in lock-step."""
    import numpy as np

    from sarpro_spark.operators import tmerc as tmx

    # (a) published parameter literals
    assert tmx.INTL_A == 6378388.0 and tmx.INTL_F == 1.0 / 297.0
    c = tmx.BELGIAN72
    assert c["fe"] == 150000.013 and c["fn"] == 5400088.438
    assert abs(c["lon0"] - 4.367486666666666) < 1e-12
    # (b) pole-origin branch: rho0 exactly 0, pole -> (FE, FN)
    assert c["rho0"] == 0.0
    pe, pn = tmx.lcc_forward_np([c["lon0"]], [90.0], c)
    assert (float(pe[0]), float(pn[0])) == pytest.approx((c["fe"], c["fn"]), abs=1e-6)
    # (c) datum-shift magnitude at Brussels: ~108 m horizontal
    x, y, z = tmx._geodetic_to_geocentric_np(tmx.WGS84_A, tmx.WGS84_F, [4.3525], [50.8467])
    x2, y2, z2 = tmx._helmert_np(tmx.HELMERT_BD72_TO_WGS84, x, y, z, inverse=True)
    blon, blat = tmx._geocentric_to_geodetic_np(tmx.INTL_A, tmx.INTL_F, x2, y2, z2)
    import math

    dm = math.hypot(
        (blon[0] - 4.3525) * 3600 * 30.9 * math.cos(math.radians(50.8467)),
        (blat[0] - 50.8467) * 3600 * 30.9,
    )
    assert 80.0 < dm < 150.0, dm
    # ...and central Brussels lands in the right Lambert-72 box
    be, bn = tmx.bd72_forward_np([4.3525], [50.8467])
    assert 140000.0 < be[0] < 160000.0 and 160000.0 < bn[0] < 180000.0
    # (d) roundtrip over the Belgium window
    lons = np.linspace(2.5, 6.4, 9)
    lats = np.linspace(49.5, 51.5, 9)
    E, N = tmx.bd72_forward_np(np.repeat(lons, 9), np.tile(lats, 9))
    lo, la = tmx.bd72_inverse_np(E, N)
    assert float(np.abs(lo - np.repeat(lons, 9)).max()) <= 1e-7
    assert float(np.abs(la - np.tile(lats, 9)).max()) <= 1e-7
    # (e) SQL step chain == numpy twin
    pts = [(float(lo_), float(la_)) for lo_ in (2.8, 4.4, 6.0) for la_ in (49.6, 50.8, 51.4)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    fw = tmx.apply_steps(df, tmx.bd72_forward_steps())
    iv = tmx.apply_steps(fw, tmx.bd72_inverse_steps())
    for r in iv.select("lon", "lat", "bd72_easting", "bd72_northing", "bd72_lon", "bd72_lat").collect():
        e_np, n_np = tmx.bd72_forward_np([r["lon"]], [r["lat"]])
        assert abs(r["bd72_easting"] - float(e_np[0])) < 1e-6
        assert abs(r["bd72_northing"] - float(n_np[0])) < 1e-6
        assert abs(r["bd72_lon"] - r["lon"]) < 1e-7
        assert abs(r["bd72_lat"] - r["lat"]) < 1e-7


def test_albers_snyder_worked_example_and_steps(spark):
    """r9 Albers anchors: the generic constants builder reproduces
    Snyder's PUBLISHED ellipsoid worked example (Clarke 1866, standard
    parallels 29.5/45.5, origin 23N 96W: 35N 75W -> 1885472.7 E,
    1535925.0 N) to 0.1 m, the EPSG:5070 instance roundtrips CONUS to
    <= 1e-7 deg, and the portable SQL step chain matches the numpy twin."""
    import numpy as np

    from sarpro_spark.operators import tmerc as tmx

    clarke = tmx.albers_constants(
        6378206.4, 1.0 - np.sqrt(1.0 - 0.00676866), 23.0, -96.0, 29.5, 45.5, 0.0, 0.0
    )
    x, y = tmx.albers_forward_np([-75.0], [35.0], clarke)
    assert float(x[0]) == pytest.approx(1885472.7, abs=0.1)
    assert float(y[0]) == pytest.approx(1535925.0, abs=0.1)
    # inverse of the worked example recovers the input
    lo, la = tmx.albers_inverse_np(x, y, clarke)
    assert (float(lo[0]), float(la[0])) == pytest.approx((-75.0, 35.0), abs=1e-7)
    # EPSG:5070 CONUS roundtrip
    lons = np.linspace(-124.0, -74.0, 9)
    lats = np.linspace(25.0, 49.0, 9)
    E, N = tmx.albers_forward_np(np.repeat(lons, 9), np.tile(lats, 9))
    lo, la = tmx.albers_inverse_np(E, N)
    assert float(np.abs(lo - np.repeat(lons, 9)).max()) <= 1e-7
    assert float(np.abs(la - np.tile(lats, 9)).max()) <= 1e-7
    # SQL step chain == numpy twin
    pts = [(float(lo_), float(la_)) for lo_ in (-120.0, -96.0, -76.0) for la_ in (26.0, 38.0, 48.0)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    fw = tmx.apply_steps(df, tmx.albers_forward_steps())
    iv = tmx.apply_steps(fw, tmx.albers_inverse_steps())
    for r in iv.select("lon", "lat", "alb_easting", "alb_northing", "alb_lon", "alb_lat").collect():
        e_np, n_np = tmx.albers_forward_np([r["lon"]], [r["lat"]])
        assert abs(r["alb_easting"] - float(e_np[0])) < 1e-6
        assert abs(r["alb_northing"] - float(n_np[0])) < 1e-6
        assert abs(r["alb_lon"] - r["lon"]) < 1e-7
        assert abs(r["alb_lat"] - r["lat"]) < 1e-7


def test_albers_lcc_southern_parallel_inverse(spark):
    """ADVICE r9: Snyder 14-11 reverses the ATAN2 arguments' signs along
    with rho's when n < 0 — sign-flipping rho alone computes the wrong
    longitude for a southern-parallel instance (every REGISTERED instance
    has n > 0 and was unaffected). Anchor: Australian-Albers-style GRS80
    parameters (EPSG:3577 — parallels 18S/36S, origin 0N 132E) and a
    southern LCC-2SP; both must roundtrip in the numpy twins AND the
    portable SQL step chains."""
    import numpy as np

    from sarpro_spark.operators import tmerc as tmx

    grs_a, grs_f = 6378137.0, 1.0 / 298.257222101
    alb = tmx.albers_constants(grs_a, grs_f, 0.0, 132.0, -18.0, -36.0, 0.0, 0.0)
    assert alb["n"] < 0  # the branch under test
    lons = np.repeat(np.linspace(115.0, 150.0, 5), 5)
    lats = np.tile(np.linspace(-42.0, -12.0, 5), 5)
    E, N = tmx.albers_forward_np(lons, lats, alb)
    lo, la = tmx.albers_inverse_np(E, N, alb)
    assert float(np.abs(lo - lons).max()) <= 1e-7
    assert float(np.abs(la - lats).max()) <= 1e-7

    lcc = tmx.lcc2sp_constants(grs_a, grs_f, -32.0, -60.0, -30.0, -36.0, 0.0, 0.0)
    assert lcc["n"] < 0
    lons2 = np.repeat(np.linspace(-72.0, -54.0, 5), 5)
    lats2 = np.tile(np.linspace(-50.0, -22.0, 5), 5)
    E2, N2 = tmx.lcc_forward_np(lons2, lats2, lcc)
    lo2, la2 = tmx.lcc_inverse_np(E2, N2, lcc)
    assert float(np.abs(lo2 - lons2).max()) <= 1e-7
    assert float(np.abs(la2 - lats2).max()) <= 1e-7

    # SQL step chains agree with the numpy twins on the southern branch
    pts = [(135.0, -25.0), (118.0, -35.0), (148.0, -15.0)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    iv = tmx.apply_steps(
        tmx.apply_steps(df, tmx.albers_forward_steps(alb)),
        tmx.albers_inverse_steps(alb),
    )
    for r in iv.select("lon", "lat", "alb_lon", "alb_lat").collect():
        assert abs(r["alb_lon"] - r["lon"]) < 1e-7
        assert abs(r["alb_lat"] - r["lat"]) < 1e-7
    pts2 = [(-65.0, -30.0), (-70.0, -45.0), (-56.0, -25.0)]
    df2 = spark.createDataFrame(pts2, "lon double, lat double")
    iv2 = tmx.apply_steps(
        tmx.apply_steps(df2, tmx.lcc_forward_steps(lcc)),
        tmx.lcc_inverse_steps(lcc),
    )
    for r in iv2.select("lon", "lat", "lcc_lon", "lcc_lat").collect():
        assert abs(r["lcc_lon"] - r["lon"]) < 1e-7
        assert abs(r["lcc_lat"] - r["lat"]) < 1e-7


def test_gcp_warp_dispatch_interpolants_agree_on_affine(spark):
    """plans.pipeline.gcp_warp consumes ProcessingParams.gcp_interpolant:
    'grid' -> warp_gcp_grid, 'tps' -> warp_gcp_tps, from ONE regular
    geolocation-grid relation (the TPS control points derive srow=k*gi,
    scol=k*gj internally). On an exactly-AFFINE GCP grid both interpolants
    are the same map (TPS bending weights vanish; every bilinear tile is
    affine), so the warped rasters must agree cell-for-cell — the cheap
    full-pipeline equivalence check; the curved-grid behaviors are covered
    by their own certificates."""
    import numpy as np

    from sarpro_spark.plans.pipeline import gcp_warp
    from sarpro_spark.types import ProcessingParams, ResampleAlg

    k, n_g = 4, 3
    size = k * n_g

    def gx(gi, gj):
        return 8.0 * gj + 2.0 * gi + 5.0

    def gy(gi, gj):
        return -6.0 * gi + 1.0 * gj

    src = np.arange(size * size, dtype=np.float64).reshape(size, size)
    px = spark.createDataFrame(
        [(1, r, c, float(src[r, c])) for r in range(size) for c in range(size)],
        "product_id int, row int, col int, v double",
    )
    gcps = spark.createDataFrame(
        [(1, gi, gj, gx(gi, gj), gy(gi, gj)) for gi in range(n_g + 1) for gj in range(n_g + 1)],
        "product_id int, gi int, gj int, gx double, gy double",
    )
    geo = spark.createDataFrame(
        [(1, 5.0, 1.0, 0.0, 0.0, 0.0, -1.0, 17, 29)],
        "product_id int, dg0 double, dg1 double, dg2 double, dg3 double, "
        "dg4 double, dg5 double, dst_rows long, dst_cols long",
    )
    p_grid = ProcessingParams(resample_alg=ResampleAlg.BILINEAR, gcp_interpolant="grid")
    p_tps = ProcessingParams(resample_alg=ResampleAlg.BILINEAR, gcp_interpolant="tps")
    got_grid = {
        (r["row"], r["col"]): r["v"]
        for r in gcp_warp(px, gcps, geo, ["product_id"], p_grid, k=k).collect()
    }
    got_tps = {
        (r["row"], r["col"]): r["v"]
        for r in gcp_warp(px, gcps, geo, ["product_id"], p_tps, k=k).collect()
    }
    # TPS is a GLOBAL map (like gdalwarp -tps it extrapolates beyond the
    # GCP footprint), the tile grid claims only in-footprint cells — so the
    # grid's cells are a subset, and on that common set the two affine maps
    # must agree cell-for-cell.
    assert got_grid and set(got_grid) <= set(got_tps)
    for key in got_grid:
        assert abs(got_grid[key] - got_tps[key]) < 1e-8, (key, got_grid[key], got_tps[key])
    # params round-trip carries the interpolant (preset + CLI re-generation)
    import pytest as _pt

    assert ProcessingParams.from_dict(p_tps.to_dict()).gcp_interpolant == "tps"
    with _pt.raises(ValueError, match="grid|tps"):
        gcp_warp(px, gcps, geo, ["product_id"],
                 ProcessingParams(gcp_interpolant="bogus"), k=k)


def test_tps_solver_properties():
    """The TPS solve itself (operators/geometry.py:tps_solve_np): (a) exact
    interpolation — f(P_i) == target_i at every GCP (the defining property
    of the gdalwarp -tps interpolant); (b) the standard side conditions
    sum(w) = sum(w*x) = sum(w*y) = 0 (bounded behavior at infinity); (c)
    affine reproduction — an affine target field yields (numerically) zero
    bending weights and the exact affine part."""
    import numpy as np

    from sarpro_spark.operators.geometry import tps_eval_np, tps_solve_np

    rng_pts = [(float(3 * i + j * j), float(7 * j - 2 * i * j)) for i in range(5) for j in range(5)]
    target = [(float(i), float(j)) for i in range(5) for j in range(5)]
    w, aff = tps_solve_np(rng_pts, target)
    # (a) exact at the GCPs
    got = tps_eval_np(rng_pts, w, aff, rng_pts)
    assert float(np.abs(got - np.asarray(target)).max()) < 1e-7
    # (b) side conditions
    g = np.asarray(rng_pts)
    assert float(np.abs(w.sum(axis=0)).max()) < 1e-8
    assert float(np.abs((w * g[:, 0:1]).sum(axis=0)).max()) < 1e-5
    assert float(np.abs((w * g[:, 1:2]).sum(axis=0)).max()) < 1e-5
    # (c) affine reproduction: target = A @ (x, y) + b -> zero bending
    aff_target = [(1.5 + 0.25 * x - 0.1 * y, -2.0 + 0.05 * x + 0.4 * y) for x, y in rng_pts]
    w2, aff2 = tps_solve_np(rng_pts, aff_target)
    assert float(np.abs(w2).max()) < 1e-9
    assert np.allclose([aff2[0, 0], aff2[1, 0], aff2[2, 0]], [1.5, 0.25, -0.1], atol=1e-8)
    assert np.allclose([aff2[0, 1], aff2[1, 1], aff2[2, 1]], [-2.0, 0.05, 0.4], atol=1e-8)
    # and off-GCP evaluation of the affine field is the affine map too
    probe = [(10.3, -4.7), (0.0, 0.0), (33.3, 12.1)]
    got2 = tps_eval_np(rng_pts, w2, aff2, probe)
    want2 = [(1.5 + 0.25 * x - 0.1 * y, -2.0 + 0.05 * x + 0.4 * y) for x, y in probe]
    assert float(np.abs(got2 - np.asarray(want2)).max()) < 1e-7


def test_tps_solver_degenerate_gcps():
    """r8 guard (ADVICE r7): degenerate GCP sets must raise a NAMED
    ValueError instead of an opaque LinAlgError (or, worse, silently
    solving a nearly-singular system into garbage warp coordinates):
    fewer than 3 GCPs, duplicate ground positions, collinear grid."""
    import pytest

    from sarpro_spark.operators.geometry import tps_solve_np

    with pytest.raises(ValueError, match=">= 3 GCPs"):
        tps_solve_np([(0.0, 0.0), (1.0, 1.0)], [(0.0, 0.0), (1.0, 1.0)])
    with pytest.raises(ValueError, match="duplicate GCP"):
        tps_solve_np(
            [(0.0, 0.0), (1.0, 0.0), (1.0, 0.0), (0.0, 1.0)],
            [(0.0, 0.0), (1.0, 0.0), (1.0, 0.0), (0.0, 1.0)],
        )
    with pytest.raises(ValueError, match="collinear"):
        tps_solve_np(
            [(0.0, 0.0), (1.0, 1.0), (2.0, 2.0), (3.0, 3.0)],
            [(0.0, 0.0), (1.0, 0.0), (2.0, 0.0), (3.0, 0.0)],
        )
    # r9 (ADVICE r8): NEAR-coincident ground positions pass the exact-zero
    # duplicate test but condition the normalized system past 1e12 — must
    # raise, not silently solve into garbage warp coordinates
    with pytest.raises(ValueError, match="ill-conditioned"):
        tps_solve_np(
            [(0.0, 0.0), (1e-12, 0.0), (1.0, 0.0), (0.0, 1.0)],
            [(0.0, 0.0), (5.0, 5.0), (1.0, 0.0), (0.0, 1.0)],
        )
    # ...while unit-dominated raw conditioning (UTM-meter grid, raw cond
    # ~1e24) still solves: the guard reads intrinsic geometry, not units
    g = [(500000.0 + x * 20000.0, 5500000.0 + y * 20000.0) for x in range(5) for y in range(5)]
    w, aff = tps_solve_np(g, [(float(i % 7), float(i % 5)) for i in range(len(g))])
    assert len(w) == len(g)


def test_warp_gcp_tps_degenerate_named(spark):
    """The distributed solve (r8 applyInPandas) surfaces the guard with the
    PRODUCT KEY in the message so a 10k-product batch names its bad
    product instead of failing with an anonymous executor LinAlgError."""
    import pytest
    from pyspark.sql import functions as F

    from sarpro_spark.operators.geometry import warp_gcp_tps

    px = spark.createDataFrame(
        [(7, r, c, float(r + c)) for r in range(4) for c in range(4)],
        "product_id int, row int, col int, v double",
    )
    # collinear ground positions for product 7
    gcps = spark.createDataFrame(
        [(7, float(i), float(i), float(i), 0.0) for i in range(4)],
        "product_id int, gx double, gy double, scol double, srow double",
    )
    geo = spark.createDataFrame(
        [(7, 0.0, 1.0, 0.0, 3.0, 0.0, -1.0, 4, 4)],
        "product_id int, dg0 double, dg1 double, dg2 double, dg3 double, "
        "dg4 double, dg5 double, dst_rows long, dst_cols long",
    )
    out = warp_gcp_tps(px, gcps, geo, ["product_id"], value="v")
    with pytest.raises(Exception, match="degenerate GCP set for product key"):
        out.collect()


def test_ntv2_interp_mechanism_and_twins(spark):
    """r10 NTv2 grid-shift mechanism (operators/gridshift.py, EPSG method
    9615): (a) bilinear interpolation at exact node points returns the
    node values; (b) the Spark 4-broadcast-join interpolation is
    bit-compatible with the numpy twin off-node; (c) points outside the
    grid window get NULL shifts (never edge extrapolation); (d) the
    fixed-point inverse recovers the forward to ~1e-14 deg."""
    import numpy as np

    from sarpro_spark.operators import gridshift as gsx

    h = gsx.SYNTH_HEADER
    dla, dlo = gsx.synthetic_shift_arrays()
    # (a) node exactness
    node_lat = h["lat0"] + 7 * h["lat_inc"]
    node_lon = h["lon0"] + 11 * h["lon_inc"]
    a, o = gsx.interp_shift_np([node_lon], [node_lat])
    assert a[0] == dla[7, 11] and o[0] == dlo[7, 11]
    # (b) Spark == numpy off-node
    pts = [(-42.13, 141.77), (-35.5, 148.2), (-30.0, 155.0), (-44.0, 140.0)]
    df = spark.createDataFrame([(la, lo) for la, lo in pts], "lat double, lon double")
    grid = gsx.synthetic_grid_df(spark)
    out = gsx.grid_shift_forward(df, grid, lon="lon", lat="lat", p="t")
    rows = {(r["lat"], r["lon"]): (r["gs_lat"], r["gs_lon"]) for r in out.collect()}
    for la, lo in pts:
        nlo, nla = gsx.grid_shift_forward_np([lo], [la])
        gla, glo = rows[(la, lo)]
        assert abs(gla - float(nla[0])) <= 1e-12
        assert abs(glo - float(nlo[0])) <= 1e-12
    # (c) outside the window -> NULL, not extrapolated
    far = spark.createDataFrame([(-50.0, 120.0), (-20.0, 160.0)], "lat double, lon double")
    fr = gsx.grid_shift_forward(far, grid, lon="lon", lat="lat", p="f").collect()
    assert all(r["gs_lat"] is None and r["gs_lon"] is None for r in fr)
    # (d) inverse fixed point
    lons = np.linspace(141.0, 152.0, 8)
    lats = np.linspace(-43.0, -31.0, 8)
    slo, sla = gsx.grid_shift_inverse_np(lons, lats, iters=3)
    flo, fla = gsx.grid_shift_forward_np(slo, sla)
    assert float(np.abs(flo - lons).max()) <= 1e-12
    assert float(np.abs(fla - lats).max()) <= 1e-12


def test_ntv2_route_dispatch_and_execution(spark):
    """r10: EPSG:20255 (AGD66 / AMG zone 55 — the TRUE grid-shifted code;
    EPSG:28355 is GDA94/MGA55 and stays the generic unsupported example)
    routes 'gcp_ntv2' ONLY when the caller supplies the shift grid, keeps
    the loud ValueError when not, and project_gcps executes the full
    inverse-shift + ANS-ellipsoid TM chain producing plausible AMG zone-55
    ground coordinates."""
    import pytest as pt

    from sarpro_spark.operators import gridshift as gsx
    from sarpro_spark.plans.pipeline import project_gcps, warp_route

    with pt.raises(ValueError):
        warp_route(None, "EPSG:20255", True, gcp_crs="EPSG:4326")
    assert (
        warp_route(None, "EPSG:20255", True, gcp_crs="EPSG:4326",
                   ntv2_grids={"EPSG:20255"})
        == "gcp_ntv2"
    )
    # a supplied grid for a DIFFERENT CRS does not unlock this one
    with pt.raises(ValueError):
        warp_route(None, "EPSG:20255", True, gcp_crs="EPSG:4326",
                   ntv2_grids={"EPSG:9999"})

    gcps = spark.createDataFrame(
        [(0, 147.0, -35.0), (1, 149.5, -37.25)], "gid int, lon double, lat double"
    )
    with pt.raises(ValueError):
        project_gcps(gcps, "EPSG:20255")
    grid = gsx.synthetic_grid_df(spark)
    # r11 ADVICE: a grid without its header must fail loudly, not fall
    # back to the synthetic header silently
    with pt.raises(ValueError, match="ntv2_header"):
        project_gcps(gcps, "EPSG:20255", ntv2_grid=grid)
    out = {r["gid"]: (r["gx"], r["gy"]) for r in
           project_gcps(gcps, "EPSG:20255", ntv2_grid=grid,
                        ntv2_header=gsx.SYNTH_HEADER).collect()}
    # central meridian -> easting ~ 500000 (minus the westward AGD66 shift)
    assert abs(out[0][0] - 500000.0) < 500.0
    # southern false northing: lat -35 => ~10e6 - 3.87e6
    assert 6.0e6 < out[0][1] < 6.3e6
    assert 5.7e6 < out[1][1] < 6.0e6 and out[1][0] > 600000.0


def test_ntv2_gsb_binary_roundtrip(spark, tmp_path):
    """r10 NTv2 .gsb binary I/O (public format): write the synthetic grid
    as a single-subgrid little-endian .gsb, read it back, and get the
    engine-convention grid to float32 precision. Pins the format's two
    traps: longitudes are POSITIVE-WEST in the file (bounds and per-node
    lon shifts negate on load — asserted on raw bytes), and nodes run
    longitude-fastest WESTWARD from (S_LAT, E_LONG) (j reverses on load).
    The loaded grid drives grid_shift_forward within float32 tolerance of
    the float64 in-repo fixture."""
    import struct

    import numpy as np

    from sarpro_spark.operators import gridshift as gsx

    path = str(tmp_path / "synthetic.gsb")
    gsx.write_gsb(path)
    hdr, rows = gsx.read_gsb(path)
    h0 = gsx.SYNTH_HEADER
    for k in ("lat0", "lon0", "lat_inc", "lon_inc"):
        assert abs(hdr[k] - h0[k]) < 1e-9, k
    assert (hdr["n_lat"], hdr["n_lon"]) == (h0["n_lat"], h0["n_lon"])
    dla, dlo = gsx.synthetic_shift_arrays()
    got = {(i, j): (a, o) for i, j, a, o in rows}
    assert len(got) == h0["n_lat"] * h0["n_lon"]
    for (i, j), (a, o) in got.items():
        assert a == np.float32(dla[i, j])  # exact f32 quantization
        assert o == -np.float32(-dlo[i, j])
    # raw bytes: the FIRST node is (S_LAT, E_LONG) = engine (i=0, j=n-1),
    # and its lon shift is stored NEGATED (positive-west)
    buf = open(path, "rb").read()
    a0, o0 = struct.unpack_from("<ff", buf, 22 * 16)
    assert a0 == np.float32(dla[0, h0["n_lon"] - 1])
    assert o0 == np.float32(-dlo[0, h0["n_lon"] - 1])
    # the loaded grid drives the shift within f32 tolerance of the fixture
    grid_loaded = spark.createDataFrame(
        rows, "i int, j int, dlat_sec double, dlon_sec double"
    )
    pts = spark.createDataFrame(
        [(-42.13, 141.77), (-35.5, 148.2)], "lat double, lon double"
    )
    out = {
        (r["lat"], r["lon"]): (r["gs_lat"], r["gs_lon"])
        for r in gsx.grid_shift_forward(pts, grid_loaded, hdr, p="t").collect()
    }
    for la, lo in ((-42.13, 141.77), (-35.5, 148.2)):
        nlo_, nla_ = gsx.grid_shift_forward_np([lo], [la])
        gla, glo = out[(la, lo)]
        # f32 node quantization bounds the shift error at ~1e-7 arcsec
        assert abs(gla - float(nla_[0])) < 1e-9
        assert abs(glo - float(nlo_[0])) < 1e-9


def test_ntv2_gsb_reader_validates(tmp_path):
    """Loud failures: subgrid index out of range; inconsistent GS_COUNT."""
    import struct

    import pytest as pt

    from sarpro_spark.operators import gridshift as gsx

    path = str(tmp_path / "g.gsb")
    gsx.write_gsb(path)
    with pt.raises(ValueError, match="subgrid 1 out of range"):
        gsx.read_gsb(path, subgrid=1)
    buf = bytearray(open(path, "rb").read())
    # corrupt GS_COUNT (record 21 = subgrid header record 11)
    struct.pack_into("<i", buf, 21 * 16 + 8, 7)
    bad = str(tmp_path / "bad.gsb")
    open(bad, "wb").write(bytes(buf))
    with pt.raises(ValueError, match="GS_COUNT"):
        gsx.read_gsb(bad)


def test_ntv2_multigrid_dispatch_and_twin(spark):
    """r10 multi-subgrid NTv2: real files NEST subgrids and the spec picks
    the DENSEST one covering the point — expressed as densest-first
    coalesce of the single-grid interpolations. (a) inside the dense
    window the dense field wins (gid 0, values == dense numpy twin);
    (b) inside only the national window the sparse field applies (gid 1);
    (c) outside both -> NULL; (d) the fixed-point inverse re-dispatches
    per round and roundtrips; (e) the DuckDB twin produces the identical
    relation."""
    import duckdb
    import numpy as np

    from sarpro_spark.operators import gridshift as gsx

    grids = [
        (gsx.SYNTH_DENSE_HEADER, gsx.synthetic_dense_df(spark)),
        (gsx.SYNTH_HEADER, gsx.synthetic_grid_df(spark)),
    ]
    pts_py = [
        (0, -37.3, 145.2),   # dense window
        (1, -36.01, 146.9),  # dense window, near its edge
        (2, -41.0, 149.0),   # national only
        (3, -37.3, 150.0),   # dense lat band but east of it -> national
        (4, -20.0, 145.0),   # outside both
    ]
    pts = spark.createDataFrame(pts_py, "pid int, lat double, lon double")
    fw = gsx.multigrid_shift_forward(pts, grids, p="m")
    rows = {r["pid"]: r for r in fw.collect()}
    dla_d, dlo_d = gsx.synthetic_dense_arrays()
    for pid in (0, 1):
        la, lo = pts_py[pid][1], pts_py[pid][2]
        assert rows[pid]["m_gid"] == 0
        a, o = gsx.interp_shift_np([lo], [la], gsx.SYNTH_DENSE_HEADER, (dla_d, dlo_d))
        assert abs(rows[pid]["gs_lat"] - (la + a[0] / 3600.0)) <= 1e-12
        assert abs(rows[pid]["gs_lon"] - (lo + o[0] / 3600.0)) <= 1e-12
    for pid in (2, 3):
        la, lo = pts_py[pid][1], pts_py[pid][2]
        assert rows[pid]["m_gid"] == 1
        a, o = gsx.interp_shift_np([lo], [la])
        assert abs(rows[pid]["gs_lat"] - (la + a[0] / 3600.0)) <= 1e-12
    assert rows[4]["m_gid"] is None and rows[4]["gs_lat"] is None

    # (d) inverse roundtrips through the dispatch (re-dispatch per round)
    tgt = fw.where(F.col("pid") < 4).select(
        "pid", F.col("gs_lat").alias("lat"), F.col("gs_lon").alias("lon")
    )
    iv = gsx.multigrid_shift_inverse(tgt, grids, p="v")
    back = {r["pid"]: (r["gsi_lat"], r["gsi_lon"]) for r in iv.collect()}
    for pid, la, lo in pts_py[:4]:
        assert abs(back[pid][0] - la) <= 1e-10
        assert abs(back[pid][1] - lo) <= 1e-10

    # (e) DuckDB twin equality on the forward interp
    con = duckdb.connect()
    vals = ", ".join(f"({p}, {la!r}, {lo!r})" for p, la, lo in pts_py)
    sql = f"""
WITH pts AS (SELECT * FROM (VALUES {vals}) t(pid, lat, lon)),
{gsx.sql_synthetic_dense_cte('dgrid')},
{gsx.sql_grid_cells_cte('dgrid', 'dcells')},
{gsx.sql_synthetic_grid_cte('ngrid')},
{gsx.sql_grid_cells_cte('ngrid', 'ncells')},
{gsx.sql_multigrid_interp('pts', 'mg', [
    (gsx.SYNTH_DENSE_HEADER, 'dcells'), (gsx.SYNTH_HEADER, 'ncells')])}
SELECT pid, lat + dlat_sec / 3600.0 AS gs_lat, lon + dlon_sec / 3600.0 AS gs_lon, gid
FROM mg ORDER BY pid
"""
    want = con.execute(sql).fetchall()
    got = sorted(
        (r["pid"], r["gs_lat"], r["gs_lon"], r["m_gid"]) for r in fw.collect()
    )
    assert [tuple(w) for w in want] == got


def test_read_gsb_df_exact_identity_and_multigrid(spark, tmp_path):
    """r11: the f32-quantized fixtures make write_gsb -> read_gsb_df an
    EXACT identity (the cert's file-in-the-loop contract), single and
    NUM_FILE=2; read_gsb_df(path) returns all subgrids ready for the
    multigrid family, and a mid-file GS_COUNT offset bug cannot pass."""
    from sarpro_spark.operators import gridshift as gsx

    p1 = str(tmp_path / "single.gsb")
    gsx.write_gsb(p1)
    hdr, df = gsx.read_gsb_df(spark, p1, subgrid=0)
    assert hdr == gsx.SYNTH_HEADER
    assert sorted(tuple(r) for r in df.collect()) == gsx.synthetic_grid_rows()

    p2 = str(tmp_path / "nested.gsb")
    gsx.write_gsb(p2, subgrids=[
        (gsx.SYNTH_HEADER, None, "NATIONAL", "NONE"),
        (gsx.SYNTH_DENSE_HEADER, gsx.synthetic_dense_arrays(), "DENSE001", "NATIONAL"),
    ])
    assert gsx.gsb_num_file(p2) == 2
    loaded = gsx.read_gsb_df(spark, p2)
    assert [h for h, _ in loaded] == [gsx.SYNTH_HEADER, gsx.SYNTH_DENSE_HEADER]
    assert sorted(tuple(r) for r in loaded[0][1].collect()) == gsx.synthetic_grid_rows()
    assert sorted(tuple(r) for r in loaded[1][1].collect()) == gsx.synthetic_dense_rows()


def test_nad27_loslas_route_and_projection(spark, tmp_path):
    """r11: NADCON .las/.los is the SECOND grid format behind the same
    'gcp_ntv2' route — EPSG:26714 routes only when its grid is supplied,
    fails loudly without, and project_gcps dispatches the Clarke-1866
    zone-14 TM (gridshift_family_tm), never AMG55 constants."""
    import pytest as pt

    from sarpro_spark.operators import gridshift as gsx
    from sarpro_spark.plans.pipeline import project_gcps, warp_route

    with pt.raises(ValueError):
        warp_route(None, "EPSG:26714", True, gcp_crs="EPSG:4326")
    assert (
        warp_route(None, "EPSG:26714", True, gcp_crs="EPSG:4326",
                   ntv2_grids={"EPSG:26714"})
        == "gcp_ntv2"
    )

    las, los = str(tmp_path / "stx.las"), str(tmp_path / "stx.los")
    gsx.write_loslas(las, los)
    hdr, grid = gsx.read_loslas_df(spark, las, los)
    assert hdr == gsx.NAD27_HEADER
    gcps = spark.createDataFrame(
        [(0, -99.0, 30.0), (1, -96.5, 33.25)], "gid int, lon double, lat double"
    )
    out = {r["gid"]: (r["gx"], r["gy"]) for r in
           project_gcps(gcps, "EPSG:26714", ntv2_grid=grid,
                        ntv2_header=hdr).collect()}
    # zone 14 central meridian -99 -> easting ~ 500000 (minus the small
    # westward NAD27 shift); NORTHERN hemisphere false northing 0:
    # lat 30 => northing ~ 3.32e6 m
    assert abs(out[0][0] - 500000.0) < 300.0
    assert 3.26e6 < out[0][1] < 3.38e6
    # lon -96.5 is ~2.5 deg east of the CM at lat 33.25 -> easting > 700km
    assert out[1][0] > 700000.0 and 3.6e6 < out[1][1] < 3.73e6


def test_gtg_geotiff_grid_roundtrip(spark, tmp_path):
    """r11 THIRD grid format (PROJ GeoTIFF horizontal_offset): exact
    identity through the in-repo float32 TIFF codec, the NORTH-UP row
    reversal pinned on the decoded raster (file row 0 = northmost
    latitude), positive-east pass-through (no NTv2-style negation), and
    loud failures for a band-count or georeferencing mismatch."""
    import numpy as np
    import pytest as pt

    from sarpro_spark.operators import gridshift as gsx
    from sarpro_spark.sinks import tiff as t

    p = str(tmp_path / "agd66.tif")
    gsx.write_gtg(p)
    hdr, df = gsx.read_gtg_df(spark, p)
    assert hdr == gsx.SYNTH_HEADER
    assert sorted(tuple(r) for r in df.collect()) == gsx.synthetic_grid_rows()

    # raw decode: row 0 of the FILE is the northmost engine row, and the
    # stored value is the shift itself (positive-east, un-negated)
    arr, meta = t.read_tiff(p)
    dla, dlo = gsx.synthetic_shift_arrays()
    n = gsx.SYNTH_HEADER["n_lat"] - 1
    assert arr.shape == (gsx.SYNTH_HEADER["n_lat"], gsx.SYNTH_HEADER["n_lon"], 2)
    assert arr[0, 0, 0] == np.float32(dla[n, 0])
    assert arr[0, 0, 1] == np.float32(dlo[n, 0])
    assert meta["geotransform"][5] < 0  # north-up

    # 1-band file must fail loudly (not a horizontal_offset grid)
    bad = str(tmp_path / "oneband.tif")
    t.write_tiff(bad, dla.astype(np.float32), geotransform=meta["geotransform"])
    with pt.raises(ValueError, match="2-band"):
        gsx.read_gtg(bad)
    # missing georeferencing must fail loudly
    bad2 = str(tmp_path / "nogt.tif")
    t.write_tiff(bad2, np.stack([dla, dlo], axis=-1).astype(np.float32))
    with pt.raises(ValueError, match="georeferencing"):
        gsx.read_gtg(bad2)


def test_nad27_tm_snyder_worked_example(spark):
    """Anchor the Clarke-1866 Transverse Mercator to the PUBLIC worked
    example (Snyder, 'Map Projections — A Working Manual', USGS PP 1395,
    UTM example: Clarke 1866, zone 18, phi = 40d30'N, lambda = 73d30'W ->
    x = 127,106.5 m, y = 4,484,124.4 m) — the same anchoring doctrine as
    the OSGB Annex C, EPSG Texas, and Snyder Albers examples. A constants
    or series regression in nad27_tm cannot pass within 0.5 m."""
    from sarpro_spark.operators import tmerc as tmx

    df = spark.createDataFrame([(-73.5, 40.5)], "lon double, lat double")
    out = tmx.apply_steps(
        df, tmx.tm_forward_steps_c(tmx.nad27_tm(18), easting="e", northing="n")
    ).collect()[0]
    assert abs((out["e"] - 500000.0) - 127106.5) < 0.5
    assert abs(out["n"] - 4484124.4) < 0.5
    # and the inverse closes the loop
    back = tmx.apply_steps(
        spark.createDataFrame([(out["e"], out["n"])], "e double, n double"),
        tmx.tm_inverse_steps_c(tmx.nad27_tm(18), e="e", n="n",
                               lon_out="lon_b", lat_out="lat_b"),
    ).collect()[0]
    assert abs(back["lon_b"] - (-73.5)) < 2e-9 and abs(back["lat_b"] - 40.5) < 2e-9


def test_multigrid_dispatch_is_format_agnostic(spark, tmp_path):
    """r11: the densest-covering multigrid dispatch consumes grids from
    ANY loader — a NADCON .las/.los pair (dense local window) nested over
    a GeoTIFF-loaded parent produces the same selection semantics as the
    all-.gsb cert: points inside the dense window take gid 0, points only
    the parent covers take gid 1, and the fixed-point inverse roundtrips."""
    import os

    from sarpro_spark.operators import gridshift as gsx

    # parent: the synthetic national grid via GeoTIFF
    tif = str(tmp_path / "nat.tif")
    gsx.write_gtg(tif)
    h_nat, g_nat = gsx.read_gtg_df(spark, tif)
    # dense: the nested Victoria-ish fixture via NADCON pair (needs NC>=23
    # columns — the dense fixture has 25)
    las, los = str(tmp_path / "dense.las"), str(tmp_path / "dense.los")
    gsx.write_loslas(las, los, gsx.SYNTH_DENSE_HEADER, gsx.synthetic_dense_arrays())
    h_den, g_den = gsx.read_loslas_df(spark, las, los)
    assert h_den == gsx.SYNTH_DENSE_HEADER

    grids = [(h_den, g_den), (h_nat, g_nat)]
    pts = spark.createDataFrame(
        [(0, -37.1, 145.3),   # inside the dense window -> gid 0
         (1, -33.0, 150.0)],  # national only -> gid 1
        "pid int, lat double, lon double",
    )
    fw = gsx.multigrid_shift_forward(pts, grids, p="mf")
    iv = gsx.multigrid_shift_inverse(
        fw, grids, lon="gs_lon", lat="gs_lat",
        out_lon="rt_lon", out_lat="rt_lat", p="mv",
    )
    rows = {r["pid"]: r for r in iv.collect()}
    assert rows[0]["mf_gid"] == 0 and rows[1]["mf_gid"] == 1
    for p in (0, 1):
        assert abs(rows[p]["rt_lat"] - rows[p]["lat"]) < 1e-9
        assert abs(rows[p]["rt_lon"] - rows[p]["lon"]) < 1e-9


_CERTIFICATES = [
    "ups_roundtrip_points", "laea_roundtrip_points", "lcc_roundtrip_points",
    "osgb_roundtrip_points", "bd72_roundtrip_points", "albers_roundtrip_points",
    "webmerc_roundtrip_points", "ntv2_roundtrip_points", "nad27_roundtrip_points",
    "gtg_roundtrip_points", "mga_roundtrip_points", "ntv2_multigrid_points",
]


@pytest.mark.parametrize("name", _CERTIFICATES)
def test_crs_certificate_certifies(spark, sf_dir, name):
    """The oracle only proves both engines compute the same flags; this
    proves the flags hold. Every lattice point of every round-trip
    certificate must come back within its tolerance (rt_ok), and every
    grid-shift row must apply a shift of the fixture's magnitude
    (shift_ok). ups_roundtrip_points covers lon = -180, which the UPS
    inverse returns as +180: the longitude check is on the circle."""
    from sarpro_spark.queries import spark_queries

    df = spark_queries()[name](spark, sf_dir)
    flags = [c for c in ("rt_ok", "shift_ok") if c in df.columns]
    assert "rt_ok" in flags
    rows = df.select("product_id", "gi", "gj", *flags).collect()
    assert rows
    bad = [r for r in rows if not all(r[c] is True for c in flags)]
    assert not bad, f"{len(bad)}/{len(rows)} rows fail: {bad[:5]}"
