"""In-engine Transverse Mercator (UTM) forward/inverse — Krüger series.

Closes G5's last external dependency: the reference shells out to
``gdalwarp`` for geodetic reprojection (/root/reference/src/io/sentinel1.rs:914-1072);
here the EPSG:326xx/327xx projections that ``lonlat_to_epsg``
(sources/safe.py) emits are computed in-engine as pure column arithmetic —
JVM codegen, no UDF, no shuffle: the projection is embarrassingly parallel
per row, exactly what survives 100 TB.

Formulas: the 4th-order Krüger-n series (public: Krüger 1912, as
restated in Karney 2011 "Transverse Mercator with an accuracy of a few
nanometers" and the JHS 154 recommendation). Accuracy within a UTM zone is
sub-micrometer — far below the millimeter rounding the queries use.

Cross-engine determinism doctrine: every step is a named SQL expression
using only EXP/LN/SIN/COS/SQRT/ATAN2/RADIANS/ASIN (present with identical
semantics in Spark SQL and DuckDB), hyperbolics spelled via EXP/LN so both
engines run the same op chain; constants are embedded as repr() literals so
both parse the same doubles. Residual libm noise is ulp-grain, absorbed by
the queries' rounding.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# WGS84 (public datum constants)
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
K0 = 0.9996  # UTM central-meridian scale
FALSE_E = 500000.0
FALSE_N_SOUTH = 10000000.0

_n = WGS84_F / (2.0 - WGS84_F)
#: rectifying radius A = a/(1+n) * (1 + n^2/4 + n^4/64 + n^6/256)
A_RECT = WGS84_A / (1.0 + _n) * (1.0 + _n**2 / 4.0 + _n**4 / 64.0 + _n**6 / 256.0)
K0A = K0 * A_RECT
#: 2*sqrt(n)/(1+n) — the conformal-latitude constant
C1 = 2.0 * math.sqrt(_n) / (1.0 + _n)

#: forward series alpha_j (xi/eta correction), 4th order in n
ALPHA = (
    _n / 2.0 - 2.0 * _n**2 / 3.0 + 5.0 * _n**3 / 16.0 + 41.0 * _n**4 / 180.0,
    13.0 * _n**2 / 48.0 - 3.0 * _n**3 / 5.0 + 557.0 * _n**4 / 1440.0,
    61.0 * _n**3 / 240.0 - 103.0 * _n**4 / 140.0,
    49561.0 * _n**4 / 161280.0,
)
#: inverse series beta_j
BETA = (
    _n / 2.0 - 2.0 * _n**2 / 3.0 + 37.0 * _n**3 / 96.0 - _n**4 / 360.0,
    _n**2 / 48.0 + _n**3 / 15.0 - 437.0 * _n**4 / 1440.0,
    17.0 * _n**3 / 480.0 - 37.0 * _n**4 / 840.0,
    4397.0 * _n**4 / 161280.0,
)
#: conformal->geodetic latitude series delta_j
DELTA = (
    2.0 * _n - 2.0 * _n**2 / 3.0 - 2.0 * _n**3 + 116.0 * _n**4 / 45.0,
    7.0 * _n**2 / 3.0 - 8.0 * _n**3 / 5.0 - 227.0 * _n**4 / 45.0,
    56.0 * _n**3 / 15.0 - 136.0 * _n**4 / 35.0,
    4279.0 * _n**4 / 630.0,
)


def utm_zone_steps(lon: str = "lon", lat: str = "lat") -> list[tuple[str, str]]:
    """Standard UTM zone rule (the general branch of lonlat_to_epsg; the
    Norway/Svalbard exceptions change only which lon0 is picked and are
    certified separately in sources_pack)."""
    return [
        ("zone", f"CAST(LEAST(GREATEST(FLOOR(({lon} + 180.0) / 6.0) + 1, 1), 60) AS INTEGER)"),
        ("south", f"{lat} < 0.0"),
        ("lon0", "CAST(zone AS DOUBLE) * 6.0 - 183.0"),
    ]


def tm_forward_steps(
    lon: str = "lon", lat: str = "lat", lon0: str = "lon0", south: str = "south"
) -> list[tuple[str, str]]:
    """Named expression steps lon/lat -> (easting, northing). Valid Spark SQL
    AND DuckDB SQL; later steps reference earlier aliases."""
    xi_terms = " + ".join(
        f"{a!r} * SIN({2 * (j + 1)}.0 * xip) * (EXP({2 * (j + 1)}.0 * etap) + EXP(-{2 * (j + 1)}.0 * etap)) / 2.0"
        for j, a in enumerate(ALPHA)
    )
    eta_terms = " + ".join(
        f"{a!r} * COS({2 * (j + 1)}.0 * xip) * (EXP({2 * (j + 1)}.0 * etap) - EXP(-{2 * (j + 1)}.0 * etap)) / 2.0"
        for j, a in enumerate(ALPHA)
    )
    return [
        ("dlon_r", f"RADIANS({lon} - {lon0})"),
        ("sphi", f"SIN(RADIANS({lat}))"),
        # conformal latitude: t = sinh(atanh(sphi) - C1*atanh(C1*sphi))
        ("ath1", "0.5 * LN((1.0 + sphi) / (1.0 - sphi))"),
        ("cy", f"{C1!r} * sphi"),
        ("ath2", "0.5 * LN((1.0 + cy) / (1.0 - cy))"),
        ("uu", f"ath1 - {C1!r} * ath2"),
        ("tt", "(EXP(uu) - EXP(-uu)) / 2.0"),
        ("xip", "ATAN2(tt, COS(dlon_r))"),
        ("ww", "SIN(dlon_r) / SQRT(1.0 + tt * tt)"),
        ("etap", "0.5 * LN((1.0 + ww) / (1.0 - ww))"),
        ("xi", f"xip + {xi_terms}"),
        ("eta", f"etap + {eta_terms}"),
        ("easting", f"{FALSE_E!r} + {K0A!r} * eta"),
        (
            "northing",
            f"(CASE WHEN {south} THEN {FALSE_N_SOUTH!r} ELSE 0.0 END) + {K0A!r} * xi",
        ),
    ]


def tm_inverse_steps(
    e: str = "easting", n: str = "northing", lon0: str = "lon0", south: str = "south"
) -> list[tuple[str, str]]:
    """Named expression steps (easting, northing) -> (lon_inv, lat_inv)."""
    xip_terms = " + ".join(
        f"{b!r} * SIN({2 * (j + 1)}.0 * xi_) * (EXP({2 * (j + 1)}.0 * eta_) + EXP(-{2 * (j + 1)}.0 * eta_)) / 2.0"
        for j, b in enumerate(BETA)
    )
    etap_terms = " + ".join(
        f"{b!r} * COS({2 * (j + 1)}.0 * xi_) * (EXP({2 * (j + 1)}.0 * eta_) - EXP(-{2 * (j + 1)}.0 * eta_)) / 2.0"
        for j, b in enumerate(BETA)
    )
    phi_terms = " + ".join(
        f"{d!r} * SIN({2 * (j + 1)}.0 * chi)" for j, d in enumerate(DELTA)
    )
    return [
        (
            "xi_",
            f"({n} - (CASE WHEN {south} THEN {FALSE_N_SOUTH!r} ELSE 0.0 END)) / {K0A!r}",
        ),
        ("eta_", f"({e} - {FALSE_E!r}) / {K0A!r}"),
        ("xip2", f"xi_ - ({xip_terms})"),
        ("etap2", f"eta_ - ({etap_terms})"),
        ("chi", "ASIN(SIN(xip2) / ((EXP(etap2) + EXP(-etap2)) / 2.0))"),
        ("lat_inv", f"DEGREES(chi + {phi_terms})"),
        (
            "lon_inv",
            f"{lon0} + DEGREES(ATAN2((EXP(etap2) - EXP(-etap2)) / 2.0, COS(xip2)))",
        ),
    ]


def apply_steps(df: DataFrame, steps: list[tuple[str, str | Column]]) -> DataFrame:
    """Spark side: the whole step chain in ONE select via lateral column
    aliases (each step may reference earlier steps' names; the analyzer
    rewrites the references into nested Projects — the exact plan the old
    per-step withColumn fold produced, still whole-stage codegen, no
    Python in the row path). A step's expression is SQL text or a Column
    (the grid-shift interpolation passes Columns).

    r13 optimization round (guide §7.3 — planning time is driver work):
    the old fold re-ran the analyzer once per step on a growing plan
    (~30 steps per TM chain, O(steps^2) analysis); one select is one
    analysis pass. Measured: datum_roundtrip_pack construction 7.1 → 4.9 s
    cold / 3.9 → 3.5 s steady, results bit-identical (the oracle re-proved
    every TM-family query at sf0.01 + sf0.001).

    The one shadowing guard: withColumn REPLACES a same-named column in
    place while ``SELECT *, ...`` would append a duplicate and poison
    every downstream reference with an ambiguity error, so a chain that
    shadows an existing column keeps the per-step withColumn fold. Chain
    names are prefixed, but names overlap across chains (``bd72_*`` /
    ``lcc_*``, ``tm_inverse`` / ``ups_inverse``) and a caller may pass a
    colliding output name, so the fallback stays."""
    def col(expr: str | Column) -> Column:
        return F.expr(expr) if isinstance(expr, str) else expr

    existing = set(df.columns)
    if any(name in existing for name, _ in steps):
        for name, expr in steps:
            df = df.withColumn(name, col(expr))
        return df
    if all(isinstance(expr, str) for _, expr in steps):
        return df.selectExpr("*", *[f"({expr}) AS {name}" for name, expr in steps])
    return df.select("*", *[col(expr).alias(name) for name, expr in steps])


def sql_steps_select(src_rel: str, steps: list[tuple[str, str]], keep: str = "*") -> str:
    """DuckDB side: ONE select with lateral column aliases — the identical
    op chain the Spark fold runs."""
    cols = ",\n  ".join(f"{expr} AS {name}" for name, expr in steps)
    return f"SELECT {keep},\n  {cols}\nFROM {src_rel}"


# --- numpy twin (fixture tests / driver-free verification) -------------------


def utm_forward_np(lon, lat, lon0, south):
    """Vectorized numpy forward — same series, for cross-checking the SQL
    step chain against an independent formulation in tests."""
    lon, lat, lon0 = (np.asarray(x, dtype=np.float64) for x in (lon, lat, lon0))
    south = np.asarray(south, dtype=bool)
    dlon = np.radians(lon - lon0)
    sphi = np.sin(np.radians(lat))
    u = np.arctanh(sphi) - C1 * np.arctanh(C1 * sphi)
    t = np.sinh(u)
    xip = np.arctan2(t, np.cos(dlon))
    etap = np.arctanh(np.sin(dlon) / np.sqrt(1.0 + t * t))
    xi = xip + sum(
        a * np.sin(2 * (j + 1) * xip) * np.cosh(2 * (j + 1) * etap)
        for j, a in enumerate(ALPHA)
    )
    eta = etap + sum(
        a * np.cos(2 * (j + 1) * xip) * np.sinh(2 * (j + 1) * etap)
        for j, a in enumerate(ALPHA)
    )
    return FALSE_E + K0A * eta, np.where(south, FALSE_N_SOUTH, 0.0) + K0A * xi


def utm_inverse_np(e, n, lon0, south):
    """Vectorized numpy inverse — roundtrip partner of :func:`utm_forward_np`."""
    e, n, lon0 = (np.asarray(x, dtype=np.float64) for x in (e, n, lon0))
    south = np.asarray(south, dtype=bool)
    xi = (n - np.where(south, FALSE_N_SOUTH, 0.0)) / K0A
    eta = (e - FALSE_E) / K0A
    xip = xi - sum(
        b * np.sin(2 * (j + 1) * xi) * np.cosh(2 * (j + 1) * eta)
        for j, b in enumerate(BETA)
    )
    etap = eta - sum(
        b * np.cos(2 * (j + 1) * xi) * np.sinh(2 * (j + 1) * eta)
        for j, b in enumerate(BETA)
    )
    chi = np.arcsin(np.sin(xip) / np.cosh(etap))
    lat = np.degrees(chi + sum(d * np.sin(2 * (j + 1) * chi) for j, d in enumerate(DELTA)))
    lon = lon0 + np.degrees(np.arctan2(np.sinh(etap), np.cos(xip)))
    return lon, lat


def utm_forward_snyder_np(lon, lat, lon0, south):
    """INDEPENDENT public formulation (Snyder 1987, USGS PP 1395, eq. 8-9..
    8-13 / the Redfearn-style expansion): meridian-arc M plus T/C/A terms.
    Exists purely to cross-validate the Krüger series in tests — two
    independently-derived public expansions agreeing to sub-mm is the
    correctness evidence for both."""
    lon, lat, lon0 = (np.asarray(x, dtype=np.float64) for x in (lon, lat, lon0))
    south = np.asarray(south, dtype=bool)
    a = WGS84_A
    e2 = WGS84_F * (2.0 - WGS84_F)
    ep2 = e2 / (1.0 - e2)
    phi = np.radians(lat)
    lam = np.radians(lon - lon0)
    sp, cp, tp = np.sin(phi), np.cos(phi), np.tan(phi)
    N = a / np.sqrt(1.0 - e2 * sp * sp)
    T = tp * tp
    C = ep2 * cp * cp
    Aa = cp * lam
    M = a * (
        (1.0 - e2 / 4.0 - 3.0 * e2**2 / 64.0 - 5.0 * e2**3 / 256.0) * phi
        - (3.0 * e2 / 8.0 + 3.0 * e2**2 / 32.0 + 45.0 * e2**3 / 1024.0) * np.sin(2.0 * phi)
        + (15.0 * e2**2 / 256.0 + 45.0 * e2**3 / 1024.0) * np.sin(4.0 * phi)
        - (35.0 * e2**3 / 3072.0) * np.sin(6.0 * phi)
    )
    x = K0 * N * (
        Aa
        + (1.0 - T + C) * Aa**3 / 6.0
        + (5.0 - 18.0 * T + T * T + 72.0 * C - 58.0 * ep2) * Aa**5 / 120.0
    )
    y = K0 * (
        M
        + N * tp * (
            Aa**2 / 2.0
            + (5.0 - T + 9.0 * C + 4.0 * C * C) * Aa**4 / 24.0
            + (61.0 - 58.0 * T + T * T + 600.0 * C - 330.0 * ep2) * Aa**6 / 720.0
        )
    )
    return FALSE_E + x, np.where(south, FALSE_N_SOUTH, 0.0) + y


# --- UPS: Universal Polar Stereographic (EPSG:32661 / 32761) -----------------
# lonlat_to_epsg emits these for |lat| >= 84 / <= -80; Polar Stereographic
# variant A (EPSG Guidance Note 7-2 / Snyder 1987 eq. 21-33..21-35),
# k0 = 0.994, FE = FN = 2,000,000, origin at the pole.

UPS_K0 = 0.994
UPS_FALSE = 2000000.0
E_ECC = math.sqrt(WGS84_F * (2.0 - WGS84_F))  # first eccentricity
#: rho = UPS_RHO_C * t  with  t the conformal colatitude tangent
UPS_RHO_C = (
    2.0 * WGS84_A * UPS_K0
    / math.sqrt((1.0 + E_ECC) ** (1.0 + E_ECC) * (1.0 - E_ECC) ** (1.0 - E_ECC))
)


def ups_forward_steps(
    lon: str = "lon", lat: str = "lat", south: str = "south"
) -> list[tuple[str, str]]:
    """Named expression steps lon/lat -> (ups_easting, ups_northing); the
    ``south`` flag selects the EPSG:32761 (south pole) sheet. Valid Spark
    SQL and DuckDB SQL (PI/TAN/POWER/SIN/COS/RADIANS exist in both)."""
    return [
        ("p_eff", f"RADIANS(CASE WHEN {south} THEN -({lat}) ELSE {lat} END)"),
        ("es", f"{E_ECC!r} * SIN(p_eff)"),
        (
            "t_pol",
            f"TAN(PI() / 4.0 - p_eff / 2.0) * POWER((1.0 + es) / (1.0 - es), {E_ECC / 2.0!r})",
        ),
        ("rho", f"{UPS_RHO_C!r} * t_pol"),
        ("ups_easting", f"{UPS_FALSE!r} + rho * SIN(RADIANS({lon}))"),
        (
            "ups_northing",
            f"CASE WHEN {south} THEN {UPS_FALSE!r} + rho * COS(RADIANS({lon})) "
            f"ELSE {UPS_FALSE!r} - rho * COS(RADIANS({lon})) END",
        ),
    ]


#: conformal -> geodetic latitude series coefficients (Snyder eq. 3-5 /
#: 7-9, truncated at e^8): phi = chi + C2 sin 2chi + C4 sin 4chi + ...
_E2 = E_ECC**2
UPS_CHI_C2 = _E2 / 2.0 + 5.0 * _E2**2 / 24.0 + _E2**3 / 12.0 + 13.0 * _E2**4 / 360.0
UPS_CHI_C4 = 7.0 * _E2**2 / 48.0 + 29.0 * _E2**3 / 240.0 + 811.0 * _E2**4 / 11520.0
UPS_CHI_C6 = 7.0 * _E2**3 / 120.0 + 81.0 * _E2**4 / 1120.0
UPS_CHI_C8 = 4279.0 * _E2**4 / 161280.0


def ups_inverse_steps(
    e: str = "ups_easting", n: str = "ups_northing", south: str = "south"
) -> list[tuple[str, str]]:
    """Named expression steps (easting, northing) -> (ups_lon, ups_lat):
    the column-step inverse of :func:`ups_forward_steps` (until round 6 the
    inverse existed only as the numpy validator ups_inverse_np). Same
    portability contract — every function exists in Spark SQL and DuckDB
    (SQRT/ATAN/ATAN2/SIN/DEGREES/PI), and the oracle runs the identical
    chain so the round trip certifies by value hash. Series error
    ~8e-10 deg; the pole itself gets lon = 0 by convention."""
    return [
        ("de", f"{e} - {UPS_FALSE!r}"),
        ("dn", f"{n} - {UPS_FALSE!r}"),
        ("n_eff", f"CASE WHEN {south} THEN dn ELSE -(dn) END"),
        ("rho_i", "SQRT(de * de + n_eff * n_eff)"),
        ("t_i", f"rho_i / {UPS_RHO_C!r}"),
        ("chi", "PI() / 2.0 - 2.0 * ATAN(t_i)"),
        (
            "phi",
            f"chi + {UPS_CHI_C2!r} * SIN(2.0 * chi) + {UPS_CHI_C4!r} * SIN(4.0 * chi)"
            f" + {UPS_CHI_C6!r} * SIN(6.0 * chi) + {UPS_CHI_C8!r} * SIN(8.0 * chi)",
        ),
        (
            "ups_lon",
            "CASE WHEN rho_i = 0.0 THEN 0.0 ELSE DEGREES(ATAN2(de, n_eff)) END",
        ),
        (
            "ups_lat",
            f"CASE WHEN rho_i = 0.0 THEN (CASE WHEN {south} THEN -90.0 ELSE 90.0 END) "
            f"WHEN {south} THEN -(DEGREES(phi)) ELSE DEGREES(phi) END",
        ),
    ]


def ups_forward_np(lon, lat, south):
    """Vectorized numpy twin of :func:`ups_forward_steps`."""
    lon = np.radians(np.asarray(lon, dtype=np.float64))
    lat = np.asarray(lat, dtype=np.float64)
    south = np.asarray(south, dtype=bool)
    p_eff = np.radians(np.where(south, -lat, lat))
    es = E_ECC * np.sin(p_eff)
    t = np.tan(np.pi / 4.0 - p_eff / 2.0) * ((1.0 + es) / (1.0 - es)) ** (E_ECC / 2.0)
    rho = UPS_RHO_C * t
    e = UPS_FALSE + rho * np.sin(lon)
    n = np.where(south, UPS_FALSE + rho * np.cos(lon), UPS_FALSE - rho * np.cos(lon))
    return e, n


def ups_inverse_np(e, n, south):
    """Numpy inverse (Snyder eq. 7-9 conformal-latitude series) — the
    roundtrip partner for tests."""
    e = np.asarray(e, dtype=np.float64) - UPS_FALSE
    n = np.asarray(n, dtype=np.float64) - UPS_FALSE
    south = np.asarray(south, dtype=bool)
    n_eff = np.where(south, n, -n)
    rho = np.hypot(e, n_eff)
    t = rho / UPS_RHO_C
    chi = np.pi / 2.0 - 2.0 * np.arctan(t)
    e2 = E_ECC**2
    phi = (
        chi
        + (e2 / 2.0 + 5.0 * e2**2 / 24.0 + e2**3 / 12.0 + 13.0 * e2**4 / 360.0) * np.sin(2.0 * chi)
        + (7.0 * e2**2 / 48.0 + 29.0 * e2**3 / 240.0 + 811.0 * e2**4 / 11520.0) * np.sin(4.0 * chi)
        + (7.0 * e2**3 / 120.0 + 81.0 * e2**4 / 1120.0) * np.sin(6.0 * chi)
        + (4279.0 * e2**4 / 161280.0) * np.sin(8.0 * chi)
    )
    lon = np.degrees(np.arctan2(e, n_eff))
    lat = np.degrees(np.where(south, -phi, phi))
    # the pole itself has undefined longitude; normalize to 0
    lon = np.where(rho == 0.0, 0.0, lon)
    lat = np.where(rho == 0.0, np.where(south, -90.0, 90.0), lat)
    return lon, lat


# --- LAEA: Lambert Azimuthal Equal-Area (EPSG:3035, ETRS89-extended) ---------
# The reference passes ANY user `-t_srs` to gdalwarp verbatim
# (/root/reference/src/io/sentinel1.rs:1030-1041); in-engine projection
# previously covered only the UTM/UPS codes lonlat_to_epsg emits, hard-raising
# otherwise. EPSG:3035 is the most-requested European grid; formulas are the
# public ellipsoidal oblique LAEA (Snyder 1987 eq. 3-11/3-12/24-2..24-4,
# EPSG Guidance Note 7-2). EPSG:3035 is defined on GRS80; its inverse
# flattening differs from WGS84 in the 9th decimal — both are public datum
# constants, no datum shift is applied (as with the UTM family).

GRS80_A = 6378137.0
GRS80_F = 1.0 / 298.257222101
LAEA_E2 = GRS80_F * (2.0 - GRS80_F)
LAEA_E = math.sqrt(LAEA_E2)
LAEA_LAT0 = 52.0
LAEA_LON0 = 10.0
LAEA_FE = 4321000.0
LAEA_FN = 3210000.0


def _q_authalic(sphi: float) -> float:
    """Snyder eq. 3-12: q for a given sin(latitude) (driver-side constant)."""
    return (1.0 - LAEA_E2) * (
        sphi / (1.0 - LAEA_E2 * sphi * sphi)
        - (1.0 / (2.0 * LAEA_E)) * math.log((1.0 - LAEA_E * sphi) / (1.0 + LAEA_E * sphi))
    )


LAEA_QP = _q_authalic(1.0)
_q0 = _q_authalic(math.sin(math.radians(LAEA_LAT0)))
LAEA_BETA0 = math.asin(_q0 / LAEA_QP)
LAEA_RQ = GRS80_A * math.sqrt(LAEA_QP / 2.0)
_m0 = math.cos(math.radians(LAEA_LAT0)) / math.sqrt(
    1.0 - LAEA_E2 * math.sin(math.radians(LAEA_LAT0)) ** 2
)
LAEA_D = GRS80_A * _m0 / (LAEA_RQ * math.cos(LAEA_BETA0))
LAEA_SB0 = math.sin(LAEA_BETA0)
LAEA_CB0 = math.cos(LAEA_BETA0)

#: authalic -> geodetic latitude series (Snyder eq. 3-18, truncated at e^6)
LAEA_PHI_C2 = LAEA_E2 / 3.0 + 31.0 * LAEA_E2**2 / 180.0 + 517.0 * LAEA_E2**3 / 5040.0
LAEA_PHI_C4 = 23.0 * LAEA_E2**2 / 360.0 + 251.0 * LAEA_E2**3 / 3780.0
LAEA_PHI_C6 = 761.0 * LAEA_E2**3 / 45360.0


def laea_forward_steps(lon: str = "lon", lat: str = "lat") -> list[tuple[str, str]]:
    """Named expression steps lon/lat -> (laea_easting, laea_northing) for the
    EPSG:3035 grid. Same portability contract as the UTM/UPS chains: every
    function (SIN/COS/ASIN/ATAN2/LN/SQRT/RADIANS) exists with identical
    semantics in Spark SQL and DuckDB; constants as repr() literals."""
    return [
        ("lm_sphi", f"SIN(RADIANS({lat}))"),
        (
            "lm_q",
            f"{1.0 - LAEA_E2!r} * (lm_sphi / (1.0 - {LAEA_E2!r} * lm_sphi * lm_sphi)"
            f" - {1.0 / (2.0 * LAEA_E)!r}"
            f" * LN((1.0 - {LAEA_E!r} * lm_sphi) / (1.0 + {LAEA_E!r} * lm_sphi)))",
        ),
        ("lm_beta", f"ASIN(lm_q / {LAEA_QP!r})"),
        ("lm_dlam", f"RADIANS({lon} - {LAEA_LON0!r})"),
        (
            "lm_b",
            f"{LAEA_RQ!r} * SQRT(2.0 / (1.0 + {LAEA_SB0!r} * SIN(lm_beta)"
            f" + {LAEA_CB0!r} * COS(lm_beta) * COS(lm_dlam)))",
        ),
        (
            "laea_easting",
            f"{LAEA_FE!r} + (lm_b * {LAEA_D!r}) * COS(lm_beta) * SIN(lm_dlam)",
        ),
        (
            "laea_northing",
            f"{LAEA_FN!r} + (lm_b / {LAEA_D!r}) * ({LAEA_CB0!r} * SIN(lm_beta)"
            f" - {LAEA_SB0!r} * COS(lm_beta) * COS(lm_dlam))",
        ),
    ]


def laea_inverse_steps(
    e: str = "laea_easting", n: str = "laea_northing"
) -> list[tuple[str, str]]:
    """Named expression steps (easting, northing) -> (laea_lon, laea_lat) —
    EPSG Guidance Note 7-2 inverse with the authalic-latitude series; the
    projection origin itself (rho = 0) maps back to (LON0, LAT0) by
    convention."""
    return [
        ("li_x", f"({e} - {LAEA_FE!r}) / {LAEA_D!r}"),
        ("li_y", f"({n} - {LAEA_FN!r}) * {LAEA_D!r}"),
        ("li_rho", "SQRT(li_x * li_x + li_y * li_y)"),
        ("li_ce", f"2.0 * ASIN(li_rho / {2.0 * LAEA_RQ!r})"),
        (
            "li_beta",
            f"CASE WHEN li_rho = 0.0 THEN {LAEA_BETA0!r} ELSE "
            f"ASIN(COS(li_ce) * {LAEA_SB0!r}"
            f" + li_y * SIN(li_ce) * {LAEA_CB0!r} / li_rho) END",
        ),
        (
            "laea_lon",
            f"CASE WHEN li_rho = 0.0 THEN {LAEA_LON0!r} ELSE "
            f"{LAEA_LON0!r} + DEGREES(ATAN2(li_x * SIN(li_ce), "
            f"li_rho * {LAEA_CB0!r} * COS(li_ce)"
            f" - li_y * {LAEA_SB0!r} * SIN(li_ce))) END",
        ),
        (
            "laea_lat",
            f"DEGREES(li_beta + {LAEA_PHI_C2!r} * SIN(2.0 * li_beta)"
            f" + {LAEA_PHI_C4!r} * SIN(4.0 * li_beta)"
            f" + {LAEA_PHI_C6!r} * SIN(6.0 * li_beta))",
        ),
    ]


def laea_forward_np(lon, lat):
    """Vectorized numpy twin of :func:`laea_forward_steps`."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    sphi = np.sin(np.radians(lat))
    q = (1.0 - LAEA_E2) * (
        sphi / (1.0 - LAEA_E2 * sphi * sphi)
        - (1.0 / (2.0 * LAEA_E)) * np.log((1.0 - LAEA_E * sphi) / (1.0 + LAEA_E * sphi))
    )
    beta = np.arcsin(q / LAEA_QP)
    dlam = np.radians(lon - LAEA_LON0)
    b = LAEA_RQ * np.sqrt(
        2.0 / (1.0 + LAEA_SB0 * np.sin(beta) + LAEA_CB0 * np.cos(beta) * np.cos(dlam))
    )
    e = LAEA_FE + (b * LAEA_D) * np.cos(beta) * np.sin(dlam)
    n = LAEA_FN + (b / LAEA_D) * (
        LAEA_CB0 * np.sin(beta) - LAEA_SB0 * np.cos(beta) * np.cos(dlam)
    )
    return e, n


def laea_inverse_np(e, n):
    """Numpy inverse — roundtrip partner of :func:`laea_forward_np`."""
    x = (np.asarray(e, dtype=np.float64) - LAEA_FE) / LAEA_D
    y = (np.asarray(n, dtype=np.float64) - LAEA_FN) * LAEA_D
    rho = np.hypot(x, y)
    ce = 2.0 * np.arcsin(rho / (2.0 * LAEA_RQ))
    with np.errstate(invalid="ignore", divide="ignore"):
        beta = np.where(
            rho == 0.0,
            LAEA_BETA0,
            np.arcsin(np.cos(ce) * LAEA_SB0 + y * np.sin(ce) * LAEA_CB0 / np.where(rho == 0.0, 1.0, rho)),
        )
        lon = np.where(
            rho == 0.0,
            LAEA_LON0,
            LAEA_LON0
            + np.degrees(
                np.arctan2(
                    x * np.sin(ce),
                    rho * LAEA_CB0 * np.cos(ce) - y * LAEA_SB0 * np.sin(ce),
                )
            ),
        )
    lat = np.degrees(
        beta
        + LAEA_PHI_C2 * np.sin(2.0 * beta)
        + LAEA_PHI_C4 * np.sin(4.0 * beta)
        + LAEA_PHI_C6 * np.sin(6.0 * beta)
    )
    return lon, lat


# --- Web Mercator (EPSG:3857) ------------------------------------------------
# Spherical Mercator on the WGS84 semi-major axis (the public EPSG:3857
# definition: "Popular Visualisation Pseudo-Mercator" — spherical formulas on
# a = 6378137, no eccentricity). Valid |lat| < ~85.051; the WGS84 bounds in
# the EPSG registry clip at 85.06.


def webmerc_forward_steps(lon: str = "lon", lat: str = "lat") -> list[tuple[str, str]]:
    """lon/lat -> (wm_easting, wm_northing): x = a*lam, y = a*ln(tan(pi/4 +
    phi/2)) — two expressions, both engines run the same ops."""
    return [
        ("wm_easting", f"{WGS84_A!r} * RADIANS({lon})"),
        (
            "wm_northing",
            f"{WGS84_A!r} * LN(TAN(PI() / 4.0 + RADIANS({lat}) / 2.0))",
        ),
    ]


def webmerc_inverse_steps(
    e: str = "wm_easting", n: str = "wm_northing"
) -> list[tuple[str, str]]:
    """(easting, northing) -> (wm_lon, wm_lat): exact closed-form inverse."""
    return [
        ("wm_lon", f"DEGREES({e} / {WGS84_A!r})"),
        (
            "wm_lat",
            f"DEGREES(2.0 * ATAN(EXP({n} / {WGS84_A!r})) - PI() / 2.0)",
        ),
    ]


def webmerc_forward_np(lon, lat):
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    return (
        WGS84_A * np.radians(lon),
        WGS84_A * np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0)),
    )


# --- LCC: Lambert Conformal Conic 2SP (EPSG:2154 RGF93 / Lambert-93) ---------
# Third non-UTM family (r7; after LAEA and Web Mercator): the conformal conic
# used by most national grids (France, Belgium, US state planes...). Public
# formulas: EPSG Guidance Note 7-2 §3.1.1 / Snyder 1987 eq. 15-1..15-11,
# with the iterative inverse latitude replaced by the closed conformal->
# geodetic series (Snyder eq. 3-5, truncated at e^8: residual ~8e-10 deg on
# GRS80 — below the roundtrip certificate's 1e-8 bound). Parametrized so one
# implementation serves any 2SP instance; the EPSG GN7-2 worked example
# (NAD27 Texas South Central, Clarke 1866) anchors the algebra in tests and
# LAMBERT93 instantiates the shipped EPSG:2154 route.


def lcc2sp_constants(
    a: float, f: float, lat0: float, lon0: float,
    sp1: float, sp2: float, fe: float, fn: float,
) -> dict:
    """Driver-side derived constants for one LCC-2SP instance (all floats —
    embedded as repr() literals in the portable step chains)."""
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)

    def m_of(phi: float) -> float:
        s = math.sin(phi)
        return math.cos(phi) / math.sqrt(1.0 - e2 * s * s)

    def t_of(phi: float) -> float:
        s = math.sin(phi)
        return math.tan(math.pi / 4.0 - phi / 2.0) / (
            (1.0 - e * s) / (1.0 + e * s)
        ) ** (e / 2.0)

    p0, p1, p2 = (math.radians(v) for v in (lat0, sp1, sp2))
    m1, m2 = m_of(p1), m_of(p2)
    t0, t1, t2 = t_of(p0), t_of(p1), t_of(p2)
    n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    big_f = m1 / (n * t1**n)
    rho0 = a * big_f * t0**n
    e4, e6, e8 = e2 * e2, e2 * e2 * e2, e2 * e2 * e2 * e2
    return {
        "a": a, "e": e, "e2": e2, "lon0": lon0, "fe": fe, "fn": fn,
        "n": n, "aF": a * big_f, "rho0": rho0,
        # conformal -> geodetic latitude series (Snyder eq. 3-5)
        "c2": e2 / 2.0 + 5.0 * e4 / 24.0 + e6 / 12.0 + 13.0 * e8 / 360.0,
        "c4": 7.0 * e4 / 48.0 + 29.0 * e6 / 240.0 + 811.0 * e8 / 11520.0,
        "c6": 7.0 * e6 / 120.0 + 81.0 * e8 / 1120.0,
        "c8": 4279.0 * e8 / 161280.0,
    }


#: EPSG:2154 — RGF93 v1 / Lambert-93 (GRS80; the national grid of France).
#: As with the UTM/LAEA families, no datum shift is applied (RGF93 ~ WGS84
#: at the sub-decimeter level by definition).
LAMBERT93 = lcc2sp_constants(
    GRS80_A, GRS80_F, lat0=46.5, lon0=3.0, sp1=44.0, sp2=49.0,
    fe=700000.0, fn=6600000.0,
)


def lcc_forward_steps(
    c: dict | None = None, lon: str = "lon", lat: str = "lat"
) -> list[tuple[str, str]]:
    """Named expression steps lon/lat -> (lcc_easting, lcc_northing). Every
    function (SIN/COS/TAN/POWER/SQRT/RADIANS) has identical semantics in
    Spark SQL and DuckDB; constants embed as repr() literals."""
    c = LAMBERT93 if c is None else c
    return [
        ("lc_phi", f"RADIANS({lat})"),
        ("lc_es", f"{c['e']!r} * SIN(lc_phi)"),
        (
            "lc_t",
            "TAN(0.7853981633974483 - lc_phi / 2.0)"
            f" / POWER((1.0 - lc_es) / (1.0 + lc_es), {c['e'] / 2.0!r})",
        ),
        ("lc_rho", f"{c['aF']!r} * POWER(lc_t, {c['n']!r})"),
        ("lc_theta", f"{c['n']!r} * RADIANS({lon} - {c['lon0']!r})"),
        ("lcc_easting", f"{c['fe']!r} + lc_rho * SIN(lc_theta)"),
        ("lcc_northing", f"{c['fn']!r} + {c['rho0']!r} - lc_rho * COS(lc_theta)"),
    ]


def lcc_inverse_steps(
    c: dict | None = None, e: str = "lcc_easting", n: str = "lcc_northing"
) -> list[tuple[str, str]]:
    """(easting, northing) -> (lcc_lon, lcc_lat): radial distance -> t' ->
    conformal latitude -> geodetic via the e^8 series (no iteration — the
    fixed-point inverse the EPSG note spells converges linearly at rate
    ~e^2/2; the series is its closed form and keeps the chain one pass)."""
    c = LAMBERT93 if c is None else c
    sgn = 1.0 if c["n"] >= 0 else -1.0
    return [
        ("li_dx", f"({e} - {c['fe']!r})"),
        ("li_dy", f"({c['rho0']!r} - ({n} - {c['fn']!r}))"),
        ("li_rho", f"{sgn!r} * SQRT(li_dx * li_dx + li_dy * li_dy)"),
        ("li_t", f"POWER(li_rho / {c['aF']!r}, {1.0 / c['n']!r})"),
        ("li_chi", "1.5707963267948966 - 2.0 * ATAN(li_t)"),
        (
            "lcc_lat",
            f"DEGREES(li_chi + {c['c2']!r} * SIN(2.0 * li_chi)"
            f" + {c['c4']!r} * SIN(4.0 * li_chi)"
            f" + {c['c6']!r} * SIN(6.0 * li_chi)"
            f" + {c['c8']!r} * SIN(8.0 * li_chi))",
        ),
        (
            "lcc_lon",
            # Snyder 14-11 applies to the conformal conic too: theta's ATAN2
            # arguments sign-flip with rho when n < 0 (same ADVICE-r9 class
            # as the Albers fix; flip emitted only for southern instances so
            # n > 0 oracle SQL stays byte-identical)
            f"{c['lon0']!r} + DEGREES(ATAN2("
            + (f"{sgn!r} * li_dx, {sgn!r} * li_dy" if sgn < 0 else "li_dx, li_dy")
            + f") / {c['n']!r})",
        ),
    ]


def lcc_forward_np(lon, lat, c: dict | None = None):
    """Numpy twin of :func:`lcc_forward_steps` (tests / validation)."""
    c = LAMBERT93 if c is None else c
    lon = np.asarray(lon, dtype=np.float64)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    es = c["e"] * np.sin(phi)
    t = np.tan(np.pi / 4.0 - phi / 2.0) / ((1.0 - es) / (1.0 + es)) ** (c["e"] / 2.0)
    rho = c["aF"] * t ** c["n"]
    theta = c["n"] * np.radians(lon - c["lon0"])
    return c["fe"] + rho * np.sin(theta), c["fn"] + c["rho0"] - rho * np.cos(theta)


def lcc_inverse_np(e, n, c: dict | None = None):
    """Numpy twin of :func:`lcc_inverse_steps`."""
    c = LAMBERT93 if c is None else c
    dx = np.asarray(e, dtype=np.float64) - c["fe"]
    dy = c["rho0"] - (np.asarray(n, dtype=np.float64) - c["fn"])
    sgn = 1.0 if c["n"] >= 0 else -1.0
    rho = sgn * np.sqrt(dx * dx + dy * dy)
    t = (rho / c["aF"]) ** (1.0 / c["n"])
    chi = np.pi / 2.0 - 2.0 * np.arctan(t)
    lat = np.degrees(
        chi
        + c["c2"] * np.sin(2.0 * chi)
        + c["c4"] * np.sin(4.0 * chi)
        + c["c6"] * np.sin(6.0 * chi)
        + c["c8"] * np.sin(8.0 * chi)
    )
    # Snyder 14-11: ATAN2 arguments sign-flip with rho when n < 0 (ADVICE r9)
    lon = c["lon0"] + np.degrees(np.arctan2(sgn * dx, sgn * dy) / c["n"])
    return lon, lat


# --- r8: 7-parameter Helmert datum shift + OSGB36 / British National Grid ----
# The reference handles datum-shifted CRSs (EPSG:27700 was the standing
# loud-failure example) by delegating to gdalwarp/PROJ
# (/root/reference/src/io/sentinel1.rs:988-1032). In-engine: the EPSG
# method 9606 position-vector transformation as a pure column-expression
# step chain between the geodetic and projection stages — geodetic(WGS84)
# -> geocentric XYZ -> Helmert -> geodetic(Airy 1830) -> Transverse
# Mercator (National Grid parameters). All constants are public: OS "A
# guide to coordinate systems in Great Britain" (datum + projection
# parameters, worked examples) and EPSG Guidance Note 7-2 (method
# formulas). Everything stays JVM-codegen per row — the datum shift is
# nine multiply-adds, embarrassingly parallel, exactly what survives
# 100 TB.

#: Airy 1830 ellipsoid (OSGB36), OS guide Annex A
AIRY_A = 6377563.396
AIRY_F = 1.0 / 299.3249646


def helmert_constants(
    tx: float, ty: float, tz: float,
    rx_as: float, ry_as: float, rz_as: float, s_ppm: float,
) -> dict:
    """Derived constants for one 7-parameter position-vector transformation
    (EPSG method 9606): X' = T + (1+s) * (I + R) * X with the small-angle
    rotation matrix R = [[0,-rz,ry],[rz,0,-rx],[-ry,rx,0]] (rotations in
    arcseconds, scale in ppm — the publication units).

    The REVERSE direction embeds the exact numerical inverse of the
    constant 3x3 matrix (computed once here), not the usual
    negated-parameter approximation — the approximation's s^2/r^2
    cross-terms are ~3 mm over an Earth radius and would eat most of a
    1e-7 deg roundtrip budget; the exact inverse leaves only libm noise."""
    rx, ry, rz = (math.radians(v / 3600.0) for v in (rx_as, ry_as, rz_as))
    s = 1.0 + s_ppm * 1e-6
    m = np.array(
        [
            [s, -s * rz, s * ry],
            [s * rz, s, -s * rx],
            [-s * ry, s * rx, s],
        ]
    )
    mi = np.linalg.inv(m)
    return {
        "t": (float(tx), float(ty), float(tz)),
        "m": [[float(v) for v in row] for row in m],
        "mi": [[float(v) for v in row] for row in mi],
    }


#: WGS84 -> OSGB36 single national Helmert (OS guide §6.6; ~3.5 m datum
#: accuracy — the published parameter set; the reference's PROJ route uses
#: the same parameters absent a grid-shift file)
HELMERT_WGS84_TO_OSGB36 = helmert_constants(
    -446.448, 125.157, -542.060, -0.1502, -0.2470, -0.8421, 20.4894
)


def geodetic_to_geocentric_steps(
    a: float, f: float, lon: str = "lon", lat: str = "lat", p: str = "gc"
) -> list[tuple[str, str]]:
    """Geodetic (h=0) -> geocentric XYZ on the given ellipsoid (EPSG GN7-2
    §4.1.1): nu = a/sqrt(1-e2 sin^2 phi); X=(nu)cos phi cos lam, etc."""
    e2 = f * (2.0 - f)
    return [
        (f"{p}_phi", f"RADIANS({lat})"),
        (f"{p}_lam", f"RADIANS({lon})"),
        (f"{p}_s", f"SIN({p}_phi)"),
        (f"{p}_nu", f"{a!r} / SQRT(1.0 - {e2!r} * {p}_s * {p}_s)"),
        (f"{p}_x", f"{p}_nu * COS({p}_phi) * COS({p}_lam)"),
        (f"{p}_y", f"{p}_nu * COS({p}_phi) * SIN({p}_lam)"),
        (f"{p}_z", f"(1.0 - {e2!r}) * {p}_nu * {p}_s"),
    ]


def helmert_steps(
    c: dict, x: str, y: str, z: str, p: str = "hm", inverse: bool = False
) -> list[tuple[str, str]]:
    """Apply the constant Helmert matrix: forward X' = T + M*X; reverse
    X = M^-1 * (X' - T) with the embedded exact inverse matrix."""
    if not inverse:
        m, t = c["m"], c["t"]
        return [
            (f"{p}_x", f"{t[0]!r} + {m[0][0]!r} * {x} + {m[0][1]!r} * {y} + {m[0][2]!r} * {z}"),
            (f"{p}_y", f"{t[1]!r} + {m[1][0]!r} * {x} + {m[1][1]!r} * {y} + {m[1][2]!r} * {z}"),
            (f"{p}_z", f"{t[2]!r} + {m[2][0]!r} * {x} + {m[2][1]!r} * {y} + {m[2][2]!r} * {z}"),
        ]
    mi, t = c["mi"], c["t"]
    return [
        (f"{p}_dx", f"{x} - {t[0]!r}"),
        (f"{p}_dy", f"{y} - {t[1]!r}"),
        (f"{p}_dz", f"{z} - {t[2]!r}"),
        (f"{p}_x", f"{mi[0][0]!r} * {p}_dx + {mi[0][1]!r} * {p}_dy + {mi[0][2]!r} * {p}_dz"),
        (f"{p}_y", f"{mi[1][0]!r} * {p}_dx + {mi[1][1]!r} * {p}_dy + {mi[1][2]!r} * {p}_dz"),
        (f"{p}_z", f"{mi[2][0]!r} * {p}_dx + {mi[2][1]!r} * {p}_dy + {mi[2][2]!r} * {p}_dz"),
    ]


def geocentric_to_geodetic_steps(
    a: float, f: float, x: str, y: str, z: str, p: str = "gd", iters: int = 5
) -> list[tuple[str, str]]:
    """Geocentric XYZ -> geodetic via the classic fixed-point iteration
    (EPSG GN7-2 §4.1.1 reverse), UNROLLED to `iters` named steps so Spark
    and DuckDB run the identical op chain. Each pass multiplies the error
    by ~e^2 (~0.0067 for Airy/WGS84); 5 passes from the spherical seed is
    < 1e-12 deg for near-surface points — far below the certificate grain."""
    e2 = f * (2.0 - f)
    steps = [
        (f"{p}_p", f"SQRT({x} * {x} + {y} * {y})"),
        (f"{p}_lon", f"DEGREES(ATAN2({y}, {x}))"),
        (f"{p}_f0", f"ATAN2({z}, {p}_p * (1.0 - {e2!r}))"),
    ]
    prev = f"{p}_f0"
    for i in range(1, iters + 1):
        nu = f"{p}_n{i}"
        steps.append(
            (nu, f"{a!r} / SQRT(1.0 - {e2!r} * SIN({prev}) * SIN({prev}))")
        )
        cur = f"{p}_f{i}"
        steps.append(
            (cur, f"ATAN2({z} + {e2!r} * {nu} * SIN({prev}), {p}_p)")
        )
        prev = cur
    steps.append((f"{p}_lat", f"DEGREES({prev})"))
    return steps


def tm_constants(
    a: float, f: float, lat0: float, lon0: float, k0: float, fe: float, fn: float
) -> dict:
    """Driver-side derived constants for one generic Transverse Mercator
    instance (Krüger series on an arbitrary ellipsoid with a latitude of
    natural origin — the UTM module constants generalized the way
    :func:`lcc2sp_constants` generalizes the conics). The meridian-arc
    offset m0 = k0 * A(n) * mu(lat0) folds the origin latitude into a
    constant northing shift (rectifying latitude mu at the central
    meridian: eta=0, xi = chi + sum alpha_j sin 2j chi)."""
    n = f / (2.0 - f)
    a_rect = a / (1.0 + n) * (1.0 + n**2 / 4.0 + n**4 / 64.0 + n**6 / 256.0)
    c1 = 2.0 * math.sqrt(n) / (1.0 + n)
    alpha = (
        n / 2.0 - 2.0 * n**2 / 3.0 + 5.0 * n**3 / 16.0 + 41.0 * n**4 / 180.0,
        13.0 * n**2 / 48.0 - 3.0 * n**3 / 5.0 + 557.0 * n**4 / 1440.0,
        61.0 * n**3 / 240.0 - 103.0 * n**4 / 140.0,
        49561.0 * n**4 / 161280.0,
    )
    beta = (
        n / 2.0 - 2.0 * n**2 / 3.0 + 37.0 * n**3 / 96.0 - n**4 / 360.0,
        n**2 / 48.0 + n**3 / 15.0 - 437.0 * n**4 / 1440.0,
        17.0 * n**3 / 480.0 - 37.0 * n**4 / 840.0,
        4397.0 * n**4 / 161280.0,
    )
    delta = (
        2.0 * n - 2.0 * n**2 / 3.0 - 2.0 * n**3 + 116.0 * n**4 / 45.0,
        7.0 * n**2 / 3.0 - 8.0 * n**3 / 5.0 - 227.0 * n**4 / 45.0,
        56.0 * n**3 / 15.0 - 136.0 * n**4 / 35.0,
        4279.0 * n**4 / 630.0,
    )
    sphi = math.sin(math.radians(lat0))
    uu = math.atanh(sphi) - c1 * math.atanh(c1 * sphi)
    chi = math.atan(math.sinh(uu))
    xi0 = chi + sum(
        aj * math.sin(2.0 * (j + 1) * chi) for j, aj in enumerate(alpha)
    )
    return {
        "a": a, "f": f, "lon0": lon0, "k0": k0, "fe": fe, "fn": fn,
        "k0A": k0 * a_rect, "c1": c1,
        "alpha": alpha, "beta": beta, "delta": delta,
        "m0": k0 * a_rect * xi0,
    }


#: EPSG:27700 — OSGB36 / British National Grid (OS guide Annex A: Airy
#: 1830, phi0=49N, lam0=2W, F0=0.9996012717, E0=400000, N0=-100000)
OSGB_TM = tm_constants(
    AIRY_A, AIRY_F, lat0=49.0, lon0=-2.0, k0=0.9996012717,
    fe=400000.0, fn=-100000.0,
)

#: Australian National Spheroid (public EPSG ellipsoid 7003) — the AGD66
#: datum's ellipsoid, reached from WGS84 via the NTv2 grid shift
#: (operators/gridshift.py), not a Helmert
ANS_A = 6378160.0
ANS_F = 1.0 / 298.25

#: EPSG:20255 — AGD66 / AMG zone 55 (Australian Map Grid: standard UTM
#: parameters on the ANS ellipsoid, southern false northing). NOTE:
#: EPSG:28355 — with which this was long confused in this repo's loud-fail
#: example — is GDA94 / MGA zone 55 (GRS80, no datum shift from WGS84).
AMG55_TM = tm_constants(
    ANS_A, ANS_F, lat0=0.0, lon0=147.0, k0=0.9996,
    fe=500000.0, fn=10000000.0,
)

#: GRS80 (public EPSG ellipsoid 7019) — GDA94's ellipsoid; differs from
#: WGS84 only in the 9th decimal of the flattening
GRS80_A = 6378137.0
GRS80_F = 1.0 / 298.257222101


#: Clarke 1866 (public EPSG ellipsoid 7008) — NAD27's ellipsoid, defined
#: by semi-axes a/b rather than a/1-f (Snyder p.12; f derived exactly)
CLARKE1866_A = 6378206.4
CLARKE1866_B = 6356583.8
CLARKE1866_F = (CLARKE1866_A - CLARKE1866_B) / CLARKE1866_A


def nad27_tm(zone: int) -> dict:
    """EPSG:267{zone:02d} — NAD27 / UTM northern zones on Clarke 1866:
    standard UTM-north parameters (k0=0.9996, FE 500km, FN 0). The datum
    leg (NAD27<->NAD83/WGS84) is NOT a Helmert — it crosses via a NADCON
    distortion grid (operators/gridshift.py read_loslas_df), the same
    'gcp_ntv2' plan route as AGD66 (r11)."""
    if not 1 <= zone <= 60:
        raise ValueError(f"UTM zone {zone} outside 1-60")
    return tm_constants(
        CLARKE1866_A, CLARKE1866_F, lat0=0.0, lon0=zone * 6.0 - 183.0,
        k0=0.9996, fe=500000.0, fn=0.0,
    )


def mga_tm(zone: int) -> dict:
    """EPSG:283{zone} — GDA94 / MGA (Map Grid of Australia) zone 49-56:
    standard UTM-south parameters on GRS80 (GDA94 ~ WGS84, no datum
    shift — the Albers/NAD83 doctrine). r10: the family the repo's old
    loud-fail example EPSG:28355 ACTUALLY belongs to."""
    if not 49 <= zone <= 56:
        raise ValueError(f"MGA zone {zone} outside 49-56")
    return tm_constants(
        GRS80_A, GRS80_F, lat0=0.0, lon0=zone * 6.0 - 183.0, k0=0.9996,
        fe=500000.0, fn=10000000.0,
    )


def tm_forward_steps_c(
    c: dict, lon: str = "lon", lat: str = "lat", p: str = "gt",
    easting: str = "tm_easting", northing: str = "tm_northing",
) -> list[tuple[str, str]]:
    """Generic-instance twin of :func:`tm_forward_steps`: same Krüger
    chain, constants from `c`, step names prefixed so several chains can
    stack on one frame (the OSGB route runs FOUR chains end-to-end)."""
    xi_terms = " + ".join(
        f"{a!r} * SIN({2 * (j + 1)}.0 * {p}_xip) * (EXP({2 * (j + 1)}.0 * {p}_etap) + EXP(-{2 * (j + 1)}.0 * {p}_etap)) / 2.0"
        for j, a in enumerate(c["alpha"])
    )
    eta_terms = " + ".join(
        f"{a!r} * COS({2 * (j + 1)}.0 * {p}_xip) * (EXP({2 * (j + 1)}.0 * {p}_etap) - EXP(-{2 * (j + 1)}.0 * {p}_etap)) / 2.0"
        for j, a in enumerate(c["alpha"])
    )
    c1 = c["c1"]
    return [
        (f"{p}_dl", f"RADIANS({lon} - {c['lon0']!r})"),
        (f"{p}_sp", f"SIN(RADIANS({lat}))"),
        (f"{p}_a1", f"0.5 * LN((1.0 + {p}_sp) / (1.0 - {p}_sp))"),
        (f"{p}_cy", f"{c1!r} * {p}_sp"),
        (f"{p}_a2", f"0.5 * LN((1.0 + {p}_cy) / (1.0 - {p}_cy))"),
        (f"{p}_uu", f"{p}_a1 - {c1!r} * {p}_a2"),
        (f"{p}_tt", f"(EXP({p}_uu) - EXP(-{p}_uu)) / 2.0"),
        (f"{p}_xip", f"ATAN2({p}_tt, COS({p}_dl))"),
        (f"{p}_ww", f"SIN({p}_dl) / SQRT(1.0 + {p}_tt * {p}_tt)"),
        (f"{p}_etap", f"0.5 * LN((1.0 + {p}_ww) / (1.0 - {p}_ww))"),
        (f"{p}_xi", f"{p}_xip + {xi_terms}"),
        (f"{p}_eta", f"{p}_etap + {eta_terms}"),
        (easting, f"{c['fe']!r} + {c['k0A']!r} * {p}_eta"),
        (northing, f"{c['fn']!r} - {c['m0']!r} + {c['k0A']!r} * {p}_xi"),
    ]


def tm_inverse_steps_c(
    c: dict, e: str = "tm_easting", n: str = "tm_northing", p: str = "gti",
    lon_out: str = "tm_lon", lat_out: str = "tm_lat",
) -> list[tuple[str, str]]:
    """Generic-instance twin of :func:`tm_inverse_steps`."""
    xip_terms = " + ".join(
        f"{b!r} * SIN({2 * (j + 1)}.0 * {p}_xi) * (EXP({2 * (j + 1)}.0 * {p}_eta) + EXP(-{2 * (j + 1)}.0 * {p}_eta)) / 2.0"
        for j, b in enumerate(c["beta"])
    )
    etap_terms = " + ".join(
        f"{b!r} * COS({2 * (j + 1)}.0 * {p}_xi) * (EXP({2 * (j + 1)}.0 * {p}_eta) - EXP(-{2 * (j + 1)}.0 * {p}_eta)) / 2.0"
        for j, b in enumerate(c["beta"])
    )
    phi_terms = " + ".join(
        f"{d!r} * SIN({2 * (j + 1)}.0 * {p}_chi)" for j, d in enumerate(c["delta"])
    )
    return [
        (f"{p}_xi", f"({n} - {c['fn']!r} + {c['m0']!r}) / {c['k0A']!r}"),
        (f"{p}_eta", f"({e} - {c['fe']!r}) / {c['k0A']!r}"),
        (f"{p}_xp", f"{p}_xi - ({xip_terms})"),
        (f"{p}_ep", f"{p}_eta - ({etap_terms})"),
        (f"{p}_chi", f"ASIN(SIN({p}_xp) / ((EXP({p}_ep) + EXP(-{p}_ep)) / 2.0))"),
        (lat_out, f"DEGREES({p}_chi + {phi_terms})"),
        (
            lon_out,
            f"{c['lon0']!r} + DEGREES(ATAN2((EXP({p}_ep) - EXP(-{p}_ep)) / 2.0, COS({p}_xp)))",
        ),
    ]


def osgb_forward_steps(lon: str = "lon", lat: str = "lat") -> list[tuple[str, str]]:
    """WGS84 lon/lat -> EPSG:27700 easting/northing: geodetic->geocentric
    (WGS84) -> Helmert 9606 -> geocentric->geodetic (Airy) -> National
    Grid TM. One flat step chain, portable to both engines."""
    return (
        geodetic_to_geocentric_steps(WGS84_A, WGS84_F, lon=lon, lat=lat, p="ogc")
        + helmert_steps(HELMERT_WGS84_TO_OSGB36, "ogc_x", "ogc_y", "ogc_z", p="ohm")
        + geocentric_to_geodetic_steps(AIRY_A, AIRY_F, "ohm_x", "ohm_y", "ohm_z", p="ogd")
        + tm_forward_steps_c(
            OSGB_TM, lon="ogd_lon", lat="ogd_lat", p="otm",
            easting="osgb_easting", northing="osgb_northing",
        )
    )


def osgb_inverse_steps(
    e: str = "osgb_easting", n: str = "osgb_northing"
) -> list[tuple[str, str]]:
    """EPSG:27700 easting/northing -> WGS84 lon/lat (exact-matrix reverse
    Helmert)."""
    return (
        tm_inverse_steps_c(OSGB_TM, e=e, n=n, p="itm", lon_out="iosgb_lon", lat_out="iosgb_lat")
        + geodetic_to_geocentric_steps(AIRY_A, AIRY_F, lon="iosgb_lon", lat="iosgb_lat", p="igc")
        + helmert_steps(
            HELMERT_WGS84_TO_OSGB36, "igc_x", "igc_y", "igc_z", p="ihm", inverse=True
        )
        + geocentric_to_geodetic_steps(WGS84_A, WGS84_F, "ihm_x", "ihm_y", "ihm_z", p="igd")
        + [("osgb_lon", "igd_lon"), ("osgb_lat", "igd_lat")]
    )


# --- numpy twins (fixture tests / worked-example anchors) --------------------


def _geodetic_to_geocentric_np(a, f, lon, lat):
    e2 = f * (2.0 - f)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64))
    s = np.sin(phi)
    nu = a / np.sqrt(1.0 - e2 * s * s)
    return nu * np.cos(phi) * np.cos(lam), nu * np.cos(phi) * np.sin(lam), (1.0 - e2) * nu * s


def _geocentric_to_geodetic_np(a, f, x, y, z, iters=5):
    e2 = f * (2.0 - f)
    p = np.sqrt(x * x + y * y)
    lon = np.degrees(np.arctan2(y, x))
    phi = np.arctan2(z, p * (1.0 - e2))
    for _ in range(iters):
        nu = a / np.sqrt(1.0 - e2 * np.sin(phi) ** 2)
        phi = np.arctan2(z + e2 * nu * np.sin(phi), p)
    return lon, np.degrees(phi)


def _helmert_np(c, x, y, z, inverse=False):
    t = np.asarray(c["t"])
    m = np.asarray(c["mi"] if inverse else c["m"])
    # atleast_1d: scalar inputs would make v 1-D and t[:, None] + m @ v
    # broadcast to a wrong (3, 3) instead of a (3,) point
    v = np.stack(
        [np.atleast_1d(np.asarray(a, dtype=np.float64)) for a in (x, y, z)]
    )
    if inverse:
        out = m @ (v - t[:, None])
    else:
        out = t[:, None] + m @ v
    return out[0], out[1], out[2]


def tm_forward_c_np(c, lon, lat):
    """Numpy twin of :func:`tm_forward_steps_c`."""
    dl = np.radians(np.asarray(lon, dtype=np.float64) - c["lon0"])
    sp = np.sin(np.radians(np.asarray(lat, dtype=np.float64)))
    uu = np.arctanh(sp) - c["c1"] * np.arctanh(c["c1"] * sp)
    tt = np.sinh(uu)
    xip = np.arctan2(tt, np.cos(dl))
    ww = np.sin(dl) / np.sqrt(1.0 + tt * tt)
    etap = np.arctanh(ww)
    xi = xip + sum(
        a * np.sin(2.0 * (j + 1) * xip) * np.cosh(2.0 * (j + 1) * etap)
        for j, a in enumerate(c["alpha"])
    )
    eta = etap + sum(
        a * np.cos(2.0 * (j + 1) * xip) * np.sinh(2.0 * (j + 1) * etap)
        for j, a in enumerate(c["alpha"])
    )
    return c["fe"] + c["k0A"] * eta, c["fn"] - c["m0"] + c["k0A"] * xi


def tm_inverse_c_np(c, e, n):
    """Numpy twin of :func:`tm_inverse_steps_c`."""
    xi = (np.asarray(n, dtype=np.float64) - c["fn"] + c["m0"]) / c["k0A"]
    eta = (np.asarray(e, dtype=np.float64) - c["fe"]) / c["k0A"]
    xp = xi - sum(
        b * np.sin(2.0 * (j + 1) * xi) * np.cosh(2.0 * (j + 1) * eta)
        for j, b in enumerate(c["beta"])
    )
    ep = eta - sum(
        b * np.cos(2.0 * (j + 1) * xi) * np.sinh(2.0 * (j + 1) * eta)
        for j, b in enumerate(c["beta"])
    )
    chi = np.arcsin(np.sin(xp) / np.cosh(ep))
    lat = np.degrees(chi + sum(d * np.sin(2.0 * (j + 1) * chi) for j, d in enumerate(c["delta"])))
    lon = c["lon0"] + np.degrees(np.arctan2(np.sinh(ep), np.cos(xp)))
    return lon, lat


def osgb_forward_np(lon, lat):
    """Numpy twin of the full WGS84 -> EPSG:27700 chain."""
    x, y, z = _geodetic_to_geocentric_np(WGS84_A, WGS84_F, lon, lat)
    x, y, z = _helmert_np(HELMERT_WGS84_TO_OSGB36, x, y, z)
    alon, alat = _geocentric_to_geodetic_np(AIRY_A, AIRY_F, x, y, z)
    return tm_forward_c_np(OSGB_TM, alon, alat)


def osgb_inverse_np(e, n):
    """Numpy twin of the full EPSG:27700 -> WGS84 chain."""
    alon, alat = tm_inverse_c_np(OSGB_TM, e, n)
    x, y, z = _geodetic_to_geocentric_np(AIRY_A, AIRY_F, alon, alat)
    x, y, z = _helmert_np(HELMERT_WGS84_TO_OSGB36, x, y, z, inverse=True)
    return _geocentric_to_geodetic_np(WGS84_A, WGS84_F, x, y, z)


# --- r9: BD72 / Belgian Lambert 72 (EPSG:31370) — second Helmert family ----
# Proves the r8 datum layer generalizes: BD72 is a pure PARAMETER ENTRY
# composing two already-certified generic chains (helmert_constants +
# lcc2sp_constants) — no new algebra. All constants are the published
# EPSG / NGI values (identical to the canonical proj4 registry entry for
# EPSG:31370: +towgs84=-106.8686,52.2978,-103.7239,0.3366,-0.457,1.8422,
# -1.2747 +ellps=intl +lat_1=51.16666723333333 +lat_2=49.8333339
# +lat_0=90 +lon_0=4.367486666666666 +x_0=150000.013 +y_0=5400088.438).
# The published Helmert (EPSG:15929) is the BD72->WGS84 direction, so the
# FORWARD WGS84->BD72 leg runs the exact embedded matrix INVERSE and the
# reverse leg the published matrix — the same exactness doctrine as OSGB,
# just mirrored.

#: International 1924 (Hayford) ellipsoid — BD72's ellipsoid
INTL_A = 6378388.0
INTL_F = 1.0 / 297.0

#: BD72 -> WGS84 position-vector 7-parameter set (EPSG transformation
#: 15929; NGI national values — same numbers as the proj4 +towgs84 above)
HELMERT_BD72_TO_WGS84 = helmert_constants(
    -106.8686, 52.2978, -103.7239, 0.3366, -0.4570, 1.8422, -1.2747
)

#: EPSG:31370 Belgian Lambert 72 projection (EPSG projection 19961):
#: false origin at the POLE (lat0=90 -> rho0 = 0 exactly), lon0 =
#: 4deg22'02.952"E, standard parallels 51deg10'00.00204"N /
#: 49deg50'00.00204"N, FE 150000.013, FN 5400088.438
BELGIAN72 = lcc2sp_constants(
    INTL_A, INTL_F,
    lat0=90.0,
    lon0=4.0 + 22.0 / 60.0 + 2.952 / 3600.0,
    sp1=51.0 + 10.0 / 60.0 + 0.00204 / 3600.0,
    sp2=49.0 + 50.0 / 60.0 + 0.00204 / 3600.0,
    fe=150000.013, fn=5400088.438,
)


def bd72_forward_steps(lon: str = "lon", lat: str = "lat") -> list[tuple[str, str]]:
    """WGS84 lon/lat -> EPSG:31370 easting/northing: geodetic->geocentric
    (WGS84) -> EXACT-INVERSE Helmert (published set points BD72->WGS84) ->
    geocentric->geodetic (International 1924) -> Belgian Lambert 72
    LCC-2SP. One flat portable step chain like the OSGB route."""
    return (
        geodetic_to_geocentric_steps(WGS84_A, WGS84_F, lon=lon, lat=lat, p="bgc")
        + helmert_steps(
            HELMERT_BD72_TO_WGS84, "bgc_x", "bgc_y", "bgc_z", p="bhm", inverse=True
        )
        + geocentric_to_geodetic_steps(INTL_A, INTL_F, "bhm_x", "bhm_y", "bhm_z", p="bgd")
        + lcc_forward_steps(BELGIAN72, lon="bgd_lon", lat="bgd_lat")
        + [("bd72_easting", "lcc_easting"), ("bd72_northing", "lcc_northing")]
    )


def bd72_inverse_steps(
    e: str = "bd72_easting", n: str = "bd72_northing"
) -> list[tuple[str, str]]:
    """EPSG:31370 easting/northing -> WGS84 lon/lat (published-direction
    Helmert on this leg)."""
    return (
        lcc_inverse_steps(BELGIAN72, e=e, n=n)
        + geodetic_to_geocentric_steps(INTL_A, INTL_F, lon="lcc_lon", lat="lcc_lat", p="ibgc")
        + helmert_steps(HELMERT_BD72_TO_WGS84, "ibgc_x", "ibgc_y", "ibgc_z", p="ibhm")
        + geocentric_to_geodetic_steps(WGS84_A, WGS84_F, "ibhm_x", "ibhm_y", "ibhm_z", p="ibgd")
        + [("bd72_lon", "ibgd_lon"), ("bd72_lat", "ibgd_lat")]
    )


def bd72_forward_np(lon, lat):
    """Numpy twin of the full WGS84 -> EPSG:31370 chain."""
    x, y, z = _geodetic_to_geocentric_np(WGS84_A, WGS84_F, lon, lat)
    x, y, z = _helmert_np(HELMERT_BD72_TO_WGS84, x, y, z, inverse=True)
    blon, blat = _geocentric_to_geodetic_np(INTL_A, INTL_F, x, y, z)
    return lcc_forward_np(blon, blat, BELGIAN72)


def bd72_inverse_np(e, n):
    """Numpy twin of the full EPSG:31370 -> WGS84 chain."""
    blon, blat = lcc_inverse_np(e, n, BELGIAN72)
    x, y, z = _geodetic_to_geocentric_np(INTL_A, INTL_F, blon, blat)
    x, y, z = _helmert_np(HELMERT_BD72_TO_WGS84, x, y, z)
    return _geocentric_to_geodetic_np(WGS84_A, WGS84_F, x, y, z)


# --- r9: Albers equal-area conic (EPSG:5070 NAD83 / Conus Albers) -----------
# Snyder "Map Projections — A Working Manual" eqs 14-1..14-11 ellipsoidal
# form (authalic latitude), the eighth in-engine family and the first
# EQUAL-AREA conic — the standard CONUS analysis grid. NAD83 ~ WGS84 at
# the meter level by definition (no datum shift, same treatment as
# RGF93/ETRS89). The generic constants builder is anchored to Snyder's
# published ellipsoid worked example (Clarke 1866, p.292: 35N 75W ->
# 1885472.7 E, 1535925.0 N — reproduced to 0.1 m in tests).


def albers_constants(
    a: float, f: float, lat0: float, lon0: float,
    sp1: float, sp2: float, fe: float, fn: float,
) -> dict:
    """Driver-side derived constants for one Albers-2SP instance (floats
    embedded as repr() literals in the portable step chains): n, C, rho0
    per Snyder 14-3..14-6 with the authalic q-function (3-12), plus the
    authalic->geodetic latitude series coefficients (3-18)."""
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)

    def q_of(phi: float) -> float:
        s = math.sin(phi)
        return (1.0 - e2) * (
            s / (1.0 - e2 * s * s)
            - (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s))
        )

    def m_of(phi: float) -> float:
        s = math.sin(phi)
        return math.cos(phi) / math.sqrt(1.0 - e2 * s * s)

    p0, p1, p2 = (math.radians(v) for v in (lat0, sp1, sp2))
    m1, m2 = m_of(p1), m_of(p2)
    q0, q1, q2 = q_of(p0), q_of(p1), q_of(p2)
    n = (m1 * m1 - m2 * m2) / (q2 - q1)
    big_c = m1 * m1 + n * q1
    e4, e6 = e2 * e2, e2 * e2 * e2
    return {
        "a": a, "e": e, "e2": e2, "lon0": lon0, "fe": fe, "fn": fn,
        "n": n, "C": big_c,
        "rho0": a * math.sqrt(big_c - n * q0) / n,
        "qp": q_of(math.pi / 2.0),
        # authalic -> geodetic latitude series (Snyder 3-18)
        "c2": e2 / 3.0 + 31.0 * e4 / 180.0 + 517.0 * e6 / 5040.0,
        "c4": 23.0 * e4 / 360.0 + 251.0 * e6 / 3780.0,
        "c6": 761.0 * e6 / 45360.0,
    }


#: EPSG:5070 — NAD83 / Conus Albers (GRS80): lat0=23N lon0=96W,
#: standard parallels 29.5N / 45.5N, zero false easting/northing
ALBERS_CONUS = albers_constants(
    GRS80_A, GRS80_F, lat0=23.0, lon0=-96.0, sp1=29.5, sp2=45.5,
    fe=0.0, fn=0.0,
)


def albers_forward_steps(
    c: dict | None = None, lon: str = "lon", lat: str = "lat"
) -> list[tuple[str, str]]:
    """Named expression steps lon/lat -> (alb_easting, alb_northing):
    Snyder 14-1..14-4 with the authalic q computed inline (SIN/LN/SQRT —
    identical semantics in Spark SQL and DuckDB)."""
    c = ALBERS_CONUS if c is None else c
    return [
        ("ab_phi", f"RADIANS({lat})"),
        ("ab_s", "SIN(ab_phi)"),
        (
            "ab_q",
            f"{1.0 - c['e2']!r} * (ab_s / (1.0 - {c['e2']!r} * ab_s * ab_s)"
            f" - {1.0 / (2.0 * c['e'])!r}"
            f" * LN((1.0 - {c['e']!r} * ab_s) / (1.0 + {c['e']!r} * ab_s)))",
        ),
        ("ab_rho", f"{c['a']!r} * SQRT({c['C']!r} - {c['n']!r} * ab_q) / {c['n']!r}"),
        ("ab_th", f"RADIANS({c['n']!r} * ({lon} - {c['lon0']!r}))"),
        ("alb_easting", f"{c['fe']!r} + ab_rho * SIN(ab_th)"),
        ("alb_northing", f"{c['fn']!r} + {c['rho0']!r} - ab_rho * COS(ab_th)"),
    ]


def albers_inverse_steps(
    c: dict | None = None, e: str = "alb_easting", n: str = "alb_northing"
) -> list[tuple[str, str]]:
    """(easting, northing) -> (alb_lon, alb_lat): Snyder 14-10/14-11 radial
    inversion, then authalic beta -> geodetic latitude via the closed 3-18
    series (one pass, no iteration — same doctrine as the LCC/LAEA
    inverses). The q/qp ratio is clamped to [-1, 1]: at the authalic pole
    the float ratio can land an ulp outside ASIN's domain."""
    c = ALBERS_CONUS if c is None else c
    sgn = 1.0 if c["n"] >= 0 else -1.0
    return [
        ("abi_dx", f"({e} - {c['fe']!r})"),
        ("abi_dy", f"({c['rho0']!r} - ({n} - {c['fn']!r}))"),
        # Snyder 14-11: for n < 0 the ATAN2 arguments' signs reverse along
        # with rho's — sign-flipping rho alone would compute the wrong
        # longitude for a southern-parallel instance (ADVICE r9). The flip
        # is emitted only when sgn < 0 so the n > 0 instances' oracle SQL
        # stays byte-identical.
        ("abi_rho", f"{sgn!r} * SQRT(abi_dx * abi_dx + abi_dy * abi_dy)"),
        (
            "abi_q",
            f"({c['C']!r} - (abi_rho * {c['n']!r} / {c['a']!r})"
            f" * (abi_rho * {c['n']!r} / {c['a']!r})) / {c['n']!r}",
        ),
        ("abi_sb", f"LEAST(GREATEST(abi_q / {c['qp']!r}, -1.0), 1.0)"),
        ("abi_beta", "ASIN(abi_sb)"),
        (
            "alb_lat",
            f"DEGREES(abi_beta + {c['c2']!r} * SIN(2.0 * abi_beta)"
            f" + {c['c4']!r} * SIN(4.0 * abi_beta)"
            f" + {c['c6']!r} * SIN(6.0 * abi_beta))",
        ),
        (
            "alb_lon",
            f"{c['lon0']!r} + DEGREES(ATAN2("
            + (f"{sgn!r} * abi_dx, {sgn!r} * abi_dy" if sgn < 0 else "abi_dx, abi_dy")
            + f") / {c['n']!r})",
        ),
    ]


def albers_forward_np(lon, lat, c: dict | None = None):
    """Numpy twin of :func:`albers_forward_steps` (tests / anchors)."""
    c = ALBERS_CONUS if c is None else c
    lon = np.asarray(lon, dtype=np.float64)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    s = np.sin(phi)
    q = (1.0 - c["e2"]) * (
        s / (1.0 - c["e2"] * s * s)
        - (1.0 / (2.0 * c["e"])) * np.log((1.0 - c["e"] * s) / (1.0 + c["e"] * s))
    )
    rho = c["a"] * np.sqrt(c["C"] - c["n"] * q) / c["n"]
    th = np.radians(c["n"] * (lon - c["lon0"]))
    return c["fe"] + rho * np.sin(th), c["fn"] + c["rho0"] - rho * np.cos(th)


def albers_inverse_np(e, n, c: dict | None = None):
    """Numpy twin of :func:`albers_inverse_steps`."""
    c = ALBERS_CONUS if c is None else c
    dx = np.asarray(e, dtype=np.float64) - c["fe"]
    dy = c["rho0"] - (np.asarray(n, dtype=np.float64) - c["fn"])
    sgn = 1.0 if c["n"] >= 0 else -1.0
    rho = sgn * np.sqrt(dx * dx + dy * dy)
    q = (c["C"] - (rho * c["n"] / c["a"]) ** 2) / c["n"]
    beta = np.arcsin(np.clip(q / c["qp"], -1.0, 1.0))
    lat = np.degrees(
        beta
        + c["c2"] * np.sin(2.0 * beta)
        + c["c4"] * np.sin(4.0 * beta)
        + c["c6"] * np.sin(6.0 * beta)
    )
    # Snyder 14-11: ATAN2 arguments sign-flip with rho when n < 0 (ADVICE r9)
    lon = c["lon0"] + np.degrees(np.arctan2(sgn * dx, sgn * dy) / c["n"])
    return lon, lat
