"""NTv2-style grid-shift datum transformation (EPSG method 9615).

The reference delegates every CRS to gdalwarp/PROJ
(/root/reference/src/io/sentinel1.rs:988-1032), which handles
AGD66/NAD27-class datums transparently through NTv2 distortion grids. The
engine's Helmert families (operators/tmerc.py) cover every
7-parameter-expressible datum; this module supplies the remaining
MECHANISM — bilinear interpolation of a lat/lon shift grid — as published
in the public NTv2 specification (National Transformation version 2,
Geodetic Survey of Canada) and EPSG Guidance Note 7-2 method 9615.

Data model (Spark-first): a shift grid is a RELATION ``(i, j, dlat_sec,
dlon_sec)`` plus a constant header ``(lat0, lon0, lat_inc, lon_inc,
n_lat, n_lon)`` — node (i, j) sits at ``(lat0 + i*lat_inc, lon0 +
j*lon_inc)`` and stores the source->target shift in arc-seconds. A real
national grid (e.g. A66 National ~1.4M nodes, ~30 MB) is a bounded
broadcast dimension; the synthetic in-repo fixture (~900 nodes) exercises
the identical plumbing. Interpolation is ONE broadcast hash join against
the cell-grain relation (grid pre-joined so each cell row carries its
four corner shifts) + pure column arithmetic — no shuffle of the point
relation, no UDF, whole-stage codegen; the cell broadcast is shared by
every fixed-point round.

Sign convention: shifts are stored POSITIVE-EAST / POSITIVE-NORTH
(``target = source + shift``). Real NTv2 binary files store longitude
shifts positive-WEST — an importer must negate them on load; the engine-
level relation is always positive-east (documented so the gotcha lives in
exactly one place).

Coverage contract: points outside the grid window get NULL shifts (the
NTv2 spec's "no transformation available"), never an edge-clamped
extrapolation — a silently-wrong coordinate is the failure doctrine this
engine exists to avoid.

Grids are user-supplied data files by design (the real ones are
redistributable but large and jurisdiction-specific); the synthetic
fixture ships in-repo so the mechanism itself is certified end-to-end
(ntv2_roundtrip_points in sources_pack).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sarpro_spark.localrel import local_relation
from sarpro_spark.operators.tmerc import apply_steps

#: synthetic fixture header: south-east Australia window (the AGD66 zone-55
#: region the loud-failure example EPSG:28355 covers), 0.5-degree lattice
SYNTH_HEADER: dict = {
    "lat0": -44.0, "lon0": 140.0,
    "lat_inc": 0.5, "lon_inc": 0.5,
    "n_lat": 29, "n_lon": 31,  # lat -44..-30, lon 140..155 inclusive
}


def synthetic_shift_arrays(hdr: dict | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic smooth shift fields (arc-seconds), shaped like the real
    AGD66->GDA94 transformation (~ +5.6" N, ~ +4.5" E with slow regional
    variation). Smoothness matters: the inverse's fixed-point iteration
    converges at the rate of the field's gradient (~0.03"/node here, as in
    real grids). The fields are evaluated ONCE (grid build); the engine
    twins only ever see the node VALUES as data, so no libm runs inside
    either engine's query. r11: node values are quantized through float32
    AT SOURCE — ``.gsb`` stores float32 nodes, so pinning the fixture at
    the format's own precision makes write_gsb -> read_gsb an exact
    identity and lets certs put the real binary file in the loop without
    changing their hash vs the in-memory grid."""
    h = SYNTH_HEADER if hdr is None else hdr
    i = np.arange(h["n_lat"], dtype=np.float64)[:, None]
    j = np.arange(h["n_lon"], dtype=np.float64)[None, :]
    dlat = 5.60 + 0.020 * i - 0.008 * j + 0.25 * np.sin(0.4 * i) * np.cos(0.3 * j)
    dlon = 4.50 + 0.012 * j + 0.006 * i + 0.20 * np.cos(0.3 * i) * np.sin(0.4 * j)
    return (
        dlat.astype(np.float32).astype(np.float64),
        dlon.astype(np.float32).astype(np.float64),
    )


def synthetic_grid_rows(hdr: dict | None = None) -> list[tuple[int, int, float, float]]:
    dlat, dlon = synthetic_shift_arrays(hdr)
    h = SYNTH_HEADER if hdr is None else hdr
    return [
        (i, j, float(dlat[i, j]), float(dlon[i, j]))
        for i in range(h["n_lat"])
        for j in range(h["n_lon"])
    ]


def synthetic_grid_df(spark: SparkSession, hdr: dict | None = None) -> DataFrame:
    return local_relation(
        spark, synthetic_grid_rows(hdr), "i int, j int, dlat_sec double, dlon_sec double"
    )


def sql_synthetic_grid_cte(name: str = "ntv2grid", hdr: dict | None = None) -> str:
    """DuckDB VALUES twin of :func:`synthetic_grid_df` — same floats (both
    sides are materialized from the same arrays in the same process)."""
    rows = ",\n  ".join(
        f"({i}, {j}, {la!r}, {lo!r})" for i, j, la, lo in synthetic_grid_rows(hdr)
    )
    return f"{name} AS (SELECT * FROM (VALUES\n  {rows}\n) g(i, j, dlat_sec, dlon_sec))"


def grid_cells(grid: DataFrame, materialize: bool = False) -> DataFrame:
    """Pre-join the grid to CELL grain: one row per full cell ``(ci, cj)``
    carrying all four corner shifts (a00/a01/a10/a11 = dlat at the
    +0/+1 index combinations, o* = dlon). Built by three 1-step
    self-joins of the tiny grid relation; every interpolation then needs
    ONE broadcast join instead of four (r10 bench: 16 joins -> 4 across
    the 3-round inverse + forward, 9.7 s -> ~3 s), and the single
    broadcast exchange is reused across all interpolation rounds."""
    g00 = grid.select("i", "j", F.col("dlat_sec").alias("a00"), F.col("dlon_sec").alias("o00"))
    g01 = grid.select("i", (F.col("j") - 1).alias("j"), F.col("dlat_sec").alias("a01"), F.col("dlon_sec").alias("o01"))
    g10 = grid.select((F.col("i") - 1).alias("i"), "j", F.col("dlat_sec").alias("a10"), F.col("dlon_sec").alias("o10"))
    g11 = grid.select((F.col("i") - 1).alias("i"), (F.col("j") - 1).alias("j"), F.col("dlat_sec").alias("a11"), F.col("dlon_sec").alias("o11"))
    # the self-join sides are the grid itself (bounded dimension) — hint
    # them broadcast so the cell build never sort-merges even under static
    # planning (the audit session runs AQE-off)
    cells = (
        g00.join(F.broadcast(g01), ["i", "j"])
        .join(F.broadcast(g10), ["i", "j"])
        .join(F.broadcast(g11), ["i", "j"])
        .select(F.col("i").alias("ci"), F.col("j").alias("cj"),
                "a00", "a01", "a10", "a11", "o00", "o01", "o10", "o11")
    )
    # r13 optimization round, revised in the second session: the first
    # session checkpointed the cell relation because per-round broadcasts
    # re-ran this build and each re-build was expensive — but the expense
    # was the PICKLED-RDD grid scans (one Python worker task per partition
    # per action), not the 3-way join itself. With the grid now an
    # Arrow-backed JVM LocalRelation (localrel.py) the rebuild is trivial
    # JVM work, and an interleaved A/B (3 reps, ckpt vs no-ckpt) measured
    # the eager checkpoint as pure overhead: ntv2_roundtrip_points
    # 3.78 → 3.37 s steady wall (equal CPU), datum_roundtrip_pack equal.
    # The checkpoint job + its InMemoryRelation/AQE boundary are gone;
    # `materialize=True` is kept for callers that want the old behavior
    # (none in-tree after this change).
    if not materialize:
        return cells
    from sarpro_spark.llm.cluster import _checkpointer

    return _checkpointer(cells)(cells)


def _interp_shift(
    pts: DataFrame,
    grid: DataFrame,
    hdr: dict,
    lon: str,
    lat: str,
    p: str,
    cells: DataFrame | None = None,
) -> DataFrame:
    """Bilinear shift interpolation at (``lat``, ``lon``): adds columns
    ``{p}_dlat`` / ``{p}_dlon`` (arc-seconds; NULL outside the grid window).
    One broadcast join against the cell-grain relation fetches all four
    surrounding nodes; the weights and the blend are column arithmetic
    (codegen)."""
    la0, lo0 = hdr["lat0"], hdr["lon0"]
    lai, loi = hdr["lat_inc"], hdr["lon_inc"]
    nla, nlo = hdr["n_lat"], hdr["n_lon"]
    fi = (F.col(lat) - F.lit(la0)) / F.lit(lai)
    fj = (F.col(lon) - F.lit(lo0)) / F.lit(loi)
    # cell index clamped to the last full cell so a point ON the max edge
    # still interpolates (fy/fx = 1.0); truly-outside points are nulled by
    # the inside predicate below, never extrapolated
    i0 = F.least(F.greatest(F.floor(fi).cast("int"), F.lit(0)), F.lit(nla - 2))
    j0 = F.least(F.greatest(F.floor(fj).cast("int"), F.lit(0)), F.lit(nlo - 2))
    inside = (
        (F.col(lat) >= F.lit(la0)) & (F.col(lat) <= F.lit(la0 + (nla - 1) * lai))
        & (F.col(lon) >= F.lit(lo0)) & (F.col(lon) <= F.lit(lo0 + (nlo - 1) * loi))
    )
    # one projection instead of five chained withColumns (r13 second
    # session, guide §7.3: each withColumn re-runs the analyzer on a
    # growing plan); fy/fx reference the i0/j0 EXPRESSIONS directly —
    # identical arithmetic, and codegen CSE shares the duplicated subtree
    out = apply_steps(pts, [
        (f"{p}_i0", i0),
        (f"{p}_j0", j0),
        (f"{p}_fy", fi - i0),
        (f"{p}_fx", fj - j0),
        (f"{p}_in", inside),
    ])
    cellsrc = grid_cells(grid, materialize=False) if cells is None else cells
    corner = cellsrc.select(
        F.col("ci").alias(f"{p}_ci"),
        F.col("cj").alias(f"{p}_cj"),
        *[F.col(f"a{t}").alias(f"{p}_a{t}") for t in ("00", "01", "10", "11")],
        *[F.col(f"o{t}").alias(f"{p}_o{t}") for t in ("00", "01", "10", "11")],
    )
    out = out.join(
        F.broadcast(corner),
        (F.col(f"{p}_i0") == F.col(f"{p}_ci")) & (F.col(f"{p}_j0") == F.col(f"{p}_cj")),
        "left",
    ).drop(f"{p}_ci", f"{p}_cj")
    fy, fx = F.col(f"{p}_fy"), F.col(f"{p}_fx")
    w00 = (1.0 - fy) * (1.0 - fx)
    w01 = (1.0 - fy) * fx
    w10 = fy * (1.0 - fx)
    w11 = fy * fx
    blend = lambda c: (  # noqa: E731 - local blend helper
        w00 * F.col(f"{p}_{c}00") + w01 * F.col(f"{p}_{c}01")
        + w10 * F.col(f"{p}_{c}10") + w11 * F.col(f"{p}_{c}11")
    )
    drop = {f"{p}_{c}{t}" for c in ("a", "o") for t in ("00", "01", "10", "11")}
    drop |= {f"{p}_i0", f"{p}_j0", f"{p}_fy", f"{p}_fx", f"{p}_in"}
    # blend + helper drop in ONE projection (same output columns and order
    # as the old withColumn x2 + drop chain)
    return out.select(
        *[c for c in out.columns if c not in drop],
        F.when(F.col(f"{p}_in"), blend("a")).alias(f"{p}_dlat"),
        F.when(F.col(f"{p}_in"), blend("o")).alias(f"{p}_dlon"),
    )


def grid_shift_forward(
    pts: DataFrame,
    grid: DataFrame,
    hdr: dict | None = None,
    lon: str = "lon",
    lat: str = "lat",
    out_lon: str = "gs_lon",
    out_lat: str = "gs_lat",
    p: str = "gsf",
) -> DataFrame:
    """SOURCE-datum lon/lat -> TARGET (e.g. AGD66 -> GDA94): one bilinear
    interpolation AT THE SOURCE coordinates, shift applied in degrees."""
    h = SYNTH_HEADER if hdr is None else hdr
    out = _interp_shift(pts, grid, h, lon, lat, p)
    return apply_steps(out, [
        (out_lat, F.col(lat) + F.col(f"{p}_dlat") / 3600.0),
        (out_lon, F.col(lon) + F.col(f"{p}_dlon") / 3600.0),
    ])


def grid_shift_inverse(
    pts: DataFrame,
    grid: DataFrame,
    hdr: dict | None = None,
    lon: str = "lon",
    lat: str = "lat",
    out_lon: str = "gsi_lon",
    out_lat: str = "gsi_lat",
    iters: int = 3,
    p: str = "gsi",
) -> DataFrame:
    """TARGET-datum lon/lat -> SOURCE (e.g. GDA94 -> AGD66): the shift is
    defined from SOURCE coordinates, so the inverse is the standard NTv2
    fixed-point iteration ``s_{k+1} = t - shift(s_k)`` seeded with
    ``s_0 = t``. Convergence per round is the shift-field gradient times
    the shift (~1e-4 arc-sec here and for real grids); ``iters=3`` lands
    far below the 1e-9-degree certificate grain. Each round is one
    4-broadcast-join interpolation — the relational twin of PROJ's loop."""
    h = SYNTH_HEADER if hdr is None else hdr
    cells = grid_cells(grid)  # one cell relation: its broadcast exchange is
    cur_lat, cur_lon = F.col(lat), F.col(lon)  # reused by every round
    out = pts
    for k in range(iters):
        step = f"{p}{k}"
        out = apply_steps(out, [(f"{step}_lat", cur_lat), (f"{step}_lon", cur_lon)])
        out = _interp_shift(out, grid, h, f"{step}_lon", f"{step}_lat", step, cells=cells)
        cur_lat = F.col(lat) - F.col(f"{step}_dlat") / 3600.0
        cur_lon = F.col(lon) - F.col(f"{step}_dlon") / 3600.0
    return apply_steps(out, [(out_lat, cur_lat), (out_lon, cur_lon)])


# --- numpy twins (tests / anchors) -------------------------------------------


def interp_shift_np(lon, lat, hdr: dict | None = None, arrays=None):
    """Numpy twin of :func:`_interp_shift` (same clamp + inside rules)."""
    h = SYNTH_HEADER if hdr is None else hdr
    dla, dlo = synthetic_shift_arrays(h) if arrays is None else arrays
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    fi = (lat - h["lat0"]) / h["lat_inc"]
    fj = (lon - h["lon0"]) / h["lon_inc"]
    i0 = np.clip(np.floor(fi).astype(int), 0, h["n_lat"] - 2)
    j0 = np.clip(np.floor(fj).astype(int), 0, h["n_lon"] - 2)
    fy, fx = fi - i0, fj - j0
    inside = (
        (lat >= h["lat0"]) & (lat <= h["lat0"] + (h["n_lat"] - 1) * h["lat_inc"])
        & (lon >= h["lon0"]) & (lon <= h["lon0"] + (h["n_lon"] - 1) * h["lon_inc"])
    )

    def blend(g):
        return (
            (1.0 - fy) * (1.0 - fx) * g[i0, j0]
            + (1.0 - fy) * fx * g[i0, j0 + 1]
            + fy * (1.0 - fx) * g[i0 + 1, j0]
            + fy * fx * g[i0 + 1, j0 + 1]
        )

    dlat = np.where(inside, blend(dla), np.nan)
    dlon = np.where(inside, blend(dlo), np.nan)
    return dlat, dlon


def grid_shift_forward_np(lon, lat, hdr: dict | None = None, arrays=None):
    dlat, dlon = interp_shift_np(lon, lat, hdr, arrays)
    return (
        np.asarray(lon, dtype=np.float64) + dlon / 3600.0,
        np.asarray(lat, dtype=np.float64) + dlat / 3600.0,
    )


def grid_shift_inverse_np(lon, lat, hdr: dict | None = None, arrays=None, iters: int = 3):
    t_lon = np.asarray(lon, dtype=np.float64)
    t_lat = np.asarray(lat, dtype=np.float64)
    s_lon, s_lat = t_lon.copy(), t_lat.copy()
    for _ in range(iters):
        dlat, dlon = interp_shift_np(s_lon, s_lat, hdr, arrays)
        s_lat = t_lat - dlat / 3600.0
        s_lon = t_lon - dlon / 3600.0
    return s_lon, s_lat


# --- DuckDB twin -------------------------------------------------------------


def sql_grid_cells_cte(grid_rel: str = "ntv2grid", name: str = "ntv2cells") -> str:
    """Cell-grain CTE twin of :func:`grid_cells` — one row per full cell
    with all four corner shifts (emitted ONCE per query; every
    interpolation CTE joins it)."""
    return f"""{name} AS MATERIALIZED (
  SELECT g00.i AS ci, g00.j AS cj,
         g00.dlat_sec AS a00, g01.dlat_sec AS a01,
         g10.dlat_sec AS a10, g11.dlat_sec AS a11,
         g00.dlon_sec AS o00, g01.dlon_sec AS o01,
         g10.dlon_sec AS o10, g11.dlon_sec AS o11
  FROM {grid_rel} g00
  JOIN {grid_rel} g01 ON g01.i = g00.i AND g01.j = g00.j + 1
  JOIN {grid_rel} g10 ON g10.i = g00.i + 1 AND g10.j = g00.j
  JOIN {grid_rel} g11 ON g11.i = g00.i + 1 AND g11.j = g00.j + 1
)"""


def sql_interp_shift(
    src_rel: str,
    out: str,
    hdr: dict | None = None,
    lon: str = "lon",
    lat: str = "lat",
    cells_rel: str = "ntv2cells",
    keep: str = "*",
) -> str:
    """One bilinear-interpolation CTE: ``{out}`` = ``{src_rel}`` + columns
    ``dlat_sec`` / ``dlon_sec`` (NULL outside the window) — the exact twin
    of :func:`_interp_shift` (same cell join, same clamp, same blend
    expression shape and term order)."""
    h = SYNTH_HEADER if hdr is None else hdr
    la0, lo0 = float(h["lat0"]), float(h["lon0"])
    lai, loi = float(h["lat_inc"]), float(h["lon_inc"])
    nla, nlo = h["n_lat"], h["n_lon"]
    la_max = la0 + (nla - 1) * lai
    lo_max = lo0 + (nlo - 1) * loi
    return f"""{out}_ix AS (
  SELECT {keep},
         LEAST(GREATEST(CAST(FLOOR(({lat} - {la0!r}) / {lai!r}) AS INTEGER), 0), {nla - 2}) AS i0,
         LEAST(GREATEST(CAST(FLOOR(({lon} - {lo0!r}) / {loi!r}) AS INTEGER), 0), {nlo - 2}) AS j0,
         ({lat} >= {la0!r} AND {lat} <= {la_max!r} AND
          {lon} >= {lo0!r} AND {lon} <= {lo_max!r}) AS inside
  FROM {src_rel}
),
{out} AS (
  SELECT x.* EXCLUDE (i0, j0, inside),
         CASE WHEN x.inside THEN
           (1.0 - (({lat} - {la0!r}) / {lai!r} - x.i0)) * (1.0 - (({lon} - {lo0!r}) / {loi!r} - x.j0)) * c.a00
         + (1.0 - (({lat} - {la0!r}) / {lai!r} - x.i0)) * (({lon} - {lo0!r}) / {loi!r} - x.j0) * c.a01
         + (({lat} - {la0!r}) / {lai!r} - x.i0) * (1.0 - (({lon} - {lo0!r}) / {loi!r} - x.j0)) * c.a10
         + (({lat} - {la0!r}) / {lai!r} - x.i0) * (({lon} - {lo0!r}) / {loi!r} - x.j0) * c.a11
         END AS dlat_sec,
         CASE WHEN x.inside THEN
           (1.0 - (({lat} - {la0!r}) / {lai!r} - x.i0)) * (1.0 - (({lon} - {lo0!r}) / {loi!r} - x.j0)) * c.o00
         + (1.0 - (({lat} - {la0!r}) / {lai!r} - x.i0)) * (({lon} - {lo0!r}) / {loi!r} - x.j0) * c.o01
         + (({lat} - {la0!r}) / {lai!r} - x.i0) * (1.0 - (({lon} - {lo0!r}) / {loi!r} - x.j0)) * c.o10
         + (({lat} - {la0!r}) / {lai!r} - x.i0) * (({lon} - {lo0!r}) / {loi!r} - x.j0) * c.o11
         END AS dlon_sec
  FROM {out}_ix x
  LEFT JOIN {cells_rel} c ON c.ci = x.i0 AND c.cj = x.j0
)"""


def sql_grid_shift_forward(
    src_rel: str,
    out: str,
    hdr: dict | None = None,
    lon: str = "lon",
    lat: str = "lat",
    out_lon: str = "gs_lon",
    out_lat: str = "gs_lat",
    cells_rel: str = "ntv2cells",
) -> str:
    """CTE chain twin of :func:`grid_shift_forward` (ends in ``{out}``)."""
    interp = sql_interp_shift(src_rel, f"{out}_sh", hdr, lon, lat, cells_rel)
    return f"""{interp},
{out} AS (
  SELECT * EXCLUDE (dlat_sec, dlon_sec),
         {lat} + dlat_sec / 3600.0 AS {out_lat},
         {lon} + dlon_sec / 3600.0 AS {out_lon}
  FROM {out}_sh
)"""


def sql_grid_shift_inverse(
    src_rel: str,
    out: str,
    hdr: dict | None = None,
    lon: str = "lon",
    lat: str = "lat",
    out_lon: str = "gsi_lon",
    out_lat: str = "gsi_lat",
    iters: int = 3,
    cells_rel: str = "ntv2cells",
) -> str:
    """CTE chain twin of :func:`grid_shift_inverse` — the fixed-point
    rounds unrolled, one interpolation CTE pair per round (ends in
    ``{out}``)."""
    ctes = [f"{out}_s0 AS (SELECT *, {lat} AS _cur_lat, {lon} AS _cur_lon FROM {src_rel})"]
    cur = f"{out}_s0"
    for k in range(iters):
        step = f"{out}_it{k}"
        ctes.append(
            sql_interp_shift(cur, f"{step}_sh", hdr, "_cur_lon", "_cur_lat", cells_rel)
        )
        ctes.append(
            f"""{step} AS (
  SELECT * EXCLUDE (_cur_lat, _cur_lon, dlat_sec, dlon_sec),
         {lat} - dlat_sec / 3600.0 AS _cur_lat,
         {lon} - dlon_sec / 3600.0 AS _cur_lon
  FROM {step}_sh
)"""
        )
        cur = step
    ctes.append(
        f"""{out} AS (
  SELECT * EXCLUDE (_cur_lat, _cur_lon),
         _cur_lat AS {out_lat}, _cur_lon AS {out_lon}
  FROM {cur}
)"""
    )
    return ",\n".join(ctes)


# --- NTv2 .gsb binary I/O ------------------------------------------------------
# The public NTv2 binary layout (National Transformation v2, Geodetic Survey
# of Canada; also documented in the GDAit developer guide): 16-byte records
# of an 8-char ASCII name + an 8-byte value. Overview header (11 records),
# then per subgrid an 11-record header + GS_COUNT nodes of four float32
# (lat shift, lon shift, lat accuracy, lon accuracy), all in arc-seconds.
# The two traps this loader pins:
#   * longitudes (E_LONG/W_LONG and the per-node lon shift) are POSITIVE
#     WEST — the engine convention is positive-east, so bounds and shifts
#     NEGATE on load (and on write);
#   * nodes start at (S_LAT, E_LONG) with LONGITUDE varying fastest and
#     increasing WESTWARD — the engine's j index increases EASTWARD, so
#     j reverses on load.
# int-valued records (NUM_OREC/NUM_SREC/NUM_FILE/GS_COUNT) are int32 + 4
# pad bytes; float records are float64; string records are 8-char ASCII.

import struct as _struct


def _rec_str(name: str, val: str) -> bytes:
    return name.encode("ascii").ljust(8) + val.encode("ascii").ljust(8)[:8]


def _rec_int(name: str, val: int) -> bytes:
    return name.encode("ascii").ljust(8) + _struct.pack("<i", val) + b"\x00" * 4


def _rec_f64(name: str, val: float) -> bytes:
    return name.encode("ascii").ljust(8) + _struct.pack("<d", val)


def _gsb_subgrid_bytes(hdr: dict, arrays, sub_name: str, parent: str) -> bytes:
    """Serialize one subgrid (11 header records + nodes) in the file's
    conventions: positive-WEST longitudes, nodes longitude-fastest going
    WEST from (S_LAT, E_LONG), float32 shifts, accuracies 0.0."""
    dlat, dlon = synthetic_shift_arrays(hdr) if arrays is None else arrays
    nla, nlo = hdr["n_lat"], hdr["n_lon"]
    s_lat = hdr["lat0"] * 3600.0
    n_lat = (hdr["lat0"] + (nla - 1) * hdr["lat_inc"]) * 3600.0
    # positive-west bounds: engine lon0 (west edge, positive east) maps to
    # the numerically LARGER W_LONG; the east edge to E_LONG
    w_long = -hdr["lon0"] * 3600.0
    e_long = -(hdr["lon0"] + (nlo - 1) * hdr["lon_inc"]) * 3600.0
    recs = [
        _rec_str("SUB_NAME", sub_name), _rec_str("PARENT  ", parent),
        _rec_str("CREATED ", "20260815"), _rec_str("UPDATED ", "20260815"),
        _rec_f64("S_LAT   ", s_lat), _rec_f64("N_LAT   ", n_lat),
        _rec_f64("E_LONG  ", e_long), _rec_f64("W_LONG  ", w_long),
        _rec_f64("LAT_INC ", hdr["lat_inc"] * 3600.0),
        _rec_f64("LONG_INC", hdr["lon_inc"] * 3600.0),
        _rec_int("GS_COUNT", nla * nlo),
    ]
    body = bytearray()
    for i in range(nla):  # S_LAT upward
        for jw in range(nlo):  # E_LONG going WEST = engine j going DOWN
            j = (nlo - 1) - jw
            body += _struct.pack(
                "<ffff", float(dlat[i, j]), float(-dlon[i, j]), 0.0, 0.0
            )
    return b"".join(recs) + bytes(body)


def write_gsb(path: str, hdr: dict | None = None, arrays=None,
              sub_name: str = "SYNTHET1", system_f: str = "AGD66",
              system_t: str = "GDA94", subgrids: list | None = None) -> None:
    """Write a little-endian NTv2 ``.gsb`` file from engine-convention
    grids (positive-east shifts, j increasing east). Default: ONE subgrid
    from ``hdr``/``arrays``. r11: ``subgrids`` writes a NUM_FILE>1 file —
    a list of ``(hdr, arrays, sub_name, parent)`` tuples in file order
    (real files put the national grid first with nested densifications
    after, PARENT naming the containing subgrid). Node shifts quantize to
    float32 (the format's precision); accuracies are written as 0.0
    (unknown), like most published grids' fillers."""
    if subgrids is None:
        subgrids = [(SYNTH_HEADER if hdr is None else hdr, arrays, sub_name, "NONE")]
    out = [
        _rec_int("NUM_OREC", 11), _rec_int("NUM_SREC", 11),
        _rec_int("NUM_FILE", len(subgrids)),
        _rec_str("GS_TYPE ", "SECONDS "), _rec_str("VERSION ", "NTv2.0  "),
        _rec_str("SYSTEM_F", system_f), _rec_str("SYSTEM_T", system_t),
        _rec_f64("MAJOR_F ", 6378160.0), _rec_f64("MINOR_F ", 6356774.719),
        _rec_f64("MAJOR_T ", 6378137.0), _rec_f64("MINOR_T ", 6356752.3141),
    ]
    out.extend(_gsb_subgrid_bytes(h, a, n, p) for h, a, n, p in subgrids)
    with open(path, "wb") as fh:
        fh.write(b"".join(out))


def read_gsb(path: str, subgrid: int = 0) -> tuple[dict, list[tuple[int, int, float, float]]]:
    """Read one subgrid of an NTv2 ``.gsb`` file into the ENGINE convention:
    returns ``(header, rows)`` with header keys matching
    :data:`SYNTH_HEADER` and rows ``(i, j, dlat_sec, dlon_sec)`` with
    positive-EAST lon shifts and j increasing EASTWARD, ready for
    ``spark.createDataFrame(rows, 'i int, j int, dlat_sec double,
    dlon_sec double')``. Endianness is detected from NUM_OREC."""
    with open(path, "rb") as fh:
        buf = fh.read()
    endian = "<" if _struct.unpack_from("<i", buf, 8)[0] == 11 else ">"

    def rint(off): return _struct.unpack_from(endian + "i", buf, off + 8)[0]

    def rf64(off): return _struct.unpack_from(endian + "d", buf, off + 8)[0]

    # GS_TYPE is overview record 4 (offset 48): the spec also permits
    # RADIANS; loading radian shifts as arc-seconds would be silently
    # wrong by ~2e5x, so anything but SECONDS fails loudly (r11 ADVICE)
    gs_type = buf[48 + 8:48 + 16].decode("ascii", "replace").strip()
    if gs_type != "SECONDS":
        raise ValueError(
            f"NTv2 GS_TYPE {gs_type!r} unsupported: this reader pins the "
            "SECONDS convention (radian grids would need unit conversion)"
        )
    n_file = rint(32)
    if not 0 <= subgrid < n_file:
        raise ValueError(f"subgrid {subgrid} out of range (NUM_FILE={n_file})")
    off = 11 * 16
    for _ in range(subgrid):  # skip earlier subgrids
        cnt = rint(off + 10 * 16)
        off += 11 * 16 + cnt * 16
    s_lat, n_lat = rf64(off + 4 * 16), rf64(off + 5 * 16)
    e_long, w_long = rf64(off + 6 * 16), rf64(off + 7 * 16)
    lat_inc, lon_inc = rf64(off + 8 * 16), rf64(off + 9 * 16)
    count = rint(off + 10 * 16)
    nla = int(round((n_lat - s_lat) / lat_inc)) + 1
    nlo = int(round((w_long - e_long) / lon_inc)) + 1
    if nla * nlo != count:
        raise ValueError(f"GS_COUNT {count} != {nla}x{nlo} from bounds/incs")
    hdr = {
        "lat0": s_lat / 3600.0,
        "lon0": -w_long / 3600.0,  # west edge, positive-east degrees
        "lat_inc": lat_inc / 3600.0,
        "lon_inc": lon_inc / 3600.0,
        "n_lat": nla, "n_lon": nlo,
    }
    rows = []
    node = off + 11 * 16
    for i in range(nla):
        for jw in range(nlo):
            a, o = _struct.unpack_from(endian + "ff", buf, node)
            node += 16
            rows.append(((i), (nlo - 1) - jw, float(a), float(-o)))
    rows.sort(key=lambda r: (r[0], r[1]))
    return hdr, rows


def gsb_num_file(path: str) -> int:
    """NUM_FILE (subgrid count) of a ``.gsb`` file, endian-detected."""
    with open(path, "rb") as fh:
        head = fh.read(48)
    endian = "<" if _struct.unpack_from("<i", head, 8)[0] == 11 else ">"
    return _struct.unpack_from(endian + "i", head, 40)[0]


GRID_SCHEMA = "i int, j int, dlat_sec double, dlon_sec double"


def read_gsb_df(spark: SparkSession, path: str, subgrid: int | None = None):
    """Load a ``.gsb`` file straight into the engine's grid convention
    (r11 verdict item 1 — the convenience a user with a real jurisdiction
    grid hits first; the reference consumes ``.gsb`` via PROJ,
    sentinel1.rs:988-1032). With an int ``subgrid``: ``(header, grid_df)``
    ready for grid_shift_forward/inverse. With ``subgrid=None``: a list of
    ``(header, grid_df)`` over ALL subgrids, ready for the multigrid_*
    family (which orders densest-first itself, per the NTv2 selection
    rule). A national grid is bounded dimension data (~30 MB) — fine to
    materialize driver-side and broadcast."""
    if subgrid is not None:
        h, rows = read_gsb(path, subgrid)
        return h, local_relation(spark, rows, GRID_SCHEMA)
    return [
        (h, local_relation(spark, rows, GRID_SCHEMA))
        for h, rows in (read_gsb(path, k) for k in range(gsb_num_file(path)))
    ]


# --- multi-subgrid dispatch ----------------------------------------------------
# Real NTv2 files NEST subgrids: a dense local grid (e.g. a city survey
# adjustment) sits inside the sparse national grid, and the spec selects
# the DENSEST subgrid containing the point. Relationally that selection
# IS a coalesce: interpolate against each grid densest-first — the
# single-grid interpolation already yields NULL outside its window — and
# take the first non-NULL shift. One broadcast cell join per subgrid per
# round; fine for the tens of subgrids real files carry (a header-ranked
# dispatch join would replace the chain if a file ever had hundreds).

#: dense local fixture nested inside SYNTH_HEADER's window (Victoria-ish),
#: 4x denser, deliberately DIFFERENT field so selection is observable
SYNTH_DENSE_HEADER: dict = {
    "lat0": -38.0, "lon0": 144.0,
    "lat_inc": 0.125, "lon_inc": 0.125,
    "n_lat": 17, "n_lon": 25,  # lat -38..-36, lon 144..147 inclusive
}


def synthetic_dense_arrays(hdr: dict | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Dense-subgrid shift field, built the way REAL densifications are:
    the parent grid's bilinear interpolation at the dense nodes (so the
    two branches agree exactly where no local data exists — the dense
    node spacing divides the parent's, so re-interpolating the sampled
    values reproduces the parent field bit-for-bit inside every parent
    cell) PLUS a local distortion bump (~0.3") TAPERED to zero at the
    window edge. The taper is load-bearing: a subgrid that disagrees
    with its parent at the boundary makes the transformation
    discontinuous, and the fixed-point inverse near the edge then
    converges to the WRONG branch (measured 8.5e-5 deg stuck error on an
    untapered fixture) — exactly why the NTv2 spec requires boundary
    agreement."""
    h = SYNTH_DENSE_HEADER if hdr is None else hdr
    i = np.arange(h["n_lat"], dtype=np.float64)[:, None]
    j = np.arange(h["n_lon"], dtype=np.float64)[None, :]
    lat = h["lat0"] + i * h["lat_inc"] + 0.0 * j
    lon = h["lon0"] + j * h["lon_inc"] + 0.0 * i
    base_lat, base_lon = interp_shift_np(lon.ravel(), lat.ravel())
    base_lat = base_lat.reshape(h["n_lat"], h["n_lon"])
    base_lon = base_lon.reshape(h["n_lat"], h["n_lon"])
    taper = (
        np.sin(np.pi * i / (h["n_lat"] - 1)) ** 2
        * np.sin(np.pi * j / (h["n_lon"] - 1)) ** 2
    )
    dlat = base_lat + 0.30 * taper * np.sin(0.25 * i + 0.1 * j)
    dlon = base_lon + 0.25 * taper * np.cos(0.2 * i - 0.15 * j)
    # f32-quantized at source like the parent fixture (exact .gsb identity;
    # the resulting boundary disagreement with the parent field is at most
    # 1 f32 ulp ~ 3e-7 arcsec — six orders below the discontinuity that
    # broke the fixed-point inverse)
    return (
        dlat.astype(np.float32).astype(np.float64),
        dlon.astype(np.float32).astype(np.float64),
    )


def synthetic_dense_rows(hdr: dict | None = None) -> list[tuple[int, int, float, float]]:
    h = SYNTH_DENSE_HEADER if hdr is None else hdr
    dlat, dlon = synthetic_dense_arrays(h)
    return [
        (i, j, float(dlat[i, j]), float(dlon[i, j]))
        for i in range(h["n_lat"])
        for j in range(h["n_lon"])
    ]


def synthetic_dense_df(spark: SparkSession, hdr: dict | None = None) -> DataFrame:
    return local_relation(
        spark, synthetic_dense_rows(hdr), "i int, j int, dlat_sec double, dlon_sec double"
    )


def sql_synthetic_dense_cte(name: str = "ntv2dense", hdr: dict | None = None) -> str:
    rows = ",\n  ".join(
        f"({i}, {j}, {la!r}, {lo!r})" for i, j, la, lo in synthetic_dense_rows(hdr)
    )
    return f"{name} AS (SELECT * FROM (VALUES\n  {rows}\n) g(i, j, dlat_sec, dlon_sec))"


def _densest_first(grids: list) -> list:
    """Order (hdr, grid_df_or_cells) pairs densest-first (smallest
    lat_inc*lon_inc cell area) — the NTv2 selection rule."""
    return sorted(grids, key=lambda g: g[0]["lat_inc"] * g[0]["lon_inc"])


def multigrid_interp(
    pts: DataFrame,
    grids: list,
    lon: str,
    lat: str,
    p: str,
) -> DataFrame:
    """Interpolate the shift from the DENSEST covering subgrid: ``grids``
    is a list of ``(hdr, grid_df)``; adds ``{p}_dlat`` / ``{p}_dlon``
    (NULL when no subgrid covers the point) and ``{p}_gid`` (index into
    the densest-first ordering that supplied the value; NULL when none).
    ``grid_df`` entries may be pre-built cell relations from
    :func:`grid_cells` tagged via ``(hdr, (grid_df, cells_df))``."""
    ordered = _densest_first(grids)
    out = pts
    dlats, dlons, gids = [], [], []
    for gi, (hdr, g) in enumerate(ordered):
        grid_df, cells = (g if isinstance(g, tuple) else (g, None))
        sub = f"{p}g{gi}"
        out = _interp_shift(out, grid_df, hdr, lon, lat, sub, cells=cells)
        dlats.append(F.col(f"{sub}_dlat"))
        dlons.append(F.col(f"{sub}_dlon"))
        gids.append(F.when(F.col(f"{sub}_dlat").isNotNull(), gi))
    return out.select(
        "*",
        F.coalesce(*dlats).alias(f"{p}_dlat"),
        F.coalesce(*dlons).alias(f"{p}_dlon"),
        F.coalesce(*gids).alias(f"{p}_gid"),
    )


def multigrid_shift_forward(
    pts: DataFrame,
    grids: list,
    lon: str = "lon",
    lat: str = "lat",
    out_lon: str = "gs_lon",
    out_lat: str = "gs_lat",
    p: str = "mgf",
) -> DataFrame:
    out = multigrid_interp(pts, grids, lon, lat, p)
    return out.select(
        "*",
        (F.col(lat) + F.col(f"{p}_dlat") / 3600.0).alias(out_lat),
        (F.col(lon) + F.col(f"{p}_dlon") / 3600.0).alias(out_lon),
    )


def multigrid_shift_inverse(
    pts: DataFrame,
    grids: list,
    lon: str = "lon",
    lat: str = "lat",
    out_lon: str = "gsi_lon",
    out_lat: str = "gsi_lat",
    iters: int = 3,
    p: str = "mgi",
) -> DataFrame:
    """Fixed-point inverse over the subgrid family: each round
    RE-DISPATCHES (a point can cross a subgrid boundary between rounds —
    the spec behavior), so the per-round cell broadcasts are built once
    and shared across rounds."""
    ordered = _densest_first(grids)
    shared = [
        (hdr, (g if isinstance(g, tuple) else (g, grid_cells(g))))
        for hdr, g in ordered
    ]
    cur_lat, cur_lon = F.col(lat), F.col(lon)
    out = pts
    for k in range(iters):
        step = f"{p}{k}"
        out = out.select(
            "*", cur_lat.alias(f"{step}_lat"), cur_lon.alias(f"{step}_lon")
        )
        out = multigrid_interp(out, shared, f"{step}_lon", f"{step}_lat", step)
        cur_lat = F.col(lat) - F.col(f"{step}_dlat") / 3600.0
        cur_lon = F.col(lon) - F.col(f"{step}_dlon") / 3600.0
    return out.select(
        "*",
        cur_lat.alias(out_lat),
        cur_lon.alias(out_lon),
        F.col(f"{p}{iters - 1}_gid").alias(f"{p}_gid"),
    )


def sql_multigrid_interp(
    src_rel: str,
    out: str,
    grids: list,
    lon: str = "lon",
    lat: str = "lat",
) -> str:
    """DuckDB twin of :func:`multigrid_interp`: ``grids`` is a
    densest-first-sortable list of ``(hdr, cells_rel)``; emits the
    per-grid interpolation CTE chain and a final ``{out}`` with
    ``dlat_sec`` / ``dlon_sec`` / ``gid`` coalesced densest-first."""
    ordered = _densest_first(grids)
    ctes, cur = [], src_rel
    for gi, (hdr, cells_rel) in enumerate(ordered):
        step = f"{out}_g{gi}"
        ctes.append(sql_interp_shift(cur, step, hdr, lon, lat, cells_rel))
        ctes.append(
            f"""{step}r AS (
  SELECT * EXCLUDE (dlat_sec, dlon_sec),
         dlat_sec AS g{gi}_dlat, dlon_sec AS g{gi}_dlon
  FROM {step}
)"""
        )
        cur = f"{step}r"
    dl = ", ".join(f"g{i}_dlat" for i in range(len(ordered)))
    do = ", ".join(f"g{i}_dlon" for i in range(len(ordered)))
    gid = ", ".join(
        f"CASE WHEN g{i}_dlat IS NOT NULL THEN {i} END" for i in range(len(ordered))
    )
    drops = ", ".join(f"g{i}_dlat, g{i}_dlon" for i in range(len(ordered)))
    ctes.append(
        f"""{out} AS (
  SELECT * EXCLUDE ({drops}),
         COALESCE({dl}) AS dlat_sec,
         COALESCE({do}) AS dlon_sec,
         COALESCE({gid}) AS gid
  FROM {cur}
)"""
    )
    return ",\n".join(ctes)


def sql_multigrid_shift_inverse(
    src_rel: str,
    out: str,
    grids: list,
    lon: str = "lon",
    lat: str = "lat",
    out_lon: str = "gsi_lon",
    out_lat: str = "gsi_lat",
    iters: int = 3,
) -> str:
    """CTE chain twin of :func:`multigrid_shift_inverse` (re-dispatching
    fixed point over the subgrid family; ends in ``{out}`` carrying the
    last round's ``gid``)."""
    ctes = [f"{out}_s0 AS (SELECT *, {lat} AS _cur_lat, {lon} AS _cur_lon FROM {src_rel})"]
    cur = f"{out}_s0"
    for k in range(iters):
        step = f"{out}_it{k}"
        ctes.append(
            sql_multigrid_interp(cur, f"{step}_sh", grids, "_cur_lon", "_cur_lat")
        )
        keep_gid = f", gid AS {out}_gid" if k == iters - 1 else ""
        ctes.append(
            f"""{step} AS (
  SELECT * EXCLUDE (_cur_lat, _cur_lon, dlat_sec, dlon_sec, gid),
         {lat} - dlat_sec / 3600.0 AS _cur_lat,
         {lon} - dlon_sec / 3600.0 AS _cur_lon{keep_gid}
  FROM {step}_sh
)"""
        )
        cur = step
    ctes.append(
        f"""{out} AS (
  SELECT * EXCLUDE (_cur_lat, _cur_lon),
         _cur_lat AS {out_lat}, _cur_lon AS {out_lon}
  FROM {cur}
)"""
    )
    return ",\n".join(ctes)


# --- NADCON .las/.los (second grid FORMAT, r11) --------------------------------
# The public NAD27->NAD83 distortion grids ship as PAIRED Fortran
# direct-access files: .las holds latitude shifts, .los longitude shifts,
# identical headers. Layout (NOAA NADCON docs; GDAL reads it as LOSLAS):
#   record length = 4*(NC+1) bytes; record 0 is the header:
#     bytes 0-55   IDENT   (CHARACTER*56)
#     bytes 56-63  PGM     (CHARACTER*8)
#     bytes 64-67  NC      (int32, columns)
#     bytes 68-71  NR      (int32, rows)
#     bytes 72-75  NZ      (int32, always 1)
#     bytes 76-79  XMIN    (float32 DEGREES, lon of column 0, positive east
#                           — CONUS files carry negative west values)
#     bytes 80-83  DX      (float32 degrees)
#     bytes 84-87  YMIN    (float32 degrees, lat of row 0, SOUTH edge)
#     bytes 88-91  DY      (float32 degrees)
#     bytes 92-95  ANGLE   (float32, 0.0)
#   data record r (r = 1..NR, SOUTH to north) at byte r*reclen: a 4-byte
#   leading slot (row marker, ignored on read) then NC float32 shift
#   values west->east, ARC-SECONDS, positive north (.las) / EAST (.los).
# Contrast with NTv2: values are already positive-east (no negation),
# rows/columns already run the engine's way (no j reversal), but the
# window geometry is FLOAT32 degrees — pick f32-exact origins/increments.

#: synthetic NAD27 fixture: south-central US window (UTM zone 14 region),
#: 0.5-degree lattice, f32-exact geometry
NAD27_HEADER: dict = {
    "lat0": 25.0, "lon0": -109.0,
    "lat_inc": 0.5, "lon_inc": 0.5,
    "n_lat": 25, "n_lon": 33,  # lat 25..37, lon -109..-93 inclusive
}


def nad27_shift_arrays(hdr: dict | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic smooth shift fields (arc-seconds) shaped like the real
    NAD27->NAD83 transformation over the south-central US (lat shifts a
    fraction of an arc-second, lon shifts up to a few arc-seconds, slow
    regional variation). f32-quantized at source so the .las/.los file
    loop is an exact identity (the r11 .gsb doctrine)."""
    h = NAD27_HEADER if hdr is None else hdr
    i = np.arange(h["n_lat"], dtype=np.float64)[:, None]
    j = np.arange(h["n_lon"], dtype=np.float64)[None, :]
    dlat = 0.35 + 0.012 * i - 0.004 * j + 0.15 * np.sin(0.3 * i) * np.cos(0.25 * j)
    dlon = 1.80 + 0.018 * j - 0.007 * i + 0.22 * np.cos(0.35 * i) * np.sin(0.2 * j)
    return (
        dlat.astype(np.float32).astype(np.float64),
        dlon.astype(np.float32).astype(np.float64),
    )


def nad27_grid_rows(hdr: dict | None = None) -> list[tuple[int, int, float, float]]:
    h = NAD27_HEADER if hdr is None else hdr
    dlat, dlon = nad27_shift_arrays(h)
    return [
        (i, j, float(dlat[i, j]), float(dlon[i, j]))
        for i in range(h["n_lat"])
        for j in range(h["n_lon"])
    ]


def sql_nad27_grid_cte(name: str = "nadgrid", hdr: dict | None = None) -> str:
    rows = ",\n  ".join(
        f"({i}, {j}, {la!r}, {lo!r})" for i, j, la, lo in nad27_grid_rows(hdr)
    )
    return f"{name} AS (SELECT * FROM (VALUES\n  {rows}\n) g(i, j, dlat_sec, dlon_sec))"


def _loslas_one(path: str, hdr: dict, vals: np.ndarray, ident: str, pgm: str) -> None:
    nc, nr = hdr["n_lon"], hdr["n_lat"]
    reclen = 4 * (nc + 1)
    if reclen < 96:
        # the Fortran direct-access layout gives EVERY record the data
        # record's length, and the 96-byte header must fit record 0 —
        # NC < 23 grids are unrepresentable (all real NADCON grids are far
        # wider); surfaced by the r11 grid-format property test
        raise ValueError(
            f"NADCON record length 4*(NC+1)={reclen} cannot hold the 96-byte "
            "header: grids need NC >= 23 columns in this format"
        )
    head = bytearray(reclen)
    head[0:56] = ident.encode("ascii").ljust(56)[:56]
    head[56:64] = pgm.encode("ascii").ljust(8)[:8]
    _struct.pack_into("<iii", head, 64, nc, nr, 1)
    _struct.pack_into(
        "<fffff", head, 76,
        hdr["lon0"], hdr["lon_inc"], hdr["lat0"], hdr["lat_inc"], 0.0,
    )
    out = bytearray(bytes(head))
    for r in range(nr):  # south to north
        rec = bytearray(reclen)
        _struct.pack_into("<f", rec, 0, float(r + 1))  # row marker slot
        _struct.pack_into(f"<{nc}f", rec, 4, *(float(v) for v in vals[r]))
        out += rec
    with open(path, "wb") as fh:
        fh.write(bytes(out))


def write_loslas(las_path: str, los_path: str, hdr: dict | None = None,
                 arrays=None, ident: str = "NAD27 to NAD83 synthetic fixture",
                 pgm: str = "NADCON") -> None:
    """Write a paired NADCON ``.las``/``.los`` grid from an
    engine-convention grid (arc-seconds, positive north/east)."""
    h = NAD27_HEADER if hdr is None else hdr
    dlat, dlon = nad27_shift_arrays(h) if arrays is None else arrays
    _loslas_one(las_path, h, dlat, ident, pgm)
    _loslas_one(los_path, h, dlon, ident, pgm)


def _loslas_header(buf: bytes, path: str) -> tuple[dict, int, int]:
    nc, nr, nz = _struct.unpack_from("<iii", buf, 64)
    if nz != 1:
        raise ValueError(f"{path}: NADCON NZ {nz} != 1")
    xmin, dx, ymin, dy, angle = _struct.unpack_from("<fffff", buf, 76)
    if angle != 0.0:
        raise ValueError(f"{path}: NADCON ANGLE {angle} != 0 unsupported")
    hdr = {
        "lat0": float(ymin), "lon0": float(xmin),
        "lat_inc": float(dy), "lon_inc": float(dx),
        "n_lat": nr, "n_lon": nc,
    }
    return hdr, nc, nr


def read_loslas(las_path: str, los_path: str) -> tuple[dict, list[tuple[int, int, float, float]]]:
    """Read a paired NADCON ``.las``/``.los`` grid into the engine
    convention — the SAME ``(header, rows)`` contract as :func:`read_gsb`,
    so the second format drops into every grid-shift operator unchanged
    (r11 verdict item 2). The two files' headers must agree exactly: a
    mixed pair (e.g. conus.las with hawaii.los) would interpolate
    inconsistent fields, so it fails loudly."""
    with open(las_path, "rb") as fh:
        las = fh.read()
    with open(los_path, "rb") as fh:
        los = fh.read()
    for path, buf in ((las_path, las), (los_path, los)):
        if len(buf) < 96:
            raise ValueError(f"{path}: too short to carry a NADCON header")
    hdr, nc, nr = _loslas_header(las, las_path)
    hdr2, _, _ = _loslas_header(los, los_path)
    if hdr != hdr2:
        raise ValueError(
            f"NADCON pair mismatch: {las_path} header {hdr} != {los_path} header {hdr2}"
        )
    reclen = 4 * (nc + 1)
    expected = reclen * (nr + 1)
    for path, buf in ((las_path, las), (los_path, los)):
        if len(buf) < expected:
            raise ValueError(
                f"{path}: truncated NADCON file ({len(buf)} < {expected} bytes)"
            )
    rows = []
    for i in range(nr):
        a = _struct.unpack_from(f"<{nc}f", las, (i + 1) * reclen + 4)
        o = _struct.unpack_from(f"<{nc}f", los, (i + 1) * reclen + 4)
        rows.extend((i, j, float(a[j]), float(o[j])) for j in range(nc))
    return hdr, rows


def read_loslas_df(spark: SparkSession, las_path: str, los_path: str):
    """NADCON pair -> ``(header, grid_df)`` in the engine grid convention
    (the .las/.los twin of :func:`read_gsb_df`)."""
    hdr, rows = read_loslas(las_path, los_path)
    return hdr, local_relation(spark, rows, GRID_SCHEMA)


# --- PROJ GeoTIFF grids (third grid FORMAT, r11) -------------------------------
# Modern PROJ distributes its datum grids as cloud-optimized GeoTIFFs (the
# public "Geodetic TIFF grids" spec, proj.org/specifications/
# geodetictiffgrids.html): a horizontal_offset grid is a 2-band float32
# raster — band 1 = latitude offset, band 2 = longitude offset, arc-seconds,
# POSITIVE EAST (no NTv2-style negation) — georeferenced by the standard
# ModelPixelScale/ModelTiepoint tags with node centers at pixel centers.
# The format trap this loader pins: GeoTIFF rasters are NORTH-UP (row 0 =
# northmost latitude, negative y pixel scale), while the engine's i index
# increases NORTHWARD from lat0 — rows REVERSE on load (vs NTv2 where the
# j columns reversed). The reader uses the in-repo TIFF codec
# (sinks/tiff.py, float32 SampleFormat support added r11), so no external
# raster library is involved.


def write_gtg(path: str, hdr: dict | None = None, arrays=None) -> None:
    """Write an engine-convention grid as a PROJ-style 2-band float32
    GeoTIFF (band 1 dlat_sec, band 2 dlon_sec, north-up, node centers at
    pixel centers)."""
    from sarpro_spark.sinks.tiff import write_tiff

    h = SYNTH_HEADER if hdr is None else hdr
    dlat, dlon = synthetic_shift_arrays(h) if arrays is None else arrays
    stack = np.stack(
        [np.asarray(dlat, dtype=np.float64), np.asarray(dlon, dtype=np.float64)],
        axis=-1,
    ).astype(np.float32)
    # engine i increases NORTH; GeoTIFF rows run north-up -> flip rows
    stack = stack[::-1, :, :]
    lat_max = h["lat0"] + (h["n_lat"] - 1) * h["lat_inc"]
    gt = (
        h["lon0"] - h["lon_inc"] / 2.0, h["lon_inc"], 0.0,
        lat_max + h["lat_inc"] / 2.0, 0.0, -h["lat_inc"],
    )
    write_tiff(
        path, np.ascontiguousarray(stack), geotransform=gt,
        description="horizontal_offset arc-seconds (lat,lon) positive-east",
    )


def read_gtg(path: str) -> tuple[dict, list[tuple[int, int, float, float]]]:
    """Read a PROJ-style 2-band horizontal-offset GeoTIFF into the engine
    convention — the SAME ``(header, rows)`` contract as :func:`read_gsb`
    and :func:`read_loslas`, so the third format drops into every
    grid-shift operator unchanged. Rows reverse on load (north-up file ->
    south-origin engine i); shifts pass through (the format is already
    positive-east arc-seconds)."""
    from sarpro_spark.sinks.tiff import read_tiff

    arr, meta = read_tiff(path)
    if arr.ndim != 3 or arr.shape[2] != 2:
        raise ValueError(
            f"{path}: expected a 2-band horizontal_offset grid, got shape {arr.shape}"
        )
    if arr.dtype != np.float32:
        raise ValueError(f"{path}: expected float32 offsets, got {arr.dtype}")
    gt = meta.get("geotransform")
    if gt is None:
        raise ValueError(f"{path}: no ModelPixelScale/ModelTiepoint georeferencing")
    g0, g1, _, g3, _, g5 = gt
    if g5 >= 0:
        raise ValueError(f"{path}: expected a north-up grid (negative y scale)")
    nla, nlo = arr.shape[0], arr.shape[1]
    lat_inc, lon_inc = -g5, g1
    hdr = {
        "lat0": (g3 + g5 / 2.0) - (nla - 1) * lat_inc,  # south edge
        "lon0": g0 + g1 / 2.0,
        "lat_inc": lat_inc, "lon_inc": lon_inc,
        "n_lat": nla, "n_lon": nlo,
    }
    flipped = arr[::-1, :, :]  # back to engine row order (i increases north)
    rows = [
        (i, j, float(flipped[i, j, 0]), float(flipped[i, j, 1]))
        for i in range(nla)
        for j in range(nlo)
    ]
    return hdr, rows


def read_gtg_df(spark: SparkSession, path: str):
    """PROJ GeoTIFF grid -> ``(header, grid_df)`` in the engine grid
    convention (the GTG twin of :func:`read_gsb_df` / :func:`read_loslas_df`)."""
    hdr, rows = read_gtg(path)
    return hdr, local_relation(spark, rows, GRID_SCHEMA)
