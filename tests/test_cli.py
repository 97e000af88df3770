"""CLI end-to-end: write a band-frame parquet, run python -m sarpro_spark,
read the parquet output back. Also params serialization round-trip (the
reference's GUI preset save/load analog, models.rs:208-341)."""

from __future__ import annotations

import json
import subprocess
import sys

import pytest

from sarpro_spark.types import (
    AutoscaleStrategy,
    BitDepth,
    OutputFormat,
    Polarization,
    PolarizationOperation,
    ProcessingParams,
)


def test_params_roundtrip():
    p = ProcessingParams(
        format=OutputFormat.JPEG,
        bit_depth=BitDepth.U16,
        polarization=Polarization.MULTIBAND,
        operation=PolarizationOperation.N_DIFF,
        autoscale=AutoscaleStrategy.TAMED,
        size=2048,
        pad=True,
        target_crs="EPSG:32632",
    )
    d = p.to_dict()
    q = ProcessingParams.from_dict(json.loads(json.dumps(d)))
    assert q == p


def test_cli_end_to_end(spark, sf_dir, tmp_path):
    from sarpro_spark import frames

    inp = str(tmp_path / "band_long.parquet")
    outp = str(tmp_path / "out")
    frames.band_long(spark, sf_dir).write.parquet(inp)

    proc = subprocess.run(
        [
            sys.executable, "-m", "sarpro_spark",
            "-i", inp, "-o", outp,
            "--polarization", "vv", "--autoscale", "robust",
            "--bit-depth", "16", "--master", "local[4]",
        ],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["rows_written"] > 0
    assert report["params"]["autoscale"] == "robust"

    result = spark.read.parquet(outp)
    assert {"row", "col", "q"} <= set(result.columns)
    qvals = result.agg({"q": "max"}).collect()[0][0]
    assert 0 < qvals <= 65535

    # --format tiff (the default) also emits real per-product GeoTIFFs
    import glob
    import os

    import numpy as np

    from sarpro_spark.sinks import tiff as t

    assert report["tiff_files"] > 0
    tifs = sorted(glob.glob(os.path.join(report["tiff_dir"], "*.tif")))
    assert len(tifs) == report["tiff_files"]
    arr, _ = t.read_tiff(tifs[0])
    assert arr.dtype == np.uint16 and arr.ndim == 2 and arr.size > 0


def test_cli_multiband_jpeg(spark, sf_dir, tmp_path):
    """--format jpeg writes one JPEG per product that decodes back to the
    parquet's r, g and b within the jpeg_roundtrip bound (PSNR >= 30 dB);
    JPEG is 8-bit, so --bit-depth 16 fails loudly."""
    import os

    import numpy as np

    from sarpro_spark import frames
    from sarpro_spark.sinks.jpeg import decode_jpeg

    inp = str(tmp_path / "band_long.parquet")
    outp = str(tmp_path / "out")
    frames.band_long(spark, sf_dir).write.parquet(inp)
    argv = [
        sys.executable, "-m", "sarpro_spark", "-i", inp, "-o", outp,
        "--polarization", "multiband", "--format", "jpeg", "--master", "local[4]",
    ]
    bad = subprocess.run(argv + ["--bit-depth", "16"], capture_output=True, text=True, timeout=300)
    assert bad.returncode != 0 and "8-bit" in bad.stderr

    proc = subprocess.run(argv, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    rgb = spark.read.parquet(outp).toPandas()
    assert report["jpeg_files"] == rgb["product_id"].nunique() > 0
    for pid, px in rgb.groupby("product_id"):
        with open(os.path.join(report["jpeg_dir"], f"{pid}.jpg"), "rb") as fh:
            got = decode_jpeg(fh.read())
        err = got[px["row"], px["col"]].astype(float) - px[["r", "g", "b"]].to_numpy(float)
        psnr = 10 * np.log10(255.0**2 / max(float(np.mean(err**2)), 1e-12))
        assert psnr >= 30.0, (pid, psnr)


def test_preset_save_load_roundtrip(tmp_path):
    """GUI preset analog (models.rs:208-433): --save-preset writes the
    resolved params JSON; --load-preset restores them as defaults with
    explicit flags overriding; params_to_cli regenerates an argv that
    rebuilds the identical ProcessingParams (generate_cli_command)."""
    from sarpro_spark.__main__ import build_params, params_to_cli, parse_args

    preset = str(tmp_path / "p.json")
    # save (no -i/-o: preset-only invocation must not require them)
    proc = subprocess.run(
        [
            sys.executable, "-m", "sarpro_spark",
            "--save-preset", preset,
            "--polarization", "multiband", "--autoscale", "clahe",
            "--bit-depth", "16", "--format", "jpeg", "--size", "512",
            "--pad", "--target-crs", "EPSG:32633", "--resample", "bilinear",
        ],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    saved = json.loads(open(preset).read())
    assert saved["autoscale"] == "clahe" and saved["pad"] is True

    # load: preset drives every pipeline-routing flag
    args = parse_args(["--load-preset", preset])
    p_loaded = build_params(args)
    p_saved = ProcessingParams.from_dict(saved)
    assert p_loaded == p_saved

    # explicit flag overrides the preset (CLI precedence)
    args2 = parse_args(["--load-preset", preset, "--autoscale", "robust"])
    p2 = build_params(args2)
    assert p2.autoscale == AutoscaleStrategy.ROBUST
    assert p2.bit_depth == p_saved.bit_depth  # untouched fields persist

    # generate_cli_command analog: argv -> params -> argv -> params fixpoint
    argv = params_to_cli(p_saved, "in.parquet", "outdir")
    p3 = build_params(parse_args(argv))
    assert p3 == p_saved

    # a preset that turns continue_on_error off survives the argv round trip
    p_stop = ProcessingParams.from_dict({**saved, "continue_on_error": False})
    argv = params_to_cli(p_stop, "in.parquet", "outdir")
    assert "--no-continue-on-error" in argv
    assert build_params(parse_args(argv)) == p_stop
    assert build_params(parse_args(["--load-preset", preset, "--no-continue-on-error"])) == p_stop

    # pipeline route flags equal under save->load (P4 warp-skip routing and
    # friends derive purely from params, so equality IS route equality)
    assert p_loaded.to_dict() == p_saved.to_dict()


def _usage_argvs() -> list[list[str]]:
    """One argv per flag and per listed value of the module docstring's
    usage block, placeholders filled with a valid value."""
    import sarpro_spark.__main__ as cli

    tokens = cli.__doc__.split("\n\n")[1].replace("\\", " ").split()
    tokens = tokens[tokens.index("sarpro_spark") + 1:]  # after "python -m sarpro_spark"
    fill = {"N": "512", "EPSG:XXXX": "EPSG:32633"}
    argvs = []
    for i, tok in enumerate(tokens):
        if not tok.startswith("-"):
            continue
        value = tokens[i + 1] if i + 1 < len(tokens) and not tokens[i + 1].startswith("-") else None
        if value is None:
            argvs.append([tok])
        else:
            argvs += [[tok, fill.get(v, v)] for v in value.split("|")]
    return argvs


def test_usage_block_flags_parse():
    """Every flag and value the usage block advertises is accepted."""
    from sarpro_spark.__main__ import parse_args

    argvs = _usage_argvs()
    assert ["--pad"] in argvs and ["--format", "jpeg"] in argvs
    for argv in argvs:
        try:
            parse_args(argv)
        except SystemExit:
            pytest.fail(f"usage block advertises {' '.join(argv)!r}, which the parser rejects")
