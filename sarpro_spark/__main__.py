"""CLI surface mirroring the reference's (src/cli/args.rs:7-77, runner.rs):

    python -m sarpro_spark -i <band-parquet> -o <out-dir> \\
        --polarization vv|vh|hh|hv|multiband --operation sum|diff|ratio|n-diff|log-ratio \\
        --autoscale standard|robust|adaptive|equalized|clahe|tamed|default \\
        --bit-depth 8|16 --format tiff|jpeg --size N --pad \\
        --target-crs auto|EPSG:XXXX|none --resample nearest|bilinear|cubic|lanczos \\
        --continue-on-error

Input is a band frame parquet (product_id, band, row, col, v) — the rebuilt
engine's equivalent of a pre-decoded SAFE measurement set (sources/safe.py
handles discovery/metadata and uncompressed-TIFF decode). Output is
partitioned parquet plus one image file per product in a sibling directory
(``<out>_tiff`` or ``<out>_jpeg``): a GeoTIFF with ``--format tiff`` (W1/W2),
an 8-bit JPEG with ``--format jpeg`` (W3; ``--bit-depth 16`` is rejected),
both via the pure-Python codecs, plus a JSON run report (A9).
"""

from __future__ import annotations

import argparse
import json
import os
import time



def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="sarpro_spark", description=__doc__)
    p.add_argument("-i", "--input", default=None, help="band-frame parquet path")
    p.add_argument("-o", "--output", default=None, help="output directory (parquet)")
    p.add_argument("--polarization", default="vv",
                   choices=["vv", "vh", "hh", "hv", "multiband"])
    p.add_argument("--operation", default=None,
                   choices=["sum", "diff", "ratio", "n-diff", "log-ratio"])
    p.add_argument("--autoscale", default="standard",
                   choices=["standard", "robust", "adaptive", "equalized", "clahe", "tamed", "default"])
    p.add_argument("--bit-depth", type=int, default=8, choices=[8, 16])
    p.add_argument("--format", dest="fmt", default="tiff", choices=["tiff", "jpeg"])
    # reference parity (runner.rs:44-55): --size original -> no resize;
    # --size 0 is an explicit error, not a silent no-op
    p.add_argument("--size", default="original",
                   help="target long side (integer) or 'original'")
    p.add_argument("--pad", action="store_true", help="pad to square")
    p.add_argument("--target-crs", default="auto")
    # reference default: lanczos (core/params.rs:38); the warp maps it to
    # bilinear (sentinel1.rs:937-941)
    p.add_argument("--resample", default="lanczos",
                   choices=["nearest", "bilinear", "cubic", "lanczos", "near"])
    p.add_argument("--gcp-interpolant", default="grid", choices=["grid", "tps"],
                   help="GCP-warp interpolant: exact piecewise-bilinear grid "
                        "(default) or true thin-plate spline (the reference's "
                        "gdalwarp -tps interpolant)")
    p.add_argument("--continue-on-error", action=argparse.BooleanOptionalAction, default=True,
                   help="the reference's batch-mode switch; recorded in the run "
                        "params and presets (the run itself does not consult it)")
    p.add_argument("--master", default=None)
    p.add_argument("--save-preset", default=None, metavar="FILE",
                   help="write the resolved params as a JSON preset and exit "
                        "(unless -i/-o are also given, in which case run too)")
    p.add_argument("--load-preset", default=None, metavar="FILE",
                   help="load a JSON preset as the defaults; explicit flags override")
    return p


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Two-pass parse (reference: GUI preset save/load + generate_cli_command,
    src/gui/models.rs:208-433): pass 1 finds --load-preset; the preset's
    params become the parser DEFAULTS, so flags explicitly present on the
    command line override the preset — the same precedence the reference GUI
    applies when materializing a preset into a CLI invocation."""
    p = _build_parser()
    pre, _ = p.parse_known_args(argv)
    if pre.load_preset:
        from sarpro_spark.types import ProcessingParams

        with open(pre.load_preset) as fh:
            params = ProcessingParams.from_dict(json.load(fh))
        p.set_defaults(**_params_to_argdefaults(params))
    return p.parse_args(argv)


def _params_to_argdefaults(params) -> dict:
    """ProcessingParams -> argparse default overrides (inverse of
    build_params, flag vocabulary of the reference CLI)."""
    return {
        "polarization": params.polarization.value if params.polarization else "vv",
        "operation": params.operation.value if params.operation else None,
        "autoscale": params.autoscale.value,
        "bit_depth": int(params.bit_depth.value),
        "fmt": params.format.value,
        "size": params.size,
        "pad": params.pad,
        "target_crs": params.target_crs if params.target_crs is not None else "none",
        "resample": params.resample_alg.value,
        "continue_on_error": params.continue_on_error,
    }


def params_to_cli(params, input_path: str = "<input>", output_path: str = "<out>") -> list[str]:
    """generate_cli_command analog (src/gui/models.rs:343-433): the argv that
    reproduces ``params`` exactly — parse_args(params_to_cli(p)) ->
    build_params == p (asserted in tests/test_cli.py)."""
    argv = ["-i", input_path, "-o", output_path]
    if params.polarization is not None:
        argv += ["--polarization", params.polarization.value]
    if params.operation is not None:
        argv += ["--operation", params.operation.value]
    argv += ["--autoscale", params.autoscale.value]
    argv += ["--bit-depth", str(int(params.bit_depth.value))]
    argv += ["--format", params.format.value]
    if params.size is not None:
        argv += ["--size", str(params.size)]
    if params.pad:
        argv += ["--pad"]
    argv += ["--target-crs", params.target_crs if params.target_crs is not None else "none"]
    argv += ["--resample", params.resample_alg.value]
    if params.gcp_interpolant != "grid":
        argv += ["--gcp-interpolant", params.gcp_interpolant]
    if not params.continue_on_error:
        argv += ["--no-continue-on-error"]
    return argv


def build_params(args: argparse.Namespace):
    from sarpro_spark.types import (
        AutoscaleStrategy,
        BitDepth,
        OutputFormat,
        Polarization,
        PolarizationOperation,
        ProcessingParams,
        ResampleAlg,
    )

    return ProcessingParams(
        format=OutputFormat(args.fmt),
        bit_depth=BitDepth(args.bit_depth),
        polarization=Polarization(args.polarization),
        operation=PolarizationOperation(args.operation) if args.operation else None,
        autoscale=AutoscaleStrategy(args.autoscale),
        size=_parse_size(args.size),
        pad=args.pad,
        target_crs=None if args.target_crs in ("none", "") else args.target_crs,
        resample_alg=ResampleAlg(args.resample),
        gcp_interpolant=args.gcp_interpolant,
        continue_on_error=args.continue_on_error,
    )


def _parse_size(size: str) -> int | None:
    """Reference CLI size semantics (runner.rs:43-55): 'original' -> None,
    a positive integer -> target long side. The reference parses usize, so
    a negative fails the parse itself (InvalidSize, runner.rs:46-49) and
    zero is a distinct explicit error (ZeroSize, runner.rs:50-52) — mirror
    both so `--size -5` can't flow into the resize as a nonsense target."""
    if size is None or size == "original":
        return None
    try:
        n = int(size)
    except ValueError:
        raise SystemExit(f"invalid size: {size!r} (integer or 'original')")
    if n < 0:
        raise SystemExit(f"invalid size: {size!r} (InvalidSize: must be a non-negative integer)")
    if n == 0:
        raise SystemExit("size must be > 0 (ZeroSize)")
    return n


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    params = build_params(args)
    if args.save_preset:
        with open(args.save_preset, "w") as fh:
            json.dump(params.to_dict(), fh, indent=2)
        if args.input is None or args.output is None:
            print(json.dumps({"preset_saved": args.save_preset}))
            return 0
    if args.input is None or args.output is None:
        raise SystemExit("error: -i/--input and -o/--output are required to run")
    if args.fmt == "jpeg" and args.bit_depth != 8:
        raise SystemExit("error: --format jpeg writes 8-bit images; use --bit-depth 8")
    from sarpro_spark.plans.pipeline import build_pipeline
    from sarpro_spark.session import build_session
    from sarpro_spark.sinks.writers import write_geotiffs, write_jpegs

    spark = build_session("sarpro_spark_cli", master=args.master)
    t0 = time.time()
    band_long = spark.read.parquet(args.input)
    out = build_pipeline(band_long, params)
    out.write.mode("overwrite").partitionBy("product_id").parquet(args.output)
    res = spark.read.parquet(args.output)
    report = {
        "input": args.input,
        "output": args.output,
        "params": params.to_dict(),
        "rows_written": res.count(),
    }
    value_cols = ["q"] if "q" in res.columns else ["r", "g", "b"]
    # sibling dir: an extra subdir inside the parquet root would corrupt
    # partition discovery on read-back
    image_dir = f"{args.output.rstrip('/')}_{args.fmt}"
    if args.fmt == "tiff":
        bits = 8 if (args.bit_depth == 8 or value_cols != ["q"]) else 16
        manifest = write_geotiffs(res, image_dir, ["product_id"], value_cols, bits=bits)
    else:  # quality 100, as the reference's JPEG writer (jpeg.rs:6-30)
        manifest = write_jpegs(res, image_dir, ["product_id"], value_cols, quality=100)
    report[f"{args.fmt}_files"] = manifest.count()
    report[f"{args.fmt}_dir"] = image_dir
    report["elapsed_sec"] = round(time.time() - t0, 3)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
