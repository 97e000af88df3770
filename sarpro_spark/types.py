"""Closed enum vocabulary + processing parameters.

Mirrors the reference's type system (``/root/reference/src/types.rs`` and
``src/core/params.rs:7-41``) as Python enums / a dataclass. Enum *values* are
the lowercase strings used in DataFrame columns, so validation is a simple
``isin`` and configs serialize naturally to JSON.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum


class PolarizationOperation(str, Enum):
    # reference: src/types.rs:7-14
    SUM = "sum"
    DIFF = "diff"
    RATIO = "ratio"
    N_DIFF = "n-diff"
    LOG_RATIO = "log-ratio"


class Polarization(str, Enum):
    # reference: src/types.rs:29-37
    VV = "vv"
    VH = "vh"
    HH = "hh"
    HV = "hv"
    MULTIBAND = "multiband"


class AutoscaleStrategy(str, Enum):
    # reference: src/types.rs:114-123
    STANDARD = "standard"
    ROBUST = "robust"
    ADAPTIVE = "adaptive"
    EQUALIZED = "equalized"
    CLAHE = "clahe"
    TAMED = "tamed"
    DEFAULT = "default"


class BitDepth(int, Enum):
    # reference: src/types.rs:170-173
    U8 = 8
    U16 = 16


class OutputFormat(str, Enum):
    # reference: src/types.rs:162-165
    TIFF = "tiff"
    JPEG = "jpeg"


class SyntheticRgbMode(str, Enum):
    # reference: src/types.rs:175-182
    DEFAULT = "default"
    RGB_RATIO = "rgb-ratio"  # placeholder in reference (todo!), routes to DEFAULT
    SAR_URBAN = "sar-urban"  # placeholder in reference (todo!), routes to DEFAULT
    ENHANCED = "enhanced"  # placeholder in reference (todo!), routes to DEFAULT


class ResampleAlg(str, Enum):
    # reference CLI strings: src/cli/runner.rs:61-67 accepts
    # nearest|bilinear|cubic|lanczos. For the WARP the reference maps
    # Lanczos to bilinear (sentinel1.rs:937-941 `_ => "bilinear"`) —
    # Lanczos proper is the RESIZE kernel (resize.rs). This engine warps
    # with the true 36-tap Lanczos3 instead (plans.pipeline.resample_kernel
    # -> geometry.resample_gather); `-r bilinear` gives the reference's
    # warp output.
    NEAREST = "nearest"
    BILINEAR = "bilinear"
    CUBIC = "cubic"
    LANCZOS = "lanczos"

    @classmethod
    def _missing_(cls, value):
        # accept the gdalwarp-style short form used in earlier presets
        if value == "near":
            return cls.NEAREST
        return None


# Numeric constants of the reference dataflow (single source of truth for both
# the Spark expressions and the generated oracle SQL).
EPS_INTENSITY = 1e-10  # dB floor + zero-denominator guard (pipeline.rs:19, ops.rs:16)
DB_VALID_THRESHOLD = -50.0  # validity predicate (pipeline.rs:23)
HIST_NUM_BINS = 4096  # histogram bins (autoscale.rs:103)
F64_EPSILON = 2.220446049250313e-16  # degenerate all-equal check (autoscale.rs:81)


@dataclass
class ProcessingParams:
    """Pipeline configuration (reference: src/core/params.rs:7-41).

    Drives DataFrame DAG construction in :mod:`sarpro_spark.plans`.
    """

    format: OutputFormat = OutputFormat.TIFF
    bit_depth: BitDepth = BitDepth.U8
    polarization: Polarization | None = None
    operation: PolarizationOperation | None = None
    autoscale: AutoscaleStrategy = AutoscaleStrategy.STANDARD
    synrgb_mode: SyntheticRgbMode = SyntheticRgbMode.DEFAULT
    size: int | None = None  # target long side
    pad: bool = False
    target_crs: str | None = None
    # Reference default is LANCZOS (core/params.rs:38, api/mod.rs:498); the
    # warp maps it to bilinear (sentinel1.rs:937-941), so a default-invocation
    # warp runs bilinear on both engines. Cubic stays available via
    # `--resample cubic`.
    resample_alg: ResampleAlg = ResampleAlg.LANCZOS
    # GCP-warp interpolant: 'grid' (exact piecewise-bilinear GCP grid — the
    # certified default) or 'tps' (true thin-plate spline, the interpolant
    # the reference's gdalwarp -tps fallback fits; sentinel1.rs:1016-1029).
    gcp_interpolant: str = "grid"
    continue_on_error: bool = True
    extra: dict = field(default_factory=dict)

    def to_dict(self) -> dict:
        d = {
            "format": self.format.value,
            "bit_depth": int(self.bit_depth.value),
            "polarization": self.polarization.value if self.polarization else None,
            "operation": self.operation.value if self.operation else None,
            "autoscale": self.autoscale.value,
            "synrgb_mode": self.synrgb_mode.value,
            "size": self.size,
            "pad": self.pad,
            "target_crs": self.target_crs,
            "resample_alg": self.resample_alg.value,
            "gcp_interpolant": self.gcp_interpolant,
            "continue_on_error": self.continue_on_error,
        }
        d.update(self.extra)
        return d

    @classmethod
    def from_dict(cls, d: dict) -> "ProcessingParams":
        known = {
            "format": OutputFormat(d.get("format", "tiff")),
            "bit_depth": BitDepth(int(d.get("bit_depth", 8))),
            "polarization": Polarization(d["polarization"]) if d.get("polarization") else None,
            "operation": PolarizationOperation(d["operation"]) if d.get("operation") else None,
            "autoscale": AutoscaleStrategy(d.get("autoscale", "standard")),
            "synrgb_mode": SyntheticRgbMode(d.get("synrgb_mode", "default")),
            "size": d.get("size"),
            "pad": bool(d.get("pad", False)),
            "target_crs": d.get("target_crs"),
            "resample_alg": ResampleAlg(d.get("resample_alg", "lanczos")),
            "gcp_interpolant": d.get("gcp_interpolant", "grid"),
            "continue_on_error": bool(d.get("continue_on_error", True)),
        }
        extra = {k: v for k, v in d.items() if k not in known}
        return cls(**known, extra=extra)
