"""Scalar function families (SURVEY §2.8) as reusable helpers.

The reference exercises math (log10/powf/abs/clamp/round/sqrt), conditional
guards, string munging, RFC-3339 timestamps, and JSON sidecars; the rebuilt
engine maps them onto `pyspark.sql.functions` one-to-one. These wrappers
bundle the recurring compound shapes so operator code stays terse — every one
is a pure column expression (codegen-fused, pushdown-friendly).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- math -------------------------------------------------------------------


def clamp(x: Column, lo, hi) -> Column:
    """Rust f64::clamp analog (used throughout the reference pipelines)."""
    return F.least(F.greatest(x, F.lit(lo)), F.lit(hi))


def safe_div(num: Column, den: Column, eps: float = 1e-10, default: float = 0.0) -> Column:
    """Zero-denominator-guarded division (ops.rs:16)."""
    return F.when(F.abs(den) > F.lit(eps), num / den).otherwise(F.lit(default))


def magnitude3(x: Column, y: Column, z: Column) -> Column:
    """sqrt(x^2+y^2+z^2) — the platform-velocity shape (sentinel1.rs:1438)."""
    return F.sqrt(x * x + y * y + z * z)


# --- string -----------------------------------------------------------------


def normalized_text(t: Column) -> Column:
    """trim + lowercase + whitespace-collapse (fingerprint normalization)."""
    return F.regexp_replace(F.trim(F.lower(t)), "\\s+", " ")


def count_occurrences(haystack: Column, needle: str) -> Column:
    """Non-overlapping occurrence count via length arithmetic — portable to
    any SQL engine (no regexp_count dependency)."""
    return (
        (F.length(haystack) - F.length(F.regexp_replace(haystack, needle, "")))
        / F.lit(len(needle))
    ).cast("int")
