"""Partitioning helpers: widen narrow scans without touching the RDD API.

``df.rdd.getNumPartitions()`` forces a DataFrame->RDD plan conversion on every
call (non-free on wide plans, and it pins the plan shape before AQE). The
scan-split heuristic here stays at the catalog level: ``df.inputFiles()``
lists the files feeding the plan's scans without executing or converting
anything, and split count is estimated the way the scan planner does —
``ceil(file_size / spark.sql.files.maxPartitionBytes)`` per file — so one
large parquet file is correctly seen as many splits, not one. A small parquet
table is typically ONE small file == one split == one task, which serializes
every downstream explode/hash; a 100 TB corpus already arrives in thousands
of splits and must NOT be repartitioned (that would add a corpus-wide shuffle
and cap parallelism at defaultParallelism).
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame


def _estimated_splits(df: DataFrame, files: list[str]) -> int:
    """Scan-planner-style split estimate: ceil(size / maxPartitionBytes) per
    file; files that cannot be stat-ed (non-local schemes) count as one."""
    raw = df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    s = raw.strip().lower().removesuffix("b")
    mult = units.get(s[-1:], 1)
    try:
        max_bytes = int(s.rstrip("kmg")) * mult
    except ValueError:
        max_bytes = 128 * 1024 * 1024
    splits = 0
    for f in files:
        parsed = urlparse(f)
        path = parsed.path if parsed.scheme in ("file", "") else None
        try:
            size = os.path.getsize(path) if path else None
        except OSError:
            size = None
        splits += 1 if size is None else max(1, -(-size // max_bytes))
    return splits


def shuffle_partition_count(df: DataFrame) -> int:
    """``spark.sql.shuffle.partitions`` as a number, for a repartition that
    must be given BY NUMBER: a by-number repartition plans as
    REPARTITION_BY_NUM, which AQE must not coalesce, where AQE sizes a
    by-column one by its shuffled bytes. Use it for an exchange whose bytes
    are small but whose downstream work is large (an explode, a CPU-bound
    kernel) — coalesced by its bytes, that work would run in one task.

    Platforms that manage AQE themselves may set the conf to a non-numeric
    value (e.g. ``"auto"``); fall back to the cluster's default parallelism
    rather than crashing on ``int()``."""
    raw = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    try:
        return int(raw)
    except (TypeError, ValueError):
        return int(df.sparkSession.sparkContext.defaultParallelism)


def scan_is_narrow(df: DataFrame, min_parallelism: int | None = None) -> bool:
    """True when ``df`` reads files whose estimated scan-split count is
    below ``min_parallelism`` (default: defaultParallelism).

    Heuristic, deliberately conservative: when the frame is not file-backed
    (``inputFiles()`` empty — in-memory test frames, post-shuffle stages) the
    upstream op that produced it already chose a parallelism, so it is not
    narrow."""
    par = min_parallelism or df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file plans: leave as-is
        return False
    return bool(files) and _estimated_splits(df, files) < par


def widen_if_narrow(
    df: DataFrame,
    key_col: str,
    min_parallelism: int | None = None,
    assume_wide: bool = False,
) -> DataFrame:
    """Repartition ``df`` by ``key_col`` into ``min_parallelism`` (default:
    defaultParallelism) partitions only when :func:`scan_is_narrow`.

    ``assume_wide=True`` is the explicit call-site override for inputs known
    to arrive well-partitioned (a production corpus): skips the heuristic
    entirely and never adds a shuffle."""
    if assume_wide or not scan_is_narrow(df, min_parallelism):
        return df
    return df.repartition(min_parallelism or df.sparkSession.sparkContext.defaultParallelism, key_col)
