"""pydaemon: the per-task zipimport tax and its guard rails.

The custom worker daemon (spark.python.daemon.module) removes the
pyspark.zip / py4j zip / spark-core jar entries from the worker sys.path —
pyspark's worker_util calls importlib.invalidate_caches() once per TASK
and every zipimporter on the path re-reads its whole central directory at
the next import probe (~0.23 s of Python CPU per task before the fix).
These tests pin (1) the end-to-end effect inside real workers, (2) the
prune's version guard, which must refuse to prune when the zip carries a
DIFFERENT pyspark version (a real Spark-distro deployment where the zip
is not redundant).
"""

from __future__ import annotations

import os
import sys
import zipfile

import pandas as pd
import pytest

from sarpro_spark import pydaemon


def test_workers_run_without_spark_zip_importers(spark):
    """End-to-end: inside a real Python worker task, no pyspark.zip/py4j
    zip/jar sys.path entries remain, and pyspark still resolves (the UDF
    machinery itself is the proof)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def worker_paths(s: pd.Series) -> pd.Series:
        import json
        import sys as worker_sys

        bad = [
            p
            for p in worker_sys.path
            if p.endswith(".jar")
            or p.endswith("pyspark.zip")
            or ("py4j" in p.rsplit("/", 1)[-1] and p.endswith(".zip"))
        ]
        return pd.Series([json.dumps(bad)] * len(s))

    row = spark.range(0, 1, 1, 1).select(worker_paths("id").alias("p")).collect()
    assert row[0]["p"] == "[]"


def test_prune_is_guarded_by_version_match(tmp_path, monkeypatch):
    """A pyspark.zip carrying a DIFFERENT version must NOT be pruned —
    that is the real-distro case where the zip is not redundant."""
    fake = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(fake, "w") as zf:
        zf.writestr("pyspark/version.py", '__version__: str = "0.0.0-fake"\n')
    monkeypatch.setattr(sys, "path", [str(fake)] + list(sys.path))
    pydaemon._prune_spark_zips()
    assert str(fake) in sys.path  # guard refused: version mismatch


def test_prune_removes_matching_version_zip(tmp_path, monkeypatch):
    import pyspark

    real = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(real, "w") as zf:
        zf.writestr(
            "pyspark/version.py", f'__version__: str = "{pyspark.__version__}"\n'
        )
    monkeypatch.setattr(sys, "path", [str(real)] + list(sys.path))
    pydaemon._prune_spark_zips()
    assert str(real) not in sys.path


def test_mismatch_guard_never_imports_pyspark(tmp_path, monkeypatch):
    """r14 (ADVICE r13 medium): the version guard must not `import pyspark`
    — doing so cached the site-packages (wrong-version) package in
    sys.modules, so after the fallback restored sys.path the daemon still
    RAN the wrong pyspark. The guard now reads version.py off the resolved
    spec; with pyspark absent from sys.modules it must stay absent."""
    fake = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(fake, "w") as zf:
        zf.writestr("pyspark/version.py", '__version__: str = "0.0.0-fake"\n')
    monkeypatch.setattr(sys, "path", [str(fake)] + list(sys.path))
    saved = {
        k: sys.modules.pop(k)
        for k in list(sys.modules)
        if k == "pyspark" or k.startswith("pyspark.")
    }
    try:
        pydaemon._prune_spark_zips()
        assert str(fake) in sys.path  # guard refused: version mismatch
        assert "pyspark" not in sys.modules  # ...without importing it
    finally:
        sys.modules.update(saved)


def test_jar_prune_restricted_to_spark_core(tmp_path, monkeypatch):
    """r14 (ADVICE r13 low): only the spark-core assembly jar is pruned —
    a user's own Python-shipped-in-a-jar PYTHONPATH entry must survive."""
    user = tmp_path / "userlib.jar"
    user.write_bytes(b"PK\x05\x06" + b"\x00" * 18)
    core = tmp_path / "spark-core_2.13-4.1.2.jar"
    core.write_bytes(b"PK\x05\x06" + b"\x00" * 18)
    # a spark-core* name that is not the assembly jar's pattern survives too
    lookalike = tmp_path / "spark-core-utils.jar"
    lookalike.write_bytes(b"PK\x05\x06" + b"\x00" * 18)
    monkeypatch.setattr(
        sys, "path", [str(user), str(core), str(lookalike)] + list(sys.path)
    )
    pydaemon._prune_spark_zips()
    assert str(user) in sys.path
    assert str(lookalike) in sys.path
    assert str(core) not in sys.path


def test_zip_version_reader(tmp_path):
    z = tmp_path / "v.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("pyspark/version.py", '__version__ = "9.9.9"\n')
    assert pydaemon._zip_pyspark_version(str(z)) == "9.9.9"
    assert pydaemon._zip_pyspark_version(str(tmp_path / "missing.zip")) is None
