"""Python worker daemon with Spark's redundant zip importers pruned.

``pyspark/worker_util.py`` calls ``importlib.invalidate_caches()`` once per
TASK (after re-adding the SparkFiles includes), and CPython's zipimport
answers the next import probe by re-reading the ENTIRE zip central
directory of every zipimporter on ``sys.path``. The worker PYTHONPATH that
``PythonWorkerFactory`` builds leads with ``$SPARK_HOME/python/lib/
pyspark.zip`` (3.5 MB, ~2400 entries) and the py4j zip, so every Python
worker task paid ~0.23 s of pure-Python zip-directory re-parsing before
touching any data — measured by cProfile inside the worker
(``zipimport._read_directory``: 3.1 of 5.0 s across 4 trivial 1000-row
tasks; OPTIMIZATION_r13.md has the numbers). The tax is per TASK, fully
serial with the task, and survives worker reuse.

In a pip-installed PySpark those zips duplicate the site-packages install
of the SAME version byte-for-byte, so a worker that imports pyspark/py4j
from site-packages loses nothing. This daemon module (activated via the
``spark.python.daemon.module`` conf in :func:`sarpro_spark.session.
build_session`) drops the two zip entries from ``sys.path`` BEFORE the
first pyspark import — but only after proving both packages still resolve
and that the zip carries the same pyspark version, so a real Spark-distro
deployment (where the zips are NOT redundant) falls back to stock
behavior untouched. With no zipimporters on the path,
``invalidate_caches()`` is O(1) and the per-task tax disappears.

Everything else is stock: the daemon protocol is pyspark's own
``manager()`` loop.
"""

from __future__ import annotations

import re
import sys

_SPARK_CORE_JAR = re.compile(r"spark-core_\d+\.\d+-[^/]+\.jar")


def _version_from_source(src: str) -> str | None:
    """Extract ``__version__`` from version.py source text."""
    m = re.search(r"__version__\s*(?::\s*str\s*)?=\s*['\"]([^'\"]+)['\"]", src)
    return m.group(1) if m else None


def _zip_pyspark_version(zip_path: str) -> str | None:
    """Read ``pyspark/version.py``'s ``__version__`` out of the zip."""
    import zipfile

    try:
        with zipfile.ZipFile(zip_path) as zf:
            src = zf.read("pyspark/version.py").decode("utf-8", "replace")
        return _version_from_source(src)
    except Exception:
        return None


def _prune_spark_zips() -> None:
    import importlib.util

    zips = [
        p
        for p in sys.path
        if (
            p.endswith(".zip")
            and (p.endswith("pyspark.zip") or "py4j" in p.rsplit("/", 1)[-1])
        )
        # PythonUtils.sparkPythonPath also appends SparkContext.jarOfObject
        # (the spark-core assembly jar, thousands of entries) "so pyspark
        # can be imported from the jar" — nothing imports Python code from
        # it when site-packages resolves, but its zipimporter gets
        # re-parsed per task like the zips do. r14 (ADVICE r13): restrict
        # the jar prune to THAT jar — the r13 predicate's precedence made
        # `or p.endswith(".jar")` drop EVERY jar on the worker path, and
        # the restore guard (pyspark/py4j resolve) would not have noticed
        # a user's own Python-in-a-jar going missing. Only the assembly
        # jar's own name (spark-core_<scala>-<version>.jar) matches, not
        # any spark-core* basename.
        or _SPARK_CORE_JAR.fullmatch(p.rsplit("/", 1)[-1])
    ]
    if not zips:
        return
    saved = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    for p in zips:
        while p in sys.path:
            sys.path.remove(p)
        # the zipimporters were already instantiated while python resolved
        # THIS module (the zips lead PYTHONPATH), and importlib.
        # invalidate_caches() iterates sys.path_importer_cache — not
        # sys.path — so the cached importers must go too or every task
        # still re-reads the zip directories. Subdirectory probes cache
        # their own entries (e.g. "<jar>/org"), purge those as well.
        for key in [
            k
            for k in sys.path_importer_cache
            if k == p or k.startswith(p + "/")
        ]:
            sys.path_importer_cache.pop(key, None)
    try:
        ps = importlib.util.find_spec("pyspark")
        pj = importlib.util.find_spec("py4j")
        ok = ps is not None and pj is not None and ps.origin is not None
        if ok:
            # the non-zip pyspark must be the SAME version the zip carries
            zv = next(
                (
                    _zip_pyspark_version(p)
                    for p in zips
                    if p.endswith("pyspark.zip")
                ),
                None,
            )
            if zv is not None:
                # r14 (ADVICE r13): compare by READING version.py next to
                # the resolved package — the r13 `import pyspark` cached
                # the wrong-version package in sys.modules, so the
                # mismatch fallback restored sys.path but the daemon still
                # RAN the site-packages pyspark (exactly the real-distro
                # case the guard exists for). find_spec + file read leave
                # sys.modules untouched; the fallback is now genuinely
                # stock behavior.
                import os.path as _osp

                vfile = _osp.join(_osp.dirname(ps.origin), "version.py")
                try:
                    with open(vfile, encoding="utf-8") as fh:
                        ok = _version_from_source(fh.read()) == zv
                except OSError:
                    ok = False
    except Exception:
        ok = False
    if not ok:
        sys.path[:] = saved
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)


if __name__ == "__main__":
    try:
        _prune_spark_zips()
    except Exception:
        pass  # never block worker startup on the optimization
    from pyspark.daemon import manager

    manager()
