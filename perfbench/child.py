"""One measured Spark session: start, warm up, timed passes, checks.

``run.py`` starts this script in a fresh interpreter (and so a fresh JVM)
once per run and reads back the JSON record it writes. Not meant to be run
by hand.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import probes  # noqa: E402
import workloads  # noqa: E402

# Untimed warm-up passes, fixed per workload so that both sides of a
# comparison time the same passes. The first pass in a fresh JVM is mostly
# class loading and JIT (jvm.jit_s 11-24 s against 1-9 s for a later pass)
# and compilation keeps decaying for several passes after it; each count is
# what the run's time budget allows, 4-11 s of warm passes after the cold one.
WARMUP_PASSES = {"safe_synrgb_jpeg": 4, "safe_preview_tiff": 6, "corpus_dedup": 4}
MIN_TIMED_PASSES = 3
# the traced run splits its window: untraced baseline passes, then traced ones
TRACED_PASSES = 2


def session(work: str, trace: bool):
    from sarpro_spark.session import build_session

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(work, "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return build_session(app_name="perfbench", extra_conf=conf)


def stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - the JVM must not outlive the run
            proc.kill()
            proc.wait()


def codec_ms_per_mpix(workload) -> dict[str, float]:
    """Single-thread codec cost on this workload's own images: ``load_band``
    over every input measurement TIFF and, for the JPEG workload,
    ``encode_jpeg`` over every reference composite. Median of 3 repeats."""
    from sarpro_spark.sinks.jpeg import encode_jpeg
    from sarpro_spark.sources.safe import load_band

    def median_ms_per_mpix(fn, items, mpix):
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            for it in items:
                fn(it)
            runs.append((time.perf_counter() - t0) * 1e3 / mpix)
        return statistics.median(runs)

    out = {"tiff_decode": 0.0, "jpeg_encode": 0.0}
    cfg = getattr(workload, "cfg", None)
    if cfg is None:
        return out
    tiffs = sorted(glob.glob(os.path.join(workload.inputs, "*.SAFE", "measurement", "*.tiff")))
    out["tiff_decode"] = median_ms_per_mpix(
        lambda p: load_band(p, cfg.get("target")), tiffs, len(tiffs) * cfg["size"] ** 2 / 1e6
    )
    if workload.name == "safe_synrgb_jpeg":
        imgs = list(workload.reference().values())
        out["jpeg_encode"] = median_ms_per_mpix(
            lambda a: encode_jpeg(a, quality=90), imgs, sum(a.shape[0] * a.shape[1] for a in imgs) / 1e6
        )
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--record", required=True)
    a = ap.parse_args()

    me = os.getpid()
    t0 = time.perf_counter()
    wl = workloads.WORKLOADS[a.workload](a.inputs, a.seed)
    ref = wl.reference()
    out_root = os.path.join(a.work, "out")
    # benchmark-only work (reference, output checks) is kept out of setup_s
    rec = {"warmup": [], "passes": [], "traced": [], "attempted": 0, "errors": [],
           "py_rss_mb": 0.0, "bench_s": time.perf_counter() - t0}

    spark = session(a.work, bool(a.trace))
    jvm = probes.Jvm(spark)

    def one_pass(group: str, traced: bool = False) -> dict:
        out = os.path.join(out_root, group)
        shutil.rmtree(out, ignore_errors=True)
        p = workloads.Pass(spark, group, traced)
        cpu0, jit0 = probes.tree_cpu(me), jvm.jit_s()
        t0 = time.perf_counter()
        result = wl.run(spark, out, p)
        wall = time.perf_counter() - t0
        cpu1, jit1 = probes.tree_cpu(me), jvm.jit_s()
        p.close()
        t2 = time.perf_counter()
        attempted, errors = wl.check(result, out, ref)
        rec["attempted"] += attempted
        rec["errors"] += [f"{group}: {e}" for e in errors]
        row = {
            "group": group, "wall_s": wall, "cpu_s": cpu1["total"] - cpu0["total"],
            "jvm_cpu_s": cpu1["jvm"] - cpu0["jvm"], "py_cpu_s": cpu1["py"] - cpu0["py"],
            "jit_s": jit1 - jit0, "steps": p.steps,
            "bytes_written": workloads.output_bytes(out),
            "recall": getattr(wl, "recall", 0.0),
        }
        shutil.rmtree(out, ignore_errors=True)
        rec["py_rss_mb"] = max(rec["py_rss_mb"], probes.python_peak_rss_mb(me))
        rec["bench_s"] += time.perf_counter() - t2
        return row

    for i in range(WARMUP_PASSES[a.workload]):
        rec["warmup"].append(one_pass(f"warmup{i}"))
    rec["setup_s"] = time.time() - a.spawned - rec["bench_s"]

    t_end = time.perf_counter() + a.seconds
    min_passes = TRACED_PASSES if a.trace else MIN_TIMED_PASSES
    while len(rec["passes"]) < min_passes or time.perf_counter() < t_end:
        rec["passes"].append(one_pass(f"timed{len(rec['passes'])}"))
    # forced GCs shrink the heap, so they come after the timed passes
    rec["heap_after_gc_mb"] = jvm.heap_after_gc_mb()
    for i in range(TRACED_PASSES if a.trace else 0):
        rec["traced"].append(one_pass(f"traced{i}", traced=True))

    stop(spark)
    if a.trace:
        (log,) = glob.glob(os.path.join(a.work, "eventlog", "*"))
        rec["spark"] = probes.parse_event_log(log)
        rec["codec_ms_per_mpix"] = codec_ms_per_mpix(wl)
    with open(a.record, "w", encoding="utf-8") as fh:
        json.dump(rec, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
