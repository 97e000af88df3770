"""sarpro_spark product-path benchmark.

    python3 perfbench/run.py --workload safe_synrgb_jpeg --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Generates the workload's seeded inputs
(``gen.py``; reused for a seed already generated), then measures one fresh
Spark session (``child.py``: a new interpreter and JVM, ``build_session`` at
``local[$(nproc)]``). The session warms up with a fixed number of untimed
passes, then runs timed passes one at a time (a closed loop with one client)
for ``--seconds``. Every pass's output is checked outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns Spark's
event log on, runs untraced passes for half of ``--seconds`` and then traced
passes that time each layer's call alone, and prints the per-layer metrics.
WORKLOADS.md defines every metric and says why each workload exists.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. The exit code is nonzero when any output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("safe_synrgb_jpeg", "safe_preview_tiff", "corpus_dedup")
CHILD_TIMEOUT_S = 170

STEP_TIMES = (
    "sources.open", "sources.decode", "operators.kernel", "llm.minhash", "llm.cluster",
    "sinks.write",
)
SPARK_STATS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("jvm_gc_s", "s"),
)


def median(xs) -> float:
    return float(statistics.median(xs))


def run_session(args, work: str, inputs: str, seconds: float) -> dict:
    """Run ``child.py`` in a fresh interpreter and return its record."""
    for d in ("tmp", "eventlog", "spark-local"):
        os.makedirs(os.path.join(work, d))
    record = os.path.join(work, "record.json")
    log = os.path.join(work, "session.log")
    tmp = os.path.join(work, "tmp")
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM="2g",
        # every JVM (spark-submit's launcher too) keeps its temp files in the
        # work dir and writes no hsperfdata file to /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"), "--workload", args.workload,
        "--seed", str(args.seed), "--inputs", inputs, "--work", work,
        "--seconds", str(seconds), "--trace", str(args.trace), "--record", record,
    ]
    with open(log, "w", encoding="utf-8") as fh:
        code = subprocess.run(
            cmd + ["--spawned", repr(time.time())], stdout=fh, stderr=subprocess.STDOUT,
            env=env, timeout=CHILD_TIMEOUT_S,
        ).returncode
    if code != 0:
        with open(log, encoding="utf-8", errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: the measured session exited with {code}")
    with open(record, encoding="utf-8") as fh:
        return json.load(fh)


def end_to_end(rec: dict) -> dict[str, tuple[float, str]]:
    passes = rec["passes"]
    return {
        "setup_s": (rec["setup_s"], "s"),
        "wall_s": (median(p["wall_s"] for p in passes), "s"),
        "heap_after_gc_mb": (rec["heap_after_gc_mb"], "MB"),
        "py_rss_mb": (rec["py_rss_mb"], "MB"),
    }


def printed_only(rec: dict) -> dict[str, tuple[float, str]]:
    """End-to-end figures printed beside the metrics but kept out of the JSON
    line: failed_frac is 0 on a correct program, and cpu_s spread beyond the
    largest bound a metric may have (see WORKLOADS.md)."""
    return {
        "cpu_s": (median(p["cpu_s"] - p["jit_s"] for p in rec["passes"]), "s"),
        "failed_frac": (len(rec["errors"]) / rec["attempted"], "frac"),
    }


def per_layer(rec: dict, raster: bool) -> dict[str, tuple[float, str]]:
    untraced, traced, spark = rec["passes"], rec["traced"], rec["spark"]

    def step(passes, name, key="s"):
        return median(sum(s[key] for s in p["steps"] if s["name"] == name) for p in passes)

    def spark_stat(stat):
        return median(
            sum(v.get(stat, 0.0) for g, v in spark.items() if g.split("|")[0] == p["group"])
            for p in untraced
        )

    m = {f"{name}_s": (step(traced, name), "s") for name in STEP_TIMES}
    codec = rec["codec_ms_per_mpix"]
    m["sources.pixel_rows"] = (step(traced, "sources.decode", "rows") if raster else 0.0, "count")
    m["sources.tiff_decode_ms_per_mpix"] = (codec["tiff_decode"], "ms/Mpix")
    m["sinks.bytes_written"] = (median(p["bytes_written"] for p in untraced), "bytes")
    m["sinks.jpeg_encode_ms_per_mpix"] = (codec["jpeg_encode"], "ms/Mpix")
    m["llm.verified_pairs"] = (step(traced, "llm.minhash", "rows"), "count")
    m["llm.planted_recall"] = (median(p["recall"] for p in untraced), "frac")
    m["llm.cluster_jobs"] = (median(
        spark.get(f"{p['group']}|llm.cluster", {}).get("jobs", 0.0) for p in traced
    ), "count")
    m["driver.construct_s"] = (
        median(sum(s["construct_s"] for s in p["steps"]) for p in untraced), "s"
    )
    for stat, unit in SPARK_STATS:
        m[f"spark.{stat}"] = (spark_stat(stat), unit)
    m["jvm.cpu_s"] = (median(p["jvm_cpu_s"] for p in untraced), "s")
    m["py.cpu_s"] = (median(p["py_cpu_s"] for p in untraced), "s")
    m["jvm.jit_s"] = (median(p["jit_s"] for p in untraced), "s")
    wall = median(p["wall_s"] for p in untraced)
    m["trace.layer_sum_s"] = (median(sum(s["s"] for s in p["steps"]) for p in traced), "s")
    m["trace.untraced_wall_s"] = (wall, "s")
    m["trace.overhead_s"] = (median(p["wall_s"] for p in traced) - wall, "s")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    try:  # the program under test must come from this checkout
        sys.path.insert(0, root)
        import sarpro_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import sarpro_spark from {root}: {e}", file=sys.stderr)
        return 2

    sys.path.insert(0, HERE)
    import gen

    base = os.path.join(root, ".perfbench_work")
    inputs = gen.ensure(base, args.workload, args.seed)
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        seconds = args.seconds / 2 if args.trace else args.seconds
        rec = run_session(args, work, inputs, seconds)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        metrics = per_layer(rec, args.workload in gen.RASTER)
    else:
        metrics = end_to_end(rec)

    for p in rec["warmup"] + rec["passes"] + rec["traced"]:
        print(f"# pass {p['group']:>8}  wall {p['wall_s']:.3f} s  cpu {p['cpu_s']:.2f} s"
              f"  (jvm {p['jvm_cpu_s']:.2f} py {p['py_cpu_s']:.2f})  jit {p['jit_s']:.2f} s")
    for e in rec["errors"]:
        print(f"# CHECK FAILED {e}")
    for name, (value, unit) in (metrics | printed_only(rec)).items():
        print(f"{name:34s} {value:14.4f} {unit}")
    failed, attempted = len(rec["errors"]), rec["attempted"]
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
