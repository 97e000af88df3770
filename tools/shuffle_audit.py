"""Per-query shuffle/input accounting: the quantitative side of the
"minimize shuffles" doctrine.

Runs each (headline, by default) query once with the Spark UI's REST API
enabled, diffs the application's stage metrics before/after, and records
input bytes, shuffle write bytes, shuffle read bytes and task count per
query into SHUFFLE_r{N}.json (round inferred; override: SHUFFLE_OUT). A query whose shuffle volume is a large
multiple of its input is the one to re-plan; the recorded ratios are the
honest evidence for the plan-shape claims in tools/explain_audit.py.

Usage:
    python tools/shuffle_audit.py                  # headline queries, sf0.1
    python tools/shuffle_audit.py NAME ...         # subset
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from bench import _infer_round  # noqa: E402

OUT_JSON = os.path.join(
    REPO,
    os.environ.get("SHUFFLE_OUT")
    or f"SHUFFLE_r{_infer_round(required='no round artifact to infer from; set SHUFFLE_OUT'):02d}.json",
)
UI_PORT = 4049


#: red line for the max per-task execution memory (hash maps / sort buffers)
#: of any single stage. Sized for the production design point, not the local
#: box: a 1000-executor fleet of 4-8 GiB / 4-core executors gives each task
#: a ~1-2 GiB budget before it spills or OOMs, so a query whose tasks peak
#: past 1 GiB at sf0.1 has no headroom left for the 100x data scale-up.
PEAK_TASK_MEM_BOUND_MB = 1024


def _stages(app_base: str) -> list[dict]:
    url = f"{app_base}/stages?status=complete&withSummaries=true&quantiles=1.0"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def _totals(stages: list[dict]) -> dict[str, int]:
    t = {
        "input_bytes": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
        "tasks": 0, "mem_spill_bytes": 0, "disk_spill_bytes": 0,
        # max over completed stages, not a sum — diffed via max(after)-style
        # handling in the caller (stages are append-only within an app)
        "peak_task_mem_bytes": 0,
        "n_stages": 0,
    }
    for s in stages:
        t["input_bytes"] += s.get("inputBytes", 0)
        t["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        t["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
        t["tasks"] += s.get("numCompleteTasks", 0)
        t["mem_spill_bytes"] += s.get("memoryBytesSpilled", 0)
        t["disk_spill_bytes"] += s.get("diskBytesSpilled", 0)
        t["n_stages"] += 1
    return t


def _peak_task_mem(stages: list[dict], skip_stage_ids: set[tuple]) -> int:
    """Max per-task peakExecutionMemory over the stages NOT in
    skip_stage_ids ((stageId, attemptId) pairs seen before the query ran).
    Requires withSummaries=true; stages missing distributions contribute 0."""
    peak = 0
    for s in stages:
        key = (s.get("stageId"), s.get("attemptId"))
        if key in skip_stage_ids:
            continue
        dist = s.get("taskMetricsDistributions") or {}
        vals = dist.get("peakExecutionMemory") or [0]
        peak = max(peak, int(max(vals)))
    return peak


def _stage_ids(stages: list[dict]) -> set[tuple]:
    return {(s.get("stageId"), s.get("attemptId")) for s in stages}


def main() -> int:
    from bench import HEADLINE
    from sarpro_spark import frames
    from sarpro_spark.queries import spark_queries
    from sarpro_spark.session import build_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(
        "sarpro_shuffle_audit",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            # r12: the default 1000-stage retention EVICTS early stages by
            # the time late queries run, so the before/after totals diff
            # went NEGATIVE for queries late in the run (allpairs showed
            # -64 MB). Retain enough stages for the whole ~100-line run.
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        },
    )
    app_id = spark.sparkContext.applicationId
    base = f"http://localhost:{spark.sparkContext.uiWebUrl.rsplit(':', 1)[-1]}/api/v1/applications/{app_id}"

    qs = spark_queries()
    names = [n for n in (sys.argv[1:] or HEADLINE) if n in qs]
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    out: dict[str, dict] = {}
    for name in names:
        spark.catalog.clearCache()
        frames._BAND_FRAME_CACHE.clear()
        frames.band_frame(spark, sf_dir).count()
        pre_stages = _stages(base)
        before = _totals(pre_stages)
        pre_ids = _stage_ids(pre_stages)
        t0 = time.time()
        n_rows = qs[name](spark, sf_dir).count()
        dt = time.time() - t0
        post_stages = _stages(base)
        after = _totals(post_stages)
        rec = {k: after[k] - before[k] for k in before}
        rec.pop("peak_task_mem_bytes", None)
        rec["rows"] = n_rows
        rec["sec"] = round(dt, 3)
        rec["shuffle_write_mb"] = round(rec.pop("shuffle_write_bytes") / 1048576, 2)
        rec["shuffle_read_mb"] = round(rec.pop("shuffle_read_bytes") / 1048576, 2)
        rec["input_mb"] = round(rec.pop("input_bytes") / 1048576, 2)
        rec["mem_spill_mb"] = round(rec.pop("mem_spill_bytes") / 1048576, 2)
        rec["disk_spill_mb"] = round(rec.pop("disk_spill_bytes") / 1048576, 2)
        # peak per-task execution memory (unsafe hash maps / sort buffers) of
        # this query's stages only — the other 100x killer besides shuffle
        # volume: a task that peaks near its memory budget at sf0.1 spills or
        # OOMs after the scale-up. Max over new stages, not a before/after
        # diff (peaks don't accumulate).
        rec["peak_task_mem_mb"] = round(_peak_task_mem(post_stages, pre_ids) / 1048576, 2)
        rec["peak_mem_ok"] = rec["peak_task_mem_mb"] <= PEAK_TASK_MEM_BOUND_MB
        # shuffle amplification: bytes shuffled per byte scanned (the number
        # that must stay bounded as the corpus grows)
        rec["shuffle_per_input"] = (
            round(rec["shuffle_write_mb"] / rec["input_mb"], 2) if rec["input_mb"] else None
        )
        out[name] = rec
        print(f"# {name}: in {rec['input_mb']} MB, shuffle w {rec['shuffle_write_mb']} MB "
              f"(x{rec['shuffle_per_input']}), peak task {rec['peak_task_mem_mb']} MB, "
              f"spill {rec['mem_spill_mb']}/{rec['disk_spill_mb']} MB, "
              f"{rec['tasks']} tasks, {rec['sec']}s",
              file=sys.stderr)

    over = [k for k, v in out.items() if not v["peak_mem_ok"]]
    doc = {
        "sf_dir": sf_dir,
        "note": "per-query deltas of completed-stage totals from the Spark "
        "REST status API; cache re-warm excluded from the diff only for "
        "timing, included in stage counts when stages complete inside the "
        "window — treat small values as approximate. shuffle_per_input is "
        "INPUT-relative: queries reading cached/grouped-kernel lineages "
        "under-report input, inflating the ratio (dedup_embedding_cosine, "
        "affine_warp_kernels, warp_utm) — judge absolute shuffle_write_mb "
        "for those; the tap-explode constants (4x/16x) bound them",
        "peak_task_mem_bound_mb": PEAK_TASK_MEM_BOUND_MB,
        "peak_mem_violations": over,
        "queries": out,
    }
    with open(OUT_JSON, "w") as fh:
        json.dump(doc, fh, indent=2)
    worst = sorted(
        ((k, v["shuffle_per_input"]) for k, v in out.items() if v["shuffle_per_input"]),
        key=lambda kv: -kv[1],
    )[:5]
    worst_mem = sorted(
        ((k, v["peak_task_mem_mb"]) for k, v in out.items()), key=lambda kv: -kv[1]
    )[:5]
    print(json.dumps({"n": len(out), "worst_shuffle_per_input": worst,
                      "worst_peak_task_mem_mb": worst_mem,
                      "peak_mem_violations": over}))
    if over:
        print(f"# PEAK-MEM BOUND EXCEEDED ({PEAK_TASK_MEM_BOUND_MB} MB): {over}",
              file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
