"""Steadiness check: repeat each workload with distinct seeds and compare the
spread of every metric with its bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 --seed0 1000 [--workloads a,b] \\
        [--trace 0|1] [--save runs.json] [--compare earlier.json]

Run from the checkout root. For each metric it prints the median, the first
and third quartiles (``statistics.quantiles(values, n=4)``) and the spread
(q3 - q1) / median. An end-to-end spread above its bound fails (set-up time
excepted, as only its median is compared); above a third of the bound it is
flagged as not yet steady. ``--compare`` also fails any median that is
worse than the saved set's by more than the bound. Exits nonzero on any
failure, including a run that failed or printed a wrong result.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def run_once(cmd: list[str], workload: str, seed: int, seconds: int, trace: int) -> dict:
    args = cmd + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                  "--trace", str(trace)]
    proc = subprocess.run(args, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", default="")
    ap.add_argument("--compare", default="")
    a = ap.parse_args()

    with open("BENCHMARK.json", encoding="utf-8") as fh:
        bench = json.load(fh)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    specs = bench["per_layer" if a.trace else "end_to_end"]
    earlier = {}
    if a.compare:
        with open(a.compare, encoding="utf-8") as fh:
            earlier = json.load(fh)

    values: dict[str, dict[str, list[float]]] = {}
    ok = True
    for w in names:
        values[w] = {s["name"]: [] for s in specs}
        for i in range(a.runs):
            t0 = time.monotonic()
            res = run_once(bench["command"], w, a.seed0 + i, bench["run_seconds"], a.trace)
            took = time.monotonic() - t0
            if not res["correct"] or res["failed"]:
                print(f"{w} seed {a.seed0 + i}: {res['failed']}/{res['attempted']} checks failed")
                ok = False
            for s in specs:
                values[w][s["name"]].append(res["metrics"][s["name"]]["value"])
            print(f"{w} seed {a.seed0 + i} ({took:.0f} s): " + " ".join(
                f"{k}={v[-1]:.4g}" for k, v in values[w].items()), flush=True)

    print(f"{'workload':18s} {'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s}"
          f" {'spread':>7s} {'bound':>6s}  verdict")
    for w in names:
        for s in specs:
            xs = values[w][s["name"]]
            med = statistics.median(xs)
            q1, _q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else 0.0
            bound = s.get("bound")
            verdict = ""
            if bound is not None:
                if s["name"] != "setup_s" and spread > bound:
                    verdict, ok = "FAIL spread", False
                elif spread > bound / 3:
                    verdict = "noisy (> bound/3)"
                else:
                    verdict = "ok"
                before = earlier.get(w, {}).get(s["name"])
                if before:
                    m0 = statistics.median(before)
                    worse = (med - m0) / m0 if s["better"] == "lower" else (m0 - med) / m0
                    verdict += f"; vs saved {worse:+.3f}"
                    if worse > bound:
                        verdict, ok = verdict + " FAIL median", False
            print(f"{w:18s} {s['name']:34s} {med:12.4f} {q1:12.4f} {q3:12.4f}"
                  f" {spread:7.3f} {bound if bound is not None else '':>6}  {verdict}")
    if a.save:
        with open(a.save, "w", encoding="utf-8") as fh:
            json.dump(values, fh)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
