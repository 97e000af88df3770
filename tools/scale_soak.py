"""sf1 scale soak: honest 10x-scale evidence for the headline queries.

The driver ships sf0.001/0.01/0.1 only, so the 10x dataset is synthesized
HERE as a key-shifted replication of sf0.1 (replica r in 0..9, every id
family offset by r * next_pow2(max_id+1); orderkey offsets are powers of
two >= 2^5 so product_id = l_orderkey % 32 is preserved and each product's
raster grows 10x in rows). region/nation stay fixed (true dims). This
preserves join fan-in shapes and key distributions while scaling fact
cardinality 10x — a timing harness, NOT a correctness surface (the DuckDB
oracle gate runs on driver data only).

Usage:
    python tools/scale_soak.py            # build replica if missing, run, write SOAK json
    python tools/scale_soak.py --rebuild  # force replica rebuild

Output: SOAK_r{N}.json (round inferred; override: SOAK_OUT) at the repo root — per-query sf0.1 and sf1 seconds,
the sf1/sf0.1 ratio, and a scaling verdict (ratio / 10 <= ~1.5 == at most
~1.5x-linear). bench.py embeds the summary into its JSON line so the
driver-recorded BENCH carries the soak evidence.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_SF = "/root/testdata/sf0.1"
SOAK_DIR = os.path.join(REPO, ".soak", "sf1")

from bench import _infer_round  # noqa: E402

OUT_JSON = os.path.join(
    REPO,
    os.environ.get("SOAK_OUT")
    or f"SOAK_r{_infer_round(required='no round artifact to infer from; set SOAK_OUT'):02d}.json",
)
FACTOR = 10

#: id columns to shift, per table (column -> base-key family)
SHIFTS: dict[str, dict[str, str]] = {
    "region": {},
    "nation": {},
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
#: which (table, column) defines each key family's base
FAMILY_SOURCE = {
    "cust": ("customer", "c_custkey"),
    "supp": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"),
    "order": ("orders", "o_orderkey"),
    "event": ("events", "event_id"),
    "user": ("events", "user_id"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
}


def _next_pow2(n: int) -> int:
    p = 1
    while p < n:
        p <<= 1
    return p


def build_replica(spark) -> None:
    from pyspark.sql import functions as F

    bases: dict[str, int] = {}
    for fam, (tbl, col) in FAMILY_SOURCE.items():
        mx = (
            spark.read.parquet(f"{SRC_SF}/{tbl}.parquet")
            .agg(F.max(col))
            .collect()[0][0]
        )
        bases[fam] = _next_pow2(int(mx) + 1)  # pow2 >= 32: preserves % 32
    print(f"# key bases: {bases}", file=sys.stderr)
    reps = spark.range(FACTOR).select(F.col("id").alias("_r"))
    for tbl, shifts in SHIFTS.items():
        src = spark.read.parquet(f"{SRC_SF}/{tbl}.parquet")
        if not shifts:
            out = src  # true dims stay fixed
        else:
            out = src.crossJoin(F.broadcast(reps))
            for col, fam in shifts.items():
                out = out.withColumn(col, F.col(col) + F.col("_r") * bases[fam])
            out = out.drop("_r")
        out.write.mode("overwrite").parquet(f"{SOAK_DIR}/{tbl}.parquet")
        print(f"# built {tbl}: {out.count()} rows", file=sys.stderr)


def run_headline(spark, sf_dir: str, names: list[str], qs) -> dict[str, float]:
    from sarpro_spark import frames

    timings = {}
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    for name in names:
        spark.catalog.clearCache()
        frames._BAND_FRAME_CACHE.clear()
        frames.band_frame(spark, sf_dir).count()
        best = None
        for _ in range(2):
            t0 = time.time()
            n = qs[name](spark, sf_dir).count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        print(f"# {sf_dir.rsplit('/', 1)[-1]} {name}: {best:.3f}s ({n} rows)", file=sys.stderr)
    return timings


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--names", nargs="*", default=None, help="subset of headline queries")
    ap.add_argument("--append", action="store_true",
                    help="merge this run's per-query results into an existing SOAK json")
    args = ap.parse_args()

    from bench import HEADLINE
    from sarpro_spark.queries import spark_queries
    from sarpro_spark.session import build_session

    spark = build_session("sarpro_scale_soak")
    if args.rebuild or not os.path.isdir(SOAK_DIR):
        build_replica(spark)

    qs = spark_queries()
    names = [n for n in (args.names or HEADLINE) if n in qs]
    load0 = os.getloadavg()[0]
    t01 = run_headline(spark, SRC_SF, names, qs)
    t1 = run_headline(spark, SOAK_DIR, names, qs)
    load1 = os.getloadavg()[0]

    queries = {
        n: {
            "sf0.1_sec": t01[n],
            "sf1_sec": t1[n],
            "ratio": round(t1[n] / max(t01[n], 1e-9), 2),
            # vs perfectly-linear 10x; <= ~1.5 means at most ~1.5x-linear.
            # Sub-second sf0.1 queries are dominated by fixed per-query
            # overhead (planning, task launch), so their ratio understates
            # scaling quality rather than overstating it.
            "vs_linear": round(t1[n] / max(t01[n], 1e-9) / FACTOR, 2),
        }
        for n in names
    }
    if args.append and os.path.exists(OUT_JSON):
        with open(OUT_JSON) as fh:
            queries = {**json.load(fh).get("queries", {}), **queries}
    worst = max(queries.items(), key=lambda kv: kv[1]["vs_linear"])
    tot01 = sum(q["sf0.1_sec"] for q in queries.values())
    tot1 = sum(q["sf1_sec"] for q in queries.values())
    out = {
        "factor": FACTOR,
        "replica": "key-shifted sf0.1 x10 (tools/scale_soak.py); NOTE: "
        "replication multiplies duplicate-cluster sizes by 10, so dedup "
        "pair OUTPUTS grow ~100x — a harder-than-linear dedup workload",
        "total_sf0.1_sec": round(tot01, 3),
        "total_sf1_sec": round(tot1, 3),
        "total_ratio": round(tot1 / max(tot01, 1e-9), 2),
        "worst_vs_linear": {"query": worst[0], **worst[1]},
        "loadavg_start": round(load0, 2),
        "loadavg_end": round(load1, 2),
        "queries": queries,
    }
    with open(OUT_JSON, "w") as fh:
        json.dump(out, fh, indent=2)
    print(json.dumps({k: v for k, v in out.items() if k != "queries"}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
