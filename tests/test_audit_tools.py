"""The plan-audit gates are load-bearing (they are what keeps scale
hazards out of the engine) — so the gates themselves get tests."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

_spec = importlib.util.spec_from_file_location(
    "explain_audit",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "explain_audit.py"),
)
ea = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ea)


def test_broadcast_gate_clean_on_real_tree():
    assert ea.audit_broadcast_sites() == []


def test_every_registered_query_has_plan_spec():
    """r13 (verdict item 9): the r12 ratchet made 'every registered query
    carries a dedicated plan-shape assertion' an invariant — enforce it so
    a new registration can't drift in spec-less (main() only prints 'no
    audit spec' and keeps rc=0 for unlisted names)."""
    from sarpro_spark.queries import spark_queries

    missing = sorted(n for n in spark_queries() if ea.AUDITS.get(n) is None)
    assert missing == [], f"registered queries without a plan spec: {missing}"


def test_broadcast_gate_rejects_sf_scaling_names(monkeypatch):
    # an allowlist review naming an SF-scaling relation is invalid even if
    # the grain claims 'constant' — the r5 failure mode
    bad = dict(ea.BROADCAST_ALLOW)
    bad[("queries_relational.py", "n")] = ("constant", "the customer dim")
    monkeypatch.setattr(ea, "BROADCAST_ALLOW", bad)
    problems = ea.audit_broadcast_sites()
    assert any("SF-scaling" in p and "customer" in p for p in problems)


def test_broadcast_gate_rejects_bad_grain_and_stale(monkeypatch):
    bad = dict(ea.BROADCAST_ALLOW)
    bad[("llm/text.py", "freqs")] = ("huge", "capped vocab")
    bad[("llm/text.py", "ghost")] = ("constant", "no such site")
    monkeypatch.setattr(ea, "BROADCAST_ALLOW", bad)
    problems = ea.audit_broadcast_sites()
    assert any("grain 'huge'" in p for p in problems)
    assert any("matches no F.broadcast site" in p for p in problems)


def test_broadcast_gate_flags_unreviewed_scaling_site(tmp_path, monkeypatch):
    # a NEW F.broadcast of an SF-scaling expression is rejected even before
    # anyone writes an allowlist entry
    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "sarpro_spark")
    probe = os.path.join(pkg, "_gate_probe_tmp.py")
    with open(probe, "w") as fh:
        fh.write('df.join(F.broadcast(t["customer"]), "k")\n')
    try:
        problems = ea.audit_broadcast_sites()
    finally:
        os.remove(probe)
    assert any("_gate_probe_tmp.py" in p and "unbroadcastable by construction" in p
               for p in problems)


_BAD_PLAN = """AdaptiveSparkPlan isFinalPlan=false
+- Project [a]
   +- Filter (rnk <= 10)
      +- Window [row_number() ...], [revenue DESC]
         +- Sort [revenue DESC], false, 0
            +- Exchange SinglePartition, ENSURE_REQUIREMENTS
               +- HashAggregate(keys=[k], functions=[sum(v)])
                  +- Exchange hashpartitioning(k, 32)
                     +- FileScan parquet
"""

_GOOD_PLAN = """AdaptiveSparkPlan isFinalPlan=false
+- Project [a]
   +- Window [row_number() ...], [revenue DESC]
      +- Sort [revenue DESC], false, 0
         +- Exchange SinglePartition, ENSURE_REQUIREMENTS
            +- GlobalLimit 10
               +- Exchange SinglePartition
                  +- LocalLimit 10
                     +- HashAggregate(keys=[k], functions=[sum(v)])
                        +- FileScan parquet
"""

_PARTITIONED_PLAN = """AdaptiveSparkPlan isFinalPlan=false
+- Window [row_number() ...], [user], [ts ASC]
   +- Sort [user, ts], false, 0
      +- Exchange hashpartitioning(user, 32)
         +- FileScan parquet
"""


def test_persist_gate_clean_on_real_tree():
    assert ea.audit_persist_sites() == []


def test_persist_gate_flags_unreviewed_bad_grain_and_stale(tmp_path, monkeypatch):
    """r14 (verdict item 4): every .persist/.cache site needs a reviewed
    grain + lifecycle entry; stale entries and unknown grains fail."""
    bad = dict(ea.PERSIST_ALLOW)
    removed = bad.pop(("llm/setjoin.py", "pairstats"))
    bad[("llm/text.py", "ghost")] = ("corpus-rows", "query-lifetime: no such site")
    bad[("operators/kernel.py", "q16")] = ("huge", "query-lifetime: bad grain")
    monkeypatch.setattr(ea, "PERSIST_ALLOW", bad)
    problems = ea.audit_persist_sites()
    assert any("pairstats" in p and "not in PERSIST_ALLOW" in p for p in problems)
    assert any("ghost" in p and "stale" in p for p in problems)
    assert any("grain 'huge'" in p for p in problems)
    bad2 = dict(ea.PERSIST_ALLOW)
    bad2[("llm/setjoin.py", "pairstats")] = ("pair-aggregate", "somebody else's problem")
    monkeypatch.setattr(ea, "PERSIST_ALLOW", bad2)
    assert any("lifecycle" in p for p in ea.audit_persist_sites())
    assert removed[0] == "pair-aggregate"
    # a bare ``df.persist()`` statement and a ``return df.cache()`` are
    # caches too: both are flagged, keyed by the enclosing function; an
    # attribute target keys by its dotted name
    pkg = tmp_path / "sarpro_spark"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "def keep(df):\n"
        "    df.persist()\n"
        "    return df.cache()\n"
        "\n"
        "def attr(self, df):\n"
        "    self.frame = df.persist()\n"
    )
    monkeypatch.setattr(ea, "PKG", str(pkg))
    monkeypatch.setattr(ea, "PERSIST_ALLOW", {})
    problems = ea.audit_persist_sites()
    assert any("mod.py:2 .persist() in 'keep'" in p for p in problems)
    assert any("mod.py:3 .cache() in 'keep'" in p for p in problems)
    assert any("mod.py:6 .persist() in 'self.frame'" in p for p in problems)
    monkeypatch.setattr(ea, "PERSIST_ALLOW", {
        ("mod.py", "keep"): ("corpus-rows", "query-lifetime: test"),
        ("mod.py", "self.frame"): ("corpus-rows", "query-lifetime: test"),
    })
    assert ea.audit_persist_sites() == []


def test_singlepart_window_forbid():
    assert ea.singlepart_window_problems(_BAD_PLAN)
    assert not ea.singlepart_window_problems(_GOOD_PLAN)  # post-limit rank
    assert not ea.singlepart_window_problems(_PARTITIONED_PLAN)


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "bench.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_idle_gate_retries_then_clears(monkeypatch):
    """r10 (r9 verdict item 4): the idle gate retries up to max_waits and
    reports clean once the box settles — no time actually slept in-test."""
    bench = _load_bench()
    loads = iter([9.0, 7.0, 3.0, 1.2])
    slept: list[float] = []
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (next(loads), 0, 0))
    monkeypatch.setattr(bench.time, "sleep", slept.append)
    start, contaminated = bench.idle_gate(threshold=2.0, max_waits=10, wait_sec=45)
    assert (start, contaminated) == (1.2, False)
    assert slept == [45, 45, 45]


def test_bench_idle_gate_refuses_to_clear_under_sustained_load(monkeypatch):
    """If the box never settles the gate exhausts max_waits and stamps the
    run contaminated — main() then refuses to overwrite BENCH_FULL.json
    (diverts to BENCH_FULL_CONTAMINATED.json) unless SPARK_GRAFT_FORCE=1."""
    bench = _load_bench()
    slept: list[float] = []
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (8.8, 0, 0))
    monkeypatch.setattr(bench.time, "sleep", slept.append)
    start, contaminated = bench.idle_gate(threshold=2.0, max_waits=10, wait_sec=45)
    assert (start, contaminated) == (8.8, True)
    assert len(slept) == 10
    # the diversion branch is live code in main(): assert its contract
    # statically (running main would launch a full sf0.1 bench)
    src = open(bench.__file__ if hasattr(bench, "__file__") else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")).read()
    assert "BENCH_FULL_CONTAMINATED.json" in src
    assert "SPARK_GRAFT_FORCE" in src


def test_infer_round_env_then_artifacts_then_none(tmp_path, monkeypatch):
    """The one round rule bench.py and the tools stamp artifacts with: an
    env override wins; else 1 + the newest BENCH_/CORRECTNESS_r*.json;
    with neither, bench.py records None and a tool that cannot write
    without a round exits loudly."""
    bench = _load_bench()
    repo = str(tmp_path)
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    monkeypatch.delenv("PLANS_ROUND", raising=False)
    assert bench._infer_round(repo=repo) is None
    with pytest.raises(SystemExit, match="no round artifact"):
        bench._infer_round(required="no round artifact", repo=repo)

    for fn in ("BENCH_r03.json", "CORRECTNESS_r07.json", "SOAK_r09.json", "BENCH_r08_c8.json"):
        (tmp_path / fn).write_text("{}")
    assert bench._infer_round(repo=repo) == 8

    # PLANS_ROUND counts only for the caller that names it (plan_dump)
    monkeypatch.setenv("PLANS_ROUND", "21")
    assert bench._infer_round(repo=repo) == 8
    assert bench._infer_round(("SPARK_GRAFT_ROUND", "PLANS_ROUND"), repo=repo) == 21
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "12")
    assert bench._infer_round(repo=repo) == 12
    assert bench._infer_round(("SPARK_GRAFT_ROUND", "PLANS_ROUND"), "x", repo) == 12
