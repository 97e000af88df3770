"""MinHash-LSH verified pairs on both sides of the one-task cap
(``llm/dedup.py:LSH_MAX_HASHES``) against the DuckDB twin
``sql_minhash_jaccard`` and against each other: NULL ids, one id over
several rows, docs without a shingle, int and long ids, an empty frame, a hot
bucket of identical docs, the job budget of the one-task side and the plan of
the bucket join above the cap."""

from __future__ import annotations

import re
from itertools import combinations

import duckdb
import numpy as np
import pyarrow as pa
import pytest

from sarpro_spark.llm import dedup as dd


@pytest.fixture(params=["one_task", "bucket_join"])
def side(request, monkeypatch):
    """Runs the test once per side of the cap: the bucket-join side by a cap
    every signature frame exceeds."""
    if request.param == "bucket_join":
        monkeypatch.setattr(dd, "LSH_MAX_HASHES", -1)
    return request.param


def _corpus(seed: int) -> list[tuple[int | None, str | None]]:
    """40 random 40-word docs over a small vocabulary and 20 near copies of
    them (a few words replaced), a hot bucket of 6 identical docs, one id
    carrying a second row, two NULL-id rows (one a copy) and three docs
    without a 5-char shingle (short, empty, NULL text)."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i:03d}" for i in range(60)]
    ids = [int(i) for i in rng.choice(1 << 30, 70, replace=False)]
    base = [list(rng.choice(vocab, 40)) for _ in range(40)]
    rows: list[tuple[int | None, str | None]] = [(i, " ".join(w)) for i, w in zip(ids, base)]
    for k, i in enumerate(ids[40:60]):
        words = list(base[k])
        for at in rng.choice(40, int(rng.integers(1, 6)), replace=False):
            words[at] = str(rng.choice(vocab))
        rows.append((i, " ".join(words)))
    rows += [(i, "the same hot bucket text, word for word") for i in ids[60:66]]
    rows += [(ids[0], " ".join(base[1][:10])), (None, " ".join(base[2])), (None, "null id row")]
    rows += [(ids[66], "abc"), (ids[67], ""), (ids[68], None)]
    return rows


def _pairs(spark, rows, typ: str, **kw) -> list[tuple]:
    df = spark.createDataFrame(rows, f"doc_id {typ}, text string")
    return sorted(map(tuple, dd.minhash_jaccard_pairs(df, **kw).collect()))


def _twin(rows, typ: str, **kw) -> list[tuple]:
    con = duckdb.connect()
    arrow = pa.int32() if typ == "int" else pa.int64()
    con.register("docs_t", pa.table({
        "doc_id": pa.array([r[0] for r in rows], arrow),
        "text": pa.array([r[1] for r in rows], pa.string()),
    }))
    return sorted(con.execute(dd.sql_minhash_jaccard("docs_t", **kw)).fetchall())


@pytest.mark.parametrize("typ", ["int", "long"])
def test_both_sides_match_the_twin(spark, monkeypatch, typ):
    rows = _corpus(7)
    kw = dict(num_hashes=16, bands=4, threshold=0.5)
    one_task = _pairs(spark, rows, typ, **kw)
    monkeypatch.setattr(dd, "LSH_MAX_HASHES", -1)
    bucket_join = _pairs(spark, rows, typ, **kw)
    assert one_task == bucket_join == _twin(rows, typ, **kw)
    ids = {r[0] for r in rows}
    assert all(type(a) is int and a in ids and b in ids for a, b, _j in one_task)
    # the hot bucket: every pair of its 6 docs, at jaccard 1
    hot = sorted(r[0] for r in rows if r[1] == "the same hot bucket text, word for word")
    assert set(combinations(hot, 2)) <= {(a, b) for a, b, j in one_task if j == 1.0}
    assert len(one_task) > 15


def test_empty_frame(spark, side):
    assert _pairs(spark, [], "long") == []
    assert _pairs(spark, [(1, "abc"), (None, "no shingle here at all")], "long") == []


def test_equal_pairs_kernel():
    rng = np.random.default_rng(3)
    keys = rng.integers(0, 3, (200, 2))
    n = len(keys)
    want = sorted(i * n + j for i, j in combinations(range(n), 2) if (keys[i] == keys[j]).all())
    assert sorted(dd._equal_pairs(keys).tolist()) == want
    assert dd._equal_pairs(keys[:1]).size == 0


#: Jobs of one ``minhash_jaccard_pairs`` call plus one collect of its result
#: on the one-task side: the signature frame's exchange and checkpoint, and
#: the collect. The bucket join and the set-Jaccard joins took 8.
MINHASH_PAIRS_MAX_JOBS = 3


def test_minhash_pairs_job_budget(spark):
    sc = spark.sparkContext
    df = spark.createDataFrame(_corpus(11), "doc_id long, text string")
    group = "test_minhash_pairs_job_budget"
    sc.setJobGroup(group, group)
    try:
        rows = dd.minhash_jaccard_pairs(df, threshold=0.5).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) > 15
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= MINHASH_PAIRS_MAX_JOBS


def test_above_cap_plan_is_the_keyed_bucket_join(spark, monkeypatch):
    monkeypatch.setattr(dd, "LSH_MAX_HASHES", -1)
    df = spark.createDataFrame(_corpus(5), "doc_id long, text string")
    plan = dd.minhash_jaccard_pairs(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "MapInArrow" not in plan
    assert re.search(r"Join \[band#\d+, dropped#\d+, bucket#\d+\]", plan), plan
