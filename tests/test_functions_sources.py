"""Tests: skew utilities, scalar helpers, pyramid source, stateful streaming."""

from __future__ import annotations

import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from sarpro_spark.functions import scalars as sc
from sarpro_spark.functions import skew
from sarpro_spark.sources import pyramid as pyr


# --- skew --------------------------------------------------------------------


def test_salted_agg_equivalence(spark):
    rs = np.random.RandomState(2)
    # hot key: 'h' has 10x the rows
    data = [("h", float(v)) for v in rs.uniform(0, 10, 5000)] + [
        (k, float(v)) for k in "abcde" for v in rs.uniform(0, 10, 100)
    ]
    df = spark.createDataFrame(data, "k string, v double")
    plain = {
        r["k"]: (r["s"], r["n"], r["mn"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"),
             F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        r["k"]: (r["s"], r["n"], r["mn"], r["mx"])
        for r in skew.salted_agg(
            df, ["k"],
            {"s": ("sum", "v"), "n": ("count", "v"), "mn": ("min", "v"), "mx": ("max", "v")},
        ).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert salted[k][1] == plain[k][1]
        assert salted[k][2] == plain[k][2] and salted[k][3] == plain[k][3]
        assert salted[k][0] == pytest.approx(plain[k][0], rel=1e-12)


def test_salted_join_equivalence(spark):
    big = spark.createDataFrame(
        [(i % 3, f"row{i}") for i in range(1000)], "k int, payload string"
    )
    small = spark.createDataFrame([(0, "zero"), (1, "one"), (2, "two")], "k int, name string")
    plain = big.join(small, "k").groupBy("name").count()
    salted = skew.salted_join(big, small, "k").groupBy("name").count()
    assert {(r["name"], r["count"]) for r in plain.collect()} == {
        (r["name"], r["count"]) for r in salted.collect()
    }


# --- scalar helpers ----------------------------------------------------------


def test_scalar_helpers(spark):
    df = spark.createDataFrame([(7.3, -2.0, " A  b  C ")], "x double, y double, t string")
    r = df.select(
        sc.clamp(F.col("x"), 0.0, 5.0).alias("clamped"),
        sc.safe_div(F.col("x"), F.lit(0.0)).alias("div0"),
        sc.magnitude3(F.lit(3.0), F.lit(4.0), F.lit(0.0)).alias("mag"),
        sc.normalized_text(F.col("t")).alias("norm"),
        sc.count_occurrences(F.lit("abcabcab"), "ab").alias("occ"),
    ).collect()[0]
    assert r["clamped"] == 5.0
    assert r["div0"] == 0.0
    assert r["mag"] == 5.0
    assert r["norm"] == "a b c"
    assert r["occ"] == 3


# --- pyramid source ----------------------------------------------------------


def test_pyramid_levels_and_pruning(spark, sf_dir, tmp_path):
    from sarpro_spark import frames

    px = frames.single_band(spark, sf_dir, "vh")
    pyramid = pyr.build_pyramid(px.drop("n_src") if "n_src" in px.columns else px, ["product_id"], levels=3)
    path = str(tmp_path / "pyr")
    pyr.write_pyramid(pyramid, path, ["product_id"])

    n0 = pyramid.where(F.col("level") == 0).count()
    n1 = pyramid.where(F.col("level") == 1).count()
    assert n0 == px.count()
    assert n0 / 5 < n1 < n0 / 3  # ~4x reduction per level

    # level selection mirrors the decimated-read rule
    assert pyr.select_level(4000, None, 3) == 0
    assert pyr.select_level(4000, 4000, 3) == 0
    assert pyr.select_level(4000, 1500, 3) == 1
    assert pyr.select_level(4000, 900, 3) == 2
    assert pyr.select_level(4000, 100, 3) == 2  # capped at coarsest
    assert pyr.residual_resample_alg(4000, 512) == "average"
    assert pyr.residual_resample_alg(700, 512) == "lanczos3"

    # partition pruning visible in the plan
    df = pyr.read_pyramid_level(spark, path, native_long_side=4000, target_size=1500)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan and "level" in plan
    assert df.count() == n1


# --- stateful streaming ------------------------------------------------------


def test_stateful_running_totals(spark, sf_dir, tmp_path):
    import shutil

    from sarpro_spark import frames
    from sarpro_spark.streaming import events as se
    from sarpro_spark.streaming import stateful as stf

    batch = frames.load_table(spark, sf_dir, "events")
    expected = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in stf.running_user_totals_batch(batch).collect()
    }

    stage = tmp_path / "ev"
    stage.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stage / "events.parquet")
    stream = se.stream_events_from_parquet(spark, str(stage))
    out = stf.running_user_totals(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    # the ProcessingTimeTimeout state keeps the availableNow query running
    # empty batches, so it never terminates and processAllAvailable never
    # returns: drain until every source row has passed a committed batch,
    # failing on a query error or a hang
    n_src = batch.count()
    deadline = time.monotonic() + 120
    while sum(p["numInputRows"] for p in q.recentProgress) < n_src:
        assert q.exception() is None
        assert time.monotonic() < deadline, "stream did not drain in 120 s"
        time.sleep(0.2)
    assert q.exception() is None
    rows = spark.sql(
        "SELECT user_id, n_events, total_value FROM user_totals"
    ).collect()
    q.stop()
    # update mode: last row per user is the converged state
    got = {}
    for r in rows:
        got[r["user_id"]] = (r["n_events"], r["total_value"])
    assert set(got) == set(expected)
    for u in expected:
        assert got[u][0] == expected[u][0]
        assert got[u][1] == pytest.approx(expected[u][1], rel=1e-9)


def test_funnel_order_sensitivity(spark):
    """The funnel requires TEMPORAL order: a user whose purchase precedes
    the first view does not count as converted."""
    from sarpro_spark.queries_relational import q_events_funnel
    from sarpro_spark import frames as fr
    import pyspark.sql.functions as F

    rows = [
        # user 1: view -> click -> purchase in order, within windows
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 10:10:00", 1, "click", 1.0, "{}"),
        (3, "2024-01-01 10:20:00", 1, "purchase", 1.0, "{}"),
        # user 2: purchase BEFORE view -> must stall at stage 1
        (4, "2024-01-01 09:00:00", 2, "purchase", 1.0, "{}"),
        (5, "2024-01-01 10:00:00", 2, "view", 1.0, "{}"),
        # user 3: view then click a WEEK later -> outside the window, stage 1
        (6, "2024-01-01 10:00:00", 3, "view", 1.0, "{}"),
        (7, "2024-01-08 10:00:00", 3, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    import tempfile, os

    d = tempfile.mkdtemp(prefix="funnel_fx_")
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {r["reached"]: r["n_users"] for r in q_events_funnel(spark, d).collect()}
    assert out == {3: 1, 1: 2}


def test_ab_assignment_deterministic(spark):
    """Unit assignment is a pure function of user_id: the same user lands in
    the same variant on every run/engine."""
    from sarpro_spark.llm.sampling import hash_bucket
    import pyspark.sql.functions as F

    probe = spark.createDataFrame([(i,) for i in range(200)], "user_id long")
    v1 = probe.select("user_id", (hash_bucket(F.col("user_id"), "ab") < 500000).alias("a")).collect()
    v2 = probe.select("user_id", (hash_bucket(F.col("user_id"), "ab") < 500000).alias("a")).collect()
    assert {r["user_id"]: r["a"] for r in v1} == {r["user_id"]: r["a"] for r in v2}
    n_a = sum(1 for r in v1 if r["a"])
    assert 60 <= n_a <= 140  # roughly balanced


def test_compaction_small_files(spark, tmp_path):
    """A fragmented dataset (many tiny files) compacts to few evenly-sized
    range-laid-out files with identical rows; the plan stats see the
    fragmentation; min/max spans stay prunable after the rewrite."""
    from pyspark.sql import functions as F

    from sarpro_spark.sources.maintenance import compact, plan_compaction

    frag = str(tmp_path / "frag")
    out = str(tmp_path / "compacted")
    df = spark.range(20000).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("v"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    # fragment: 200 files of ~100 rows
    df.repartition(200).write.parquet(frag)
    plan = plan_compaction(spark, frag, target_file_bytes=256 * 1024)
    assert plan["n_files"] == 200
    assert plan["small_files"] == 200
    assert plan["target_files"] < 30

    src = spark.read.parquet(frag)
    res = compact(src, out, "k", target_file_bytes=256 * 1024)
    assert res["rows"] == 20000
    assert 1 <= res["files_written"] < 40

    back = spark.read.parquet(out)
    assert back.count() == 20000
    assert back.agg(F.sum("k")).collect()[0][0] == sum(range(20000))
    # range layout: a narrow k-predicate scan must not read every file
    narrow = back.where((F.col("k") >= 100) & (F.col("k") < 200))
    assert narrow.count() == 100

    # empty-input edge
    empty_out = str(tmp_path / "empty_out")
    res0 = compact(src.where(F.lit(False)), empty_out, "k")
    assert res0 == {"files_written": 0, "rows": 0}
