"""Bucketed co-located join: the shuffle-free join strategy for repeated big
joins at 100 TB. Writes both sides bucketed by the join key into the local
warehouse, then asserts the join plan contains NO shuffle exchange on either
side — the layout the engine prescribes for fact-fact joins (band zips,
orders x lineitem) when both sides are under the pipeline's control."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    # warehouse.dir is a static conf — tables land in ./spark-warehouse
    # (gitignored); drop + clear any stale location from aborted runs
    import shutil

    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    for t in ("li_b", "ord_b"):
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)

    from sarpro_spark import frames

    li = frames.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = frames.load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    (li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .saveAsTable("li_b"))
    (o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
       .saveAsTable("ord_b"))

    # at this sf the tables fit under the broadcast threshold and the planner
    # (correctly) broadcasts, disabling bucketing; force the merge path to
    # observe the layout the design targets — big-fact x big-fact joins
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lb = spark.table("li_b")
        ob = spark.table("ord_b")
        j = lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        plan = j._sc._jvm.PythonSQLUtils.explainString(j._jdf.queryExecution(), "formatted")
        # co-located: SortMergeJoin reading bucketed scans, no shuffle at all
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan, plan
        assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan, plan
        # and it computes the right thing
        assert j.count() == li.join(o, li.l_orderkey == o.o_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_widen_if_narrow_single_large_file(spark, tmp_path):
    """One LARGE parquet file must be recognized as many scan splits (the
    planner will split it at maxPartitionBytes), so widen_if_narrow must NOT
    add a repartition shuffle; one SMALL file must widen; assume_wide skips
    the heuristic entirely."""
    from pyspark.sql import functions as F

    from sarpro_spark.functions.partitioning import (
        _estimated_splits,
        widen_if_narrow,
    )

    small = str(tmp_path / "small.parquet")
    spark.range(100).withColumn("k", F.col("id") % 10).coalesce(1).write.parquet(small)
    sdf = spark.read.parquet(small)
    files = sdf.inputFiles()
    assert len(files) == 1
    assert _estimated_splits(sdf, files) == 1
    widened = widen_if_narrow(sdf, "k")
    assert "Exchange" in widened._jdf.queryExecution().toString()

    # same single file, but with maxPartitionBytes shrunk below the file
    # size it estimates as MANY splits -> no repartition added
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "100")
        assert _estimated_splits(sdf, files) > spark.sparkContext.defaultParallelism
        not_widened = widen_if_narrow(sdf, "k")
        assert "Exchange" not in not_widened._jdf.queryExecution().toString()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    # explicit caller override: never shuffles, whatever the estimate says
    assert "Exchange" not in widen_if_narrow(
        sdf, "k", assume_wide=True
    )._jdf.queryExecution().toString()

    # unit grain: the size arithmetic honors k/m suffixes and per-file ceil
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
    try:
        import os

        f = files[0]
        sz = os.path.getsize(f.replace("file:", ""))
        assert _estimated_splits(sdf, files) == max(1, -(-sz // (1 << 20)))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_shuffle_partition_count_falls_back_on_nonnumeric_conf(spark):
    """The by-number partition count is the session's shuffle.partitions;
    a non-numeric value (a platform-managed "auto", refused by open-source
    Spark, hence the stand-in frame) falls back to the default parallelism
    instead of raising."""
    from types import SimpleNamespace

    from sarpro_spark.functions.partitioning import shuffle_partition_count

    def frame(value):
        conf = SimpleNamespace(get=lambda key, default=None: value)
        ctx = SimpleNamespace(defaultParallelism=3)
        return SimpleNamespace(sparkSession=SimpleNamespace(conf=conf, sparkContext=ctx))

    assert shuffle_partition_count(frame("auto")) == 3
    assert shuffle_partition_count(frame("12")) == 12
    want = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert shuffle_partition_count(spark.range(1)) == want


# --- Z-order layout (functions/zorder.py, r11) ---------------------------------


def test_zorder_interleave_roundtrip(spark):
    # known Morton values: (x=0b11, y=0b01) -> z = x1 y1 x0 y0 = 1 0 1 1 = 11
    from sarpro_spark.functions.zorder import interleave_bits_expr

    df = spark.createDataFrame([(3, 1), (0, 0), (65535, 65535)], "qx long, qy long")
    out = [r[0] for r in df.select(interleave_bits_expr(F.col("qx"), F.col("qy"), 16)).collect()]
    assert out[0] == 0b1011
    assert out[1] == 0
    assert out[2] == (1 << 32) - 1  # all 32 bits set


def test_zorder_locality_beats_lexicographic(spark):
    # uniform 64x64 grid of points: quarter-box query must touch strictly
    # fewer z tiles than x-slices
    from sarpro_spark.functions.zorder import zorder_value

    pts = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    z = zorder_value(pts, "x", "y", bits=6)
    files = z.select(
        F.shiftright("zval", 12 - 4).alias("fz"),
        F.shiftright("qx", 6 - 4).alias("fl"),
        (F.col("qx").between(16, 31) & F.col("qy").between(16, 31)).alias("inbox"),
    )
    zhit = files.where("inbox").select("fz").distinct().count()
    lhit = files.where("inbox").select("fl").distinct().count()
    assert zhit < lhit  # 2-D tiles prune both dims; slices prune one


def test_write_zordered_files_are_disjoint_in_z(spark, tmp_path):
    from sarpro_spark.functions.zorder import write_zordered, zorder_value

    pts = spark.range(0, 5000).select(
        F.pmod(F.col("id") * 7919, F.lit(997)).alias("x"),
        F.pmod(F.col("id") * 104729, F.lit(991)).alias("y"),
        F.col("id").alias("payload"),
    )
    path = str(tmp_path / "zsorted")
    write_zordered(pts, "x", "y", path, n_files=16, bits=10)

    back = spark.read.parquet(path)
    assert back.count() == 5000
    assert set(back.columns) == {"x", "y", "payload"}

    # recompute z per file: per-file [min_z, max_z] ranges must not overlap
    # (repartitionByRange guarantees it; this asserts the writer preserved it).
    # input_file_name() must bind at the scan, BEFORE zorder_value's
    # broadcast min/max crossJoin adds a second source to the plan.
    tagged = back.withColumn("f", F.element_at(F.split(F.input_file_name(), "/"), -1))
    zback = zorder_value(tagged, "x", "y", bits=10)
    ranges = sorted(
        (r["lo"], r["hi"])
        for r in zback.groupBy("f").agg(F.min("zval").alias("lo"), F.max("zval").alias("hi")).collect()
    )
    assert len(ranges) > 1
    for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]):
        assert h1 <= l2  # disjoint, ordered

    # a 2-D box predicate touches a strict subset of files
    hit = (
        zback.where(F.col("x").between(100, 300) & F.col("y").between(100, 300))
        .select("f").distinct().count()
    )
    assert 0 < hit < len(ranges)


def test_hilbert_curve_properties(spark):
    from sarpro_spark.functions.zorder import hilbert_value

    # order-1 U: (0,0)->0 (0,1)->1 (1,1)->2 (1,0)->3
    pts = spark.createDataFrame([(0, 0), (0, 1), (1, 1), (1, 0)], "x long, y long")
    out = {(r["qx"], r["qy"]): r["hval"] for r in hilbert_value(pts, "x", "y", bits=1).collect()}
    assert out == {(0, 0): 0, (0, 1): 1, (1, 1): 2, (1, 0): 3}

    # bits=4: bijection on the 16x16 grid and the neighbor property
    grid = spark.range(256).select((F.col("id") % 16).alias("x"), (F.col("id") / 16).cast("long").alias("y"))
    rows = hilbert_value(grid, "x", "y", bits=4).collect()
    inv = {r["hval"]: (r["qx"], r["qy"]) for r in rows}
    assert len(inv) == 256 and set(inv) == set(range(256))
    assert all(
        abs(inv[d][0] - inv[d + 1][0]) + abs(inv[d][1] - inv[d + 1][1]) == 1
        for d in range(255)
    )
