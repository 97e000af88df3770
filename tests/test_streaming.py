"""Structured Streaming tests: the unified-API property — streaming output on
bounded input equals the batch run of the same transformation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sarpro_spark import frames
from sarpro_spark.streaming import events as se


def _drain(q):
    """Run a never-ending stream until its source is exhausted, fail on a
    query error, then stop it (no timeout to wait out)."""
    q.processAllAvailable()
    assert q.exception() is None
    q.stop()


def test_tumbling_batch_equals_streaming(spark, sf_dir, tmp_path):
    batch_events = frames.load_table(spark, sf_dir, "events")
    batch = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in se.tumbling_counts(batch_events).collect()
    }

    # the file stream source requires a directory — stage the single file
    import shutil

    stage = tmp_path / "events_stream"
    stage.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stage / "events.parquet")
    stream = se.stream_events_from_parquet(spark, str(stage))
    assert stream.isStreaming
    q = se.run_stream_to_memory(se.tumbling_counts(stream), "tumbling_test")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    q.stop()
    assert got == batch
    assert len(got) > 0


def test_sliding_counts_batch(spark, sf_dir):
    e = frames.load_table(spark, sf_dir, "events")
    out = se.sliding_counts(e)
    rows = out.collect()
    # every event lands in window/slide = 4 buckets; total bucket-events = 4x
    total = sum(r["n"] for r in rows)
    assert total == e.count() * 4


def test_sessionize_gap_semantics(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1.0),
        (1, base + dt.timedelta(minutes=10), 2.0),  # same session
        (1, base + dt.timedelta(minutes=50), 3.0),  # gap 40min -> new session
        (2, base, 4.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = se.sessionize(df, gap="30 minutes").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 2
    assert sorted(r["n_events"] for r in by_user[1]) == [1, 2]
    assert len(by_user[2]) == 1


def test_watermark_drops_late_events(spark, tmp_path):
    """Append mode + watermark: an event arriving behind the watermark must
    NOT resurrect its (already finalized) window — the state-eviction bound
    that keeps unbounded streams tractable. Two availableNow runs over one
    checkpoint: the watermark persists between runs, so the straggler in run
    2 is provably behind it."""
    import pandas as pd

    stage = tmp_path / "late_stream"
    stage.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "ts timestamp, event_type string, value double, user_id bigint"

    def write_batch(name, ts_list, uids):
        pd.DataFrame(
            {
                "ts": pd.to_datetime(ts_list),
                "event_type": ["click"] * len(ts_list),
                "value": [1.0] * len(ts_list),
                "user_id": uids,
            }
        ).to_parquet(stage / name, coerce_timestamps="us", allow_truncated_timestamps=True)

    out_dir = str(tmp_path / "finalized")

    def drain(qname):
        stream = spark.readStream.schema(schema).parquet(str(stage))
        agg = se.tumbling_counts(stream, window="1 hour", watermark="30 minutes")

        def sink(df, _bid):
            df.write.mode("append").parquet(out_dir)

        q = (
            agg.writeStream.foreachBatch(sink)
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .outputMode("append")  # append emits only FINALIZED windows
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        try:
            rows = spark.read.parquet(out_dir).collect()
        except Exception:  # no finalized windows emitted yet
            return {}
        return {r["window_start"].strftime("%H:%M"): r["n"] for r in rows}

    # run 1: two 10:05/10:06 events + one at 12:00 -> watermark persists at 11:30
    write_batch("a_batch1.parquet", 
                ["2024-01-01 10:05:00", "2024-01-01 10:06:00", "2024-01-01 12:00:00"],
                [1, 2, 3])
    drain("late_run1")

    # run 2: a 10:07 straggler (behind the 11:30 watermark -> dropped) + 12:10
    write_batch("b_batch2.parquet", ["2024-01-01 10:07:00", "2024-01-01 12:10:00"], [4, 5])
    got2 = drain("late_run2")

    # the 10:00 window finalizes in run 2 (watermark 11:30 > 11:00) and must
    # count ONLY the two on-time events — the straggler was evicted
    assert got2.get("10:00") == 2


def test_sessionize_batch_equals_streaming(spark, sf_dir, tmp_path):
    """session_window is the one stateful aggregation whose merge logic
    differs most between batch and streaming — drain the bounded stream and
    require identical sessions."""
    import shutil

    batch_events = frames.load_table(spark, sf_dir, "events")
    batch = {
        (r["session_start"], r["user_id"]): (r["n_events"], r["session_value"])
        for r in se.sessionize(batch_events).collect()
    }

    stage = tmp_path / "sess_stream"
    stage.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stage / "events.parquet")
    stream = se.stream_events_from_parquet(spark, str(stage))
    q = se.run_stream_to_memory(se.sessionize(stream), "sessionize_test")
    got = {
        (r["session_start"], r["user_id"]): (r["n_events"], r["session_value"])
        for r in spark.sql("SELECT * FROM sessionize_test").collect()
    }
    q.stop()
    assert got == batch
    assert len(got) > 0


def test_attribution_join_stream_equals_batch(spark, sf_dir, tmp_path, nanos_conf_reset):
    """Watermarked stream-stream interval join drained over the bounded file
    source must equal the batch range join."""
    from sarpro_spark.streaming.events import stream_events_from_parquet
    from sarpro_spark.streaming.joins import attribution_join

    batch = attribution_join(frames.load_table(spark, sf_dir, "events"))
    expect = {tuple(r) for r in batch.collect()}

    # stream-stream joins resolve a basePath per file source: point both
    # sources at a DIRECTORY copy of the events table
    ev_dir = str(tmp_path / "events_dir")
    frames.load_table(spark, sf_dir, "events").coalesce(2).write.parquet(ev_dir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    schema = spark.read.parquet(ev_dir).schema

    def mk_stream():
        return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(ev_dir)

    out = attribution_join(mk_stream(), click_events=mk_stream())
    q = (
        out.writeStream.format("memory")
        .queryName("attrib_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM attrib_join").collect()}
    assert got == expect
    assert len(got) > 0


def test_streaming_dedup_first_wins(spark, tmp_path, nanos_conf_reset):
    """dropDuplicatesWithinWatermark: duplicated event ids collapse to one
    row per id; batch twin agrees on the surviving id set."""
    import datetime as dt

    from sarpro_spark.streaming.events import stream_events_from_parquet
    from sarpro_spark.streaming.joins import dedupe_events_stream

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for i in range(40):
        ts = base + dt.timedelta(minutes=i)
        rows.append((i % 20, ts, i % 7, "click", float(i), "{}"))  # ids repeat 2x
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    p = str(tmp_path / "dup_events.parquet")
    df.coalesce(1).write.parquet(p)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    schema = spark.read.parquet(p).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(p)
    )
    out = dedupe_events_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id, COUNT(*) AS n FROM dedup_stream GROUP BY event_id").collect()
    assert len(got) == 20
    assert all(r["n"] == 1 for r in got)

    batch_ids = {r["event_id"] for r in dedupe_events_stream(df).collect()}
    assert batch_ids == {r["event_id"] for r in got}


def test_stream_source_accepts_all_ts_encodings(spark, sf_dir, tmp_path):
    """Regression guard (round-3 breakage): the events stream source must
    accept every ts encoding the environment produces — raw bigint nanos
    (driver parquet under nanosAsLong), TIMESTAMP_NTZ (Spark-written
    parquet), and plain TIMESTAMP — and normalize all three to TIMESTAMP so
    withWatermark resolves. A Spark behavior shift here should fail loudly
    in this one test, not in four downstream equivalence tests."""
    import shutil

    batch = frames.load_table(spark, sf_dir, "events").limit(50)

    raw = tmp_path / "raw"
    raw.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", raw / "events.parquet")

    ntz = tmp_path / "ntz"
    batch.withColumn("ts", F.col("ts").cast("timestamp_ntz")).write.parquet(str(ntz))

    tz = tmp_path / "tz"
    batch.write.parquet(str(tz))

    for path in (raw, ntz, tz):
        stream = se.stream_events_from_parquet(spark, str(path))
        assert dict(stream.dtypes)["ts"] == "timestamp", str(path)
        # withWatermark must analyze (the round-3 failure was at analysis)
        stream.withWatermark("ts", "2 hours").groupBy(
            F.window("ts", "1 hour")
        ).count().explain()

    # batch-side normalization: bigint nanos and NTZ agree after ensure_event_time
    ntz_df = se.ensure_event_time(spark.read.parquet(str(ntz)), "ts")
    tz_df = spark.read.parquet(str(tz))
    assert dict(ntz_df.dtypes)["ts"] == "timestamp"
    a = sorted(r["ts"] for r in ntz_df.select("ts").collect())
    b = sorted(r["ts"] for r in tz_df.select("ts").collect())
    assert a == b


def test_exactly_once_sink(spark, sf_dir, tmp_path):
    """Micro-batches land atomically, replays are no-ops, partial writes
    are invisible to readers, and the drained output equals the source."""
    import os

    from pyspark.sql import functions as F

    from sarpro_spark.streaming.events import stream_events_from_parquet
    from sarpro_spark.streaming.sinks import (
        exactly_once_batch_writer,
        read_committed,
        run_stream_exactly_once,
    )

    # file-stream sources need a DIRECTORY (batch reconstruction sets
    # basePath to the source path); re-write the driver's single file
    src_path = str(tmp_path / "events_src")
    spark.read.parquet(f"{sf_dir}/events.parquet").write.parquet(src_path)
    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "ckpt")
    stream = stream_events_from_parquet(spark, src_path)
    q = run_stream_exactly_once(stream, out, ckpt)
    assert q.lastProgress is not None

    back = read_committed(spark, out)
    n_src = spark.read.parquet(src_path).count()
    assert back.count() == n_src
    assert back.select("event_id").distinct().count() == n_src
    assert "batch_id" in back.columns

    # replay idempotence: re-delivering a committed batch must not duplicate
    writer = exactly_once_batch_writer(out)
    some_batch = back.select("batch_id").distinct().collect()[0][0]
    replay_df = spark.read.parquet(src_path).limit(10)
    writer(replay_df, some_batch)
    assert read_committed(spark, out).count() == n_src

    # crash-mid-write: an .inprogress dir is never read back
    garbage = os.path.join(out, "batch_id=99999.inprogress")
    os.makedirs(garbage, exist_ok=True)
    replay_df.limit(1).write.mode("overwrite").parquet(garbage)
    assert read_committed(spark, out).count() == n_src

    # a NEW batch id does commit
    writer(replay_df.withColumn("value", F.col("value")), 99998)
    assert read_committed(spark, out).count() == n_src + 10


def test_streaming_neardup_equals_batch_twin(spark, sf_dir, tmp_path, nanos_conf_reset):
    """The r7 streaming incremental near-dup: documents streamed in four
    doc_id-ordered micro-batches through the stateful (band, bucket)
    operator emit EXACTLY the match rows of the pairwise batch twin — the
    property the dedup_streaming_neardup certificate relies on. Also
    asserts the stateless signature stage matches the batch signature
    builder bit-for-bit (its own invariant)."""
    import os
    import time

    from sarpro_spark.streaming import dedup as sdd

    docs = frames.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    expected = {
        (r["band"], r["doc_id"], r["matched_id"], r["est_sim"], r["capped"])
        for r in sdd.streaming_neardup_batch(docs).collect()
    }
    assert expected, "fixture must contain near-dup pairs"

    # four doc_id-range files with strictly increasing mtimes: the file
    # source processes them oldest-first, so arrival order == doc_id order
    stage = tmp_path / "docs_stream"
    stage.mkdir()
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) // 4], ids[len(ids) // 2], ids[3 * len(ids) // 4]]
    lo = None
    t0 = time.time() - 100
    for i, hi in enumerate([*cuts, None]):
        part = docs
        if lo is not None:
            part = part.where(F.col("doc_id") >= lo)
        if hi is not None:
            part = part.where(F.col("doc_id") < hi)
        pdir = stage / f"part{i}"
        part.coalesce(1).write.parquet(str(pdir))
        for root, _dirs, files in os.walk(pdir):
            for fn in files:
                os.utime(os.path.join(root, fn), (t0 + i * 10, t0 + i * 10))
        lo = hi

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    schema = docs.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(stage))
    )
    out = sdd.streaming_neardup(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("neardup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["band"], r["doc_id"], r["matched_id"], r["est_sim"], r["capped"])
        for r in spark.sql("SELECT * FROM neardup_stream").collect()
    }
    assert got == expected


def test_streaming_neardup_out_of_order_arrival(spark, sf_dir, tmp_path, nanos_conf_reset):
    """r8 (ADVICE r7): micro-batches arriving in REVERSED doc_id order must
    still drain to exactly the batch-twin row set — emission is oriented
    (doc_id=max, matched_id=min) independent of which side arrived first,
    so arrival order is no longer a precondition of the equivalence."""
    import os
    import time

    from sarpro_spark.streaming import dedup as sdd

    docs = frames.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    expected = {
        (r["band"], r["doc_id"], r["matched_id"], r["est_sim"], r["capped"])
        for r in sdd.streaming_neardup_batch(docs).collect()
    }
    assert expected, "fixture must contain near-dup pairs"

    stage = tmp_path / "docs_stream_rev"
    stage.mkdir()
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) // 4], ids[len(ids) // 2], ids[3 * len(ids) // 4]]
    lo = None
    t0 = time.time() - 100
    parts = []
    for hi in [*cuts, None]:
        part = docs
        if lo is not None:
            part = part.where(F.col("doc_id") >= lo)
        if hi is not None:
            part = part.where(F.col("doc_id") < hi)
        parts.append(part)
        lo = hi
    # REVERSED arrival: highest doc_id range gets the OLDEST mtime
    for i, part in enumerate(reversed(parts)):
        pdir = stage / f"part{i}"
        part.coalesce(1).write.parquet(str(pdir))
        for root, _dirs, files in os.walk(pdir):
            for fn in files:
                os.utime(os.path.join(root, fn), (t0 + i * 10, t0 + i * 10))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(stage))
    )
    q = (
        sdd.streaming_neardup(stream)
        .writeStream.format("memory")
        .queryName("neardup_stream_rev")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["band"], r["doc_id"], r["matched_id"], r["est_sim"], r["capped"])
        for r in spark.sql("SELECT * FROM neardup_stream_rev").collect()
    }
    assert got == expected


def test_streaming_neardup_capped_flag(spark, tmp_path, nanos_conf_reset):
    """r9 (ADVICE r8): once a bucket hits bucket_cap, its later emissions
    carry capped=True — so a certificate run can ASSERT no bucket was
    capped (all rows False, as the two equivalence tests above now do)
    instead of assuming it. Four identical docs, cap 2: doc 4's matches
    (against the two retained signatures) are stamped True; matches
    emitted before the cap was hit stay False."""
    from sarpro_spark.streaming import dedup as sdd

    text = "the quick brown fox jumps over the lazy dog again and again " * 3
    docs = spark.createDataFrame(
        [(i, text) for i in (1, 2, 3, 4)], "doc_id long, text string"
    )
    p = str(tmp_path / "capped_docs")
    docs.coalesce(1).write.parquet(p)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    stream = spark.readStream.schema(docs.schema).parquet(p)
    q = (
        sdd.streaming_neardup(stream, bucket_cap=2)
        .writeStream.format("memory")
        .queryName("neardup_capped")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM neardup_capped").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["capped"])
    # docs 2 and 3 matched while the bucket was still filling; doc 3's
    # append is what capped it, so doc 4's emissions are flagged
    assert by_doc[2] == {False} and by_doc[3] == {False}
    assert by_doc[4] == {True}


def test_streaming_neardup_batch_drops_null_ids(spark):
    """A NULL doc_id never pairs (the SQL twins' a.doc_id < b.doc_id is
    never true for it), so the signature stage drops the document: the
    pairs of a frame with NULL-id copies equal the pairs without them. Ids
    above 2^53 survive next to the NULLs unrounded."""
    from sarpro_spark.streaming import dedup as sdd

    text = "the quick brown fox jumps over the lazy dog again and again "
    big = 2**62 + 1
    rows = [
        (1, text),
        (2, text + "today"),
        (big, text + "now"),
        (3, "completely different content about spark engines"),
    ]
    schema = "doc_id bigint, text string"
    clean = spark.createDataFrame(rows, schema)
    dirty = spark.createDataFrame(
        rows + [(None, text), (None, text + "today")], schema
    )
    expected = sorted(map(tuple, sdd.streaming_neardup_batch(clean).collect()))
    assert expected and any(r[2] == big for r in expected)
    assert sorted(map(tuple, sdd.streaming_neardup_batch(dirty).collect())) == expected
    assert dirty.transform(sdd.doc_sig_bands).where("doc_id IS NULL").count() == 0


def test_stream_stream_neardup_equals_batch_twin(spark, sf_dir, tmp_path, nanos_conf_reset):
    """r9 stream-STREAM near-dup: two live file-source streams (corpus
    split by doc_id parity), arrivals deliberately CROSSED — the a-side
    files carry older mtimes in ascending id order while the b-side files
    arrive in REVERSED id order — must drain to exactly the batch twin's
    cross-pair row set with every capped flag False. Pairs are oriented
    (a_id, b_id) and emitted once, when the later member arrives,
    whichever side that is."""
    import os
    import time

    from sarpro_spark.streaming import dedup as sdd

    docs = frames.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    expected = {
        (r["band"], r["a_id"], r["b_id"], r["est_sim"], r["capped"])
        for r in sdd.stream_stream_neardup_batch(a, b).collect()
    }
    assert expected, "fixture must contain cross-side near-dup pairs"

    t0 = time.time() - 200

    def stage_side(df, name, reverse):
        ids = sorted(r["doc_id"] for r in df.select("doc_id").collect())
        cuts = [ids[len(ids) // 2]]
        stage = tmp_path / name
        stage.mkdir()
        parts = []
        lo = None
        for hi in [*cuts, None]:
            part = df
            if lo is not None:
                part = part.where(F.col("doc_id") >= lo)
            if hi is not None:
                part = part.where(F.col("doc_id") < hi)
            parts.append(part)
            lo = hi
        seq = list(reversed(parts)) if reverse else parts
        for i, part in enumerate(seq):
            pdir = stage / f"part{i}"
            part.coalesce(1).write.parquet(str(pdir))
            for root, _dirs, files in os.walk(pdir):
                for fn in files:
                    os.utime(os.path.join(root, fn), (t0 + i * 20, t0 + i * 20))
        return stage

    a_dir = stage_side(a, "ss_a", reverse=False)
    b_dir = stage_side(b, "ss_b", reverse=True)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")

    def mk(dirpath):
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(dirpath))
        )

    q = (
        sdd.stream_stream_neardup(mk(a_dir), mk(b_dir))
        .writeStream.format("memory")
        .queryName("ss_neardup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["band"], r["a_id"], r["b_id"], r["est_sim"], r["capped"])
        for r in spark.sql("SELECT * FROM ss_neardup").collect()
    }
    assert got == expected

    # r10 (r9 verdict item 10): the state-store size is ASSERTED, not
    # assumed — applyInPandasWithState keeps exactly one state row per
    # (band, bucket) group, so numRowsTotal at drain must equal the
    # batch-computed distinct key count across both sides (a leak — e.g.
    # keying state per doc, or failing to merge sides into one row —
    # fails loudly here), and is hard-bounded by bands * n_docs, the
    # contract that keeps state linear in the corpus at 100 TB.
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in (q.recentProgress or [])
        if p.get("stateOperators")
    ]
    assert state_rows, "drained run must report state operator progress"
    expected_keys = (
        sdd.doc_sig_bands(a, "doc_id", "text").select("band", "bucket")
        .unionByName(sdd.doc_sig_bands(b, "doc_id", "text").select("band", "bucket"))
        .distinct()
        .count()
    )
    assert state_rows[-1] == expected_keys
    n_docs = a.count() + b.count()
    assert state_rows[-1] <= sdd.DEFAULT_BANDS * n_docs
    # monotone accumulation, never shrinking mid-run (NoTimeout policy)
    assert state_rows == sorted(state_rows)


def test_stream_static_enrichment_equals_batch(spark, sf_dir, tmp_path, nanos_conf_reset):
    """enrich_events_stream: the event stream joined to a static user
    dimension produces exactly the batch join, and unmatched events
    survive with null attributes (left join)."""
    import shutil

    from sarpro_spark.streaming.events import stream_events_from_parquet
    from sarpro_spark.streaming.joins import enrich_events_stream

    events = frames.load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # dim over part of the user space so the left join exercises both sides
    dim = (
        frames.load_table(spark, sf_dir, "customer")
        .select(
            (F.col("c_custkey") % 50).alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
        .where(F.col("user_id") < 8)
        .dropDuplicates(["user_id"])
    )
    expected = {
        (r["event_id"], r["segment"])
        for r in enrich_events_stream(events, dim).select("event_id", "segment").collect()
    }
    assert any(seg is None for _, seg in expected), "left join must keep unmatched"
    assert any(seg is not None for _, seg in expected)

    stage = tmp_path / "events_enrich"
    stage.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stage / "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    schema = spark.read.parquet(str(stage)).schema
    stream = spark.readStream.schema(schema).parquet(str(stage)).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    out = enrich_events_stream(stream, dim)
    q = (
        out.select("event_id", "segment")
        .writeStream.format("memory")
        .queryName("enrich_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["segment"])
        for r in spark.sql("SELECT * FROM enrich_stream").collect()
    }
    assert got == expected


def test_streaming_product_ingest_equals_batch_open(spark, tmp_path):
    """r9 streaming SAFE ingest (streaming/ingest.py): products LANDING
    over time — manifest.safe arrival triggers the micro-batch, which
    opens exactly the arrived directories through the SAME mapInPandas
    opener the batch path uses. Drained sink == open_products over the
    full directory, row for row, including the error-status row of a
    broken product, with one product per micro-batch (staggered mtimes —
    the test pins max_files_per_trigger=1; production defaults to 1024 so
    ingest isn't serialized to one checkpoint commit per product, ADVICE
    r9) and the broken product arriving in the MIDDLE. Two products carry
    a SPACE and a literal '+' in their directory names: input_file_name()
    returns percent-encoded URIs, and an undecoded path (or a '+'
    url-decoded to space) would produce a spurious error row (ADVICE
    r9)."""
    import os
    import time

    from tests.test_sources_sinks import MANIFEST
    from sarpro_spark.sources import safe
    from sarpro_spark.streaming.ingest import ingest_products_stream

    root = tmp_path / "landing"
    root.mkdir()
    t0 = time.time() - 300

    def stage(name, order, broken=False):
        p = root / name
        (p / "annotation").mkdir(parents=True)
        (p / "annotation" / "iw-vv.xml").write_text("<product/>")
        if not broken:
            (p / "measurement").mkdir()
            (p / "measurement" / f"s1a-iw-grd-vv-{order}.tiff").write_bytes(b"II*\0")
            (p / "measurement" / f"s1a-iw-grd-vh-{order}.tiff").write_bytes(b"II*\0")
        mpath = p / "manifest.safe"
        mpath.write_text(MANIFEST)
        os.utime(mpath, (t0 + order * 10, t0 + order * 10))

    stage("A.SAFE", 0)
    stage("C.SAFE", 1, broken=True)  # arrives between the two good ones
    stage("B.SAFE", 2)
    stage("D SPACE.SAFE", 3)  # %20 in the file-source URI
    stage("E+PLUS.SAFE", 4)  # literal '+' must NOT decode to a space

    expected = {
        tuple(r)
        for r in safe.open_products(spark, str(root), permissive=True).collect()
    }
    assert len(expected) == 5
    assert sum(1 for r in expected if r[1].startswith("error:")) == 1

    sink = str(tmp_path / "ingest_sink")
    q = ingest_products_stream(
        spark, str(root), sink, str(tmp_path / "ingest_ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.read.parquet(sink).drop("epoch").collect()}
    assert got == expected


def test_streaming_ingest_full_pipeline_equals_batch(spark, tmp_path):
    """r9 continuous raster processing end-to-end: two REAL-u16-TIFF SAFE
    products land as a stream; each micro-batch runs the FULL batch
    dataflow (S4 decode -> W9 u8 autoscale kernel) over exactly the
    arrived product via the ingest transform hook. Drained sink ==
    the batch pipeline over the completed directory, pixel for pixel —
    the reference's whole per-product loop, but incremental."""
    import os
    import time

    import numpy as np

    import sarpro_spark.operators.kernel as krn
    from tests.test_sources_sinks import ANNOTATION, MANIFEST
    from sarpro_spark.sinks import tiff as t
    from sarpro_spark.sources import safe
    from sarpro_spark.streaming.ingest import ingest_products_stream
    from sarpro_spark.types import BitDepth

    root = tmp_path / "landing_px"
    root.mkdir()
    rng = np.random.default_rng(17)
    t0 = time.time() - 300
    for i, name in enumerate(["P0.SAFE", "P1.SAFE"]):
        p = root / name
        (p / "annotation").mkdir(parents=True)
        (p / "measurement").mkdir()
        (p / "annotation" / "iw-vv.xml").write_text(ANNOTATION)
        vv = rng.uniform(0, 4000, size=(12, 10)).astype(np.uint16)
        t.write_tiff(str(p / "measurement" / f"s1a-iw-grd-vv-{i}.tiff"), vv)
        mpath = p / "manifest.safe"
        mpath.write_text(MANIFEST)
        os.utime(mpath, (t0 + i * 10, t0 + i * 10))

    def pipeline(opened):
        px = safe.read_bands_px(opened.where(F.col("status") == "ok"), band="vv")
        frame = px.withColumnRenamed("product_path", "product_id")
        u8 = krn.single_band_kernel(frame, ["product_id"], "standard-a2", BitDepth.U8)
        return u8.select("product_id", "row", "col", "q")

    expected = {
        tuple(r)
        for r in pipeline(safe.open_products(spark, str(root), permissive=True)).collect()
    }
    assert len(expected) == 2 * 12 * 10

    sink = str(tmp_path / "px_sink")
    q = ingest_products_stream(
        spark, str(root), sink, str(tmp_path / "px_ckpt"), transform=pipeline
    )
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.read.parquet(sink).drop("epoch").collect()}
    assert got == expected


def test_streaming_ingest_restart_exactly_once(spark, tmp_path):
    """r11 (verdict item 6): per-product EXACTLY-ONCE across a forced
    restart. Run 1 crashes MID-EPOCH (the transform raises while batch 1
    is processing product B, after batch 0 committed product A); a stale
    partial sink directory for the failed epoch is planted to simulate
    the nastier crash-after-write-before-commit window. Run 2 resumes
    from the checkpoint: Spark's offset log redelivers batch 1 with the
    SAME batch id, the epoch=1 overwrite replaces the planted garbage,
    and product C (landed between the crash and the restart) flows in a
    fresh batch. Assertions: drained sink == batch opener row-for-row,
    every product appears EXACTLY once, the planted row is gone, and the
    checkpointed file-source state is bounded at one log entry per
    manifest."""
    import json
    import os
    import time

    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from tests.test_sources_sinks import MANIFEST
    from sarpro_spark.sources import safe
    from sarpro_spark.streaming.ingest import ingest_products_stream

    root = tmp_path / "landing_rs"
    root.mkdir()
    t0 = time.time() - 300

    def stage(name, order):
        p = root / name
        (p / "annotation").mkdir(parents=True)
        (p / "annotation" / "iw-vv.xml").write_text("<product/>")
        (p / "measurement").mkdir()
        (p / "measurement" / f"s1a-iw-grd-vv-{order}.tiff").write_bytes(b"II*\0")
        mpath = p / "manifest.safe"
        mpath.write_text(MANIFEST)
        os.utime(mpath, (t0 + order * 10, t0 + order * 10))

    stage("A.SAFE", 0)
    stage("B.SAFE", 1)

    sink = str(tmp_path / "rs_sink")
    ckpt = str(tmp_path / "rs_ckpt")
    bomb = tmp_path / "bomb_armed"
    bomb.write_text("armed")

    def crash_on_b(opened):
        # driver-side foreachBatch code: one simulated crash while the
        # epoch containing B is being processed
        if bomb.exists() and opened.where(
            F.col("product_path").endswith("B.SAFE")
        ).count() > 0:
            bomb.unlink()
            raise RuntimeError("simulated mid-epoch crash")
        return opened

    q = ingest_products_stream(
        spark, str(root), sink, ckpt, transform=crash_on_b,
        max_files_per_trigger=1,
    )
    crashed = False
    try:
        q.awaitTermination(180)
    except (StreamingQueryException, Py4JJavaError):
        crashed = True
    assert crashed and not bomb.exists(), "run 1 must die mid-epoch on B"
    # batch 0 (A) committed; B's epoch did not
    run1 = spark.read.parquet(sink)
    assert [os.path.basename(r["product_path"]) for r in run1.collect()] == ["A.SAFE"]

    # simulate the crash landing AFTER the epoch write but BEFORE the
    # commit: plant a bogus row in the failed epoch's directory — the
    # redelivered epoch must OVERWRITE it, not append next to it
    run1.select(
        *[F.lit(None).cast(f.dataType).alias(f.name) if f.name != "product_path"
          else F.lit("/nonexistent/GARBAGE.SAFE").alias("product_path")
          for f in run1.schema.fields]
    ).write.mode("overwrite").parquet(os.path.join(sink, "epoch=1"))
    assert "GARBAGE" in str(spark.read.parquet(sink).collect())

    # C lands while the pipeline is down
    stage("C.SAFE", 2)

    q2 = ingest_products_stream(
        spark, str(root), sink, ckpt, max_files_per_trigger=1,
    )
    assert q2.awaitTermination(180)

    got = sorted(
        os.path.basename(r["product_path"])
        for r in spark.read.parquet(sink).select("product_path").collect()
    )
    expected = sorted(
        os.path.basename(r["product_path"])
        for r in safe.open_products(spark, str(root), permissive=True).collect()
    )
    # exactly once: no duplicate from the redelivery, no planted garbage,
    # nothing lost across the restart
    assert got == expected == ["A.SAFE", "B.SAFE", "C.SAFE"]
    full_stream = {
        tuple(r) for r in spark.read.parquet(sink).drop("epoch").collect()
    }
    full_batch = {
        tuple(r) for r in safe.open_products(spark, str(root), permissive=True).collect()
    }
    assert full_stream == full_batch

    # bounded state: the file-source log holds exactly one entry per
    # manifest (three), nothing proportional to product CONTENT
    src_log = os.path.join(ckpt, "sources", "0")
    entries = []
    for fn in os.listdir(src_log):
        fp = os.path.join(src_log, fn)
        if fn.startswith(".") or not os.path.isfile(fp):
            continue  # CRC/sidecar files are not log entries
        with open(fp, "rb") as fh:
            raw = fh.read()
        for line in raw.decode("utf-8", errors="ignore").splitlines():
            line = line.strip()
            if line.startswith("{") and '"path"' in line:
                entries.append(json.loads(line)["path"])
    assert len(entries) == 3 and len(set(entries)) == 3


def test_streaming_cdc_snapshot_restart_exactly_once(spark, tmp_path):
    """Streaming CDC (streaming/cdc.py, r11): changelog files land
    continuously; foreachBatch folds each micro-batch with the BATCH
    apply_changelog into version-dir snapshots. Run 1 crashes mid-epoch
    while batch 1 processes; a torn v=1 directory (write landed, commit
    did not) is planted; run 2 resumes from the checkpoint, redelivers
    epoch 1 into the SAME version dir (overwrite), and a change file that
    landed during the outage flows in a fresh epoch. Final snapshot must
    equal the batch operator folded over all three change files, exactly
    once, garbage gone."""
    import os

    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from sarpro_spark.operators.cdc import apply_changelog
    from sarpro_spark.streaming.cdc import latest_snapshot, maintain_snapshot_stream

    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    land = tmp_path / "cdc_land"
    land.mkdir()
    out = str(tmp_path / "cdc_snap")
    ckpt = str(tmp_path / "cdc_ckpt")

    def drop(name, rows):
        spark.createDataFrame(rows, "k long, v string, seq long, op string") \
            .coalesce(1).write.mode("overwrite").parquet(str(land / name))

    drop("c1", [(1, "a2", 1, "U"), (4, "d", 1, "I")])
    drop("c2", [(2, "b", 2, "D"), (1, "a3", 2, "U")])

    bomb = tmp_path / "cdc_bomb"
    bomb.write_text("armed")

    def crash_on_delete(batch_df):
        if bomb.exists() and batch_df.where(F.col("op") == "D").count() > 0:
            bomb.unlink()
            raise RuntimeError("simulated mid-epoch crash")
        return batch_df

    stream = (
        spark.readStream.schema("k long, v string, seq long, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land / "*"))
    )
    q = maintain_snapshot_stream(stream, base, "k", out, ckpt, transform=crash_on_delete)
    crashed = False
    try:
        q.awaitTermination(180)
    except (StreamingQueryException, Py4JJavaError):
        crashed = True
    assert crashed and not bomb.exists()

    # plant a torn write for the failed epoch: data present, semantics wrong
    spark.createDataFrame([(99, "GARBAGE")], "k long, v string").write.mode(
        "overwrite"
    ).parquet(os.path.join(out, "v=1"))

    # a third change file lands during the outage
    drop("c3", [(5, "e", 1, "I")])

    stream2 = (
        spark.readStream.schema("k long, v string, seq long, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land / "*"))
    )
    q2 = maintain_snapshot_stream(stream2, base, "k", out, ckpt)
    _drain(q2)

    final = {r["k"]: r["v"] for r in latest_snapshot(spark, out, base).collect()}
    # batch ground truth: fold the three files in landing order
    truth = base
    for name in ("c1", "c2", "c3"):
        c = spark.read.parquet(str(land / name))
        truth = apply_changelog(truth, c, "k").select("k", "v")
    expect = {r["k"]: r["v"] for r in truth.collect()}
    assert final == expect
    assert 99 not in final  # the torn write was overwritten by redelivery


def test_streaming_scd2_restart_exactly_once(spark, tmp_path):
    """Streaming SCD2 (streaming/cdc.py, r12 — verdict item 9): the type-2
    history fold under the same mid-epoch-crash exactly-once gate as the
    snapshot variant. Run 1 crashes while the delete epoch processes; a
    torn v=1 directory is planted; run 2 resumes from the checkpoint,
    redelivers epoch 1 into the SAME version dir, and a change file that
    landed during the outage folds in a fresh epoch. The final history
    must equal the BATCH scd2_history over the union of all change files —
    restart-idempotent chains, closed validity intervals, garbage gone."""
    import os

    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from sarpro_spark.operators.cdc import scd2_history
    from sarpro_spark.streaming.cdc import latest_scd2, maintain_scd2_stream

    land = tmp_path / "scd2_land"
    land.mkdir()
    out = str(tmp_path / "scd2_hist")
    ckpt = str(tmp_path / "scd2_ckpt")

    def drop(name, rows):
        spark.createDataFrame(rows, "k long, v string, seq long, op string") \
            .coalesce(1).write.mode("overwrite").parquet(str(land / name))

    drop("c1", [(1, "a", 1, "I"), (2, "b", 1, "I"), (1, "a2", 2, "U")])
    drop("c2", [(2, None, 2, "D"), (3, "c", 1, "I")])

    bomb = tmp_path / "scd2_bomb"
    bomb.write_text("armed")

    def crash_on_delete(batch_df):
        if bomb.exists() and batch_df.where(F.col("op") == "D").count() > 0:
            bomb.unlink()
            raise RuntimeError("simulated mid-epoch crash")
        return batch_df

    stream = (
        spark.readStream.schema("k long, v string, seq long, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land / "*"))
    )
    q = maintain_scd2_stream(stream, "k", out, ckpt, transform=crash_on_delete)
    crashed = False
    try:
        q.awaitTermination(180)
    except (StreamingQueryException, Py4JJavaError):
        crashed = True
    assert crashed and not bomb.exists()

    # torn write for the failed epoch: wrong content, no commit semantics
    spark.createDataFrame(
        [(99, "GARBAGE", "I", 1, None, True)],
        "k long, v string, op string, valid_from long, valid_to long, is_current boolean",
    ).write.mode("overwrite").parquet(os.path.join(out, "v=1"))

    drop("c3", [(1, "a3", 3, "U")])  # lands during the outage

    stream2 = (
        spark.readStream.schema("k long, v string, seq long, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land / "*"))
    )
    q2 = maintain_scd2_stream(stream2, "k", out, ckpt)
    _drain(q2)

    cols = ("k", "v", "op", "valid_from", "valid_to", "is_current")
    got = {tuple(r[c] for c in cols) for r in latest_scd2(spark, out).collect()}
    allc = spark.read.parquet(str(land / "*"))
    want = {tuple(r[c] for c in cols)
            for r in scd2_history(allc, "k").select(*cols).collect()}
    assert got == want
    assert not any(r[0] == 99 for r in got)  # torn write overwritten
    # chain sanity: key 1 has a closed->closed->open chain, key 2 ends deleted
    k1 = sorted((t for t in got if t[0] == 1), key=lambda t: t[3])
    assert [t[4] for t in k1] == [2, 3, None] and k1[-1][5] is True
    k2 = sorted((t for t in got if t[0] == 2), key=lambda t: t[3])
    assert k2[-1][2] == "D" and all(t[5] is False for t in k2)


# --- streaming heavy hitters: SpaceSaving (streaming/heavyhitters.py, r12) -------


def _stage_event_files(spark, sf_dir, tmp_path, n_files=4):
    """events staged as n doc-ordered files with increasing mtimes; returns
    (stage_dir, schema, [per-file list of (event_id, key)])."""
    import os
    import time

    ev = frames.load_table(spark, sf_dir, "events").select("event_id", "user_id")
    keyed = ev.select(
        "event_id", "user_id",
        F.when(F.col("user_id") % 3 == 0, F.lit(-1)).otherwise(F.col("user_id")).alias("hkey"),
    )
    ids = sorted(r["event_id"] for r in keyed.select("event_id").collect())
    cuts = [ids[len(ids) * (i + 1) // n_files] for i in range(n_files - 1)]
    stage = tmp_path / "hh_stream"
    stage.mkdir()
    t0 = time.time() - 100
    file_batches = []
    lo = None
    for i, hi in enumerate([*cuts, None]):
        part = keyed
        if lo is not None:
            part = part.where(F.col("event_id") >= lo)
        if hi is not None:
            part = part.where(F.col("event_id") < hi)
        pdir = stage / f"part{i}"
        part.coalesce(1).write.parquet(str(pdir))
        for root, _dirs, files in os.walk(pdir):
            for fn in files:
                os.utime(os.path.join(root, fn), (t0 + i * 10, t0 + i * 10))
        file_batches.append([(r["event_id"], str(r["hkey"])) for r in part.collect()])
        lo = hi
    return stage, keyed.schema, file_batches


def _shard_of(spark, pairs, shards, seed="ss"):
    """shard id per event via the SAME md5 bucket the operator uses."""
    from sarpro_spark.llm.sampling import hash_bucket

    df = spark.createDataFrame(pairs, "event_id long, hkey string")
    return {
        r["event_id"]: r["shard"]
        for r in df.select(
            "event_id", (hash_bucket(F.col("event_id"), seed) % shards).cast("int").alias("shard")
        ).collect()
    }


def test_spacesaving_stream_matches_reference_and_guarantees(
    spark, sf_dir, tmp_path, nanos_conf_reset
):
    """Drained stream == the driver-side replay of the identical fold over
    the same micro-batches (byte-for-byte), and the SpaceSaving bounds hold
    against exact counts: over-count-only, err-bounded, and every key with
    freq > N_shard/capacity present."""
    from sarpro_spark.streaming import heavyhitters as hh

    CAP, SHARDS = 8, 4
    stage, schema, file_batches = _stage_event_files(spark, sf_dir, tmp_path)
    all_pairs = [p for fb in file_batches for p in fb]
    shard_of = _shard_of(spark, all_pairs, SHARDS)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(stage))
    )
    out = hh.spacesaving_stream(stream, "hkey", "event_id", capacity=CAP, shards=SHARDS)
    q = (
        out.writeStream.format("memory")
        .queryName("ss_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM ss_stream").collect()
    # final summary per shard = the emission with that shard's max n_shard
    final_n = {}
    for r in rows:
        final_n[r["shard"]] = max(final_n.get(r["shard"], 0), r["n_shard"])
    got = {
        s: sorted((r["key"], r["count"], r["err"]) for r in rows
                  if r["shard"] == s and r["n_shard"] == final_n[s])
        for s in final_n
    }

    # reference replay over the identical batch sequence
    want = {}
    for s in final_n:
        batches = [[k for eid, k in fb if shard_of[eid] == s] for fb in file_batches]
        keys, counts, errs, n = hh.spacesaving_reference(batches, capacity=CAP)
        assert n == final_n[s]
        want[s] = sorted(zip(keys, counts, errs))
    assert got == want

    # guarantee bounds vs exact per-shard counts
    from collections import Counter

    for s in final_n:
        exact = Counter(k for eid, k in all_pairs if shard_of[eid] == s)
        summ = {k: (c, e) for k, c, e in want[s]}
        assert len(summ) <= CAP
        for k, (c, e) in summ.items():
            assert c >= exact[k], (k, c, exact[k])
            assert c - e <= exact[k], (k, c, e, exact[k])
        n_shard = sum(exact.values())
        for k, f in exact.items():
            if f > n_shard / CAP:
                assert k in summ, f"guaranteed survivor {k} missing from shard {s}"


def test_spacesaving_restart_resumes_from_checkpoint(spark, sf_dir, tmp_path, nanos_conf_reset):
    """Kill after two micro-batches, restart on the same checkpoint with two
    more files staged: the resumed fold must equal the uninterrupted
    reference replay of all four batches (state-store resume, no re-count)."""
    import os
    import shutil
    import time

    from sarpro_spark.streaming import heavyhitters as hh

    CAP, SHARDS = 8, 4
    stage_all, schema, file_batches = _stage_event_files(spark, sf_dir, tmp_path)
    all_pairs = [p for fb in file_batches for p in fb]
    shard_of = _shard_of(spark, all_pairs, SHARDS)

    live = tmp_path / "hh_live"
    live.mkdir()
    ckpt = str(tmp_path / "hh_ckpt")

    def _feed(i):
        shutil.copytree(stage_all / f"part{i}", live / f"part{i}")
        t = time.time() - 100 + i * 10
        for root, _dirs, files in os.walk(live / f"part{i}"):
            for fn in files:
                os.utime(os.path.join(root, fn), (t, t))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")

    rows = []

    def _run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(live))
        )
        out = hh.spacesaving_stream(stream, "hkey", "event_id", capacity=CAP, shards=SHARDS)
        q = (
            out.writeStream.foreachBatch(lambda df, bid: rows.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    _feed(0); _feed(1)
    _run()
    _feed(2); _feed(3)
    _run()
    final_n = {}
    for r in rows:
        final_n[r["shard"]] = max(final_n.get(r["shard"], 0), r["n_shard"])
    got = {
        s: sorted((r["key"], r["count"], r["err"]) for r in rows
                  if r["shard"] == s and r["n_shard"] == final_n[s])
        for s in final_n
    }
    want = {}
    for s in final_n:
        batches = [[k for eid, k in fb if shard_of[eid] == s] for fb in file_batches]
        keys, counts, errs, n = hh.spacesaving_reference(batches, capacity=CAP)
        assert n == final_n[s]
        want[s] = sorted(zip(keys, counts, errs))
    assert got == want


def test_cdc_time_travel_and_changes_between(spark, tmp_path):
    """Time travel over the version store (streaming/cdc.py, r12): after a
    three-batch maintenance run, snapshot_as_of(epoch) equals the batch
    fold of the changelog prefix for EVERY epoch (including an as-of
    before the first version = base), and changes_between(v0, v_last)
    replays the older snapshot into the newer one through the diff/apply
    round-trip law."""
    from sarpro_spark.operators.cdc import apply_changelog
    from sarpro_spark.streaming.cdc import (
        _committed_versions,
        changes_between,
        maintain_snapshot_stream,
        snapshot_as_of,
    )

    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    land = tmp_path / "tt_land"
    land.mkdir()
    out = str(tmp_path / "tt_snap")
    ckpt = str(tmp_path / "tt_ckpt")

    files = [
        ("c1", [(1, "a2", 1, "U"), (4, "d", 1, "I")]),
        ("c2", [(2, "b", 2, "D"), (1, "a3", 2, "U")]),
        ("c3", [(5, "e", 1, "I"), (4, "d2", 2, "U")]),
    ]
    for name, rows in files:
        spark.createDataFrame(rows, "k long, v string, seq long, op string") \
            .coalesce(1).write.mode("overwrite").parquet(str(land / name))

    stream = (
        spark.readStream.schema("k long, v string, seq long, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land / "*"))
    )
    _drain(maintain_snapshot_stream(stream, base, "k", out, ckpt))

    vs = _committed_versions(spark, out)
    assert len(vs) == 3

    # prefix folds (file landing order == epoch order under one-file triggers)
    def fold(k):
        snap = base
        for name, _ in files[:k]:
            ch = spark.read.parquet(str(land / name))
            snap = apply_changelog(snap, ch, "k").select("k", "v")
        return {(r["k"], r["v"]) for r in snap.collect()}

    for i, v in enumerate(vs):
        got = {(r["k"], r["v"]) for r in snapshot_as_of(spark, out, base, v).collect()}
        assert got == fold(i + 1), f"as-of v={v}"
    # an as-of before the first committed version resolves to base
    pre = {(r["k"], r["v"]) for r in snapshot_as_of(spark, out, base, vs[0] - 1).collect()}
    assert pre == fold(0)

    # diff/apply round-trip across the store
    delta = changes_between(spark, out, base, "k", vs[0], vs[-1])
    replayed = apply_changelog(
        snapshot_as_of(spark, out, base, vs[0]).select("k", "v"),
        delta.withColumn("seq", F.lit(1)),
        "k",
    )
    got = {(r["k"], r["v"]) for r in replayed.select("k", "v").collect()}
    assert got == fold(3)


def test_vacuum_versions_bounds_store_and_preserves_time_travel(spark, tmp_path):
    """Snapshot-store vacuum (r13, verdict item 6): retention prunes epoch
    versions (keep newest N + pinned) so the store stops growing one full
    snapshot per epoch forever; time travel stays correct across pruning
    (as-of resolves to the newest SURVIVING version <= v — its documented
    non-contiguous contract), the diff/apply round-trip law holds between
    surviving versions, and maintenance resumed AFTER a vacuum applies on
    top of the newest kept version exactly-once."""
    from sarpro_spark.operators.cdc import apply_changelog
    from sarpro_spark.streaming.cdc import (
        _committed_versions,
        changes_between,
        latest_snapshot,
        maintain_snapshot_stream,
        snapshot_as_of,
        vacuum_versions,
    )

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    land = tmp_path / "vac_land"
    land.mkdir()
    out = str(tmp_path / "vac_snap")
    ckpt = str(tmp_path / "vac_ckpt")

    files = [
        ("c1", [(1, "a2", 1, "U")]),
        ("c2", [(3, "c", 1, "I")]),
        ("c3", [(2, "b2", 1, "U")]),
        ("c4", [(4, "d", 1, "I")]),
        ("c5", [(1, "a3", 2, "U")]),
    ]

    def drop(name, rows):
        spark.createDataFrame(rows, "k long, v string, seq long, op string") \
            .coalesce(1).write.mode("overwrite").parquet(str(land / name))

    for name, rows in files:
        drop(name, rows)

    def mk_stream():
        return (spark.readStream.schema("k long, v string, seq long, op string")
                .option("maxFilesPerTrigger", 1).parquet(str(land / "*")))

    _drain(maintain_snapshot_stream(mk_stream(), base, "k", out, ckpt))
    vs = _committed_versions(spark, out)
    assert len(vs) == 5

    def fold(k):
        snap = base
        for name, _ in files[:k]:
            snap = apply_changelog(snap, spark.read.parquet(str(land / name)), "k").select("k", "v")
        return {(r["k"], r["v"]) for r in snap.collect()}

    report = vacuum_versions(spark, out, keep_latest=2, pin=(vs[0],))
    kept = _committed_versions(spark, out)
    assert kept == sorted({vs[0], vs[-2], vs[-1]})
    assert sorted(report["kept"]) == kept
    assert sorted(report["deleted"]) == [vs[1], vs[2]]

    # store is bounded: exactly the kept version dirs remain on disk
    import os

    on_disk = sorted(d for d in os.listdir(out) if d.startswith("v="))
    assert on_disk == [f"v={v}" for v in kept]

    # time travel across pruning: kept versions exact; a pruned version
    # resolves to the newest surviving version below it (vs[1] -> vs[0])
    assert {(r["k"], r["v"]) for r in latest_snapshot(spark, out, base).collect()} == fold(5)
    assert {(r["k"], r["v"]) for r in snapshot_as_of(spark, out, base, vs[0]).collect()} == fold(1)
    assert {(r["k"], r["v"]) for r in snapshot_as_of(spark, out, base, vs[1]).collect()} == fold(1)
    assert {(r["k"], r["v"]) for r in snapshot_as_of(spark, out, base, vs[-2]).collect()} == fold(4)

    # diff/apply round-trip law between surviving versions
    delta = changes_between(spark, out, base, "k", vs[0], vs[-1])
    replayed = apply_changelog(
        snapshot_as_of(spark, out, base, vs[0]).select("k", "v"),
        delta.withColumn("seq", F.lit(1)), "k",
    )
    assert {(r["k"], r["v"]) for r in replayed.select("k", "v").collect()} == fold(5)

    # maintenance resumed after the vacuum folds on top of the newest kept
    drop("c6", [(5, "e", 1, "I")])
    files.append(("c6", None))
    _drain(maintain_snapshot_stream(mk_stream(), base, "k", out, ckpt))
    snap = base
    for name in ("c1", "c2", "c3", "c4", "c5", "c6"):
        snap = apply_changelog(snap, spark.read.parquet(str(land / name)), "k").select("k", "v")
    expect = {(r["k"], r["v"]) for r in snap.collect()}
    assert {(r["k"], r["v"]) for r in latest_snapshot(spark, out, base).collect()} == expect


def test_streaming_incremental_agg_restart_exactly_once(spark, tmp_path):
    """Streaming incremental aggregate maintenance (r13, verdict item 8):
    maintain_group_aggregate runs per micro-batch under the epoch-versioned
    exactly-once gate (view + snapshot version dirs per epoch). Run 1
    crashes mid-epoch on the delete batch; torn v=1 dirs are planted for
    BOTH stores; run 2 resumes from the checkpoint, redelivers epoch 1
    into the same version dirs, and a change file landing during the
    outage folds in a fresh epoch. The drained view must equal the batch
    FULL RECOMPUTE over the folded snapshot — count/sum/avg from the delta
    algebra, min/max from the affected-group restriction."""
    import os

    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from sarpro_spark.operators.cdc import apply_changelog
    from sarpro_spark.operators.incremental import group_aggregate
    from sarpro_spark.streaming.incremental import (
        latest_view,
        maintain_group_aggregate_stream,
    )

    base = spark.createDataFrame(
        [(1, "x", 10), (2, "x", 20), (3, "y", 30), (4, "y", 5)],
        "k long, g string, val long",
    )
    land = tmp_path / "iagg_land"
    land.mkdir()
    out = str(tmp_path / "iagg_store")
    ckpt = str(tmp_path / "iagg_ckpt")

    def drop(name, rows):
        spark.createDataFrame(rows, "k long, g string, val long, seq long, op string") \
            .coalesce(1).write.mode("overwrite").parquet(str(land / name))

    drop("c1", [(1, "x", 100, 1, "U"), (5, "y", 7, 1, "I")])
    drop("c2", [(2, "x", 0, 2, "D"), (3, "y", 3, 2, "U")])  # retracts x's max, shrinks y's

    bomb = tmp_path / "iagg_bomb"
    bomb.write_text("armed")

    def crash_on_delete(batch_df):
        if bomb.exists() and batch_df.where(F.col("op") == "D").count() > 0:
            bomb.unlink()
            raise RuntimeError("simulated mid-epoch crash")
        return batch_df

    def mk_stream():
        return (spark.readStream.schema("k long, g string, val long, seq long, op string")
                .option("maxFilesPerTrigger", 1).parquet(str(land / "*")))

    q = maintain_group_aggregate_stream(
        mk_stream(), base, "k", "g", "val", out, ckpt, transform=crash_on_delete
    )
    crashed = False
    try:
        q.awaitTermination(180)
    except (StreamingQueryException, Py4JJavaError):
        crashed = True
    assert crashed and not bomb.exists()

    # torn writes for the failed epoch in BOTH stores
    spark.createDataFrame([(99, "GARBAGE", 1)], "k long, g string, val long").write.mode(
        "overwrite"
    ).parquet(os.path.join(out, "snap", "v=1"))
    spark.createDataFrame(
        [("GARBAGE", 9, 9, 9.0, 9, 9, True)],
        "grp string, n long, total long, avg double, vmin long, vmax long, minmax_recomputed boolean",
    ).write.mode("overwrite").parquet(os.path.join(out, "view", "v=1"))

    drop("c3", [(4, "y", 50, 3, "U")])  # lands during the outage

    q2 = maintain_group_aggregate_stream(mk_stream(), base, "k", "g", "val", out, ckpt)
    _drain(q2)

    # ground truth: full recompute over the batch-folded snapshot
    snap = base
    for name in ("c1", "c2", "c3"):
        snap = apply_changelog(snap, spark.read.parquet(str(land / name)), "k").select(
            "k", "g", "val"
        )
    want = {
        (r["grp"], r["n"], r["total"], r["vmin"], r["vmax"])
        for r in group_aggregate(snap, "g", "val").collect()
    }
    view = latest_view(spark, out)
    got = {
        (r["grp"], r["n"], r["total"], r["vmin"], r["vmax"])
        for r in view.collect()
    }
    assert got == want
    assert not any(r["grp"] == "GARBAGE" for r in view.collect())


def test_attribution_outer_join_stream_equals_batch(spark, sf_dir, tmp_path, nanos_conf_reset):
    """LEFT OUTER stream-stream join: drained bounded stream == batch left
    join row-for-row, INCLUDING the null-extended unattributed purchases
    (which streaming may only emit after the watermark proves no match can
    arrive — availableNow drains past that point)."""
    import datetime as dt

    from sarpro_spark.streaming.joins import attribution_join_outer

    # sentinel click+purchase (user -1) far past the real data: the global
    # watermark must pass every real purchase before its null-extended row
    # can emit — without the sentinels the tail watermark window's
    # unmatched purchases are legitimately never emitted on drain
    ev = frames.load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    far = (max_ts if isinstance(max_ts, dt.datetime)
           else dt.datetime(2024, 2, 15)) + dt.timedelta(hours=10)
    sentinels = spark.createDataFrame(
        [(-1, far, -1, "click", 0.0, "{}"), (-2, far, -1, "purchase", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    ev_dir = str(tmp_path / "events_dir_outer")
    ev.select(*sentinels.columns).unionByName(sentinels).coalesce(2).write.parquet(ev_dir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    schema = spark.read.parquet(ev_dir).schema

    batch = attribution_join_outer(spark.read.parquet(ev_dir)).where(F.col("user_id") >= 0)
    expect = {tuple(r) for r in batch.collect()}
    n_unmatched = sum(1 for r in expect if r[4] is None)
    assert n_unmatched > 0, "fixture must contain unattributed purchases"

    def mk_stream():
        return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(ev_dir)

    out = attribution_join_outer(mk_stream(), click_events=mk_stream())
    q = (
        out.writeStream.format("memory")
        .queryName("attrib_outer")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {tuple(r) for r in
           spark.sql("SELECT * FROM attrib_outer WHERE user_id >= 0").collect()}
    assert got == expect


def test_attribution_full_outer_join_stream_equals_batch(spark, sf_dir, tmp_path, nanos_conf_reset):
    """FULL OUTER stream-stream join (r13, verdict item 5): drained bounded
    streams == batch full join row-for-row, including BOTH null-extension
    directions — unattributed purchases AND orphan clicks (each may only
    emit once the global watermark proves no partner can arrive). The two
    sides arrive with CROSSED orders: purchases staged as 3 time-ordered
    files, clicks as 2 with different boundaries, so join partners land
    before OR after each other across micro-batches (state buffering is
    exercised both ways); each side stays time-ordered so no row is
    watermark-late."""
    import datetime as dt

    from sarpro_spark.streaming.joins import attribution_join_full

    ev = frames.load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    far = (max_ts if isinstance(max_ts, dt.datetime)
           else dt.datetime(2024, 2, 15)) + dt.timedelta(hours=10)
    sentinels = spark.createDataFrame(
        [(-1, far, -1, "click", 0.0, "{}"), (-2, far, -1, "purchase", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    cols = sentinels.columns
    allev = ev.select(*cols).unionByName(sentinels)

    def stage(df, dest, n_files):
        """time-ordered files with increasing mtimes (arrival = ntile(ts))."""
        import os
        import time

        from pyspark.sql import Window

        t0 = time.time() - 100
        tiled = df.withColumn(
            "_tile", F.ntile(n_files).over(Window.orderBy("ts", "event_id"))
        )
        for i in range(1, n_files + 1):
            part = tiled.where(F.col("_tile") == i).drop("_tile")
            pdir = str(dest / f"f{i}")
            part.coalesce(1).write.parquet(pdir)
            for root, _dirs, files in os.walk(pdir):
                for fn in files:
                    os.utime(os.path.join(root, fn), (t0 + i * 10, t0 + i * 10))

    p_dir = tmp_path / "fo_purchases"
    c_dir = tmp_path / "fo_clicks"
    p_dir.mkdir(); c_dir.mkdir()
    stage(allev.where(F.col("event_type") == "purchase"), p_dir, 3)
    stage(allev.where(F.col("event_type") == "click"), c_dir, 2)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    schema = spark.read.parquet(str(p_dir / "f1")).schema

    batch = attribution_join_full(
        spark.read.parquet(str(p_dir) + "/f*"),
        click_events=spark.read.parquet(str(c_dir) + "/f*"),
    ).where(F.col("user_id") >= 0)
    expect = {tuple(r) for r in batch.collect()}
    n_unmatched_p = sum(1 for r in expect if r[4] is None)
    n_orphan_c = sum(1 for r in expect if r[1] is None)
    assert n_unmatched_p > 0 and n_orphan_c > 0, "fixture must exercise both null directions"

    def mk(dirpath):
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(str(dirpath) + "/f*"))

    out = attribution_join_full(mk(p_dir), click_events=mk(c_dir))
    q = (
        out.writeStream.format("memory")
        .queryName("attrib_full")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {tuple(r) for r in
           spark.sql("SELECT * FROM attrib_full WHERE user_id >= 0").collect()}
    assert got == expect


# --- streaming KMV sketch (streaming/kmv.py, r12) ---------------------------------


def test_kmv_stream_equals_batch_exactly(spark, sf_dir, tmp_path, nanos_conf_reset):
    """Bottom-k of a set is order-independent, so the drained streaming
    sketch must equal the batch sketch EXACTLY (the strong stream==batch
    certificate class), for any micro-batch split; the summed per-shard
    estimate must land within the 3/sqrt(k-2) KMV band of the true
    distinct count."""
    import os
    import time

    from sarpro_spark.streaming import kmv as skmv

    K, SHARDS = 64, 4
    ev = frames.load_table(spark, sf_dir, "events").select("event_id", "user_id")
    # key with real duplication: user_id (150 distinct over 1000 rows at sf0.001)
    batch_sketch = {
        (r["shard"], r["pos"], r["h"])
        for r in skmv.kmv_batch(ev, "user_id", k=K, shards=SHARDS).collect()
    }
    n_exact = ev.select("user_id").distinct().count()

    stage = tmp_path / "kmv_stream"
    stage.mkdir()
    ids = sorted(r["event_id"] for r in ev.select("event_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    t0 = time.time() - 100
    lo = None
    for i, hi in enumerate([*cuts, None]):
        part = ev
        if lo is not None:
            part = part.where(F.col("event_id") >= lo)
        if hi is not None:
            part = part.where(F.col("event_id") < hi)
        pdir = stage / f"part{i}"
        part.coalesce(1).write.parquet(str(pdir))
        for root, _dirs, files in os.walk(pdir):
            for fn in files:
                os.utime(os.path.join(root, fn), (t0 + i * 10, t0 + i * 10))
        lo = hi

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(stage))
    )
    out = skmv.kmv_stream(stream, "user_id", k=K, shards=SHARDS)
    q = (
        out.writeStream.format("memory")
        .queryName("kmv_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM kmv_stream").collect()
    final_n = {}
    for r in rows:
        final_n[r["shard"]] = max(final_n.get(r["shard"], 0), r["n_seen"])
    got = {
        (r["shard"], r["pos"], r["h"])
        for r in rows
        if r["n_seen"] == final_n[r["shard"]]
    }
    assert got == batch_sketch  # EXACT, not bound-based

    est = skmv.estimate_distinct([(s, p, h) for s, p, h in got], k=K)
    tol = 3.0 / (K - 2) ** 0.5
    assert abs(est - n_exact) <= max(tol * n_exact, 12), (est, n_exact)


# --- streaming DDSketch quantiles (streaming/ddsketch.py, r13) ---------------------


def test_ddsketch_stream_equals_batch_exactly(spark, sf_dir, tmp_path, nanos_conf_reset):
    """The bucket map is a pure function of the value and the state is a
    counter bag, so the fold commutes with ANY micro-batch split — the
    drained per-shard sketches must equal the batch sketches EXACTLY (the
    strong stream==batch certificate class, same as KMV), and the merged
    global sketch answers quantiles with the certified coverage bound."""
    import os
    import time

    from sarpro_spark.streaming import ddsketch as sdd

    SHARDS = 4
    ev = (
        frames.load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            (F.floor(F.abs(F.col("value")) * 100.0 + 0.5).cast("long") + 1).alias(
                "cents"
            ),
        )
    )
    batch_sk = {
        (r["shard"], r["bucket_id"], r["cnt"])
        for r in sdd.ddsketch_batch(ev, "cents", "event_id", shards=SHARDS).collect()
    }

    stage = tmp_path / "dd_stream"
    stage.mkdir()
    ids = sorted(r["event_id"] for r in ev.select("event_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    t0 = time.time() - 100
    lo = None
    for i, hi in enumerate([*cuts, None]):
        part = ev
        if lo is not None:
            part = part.where(F.col("event_id") >= lo)
        if hi is not None:
            part = part.where(F.col("event_id") < hi)
        pdir = stage / f"part{i}"
        part.coalesce(1).write.parquet(str(pdir))
        for root, _dirs, files in os.walk(pdir):
            for fn in files:
                os.utime(os.path.join(root, fn), (t0 + i * 10, t0 + i * 10))
        lo = hi

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(stage))
    )
    out = sdd.ddsketch_stream(stream, "cents", "event_id", shards=SHARDS)
    q = (
        out.writeStream.format("memory")
        .queryName("dd_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM dd_stream").collect()
    final_n = {}
    for r in rows:
        final_n[r["shard"]] = max(final_n.get(r["shard"], 0), r["n_seen"])
    got = {
        (r["shard"], r["bucket_id"], r["cnt"])
        for r in rows
        if r["n_seen"] == final_n[r["shard"]]
    }
    assert got == batch_sk  # EXACT, not bound-based

    # the merged global sketch must satisfy the coverage certificate the
    # batch module proves: median bucket straddles the true median rank
    from collections import defaultdict

    merged = defaultdict(int)
    for _s, b, c in got:
        merged[b] += c
    n = sum(merged.values())
    target = (n + 1) // 2
    cum = 0
    best = None
    for b in sorted(merged):
        cum += merged[b]
        if cum >= target:
            best = b
            break
    from sarpro_spark.functions.ddsketch import bucket_hi_expr, bucket_lo_expr

    bounds = (
        spark.range(1)
        .select(
            bucket_lo_expr(F.lit(best)).alias("lo"),
            bucket_hi_expr(F.lit(best)).alias("hi"),
        )
        .collect()[0]
    )
    vals = sorted(r["cents"] for r in ev.collect())
    true_median = vals[target - 1]
    assert bounds["lo"] <= true_median <= bounds["hi"]
