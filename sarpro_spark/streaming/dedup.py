"""Streaming incremental near-dup detection: MinHash-LSH dedup of a document
STREAM against the accumulated corpus state — the streaming twin of
llm/dedup.py's batch `incremental_dedup` (batch vs static index), completing
the dedup family's third temporal mode: batch-vs-batch, batch-vs-index, and
now continuous arrival.

Shape:

1. **Stateless signature stage** (`doc_sig_bands`): per-doc MinHash
   signature + LSH band bucket keys from a ``mapInArrow`` block kernel —
   no aggregation and no shuffle (streaming queries allow at most one
   stateful operator, so each input row is one document rather than a
   run of rows merged by id as in the batch ``_minhash_frame``). Both
   kernels hash through the same two helpers of llm/dedup.py
   (``shingle_hashes``, ``minhash_blocks``), so signatures and buckets are
   bit-identical to the batch path's.
2. **One stateful stage** (`streaming_neardup`): groupBy(band, bucket) →
   ``applyInPandasWithState``. State per bucket = the (doc_id, signature)
   list of every doc that has arrived in that bucket. Each arriving doc is
   compared against the state (and earlier docs of the same micro-batch, in
   doc_id order); pairs whose signature agreement >= threshold emit as
   match rows. Every doc then joins the bucket state (arrival order is the
   only order that exists in a stream — dup docs stay in state so later
   arrivals match their nearest predecessor, exactly the batch-twin rule).

Scale contract: state is partitioned by (band, bucket) in Spark's state
store (RocksDB on a cluster) — memory is bounded by (active buckets x
bucket occupancy), and `bucket_cap` drops further arrivals in a
pathologically hot bucket (same cap doctrine as every LSH path; capped
buckets under-report matches, never explode).

Determinism: the verdict is "every unordered pair sharing a band bucket
with agreement >= tau", and match rows are emitted oriented (doc_id=max,
matched_id=min) regardless of which side arrived first (r8) — so an
UNCAPPED drained stream equals the batch twin (`streaming_neardup_batch`)
row-for-row for ANY arrival order, not just doc_id-ordered feeds; this is
what the registered `dedup_streaming_neardup` certificate hashes against
DuckDB. (Under `bucket_cap` pressure arrival order does matter — a capped
bucket keeps whichever docs arrived first; that is the documented
under-report trade-off, not a correctness knob.)

Reference parity note: the reference engine (bogwi/sarpro) has no streaming
surface; this operator exists for SURVEY §2.8's streaming coverage and the
training-data-pipeline extension set.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from hashlib import md5

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from sarpro_spark.llm.dedup import (
    DEFAULT_SHINGLE,
    _band_slices,
    minhash_agreement,
    minhash_blocks,
    minhash_coeffs,
)

#: 16 hashes / 4 bands / agreement >= 0.75: measured on the documents
#: fixture, est>=0.75 recovers exactly the same 25 pairs the exact-jaccard
#: verified pipeline finds at jaccard>=0.5, while 8 hashes at est>=0.5 was
#: 150x over-triggered (signature-estimate noise) — state is signatures,
#: not shingle sets, so the estimate IS the verifier in streaming.
DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4
DEFAULT_THRESHOLD = 0.75
DEFAULT_BUCKET_CAP = 4096


def doc_sig_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(id, band, bucket, sig array<long>) per doc — streaming-safe (a
    stateless ``mapInArrow`` block kernel, no aggregation).

    Each input row is one document, hashed by the batch signature frame's
    own helper (:func:`~sarpro_spark.llm.dedup.minhash_blocks`, over
    :func:`~sarpro_spark.llm.dedup.shingle_hashes`), so every signature is
    bit-equal to the batch frame's; band buckets are the md5 of the
    '|'-joined signature slice, as in the batch ``_band_keys``. Documents
    without a shingle (NULL or shorter than the shingle width) drop, and
    so do documents with a NULL id: the SQL twins' ``a.doc_id < b.doc_id``
    never pairs a NULL, so such a row could only occupy bucket state."""
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("band", IntegerType()),
            StructField("bucket", StringType()),
            StructField("sig", ArrayType(LongType())),
        ]
    )
    coeffs = minhash_coeffs(num_hashes)
    slices = _band_slices(num_hashes, bands)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for ids, sigs, _offsets, _hashes in minhash_blocks(batches, id_col, text_col, n, coeffs):
            out_ids, bnds, bkts, sigs_out = [], [], [], []
            for i, sig in zip(ids, sigs.T.tolist()):
                for b, _dropped, kept in slices:
                    out_ids.append(i)
                    bnds.append(b)
                    bkts.append(md5("|".join(str(sig[p]) for p in kept).encode()).hexdigest())
                    sigs_out.append(sig)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, pa.int64()),
                    pa.array(bnds, pa.int32()),
                    pa.array(bkts, pa.string()),
                    pa.array(sigs_out, pa.list_(pa.int64())),
                ],
                names=schema.fieldNames(),
            )

    return (
        docs.select(F.col(id_col), F.col(text_col))
        .where(F.col(id_col).isNotNull())
        .mapInArrow(fn, schema=schema)
    )


MATCH_SCHEMA = StructType(
    [
        StructField("band", IntegerType()),
        StructField("bucket", StringType()),
        StructField("doc_id", LongType()),
        StructField("matched_id", LongType()),
        StructField("est_sim", DoubleType()),
        # r9 (ADVICE r8): the batch-twin equivalence certificate only holds
        # for UNCAPPED buckets (a capped bucket keeps whichever docs arrived
        # first — order-dependent by construction). Surfacing the bucket's
        # capped status on every emitted row lets certificate runs assert
        # no bucket was capped instead of assuming it.
        StructField("capped", BooleanType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("sigs", ArrayType(LongType())),  # flattened, num_hashes per doc
        StructField("capped", BooleanType()),
    ]
)


def _agreeing(
    sig: list[int], flat: list[int], num_hashes: int, threshold: float
) -> Iterator[tuple[int, float]]:
    """(j, est_sim) of every stored signature j of the bucket's row-major
    (m, k) ``flat`` whose agreement with ``sig`` reaches ``threshold``, in
    stored order; est_sim is the count of equal positions over k, the same
    int / float64 division as :func:`~sarpro_spark.llm.dedup.minhash_agreement`."""
    est = (np.reshape(flat, (-1, num_hashes)) == sig).sum(axis=1) / float(num_hashes)
    hit = np.flatnonzero(est >= threshold)
    return zip(hit.tolist(), est[hit].tolist())


def _positions(sig: str, num_hashes: int) -> list[Column]:
    """The k positions of the array column ``sig``."""
    return [F.element_at(sig, i + 1) for i in range(num_hashes)]


def _make_update(num_hashes: int, threshold: float, bucket_cap: int):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:  # pragma: no cover - eviction policy hook
            state.remove()
            return
        ids, flat, capped = state.get if state.exists else ([], [], False)
        ids, flat = list(ids), list(flat)
        out_doc, out_match, out_sim, out_capped = [], [], [], []
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values("doc_id")
        for _, row in batch.iterrows():
            sig = [int(v) for v in row["sig"]]
            did = int(row["doc_id"])
            for j, est in _agreeing(sig, flat, num_hashes, threshold):
                prev_id = ids[j]
                # orientation-insensitive emission (r8, ADVICE r7): the
                # pair is always (max_id, min_id) so a doc arriving
                # AFTER a higher-id neighbor (out-of-order micro-batch)
                # emits the same row the batch twin produces — drained
                # stream == batch twin for ANY arrival order, not just
                # id-ordered feeds
                out_doc.append(max(did, prev_id))
                out_match.append(min(did, prev_id))
                out_sim.append(est)
                # bucket's capped status AS OF this emission (r9): a
                # True here taints the batch-twin equivalence for this
                # bucket, a run with all-False rows certifies it
                out_capped.append(capped)
            if len(ids) < bucket_cap:
                ids.append(did)
                flat.extend(sig)
            else:
                capped = True
        state.update((ids, flat, capped))
        yield pd.DataFrame(
            {
                "band": pd.array([key[0]] * len(out_doc), dtype="int32"),
                "bucket": [key[1]] * len(out_doc),
                "doc_id": pd.array(out_doc, dtype="int64"),
                "matched_id": pd.array(out_match, dtype="int64"),
                "est_sim": pd.array(out_sim, dtype="float64"),
                "capped": pd.array(out_capped, dtype="boolean"),
            }
        )

    return update


def streaming_neardup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = DEFAULT_THRESHOLD,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Streaming (or batch — the plan works in both) incremental near-dup:
    emits one match row per (band, neighbor) hit, oriented as
    (doc_id=max, matched_id=min) regardless of which side arrived first —
    so an uncapped drained stream emits EXACTLY the batch-twin row set for
    ANY arrival order (r8; previously id-ordered arrival was a
    precondition). Per-doc verdicts are a downstream grouping of the match
    rows (see :func:`neardup_verdicts_from_matches`)."""
    sb = doc_sig_bands(docs, id_col, text_col, n, num_hashes, bands)
    if id_col != "doc_id":
        sb = sb.withColumnRenamed(id_col, "doc_id")
    return sb.groupBy("band", "bucket").applyInPandasWithState(
        _make_update(num_hashes, threshold, bucket_cap),
        outputStructType=MATCH_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_neardup_batch(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """Batch twin: the exact rows a drained uncapped stream emits — pairs
    (band, bucket, doc_id, matched_id, est_sim) with matched_id < doc_id
    sharing the band bucket and signature agreement >= threshold. Pure
    DataFrame ops (self-join on the band keys), trivially SQL-twinnable."""
    sb = doc_sig_bands(docs, id_col, text_col, n, num_hashes, bands)
    a = sb.select(
        "band", "bucket", F.col(id_col).alias("matched_id"), F.col("sig").alias("sig_a")
    )
    b = sb.select(
        "band", "bucket", F.col(id_col).alias("doc_id"), F.col("sig").alias("sig_b")
    )
    est = minhash_agreement(_positions("sig_a", num_hashes), _positions("sig_b", num_hashes))
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("matched_id") < F.col("doc_id"))
        .select(
            "band", "bucket", "doc_id", "matched_id", est.alias("est_sim"),
            # the twin is uncapped by definition; the stream emits the same
            # False on every row when no bucket hits bucket_cap (r9)
            F.lit(False).alias("capped"),
        )
        .where(F.col("est_sim") >= threshold)
    )


def neardup_verdicts_from_matches(matches: DataFrame, all_ids: DataFrame) -> DataFrame:
    """Per-doc verdict from match rows: (doc_id, is_dup, first_match,
    n_earlier_matches). ``all_ids`` supplies the clean docs (no match rows);
    first_match = the smallest earlier partner, dedup'd across bands."""
    pairs = matches.select("doc_id", "matched_id").distinct()
    agg = pairs.groupBy("doc_id").agg(
        F.min("matched_id").alias("first_match"),
        F.count(F.lit(1)).alias("n_earlier_matches"),
    )
    return (
        all_ids.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("first_match").isNotNull().alias("is_dup"),
            "first_match",
            F.coalesce("n_earlier_matches", F.lit(0)).alias("n_earlier_matches"),
        )
    )


# --- r9: stream-stream near-dup (two live streams) ---------------------------
# Completes the dedup temporal matrix's last cell: batch-vs-batch,
# batch-vs-index, stream-vs-corpus (above), and now STREAM-vs-STREAM —
# e.g. a crawl stream deduped against a live ingest stream. Spark allows
# one stateful operator per query, so the two streams are UNIONED with a
# side tag and ONE applyInPandasWithState keyed (band, bucket) holds BOTH
# sides' signature lists; each arriving doc matches only the OPPOSITE
# side's accumulated state (plus opposite-side rows earlier in the same
# micro-batch), so every cross pair emits exactly once — when its later
# member arrives — oriented (a_id, b_id) independent of arrival order.

STREAM2_MATCH_SCHEMA = StructType(
    [
        StructField("band", IntegerType()),
        StructField("bucket", StringType()),
        StructField("a_id", LongType()),
        StructField("b_id", LongType()),
        StructField("est_sim", DoubleType()),
        StructField("capped", BooleanType()),
    ]
)

_STATE2_SCHEMA = StructType(
    [
        StructField("a_ids", ArrayType(LongType())),
        StructField("a_sigs", ArrayType(LongType())),  # flattened
        StructField("b_ids", ArrayType(LongType())),
        StructField("b_sigs", ArrayType(LongType())),
        StructField("capped", BooleanType()),
    ]
)


def _make_update2(num_hashes: int, threshold: float, bucket_cap: int):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:  # pragma: no cover - eviction policy hook
            state.remove()
            return
        a_ids, a_flat, b_ids, b_flat, capped = (
            state.get if state.exists else ([], [], [], [], False)
        )
        a_ids, a_flat = list(a_ids), list(a_flat)
        b_ids, b_flat = list(b_ids), list(b_flat)
        sides = {"a": (a_ids, a_flat), "b": (b_ids, b_flat)}
        out_a, out_b, out_sim, out_capped = [], [], [], []
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values("doc_id")
        for _, row in batch.iterrows():
            sig = [int(v) for v in row["sig"]]
            did = int(row["doc_id"])
            side = str(row["side"])
            other_ids, other_flat = sides["b" if side == "a" else "a"]
            for j, est in _agreeing(sig, other_flat, num_hashes, threshold):
                prev_id = other_ids[j]
                # fixed (a_id, b_id) orientation: the pair's identity,
                # not its arrival order (same doctrine as the r8
                # single-stream max/min orientation)
                out_a.append(did if side == "a" else prev_id)
                out_b.append(prev_id if side == "a" else did)
                out_sim.append(est)
                out_capped.append(capped)
            own_ids, own_flat = sides[side]
            if len(own_ids) < bucket_cap:
                own_ids.append(did)
                own_flat.extend(sig)
            else:
                capped = True
        state.update((a_ids, a_flat, b_ids, b_flat, capped))
        yield pd.DataFrame(
            {
                "band": pd.array([key[0]] * len(out_a), dtype="int32"),
                "bucket": [key[1]] * len(out_a),
                "a_id": pd.array(out_a, dtype="int64"),
                "b_id": pd.array(out_b, dtype="int64"),
                "est_sim": pd.array(out_sim, dtype="float64"),
                "capped": pd.array(out_capped, dtype="boolean"),
            }
        )

    return update


def stream_stream_neardup(
    a_docs: DataFrame,
    b_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = DEFAULT_THRESHOLD,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Near-dup matches ACROSS two document streams: one row per
    (band, cross-pair) hit, oriented (a_id, b_id) for any arrival order —
    an uncapped drained run emits exactly
    :func:`stream_stream_neardup_batch`'s row set. Both inputs may be
    streaming (the union carries a side tag through the stateless
    signature stage into the single stateful operator)."""
    tagged = None
    for side, docs in (("a", a_docs), ("b", b_docs)):
        sb = doc_sig_bands(docs, id_col, text_col, n, num_hashes, bands)
        if id_col != "doc_id":
            sb = sb.withColumnRenamed(id_col, "doc_id")
        part = sb.select("band", "bucket", "doc_id", "sig", F.lit(side).alias("side"))
        tagged = part if tagged is None else tagged.unionByName(part)
    return tagged.groupBy("band", "bucket").applyInPandasWithState(
        _make_update2(num_hashes, threshold, bucket_cap),
        outputStructType=STREAM2_MATCH_SCHEMA,
        stateStructType=_STATE2_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_stream_neardup_batch(
    a_docs: DataFrame,
    b_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """Batch twin: every cross pair (a_id, b_id) sharing a band bucket with
    signature agreement >= threshold — the rows an uncapped drained
    two-stream run emits for ANY interleaving of the two arrivals."""
    a = doc_sig_bands(a_docs, id_col, text_col, n, num_hashes, bands).select(
        "band", "bucket", F.col(id_col).alias("a_id"), F.col("sig").alias("sig_a")
    )
    b = doc_sig_bands(b_docs, id_col, text_col, n, num_hashes, bands).select(
        "band", "bucket", F.col(id_col).alias("b_id"), F.col("sig").alias("sig_b")
    )
    est = minhash_agreement(_positions("sig_a", num_hashes), _positions("sig_b", num_hashes))
    return (
        a.join(b, ["band", "bucket"])
        .select(
            "band", "bucket", "a_id", "b_id", est.alias("est_sim"),
            F.lit(False).alias("capped"),
        )
        .where(F.col("est_sim") >= threshold)
    )
