"""Deduplication operators for large-scale training-data pipelines.

Five surfaces, each shuffle-bounded for 100 TB:

  exact        md5 hash -> groupBy. One shuffle; canonical = min(doc_id).
  n-gram Jaccard  inverted index self-join over each doc's set of char-n-gram
               hashes (the MinHash chain's sets) — candidate pairs come from
               shared hashes (never a crossJoin); |A ∩ B| is the
               array_intersect of the two sets. Hot shingles are the skew
               risk: drop hashes with document-frequency above a cap
               (stop-shingle filter), the standard trick at web scale.
  MinHash+LSH  k min-hashes per doc via ONE md5 per shingle + k seeded linear
               permutations (a_i*h + b_i mod 2^31-1, exact int64 arithmetic on
               both engines — 16x fewer md5 calls than hashing per permutation
               and still byte-reproducible in the DuckDB oracle); band
               signatures bucket-join candidates, then the exact minhash
               agreement (or true Jaccard) verifies.
  SimHash      16-bit sign-aggregated fingerprint (hex-nibble bit table keeps
               it portable SQL); near-dups = small Hamming distance.
  embedding    cosine near-dup in llm/similarity.py (sign-bucket prefilter).

Every MinHash-family function is written over ONE chain of private builders,
each the single home of one decision, with its DuckDB twin beside it:

  shingle_hashes + minhash_blocks -> _minhash_frame / _sql_hashed + sql_minhash_ctes
               md5-prefix base hash per shingle, the seeded permutation
               minimums sig_i and (when verifying) the sorted hash set.
  _band_slices -> _band_keys / sql_minhash_bands
               (band, dropped, bucket) LSH keys; probe >= 1 adds the
               leave-one/two-out keys, probe=0 is the plain banding.
  _band_pairs  the keyed self-join of those keys (doc_a < doc_b).
  _set_jaccard / _sql_hash_sets + _sql_set_jaccard
               exact set Jaccard (with |A ∩ B|, |A|, |B|) of candidate
               pairs: the verify of ngram_jaccard_pairs, incremental_dedup
               and minhash_jaccard_pairs above LSH_MAX_HASHES.
  _one_task_pairs + _local_jaccard
               the same banding and verify in ONE Arrow task (equal kept
               signature values = one bucket), taken by
               minhash_jaccard_pairs at or below LSH_MAX_HASHES hashes;
               the two builders above run beyond it.
  minhash_agreement / sql_minhash_agreement
               the signature-agreement fraction (est_sim) of minhash_lsh_pairs
               and the streaming batch twins.

Spark-side logic is native column expressions (codegen) except the MinHash
signature and the one-task pairs: ``_minhash_frame`` hashes each row in an
Arrow kernel (hashlib md5 per distinct shingle, numpy for the k permutations
and mins) and merges the rows of one id in a second, around one exchange on
id; ``_local_jaccard`` bands and verifies a small signature frame in numpy.
``shingle_hashes`` and ``minhash_blocks`` are the only Python form of the
hash chain; the streaming signature stage (``streaming/dedup.py:doc_sig_bands``)
runs the same two.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import reduce
from hashlib import md5
from itertools import combinations
from operator import add

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType, StructField, StructType

from sarpro_spark.llm.cluster import _checkpointer, _counted, _in_one_task

DEFAULT_SHINGLE = 5
DEFAULT_NUM_HASHES = 8
DEFAULT_BANDS = 2  # bands * rows_per_band == num_hashes

# MinHash permutation family: h -> (a*h + b) mod p over a 60-bit md5-prefix
# base hash reduced mod p. p = 2^31 - 1 keeps a*h below 2^62 (no int64
# overflow) and the arithmetic exact on both Spark and DuckDB.
MINHASH_PRIME = 2147483647
_MINHASH_SEED = 0x51AB


def minhash_coeffs(num_hashes: int, seed: int = _MINHASH_SEED) -> list[tuple[int, int]]:
    """Seeded (a, b) pairs shared by the Spark and SQL sides."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MINHASH_PRIME, num_hashes)
    b = rng.integers(0, MINHASH_PRIME, num_hashes)
    return list(zip(a.tolist(), b.tolist()))


# --- exact dedup -------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: one row per distinct content hash with the canonical
    (minimum) id and the duplicate count."""
    h = F.md5(F.col(text_col))
    return (
        df.select(F.col(id_col), h.alias("h"))
        .groupBy("h")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def dedupe_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Return the deduplicated frame (keep the canonical row per hash)."""
    canon = exact_dedup(df, id_col, text_col).select(F.col("canonical_id").alias(id_col))
    return df.join(canon, on=id_col, how="left_semi")


def normalize_text_expr(text: Column) -> Column:
    """Canonical form for normalization-tolerant exact dedup: lowercase,
    trim, collapse whitespace runs — the standard preprocessing that catches
    re-encoded/re-wrapped copies plain byte-hashing misses."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_dedup_normalized(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """:func:`exact_dedup` over the normalized text form."""
    norm = df.select(F.col(id_col), normalize_text_expr(F.col(text_col)).alias(text_col))
    return exact_dedup(norm, id_col, text_col)


# --- character shingles ------------------------------------------------------


def char_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Distinct lowercase char-n-grams per doc: (id, shingle). Docs shorter
    than n contribute no shingles (matching SUBSTR semantics on both
    engines)."""
    # Heavy compute fans out from few input splits (a small parquet file is a
    # single row group => a single task): spread docs across the cluster
    # BEFORE the explode so shingling/hashing parallelizes; narrow-scan
    # detection via inputFiles(), never df.rdd (plan-conversion-free).
    from sarpro_spark.functions.partitioning import widen_if_narrow

    df = widen_if_narrow(df, id_col)
    lowered = F.lower(F.col(text_col))
    pos = F.explode(F.sequence(F.lit(1), F.greatest(F.length(lowered) - (n - 1), F.lit(0))))
    return (
        df.select(F.col(id_col), lowered.alias("_t"), pos.alias("_i"))
        .select(F.col(id_col), F.substring(F.col("_t"), F.col("_i"), F.lit(n)).alias("shingle"))
        .where(F.length("shingle") == n)
        .distinct()
    )


def sql_char_shingles(src_rel: str, id_col: str = "doc_id", text_col: str = "text", n: int = DEFAULT_SHINGLE) -> str:
    """DuckDB twin of :func:`char_shingles` (CTE body ending in ``shingles``)."""
    return f"""
shingles AS (
  SELECT DISTINCT d.{id_col}, SUBSTR(LOWER(d.{text_col}), i.i, {n}) AS shingle
  FROM {src_rel} d
  JOIN (SELECT UNNEST(RANGE(1, (SELECT MAX(LENGTH({text_col})) FROM {src_rel}) + 1)) AS i) i
    ON i.i <= LENGTH(d.{text_col}) - {n - 1}
  WHERE LENGTH(SUBSTR(LOWER(d.{text_col}), i.i, {n})) = {n}
)""".strip()


# --- n-gram Jaccard ----------------------------------------------------------


DEFAULT_MAX_SHINGLE_DF = 256


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    threshold: float = 0.5,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    broadcast_sets: bool = False,
) -> DataFrame:
    """Near-dup pairs (doc_a, doc_b, inter, sz_a, sz_b, jaccard) with EXACT
    jaccard = inter/(sz_a+sz_b-inter) >= threshold over each doc's set of
    distinct shingle hashes (:func:`shingle_hashes`, the sets of
    :func:`_minhash_frame`); the counts are BIGINT.

    Two phases — the shape that survives corpus scale:
      1. candidates from the inverted index over hashes with document
         frequency <= ``max_shingle_df`` (None: no cap). Ultra-common
         shingles produce df^2 join rows for zero selectivity (every doc
         pairs with every doc) — the cap is what keeps the self-join
         linear-ish. A high-jaccard pair that shares ONLY ubiquitous
         shingles would be missed; at threshold 0.5 such a pair must share
         half its shingle set, so in any real corpus it also shares rare
         shingles.
      2. exact |A ∩ B| for candidate pairs only (:func:`_set_jaccard`, the
         :func:`minhash_jaccard_pairs` verifier): each doc's set moves once
         per pair side, where a per-shingle verify join moves |cand| x
         shingles-per-doc rows (measured 200M+ rows / 40 s on a
         high-overlap 1500-doc panel). Jaccard values are exact, not
         capped.

    A hash set equals the shingle set unless two of its shingles share a
    hash (see :func:`_set_jaccard` for the bound); the DuckDB twin hashes
    the same way, so both engines agree on any collision.

    ``broadcast_sets=True`` pins the set relation broadcast: ONLY valid
    when ``df`` is a bounded panel (the recall-measurement contract — the
    checkpointed set relation reports no stats, so Spark would otherwise
    shuffle every candidate pair's two ~KB arrays through a sort-merge
    join; measured 13 s -> ~2 s on the 1000-doc panel). Default False: a
    corpus-scale set relation must never be broadcast, AQE sizes it."""
    sets = _minhash_frame(df, id_col, text_col, n, 0, sets=True)
    sets = _checkpointer(sets)(sets)
    hdist = sets.select(id_col, F.explode("hset").alias("h"))
    if max_shingle_df is not None:
        # no broadcast hint: the sub-cap hashes are the unbounded Zipf long
        # tail; the semi-join key matches dfreq's grouping key, so
        # sort-merge reuses the partitioning
        dfreq = hdist.groupBy("h").agg(F.count(F.lit(1)).alias("df_"))
        rare = hdist.join(
            dfreq.where(F.col("df_") <= max_shingle_df), "h", "left_semi"
        )
    else:
        rare = hdist
    cand = (
        rare.select(F.col(id_col).alias("doc_a"), "h")
        .join(rare.select(F.col(id_col).alias("doc_b"), "h"), "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # the per-pair array_intersect is COMPUTE-bound, but the cand
    # relation is byte-tiny (16 B/row) so AQE coalesces it to ~one
    # partition and the whole verify runs on one core (measured: 481 k
    # pairs -> ~10 s serial). Spread the compute explicitly; the extra
    # shuffle moves only the skinny pair list.
    cand = cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)
    pairs = _set_jaccard(cand, sets, id_col, broadcast_sets=broadcast_sets)
    return pairs.where(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", *[F.col(c).cast("long").alias(c) for c in ("inter", "sz_a", "sz_b")], "jaccard"
    )


def sql_ngram_jaccard(
    src_rel: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    threshold: float = 0.5,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> str:
    """DuckDB twin of :func:`ngram_jaccard_pairs`: the same hash sets
    (``_sql_hashed`` + ``_sql_hash_sets``), df cap, candidates and verify
    (``_sql_set_jaccard``)."""
    cap = "" if max_shingle_df is None else f"WHERE hdf.df_ <= {max_shingle_df}"
    return f"""
WITH {_sql_hashed(src_rel, id_col, text_col, n)},
{_sql_hash_sets(id_col)},
hdf AS (SELECT h, COUNT(*) AS df_ FROM hdist GROUP BY h),
rare AS (SELECT d.* FROM hdist d JOIN hdf USING (h) {cap}),
cand AS (
  SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b
  FROM rare a JOIN rare b USING (h)
  WHERE a.{id_col} < b.{id_col}
),
{_sql_set_jaccard(id_col)}
SELECT doc_a, doc_b, inter, sz_a, sz_b, jaccard FROM verified WHERE jaccard >= {threshold!r}
""".strip()


# --- MinHash + LSH -----------------------------------------------------------

#: LSH key columns shared by every banding join (probe=0 keys carry
#: dropped = -1, so one key form serves plain and multi-probe banding)
_KEY = ["band", "dropped", "bucket"]


_NO_HASHES = np.empty(0, dtype=np.int64)


def shingle_hashes(text: str | None, n: int) -> np.ndarray:
    """Sorted distinct base hashes of ``text``'s lowercase char-n-gram
    shingles (int64): the top 60 bits of each shingle's md5 reduced mod
    :data:`MINHASH_PRIME` — the value ``_sql_hashed`` computes as
    ``CAST('0x' || SUBSTR(MD5(shingle), 1, 15) AS BIGINT) % p``. Empty for
    NULL text and for text shorter than ``n`` after lowering (no shingles,
    matching SUBSTR semantics)."""
    if text is None:
        return _NO_HASHES
    t = text.lower()
    grams = {t[p:p + n] for p in range(len(t) - n + 1)}
    if not grams:
        return _NO_HASHES
    digests = b"".join([md5(g.encode("utf-8")).digest()[:8] for g in grams])
    hs = (np.frombuffer(digests, dtype=">u8") >> 4).astype(np.int64) % MINHASH_PRIME
    return np.unique(hs)


def _pack(docs: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, values): the Arrow list layout of per-document arrays —
    doc j owns ``values[offsets[j]:offsets[j + 1]]``."""
    offsets = np.zeros(len(docs) + 1, dtype=np.int32)
    np.cumsum([len(d) for d in docs], out=offsets[1:])
    return offsets, np.concatenate(docs)


def minhash_blocks(
    batches: Iterator[pa.RecordBatch], id_col: str, text_col: str, n: int, coeffs: list[tuple[int, int]]
) -> Iterator[tuple[list, np.ndarray, np.ndarray, np.ndarray]]:
    """(ids, sigs, offsets, hashes) per Arrow batch of (id, text) rows: one
    entry per row with at least one shingle (:func:`shingle_hashes`), its
    hash set at ``hashes[offsets[j]:offsets[j + 1]]`` and its signature in
    column j of the (k, docs) int64 ``sigs``, sig_i = min((a_i*h + b_i) mod
    p) over the set. One permutation at a time over the whole block, so
    memory stays at one copy of it whatever k is; a_i*h < 2^62 keeps the
    arithmetic exact in int64. The one Python home of the MinHash chain:
    the batch signature frame and the streaming signature stage both run
    it."""
    for rb in batches:
        ids, docs = [], []
        for i, text in zip(rb.column(id_col).to_pylist(), rb.column(text_col).to_pylist()):
            hs = shingle_hashes(text, n)
            if len(hs):
                ids.append(i)
                docs.append(hs)
        if not docs:
            continue
        offsets, hashes = _pack(docs)
        sigs = np.empty((len(coeffs), len(docs)), dtype=np.int64)
        for k, (a, b) in enumerate(coeffs):
            sigs[k] = np.minimum.reduceat((a * hashes + b) % MINHASH_PRIME, offsets[:-1])
        yield ids, sigs, offsets, hashes


def _id_runs(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple[pa.RecordBatch, list[int]]]:
    """(block, run starts) over id-sorted batches whose first column is the
    id: every block holds whole runs of equal id — the last run of a batch
    is held back until the next batch shows where it ends — and NULL ids
    form one run (``None == None``), as a ``groupBy`` groups them."""
    held = None
    for rb in batches:
        if held is not None:
            rb = pa.Table.from_batches([held, rb]).combine_chunks().to_batches()[0]
        ids = rb.column(0).to_pylist()
        if not ids:
            continue
        starts = [j for j in range(len(ids)) if j == 0 or ids[j] != ids[j - 1]]
        held = rb.slice(starts[-1])
        if len(starts) > 1:
            yield rb.slice(0, starts[-1]), starts[:-1]
    if held is not None:
        yield held, [0]


def _minhash_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    sets: bool = False,
) -> DataFrame:
    """(id, sig_0..sig_{k-1}[, hset, sz]): one row per distinct id with at
    least one shingle, sig_i = MIN((a_i*h + b_i) mod p) over the base hashes
    h of every shingle of every row carrying that id — bit-identical to the
    DuckDB ``sigs``/``hdist`` CTEs. ``sets=True`` also carries each doc's
    sorted distinct hash set and its size, bounded by doc length.

    Two Arrow kernels around one exchange on id:

      * ``sign`` hashes each row (:func:`minhash_blocks`) into an output
        row of its own — rows without a shingle drop;
      * ``merge`` takes runs of equal id from id-sorted partitions and
        folds each into one row: the min of each sig_i and the union of the
        hash sets. A row whose id is unique passes through unchanged.

    The exchange moves the smaller form. By default it runs before
    ``sign``, which then feeds ``merge`` in the same Python task, and moves
    the text: a hash set is 8 bytes per shingle, about 8x the text
    (measured on a 16 000-doc, 8-file corpus: 4.5 MB of text against 40 MB
    of signature rows), and a narrow scan
    (:func:`~sarpro_spark.functions.partitioning.scan_is_narrow`) needs a
    shuffle of its text anyway to spread the hashing. A wide scan without
    ``sets`` is hashed where it is read instead, and only k longs per row
    cross the exchange (1.2 MB against the 4.5 MB of text on that corpus).
    The partition count is given BY NUMBER
    (:func:`~sarpro_spark.functions.partitioning.shuffle_partition_count`):
    AQE coalesces a by-column repartition of these few bytes to one task,
    while the kernels and every consumer (band-key explode, set
    intersections) are CPU-bound.

    NULL ids form ONE group, as the DuckDB twins' ``GROUP BY`` forms it,
    while the streaming ``doc_sig_bands`` drops NULL-id rows (a NULL never
    pairs there); both are pinned by tests."""
    from sarpro_spark.functions.partitioning import scan_is_narrow, shuffle_partition_count

    coeffs = minhash_coeffs(num_hashes)
    sig_names = [f"sig_{i}" for i in range(num_hashes)]
    fields = [df.schema[id_col]] + [StructField(c, LongType()) for c in sig_names]
    if sets:
        fields += [
            StructField("hset", ArrayType(LongType(), containsNull=False), nullable=False),
            StructField("sz", IntegerType(), nullable=False),
        ]
    schema = StructType(fields)
    arrow = to_arrow_schema(schema)

    def batch(ids: pa.Array, sigs: np.ndarray, offsets: np.ndarray, hashes: np.ndarray) -> pa.RecordBatch:
        cols = [ids, *map(pa.array, sigs)]
        if sets:
            hset = pa.ListArray.from_arrays(offsets, hashes, type=arrow.field("hset").type)
            cols += [hset, pa.array(np.diff(offsets))]
        return pa.RecordBatch.from_arrays(cols, schema=arrow)

    def sign(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for ids, sigs, offsets, hashes in minhash_blocks(batches, id_col, text_col, n, coeffs):
            yield batch(pa.array(ids, type=arrow.field(0).type), sigs, offsets, hashes)

    def merge(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb, starts in _id_runs(batches):
            if len(starts) == rb.num_rows:
                yield rb
                continue
            at = np.asarray(starts)
            sigs = np.array([np.minimum.reduceat(rb.column(c).to_numpy(), at) for c in sig_names])
            sigs = sigs.reshape(num_hashes, len(at))
            offsets, hashes = np.zeros(1, dtype=np.int32), _NO_HASHES
            if sets:
                hset = rb.column("hset")
                offs, vals = hset.offsets.to_numpy(), hset.values.to_numpy()
                ends = [*starts[1:], rb.num_rows]
                offsets, hashes = _pack([
                    vals[offs[s]:offs[e]] if e - s == 1 else np.unique(vals[offs[s]:offs[e]])
                    for s, e in zip(starts, ends)
                ])
            yield batch(rb.column(0).take(at), sigs, offsets, hashes)

    def by_id(rows: DataFrame) -> DataFrame:
        return rows.repartition(shuffle_partition_count(df), id_col).sortWithinPartitions(id_col)

    rows = df.select(id_col, text_col)
    if sets or scan_is_narrow(rows):
        return by_id(rows).mapInArrow(lambda batches: merge(sign(batches)), schema)
    return by_id(rows.mapInArrow(sign, schema)).mapInArrow(merge, schema)


def _band_slices(num_hashes: int, bands: int, probe: int = 0) -> list[tuple[int, int, list[int]]]:
    """(band, dropped, kept signature positions) of every LSH key, shared by
    the Spark and SQL key builders. Per band of r = num_hashes // bands
    positions: the full band (dropped = -1); ``probe >= 1`` adds the r
    leave-one-out keys (dropped = j); ``probe >= 2`` adds the C(r,2)
    leave-two-out keys, whose codes start at r (distinct from the single
    drops)."""
    r = num_hashes // bands
    if probe >= 2 and r < 3:
        raise ValueError(
            f"probe=2 needs >= 3 rows per band (got {r}): leave-two-out "
            "buckets over r-2 < 1 positions would collide everything"
        )
    drops: list[tuple[int, ...]] = [()]
    if probe >= 1:
        drops += [(j,) for j in range(r)]
    if probe >= 2:
        drops += list(combinations(range(r), 2))
    return [
        (b, code, [b * r + i for i in range(r) if i not in drop])
        for b in range(bands)
        for code, drop in enumerate(drops, -1)
    ]


def _band_keys(sig: DataFrame, id_col: str, slices: list[tuple[int, int, list[int]]]) -> DataFrame:
    """(id, band, dropped, bucket) for every key of :func:`_band_slices`,
    bucket = md5 of the '|'-joined kept signature values. ONE explode of an
    inline struct array, NOT a union of per-key selects: the union form
    multiplies the source partitioning (20 selects x 32 partitions = 640
    map tasks of near-empty data per downstream shuffle, measured as the
    dominant fixed cost of the multi-probe recall line) and re-scans the
    signature frame once per member."""
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.lit(code).alias("dropped"),
            F.md5(F.concat_ws("|", *[F.col(f"sig_{i}") for i in kept])).alias("bucket"),
        )
        for b, code, kept in slices
    ]
    return sig.select(F.col(id_col), F.explode(F.array(*entries)).alias("_k")).select(
        id_col, *[f"_k.{c}" for c in _KEY]
    )


def _band_pairs(sig: DataFrame, id_col: str, slices: list[tuple[int, int, list[int]]]) -> DataFrame:
    """(band, dropped, bucket, doc_a, doc_b): every pair of docs sharing an
    LSH key of :func:`_band_keys`, doc_a < doc_b — a bucket join, never
    all-pairs."""
    keys = _band_keys(sig, id_col, slices)
    return (
        keys.select(F.col(id_col).alias("doc_a"), *_KEY)
        .join(keys.select(F.col(id_col).alias("doc_b"), *_KEY), _KEY)
        .where(F.col("doc_a") < F.col("doc_b"))
    )


def _set_jaccard(
    cand: DataFrame,
    sets: DataFrame,
    id_col: str,
    a: str = "doc_a",
    b: str = "doc_b",
    broadcast_sets: bool = False,
) -> DataFrame:
    """(a, b, inter, sz_a, sz_b, jaccard) for every candidate pair: exact
    |A ∩ B| via array_intersect of the two docs' sorted hash sets — two
    joins of the candidate list against the (id, hset, sz) frame, zero
    further shuffles of the corpus.

    Set entries are 31-bit values (the 60-bit md5 prefix reduced mod
    :data:`MINHASH_PRIME`), so two distinct shingles share a hash with
    probability about 1/(2^31-1): a pair of sets A, B expects about
    |A|·|B|/(2^31-1) spurious matches (~7e-5 at 400 shingles each), and a
    doc whose own shingles collide has a set one smaller. No ``documents``
    row of the sf0.001, sf0.01 or sf0.1 fixture has two shingles sharing a
    hash. The DuckDB twin hashes the same way, so both engines agree on
    any collision. ``broadcast_sets`` is the caller's bounded-panel
    contract (:func:`ngram_jaccard_pairs`)."""
    sa = sets.select(F.col(id_col).alias(a), F.col("hset").alias("set_a"), F.col("sz").alias("sz_a"))
    sb = sets.select(F.col(id_col).alias(b), F.col("hset").alias("set_b"), F.col("sz").alias("sz_b"))
    if broadcast_sets:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    inter = F.col("inter")
    jaccard = inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - inter).cast("double")
    return (
        cand.join(sa, a)
        .join(sb, b)
        .withColumn("inter", F.size(F.array_intersect("set_a", "set_b")))
        .select(a, b, "inter", "sz_a", "sz_b", jaccard.alias("jaccard"))
    )


#: Largest signature frame, in int64 hashes (hash-set entries plus k
#: min-hashes per doc), that one task bands and verifies. It caps the hashes,
#: not the docs, as the task's memory follows the hashes it holds. Measured
#: at the cap in one Python process on a 4-core Xeon (k = 16, 4 bands, 10%
#: planted copies): from 18 808 docs of 430 hashes to 493 447 docs of one,
#: 0.35-2.2 s and 245-317 MB peak RSS, of which 80 MB is the interpreter
#: and 65-73 MB the input batches.
LSH_MAX_HASHES = 1 << 23


def _equal_pairs(keys: np.ndarray) -> np.ndarray:
    """``i * n + j`` for every pair of rows i < j of the (n, r) ``keys`` that
    are equal: rows sorted by key (``np.lexsort`` is stable, so equal keys
    keep row order), each row paired with every later row of its run. A run
    of m equal rows yields m(m-1)/2 pairs."""
    n = len(keys)
    if n < 2:
        return _NO_HASHES
    rows = np.lexsort(keys.T[::-1])
    k = keys[rows]
    start = np.flatnonzero(np.r_[True, (k[1:] != k[:-1]).any(axis=1)])
    # pairs of sorted position p: the later positions of its run
    later = np.repeat(np.r_[start[1:], n], np.diff(np.r_[start, n])) - np.arange(n) - 1
    first = np.repeat(np.arange(n), later)
    step = np.arange(first.size) - np.repeat(np.cumsum(later) - later, later)
    return rows[first] * n + rows[first + 1 + step]


def _local_jaccard(
    sig: pa.Table, slices: list[tuple[int, int, list[int]]], threshold: float, arrow: pa.Schema
) -> pa.RecordBatch:
    """(doc_a, doc_b, jaccard >= threshold) of a whole (id, sig_0..,
    hset, sz) table: the pairs of :func:`_band_pairs` and the Jaccard of
    :func:`_set_jaccard`, in numpy. Docs share a bucket iff their kept
    signature values are equal (the md5 of the '|'-joined values differs
    only on an md5 collision). A NULL id pairs with nothing, as in the
    join."""
    if sig.column(0).null_count:
        sig = sig.filter(pc.is_valid(sig.column(0)))
    ids = sig.column(0).combine_chunks()
    # rank -> row: ranks in id order, so rank a < rank b means id a < id b
    order = pc.sort_indices(ids).to_numpy()
    n = order.size
    at = {i: sig.column(f"sig_{i}").to_numpy()[order] for _b, _c, kept in slices for i in kept}
    codes = [_equal_pairs(np.stack([at[i] for i in kept], axis=1)) for _b, _c, kept in slices]
    # one pair per doc pair, however many bands it shares
    ra, rb = np.divmod(np.unique(np.concatenate([_NO_HASHES, *codes])), n)
    a, b = order[ra], order[rb]
    hset = sig.column("hset").combine_chunks()
    offs, vals = hset.offsets.to_numpy(), hset.values.to_numpy()
    inter = np.array(
        [
            np.intersect1d(vals[offs[i]:offs[i + 1]], vals[offs[j]:offs[j + 1]], assume_unique=True).size
            for i, j in zip(a.tolist(), b.tolist())
        ],
        dtype=np.int64,
    )
    size = np.diff(offs)
    jaccard = inter / (size[a] + size[b] - inter)
    keep = jaccard >= threshold
    cols = [ids.take(a[keep]), ids.take(b[keep]), pa.array(jaccard[keep])]
    return pa.RecordBatch.from_arrays(cols, schema=arrow)


def _one_task_pairs(
    sig: DataFrame, id_col: str, slices: list[tuple[int, int, list[int]]], threshold: float
) -> DataFrame:
    """(doc_a, doc_b, jaccard) of the materialized signature frame, computed
    in ONE task by :func:`_local_jaccard`. The ids keep their type."""
    typ = sig.schema[id_col].dataType
    schema = StructType([
        StructField("doc_a", typ), StructField("doc_b", typ), StructField("jaccard", DoubleType()),
    ])
    return _in_one_task(sig, schema, lambda table, arrow: _local_jaccard(table, slices, threshold, arrow))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """k min-hashes per doc (:func:`_minhash_frame`): (id, sig_0..sig_{k-1})
    as BIGINT, bit-identical in the DuckDB oracle."""
    return _minhash_frame(df, id_col, text_col, n, num_hashes)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """LSH: split the signature into bands; docs sharing any band bucket are
    candidates; est_sim = fraction of agreeing min-hashes (exact rational).
    Scale shape: bucket join on band hash (never all-pairs); candidate
    verification is a tiny join on the signature frame."""
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes)
    # the signature frame feeds both banding sides and both verify joins:
    # materialize it once, same policy as every other MinHash path
    sig = _checkpointer(sig)(sig)
    cand = (
        _band_pairs(sig, id_col, _band_slices(num_hashes, bands))
        .select("doc_a", "doc_b")
        .distinct()
    )
    k = range(num_hashes)
    sa = sig.select(F.col(id_col).alias("doc_a"), *[F.col(f"sig_{i}").alias(f"a_{i}") for i in k])
    sb = sig.select(F.col(id_col).alias("doc_b"), *[F.col(f"sig_{i}").alias(f"b_{i}") for i in k])
    est = minhash_agreement([F.col(f"a_{i}") for i in k], [F.col(f"b_{i}") for i in k])
    return cand.join(sa, "doc_a").join(sb, "doc_b").select("doc_a", "doc_b", est.alias("est_sim"))


def minhash_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """The production near-dup pipeline: MinHash-LSH banded candidates ->
    EXACT jaccard verified on candidates only. Candidate cost is bucket-
    bounded (never df^2 over hot shingles); verification cost is
    |candidates| x shingles-per-doc. Recall is the LSH collision probability
    1-(1-s^r)^b — with 4 bands x 4 rows: ~87% at s=0.8, ~23% at s=0.5.
    Rows-per-band must stay high enough that baseline-similar corpora (shared
    vocab) don't flood the buckets; raise `bands` for recall, `rows` for
    selectivity. On either path a hot bucket of m docs yields m(m-1)/2
    candidates.

    The signature frame is checkpointed and its docs and hash-set entries
    counted off that same job. The pairs do not depend on how the buckets
    are joined, so the path is picked by size: at or below
    :data:`LSH_MAX_HASHES` hashes (set entries plus k min-hashes per doc)
    ONE task bands and verifies the whole frame (:func:`_one_task_pairs`);
    above it the keyed bucket self-join (:func:`_band_pairs`) and the
    set-Jaccard joins (:func:`_set_jaccard`) spread the work over the
    cluster."""
    # min-hashes, hash set and set size all come out of ONE shuffle; the
    # checkpoint is reliable on a cluster (executor-loss-safe), local
    # otherwise — same policy as every other multi-consumer materialization
    sig, docs, hashes = _counted(
        _minhash_frame(df, id_col, text_col, n, num_hashes, sets=True), "sz"
    )
    slices = _band_slices(num_hashes, bands)
    if hashes + docs * num_hashes <= LSH_MAX_HASHES:
        return _one_task_pairs(sig, id_col, slices, threshold)
    cand = _band_pairs(sig, id_col, slices).select("doc_a", "doc_b").distinct()
    pairs = _set_jaccard(cand, sig, id_col).where(F.col("jaccard") >= threshold)
    return pairs.select("doc_a", "doc_b", "jaccard")


def sql_minhash_jaccard(
    src_rel: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of :func:`minhash_jaccard_pairs`."""
    ctes = sql_minhash_ctes(src_rel, id_col, text_col, n, num_hashes)
    return f"""
WITH {ctes},
{sql_minhash_bands(num_hashes, bands, id_col=id_col)},
cand AS (
  SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b
  FROM banded a JOIN banded b USING (band, dropped, bucket)
  WHERE a.{id_col} < b.{id_col}
),
{_sql_hash_sets(id_col)},
{_sql_set_jaccard(id_col)}
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {threshold!r}
""".strip()


def minhash_probe_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    num_hashes: int = 16,
    bands: int = 4,
    probe: int = 1,
) -> DataFrame:
    """Doc-side multi-probe MinHash LSH (r10, r9 verdict item 7 — the r9
    multi-probe lived only on the embedding/ANN side): candidate pairs with
    the LEVEL of the cheapest probe that found them.

    Level 0 is the classic banding (bucket = hash of all ``r`` band
    positions). ``probe >= 1`` ADDITIONALLY emits, per band, r
    leave-one-out buckets — position j masked out of the hash — so two
    docs collide at level 1 iff their band agrees on the other r-1
    positions (collision probability s^(r-1) per drop vs s^r for the full
    band). ``probe >= 2`` (r11, verdict item 7) adds the C(r,2)
    leave-TWO-out buckets per band (agreement on r-2 positions,
    probability s^(r-2)) — the next rung of the same recall-vs-cost
    ladder, needing r >= 3. All rungs come from the ONE key relation:
    the probe level is a per-run knob, exactly like the ANN side's
    Hamming ball. Returns (doc_a, doc_b, level) with level = MIN over
    all colliding keys (0 full band, 1 leave-one, 2 leave-two).

    Scale contract: keys grow by a factor of (1 + r + C(r,2)) per band at
    probe=2 and dropped-position buckets are coarser, so the same
    hot-bucket caveat as every banding applies — the join keys on (band,
    dropped, bucket), never all-pairs; candidates are meant to feed the
    exact-jaccard verifier which bounds downstream cost to |candidates|."""
    rows_per_band = num_hashes // bands
    slices = _band_slices(num_hashes, bands, probe)  # validates before any job
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes)
    # the key relation feeds both sides of the banding self-join —
    # materialize the signature aggregation once
    sig = _checkpointer(sig)(sig)
    level = (
        F.when(F.col("dropped") == -1, 0)
        .when(F.col("dropped") < rows_per_band, 1)
        .otherwise(2)
    )
    return (
        _band_pairs(sig, id_col, slices)
        .groupBy("doc_a", "doc_b")
        .agg(F.min(level).alias("level"))
    )


def sql_minhash_probe_candidates(
    src_rel: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    num_hashes: int = 16,
    bands: int = 4,
    probe: int = 1,
) -> str:
    """DuckDB twin of :func:`minhash_probe_candidates` — CTE ``probecand``
    (doc_a, doc_b, level)."""
    rows_per_band = num_hashes // bands
    keys = sql_minhash_bands(num_hashes, bands, probe, id_col)
    return f"""{sql_minhash_ctes(src_rel, id_col, text_col, n, num_hashes)},
{keys},
probecand AS (
  SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
         MIN(CASE WHEN a.dropped = -1 THEN 0
                  WHEN a.dropped < {rows_per_band} THEN 1 ELSE 2 END) AS level
  FROM banded a JOIN banded b USING (band, dropped, bucket)
  WHERE a.{id_col} < b.{id_col}
  GROUP BY a.{id_col}, b.{id_col}
)"""


def _sql_hashed(src_rel: str, id_col: str, text_col: str, n: int) -> str:
    """DuckDB CTEs ``shingles`` + ``hashed`` (id, h) — the twin of the base
    hash in :func:`_minhash_frame`."""
    shingles = sql_char_shingles(src_rel, id_col, text_col, n)
    return f"""{shingles},
hashed AS (
  SELECT {id_col},
         CAST(('0x' || SUBSTR(MD5(shingle), 1, 15)) AS BIGINT) % {MINHASH_PRIME} AS h
  FROM shingles
)"""


def sql_minhash_ctes(
    src_rel: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> str:
    """DuckDB CTEs ending in ``sigs`` (id, sig_0..) — the exact twin of
    :func:`minhash_signatures` (same md5-prefix base hash, same seeded
    permutation coefficients)."""
    sig_cols = ",\n    ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS sig_{i}"
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )
    return f"""{_sql_hashed(src_rel, id_col, text_col, n)},
sigs AS (
  SELECT {id_col},
    {sig_cols}
  FROM hashed GROUP BY {id_col}
)""".strip()


def sql_minhash_bands(
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    probe: int = 0,
    id_col: str = "doc_id",
) -> str:
    """DuckDB CTE ``banded`` (id, band, dropped, bucket) over ``sigs`` — the
    twin of :func:`_band_keys` (same key list, same '|'-joined md5
    bucket)."""
    sep = " || '|' || "
    selects = "\n  UNION ALL\n  ".join(
        f"SELECT {id_col}, {b} AS band, {code} AS dropped, "
        f"MD5({sep.join(f'sig_{i}' for i in kept)}) AS bucket FROM sigs"
        for b, code, kept in _band_slices(num_hashes, bands, probe)
    )
    return f"banded AS (\n  {selects}\n)"


def minhash_agreement(a: list[Column], b: list[Column]) -> Column:
    """The fraction of agreeing min-hashes between the signatures ``a`` and
    ``b``, one Column per position (exact rational, DOUBLE): est_sim of
    :func:`minhash_lsh_pairs` and of the streaming batch twins."""
    agree = reduce(add, [F.when(x == y, 1).otherwise(0) for x, y in zip(a, b)])
    return agree.cast("double") / F.lit(float(len(a)))


def sql_minhash_agreement(num_hashes: int = DEFAULT_NUM_HASHES) -> str:
    """DuckDB twin of :func:`minhash_agreement` between the ``sa`` and
    ``sb`` rows of ``sigs``."""
    agree = " + ".join(
        f"(CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return f"CAST(({agree}) AS DOUBLE) / {float(num_hashes)!r}"


def _sql_hash_sets(id_col: str) -> str:
    """DuckDB CTEs ``hdist`` (distinct (id, h)) and ``sizes`` (id, sz) over
    ``hashed`` — the twin of the ``hset``/``sz`` columns of
    :func:`_minhash_frame`."""
    return f"""hdist AS (SELECT DISTINCT {id_col}, h FROM hashed),
sizes AS (SELECT {id_col}, COUNT(*) AS sz FROM hdist GROUP BY {id_col})"""


def _sql_set_jaccard(id_col: str, a: str = "doc_a", b: str = "doc_b") -> str:
    """DuckDB CTEs ``inter`` + ``verified`` (a, b, inter, sz_a, sz_b,
    jaccard) for the pairs of CTE ``cand`` — the twin of
    :func:`_set_jaccard`: |A ∩ B| counted by an h-keyed join of the two
    docs' ``hdist`` rows."""
    return f"""inter AS (
  SELECT c.{a}, c.{b}, COUNT(*) AS inter
  FROM cand c
  JOIN hdist sa ON sa.{id_col} = c.{a}
  JOIN hdist sb ON sb.{id_col} = c.{b} AND sb.h = sa.h
  GROUP BY c.{a}, c.{b}
),
verified AS (
  SELECT i.{a}, i.{b}, i.inter, za.sz AS sz_a, zb.sz AS sz_b,
         CAST(i.inter AS DOUBLE) / CAST(za.sz + zb.sz - i.inter AS DOUBLE) AS jaccard
  FROM inter i
  JOIN sizes za ON za.{id_col} = i.{a}
  JOIN sizes zb ON zb.{id_col} = i.{b}
)"""


# --- SimHash -----------------------------------------------------------------

_HEX_VAL = "CASE " + " ".join(
    f"WHEN '{d}' THEN {int(d, 16)}" for d in "0123456789abcdef"
) + " ELSE 0 END"


def _nibble_val(c: Column) -> Column:
    """Portable hex-nibble -> int (matches the SQL CASE table)."""
    expr = F.lit(0)
    for d in "0123456789abcdef":
        expr = F.when(c == d, F.lit(int(d, 16))).otherwise(expr)
    return expr


def simhash_bits(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    bits: int = 16,
) -> DataFrame:
    """``bits``-bit SimHash (bits % 4 == 0, <= 60 so the packed value stays a
    positive int64) from the first bits/4 md5 nibbles of each distinct
    shingle: bit j set iff sum over shingles of (2*bit_j - 1) > 0. Output:
    (id, simhash). Portable-by-construction (nibble CASE table on both
    engines)."""
    if bits % 4 or bits > 60:
        raise ValueError("bits must be a multiple of 4, <= 60")
    sh = char_shingles(df, id_col, text_col, n)
    h = F.md5(F.col("shingle"))
    cols = []
    for k in range(bits // 4):
        cols.append(_nibble_val(F.substring(h, k + 1, 1)).alias(f"nib_{k}"))
    nib = sh.select(F.col(id_col), *cols)
    bit_sums = []
    for j in range(bits):
        k, bit_in_nib = divmod(j, 4)
        # nibble bits read most-significant-first: floor(nib/2^(3-bit)) % 2
        bit = (F.floor(F.col(f"nib_{k}") / F.lit(2 ** (3 - bit_in_nib))) % 2).cast("int")
        bit_sums.append(F.sum(bit * 2 - 1).alias(f"s_{j}"))
    agg = nib.groupBy(id_col).agg(*bit_sums)
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    out_type = "int" if bits <= 31 else "long"
    return agg.select(F.col(id_col), sim.cast(out_type).alias("simhash"))


def simhash16(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = DEFAULT_SHINGLE
) -> DataFrame:
    """16-bit SimHash fingerprints (the compact inventory form)."""
    return simhash_bits(df, id_col, text_col, n, bits=16)


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: the ``bits``-bit fingerprint split into
    ``bands`` band keys (60/4 = 15-bit keys -> 4 x 32768 bucket space, never
    a fixed small ceiling); docs sharing any band key are candidates; exact
    Hamming distance verifies. Pigeonhole guarantee: hamming <= bands-1
    implies at least one intact band, so recall is 100% within
    ``max_hamming`` when ``max_hamming < bands`` — banded join, never
    all-pairs."""
    bits_per = bits // bands
    mask = (1 << bits_per) - 1
    sims = simhash_bits(df, id_col, text_col, n, bits=bits)
    key_exprs = [
        F.shiftright(F.col("simhash"), b * bits_per)
        .bitwiseAND(F.lit(mask))
        .bitwiseOR(F.lit(b << bits_per))
        for b in range(bands)
    ]
    keys = sims.select(F.col(id_col), "simhash", F.explode(F.array(*key_exprs)).alias("bkey"))
    a = keys.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("ha"), "bkey")
    b_ = keys.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("hb"), "bkey")
    cand = (
        a.join(b_, "bkey")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def sql_simhash_neardup(
    src_rel: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
) -> str:
    """DuckDB twin of :func:`simhash_neardup_pairs`."""
    bits_per = bits // bands
    mask = (1 << bits_per) - 1
    return f"""
WITH sims AS (WITH {sql_simhash_bits(src_rel, id_col, text_col, n, bits)}),
keys AS (
  SELECT {id_col}, simhash,
         ((simhash >> (b.b * {bits_per})) & {mask}) | (b.b << {bits_per}) AS bkey
  FROM sims, LATERAL (SELECT UNNEST(RANGE(0, {bands})) AS b) b
),
cand AS (
  SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
         a.simhash AS ha, b.simhash AS hb
  FROM keys a JOIN keys b USING (bkey)
  WHERE a.{id_col} < b.{id_col}
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming}
""".strip()


def sql_simhash_bits(
    src_rel: str, id_col: str = "doc_id", text_col: str = "text",
    n: int = DEFAULT_SHINGLE, bits: int = 16,
) -> str:
    """DuckDB twin of :func:`simhash_bits`."""
    shingles = sql_char_shingles(src_rel, id_col, text_col, n)
    nibs = ",\n    ".join(
        f"(CASE SUBSTR(MD5(shingle), {k + 1}, 1) {_HEX_VAL.replace('CASE ', '')}) AS nib_{k}"
        for k in range(bits // 4)
    )
    bit_sums = []
    for j in range(bits):
        k, bit_in_nib = divmod(j, 4)
        bit_sums.append(
            f"SUM((CAST(FLOOR(nib_{k} / {2 ** (3 - bit_in_nib)}.0) AS INTEGER) % 2) * 2 - 1) AS s_{j}"
        )
    sums = ",\n    ".join(bit_sums)
    sim_expr = " + ".join(
        f"(CASE WHEN s_{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)" for j in range(bits)
    )
    out_cast = "INTEGER" if bits <= 31 else "BIGINT"
    return f"""{shingles},
nib AS (
  SELECT {id_col},
    {nibs}
  FROM shingles
),
bitsums AS (
  SELECT {id_col},
    {sums}
  FROM nib GROUP BY {id_col}
)
SELECT {id_col}, CAST({sim_expr} AS {out_cast}) AS simhash FROM bitsums""".strip()


def sql_simhash16(
    src_rel: str, id_col: str = "doc_id", text_col: str = "text", n: int = DEFAULT_SHINGLE
) -> str:
    return sql_simhash_bits(src_rel, id_col, text_col, n, bits=16)


# --- incremental dedup (new batch vs existing index) --------------------------


def incremental_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    split_seed: str = "inc",
    batch_mod: int = 10,
    batch_min: int = 7,
) -> DataFrame:
    """Incremental corpus ingestion: dedup a NEW batch against an EXISTING
    index without ever comparing index docs to each other (the realistic
    shape — the index is 100 TB, the batch is a day's crawl).

    The deterministic md5 split (bucket % batch_mod >= batch_min => batch)
    stands in for the batch/index boundary so the op is oracle-checkable on
    one table. Per batch doc:

      exact_dup_of   min index doc with the same normalized fingerprint
      near_dup_of    best-jaccard index doc among LSH band candidates
                     (>= threshold; rounded-jaccard then id tiebreak)
      is_new         neither an exact nor a near duplicate

    Scale shape: exact leg is one fingerprint aggregate over the index +
    a batch-side left join. Near leg: signatures for both sides, band
    buckets joined batch x index ONLY (candidates bounded by bucket
    collisions, never batch x index), exact-jaccard verification on
    candidates. Index signatures/fingerprints would be precomputed and
    stored in a real deployment; recomputing here keeps the op one-table."""
    from sarpro_spark.llm.sampling import hash_bucket
    from sarpro_spark.llm.text import fingerprint_expr
    from sarpro_spark.queries import fround
    from pyspark.sql.window import Window as W

    is_batch = (hash_bucket(F.col(id_col), split_seed) % batch_mod) >= batch_min

    fp = df.select(
        F.col(id_col), is_batch.alias("is_batch"), fingerprint_expr(F.col(text_col)).alias("fp")
    )
    idx_fp = (
        fp.where(~F.col("is_batch"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("exact_dup_of"))
    )
    batch_ids = fp.where("is_batch").select(id_col, "fp")
    exact = batch_ids.join(idx_fp, "fp", "left").select(id_col, "exact_dup_of")

    # ONE shingle explode + md5 pass yields min-hashes AND each doc's
    # distinct hash set (the minhash_jaccard_pairs doctrine) — no second
    # corpus pass for verification, no h-keyed verify join
    sig = _minhash_frame(df, id_col, text_col, n, num_hashes, sets=True)
    sig = _checkpointer(sig)(sig)
    keys = _band_keys(sig, id_col, _band_slices(num_hashes, bands)).withColumn(
        "is_batch", is_batch
    )
    cand = (
        keys.where("is_batch")
        .select(F.col(id_col).alias("doc_b"), *_KEY)
        .join(keys.where(~F.col("is_batch")).select(F.col(id_col).alias("doc_i"), *_KEY), _KEY)
        .select("doc_b", "doc_i")
        .distinct()
    )
    jacc = (
        _set_jaccard(cand, sig, id_col, "doc_b", "doc_i")
        .select("doc_b", "doc_i", fround(F.col("jaccard")).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    w = W.partitionBy("doc_b").orderBy(F.col("jaccard").desc(), F.col("doc_i").asc())
    best = (
        jacc.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            F.col("doc_b").alias(id_col),
            F.col("doc_i").alias("near_dup_of"),
            F.col("jaccard").alias("near_jaccard"),
        )
    )
    return (
        exact.join(best, id_col, "left")
        .select(
            id_col,
            "exact_dup_of",
            "near_dup_of",
            "near_jaccard",
            (F.col("exact_dup_of").isNull() & F.col("near_dup_of").isNull()).alias("is_new"),
        )
    )


def sql_incremental_dedup(
    src_rel: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_SHINGLE,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    split_seed: str = "inc",
    batch_mod: int = 10,
    batch_min: int = 7,
) -> str:
    """DuckDB twin of :func:`incremental_dedup`."""
    from sarpro_spark.llm.sampling import sql_hash_bucket
    from sarpro_spark.queries import sql_fround

    ctes = sql_minhash_ctes(src_rel, id_col, text_col, n, num_hashes)
    is_batch = f"(({sql_hash_bucket(id_col, split_seed)}) % {batch_mod} >= {batch_min})"
    fp_expr = (
        "SUBSTR(MD5(REGEXP_REPLACE(TRIM(LOWER(" + text_col + ")), '\\s+', ' ', 'g')), 1, 16)"
    )
    return f"""
WITH {ctes},
split AS (SELECT {id_col}, {is_batch} AS is_batch FROM {src_rel}),
fp AS (SELECT d.{id_col}, s.is_batch, {fp_expr} AS fp
       FROM {src_rel} d JOIN split s USING ({id_col})),
idx_fp AS (SELECT fp, MIN({id_col}) AS exact_dup_of FROM fp WHERE NOT is_batch GROUP BY fp),
exact AS (
  SELECT b.{id_col}, i.exact_dup_of
  FROM fp b LEFT JOIN idx_fp i USING (fp) WHERE b.is_batch
),
{sql_minhash_bands(num_hashes, bands, id_col=id_col)},
cand AS (
  SELECT DISTINCT a.{id_col} AS doc_b, b.{id_col} AS doc_i
  FROM banded a JOIN split sa ON sa.{id_col} = a.{id_col} AND sa.is_batch
  JOIN banded b USING (band, dropped, bucket)
  JOIN split sb ON sb.{id_col} = b.{id_col} AND NOT sb.is_batch
),
{_sql_hash_sets(id_col)},
{_sql_set_jaccard(id_col, "doc_b", "doc_i")},
jacc AS (
  SELECT doc_b, doc_i, {sql_fround("jaccard")} AS jaccard
  FROM verified WHERE {sql_fround("jaccard")} >= {threshold!r}
),
best AS (
  SELECT doc_b AS {id_col}, doc_i AS near_dup_of, jaccard AS near_jaccard
  FROM (
    SELECT doc_b, doc_i, jaccard,
           ROW_NUMBER() OVER (PARTITION BY doc_b ORDER BY jaccard DESC, doc_i ASC) AS rn
    FROM jacc
  ) t WHERE rn = 1
)
SELECT e.{id_col}, e.exact_dup_of, b.near_dup_of, b.near_jaccard,
       (e.exact_dup_of IS NULL AND b.near_dup_of IS NULL) AS is_new
FROM exact e LEFT JOIN best b USING ({id_col})
""".strip()
