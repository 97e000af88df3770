"""Similarity search over embedding columns (array<float>).

Two paths:
  brute-force   exact cosine top-k: queries broadcast against the corpus, dot
                products via zip_with/aggregate (array-order summation, no
                shuffle on the corpus side beyond the final top-k).
  banded LSH    seeded random-hyperplane (Rademacher +-1) projections, b bands
                x r bits: two vectors are candidates when ANY band's r-bit key
                matches (OR-amplification). Multi-probe (Hamming-1 key flips)
                widens query recall; a per-bucket cardinality cap drops
                pathological hot buckets (the stop-shingle doctrine). Bucket
                key space is b * 2^r — sized to the corpus, never a fixed
                ceiling.

Determinism doctrine (the correctness gate hash-compares against DuckDB):
bucket keys are computed in EXACT integer arithmetic — embeddings quantize to
int64 at 2^20 (power-of-two scale: float64 multiply is exact), hyperplane
coefficients are +-1, projections are int64 sums — so the sign of a
projection can never depend on summation order or libm, and the Spark and
DuckDB sides produce bit-identical keys from the same seeded matrix.

Recall/selectivity math (p_bit = 1 - theta/pi):
  sim 0.99, r=16, b=8:  ~99.5% pair recall, ~1e-4 random-pair candidate rate
  sim 0.35, r=6,  b=16: ~58% recall — low-threshold regimes need small r;
                        sign-LSH is a NEAR-dup tool, not a low-sim search.
Defaults target the near-dup regime; the registered queries pin explicit
parameters so their oracles are reproducible.

One builder per similarity expression, shared by every path below: the
cosine is Spark SQL text (:func:`cosine_sql`, wrapped in ``F.expr``), the
nearest-centroid assignment is :func:`_argmax`, an IVF probe is
:func:`_ivf_probe`, a per-query top-k is :func:`_rank_cut`, the 1-bit
Hamming shortlist is :func:`_hamming_shortlist`, the PQ shortlist + exact
rerank is :func:`_adc_rerank`, and a recall frontier is
:func:`_recall_ladder` over :func:`_mult_legs`. The DuckDB ``sql_*``
functions are their oracle twins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType
from pyspark.sql.window import Window

QUANT_SCALE = float(1 << 20)  # power of two: x * SCALE is exact in float64
DEFAULT_SEED = 0x5A8D


def hyperplanes(n_planes: int, dim: int, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Seeded Rademacher hyperplane matrix (n_planes x dim of +-1 int64).
    +-1 coefficients keep the projection in exact integer arithmetic while
    approximating Gaussian random hyperplanes for sign-LSH purposes."""
    rng = np.random.default_rng(seed)
    return (rng.integers(0, 2, size=(n_planes, dim)) * 2 - 1).astype(np.int64)


def hyperplane_bitstrings(H: np.ndarray) -> list[str]:
    """'01' encoding of each plane's coefficients (+1 -> '1', -1 -> '0') —
    the compact form the DuckDB oracle decodes with SUBSTR."""
    return ["".join("1" if c > 0 else "0" for c in row) for row in H]


def _norm_sql(a: str) -> str:
    """Spark SQL text of the L2 norm of an array expression (array-order
    sum in double)."""
    return (
        f"sqrt(aggregate(transform({a}, x -> cast(x as double) * cast(x as double)), "
        "0.0D, (acc, x) -> acc + x))"
    )


def _dot_sql(a: str, b: str) -> str:
    """Spark SQL text of the array-order dot product in double."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def cosine_sql(a: str, b: str) -> str:
    """Spark SQL text of the cosine of two array expressions (column names
    quoted with backticks, or any expression over them) — the one cosine
    form; Spark call sites wrap it in ``F.expr``. Text rather than the
    Column API because every Column-API lambda
    (``zip_with``/``transform``/``aggregate``) costs ~20 py4j round-trips
    to build — cProfile measured ~0.08 s of driver wall per Column-form
    cosine in the iterative trainers (r14); the string crosses once and
    parses to the same operator tree (the ``D`` suffix keeps the init
    literal a double). :func:`_dot_sql`/:func:`_norm_sql` are also the
    pieces of ``lateinteraction.spark_maxsim_sql`` and of the PQ lookup
    table; the DuckDB twin is :func:`sql_cosine_ctes` (fround absorbs the
    summation-order difference)."""
    return f"{_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)})"


def _fcos(a: str, b: str, round_digits: int = 6) -> Column:
    """fround'd :func:`cosine_sql` of two array expressions."""
    from sarpro_spark.queries import fround

    return fround(F.expr(cosine_sql(a, b)), round_digits)


def _rank_cut(
    df: DataFrame, part: str, k: int, score: str, tie: str,
    rnk: str = "rnk", desc: bool = True,
) -> DataFrame:
    """The per-query top-k every ranked path shares: ``row_number`` over
    ``part`` ordered by ``score`` (DESC unless ``desc=False``) then the
    ``tie`` column, kept while ``rnk <= k``. Rounded scores plus the id
    tiebreak make the cut deterministic, and ``k`` is a literal, so Spark
    plants a WindowGroupLimit that prunes each map partition to ``k`` rows
    per query before the exchange."""
    order = F.col(score).desc() if desc else F.col(score)
    w = Window.partitionBy(part).orderBy(order, F.col(tie))
    return df.withColumn(rnk, F.row_number().over(w)).where(F.col(rnk) <= k)


def _exact_topk(
    j: DataFrame, k: int, id_col: str, vec_col: str, qid_col: str, qvec_col: str,
    round_digits: int,
) -> DataFrame:
    """(query_id, id, sim, rnk): the fround'd exact cosine of every
    (query, vector) row of ``j``, cut to each query's top-k."""
    scored = j.select(
        F.col(qid_col), F.col(id_col),
        _fcos(f"`{vec_col}`", f"`{qvec_col}`", round_digits).alias("sim"),
    )
    return _rank_cut(scored, qid_col, k, "sim", id_col).select(qid_col, id_col, "sim", "rnk")


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    round_digits: int = 6,
) -> DataFrame:
    """Brute-force exact top-k per query. The queries frame is broadcast; the
    corpus never shuffles until the per-query top-k (rank window over
    query_id). Similarity rounded before ranking + id tiebreak => fully
    deterministic cutoffs."""
    j = emb.join(F.broadcast(queries))
    return _exact_topk(j, k, id_col, vec_col, qid_col, qvec_col, round_digits)


def band_keys_udf(bands: int, band_bits: int, dim: int, seed: int = DEFAULT_SEED,
                  probe: int = 0):
    """Vectorized (Arrow) UDF: embedding -> array of band keys.

    Key layout: (band_index << band_bits) | r-bit signature, so a single
    exploded column joins across all bands without collisions. ``probe=1``
    additionally emits every Hamming-1 flip of each band key (query-side
    multi-probe: bands * (1 + band_bits) keys per vector); ``probe=2``
    (r9) extends to the full Hamming-2 ball (+ bands * C(band_bits, 2)
    pair flips — candidate recall rises with the ball radius, work stays
    query-side only).
    """
    H = hyperplanes(bands * band_bits, dim, seed)  # (planes, dim) int64
    weights = (np.arange(band_bits, dtype=np.int64)[None, :])  # bit positions

    @F.pandas_udf(ArrayType(LongType()))
    def keys(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy())
        E = np.floor(M.astype(np.float64) * QUANT_SCALE + 0.5).astype(np.int64)
        bits = (E @ H.T >= 0).astype(np.int64)  # (n, planes)
        out = np.empty((len(M), bands), dtype=np.int64)
        for b in range(bands):
            seg = bits[:, b * band_bits:(b + 1) * band_bits]
            out[:, b] = (seg << weights).sum(axis=1) | (b << band_bits)
        cols = [out]
        if probe >= 1:
            cols += [out ^ (1 << j) for j in range(band_bits)]
        if probe >= 2:
            cols += [
                out ^ ((1 << i) | (1 << j))
                for i in range(band_bits)
                for j in range(i + 1, band_bits)
            ]
        out = np.concatenate(cols, axis=1) if len(cols) > 1 else out
        return pd.Series(list(out))

    return keys


def _exploded_keys(
    df: DataFrame, id_col: str, vec_col: str,
    bands: int, band_bits: int, dim: int, seed: int, probe: int = 0,
) -> DataFrame:
    """(id, bkey) — one row per band key of each vector."""
    kf = band_keys_udf(bands, band_bits, dim, seed, probe)
    return df.select(
        F.col(id_col), F.explode(kf(F.col(vec_col))).alias("bkey")
    )


def _capped(keys: DataFrame, bucket_cap: int | None) -> DataFrame:
    """Drop hot buckets outright (cap on corpus-side bucket cardinality) —
    a skewed key never concentrates quadratic work on one shuffle partition."""
    if bucket_cap is None:
        return keys
    sizes = keys.groupBy("bkey").agg(F.count(F.lit(1)).alias("_bn"))
    return keys.join(sizes.where(F.col("_bn") <= bucket_cap), "bkey").drop("_bn")


def cosine_topk_lsh(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bands: int = 8,
    band_bits: int = 16,
    dim: int = 64,
    seed: int = DEFAULT_SEED,
    probe: int = 1,
    bucket_cap: int | None = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    round_digits: int = 6,
) -> DataFrame:
    """Banded-hyperplane ANN top-k: corpus explodes to (id, band_key) once;
    query keys (plus Hamming-1 probes) broadcast against it; exact cosine only
    on the candidate set. Work scales with candidate count — bucket key space
    is bands * 2^band_bits, and hot buckets are capped."""
    ekeys = _capped(
        _exploded_keys(emb, id_col, vec_col, bands, band_bits, dim, seed), bucket_cap
    )
    qkeys = _exploded_keys(queries, qid_col, qvec_col, bands, band_bits, dim, seed, probe)
    cand = (
        ekeys.join(F.broadcast(qkeys), "bkey")
        .select(qid_col, id_col)
        .distinct()
    )
    j = cand.join(emb.select(id_col, vec_col), id_col).join(
        F.broadcast(queries.select(qid_col, qvec_col)), qid_col
    )
    return _exact_topk(j, k, id_col, vec_col, qid_col, qvec_col, round_digits)


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.99,
    bands: int = 8,
    band_bits: int = 16,
    dim: int = 64,
    seed: int = DEFAULT_SEED,
    bucket_cap: int | None = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-dup: banded-hyperplane candidates (any shared
    band key, hot buckets capped), then EXACT cosine verify >= threshold —
    the same candidates-then-verify doctrine as the MinHash path. Never
    all-pairs: the self-join is per-bucket, with bands * 2^band_bits keys."""
    from sarpro_spark.queries import fround

    ekeys = _capped(
        _exploded_keys(emb, id_col, vec_col, bands, band_bits, dim, seed), bucket_cap
    )
    a = ekeys.select(F.col(id_col).alias("id_a"), "bkey")
    b = ekeys.select(F.col(id_col).alias("id_b"), "bkey")
    cand = (
        a.join(b, "bkey")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # norms precomputed per VECTOR (not per pair): numerically identical
    # (same sqrt of the same array-order sum) but 1/3 the per-pair work
    norm = F.expr(_norm_sql(f"`{vec_col}`"))
    va = emb.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), norm.alias("_na")
    )
    vb = emb.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), norm.alias("_nb")
    )
    pairs = cand.join(va, "id_a").join(vb, "id_b")
    sim = F.expr(f"{_dot_sql('`va`', '`vb`')} / (`_na` * `_nb`)")
    return (
        pairs.select("id_a", "id_b", fround(sim, round_digits).alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def _argmax(
    j: DataFrame,
    keys: list[str],
    sim: Column,
    cid: str,
    carry: tuple[str, ...] = (),
    out: str | None = None,
) -> DataFrame:
    """The one nearest-centroid argmax: per ``keys`` group of the joined
    frame ``j`` (members x candidate centroids), the centroid with the
    highest ``sim``, lowest ``cid`` on ties. Returns ``(*keys, *carry,
    out)`` with ``out`` defaulting to ``cid``.

    ``max(struct(sim, -cid, *carry))`` is exactly the rank-1 row of a
    window ordered by (sim DESC, cid): the struct comparator and the
    window's sort treat NaN/NULL identically (NaN greatest, NULL least),
    and (sim, -cid) is unique per group because cid is, so the carried
    fields never decide and the picked row is the same by construction.
    One partial-aggregating exchange replaces the window's full sort
    (r14). ``carry`` rides member columns that are constant per group
    (the vector, a group path) through the struct, which deletes the
    rejoin exchange a Lloyd round would otherwise pay; a caller that
    needs only the assignment carries nothing, so no vector bytes are
    shuffled or checkpointed for it."""
    best = F.max(
        F.struct(sim.alias("s"), (-F.col(cid)).alias("nc"), *[F.col(c) for c in carry])
    ).alias("_best")
    return j.groupBy(*keys).agg(best).select(
        *keys,
        *[F.col(f"_best.{c}").alias(c) for c in carry],
        (-F.col("_best.nc")).alias(out or cid),
    )


def _ivf_nearest(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    carry: tuple[str, ...] = (),
    cid_col: str = "centroid_id",
    cvec_col: str = "cvec",
    round_digits: int = 6,
) -> DataFrame:
    """Broadcast-cross the centroids and keep each vector's nearest one
    (:func:`_argmax` by fround'd cosine): ``(id, *carry, centroid_id)``."""
    j = emb.select(id_col, vec_col).join(F.broadcast(centroids))
    sim = _fcos(f"`{vec_col}`", f"`{cvec_col}`", round_digits)
    return _argmax(j, [id_col], sim, cid_col, carry)


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "centroid_id",
    cvec_col: str = "cvec",
    round_digits: int = 6,
) -> DataFrame:
    """IVF coarse quantization: each vector joins its nearest centroid
    (fround'd cosine, centroid-id tiebreak — fully deterministic). Centroids
    broadcast; one pass over the corpus; output (id, centroid_id) is the
    inverted-list assignment."""
    return _ivf_nearest(emb, centroids, id_col, vec_col, (), cid_col, cvec_col, round_digits)


def _ivf_probe(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    qid_col: str,
    qvec_col: str,
    round_digits: int,
) -> DataFrame:
    """(query_id, centroid_id): each query's ``nprobe`` nearest inverted
    lists, scored like the list assignment (fround'd cosine, centroid-id
    tiebreak) against the broadcast centroid table."""
    centroids = centroids.select("centroid_id", "cvec")
    qsim = queries.join(F.broadcast(centroids)).select(
        F.col(qid_col),
        F.col("centroid_id"),
        _fcos(f"`{qvec_col}`", "`cvec`", round_digits).alias("sim"),
    )
    return _rank_cut(qsim, qid_col, nprobe, "sim", "centroid_id").select(qid_col, "centroid_id")


def cosine_topk_ivf(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    round_digits: int = 6,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat ANN: corpus partitioned into inverted lists by nearest
    centroid, queries probe their ``nprobe`` nearest lists, exact cosine only
    on the probed lists. Work per query scales with corpus/n_centroids *
    nprobe, not corpus size. ``centroids`` (centroid_id, cvec) defaults to
    the first n_centroids corpus vectors (deterministic sample); pass
    :func:`kmeans_train` output for trained lists at production scale.

    The index build (the list assignment with each member's vector carried
    through the argmax) feeds :func:`cosine_topk_ivf_from_index`, the same
    serve path a persisted index takes."""
    if centroids is None:
        centroids = ivf_centroids(emb, n_centroids, id_col, vec_col)
    lists = _ivf_nearest(emb, centroids, id_col, vec_col, (vec_col,))
    return cosine_topk_ivf_from_index(
        centroids, lists, queries, k, nprobe, id_col, vec_col, qid_col, qvec_col, round_digits
    )


def ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The deterministic sampled centroid table (centroid_id, cvec) used by
    the certified IVF queries; swap for kmeans_train output in production."""
    return emb.where(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec")
    )


def cosine_topk_ivf_from_index(
    centroids: DataFrame,
    lists: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    round_digits: int = 6,
) -> DataFrame:
    """Serve ANN from a PERSISTED IVF index: ``centroids`` (centroid_id,
    cvec) + ``lists`` (vec_id, embedding, centroid_id — e.g. a parquet
    table partitioned by centroid_id, so probing reads only the probed
    lists' files via partition pruning). Identical results to building the
    index inline (:func:`cosine_topk_ivf`).

    A vector sits in one list and a query's probed lists are distinct, so
    the probe join yields each (query, list row) once: no dedup pass over
    the vectors, and a duplicated corpus row stays two candidates, as in
    :func:`cosine_topk`."""
    probed = _ivf_probe(queries, centroids, nprobe, qid_col, qvec_col, round_digits)
    cand = probed.join(lists.select("centroid_id", id_col, vec_col), "centroid_id").select(
        qid_col, id_col, vec_col
    )
    j = cand.join(F.broadcast(queries.select(qid_col, qvec_col)), qid_col)
    return _exact_topk(j, k, id_col, vec_col, qid_col, qvec_col, round_digits)


# --- DuckDB oracle fragments -------------------------------------------------


def sql_band_key_ctes(
    rel: str,
    id_col: str,
    vec_col: str,
    bands: int,
    band_bits: int,
    dim: int,
    seed: int = DEFAULT_SEED,
    prefix: str = "",
    probe: int = 0,
    bucket_cap: int | None = None,
) -> str:
    """CTE chain ending in ``{prefix}keys`` (id_col, bkey) that reproduces
    :func:`band_keys_udf` bit-for-bit: the same seeded +-1 matrix (encoded as
    '01' strings), the same 2^20 integer quantization, integer projections,
    and the same (band << band_bits) | signature key layout. ``probe`` adds
    Hamming-1 flips; ``bucket_cap`` keeps only keys whose (pre-probe) bucket
    has <= cap members."""
    H = hyperplanes(bands * band_bits, dim, seed)
    rows = ",\n    ".join(
        f"({i}, '{s}')" for i, s in enumerate(hyperplane_bitstrings(H))
    )
    p = prefix
    base = f"""
{p}hp AS (SELECT * FROM (VALUES
    {rows}) t(plane_id, bits)),
{p}qi AS (
  SELECT e.{id_col} AS id, i.i AS dim,
         CAST(FLOOR(CAST(e.{vec_col}[i.i] AS DOUBLE) * {QUANT_SCALE:.1f} + 0.5) AS BIGINT) AS ei
  FROM {rel} e, LATERAL (SELECT UNNEST(RANGE(1, {dim + 1})) AS i) i
),
{p}proj AS (
  SELECT q.id, h.plane_id,
         SUM(CASE WHEN SUBSTR(h.bits, q.dim, 1) = '1' THEN q.ei ELSE -q.ei END) AS s
  FROM {p}qi q CROSS JOIN {p}hp h
  GROUP BY q.id, h.plane_id
),
{p}keys0 AS (
  SELECT {id_col}, (CAST(band AS BIGINT) << {band_bits}) | sig AS bkey FROM (
    SELECT id AS {id_col}, plane_id // {band_bits} AS band,
           CAST(SUM(CASE WHEN s >= 0
                    THEN (CAST(1 AS BIGINT) << (plane_id % {band_bits}))
                    ELSE 0 END) AS BIGINT) AS sig
    FROM {p}proj GROUP BY id, plane_id // {band_bits}
  )
)""".strip()
    parts = [base]
    src = f"{p}keys0"
    if bucket_cap is not None:
        parts.append(
            f"""{p}ck AS (SELECT bkey FROM {p}keys0 GROUP BY bkey HAVING COUNT(*) <= {bucket_cap}),
{p}keysc AS (SELECT k.{id_col}, k.bkey FROM {p}keys0 k JOIN {p}ck USING (bkey))"""
        )
        src = f"{p}keysc"
    if probe:
        h2 = ""
        if probe >= 2:
            h2 = f"""
  UNION ALL
  SELECT {id_col}, xor(bkey, (CAST(1 AS BIGINT) << i.i) | (CAST(1 AS BIGINT) << j.j)) AS bkey
  FROM {src},
       LATERAL (SELECT UNNEST(RANGE(0, {band_bits})) AS i) i,
       LATERAL (SELECT UNNEST(RANGE(0, {band_bits})) AS j) j
  WHERE i.i < j.j"""
        parts.append(
            f"""{p}keys AS (
  SELECT {id_col}, bkey FROM {src}
  UNION ALL
  SELECT {id_col}, xor(bkey, CAST(1 AS BIGINT) << j.j) AS bkey
  FROM {src}, LATERAL (SELECT UNNEST(RANGE(0, {band_bits})) AS j) j{h2}
)"""
        )
    else:
        parts.append(f"{p}keys AS (SELECT {id_col}, bkey FROM {src})")
    return ",\n".join(parts)


def sql_cosine_ctes(emb_rel: str, query_sel: str, id_col: str = "vec_id",
                    vec_col: str = "embedding", prefix: str = "") -> str:
    """CTEs ending in ``{prefix}scored`` (query_id, id, sim) — dot/norms via
    UNNEST join, summation noise absorbed by fround on both sides. ``prefix``
    lets one statement instantiate several scored relations (e.g. IVF:
    centroid-assignment scores + query scores)."""
    p = prefix
    return f"""
{p}corpus AS (SELECT {id_col}, {vec_col} FROM {emb_rel}),
{p}queries AS ({query_sel}),
{p}pairs AS (
  SELECT q.query_id, c.{id_col}, c.{vec_col} AS v, q.qvec
  FROM {p}corpus c CROSS JOIN {p}queries q
),
{p}dots AS (
  SELECT query_id, {id_col},
         SUM(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dp,
         SQRT(SUM(CAST(a.x AS DOUBLE) * CAST(a.x AS DOUBLE))) AS na,
         SQRT(SUM(CAST(b.x AS DOUBLE) * CAST(b.x AS DOUBLE))) AS nb
  FROM {p}pairs p,
       LATERAL (SELECT UNNEST(p.v) AS x, GENERATE_SUBSCRIPTS(p.v, 1) AS i) a,
       LATERAL (SELECT UNNEST(p.qvec) AS x, GENERATE_SUBSCRIPTS(p.qvec, 1) AS i) b
  WHERE a.i = b.i
  GROUP BY query_id, {id_col}
),
{p}scored AS (
  SELECT query_id, {id_col},
         (FLOOR((dp / (na * nb)) * 1000000.0 + 0.5) / 1000000.0) AS sim
  FROM {p}dots
)""".strip()


# --- distributed k-means (centroid training for IVF) --------------------------


def _fround_avg_array_expr(vec_col: str, dim: int, digits: int = 6) -> Column:
    """ONE parsed expression for a Lloyd update's per-dimension fround'd
    averages (r14, guide §7.3 — driver work is real work): building the
    dim-wide aggregate list through the Column API costs ~8 py4j
    round-trips per dimension (cProfile: 16.4k round-trips = 3.9 s of a
    5.1 s warm kmeans_train construction, the 64-dim agg listcomp alone
    1.2 s per iteration); one ``expr()`` string crosses the boundary once
    and parses JVM-side in ~1 ms. The parsed tree is operator-identical
    to ``fround(F.avg(F.col(vec)[i].cast("double")), digits)`` — the D
    suffix keeps every literal a double (a bare ``1000000.0`` would parse
    as DECIMAL), matching ``F.lit(float(10**digits))``."""
    scale = f"{float(10 ** digits)!r}D"
    dims = ",".join(
        f"floor(avg(cast(`{vec_col}`[{i}] as double)) * {scale} + 0.5D) / {scale}"
        for i in range(dim)
    )
    return F.expr(f"array({dims})")


def kmeans_train(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding corpus — the trainer
    behind production IVF centroids (cosine_topk_ivf takes the result via
    ``centroids=``). Deterministic by construction:

      init       first ``k`` vectors by id (reproducible, oracle-expressible)
      assign     nearest centroid by fround'd cosine (the ivf_assign argmax —
                 broadcast centroids, one corpus pass, id tiebreak)
      update     per-dimension AVG in ONE groupBy (dim agg columns, map-side
                 combine — no explode, no dim-fold shuffle), each component
                 fround'd so float summation order can't leak across engines
                 or cluster topologies

    Per iteration: one corpus pass + one k-row shuffle. Empty clusters drop
    (identically on both engines). Returns (centroid_id, cvec, n_members).
    """
    from sarpro_spark.llm.cluster import _checkpointer

    checkpoint = _checkpointer(emb)
    cent = emb.where(F.col(id_col) < k).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    out = None
    for it in range(iters):
        # the member vector rides the argmax, so the update needs no
        # emb rejoin (one corpus shuffle per iteration saved; _argmax)
        members = _ivf_nearest(emb, cent, id_col, vec_col, (vec_col,))
        out = members.groupBy("centroid_id").agg(
            _fround_avg_array_expr(vec_col, dim, round_digits).alias("cvec"),
            F.count(F.lit(1)).alias("n_members"),
        )
        # r14 A/B note: a final-only checkpoint (intermediate iterations
        # lazy) measured SLOWER (9.0-10.6 s vs 7.3-8.1 s on
        # dedup_semantic_prune) — the un-truncated iteration nests the
        # previous round's whole subtree under the next action's
        # analysis/AQE planning, which costs more than the extra tiny
        # eager job. Keep the per-iteration checkpoint.
        out = checkpoint(out)
        cent = out.select("centroid_id", "cvec")
    return out


def sql_kmeans(
    emb_rel: str,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix: str = "",
) -> str:
    """DuckDB twin of :func:`kmeans_train` with the iterations UNROLLED (one
    assignment + one per-dim AVG round per iteration). Ends in CTE
    ``{prefix}kfinal`` (centroid_id, cvec, n_members); ``prefix`` lets one
    statement train several independent codebooks (the PQ subspaces)."""
    ctes = [
        f"{prefix}cent0 AS (SELECT {id_col} AS centroid_id, CAST({vec_col} AS DOUBLE[]) AS cvec, "
        f"0 AS n_members FROM {emb_rel} WHERE {id_col} < {k})"
    ]
    prev = f"{prefix}cent0"
    for it in range(1, iters + 1):
        p = f"{prefix}it{it}_"
        ctes.append(
            sql_cosine_ctes(
                emb_rel,
                f"SELECT centroid_id AS query_id, cvec AS qvec FROM {prev}",
                id_col=id_col,
                vec_col=vec_col,
                prefix=p,
            )
        )
        ctes.append(
            f"""{p}assign AS (
  SELECT {id_col}, query_id AS centroid_id FROM (
    SELECT {id_col}, query_id,
           ROW_NUMBER() OVER (PARTITION BY {id_col} ORDER BY sim DESC, query_id) AS rnk
    FROM {p}scored
  ) r WHERE rnk = 1
)"""
        )
        ctes.append(
            f"""{p}avg AS (
  SELECT a.centroid_id, u.i,
         FLOOR(AVG(CAST(u.x AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS val,
         COUNT(*) AS cnt
  FROM {emb_rel} e
  JOIN {p}assign a ON a.{id_col} = e.{id_col},
       LATERAL (SELECT UNNEST(e.{vec_col}) AS x, GENERATE_SUBSCRIPTS(e.{vec_col}, 1) AS i) u
  GROUP BY a.centroid_id, u.i
)"""
        )
        ctes.append(
            f"""{prefix}cent{it} AS (
  SELECT centroid_id, LIST(val ORDER BY i) AS cvec, CAST(MAX(cnt) AS BIGINT) AS n_members
  FROM {p}avg GROUP BY centroid_id
)"""
        )
        prev = f"{prefix}cent{it}"
    ctes.append(f"{prefix}kfinal AS (SELECT * FROM {prev})")
    return ",\n".join(ctes)


# --- int8 scalar quantization (memory-bound ANN scale path) -------------------


def quantize_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127, code_i =
    floor(x_i / scale + 0.5) — 4x memory cut for ANN sweeps (int8 codes
    SIMD-dot on modern CPUs) with the scale kept for rescoring. Pure array
    expressions; every op is a single IEEE instruction, so codes are
    bit-identical across engines. Zero vectors get scale 0 and all-zero
    codes."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = (amax / F.lit(127.0)).alias("scale")
    codes = F.when(
        amax > 0.0,
        F.transform(
            v,
            lambda x: F.greatest(
                F.lit(-127), F.least(F.lit(127), F.floor(x * 127.0 / amax + 0.5).cast("int"))
            ),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return emb.select(F.col(id_col), scale, codes.alias("codes"))


#: hot-cluster cap: within-cluster pair work is bounded at max_cluster^2 per
#: sub-bucket, never cluster_size^2 (see semantic_dedup)
SEMDEDUP_MAX_CLUSTER = 4096


def _seed_subcentroids(
    m: DataFrame,
    seed_limit: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_cols: tuple[str, ...] = ("centroid_id",),
    sub_col: str = "sub_id",
) -> DataFrame:
    """Sub-centroid seeds for oversized groups: the ``nsplit`` lowest-id
    members of each ``group_cols`` group with ``nsplit > 1`` (r10: the
    group key is a parameter so depth-k recursion reuses the level —
    level 1 groups by centroid_id, level d by centroid_id + the sub ids
    of levels 1..d-1).

    Skew contract (r10): ``_rk <= nsplit`` alone is a COLUMN-valued rank
    limit, which defeats Spark's InferWindowGroupLimit pushdown — every
    oversized cluster would sort its ENTIRE membership inside one task
    before the filter ran (the exact hot cluster the re-cluster exists
    for becomes one skewed task at 100 TB). Conjoining ``_rk <=
    seed_limit`` with ``seed_limit`` a LITERAL (= max(nsplit), computed
    by the caller as a 1-row scalar) plants a ``WindowGroupLimit`` that
    prunes every map partition to <= seed_limit rows BEFORE the
    exchange; the ``<= nsplit`` refinement keeps per-cluster seed counts
    exact, so the selected rows — and the oracle hash — are unchanged.
    ``tests/test_llm.py`` asserts the Partial-mode WindowGroupLimit on
    this frame's executed plan and skew-tests a planted giant cluster.
    """
    wseed = Window.partitionBy(*group_cols).orderBy(id_col)
    return (
        m.where(F.col("nsplit") > 1)
        .withColumn("_rk", F.row_number().over(wseed))
        .where((F.col("_rk") <= F.lit(seed_limit)) & (F.col("_rk") <= F.col("nsplit")))
        .select(
            *group_cols,
            (F.col("_rk") - 1).cast("int").alias(sub_col),
            F.col(vec_col).cast("array<double>").alias("scvec"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    tau: float = 0.35,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = SEMDEDUP_MAX_CLUSTER,
    sub_iters: int = 2,
    depth: int = 1,
    telemetry: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023, public): k-means
    cluster the corpus, then inside each cluster drop every vector that has
    a near-duplicate (fround'd cosine >= tau) with a SMALLER id — the
    deterministic analog of SemDeDup's keep-one-per-duplicate-group, using
    the same lowest-id-wins rule as the MinHash/SimHash dedup family.

    Scale contract: the within-cluster pair join is quadratic in cluster
    size BY DESIGN (that is SemDeDup's semantics); k is chosen so n/k stays
    task-sized — the same contract as the IVF probe lists. Clusters larger
    than ``max_cluster`` are RE-CLUSTERED (r9, replacing the r7 md5
    sub-bucket salt; r10 generalizes the single level to bounded
    ``depth``-level recursion): each level runs grouped k-means inside
    every still-oversized group — ceil(size/max_cluster) sub-centroids
    seeded from the group's lowest-id members, ``sub_iters`` Lloyd
    rounds, all in the same fround'd-cosine / fround'd-AVG arithmetic as
    the top-level trainer so the DuckDB twin reproduces it — and the next
    level re-groups by the accumulated (centroid, sub_1..sub_d) path.
    Semantically-near vectors therefore stay TOGETHER when a hot cluster
    splits (an md5 salt scattered duplicate groups uniformly across
    sub-buckets, losing ~(1 - 1/nsplit) of their pairs; k-means keeps a
    duplicate group in one sub-cluster unless it straddles a sub-centroid
    boundary). A residual md5 salt (the family's hash_bucket arithmetic)
    still hard-bounds any group the full recursion could not shrink below
    ``max_cluster``, so the worst-case pair work stays max_cluster^2 per
    bucket even on pathological corpora. When every group at a level fits
    max_cluster that level (and all deeper ones) is provably identity
    (sub = 0 everywhere) and is SKIPPED without launching its no-op
    k-means jobs — so depth=1 behaves exactly like r9, and extra depth is
    free on corpora that don't need it. One kmeans train (k-row state),
    one broadcast-centroid assignment pass, sub_iters+1 passes over ONLY
    the oversized groups per exercised level, one (group-path, salt)-keyed
    self-join, one anti-join.

    Returns (id, centroid_id, kept) for every input vector. With
    ``telemetry=True`` (r11, verdict item 5) returns ``(kept_df,
    telemetry_df)`` where the second relation carries one row per
    recursion level (0 = the top-level k-means grouping, 1..depth after
    each re-cluster): group count, still-oversized count, max group size,
    and the SALTED PAIR-WORK BOUND (sum over groups of
    nsplit * C(ceil(size/nsplit), 2) — the worst-case pair count if the
    residual salt fired at that level). Depth growth becomes observable
    DATA: each level's n_over/pair_bound should shrink, and a regression
    that stops the recursion from splitting shows up in a hashed row, not
    just in wall-clock.
    """
    from sarpro_spark.llm.cluster import _checkpointer
    from sarpro_spark.llm.sampling import hash_bucket

    def _stats_of_sizes(g: DataFrame, level: int) -> DataFrame:
        """One telemetry row from a per-group ``size`` relation."""
        ns = F.ceil(F.col("size") / float(max_cluster)).cast("long")
        g = g.select("size", ns.alias("ns"))
        b = F.ceil(F.col("size") / F.col("ns")).cast("long")
        # products stay far under 2^53, so the double intermediate is exact
        # and both engines cast the same integer
        bound = F.sum(F.col("ns") * b * (b - 1) / 2).cast("long")
        return g.agg(
            F.lit(level).alias("level"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(F.when(F.col("ns") > 1, 1).otherwise(0)).cast("long").alias("n_over"),
            F.max("size").alias("max_size"),
            bound.alias("pair_bound"),
        )

    def _level_stats(rel: DataFrame, gcols: list[str], level: int) -> DataFrame:
        return _stats_of_sizes(
            rel.groupBy(*gcols).agg(F.count(F.lit(1)).alias("size")), level
        )

    checkpoint = _checkpointer(emb)
    cent = kmeans_train(emb, k=k, iters=iters, dim=dim, id_col=id_col, vec_col=vec_col)
    # (id, vec, centroid_id) in one aggregate pass (_argmax carries the
    # vector); the assignment aggregate's exchange is shared by the splits
    # aggregate and the join below (ReuseExchange), and m is checkpointed
    # right after
    assign = _ivf_nearest(emb, cent.select("centroid_id", "cvec"), id_col, vec_col, (vec_col,))
    # ceil(size / max_cluster) sub-clusters per cluster; k rows, no hint —
    # k grows with the corpus (AQE broadcasts it while it is small)
    splits = assign.groupBy("centroid_id").agg(
        F.ceil(F.count(F.lit(1)) / float(max_cluster)).cast("long").alias("nsplit")
    )
    m = assign.join(splits, "centroid_id")
    # ONE materialization of (id, vec, centroid, nsplit): the sub-kmeans
    # makes sub_iters+2 passes over the oversized clusters plus the final
    # pair/verdict joins — an uncheckpointed m re-executed the corpus scan
    # + broadcast assignment + count window for EVERY consumer (6+ passes;
    # at 100 TB each is a full corpus scan, so materializing once is the
    # scale-right trade: checkpoint size = input size). The audit asserts
    # the pair join's (cluster, sub, salt) keying on the post-checkpoint
    # plan; the assignment broadcast is certified by the kmeans/IVF
    # queries whose plans it remains visible in.
    m = checkpoint(m)
    telem: list[DataFrame] = [_level_stats(m, ["centroid_id"], 0)] if telemetry else []
    # --- bounded depth-k recursive re-cluster of oversized groups -----------
    # (r9 depth-1, r10 depth-k: each level re-runs the SAME grouped-kmeans
    # arithmetic keyed by the accumulated group path, so the DuckDB twin
    # unrolls level-for-level)
    group_cols: list[str] = ["centroid_id"]
    cur = m  # (id, vec, *group_cols, nsplit) at the CURRENT grouping
    for d in range(1, depth + 1):
        sub_col = "sub_id" if d == 1 else f"sub{d}_id"
        # max(nsplit) as a 1-row scalar (the family's documented collect
        # exception, over a checkpointed relation) — the literal rank bound
        # it feeds is what lets WindowGroupLimit prune the seed window
        # map-side (see _seed_subcentroids).
        _seed_cap = (
            cur.where(F.col("nsplit") > 1).agg(F.max("nsplit").alias("L")).collect()
        )
        seed_limit = int(_seed_cap[0]["L"] or 0) if _seed_cap else 0
        small = cur.where(F.col("nsplit") <= 1).select(
            id_col, *group_cols, vec_col, F.lit(0).alias(sub_col)
        )
        if seed_limit <= 1:
            # nothing oversized at this level: the grouped kmeans would
            # assign sub = 0 everywhere — take the identity without
            # launching its no-op jobs (deeper levels are identity too,
            # but running the remaining loop iterations costs only this
            # same 1-row aggregate each)
            msub = small
        else:
            over = cur.where(F.col("nsplit") > 1).select(id_col, *group_cols, vec_col)
            subcent = _seed_subcentroids(
                cur, seed_limit, id_col=id_col, vec_col=vec_col,
                group_cols=tuple(group_cols), sub_col=sub_col,
            )

            def _sub_assign(
                cent_df: DataFrame, over=over, sub_col=sub_col,
                gcols=tuple(group_cols),
            ) -> DataFrame:
                # sub-centroid relation is ceil(size/max_cluster) rows per
                # oversized group — bounded per GROUP but O(n/max_cluster)
                # globally, so it is NOT pinned broadcast (AQE broadcasts
                # while it is small; at corpus scale the group-keyed shuffle
                # co-locates each group's members with its own sub-centroids).
                # Fused assignment (r14, _argmax): the group path and the
                # member vector ride the struct (constant per id), deleting
                # the rank window's corpus sort and the over-rejoin exchange
                # every Lloyd round paid. Returns (id, *group_cols, vec, sub).
                j = over.join(cent_df, list(gcols))
                s = _fcos(f"cast(`{vec_col}` as array<double>)", "`scvec`")
                return _argmax(j, [id_col], s, sub_col, (*gcols, vec_col))

            for si in range(sub_iters):
                mem = _sub_assign(subcent)
                subcent = mem.groupBy(*group_cols, sub_col).agg(
                    _fround_avg_array_expr(vec_col, dim).alias("scvec")
                )
                # per-iteration checkpoint kept — same A/B outcome as
                # kmeans_train (final-only measured slower; see note there)
                subcent = checkpoint(subcent)
            msub = (
                _sub_assign(subcent)
                .select(id_col, *group_cols, vec_col, sub_col)
                .unionByName(small)
            )
        group_cols.append(sub_col)
        # group sizes at the refined path: feeds the next level's split
        # decision, or (after the last level) the residual salt hard bound
        if telemetry:
            # materialize the TINY per-group size relation once (one row
            # per group path): the split decision, the cur join, and the
            # telemetry row all read it — uncheckpointed, each consumer
            # re-executed msub's full sub-kmeans lineage (the telemetry
            # leg alone added ~0.8 s to the cert at sf0.1)
            sizes = checkpoint(
                msub.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("size"))
            )
            ssz = sizes.select(
                *group_cols,
                F.ceil(F.col("size") / float(max_cluster)).cast("long").alias("nsplit"),
            )
            telem.append(_stats_of_sizes(sizes, d))
        else:
            ssz = msub.groupBy(*group_cols).agg(
                F.ceil(F.count(F.lit(1)) / float(max_cluster)).cast("long").alias("nsplit")
            )
        cur = msub.join(ssz, group_cols)
        if d < depth:
            # next level makes sub_iters+2 passes over cur — same
            # materialize-once policy as m
            cur = checkpoint(cur)
    # residual hard bound: any group the full recursion could not shrink
    # below max_cluster still md5-salts (bounded, documented approximation)
    msalt = cur.withColumn(
        "_salt", hash_bucket(F.col(id_col), seed="semsalt") % F.col("nsplit")
    )
    a = msalt.select(
        *group_cols, "_salt", F.col(id_col).alias("ida"), F.col(vec_col).alias("va")
    )
    b = msalt.select(
        *group_cols, "_salt", F.col(id_col).alias("idb"), F.col(vec_col).alias("vb")
    )
    pairs = a.join(b, [*group_cols, "_salt"]).where(F.col("ida") < F.col("idb"))
    sim = _fcos("cast(`va` as array<double>)", "cast(`vb` as array<double>)")
    dropped = (
        pairs.where(sim >= F.lit(tau)).select(F.col("idb").alias(id_col)).distinct()
    )
    kept = (
        m.select(id_col, "centroid_id")
        .join(dropped.withColumn("_drop", F.lit(1)), id_col, "left")
        .select(id_col, "centroid_id", F.col("_drop").isNull().alias("kept"))
    )
    if telemetry:
        out_t = telem[0]
        for t in telem[1:]:
            out_t = out_t.unionByName(t)
        return kept, out_t
    return kept


def sql_semantic_dedup(
    emb_rel: str,
    k: int = 8,
    iters: int = 2,
    tau: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = SEMDEDUP_MAX_CLUSTER,
    sub_iters: int = 2,
    depth: int = 1,
) -> str:
    """DuckDB twin of :func:`semantic_dedup` — kmeans CTEs (unrolled), one
    final assignment round, the grouped sub-kmeans over oversized groups
    UNROLLED level-for-level to ``depth`` (r10; r9 was depth-1) in the
    same fround'd-cosine / fround'd-AVG arithmetic, the residual md5 salt,
    the within-(group-path, salt) pair scan with the SAME fround'd cosine,
    lowest-id-wins drop. A level with no oversized group produces empty
    over/seed CTEs and the identity union — exactly the Spark side's
    skipped-identity path. Ends in CTE ``semkept``."""
    from sarpro_spark.llm.sampling import sql_hash_bucket

    km = sql_kmeans(emb_rel, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    assign = sql_cosine_ctes(
        emb_rel,
        "SELECT centroid_id AS query_id, cvec AS qvec FROM kfinal",
        id_col=id_col,
        vec_col=vec_col,
        prefix="fa_",
    )
    salt = sql_hash_bucket(f"m.{id_col}", "semsalt")
    mc = float(max_cluster)

    def level_ctes(d: int, rel_prev: str, keys: list[str]) -> tuple[list[str], str, list[str]]:
        """CTEs for recursion level d over ``rel_prev`` (grouped by ``keys``,
        carrying that grouping's nsplit). Returns (ctes, out_rel, out_keys)."""
        sub = "sub_id" if d == 1 else f"sub{d}_id"
        p = f"s{d}"
        ksel = ", ".join(f"m.{c}" for c in keys)
        kusing = ", ".join(keys)

        def sub_sim(cent_rel: str, out: str) -> str:
            # fround'd cosine of each oversized-group member against its
            # group's sub-centroids (same formula as the pair scan below)
            okeys = ", ".join(f"o.{c}" for c in keys)
            return f"""{out} AS MATERIALIZED (
  SELECT o.{id_col}, {okeys}, c.{sub},
         (FLOOR((SUM(CAST(ox.x AS DOUBLE) * CAST(cx.x AS DOUBLE))
           / (SQRT(SUM(CAST(ox.x AS DOUBLE) * CAST(ox.x AS DOUBLE)))
            * SQRT(SUM(CAST(cx.x AS DOUBLE) * CAST(cx.x AS DOUBLE))))) * 1000000.0 + 0.5) / 1000000.0) AS sim
  FROM {p}over o JOIN {cent_rel} c USING ({kusing}),
       LATERAL (SELECT UNNEST(o.v) AS x, GENERATE_SUBSCRIPTS(o.v, 1) AS i) ox,
       LATERAL (SELECT UNNEST(c.scvec) AS x, GENERATE_SUBSCRIPTS(c.scvec, 1) AS i) cx
  WHERE ox.i = cx.i
  GROUP BY o.{id_col}, {okeys}, c.{sub}
)"""

        def sub_pick(sim_rel: str, out: str) -> str:
            return f"""{out} AS MATERIALIZED (
  SELECT {id_col}, {kusing}, {sub} FROM (
    SELECT {id_col}, {kusing}, {sub},
           ROW_NUMBER() OVER (PARTITION BY {id_col} ORDER BY sim DESC, {sub}) AS rnk
    FROM {sim_rel}
  ) r WHERE rnk = 1
)"""

        ctes = [
            f"""{p}over AS MATERIALIZED (
  SELECT m.{id_col}, m.v, {ksel} FROM {rel_prev} m WHERE m.nsplit > 1
)""",
            f"""{p}cent0 AS MATERIALIZED (
  SELECT {kusing}, CAST(rk - 1 AS INTEGER) AS {sub}, v AS scvec FROM (
    SELECT {ksel}, m.v, m.nsplit,
           ROW_NUMBER() OVER (PARTITION BY {kusing} ORDER BY m.{id_col}) AS rk
    FROM {rel_prev} m WHERE m.nsplit > 1
  ) s WHERE rk <= nsplit
)""",
        ]
        prev = f"{p}cent0"
        akeys = ", ".join(f"a.{c}" for c in keys)
        for it in range(1, sub_iters + 1):
            ctes.append(sub_sim(prev, f"{p}i{it}sim"))
            ctes.append(sub_pick(f"{p}i{it}sim", f"{p}i{it}assign"))
            ctes.append(
                f"""{p}i{it}avg AS MATERIALIZED (
  SELECT {akeys}, a.{sub}, u.i,
         FLOOR(AVG(CAST(u.x AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS val
  FROM {p}over o
  JOIN {p}i{it}assign a ON a.{id_col} = o.{id_col},
       LATERAL (SELECT UNNEST(o.v) AS x, GENERATE_SUBSCRIPTS(o.v, 1) AS i) u
  GROUP BY {akeys}, a.{sub}, u.i
)"""
            )
            ctes.append(
                f"""{p}cent{it} AS MATERIALIZED (
  SELECT {kusing}, {sub}, LIST(val ORDER BY i) AS scvec
  FROM {p}i{it}avg GROUP BY {kusing}, {sub}
)"""
            )
            prev = f"{p}cent{it}"
        ctes.append(sub_sim(prev, f"{p}finsim"))
        ctes.append(sub_pick(f"{p}finsim", f"{p}finassign"))
        out_keys = keys + [sub]
        okusing = ", ".join(out_keys)
        ctes.append(
            f"""{p}ub AS MATERIALIZED (
  SELECT o.{id_col}, o.v, {', '.join(f'o.{c}' for c in keys)}, f.{sub}
  FROM {p}over o JOIN {p}finassign f ON f.{id_col} = o.{id_col}
  UNION ALL
  SELECT m.{id_col}, m.v, {ksel}, 0 AS {sub}
  FROM {rel_prev} m WHERE m.nsplit <= 1
)"""
        )
        ctes.append(
            f"""{p}sz AS MATERIALIZED (
  SELECT {okusing},
         CAST(CEIL(COUNT(*) / {mc!r}) AS BIGINT) AS nsplit
  FROM {p}ub GROUP BY {okusing}
)"""
        )
        ctes.append(
            f"""{p}rel AS MATERIALIZED (
  SELECT u.{id_col}, u.v, {', '.join(f'u.{c}' for c in out_keys)}, z.nsplit
  FROM {p}ub u JOIN {p}sz z USING ({okusing})
)"""
        )
        return ctes, f"{p}rel", out_keys

    all_level_ctes: list[str] = []
    rel, keys = "semmm", ["centroid_id"]
    for d in range(1, depth + 1):
        ctes, rel, keys = level_ctes(d, rel, keys)
        all_level_ctes.extend(ctes)
    sub_body = ",\n".join(all_level_ctes)
    pair_on = " AND ".join(f"x.{c} = y.{c}" for c in keys)
    return f"""{km},
{assign},
fa_assign AS MATERIALIZED (
  SELECT {id_col}, query_id AS centroid_id FROM (
    SELECT {id_col}, query_id,
           ROW_NUMBER() OVER (PARTITION BY {id_col} ORDER BY sim DESC, query_id) AS rnk
    FROM fa_scored
  ) r WHERE rnk = 1
),
semsz AS MATERIALIZED (
  SELECT centroid_id, CAST(CEIL(COUNT(*) / {mc!r}) AS BIGINT) AS nsplit
  FROM fa_assign GROUP BY centroid_id
),
semmm AS MATERIALIZED (
  SELECT e.{id_col}, CAST(e.{vec_col} AS DOUBLE[]) AS v, a.centroid_id, s.nsplit
  FROM {emb_rel} e
  JOIN fa_assign a USING ({id_col})
  JOIN semsz s USING (centroid_id)
),
{sub_body},
smsalt AS MATERIALIZED (
  SELECT m.{id_col}, m.v, {', '.join(f'm.{c}' for c in keys)}, ({salt}) % m.nsplit AS _salt
  FROM {rel} m
),
semdrop AS (
  SELECT DISTINCT idb AS {id_col} FROM (
    SELECT x.{id_col} AS ida, y.{id_col} AS idb,
           (FLOOR((SUM(CAST(ax.x AS DOUBLE) * CAST(bx.x AS DOUBLE))
             / (SQRT(SUM(CAST(ax.x AS DOUBLE) * CAST(ax.x AS DOUBLE)))
              * SQRT(SUM(CAST(bx.x AS DOUBLE) * CAST(bx.x AS DOUBLE))))) * 1000000.0 + 0.5) / 1000000.0) AS sim
    FROM smsalt x JOIN smsalt y
      ON {pair_on}
     AND x._salt = y._salt AND x.{id_col} < y.{id_col},
         LATERAL (SELECT UNNEST(x.v) AS x, GENERATE_SUBSCRIPTS(x.v, 1) AS i) ax,
         LATERAL (SELECT UNNEST(y.v) AS x, GENERATE_SUBSCRIPTS(y.v, 1) AS i) bx
    WHERE ax.i = bx.i
    GROUP BY x.{id_col}, y.{id_col}
  ) p WHERE sim >= {tau!r}
),
semkept AS (
  SELECT m.{id_col}, m.centroid_id, d.{id_col} IS NULL AS kept
  FROM semmm m LEFT JOIN semdrop d USING ({id_col})
)"""


def sql_quantize_int8(
    emb_rel: str, id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    """DuckDB twin of :func:`quantize_int8` — CTE ``qcodes`` (id, scale,
    codes)."""
    return f"""
qcodes AS (
  SELECT {id_col},
         list_max(list_transform({vec_col}, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
         CASE WHEN list_max(list_transform({vec_col}, x -> abs(CAST(x AS DOUBLE)))) > 0.0
              THEN list_transform({vec_col}, x -> GREATEST(-127, LEAST(127,
                     CAST(FLOOR(CAST(x AS DOUBLE) * 127.0
                          / list_max(list_transform({vec_col}, y -> abs(CAST(y AS DOUBLE)))) + 0.5) AS INTEGER))))
              ELSE list_transform({vec_col}, x -> 0)
         END AS codes
  FROM {emb_rel}
)""".strip()


def cosine_topk_int8(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    round_digits: int = 6,
) -> DataFrame:
    """Brute-force ANN over int8 codes: the dot product and both norms are
    EXACT int64 arithmetic on the codes (order-independent — int sums commute
    exactly), only the final cosine is a float op, fround'd. The 100 TB
    story: the scan side is 1/4 the bytes of f32, the hot loop is integer
    SIMD, and the float rescoring touches only k results per query."""
    from sarpro_spark.queries import fround

    # norms depend on ONE side each — compute them per vector BEFORE the
    # pair join (corpus norm once per corpus row, not once per pair)
    def _int_l2norm(c: str) -> Column:
        return F.sqrt(
            F.aggregate(
                F.transform(F.col(c), lambda a: (a * a).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).cast("double")
        )

    qc = quantize_int8(queries, qid_col, qvec_col).select(
        F.col(qid_col), F.col("codes").alias("qcodes")
    ).withColumn("qnorm", _int_l2norm("qcodes"))
    # widen narrow inputs (a small parquet file is one split): the quantize +
    # dot scan should use the cluster; a 100 TB corpus already arrives split
    from sarpro_spark.functions.partitioning import widen_if_narrow

    emb = widen_if_narrow(emb, id_col)
    cc = quantize_int8(emb, id_col, vec_col).withColumn("cnorm", _int_l2norm("codes"))
    j = cc.join(F.broadcast(qc))
    dp = F.aggregate(
        F.zip_with(F.col("codes"), F.col("qcodes"), lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sim = dp.cast("double") / (F.col("cnorm") * F.col("qnorm"))
    scored = j.select(
        F.col(qid_col), F.col(id_col), fround(sim, round_digits).alias("sim")
    ).where(F.col("sim").isNotNull())
    return _rank_cut(scored, qid_col, k, "sim", id_col).select(qid_col, id_col, "sim", "rnk")


def sql_cosine_topk_int8(
    emb_rel: str, query_sel: str, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`cosine_topk_int8` (full statement)."""
    from sarpro_spark.queries import sql_fround

    qq = sql_quantize_int8("queries", "query_id", "qvec").replace(
        "qcodes AS (", "qq AS (", 1
    )
    cq = sql_quantize_int8(emb_rel, id_col, vec_col)
    dp = (
        "list_sum(list_transform(range(1, len(c.codes) + 1), "
        "i -> CAST(c.codes[i] AS BIGINT) * CAST(q.codes[i] AS BIGINT)))"
    )
    nc = "SQRT(CAST(list_sum(list_transform(c.codes, x -> CAST(x AS BIGINT) * x)) AS DOUBLE))"
    nq = "SQRT(CAST(list_sum(list_transform(q.codes, x -> CAST(x AS BIGINT) * x)) AS DOUBLE))"
    return f"""
WITH queries AS ({query_sel}),
{qq},
{cq},
scored AS (
  SELECT q.query_id, c.{id_col},
         {sql_fround(f"CAST({dp} AS DOUBLE) / ({nc} * {nq})")} AS sim
  FROM qcodes c CROSS JOIN qq q
  WHERE {nc} > 0 AND {nq} > 0
)
SELECT query_id, {id_col}, sim, rnk FROM (
  SELECT query_id, {id_col}, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, {id_col}) AS rnk
  FROM scored
) r WHERE rnk <= {k}
""".strip()


# --- 1-bit (binary) quantization + Hamming shortlist + exact rerank (r11) -----
# The third rung of the quantization ladder (f32 -> int8 -> 1 bit): sign-bit
# codes cut the scan to 1/32 of f32 bytes and replace the inner product with
# XOR+popcount — the standard binary-embedding pipeline published with
# modern embedding models (shortlist by Hamming distance, then rescore the
# shortlist with the exact float cosine). Codes pack 32 dims per BIGINT
# word so the cross-engine bit arithmetic never touches the sign bit
# (DuckDB's << raises on signed overflow; Spark's wraps — 32-bit words
# sidestep the difference entirely, and the packed constants are plain
# integer literals in both plans).


def quantize_binary(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Sign-bit codes: word w carries dims [32w, 32w+32) as bits
    (bit i set iff embedding[32w+i] > 0). Returns (id, *keep, b0..b{W-1})."""
    words = (dim + 31) // 32
    v = F.col(vec_col)
    cols = []
    for w in range(words):
        expr = F.lit(0).cast("long")
        for i in range(32):
            pos = w * 32 + i
            if pos >= dim:
                break
            expr = expr + F.when(
                v[pos].cast("double") > 0.0, F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        if w == 0:
            # a vector shorter than dim would otherwise quantize its
            # missing tail as silent negative bits — fail loudly instead
            expr = F.when(
                F.size(v) < dim,
                F.raise_error(
                    F.concat(
                        F.lit(f"quantize_binary: vector shorter than dim={dim}: "),
                        F.size(v).cast("string"),
                    )
                ).cast("long"),
            ).otherwise(expr)
        cols.append(expr.alias(f"b{w}"))
    return df.select(F.col(id_col), *[F.col(c) for c in keep], *cols)


def _hamming_shortlist(
    emb: DataFrame,
    queries: DataFrame,
    kshort: int,
    dim: int,
    id_col: str,
    vec_col: str,
    qid_col: str,
    qvec_col: str,
    round_digits: int,
) -> DataFrame:
    """(query_id, id, hamming, _hrnk, sim): the bounded query batch's
    sign-bit words broadcast-crossed with the corpus words, the Hamming
    distance an XOR + popcount per packed word (pure integer codegen),
    cut to each query's ``kshort`` nearest by (hamming, id), then
    rescored with the exact fround'd cosine. Zero-norm vectors yield a
    NULL cosine and engines order NULLs differently under DESC, so they
    are dropped before any ranking on ``sim``."""
    words = (dim + 31) // 32
    qb = quantize_binary(queries, qid_col, qvec_col, dim, keep=(qvec_col,))
    qb = qb.select(
        F.col(qid_col), F.col(qvec_col),
        *[F.col(f"b{w}").alias(f"qb{w}") for w in range(words)],
    )
    cb = quantize_binary(emb, id_col, vec_col, dim, keep=(vec_col,))
    ham = sum(
        (F.bit_count(F.col(f"b{w}").bitwiseXOR(F.col(f"qb{w}"))) for w in range(words)),
        F.lit(0),
    )
    scored = cb.join(F.broadcast(qb)).select(
        F.col(qid_col), F.col(id_col), ham.alias("hamming"),
        F.col(vec_col), F.col(qvec_col),
    )
    short = _rank_cut(scored, qid_col, kshort, "hamming", id_col, rnk="_hrnk", desc=False)
    sim = _fcos(
        f"cast(`{vec_col}` as array<double>)", f"cast(`{qvec_col}` as array<double>)",
        round_digits,
    )
    return short.select(
        F.col(qid_col), F.col(id_col), F.col("hamming"), F.col("_hrnk"), sim.alias("sim")
    ).where(F.col("sim").isNotNull())


def cosine_topk_binary(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist_mult: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    round_digits: int = 6,
) -> DataFrame:
    """Binary-quantized ANN: Hamming-distance shortlist (top k*mult per
    query by XOR+popcount over the packed sign bits — pure integer
    codegen, deterministic tie-break on id) then EXACT cosine rescoring
    of the shortlist only. At 100 TB the corpus-side scan touches 8 bytes
    per 64-dim vector and the float math touches k*mult rows per query.
    Output (query_id, vec_id, hamming, sim, rnk) keeps the shortlist
    distance as data, so recall-vs-int8/exact is measurable downstream."""
    from sarpro_spark.functions.partitioning import widen_if_narrow

    emb = widen_if_narrow(emb, id_col)
    rescored = _hamming_shortlist(
        emb, queries, k * shortlist_mult, dim, id_col, vec_col, qid_col, qvec_col, round_digits
    )
    return _rank_cut(rescored, qid_col, k, "sim", id_col).select(
        qid_col, id_col, "hamming", "sim", "rnk"
    )


def _sql_binary_hammed(
    emb_rel: str, dim: int, id_col: str, vec_col: str
) -> str:
    """Shared CTE chain ``qbin``/``cbin``/``hammed`` (expects a ``queries``
    CTE): sign-bit words + per-pair Hamming distance, vectors carried
    through for rescoring."""
    words = (dim + 31) // 32

    def bits(vexpr: str, w: int) -> str:
        terms = []
        for i in range(32):
            pos = w * 32 + i
            if pos >= dim:
                break
            terms.append(
                f"(CASE WHEN CAST({vexpr}[{pos + 1}] AS DOUBLE) > 0.0 "
                f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            )
        return " + ".join(terms)

    qbits = ", ".join(f"({bits('qvec', w)}) AS qb{w}" for w in range(words))
    cbits = ", ".join(f"({bits(vec_col, w)}) AS b{w}" for w in range(words))
    ham = " + ".join(f"bit_count(xor(c.b{w}, q.qb{w}))" for w in range(words))
    return f"""qbin AS (SELECT query_id, qvec, {qbits} FROM queries),
cbin AS (SELECT {id_col}, {vec_col}, {cbits} FROM {emb_rel}),
hammed AS (
  SELECT q.query_id, c.{id_col}, ({ham}) AS hamming,
         c.{vec_col} AS v, q.qvec AS qv
  FROM cbin c CROSS JOIN qbin q
)"""


def sql_cosine_topk_binary(
    emb_rel: str, query_sel: str, k: int = 10, shortlist_mult: int = 4,
    dim: int = 64, id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`cosine_topk_binary` (full statement)."""
    from sarpro_spark.queries import sql_fround

    dp = (
        "list_sum(list_transform(range(1, len(s.v) + 1), "
        "i -> CAST(s.v[i] AS DOUBLE) * CAST(s.qv[i] AS DOUBLE)))"
    )
    nv = "SQRT(list_sum(list_transform(s.v, x -> CAST(x AS DOUBLE) * x)))"
    nq = "SQRT(list_sum(list_transform(s.qv, x -> CAST(x AS DOUBLE) * x)))"
    return f"""
WITH queries AS ({query_sel}),
{_sql_binary_hammed(emb_rel, dim, id_col, vec_col)},
short AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming, {id_col}) AS hrnk
    FROM hammed
  ) h WHERE hrnk <= {k * shortlist_mult}
),
rescored AS (
  SELECT s.query_id, s.{id_col}, s.hamming,
         {sql_fround(f"({dp}) / ({nv} * {nq})")} AS sim
  FROM short s
  WHERE {nv} > 0 AND {nq} > 0
)
SELECT query_id, {id_col}, hamming, sim, rnk FROM (
  SELECT query_id, {id_col}, hamming, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, {id_col}) AS rnk
  FROM rescored
) r WHERE rnk <= {k}
""".strip()


def _recall_ladder(
    truth: DataFrame,
    legs: list[tuple[dict, DataFrame]],
    k: int,
    qid_col: str,
    id_col: str,
    round_digits: int,
) -> DataFrame:
    """The one recall-hit ladder: ``truth`` (query_id, ``_tid`` — the exact
    top-k) left-joined to each leg's approximate top-k (query_id, id),
    hits counted per query and labelled with the leg's knob values
    (``{"nprobe": 2, "mult": 4}``), legs unioned. Returns (query_id,
    *labels, hits, recall) plus ``monotone_ok`` when the legs carry a
    ``mult``: a shortlist multiplier only widens a prefix of one ranked
    relation, so hits is provably non-decreasing in mult within each
    (query, other labels) and every row pins that."""
    from sarpro_spark.queries import fround

    out = None
    for labels, top in legs:
        hit = truth.join(
            top.withColumn("_h", F.lit(1)),
            (truth[qid_col] == top[qid_col]) & (F.col("_tid") == top[id_col]),
            "left",
        ).groupBy(truth[qid_col].alias(qid_col)).agg(
            F.sum(F.coalesce(F.col("_h"), F.lit(0))).cast("long").alias("hits")
        )
        for name, v in labels.items():
            hit = hit.withColumn(name, F.lit(v))
        out = hit if out is None else out.unionByName(hit)
    cols = [qid_col, *labels, "hits", fround(F.col("hits") / float(k), round_digits).alias("recall")]
    if "mult" in labels:
        wm = Window.partitionBy(qid_col, *[c for c in labels if c != "mult"]).orderBy("mult")
        cols.append(
            (F.col("hits") >= F.coalesce(F.lag("hits").over(wm), F.col("hits"))).alias("monotone_ok")
        )
    return out.select(*cols)


def _mult_legs(
    ranked: DataFrame, prefix: str, k: int, mults: tuple[int, ...],
    qid_col: str, id_col: str, **labels,
) -> list[tuple[dict, DataFrame]]:
    """The shortlist-multiplier legs of :func:`_recall_ladder`: for each
    m, the exact-``sim`` top-k among the rows of ``ranked`` whose
    shortlist rank ``prefix`` is <= k*m — a prefix filter on one
    rescored relation, so one scan and one rescoring serve every m."""
    return [
        ({**labels, "mult": m}, _rank_cut(
            ranked.where(F.col(prefix) <= k * m), qid_col, k, "sim", id_col, rnk="_rnk"
        ).select(qid_col, id_col))
        for m in mults
    ]


def binary_recall_sweep(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    mults: tuple[int, ...] = (1, 2, 4),
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    round_digits: int = 6,
) -> DataFrame:
    """Recall-vs-shortlist frontier for the 1-bit pipeline: per query and
    shortlist multiplier m, how many of the EXACT top-k survive the
    Hamming-shortlist(k*m) + rerank. One Hamming scan and ONE rescoring
    pass (over the largest shortlist) serve every m — smaller multipliers
    are prefix filters on the same ranked relation. hits is provably
    non-decreasing in m (a superset shortlist reranked by the same global
    order keeps at least as many truth items), asserted per row as
    monotone_ok. Returns (query_id, mult, hits, recall, monotone_ok)."""
    from sarpro_spark.llm.cluster import _checkpointer

    mmax = max(mults)
    truth = cosine_topk(
        emb, queries, k, id_col, vec_col, qid_col, qvec_col, round_digits
    ).select(qid_col, F.col(id_col).alias("_tid"))
    rescored = _hamming_shortlist(
        emb, queries, k * mmax, dim, id_col, vec_col, qid_col, qvec_col, round_digits
    ).select(qid_col, id_col, "_hrnk", "sim")
    # the per-multiplier legs and the truth join each consume these
    # relations once per m — uncheckpointed, every leg re-runs the full
    # Hamming scan + shortlist window (measured 12.7 -> ~5 s at sf0.01).
    # Both are bounded: <= k*max(mults) rows per query and k per query.
    ckpt = _checkpointer(emb)
    rescored = ckpt(rescored)
    truth = ckpt(truth)
    legs = _mult_legs(rescored, "_hrnk", k, mults, qid_col, id_col)
    return _recall_ladder(truth, legs, k, qid_col, id_col, round_digits)


def sql_binary_recall_sweep(
    emb_rel: str, query_sel: str, k: int = 5, mults: tuple[int, ...] = (1, 2, 4),
    dim: int = 64, id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`binary_recall_sweep` (full statement)."""
    from sarpro_spark.queries import sql_fround

    mmax = max(mults)
    truth = sql_cosine_ctes(emb_rel, query_sel, id_col, vec_col, prefix="tr_")
    dp = (
        "list_sum(list_transform(range(1, len(s.v) + 1), "
        "i -> CAST(s.v[i] AS DOUBLE) * CAST(s.qv[i] AS DOUBLE)))"
    )
    nv = "SQRT(list_sum(list_transform(s.v, x -> CAST(x AS DOUBLE) * x)))"
    nq = "SQRT(list_sum(list_transform(s.qv, x -> CAST(x AS DOUBLE) * x)))"
    legs = []
    for m in mults:
        legs.append(f"""
  SELECT t.query_id, {m} AS mult,
         CAST(SUM(CASE WHEN p.{id_col} IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
  FROM truth t LEFT JOIN (
    SELECT query_id, {id_col} FROM (
      SELECT query_id, {id_col},
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, {id_col}) AS rnk
      FROM rescored WHERE hrnk <= {k * m}
    ) q WHERE rnk <= {k}
  ) p ON p.query_id = t.query_id AND p.{id_col} = t.{id_col}
  GROUP BY t.query_id""".strip())
    body = "\n  UNION ALL\n  ".join(legs)
    return f"""
WITH queries AS ({query_sel}),
{truth},
truth AS (
  SELECT query_id, {id_col} FROM (
    SELECT query_id, {id_col},
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, {id_col}) AS rnk
    FROM tr_scored
  ) r WHERE rnk <= {k}
),
{_sql_binary_hammed(emb_rel, dim, id_col, vec_col)},
short AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming, {id_col}) AS hrnk
    FROM hammed
  ) h WHERE hrnk <= {k * mmax}
),
rescored AS (
  SELECT s.query_id, s.{id_col}, s.hrnk,
         {sql_fround(f"({dp}) / ({nv} * {nq})")} AS sim
  FROM short s
  WHERE {nv} > 0 AND {nq} > 0
),
perq AS (
  {body}
)
SELECT query_id, mult, hits,
       {sql_fround(f"hits / {float(k)!r}")} AS recall,
       (hits >= COALESCE(LAG(hits) OVER (PARTITION BY query_id ORDER BY mult), hits)) AS monotone_ok
FROM perq
""".strip()


# --- product quantization: the ADC rung between int8 and 1-bit ------------------

PQ_M = 4      # subspaces
PQ_KSUB = 16  # centroids per subspace codebook -> 4-bit codes


def pq_codebooks(
    emb: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace codebooks (subspace, centroid_id, cvec) — Jegou et al.
    2011 product quantization, trained with the SAME Lloyd arithmetic as
    kmeans_train (first-ksub-ids init, fround'd-cosine assign with
    centroid-id tiebreak, fround'd per-dim AVG update, empty clusters
    drop) but for ALL m subspaces jointly in one grouped iteration: the
    r12 per-subspace loop ran m sequential kmeans_train chains — m*iters
    eager checkpoints of tiny (ksub-row) state, each a full job floor
    (similarity_topk_ivfpq spent 16 s wall on 39 s CPU at sf0.1, nearly
    all scheduling floors).  Grouping by (subspace, centroid_id) keeps
    every subspace's arithmetic independent — identical codebooks — while
    paying iters checkpoints total (guide §1.2: fix the shape of the job
    before per-task work; the per-subspace results are unchanged because
    assign ranks within (id, subspace) and update averages within
    (subspace, centroid), exactly the per-projection math).  m*ksub rows
    total (64 at the defaults): a codebook is ALWAYS broadcast-bounded,
    independent of corpus size."""
    from sarpro_spark.llm.cluster import _checkpointer

    if iters < 1:
        # the seed centroids are a lazy plan over the slice cache released
        # below; only a training round materializes them first
        raise ValueError(f"pq_codebooks needs iters >= 1 (got {iters})")
    sub = dim // m
    checkpoint = _checkpointer(emb)
    slices = emb.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.slice(F.col(vec_col), j * sub + 1, sub) for j in range(m)])
        ).alias("subspace", "_sv"),
    ).persist()
    cent = slices.where(F.col(id_col) < ksub).select(
        "subspace",
        F.col(id_col).alias("centroid_id"),
        F.col("_sv").cast("array<double>").alias("cvec"),
    )
    for _ in range(iters):
        # _argmax grouped by (id, subspace) carries the member slice, so
        # the update needs no slices rejoin; the dim-wide
        # fround'd-AVG update parses as one expr() string (guide §7.3 —
        # py4j round-trips are driver wall).
        j = slices.join(F.broadcast(cent), "subspace")
        sim = _fcos("`_sv`", "`cvec`")
        members = _argmax(j, [id_col, "subspace"], sim, "centroid_id", ("_sv",))
        cent = checkpoint(
            members.groupBy("subspace", "centroid_id").agg(
                _fround_avg_array_expr("_sv", sub).alias("cvec")
            )
        )
    # the persisted slice relation has no consumer beyond the (eager)
    # training loop above — release its blocks instead of leaking them
    # into the session's storage memory (r14, verdict item 4)
    slices.unpersist()
    return cent


def pq_assign_codes(
    emb: DataFrame,
    codebooks: DataFrame,
    m: int = PQ_M,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, subspace, code) — each vector's nearest codebook entry per
    subspace, via the SAME fround'd-cosine + id-tiebreak arithmetic as
    ivf_assign (the certified twin semantics), all m subspaces in ONE pass:
    posexplode the m slices, broadcast-join the codebook table on subspace,
    one window over (id, subspace).  The r12 per-subspace-leg Union form
    read the corpus m times and — worse — let Spark 4.1 (AQE off) propagate
    the legs' shared HashPartitioning through the Union and elide the
    exchange under a downstream join on ``id_col``, zipping 32-vs-128
    partition lists at runtime; one exploded scan has no Union to lie
    about and is the plan you want at scale anyway (m small rows per
    vector moving once)."""
    sub = dim // m
    slices = emb.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.slice(F.col(vec_col), j * sub + 1, sub) for j in range(m)])
        ).alias("subspace", "_sub_vec"),
    )
    # only the code is kept: nothing rides the argmax
    j = slices.join(F.broadcast(codebooks), "subspace")
    sim = _fcos("`_sub_vec`", "`cvec`")
    return _argmax(j, [id_col, "subspace"], sim, "centroid_id", out="code")


def _adc_rerank(
    scan: DataFrame,
    keys: list[str],
    books: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    shortlist_mult: int,
    m: int,
    dim: int,
    id_col: str,
    vec_col: str,
    qid_col: str,
    qvec_col: str,
    round_digits: int,
) -> DataFrame:
    """The one PQ asymmetric-distance (ADC) shortlist + exact rerank.
    ``scan`` holds the codes to score — (id, subspace, code) for the whole
    corpus, or with query_id for probed-list candidates — and joins the
    broadcast per-query lookup table on ``keys``. Each query's table has
    dot(q_j, c) and |c|^2 per codebook entry (m*ksub rows), so the scan is
    one join + a SUM over m rows per (query, vector); the PQ-reconstructed
    cosine ranks a k*mult shortlist that the exact float cosine against
    ``vectors`` then reranks. Returns (query_id, id, adc_sim, sim, rnk)."""
    from sarpro_spark.queries import fround

    sub = dim // m
    qsub = f"slice(`{qvec_col}`, `subspace` * {sub} + 1, {sub})"
    lut = (
        queries.join(F.broadcast(books))
        .select(
            F.col(qid_col),
            "subspace",
            F.col("centroid_id").alias("code"),
            F.expr(_dot_sql(qsub, "`cvec`")).alias("_qdot"),
            F.expr(_dot_sql("`cvec`", "`cvec`")).alias("_cn2"),
        )
    )
    qn = queries.select(F.col(qid_col), F.expr(_norm_sql(f"`{qvec_col}`")).alias("_qnorm"))
    adc = (
        scan.join(F.broadcast(lut), keys)
        .groupBy(qid_col, id_col)
        .agg(F.sum("_qdot").alias("_dot"), F.sum("_cn2").alias("_cn2"))
        .join(F.broadcast(qn), qid_col)
        .where((F.col("_cn2") > 0) & (F.col("_qnorm") > 0))
        .select(
            F.col(qid_col),
            F.col(id_col),
            fround(F.col("_dot") / (F.sqrt("_cn2") * F.col("_qnorm")), round_digits).alias("adc_sim"),
        )
    )
    short = _rank_cut(adc, qid_col, k * shortlist_mult, "adc_sim", id_col, rnk="_arnk")
    # exact rescoring of the shortlist only: broadcast the (bounded,
    # queries x k*mult rows) shortlist against the corpus vectors
    qv = queries.select(F.col(qid_col), F.col(qvec_col))
    rescored = (
        vectors.select(F.col(id_col), F.col(vec_col))
        .join(F.broadcast(short), id_col)
        .join(F.broadcast(qv), qid_col)
        .select(
            F.col(qid_col),
            F.col(id_col),
            F.col("adc_sim"),
            _fcos(
                f"cast(`{vec_col}` as array<double>)", f"cast(`{qvec_col}` as array<double>)",
                round_digits,
            ).alias("sim"),
        )
        .where(F.col("sim").isNotNull())
    )
    return _rank_cut(rescored, qid_col, k, "sim", id_col).select(
        qid_col, id_col, "adc_sim", "sim", "rnk"
    )


def cosine_topk_pq(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist_mult: int = 4,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    round_digits: int = 6,
) -> DataFrame:
    """PQ-ADC ANN: asymmetric-distance shortlist + exact rerank
    (:func:`_adc_rerank`) over the codes of the whole corpus.

    The scan side touches only m small-int codes per vector (m=4: half
    the bytes of the 1-bit rung's words, 1/64 of f32).  Output
    (query_id, vec_id, adc_sim, sim, rnk) keeps the ADC score as data
    next to the exact score, same doctrine as the Hamming column of the
    1-bit rung."""
    from sarpro_spark.functions.partitioning import widen_if_narrow

    # pq_codebooks checkpoints its final iteration; no second checkpoint
    books = pq_codebooks(emb, m, ksub, 2, dim, id_col, vec_col)
    emb = widen_if_narrow(emb, id_col)
    codes = pq_assign_codes(emb, books, m, dim, id_col, vec_col)
    return _adc_rerank(
        codes, ["subspace", "code"], books, emb, queries, k, shortlist_mult, m, dim,
        id_col, vec_col, qid_col, qvec_col, round_digits,
    )


def cosine_topk_ivfpq(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    shortlist_mult: int = 4,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    round_digits: int = 6,
) -> DataFrame:
    """IVF-PQ combined ANN (r13, verdict item 7) — the standard
    coarse-quantizer + ADC layout (Jegou et al. 2011 IVFADC, flat-code
    variant): the corpus partitions into inverted lists by nearest sampled
    centroid, vectors carry m 4-bit PQ codes, a query probes its nprobe
    nearest lists and ADC-scores ONLY those lists' codes, and the exact
    float cosine reranks a k*mult shortlist.  Per-query scan work is
    corpus/n_centroids * nprobe * m small-int rows — the cells-and-codes
    economics every production ANN service runs at 100 TB.

    Output (query_id, vec_id, adc_sim, sim, rnk) keeps the ADC score next
    to the exact one, same doctrine as the PQ and 1-bit rungs."""
    from sarpro_spark.functions.partitioning import widen_if_narrow

    centroids = ivf_centroids(emb, n_centroids, id_col, vec_col)
    # pq_codebooks checkpoints its final iteration; no second checkpoint
    books = pq_codebooks(emb, m, ksub, 2, dim, id_col, vec_col)
    emb = widen_if_narrow(emb, id_col)
    assign = ivf_assign(emb, centroids, id_col, vec_col)
    codes = pq_assign_codes(emb, books, m, dim, id_col, vec_col)
    return cosine_topk_ivfpq_from_index(
        centroids, books, assign, codes, emb, queries, k, nprobe,
        shortlist_mult, m, dim, id_col, vec_col, qid_col, qvec_col,
        round_digits,
    )


def cosine_topk_ivfpq_from_index(
    centroids: DataFrame,
    books: DataFrame,
    assign: DataFrame,
    codes: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    shortlist_mult: int = 4,
    m: int = PQ_M,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    round_digits: int = 6,
) -> DataFrame:
    """Serve IVF-PQ from a PERSISTED index (r13 lifecycle twin of
    :func:`cosine_topk_ivf_from_index`): ``centroids`` (centroid_id,
    cvec), ``books`` (subspace, centroid_id, cvec), ``assign`` (id,
    centroid_id — e.g. parquet partitioned by centroid_id so probes
    prune to their lists' files), ``codes`` (id, subspace, code), and
    ``vectors`` (id, vec) for the exact rerank.  Identical results to
    building the index inline (:func:`cosine_topk_ivfpq`)."""
    probed = _ivf_probe(queries, centroids, nprobe, qid_col, qvec_col, round_digits)
    cand = probed.join(assign, "centroid_id").select(qid_col, id_col).distinct()
    # ADC over the probed lists only: the scan side is candidate codes,
    # never the full corpus
    return _adc_rerank(
        cand.join(codes, id_col), [qid_col, "subspace", "code"], books, vectors, queries,
        k, shortlist_mult, m, dim, id_col, vec_col, qid_col, qvec_col, round_digits,
    )


def ivfpq_recall_sweep(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobes: tuple[int, ...] = (1, 2, 4),
    mults: tuple[int, ...] = (1, 2, 4),
    n_centroids: int = 16,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    round_digits: int = 6,
) -> DataFrame:
    """Recall frontier over the nprobe x shortlist-multiplier grid:
    (query_id, nprobe, mult, hits, recall, monotone_ok).  Within a fixed
    nprobe the shortlist is a prefix relation, so hits is PROVABLY
    non-decreasing in mult — monotone_ok pins that per row (the same
    hashed-monotonicity doctrine as the PQ/1-bit sweeps).  Across nprobe
    the recall VALUES are hashed as observed data: a bigger candidate
    pool is not a superset of the ADC shortlist, so cross-probe
    monotonicity is expected, not structural — the frontier shows it
    rather than asserting it.  One ADC scan + one rescoring pass (the
    largest shortlist) serves every multiplier of each nprobe leg."""
    from sarpro_spark.functions.partitioning import widen_if_narrow
    from sarpro_spark.llm.cluster import _checkpointer

    mmax = max(mults)
    ckpt = _checkpointer(emb)
    truth = ckpt(
        cosine_topk(emb, queries, k, id_col, vec_col, qid_col, qvec_col, round_digits)
        .select(qid_col, F.col(id_col).alias("_tid"))
    )
    # r13 optimization round: the index (centroids, codebooks, list
    # assignment, PQ codes) is nprobe-independent — the r13-build loop
    # re-trained it per nprobe leg (3x the codebook checkpoints, ~350
    # scheduling-floor stages at sf0.01). Build once, checkpoint the two
    # corpus-sized relations, serve each leg from the shared index: the
    # from_index path is the inline path's own implementation, so results
    # are identical by construction.
    centroids = ivf_centroids(emb, n_centroids, id_col, vec_col)
    # pq_codebooks checkpoints its final iteration; no second checkpoint
    books = pq_codebooks(emb, m, ksub, 2, dim, id_col, vec_col)
    emb_w = widen_if_narrow(emb, id_col)
    assign = ckpt(ivf_assign(emb_w, centroids, id_col, vec_col))
    codes = ckpt(pq_assign_codes(emb_w, books, m, dim, id_col, vec_col))
    legs = []
    for np_ in nprobes:
        ranked = cosine_topk_ivfpq_from_index(
            centroids, books, assign, codes, emb_w, queries, k * mmax, np_,
            1, m, dim, id_col, vec_col, qid_col, qvec_col, round_digits,
        )
        ranked = ckpt(
            ranked.select(
                F.col(qid_col), F.col(id_col), F.col("sim"),
                F.row_number()
                .over(Window.partitionBy(qid_col).orderBy(F.col("adc_sim").desc(), F.col(id_col)))
                .alias("_arnk"),
            )
        )
        legs += _mult_legs(ranked, "_arnk", k, mults, qid_col, id_col, nprobe=np_)
    return _recall_ladder(truth, legs, k, qid_col, id_col, round_digits)


def pq_recall_sweep(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    mults: tuple[int, ...] = (1, 2, 4),
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    round_digits: int = 6,
) -> DataFrame:
    """Recall-vs-shortlist frontier for the PQ-ADC pipeline — the same
    (query_id, mult, hits, recall, monotone_ok) ladder as the 1-bit and
    multi-probe sweeps: ONE ADC scan and ONE rescoring pass (the largest
    shortlist) serve every multiplier; hits is provably non-decreasing."""
    from sarpro_spark.llm.cluster import _checkpointer

    mmax = max(mults)
    truth = cosine_topk(
        emb, queries, k, id_col, vec_col, qid_col, qvec_col, round_digits
    ).select(qid_col, F.col(id_col).alias("_tid"))
    ranked = cosine_topk_pq(
        emb, queries, k * mmax, 1, m, ksub, dim, id_col, vec_col, qid_col, qvec_col, round_digits
    )  # k*mmax shortlist, rescored; _arnk order == adc order by construction
    ckpt = _checkpointer(emb)
    truth = ckpt(truth)
    ranked = ckpt(
        ranked.select(
            F.col(qid_col), F.col(id_col), F.col("sim"),
            F.row_number()
            .over(Window.partitionBy(qid_col).orderBy(F.col("adc_sim").desc(), F.col(id_col)))
            .alias("_arnk"),
        )
    )
    legs = _mult_legs(ranked, "_arnk", k, mults, qid_col, id_col)
    return _recall_ladder(truth, legs, k, qid_col, id_col, round_digits)


# --- PQ DuckDB twins ------------------------------------------------------------


def sql_pq_ctes(
    emb_rel: str,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """CTE chain ending in ``pqbooks`` (subspace, centroid_id, cvec) and
    ``pqcodes`` (id, subspace, code) — codebook training is sql_kmeans
    per subspace (prefixed), assignment reuses the certified
    sql_cosine_ctes scoring against each codebook."""
    sub = dim // m
    parts, unions, assigns = [], [], []
    for j in range(m):
        sub_rel = (
            f"(SELECT {id_col}, list_slice({vec_col}, {j * sub + 1}, {(j + 1) * sub})"
            f" AS {vec_col} FROM {emb_rel})"
        )
        parts.append(sql_kmeans(sub_rel, ksub, iters, id_col, vec_col, prefix=f"pq{j}_"))
        unions.append(f"SELECT {j} AS subspace, centroid_id, cvec FROM pq{j}_kfinal")
        parts.append(
            sql_cosine_ctes(
                sub_rel,
                f"SELECT centroid_id AS query_id, cvec AS qvec FROM pq{j}_kfinal",
                id_col=id_col,
                vec_col=vec_col,
                prefix=f"pqa{j}_",
            )
        )
        assigns.append(
            f"""SELECT {id_col}, {j} AS subspace, query_id AS code FROM (
    SELECT {id_col}, query_id,
           ROW_NUMBER() OVER (PARTITION BY {id_col} ORDER BY sim DESC, query_id) AS rnk
    FROM pqa{j}_scored
  ) r WHERE rnk = 1"""
        )
    parts.append("pqbooks AS (" + "\n  UNION ALL\n  ".join(unions) + ")")
    parts.append("pqcodes AS (" + "\n  UNION ALL\n  ".join(assigns) + ")")
    return ",\n".join(parts)


def _sql_pq_adc(
    query_sel: str, m: int, dim: int, id_col: str, cand_rel: str | None = None
) -> str:
    """CTEs ``pqlut``/``pqadcq`` (expects ``queries``/``pqbooks``/``pqcodes``):
    the per-query ADC table and the summed PQ-reconstructed cosine.
    ``cand_rel`` (r13, the IVF-PQ rung): a (query_id, id) relation that
    restricts the ADC scan to probed-list candidates instead of the full
    corpus — the twin of the candidate semi-join on the Spark side."""
    from sarpro_spark.queries import sql_fround

    sub = dim // m
    qslice = f"list_slice(q.qvec, b.subspace * {sub} + 1, (b.subspace + 1) * {sub})"
    qdot = (
        f"list_sum(list_transform(range(1, {sub} + 1), "
        f"i -> CAST(({qslice})[i] AS DOUBLE) * CAST(b.cvec[i] AS DOUBLE)))"
    )
    cn2 = "list_sum(list_transform(b.cvec, x -> CAST(x AS DOUBLE) * x))"
    qn = "SQRT(list_sum(list_transform(q.qvec, x -> CAST(x AS DOUBLE) * x)))"
    if cand_rel is None:
        scan = f"""SELECT l.query_id, c.{id_col}, SUM(l.qdot) AS adc_dot, SUM(l.cn2) AS cn2
    FROM pqcodes c JOIN pqlut l ON l.subspace = c.subspace AND l.code = c.code
    GROUP BY 1, 2"""
    else:
        scan = f"""SELECT l.query_id, c.{id_col}, SUM(l.qdot) AS adc_dot, SUM(l.cn2) AS cn2
    FROM {cand_rel} cd
    JOIN pqcodes c ON c.{id_col} = cd.{id_col}
    JOIN pqlut l ON l.query_id = cd.query_id AND l.subspace = c.subspace AND l.code = c.code
    GROUP BY 1, 2"""
    return f"""pqlut AS (
  SELECT q.query_id, b.subspace, b.centroid_id AS code,
         {qdot} AS qdot, {cn2} AS cn2
  FROM queries q CROSS JOIN pqbooks b
),
pqqn AS (SELECT query_id, {qn} AS qnorm FROM queries q),
pqadcq AS (
  SELECT a.query_id, a.{id_col},
         {sql_fround('a.adc_dot / (SQRT(a.cn2) * n.qnorm)')} AS adc_sim
  FROM (
    {scan}
  ) a JOIN pqqn n USING (query_id)
  WHERE a.cn2 > 0 AND n.qnorm > 0
)"""


def sql_cosine_topk_pq(
    emb_rel: str, query_sel: str, k: int = 10, shortlist_mult: int = 4,
    m: int = PQ_M, ksub: int = PQ_KSUB, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`cosine_topk_pq` (full statement)."""
    from sarpro_spark.queries import sql_fround

    dp = (
        "list_sum(list_transform(range(1, len(s.v) + 1), "
        "i -> CAST(s.v[i] AS DOUBLE) * CAST(s.qv[i] AS DOUBLE)))"
    )
    nv = "SQRT(list_sum(list_transform(s.v, x -> CAST(x AS DOUBLE) * x)))"
    nq = "SQRT(list_sum(list_transform(s.qv, x -> CAST(x AS DOUBLE) * x)))"
    return f"""
WITH queries AS ({query_sel}),
{sql_pq_ctes(emb_rel, m, ksub, 2, dim, id_col, vec_col)},
{_sql_pq_adc(query_sel, m, dim, id_col)},
pqshort AS (
  SELECT * FROM (
    SELECT query_id, {id_col}, adc_sim,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_sim DESC, {id_col}) AS arnk
    FROM pqadcq
  ) h WHERE arnk <= {k * shortlist_mult}
),
pqres AS (
  SELECT s.query_id, s.{id_col}, s.adc_sim,
         {sql_fround(f"({dp}) / ({nv} * {nq})")} AS sim
  FROM (
    SELECT sh.query_id, sh.{id_col}, sh.adc_sim, e.{vec_col} AS v, q.qvec AS qv
    FROM pqshort sh
    JOIN {emb_rel} e USING ({id_col})
    JOIN queries q USING (query_id)
  ) s
  WHERE {nv} > 0 AND {nq} > 0
)
SELECT query_id, {id_col}, adc_sim, sim, rnk FROM (
  SELECT query_id, {id_col}, adc_sim, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, {id_col}) AS rnk
  FROM pqres
) r WHERE rnk <= {k}
""".strip()


def sql_pq_recall_sweep(
    emb_rel: str, query_sel: str, k: int = 5, mults: tuple[int, ...] = (1, 2, 4),
    m: int = PQ_M, ksub: int = PQ_KSUB, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`pq_recall_sweep` (full statement)."""
    from sarpro_spark.queries import sql_fround

    mmax = max(mults)
    truth = sql_cosine_ctes(emb_rel, query_sel, id_col, vec_col, prefix="tr_")
    dp = (
        "list_sum(list_transform(range(1, len(s.v) + 1), "
        "i -> CAST(s.v[i] AS DOUBLE) * CAST(s.qv[i] AS DOUBLE)))"
    )
    nv = "SQRT(list_sum(list_transform(s.v, x -> CAST(x AS DOUBLE) * x)))"
    nq = "SQRT(list_sum(list_transform(s.qv, x -> CAST(x AS DOUBLE) * x)))"
    legs = []
    for mm in mults:
        legs.append(f"""
  SELECT t.query_id, {mm} AS mult,
         CAST(SUM(CASE WHEN p.{id_col} IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
  FROM truth t LEFT JOIN (
    SELECT query_id, {id_col} FROM (
      SELECT query_id, {id_col},
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, {id_col}) AS rnk
      FROM pqres WHERE arnk <= {k * mm}
    ) q WHERE rnk <= {k}
  ) p ON p.query_id = t.query_id AND p.{id_col} = t.{id_col}
  GROUP BY t.query_id""".strip())
    body = "\n  UNION ALL\n  ".join(legs)
    return f"""
WITH queries AS ({query_sel}),
{truth},
truth AS (
  SELECT query_id, {id_col} FROM (
    SELECT query_id, {id_col},
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, {id_col}) AS rnk
    FROM tr_scored
  ) r WHERE rnk <= {k}
),
{sql_pq_ctes(emb_rel, m, ksub, 2, dim, id_col, vec_col)},
{_sql_pq_adc(query_sel, m, dim, id_col)},
pqshort AS (
  SELECT * FROM (
    SELECT query_id, {id_col}, adc_sim,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_sim DESC, {id_col}) AS arnk
    FROM pqadcq
  ) h WHERE arnk <= {k * mmax}
),
pqres AS (
  SELECT s.query_id, s.{id_col}, s.arnk,
         {sql_fround(f"({dp}) / ({nv} * {nq})")} AS sim
  FROM (
    SELECT sh.query_id, sh.{id_col}, sh.arnk, e.{vec_col} AS v, q.qvec AS qv
    FROM pqshort sh
    JOIN {emb_rel} e USING ({id_col})
    JOIN queries q USING (query_id)
  ) s
  WHERE {nv} > 0 AND {nq} > 0
),
perq AS (
  {body}
)
SELECT query_id, mult, hits,
       {sql_fround(f"hits / {float(k)!r}")} AS recall,
       (hits >= COALESCE(LAG(hits) OVER (PARTITION BY query_id ORDER BY mult), hits)) AS monotone_ok
FROM perq
""".strip()
