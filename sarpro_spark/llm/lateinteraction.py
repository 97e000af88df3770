"""Late-interaction (MaxSim) retrieval — the ColBERT scoring family (r13).

Khattab & Zaharia 2020 (SIGIR, "ColBERT: Efficient and Effective Passage
Search via Contextualized Late Interaction", public paper): a document is
a BAG of token vectors, a query is a bag of token vectors, and the score
is the sum over query tokens of the maximum cosine against any document
token — fine-grained term matching that single-vector cosine collapses
away.  Production systems retrieve candidates with a single-vector ANN
index and RERANK the shortlist with MaxSim; this module implements
exactly that composition on the certified IVF machinery.

Multi-vector derivation: the synthetic corpus carries one 64-d vector per
row, so token vectors are the T=4 contiguous 16-d slices — a documented
stand-in that keeps every downstream shape (slice-wise cosines, max/sum
interaction, candidate gating) identical to a real per-token matrix; a
production corpus swaps the slicer for its token-embedding column.

Determinism: every slice-pair cosine is fround'd and null-guarded to a
-2.0 sentinel (below any real cosine) BEFORE max/sum, and the final score
is a fixed-shape expression tree — no float aggregates anywhere, so both
engines compute bit-identical doubles.

Scale shape (100 TB): candidates come from the probed IVF lists (corpus /
n_centroids * nprobe rows per query); the T*T cosine block is one
whole-stage-codegen projection over candidate pairs; the rank window is
per-query WindowGroupLimit.  No full-corpus interaction anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: token vectors per document (slices of the 64-d corpus vector)
MAXSIM_T = 4


def spark_maxsim_sql(
    qvec: str,
    dvec: str,
    t: int = MAXSIM_T,
    dim: int = 64,
    round_digits: int = 6,
) -> str:
    """The MaxSim score as Spark SQL text (wrap in ``F.expr``): sum over
    query slices of the max slice cosine — one fixed expression tree (t*t
    fround'd cosines, greatest, +), fully inside whole-stage codegen. Each
    slice cosine is built from the same ``_dot_sql``/``_norm_sql`` text as
    ``similarity.cosine_sql``, guarded against a zero denominator and
    null-guarded to the -2.0 sentinel (ordered below every real cosine).
    Text rather than the Column API: the Column form cost ~60 py4j
    round-trips per slice cosine to build, ~1000 per t=4 call (r14).
    Keep in lock-step with the DuckDB twin :func:`sql_maxsim_expr`."""
    from sarpro_spark.llm.similarity import _dot_sql, _norm_sql

    sub = dim // t
    scale = f"{float(10 ** round_digits)!r}D"

    def sl(v: str, i: int) -> str:
        return f"slice(cast({v} as array<double>), {i * sub + 1}, {sub})"

    terms = []
    for i in range(t):
        qs = sl(qvec, i)
        cells = []
        for j in range(t):
            ds = sl(dvec, j)
            denom = f"({_norm_sql(qs)} * {_norm_sql(ds)})"
            guarded = f"(case when {denom} > 0 then {_dot_sql(qs, ds)} / {denom} end)"
            fr = f"(floor(cast({guarded} as double) * {scale} + 0.5D) / {scale})"
            cells.append(f"coalesce({fr}, -2.0D)")
        terms.append("greatest(" + ", ".join(cells) + ")")
    return "(" + " + ".join(terms) + ")"


def maxsim_topk_ivf(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    t: int = MAXSIM_T,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    round_digits: int = 6,
) -> DataFrame:
    """IVF-gated MaxSim top-k: (query_id, vec_id, maxsim, rnk).

    Candidates are the probed inverted lists of the single-vector coarse
    quantizer (the same certified probe as the IVF/IVF-PQ rungs); the
    late-interaction score only ever touches candidate pairs."""
    from sarpro_spark.functions.partitioning import widen_if_narrow
    from sarpro_spark.llm.similarity import _ivf_probe, _rank_cut, ivf_assign, ivf_centroids
    from sarpro_spark.queries import fround

    centroids = ivf_centroids(emb, n_centroids, id_col, vec_col)
    emb = widen_if_narrow(emb, id_col)
    assign = ivf_assign(emb, centroids, id_col, vec_col)
    probed = _ivf_probe(queries, centroids, nprobe, qid_col, qvec_col, round_digits)
    cand = probed.join(assign, "centroid_id").select(qid_col, id_col).distinct()
    qv = queries.select(F.col(qid_col), F.col(qvec_col))
    scored = (
        cand.join(emb.select(F.col(id_col), F.col(vec_col)), id_col)
        .join(F.broadcast(qv), qid_col)
        .select(
            F.col(qid_col),
            F.col(id_col),
            fround(
                F.expr(spark_maxsim_sql(f"`{qvec_col}`", f"`{vec_col}`", t, dim, round_digits)),
                round_digits,
            ).alias("maxsim"),
        )
    )
    return _rank_cut(scored, qid_col, k, "maxsim", id_col).select(
        qid_col, id_col, "maxsim", "rnk"
    )


def maxsim_topk_brute(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    t: int = MAXSIM_T,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    round_digits: int = 6,
) -> DataFrame:
    """Exact MaxSim top-k — the ground truth of the recall frontier: one
    corpus scan against the broadcast query batch, the same fixed
    interaction tree, a per-query rank window."""
    from sarpro_spark.llm.similarity import _rank_cut
    from sarpro_spark.queries import fround

    scored = emb.select(F.col(id_col), F.col(vec_col)).join(
        F.broadcast(queries.select(F.col(qid_col), F.col(qvec_col)))
    ).select(
        F.col(qid_col),
        F.col(id_col),
        fround(
            F.expr(spark_maxsim_sql(f"`{qvec_col}`", f"`{vec_col}`", t, dim, round_digits)),
            round_digits,
        ).alias("maxsim"),
    )
    return _rank_cut(scored, qid_col, k, "maxsim", id_col).select(
        qid_col, id_col, "maxsim", "rnk"
    )


def maxsim_recall_sweep(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobes: tuple[int, ...] = (1, 2, 4),
    n_centroids: int = 16,
    t: int = MAXSIM_T,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    round_digits: int = 6,
) -> DataFrame:
    """(query_id, nprobe, hits, recall) — how many of the EXACT MaxSim
    top-k survive the IVF-gated rerank at each probe width.  Probed list
    sets NEST in nprobe, but a bigger candidate pool can displace a truth
    item from the top-k, so the frontier values are hashed as OBSERVED
    data (the ivfpq cross-probe doctrine), not asserted monotone."""
    from sarpro_spark.llm.cluster import _checkpointer
    from sarpro_spark.llm.similarity import _recall_ladder

    ckpt = _checkpointer(emb)
    truth = ckpt(
        maxsim_topk_brute(
            emb, queries, k, t, dim, id_col, vec_col, qid_col, qvec_col,
            round_digits,
        ).select(qid_col, F.col(id_col).alias("_tid"))
    )
    legs = [
        ({"nprobe": np_}, maxsim_topk_ivf(
            emb, queries, k, n_centroids, np_, t, dim,
            id_col, vec_col, qid_col, qvec_col, round_digits,
        ).select(qid_col, id_col))
        for np_ in nprobes
    ]
    return _recall_ladder(truth, legs, k, qid_col, id_col, round_digits)


# --- DuckDB twin ---------------------------------------------------------------


def sql_maxsim_expr(
    qvec: str, dvec: str, t: int = MAXSIM_T, dim: int = 64
) -> str:
    """DuckDB twin of :func:`spark_maxsim_sql` — the same fixed tree of
    fround'd, -2.0-guarded slice cosines (1-based list indexing)."""
    from sarpro_spark.queries import sql_fround

    sub = dim // t

    def dot(a: str, ao: int, b: str, bo: int) -> str:
        return (
            f"list_sum(list_transform(range(1, {sub + 1}), "
            f"t_ -> CAST({a}[{ao} + t_] AS DOUBLE) * CAST({b}[{bo} + t_] AS DOUBLE)))"
        )

    def nrm(a: str, ao: int) -> str:
        return (
            f"SQRT(list_sum(list_transform(range(1, {sub + 1}), "
            f"t_ -> CAST({a}[{ao} + t_] AS DOUBLE) * CAST({a}[{ao} + t_] AS DOUBLE))))"
        )

    terms = []
    for i in range(t):
        cells = []
        for j in range(t):
            qo, do = i * sub, j * sub
            denom = f"({nrm(qvec, qo)} * {nrm(dvec, do)})"
            cos = sql_fround(
                f"CASE WHEN {denom} > 0 THEN ({dot(qvec, qo, dvec, do)}) / {denom} END"
            )
            cells.append(f"COALESCE({cos}, -2.0)")
        terms.append("GREATEST(" + ", ".join(cells) + ")")
    return "(" + " + ".join(terms) + ")"
