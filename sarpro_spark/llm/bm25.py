"""Okapi BM25 top-k retrieval scoring (the ranking sibling of TF-IDF).

llm/tfidf.py answers "which docs are similar to each other"; this module
answers the retrieval question — "which docs best answer this query" —
with the standard Okapi BM25 function (Robertson & Walker 1994; the
Lucene/Elasticsearch default):

  score(q, d) = sum over t in q of
      idf(t) * tf(t,d) * (k1 + 1) / (tf(t,d) + k1 * (1 - b + b * dl/avgdl))
  idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))        (non-negative variant)

Relational shape — the same inverted-index join as the TF-IDF similarity,
but query-side instead of self-join:

  index    docs explode to (doc, term) -> tf + per-doc length in ONE pass
           over the token stream; df is a second hash aggregate over the
           tf relation.  N and avgdl ride a 1-row broadcast.
  cap      terms with df > max_df_frac*N are dropped before the join (the
           stop-term doctrine shared with tfidf/shingles): a term in df
           docs fans a query out to df rows, so hot stopwords — which BM25
           already down-weights to idf ~ 0 — are pruned structurally, not
           just numerically.
  probe    query terms (distinct per query — the standard qtf=1 web-query
           simplification, noted) join the index on term; one hash
           aggregate per (query, doc) sums the per-term scores.
  top-k    row_number over a window partitioned BY QUERY — never a global
           sort, never a single-partition window; scores are fround'd
           before ranking with a doc-id tiebreak (deterministic cutoffs,
           the cosine_topk doctrine).

Scale shape at 100 TB: the index is two hash aggregates on the token
stream (linear, combiner-friendly); the probe shuffles only query terms x
capped-df postings — queries are typically tiny relative to the corpus,
so the probe is a sparse slice of the index, and the per-query window is
as wide as one query's candidate set, not the corpus.

Reference analog: none (raster engine); built for the pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sarpro_spark.llm.text import tokens_expr
from sarpro_spark.llm.tfidf import DEFAULT_MAX_DF_FRAC, _SQL_TOKS

DEFAULT_K1 = 1.2
DEFAULT_B = 0.75


def bm25_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_frac: float = DEFAULT_MAX_DF_FRAC,
) -> DataFrame:
    """Posting list (id, term, tf, dl, idf) with corpus stats folded in.

    ``dl`` is the doc's token count; idf uses the non-negative BM25+
    variant ln(1 + (N - df + .5)/(df + .5)).  Stop terms (df above the
    corpus-fraction cap) are pruned before any join.
    """
    toks = docs.select(F.col(id_col), F.explode(tokens_expr(F.col(text_col))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # r14 (guide §2.4): dl = sum(tf) per doc as a WINDOW over the tf
    # relation — the r13 form aggregated a separate dl relation and joined
    # it back, paying an extra aggregate leg + join operator on the same
    # exchange; the window computes the identical per-doc sum on the one
    # doc-keyed exchange the join needed anyway.
    # A NULL id is no document: it gets no postings, but its tokens still
    # count in df and the stats, as in the SQL twin's join on id.
    tfd = tf.where(F.col(id_col).isNotNull()).withColumn(
        "dl", F.sum("tf").over(Window.partitionBy(id_col))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # N counts ALL docs (token-less docs score 0 but still dilute idf/avgdl
    # denominators identically on both engines); avgdl over docs WITH tokens
    # — sum(dl over docs) = sum(tf over the whole tf relation) and
    # count(docs with tokens) = count(distinct id over tf), the NULL id
    # counting as one group like the SQL twin's GROUP BY, so the stats
    # come from ONE pass over tf instead of a second aggregate over dl.
    stats = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        tf.agg(
            F.sum("tf").alias("_dlsum"),
            (F.countDistinct(id_col) + F.max(F.col(id_col).isNull().cast("int"))).alias("_dln"),
        )
    )
    # same no-forced-broadcast reasoning as tfidf_vectors: raw vocabulary is
    # unbounded; the capped dfreq is Zipf-tail-sized and AQE picks the join.
    dfreq_capped = dfreq.crossJoin(F.broadcast(stats)).where(
        F.col("df") <= F.col("n_docs") * max_df_frac
    )
    return (
        tfd.join(dfreq_capped, "term")
        .select(
            F.col(id_col),
            "term",
            "tf",
            "dl",
            F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)).alias("idf"),
            (F.col("_dlsum").cast("double") / F.col("_dln")).alias("avgdl"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    max_df_frac: float = DEFAULT_MAX_DF_FRAC,
    round_digits: int = 6,
) -> DataFrame:
    """Top-k docs per query: (query_id, doc_id, score, rnk).

    Query terms are DISTINCT per query (qtf = 1, the standard short-query
    simplification — repeat a term in the query and it still counts once).
    Scores are fround'd before ranking; ties break on doc_id.
    """
    from sarpro_spark.queries import fround

    idx = bm25_index(docs, id_col, text_col, max_df_frac)
    qt = queries.select(
        F.col(qid_col), F.explode(tokens_expr(F.col(qtext_col))).alias("term")
    ).distinct()
    contrib = (
        F.col("idf")
        * F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        qt.join(idx, "term")
        .groupBy(qid_col, id_col)
        .agg(fround(F.sum(contrib), round_digits).alias("score"))
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(qid_col, id_col, "score", "rnk")
    )


# --- DuckDB twins -------------------------------------------------------------


def sql_bm25_topk(
    docs_rel: str,
    queries_rel: str,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    max_df_frac: float = DEFAULT_MAX_DF_FRAC,
) -> str:
    """DuckDB twin of :func:`bm25_topk` (same index, cap, idf, and
    tie-break)."""
    from sarpro_spark.queries import sql_fround

    qtoks = _SQL_TOKS.replace("LOWER(text)", f"LOWER({qtext_col})")
    dtoks = _SQL_TOKS.replace("LOWER(text)", f"LOWER({text_col})")
    score = (
        f"idf * tf * ({k1!r} + 1.0) / (tf + {k1!r} * (1.0 - {b!r} + {b!r} * dl / avgdl))"
    )
    return f"""
WITH bm_toks AS (
  SELECT {id_col}, UNNEST({dtoks}) AS term FROM {docs_rel}
),
bm_tf AS (SELECT {id_col}, term, COUNT(*) AS tf FROM bm_toks GROUP BY 1, 2),
bm_dl AS (SELECT {id_col}, SUM(tf) AS dl FROM bm_tf GROUP BY 1),
bm_df AS (SELECT term, COUNT(*) AS df FROM bm_tf GROUP BY 1),
bm_stats AS (
  SELECT (SELECT COUNT(*) FROM {docs_rel}) AS n_docs,
         (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM bm_dl) AS avgdl
),
bm_idx AS (
  SELECT tf.{id_col}, tf.term, tf.tf, dl.dl,
         LN(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5)) AS idf,
         s.avgdl
  FROM bm_tf tf
  JOIN bm_dl dl USING ({id_col})
  JOIN bm_df df USING (term), bm_stats s
  WHERE df.df <= s.n_docs * {max_df_frac!r}
),
bm_qt AS (
  SELECT DISTINCT {qid_col}, UNNEST({qtoks}) AS term FROM {queries_rel}
),
bm_scored AS (
  SELECT q.{qid_col}, i.{id_col},
         {sql_fround(f'SUM({score})')} AS score
  FROM bm_qt q JOIN bm_idx i USING (term)
  GROUP BY 1, 2
)
SELECT {qid_col}, {id_col}, score, rnk FROM (
  SELECT {qid_col}, {id_col}, score,
         ROW_NUMBER() OVER (PARTITION BY {qid_col} ORDER BY score DESC, {id_col}) AS rnk
  FROM bm_scored
) t WHERE rnk <= {k}
""".strip()
