"""Domain-graph operators: co-citation edges + weighted PageRank.

The Common-Crawl-style curation signal: rank hosts by the link structure
of the corpus and use the rank as a quality/crawl-priority prior. Edges
here are host co-citations (two hosts referenced by the same document);
PageRank is the classic damped iteration with dangling-mass
redistribution.

Scale shape: the edge list is corpus-derived (one self-join keyed by
doc — bounded by the per-doc host count, never doc x doc), the rank
vector is node-count-sized and STAYS DISTRIBUTED (nodes = millions of
hosts at crawl scale; only the 1-row dangling-mass aggregate and the node
count are scalars). Each iteration is one broadcast-sized state join +
one aggregate, with periodic checkpoints bounding lineage (the connected-
components doctrine). Every per-iteration value is rounded to 9 digits —
the trajectory-locking doctrine — so the unrolled relational oracle is
bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sarpro_spark.llm.cluster import _checkpointer

DEFAULT_DAMPING = 0.85
DEFAULT_PR_ITERS = 10
STATE_DIGITS = 9


def _r9(col: F.Column) -> F.Column:
    from sarpro_spark.queries import fround

    return fround(col, STATE_DIGITS)


def cocitation_edges(
    mentions: DataFrame, id_col: str = "doc_id", domain_col: str = "domain"
) -> DataFrame:
    """(src, dst, w): ordered pairs of DISTINCT hosts cited by the same doc,
    weighted by co-citing doc count. One doc-keyed self-join — fan-out is
    (hosts per doc)^2, never corpus-quadratic."""
    m = mentions.select(F.col(id_col).alias("_d"), F.col(domain_col).alias("_h")).distinct()
    a = m.select(F.col("_d"), F.col("_h").alias("src"))
    b = m.select(F.col("_d"), F.col("_h").alias("dst"))
    return (
        a.join(b, "_d")
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def pagerank(
    edges: DataFrame,
    damping: float = DEFAULT_DAMPING,
    iters: int = DEFAULT_PR_ITERS,
) -> DataFrame:
    """Weighted PageRank over (src, dst, w): returns (domain, rank, n_out,
    n_in). Dangling nodes' mass is redistributed uniformly each step."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    checkpoint = _checkpointer(nodes)
    edges = checkpoint(edges)
    nodes = checkpoint(nodes)
    n = nodes.count()  # node count: model-state scalar (k-means exception)
    outw = edges.groupBy("src").agg(F.sum("w").alias("_W"))
    trans = edges.join(outw, "src").select(
        "src", "dst", _r9(F.col("w").cast("double") / F.col("_W")).alias("p")
    )
    trans = checkpoint(trans)
    base = (1.0 - damping) / n
    # Off-grid init (the PCA lesson): a uniform 1/N start plus rationally-
    # gridded transition weights lands iteration-1 sums EXACTLY on half-grid
    # rounding boundaries, where engine sum-order noise decides the floor.
    # A per-node md5-derived perturbation keeps every downstream product off
    # the grid — and needs no global window (scale-safe at crawl-size node
    # counts). Fixed-iteration PageRank from a deterministic seed is the
    # operator's defined semantics; the oracle mirrors it exactly.
    from sarpro_spark.llm.sampling import hash_bucket

    seed_off = hash_bucket(F.col("node"), "pr") % 97
    r = nodes.select(
        "node",
        _r9(F.lit(1.0) / F.sqrt(F.lit(float(n * n)) + seed_off.cast("double"))).alias("r"),
    )
    for t in range(iters):
        contrib = (
            trans.join(r.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(_r9(F.sum(F.col("r") * F.col("p"))).alias("_cin"))
        )
        dm = (
            r.join(outw, r["node"] == outw["src"], "left_anti")
            .agg(_r9(F.coalesce(F.sum("r"), F.lit(0.0))).alias("_dm"))
        )
        r = (
            nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "node",
                _r9(
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("_cin"), F.lit(0.0))
                        + F.col("_dm") / F.lit(float(n))
                    )
                ).alias("r"),
            )
        )
        if (t + 1) % 4 == 0:
            r = checkpoint(r)
    n_out = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("n_out"))
    n_in = edges.groupBy(F.col("dst").alias("node")).agg(F.count(F.lit(1)).alias("n_in"))
    from sarpro_spark.queries import fround

    return (
        r.join(n_out, "node", "left")
        .join(n_in, "node", "left")
        .select(
            F.col("node").alias("domain"),
            fround(F.col("r")).alias("rank"),
            F.coalesce("n_out", F.lit(0)).alias("n_out"),
            F.coalesce("n_in", F.lit(0)).alias("n_in"),
        )
    )


# --- DuckDB twin --------------------------------------------------------------


def sql_pagerank(
    mentions_sel: str,
    id_col: str = "doc_id",
    domain_col: str = "domain",
    damping: float = DEFAULT_DAMPING,
    iters: int = DEFAULT_PR_ITERS,
) -> str:
    """Unrolled twin: ``mentions_sel`` is a relation with (id, domain)."""
    from sarpro_spark.queries import sql_fround

    def r9(e: str) -> str:
        return sql_fround(e, STATE_DIGITS)

    from sarpro_spark.llm.sampling import sql_hash_bucket

    _sql_bucket = sql_hash_bucket("node", "pr")

    ctes = [
        f"gm AS MATERIALIZED (SELECT DISTINCT {id_col} AS d, {domain_col} AS h FROM ({mentions_sel}) z)",
        """gedges AS MATERIALIZED (
  SELECT a.h AS src, b.h AS dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM gm a JOIN gm b ON a.d = b.d AND a.h <> b.h
  GROUP BY a.h, b.h
)""",
        "gnodes AS MATERIALIZED (SELECT DISTINCT node FROM (SELECT src AS node FROM gedges UNION ALL SELECT dst FROM gedges) u)",
        "gn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM gnodes)",
        "goutw AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS ww FROM gedges GROUP BY src)",
        f"gtrans AS MATERIALIZED (SELECT e.src, e.dst, {r9('CAST(e.w AS DOUBLE) / o.ww')} AS p FROM gedges e JOIN goutw o ON o.src = e.src)",
        f"gr0 AS MATERIALIZED (SELECT node, "
        f"{r9(f'1.0 / SQRT((SELECT n * n FROM gn) + CAST(({_sql_bucket}) % 97 AS DOUBLE))')}"
        " AS r FROM gnodes)",
    ]
    for t in range(1, iters + 1):
        prev = f"gr{t - 1}"
        ctes.append(
            f"""gc{t} AS MATERIALIZED (
  SELECT tr.dst, {r9('SUM(p.r * tr.p)')} AS cin
  FROM gtrans tr JOIN {prev} p ON p.node = tr.src
  GROUP BY tr.dst
)"""
        )
        ctes.append(
            f"""gd{t} AS (
  SELECT {r9('COALESCE(SUM(r), 0.0)')} AS dm
  FROM {prev} p WHERE NOT EXISTS (SELECT 1 FROM goutw o WHERE o.src = p.node)
)"""
        )
        base = f"((1.0 - {damping!r}) / (SELECT n FROM gn))"
        ctes.append(
            f"""gr{t} AS MATERIALIZED (
  SELECT n.node,
    {r9(f'{base} + {damping!r} * (COALESCE(c.cin, 0.0) + d.dm / (SELECT n FROM gn))')} AS r
  FROM gnodes n LEFT JOIN gc{t} c ON c.dst = n.node, gd{t} d
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT n.node AS domain, {sql_fround('r.r')} AS rank,
  CAST(COALESCE(o.cnt, 0) AS BIGINT) AS n_out,
  CAST(COALESCE(i.cnt, 0) AS BIGINT) AS n_in
FROM gnodes n
JOIN gr{iters} r ON r.node = n.node
LEFT JOIN (SELECT src, COUNT(*) AS cnt FROM gedges GROUP BY src) o ON o.src = n.node
LEFT JOIN (SELECT dst, COUNT(*) AS cnt FROM gedges GROUP BY dst) i ON i.dst = n.node"""
    )


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-vertex triangle counts + local clustering coefficient.

    The degree-orientation algorithm (the standard distributed shape —
    Suri & Vassilvitskii 2011 "Counting triangles and the curse of the
    last reducer"): orient every undirected edge from its lower
    (degree, id) endpoint to the higher, so every wedge is enumerated
    exactly once at its lowest-order apex and per-vertex wedge fan-out is
    bounded by O(sqrt(m)) instead of max-degree — the hub that would
    otherwise be the curse-of-the-last-reducer straggler generates no
    wedges at all.  A triangle is a wedge whose closing edge exists in
    the oriented set; each triangle is found exactly once.

    Input may be directed/weighted/duplicated; it is canonicalized to a
    distinct undirected a<b edge set first.  Output: (vertex, deg,
    triangles, local_cc = 2*tri / (deg*(deg-1)), 0 where deg < 2).
    """
    a, b = F.col(src).cast("string"), F.col(dst).cast("string")
    e = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("v")).unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("degb"))
    ed = e.join(da, "a").join(db, "b")
    lo_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    orient = ed.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(
            lo_first, F.struct(F.col("degb").alias("d"), F.col("b").alias("id"))
        ).otherwise(
            F.struct(F.col("dega").alias("d"), F.col("a").alias("id"))
        ).alias("hi"),
    )
    x = orient.select(F.col("lo"), F.col("hi").alias("h1"))
    y = orient.select(F.col("lo"), F.col("hi").alias("h2"))
    wedges = x.join(y, "lo").where(F.col("h1") < F.col("h2"))
    closing = orient.select(
        F.col("lo").alias("c_lo"), F.col("hi").alias("c_hi")
    )
    tris = wedges.join(
        closing,
        (F.col("h1.id") == F.col("c_lo")) & (F.col("h2") == F.col("c_hi")),
    ).select(
        F.col("lo").alias("v1"),
        F.col("h1.id").alias("v2"),
        F.col("h2.id").alias("v3"),
    )
    per_vertex = (
        tris.select(F.col("v1").alias("v"))
        .unionAll(tris.select(F.col("v2").alias("v")))
        .unionAll(tris.select(F.col("v3").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    from sarpro_spark.queries import fround

    return (
        deg.join(per_vertex, "v", "left")
        .select(
            F.col("v").alias("vertex"),
            F.col("deg").cast("bigint").alias("deg"),
            F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
            fround(
                F.when(
                    F.col("deg") >= 2,
                    2.0 * F.coalesce("triangles", F.lit(0)) / (F.col("deg") * (F.col("deg") - 1)),
                ).otherwise(F.lit(0.0))
            ).alias("local_cc"),
        )
    )


def sql_triangle_counts(edges_rel: str, src: str = "src", dst: str = "dst") -> str:
    """DuckDB twin of :func:`triangle_counts` (same orientation and
    tuple-order wedge enumeration; ROW() comparisons mirror the struct
    comparisons)."""
    return f"""
WITH tri_e AS (
  SELECT DISTINCT LEAST(CAST({src} AS VARCHAR), CAST({dst} AS VARCHAR)) AS a,
         GREATEST(CAST({src} AS VARCHAR), CAST({dst} AS VARCHAR)) AS b
  FROM {edges_rel} WHERE CAST({src} AS VARCHAR) <> CAST({dst} AS VARCHAR)
),
tri_deg AS (
  SELECT v, COUNT(*) AS deg FROM (
    SELECT a AS v FROM tri_e UNION ALL SELECT b AS v FROM tri_e
  ) GROUP BY v
),
tri_or AS (
  SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.a ELSE e.b END AS lo,
         CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN db.deg ELSE da.deg END AS hideg,
         CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.b ELSE e.a END AS hi
  FROM tri_e e
  JOIN tri_deg da ON e.a = da.v
  JOIN tri_deg db ON e.b = db.v
),
tri_w AS (
  SELECT x.lo, x.hideg AS d1, x.hi AS v2, y.hideg AS d2, y.hi AS v3
  FROM tri_or x JOIN tri_or y ON x.lo = y.lo
  WHERE (x.hideg, x.hi) < (y.hideg, y.hi)
),
tri_t AS (
  SELECT w.lo AS v1, w.v2, w.v3
  FROM tri_w w JOIN tri_or c
    ON w.v2 = c.lo AND (w.d2, w.v3) = (c.hideg, c.hi)
),
tri_pv AS (
  SELECT v, COUNT(*) AS triangles FROM (
    SELECT v1 AS v FROM tri_t UNION ALL SELECT v2 AS v FROM tri_t
    UNION ALL SELECT v3 AS v FROM tri_t
  ) GROUP BY v
)
SELECT d.v AS vertex, CAST(d.deg AS BIGINT) AS deg,
       CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles,
       (FLOOR(CASE WHEN d.deg >= 2
          THEN 2.0 * COALESCE(p.triangles, 0) / (d.deg * (d.deg - 1))
          ELSE 0.0 END * 1000000.0 + 0.5) / 1000000.0) AS local_cc
FROM tri_deg d LEFT JOIN tri_pv p ON d.v = p.v
""".strip()


# --- k-core decomposition (r12) -------------------------------------------------


def kcore_survivors(
    edges: DataFrame, k: int, rounds: int = 8, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """The k-core after ``rounds`` of synchronous peeling:
    (v, deg_in_core, converged).

    Iterative peeling (Matula & Beck 1983; the distributed synchronous
    form of Montresor, De Pellegrini & Miorandi): drop every vertex whose
    degree within the current induced subgraph is < k, recompute, repeat.
    Survivor sets are NESTED (S_i contains S_{i+1}), so a round with no
    drops is the fixpoint and ``converged`` certifies it AS DATA —
    a fixed round count keeps both engines' computation identical and
    SQL-unrollable; an unconverged run says so in the hash instead of
    silently claiming the core.

    Plan shape: each round is two keyed semi-joins (edge endpoints against
    the survivor set) + one count aggregate — no global structure, no
    driver iteration over data (the loop builds the PLAN, the data never
    leaves the cluster).  The vertex-sized degree relation is checkpointed
    every round so the twice-referenced survivor set cannot re-expand the
    lineage of later rounds (see the r13 note below).
    """
    a, b = F.col(src).cast("string"), F.col(dst).cast("string")
    e = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    checkpoint = _checkpointer(e)
    e = checkpoint(e)
    both = e.select(F.col("a").alias("v"), F.col("b").alias("w")).unionByName(
        e.select(F.col("b").alias("v"), F.col("a").alias("w"))
    )
    surv = both.select("v").distinct()
    deg = None
    # r13 optimization round (the llm/densest.py fix, guide §3.3/§7.3):
    # surv is referenced TWICE per round (both semi-join sides), so with a
    # checkpoint only every other round the un-truncated round's lineage
    # re-expanded through both references of every later round — 478
    # Exchanges / 250 KB formatted plan. Checkpointing the vertex-sized
    # DEGREE relation every round keeps each round's surv a shallow
    # filter over materialized state (plan collapses to linear in rounds);
    # results are bit-identical (a checkpoint changes no data).
    for r in range(rounds):
        live = (
            both.join(surv.select(F.col("v")), "v", "left_semi")
            .join(surv.select(F.col("v").alias("w")), "w", "left_semi")
        )
        deg = checkpoint(
            live.groupBy("v").agg(F.count(F.lit(1)).alias("deg_in_core"))
        )
        surv = deg.where(F.col("deg_in_core") >= k).select("v")
    # converged <=> the last round dropped nothing (nested sets: count
    # equality is set equality); both counts are 1-row aggregates
    last = deg.where(F.col("deg_in_core") >= k)
    n_last = last.agg(F.count(F.lit(1)).alias("n_last"))
    live2 = (
        both.join(last.select("v"), "v", "left_semi")
        .join(last.select(F.col("v").alias("w")), "w", "left_semi")
    )
    deg2 = live2.groupBy("v").agg(F.count(F.lit(1)).alias("d2"))
    n_next = deg2.where(F.col("d2") >= k).agg(F.count(F.lit(1)).alias("n_next"))
    return (
        deg2.where(F.col("d2") >= k)
        .select(F.col("v"), F.col("d2").alias("deg_in_core"))
        .crossJoin(F.broadcast(n_last))
        .crossJoin(F.broadcast(n_next))
        .select(
            "v",
            "deg_in_core",
            (F.col("n_last") == F.col("n_next")).alias("converged"),
        )
    )


def sql_kcore_survivors(edges_rel: str, k: int, rounds: int = 8) -> str:
    """DuckDB twin of :func:`kcore_survivors` — the rounds unrolled as
    CTEs over a relation with (src, dst) columns."""
    parts = [
        f"""kc_e AS MATERIALIZED (
  SELECT DISTINCT LEAST(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS a,
                  GREATEST(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS b
  FROM {edges_rel}
  WHERE CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)
)""",
        "kc_both AS MATERIALIZED (SELECT a AS v, b AS w FROM kc_e UNION ALL SELECT b, a FROM kc_e)",
        "kc_s0 AS MATERIALIZED (SELECT DISTINCT v FROM kc_both)",
    ]
    prev = "kc_s0"
    for r in range(rounds + 1):  # +1: the convergence-probe round
        parts.append(
            f"""kc_d{r} AS MATERIALIZED (
  SELECT b.v, COUNT(*) AS deg FROM kc_both b
  JOIN {prev} s1 ON s1.v = b.v
  JOIN {prev} s2 ON s2.v = b.w
  GROUP BY 1
)"""
        )
        parts.append(f"kc_s{r + 1} AS MATERIALIZED (SELECT v FROM kc_d{r} WHERE deg >= {k})")
        prev = f"kc_s{r + 1}"
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT d.v, CAST(d.deg AS BIGINT) AS deg_in_core,
       ((SELECT COUNT(*) FROM kc_s{rounds}) = (SELECT COUNT(*) FROM kc_s{rounds + 1})) AS converged
FROM kc_d{rounds} d
WHERE d.deg >= {k}
""".strip()
