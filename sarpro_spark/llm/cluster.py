"""Connected components over near-duplicate pair graphs — the step that turns
pairwise dedup evidence into keep/drop decisions (cluster -> canonical doc).

The output, min node id per component, does not depend on the algorithm, so
the algorithm is picked by the size of the materialized edge relation:

  * at or below :data:`UF_MAX_EDGES` edges, ONE ``mapInArrow`` task runs an
    exact union-find over all edges (:func:`_union_find`): ids are ranked by
    ``np.unique`` (so the min rank is the min id), every round hooks the
    larger root of each edge that still joins two roots under the smaller
    one (``np.minimum.at``) and pointer-jumps every rank to its root, until
    no edge joins two roots. Near-dup graphs are sparse and small next to
    the corpus, so this is the common case: two jobs, no rounds.
  * above it, min-label propagation to fixpoint
    (:func:`_label_propagation`): labels start as node ids; each round every
    node takes the min label over itself + neighbors; converged when no
    label changes. Rounds = graph diameter. Each round is one join + one
    groupBy — all DataFrame ops, lineage cut with a checkpoint so plans
    don't snowball. It is the simple variant of large-star/small-star
    (Kiveris et al., SoCC 2014), which bounds the rounds by O(log n) and is
    the upgrade for this side.

The propagation loop is an iterative algorithm with a driver-side
convergence scalar per round — the documented exception pattern (the
per-round collect is ONE long, not data).
"""

from __future__ import annotations

import warnings
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

#: Largest edge relation (self-loops included) that one union-find task
#: takes. Random dedup-like graphs (blobs of 2-12 docs, 40-bit ids) measured
#: in one Python process on a 4-core Xeon: 2^20 edges in 0.7 s at 258 MB
#: peak RSS, 4x that in 3.3 s at 690 MB; above the cap the propagation
#: loop spreads the graph over the cluster instead.
UF_MAX_EDGES = 1 << 20


def _checkpointer(df: DataFrame):
    """Reliable ``checkpoint()`` when the session has a checkpoint dir (cluster
    mode: survives executor loss — localCheckpoint blocks die with their
    executor and the truncated lineage cannot recompute them); eager
    ``localCheckpoint`` otherwise (single-node iteration speed)."""
    sc = df.sparkSession.sparkContext
    try:
        reliable = sc.getCheckpointDir() is not None
    except AttributeError:  # older pyspark
        reliable = sc._jsc.sc().getCheckpointDir().isDefined()
    if reliable:
        return lambda d: d.checkpoint(eager=True)
    return lambda d: d.localCheckpoint(eager=True)


def _counted(df: DataFrame, *sums: str) -> tuple:
    """``df`` checkpointed, its row count, then the sum of each column named
    in ``sums`` (0 over no rows), all read by ONE ``Observation`` off the
    checkpoint's own job — no second pass over the rows."""
    obs = Observation()
    totals = [F.coalesce(F.sum(c), F.lit(0)).alias(f"sum_{c}") for c in sums]
    out = _checkpointer(df)(df.observe(obs, F.count(F.lit(1)).alias("n"), *totals))
    got = obs.get
    return (out, got["n"], *(got[f"sum_{c}"] for c in sums))


def _in_one_task(
    df: DataFrame, schema: StructType, fn: Callable[[pa.Table, pa.Schema], pa.RecordBatch]
) -> DataFrame:
    """``fn(table, arrow_schema)``: one batch of ``schema`` from ALL of
    ``df`` read as one Arrow table, in ONE task; no rows in, no rows out.
    ``df`` is already materialized, so coalesce(1) reads its blocks in one
    task without a shuffle."""
    arrow = to_arrow_schema(schema)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        batches = list(batches)
        if batches:
            yield fn(pa.Table.from_batches(batches), arrow)

    return df.coalesce(1).mapInArrow(kernel, schema)


def _roots(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """Root rank of each of ``n`` ranks joined by the edges ``u``-``v``; a
    root is the min rank of its component. Each round hooks the larger root
    of every edge that joins two roots under the smaller one, then
    pointer-jumps every rank to its root."""
    parent = np.arange(n)
    while True:
        u, v = parent[u], parent[v]
        live = u != v
        if not live.any():
            return parent
        u, v = u[live], v[live]
        np.minimum.at(parent, np.maximum(u, v), np.minimum(u, v))
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up


def _components(rel: pa.Table, arrow: pa.Schema) -> pa.RecordBatch:
    """(id, cluster_id) of an (a, b, own) edge table; ``own`` marks rows whose
    endpoints are nodes. A component's label is its min node id; one that
    holds no node gets no rows, as label propagation never reaches it.

    A NULL endpoint joins nothing (as in any join); it gets a row when it is
    a node or has a labelled neighbour, labelled with the min label of its
    neighbours, NULL when it has none."""
    null_a, null_b = (rel.column(c).is_null().to_numpy() for c in "ab")
    a, b = (pc.fill_null(rel.column(c), 0).to_numpy() for c in "ab")
    own = rel.column("own").to_numpy()
    ids, rank = np.unique(np.concatenate([a[~null_a], b[~null_b]]), return_inverse=True)
    n = ids.size
    ra, rb = np.full(a.size, n), np.full(b.size, n)
    ra[~null_a], rb[~null_b] = np.split(rank, [int((~null_a).sum())])
    root = _roots(ra[~(null_a | null_b)], rb[~(null_a | null_b)], n)
    nodes = np.concatenate([ra[own & ~null_a], rb[own & ~null_b]])
    # label rank of every rank: the min node rank of its root (n: no node)
    label = np.full(n, n)
    np.minimum.at(label, root[nodes], nodes)
    label = label[root]
    keep = label < n
    out_id = pa.array(ids[keep], arrow.field(0).type)
    out_label = pa.array(ids[label[keep]], arrow.field(1).type)
    near = np.concatenate([rb[null_a], ra[null_b]])
    near = label[near[near < n]]
    near = near[near < n]
    if near.size or (own & (null_a | null_b)).any():
        out_id = pa.concat_arrays([out_id, pa.nulls(1, out_id.type)])
        tail = pa.array(ids[[near.min()]] if near.size else [None], out_label.type)
        out_label = pa.concat_arrays([out_label, tail])
    return pa.RecordBatch.from_arrays([out_id, out_label], schema=arrow)


def _union_find(rel: DataFrame, id_col: str) -> DataFrame:
    """(id_col, cluster_id) of an (a, b, own) edge relation
    (:func:`_components`), computed in ONE task and checkpointed. The ids
    keep their type: int in, int out."""
    typ = rel.select(F.coalesce("a", "b")).schema[0].dataType
    schema = StructType([StructField(id_col, typ), StructField("cluster_id", typ)])
    rel = rel.select(F.col("a").cast(typ), F.col("b").cast(typ), "own")
    return _checkpointer(rel)(_in_one_task(rel, schema, _components))


def _label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str,
    src: str,
    dst: str,
    max_iter: int = 20,
    check_every: int = 2,
) -> DataFrame:
    """Min-label propagation to fixpoint: (node_col, cluster_id).

    Per round: one join + one groupBy + one checkpoint job. The previous
    label rides through the aggregation (``min(lbl) FILTER own``), so the
    convergence probe is a narrow scan of the checkpointed labels — no join —
    and runs only every ``check_every`` rounds: ~1.5 jobs/round vs 3 in the
    naive form. Raises a warning if ``max_iter`` rounds pass without
    convergence (partial labels are still a valid over-segmentation, but the
    caller should know)."""
    checkpoint = _checkpointer(nodes)
    both = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    # the edge relation's lineage (e.g. a full near-dup pair computation) would
    # otherwise be re-executed on EVERY iteration — materialize it once
    both = checkpoint(both)
    labels = nodes.select(F.col(node_col).alias("u"), F.col(node_col).alias("lbl"))
    labels = checkpoint(labels)
    converged = False
    for i in range(1, max_iter + 1):
        msgs = both.join(labels, on="u").select(
            F.col("v").alias("u"), "lbl", F.lit(False).alias("own")
        )
        new_labels = (
            labels.withColumn("own", F.lit(True))
            .unionByName(msgs)
            .groupBy("u")
            .agg(
                F.min("lbl").alias("lbl"),
                F.min(F.when(F.col("own"), F.col("lbl"))).alias("prev"),
            )
        )
        new_labels = checkpoint(new_labels)
        if i % check_every == 0 or i == max_iter:
            if new_labels.where(F.col("lbl") < F.col("prev")).limit(1).count() == 0:
                labels = new_labels.select("u", "lbl")
                converged = True
                break
        labels = new_labels.select("u", "lbl")
    if not converged:
        warnings.warn(
            f"connected_components: no fixpoint after {max_iter} rounds — "
            "labels are an over-segmentation; raise max_iter",
            RuntimeWarning,
            stacklevel=3,
        )
    return labels.select(F.col("u").alias(node_col), F.col("lbl").alias("cluster_id"))


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    src: str = "a",
    dst: str = "b",
    max_iter: int = 20,
    check_every: int = 2,
) -> DataFrame:
    """Returns (id, cluster_id) with cluster_id = min node id in component.

    The edges plus one self-loop per node are checkpointed once and counted
    off that same job. At or below :data:`UF_MAX_EDGES` rows they go to the
    one-task union-find, which is exact on any graph; above it to label
    propagation, whose ``max_iter`` and ``check_every`` apply there only. The
    cap keeps the one task's memory bounded: a graph too big for one Python
    worker is spread over the cluster instead."""
    loops = nodes.select(
        F.col(node_col).alias("a"), F.col(node_col).alias("b"), F.lit(True).alias("own")
    )
    rel, n_edges = _counted(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"), F.lit(False).alias("own"))
        .unionByName(loops)
    )
    if n_edges <= UF_MAX_EDGES:
        return _union_find(rel, node_col)
    return _label_propagation(nodes, rel, node_col, "a", "b", max_iter, check_every)


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """(doc_id, cluster_id, is_canonical): cluster near-dup pairs, mark the
    min-id doc of each cluster canonical — drop the rest for a deduplicated
    corpus.

    Only nodes that appear in an edge ride the components: near-dup docs are
    a small fraction of any real corpus, so components run on the
    pair-connected subgraph (orders of magnitude smaller than the corpus at
    100 TB) and the singleton majority joins back in one anti-join with
    ``cluster_id = id``. The pairs are checkpointed and counted once; at or
    below :data:`UF_MAX_EDGES` the union-find's checkpointed output feeds
    both the union and, broadcast (at most two ids per edge), the anti-join,
    so the corpus ids are not shuffled."""
    nodes = docs.select(F.col(id_col).alias("id"))
    # materialize the pair computation ONCE — it is typically an expensive
    # LSH/verify pipeline that must not re-execute per consumer
    pairs, n_edges = _counted(pairs.select(F.col(a).alias("a"), F.col(b).alias("b")))
    if n_edges <= UF_MAX_EDGES:
        cc = _union_find(pairs.withColumn("own", F.lit(True)), "id")
        # at most 2 * UF_MAX_EDGES ids: the anti-join broadcasts them rather
        # than sending the corpus ids through a sort-merge exchange
        edge_nodes = F.broadcast(cc.select("id"))
    else:
        edge_nodes = (
            pairs.select(F.col("a").alias("id"))
            .unionByName(pairs.select(F.col("b").alias("id")))
            .distinct()
        )
        cc = _label_propagation(edge_nodes, pairs, "id", "a", "b")
    singletons = nodes.join(edge_nodes, "id", "left_anti").select(
        "id", F.col("id").alias("cluster_id")
    )
    return cc.unionByName(singletons).select(
        F.col("id").alias(id_col),
        "cluster_id",
        (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
    )


def incremental_components(
    old_labels: DataFrame,
    new_nodes: DataFrame,
    delta_edges: DataFrame,
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """Incremental connected-components maintenance (r13): given the
    previous run's labels and ONLY the new edges/nodes, produce labels
    equal to a full recompute over the union graph — without touching the
    old edge set.

    The union-find contraction argument: map every delta-edge endpoint to
    its representative (its old cluster label; a new node represents
    itself), run components on the CONTRACTED graph — touched clusters +
    new nodes only, orders of magnitude smaller than the corpus — and
    compose.  Because the house labeling is min-node-id and min is
    associative, the composed label (min over merged clusters of their
    min ids) IS the full-recompute label, exactly: the certificate
    hashes equality against the full recompute, not a bound.

    At 100 TB this is the dedup-cluster lifecycle operator: a daily
    crawl delta re-clusters only the clusters it touches; untouched
    labels (the overwhelming majority) pass through by anti-join
    semantics (a left join + coalesce — no per-row recompute).

    Returns (id, cluster_id) over old ∪ new nodes.
    """
    rep_a = old_labels.select(
        F.col("id").alias(a), F.col("cluster_id").alias("_ra")
    )
    rep_b = old_labels.select(
        F.col("id").alias(b), F.col("cluster_id").alias("_rb")
    )
    contracted = (
        delta_edges.select(a, b)
        .join(rep_a, a, "left")
        .join(rep_b, b, "left")
        .select(
            F.coalesce(F.col("_ra"), F.col(a)).alias("a"),
            F.coalesce(F.col("_rb"), F.col(b)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    cnodes = (
        contracted.select(F.col("a").alias("id"))
        .unionByName(contracted.select(F.col("b").alias("id")))
        .distinct()
    )
    comp = connected_components(cnodes, contracted, "id", "a", "b").select(
        F.col("id").alias("_rep"), F.col("cluster_id").alias("_newlab")
    )
    out_old = (
        old_labels.join(comp, old_labels["cluster_id"] == comp["_rep"], "left")
        .select(
            "id", F.coalesce(F.col("_newlab"), F.col("cluster_id")).alias("cluster_id")
        )
    )
    out_new = (
        new_nodes.select("id")
        .join(comp, new_nodes["id"] == comp["_rep"], "left")
        .select("id", F.coalesce(F.col("_newlab"), F.col("id")).alias("cluster_id"))
    )
    return out_old.unionByName(out_new)


def sql_dedup_clusters(nodes_sel: str, edges_sel: str, prefix: str = "") -> str:
    """DuckDB twin via recursive CTE (min-reachable-label closure).
    ``nodes_sel`` yields (id); ``edges_sel`` yields (a, b).  ``prefix``
    (r13) namespaces the CTEs so one statement can instantiate several
    closures (e.g. the incremental-maintenance certificate's old + full
    graphs); the caller supplies WITH RECURSIVE when prefixed."""
    p = prefix
    body = f"""{p}nodes AS ({nodes_sel}),
{p}edges0 AS ({edges_sel}),
{p}edges AS (SELECT a AS u, b AS v FROM {p}edges0 UNION ALL SELECT b, a FROM {p}edges0),
{p}reach(node, lbl) AS (
  SELECT id, id FROM {p}nodes
  UNION
  SELECT e.v, r.lbl FROM {p}reach r JOIN {p}edges e ON e.u = r.node
)"""
    if prefix:
        return body
    return f"""
WITH RECURSIVE
{body}
SELECT node AS doc_id, MIN(lbl) AS cluster_id,
       (node = MIN(lbl)) AS is_canonical
FROM reach GROUP BY node
""".strip()
