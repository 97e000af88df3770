"""Connected components on both sides of the union-find cap
(``llm/cluster.py:UF_MAX_EDGES``) against the DuckDB recursive-CTE twin,
NULL endpoints, a long chain, and the job budget of the one-task side."""

from __future__ import annotations

import warnings

import duckdb
import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql.types import IntegerType, LongType

from sarpro_spark.llm import cluster as cl


@pytest.fixture(params=["union_find", "propagation"])
def side(request, monkeypatch):
    """Runs the test once per side of the cap: the propagation side by a cap
    every graph exceeds."""
    if request.param == "propagation":
        monkeypatch.setattr(cl, "UF_MAX_EDGES", 0)
    return request.param


def _graph(seed: int, base: int) -> tuple[list[int], list[tuple[int, int]]]:
    """Dense blobs of 2-8 sparse ids (a random spanning tree plus extra edges
    each), some edges repeated as-is and reversed, one node whose only edge
    is a self-loop, and isolated nodes. Ids start at ``base``."""
    rng = np.random.default_rng(seed)
    ids = [base + int(i) for i in rng.choice(1 << 30, 100, replace=False)]
    edges, at = [], 0
    while at < 80:
        blob = ids[at:at + int(rng.integers(2, 9))]
        at += len(blob)
        for j in range(1, len(blob)):
            edges.append((blob[j], blob[int(rng.integers(0, j))]))
        for _ in range(len(blob)):
            edges.append((blob[int(rng.integers(len(blob)))], blob[int(rng.integers(len(blob)))]))
    picks = rng.choice(len(edges), 10, replace=False)
    edges += [edges[i] for i in picks[:5]] + [edges[i][::-1] for i in picks[5:]]
    edges.append((ids[80], ids[80]))
    return ids, edges


def _twin(nodes: list[int], edges: list[tuple[int, int]]) -> set[tuple]:
    con = duckdb.connect()
    con.register("nodes_t", pa.table({"id": pa.array(nodes, pa.int64())}))
    con.register("edges_t", pa.table({
        "a": pa.array([e[0] for e in edges], pa.int64()),
        "b": pa.array([e[1] for e in edges], pa.int64()),
    }))
    sql = cl.sql_dedup_clusters("SELECT id FROM nodes_t", "SELECT a, b FROM edges_t")
    return set(con.execute(sql).fetchall())


def _reference(nodes: set[int], edges: list[tuple[int, int]]) -> dict[int, int]:
    """Breadth-first search from every node, in id order."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label: dict[int, int] = {}
    for start in sorted(nodes):
        if start in label:
            continue
        frontier = [start]
        label[start] = start
        while frontier:
            frontier = [v for u in frontier for v in adj.get(u, ()) if v not in label]
            for v in frontier:
                label[v] = start
    return label


def test_union_find_kernel_matches_reference():
    """The Arrow kernel on random graphs, with ids that are endpoints but no
    node (labelled only through a node's component)."""
    arrow = pa.schema([("id", pa.int64()), ("cluster_id", pa.int64())])
    rng = np.random.default_rng(11)
    for _ in range(200):
        n, m = int(rng.integers(1, 40)), int(rng.integers(0, 60))
        edges = [tuple(int(x) for x in rng.integers(0, n, 2)) for _ in range(m)]
        nodes = {int(x) for x in rng.integers(0, n, int(rng.integers(1, n + 1)))}
        rel = pa.table({
            "a": [e[0] for e in edges] + sorted(nodes),
            "b": [e[1] for e in edges] + sorted(nodes),
            "own": [False] * m + [True] * len(nodes),
        }, schema=pa.schema([("a", pa.int64()), ("b", pa.int64()), ("own", pa.bool_())]))
        out = cl._components(rel, arrow)
        got = dict(zip(out.column(0).to_pylist(), out.column(1).to_pylist()))
        assert got == _reference(nodes, edges)


@pytest.mark.parametrize("typ,seed,base", [("int", 5, 0), ("long", 6, 1 << 33)])
def test_both_sides_match_the_twin(spark, side, typ, seed, base):
    nodes, edges = _graph(seed, base)
    want = _twin(nodes, edges)
    docs = spark.createDataFrame([(i,) for i in nodes], f"doc_id {typ}")
    pairs = spark.createDataFrame(edges, f"doc_a {typ}, doc_b {typ}")
    out = cl.dedup_clusters(docs, pairs)
    assert set(map(tuple, out.collect())) == want
    id_type = IntegerType() if typ == "int" else LongType()
    assert out.schema["doc_id"].dataType == id_type
    assert out.schema["cluster_id"].dataType == id_type

    cc = cl.connected_components(
        docs.withColumnRenamed("doc_id", "id"),
        pairs.toDF("a", "b"),
    )
    assert set(map(tuple, cc.collect())) == {(d, c) for d, c, _ in want}
    assert cc.schema["cluster_id"].dataType == id_type


def test_null_endpoint_connects_nothing(spark, side):
    """A NULL endpoint joins no edge: 3 and 4 stay apart. The NULL doc keeps
    its (NULL, NULL) singleton row, and the NULL endpoint its row labelled
    by its neighbours' min label."""
    docs = spark.createDataFrame([(i,) for i in range(6)] + [(None,)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 3), (3, None), (None, 4), (2, 2)], "doc_a long, doc_b long"
    )
    got = sorted(map(tuple, cl.dedup_clusters(docs, pairs).collect()), key=repr)
    assert got == sorted([
        (0, 0, True), (1, 1, True), (2, 2, True), (3, 1, False), (4, 4, True),
        (5, 5, True), (None, 1, None), (None, None, None),
    ], key=repr)


def test_long_chain_is_exact_in_one_task(spark):
    """A 60-node chain needs 59 propagation rounds, above the loop's
    ``max_iter``; the union-find side labels it exactly, without warning."""
    nodes = spark.createDataFrame([(i,) for i in range(60)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(59)], "a long, b long")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = cl.connected_components(nodes, edges).collect()
        docs = nodes.withColumnRenamed("id", "doc_id")
        pairs = edges.toDF("doc_a", "doc_b")
        dedup = cl.dedup_clusters(docs, pairs).collect()
    assert sorted(map(tuple, out)) == [(i, 0) for i in range(60)]
    assert sorted(map(tuple, dedup)) == [(i, 0, i == 0) for i in range(60)]


#: Jobs of one ``dedup_clusters`` call plus one collect of its result: the
#: pair checkpoint, the union-find checkpoint, and the anti-join + union.
DEDUP_CLUSTERS_MAX_JOBS = 6


def test_dedup_clusters_job_budget(spark):
    sc = spark.sparkContext
    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 20, 2)] + [(1, 2), (30, 31)], "doc_a long, doc_b long"
    )
    group = "test_dedup_clusters_job_budget"
    sc.setJobGroup(group, group)
    try:
        rows = cl.dedup_clusters(docs, pairs).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 40
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= DEDUP_CLUSTERS_MAX_JOBS
