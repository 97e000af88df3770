"""r13 wave-2 operators: DSIR importance resampling, late-interaction
MaxSim retrieval, densest-subgraph peeling."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sarpro_spark.llm import densest as dn
from sarpro_spark.llm import dsir
from sarpro_spark.llm import lateinteraction as li


@pytest.fixture(scope="module")
def emb(spark):
    rs = np.random.RandomState(3)
    vecs = rs.normal(0, 1, (40, 16)).astype(np.float32)
    vecs[7] = vecs[0] * 2.0  # same direction as 0 -> cosine 1
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


# --- DSIR ----------------------------------------------------------------------


@pytest.fixture(scope="module")
def dsir_docs(spark):
    # target = 3 "physics" docs; 4 raw docs share that vocabulary, 4 don't
    phys = "quantum field theory entangled photon spin lattice boson"
    chat = "lol omg click here free prize winner subscribe now wow"
    rows = (
        [(i, phys + f" experiment run {i}", "tgt") for i in range(3)]
        + [(10 + i, phys + f" seminar note {i}", "raw") for i in range(4)]
        + [(20 + i, chat + f" spam blast {i}", "raw") for i in range(4)]
    )
    return spark.createDataFrame(rows, "doc_id long, text string, kind string")


def test_dsir_logweights_favor_target_like_docs(spark, dsir_docs):
    lw = {
        r["doc_id"]: r["logw_nano"]
        for r in dsir.dsir_logweights(dsir_docs, F.col("kind") == "tgt").collect()
    }
    phys_like = [lw[10 + i] for i in range(4)]
    chat_like = [lw[20 + i] for i in range(4)]
    assert min(phys_like) > max(chat_like)


def test_dsir_logweights_exact_integers_and_stable(spark, dsir_docs):
    a = sorted(
        (r["doc_id"], r["logw_nano"])
        for r in dsir.dsir_logweights(dsir_docs, F.col("kind") == "tgt").collect()
    )
    b = sorted(
        (r["doc_id"], r["logw_nano"])
        for r in dsir.dsir_logweights(dsir_docs, F.col("kind") == "tgt").collect()
    )
    assert a == b  # exact integer dot product: no float nondeterminism
    assert all(isinstance(v, int) for _, v in a)


def test_dsir_resample_prefers_target_distribution(spark, dsir_docs):
    top = dsir.dsir_resample(dsir_docs, F.col("kind") == "tgt", 6).collect()
    assert len(top) == 6
    assert [r["rnk"] for r in sorted(top, key=lambda r: r["rnk"])] == list(
        range(1, 7)
    )
    # the 6-of-11 sample overwhelmingly lands on physics-vocab docs
    phys_ids = set(range(3)) | {10, 11, 12, 13}
    assert sum(1 for r in top if r["doc_id"] in phys_ids) >= 5


# --- MaxSim late interaction ---------------------------------------------------


def test_maxsim_self_is_perfect_and_top(spark, emb):
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    out = li.maxsim_topk_ivf(
        emb, queries, k=3, n_centroids=4, nprobe=4, t=4, dim=16
    ).collect()
    first = [r for r in out if r["rnk"] == 1][0]
    assert first["vec_id"] == 0
    assert first["maxsim"] == 4.0  # every query slice matches itself exactly
    # the scaled copy (vec 7 = 2 * vec 0) has identical slice cosines
    second = [r for r in out if r["rnk"] == 2][0]
    assert second["vec_id"] == 7
    assert second["maxsim"] == 4.0


def test_maxsim_is_asymmetric_order_sensitive(spark, emb):
    rows = (
        emb.where(F.col("vec_id").isin([0, 3]))
        .select("vec_id", "embedding")
        .collect()
    )
    v = {r["vec_id"]: r["embedding"] for r in rows}
    pair = spark.createDataFrame(
        [(v[0], v[3])], "qvec array<float>, dvec array<float>"
    )
    ab, ba = pair.select(
        F.expr(li.spark_maxsim_sql("qvec", "dvec", t=4, dim=16)).alias("ab"),
        F.expr(li.spark_maxsim_sql("dvec", "qvec", t=4, dim=16)).alias("ba"),
    ).collect()[0]
    assert ab != ba  # sum-of-row-maxes vs sum-of-column-maxes


def test_maxsim_zero_slice_hits_sentinel(spark):
    z = [0.0] * 4 + [1.0, 0.0, 0.0, 0.0]
    q = [1.0] * 8
    pair = spark.createDataFrame(
        [(q, z)], "qvec array<float>, dvec array<float>"
    )
    val = pair.select(
        F.expr(li.spark_maxsim_sql("qvec", "dvec", t=2, dim=8)).alias("m")
    ).collect()[0]["m"]
    # slice 0 of d is all-zero -> its cosine is the -2.0 sentinel, but the
    # nonzero slice 1 wins each greatest(); no NULLs escape
    assert val is not None and val > -4.0


# --- densest subgraph ----------------------------------------------------------


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_densest_finds_planted_clique(spark):
    clique = [f"c{i}" for i in range(8)]
    pairs = [(clique[i], clique[j]) for i in range(8) for j in range(i + 1, 8)]
    # sparse fringe: a long path hanging off the clique
    fringe = [("c0", "f0")] + [(f"f{i}", f"f{i+1}") for i in range(12)]
    out = dn.densest_subgraph(_edges_df(spark, pairs + fringe)).collect()
    got = sorted(r["v"] for r in out)
    assert got == sorted(clique)
    r0 = out[0]
    assert r0["best_round"] >= 1  # peeling beat the full graph
    assert r0["n_vertices"] == 8 and r0["n_edges"] == 28
    assert r0["density"] == 3.5
    assert all(r["deg_in_best"] == 7 for r in out)


def test_densest_full_graph_when_uniform(spark):
    # a cycle is 1-regular-density everywhere: nothing beats round 0
    cyc = [(f"n{i}", f"n{(i+1) % 6}") for i in range(6)]
    out = dn.densest_subgraph(_edges_df(spark, cyc)).collect()
    assert len(out) == 6
    assert out[0]["best_round"] == 0
    assert out[0]["density"] == 1.0


def test_densest_peel_is_deterministic(spark):
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    a = sorted(map(tuple, dn.densest_subgraph(_edges_df(spark, pairs)).collect()))
    b = sorted(map(tuple, dn.densest_subgraph(_edges_df(spark, pairs)).collect()))
    assert a == b


# --- incremental connected components ------------------------------------------


def test_incremental_components_equals_full_recompute(spark):
    from sarpro_spark.llm import cluster as cl

    old_edges = [(1, 2), (3, 4)]
    old_nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5]], "id long")
    old_pairs = spark.createDataFrame(old_edges, "doc_a long, doc_b long")
    old_labels = cl.dedup_clusters(
        old_nodes.select(F.col("id").alias("doc_id")), old_pairs
    ).select(F.col("doc_id").alias("id"), "cluster_id")

    # delta: (2,3) merges the two old clusters; new node 6 attaches to 4;
    # new node 7 is isolated
    delta = spark.createDataFrame([(2, 3), (6, 4)], "a long, b long")
    new_nodes = spark.createDataFrame([(6,), (7,)], "id long")
    inc = {
        (r["id"], r["cluster_id"])
        for r in cl.incremental_components(old_labels, new_nodes, delta).collect()
    }
    assert inc == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 1), (7, 7)}


def test_incremental_components_no_delta_is_identity(spark):
    from sarpro_spark.llm import cluster as cl

    old_labels = spark.createDataFrame(
        [(1, 1), (2, 1), (9, 9)], "id long, cluster_id long"
    )
    empty_edges = spark.createDataFrame([], "a long, b long")
    empty_nodes = spark.createDataFrame([], "id long")
    out = {
        (r["id"], r["cluster_id"])
        for r in cl.incremental_components(old_labels, empty_nodes, empty_edges).collect()
    }
    assert out == {(1, 1), (2, 1), (9, 9)}
