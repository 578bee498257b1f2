"""Connected components vs a union-find oracle on random graphs (SURVEY §5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparklink.cluster import connected_components, entity_map


class _UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _oracle(edges):
    uf = _UF()
    for a, b in edges:
        uf.union(a, b)
    return {x: uf.find(x) for x in uf.p}


def _check(spark, edges):
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    got = {r.record_id: r.component for r in connected_components(df).collect()}
    want = _oracle(edges)
    # same partition AND same canonical representative (min id)
    assert got == want


def test_cc_simple_chain(spark):
    _check(spark, [("a", "b"), ("b", "c"), ("x", "y")])


def test_cc_long_path(spark):
    # path graph exercises multi-iteration propagation + pointer jumping
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)]
    _check(spark, edges)
    # one round cannot settle a 41-node path: raise, never return
    # unconverged labels
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(df, max_iter=1)


def test_cc_random_graphs(spark):
    rng = np.random.default_rng(7)
    nodes = [f"v{i:03d}" for i in range(120)]
    edges = []
    for _ in range(150):
        a, b = rng.choice(nodes, size=2, replace=False)
        if a > b:
            a, b = b, a
        edges.append((a, b))
    _check(spark, sorted(set(edges)))


def test_entity_map_singletons_and_confidence(spark):
    scored = spark.createDataFrame(
        [("a", "b", 0.9), ("b", "c", 0.7), ("p", "q", 0.3)],
        "id_a string, id_b string, score double",
    )
    records = spark.createDataFrame([("a",), ("b",), ("c",), ("p",), ("q",), ("z",)], "conv_id string")
    em = entity_map(scored, records, threshold=0.5)
    pdf = em.toPandas().set_index("record_id")
    assert pdf.loc["a", "canon_id"] == "a"
    assert pdf.loc["b", "canon_id"] == "a"
    assert pdf.loc["c", "canon_id"] == "a"
    # below-threshold edge -> p, q are singletons (their own canon)
    assert pdf.loc["p", "canon_id"] == "p"
    assert pdf.loc["q", "canon_id"] == "q"
    assert pdf.loc["z", "canon_id"] == "z"
    assert abs(pdf.loc["b", "cluster_score"] - 0.8) < 1e-9  # mean(0.9, 0.7)
    assert np.isnan(pdf.loc["z", "cluster_score"])


def test_refinement_splits_weak_chain(spark):
    """Transitive closure merges A~B~C despite a weak A-C edge; average-
    linkage refinement splits at the cut (dedupe cluster semantics)."""
    scored = spark.createDataFrame(
        [("a", "b", 0.9), ("b", "c", 0.85), ("a", "c", 0.1)],
        "id_a string, id_b string, score double",
    )
    records = spark.createDataFrame([("a",), ("b",), ("c",)], "conv_id string")
    em_cc = entity_map(scored, records, threshold=0.5, refine=False).toPandas().set_index("record_id")
    assert set(em_cc["canon_id"]) == {"a"}  # over-merged by pure CC
    em_hac = entity_map(scored, records, threshold=0.5, refine=True).toPandas().set_index("record_id")
    assert em_hac.loc["a", "canon_id"] == em_hac.loc["b", "canon_id"] == "a"
    assert em_hac.loc["c", "canon_id"] == "c"


def test_refinement_keeps_dense_cluster(spark):
    scored = spark.createDataFrame(
        [("a", "b", 0.9), ("b", "c", 0.92), ("a", "c", 0.88), ("x", "y", 0.7)],
        "id_a string, id_b string, score double",
    )
    records = spark.createDataFrame([(i,) for i in "abcxy"], "conv_id string")
    em = entity_map(scored, records, threshold=0.5, refine=True).toPandas().set_index("record_id")
    assert em.loc["a", "canon_id"] == em.loc["b", "canon_id"] == em.loc["c", "canon_id"] == "a"
    assert em.loc["x", "canon_id"] == em.loc["y", "canon_id"] == "x"
