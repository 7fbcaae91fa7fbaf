"""k-truss peeling (ops/graph.py::k_truss)."""
import itertools

import pytest

from rdf_spark.ops.graph import k_truss, triangle_count


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "a string, b string")


def _got(df):
    return {(r.u, r.v) for r in df.collect()}


def _naive_truss(pairs, k):
    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    while True:
        sup = {e: 0 for e in und}
        nodes = sorted({n for e in und for n in e})
        es = set(und)
        for a, b, c in itertools.combinations(nodes, 3):
            if ((a, b) in es and (b, c) in es and (a, c) in es):
                sup[(a, b)] += 1
                sup[(b, c)] += 1
                sup[(a, c)] += 1
        kept = {e for e in und if sup[e] >= k - 2}
        if kept == und:
            return und
        und = kept


class TestKTruss:
    def test_clique_is_its_own_truss(self, spark):
        nodes = ["a", "b", "c", "d"]
        k4 = [(x, y) for i, x in enumerate(nodes) for y in nodes[i + 1:]]
        assert _got(k_truss(_edges(spark, k4), k=4)) == set(k4)
        # K4 every edge has support 2 → no 5-truss
        assert _got(k_truss(_edges(spark, k4), k=5)) == set()

    def test_pendant_and_triangle(self, spark):
        tri = [("a", "b"), ("b", "c"), ("a", "c")]
        pend = [("c", "d"), ("d", "e")]
        assert _got(k_truss(_edges(spark, tri + pend), k=3)) == set(tri)

    def test_cascading_peel(self, spark):
        # two triangles sharing an edge: 4-truss needs support 2 —
        # only the shared edge has it at first, everything unravels
        pairs = [("a", "b"), ("a", "c"), ("b", "c"),
                 ("b", "d"), ("c", "d")]
        assert _got(k_truss(_edges(spark, pairs), k=4)) == set()
        assert _got(k_truss(_edges(spark, pairs), k=3)) == set(pairs)

    def test_k2_is_identity(self, spark):
        pairs = [("a", "b"), ("b", "c")]
        assert _got(k_truss(_edges(spark, pairs), k=2)) == set(pairs)

    def test_matches_naive(self, spark):
        import random

        rng = random.Random(11)
        nodes = [f"n{i}" for i in range(10)]
        pairs = list({
            tuple(sorted((rng.choice(nodes), rng.choice(nodes))))
            for _ in range(28)
        })
        for k in (3, 4):
            assert _got(k_truss(_edges(spark, pairs), k=k)) == \
                _naive_truss(pairs, k), k

    def test_validates(self, spark):
        with pytest.raises(ValueError):
            k_truss(_edges(spark, [("a", "b")]), k=1)

    def test_triangle_count_unchanged_by_refactor(self, spark):
        tri = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
        got = {r.node: r.triangles
               for r in triangle_count(_edges(spark, tri)).collect()}
        assert got == {"a": 1, "b": 1, "c": 1, "d": 0}


def test_ktruss_local_matches_distributed(spark, set_fastpath_cap):
    import random

    rng = random.Random(3)
    nodes = [f"n{i}" for i in range(12)]
    pairs = list({
        tuple(sorted((rng.choice(nodes), rng.choice(nodes))))
        for _ in range(40)
    })
    pairs = [(a, b) for a, b in pairs if a != b]
    e = _edges(spark, pairs)
    for k in (3, 4, 5):
        fast = _got(k_truss(e, k=k))
        set_fastpath_cap(0)
        slow = _got(k_truss(e, k=k))
        set_fastpath_cap(None)
        assert fast == slow, k
