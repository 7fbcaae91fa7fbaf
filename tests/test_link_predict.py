"""Neighborhood link prediction (ops/graph.py::link_predict)."""
import itertools
import math
from collections import defaultdict
from decimal import Decimal

from rdf_spark.ops.graph import link_predict


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "a string, b string")


def _got(df):
    return {
        (r.a, r.b): (r.n_common, r.jaccard, r.adamic_adar)
        for r in df.collect()
    }


def _naive(pairs, max_degree=10_000, min_common=1):
    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    nbrs = defaultdict(set)
    for u, v in und:
        nbrs[u].add(v)
        nbrs[v].add(u)
    deg = {n: len(s) for n, s in nbrs.items()}
    out = {}
    for a, b in itertools.combinations(sorted(nbrs), 2):
        if (a, b) in und:
            continue
        common = [z for z in nbrs[a] & nbrs[b] if deg[z] <= max_degree]
        if len(common) < min_common:
            continue
        aa = sum(
            Decimal(str(round(1.0 / math.log(deg[z]), 9))) for z in common
        )
        out[(a, b)] = (
            len(common),
            round(len(common) / float(deg[a] + deg[b] - len(common)), 6),
            round(float(aa), 6),
        )
    return out


class TestLinkPredict:
    def test_path_scores(self, spark):
        # a-b-c-d: (a,c) via b, (b,d) via c; (a,d) share nothing
        got = _got(link_predict(_edges(
            spark, [("a", "b"), ("b", "c"), ("c", "d")])))
        assert got == {
            ("a", "c"): (1, 0.5, round(1.0 / math.log(2), 6)),
            ("b", "d"): (1, 0.5, round(1.0 / math.log(2), 6)),
        }

    def test_adjacent_pairs_excluded(self, spark):
        tri = [("a", "b"), ("b", "c"), ("a", "c")]
        assert _got(link_predict(_edges(spark, tri))) == {}

    def test_square_opposite_corners(self, spark):
        sq = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")]
        got = _got(link_predict(_edges(spark, sq)))
        aa = round(float(2 * Decimal(str(round(1.0 / math.log(2), 9)))), 6)
        assert got == {("a", "c"): (2, 1.0, aa), ("b", "d"): (2, 1.0, aa)}

    def test_max_degree_excludes_hub_centers(self, spark):
        star = [("z", f"l{i}") for i in range(4)]
        assert _got(link_predict(_edges(spark, star), max_degree=3)) == {}
        # at max_degree=4 the hub is a valid wedge center again
        got = _got(link_predict(_edges(spark, star), max_degree=4))
        assert len(got) == 6 and all(v[0] == 1 for v in got.values())

    def test_min_common_threshold(self, spark):
        # (a,c) share only b; square corners share two
        pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"),
                 ("d", "e"), ("e", "f")]
        got = _got(link_predict(_edges(spark, pairs), min_common=2))
        assert set(got) == {("a", "c"), ("b", "d")}

    def test_duplicate_and_reversed_edges_collapse(self, spark):
        noisy = [("a", "b"), ("b", "a"), ("a", "b"), ("b", "c"), ("c", "b")]
        clean = [("a", "b"), ("b", "c")]
        assert _got(link_predict(_edges(spark, noisy))) == \
            _got(link_predict(_edges(spark, clean)))

    def test_matches_naive_random(self, spark):
        import random

        rng = random.Random(23)
        nodes = [f"n{i}" for i in range(12)]
        pairs = list({
            tuple(sorted((rng.choice(nodes), rng.choice(nodes))))
            for _ in range(30)
        })
        for md, mc in ((10_000, 1), (4, 1), (10_000, 2)):
            assert _got(link_predict(
                _edges(spark, pairs), max_degree=md, min_common=mc)) == \
                _naive(pairs, max_degree=md, min_common=mc), (md, mc)


def test_link_predict_and_triangles_local_match_distributed(
        spark, set_fastpath_cap):
    import random

    from rdf_spark.ops.graph import link_predict, triangle_count

    rng = random.Random(17)
    pairs = list({tuple(sorted((f"h{rng.randrange(20)}",
                                f"h{rng.randrange(20)}")))
                  for _ in range(60)})
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "a string, b string")

    def runs():
        return [
            sorted(tuple(r) for r in triangle_count(df).collect()),
            sorted(tuple(r) for r in link_predict(df).collect()),
            sorted(tuple(r) for r in
                   link_predict(df, max_degree=3, min_common=2).collect()),
        ]

    fast = runs()
    set_fastpath_cap(0)
    slow = runs()
    assert fast == slow
