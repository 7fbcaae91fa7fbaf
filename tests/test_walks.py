"""ops/walks.py — deterministic random walks."""
import hashlib

import pytest

from rdf_spark.ops.walks import deterministic_walks, walk_sentences


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _naive_walks(pairs, walk_len, n_walks, starts=None):
    """Reference evaluator: the same md5 lottery in plain python."""
    adj: dict[str, set] = {}
    for s, d in pairs:
        adj.setdefault(s, set()).add(d)
    if starts is None:
        starts = sorted(adj)
    rows = []
    for start in starts:
        for w in range(n_walks):
            node = start
            rows.append((start, w, 0, node))
            for t in range(1, walk_len):
                nbrs = adj.get(node)
                if not nbrs:
                    break
                node = min(
                    nbrs,
                    key=lambda v: (
                        hashlib.md5(
                            f"{start}|{w}|{t}|{v}".encode()
                        ).hexdigest(),
                        v,
                    ),
                )
                rows.append((start, w, t, node))
    return sorted(rows)


class TestWalks:
    PAIRS = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("b", "a"),
        ("c", "a"), ("c", "d"), ("d", "a"), ("d", "b"), ("d", "c"),
    ]

    def test_matches_naive_evaluator(self, spark):
        got = sorted(map(tuple, deterministic_walks(
            _edges(spark, self.PAIRS), walk_len=5, n_walks=3,
        ).collect()))
        assert got == _naive_walks(self.PAIRS, 5, 3)

    def test_partitioning_invariant(self, spark):
        e1 = _edges(spark, self.PAIRS).repartition(1)
        e7 = _edges(spark, self.PAIRS).repartition(7)
        a = sorted(map(tuple, deterministic_walks(
            e1, walk_len=4, n_walks=2).collect()))
        b = sorted(map(tuple, deterministic_walks(
            e7, walk_len=4, n_walks=2).collect()))
        assert a == b

    def test_dead_end_stops_early(self, spark):
        pairs = [("a", "b"), ("b", "sink")]
        rows = deterministic_walks(
            _edges(spark, pairs), walk_len=5).collect()
        a_walk = sorted(
            (r.step, r.node) for r in rows if r.start == "a")
        assert a_walk == [(0, "a"), (1, "b"), (2, "sink")]

    def test_duplicate_edges_no_effect(self, spark):
        got = sorted(map(tuple, deterministic_walks(
            _edges(spark, self.PAIRS * 3), walk_len=4, n_walks=2,
        ).collect()))
        assert got == _naive_walks(self.PAIRS, 4, 2)

    def test_explicit_starts(self, spark):
        starts = spark.createDataFrame([("a",)], "n string")
        rows = deterministic_walks(
            _edges(spark, self.PAIRS), walk_len=3, starts=starts,
        ).collect()
        assert {r.start for r in rows} == {"a"}

    def test_sentences(self, spark):
        w = deterministic_walks(_edges(spark, self.PAIRS), walk_len=3)
        sents = {(r.start, r.walk): r.sentence
                 for r in walk_sentences(w).collect()}
        naive = _naive_walks(self.PAIRS, 3, 1)
        for (start, wk), s in sents.items():
            expect = " ".join(
                n for (st, ww, _, n) in naive
                if st == start and ww == wk)
            assert s == expect

    def test_validation(self, spark):
        e = _edges(spark, self.PAIRS)
        with pytest.raises(ValueError):
            deterministic_walks(e, walk_len=0)
        with pytest.raises(ValueError):
            deterministic_walks(e, walk_len=2, n_walks=0)


def test_walks_local_matches_distributed(spark, set_fastpath_cap):
    import random

    from rdf_spark.ops.walks import deterministic_walks

    rng = random.Random(9)
    pairs = [(f"w{rng.randrange(15)}", f"w{rng.randrange(15)}")
             for _ in range(40)]
    df = spark.createDataFrame(pairs, "src string, dst string")
    # explicit starts WITH a duplicate row (step-0 duplication semantics)
    starts = spark.createDataFrame([("w1",), ("w2",), ("w1",)], "s string")

    def runs():
        return [
            sorted(tuple(r) for r in
                   deterministic_walks(df, walk_len=5, n_walks=2).collect()),
            sorted(tuple(r) for r in
                   deterministic_walks(df, walk_len=4, starts=starts)
                   .collect()),
        ]

    fast = runs()
    set_fastpath_cap(0)
    slow = runs()
    assert fast == slow
