"""Strongly connected components (ops/graph.py::strongly_connected_components)
vs a Tarjan reference."""
import pytest

from rdf_spark.ops.graph import strongly_connected_components


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _got(df):
    return {r.node: r.scc for r in df.collect()}


def _tarjan(pairs):
    adj = {}
    nodes = set()
    for u, v in pairs:
        adj.setdefault(u, []).append(v)
        nodes.update((u, v))
    index = {}
    low = {}
    on_stack = set()
    stack = []
    out = {}
    counter = [0]

    def strongconnect(v):
        # iterative Tarjan (explicit stack) to dodge recursion limits
        work = [(v, 0)]
        while work:
            node, pi = work[-1]
            if pi == 0:
                index[node] = low[node] = counter[0]
                counter[0] += 1
                stack.append(node)
                on_stack.add(node)
            recurse = False
            succs = adj.get(node, [])
            for i in range(pi, len(succs)):
                w = succs[i]
                if w not in index:
                    work[-1] = (node, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in on_stack:
                    low[node] = min(low[node], index[w])
            if recurse:
                continue
            if low[node] == index[node]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == node:
                        break
                rep = min(comp)
                for w in comp:
                    out[w] = rep
            work.pop()
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[node])

    for n in sorted(nodes):
        if n not in index:
            strongconnect(n)
    return out


class TestScc:
    def test_cycle_and_tail(self, spark):
        pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "t")]
        got = _got(strongly_connected_components(_edges(spark, pairs)))
        assert got == {"a": "a", "b": "a", "c": "a", "t": "t"}

    def test_dag_is_all_singletons(self, spark):
        pairs = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
        got = _got(strongly_connected_components(_edges(spark, pairs)))
        assert got == {n: n for n in "abcd"}

    def test_two_cycles_joined_by_dag_edge(self, spark):
        pairs = [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x"),
                 ("a", "x")]
        got = _got(strongly_connected_components(_edges(spark, pairs)))
        assert got == {"a": "a", "b": "a", "x": "x", "y": "x"}

    def test_path_needs_phases(self, spark):
        # a pure path peels one root per phase — the documented worst case
        pairs = [(f"p{i}", f"p{i+1}") for i in range(5)]
        got = _got(strongly_connected_components(_edges(spark, pairs)))
        assert got == {f"p{i}": f"p{i}" for i in range(6)}

    def test_phase_bound_raises(self, spark, set_fastpath_cap):
        # the phase bound is a distributed-runaway guard: force the
        # distributed path (the driver fast path has no peel loop)
        set_fastpath_cap(0)
        pairs = [(f"p{i}", f"p{i+1}") for i in range(4)]
        with pytest.raises(RuntimeError):
            strongly_connected_components(_edges(spark, pairs),
                                          max_phases=2)

    # cap=0 forces the distributed coloring/peeling algorithm; the
    # default cap exercises the driver fast path — both must match Tarjan
    @pytest.mark.parametrize("seed", range(4))
    @pytest.mark.parametrize("cap", [0, None])
    def test_matches_tarjan_random(self, spark, seed, cap, set_fastpath_cap):
        import random

        set_fastpath_cap(cap)
        rng = random.Random(seed * 7 + 1)
        nodes = [f"n{i}" for i in range(10)]
        pairs = list({(rng.choice(nodes), rng.choice(nodes))
                      for _ in range(22)})
        pairs = [(u, v) for u, v in pairs if u != v]
        got = _got(strongly_connected_components(_edges(spark, pairs)))
        assert got == _tarjan(pairs), seed

    def test_null_endpoint_raises_like_distributed(self, spark):
        # a null node can never root or be marked: the distributed peel
        # exhausts max_phases and raises; the fast path must do the same
        df = spark.createDataFrame([("a", "b"), (None, "a")],
                                   "src string, dst string")
        with pytest.raises(RuntimeError, match="phases"):
            strongly_connected_components(df)

    def test_local_matches_distributed_with_self_loops(self, spark,
                                                       set_fastpath_cap):
        pairs = [("a", "b"), ("b", "a"), ("c", "c"), ("c", "d")]
        fast = _got(strongly_connected_components(_edges(spark, pairs)))
        set_fastpath_cap(0)
        slow = _got(strongly_connected_components(_edges(spark, pairs)))
        assert fast == slow == {"a": "a", "b": "a", "c": "c", "d": "d"}
