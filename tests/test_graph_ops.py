"""Graph-accessor tests over a pipeline-built store."""

import pytest

from pyspark.sql import functions as F

from rdf_spark import datagen, pipeline
from rdf_spark.ops import graph


def _store(spark):
    got, _ = pipeline.build_shard_triples(datagen.pages(spark, 100), datagen.aliases(spark))
    return got


def test_type_histogram(spark):
    th = {r.type: r.n for r in graph.type_histogram(_store(spark)).collect()}
    # ~1/41 of pages carry a malformed (quarantined) RDF block
    assert set(th) == {"http://kg.example/vocab#Product"}
    assert 90 <= th["http://kg.example/vocab#Product"] <= 100


def test_property_table(spark):
    EX = "http://kg.example/vocab#"
    pt = graph.property_table(
        _store(spark), {"name": EX + "name", "price": EX + "price"}
    )
    rows = pt.collect()
    assert 90 <= len(rows) <= 100
    assert all(r.name.startswith("Item ") and "." in r.price for r in rows)


def test_k_hop_and_describe(spark):
    store = _store(spark)
    start = store.filter(F.col("p").endswith("#tag")).first()
    # product --tag--> bnode --label--> literal: 1 hop reaches the bnode
    hop1 = {r.node for r in graph.k_hop_neighbors(store, [start.s], k=1).collect()}
    assert start.o in hop1
    desc = graph.describe(store, start.o)
    preds = {r.p for r in desc.collect()}
    assert "http://kg.example/vocab#label" in preds  # as subject
    assert "http://kg.example/vocab#tag" in preds  # as object


def test_k_hop_fixpoint_hub_graph(spark):
    """Hub blowup: the frontier exceeds the broadcast cap, so the hop must
    run as a shuffle join (no driver/broadcast OOM path), and the BFS must
    early-exit at the fixpoint before exhausting k."""
    n_leaves = 20_000
    hub_edges = spark.range(n_leaves).select(
        F.lit("n:hub").alias("s"),
        F.lit(1).cast("tinyint").alias("s_kind"),
        F.lit("n:p").alias("p"),
        F.concat(F.lit("n:leaf"), F.col("id")).alias("o"),
        F.lit(1).cast("tinyint").alias("o_kind"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    )
    start_edge = spark.createDataFrame(
        [("n:start", 1, "n:p", "n:hub", 1, None, None)],
        "s string, s_kind tinyint, p string, o string, o_kind tinyint, "
        "o_datatype string, o_lang string",
    )
    triples = hub_edges.unionByName(start_edge)
    got = graph.k_hop_neighbors(
        triples, ["n:start"], k=5, broadcast_max_rows=100
    )
    # fixpoint reached at hop 2; visited = start + hub + all leaves
    assert got.count() == 2 + n_leaves


def test_k_hop_unreachable_and_cycle(spark):
    triples = spark.createDataFrame(
        [("n:a", 1, "n:p", "n:b", 1, None, None),
         ("n:b", 1, "n:p", "n:a", 1, None, None),   # cycle
         ("n:x", 1, "n:p", "n:y", 1, None, None)],  # disconnected
        "s string, s_kind tinyint, p string, o string, o_kind tinyint, "
        "o_datatype string, o_lang string",
    )
    got = {r.node for r in graph.k_hop_neighbors(triples, ["n:a"], k=10).collect()}
    assert got == {"n:a", "n:b"}


def test_k_hop_duplicate_seeds(spark):
    triples = spark.createDataFrame(
        [("n:a", 1, "n:p", "n:b", 1, None, None)],
        "s string, s_kind tinyint, p string, o string, o_kind tinyint, "
        "o_datatype string, o_lang string",
    )
    got = [r.node for r in graph.k_hop_neighbors(triples, ["n:a", "n:a"], k=1).collect()]
    assert sorted(got) == ["n:a", "n:b"]  # seed deduped


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress to the min representative
    return {n: find(n) for n in parent}


def test_connected_components_differential(spark):
    """Random graphs vs a driver-side union-find oracle."""
    import random

    rng = random.Random(11)
    for trial in range(3):
        n = 200
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "a long, b long")
        got = {r.node: r.comp for r in graph.connected_components(df).collect()}
        want = _uf_components(edges)
        # normalize: union-find min-rep == min-label propagation rep
        assert got == want, trial


def test_connected_components_chain_and_star(spark):
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13)]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r.node: r.comp for r in graph.connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 13: 10}


def test_near_dup_clusters(spark):
    from rdf_spark.ops import dedup

    rows = [(i, f"unique document number {i} with its own words {i*7}") for i in range(20)]
    # docs 0-3 share identical text -> one cluster with rep 0
    for i in range(4):
        rows[i] = (i, "identical boilerplate text appearing many times here")
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.cluster for r in dedup.near_dup_clusters(df, threshold=0.9).collect()}
    assert all(got[i] == 0 for i in range(4))
    assert all(got[i] == i for i in range(4, 20))  # singletons keep their id


def _bgp_triples(spark):
    rows = [
        ("u:alice", 1, "rdf:type", "u:Person", 1, None, None),
        ("u:bob", 1, "rdf:type", "u:Person", 1, None, None),
        ("u:acme", 1, "rdf:type", "u:Org", 1, None, None),
        ("u:alice", 1, "u:knows", "u:bob", 1, None, None),
        ("u:alice", 1, "u:worksFor", "u:acme", 1, None, None),
        ("u:bob", 1, "u:worksFor", "u:acme", 1, None, None),
        ("u:alice", 1, "u:name", "Alice", 2, None, None),
        ("u:bob", 1, "u:name", "Bob", 2, None, None),
        ("u:self", 1, "u:sameAs", "u:self", 1, None, None),
    ]
    return spark.createDataFrame(
        rows,
        "s string, s_kind tinyint, p string, o string, o_kind tinyint, "
        "o_datatype string, o_lang string",
    )


def test_bgp_match_joins(spark):
    t = _bgp_triples(spark)
    # who knows whom, with names: 3-pattern join on shared variables
    got = {
        (r.an, r.bn)
        for r in graph.bgp_match(t, [
            ("?a", "u:knows", "?b"),
            ("?a", "u:name", "?an"),
            ("?b", "u:name", "?bn"),
        ]).collect()
    }
    assert got == {("Alice", "Bob")}
    # colleagues at the same org (self-pairs included; filter afterwards)
    pairs = {
        (r.x, r.y)
        for r in graph.bgp_match(t, [
            ("?x", "u:worksFor", "?org"),
            ("?y", "u:worksFor", "?org"),
        ]).collect()
    }
    assert ("u:alice", "u:bob") in pairs and ("u:bob", "u:alice") in pairs


def test_bgp_match_constant_and_repeated_var(spark):
    t = _bgp_triples(spark)
    # all-constant pattern acts as EXISTS (no row multiplication)
    people = graph.bgp_match(t, [
        ("?p", "rdf:type", "u:Person"),
        ("u:acme", "rdf:type", "u:Org"),
    ])
    assert sorted(r.p for r in people.collect()) == ["u:alice", "u:bob"]
    # absent constant pattern -> empty result
    none = graph.bgp_match(t, [
        ("?p", "rdf:type", "u:Person"),
        ("u:ghost", "rdf:type", "u:Org"),
    ])
    assert none.count() == 0
    # repeated variable within one pattern: reflexive edges only
    selfs = graph.bgp_match(t, [("?n", "u:sameAs", "?n")])
    assert [r.n for r in selfs.collect()] == ["u:self"]


def test_bgp_underscore_variable_names(spark):
    """Review fix: ?x and ?x_y must not alias each other's columns."""
    t = _bgp_triples(spark)
    got = {
        (r.x_y, r.x, r.nm)
        for r in graph.bgp_match(t, [
            ("?x_y", "u:knows", "?x"),
            ("?x", "u:name", "?nm"),
        ]).collect()
    }
    assert got == {("u:alice", "u:bob", "Bob")}


def test_connected_components_nonconvergence_raises(spark):
    import pytest as _pytest

    chain = spark.createDataFrame([(i, i + 1) for i in range(30)], "a long, b long")
    with _pytest.raises(RuntimeError, match="converge"):
        graph.connected_components(chain, max_iter=3)
    # and with enough rounds it converges to one component
    got = {r.comp for r in graph.connected_components(chain, max_iter=40).collect()}
    assert got == {0}


def test_connected_components_star_differential(spark, set_fastpath_cap):
    """large-star/small-star vs the same union-find oracle, plus a long
    chain (diameter ≫ rounds) that label propagation cannot finish.
    Runs the DISTRIBUTED algorithm (cap forced to 0); the driver fast
    path is covered by test_connected_components_fast_path_equivalence."""
    import random

    set_fastpath_cap(0)
    rng = random.Random(23)
    for trial in range(2):
        n = 150
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(100)]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "a long, b long")
        got = {r.node: r.comp for r in graph.connected_components_star(df).collect()}
        assert got == _uf_components(edges), trial

    # 400-node chain: O(log n) rounds, where label propagation would need 400
    chain = spark.createDataFrame([(i, i + 1) for i in range(400)], "a long, b long")
    got = {r.comp for r in graph.connected_components_star(chain, max_iter=25).collect()}
    assert got == {0}

    # non-convergence raises (the round bound is a distributed-runaway guard)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="converge"):
        graph.connected_components_star(chain, max_iter=2)

    # self-loop-only nodes stay visible as singleton components
    loops = spark.createDataFrame([(5, 5), (1, 2)], "a long, b long")
    comp = {r.node: r.comp for r in graph.connected_components_star(loops).collect()}
    assert comp == {5: 5, 1: 1, 2: 1}


def test_iterative_fast_paths_match_distributed(spark, set_fastpath_cap):
    """Driver replicas of k_core / label_propagation / shortest_paths
    ≡ the distributed round schedules (values AND dtypes)."""
    import random

    rng = random.Random(11)
    pairs = list({(rng.randrange(40), rng.randrange(40)) for _ in range(90)})
    df = spark.createDataFrame(pairs, "a long, b long")
    wdf = spark.createDataFrame(
        [(a, b, (a + b) % 7) for a, b in pairs], "src long, dst long, w long"
    )
    srcs = spark.createDataFrame([(0,), (1,)], "s long")

    def runs():
        return [
            sorted((r[0], r[1]) for r in graph.k_core(df, k=3)
                   .select("node", "node").collect()),
            sorted((r[0], r[1]) for r in
                   graph.label_propagation(df, n_iter=4).collect()),
            sorted((r[0], r[1]) for r in
                   graph.shortest_paths(wdf, srcs, weight_col="w").collect()),
        ]

    fast = runs()
    set_fastpath_cap(0)
    slow = runs()
    assert fast == slow

    # decimal weights: exact sums on both paths
    from decimal import Decimal

    wdec = spark.createDataFrame(
        [("a", "b", Decimal("0.50")), ("b", "c", Decimal("0.25")),
         ("a", "c", Decimal("1.00"))],
        "src string, dst string, w decimal(10,2)",
    )
    sdec = spark.createDataFrame([("a",)], "s string")
    slow_d = {(r.node, r.dist) for r in
              graph.shortest_paths(wdec, sdec, weight_col="w").collect()}
    set_fastpath_cap(None)
    fast_d = {(r.node, r.dist) for r in
              graph.shortest_paths(wdec, sdec, weight_col="w").collect()}
    assert fast_d == slow_d == {("a", Decimal("0")), ("b", Decimal("0.5")),
                                ("c", Decimal("0.75"))}


def test_connected_components_fast_path_equivalence(spark, set_fastpath_cap):
    """Driver fast path ≡ distributed path for both CC variants, on a
    random graph plus the edge cases the SQL semantics make tricky:
    self-loops, null endpoints, and singleton coverage."""
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    cases = [
        ("a long, b long", edges + [(9, 9)]),
        ("a string, b string", [("a", "b"), ("c", "c"), (None, "d"),
                                ("e", None), (None, None)]),
    ]
    for ddl, pairs in cases:
        df = spark.createDataFrame(pairs, ddl)
        for fn in (graph.connected_components_star,
                   graph.connected_components):
            fast = fn(df)
            fast_rows = {(r[0], r[1]) for r in fast.collect()}
            set_fastpath_cap(0)
            slow = fn(df)
            slow_rows = {(r[0], r[1]) for r in slow.collect()}
            set_fastpath_cap(None)
            assert fast_rows == slow_rows, (ddl, fn.__name__)
            assert [f.dataType for f in fast.schema.fields] == \
                [f.dataType for f in slow.schema.fields], (ddl, fn.__name__)


# ---------------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------------


def test_pagerank_uniform_on_ring(spark):
    from rdf_spark.ops.graph import pagerank

    # directed ring: perfect symmetry → every node keeps rank 1/N forever
    n = 12
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src int, dst int"
    )
    ranks = {r.node: r.rank for r in pagerank(edges, n_iter=5).collect()}
    assert len(ranks) == n
    for v in ranks.values():
        assert v == pytest.approx(1 / n, abs=1e-9)


def test_pagerank_star_center_dominates(spark):
    from rdf_spark.ops.graph import pagerank

    # spokes → center: center accumulates, spokes fall to the damped base
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 9)], "src int, dst int"
    )
    ranks = {r.node: r.rank for r in pagerank(edges, n_iter=10).collect()}
    assert ranks[0] > max(v for k, v in ranks.items() if k != 0) * 5
    # spokes have no in-edges: exactly the damped base after iteration 1
    assert ranks[1] == pytest.approx(0.15 / 9, abs=1e-9)
    # total mass ≤ 1 (dangling center leaks, documented)
    assert sum(ranks.values()) <= 1.0 + 1e-9


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from rdf_spark.ops.graph import pagerank

    rng = [(i, (i * 5 + 3) % 37) for i in range(37)] + [
        (i, (i * 11 + 1) % 37) for i in range(0, 37, 2)
    ]
    edges = spark.createDataFrame(rng, "src int, dst int")
    got = {r.node: r.rank for r in pagerank(edges, n_iter=8).collect()}

    nodes = sorted({s for s, _ in rng} | {d for _, d in rng})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for s, _ in rng:
        out_deg[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(8):
        nxt = np.full(n, (1.0 - 0.85) / n)
        contrib = np.zeros(n)
        for s, d in rng:
            contrib[idx[d]] += round(r[idx[s]] / out_deg[idx[s]], 14)
        nxt += 0.85 * contrib
        r = np.round(nxt, 12)
    for v in nodes:
        assert got[v] == pytest.approx(r[idx[v]], abs=1e-9)


def test_pagerank_partitioning_invariant(spark):
    from rdf_spark.ops.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 20) for i in range(20)], "src int, dst int"
    )
    a = sorted((r.node, r.rank) for r in pagerank(edges, n_iter=4).collect())
    b = sorted(
        (r.node, r.rank)
        for r in pagerank(edges.repartition(13), n_iter=4).collect()
    )
    assert a == b  # exact, thanks to the decimal-sum schedule


def test_hits_fixed_point_and_l1_norm(spark):
    from rdf_spark.ops.graph import hits

    # d → p1..p3 → t: hand-computed fixed point — t is the sole top
    # authority (0.5), d and the p's tie as hubs (0.25 each), d has no
    # in-links (authority 0), t no out-links (hub 0)
    edges = spark.createDataFrame(
        [("d", "p1"), ("d", "p2"), ("d", "p3"),
         ("p1", "t"), ("p2", "t"), ("p3", "t")],
        "src string, dst string")
    out = {r.node: (r.hub, r.authority)
           for r in hits(edges, n_iter=3).collect()}
    assert out["t"] == (0.0, 0.5)
    assert out["d"] == (0.25, 0.0)
    assert out["p1"] == (0.25, round(1 / 6, 12))
    assert abs(sum(v[0] for v in out.values()) - 1.0) < 1e-9
    assert abs(sum(v[1] for v in out.values()) - 1.0) < 1e-9
    # partitioning invariance (decimal sums + single-IEEE-op updates)
    again = {r.node: (r.hub, r.authority)
             for r in hits(edges.repartition(7), n_iter=3).collect()}
    assert again == out


def test_hits_separates_hub_from_authority(spark):
    from rdf_spark.ops.graph import hits

    # a directory that links to ALL authorities, which each link to one
    # popular page the directory does not link to: hub and authority
    # rankings must differ (pagerank would conflate them)
    edges = [("dir", f"a{i}") for i in range(5)]
    edges += [(f"a{i}", "pop") for i in range(5)]
    edges += [("pop", "a0")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {r.node: (r.hub, r.authority) for r in hits(df, n_iter=4).collect()}
    top_hub = max(out, key=lambda k: out[k][0])
    top_auth = max(out, key=lambda k: out[k][1])
    assert top_auth == "pop" and top_hub != "pop"


def test_kg_construct_job_link_rank(spark, tmp_path):
    import io
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "jobs")
    import kg_construct_job

    html = ('<a href="https://hub.example/x">h</a>'
            "<p>About Ada Lovelace.</p>")
    rows = [(f"https://s{i % 3}.example/p/{i}", None, html.encode(),
             None, "en") for i in range(9)]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    src = str(tmp_path / "pages")
    pages.write.parquet(src)
    out = str(tmp_path / "out")
    lr = str(tmp_path / "rank")
    with redirect_stdout(io.StringIO()):
        rc = kg_construct_job.main(
            ["--pages", src, "--out", out, "--shards", "1",
             "--buckets", "2", "--link-rank", lr])
    assert rc == 0
    scores = spark.read.parquet(lr)
    assert set(scores.columns) == {"host", "rank", "hub", "authority"}
    by_host = {r.host: r for r in scores.collect()}
    # every source host links only to hub.example: it is the sole
    # authority and the top-ranked node
    assert by_host["hub.example"].authority == 1.0
    assert by_host["hub.example"].rank == max(r.rank for r in by_host.values())


def test_kg_construct_job_link_scc(spark, tmp_path):
    import io
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "jobs")
    import kg_construct_job

    # a.example <-> b.example mutual ring; c.example only links in
    def page(host, target):
        html = (f'<a href="https://{target}/x">l</a>'
                "<p>About Ada Lovelace.</p>")
        return (f"https://{host}/p", None, html.encode(), None, "en")

    pages = spark.createDataFrame(
        [page("a.example", "b.example"),
         page("b.example", "a.example"),
         page("c.example", "a.example")],
        "url string, warc_ts timestamp, html binary, "
        "text string, lang string")
    src = str(tmp_path / "pages_scc")
    pages.write.parquet(src)
    out = str(tmp_path / "out_scc")
    scc_dir = str(tmp_path / "scc")
    with redirect_stdout(io.StringIO()):
        rc = kg_construct_job.main(
            ["--pages", src, "--out", out, "--shards", "1",
             "--buckets", "2", "--link-scc", scc_dir])
    assert rc == 0
    got = {r.host: r.scc for r in spark.read.parquet(scc_dir).collect()}
    assert got == {"a.example": "a.example", "b.example": "a.example",
                   "c.example": "c.example"}


def test_rank_fast_paths_match_distributed(spark, set_fastpath_cap):
    """pagerank / personalized_pagerank / hits driver replicas must be
    BIT-identical to the distributed decimal-exact schedules."""
    import random

    rng = random.Random(5)
    pairs = [(f"n{rng.randrange(25)}", f"n{rng.randrange(25)}")
             for _ in range(120)]  # duplicates kept: multi-edge semantics
    df = spark.createDataFrame(pairs, "src string, dst string")

    def runs():
        return [
            sorted(tuple(r) for r in graph.pagerank(df).collect()),
            sorted(tuple(r) for r in graph.personalized_pagerank(
                df, seeds=["n1", "n3"]).collect()),
            sorted(tuple(r) for r in graph.hits(df).collect()),
        ]

    fast = runs()
    set_fastpath_cap(0)
    slow = runs()
    assert fast == slow


def test_hits_null_endpoints_match_distributed(spark, set_fastpath_cap):
    """A null endpoint's contribution joins the null GROUP (it inflates
    the L1 total) but never a node row, and the final inner joins drop
    the null node — the local replica must reproduce all three."""
    df = spark.createDataFrame(
        [("a", "b"), ("a", None), (None, "b"), ("b", "a")],
        "src string, dst string")
    fast = sorted(tuple(r) for r in graph.hits(df).collect())
    set_fastpath_cap(0)
    slow = sorted(tuple(r) for r in graph.hits(df).collect())
    assert fast == slow
    assert {r[0] for r in fast} == {"a", "b"}


def test_hits_all_null_side_matches_distributed(spark, set_fastpath_cap):
    """All-null-src (and all-null-dst) edge slices: the distributed
    plan yields null scores; the replica must propagate them instead of
    crashing on Decimal(repr(None))."""
    for rows in ([(None, "b")], [("a", None), ("c", None)]):
        df = spark.createDataFrame(rows, "src string, dst string")
        fast = sorted(tuple(r) for r in graph.hits(df, n_iter=2).collect())
        set_fastpath_cap(0)
        slow = sorted(tuple(r) for r in graph.hits(df, n_iter=2).collect())
        set_fastpath_cap(None)
        assert fast == slow, rows
