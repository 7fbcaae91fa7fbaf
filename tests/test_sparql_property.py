"""Differential property test for SPARQL property paths: the compiled
plans (fresh-var sequence rewriting, IN-list alternation, endpoint-swap
inverses, fixpoint closures) vs a 20-line naive Python evaluator over
random graphs.  Multiset semantics for sequences (SPARQL: a non-closure
path is exactly its triple-pattern expansion, so duplicate derivations
through different intermediates are REAL duplicate solutions); set
semantics for closures."""

import random

import pytest

from rdf_spark.sparql import sparql_select

SUBJECTS = [f"urn:s{i}" for i in range(6)]
PREDS = [f"urn:p{i}" for i in range(4)]
LITS = [f"lit{i}" for i in range(3)]


def _random_graph(rng: random.Random, n: int):
    triples = set()
    while len(triples) < n:
        s = rng.choice(SUBJECTS)
        p = rng.choice(PREDS)
        o = rng.choice(SUBJECTS + LITS)
        triples.add((s, p, o))
    return sorted(triples)


def _hops(triples, preds, inv):
    """One segment's (from, to) pairs (multiset)."""
    out = []
    for s, p, o in triples:
        if p in preds:
            out.append((o, s) if inv else (s, o))
    return out


def _eval_seq(triples, segs):
    """Chain segments: list of (a, b) WITH multiplicity."""
    chains = None
    for preds, inv in segs:
        hop = _hops(triples, preds, inv)
        if chains is None:
            chains = hop
        else:
            chains = [(a, d) for a, b in chains for c, d in hop if b == c]
    return chains


def _reach(triples, pred, start):
    """BFS transitive closure (≥1 step) from one anchor."""
    adj = {}
    for s, p, o in triples:
        if p == pred:
            adj.setdefault(s, set()).add(o)
    seen, frontier = set(), {start}
    while frontier:
        nxt = set()
        for n in frontier:
            nxt |= adj.get(n, set())
        frontier = nxt - seen
        seen |= nxt
    return seen


def _seg_str(preds, inv):
    mark = "^" if inv else ""
    return "|".join(f"{mark}<{p}>" for p in preds)


@pytest.fixture(scope="module")
def rng():
    return random.Random(42)


def test_path_compiler_matches_naive_evaluator(spark, rng):
    for case in range(25):
        triples = _random_graph(rng, rng.randint(8, 25))
        df = spark.createDataFrame(triples, "s string, p string, o string")
        n_segs = rng.randint(1, 3)
        segs = []
        for _ in range(n_segs):
            # alternation only as a whole single-segment path (grammar
            # rejects '|' inside '/'); inside sequences use single preds
            n_alts = rng.randint(1, 3) if n_segs == 1 else 1
            preds = rng.sample(PREDS, n_alts)
            segs.append((preds, rng.random() < 0.4))
        if n_segs == 1:
            path = _seg_str(*segs[0])
        else:
            path = "/".join(_seg_str(*s) for s in segs)
        q = f"SELECT ?a ?b WHERE {{ ?a {path} ?b }}"
        got = sorted(tuple(r) for r in sparql_select(df, q).collect())
        want = sorted(_eval_seq(triples, segs))
        assert got == want, f"case {case}: path {path!r}\n{got}\nvs\n{want}"


def test_closure_matches_bfs(spark, rng, cases=8):
    for case in range(cases):
        triples = _random_graph(rng, rng.randint(10, 25))
        df = spark.createDataFrame(triples, "s string, p string, o string")
        pred = rng.choice(PREDS)
        anchor = rng.choice(SUBJECTS)
        want = _reach(triples, pred, anchor)

        got = {r.x for r in sparql_select(
            df, f"SELECT ?x WHERE {{ <{anchor}> <{pred}>+ ?x }}"
        ).collect()}
        assert got == want, f"case {case}: {pred}+ from {anchor}"
        # star adds the anchor itself
        got_star = {r.x for r in sparql_select(
            df, f"SELECT ?x WHERE {{ <{anchor}> <{pred}>* ?x }}"
        ).collect()}
        assert got_star == want | {anchor}
        # inverse closure ≡ reversed-edge reachability
        rev = [(o, p, s) for s, p, o in triples]
        want_inv = _reach(rev, pred, anchor)
        got_inv = {r.x for r in sparql_select(
            df, f"SELECT ?x WHERE {{ <{anchor}> ^<{pred}>+ ?x }}"
        ).collect()}
        assert got_inv == want_inv, f"case {case}: ^{pred}+ from {anchor}"


# --- round-5: grouped / compound / unanchored paths ---------------------


def _naive_path(triples, node):
    """Bag-semantics pair evaluation of a path AST (the compiler's node
    grammar); closures are sets per SPARQL §9.1."""
    tag = node[0]
    if tag == "pred":
        return [(s, o) for s, p, o in triples if p == node[1]]
    if tag == "ipred":
        return [(o, s) for s, p, o in triples if p == node[1]]
    if tag == "nps":
        return [(s, o) for s, p, o in triples if p not in node[1]]
    if tag == "alt":
        return [x for k in node[1] for x in _naive_path(triples, k)]
    if tag == "seq":
        cur = _naive_path(triples, node[1][0])
        for k in node[1][1:]:
            hop = _naive_path(triples, k)
            cur = [(a, d) for a, b in cur for c, d in hop if b == c]
        return cur
    if tag == "closure":
        result = set(_naive_path(triples, node[1]))
        if node[2] != "?":  # ZeroOrOnePath keeps DIRECT pairs only
            while True:
                new = {(a, d) for a, b in result for c, d in result if b == c} - result
                if not new:
                    break
                result |= new
        if node[2] in ("*", "?"):
            nodes = {s for s, _, _ in triples} | {o for _, _, o in triples}
            result |= {(n, n) for n in nodes}
        return sorted(result)
    raise AssertionError(tag)


def _render_path(node, top=False):
    tag = node[0]
    if tag == "pred":
        return f"<{node[1]}>"
    if tag == "ipred":
        return f"^<{node[1]}>"
    if tag == "nps":
        return "!(" + "|".join(f"<{p}>" for p in node[1]) + ")"
    if tag == "alt":
        s = "|".join(_render_path(k) for k in node[1])
        return s if top else f"({s})"
    if tag == "seq":
        s = "/".join(_render_path(k) for k in node[1])
        return s if top else f"({s})"
    if tag == "closure":
        return f"({_render_path(node[1])}){node[2]}"
    raise AssertionError(tag)


def _random_path(rng, depth):
    roll = rng.random()
    if depth <= 0 or roll < 0.35:
        kind = rng.random()
        if kind < 0.45:
            return ("pred", rng.choice(PREDS))
        if kind < 0.75:
            return ("ipred", rng.choice(PREDS))
        return ("nps", sorted(rng.sample(PREDS, rng.randint(1, 2))))
    if roll < 0.6:
        return ("alt", [_random_path(rng, depth - 1)
                        for _ in range(rng.randint(2, 3))])
    if roll < 0.85:
        return ("seq", [_random_path(rng, depth - 1)
                        for _ in range(rng.randint(2, 3))])
    return ("closure", _random_path(rng, depth - 1), rng.choice("+*?"))


def test_compound_paths_match_naive_evaluator(spark, rng, cases=20):
    for case in range(cases):
        triples = _random_graph(rng, rng.randint(8, 20))
        df = spark.createDataFrame(triples, "s string, p string, o string")
        node = _random_path(rng, 2)
        path = _render_path(node, top=True)
        q = f"SELECT ?a ?b WHERE {{ ?a {path} ?b }}"
        got = sorted((r.a, r.b) for r in sparql_select(df, q).collect())
        want = sorted(_naive_path(triples, node))
        assert got == want, f"case {case}: path {path!r}\n{got}\nvs\n{want}"


def test_anchored_compound_paths_match_naive(spark, rng, cases=10):
    for case in range(cases):
        triples = _random_graph(rng, rng.randint(8, 20))
        df = spark.createDataFrame(triples, "s string, p string, o string")
        node = ("closure", _random_path(rng, 1), rng.choice("+*?"))
        path = _render_path(node, top=True)
        anchor = rng.choice(SUBJECTS)
        pairs = _naive_path(triples, node)
        # a BOUND anchor always reaches itself on '*'/'?' (§18.4 lists
        # {(x,x)} for the bound case), even when the term is not a node
        # of the graph — the identity rows inside `pairs` only cover
        # graph nodes, so add the anchor explicitly
        zero = {anchor} if node[2] in ("*", "?") else set()
        got = sorted(r.x for r in sparql_select(
            df, f"SELECT ?x WHERE {{ <{anchor}> {path} ?x }}").collect())
        assert got == sorted({b for a, b in pairs if a == anchor} | zero), \
            f"case {case}: fwd {path!r} from {anchor}"
        got_rev = sorted(r.x for r in sparql_select(
            df, f"SELECT ?x WHERE {{ ?x {path} <{anchor}> }}").collect())
        assert got_rev == sorted({a for a, b in pairs if b == anchor} | zero), \
            f"case {case}: rev {path!r} to {anchor}"


def test_cyclic_same_var_path(spark, rng, cases=5):
    for case in range(cases):
        triples = _random_graph(rng, rng.randint(10, 22))
        df = spark.createDataFrame(triples, "s string, p string, o string")
        node = ("closure", ("alt", [("pred", PREDS[0]), ("pred", PREDS[1])]), "+")
        pairs = _naive_path(triples, node)
        got = sorted(r.a for r in sparql_select(
            df, f"SELECT ?a WHERE {{ ?a (<{PREDS[0]}>|<{PREDS[1]}>)+ ?a }}"
        ).collect())
        assert got == sorted(a for a, b in pairs if a == b), f"case {case}"


def test_paths_inside_blocks_match_naive(spark, rng):
    """Round-5 late: arbitrary paths (closures included) inside
    OPTIONAL / FILTER [NOT] EXISTS / MINUS vs naive semantics."""
    for case in range(8):
        triples = _random_graph(rng, rng.randint(8, 18))
        df = spark.createDataFrame(triples, "s string, p string, o string")
        node = _random_path(rng, 2)
        path = _render_path(node, top=True)
        pairs = _naive_path(triples, node)
        base = [(s, o) for s, p, o in triples if p == PREDS[0]]
        if not base:
            continue

        # OPTIONAL: left join on ?b; row per match, NULL when none
        got = sorted(
            ((r.a, r.c) for r in sparql_select(
                df, f"SELECT ?a ?c WHERE {{ ?a <{PREDS[0]}> ?b "
                    f"OPTIONAL {{ ?b {path} ?c }} }}").collect()),
            key=lambda t: (t[0], t[1] or ""))
        want = []
        for a, b in base:
            ms = [c for (x, c) in pairs if x == b]
            want += [(a, c) for c in ms] if ms else [(a, None)]
        want.sort(key=lambda t: (t[0], t[1] or ""))
        assert got == want, f"case {case} OPTIONAL {path!r}"

        # EXISTS / NOT EXISTS: semi/anti join on ?b
        starts = {x for x, _ in pairs}
        for kw, keep in (("EXISTS", True), ("NOT EXISTS", False)):
            got2 = sorted((r.a, r.b) for r in sparql_select(
                df, f"SELECT ?a ?b WHERE {{ ?a <{PREDS[0]}> ?b "
                    f"FILTER {kw} {{ ?b {path} ?x }} }}").collect())
            want2 = sorted(t for t in base if (t[1] in starts) == keep)
            assert got2 == want2, f"case {case} {kw} {path!r}"

        # MINUS on both shared vars: anti join against the pair set
        got3 = sorted((r.a, r.b) for r in sparql_select(
            df, f"SELECT ?a ?b WHERE {{ ?a <{PREDS[0]}> ?b "
                f"MINUS {{ ?a {path} ?b }} }}").collect())
        want3 = sorted(t for t in base if t not in set(pairs))
        assert got3 == want3, f"case {case} MINUS {path!r}"


def test_closure_paths_at_fastpath_cap(spark, fastpath_cap):
    """The closure suites above, fewer cases each, through both paths of
    the closures' driver fast path (ops.fastpath): the in-process BFS /
    closure at the default cap, the distributed BFS / iterative squaring
    at cap 0."""
    test_closure_matches_bfs(spark, random.Random(7), cases=2)
    test_compound_paths_match_naive_evaluator(spark, random.Random(8), cases=4)
    test_anchored_compound_paths_match_naive(spark, random.Random(9), cases=2)
    test_cyclic_same_var_path(spark, random.Random(10), cases=1)
