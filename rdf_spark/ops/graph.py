"""Graph accessors over the canonical triple store.

The reference stops at parse/serialize; a usable KG store needs the basic
read patterns, expressed as plain Catalyst plans so pruning/broadcast
apply:

* ``type_histogram``   — entity counts per rdf:type (one hash agg)
* ``property_table``   — subject × chosen predicates pivot (conditional
  aggregation, no Python)
* ``k_hop_neighbors``  — BFS frontier expansion via iterative self-join
  (frontier broadcast when small)
* ``describe``         — all triples where the IRI is subject or object
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rdf_spark.ops import fastpath
from rdf_spark.terms import RDF_TYPE


def type_histogram(triples: DataFrame) -> DataFrame:
    return (
        triples.filter(F.col("p") == RDF_TYPE)
        .groupBy(F.col("o").alias("type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def property_table(triples: DataFrame, predicates: dict[str, str]) -> DataFrame:
    """Pivot selected predicates into columns: one row per subject.

    ``predicates`` maps output column name → predicate IRI.  Compiles to a
    single partial+final hash aggregate (max of conditional projections);
    multi-valued predicates keep the max lexical value — use
    ``F.collect_set`` variants for set semantics.
    """
    wanted = list(predicates.items())
    aggs = [
        F.max(F.when(F.col("p") == iri, F.col("o"))).alias(name)
        for name, iri in wanted
    ]
    return (
        triples.filter(F.col("p").isin([iri for _, iri in wanted]))
        .groupBy("s")
        .agg(*aggs)
    )


def k_hop_neighbors(
    triples: DataFrame,
    start_iris: list[str],
    k: int = 2,
    broadcast_max_rows: int = 100_000,
) -> DataFrame:
    """IRIs/blanks reachable from ``start_iris`` in ≤ k forward hops.

    GraphFrames-style iterate-to-fixpoint BFS: the frontier and visited
    sets stay DataFrames end-to-end (never collected to the driver), each
    hop is one equi-join of the edge set against the frontier, and both
    sets are ``localCheckpoint``-ed per hop so the logical plan does not
    grow O(k) (lineage truncation is what makes deep / hub-heavy graphs
    viable).  The frontier join broadcasts only while the frontier is
    small (≤ ``broadcast_max_rows``); a hub-node blowup past that falls
    back to a shuffle hash join — no broadcast OOM.  Early-exits at the
    fixpoint (empty frontier).  The per-hop ``count()`` is inherent to
    BFS (each hop depends on the previous one), not a driver-side loop
    over data.
    """
    edges = triples.filter(F.col("o_kind") != 2).select(
        F.col("s").alias("src"), F.col("o").alias("dst")
    )
    spark = triples.sparkSession
    # dedup the seed driver-side: every later frontier is distinct and
    # disjoint from visited by construction, so unions never re-distinct
    seeds = sorted(set(start_iris))
    frontier = fastpath.local_frame(spark, [(i,) for i in seeds], "node string")
    visited = frontier.localCheckpoint(eager=True)
    frontier = visited
    n_frontier = len(seeds)
    for _ in range(k):
        if n_frontier == 0:
            break
        f = F.broadcast(frontier) if n_frontier <= broadcast_max_rows else frontier
        nxt = (
            edges.join(f, edges.src == f.node)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        frontier = nxt.join(visited, "node", "left_anti").localCheckpoint(eager=True)
        n_frontier = frontier.count()
        # frontier is distinct and disjoint from visited (anti-join), so
        # the union needs no extra distinct — one fewer shuffle per hop
        visited = visited.unionByName(frontier).localCheckpoint(eager=True)
    return visited


def describe(triples: DataFrame, iri: str) -> DataFrame:
    return triples.filter((F.col("s") == iri) | (F.col("o") == iri))


#: per triple column: (kind column, datatype column, lang column) used by
#: ``bgp_match(carry_meta=True)`` — predicates are always IRIs, so their
#: kind is a constant
_META_SRC = {
    "s": ("s_kind", None, None),
    "p": (None, None, None),
    "o": ("o_kind", "o_datatype", "o_lang"),
    "graph": ("graph_kind", None, None),
}
META_COLS = ("s_kind", "o_kind", "o_datatype", "o_lang")


def _bgp_pattern_vars(pat: tuple) -> set:
    return {
        t[1:] for t in pat
        if isinstance(t, str) and t.startswith("?")
    }


def _connected_order(patterns: list[tuple]) -> list[tuple]:
    """Greedy stable reorder keeping the join tree connected where
    possible: seed with the first pattern, then repeatedly take the
    EARLIEST remaining pattern sharing a variable with the bound set
    (falling back to the earliest pattern when the BGP is genuinely
    disconnected — that cross product is the query's semantics)."""
    if len(patterns) < 3:
        return patterns
    remaining = list(patterns)
    out = [remaining.pop(0)]
    bound = _bgp_pattern_vars(out[0])
    while remaining:
        pick = 0
        for j, pat in enumerate(remaining):
            if _bgp_pattern_vars(pat) & bound:
                pick = j
                break
        pat = remaining.pop(pick)
        out.append(pat)
        bound |= _bgp_pattern_vars(pat)
    return out


def bgp_match(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    distinct: bool = True,
    carry_meta: bool = False,
) -> DataFrame:
    """SPARQL-style basic-graph-pattern matching compiled to Catalyst
    equi-joins — the KG query shape the reference (a parser library with
    no query layer, SURVEY §2.5) leaves to us.

    ``patterns`` is a list of (s, p, o) triple patterns — or (s, p, o, g)
    QUAD patterns matched against the ``graph`` column (SPARQL GRAPH
    blocks over an N-Quads/TriG store); strings starting
    with ``?`` are variables, everything else is a constant matched
    against the lexical column — a TUPLE of constants matches any of
    them (``isin``, the compilation target of SPARQL path alternation
    ``p1|p2``) and a FROZENSET matches anything NOT in it (negated
    property sets ``!(p1|p2)``).  Each pattern becomes a filtered
    projection of the triple table; patterns join on their shared
    variables (plain equi-joins, so broadcast/AQE/reorder apply — a
    selective pattern's filter pushes into the scan).  Returns one column
    per variable.  Matching is on lexical forms; constrain kinds/datatypes
    by filtering the input first.

    With ``carry_meta=True`` (requires the canonical metadata columns
    :data:`META_COLS` on ``triples``) each variable additionally carries
    the term metadata of the triple that FIRST bound it, as stringly
    columns ``_meta_kind_{var}`` / ``_meta_dt_{var}`` / ``_meta_lang_{var}``
    — the row-level basis for SPARQL ``LANG()``/``DATATYPE()``.  Joins
    still match on lexical form only (the documented dialect), so when
    the same lexical occurs with different tags, each solution row keeps
    the tags of its own matched triple.
    """
    if not patterns:
        raise ValueError("empty basic graph pattern")
    if carry_meta:
        missing = [c for c in META_COLS if c not in triples.columns]
        if missing:
            raise ValueError(f"carry_meta needs metadata columns {missing}")
    else:
        # join-graph-aware greedy reorder: always join a pattern that
        # shares a variable with what is already bound, so a poorly
        # ordered BGP doesn't silently build an O(n^2)-row cross product
        # (the crossJoin below) when a connected order exists.  Stable:
        # an already-connected order is returned unchanged.  Skipped for
        # carry_meta (the "FIRST binding's metadata wins" contract is
        # defined over the written pattern order).
        patterns = _connected_order(patterns)
    out = None
    bound: set[str] = set()

    def _meta_aliases(v: str, c: str, i: int):
        kind_c, dt_c, lang_c = _META_SRC[c]
        if kind_c and kind_c not in triples.columns:
            kind_c = None  # e.g. graph without graph_kind → constant IRI
        kind = F.col(kind_c).cast("string") if kind_c else F.lit("1")  # IRI
        dt = F.col(dt_c) if dt_c else F.lit(None).cast("string")
        lang = F.col(lang_c) if lang_c else F.lit(None).cast("string")
        return [
            kind.alias(f"_mk_{v}_{i}"),
            dt.alias(f"_md_{v}_{i}"),
            lang.alias(f"_ml_{v}_{i}"),
        ]

    for i, pat in enumerate(patterns):
        ps, pp, po = pat[0], pat[1], pat[2]
        positions = [("s", ps), ("p", pp), ("o", po)]
        if len(pat) == 4:
            if "graph" not in triples.columns:
                raise ValueError(
                    "quad pattern needs a 'graph' column on the input"
                )
            positions.append(("graph", pat[3]))
        t = triples
        var_cols: dict[str, str] = {}  # var → triple column (first occurrence)
        for col, term in positions:
            if isinstance(term, frozenset):  # negated set !(p1|p2|…)
                t = t.filter(~F.col(col).isin(sorted(term)))
            elif isinstance(term, tuple):  # constant alternation (p1|p2|…)
                t = t.filter(F.col(col).isin(list(term)))
            elif term.startswith("?"):
                var = term[1:]
                if var in var_cols:  # repeated var within one pattern
                    t = t.filter(F.col(col) == F.col(var_cols[var]))
                else:
                    var_cols[var] = col
            else:
                t = t.filter(F.col(col) == term)
        if var_cols:
            sel = [F.col(c).alias(f"_v_{v}_{i}") for v, c in var_cols.items()]
            if carry_meta:
                for v, c in var_cols.items():
                    sel += _meta_aliases(v, c, i)
            part = t.select(*sel)
        else:
            # all-constant pattern: EXISTS semantics (one row or none)
            part = t.select(F.lit(1).alias(f"_m_{i}")).limit(1)
        if out is None:
            out = part
            new_vars = {c[3:].rsplit("_", 1)[0] for c in part.columns if c.startswith("_v_")}
        else:
            shared = []
            new_vars = set()
            for c in part.columns:
                if not c.startswith("_v_"):
                    continue
                var = c[3:].rsplit("_", 1)[0]
                if var in bound:
                    shared.append((var, c))
                else:
                    new_vars.add(var)
            cond = None
            for var, c in shared:
                eq = out[f"_v_{var}_bound"] == part[c]
                cond = eq if cond is None else (cond & eq)
            out = out.crossJoin(part) if cond is None else out.join(part, cond)
            for var, c in shared:
                out = out.drop(part[c])
                if carry_meta:  # first binding's metadata wins
                    for p in ("_mk", "_md", "_ml"):
                        out = out.drop(part[f"{p}_{var}_{i}"])
        # canonicalize newly-bound variable columns to a stable name;
        # exact source name _v_{var}_{i} — a prefix match would confuse
        # ?x with ?x_y
        for var in new_vars:
            out = out.withColumnRenamed(f"_v_{var}_{i}", f"_v_{var}_bound")
            if carry_meta:
                out = (
                    out.withColumnRenamed(f"_mk_{var}_{i}", f"_meta_kind_{var}")
                    .withColumnRenamed(f"_md_{var}_{i}", f"_meta_dt_{var}")
                    .withColumnRenamed(f"_ml_{var}_{i}", f"_meta_lang_{var}")
                )
        bound |= new_vars
    cols = [F.col(f"_v_{v}_bound").alias(v) for v in sorted(bound)]
    if carry_meta:
        for v in sorted(bound):
            cols += [F.col(f"_meta_{m}_{v}") for m in ("kind", "dt", "lang")]
    result = out.select(*cols)
    return result.distinct() if distinct else result


def _sorted_rows(rows):
    """Deterministic output order; None sorts LAST per column (never
    compared to a value — the tuple key short-circuits on the
    is-None flag)."""
    return sorted(rows, key=lambda t: tuple((x is None, x) for x in t))


def _coerced_type(df: DataFrame, a: str, b: str):
    """The coerced common type of two input columns (what greatest/
    least would produce) — no job, analysis only."""
    return df.select(
        F.greatest(F.col(a), F.col(b)).alias("_x")
    ).schema[0].dataType


def _pair_type(df: DataFrame, a: str, b: str):
    """Schema builder for a 2-column output of the coerced type."""
    from pyspark.sql.types import StructField, StructType

    t = _coerced_type(df, a, b)
    return lambda n1, n2: StructType(
        [StructField(n1, t), StructField(n2, t)]
    )


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The deduped undirected ``(u, v)`` edge set, ``u < v``; self-loops
    and null-endpoint edges dropped (the ``u != v`` SQL filter)."""
    return (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .dropDuplicates(["u", "v"])
    )


class _UnionFind:
    __slots__ = ("parent",)

    def __init__(self):
        self.parent: dict = {}

    def find(self, x):
        p = self.parent
        root = x
        while p.setdefault(root, root) != root:
            root = p[root]
        while p[x] != root:
            p[x], x = root, p[x]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # keep the smaller id as root so comp = min(component)
            if rb < ra:
                ra, rb = rb, ra
            self.parent[rb] = ra


def connected_components_star(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") →
    ``(node, component)`` with component = min node id.

    Converges in O(log n) rounds regardless of graph diameter — the
    right choice for adversarially chain-shaped graphs where
    min-label propagation's O(diameter) rounds would be the bottleneck.
    Each half-round is one aggregate + one join, no per-node adjacency
    lists are materialized (hub-safe).  Per-round ``localCheckpoint``
    truncates lineage; stops when a full round rewrites no edge.
    """
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # nodes whose only edges are self-loops must still appear (singleton
    # components) — same coverage as connected_components
    all_nodes = (
        raw.select(F.col("u").alias("node"))
        .unionByName(raw.select(F.col("v").alias("node")))
        .distinct()
    )
    # orient + symmetrize once; invariant kept: edges point small ← large
    # (null-keyed and self-loop edges are dropped here exactly as the
    # u != v SQL filter drops them; their endpoints stay in all_nodes)
    oriented = (
        raw.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .dropDuplicates(["u", "v"])
    )

    def local(head, nodes):
        uf = _UnionFind()
        for r in head:
            uf.union(r[0], r[1])
        out = [
            (n.node, uf.find(n.node) if n.node in uf.parent else n.node)
            for n in nodes
        ]
        return fastpath.local_frame(
            edges.sparkSession, _sorted_rows(out),
            _pair_type(raw, "u", "v")("node", "comp"),
        )

    out, (e, all_nodes) = fastpath.try_local(
        [oriented, all_nodes], local, factors=(1, 2))
    if out is not None:
        return out
    n = e.count()

    def _min_nbr(df):
        # m(u) = min over Γ(u) ∪ {u}; with the small←large orientation the
        # grouped min over v already is ≤ u
        return df.groupBy("u").agg(F.min("v").alias("m"))

    for _ in range(max_iter):
        # large-star: connect every neighbor w > u of each node u to m(u).
        # With edges oriented (u > v), Γ appears on both sides: build the
        # symmetric view only as a projection (no dedup shuffle needed —
        # groupBy aggregates it anyway).
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.min("v").alias("m"))
        m = m.select("u", F.least("u", "m").alias("m"))
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        e1 = (
            large.filter(F.col("u") != F.col("v"))
            .dropDuplicates(["u", "v"])
            .localCheckpoint(eager=True)
        )
        # small-star: for each u, connect all neighbors ≤ u (and u) to m(u)
        m1 = _min_nbr(e1).select("u", F.least("u", "m").alias("m"))
        small = (
            e1.join(m1, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(m1.select(F.col("u"), F.col("m").alias("v")))
        )
        e2 = (
            small.filter(F.col("u") != F.col("v"))
            .dropDuplicates(["u", "v"])
            .localCheckpoint(eager=True)
        )
        # converged when the round was a no-op (star graphs are
        # fixpoints); previous round's count is remembered, and the
        # content check only runs when the counts tie
        n2 = e2.count()
        converged = n2 == n and e2.exceptAll(e).limit(1).count() == 0
        e, n = e2, n2
        if converged:
            break
    else:
        raise RuntimeError(
            "connected_components_star did not converge in %d rounds "
            "(raise max_iter)" % max_iter
        )
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    singletons = (
        all_nodes.join(
            labels.select("node").unionByName(
                e.select(F.col("v").alias("node"))
            ).distinct(),
            "node", "left_anti",
        ).withColumn("comp", F.col("node"))
    )
    roots = (
        e.select(F.col("v").alias("node")).distinct()
        .join(labels.select(F.col("node")), "node", "left_anti")
        .withColumn("comp", F.col("node"))
    )
    return labels.unionByName(roots).unionByName(singletons)


def _cc_min_label_local(
    edges: DataFrame, e: DataFrame, sym_head, max_iter: int
) -> DataFrame:
    """In-process replica of :func:`connected_components`' round loop —
    IDENTICAL semantics, including the SQL null rules: a null neighbor
    key never joins (contributes nothing), a node's new label is
    ``least`` over non-null candidates, and a round only counts a change
    when both old and new labels are non-null — so early-exit and the
    non-convergence raise fire on exactly the same round."""
    sym = [(r[0], r[1]) for r in sym_head]
    labels = {u: u for u, _ in sym}
    n_changed = -1
    for _ in range(max_iter):
        nbr_min: dict = {}
        for u, v in sym:
            if u is None or v is None:
                continue  # join keys: null matches nothing
            c = labels.get(v)
            if c is None:
                continue  # F.min ignores nulls
            if u not in nbr_min or c < nbr_min[u]:
                nbr_min[u] = c
        n_changed = 0
        for node, m in nbr_min.items():
            cur = labels[node]
            if cur is not None and m < cur:
                n_changed += 1
            if cur is None or m < cur:
                labels[node] = m
        if n_changed == 0:
            break
    if n_changed != 0:
        raise RuntimeError(
            "connected_components did not converge in %d rounds "
            "(graph diameter exceeds max_iter; raise max_iter)" % max_iter
        )
    return fastpath.local_frame(
        edges.sparkSession, _sorted_rows(labels.items()),
        _pair_type(e, "u", "v")("node", "comp"),
    )


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by iterative min-label propagation →
    ``(node, component)`` where component = min node id of the component.

    Each round every node takes the min label among itself and its
    neighbors; convergence needs O(component diameter) rounds — near-dup
    clusters are shallow (pairs all touch a representative), so 2-4
    rounds in practice.  Per round: one shuffle join + one aggregate,
    labels ``localCheckpoint``-ed so the plan stays O(1) deep.  Early-
    exits when a round changes no label; raises on non-convergence —
    use :func:`connected_components_star` (O(log n) rounds) for
    adversarially chain-shaped graphs.

    Works for any orderable node type; node ids are compared with
    ``least`` so the component representative is deterministic.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    out, (sym,) = fastpath.try_local(
        [sym.dropDuplicates(["u", "v"])],
        lambda head: _cc_min_label_local(edges, e, head, max_iter),
        factors=(2,))
    if out is not None:
        return out
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    n_changed = -1
    for _ in range(max_iter):
        # min label among each node's neighbors
        nbr_min = (
            sym.join(labels, sym.v == labels.node)
            .groupBy("u")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.u, "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias("comp"),
                (F.col("nbr_comp") < F.col("comp")).alias("_changed"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        n_changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if n_changed == 0:
            break
    if n_changed != 0:
        # silently returning partial labels would split real clusters —
        # make non-convergence loud (chains this deep mean the input is
        # not a dedup-pair graph; use a large-star/small-star variant)
        raise RuntimeError(
            "connected_components did not converge in %d rounds "
            "(graph diameter exceeds max_iter; raise max_iter)" % max_iter
        )
    return labels


def _round_half_up(x: float, s: int):
    """Replica of Spark's ``round(double, s)`` / ``cast(double as
    decimal(_, s))``: HALF_UP over the value's shortest decimal
    spelling (``BigDecimal.valueOf``), returned as ``Decimal``."""
    import decimal

    return decimal.Decimal(repr(x)).quantize(
        decimal.Decimal(1).scaleb(-s), rounding=decimal.ROUND_HALF_UP
    )


def _power_iteration_local(spark, edges_df, head, n_iter, damping,
                           round_to, seeds=None):
    """Driver replica of the pagerank / personalized-pagerank schedule:
    identical numerics (14-dp pre-round, exact decimal per-node sums,
    one IEEE damped update rounded to ``round_to``) and identical SQL
    null rules (a null src never joins out_deg, a null dst's
    contribution never joins the node table — both leak, node keeps its
    base mass)."""
    elist = [(r[0], r[1]) for r in head]
    nodes = {s for s, _ in elist} | {d for _, d in elist}
    if seeds is not None:
        nodes |= set(seeds)
        restart = 1.0 / len(seeds)
        base_n = len(seeds)
        seed_set = set(seeds)
        ranks = {n: (restart if n in seed_set else 0.0) for n in nodes}
    else:
        base_n = len(nodes)
        seed_set = None
        ranks = {n: 1.0 / base_n for n in nodes}
    base = (1.0 - damping) / base_n
    od: dict = {}
    for s, _ in elist:
        if s is not None:
            od[s] = od.get(s, 0) + 1
    import decimal

    zero = decimal.Decimal(0)
    for _ in range(n_iter):
        sums: dict = {}
        for s, d in elist:
            if s is None or d is None:
                continue
            c = float(_round_half_up(ranks[s] / od[s], 14))
            sums[d] = sums.get(d, zero) + _round_half_up(c, 14)
        new = {}
        for n in nodes:
            m = float(sums[n]) if n in sums else 0.0
            b = base if seed_set is None or n in seed_set else 0.0
            new[n] = float(_round_half_up(b + damping * m, round_to))
        ranks = new
    from pyspark.sql.types import DoubleType, StructField, StructType

    t = _coerced_type(edges_df, "_s", "_d")
    return fastpath.local_frame(
        spark, _sorted_rows(ranks.items()),
        StructType([StructField("node", t), StructField("rank", DoubleType())]),
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    round_to: int = 12,
) -> DataFrame:
    """PageRank over an edge DataFrame → ``(node, rank)``.

    Entity-importance ranking for the constructed KG (feed it
    ``triples.filter(o_kind != 2).select(s as src, o as dst)``).  Classic
    power iteration, kept DataFrame-shaped like the other iterative ops
    here: per iteration one equi-join of edges against current ranks, one
    map-side-combinable aggregation, and a ``localCheckpoint`` so the
    plan does not grow O(n_iter).  Dangling nodes (no out-edges) leak
    their mass (the common simplification — documented, not
    redistributed); multi-edges contribute once per occurrence.

    Numerics are REPRODUCIBLE across partitionings and engines: each
    contribution is pre-rounded to 14 dp in double (making the following
    decimal cast unambiguous), per-node sums use exact DECIMAL(38,14)
    arithmetic (double summation is order-dependent; decimal is not), and
    the damped update is a single deterministic IEEE op rounded to
    ``round_to`` — so a SQL engine replaying the same schedule matches
    bit-for-bit.  The ``N = nodes.count()`` driver scalar is the only
    driver movement (one long), same as connected_components' round
    counter.
    """
    proj = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
    out, (proj,) = fastpath.try_local([proj], lambda head: _power_iteration_local(
        edges.sparkSession, proj, head, n_iter, damping, round_to))
    if out is not None:
        return out
    return _power_iteration_rounds(proj, n_iter, damping, round_to)


def _power_iteration_rounds(proj: DataFrame, n_iter: int, damping: float,
                            round_to: int, seeds=None) -> DataFrame:
    """The distributed schedule of :func:`pagerank` (``seeds=None``) and
    :func:`personalized_pagerank` over the projected ``(_s, _d)``
    edges."""
    nodes = proj.select(F.col("_s").alias("node")).unionByName(
        proj.select(F.col("_d").alias("node")))
    if seeds is not None:
        nodes = nodes.unionByName(fastpath.local_frame(
            proj.sparkSession, [(s,) for s in seeds], schema=nodes.schema))
    nodes = nodes.distinct().localCheckpoint(eager=True)
    out_deg = proj.groupBy(F.col("_s").alias("node")).agg(
        F.count(F.lit(1)).alias("od")
    )
    # the edges⋈out_deg join is iteration-invariant — hoist and
    # materialize it once so each of the n_iter rounds pays one join
    # against the current ranks instead of re-scanning the input twice
    # (same rows, same arithmetic: every edge has exactly one od)
    e_od = (
        proj.select(F.col("_s").alias("node"), F.col("_d").alias("_dst"))
        .join(out_deg, "node")
        .localCheckpoint(eager=True)
    )
    if seeds is None:
        n = nodes.count()
        base = F.lit((1.0 - damping) / n)
        ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    else:
        is_seed = F.col("node").isin(seeds)
        base = F.when(
            is_seed, F.lit((1.0 - damping) / len(seeds))
        ).otherwise(F.lit(0.0))
        ranks = nodes.select(
            "node",
            F.when(is_seed, F.lit(1.0 / len(seeds)))
            .otherwise(F.lit(0.0)).alias("rank"),
        )
    for _ in range(n_iter):
        contrib = (
            e_od.join(ranks, "node")
            .select(
                F.col("_dst").alias("node"),
                F.round(F.col("rank") / F.col("od"), 14).alias("c"),
            )
        )
        sums = contrib.groupBy("node").agg(
            F.sum(F.col("c").cast("decimal(38,14)")).alias("m")
        )
        ranks = (
            nodes.join(sums, "node", "left")
            .select(
                "node",
                F.round(
                    base
                    + F.lit(damping)
                    * F.coalesce(F.col("m").cast("double"), F.lit(0.0)),
                    round_to,
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def hits(
    edges: DataFrame,
    n_iter: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    round_to: int = 12,
) -> DataFrame:
    """HITS hubs/authorities over an edge DataFrame → ``(node, hub,
    authority)`` — pagerank's companion for link-graph analysis (a good
    hub LINKS TO many authorities; a directory page and the pages it
    curates get separated where pagerank conflates them).

    Same DataFrame shape and reproducible numeric schedule as
    :func:`pagerank`: per iteration one edge join + decimal-exact sum
    per side, L1 normalization (the exact DECIMAL(38,14) total makes
    the divisor partitioning-independent, unlike the classic L2 norm
    whose sqrt-of-double-sum is order-dependent), each update a single
    IEEE divide rounded to ``round_to`` — a SQL engine replaying the
    schedule matches bit-for-bit.  Per-iteration ``localCheckpoint``
    keeps the plan O(1); multi-edges contribute once per occurrence.
    """
    proj = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    out, (proj,) = fastpath.try_local([proj], lambda head: _hits_local(
        edges.sparkSession, proj, head, n_iter, round_to))
    if out is not None:
        return out
    # 2 scans per iteration (auth + hub passes) — materialize the
    # projected edge list once
    e = proj.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = nodes.select("node", F.lit(1.0).alias("hub"))
    auth = None
    for _ in range(n_iter):
        # authority pass: a_raw(v) = Σ_{u→v} hub(u), exact decimal
        a_raw = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.round(F.col("hub"), 14)
                       .cast("decimal(38,14)")).alias("raw"))
        )
        auth = _l1_normalized(nodes, a_raw, "authority", round_to)
        auth = auth.localCheckpoint(eager=True)
        # hub pass over the NEW authorities: h_raw(u) = Σ_{u→v} a(v)
        h_raw = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum(F.round(F.col("authority"), 14)
                       .cast("decimal(38,14)")).alias("raw"))
        )
        hub = _l1_normalized(nodes, h_raw, "hub", round_to)
        hub = hub.localCheckpoint(eager=True)
    return nodes.join(hub, "node").join(auth, "node").select(
        "node", "hub", "authority"
    )


def _hits_local(spark, proj, head, n_iter: int, round_to: int) -> DataFrame:
    """Driver replica of the HITS schedule: per pass exact decimal raw
    sums of 14-dp-rounded scores, L1 normalization as one IEEE divide
    rounded to ``round_to``; null endpoints never join (contribute
    nothing, score 0.0 like any contribution-less node)."""
    import decimal

    elist = [(r[0], r[1]) for r in head]
    nodes = {s for s, _ in elist} | {d for _, d in elist}
    zero = decimal.Decimal(0)

    def normalized(raw: dict) -> dict:
        if not raw:  # all-null edge list: SQL total is null -> null scores
            return {n: None for n in nodes}
        # the L1 total includes a null GROUP's sum (SQL GROUP BY keeps
        # it) even though the per-node left join can never claim it
        tot = float(sum(raw.values(), zero))
        out = {}
        for n in nodes:
            num = float(raw[n]) if (n is not None and n in raw) else 0.0
            if tot == 0.0:  # Spark double division: 0/0 NaN, x/0 Inf;
                out[n] = float("nan") if num == 0.0 else float("inf")
            else:           # round() passes non-finite through anyway
                out[n] = float(_round_half_up(num / tot, round_to))
        return out

    hub = {n: 1.0 for n in nodes}
    auth: dict = {}
    # once a pass has no contributing rows its SQL total is null and
    # every later pass inherits null scores (null sums -> null total ->
    # null divisions) — scores are all-null or all-valued, never mixed
    null_scores = False
    for _ in range(n_iter):
        a_raw: dict = {}
        if not null_scores:
            for s, d in elist:
                if s is None:
                    continue  # the hub join drops null src rows...
                c = _round_half_up(float(_round_half_up(hub[s], 14)), 14)
                a_raw[d] = a_raw.get(d, zero) + c  # ...null dst groups stay
        null_scores = null_scores or not a_raw
        auth = normalized(a_raw)
        h_raw: dict = {}
        if not null_scores:
            for s, d in elist:
                if d is None:
                    continue
                c = _round_half_up(float(_round_half_up(auth[d], 14)), 14)
                h_raw[s] = h_raw.get(s, zero) + c
        null_scores = null_scores or not h_raw
        hub = normalized(h_raw)
    from pyspark.sql.types import DoubleType, StructField, StructType

    t = _coerced_type(proj, "src", "dst")
    # the final nodes⋈hub⋈auth inner equi-joins drop a null node row
    rows = [(n, hub[n], auth[n]) for n in nodes if n is not None]
    return fastpath.local_frame(
        spark, _sorted_rows(rows),
        StructType([StructField("node", t),
                    StructField("hub", DoubleType()),
                    StructField("authority", DoubleType())]),
    )


def _l1_normalized(
    nodes: DataFrame, raw: DataFrame, out_col: str, round_to: int
) -> DataFrame:
    """``round(raw / Σraw, round_to)`` with the total in exact decimal
    (order-independent) and the divide a single IEEE op; missing nodes
    score 0.0."""
    tot = raw.agg(F.sum("raw").alias("tot"))
    return (
        nodes.join(raw, "node", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "node",
            F.round(
                F.coalesce(F.col("raw"), F.lit(0)).cast("double")
                / F.col("tot").cast("double"),
                round_to,
            ).alias(out_col),
        )
    )


def triangle_count(
    edges: DataFrame, src: str = "a", dst: str = "b"
) -> DataFrame:
    """Per-node triangle counts over an undirected graph →
    ``(node, triangles)`` (every node of the edge set appears; 0 when
    triangle-free).

    Degree-ordered wedge counting (Cohen, "Graph Twiddling in a
    MapReduce World", CiSE 2009): orient every edge from the lower
    (degree, id) endpoint to the higher, enumerate wedges only between
    a node's OUT-edges, close them against the oriented edge set.  The
    orientation bounds every out-degree by O(√m), so the wedge join's
    fanout is bounded by arboricity — a star hub with 10^7 neighbors
    produces ZERO wedges at the hub (all its edges point in), which is
    the difference between this and the naive two-hop join at web
    scale.  Output is orientation-invariant: each triangle is counted
    exactly once and credited to all three corners.
    """
    und = _undirected(edges, src, dst)
    out, (und,) = fastpath.try_local([und], lambda head: _triangle_count_local(
        edges.sparkSession, und, head))
    if out is not None:
        return out
    nodes = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .distinct()
    )
    tris = _enumerate_triangles(und)
    corners = (
        tris.select(F.col("lo").alias("node"))
        .unionByName(tris.select(F.col("x").alias("node")))
        .unionByName(tris.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return nodes.join(corners, "node", "left").select(
        "node", F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles")
    )


def _triangle_count_local(spark, und: DataFrame, head) -> DataFrame:
    """Driver replica of the wedge count: every triangle {a<b<c}
    enumerated once (edge (a,b) × common neighbor w > b), credited to
    all three corners — integer-exact, orientation-invariant like the
    distributed plan."""
    from pyspark.sql.types import LongType, StructField, StructType

    es = [(r[0], r[1]) for r in head]
    nbrs: dict = {}
    for u, v in es:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    tri = {n: 0 for n in nbrs}
    for u, v in es:
        a, b = nbrs[u], nbrs[v]
        if len(b) < len(a):
            a, b = b, a
        for w in a:
            if w > v and w in b:
                tri[u] += 1
                tri[v] += 1
                tri[w] += 1
    return fastpath.local_frame(
        spark, _sorted_rows(tri.items()),
        StructType([StructField("node", _coerced_type(und, "u", "v")),
                    StructField("triangles", LongType())]),
    )


def _link_predict_local(spark, und: DataFrame, head, max_degree: int,
                        min_common: int) -> DataFrame:
    """Driver replica of the wedge-bounded link scores.  The one
    engine-sensitive op — ``ln(deg)`` (JVM Math.log is not required to
    be correctly rounded) — is evaluated IN the JVM over the tiny
    distinct-degree set, so contributions are bit-identical; counts,
    exact decimal sums and the final HALF_UP rounds replicate in
    python."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    es = {(r[0], r[1]) for r in head}
    nbrs: dict = {}
    for u, v in es:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    deg = {n: len(s) for n, s in nbrs.items()}
    centers = [n for n, d in deg.items() if 2 <= d <= max_degree]
    # wedge volume is quadratic in center degree and NOT bounded by the
    # edge cap (one 10k-degree hub = 5e7 pairs) — leave those graphs to
    # the shuffled wedge join
    if sum(deg[z] * (deg[z] - 1) for z in centers) > 2 * 4_000_000:
        return None
    degs = sorted({deg[z] for z in centers})
    contrib = {}
    if degs:
        rows = fastpath.local_frame(
            spark, [(d,) for d in degs], "degz long"
        ).select(
            "degz",
            F.round(F.lit(1.0) / F.log(F.col("degz").cast("double")), 9)
            .cast("decimal(24,9)").alias("c"),
        ).collect()
        contrib = {r["degz"]: r["c"] for r in rows}
    import decimal

    zero = decimal.Decimal(0)
    n_common: dict = {}
    aa: dict = {}
    for z in centers:
        c = contrib[deg[z]]
        ns = sorted(nbrs[z])
        for i, a in enumerate(ns):
            for b in ns[i + 1:]:
                key = (a, b)
                n_common[key] = n_common.get(key, 0) + 1
                aa[key] = aa.get(key, zero) + c
    out = []
    for (a, b), nc in n_common.items():
        if nc < min_common or (a, b) in es:
            continue
        out.append((
            a, b, nc,
            float(_round_half_up(nc / float(deg[a] + deg[b] - nc), 6)),
            float(_round_half_up(float(aa[(a, b)]), 6)),
        ))
    t = _coerced_type(und, "u", "v")
    return fastpath.local_frame(
        spark, _sorted_rows(out),
        StructType([
            StructField("a", t), StructField("b", t),
            StructField("n_common", LongType()),
            StructField("jaccard", DoubleType()),
            StructField("adamic_adar", DoubleType()),
        ]),
    )


def _enumerate_triangles(und: DataFrame) -> DataFrame:
    """Each triangle of a deduped undirected ``(u, v)`` edge set exactly
    once → ``(lo, x, y)`` (degree-ordered apex first) — the shared core
    of :func:`triangle_count` and :func:`k_truss`."""
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_rank = (
        und.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("deg", "du")
        .join(deg.withColumnRenamed("node", "v"), "v")
        .withColumnRenamed("deg", "dv")
        .withColumn("ru", F.struct(F.col("du").alias("d"), F.col("u").alias("n")))
        .withColumn("rv", F.struct(F.col("dv").alias("d"), F.col("v").alias("n")))
    )
    oriented = with_rank.select(
        F.when(F.col("ru") < F.col("rv"), F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(F.col("ru") < F.col("rv"), F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(F.col("ru") < F.col("rv"), F.col("rv")).otherwise(F.col("ru")).alias("rhi"),
    )
    e1 = oriented.select("lo", F.col("hi").alias("x"), F.col("rhi").alias("rx"))
    e2 = oriented.select("lo", F.col("hi").alias("y"), F.col("rhi").alias("ry"))
    wedges = e1.join(e2, "lo").filter(F.col("rx") < F.col("ry")).select(
        "lo", "x", "y"
    )
    # close the wedge: with rank(x) < rank(y) the (x,y) edge, if present,
    # is oriented x→y — one equi-join, no symmetric view needed
    closer = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    return wedges.join(closer, ["x", "y"]).select("lo", "x", "y")


def k_truss(
    edges: DataFrame,
    k: int,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 100,
) -> DataFrame:
    """Edges of the k-truss (maximal subgraph where every edge closes
    ≥ k−2 triangles) → ``(u, v)`` with u < v.

    The edge-cohesion companion to :func:`k_core`: iterative support
    peeling — enumerate triangles over the surviving edge set with the
    degree-ordered wedge scheme (:func:`_enumerate_triangles` — a hub's
    edges point in, so the wedge fanout stays bounded by arboricity at
    every round), credit each triangle to its three edges in one
    partial+final hash aggregate, drop edges below the support
    threshold, repeat to fixpoint with per-round ``localCheckpoint``.
    Trusses are the standard dense-community filter where k-core is too
    loose (a star passes 1-core, no 3-truss keeps any tree edge).
    Deterministic fixpoint, replayable round-by-round in SQL — exactly
    how the ``k_truss`` oracle checks it.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    und = _undirected(edges, src, dst)
    thresh = k - 2
    if thresh == 0:
        return und
    out, (und,) = fastpath.try_local([und], lambda head: _k_truss_local(
        edges.sparkSession, und, head, thresh, max_iter))
    if out is not None:
        return out
    n_edges = und.count()
    for _ in range(max_iter):
        if n_edges == 0:
            break
        tris = _enumerate_triangles(und)

        def ue(a, b):
            return F.struct(
                F.least(a, b).alias("u"), F.greatest(a, b).alias("v")
            )

        support = (
            tris.select(F.explode(F.array(
                ue(F.col("lo"), F.col("x")),
                ue(F.col("lo"), F.col("y")),
                ue(F.col("x"), F.col("y")),
            )).alias("e"))
            .select("e.u", "e.v")
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("s"))
        )
        kept = (
            und.join(
                support.filter(F.col("s") >= thresh).select("u", "v"),
                ["u", "v"],
                "left_semi",
            )
            .localCheckpoint(eager=True)
        )
        n2 = kept.count()
        if n2 == n_edges:
            break
        und, n_edges = kept, n2
    else:
        raise RuntimeError(
            "k_truss did not converge in %d peel rounds (raise max_iter)"
            % max_iter
        )
    return und


def _k_truss_local(spark, und: DataFrame, head, thresh: int,
                   max_iter: int) -> DataFrame:
    """Driver replica of :func:`k_truss`'s support-peel rounds — same
    per-round triangle re-enumeration, the same edge-count fixpoint and
    ``max_iter`` raise.  Integer support counts are exact on both
    paths."""
    es = {(r[0], r[1]) for r in head}
    rounds = 0
    converged = False
    while rounds < max_iter:
        rounds += 1
        if not es:
            converged = True
            break
        nbrs: dict = {}
        for u, v in es:
            nbrs.setdefault(u, set()).add(v)
            nbrs.setdefault(v, set()).add(u)
        support: dict = {}
        # count common neighbors per edge via the smaller adjacency set
        for u, v in es:
            a, b = nbrs[u], nbrs[v]
            if len(b) < len(a):
                a, b = b, a
            s = sum(1 for w in a if w in b)
            if s:
                support[(u, v)] = s
        kept = {e for e in es if support.get(e, 0) >= thresh}
        if len(kept) == len(es):
            converged = True
            break
        es = kept
    if not converged:
        raise RuntimeError(
            "k_truss did not converge in %d peel rounds (raise max_iter)"
            % max_iter
        )
    t = _pair_type(und, "u", "v")("u", "v")
    return fastpath.local_frame(spark, _sorted_rows(es), t)


def _k_core_local(spark, und: DataFrame, head, k: int,
                  max_iter: int) -> DataFrame:
    """Driver peel replica of :func:`k_core`'s round schedule — same
    round-at-a-time degree recomputation, same fixpoint test (edge count
    unchanged), same ``max_iter`` raise."""
    from pyspark.sql.types import StructField, StructType

    es = {(r[0], r[1]) for r in head}
    for _ in range(max_iter):
        if not es:
            break
        deg: dict = {}
        for u, v in es:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        pruned = {
            (u, v) for u, v in es if deg[u] >= k and deg[v] >= k
        }
        if len(pruned) == len(es):
            break
        es = pruned
    else:
        raise RuntimeError(
            "k_core did not converge in %d peel rounds (raise max_iter)"
            % max_iter
        )
    nodes = {u for u, _ in es} | {v for _, v in es}
    return fastpath.local_frame(
        spark, sorted((n,) for n in nodes),
        StructType([StructField("node", _coerced_type(und, "u", "v"))]),
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 100,
) -> DataFrame:
    """Nodes of the k-core (maximal subgraph where every node has
    degree ≥ k) → ``(node,)``.

    Iterative peeling: drop nodes with degree < k, recompute degrees
    over the surviving edge set, repeat to fixpoint — each round is one
    hash aggregate + one semi-join pair, per-round ``localCheckpoint``
    truncates lineage.  Peeling is the standard web-graph densification
    filter (link farms and genuine hubs survive, pendant chains don't);
    the deterministic fixpoint is replayable round-by-round in plain
    SQL, which is exactly how the ``k_core`` oracle checks it.

    Worst-case round count is the graph's degeneracy ordering depth
    (a pendant CHAIN peels one node per round) — acceptable because
    each round also shrinks the edge set; for adversarial chains prefer
    pre-filtering leaves with ``triangle_count``-style orientation or
    raise ``max_iter``.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    und = _undirected(edges, src, dst)
    out, (und,) = fastpath.try_local([und], lambda head: _k_core_local(
        edges.sparkSession, und, head, k, max_iter))
    if out is not None:
        return out
    n_edges = und.count()
    for _ in range(max_iter):
        if n_edges == 0:
            break
        deg = (
            und.select(F.col("u").alias("node"))
            .unionByName(und.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        pruned = (
            und.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        n2 = pruned.count()
        if n2 == n_edges:
            break
        und, n_edges = pruned, n2
    else:
        raise RuntimeError(
            "k_core did not converge in %d peel rounds (raise max_iter)"
            % max_iter
        )
    return (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .distinct()
    )


def _lpa_local(spark, und: DataFrame, head, n_iter: int) -> DataFrame:
    """Driver replica of :func:`label_propagation`'s synchronous
    schedule: exactly ``n_iter`` rounds, votes = neighbor labels + one
    self-vote, winner by (count desc, label asc) — bit-identical to the
    WindowGroupLimit plan."""
    adj: dict = {}
    for r in head:
        u, v = r[0], r[1]
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    labels = {n: n for n in adj}
    for _ in range(n_iter):
        new = {}
        for node, nbrs in adj.items():
            votes: dict = {labels[node]: 1}  # self-vote
            for nb in nbrs:
                lab = labels[nb]
                votes[lab] = votes.get(lab, 0) + 1
            new[node] = min(votes, key=lambda lab: (-votes[lab], lab))
        labels = new
    return fastpath.local_frame(
        spark, _sorted_rows(labels.items()),
        _pair_type(und, "u", "v")("node", "label"),
    )


def label_propagation(
    edges: DataFrame,
    n_iter: int = 5,
    src: str = "a",
    dst: str = "b",
) -> DataFrame:
    """Community detection by synchronous label propagation →
    ``(node, label)`` after exactly ``n_iter`` rounds.

    Every node starts labeled with itself; each round it adopts the
    label with the highest vote among its neighbors' current labels
    PLUS one self-vote (the standard damping against 2-cycle
    oscillation), ties broken by the smallest label — a fully
    deterministic schedule (same reasoning as ``pagerank``'s fixed
    iteration count: replayable round-by-round in plain SQL, which is
    how the ``label_propagation`` oracle checks it; raw LPA's
    convergence is famously order-dependent, this variant is not).

    Scale shape: per round ONE equi-join of the (deduped, symmetric)
    adjacency with the label table, one partial+final count aggregate
    over (node, label), and a per-node top-1 window that Spark 4
    compiles to a map-side WindowGroupLimit — a celebrity node's vote
    rows reduce map-side, the window never buffers its neighbor list.
    ``localCheckpoint`` per round truncates lineage (the k_core /
    pagerank convention).
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    und = _undirected(edges, src, dst)
    out, (und,) = fastpath.try_local([und], lambda head: _lpa_local(
        edges.sparkSession, und, head, n_iter))
    if out is not None:
        return out
    adj = (
        und.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionByName(
            und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
        )
        .localCheckpoint(eager=True)
    )
    labels = adj.select("node").distinct().select(
        "node", F.col("node").alias("label")
    )
    w = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    for _ in range(n_iter):
        votes = (
            adj.join(
                labels.select(F.col("node").alias("nbr"), "label"), "nbr"
            )
            .select("node", "label")
            .unionByName(labels.select("node", "label"))  # self-vote
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "label")
            .localCheckpoint(eager=True)
        )
    return labels


def link_predict(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_degree: int = 10_000,
    min_common: int = 1,
) -> DataFrame:
    """Neighborhood link prediction over an undirected graph →
    ``(a, b, n_common, jaccard, adamic_adar)`` for every NON-adjacent
    candidate pair sharing at least ``min_common`` common neighbors
    (``a < b``).

    Scores (Adamic & Adar 2003 / Liben-Nowell & Kleinberg 2007):
    ``n_common = |N(a) ∩ N(b)|``, ``jaccard = n_common / |N(a) ∪ N(b)|``,
    ``adamic_adar = Σ_z 1/ln(deg(z))`` over the shared neighbors ``z``.
    The KG/crawl use: suggest missing ``sameAs``/related-host links from
    the host link graph (:func:`rdf_spark.ops.html.host_link_graph`)
    before an expensive pairwise resolver runs.

    Scale shape: candidate pairs are enumerated ONLY through wedge
    centers — one self-join of the symmetric adjacency on the center
    node.  A center of degree d yields d(d-1)/2 pairs, so centers with
    ``deg > max_degree`` are excluded from the wedge role (their
    endpoints still score through other shared neighbors): the join
    fanout is bounded by ``max_degree``·m instead of the square of the
    hottest hub, and a celebrity host never materializes its quadratic
    pair set.  This makes the operator sound-not-complete by design —
    pairs whose ONLY shared neighbors are super-hubs are not reported
    (their adamic_adar contribution, 1/ln(deg), is the smallest possible
    anyway).  Per-center contributions are pre-rounded to 9 dp and
    summed as DECIMAL(24,9) so a pair's score is independent of the
    order its wedges reduce in (the bm25/pagerank exactness scheme).
    """
    und = _undirected(edges, src, dst)
    out, (und,) = fastpath.try_local([und], lambda head: _link_predict_local(
        edges.sparkSession, und, head, max_degree, min_common))
    if out is not None:
        return out
    adj = und.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionByName(
        und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    centers = (
        adj.join(deg, "node")
        .filter((F.col("deg") >= 2) & (F.col("deg") <= max_degree))
        .select(F.col("node").alias("z"), "nbr", F.col("deg").alias("degz"))
    )
    left = centers.select("z", F.col("nbr").alias("a"), "degz")
    right = centers.select("z", F.col("nbr").alias("b"))
    contrib = F.round(F.lit(1.0) / F.log(F.col("degz").cast("double")), 9)
    pairs = (
        left.join(right, "z")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", contrib.cast("decimal(24,9)").alias("c"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(F.sum("c").cast("double"), 6).alias("adamic_adar"),
        )
        .filter(F.col("n_common") >= min_common)
    )
    fresh = pairs.join(
        und.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("_db"))
    return (
        fresh.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("_da") + F.col("_db") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
            "adamic_adar",
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds,
    n_iter: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    round_to: int = 12,
) -> DataFrame:
    """Personalized PageRank → ``(node, rank)``: the teleport mass
    returns to the ``seeds`` set instead of spreading uniformly, so
    ranks measure RELATEDNESS TO THE SEEDS (entity-neighborhood
    relevance, related-host discovery) rather than global importance.

    ``seeds`` is a query-sized iterable of node ids shipped as an
    ``isin`` literal (a handful of entities per query — not data);
    seed nodes absent from the edge set are unioned into the node table
    so their restart mass is retained, not leaked.  Same shape and
    REPRODUCIBLE numeric schedule as :func:`pagerank` (14-dp pre-round,
    DECIMAL(38,14) sums, one IEEE damped update rounded to
    ``round_to``); dangling nodes leak mass identically.
    """
    seeds = sorted(set(seeds))
    if not seeds:
        raise ValueError("personalized_pagerank needs >= 1 seed")
    proj = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
    out, (proj,) = fastpath.try_local([proj], lambda head: _power_iteration_local(
        edges.sparkSession, proj, head, n_iter, damping, round_to, seeds=seeds))
    if out is not None:
        return out
    return _power_iteration_rounds(proj, n_iter, damping, round_to, seeds=seeds)


def _scc_local(
    edges: DataFrame, distinct_edges: DataFrame, head, max_phases: int
) -> DataFrame:
    """In-process SCC for graphs under the collect cap: iterative
    Tarjan, scc = min member id — the exact fixpoint of the coloring/
    peeling schedule (each phase assigns every marked node the smallest
    node of its SCC, which is that phase's root).  A null endpoint is
    replicated faithfully too: a null node can never become a root or be
    marked, so the distributed peel loop exhausts ``max_phases`` and
    raises — do the same without burning the phases."""
    pairs = [(r[0], r[1]) for r in head]
    nodes: set = set()
    for u, v in pairs:
        nodes.add(u)
        nodes.add(v)
    if not pairs:
        return fastpath.local_frame(
            edges.sparkSession, [], "node string, scc string"
        )
    if None in nodes:
        raise RuntimeError(
            "SCC peeling did not finish in %d phases" % max_phases
        )
    adj: dict = {}
    for u, v in pairs:
        adj.setdefault(u, []).append(v)
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    scc_of: dict = {}
    counter = 0
    for start in nodes:
        if start in index:
            continue
        # iterative Tarjan (explicit work stack: (node, child cursor))
        work = [(start, 0)]
        while work:
            node, ci = work[-1]
            if ci == 0:
                index[node] = low[node] = counter
                counter += 1
                stack.append(node)
                on_stack.add(node)
            children = adj.get(node, ())
            advanced = False
            while ci < len(children):
                w = children[ci]
                ci += 1
                if w not in index:
                    work[-1] = (node, ci)
                    work.append((w, 0))
                    advanced = True
                    break
                if w in on_stack and index[w] < low[node]:
                    low[node] = index[w]
            if advanced:
                continue
            work.pop()
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
                    scc_of[w] = rep
            if work:
                pnode, _ = work[-1]
                if low[node] < low[pnode]:
                    low[pnode] = low[node]
    return fastpath.local_frame(
        edges.sparkSession, _sorted_rows(scc_of.items()),
        _pair_type(distinct_edges, "u", "v")("node", "scc"),
    )


def strongly_connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_phases: int = 32,
    max_rounds: int = 64,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph → ``(node,
    scc)`` with ``scc`` = the component's minimum node id.  The
    directed companion to :func:`connected_components`: cycles in the
    host link graph (mutual-promotion spam rings, mirror cliques) are
    exactly its non-singleton SCCs — undirected CC merges everything a
    DAG path touches and cannot see them.

    The coloring algorithm (Orzan's scheme, the standard distributed
    SCC): per phase, (1) propagate ``color(v) = min(v, colors of v's
    in-neighbors)`` to fixpoint — v's color is the smallest node that
    REACHES v; (2) nodes with ``color == self`` are roots, and a root's
    SCC is every same-colored node that reaches it BACK, found by
    propagating a mark from the root against edge direction inside the
    color class; (3) assign, remove, repeat on the remainder.  Each
    round is one equi-join + min/max aggregate with a
    ``localCheckpoint``; rounds are O(diameter) and phases are bounded
    by the graph's SCC "peeling depth" (1 for a cycle, O(n) only for a
    pure path — ``max_phases``/``max_rounds`` raise instead of looping;
    web link graphs converge in a handful of phases).
    """
    distinct_edges = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")).distinct()
    out, (live_edges,) = fastpath.try_local([distinct_edges], lambda head: _scc_local(
        edges, distinct_edges, head, max_phases))
    if out is not None:
        return out
    active = (
        live_edges.select(F.col("u").alias("node"))
        .unionByName(live_edges.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    done = None
    for _phase in range(max_phases):
        if active.isEmpty():
            break
        # (1) forward min-label coloring to fixpoint.  The change flag is
        # computed INSIDE the round's one checkpointed plan, so the
        # convergence probe reads cached rows instead of paying a second
        # join job per round (the probe was half the round's schedule).
        colors = active.select("node", F.col("node").alias("color"))
        for _round in range(max_rounds):
            incoming = (
                live_edges.join(
                    colors.select(
                        F.col("node").alias("u"), F.col("color").alias("cu")
                    ),
                    "u",
                )
                .groupBy(F.col("v").alias("node"))
                .agg(F.min("cu").alias("cin"))
            )
            new_color = F.least(
                F.col("color"), F.coalesce("cin", F.col("color"))
            )
            nxt = (
                colors.join(incoming, "node", "left")
                .select(
                    "node",
                    new_color.alias("_color"),
                    (new_color < F.col("color")).alias("_changed"),
                )
                .withColumnRenamed("_color", "color")
                .localCheckpoint(eager=True)
            )
            converged = nxt.filter(F.col("_changed")).isEmpty()
            colors = nxt.select("node", "color")
            if converged:
                break
        else:
            raise RuntimeError(
                "SCC coloring did not converge in %d rounds" % max_rounds
            )
        # (2) backward root-reach inside each color class
        cls_edges = (
            live_edges.join(
                colors.select(F.col("node").alias("u"),
                              F.col("color").alias("cu")), "u")
            .join(
                colors.select(F.col("node").alias("v"),
                              F.col("color").alias("cv")), "v")
            .filter(F.col("cu") == F.col("cv"))
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        marked = colors.filter(F.col("node") == F.col("color")).select(
            "node", "color"
        ).localCheckpoint(eager=True)
        for _round in range(max_rounds):
            step = (
                cls_edges.join(
                    marked.select(F.col("node").alias("v")), "v"
                )
                .select(F.col("u").alias("node"))
                .distinct()
                .join(colors, "node")
                .join(marked.select("node"), "node", "left_anti")
                .localCheckpoint(eager=True)
            )
            if step.isEmpty():
                break
            # step is already checkpointed — the growing mark set stays
            # a lazy union of cached frames (depth 1, width ≤ max_rounds)
            marked = marked.unionByName(step)
        else:
            raise RuntimeError(
                "SCC mark pass did not converge in %d rounds" % max_rounds
            )
        found = marked.select("node", F.col("color").alias("scc"))
        done = found if done is None else done.unionByName(found)
        active = active.join(
            marked.select("node"), "node", "left_anti"
        ).localCheckpoint(eager=True)
        live_edges = (
            live_edges.join(
                active.select(F.col("node").alias("u")), "u")
            .join(active.select(F.col("node").alias("v")), "v")
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(
            "SCC peeling did not finish in %d phases" % max_phases
        )
    if done is None:
        return fastpath.local_frame(
            edges.sparkSession, [], "node string, scc string"
        )
    return done


def _sssp_local(spark, head, srcs, dist_type: str, max_iter: int):
    """Driver Bellman-Ford over the collected edges and distinct
    sources.  Exact replica of the round schedule:
    the same weight guard (null/negative/fractional-truncated raise),
    synchronous relaxation from the PREVIOUS round's distances, the same
    changed test (new node or strict improvement), the same
    non-convergence raise.  Arithmetic is python int (BIGINT) or
    ``decimal.Decimal`` (DECIMAL weights) — both exact, like the engine."""
    import decimal

    from pyspark.sql.types import (
        DecimalType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    if any(r["_w"] is None or r["_w"] < 0 or r["_frac"] for r in head):
        raise ValueError(
            "edge weights must be non-null, non-negative, numeric, and "
            "integral-valued (use a decimal-typed column for exact "
            "fractional weights)")
    if dist_type == "bigint":
        zero = 0
        out_field = LongType()
    else:
        zero = decimal.Decimal(0)
        out_field = DecimalType(38, int(dist_type.rstrip(")").split(",")[1]))
    edge_list = [(r["_src"], r["_dst"], r["_w"]) for r in head]
    dist = {r["node"]: zero for r in srcs}
    for _ in range(max_iter):
        best = dict(dist)
        for s, d, w in edge_list:
            old = dist.get(s)
            if old is None:
                continue
            cand = old + w
            cur = best.get(d)
            if cur is None or cand < cur:
                best[d] = cand
        changed = any(
            n not in dist or v < dist[n] for n, v in best.items()
        )
        dist = best
        if not changed:
            return fastpath.local_frame(
                spark, _sorted_rows(dist.items()),
                StructType([StructField("node", StringType()),
                            StructField("dist", out_field)]),
            )
    raise ValueError(
        f"shortest_paths did not converge in max_iter={max_iter} rounds"
    )


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    max_iter: int = 30,
) -> DataFrame:
    """Single/multi-source shortest paths by distributed Bellman-Ford
    relaxation (graft addition — the weighted companion of the k-hop
    BFS; no reference analogue, the reference has no graph layer).

    ``sources``: one-column DataFrame of source nodes (distance 0).
    ``weight_col=None`` means unit weights (hop counts).  Weights are
    summed EXACTLY — integral weights ride a BIGINT, fractional ones
    must be decimal-typed by the caller (IEEE double sums would be
    partitioning-dependent).  Negative weights are rejected (classic
    Bellman-Ford cycles would need n-1 full rounds + a cycle check —
    out of scope for the corpus-graph use cases this serves).

    Returns ``(node, dist)`` for every REACHED node.  Each round is one
    frontier-edges equi-join + a min hash-aggregation (map-side
    combinable); converged when no distance improves, bounded by
    ``max_iter`` (raises if still improving — silent truncation would
    return wrong distances, cf. the k-hop broadcast cap).  Per-round
    ``localCheckpoint`` keeps the plan linear in rounds.
    """
    wtype = dict(edges.dtypes).get(weight_col) if weight_col else None
    if wtype is not None and wtype.startswith("decimal"):
        # decimal weights keep their scale and sum exactly in a widened
        # decimal — the "fractional weights must be decimal-typed"
        # promise of the docstring
        scale = int(wtype.rstrip(")").split(",")[1])
        dist_type = "decimal(38,%d)" % scale
        w = F.col(weight_col).cast(dist_type)
        nonintegral = F.lit(False)
    else:
        dist_type = "bigint"
        w = (
            F.col(weight_col).try_cast("bigint")
            if weight_col is not None
            else F.lit(1).cast("bigint")
        )
        # a fractional double/float weight would be silently FLOORED by
        # the bigint cast (0.5 -> 0) — reject instead (decimal-typed
        # weights take the exact branch above)
        nonintegral = (
            F.col(weight_col).try_cast("decimal(38,18)")
            != w.cast("decimal(38,18)")
            if weight_col is not None
            else F.lit(False)
        )
    e = edges.select(
        F.col(src_col).cast("string").alias("_src"),
        F.col(dst_col).cast("string").alias("_dst"),
        w.alias("_w"),
        nonintegral.alias("_frac"),
    ).filter(F.col("_src").isNotNull() & F.col("_dst").isNotNull())
    [c] = sources.columns
    srcs = sources.select(F.col(c).cast("string").alias("node")).distinct()
    out, (e, srcs) = fastpath.try_local(
        [e, srcs], lambda head, src_rows: _sssp_local(
            edges.sparkSession, head, src_rows, dist_type, max_iter),
        factors=(1, 2))
    if out is not None:
        return out
    # null weights (incl. cast failures from a non-numeric weight_col)
    # would poison min() with null distances that the plain-equality
    # convergence anti-join counts as "changed" forever (the round-2
    # eqNullSafe gotcha) — reject them up front, with negatives and
    # silently-truncated fractional values; the guard pass doubles as
    # the checkpoint that keeps later rounds from re-scanning the input
    e = e.localCheckpoint(eager=True)
    if e.filter(
        F.col("_w").isNull() | (F.col("_w") < 0) | F.col("_frac")
    ).limit(1).count():
        raise ValueError(
            "edge weights must be non-null, non-negative, numeric, and "
            "integral-valued (use a decimal-typed column for exact "
            "fractional weights)")
    e = e.drop("_frac")
    dist = srcs.select("node", F.lit(0).cast(dist_type).alias("dist"))
    for _ in range(max_iter):
        # the convergence signal (a node appeared or its distance
        # improved) is aggregated inside the round's one checkpointed
        # plan — the probe then reads cached rows (no per-round join job)
        relaxed = (
            dist.join(e, dist["node"] == e["_src"])
            .select(
                F.col("_dst").alias("node"),
                (F.col("dist") + F.col("_w")).alias("dist"),
                F.lit(None).cast(dist_type).alias("_old"),
            )
            .unionByName(
                dist.select(
                    "node", "dist", F.col("dist").alias("_old")
                )
            )
            .groupBy("node")
            .agg(
                F.min("dist").alias("dist"),
                F.min("_old").alias("_old"),
            )
            .select(
                "node", "dist",
                (F.col("_old").isNull()
                 | (F.col("dist") < F.col("_old"))).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = not relaxed.filter(F.col("_changed")).isEmpty()
        dist = relaxed.select("node", "dist")
        if not changed:
            return dist
    raise ValueError(
        f"shortest_paths did not converge in max_iter={max_iter} rounds"
    )
