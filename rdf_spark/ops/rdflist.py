"""rdf:List materialization: first/rest chains → ordered member table.

Graft addition — no reference analogue as an *operator* (the reference
expands Turtle collection syntax at parse time, collection.go-style;
our parsers do too: rdf_spark/parsing.py).  But an RDF *store* holds
lists only as ``rdf:first``/``rdf:rest`` cell triples — SHACL ``sh:in``
lists, OWL ``owl:unionOf``, ordered authorship — and every consumer
needs them back as ordered rows.  ``rdf_lists`` recovers
``(head, ix, member, member_kind, member_datatype, member_lang)`` for
every well-formed list in the store.

Well-formedness (RDF Schema §5.2 / the usual "well-formed collection"
rules) — a list is DROPPED in full if any spine node violates them:

- exactly one ``rdf:first`` and exactly one ``rdf:rest`` per cell
  (duplicate-triple repeats are fine; *distinct* values are not),
- the spine terminates at ``rdf:nil`` (a dangling tail node with no
  cell triples, or a cycle, never terminates → dropped),
- heads are structural: cells that are not the object of any
  ``rdf:rest``.

Scale shape (100 TB store, lists are short — sh:in / unionOf lists in
the wild are 10^0..10^2 cells):

- The spine closure is computed by pointer-doubling (iterative
  squaring of the distance-carrying rest-edge pair table), so a
  length-L list needs ⌈log₂ L⌉ shuffle rounds, not L — the repo's
  standard closure schedule (cf. reasoning.rdfs_closure,
  sparql._closure_pairs).  Pair-table size is O(L²) rows per list —
  bounded by ``max_len`` (default 128), the explicit trade of memory
  for rounds; raise ``max_len`` only for genuinely long lists.
- Everything else is predicate-pruned scans (p = rdf:first / rdf:rest
  reach the parquet scan) and equi-joins on cell ids.
- ``max_len`` also caps traversal of cyclic garbage: pairs beyond the
  cap are discarded each round, so the fixpoint always converges; an
  over-long (or cyclic) list simply never satisfies the termination
  rule and is dropped, surfaced via ``stats=True`` rather than
  silently.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rdf_spark.ops import fastpath
from rdf_spark.terms import RDF_NS

RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"


def _distinct_pairs(df: DataFrame) -> DataFrame:
    return df.distinct()


#: output bound of the driver replica (the first/rest cell tables are
#: ontology-sized for real stores and probed by ops.fastpath; past
#: either, the distributed pointer-doubling runs)
_LOCAL_PAIR_MAX = 2_000_000


def _reach_pairs_local(rests: list, max_len: int) -> set | None:
    """All (a, b, d) with a rest-path a→b of length 1 ≤ d ≤ max_len−1 —
    exactly the fixpoint of the distance-capped pointer-doubling (any
    d ≤ max_len−1 splits into halves also under the cap, so the
    distributed rounds generate the full set).  Degenerate multi-rest
    branching can blow this up; None past ``_LOCAL_PAIR_MAX``."""
    nxt: dict = {}
    for node, nx in rests:
        nxt.setdefault(node, []).append(nx)
    out: set = set()
    for a in nxt:
        frontier = {a}
        for d in range(1, max_len):
            step = set()
            for x in frontier:
                for y in nxt.get(x, ()):
                    step.add(y)
            if not step:
                break
            for b in step:
                out.add((a, b, d))
            if len(out) > _LOCAL_PAIR_MAX:
                return None
            frontier = step
    return out


def _rdf_lists_local(spark, firsts_rows, rests_rows, max_len, stats,
                     member_schema):
    """In-process replica of the branch algebra below — identical
    well-formedness rules over the same distinct first/rest cell sets;
    None past the pair bound."""
    rests = [(r["node"], r["next"]) for r in rests_rows]
    pairs = _reach_pairs_local(rests, max_len)
    if pairs is None:
        return None
    first_nodes = {r["node"] for r in firsts_rows}
    rest_targets = {b for _, b in rests}
    heads = first_nodes - rest_targets
    # head-anchored spine (head, node, ix); ix 0 for the head itself
    spine = {(h, h, 0) for h in heads}
    spine |= {(a, b, d) for a, b, d in pairs if a in heads}
    cells = {(h, n, ix) for h, n, ix in spine if n != RDF_NIL}
    nil_tails = {a for a, b in rests if b == RDF_NIL}
    terminated = {h for h, n, _ in cells if n in nil_tails}
    n_first: dict = {}
    for r in firsts_rows:
        n_first[r["node"]] = n_first.get(r["node"], 0) + 1
    n_rest: dict = {}
    for a, _ in rests:
        n_rest[a] = n_rest.get(a, 0) + 1
    bad_nodes = {n for n, c in n_first.items() if c > 1}
    bad_nodes |= {n for n, c in n_rest.items() if c > 1}
    bad_nodes |= {n for _, n, _ in cells if n not in first_nodes}
    bad_nodes |= {b for a, b, _ in pairs if a == RDF_NIL}
    bad_heads = {h for h, n, _ in cells if n in bad_nodes}
    good = terminated - bad_heads
    by_node: dict = {}
    for r in firsts_rows:
        by_node.setdefault(r["node"], []).append(r)
    members = [
        (h, ix, fr["member"], fr["member_kind"],
         fr["member_datatype"], fr["member_lang"])
        for h, n, ix in cells if h in good
        for fr in by_node.get(n, ())
    ]
    if not stats:
        from rdf_spark.ops.graph import _sorted_rows

        return fastpath.local_frame(spark, _sorted_rows(members), member_schema)
    return fastpath.local_frame(
        spark, [(len(good), len(members), len(heads) - len(good))],
        "n_lists long, n_members long, n_dropped_heads long",
    )


def rdf_lists(
    triples: DataFrame,
    max_len: int = 128,
    stats: bool = False,
) -> DataFrame:
    """Materialize every well-formed rdf:List.

    ``triples``: canonical columns (s, p, o, o_kind, o_datatype,
    o_lang).  Returns ``(head, ix, member, member_kind,
    member_datatype, member_lang)``, one row per list element,
    ``ix`` 0-based in list order.

    With ``stats=True`` returns a 1-row audit frame
    ``(n_lists, n_members, n_dropped_heads)`` instead — the publish
    gate's signal that malformed/oversized lists were discarded.
    """
    if max_len < 1:
        raise ValueError("max_len must be >= 1")
    # ~10 branch plans (heads/spine/audits/members) re-read the input;
    # a parsed/generated input is materialized once, a parquet store
    # stays lazy (p-pushdown per branch is the better plan there)
    from rdf_spark.ops.planutil import materialize_for_fanout

    triples = materialize_for_fanout(triples)
    firsts = (
        triples.filter(F.col("p") == RDF_FIRST)
        .select(F.col("s").alias("node"), F.col("o").alias("member"),
                F.col("o_kind").alias("member_kind"),
                F.col("o_datatype").alias("member_datatype"),
                F.col("o_lang").alias("member_lang"))
        .distinct()
    )
    rests = (
        triples.filter(F.col("p") == RDF_REST)
        .select(F.col("s").alias("node"), F.col("o").alias("next"))
        .distinct()
    )

    def local(f_head, r_head):
        from pyspark.sql.types import IntegerType, StructField, StructType

        fs = firsts.schema
        member_schema = StructType(
            [StructField("head", fs["node"].dataType),
             StructField("ix", IntegerType())]
            + [StructField(n, fs[n].dataType)
               for n in ("member", "member_kind",
                         "member_datatype", "member_lang")]
        )
        return _rdf_lists_local(
            triples.sparkSession, f_head, r_head, max_len, stats,
            member_schema)

    out, (firsts, rests) = fastpath.try_local([firsts, rests], local)
    if out is not None:
        return out

    # structural heads: cells not pointed to by any rdf:rest
    heads = (
        firsts.select("node").distinct()
        .join(rests.select(F.col("next").alias("node")).distinct(),
              "node", "left_anti")
        .select(F.col("node").alias("head"))
    )

    # distance-carrying closure of the rest graph by pointer-doubling:
    # E holds (a, b, d) = "b is d rest-steps after a", d ≤ max_len
    e = rests.select(F.col("node").alias("a"), F.col("next").alias("b"),
                     F.lit(1).cast("int").alias("d"))
    e = _distinct_pairs(e)
    rounds = max(1, (max_len - 1).bit_length())
    for _ in range(rounds):
        doubled = (
            e.alias("x")
            .join(e.alias("y"), F.col("x.b") == F.col("y.a"))
            .select(F.col("x.a").alias("a"), F.col("y.b").alias("b"),
                    (F.col("x.d") + F.col("y.d")).alias("d"))
            # d is a 0-based spine index for the head row; keeping
            # d ≤ max_len−1 caps materialized lists at max_len cells
            # exactly (d = max_len would admit length max_len+1)
            .filter(F.col("d") < max_len)
        )
        e = _distinct_pairs(e.unionByName(doubled)).localCheckpoint()

    # head-anchored spine with 0-based index
    spine = (
        heads.select(F.col("head"), F.col("head").alias("node"),
                     F.lit(0).cast("int").alias("ix"))
        .unionByName(
            heads.join(e, F.col("head") == F.col("a"))
            .select("head", F.col("b").alias("node"),
                    F.col("d").alias("ix")))
    )
    cells = spine.filter(F.col("node") != RDF_NIL)

    # termination: some spine cell's rest is rdf:nil
    nil_tails = rests.filter(F.col("next") == RDF_NIL) \
        .select("node").distinct()
    terminated = cells.join(nil_tails, "node").select("head").distinct()

    # degenerate spine cells: >1 distinct first, >1 distinct rest, or
    # a non-nil node with no rdf:first at all (dangling tail)
    multi_first = firsts.groupBy("node") \
        .agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1) \
        .select("node")
    multi_rest = rests.groupBy("node") \
        .agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1) \
        .select("node")
    no_first = cells.select("node").distinct() \
        .join(firsts.select("node").distinct(), "node", "left_anti")
    # pathological "rdf:nil rdf:rest …" assertions would let a spine
    # continue past nil — anything rest-reachable FROM nil is bad
    past_nil = e.filter(F.col("a") == RDF_NIL) \
        .select(F.col("b").alias("node")).distinct()
    bad_nodes = multi_first.unionByName(multi_rest) \
        .unionByName(no_first).unionByName(past_nil).distinct()
    bad_heads = cells.join(bad_nodes, "node").select("head").distinct()

    good_heads = terminated.join(bad_heads, "head", "left_anti")

    members = (
        cells.join(good_heads, "head")
        .join(firsts, "node")
        .select("head", "ix", "member", "member_kind",
                "member_datatype", "member_lang")
    )
    if not stats:
        return members
    n_all_heads = heads.count()
    n_good = good_heads.count()
    n_members = members.count()
    return fastpath.local_frame(
        triples.sparkSession, [(n_good, n_members, n_all_heads - n_good)],
        "n_lists long, n_members long, n_dropped_heads long",
    )
