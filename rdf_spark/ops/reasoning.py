"""RDFS / owl:sameAs materialization over triple DataFrames.

EXCEEDS reference parity: /root/reference has no inference layer (its
scope ends at parse/encode — rdf.go, encoder.go), but a KG-construction
pipeline that extracts schema.org / custom-ontology triples needs the
standard entailments materialized before query time, and an entity
layer needs owl:sameAs identity resolution before dedup/stats make
sense.  Both are built Spark-first:

- the ontology (schema triples) is assumed SMALL relative to instance
  data — the universal case at 100 TB (a few 10^3..10^5 schema triples
  vs 10^11 instance triples) — so every schema-side closure is computed
  on the tiny edge set and then joined BROADCAST against the instance
  scan: the instance table is never shuffled by inference, only by the
  final dedup (which the caller may skip with ``dedup=False`` when a
  downstream stage dedups anyway).
- sameAs components reuse the O(log n) large-star/small-star CC
  (ops/graph.py:connected_components_star), so adversarial sameAs
  chains (record-linkage output loves them) don't need O(diameter)
  rounds.

Semantics: the ρdf fragment of RDFS (Muñoz, Pérez, Gutierrez, "Simple
and Efficient Minimal RDFS", JWS 2009) — subPropertyOf/subClassOf
transitivity, property inheritance (rdfs7), type inheritance (rdfs9),
domain/range typing (rdfs2/rdfs3).  ρdf is closed under the rule order
used here (sp-closure → rdfs7 → rdfs2/3 → sc-closure → rdfs9), so ONE
ordered pass materializes the full closure — no instance-side fixpoint.
Reflexive (x sp x) and axiomatic (rdf:/rdfs: vocabulary) triples are
NOT emitted, matching every production reasoner's default.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from rdf_spark.ops import fastpath
from rdf_spark.terms import KIND_IRI, KIND_LITERAL, RDF_TYPE

RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
RDFS_SUBCLASSOF = RDFS_NS + "subClassOf"
RDFS_SUBPROPERTYOF = RDFS_NS + "subPropertyOf"
RDFS_DOMAIN = RDFS_NS + "domain"
RDFS_RANGE = RDFS_NS + "range"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"

_SCHEMA_MAX_ITER = 30


def _closure_local(pairs: list[tuple]) -> list[tuple]:
    """Transitive closure (irreflexive) of an edge list via per-source
    DFS — O(V·E) worst case, fine at ontology scale.  Null-containing
    edges are dropped up front, mirroring the distributed path exactly:
    SQL equality never joins through null, and the (x, null) pairs die
    on its ``sub != sup`` filter."""
    adj: dict = {}
    for a, b in pairs:
        if a is None or b is None:
            continue
        adj.setdefault(a, set()).add(b)
    out = []
    for start, direct in adj.items():
        seen: set = set()
        stack = list(direct)
        while stack:
            x = stack.pop()
            if x in seen:
                continue
            seen.add(x)
            nxt = adj.get(x)
            if nxt:
                stack.extend(nxt)
        out.extend((start, y) for y in seen if y != start)
    return out


def _schema_closure_with_local(
    edges: DataFrame,
    max_iter: int = _SCHEMA_MAX_ITER,
) -> tuple[DataFrame, list[tuple] | None]:
    """Transitive closure of a small ``(sub, sup)`` schema edge set.

    Ontologies are small by contract (module docstring), so the distinct
    edge set normally fits the driver fast path (ops.fastpath: one
    collect job instead of O(log diameter) shuffle+checkpoint+count
    rounds) and is closed on the driver (the broadcast-small-side
    pattern — the ontology is joined broadcast downstream anyway, so
    the driver holds it either way), returning ``(closure_df,
    local_pairs)`` so callers can make plan decisions (e.g. skip empty
    branches) without extra jobs.  Past the cap: distributed iterative
    squaring (R ← R ∪ R∘R, O(log diameter) rounds, per-round
    localCheckpoint — same scheme as sparql._closure_pairs), returning
    ``(closure_df, None)``."""

    def local(head):
        closed = _closure_local([(r[0], r[1]) for r in head])
        cols = edges.columns
        schema = "%s string, %s string" % (cols[0], cols[1])
        return fastpath.local_frame(edges.sparkSession, closed, schema), closed

    out, (result,) = fastpath.try_local([edges.distinct()], local)
    if out is not None:
        return out
    n = result.count()
    for _ in range(max_iter):
        if n == 0:
            break
        a, b = result.alias("a"), result.alias("b")
        step = a.join(b, F.col("a.sup") == F.col("b.sub")).select(
            F.col("a.sub").alias("sub"), F.col("b.sup").alias("sup")
        )
        nxt = result.unionByName(step).distinct().localCheckpoint(eager=True)
        n2 = nxt.count()
        if n2 == n:  # R ⊆ nxt always, so equal count ⇒ fixpoint
            break
        result, n = nxt, n2
    else:
        raise RuntimeError(
            "schema closure did not converge in %d rounds" % max_iter
        )
    return result.filter(F.col("sub") != F.col("sup")), None


def _schema_closure(edges: DataFrame, max_iter: int = _SCHEMA_MAX_ITER) -> DataFrame:
    """See :func:`_schema_closure_with_local` (DataFrame-only facade)."""
    return _schema_closure_with_local(edges, max_iter)[0]


def _carry(df: DataFrame, template: DataFrame, **overrides: Column) -> DataFrame:
    """Project ``df`` onto ``template``'s columns: pass through what
    exists, apply ``overrides``, null-fill metadata the row can't know."""
    cols = []
    for c in template.columns:
        if c in overrides:
            cols.append(overrides[c].alias(c))
        elif c in df.columns:
            cols.append(F.col(c))
        else:
            cols.append(F.lit(None).cast(dict(template.dtypes)[c]).alias(c))
    return df.select(*cols)


def rdfs_closure(
    triples: DataFrame,
    schema: DataFrame | None = None,
    dedup: bool = True,
) -> DataFrame:
    """Materialize the ρdf entailments of ``triples`` (schema: at least
    ``s/p/o``; ``s_kind/o_kind/o_datatype/o_lang/graph`` carried when
    present).

    ``schema`` defaults to the schema triples found in ``triples``
    itself; pass a separate ontology DataFrame to reason instance data
    against an external vocabulary.  The schema side is closed first
    (transitive subClassOf/subPropertyOf) and broadcast — instance
    data is scanned, never shuffled, until the final dedup.

    Rule order (complete for ρdf, §4.2 of the paper):
      1. sp+  := subPropertyOf closure            (schema-only)
      2. rdfs7: (p sp+ q), (s p o)     → (s q o)
      3. rdfs2: (p dom c), (s p o)     → (s type c)   [after rdfs7]
         rdfs3: (p rng c), (s p o), o∈IRI∪bnode → (o type c)
      4. sc+  := subClassOf closure               (schema-only)
      5. rdfs9: (c sc+ d), (s type c)  → (s type d)   [over ALL types]
    """
    from rdf_spark.ops.planutil import materialize_for_fanout

    # ~6 rule branches re-read the input (the convert --infer path
    # feeds a freshly parsed frame here); parsed/generated inputs are
    # materialized once, parquet stores stay lazy (ops.planutil)
    triples = materialize_for_fanout(triples)
    src = schema if schema is not None else triples
    spark = triples.sparkSession

    # Rule COMPOSITIONS are folded schema-side so every instance branch
    # is ONE scan of ``triples`` joined broadcast to a tiny rule table —
    # the naive tiered plan (inst = triples ∪ r7; typed = inst ∪ r2 ∪
    # r3; out = typed ∪ r9 ∪ …) duplicates the instance subtree at
    # every tier and re-scans the input 12×.  These are set-identical
    # (the compositions rdfs7∘rdfs2/3 and rdfs9∘rdfs2/3 become extra
    # rows of the effective domain/range tables; sp/sc closures are
    # already transitive, so nothing iterates instance-side):
    #   dom_eff  = dom ∪ sp⁺∘dom      (p sp⁺ q, q dom c  ⇒ p dom_eff c)
    #   dom_full = dom_eff ∪ dom_eff∘sc⁺  (… c sc⁺ d     ⇒ p dom_full d)
    # and likewise rng_full.  All four are ontology-sized by contract
    # (module docstring), so the common case collects every schema slice
    # in ONE guarded job and composes on the driver; past the cap the
    # distributed path closes/composes with broadcast-hinted tiny joins.
    schema_preds = (
        RDFS_SUBCLASSOF, RDFS_SUBPROPERTYOF, RDFS_DOMAIN, RDFS_RANGE,
    )
    pair_schema = "sub string, sup string"

    def local(schema_rows):
        by_pred: dict[str, set] = {p: set() for p in schema_preds}
        for s, p, o in schema_rows:
            if s is None:  # a null subject can never join an instance row
                continue
            by_pred[p].add((s, o))
        # null sups/classes: a (x, null) hierarchy edge never survives the
        # old filter/joins → dropped from the closures; a null domain/range
        # CLASS still produced (s type null) rows → kept in dom/rng
        sp_pairs = _closure_local(
            sorted(p for p in by_pred[RDFS_SUBPROPERTYOF] if p[1] is not None)
        )
        sc_pairs = _closure_local(
            sorted(p for p in by_pred[RDFS_SUBCLASSOF] if p[1] is not None)
        )
        sc_map: dict[str, set] = {}
        for a, b in sc_pairs:
            sc_map.setdefault(a, set()).add(b)
        sp_rev: dict[str, set] = {}
        for a, b in sp_pairs:
            sp_rev.setdefault(b, set()).add(a)

        def _compose_local(base: set) -> list[tuple]:
            eff = set(base)
            for q, c in base:
                for p in sp_rev.get(q, ()):
                    eff.add((p, c))
            full = set(eff)
            for p, c in eff:
                for d in sc_map.get(c, ()):
                    full.add((p, d))
            return sorted(full, key=lambda t: (t[0], t[1] or ""))

        sp_plus = fastpath.local_frame(spark, sorted(sp_pairs), pair_schema)
        sc_plus = fastpath.local_frame(spark, sorted(sc_pairs), pair_schema)
        dom_full = fastpath.local_frame(
            spark, _compose_local(by_pred[RDFS_DOMAIN]), "prop string, cls string"
        )
        rng_full = fastpath.local_frame(
            spark, _compose_local(by_pred[RDFS_RANGE]), "prop string, cls string"
        )
        return sp_plus, sc_plus, dom_full, rng_full, sp_pairs

    out, (src,) = fastpath.try_local(
        [src.filter(F.col("p").isin(*schema_preds)).select("s", "p", "o")],
        local)
    if out is not None:
        sp_plus, sc_plus, dom_full, rng_full, sp_local = out
    else:
        sc_edges = src.filter(F.col("p") == RDFS_SUBCLASSOF).select(
            F.col("s").alias("sub"), F.col("o").alias("sup")
        )
        sp_edges = src.filter(F.col("p") == RDFS_SUBPROPERTYOF).select(
            F.col("s").alias("sub"), F.col("o").alias("sup")
        )
        dom = src.filter(F.col("p") == RDFS_DOMAIN).select(
            F.col("s").alias("prop"), F.col("o").alias("cls")
        )
        rng = src.filter(F.col("p") == RDFS_RANGE).select(
            F.col("s").alias("prop"), F.col("o").alias("cls")
        )
        sp_plus, sp_local = _schema_closure_with_local(sp_edges)
        sc_plus, _ = _schema_closure_with_local(sc_edges)

        def _compose(base: DataFrame) -> DataFrame:
            eff = base.unionByName(
                base.join(
                    F.broadcast(sp_plus), sp_plus["sup"] == base["prop"]
                ).select(F.col("sub").alias("prop"), F.col("cls"))
            ).distinct()
            return eff.unionByName(
                eff.join(
                    F.broadcast(sc_plus), eff["cls"] == sc_plus["sub"]
                ).select(F.col("prop"), F.col("sup").alias("cls"))
            ).distinct()

        dom_full = _compose(dom)
        rng_full = _compose(rng)

    has_kind = "o_kind" in triples.columns
    iri_kind = F.lit(KIND_IRI).cast(
        dict(triples.dtypes).get("o_kind", "int")
    )

    # 2. rdfs7 — property inheritance; metadata (kinds/datatype/lang/
    # graph) rides along unchanged: only the predicate is rewritten.
    r7 = _carry(
        triples.join(F.broadcast(sp_plus), triples["p"] == sp_plus["sub"]),
        triples,
        p=F.col("sup"),
    )

    # 3. rdfs2/rdfs3 — typing.  The subject keeps its kind; the object
    # of the new triple is a class IRI.  rdfs3 only fires for non-
    # literal objects (a literal can't be typed with rdf:type).
    def _type_triple(base: DataFrame, node: str, node_kind: str | None) -> DataFrame:
        over = dict(
            p=F.lit(RDF_TYPE),
            o=F.col("cls"),
        )
        if has_kind:
            over["o_kind"] = iri_kind
        if "o_datatype" in triples.columns:
            over["o_datatype"] = F.lit(None).cast(
                dict(triples.dtypes)["o_datatype"]
            )
        if "o_lang" in triples.columns:
            over["o_lang"] = F.lit(None).cast(dict(triples.dtypes)["o_lang"])
        over["s"] = F.col(node)
        if "s_kind" in triples.columns:
            over["s_kind"] = (
                F.col(node_kind) if node_kind else F.col("s_kind")
            )
        return _carry(base, triples, **over)

    # 3+5 folded: rdfs2/rdfs3 over inst ≡ dom_full/rng_full over the
    # ORIGINAL triples (sp⁺ composition baked in), with the rdfs9 lift
    # of the derived types baked in too (sc⁺ composition).
    r2 = _type_triple(
        triples.join(F.broadcast(dom_full), triples["p"] == dom_full["prop"]),
        "s",
        "s_kind" if "s_kind" in triples.columns else None,
    )
    r3_base = triples.join(
        F.broadcast(rng_full), triples["p"] == rng_full["prop"]
    )
    if has_kind:
        r3_base = r3_base.filter(F.col("o_kind") != KIND_LITERAL)
    r3 = _type_triple(r3_base, "o", "o_kind" if has_kind else None)

    # schema closures are themselves entailed triples
    def _schema_triple(pairs: DataFrame, pred: str) -> DataFrame:
        over = dict(s=F.col("sub"), p=F.lit(pred), o=F.col("sup"))
        if "s_kind" in triples.columns:
            over["s_kind"] = F.lit(KIND_IRI).cast(dict(triples.dtypes)["s_kind"])
        if has_kind:
            over["o_kind"] = iri_kind
        return _carry(pairs, triples, **over)

    # 5. rdfs9 over ORIGINAL type triples (r2/r3-derived types carry
    # their sc⁺ lift via dom_full/rng_full above)
    types = triples.filter(F.col("p") == RDF_TYPE)
    r9 = _carry(
        types.join(F.broadcast(sc_plus), types["o"] == sc_plus["sub"]),
        triples,
        o=F.col("sup"),
    )

    out = (
        triples.unionByName(r7)
        .unionByName(r2)
        .unionByName(r3)
        .unionByName(r9)
        .unionByName(_schema_triple(sp_plus, RDFS_SUBPROPERTYOF))
        .unionByName(_schema_triple(sc_plus, RDFS_SUBCLASSOF))
    )

    # rdfs9 over rdfs7-DERIVED type triples: only possible when some
    # p sp⁺ rdf:type exists (a pathological but legal ontology); the
    # branch is skipped entirely when the driver-side closure proves it
    # empty, so the common case never pays the extra scan.
    sp_to_type = (
        any(b == RDF_TYPE for _, b in sp_local)
        if sp_local is not None
        else not sp_plus.filter(F.col("sup") == RDF_TYPE).isEmpty()
    )
    if sp_to_type:
        spt = sp_plus.filter(F.col("sup") == RDF_TYPE).select(
            F.col("sub").alias("_tp")
        )
        r9b = _carry(
            triples.join(F.broadcast(spt), triples["p"] == F.col("_tp"))
            .join(F.broadcast(sc_plus), triples["o"] == sc_plus["sub"]),
            triples,
            p=F.lit(RDF_TYPE),
            o=F.col("sup"),
        )
        out = out.unionByName(r9b)
    if dedup:
        from rdf_spark.canonical import dedup_key

        out = out.dropDuplicates(dedup_key(out.columns))
    return out


def sameas_resolve(
    triples: DataFrame,
    keep_links: bool = False,
    max_iter: int = 50,
) -> DataFrame:
    """Resolve owl:sameAs identity: every IRI in a sameAs component is
    rewritten to the component's MIN IRI (deterministic representative),
    in both subject and object position; the sameAs triples themselves
    are consumed (they become reflexive after rewriting).

    ``keep_links=True`` appends provenance triples
    ``(rep, owl:sameAs, member)`` for every non-representative member,
    so the original identifiers stay queryable.

    Components come from the O(log n) large-star/small-star CC — sameAs
    chains produced by pairwise record linkage are exactly the deep-
    chain shape that breaks O(diameter) label propagation.  The rewrite
    is two joins against the (node → rep) map; at real scale that map is
    a small fraction of the corpus (only entities that HAVE a sameAs
    edge appear in it) and the joins stay skew-free on IRI keys.
    """
    from rdf_spark.ops.graph import connected_components_star
    from rdf_spark.ops.planutil import materialize_for_fanout

    # the sameAs slice, the rewrite base, and CC's node audit all
    # re-read the input — materialize parsed/generated inputs once
    triples = materialize_for_fanout(triples)
    sa = triples.filter(F.col("p") == OWL_SAMEAS)
    if "o_kind" in triples.columns:
        sa = sa.filter(F.col("o_kind") == KIND_IRI)
    edges = sa.select(F.col("s").alias("a"), F.col("o").alias("b"))
    # the component table is read 2-3 times downstream (subject map,
    # object map, keep_links provenance) — materialize it once instead
    # of re-running the CC result assembly per read
    comp = connected_components_star(edges, max_iter=max_iter).localCheckpoint(
        eager=True
    )
    rep = comp.select(F.col("node"), F.col("comp").alias("rep"))

    rest = triples.filter(F.col("p") != OWL_SAMEAS)
    s_map = rep.withColumnRenamed("node", "s").withColumnRenamed("rep", "_s_rep")
    o_map = rep.withColumnRenamed("node", "o").withColumnRenamed("rep", "_o_rep")
    rewritten = rest.join(s_map, "s", "left")
    rewritten = rewritten.withColumn(
        "s", F.coalesce(F.col("_s_rep"), F.col("s"))
    ).drop("_s_rep")
    o_cond = ["o"]
    rewritten = rewritten.join(o_map, o_cond, "left")
    new_o = F.coalesce(F.col("_o_rep"), F.col("o"))
    if "o_kind" in triples.columns:
        # literals never joinable to an IRI map by accident of lexical
        # equality: only rewrite IRI objects
        new_o = F.when(F.col("o_kind") == KIND_IRI, new_o).otherwise(F.col("o"))
    # joining on "o"/"s" column names reorders columns — restore
    rewritten = rewritten.withColumn("o", new_o).drop("_o_rep").select(
        *triples.columns
    )

    out = rewritten
    if keep_links:
        links = comp.filter(F.col("node") != F.col("comp"))
        over = dict(
            s=F.col("comp"), p=F.lit(OWL_SAMEAS), o=F.col("node")
        )
        if "s_kind" in triples.columns:
            over["s_kind"] = F.lit(KIND_IRI).cast(dict(triples.dtypes)["s_kind"])
        if "o_kind" in triples.columns:
            over["o_kind"] = F.lit(KIND_IRI).cast(dict(triples.dtypes)["o_kind"])
        out = out.unionByName(_carry(links, triples, **over))

    from rdf_spark.canonical import dedup_key

    return out.dropDuplicates(dedup_key(out.columns))


OWL_NS = "http://www.w3.org/2002/07/owl#"
OWL_INVERSEOF = OWL_NS + "inverseOf"
OWL_SYMMETRIC = OWL_NS + "SymmetricProperty"
OWL_TRANSITIVE = OWL_NS + "TransitiveProperty"

_INSTANCE_MAX_ITER = 16


#: local transitive-closure output bail (falls back to distributed)
_INSTANCE_LOCAL_OUT_MAX = 2_000_000


def _transitive_step_local(rows, kind_cols: list, max_iter: int):
    """Driver replica of the per-predicate squaring fixpoint below:
    same join condition (p equal, a.o == b.s — kinds are carried, not
    matched), same squaring-round count against ``max_iter``, and the
    anti-join's SQL null rule (a null column never matches, so
    null-carrying closure rows always count as new).  ``kind_cols``
    mirrors the distributed column list: s_kind rides from the a-side
    (position 3 when present), o_kind from the b-side (last position) —
    either may be absent independently.  Returns the NEW row tuples,
    or None past the output bail."""
    has_s = "s_kind" in kind_cols
    has_o = "o_kind" in kind_cols

    def derive(a, b):
        t = (a[0], a[1], b[2])
        if has_s:
            t += (a[3],)
        if has_o:
            t += (b[4] if has_s else b[3],)
        return t

    r = set(rows)
    n = len(r)
    converged = n == 0
    rounds = 0
    while not converged and rounds < max_iter:
        rounds += 1
        by_ps: dict = {}
        for t in r:
            if t[0] is None or t[1] is None:
                continue  # null join keys match nothing
            by_ps.setdefault((t[0], t[1]), []).append(t)
        new = set()
        for a in r:
            if a[0] is None or a[2] is None:
                continue
            # bail INSIDE the round: one squaring round over a
            # hub-shaped predicate can derive |A|x|B| tuples — the
            # driver must give up before materializing them, not after
            if len(new) + n > _INSTANCE_LOCAL_OUT_MAX:
                return None
            for b in by_ps.get((a[0], a[2]), ()):
                new.add(derive(a, b))
        r |= new
        if len(r) > _INSTANCE_LOCAL_OUT_MAX:
            return None
        if len(r) == n:
            converged = True
        n = len(r)
    if not converged:
        raise RuntimeError(
            "transitive property closure did not converge in %d rounds"
            % max_iter
        )
    base = set(rows)
    return [
        t for t in r
        if any(x is None for x in t) or t not in base
    ]


def owl_property_closure(
    triples: DataFrame,
    schema: DataFrame | None = None,
    dedup: bool = True,
    max_iter: int = _INSTANCE_MAX_ITER,
) -> DataFrame:
    """Materialize the OWL PROPERTY entailments — ``owl:inverseOf``,
    ``owl:SymmetricProperty``, ``owl:TransitiveProperty`` — the three
    property characteristics web vocabularies actually use (schema.org
    inverses, social/links symmetry, partOf/contains chains).  Extends
    :func:`rdfs_closure`, which covers the ρdf class/property hierarchy
    but no property algebra.

    Rule schedule (a COMPLETE fixpoint for this trio — differentially
    tested against a naive chase):
      0. the inverse/symmetric algebra is closed SCHEMA-side first:
         nodes are (predicate, flipped?) states, ``p owl:inverseOf q``
         contributes (p,f)→(q,¬f) and symmetry (p,f)→(p,¬f); the
         transitive closure of this tiny graph (same iterative squaring
         as the ρdf hierarchy) yields every derived rewrite rule —
         chains like sym∘inv∘sym that a single expansion pass would
         miss are closed here, where the graph is ontology-sized;
      1. ONE broadcast join applies all rewrite rules to the instance
         scan (flip or relabel per rule);
      2. transitive closure of every EFFECTIVELY transitive predicate
         (declared transitive, or orbit-equivalent to one — the inverse
         of a transitive property is transitive), all predicates in ONE
         iterative-squaring fixpoint keyed by (p, node) — O(log
         diameter) rounds, per-round localCheckpoint, ``max_iter``
         bound raises rather than loops forever;
      3. the same rewrite rules applied to the NEW closure edges.
    Step 3 closes the remaining interaction: closure(inv(R)) =
    inv(closure(R)) and the closure of a symmetrized relation is itself
    symmetric, so nothing feeds back into step 2.

    Only resource (IRI/bnode) objects participate (a literal has no
    out-edges and cannot become a subject).  Closure-derived triples
    combine TWO input rows, so per-row metadata (``graph``) is nulled
    on them — dataset-level entailment; single-row derivations
    (inverse/symmetric swaps) keep their row's graph.  The instance
    scan is never shuffled by steps 1/3; only the transitive edge set
    (usually a small predicate slice) iterates.
    """
    from rdf_spark.ops.planutil import materialize_for_fanout

    # ~5 branch plans (rewrite base, transitive edge extraction, the
    # output union) re-read the input; parsed/generated inputs are
    # materialized once, parquet stores stay lazy (ops.planutil)
    triples = materialize_for_fanout(triples)
    src = schema if schema is not None else triples
    has_kind = "o_kind" in triples.columns
    inv = src.filter(F.col("p") == OWL_INVERSEOF).select(
        F.col("s").alias("_p1"), F.col("o").alias("_p2")
    )
    inv_pairs = (
        inv.unionByName(
            inv.select(F.col("_p2").alias("_p1"), F.col("_p1").alias("_p2"))
        )
        .filter(F.col("_p1") != F.col("_p2"))
        .distinct()
    )
    sym = (
        src.filter(
            (F.col("p") == RDF_TYPE) & (F.col("o") == OWL_SYMMETRIC)
        )
        .select(F.col("s").alias("_prop"))
        .distinct()
    )
    trans = (
        src.filter(
            (F.col("p") == RDF_TYPE) & (F.col("o") == OWL_TRANSITIVE)
        )
        .select(F.col("s").alias("_prop"))
        .distinct()
    )

    resources = triples
    if has_kind:
        resources = triples.filter(F.col("o_kind") != KIND_LITERAL)

    # 0. close the (predicate, flipped?) rewrite algebra schema-side;
    # '\x00' cannot occur in an IRI, so the encoding is collision-free
    def _enc(pred: Column, flip) -> Column:
        return F.concat(pred, F.lit("\x00"), F.lit(str(flip)))

    rew_edges = None
    for f, g in ((0, 1), (1, 0)):
        inv_e = inv_pairs.select(
            _enc(F.col("_p1"), f).alias("sub"),
            _enc(F.col("_p2"), g).alias("sup"),
        )
        sym_e = sym.select(
            _enc(F.col("_prop"), f).alias("sub"),
            _enc(F.col("_prop"), g).alias("sup"),
        )
        part = inv_e.unionByName(sym_e)
        rew_edges = part if rew_edges is None else rew_edges.unionByName(part)
    split = F.split(F.col("sup"), "\x00")
    rules = (
        _schema_closure(rew_edges)
        .filter(F.col("sub").endswith("\x000"))
        .select(
            F.split(F.col("sub"), "\x00")[0].alias("_from"),
            split[0].alias("_to"),
            (split[1] == "1").alias("_flip"),
        )
    )

    def _rewrite(base: DataFrame) -> DataFrame:
        joined = base.join(F.broadcast(rules), base["p"] == F.col("_from"))
        over = dict(
            s=F.when(F.col("_flip"), F.col("o")).otherwise(F.col("s")),
            p=F.col("_to"),
            o=F.when(F.col("_flip"), F.col("s")).otherwise(F.col("o")),
        )
        if "s_kind" in triples.columns and has_kind:
            over["s_kind"] = F.when(
                F.col("_flip"), F.col("o_kind")
            ).otherwise(F.col("s_kind"))
            over["o_kind"] = F.when(
                F.col("_flip"), F.col("s_kind")
            ).otherwise(F.col("o_kind"))
        elif has_kind:
            # o_kind without s_kind: a flipped object's kind is unknown
            over["o_kind"] = F.when(
                ~F.col("_flip"), F.col("o_kind")
            )
        for c in ("o_datatype", "o_lang"):
            if c in triples.columns:
                over[c] = F.lit(None).cast(dict(triples.dtypes)[c])
        return _carry(joined, triples, **over)

    inst = triples.unionByName(_rewrite(resources))

    # a predicate is effectively transitive when its orbit contains a
    # declared-transitive one (the inverse of transitive is transitive)
    trans = trans.unionByName(
        rules.join(trans, rules["_to"] == F.col("_prop")).select(
            F.col("_from").alias("_prop")
        )
    ).distinct()

    # 2. one fixpoint over every transitive predicate's resource edges
    kind_cols = [c for c in ("s_kind", "o_kind") if c in triples.columns]
    edge_cols = ["p", "s", "o"] + kind_cols
    base_res = inst
    if has_kind:
        base_res = inst.filter(F.col("o_kind") != KIND_LITERAL)
    edges_lazy = (
        base_res.join(F.broadcast(trans), base_res["p"] == F.col("_prop"))
        .select(*edge_cols)
        .distinct()
    )

    def local(head):
        new_rows = _transitive_step_local(
            [tuple(r) for r in head], kind_cols, max_iter
        )
        if new_rows is None:
            return None
        from rdf_spark.ops.graph import _sorted_rows

        return fastpath.local_frame(
            triples.sparkSession, _sorted_rows(new_rows), edges_lazy.schema,
        )

    new_edges, (edges,) = fastpath.try_local([edges_lazy], local)
    if new_edges is None:
        closure = edges
        n = closure.count()
        for _ in range(max_iter):
            if n == 0:
                break
            a, b = closure.alias("a"), closure.alias("b")
            sel = [
                F.col("a.p").alias("p"),
                F.col("a.s").alias("s"),
                F.col("b.o").alias("o"),
            ]
            if "s_kind" in kind_cols:
                sel.append(F.col("a.s_kind").alias("s_kind"))
            if "o_kind" in kind_cols:
                sel.append(F.col("b.o_kind").alias("o_kind"))
            step = a.join(
                b,
                (F.col("a.p") == F.col("b.p"))
                & (F.col("a.o") == F.col("b.s")),
            ).select(*sel)
            nxt = (
                closure.unionByName(step)
                .distinct()
                .localCheckpoint(eager=True)
            )
            n2 = nxt.count()
            if n2 == n:
                break
            closure, n = nxt, n2
        else:
            raise RuntimeError(
                "transitive property closure did not converge in %d rounds"
                % max_iter
            )

        new_edges = closure.join(
            edges, [c for c in edge_cols], "left_anti"
        )
    over = {}
    for c in ("o_datatype", "o_lang", "graph", "graph_kind"):
        if c in triples.columns:
            over[c] = F.lit(None).cast(dict(triples.dtypes)[c])
    derived = _carry(new_edges, triples, **over)
    out = inst.unionByName(derived).unionByName(_rewrite(derived))
    if dedup:
        from rdf_spark.canonical import dedup_key

        out = out.dropDuplicates(dedup_key(out.columns))
    return out
