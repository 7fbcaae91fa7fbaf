"""SHACL-lite shape validation over the canonical triple schema.

EXCEEDS reference parity: /root/reference stops at parse/serialize
(rdf.go, encoder.go) — but a production KG pipeline validates the
graph against shape constraints before publishing (W3C SHACL,
https://www.w3.org/TR/shacl/).  This is the commonly-used core subset,
compiled set-at-a-time to Catalyst plans: one pass per (shape,
property-path), never per focus node.

Shapes are a Python spec (the ontology side of a KG build is code/
config, not data — same stance as the gazetteer): a list of dicts

    {"id": "ex:PersonShape",
     "target_class": "ex:Person",          # or list; or "target_node":
                                           #   [iri, …] /
                                           #   "target_subjects_of" /
                                           #   "target_objects_of"
     "closed": True,                       # sh:closed
     "ignored_properties": ["ex:note"],    # sh:ignoredProperties
     "properties": [
         {"path": "ex:name",               # predicate IRI
          "inverse": False,                # sh:inversePath
          "min_count": 1, "max_count": 1,  # sh:minCount / sh:maxCount
          "datatype": XSD + "string",      # sh:datatype
          "node_kind": "Literal",          # sh:nodeKind (IRI/Literal/
                                           #   BlankNode + Or-combos)
          "class": "ex:Org",               # sh:class (explicit rdf:type
                                           #   only — materialize RDFS
                                           #   first: ops.reasoning)
          "pattern": "^...$",              # sh:pattern (Java regex)
          "flags": "i",                    # sh:flags ('i' only)
          "min_length": 1, "max_length": 9,
          "in": ["a", "b"],                # sh:in (lexical forms)
          "min_inclusive": 0,              # sh:min/maxInclusive,
          "max_exclusive": 10,             #   sh:min/maxExclusive
          "has_value": "gold",             # sh:hasValue (lexical)
         }, …]}

    The Turtle shapes-graph front end (:mod:`rdf_spark.shacl`) compiles
    real ``sh:NodeShape`` declarations into this spec.

``validate`` returns one row per violation:
(focus, shape_id, path, constraint, value, expected) — sh:focusNode,
the shape, sh:resultPath, sourceConstraintComponent, sh:value (the
offending lexical; the observed count for cardinality), and the
expected parameter rendered as a string.  ``conforms`` is the boolean
summary; ``violation_stats`` the per-(shape, constraint) histogram.

Scale notes (100 TB):

- The spec itself is bounded (10^2..10^4 property shapes) and ships in
  the PLAN as literals — no driver collect of data, no broadcast table.
- Per (shape, path) the flow is: predicate-filtered scan (pushed
  filter) → equi-join with the target set → row-local constraint
  filters.  Cardinality adds one partial+final HashAggregate on focus;
  min_count>0 needs the zero-value targets, which come from a LEFT
  join of targets against the (already per-focus reduced) counts —
  never an anti-join against raw values.
- sh:class is a LEFT ANTI join of the (reduced, distinct) value set
  against the class's typed-instance set — both sides are
  predicate-filtered scans, and AQE is free to broadcast the smaller.
- Violations union across shapes/constraints; each branch prunes to
  its own predicate at the scan, so the union does not re-read the
  full triple table per constraint.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rdf_spark.ops import fastpath
from rdf_spark.terms import (
    KIND_BLANK,
    KIND_IRI,
    KIND_LITERAL,
    RDF_TYPE,
)

_NODE_KINDS = {
    "IRI": (KIND_IRI,),
    "Literal": (KIND_LITERAL,),
    "BlankNode": (KIND_BLANK,),
    "BlankNodeOrIRI": (KIND_BLANK, KIND_IRI),
    "BlankNodeOrLiteral": (KIND_BLANK, KIND_LITERAL),
    "IRIOrLiteral": (KIND_IRI, KIND_LITERAL),
}

_XSD = "http://www.w3.org/2001/XMLSchema#"
_NUMERIC_DT = tuple(
    _XSD + n for n in (
        "decimal", "integer", "double", "float", "long", "int", "short",
        "byte", "nonNegativeInteger", "positiveInteger", "negativeInteger",
        "nonPositiveInteger", "unsignedLong", "unsignedInt",
        "unsignedShort", "unsignedByte",
    )
)

_REPORT_COLS = ("focus", "shape_id", "path", "constraint", "value", "expected")


def _targets(triples: DataFrame, shape: dict) -> DataFrame:
    """Distinct focus nodes of one shape (sh:targetClass / sh:targetNode)."""
    parts = []
    tc = shape.get("target_class")
    if tc is not None:
        classes = [tc] if isinstance(tc, str) else list(tc)
        parts.append(
            triples.filter((F.col("p") == RDF_TYPE)
                           & F.col("o").isin(classes))
            .select(F.col("s").alias("focus"))
        )
    tn = shape.get("target_node")
    if tn:
        parts.append(
            fastpath.local_frame(
                triples.sparkSession, [(n,) for n in tn], "focus string"
            )
        )
    tso = shape.get("target_subjects_of")
    if tso:
        parts.append(
            triples.filter(F.col("p").isin(list(tso)))
            .select(F.col("s").alias("focus"))
        )
    too = shape.get("target_objects_of")
    if too:
        parts.append(
            triples.filter(F.col("p").isin(list(too)))
            .select(F.col("o").alias("focus"))
        )
    if not parts:
        raise ValueError(f"shape {shape.get('id')!r} has no target")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def _path_values(triples: DataFrame, pathspec) -> DataFrame:
    """(focus, value, value_kind, value_datatype, value_lang) pair
    table of a SHACL path expression.

    ``pathspec``: a predicate IRI string, ``("inv", iri)``,
    ``("seq", [spec, …])`` or ``("alt", [spec, …])`` — arbitrarily
    nested sequence/alternation; inverses only over predicates (the
    common shapes; closures are not supported).  Value metadata comes
    from the final step.  Complex paths deduplicate (SHACL value sets;
    two routes to the same value are one value node) — a plain
    predicate stays row-level, exact on a canonical (deduplicated)
    store and cheaper."""
    if isinstance(pathspec, str):
        return triples.filter(F.col("p") == pathspec).select(
            F.col("s").alias("focus"),
            F.col("o").alias("value"),
            F.col("o_kind").alias("value_kind"),
            F.col("o_datatype").alias("value_datatype"),
            F.col("o_lang").alias("value_lang"),
        )
    kind, arg = pathspec[0], pathspec[1]
    if kind == "inv":
        if not isinstance(arg, str):
            raise ValueError(
                "sh:inversePath is supported over predicates only")
        return triples.filter(F.col("p") == arg).select(
            F.col("o").alias("focus"),
            F.col("s").alias("value"),
            F.col("s_kind").alias("value_kind"),
            F.lit(None).cast("string").alias("value_datatype"),
            F.lit(None).cast("string").alias("value_lang"),
        )
    if kind == "seq":
        out = _path_values(triples, arg[0])
        for step in arg[1:]:
            nxt = _path_values(triples, step)
            out = (
                out.select("focus", F.col("value").alias("_mid"))
                .join(nxt.withColumnRenamed("focus", "_mid"), "_mid")
                .drop("_mid")
            )
        return out.distinct()
    if kind == "alt":
        out = _path_values(triples, arg[0])
        for branch in arg[1:]:
            out = out.unionByName(_path_values(triples, branch))
        return out.distinct()
    raise ValueError(f"unknown path spec {pathspec!r}")


def path_str(pathspec) -> str:
    """Render a path spec for the report's ``path`` column (SPARQL
    property-path syntax)."""
    if isinstance(pathspec, str):
        return pathspec
    kind, arg = pathspec[0], pathspec[1]
    if kind == "inv":
        return "^" + arg
    if kind == "seq":
        return "/".join(path_str(p) for p in arg)
    if kind == "alt":
        return "(" + "|".join(path_str(p) for p in arg) + ")"
    raise ValueError(f"unknown path spec {pathspec!r}")


def _values(triples: DataFrame, targets: DataFrame, prop: dict) -> DataFrame:
    """(focus, value, value_kind, value_datatype) rows for one property
    path restricted to the shape's targets."""
    path = prop["path"]
    if prop.get("inverse"):
        path = ("inv", path)
    return _path_values(triples, path).join(targets, "focus")


def _pair_values(triples, targets, pred_iri: str) -> DataFrame:
    """Distinct (focus, value, value_kind) of a pair-constraint's
    SECOND property, restricted to the targets."""
    return (
        triples.filter(F.col("p") == pred_iri)
        .select(F.col("s").alias("focus"), F.col("o").alias("value"),
                F.col("o_kind").alias("value_kind"))
        .join(targets, "focus")
        .distinct()
    )


def _mk_report(df: DataFrame, shape_id: str, path: str, constraint: str,
               value_col, expected: str) -> DataFrame:
    return df.select(
        F.col("focus"),
        F.lit(shape_id).alias("shape_id"),
        F.lit(path).alias("path"),
        F.lit(constraint).alias("constraint"),
        value_col.cast("string").alias("value"),
        F.lit(expected).alias("expected"),
    )


_VALUE_KEYS = frozenset((
    "datatype", "node_kind", "pattern", "flags", "min_length",
    "max_length", "min_inclusive", "max_inclusive", "min_exclusive",
    "max_exclusive", "in", "language_in",
))


def _value_pred(spec: dict):
    """Boolean Column over (value, value_kind, value_datatype,
    value_lang): does one value node satisfy every value-testing
    constraint in ``spec``?  The compilation target for sh:or
    alternatives — alternation becomes ONE row-local predicate, no
    extra scans or joins per operand."""
    unknown = set(spec) - _VALUE_KEYS
    if unknown:
        raise ValueError(
            f"sh:or alternative may only carry value-testing "
            f"constraints; got {sorted(unknown)}")
    conds = []
    dt = spec.get("datatype")
    if dt is not None:
        conds.append((F.col("value_kind") == KIND_LITERAL)
                     & F.col("value_datatype").eqNullSafe(dt))
    nk = spec.get("node_kind")
    if nk is not None:
        conds.append(F.col("value_kind").isin(list(_NODE_KINDS[nk])))
    pat = spec.get("pattern")
    if pat is not None:
        flags = spec.get("flags")
        if flags not in (None, "", "i"):
            raise ValueError("only sh:flags 'i' is supported")
        conds.append(F.col("value").rlike(
            ("(?i)" + pat) if flags == "i" else pat))
    if spec.get("min_length") is not None:
        conds.append(F.length("value") >= spec["min_length"])
    if spec.get("max_length") is not None:
        conds.append(F.length("value") <= spec["max_length"])
    num = F.col("value").try_cast("decimal(38,9)")
    comparable = (
        (F.col("value_kind") == KIND_LITERAL)
        & F.col("value_datatype").isin(list(_NUMERIC_DT))
        & num.isNotNull()
    )
    for key, mk in (("min_inclusive", lambda b: num >= b),
                    ("max_inclusive", lambda b: num <= b),
                    ("min_exclusive", lambda b: num > b),
                    ("max_exclusive", lambda b: num < b)):
        if spec.get(key) is not None:
            b = F.lit(str(spec[key])).cast("decimal(38,9)")
            conds.append(comparable & mk(b))
    if spec.get("in") is not None:
        conds.append(F.col("value").isin(list(spec["in"])))
    if spec.get("language_in") is not None:
        lang = F.lower(F.coalesce(F.col("value_lang"), F.lit("")))
        ok = F.lit(False)
        for item in spec["language_in"]:
            it = str(item).lower()
            ok = ok | (lang == it) | lang.startswith(it + "-")
        conds.append(ok)
    out = F.lit(True)
    for c in conds:
        out = out & c
    return out


def _prop_violations(triples, targets, shape_id, prop):
    path = path_str(("inv", prop["path"]) if prop.get("inverse")
                    else prop["path"])
    vals = _values(triples, targets, prop)
    out = []

    min_c, max_c = prop.get("min_count"), prop.get("max_count")
    if min_c is not None or max_c is not None:
        counts = vals.groupBy("focus").agg(
            F.count(F.lit(1)).cast("long").alias("_n")
        )
        if min_c is not None:
            # zero-value targets only exist on the target side
            with_n = targets.join(counts, "focus", "left").select(
                "focus", F.coalesce(F.col("_n"), F.lit(0)).alias("_n")
            )
            out.append(_mk_report(
                with_n.filter(F.col("_n") < min_c), shape_id, path,
                "minCount", F.col("_n"), str(min_c),
            ))
        if max_c is not None:
            out.append(_mk_report(
                counts.filter(F.col("_n") > max_c), shape_id, path,
                "maxCount", F.col("_n"), str(max_c),
            ))

    dt = prop.get("datatype")
    if dt is not None:
        bad = vals.filter(
            (F.col("value_kind") != KIND_LITERAL)
            | ~F.col("value_datatype").eqNullSafe(dt)
        )
        out.append(_mk_report(bad, shape_id, path, "datatype",
                              F.col("value"), dt))

    nk = prop.get("node_kind")
    if nk is not None:
        kinds = _NODE_KINDS[nk]
        out.append(_mk_report(
            vals.filter(~F.col("value_kind").isin(list(kinds))), shape_id,
            path, "nodeKind", F.col("value"), nk,
        ))

    cls = prop.get("class")
    if cls is not None:
        typed = (
            triples.filter((F.col("p") == RDF_TYPE) & (F.col("o") == cls))
            .select(F.col("s").alias("value")).distinct()
        )
        # literals can never be instances; non-typed nodes fail too
        bad = (
            vals.select("focus", "value", "value_kind").distinct()
            .join(typed, "value", "left_anti")
        )
        out.append(_mk_report(bad, shape_id, path, "class",
                              F.col("value"), cls))

    pat = prop.get("pattern")
    if pat is not None:
        flags = prop.get("flags")
        if flags not in (None, "", "i"):
            raise ValueError("only sh:flags 'i' is supported")
        rx = ("(?i)" + pat) if flags == "i" else pat
        out.append(_mk_report(
            vals.filter(~F.col("value").rlike(rx)), shape_id, path,
            "pattern", F.col("value"), pat,
        ))

    mn, mx = prop.get("min_length"), prop.get("max_length")
    if mn is not None:
        out.append(_mk_report(
            vals.filter(F.length("value") < mn), shape_id, path,
            "minLength", F.col("value"), str(mn),
        ))
    if mx is not None:
        out.append(_mk_report(
            vals.filter(F.length("value") > mx), shape_id, path,
            "maxLength", F.col("value"), str(mx),
        ))

    allowed = prop.get("in")
    if allowed is not None:
        out.append(_mk_report(
            vals.filter(~F.col("value").isin(list(allowed))), shape_id,
            path, "in", F.col("value"),
            "(" + " ".join(map(str, allowed)) + ")",
        ))

    # sh:minInclusive / sh:maxInclusive / sh:minExclusive /
    # sh:maxExclusive — reproducible-numerics contract: lexical forms
    # compared as exact DECIMAL(38,9); a non-literal value, a
    # non-numeric datatype, or an unparseable lexical is *incomparable*
    # and therefore a violation (SHACL §4.7).
    num = F.col("value").try_cast("decimal(38,9)")
    comparable = (
        (F.col("value_kind") == KIND_LITERAL)
        & F.col("value_datatype").isin(list(_NUMERIC_DT))
        & num.isNotNull()
    )
    for key, name, mk_cmp in (
            ("min_inclusive", "minInclusive", lambda b: num < b),
            ("max_inclusive", "maxInclusive", lambda b: num > b),
            ("min_exclusive", "minExclusive", lambda b: num <= b),
            ("max_exclusive", "maxExclusive", lambda b: num >= b)):
        bound = prop.get(key)
        if bound is None:
            continue
        b = F.lit(str(bound)).cast("decimal(38,9)")
        out.append(_mk_report(
            vals.filter(~comparable | mk_cmp(b)), shape_id, path,
            name, F.col("value"), str(bound),
        ))

    hv = prop.get("has_value")
    if hv is not None:
        have = vals.filter(F.col("value") == hv) \
            .select("focus").distinct()
        out.append(_mk_report(
            targets.join(have, "focus", "left_anti"), shape_id, path,
            "hasValue", F.lit(None).cast("string"), str(hv),
        ))

    langs = prop.get("language_in")
    if langs is not None:
        # sh:languageIn: every value must be a language-tagged literal
        # whose tag (or its primary subtag) is in the list (§4.2.4
        # uses basic range matching; we match exact tag or tag prefix
        # up to '-', the common validator behavior)
        lang = F.lower(F.coalesce(F.col("value_lang"), F.lit("")))
        ok = F.lit(False)
        for item in langs:
            it = str(item).lower()
            ok = ok | (lang == it) | lang.startswith(it + "-")
        out.append(_mk_report(
            vals.filter(~ok), shape_id, path, "languageIn",
            F.col("value"),
            "(" + " ".join(map(str, langs)) + ")",
        ))

    if prop.get("unique_lang"):
        # sh:uniqueLang: no two values may share a language tag;
        # untagged values are ignored (§4.2.5)
        dup = (
            vals.filter(F.col("value_lang").isNotNull())
            .groupBy("focus", "value_lang")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
        )
        out.append(_mk_report(
            dup, shape_id, path, "uniqueLang", F.col("value_lang"),
            "true",
        ))

    ors = prop.get("or")
    if ors:
        # value-level sh:or — each VALUE must satisfy ≥1 alternative of
        # value-testing constraints; compiled to one row-local boolean
        pred = F.lit(False)
        for alt in ors:
            pred = pred | _value_pred(alt)
        out.append(_mk_report(
            vals.filter(~pred), shape_id, path, "or", F.col("value"),
            f"({len(ors)} alternatives)",
        ))

    node = prop.get("node")
    if node is not None:
        # sh:node — every VALUE node must conform to the operand shape:
        # violating rows = vals minus the conforming subset.  The
        # operand spec is a compile-time tree (cycles rejected at
        # compile), so recursion bottoms out.
        conforming = _conforming_values(triples, vals, node) \
            .select("focus", "value").distinct()
        out.append(_mk_report(
            vals.join(conforming, ["focus", "value"], "left_anti")
            .select("focus", "value"),
            shape_id, path, "node", F.col("value"),
            str(node.get("id", "(inline shape)")),
        ))

    # pair constraints (§4.3): compare this path's value set against a
    # SECOND property's value set on the same focus node.  Each is one
    # extra predicate-filtered scan + a per-focus join — value rows,
    # never documents.
    eq = prop.get("equals")
    if eq is not None:
        other = _pair_values(triples, targets, eq)
        here = vals.select("focus", "value", "value_kind").distinct()
        missing_there = here.join(other, ["focus", "value"], "left_anti")
        missing_here = other.join(here, ["focus", "value"], "left_anti")
        out.append(_mk_report(
            missing_there.unionByName(missing_here.select(
                "focus", "value", "value_kind")),
            shape_id, path, "equals", F.col("value"), eq,
        ))

    dj = prop.get("disjoint")
    if dj is not None:
        other = _pair_values(triples, targets, dj)
        out.append(_mk_report(
            vals.join(other, ["focus", "value"], "left_semi"),
            shape_id, path, "disjoint", F.col("value"), dj,
        ))

    for key, name, ok_cmp in (
            ("less_than", "lessThan", "lt"),
            ("less_than_or_equals", "lessThanOrEquals", "le")):
        other_p = prop.get(key)
        if other_p is None:
            continue
        other = _pair_values(triples, targets, other_p).select(
            "focus", F.col("value").alias("_other"),
            F.col("value_kind").alias("_other_kind"))
        v_num = F.col("value").try_cast("decimal(38,9)")
        o_num = F.col("_other").try_cast("decimal(38,9)")
        both_num = v_num.isNotNull() & o_num.isNotNull()
        ok = (v_num < o_num) if ok_cmp == "lt" else (v_num <= o_num)
        # numeric compare when both lexicals parse; else lexicographic
        # compare when both sides are literals — anything else is
        # incomparable ⇒ violation (§4.3.3)
        s_ok = (F.col("value") < F.col("_other")) if ok_cmp == "lt" \
            else (F.col("value") <= F.col("_other"))
        both_lit = ((F.col("value_kind") == KIND_LITERAL)
                    & (F.col("_other_kind") == KIND_LITERAL))
        pairs = vals.join(other, "focus")
        out.append(_mk_report(
            pairs.filter(~F.when(both_num, ok)
                         .otherwise(both_lit & s_ok)),
            shape_id, path, name, F.col("value"), other_p,
        ))

    q = prop.get("qualified_shape")
    if q is not None:
        # sh:qualifiedValueShape + qualifiedMin/MaxCount — count the
        # value NODES conforming to the operand per focus
        qmin = prop.get("qualified_min")
        qmax = prop.get("qualified_max")
        if qmin is None and qmax is None:
            raise ValueError(
                "qualified_shape needs qualified_min and/or "
                "qualified_max")
        conf = _conforming_values(triples, vals, q)
        counts = conf.groupBy("focus").agg(
            F.count_distinct(F.struct(
                "value", "value_kind", "value_datatype", "value_lang"))
            .alias("_n"))
        qexp = str(q.get("id", "(inline shape)"))
        if qmin is not None:
            with_n = targets.join(counts, "focus", "left").select(
                "focus", F.coalesce(F.col("_n"), F.lit(0)).alias("_n"))
            out.append(_mk_report(
                with_n.filter(F.col("_n") < qmin), shape_id, path,
                "qualifiedMinCount", F.col("_n"),
                f">= {qmin} conforming to {qexp}",
            ))
        if qmax is not None:
            out.append(_mk_report(
                counts.filter(F.col("_n") > qmax), shape_id, path,
                "qualifiedMaxCount", F.col("_n"),
                f"<= {qmax} conforming to {qexp}",
            ))
    return out


def _closed_violations(triples, targets, shape):
    """sh:closed — every triple on a focus node whose predicate is not
    declared by a (forward) property shape, sh:ignoredProperties, or
    rdf:type is a violation (SHACL §4.8.1)."""
    # only plain forward predicates "declare" a property for closedness
    # (a complex path does not license its first predicate — §4.8.1
    # counts sh:path values that are IRIs)
    allowed = {p["path"] for p in shape.get("properties", ())
               if not p.get("inverse") and isinstance(p["path"], str)}
    allowed.update(shape.get("ignored_properties", ()))
    allowed.add(RDF_TYPE)
    bad = (
        triples.join(targets.withColumnRenamed("focus", "s"), "s")
        .filter(~F.col("p").isin(sorted(allowed)))
    )
    return bad.select(
        F.col("s").alias("focus"),
        F.lit(shape["id"]).alias("shape_id"),
        F.col("p").alias("path"),
        F.lit("closed").alias("constraint"),
        F.col("o").cast("string").alias("value"),
        F.lit("closed").alias("expected"),
    )


def _operand_violators(triples, targets, operand: dict) -> DataFrame:
    """Distinct focus nodes violating an operand shape (a spec dict
    with 'properties' and optionally nested combinators) — the building
    block of focus-level sh:not / sh:or / sh:xone set algebra."""
    if operand.get("or_shapes") or operand.get("not_shape") \
            or operand.get("xone_shapes"):
        raise ValueError(
            "nested focus-level combinators are not supported")
    if operand.get("value_alt") or operand.get("value_class"):
        raise ValueError(
            "focus-level combinator operands take sh:property "
            "constraints only (value-form operands are for sh:node / "
            "sh:qualifiedValueShape)")
    parts = []
    for prop in operand.get("properties", ()):
        parts.extend(_prop_violations(triples, targets, "_op", prop))
    if not parts:
        raise ValueError("combinator operand has no constraints")
    out = parts[0].select("focus")
    for p in parts[1:]:
        out = out.unionByName(p.select("focus"))
    return out.distinct()


def _conforming_values(triples, vals, operand: dict) -> DataFrame:
    """The subset of ``vals`` rows whose VALUE node conforms to an
    operand shape.  Three operand forms, AND-combined: ``value_alt``
    (value-testing constraints → one row-local predicate),
    ``value_class`` (sh:class on the value itself → semi-join against
    the typed-instance set), and ``properties`` (sh:property shapes →
    re-target onto the distinct value set, anti-join its violators)."""
    out = vals
    alt = operand.get("value_alt")
    if alt:
        out = out.filter(_value_pred(alt))
    vc = operand.get("value_class")
    if vc:
        typed = (
            triples.filter((F.col("p") == RDF_TYPE) & (F.col("o") == vc))
            .select(F.col("s").alias("value")).distinct()
        )
        out = out.filter(F.col("value_kind") != KIND_LITERAL) \
            .join(typed, "value", "left_semi")
    if operand.get("properties"):
        value_targets = out.select(
            F.col("value").alias("focus")).distinct()
        violators = _operand_violators(
            triples, value_targets,
            {"properties": operand["properties"]},
        ).withColumnRenamed("focus", "value")
        out = out.join(violators, "value", "left_anti")
    return out


def _combinator_violations(triples, targets, shape):
    """Focus-level sh:not / sh:or / sh:xone over operand shapes.

    Set algebra over per-operand violator sets: a focus CONFORMS to an
    operand iff it is not among that operand's violators.  not ⇒
    violation when the focus conforms; or ⇒ violation when it conforms
    to none (violates all); xone ⇒ violation unless it conforms to
    exactly one.  Each operand costs its own predicate-pruned scans;
    the combination is joins over (focus) sets — bytes per row.
    """
    out = []

    def _rep(df, constraint, expected):
        return df.select(
            F.col("focus"), F.lit(shape["id"]).alias("shape_id"),
            F.lit(None).cast("string").alias("path"),
            F.lit(constraint).alias("constraint"),
            F.lit(None).cast("string").alias("value"),
            F.lit(expected).alias("expected"),
        )

    np = shape.get("not_shape")
    if np is not None:
        violators = _operand_violators(triples, targets, np)
        conforming = targets.join(violators, "focus", "left_anti")
        out.append(_rep(conforming, "not", "sh:not operand"))

    ors = shape.get("or_shapes")
    if ors:
        bad = targets
        for op in ors:
            bad = bad.join(_operand_violators(triples, targets, op),
                           "focus")
        out.append(_rep(bad, "or", f"({len(ors)} operand shapes)"))

    xs = shape.get("xone_shapes")
    if xs:
        conf_counts = None
        for op in xs:
            conf = targets.join(
                _operand_violators(triples, targets, op), "focus",
                "left_anti")
            conf_counts = conf if conf_counts is None \
                else conf_counts.unionByName(conf)
        n_conf = conf_counts.groupBy("focus").agg(
            F.count(F.lit(1)).alias("_n"))
        bad = targets.join(n_conf, "focus", "left") \
            .withColumn("_n", F.coalesce("_n", F.lit(0))) \
            .filter(F.col("_n") != 1)
        out.append(_rep(bad, "xone", f"({len(xs)} operand shapes)"))
    return out


def _sparql_violations(triples: DataFrame, targets: DataFrame,
                       shape: dict) -> list[DataFrame]:
    """SHACL-SPARQL constraints (sh:sparql, SHACL §5): each spec is
    ``{"select": <SELECT projecting ?this [,?value, ?path]>,
    "message": <str|None>}``.  The recommendation pre-binds ``$this``
    per focus node; set-at-a-time, that is: rewrite ``$this`` → ``?this``
    (textual — a ``$this`` inside a string literal is rewritten too,
    documented), run the SELECT ONCE over the whole data graph with the
    rdf_spark.sparql engine, and inner-join the solution set against
    the shape's target set on ?this.  One query plan per constraint, no
    per-focus loop.  ?value / ?path projections map to the report's
    value / path columns when present."""
    from rdf_spark.sparql import sparql_select

    out = []
    for spec in shape.get("sparql", ()):
        q = spec["select"].replace("$this", "?this")
        res = sparql_select(triples, q)
        if "this" not in res.columns:
            raise ValueError(
                "sh:sparql SELECT must project ?this ($this); got "
                f"columns {res.columns}")
        # alias the target column: a query projecting its own ?focus
        # variable must not make the join or the select ambiguous
        tgt = targets.select(F.col("focus").alias("_sh_tgt")).distinct()
        joined = res.join(tgt, res["this"] == tgt["_sh_tgt"], "inner")
        value = (res["value"] if "value" in res.columns
                 else F.lit(None).cast("string"))
        path = (res["path"] if "path" in res.columns
                else F.lit(None).cast("string"))
        out.append(joined.select(
            res["this"].alias("focus"),
            F.lit(shape["id"]).alias("shape_id"),
            path.cast("string").alias("path"),
            F.lit("sparql").alias("constraint"),
            value.cast("string").alias("value"),
            F.lit(spec.get("message") or "sh:sparql constraint")
            .alias("expected"),
        ))
    return out


def validate(triples: DataFrame, shapes: list[dict],
             restrict_focus: DataFrame | None = None) -> DataFrame:
    """Validation report: one row per violation (empty ⇒ conforms).

    ``triples``: canonical columns (s, s_kind, p, o, o_kind, o_datatype,
    o_lang); filter ``err`` beforehand.

    ``restrict_focus``: optional 1-column ``focus`` DataFrame — only
    target nodes in this set are validated (the incremental-validation
    hook; see :func:`validate_delta`).

    Every constraint family is an independent branch plan over
    ``triples``; a Python-parsed input is materialized ONCE up front
    (ops.planutil) so the branches re-read a cached table instead of
    re-running the parse per family — parquet-backed inputs stay lazy
    and keep per-branch predicate pushdown.
    """
    from rdf_spark.ops.planutil import materialize_for_fanout

    if len(shapes) > 0:
        triples = materialize_for_fanout(triples)
    branches = []
    for shape in shapes:
        targets = _targets(triples, shape)
        if restrict_focus is not None:
            targets = targets.join(restrict_focus.select("focus")
                                   .distinct(), "focus")
        for prop in shape.get("properties", ()):
            branches.extend(
                _prop_violations(triples, targets, shape["id"], prop)
            )
        if shape.get("closed"):
            branches.append(_closed_violations(triples, targets, shape))
        branches.extend(_combinator_violations(triples, targets, shape))
        branches.extend(_sparql_violations(triples, targets, shape))
    if not branches:
        return fastpath.local_frame(
            triples.sparkSession, [],
            "focus string, shape_id string, path string, "
            "constraint string, value string, expected string"
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def conforms(triples: DataFrame, shapes: list[dict]) -> bool:
    return validate(triples, shapes).isEmpty()


def affected_focus(triples: DataFrame, delta: DataFrame,
                   hops: int = 1) -> DataFrame:
    """Focus candidates whose verdict can change after a delta: the
    changed triples' subjects, plus (per hop) every subject in the NEW
    store pointing at an already-affected node — dependency closure for
    the non-local constraints (sh:class typed sets, sh:node operand
    shapes, pair paths).  ``hops`` should be ≥ the deepest sh:node
    nesting in the shapes graph (1 covers plain class/pair shapes).

    ``delta``: any frame with an ``s`` column — e.g.
    :func:`rdf_spark.store.snapshot_diff` output (both added and
    removed rows matter: a removed triple can introduce a minCount
    violation)."""
    out = delta.select(F.col("s").alias("focus")).distinct()
    for _ in range(hops):
        in_nbrs = (
            triples.join(out.withColumnRenamed("focus", "o"), "o")
            .select(F.col("s").alias("focus"))
        )
        out = out.unionByName(in_nbrs).distinct()
    return out


def validate_delta(triples: DataFrame, shapes: list[dict],
                   delta: DataFrame, hops: int = 1) -> DataFrame:
    """Incremental re-validation after a snapshot delta: validate the
    NEW store, but only the focus nodes :func:`affected_focus` marks.

    This is the nightly-publish path at 100 TB: the delta is orders of
    magnitude smaller than the store, and every constraint scan is
    joined against the (small) affected-focus set — Catalyst broadcasts
    it, so no full-store shuffle survives.  The result is exactly
    ``validate(new, shapes)`` restricted to affected focus rows; merge
    it over the previous report by replacing rows whose focus is
    affected."""
    return validate(triples, shapes,
                    restrict_focus=affected_focus(triples, delta, hops))


_SH = "http://www.w3.org/ns/shacl#"
_XSD_BOOL = "http://www.w3.org/2001/XMLSchema#boolean"


def report_graph(report: DataFrame) -> DataFrame:
    """Render a validation report as the standard SHACL results
    vocabulary (sh:ValidationReport / sh:ValidationResult triples in
    the canonical store schema) so it can be serialized with the
    repo's own encoders and merged back into a graph store.

    One deterministic blank node per result row (md5 of the row's
    identity — duplicate rows collapse); the constraint name maps to
    its sh:*ConstraintComponent IRI mechanically (minCount →
    sh:MinCountConstraintComponent, …).  ``sh:focusNode`` is emitted
    with IRI kind (the report does not carry the focus's kind) and
    ``sh:value`` as a plain literal; ``sh:resultMessage`` carries the
    report's ``expected`` column.  Pure projection + explode — zero
    shuffle."""
    rid = F.concat(F.lit("_:r"), F.md5(F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c), F.lit("\x00")) for c in _REPORT_COLS])))
    comp = F.concat(
        F.lit(_SH), F.upper(F.substring("constraint", 1, 1)),
        F.expr("substring(constraint, 2)"),
        F.lit("ConstraintComponent"))

    def tr(p, o, o_kind, dt=None):
        return F.struct(
            F.lit(p).alias("p"),
            (o if isinstance(o, F.Column) else F.lit(o)).alias("o"),
            F.lit(o_kind).cast("int").alias("o_kind"),
            F.lit(dt).cast("string").alias("o_datatype"),
            F.lit(None).cast("string").alias("o_lang"),
        )

    results = report.select(
        rid.alias("s"),
        F.lit(KIND_BLANK).cast("int").alias("s_kind"),
        F.explode(F.array_compact(F.array(
            tr(RDF_TYPE, _SH + "ValidationResult", KIND_IRI),
            tr(_SH + "resultSeverity", _SH + "Violation", KIND_IRI),
            tr(_SH + "focusNode", F.col("focus"), KIND_IRI),
            tr(_SH + "sourceShape", F.col("shape_id"), KIND_IRI),
            F.when(F.col("path").isNotNull(),
                   tr(_SH + "resultPath", F.col("path"), KIND_IRI)),
            tr(_SH + "sourceConstraintComponent", comp, KIND_IRI),
            F.when(F.col("value").isNotNull(),
                   tr(_SH + "value", F.col("value"), KIND_LITERAL)),
            F.when(F.col("expected").isNotNull(),
                   tr(_SH + "resultMessage", F.col("expected"),
                      KIND_LITERAL)),
        ))).alias("t"),
    ).select("s", "s_kind", "t.*").distinct()
    conforms_lex = report.agg(F.count(F.lit(1)).alias("n")).select(
        F.when(F.col("n") == 0, "true").otherwise("false").alias("lex"))
    header = conforms_lex.select(
        F.lit("_:report").alias("s"),
        F.lit(KIND_BLANK).cast("int").alias("s_kind"),
        F.lit(RDF_TYPE).alias("p"),
        F.lit(_SH + "ValidationReport").alias("o"),
        F.lit(KIND_IRI).cast("int").alias("o_kind"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    ).unionByName(conforms_lex.select(
        F.lit("_:report").alias("s"),
        F.lit(KIND_BLANK).cast("int").alias("s_kind"),
        F.lit(_SH + "conforms").alias("p"),
        F.col("lex").alias("o"),
        F.lit(KIND_LITERAL).cast("int").alias("o_kind"),
        F.lit(_XSD_BOOL).alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    ))
    links = results.select("s").distinct().select(
        F.lit("_:report").alias("s"),
        F.lit(KIND_BLANK).cast("int").alias("s_kind"),
        F.lit(_SH + "result").alias("p"),
        F.col("s").alias("o"),
        F.lit(KIND_BLANK).cast("int").alias("o_kind"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    )
    return header.unionByName(links).unionByName(results)


def violation_stats(triples: DataFrame, shapes: list[dict]) -> DataFrame:
    """Per-(shape, path, constraint) violation counts — the audit
    histogram a publish gate logs."""
    return (
        validate(triples, shapes)
        .groupBy("shape_id", "path", "constraint")
        .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
    )
