"""Property-graph projection of a triple store (graft addition — no
reference analogue; /root/reference stops at parse/serialize,
rdf.go:14-22).  Most graph tooling (Neo4j, GraphFrames, networkx,
GraphML viewers) speaks the labeled-property-graph model, not RDF; the
standard projection (cf. Neosemantics / the RDF-to-LPG mapping used by
every RDF↔LPG bridge):

* every IRI/blank subject or IRI/blank object becomes a NODE, labeled
  by its ``rdf:type`` IRIs (local name);
* a triple with a LITERAL object becomes a node PROPERTY
  (key = predicate local name, value = lexical form);
* a triple with an IRI/blank object (other than rdf:type) becomes an
  EDGE, typed by the predicate local name.

Multi-valued properties keep one row per value (the relational form —
collapsing to arrays is a trailing ``collect_list`` the caller adds if
their sink wants it); the node/edge row shapes are plain scalar
DataFrames any CSV/GraphML writer (or Neo4j's ``neo4j-admin import``)
consumes directly.

Scale shape: nodes = one projection + union + dedup hash-aggregate on
the node id; properties/edges are pure projections of the triple scan
(predicate filters push down).  No windows, no Python, no driver
state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from rdf_spark.ops import fastpath
from rdf_spark.terms import KIND_LITERAL, RDF_TYPE


def _local_name(c: Column) -> Column:
    """IRI → local name (split at the last '/' or '#' — the reference's
    IRI Split rule, rdf.go:208-219); already-local strings pass
    through."""
    return F.element_at(F.split(c, r"[/#]"), -1)


def pg_nodes(triples: DataFrame) -> DataFrame:
    """One row per node: ``(node_id, label)`` — label is the local name
    of an ``rdf:type`` object, null for untyped nodes; multi-typed
    nodes keep one row per label."""
    subjects = triples.select(F.col("s").alias("node_id"))
    objects = (
        triples.filter(
            (F.col("o_kind") != KIND_LITERAL) & (F.col("p") != RDF_TYPE)
        ).select(F.col("o").alias("node_id"))
    )
    ids = subjects.unionByName(objects).distinct()
    labels = (
        triples.filter(
            (F.col("p") == RDF_TYPE) & (F.col("o_kind") != KIND_LITERAL)
        )
        .select(
            F.col("s").alias("node_id"),
            _local_name(F.col("o")).alias("label"),
        )
        .distinct()
    )
    return ids.join(labels, "node_id", "left")


def pg_properties(triples: DataFrame) -> DataFrame:
    """Literal triples as node properties:
    ``(node_id, key, value, datatype, lang)`` — key is the predicate
    local name; datatype keeps the full IRI so typed round-trips stay
    possible."""
    return triples.filter(F.col("o_kind") == KIND_LITERAL).select(
        F.col("s").alias("node_id"),
        _local_name(F.col("p")).alias("key"),
        F.col("o").alias("value"),
        F.col("o_datatype").alias("datatype"),
        F.col("o_lang").alias("lang"),
    )


def pg_edges(triples: DataFrame) -> DataFrame:
    """IRI/blank-object triples (minus rdf:type) as edges:
    ``(src, edge_type, dst)`` — edge_type is the predicate local
    name."""
    return triples.filter(
        (F.col("o_kind") != KIND_LITERAL) & (F.col("p") != RDF_TYPE)
    ).select(
        F.col("s").alias("src"),
        _local_name(F.col("p")).alias("edge_type"),
        F.col("o").alias("dst"),
    )


def to_property_graph(
    triples: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(nodes, properties, edges) — the three relational faces of the
    projection (see the per-function docs)."""
    return pg_nodes(triples), pg_properties(triples), pg_edges(triples)


def write_graphml(
    triples: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Single-file GraphML export for INTERCHANGE-SIZED graphs (the
    header/footer force one partition — use the relational faces above
    for bulk sinks).  Node labels and properties become GraphML
    ``<data>`` entries; multi-valued keys keep the last value (GraphML
    has single-valued keys)."""
    import xml.sax.saxutils as su

    def attr(v):
        # quoteattr escapes quotes AND emits character references for
        # \n/\r/\t (XML 1.0 attribute-value normalization would
        # otherwise eat them — the rdfxml-encoder lesson)
        return su.quoteattr(v)

    def content(v):
        # element content: escape markup, and carriage returns as
        # character references (line-ending normalization eats raw \r)
        return su.escape(v).replace("\r", "&#13;")

    nodes, props, edges = to_property_graph(triples)
    rows_n = nodes.groupBy("node_id").agg(
        F.max("label").alias("label"))
    rows_p = props.groupBy("node_id", "key").agg(
        F.max("value").alias("value"))
    n_local = {r["node_id"]: r for r in rows_n.collect()}
    p_local: dict[str, dict[str, str]] = {}
    for r in rows_p.collect():
        p_local.setdefault(r["node_id"], {})[r["key"]] = r["value"]
    keys = sorted({k for ps in p_local.values() for k in ps})
    out = ['<?xml version="1.0" encoding="utf-8"?>',
           '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">',
           '  <key id="label" for="node" attr.name="label" '
           'attr.type="string"/>']
    for k in keys:
        out.append(
            f'  <key id={attr(k)} for="node" '
            f'attr.name={attr(k)} attr.type="string"/>')
    out.append('  <graph edgedefault="directed">')
    for nid in sorted(n_local):
        r = n_local[nid]
        out.append(f"    <node id={attr(nid)}>")
        if r["label"] is not None:
            out.append(
                f'      <data key="label">{content(r["label"])}</data>')
        for k, v in sorted(p_local.get(nid, {}).items()):
            out.append(
                f"      <data key={attr(k)}>{content(v)}</data>")
        out.append("    </node>")
    for i, r in enumerate(sorted(
        edges.collect(), key=lambda e: (e["src"], e["edge_type"], e["dst"])
    )):
        out.append(
            f'    <edge id="e{i}" source={attr(r["src"])} '
            f'target={attr(r["dst"])} '
            f'label={attr(r["edge_type"])}/>')
    out.append("  </graph>")
    out.append("</graphml>")
    sc = triples.sparkSession
    fastpath.local_frame(
        sc, [("\n".join(out),)], "value string"
    ).coalesce(1).write.mode(mode).text(path)
