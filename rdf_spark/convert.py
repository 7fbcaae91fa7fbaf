"""Format conversion — the distributed analogue of the reference's rdf2rdf
companion tool (cited in /root/reference/rdf.go:38): read any supported
serialization, write any supported serialization, at cluster scale.

Support matrix: decode NT/NQ/Turtle/TriG/JSON-LD/RDF-XML, encode all
six (the reference decodes 4 / encodes 3, rdf.go:14-22 — TriG, JSON-LD,
and the RDF/XML encoder exceed parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from rdf_spark import encoders, sources
from rdf_spark.ops import fastpath

DECODERS = {"ntriples", "nquads", "turtle", "trig", "jsonld", "rdfxml"}
ENCODERS = {"ntriples", "nquads", "turtle", "trig", "jsonld", "rdfxml",
            "ntriples-star"}


def read_rdf(spark: SparkSession, path: str, fmt: str, base: str = "",
             errors: str = "quarantine") -> DataFrame:
    """Read RDF file(s) of any supported format into the canonical schema.

    Line formats split at line boundaries (fully parallel, quarantined
    per line); document formats read whole files (one document per file).
    """
    if fmt == "ntriples":
        return sources.read_ntriples(spark, path, errors=errors)
    if fmt == "nquads":
        return sources.read_nquads(spark, path, errors=errors)
    return _read_with_url(spark, path, fmt, base, errors).drop("url")


def _read_with_url(spark: SparkSession, path: str, fmt: str, base: str,
                   errors: str) -> DataFrame:
    """:func:`read_rdf` keeping each row's source file as ``url`` — the
    document scope of its blank labels.  Line formats read
    ``spark.read.text`` with ``_metadata.file_path``, the same string as
    the whole-file reader's ``path``, so skolem IRIs do not depend on the
    format's reader."""
    if fmt not in DECODERS:
        raise ValueError(f"no decoder for format: {fmt}")
    if fmt in sources.LINE_FORMATS:
        lines = spark.read.text(path).select(
            "value", F.col("_metadata.file_path").alias("url"))
        return sources.parse_lines_df(lines, fmt, errors)
    docs = (
        spark.read.format("binaryFile")
        .load(path)
        .select(
            F.col("path").alias("url"),
            F.decode(F.col("content"), "utf-8").alias("text"),
        )
    )
    return sources.parse_documents(
        docs, fmt=fmt, base_from_url=not base, base=base, errors=errors
    )


def _ensure_graph_cols(df: DataFrame) -> DataFrame:
    """Add the default-graph columns when a triples DF feeds a quad sink."""
    if "graph" in df.columns:
        return df
    from rdf_spark import terms

    return df.withColumn("graph", F.lit(terms.DEFAULT_GRAPH)).withColumn(
        "graph_kind", F.lit(0).cast("tinyint")
    )


def write_rdf(df: DataFrame, path: str, fmt: str) -> int:
    """Write ``df`` in serialization ``fmt``; returns its row count.

    The count is a metric observed while ``df`` is read once, not a
    second action that would re-run ``df``'s plan.  It is reported by
    the first SQL execution over ``df`` and waits, with no timeout, for
    one: so each encoder reads ``df`` in exactly one SQL action, with
    ``df`` under no join that could prune it.  The N-Triples-star
    encoder reads its input in several joins and actions, so ``df`` is
    first materialized once (a local checkpoint, released once the write
    returns) and counted there."""
    if fmt not in ENCODERS:
        raise ValueError(f"no encoder for format: {fmt}")
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    if fmt == "ntriples":
        encoders.write_ntriples(df, path)
    elif fmt == "ntriples-star":
        # fold reification statements back into << >> quoted terms
        from rdf_spark.rdfstar import write_ntriples_star

        checkpoint = df.localCheckpoint(eager=True)
        try:
            write_ntriples_star(checkpoint, path)
        finally:
            fastpath.release(checkpoint, None)
    elif fmt == "nquads":
        encoders.write_nquads(_ensure_graph_cols(df), path)
    elif fmt == "jsonld":
        encoders.write_jsonld(df, path)
    elif fmt == "rdfxml":
        encoders.write_rdfxml(df, path)
    elif fmt == "trig":
        encoders.write_trig(_ensure_graph_cols(df), path)
    else:
        encoders.write_turtle(df, path)
    return obs.get["n"]


def convert(spark: SparkSession, in_path: str, in_fmt: str, out_path: str,
            out_fmt: str, base: str = "", skolemize: bool = True,
            infer: str | None = None, schema_path: str = "",
            schema_format: str = "turtle", resolve_sameas: bool = False,
            keep_sameas_links: bool = False,
            canonicalize: bool = False) -> int:
    """Convert between serializations; returns the triple count written
    (observed during the write: input is read and parsed once).

    ``infer="rdfs"`` materializes the ρdf closure between decode and
    encode (ops/reasoning.py) — the distributed analogue of
    ``riot --rdfs``; the ontology defaults to the input itself, or pass
    ``schema_path``/``schema_format`` to reason against an external
    vocabulary.  ``resolve_sameas=True`` rewrites owl:sameAs components
    to their canonical representative first (``keep_sameas_links``
    keeps the provenance triples).

    ``canonicalize=True`` (requires ``skolemize=False``) relabels blank
    nodes to their RDFC-1.0 canonical ``_:c14nN`` ids per input
    document (rdf_spark/canon.py) — the byte-reproducible variant of
    label preservation: two conversions of isomorphic inputs emit
    identical labels.  Like ``skolemize=False`` itself, it is meant for
    single-document conversions (canonical labels are per-document and
    would collide across merged documents; skolemization is the
    merge-safe mode).

    ``skolemize=True`` (default) rewrites blank labels to per-document
    skolem IRIs: blank labels are only unique within one input document
    (rdf.go:497-508), so merging many files without skolemization would
    collide ``_:b1`` across documents — every format keeps its source
    file as the document scope (line formats stay line-parallel and
    quarantine malformed lines one by one).  Pass False for
    single-document conversions that must preserve labels
    (reference-rdf2rdf behavior).
    """
    if canonicalize and skolemize:
        raise ValueError(
            "canonicalize rewrites blank labels in place — pass "
            "skolemize=False (--keep-blank-labels)"
        )
    parsed = _read_with_url(spark, in_path, in_fmt, base, "quarantine")
    good = parsed.filter(F.col("err").isNull()).drop("err")
    if skolemize:
        from rdf_spark import canonical

        good = canonical.skolemize(good)
    elif canonicalize:
        from rdf_spark.canon import canonicalize_blank_nodes

        good = canonicalize_blank_nodes(good, "url")
    good = good.drop("url")
    if resolve_sameas:
        from rdf_spark.ops.reasoning import sameas_resolve

        good = sameas_resolve(good, keep_links=keep_sameas_links)
    if infer in ("rdfs", "owl", "rdfs+owl"):
        from rdf_spark.ops.reasoning import owl_property_closure, rdfs_closure

        schema = None
        if schema_path:
            schema = read_rdf(spark, schema_path, schema_format).filter(
                F.col("err").isNull()
            ).drop("err")
        # property algebra first: inverse/symmetric/transitive edges
        # then feed rdfs7 inheritance and domain/range typing
        if infer in ("owl", "rdfs+owl"):
            good = owl_property_closure(good, schema=schema)
        if infer in ("rdfs", "rdfs+owl"):
            good = rdfs_closure(good, schema=schema)
    elif infer:
        raise ValueError(f"unknown inference profile: {infer}")
    return write_rdf(good, out_path, out_fmt)
