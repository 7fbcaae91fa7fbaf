"""Spark sources: text/parquet → canonical triples DataFrames.

Maps the reference's streaming decoders (SURVEY.md §2.1) onto Spark scans:

* N-Triples / N-Quads are line-parallel (nt.go:22-87) and have ONE parser,
  :func:`rdf_spark.arrow_fast.parse_lines_arrow`: the RE2 fast path over
  each Arrow batch inside ``mapInArrow`` — a narrow (no-shuffle) stage —
  with the exact per-line tokenizer as fallback.  ``spark.read.text``
  splits files at arbitrary line boundaries; :func:`parse_documents`
  splits each document row into lines inside the batch and keeps its url.
* Turtle, TriG, JSON-LD and RDF/XML are document-scoped (multi-line
  constructs, stateful directives — ttl.go:100-138): the unit of
  parallelism is one document row, parsed by the exact tokenizer inside
  ``mapInPandas`` (flat Turtle documents take an Arrow fast path first).

Error handling: ``errors="quarantine"`` keeps an ``err`` column (null on
success) so one malformed page cannot kill a 10^12-document job; strict
mode raises, matching the reference's fail-fast DecodeAll (nt.go:91-100).
Line formats quarantine per line, document formats per document.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_spark import parsing, terms

LINE_FORMATS = ("ntriples", "nquads")
_TRIPLE_ERR_DDL = terms.TRIPLE_DDL + ", err string"
_QUAD_ERR_DDL = terms.QUAD_DDL + ", err string"
_DOC_TRIPLE_DDL = "url string, " + terms.TRIPLE_DDL + ", err string"
_DOC_QUAD_DDL = "url string, " + terms.QUAD_DDL + ", err string"


def _lines_parser(fmt: str, strict: bool, keyed: bool, split: bool):
    """Arrow-batch line parser over a ``value`` column (plus ``url`` when
    ``keyed``); with ``split`` each value is a whole document, split
    into lines here (rdf_spark.arrow_fast)."""
    import pyarrow as pa

    from rdf_spark import arrow_fast

    def parse_batches(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in it:
            lines = batch.column("value")
            urls = batch.column("url") if keyed else None
            if split:
                lines, doc_idx = arrow_fast.split_lines(lines)
                urls = urls.take(pa.array(doc_idx))
            tbl = arrow_fast.parse_lines_arrow(lines, fmt=fmt, urls=urls)
            if strict:
                n_err = len(tbl) - tbl.column("err").null_count
                if n_err:
                    bad = tbl.filter(tbl.column("err").is_valid()).column("err")[0]
                    raise parsing.ParseError(0, 0, str(bad))
            for out in tbl.combine_chunks().to_batches():
                if len(out):
                    yield out

    return parse_batches


def _parse_lines(df: DataFrame, fmt: str, errors: str, split: bool = False) -> DataFrame:
    keyed = "url" in df.columns
    if keyed:
        ddl = _DOC_QUAD_DDL if fmt == "nquads" else _DOC_TRIPLE_DDL
    else:
        ddl = _QUAD_ERR_DDL if fmt == "nquads" else _TRIPLE_ERR_DDL
    return df.mapInArrow(_lines_parser(fmt, errors == "strict", keyed, split), ddl)


def parse_lines_df(lines: DataFrame, fmt: str = "ntriples", errors: str = "quarantine") -> DataFrame:
    """Parse a DataFrame with a ``value`` string column of N-Triples/N-Quads
    lines into the canonical schema (+err) — the narrow vectorized stage
    every line-format reader shares.  A ``url`` column, if present, is
    kept in front and scopes quoted-triple statement nodes (see
    :func:`rdf_spark.arrow_fast.parse_lines_arrow`)."""
    return _parse_lines(lines, fmt, errors)


def read_ntriples(spark: SparkSession, path: str, errors: str = "quarantine") -> DataFrame:
    """Read N-Triples file(s) into the canonical triples schema (+err)."""
    return parse_lines_df(spark.read.text(path), "ntriples", errors)


def read_nquads(spark: SparkSession, path: str, errors: str = "quarantine") -> DataFrame:
    """Read N-Quads file(s) into the canonical quads schema (+err)."""
    return parse_lines_df(spark.read.text(path), "nquads", errors)


def _doc_parser(fmt: str, text_col: str, url_col: str, base_from_url: bool, strict: bool,
                fixed_base: str = ""):
    if fmt == "turtle":
        parse_one = parsing.parse_turtle
    elif fmt == "trig":
        parse_one = parsing.parse_trig
    elif fmt == "jsonld":
        from rdf_spark.jsonld import parse_jsonld

        parse_one = parse_jsonld
    elif fmt == "rdfxml":
        from rdf_spark.rdfxml import parse_rdfxml

        parse_one = parse_rdfxml
    else:
        raise ValueError("unsupported format: %s" % fmt)
    term_cols = terms.QUAD_COLS if fmt in ("trig", "jsonld") else terms.TRIPLE_COLS
    n_term = len(term_cols)

    def parse_docs(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url"] + term_cols + ["err"]
        for pdf in it:
            parts: list[pd.DataFrame] = []
            if fmt == "turtle" and len(pdf):
                # Arrow fast path: documents made entirely of flat
                # single-line statements skip the Python tokenizer the way
                # N-Triples lines do; everything else falls back per doc
                import pyarrow as pa

                from rdf_spark import arrow_fast

                tbl, fb = arrow_fast.parse_turtle_docs_arrow(
                    pa.array(pdf[url_col].astype(str)),
                    pa.array(pdf[text_col], type=pa.string()),
                )
                if len(tbl):
                    parts.append(tbl.to_pandas())
                pdf = pdf.loc[pdf.index[fb]]
            recs: list[tuple] = []
            for url, text in zip(pdf[url_col].astype(str), pdf[text_col]):
                if text is None:
                    continue
                base = url if base_from_url else fixed_base
                try:
                    rows = parse_one(text, base=base)
                except parsing.QUARANTINE_ERRORS as e:
                    if strict:
                        raise
                    recs.append((url,) + (None,) * n_term + (str(e),))
                    continue
                for r in rows:
                    recs.append((url,) + tuple(r) + (None,))
            if recs:
                parts.append(pd.DataFrame(recs, columns=cols))
            yield pd.concat(parts) if parts else pd.DataFrame(recs, columns=cols)

    return parse_docs


def parse_documents(
    df: DataFrame,
    fmt: str = "turtle",
    text_col: str = "text",
    url_col: str = "url",
    base_from_url: bool = True,
    errors: str = "quarantine",
    base: str = "",
) -> DataFrame:
    """Parse a DataFrame of documents into triples (narrow stage, no shuffle).

    The per-document blank-node counter restarts at ``_:b1`` for each row
    (ttl.go:16, SURVEY.md §4.3) — labels are only unique within a document;
    run :func:`rdf_spark.canonical.skolemize` before any cross-document
    merge.  ``fmt="trig"`` / ``fmt="jsonld"`` / ``fmt="nquads"`` yield the
    quad schema (graph, graph_kind).  ``fmt="ntriples"``/``"nquads"``
    split each document into lines and run the line parser with the
    document's url kept (quarantine is then per line, not per
    document); the line-parallel :func:`read_ntriples` /
    :func:`read_nquads` need no document rows at all.
    """
    if fmt in LINE_FORMATS:
        docs = df.select(
            F.col(url_col).cast("string").alias("url"), F.col(text_col).alias("value")
        )
        return _parse_lines(docs, fmt, errors, split=True)
    return df.mapInPandas(
        _doc_parser(fmt, text_col, url_col, base_from_url, errors == "strict", base),
        _DOC_QUAD_DDL if fmt in ("trig", "jsonld") else _DOC_TRIPLE_DDL,
    )
