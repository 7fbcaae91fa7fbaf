"""Run the positive W3C conformance corpus THROUGH the Spark document
source in one DataFrame — proves executor-side behavior (imports, Arrow
string transfer incl. astral-plane unicode, per-doc counter isolation),
not just the pure-python parsers."""

import json
import os

from pyspark.sql import functions as F

from rdf_spark import sources, terms

FIXDIR = os.path.join(os.path.dirname(__file__), "fixtures")


def _positive(suite):
    out = []
    with open(os.path.join(FIXDIR, suite + ".jsonl"), encoding="utf-8") as f:
        for line in f:
            c = json.loads(line)
            if not c["error"] and c["expected"]:
                out.append(c)
    return out


def test_turtle_corpus_via_spark(spark):
    cases = _positive("turtle")
    docs = spark.createDataFrame(
        [(c["name"], c["input"]) for c in cases], "url string, text string"
    )
    tri = sources.parse_documents(docs, fmt="turtle", base_from_url=False)
    got = {}
    for r in tri.collect():
        assert r.err is None, (r.url, r.err)
        got.setdefault(r.url, []).append(tuple(r)[1:8])
    for c in cases:
        exp = sorted(tuple(x) for x in c["expected"])
        assert sorted(got.get(c["name"], [])) == exp, c["name"]


def _line_corpus_via_spark(spark, suite, n_terms):
    cases = _positive(suite)
    docs = spark.createDataFrame(
        [(c["name"], c["input"]) for c in cases], "url string, text string"
    )
    tri = sources.parse_documents(docs, fmt=suite, base_from_url=False)
    got = {}
    for r in tri.collect():
        assert r.err is None, (r.url, r.err)
        got.setdefault(r.url, []).append(tuple(r)[1:1 + n_terms])
    for c in cases:
        exp = sorted(tuple(x) for x in c["expected"])
        assert sorted(got.get(c["name"], [])) == exp, c["name"]


def test_ntriples_corpus_via_spark(spark):
    _line_corpus_via_spark(spark, "ntriples", 7)


def test_nquads_corpus_via_spark(spark):
    _line_corpus_via_spark(spark, "nquads", 9)


def test_line_negative_corpus_via_spark(spark):
    """Every negative N-Triples/N-Quads case quarantines at least one
    line when parsed as a document."""
    for suite in ("ntriples", "nquads"):
        with open(os.path.join(FIXDIR, suite + ".jsonl"), encoding="utf-8") as f:
            cases = [c for c in map(json.loads, f) if c["error"]]
        docs = spark.createDataFrame(
            [(c["name"], c["input"]) for c in cases], "url string, text string"
        )
        tri = sources.parse_documents(docs, fmt=suite, base_from_url=False)
        with_err = {r.url for r in tri.filter(F.col("err").isNotNull()).collect()}
        assert with_err == {c["name"] for c in cases}, suite


def test_rdfxml_corpus_via_spark(spark):
    cases = []
    with open(os.path.join(FIXDIR, "rdfxml.jsonl"), encoding="utf-8") as f:
        for line in f:
            c = json.loads(line)
            if not c["error"] and c["expected_nt"] is not None:
                cases.append(c)
    # base differs per case; parse each with its own url=base (resolver uses it)
    docs = spark.createDataFrame(
        [(c["base"], c["input"]) for c in cases], "url string, text string"
    )
    tri = sources.parse_documents(docs, fmt="rdfxml", base_from_url=True)
    got = {}
    for r in tri.collect():
        assert r.err is None, (r.url, r.err)
        got.setdefault(r.url, []).append(
            terms.triple_nt_line(tuple(r)[1:8]) + "\n"
        )
    for c in cases:
        assert "".join(got.get(c["base"], [])) == c["expected_nt"], c["name"]
