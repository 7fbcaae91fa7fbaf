"""Fast-path soundness: the pyarrow line parser must agree with the exact
document parser on EVERY conformance input (it may route lines to the slow
path, but never produce different triples or different error/success
outcomes)."""

import json
import os

import pyarrow as pa
import pytest

from rdf_spark import arrow_fast
from rdf_spark.parsing import ParseError, parse_nquads, parse_ntriples

FIXDIR = os.path.join(os.path.dirname(__file__), "fixtures")


def _cases(suite):
    with open(os.path.join(FIXDIR, suite + ".jsonl"), encoding="utf-8") as f:
        return [json.loads(line) for line in f]


def _expected(doc, parse_doc):
    try:
        return sorted(tuple(r) for r in parse_doc(doc)), False
    except ParseError:
        return None, True


@pytest.mark.parametrize("suite,parse_doc", [
    ("ntriples", parse_ntriples), ("nquads", parse_nquads),
])
def test_arrow_fast_path_equivalence(suite, parse_doc):
    for c in _cases(suite):
        doc = c["input"]
        exp, doc_err = _expected(doc, parse_doc)
        res = arrow_fast.parse_lines_arrow(pa.array(doc.split("\n")), fmt=suite)
        n_err = len(res) - res.column("err").null_count
        ok = res.filter(res.column("err").is_null()).drop_columns(["err"])
        rows = sorted(tuple(r.values()) for r in ok.to_pylist())
        if doc_err:
            assert n_err > 0, c["name"]
        else:
            assert n_err == 0 and rows == exp, c["name"]
