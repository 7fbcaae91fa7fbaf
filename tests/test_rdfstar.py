"""RDF-star (Turtle-star / N-Triples-star / N-Quads-star) decode.

Quoted triples are represented by the RDF-1.1-compatible reification
expansion (parsing._QtMinter): ground quoted triples mint the globally
stable ``urn:rdfstar:<md5>`` statement IRI; blank-containing ones mint
a document-scoped ``_:qt<md5>`` blank node.  No reference analogue —
/root/reference is RDF 1.1 only (rdf.go:14-22); `<<` was a lex error
there and stays one for every input the conformance suites cover."""
import pytest

from rdf_spark.parsing import (
    RDF_OBJECT,
    RDF_PREDICATE,
    RDF_STATEMENT,
    RDF_SUBJECT,
    ParseError,
    TurtleParser,
    parse_nquads,
    parse_ntriples,
)
from rdf_spark.terms import RDF_TYPE, XSD_DECIMAL, XSD_STRING


def _ttl(doc):
    return TurtleParser(doc).parse_all()


def _reif_preds(rows, node):
    return {r[2] for r in rows if r[0] == node}


class TestNTriplesStar:
    def test_quoted_subject_expands_once(self):
        rows = parse_ntriples(
            '<< <urn:s> <urn:p> "v" >> <urn:conf> "0.9" .\n'
            '<< <urn:s> <urn:p> "v" >> <urn:src> <urn:page> .\n'
        )
        stmt = [r for r in rows if r[3] == RDF_STATEMENT]
        assert len(stmt) == 1
        node = stmt[0][0]
        assert node.startswith("urn:rdfstar:") and stmt[0][1] == 1
        assert _reif_preds(rows, node) == {
            RDF_TYPE, RDF_SUBJECT, RDF_PREDICATE, RDF_OBJECT,
            "urn:conf", "urn:src",
        }
        # the object reification row keeps the literal's metadata
        [orow] = [r for r in rows if r[2] == RDF_OBJECT]
        assert (orow[3], orow[4], orow[5]) == ("v", 2, XSD_STRING)

    def test_quoted_object(self):
        rows = parse_ntriples(
            "<urn:a> <urn:saw> << <urn:s> <urn:p> <urn:o> >> .\n")
        [base] = [r for r in rows if r[0] == "urn:a"]
        assert base[3].startswith("urn:rdfstar:") and base[4] == 1

    def test_blank_inside_makes_blank_statement_node(self):
        rows = parse_ntriples(
            "<< _:x <urn:p> <urn:o> >> <urn:src> <urn:page> .\n")
        [stmt] = [r for r in rows if r[3] == RDF_STATEMENT]
        assert stmt[0].startswith("_:qt") and stmt[1] == 0

    def test_nested_quoted(self):
        rows = parse_ntriples(
            "<< << <urn:s> <urn:p> <urn:o> >> <urn:q> <urn:z> >> "
            "<urn:conf> \"1\" .\n")
        stmts = [r for r in rows if r[3] == RDF_STATEMENT]
        assert len(stmts) == 2
        inner = [r for r in rows if r[2] == RDF_SUBJECT
                 and r[3].startswith("urn:rdfstar:")]
        assert len(inner) == 1  # outer's subject IS the inner node

    def test_determinism_across_documents(self):
        a = parse_ntriples('<< <urn:s> <urn:p> "v" >> <urn:c> "1" .\n')
        b = parse_ntriples('<< <urn:s> <urn:p> "v" >> <urn:c> "2" .\n')
        assert a[0][0] == b[0][0]  # same ground fact, same IRI

    def test_malformed(self):
        for bad in [
            "<< <urn:s> <urn:p> . \n",
            "<< <urn:s> <urn:p> <urn:o> <urn:g> >> <urn:q> <urn:z> .\n",
            "<urn:s> << <urn:a> <urn:b> <urn:c> >> <urn:o> .\n",
            "<urn:s> <urn:p> <urn:o> >> .\n",
        ]:
            with pytest.raises(ParseError):
                parse_ntriples(bad)


class TestNQuadsStar:
    def test_reification_lands_in_quad_graph(self):
        rows = parse_nquads(
            '<< <urn:s> <urn:p> <urn:o> >> <urn:c> "1" <urn:g1> .\n')
        assert {r[7] for r in rows} == {"urn:g1"}
        assert len(rows) == 5

    def test_second_graph_reuses_node(self):
        rows = parse_nquads(
            '<< <urn:s> <urn:p> <urn:o> >> <urn:c> "1" <urn:g1> .\n'
            '<< <urn:s> <urn:p> <urn:o> >> <urn:c> "2" <urn:g2> .\n'
        )
        stmts = [r for r in rows if r[3] == RDF_STATEMENT]
        assert len(stmts) == 1 and stmts[0][7] == "urn:g1"
        g2 = [r for r in rows if r[7] == "urn:g2"]
        assert len(g2) == 1 and g2[0][0] == stmts[0][0]


class TestTurtleStar:
    def test_quoted_with_pnames_and_shorthand(self):
        rows = _ttl("@prefix ex: <urn:ex:> .\n"
                    "<< ex:s a ex:T >> ex:conf 0.9 .\n")
        [stmt] = [r for r in rows if r[3] == RDF_STATEMENT]
        [prow] = [r for r in rows if r[2] == RDF_PREDICATE]
        assert prow[3] == RDF_TYPE
        [conf] = [r for r in rows if r[2] == "urn:ex:conf"]
        assert (conf[0], conf[5]) == (stmt[0], XSD_DECIMAL)

    def test_annotation_asserts_base_triple(self):
        rows = _ttl('@prefix ex: <urn:ex:> .\n'
                    'ex:s ex:p "v" {| ex:src ex:page ; ex:conf 0.9 |} .\n')
        assert ("urn:ex:s", 1, "urn:ex:p", "v", 2, XSD_STRING, None) in rows
        [stmt] = [r for r in rows if r[3] == RDF_STATEMENT]
        assert _reif_preds(rows, stmt[0]) == {
            RDF_TYPE, RDF_SUBJECT, RDF_PREDICATE, RDF_OBJECT,
            "urn:ex:src", "urn:ex:conf",
        }

    def test_annotation_then_more_objects(self):
        rows = _ttl('@prefix ex: <urn:ex:> .\n'
                    'ex:s ex:p "v" {| ex:c 1 |} , "w" ; ex:q "z" .\n')
        plain = [(r[0], r[2], r[3]) for r in rows
                 if not r[0].startswith("urn:rdfstar:")]
        assert ("urn:ex:s", "urn:ex:p", "w") in plain
        assert ("urn:ex:s", "urn:ex:q", "z") in plain

    def test_annotation_matches_quoted_node(self):
        a = _ttl('<urn:s> <urn:p> "v" {| <urn:c> "1" |} .\n')
        b = _ttl('<< <urn:s> <urn:p> "v" >> <urn:c> "1" .\n')
        na = [r for r in a if r[3] == RDF_STATEMENT][0][0]
        nb = [r for r in b if r[3] == RDF_STATEMENT][0][0]
        assert na == nb

    def test_nested_annotation(self):
        rows = _ttl('<urn:s> <urn:p> "v" {| <urn:q> "z" '
                    '{| <urn:r> "y" |} |} .\n')
        stmts = [r for r in rows if r[3] == RDF_STATEMENT]
        assert len(stmts) == 2

    def test_quoted_subject_of_statement(self):
        rows = _ttl("<< <urn:s> <urn:p> <urn:o> >> <urn:c> <urn:z> .\n")
        [c] = [r for r in rows if r[2] == "urn:c"]
        assert c[0].startswith("urn:rdfstar:")

    def test_malformed(self):
        for bad in [
            '<urn:s> <urn:p> "v" {| <urn:q> "z" . |} .\n',   # dot inside
            '<urn:s> <urn:p> "v" |} .\n',                    # stray close
            "<< [] <urn:p> <urn:o> >> <urn:c> <urn:z> .\n",  # anon inside
            "<< (1) <urn:p> <urn:o> >> <urn:c> <urn:z> .\n", # coll inside
            "<< <urn:s> <urn:p> <urn:o> > <urn:c> <urn:z> .\n",
        ]:
            with pytest.raises(ParseError):
                _ttl(bad)


class TestSparkDecode:
    """Star docs flow through the document decoders; the flat-Turtle
    arrow fast path must not claim `<<` lines (scheme-anchored IRI
    class) — differential vs the exact parser."""

    def test_turtle_star_via_decoder(self, spark):
        from rdf_spark.sources import parse_documents

        docs = spark.createDataFrame(
            [("u1", '<urn:s> <urn:p> "v" {| <urn:conf> "0.9" |} .')],
            "url string, text string")
        out = parse_documents(docs, fmt="turtle").collect()
        assert [r for r in out if r.err is not None] == []
        assert len(out) == 6  # base + 4 reification + annotation
        stmt = [r.s for r in out if r.o == RDF_STATEMENT][0]
        assert {r.s for r in out} == {"urn:s", stmt}

    def test_nt_star_via_line_reader(self, spark):
        from rdf_spark.sources import parse_lines_df

        lines = spark.createDataFrame(
            [('<< <urn:s> <urn:p> <urn:o> >> <urn:conf> "1" .',)],
            "value string")
        out = parse_lines_df(lines, fmt="ntriples").collect()
        assert [r for r in out if r.err is not None] == []
        assert len(out) == 5

    def test_nt_star_documents_keep_reification_per_doc(self, spark):
        """Two documents in one batch quote the same blank-node fact:
        after skolemization each document's statement node has its own
        four reification rows (the minter never spans two urls)."""
        from rdf_spark import canonical
        from rdf_spark.sources import parse_documents

        text = '<< _:a <http://p> <http://o> >> <http://c> "1" .\n'
        docs = spark.createDataFrame(
            [("u1", text), ("u2", text)], "url string, text string").coalesce(1)
        out = canonical.skolemize(
            parse_documents(docs, fmt="ntriples")).collect()
        assert [r for r in out if r.err is not None] == []
        stmts = {r.url: r.s for r in out if r.o == RDF_STATEMENT}
        assert set(stmts) == {"u1", "u2"} and stmts["u1"] != stmts["u2"]
        for url, node in stmts.items():
            reif = [r for r in out if r.s == node and r.p != "http://c"]
            assert len(reif) == 4 and {r.url for r in reif} == {url}


_TRIPLE_DDL = ("s string, s_kind tinyint, p string, o string, "
               "o_kind tinyint, o_datatype string, o_lang string")


class TestReviewRegressions:
    """Fixes from the round-5 session code review."""

    def test_trig_star_emits_quads(self):
        from rdf_spark.parsing import parse_trig

        rows = parse_trig(
            "<urn:g> { << <urn:s> <urn:p> <urn:o> >> <urn:c> \"1\" . }\n"
            "<urn:x> <urn:y> \"z\" .\n")
        assert all(len(r) == 9 for r in rows)
        reif = [r for r in rows if r[3] == RDF_STATEMENT]
        assert len(reif) == 1 and reif[0][7] == "urn:g"
        # annotation form too, in a named block
        rows = parse_trig(
            '<urn:g2> { <urn:s> <urn:p> "v" {| <urn:c> 1 |} . }\n')
        assert all(len(r) == 9 for r in rows)
        assert {r[7] for r in rows} == {"urn:g2"}

    def test_trig_star_via_decoder_quarantine(self, spark):
        from rdf_spark.sources import parse_documents

        docs = spark.createDataFrame(
            [("u1", "<urn:g> { << <urn:s> <urn:p> <urn:o> >> "
                    '<urn:c> "1" . }')],
            "url string, text string")
        out = parse_documents(docs, fmt="trig").collect()
        assert [r for r in out if r.err is not None] == []
        assert len(out) == 5

    def test_deep_nesting_stays_reified_lossless(self, spark):
        from rdf_spark.rdfstar import encode_ntriples_star

        doc = "<urn:s> <urn:p> <urn:o>"
        for i in range(5):
            doc = f"<< {doc} >> <urn:q{i}> <urn:z{i}>"
        rows = TurtleParser(doc + " .\n").parse_all()
        df = spark.createDataFrame(rows, _TRIPLE_DDL)
        lines = [
            r.value
            for r in encode_ntriples_star(df, max_depth=3).collect()
        ]
        back = parse_ntriples("\n".join(lines) + "\n")
        assert set(map(tuple, back)) == set(map(tuple, rows))

    def test_line_parallel_shares_minter_per_batch(self):
        import pyarrow as pa

        from rdf_spark.arrow_fast import parse_lines_arrow

        lines = pa.array([
            '<< <urn:s> <urn:p> "v" >> <urn:c> "1" .',
            '<< <urn:s> <urn:p> "v" >> <urn:d> "2" .',
        ])
        tbl = parse_lines_arrow(lines, fmt="ntriples")
        assert len(tbl) == 6  # 4 reification rows once + 2 annotations

    def test_hand_reified_iri_keeps_identity(self, spark):
        from rdf_spark.rdfstar import encode_ntriples_star

        rows = [
            ("http://ex/st1", 1, RDF_TYPE, RDF_STATEMENT, 1, None, None),
            ("http://ex/st1", 1, RDF_SUBJECT, "urn:a", 1, None, None),
            ("http://ex/st1", 1, RDF_PREDICATE, "urn:b", 1, None, None),
            ("http://ex/st1", 1, RDF_OBJECT, "urn:c", 1, None, None),
            ("http://ex/st1", 1, "urn:conf", "0.9", 2, XSD_STRING, None),
        ]
        df = spark.createDataFrame(rows, _TRIPLE_DDL)
        lines = [r.value for r in encode_ntriples_star(df).collect()]
        assert not any("<<" in l for l in lines)  # identity preserved
        assert set(map(tuple, parse_ntriples("\n".join(lines) + "\n"))) \
            == set(map(tuple, rows))
        folded = [
            r.value
            for r in encode_ntriples_star(df, fold="all").collect()
        ]
        assert any("<< <urn:a> <urn:b> <urn:c> >>" in l for l in folded)

    def test_annotation_on_collection_member_rejected(self):
        with pytest.raises(ParseError):
            TurtleParser(
                "<urn:s> <urn:p> ( <urn:a> {| <urn:q> 1 |} ) .\n"
            ).parse_all()

    def test_underscore_qt_vars_allowed_except_generated(self, spark):
        from rdf_spark.sparql import SparqlError, sparql_select

        df = spark.createDataFrame(
            [("urn:s", 1, "urn:p", "5", 2, None, None)], _TRIPLE_DDL)
        got = sparql_select(
            df, "SELECT ?_qty WHERE { ?s <urn:p> ?_qty }").collect()
        assert [r._qty for r in got] == ["5"]
        with pytest.raises(SparqlError):
            sparql_select(df, "SELECT ?_qt7 WHERE { ?s <urn:p> ?_qt7 }")


class TestStarEncode:
    """encode_ntriples_star: reification → << >> folding, round-trip."""

    def _df(self, spark, docs):
        rows = []
        for d in docs:
            rows.extend(TurtleParser(d).parse_all())
        return rows, spark.createDataFrame(rows, _TRIPLE_DDL)

    def _lines(self, df):
        from rdf_spark.rdfstar import encode_ntriples_star

        return [r.value for r in encode_ntriples_star(df).collect()]

    def test_round_trip_identity(self, spark):
        rows, df = self._df(spark, [
            '<urn:s> <urn:p> "v" {| <urn:src> <urn:page> ; '
            "<urn:conf> 0.9 |} .\n",
            '<< <urn:a> <urn:b> <urn:c> >> <urn:q> "z"@en .\n',
            '<< << <urn:s> <urn:p> "v" >> <urn:q> <urn:z> >> '
            '<urn:meta> "m" .\n',
            '<urn:x> <urn:y> "plain" .\n',
        ])
        lines = self._lines(df)
        reparsed = parse_ntriples("\n".join(lines) + "\n")
        # set semantics: the doc-1/doc-3 shared quote dedups on encode
        assert set(map(tuple, reparsed)) == set(map(tuple, rows))
        assert len(reparsed) == len(set(map(tuple, rows)))

    def test_folds_to_quoted_syntax(self, spark):
        _, df = self._df(
            spark, ['<< <urn:a> <urn:b> <urn:c> >> <urn:q> "z" .\n'])
        lines = self._lines(df)
        assert lines == ['<< <urn:a> <urn:b> <urn:c> >> <urn:q> "z" .']

    def test_unreferenced_statement_not_erased(self, spark):
        rows, _ = self._df(
            spark, ['<< <urn:a> <urn:b> <urn:c> >> <urn:q> "z" .\n'])
        bare = [r for r in rows if r[2] != "urn:q"]
        df = spark.createDataFrame(bare, _TRIPLE_DDL)
        lines = self._lines(df)
        assert len(lines) == 4
        assert set(map(tuple, parse_ntriples("\n".join(lines) + "\n"))) \
            == set(map(tuple, bare))

    def test_conflicting_parts_disqualify(self, spark):
        rows, _ = self._df(
            spark, ['<< <urn:a> <urn:b> <urn:c> >> <urn:q> "z" .\n'])
        # second, CONFLICTING rdf:object for the same node
        node = rows[0][0]
        rows = rows + [(node, 1, RDF_OBJECT, "urn:other", 1, None, None)]
        df = spark.createDataFrame(rows, _TRIPLE_DDL)
        lines = self._lines(df)
        assert not any("<<" in l for l in lines)
        assert set(map(tuple, parse_ntriples("\n".join(lines) + "\n"))) \
            == set(map(tuple, rows))

    def test_plain_graph_untouched(self, spark):
        rows, df = self._df(spark, [
            '<urn:x> <urn:y> "plain"@en .\n<urn:x> <urn:z> 4 .\n'])
        lines = self._lines(df)
        assert sorted(lines) == sorted([
            '<urn:x> <urn:y> "plain"@en .',
            '<urn:x> <urn:z> "4"^^<http://www.w3.org/2001/XMLSchema'
            "#integer> .",
        ])

    def test_sparql_star_patterns(self, spark):
        from rdf_spark.sparql import SparqlError, sparql_select

        # ONE document: a store is a deduped triple SET at query time
        # (two docs quoting the same fact yield duplicate reification
        # rows until dedup_triples — bag semantics would multiply)
        rows = TurtleParser(
            '<urn:o1> <urn:p> "10" {| <urn:src> <urn:cA> |} .\n'
            '<urn:o2> <urn:p> "20" {| <urn:src> <urn:cB> |} .\n'
            '<urn:a> <urn:saw> << <urn:o1> <urn:p> "10" >> .\n'
        ).parse_all()
        df = spark.createDataFrame(rows, _TRIPLE_DDL)
        got = sparql_select(df, """
            SELECT ?s ?v ?src WHERE {
                << ?s <urn:p> ?v >> <urn:src> ?src
            }""").orderBy("s").collect()
        assert [(r.s, r.v, r.src) for r in got] == [
            ("urn:o1", "10", "urn:cA"), ("urn:o2", "20", "urn:cB")]
        # quoted pattern in object position, ground inner terms
        got = sparql_select(df, """
            SELECT ?w WHERE { ?w <urn:saw> << <urn:o1> <urn:p> "10" >> }
        """).collect()
        assert [r.w for r in got] == ["urn:a"]
        # internal ?_qt vars never leak into SELECT *
        got = sparql_select(df, """
            SELECT * WHERE { << ?s <urn:p> ?v >> <urn:src> ?src }
        """)
        assert sorted(got.columns) == ["s", "src", "v"]
        # rejected positions
        for q in [
            "SELECT ?s WHERE { ?s << ?a ?b ?c >> ?o }",
            "SELECT ?_qt0 WHERE { ?s ?p ?_qt0 }",
        ]:
            with pytest.raises(SparqlError):
                sparql_select(df, q)
        from rdf_spark.sparql import sparql_construct

        with pytest.raises(SparqlError):
            sparql_construct(
                df,
                "CONSTRUCT { << ?s ?p ?o >> <urn:x> <urn:y> } "
                "WHERE { ?s ?p ?o }",
            )

    def test_convert_registry(self, spark, tmp_path):
        from rdf_spark.convert import write_rdf

        _, df = self._df(
            spark, ['<< <urn:a> <urn:b> <urn:c> >> <urn:q> "z" .\n'])
        out = str(tmp_path / "star")
        write_rdf(df, out, "ntriples-star")
        import glob

        text = "".join(
            open(f).read() for f in glob.glob(out + "/part-*"))
        assert "<< <urn:a> <urn:b> <urn:c> >>" in text


class TestStarFuzz:
    """Derandomized generative soak: random star documents round-trip
    through parse → encode_ntriples_star → parse; random mutations
    never escape ParseError."""

    @staticmethod
    def _gen_doc(rng):
        def iri():
            return f"<urn:x{rng.randrange(8)}>"

        def literal():
            base = f'"v{rng.randrange(8)}"'
            r = rng.random()
            if r < 0.2:
                return base + "@en"
            if r < 0.4:
                return base + "^^<urn:dt>"
            return base

        def term(depth, subject):
            if depth > 0 and rng.random() < 0.35:
                return quoted(depth - 1)
            if not subject and rng.random() < 0.4:
                return literal()
            return iri()

        def quoted(depth):
            return (f"<< {term(depth, True)} <urn:p{rng.randrange(4)}> "
                    f"{term(depth, False)} >>")

        lines = []
        for _ in range(rng.randrange(1, 6)):
            s = term(2, True)
            p = f"<urn:p{rng.randrange(4)}>"
            o = term(2, False)
            annot = ""
            if rng.random() < 0.4:
                annot = (f' {{| <urn:q{rng.randrange(3)}> {literal()} '
                         f'{"; <urn:r> " + iri() if rng.random() < 0.3 else ""} |}}')
            lines.append(f"{s} {p} {o}{annot} .")
        return "\n".join(lines) + "\n"

    def test_round_trip_soak(self, spark):
        import random

        from rdf_spark.rdfstar import encode_ntriples_star

        rng = random.Random(20260819)
        docs = [self._gen_doc(rng) for _ in range(60)]
        rows = []
        for d in docs:
            rows.extend(TurtleParser(d).parse_all())
        uniq = sorted(set(map(tuple, rows)))
        df = spark.createDataFrame(uniq, _TRIPLE_DDL)
        lines = [r.value for r in encode_ntriples_star(df).collect()]
        back = parse_ntriples("\n".join(lines) + "\n")
        assert sorted(set(map(tuple, back))) == uniq

    def test_mutation_soak_no_crash(self):
        import random

        rng = random.Random(42)
        base = self._gen_doc(rng)
        chars = "<>{}|" + '".'
        for i in range(300):
            doc = list(base)
            for _ in range(rng.randrange(1, 4)):
                pos = rng.randrange(len(doc))
                if rng.random() < 0.5:
                    doc[pos] = rng.choice(chars)
                else:
                    doc.insert(pos, rng.choice(chars))
            try:
                TurtleParser("".join(doc)).parse_all()
            except ParseError:
                pass  # the only acceptable failure mode


class TestQuarantineMemoIsolation:
    """Round-6 ADVICE fix: a malformed line that parses '<< s p o >>'
    before erroring must not poison the batch-shared _QtMinter memo —
    a later well-formed line quoting the same fact still expands its
    full reification."""

    def test_failed_line_does_not_eat_reification(self):
        import pyarrow as pa

        from rdf_spark.arrow_fast import parse_lines_arrow

        bad = '<< <urn:s> <urn:p> <urn:o> >> <urn:c> .'
        good = '<< <urn:s> <urn:p> <urn:o> >> <urn:c> "v" .'
        tbl = parse_lines_arrow(pa.array([bad, good]))
        rows = tbl.to_pylist()
        errs = [r for r in rows if r["err"] is not None]
        assert len(errs) == 1  # the malformed line quarantines alone
        ok = [r for r in rows if r["err"] is None]
        # 4 reification rows + 1 annotation row from the clean line
        assert len(ok) == 5
        assert sum(1 for r in ok if r["o"] and "Statement" in (r["o"] or "")) == 1

    def test_clean_then_failed_line_keeps_memo(self):
        import pyarrow as pa

        from rdf_spark.arrow_fast import parse_lines_arrow

        good = '<< <urn:s> <urn:p> <urn:o> >> <urn:c> "v" .'
        bad = '<< <urn:s> <urn:p> <urn:o> >> <urn:c> .'
        tbl = parse_lines_arrow(pa.array([good, bad]))
        rows = tbl.to_pylist()
        assert sum(1 for r in rows if r["err"] is not None) == 1
        assert sum(1 for r in rows if r["err"] is None) == 5
