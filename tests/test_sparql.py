"""SPARQL SELECT subset compiler: feature coverage + parse-error cases."""

import pytest

from pyspark.sql import functions as F

from rdf_spark.sparql import SparqlError, sparql_select
from rdf_spark.terms import RDF_TYPE


@pytest.fixture(scope="module")
def tri(spark):
    rows = [
        ("urn:c1", RDF_TYPE, "urn:Customer"),
        ("urn:c2", RDF_TYPE, "urn:Customer"),
        ("urn:c3", RDF_TYPE, "urn:Customer"),
        ("urn:c1", "urn:name", "Alice"),
        ("urn:c2", "urn:name", "Bob"),
        ("urn:c3", "urn:name", "Ann"),
        ("urn:c1", "urn:bal", "10.5"),
        ("urn:c2", "urn:bal", "3"),
        ("urn:c1", "urn:knows", "urn:c2"),
        ("urn:c2", "urn:knows", "urn:c3"),
    ]
    return spark.createDataFrame(rows, "s string, p string, o string")


def _run(tri, q):
    return [tuple(r) for r in sparql_select(tri, q).collect()]


def test_bgp_join_and_a_sugar(tri):
    got = _run(tri, """
        SELECT ?n WHERE { ?c a <urn:Customer> . ?c <urn:name> ?n }
        ORDER BY ?n
    """)
    assert got == [("Alice",), ("Ann",), ("Bob",)]


def test_optional_left_join_and_bound(tri):
    got = dict(_run(tri, """
        SELECT ?n ?b WHERE {
            ?c <urn:name> ?n . OPTIONAL { ?c <urn:bal> ?b }
        }
    """))
    assert got == {"Alice": "10.5", "Bob": "3", "Ann": None}
    only_unbound = _run(tri, """
        SELECT ?n WHERE {
            ?c <urn:name> ?n . OPTIONAL { ?c <urn:bal> ?b }
            FILTER(!bound(?b))
        }
    """)
    assert only_unbound == [("Ann",)]


def test_numeric_vs_lexical_comparison(tri):
    # numeric: "3" < "10.5" as doubles; lexical: "10.5" < "3" as strings
    num = _run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n . ?c <urn:bal> ?b
            FILTER(?b > 5) }
    """)
    assert num == [("Alice",)]
    lex = _run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n . ?c <urn:bal> ?b
            FILTER(?b > "2") }
    """)
    assert lex == [("Bob",)]


def test_regex_or_not(tri):
    got = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n
            FILTER(regex(?n, "^A") || ?n = "Bob") }
    """))
    assert got == [("Alice",), ("Ann",), ("Bob",)]
    neg = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n FILTER(!regex(?n, "^A")) }
    """))
    assert neg == [("Bob",)]


def test_var_to_var_join_chain(tri):
    got = sorted(_run(tri, """
        SELECT ?a ?b WHERE {
            ?x <urn:knows> ?y . ?x <urn:name> ?a . ?y <urn:name> ?b
        }
    """))
    assert got == [("Alice", "Bob"), ("Bob", "Ann")]


def test_distinct_order_limit_offset(tri):
    got = _run(tri, """
        SELECT DISTINCT ?n WHERE { ?c <urn:name> ?n }
        ORDER BY DESC(?n) LIMIT 2 OFFSET 1
    """)
    assert got == [("Ann",), ("Alice",)]


def test_select_star(tri):
    df = sparql_select(tri, "SELECT * WHERE { ?c <urn:bal> ?b }")
    assert sorted(df.columns) == ["b", "c"]


def test_string_literal_object_pattern(tri):
    got = _run(tri, 'SELECT ?c WHERE { ?c <urn:name> "Alice" }')
    assert got == [("urn:c1",)]


@pytest.mark.parametrize("bad", [
    "SELECT WHERE { ?a <urn:p> ?b }",               # no vars
    "SELECT ?a { ?a <urn:p> ?b }",                  # missing WHERE
    "SELECT ?a WHERE { }",                          # empty group
    "SELECT ?a WHERE { ?a <urn:p> ?b . OPTIONAL { } }",
    "SELECT ?a WHERE { ?a <urn:p> ?b FILTER(?b ~ 2) }",
    "SELECT ?z WHERE { ?a <urn:p> ?b }",            # unbound select
    "SELECT ?a WHERE { ?a <urn:p> ?b } LIMIT 2 nonsense",
    'SELECT ?a WHERE { "lit" <urn:p> ?b }',         # literal subject
])
def test_parse_errors(tri, bad):
    with pytest.raises(SparqlError):
        sparql_select(tri, bad).collect()


def test_values_only_group(spark, tri):
    # a group containing ONLY a VALUES block must return the inline
    # bindings, not crash on df=None (ADVICE r3)
    got = sorted(_run(tri, """
        SELECT ?n WHERE { VALUES ?n { "Alice" "Zoe" } }
    """))
    assert got == [("Alice",), ("Zoe",)]


def test_string_escape_translation(spark):
    # \n in a query literal is a NEWLINE, not the letter n (ADVICE r3)
    rows = [("urn:s1", "urn:note", "a\nb"), ("urn:s2", "urn:note", "anb")]
    tri2 = spark.createDataFrame(rows, "s string, p string, o string")
    got = _run(tri2, 'SELECT ?s WHERE { ?s <urn:note> "a\\nb" }')
    assert got == [("urn:s1",)]
    got_tab = _run(
        spark.createDataFrame(
            [("urn:s3", "urn:note", "x\ty")], "s string, p string, o string"
        ),
        'SELECT ?s WHERE { ?s <urn:note> "x\\ty" }',
    )
    assert got_tab == [("urn:s3",)]
    # \uXXXX escapes resolve; unsupported escapes are parse errors
    got_u = _run(tri2, 'SELECT ?s WHERE { ?s <urn:note> "a\\u000Ab" }')
    assert got_u == [("urn:s1",)]
    with pytest.raises(SparqlError):
        _run(tri2, 'SELECT ?s WHERE { ?s <urn:note> "a\\qb" }')


def test_filter_only_optional_var_null_comparison(tri):
    # comparison over an unbound OPTIONAL var is NULL -> row filtered
    got = _run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n . OPTIONAL { ?c <urn:bal> ?b }
            FILTER(?b >= 0) }
    """)
    assert sorted(got) == [("Alice",), ("Bob",)]


# ---------------------------------------------------------------------------
# aggregates, GROUP BY, UNION
# ---------------------------------------------------------------------------


def test_group_by_count(tri):
    got = sorted(_run(tri, """
        SELECT ?n (COUNT(?k) AS ?deg) WHERE {
            ?c <urn:name> ?n . ?c <urn:knows> ?k
        } GROUP BY ?n
    """))
    assert got == [("Alice", 1), ("Bob", 1)]


def test_global_aggregate_count_star(tri):
    got = _run(tri, """
        SELECT (COUNT(*) AS ?n) WHERE { ?c a <urn:Customer> }
    """)
    assert got == [(3,)]


def test_count_var_skips_unbound(tri):
    # COUNT(?b) over an OPTIONAL var counts only bound solutions
    got = _run(tri, """
        SELECT (COUNT(?b) AS ?n) (COUNT(*) AS ?all) WHERE {
            ?c <urn:name> ?nm . OPTIONAL { ?c <urn:bal> ?b }
        }
    """)
    assert got == [(2, 3)]


def test_min_max_sum(tri):
    got = _run(tri, """
        SELECT (MIN(?b) AS ?lo) (MAX(?b) AS ?hi) (SUM(?b) AS ?total)
        WHERE { ?c <urn:bal> ?b }
    """)
    assert got == [("10.5", "3", 13.5)]  # MIN/MAX lexical, SUM numeric


def test_union_aligns_unbound_to_null(tri):
    got = sorted(_run(tri, """
        SELECT ?n ?k WHERE {
            { ?c <urn:name> ?n }
            UNION
            { ?c <urn:knows> ?k . ?c <urn:name> ?n }
        } ORDER BY ?n
    """), key=lambda t: (t[0], t[1] or ""))
    assert ("Alice", None) in got and ("Alice", "urn:c2") in got
    assert ("Ann", None) in got  # Ann knows nobody: only branch 1
    assert len(got) == 5


def test_union_with_group_by(tri):
    got = sorted(_run(tri, """
        SELECT ?n (COUNT(*) AS ?rows) WHERE {
            { ?c <urn:name> ?n } UNION { ?c <urn:name> ?n . ?c <urn:bal> ?b }
        } GROUP BY ?n
    """))
    assert got == [("Alice", 2), ("Ann", 1), ("Bob", 2)]


@pytest.mark.parametrize("bad", [
    "SELECT ?n (COUNT(?c) AS ?x) WHERE { ?c <urn:name> ?n }",  # ?n not grouped
    "SELECT (COUNT(?z) AS ?x) WHERE { ?c <urn:name> ?n }",     # unbound agg var
    "SELECT ?n WHERE { ?c <urn:name> ?n } GROUP BY ?n",        # no aggregate
    "SELECT (SUM(*) AS ?x) WHERE { ?c <urn:name> ?n }",        # * only for COUNT
    "SELECT * WHERE { { ?c <urn:name> ?n } UNION { } }",       # empty branch
])
def test_aggregate_union_errors(tri, bad):
    with pytest.raises(SparqlError):
        sparql_select(tri, bad).collect()


# ---------------------------------------------------------------------------
# CONSTRUCT / ASK
# ---------------------------------------------------------------------------


def test_construct_template(tri):
    from rdf_spark.sparql import sparql_construct

    out = sparql_construct(tri, """
        CONSTRUCT { ?c <urn:label> ?n . ?c a <urn:Person> }
        WHERE { ?c <urn:name> ?n }
    """)
    rows = {tuple(r) for r in out.collect()}
    assert ("urn:c1", "urn:label", "Alice") in rows
    assert ("urn:c1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "urn:Person") in rows
    assert len(rows) == 6  # 3 names x 2 template triples


def test_construct_drops_unbound_optional_triples(tri):
    from rdf_spark.sparql import sparql_construct

    out = sparql_construct(tri, """
        CONSTRUCT { ?c <urn:hasBal> ?b . ?c <urn:label> ?n }
        WHERE { ?c <urn:name> ?n . OPTIONAL { ?c <urn:bal> ?b } }
    """)
    rows = {tuple(r) for r in out.collect()}
    # 3 label triples always; hasBal only for the 2 docs with a balance
    assert sum(1 for r in rows if r[1] == "urn:label") == 3
    assert sum(1 for r in rows if r[1] == "urn:hasBal") == 2


def test_construct_feeds_select(tri):
    from rdf_spark.sparql import sparql_construct, sparql_select

    g2 = sparql_construct(
        tri, "CONSTRUCT { ?y <urn:knownBy> ?x } WHERE { ?x <urn:knows> ?y }"
    )
    back = sparql_select(g2, "SELECT ?w WHERE { <urn:c3> <urn:knownBy> ?w }")
    assert [r.w for r in back.collect()] == ["urn:c2"]


def test_ask(tri):
    from rdf_spark.sparql import sparql_ask

    assert sparql_ask(tri, 'ASK WHERE { ?c <urn:name> "Alice" }') is True
    assert sparql_ask(tri, 'ASK { ?c <urn:name> "Zed" }') is False
    assert sparql_ask(tri, """
        ASK WHERE { ?c <urn:bal> ?b FILTER(?b > 100) }
    """) is False


def test_construct_empty_template_rejected(tri):
    from rdf_spark.sparql import sparql_construct

    with pytest.raises(SparqlError):
        sparql_construct(tri, "CONSTRUCT { } WHERE { ?a <urn:p> ?b }")


def test_sparql_over_constructed_kg(spark):
    """Full-stack: crawl pages → fused KG pipeline → declarative SPARQL.
    Pages mentioning an entity are found via BGP + aggregate, and
    CONSTRUCT derives a co-mention graph from the store."""
    from rdf_spark import datagen, pipeline
    from rdf_spark.sparql import sparql_ask, sparql_construct, sparql_select

    store, _ = pipeline.build_shard_triples(
        datagen.pages(spark, 100), datagen.aliases(spark)
    )
    # mention counts per entity, straight off the materialized store
    counts = sparql_select(store, """
        SELECT ?e (COUNT(?page) AS ?n) WHERE {
            ?page <http://kg.example/vocab#mentions> ?e
        } GROUP BY ?e
    """).collect()
    assert counts and all(r.n >= 1 for r in counts)
    mention_total = sum(r.n for r in counts)
    direct = store.filter(
        F.col("p") == "http://kg.example/vocab#mentions"
    ).count()
    assert mention_total == direct

    # co-mention edges: two entities on the same page
    co = sparql_construct(store, """
        CONSTRUCT { ?a <urn:coMentionedWith> ?b } WHERE {
            ?page <http://kg.example/vocab#mentions> ?a .
            ?page <http://kg.example/vocab#mentions> ?b .
            FILTER(?a < ?b)
        }
    """)
    assert co.count() > 0
    assert sparql_ask(store, """
        ASK { ?p <http://kg.example/vocab#price> ?v }
    """) is True


# ---------------------------------------------------------------------------
# anchored property paths
# ---------------------------------------------------------------------------


def test_path_plus_forward(tri):
    got = sorted(r.x for r in sparql_select(
        tri, "SELECT ?x WHERE { <urn:c1> <urn:knows>+ ?x }").collect())
    assert got == ["urn:c2", "urn:c3"]  # transitive: c1→c2→c3


def test_path_star_includes_anchor(tri):
    got = sorted(r.x for r in sparql_select(
        tri, "SELECT ?x WHERE { <urn:c1> <urn:knows>* ?x }").collect())
    assert got == ["urn:c1", "urn:c2", "urn:c3"]


def test_path_reverse_anchor(tri):
    got = sorted(r.x for r in sparql_select(
        tri, "SELECT ?x WHERE { ?x <urn:knows>+ <urn:c3> }").collect())
    assert got == ["urn:c1", "urn:c2"]


def test_path_joins_with_bgp(tri):
    got = sorted(r.n for r in sparql_select(tri, """
        SELECT ?n WHERE { <urn:c1> <urn:knows>+ ?x . ?x <urn:name> ?n }
    """).collect())
    assert got == ["Ann", "Bob"]


def test_path_both_constants_exists(tri):
    from rdf_spark.sparql import sparql_ask

    assert sparql_ask(tri, "ASK { <urn:c1> <urn:knows>+ <urn:c3> }") is True
    assert sparql_ask(tri, "ASK { <urn:c3> <urn:knows>+ <urn:c1> }") is False


def test_path_cycle_terminates(spark):
    from rdf_spark.sparql import sparql_select as sq

    cyc = spark.createDataFrame(
        [("a", "urn:n", "b"), ("b", "urn:n", "c"), ("c", "urn:n", "a")],
        "s string, p string, o string",
    )
    got = sorted(r.x for r in sq(cyc, "SELECT ?x WHERE { <a> <urn:n>+ ?x }").collect())
    assert got == ["a", "b", "c"]  # '+' reaches the anchor via the cycle


def test_path_unanchored_closure(tri):
    # round-5: ?a <p>+ ?b compiles to the full transitive-closure pair
    # set (iterative squaring), no longer rejected
    got = sorted(_run(tri, "SELECT ?a ?b WHERE { ?a <urn:knows>+ ?b }"))
    assert got == [
        ("urn:c1", "urn:c2"), ("urn:c1", "urn:c3"), ("urn:c2", "urn:c3"),
    ]
    # '*' adds the zero-length solution for EVERY graph node (SPARQL §9.1)
    star = sorted(_run(tri, "SELECT ?a ?b WHERE { ?a <urn:knows>* ?b }"))
    nodes = {"urn:c1", "urn:c2", "urn:c3", "urn:Customer", "Alice", "Bob",
             "Ann", "10.5", "3"}
    assert sorted(set(star)) == sorted(
        {(n, n) for n in nodes} | set(got)
    )
    # restricting one endpoint by another pattern still joins correctly
    got2 = sorted(_run(tri, """
        SELECT ?n ?b WHERE { ?a <urn:knows>+ ?b . ?a <urn:name> ?n
            FILTER(?n = "Alice") }
    """))
    assert got2 == [("Alice", "urn:c2"), ("Alice", "urn:c3")]


def test_path_zero_or_one(tri):
    # round-5: elt? (ZeroOrOnePath §18.4) — zero-length plus the DIRECT
    # pairs only, never the transitive closure
    got = sorted(r.x for r in sparql_select(
        tri, "SELECT ?x WHERE { <urn:c1> <urn:knows>? ?x }").collect())
    assert got == ["urn:c1", "urn:c2"]  # NOT c3
    got_rev = sorted(r.x for r in sparql_select(
        tri, "SELECT ?x WHERE { ?x <urn:knows>? <urn:c3> }").collect())
    assert got_rev == ["urn:c2", "urn:c3"]
    # inside a sequence the optional hop extends each one-hop pair
    got_seq = sorted(r.x for r in sparql_select(
        tri, "SELECT ?x WHERE { <urn:c1> <urn:knows>/<urn:knows>? ?x }"
    ).collect())
    assert got_seq == ["urn:c2", "urn:c3"]


def test_path_zero_or_one_ask_and_var_var(tri):
    from rdf_spark.sparql import sparql_ask

    # zero-length: a bound anchor always reaches itself
    assert sparql_ask(tri, "ASK { <urn:c1> <urn:knows>? <urn:c1> }") is True
    assert sparql_ask(tri, "ASK { <urn:c1> <urn:knows>? <urn:c3> }") is False
    # var-var: identity over every graph node ∪ direct pairs
    got = sorted(_run(tri, "SELECT ?a ?b WHERE { ?a <urn:knows>? ?b }"))
    assert ("urn:c1", "urn:c2") in got and ("urn:c2", "urn:c3") in got
    assert ("urn:c1", "urn:c3") not in got  # no transitivity
    assert ("urn:Customer", "urn:Customer") in got  # object-only node


# ---------------------------------------------------------------------------
# PREFIX and VALUES
# ---------------------------------------------------------------------------


def test_prefix_expansion(tri):
    got = sorted(_run(tri, """
        PREFIX u: <urn:>
        SELECT ?n WHERE { ?c u:name ?n . ?c u:knows ?k }
    """))
    assert got == [("Alice",), ("Bob",)]


def test_prefix_in_path_and_construct(tri):
    from rdf_spark.sparql import sparql_construct

    got = sorted(r.x for r in sparql_select(tri, """
        PREFIX u: <urn:>
        SELECT ?x WHERE { <urn:c1> u:knows+ ?x }
    """).collect())
    assert got == ["urn:c2", "urn:c3"]
    out = sparql_construct(tri, """
        PREFIX u: <urn:>
        CONSTRUCT { ?c u:lbl ?n } WHERE { ?c u:name ?n }
    """)
    assert {r.p for r in out.collect()} == {"urn:lbl"}


def test_values_restricts_bindings(tri):
    got = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n . VALUES ?n { "Alice" "Ann" } }
    """))
    assert got == [("Alice",), ("Ann",)]


def test_values_introduces_bindings(spark, tri):
    got = sorted(_run(tri, """
        SELECT ?tag ?n WHERE { VALUES ?tag { "x" "y" } . ?c <urn:name> ?n
            FILTER(?n = "Bob") }
    """))
    assert got == [("x", "Bob"), ("y", "Bob")]


@pytest.mark.parametrize("bad", [
    "SELECT ?n WHERE { ?c ex:name ?n }",              # undeclared prefix
    "PREFIX ex <urn:> SELECT ?n WHERE { ?c ex:name ?n }",  # missing colon
    "SELECT ?n WHERE { ?c <urn:name> ?n . VALUES ?v { } }",
])
def test_prefix_values_errors(tri, bad):
    with pytest.raises(SparqlError):
        sparql_select(tri, bad).collect()


# ---------------------------------------------------------------------------
# EXISTS / NOT EXISTS / DESCRIBE
# ---------------------------------------------------------------------------


def test_filter_not_exists_anti_join(tri):
    # customers with NO balance triple
    got = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n
            FILTER NOT EXISTS { ?c <urn:bal> ?b } }
    """))
    assert got == [("Ann",)]


def test_filter_exists_semi_join(tri):
    got = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n
            FILTER EXISTS { ?c <urn:knows> ?k } }
    """))
    assert got == [("Alice",), ("Bob",)]


def test_exists_plan_is_semi_anti_join(tri):
    semi = sparql_select(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n
            FILTER EXISTS { ?c <urn:bal> ?b } }
    """)
    plan = semi._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan
    anti = sparql_select(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n
            FILTER NOT EXISTS { ?c <urn:bal> ?b } }
    """)
    assert "LeftAnti" in anti._jdf.queryExecution().optimizedPlan().toString()


def test_describe(tri):
    from rdf_spark.sparql import sparql_describe

    got = {tuple(r) for r in sparql_describe(tri, "DESCRIBE <urn:c2>").collect()}
    # c2 as subject (type, name, bal, knows->c3) and as object (c1 knows c2)
    assert ("urn:c2", "urn:name", "Bob") in got
    assert ("urn:c1", "urn:knows", "urn:c2") in got
    assert len(got) == 5
    multi = sparql_describe(tri, "PREFIX u: <urn:> DESCRIBE u:c1 u:c3")
    assert multi.count() > 5


def test_describe_errors(tri):
    from rdf_spark.sparql import sparql_describe

    with pytest.raises(SparqlError):
        sparql_describe(tri, "DESCRIBE").collect()
    with pytest.raises(SparqlError):
        sparql_describe(tri, "DESCRIBE ?x").collect()


def test_string_builtins(tri):
    got = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n FILTER(STRSTARTS(?n, "A")) }
    """))
    assert got == [("Alice",), ("Ann",)]
    got = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n
            FILTER(CONTAINS(LCASE(?n), "li") || STRENDS(?n, "ob")) }
    """))
    assert got == [("Alice",), ("Bob",)]
    got = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n FILTER(STRLEN(?n) = 3) }
    """))
    assert got == [("Ann",), ("Bob",)]
    got = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n
            FILTER(UCASE(?n) = "ALICE") }
    """))
    assert got == [("Alice",)]


@pytest.fixture(scope="module")
def trim(spark):
    """Triples WITH the canonical term-metadata columns (kinds, datatype,
    lang) — the store schema LANG()/DATATYPE() require."""
    from rdf_spark.terms import (
        KIND_IRI, KIND_LITERAL, XSD_INTEGER,
    )

    I, L = KIND_IRI, KIND_LITERAL
    rows = [
        ("urn:c1", I, "urn:name", "Alice", L, None, "en"),
        ("urn:c2", I, "urn:name", "Bob", L, None, None),
        ("urn:c3", I, "urn:name", "Ann", L, None, "fr"),
        ("urn:c1", I, "urn:age", "10", L, XSD_INTEGER, None),
        ("urn:c1", I, "urn:knows", "urn:c2", I, None, None),
    ]
    return spark.createDataFrame(
        rows,
        "s string, s_kind tinyint, p string, o string, o_kind tinyint, "
        "o_datatype string, o_lang string",
    )


def test_hash_functions_match_hashlib(tri):
    import hashlib

    for fn, h in (("MD5", hashlib.md5), ("SHA1", hashlib.sha1),
                  ("SHA256", hashlib.sha256), ("SHA384", hashlib.sha384),
                  ("SHA512", hashlib.sha512)):
        got = dict(_run(tri, f"""
            SELECT ?n ?h WHERE {{ ?c <urn:name> ?n . BIND({fn}(?n) AS ?h) }}
        """))
        assert got["Alice"] == h(b"Alice").hexdigest(), fn
        assert got["Bob"] == h(b"Bob").hexdigest(), fn
    # composable inside filters
    import hashlib as hl
    first = hl.md5(b"Ann").hexdigest()[0]
    got = sorted(_run(tri, f"""
        SELECT ?n WHERE {{ ?c <urn:name> ?n
            FILTER(STRSTARTS(MD5(?n), "{first}")) }}
    """))
    assert ("Ann",) in got


def test_encode_for_uri_matches_xpath(spark):
    """ENCODE_FOR_URI == XPath fn:encode-for-uri: RFC 3986 unreserved
    set kept bare, everything else UTF-8 percent-encoded uppercase-hex
    (urllib.parse.quote with its default unreserved safe-set is the
    reference implementation)."""
    from urllib.parse import quote

    vals = ["Les Misérables", "a~b*c+d", "100% legit", "~* %7E",
            "plain-safe_.~chars", "déjà vu?&=/#"]
    rows = [(f"u{i}", "urn:v", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "s string, p string, o string")
    got = dict(_run(df, """
        SELECT ?o ?e WHERE { ?s <urn:v> ?o . BIND(ENCODE_FOR_URI(?o) AS ?e) }
    """))
    for v in vals:
        assert got[v] == quote(v, safe=""), v


def test_sameterm_is_stricter_than_equality(spark):
    from rdf_spark.terms import KIND_IRI, KIND_LITERAL

    I, L = KIND_IRI, KIND_LITERAL
    rows = [
        ("urn:x1", I, "urn:p1", "v", L, None, None),
        ("urn:x1", I, "urn:p2", "v", L, None, None),      # same term
        ("urn:x2", I, "urn:p1", "v", L, None, "en"),
        ("urn:x2", I, "urn:p2", "v", L, None, None),      # lang differs
        ("urn:x3", I, "urn:p1", "urn:v", L, None, None),
        ("urn:x3", I, "urn:p2", "urn:v", I, None, None),  # kind differs
    ]
    df = spark.createDataFrame(
        rows,
        "s string, s_kind tinyint, p string, o string, o_kind tinyint, "
        "o_datatype string, o_lang string",
    )
    same = sorted(r.s for r in sparql_select(df, """
        SELECT ?s WHERE { ?s <urn:p1> ?a . ?s <urn:p2> ?b .
            FILTER(SAMETERM(?a, ?b)) }
    """).collect())
    assert same == ["urn:x1"]
    # plain lexical equality also keeps the lang- and kind-mismatches
    eq = sorted(r.s for r in sparql_select(df, """
        SELECT ?s WHERE { ?s <urn:p1> ?a . ?s <urn:p2> ?b .
            FILTER(?a = ?b) }
    """).collect())
    assert eq == ["urn:x1", "urn:x2", "urn:x3"]
    # negation keeps the non-identical pairs
    diff = sorted(r.s for r in sparql_select(df, """
        SELECT ?s WHERE { ?s <urn:p1> ?a . ?s <urn:p2> ?b .
            FILTER(!SAMETERM(?a, ?b)) }
    """).collect())
    assert diff == ["urn:x2", "urn:x3"]


def test_datetime_accessors(spark):
    rows = [
        ("e1", "urn:at", "2024-03-05T10:11:12"),
        ("e2", "urn:at", "1999-12-31T23:59:58Z"),
        ("e3", "urn:at", "2024-03-05T10:11:12+05:30"),
        ("e4", "urn:at", "not a date"),
    ]
    df = spark.createDataFrame(rows, "s string, p string, o string")
    got = {r.s: (r.y, r.mo, r.d, r.h, r.mi, r.sec) for r in sparql_select(df, """
        SELECT ?s ?y ?mo ?d ?h ?mi ?sec WHERE {
            ?s <urn:at> ?t .
            BIND(YEAR(?t) AS ?y)    BIND(MONTH(?t) AS ?mo)
            BIND(DAY(?t) AS ?d)     BIND(HOURS(?t) AS ?h)
            BIND(MINUTES(?t) AS ?mi) BIND(SECONDS(?t) AS ?sec)
        }
    """).collect()}
    assert got["e1"] == (2024, 3, 5, 10, 11, 12)
    assert got["e2"] == (1999, 12, 31, 23, 59, 58)  # Z == UTC session tz
    # unparseable lexical → NULL components (solution would drop through
    # any filter — SPARQL evaluation-error semantics)
    assert got["e4"] == (None,) * 6
    # TZ: the lexical's own suffix, "" when absent
    tz = {r.s: r.z for r in sparql_select(df, """
        SELECT ?s ?z WHERE { ?s <urn:at> ?t . BIND(TZ(?t) AS ?z) }
    """).collect()}
    assert tz == {"e1": "", "e2": "Z", "e3": "+05:30", "e4": ""}
    # components filter
    late = sorted(r.s for r in sparql_select(df, """
        SELECT ?s WHERE { ?s <urn:at> ?t . FILTER(HOURS(?t) >= 20) }
    """).collect())
    assert late == ["e2"]


def test_sameterm_requires_metadata_columns(tri):
    with pytest.raises(SparqlError, match="sameTerm"):
        sparql_select(tri, """
            SELECT ?a WHERE { ?c <urn:name> ?a . ?c <urn:name> ?b .
                FILTER(SAMETERM(?a, ?b)) }
        """).collect()


def test_bind_computed_column(tri):
    got = sorted(_run(tri, """
        SELECT ?ln WHERE { ?c <urn:name> ?n . BIND(LCASE(?n) AS ?ln) }
    """))
    assert got == [("alice",), ("ann",), ("bob",)]
    # BIND result usable in a later FILTER
    got = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n . BIND(STRLEN(?n) AS ?len)
            FILTER(?len = 3) }
    """))
    assert got == [("Ann",), ("Bob",)]
    # constant BIND
    got = _run(tri, """
        SELECT DISTINCT ?tag WHERE { ?c <urn:name> ?n . BIND("x" AS ?tag) }
    """)
    assert got == [("x",)]


def test_bind_rebind_rejected(tri):
    with pytest.raises(SparqlError, match="rebind"):
        sparql_select(tri, """
            SELECT ?n WHERE { ?c <urn:name> ?n . BIND(LCASE(?n) AS ?n) }
        """).collect()


def test_str_accessor(tri):
    got = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n FILTER(STR(?n) = "Alice") }
    """))
    assert got == [("Alice",)]


def test_lang_accessor(trim):
    got = sorted(_run(trim, """
        SELECT ?n WHERE { ?c <urn:name> ?n FILTER(LANG(?n) = "en") }
    """))
    assert got == [("Alice",)]
    # lang-less literal → "", IRI object → NULL (row dropped by = "")
    got = sorted(_run(trim, """
        SELECT ?o WHERE { <urn:c1> ?p ?o FILTER(LANG(?o) = "") }
    """))
    assert got == [("10",)]
    # BIND(LANG(...)) projects the tag itself
    got = sorted(_run(trim, """
        SELECT ?n ?l WHERE { ?c <urn:name> ?n . BIND(LANG(?n) AS ?l) }
    """))
    assert got == [("Alice", "en"), ("Ann", "fr"), ("Bob", "")]


def test_datatype_accessor(trim):
    from rdf_spark.terms import RDF_LANG_STRING, XSD_INTEGER, XSD_STRING

    got = dict(_run(trim, """
        SELECT ?o ?dt WHERE { <urn:c1> ?p ?o . BIND(DATATYPE(?o) AS ?dt) }
    """))
    assert got == {
        "Alice": RDF_LANG_STRING,  # lang literal
        "10": XSD_INTEGER,         # typed literal
        "urn:c2": None,            # IRI → unbound
    }
    got_plain = dict(_run(trim, """
        SELECT ?n ?dt WHERE { ?c <urn:name> ?n . BIND(DATATYPE(?n) AS ?dt)
            FILTER(LANG(?n) = "") }
    """))
    assert got_plain == {"Bob": XSD_STRING}
    got_f = sorted(_run(trim, f"""
        SELECT ?o WHERE {{ <urn:c1> ?p ?o
            FILTER(DATATYPE(?o) = "{XSD_INTEGER}") }}
    """))
    assert got_f == [("10",)]


def test_lang_requires_metadata_columns(tri):
    # plain s/p/o store → friendly error, not an AnalysisException
    with pytest.raises(SparqlError, match="metadata columns"):
        sparql_select(tri, """
            SELECT ?n WHERE { ?c <urn:name> ?n FILTER(LANG(?n) = "en") }
        """).collect()


def test_lang_requires_pattern_bound_var(trim):
    with pytest.raises(SparqlError, match="required triple pattern"):
        sparql_select(trim, """
            SELECT ?v WHERE { ?c <urn:name> ?n . VALUES ?v { "x" }
                FILTER(LANG(?v) = "") }
        """).collect()


def test_having_filters_groups(tri):
    got = _run(tri, """
        SELECT ?c (COUNT(?o) AS ?n) WHERE { ?c ?p ?o }
        GROUP BY ?c HAVING(?n > 2) ORDER BY ?c
    """)
    # urn:c1 has 4 triples (type,name,bal,knows); c2 has 4? c2: type,name,bal,knows → recount below
    assert all(n > 2 for _, n in got)
    full = dict(_run(tri, """
        SELECT ?c (COUNT(?o) AS ?n) WHERE { ?c ?p ?o } GROUP BY ?c
    """))
    assert dict(got) == {c: n for c, n in full.items() if n > 2}
    # HAVING over a group key works too
    got_k = _run(tri, """
        SELECT ?c (COUNT(?o) AS ?n) WHERE { ?c ?p ?o }
        GROUP BY ?c HAVING(?c = "urn:c1")
    """)
    assert [c for c, _ in got_k] == ["urn:c1"]


@pytest.mark.parametrize("bad", [
    "SELECT ?n WHERE { ?c <urn:name> ?n } HAVING(?n > 1)",   # no GROUP BY
    """SELECT ?c (COUNT(?o) AS ?n) WHERE { ?c ?p ?o }
       GROUP BY ?c HAVING(?zzz > 1)""",                      # unknown var
])
def test_having_errors(tri, bad):
    with pytest.raises(SparqlError):
        sparql_select(tri, bad).collect()


def test_sparql_job_entrypoint(spark, tri, tmp_path):
    """The spark-submit SPARQL CLI over a materialized store."""
    import io
    import json
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "jobs")
    import sparql_job

    store = str(tmp_path / "store")
    tri.write.mode("overwrite").parquet(store)
    out = str(tmp_path / "results")

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = sparql_job.main([
            "--store", store, "--out", out,
            "--query", "PREFIX u: <urn:> SELECT ?n WHERE { ?c u:name ?n }",
        ])
    assert rc == 0
    assert json.loads(buf.getvalue().strip().splitlines()[-1])["rows"] == 3
    got = {r.n for r in spark.read.parquet(out).collect()}
    assert got == {"Alice", "Bob", "Ann"}

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = sparql_job.main([
            "--store", store,
            "--query", 'ASK { ?c <urn:name> "Alice" }',
        ])
    assert rc == 0
    assert json.loads(buf.getvalue().strip().splitlines()[-1])["ask"] is True

    # form sniffing survives a no-space prologue 'PREFIX u:<urn:>'
    # (whitespace token-count skipping desynced on this — ADVICE r3)
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = sparql_job.main([
            "--store", store, "--out", out,
            "--query", "PREFIX u:<urn:> SELECT ?n WHERE { ?c u:name ?n }",
        ])
    assert rc == 0
    assert json.loads(buf.getvalue().strip().splitlines()[-1])["rows"] == 3


def test_minus_removes_on_shared_vars(tri):
    got = _run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n MINUS { ?c <urn:bal> ?b } }
    """)
    assert got == [("Ann",)]


def test_minus_disjoint_domain_is_noop(tri):
    # the block matches rows, but shares no variable with the group:
    # SPARQL MINUS removes NOTHING (per spec), while the engine's
    # NOT EXISTS rejects a var-disjoint block outright (documented)
    got = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n MINUS { ?x <urn:bal> ?y } }
    """))
    assert got == [("Alice",), ("Ann",), ("Bob",)]
    with pytest.raises(SparqlError, match="shares no variable"):
        _run(tri, """
            SELECT ?n WHERE { ?c <urn:name> ?n
                FILTER NOT EXISTS { ?x <urn:bal> ?y } }
        """)


@pytest.fixture(scope="module")
def quads(spark):
    rows = [
        ("urn:c1", "urn:name", "Alice", "urn:g1"),
        ("urn:c2", "urn:name", "Bob", "urn:g2"),
        ("urn:c3", "urn:name", "Ann", "urn:g1"),
        ("urn:c1", "urn:bal", "10", "urn:g2"),
    ]
    return spark.createDataFrame(rows, "s string, p string, o string, graph string")


def test_graph_constant_block(quads):
    got = sorted(_run(quads, """
        SELECT ?n WHERE { GRAPH <urn:g1> { ?c <urn:name> ?n } }
    """))
    assert got == [("Alice",), ("Ann",)]


def test_graph_variable_binds(quads):
    got = sorted(_run(quads, """
        SELECT ?g ?n WHERE { GRAPH ?g { ?c <urn:name> ?n } }
    """))
    assert got == [
        ("urn:g1", "Alice"), ("urn:g1", "Ann"), ("urn:g2", "Bob"),
    ]
    # graph var joins across blocks: same-graph name+bal pairs
    got2 = _run(quads, """
        SELECT ?n ?b WHERE { GRAPH ?g { ?c <urn:name> ?n . ?d <urn:bal> ?b } }
    """)
    assert got2 == [("Bob", "10")]


def test_graph_constant_closure(spark):
    """GRAPH <iri> { ... <p>+ ... } evaluates the closure over the
    graph-FILTERED edge set: an edge in another graph must not extend
    the reachability."""
    rows = [
        ("urn:a", "urn:knows", "urn:b", "urn:g1"),
        ("urn:b", "urn:knows", "urn:c", "urn:g1"),
        ("urn:c", "urn:knows", "urn:d", "urn:g2"),  # other graph
        ("urn:a", "urn:name", "A", "urn:g1"),
    ]
    quads = spark.createDataFrame(
        rows, "s string, p string, o string, graph string")
    got = sorted(_run(quads, """
        SELECT ?x WHERE { GRAPH <urn:g1> { <urn:a> <urn:knows>+ ?x } }
    """))
    assert got == [("urn:b",), ("urn:c",)]  # urn:d unreachable inside g1
    # mixed block: plain pattern + closure, both scoped to g1
    got2 = sorted(_run(quads, """
        SELECT ?n ?x WHERE {
            GRAPH <urn:g1> { ?a <urn:name> ?n . ?a <urn:knows>+ ?x } }
    """))
    assert got2 == [("A", "urn:b"), ("A", "urn:c")]
    # union-graph evaluation (no GRAPH) still sees the g2 edge
    got3 = sorted(_run(quads, """
        SELECT ?x WHERE { <urn:a> <urn:knows>+ ?x }
    """))
    assert got3 == [("urn:b",), ("urn:c",), ("urn:d",)]


def test_graph_needs_graph_column(tri):
    with pytest.raises(SparqlError, match="'graph' column"):
        sparql_select(tri, """
            SELECT ?n WHERE { GRAPH <urn:g1> { ?c <urn:name> ?n } }
        """).collect()


def test_concat_substr_replace(tri):
    got = sorted(_run(tri, """
        SELECT ?x WHERE { ?c <urn:name> ?n . BIND(CONCAT("u:", LCASE(?n)) AS ?x) }
    """))
    assert got == [("u:alice",), ("u:ann",), ("u:bob",)]
    got = sorted(_run(tri, """
        SELECT ?x WHERE { ?c <urn:name> ?n . BIND(SUBSTR(?n, 1, 2) AS ?x) }
    """))
    assert got == [("Al",), ("An",), ("Bo",)]
    # no-length SUBSTR goes to end; REPLACE is regex-based
    got = _run(tri, """
        SELECT ?x WHERE { ?c <urn:name> "Alice" . ?c <urn:name> ?n
            BIND(SUBSTR(?n, 3) AS ?x) }
    """)
    assert got == [("ice",)]
    got = _run(tri, """
        SELECT ?x WHERE { ?c <urn:name> "Alice" . ?c <urn:name> ?n
            BIND(REPLACE(?n, "[aeiou]", "_") AS ?x) }
    """)
    assert got == [("Al_c_",)]


def test_in_filter(tri):
    got = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n FILTER(?n IN ("Alice", "Bob", "Zoe")) }
    """))
    assert got == [("Alice",), ("Bob",)]
    # numeric IN casts the lexical
    got = _run(tri, """
        SELECT ?b WHERE { ?c <urn:bal> ?b FILTER(?b IN (3, 99)) }
    """)
    assert got == [("3",)]


def test_langmatches(trim):
    got = sorted(_run(trim, """
        SELECT ?n WHERE { ?c <urn:name> ?n FILTER(LANGMATCHES(LANG(?n), "en")) }
    """))
    assert got == [("Alice",)]
    # "*" matches any non-empty tag
    got = sorted(_run(trim, """
        SELECT ?n WHERE { ?c <urn:name> ?n FILTER(LANGMATCHES(LANG(?n), "*")) }
    """))
    assert got == [("Alice",), ("Ann",)]
    # prefix subtag match: plant an en-US row
    rows = [("urn:x", "urn:name", "Chad")]
    import pyspark.sql.functions as SF
    extra = trim.sparkSession.createDataFrame(
        [("urn:x", 1, "urn:name", "Chad", 2, None, "en-US")],
        trim.schema,
    )
    got = sorted(_run(trim.unionByName(extra), """
        SELECT ?n WHERE { ?c <urn:name> ?n FILTER(LANGMATCHES(LANG(?n), "en")) }
    """))
    assert got == [("Alice",), ("Chad",)]


def test_count_distinct_and_group_concat(tri):
    got = _run(tri, """
        SELECT (COUNT(DISTINCT ?c) AS ?n) WHERE { ?c ?p ?o }
    """)
    assert got == [(3,)]
    got = _run(tri, """
        SELECT (GROUP_CONCAT(?n; SEPARATOR=", ") AS ?all)
        WHERE { ?c <urn:name> ?n }
    """)
    assert got == [("Alice, Ann, Bob",)]  # sorted → deterministic
    got = _run(tri, """
        SELECT (SAMPLE(?n) AS ?one) WHERE { ?c <urn:name> ?n }
    """)
    assert got == [("Alice",)]  # SAMPLE == deterministic MIN


@pytest.mark.parametrize("bad", [
    'SELECT (GROUP_CONCAT(DISTINCT ?n) AS ?x) WHERE { ?c <urn:name> ?n }',
    'SELECT ?n WHERE { ?c <urn:name> ?n FILTER(?n IN (?m)) }',
    'SELECT ?x WHERE { ?c <urn:name> ?n . BIND(SUBSTR(?n, "a") AS ?x) }',
])
def test_function_pack_errors(tri, bad):
    with pytest.raises(SparqlError):
        sparql_select(tri, bad).collect()


def test_path_sequence(tri):
    # knows/name: names of people each person knows (both endpoints vars)
    got = sorted(_run(tri, """
        SELECT ?s ?n WHERE { ?s <urn:knows>/<urn:name> ?n }
    """))
    assert got == [("urn:c1", "Bob"), ("urn:c2", "Ann")]
    # three-hop: type anchor via 'a' in a sequence
    got = sorted(_run(tri, """
        SELECT ?n WHERE { ?s <urn:knows>/<urn:knows>/<urn:name> ?n }
    """))
    assert got == [("Ann",)]
    # synthetic hop variables must not leak into SELECT *
    df = sparql_select(tri, "SELECT * WHERE { ?s <urn:knows>/<urn:name> ?n }")
    assert sorted(df.columns) == ["n", "s"]


def test_path_alternation(tri):
    got = sorted(_run(tri, """
        SELECT ?c ?v WHERE { ?c <urn:name>|<urn:bal> ?v }
    """))
    assert len(got) == 5  # 3 names + 2 balances
    assert ("urn:c1", "10.5") in got and ("urn:c3", "Ann") in got
    # alternation inside a sequence hop is fine when unmixed per path
    got = sorted(_run(tri, """
        SELECT ?v WHERE { ?s <urn:knows>/<urn:name> ?v }
    """))
    assert got == [("Ann",), ("Bob",)]
    # a repeated branch is a repeated bag branch (§18.4): every solution
    # twice, at the top level and inside a sequence hop
    got = _run(tri, "SELECT ?c ?v WHERE { ?c <urn:name>|<urn:name> ?v }")
    assert len(got) == 6 and len(set(got)) == 3
    got = sorted(_run(tri, """
        SELECT ?v WHERE { ?s <urn:knows>/(^<urn:knows>|^<urn:knows>) ?v }
    """))
    assert got == [("urn:c1",), ("urn:c1",), ("urn:c2",), ("urn:c2",)]


def test_path_composition_errors(tri):
    with pytest.raises(SparqlError):  # reserved prefix
        sparql_select(tri, "SELECT ?_pp0 WHERE { ?s <urn:p> ?_pp0 }").collect()
    with pytest.raises(SparqlError):  # unbalanced path parens
        sparql_select(tri, "SELECT ?v WHERE { ?s (<urn:p>|<urn:q> ?v }").collect()
    with pytest.raises(SparqlError):  # ^ inside a negated set: unsupported
        sparql_select(tri, "SELECT ?v WHERE { ?s !(^<urn:p>) ?v }").collect()


def test_path_precedence_seq_binds_tighter(tri):
    # p|q/r parses as p|(q/r) per SPARQL 1.1 (round-5: no longer rejected)
    got = sorted(_run(tri, """
        SELECT ?s ?v WHERE { ?s <urn:bal>|<urn:knows>/<urn:name> ?v }
    """))
    assert got == [
        ("urn:c1", "10.5"), ("urn:c1", "Bob"),
        ("urn:c2", "3"), ("urn:c2", "Ann"),
    ]


def test_path_parens_group_alternation(tri):
    # (knows|bal)/name: the explicit other bracketing
    got = sorted(_run(tri, """
        SELECT ?s ?v WHERE { ?s (<urn:knows>|<urn:bal>)/<urn:name> ?v }
    """))
    assert got == [("urn:c1", "Bob"), ("urn:c2", "Ann")]


def test_path_closure_inside_sequence(tri):
    got = sorted(_run(tri, """
        SELECT ?s ?n WHERE { ?s <urn:knows>+/<urn:name> ?n }
    """))
    assert got == [("urn:c1", "Ann"), ("urn:c1", "Bob"), ("urn:c2", "Ann")]


def test_path_closure_inside_alternation(tri):
    got = sorted(_run(tri, """
        SELECT ?s ?v WHERE { ?s <urn:name>|<urn:knows>+ ?v }
    """))
    assert got == [
        ("urn:c1", "Alice"), ("urn:c1", "urn:c2"), ("urn:c1", "urn:c3"),
        ("urn:c2", "Bob"), ("urn:c2", "urn:c3"), ("urn:c3", "Ann"),
    ]


def test_path_inverse_of_group(tri):
    # ^(knows/name): ?x ^(p1/p2) ?y ≡ ?y p1/p2 ?x (inverse distributes
    # over the reversed sequence)
    got = sorted(_run(tri, """
        SELECT ?x ?y WHERE { ?x ^(<urn:knows>/<urn:name>) ?y }
    """))
    assert got == [("Ann", "urn:c2"), ("Bob", "urn:c1")]


def test_path_closure_over_negated_set(tri):
    # !(name|bal|a) leaves only the knows edges; its closure is the
    # knows closure (round-5: closure over a negated set now supported)
    got = sorted(_run(tri, """
        SELECT ?a ?b WHERE { ?a !(<urn:name>|<urn:bal>|a)+ ?b }
    """))
    assert got == [
        ("urn:c1", "urn:c2"), ("urn:c1", "urn:c3"), ("urn:c2", "urn:c3"),
    ]


def test_path_anchored_compound_closure(tri):
    # anchored closure over an alternation takes the BFS route
    got = sorted(_run(tri, """
        SELECT ?x WHERE { <urn:c1> (<urn:knows>|<urn:bal>)+ ?x }
    """))
    assert got == [("10.5",), ("3",), ("urn:c2",), ("urn:c3",)]
    # and reverse-anchored
    got = sorted(_run(tri, """
        SELECT ?x WHERE { ?x (<urn:knows>|<urn:bal>)+ "3" }
    """))
    assert got == [("urn:c1",), ("urn:c2",)]


def test_inverse_paths(tri):
    # ?o ^<p> ?s flips the pattern
    got = sorted(_run(tri, """
        SELECT ?known ?n WHERE { ?known ^<urn:knows> ?k . ?k <urn:name> ?n }
    """))
    assert got == [("urn:c2", "Alice"), ("urn:c3", "Bob")]
    # inverse segment inside a sequence: who knows ?x, by ?x's name
    got = sorted(_run(tri, """
        SELECT ?n WHERE { ?x ^<urn:knows>/<urn:name> ?n }
    """))
    assert got == [("Alice",), ("Bob",)]
    # inverse closure: ancestors via ^knows+ anchored at c3
    got = sorted(_run(tri, """
        SELECT ?a WHERE { <urn:c3> ^<urn:knows>+ ?a }
    """))
    assert got == [("urn:c1",), ("urn:c2",)]
    # uniformly-inverse alternation: who points at c2 via knows or bal
    got = sorted(_run(tri, """
        SELECT ?x WHERE { <urn:c2> ^<urn:knows>|^<urn:bal> ?x }
    """))
    assert got == [("urn:c1",)]


def test_mixed_direction_alternation(tri):
    # round-5: forward|inverse alternation is a bag union of the two
    # directed edge sets (was rejected pre-grouping-support)
    got = sorted(_run(tri, """
        SELECT ?s ?x WHERE { ?s <urn:name>|^<urn:bal> ?x }
    """))
    assert got == [
        ("10.5", "urn:c1"), ("3", "urn:c2"),
        ("urn:c1", "Alice"), ("urn:c2", "Bob"), ("urn:c3", "Ann"),
    ]


def test_negated_property_set(tri):
    # everything about c1 EXCEPT its rdf:type and name
    got = sorted(_run(tri, f"""
        SELECT ?o WHERE {{ <urn:c1> !(<{RDF_TYPE}>|<urn:name>) ?o }}
    """))
    assert got == [("10.5",), ("urn:c2",)]
    # single-predicate form
    got = sorted(_run(tri, """
        SELECT ?p ?o WHERE { <urn:c2> !<urn:knows> ?o . <urn:c2> ?p ?o }
    """))
    assert ("urn:name", "Bob") in got and ("urn:knows", "urn:c3") not in got
    # as a sequence segment: non-knows edges of whoever c1 knows
    got = sorted(_run(tri, """
        SELECT ?o WHERE { <urn:c1> <urn:knows>/!<urn:knows> ?o }
    """))
    assert got == [("3",), ("Bob",), ("urn:Customer",)]


def test_negated_property_set_errors(tri):
    with pytest.raises(SparqlError):  # inverse inside NPS stays unsupported
        sparql_select(tri, "SELECT ?o WHERE { ?s !(^<urn:p>) ?o }").collect()


def test_nps_in_alternation(tri):
    # round-5: !<p>|<q> = (non-name edges) bag-∪ (name edges) — every
    # triple matches exactly one branch here, so all 10 rows survive
    got = _run(tri, "SELECT ?s ?o WHERE { ?s !<urn:name>|<urn:name> ?o }")
    assert len(got) == 10


def test_values_multi_var(tri):
    # restrict ?c while introducing ?tag from the same rows
    got = sorted(_run(tri, """
        SELECT ?n ?tag WHERE {
            ?c <urn:name> ?n .
            VALUES (?c ?tag) { (<urn:c1> "first") (<urn:c3> "third") }
        }
    """))
    assert got == [("Alice", "first"), ("Ann", "third")]
    # all-new vars: cartesian rows
    got = _run(tri, """
        SELECT ?x ?y WHERE {
            ?c <urn:name> "Alice" .
            VALUES (?x ?y) { ("1" "a") ("2" "b") }
        }
    """)
    assert sorted(got) == [("1", "a"), ("2", "b")]


@pytest.mark.parametrize("bad", [
    "SELECT ?x WHERE { VALUES () { } }",                       # no vars
    'SELECT ?x WHERE { VALUES (?x ?y) { ("1") } }',            # arity short
    'SELECT ?x WHERE { VALUES (?x) { "1" } }',                 # rows need ()
])
def test_values_multi_var_errors(tri, bad):
    with pytest.raises(SparqlError):
        sparql_select(tri, bad).collect()


@pytest.mark.parametrize("bad", [
    'ASK { ?s <urn:name> ?n } GROUP BY ?n HAVING(?n = "x")',   # review r4
    "ASK { ?s <urn:name> ?n } GROUP BY ?n",
    "CONSTRUCT { ?s <urn:p> ?n } WHERE { ?s <urn:name> ?n } GROUP BY ?n",
    "SELECT ?_meta_x WHERE { ?s <urn:p> ?_meta_x }",           # reserved
    "SELECT ?_path_m1 WHERE { ?s <urn:p> ?_path_m1 }",
    'SELECT ?n WHERE { ?c <urn:name> ?n FILTER(?n IN ("a", 2)) }',  # mixed IN
])
def test_review_r4_guards(tri, bad):
    from rdf_spark.sparql import sparql_ask, sparql_construct

    with pytest.raises(SparqlError):
        if bad.startswith("ASK"):
            sparql_ask(tri, bad)
        elif bad.startswith("CONSTRUCT"):
            sparql_construct(tri, bad).collect()
        else:
            sparql_select(tri, bad).collect()


def test_sparql_explain(tri):
    from rdf_spark.sparql import sparql_explain

    plan = sparql_explain(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n FILTER(STRSTARTS(?n, "A")) }
    """)
    assert "== Physical Plan ==" in plan and "Filter" in plan
    ask_plan = sparql_explain(tri, 'ASK { ?c <urn:name> "Alice" }')
    assert "== Physical Plan ==" in ask_plan
    # update requests explain the new store's plan (round-5)
    upd_plan = sparql_explain(tri, "DELETE WHERE { ?s ?p ?o }")
    assert "== Physical Plan ==" in upd_plan
    with pytest.raises(SparqlError):
        sparql_explain(tri, "no form keyword anywhere")


# --- round-5 ADVICE fixes ---


def test_minus_exists_over_bind_var_rejected(tri):
    # MINUS/EXISTS compile before BINDs: a block whose only shared
    # variable is BIND-introduced would silently restrict on nothing
    # (ADVICE r4) — the compiler now raises instead.
    with pytest.raises(SparqlError, match="BIND-defined"):
        sparql_select(tri, """
            SELECT ?n WHERE { ?c <urn:name> ?n .
                BIND(LCASE(?n) AS ?ln)
                MINUS { ?x <urn:name> ?ln } }
        """).collect()
    with pytest.raises(SparqlError, match="BIND-defined"):
        sparql_select(tri, """
            SELECT ?n WHERE { ?c <urn:name> ?n .
                BIND(LCASE(?n) AS ?ln)
                FILTER NOT EXISTS { ?x <urn:name> ?ln } }
        """).collect()
    # a MINUS block sharing a pattern-bound var still works alongside BIND
    got = _run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n .
            BIND(LCASE(?n) AS ?ln)
            MINUS { ?c <urn:bal> ?b } }
    """)
    assert got == [("Ann",)]


def test_sniff_form_shadowing():
    # the form keyword must win over look-alikes inside IRIs, prefixed
    # names, PREFIX declarations, and string literals (ADVICE r4)
    from rdf_spark.sparql import sniff_form

    assert sniff_form("PREFIX ask: <urn:x> SELECT ?s WHERE { ?s ask:p ?o }") == "SELECT"
    assert sniff_form("PREFIX u: <http://x/select#> ASK { ?s u:p ?o }") == "ASK"
    assert sniff_form('SELECT ?s WHERE { ?s <urn:p> "DESCRIBE" }') == "SELECT"
    assert sniff_form('ASK { ?s <urn:p> "SELECT" }') == "ASK"
    assert sniff_form("PREFIX describe: <urn:> CONSTRUCT { ?s <urn:p> ?o } WHERE { ?s describe:q ?o }") == "CONSTRUCT"
    assert sniff_form("no keyword here") == ""


def test_projected_var_outside_group_by_rejected(tri):
    # regression (ADVICE r4): must be SparqlError at compile time, not a
    # raw AnalysisException out of Catalyst
    with pytest.raises(SparqlError, match="GROUP BY"):
        sparql_select(tri, """
            SELECT ?n (COUNT(?c) AS ?k) WHERE {
                ?c <urn:name> ?n . ?c a ?t } GROUP BY ?t
        """).collect()


# --- round-5: subqueries and nested group graph patterns ---


def test_subquery_in_where(tri):
    # inner aggregate restricts the outer pattern on the shared var
    got = sorted(_run(tri, """
        SELECT ?n ?k WHERE {
            ?c <urn:name> ?n .
            { SELECT ?c (COUNT(?x) AS ?k) WHERE { ?c <urn:knows> ?x }
              GROUP BY ?c }
        }
    """))
    assert got == [("Alice", 1), ("Bob", 1)]


def test_subquery_limit_applies_inside(tri):
    # the subquery's ORDER/LIMIT run before the outer join
    got = sorted(_run(tri, """
        SELECT ?n WHERE {
            ?c <urn:name> ?n .
            { SELECT ?c WHERE { ?c <urn:bal> ?b } ORDER BY ?c LIMIT 1 }
        }
    """))
    assert got == [("Alice",)]


def test_subquery_private_vars_do_not_leak(tri):
    # ?b is projected away inside the subquery → no accidental join on it
    df = sparql_select(tri, """
        SELECT * WHERE {
            ?c <urn:name> ?n .
            { SELECT ?c WHERE { ?c <urn:bal> ?b } }
        }
    """)
    assert sorted(df.columns) == ["c", "n"]
    got = sorted(tuple(r) for r in df.collect())
    assert got == [("urn:c1", "Alice"), ("urn:c2", "Bob")]


def test_nested_group_with_scoped_filter(tri):
    # the nested group's FILTER applies within it; join on the shared var
    got = sorted(_run(tri, """
        SELECT ?n ?b WHERE {
            ?c <urn:name> ?n .
            { ?c <urn:bal> ?b FILTER(?b > 5) }
        }
    """))
    assert got == [("Alice", "10.5")]


def test_nested_group_with_optional(tri):
    got = dict(_run(tri, """
        SELECT ?n ?b WHERE {
            ?c a <urn:Customer> .
            { ?c <urn:name> ?n OPTIONAL { ?c <urn:bal> ?b } }
        }
    """))
    assert got == {"Alice": "10.5", "Bob": "3", "Ann": None}


def test_subquery_as_first_element(tri):
    # leading '{' must not be mistaken for a UNION chain
    got = sorted(_run(tri, """
        SELECT ?n ?k WHERE {
            { SELECT ?c (COUNT(?x) AS ?k) WHERE { ?c <urn:knows> ?x }
              GROUP BY ?c }
            ?c <urn:name> ?n .
        }
    """))
    assert got == [("Alice", 1), ("Bob", 1)]


def test_union_still_parses_alongside_nested(tri):
    got = sorted(_run(tri, """
        SELECT ?v WHERE {
            { ?c <urn:bal> ?v } UNION { ?c <urn:name> ?v }
        }
    """))
    assert got == [("10.5",), ("3",), ("Alice",), ("Ann",), ("Bob",)]


def test_subquery_errors(tri):
    with pytest.raises(SparqlError):  # unclosed subquery
        sparql_select(tri, """
            SELECT ?n WHERE { ?c <urn:name> ?n .
                { SELECT ?c WHERE { ?c <urn:bal> ?b }
        """).collect()
    with pytest.raises(SparqlError):  # empty nested group
        sparql_select(tri, "SELECT ?n WHERE { ?c <urn:name> ?n . { } }").collect()


# --- round-5: arithmetic, COALESCE, IF ---


def test_arithmetic_in_bind_and_filter(tri):
    got = sorted(_run(tri, """
        SELECT ?n ?x WHERE { ?c <urn:name> ?n . ?c <urn:bal> ?b .
            BIND(?b * 2 + 1 AS ?x) }
    """))
    assert got == [("Alice", 22.0), ("Bob", 7.0)]
    # precedence: * binds tighter than +; parens override
    got = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n . ?c <urn:bal> ?b
            FILTER((?b + 1) * 2 > 10) }
    """))
    assert got == [("Alice",)]
    # subtraction and division
    got = sorted(_run(tri, """
        SELECT ?n ?h WHERE { ?c <urn:name> ?n . ?c <urn:bal> ?b .
            BIND(?b / 2 - 1 AS ?h) }
    """))
    assert got == [("Alice", 4.25), ("Bob", 0.5)]


def test_division_by_zero_drops_solution(tri):
    # SPARQL: /0 is an evaluation error → the row is filtered, not kept
    got = _run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n . ?c <urn:bal> ?b
            FILTER(?b / 0 > 0) }
    """)
    assert got == []


def test_coalesce_and_if(tri):
    got = dict(_run(tri, """
        SELECT ?n ?v WHERE { ?c <urn:name> ?n
            OPTIONAL { ?c <urn:bal> ?b }
            BIND(COALESCE(?b, "none") AS ?v) }
    """))
    assert got == {"Alice": "10.5", "Bob": "3", "Ann": "none"}
    got = dict(_run(tri, """
        SELECT ?n ?t WHERE { ?c <urn:name> ?n . ?c <urn:bal> ?b .
            BIND(IF(?b > 5, "big", "small") AS ?t) }
    """))
    assert got == {"Alice": "big", "Bob": "small"}


def test_boolean_parens_still_work_alongside_arith_parens(tri):
    # the unary() backtrack must not break boolean grouping
    got = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n . ?c <urn:bal> ?b
            FILTER((?b > 5 || ?n = "Bob") && bound(?b)) }
    """))
    assert got == [("Alice",), ("Bob",)]


@pytest.mark.parametrize("bad", [
    "SELECT ?n WHERE { ?c <urn:name> ?n } LIMIT -",
    "SELECT ?n WHERE { ?c <urn:name> ?n } LIMIT 1.5",
    "SELECT ?n WHERE { ?c <urn:name> ?n } LIMIT -3",
    "SELECT ?n WHERE { ?c <urn:name> ?n } OFFSET x",
])
def test_limit_offset_integer_guard(tri, bad):
    # must be SparqlError, never a raw ValueError out of int()
    with pytest.raises(SparqlError):
        sparql_select(tri, bad).collect()


def test_describe_var_where(tri):
    from rdf_spark.sparql import sparql_describe

    # everyone Alice knows: c2 — all triples touching c2
    got = sorted(tuple(r) for r in sparql_describe(tri, """
        DESCRIBE ?k WHERE { ?c <urn:name> "Alice" . ?c <urn:knows> ?k }
    """).collect())
    assert got == sorted([
        ("urn:c2", RDF_TYPE, "urn:Customer"),
        ("urn:c2", "urn:name", "Bob"),
        ("urn:c2", "urn:bal", "3"),
        ("urn:c2", "urn:knows", "urn:c3"),
        ("urn:c1", "urn:knows", "urn:c2"),
    ])
    # mixed constant + var, duplicates collapsed
    got2 = {tuple(r) for r in sparql_describe(tri, """
        DESCRIBE <urn:c2> ?k WHERE { ?c <urn:knows> ?k }
    """).collect()}
    assert ("urn:c2", "urn:name", "Bob") in got2
    assert ("urn:c3", "urn:name", "Ann") in got2
    # LIMIT applies to the solution sequence before describing
    got3 = {tuple(r) for r in sparql_describe(tri, """
        DESCRIBE ?k WHERE { ?c <urn:knows> ?k } ORDER BY ?k LIMIT 1
    """).collect()}
    assert all("urn:c2" in (r[0], r[2]) for r in got3) and got3
    with pytest.raises(SparqlError, match="unbound"):
        sparql_describe(tri, "DESCRIBE ?z WHERE { ?c <urn:name> ?n }").collect()


def test_paths_inside_optional_exists_minus(tri):
    # round-5: path shapes that compile to plain patterns work inside
    # OPTIONAL / EXISTS / MINUS blocks
    got = dict(_run(tri, """
        SELECT ?n ?fofn WHERE { ?c <urn:name> ?n
            OPTIONAL { ?c <urn:knows>/<urn:name> ?fofn } }
    """))
    assert got == {"Alice": "Bob", "Bob": "Ann", "Ann": None}
    got2 = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n
            FILTER EXISTS { ?c <urn:knows>|<urn:bal> ?x } }
    """))
    assert got2 == [("Alice",), ("Bob",)]
    got3 = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n
            MINUS { ?x ^<urn:knows> ?c } }
    """))
    # ?x ^knows ?c ≡ ?c knows ?x: c1 and c2 know someone → removed
    assert got3 == [("Ann",)]
    # round-5 (late): closures evaluate inside the blocks too — the
    # blocks compile through the same group compiler as the main WHERE
    got4 = sorted(_run(tri, """
        SELECT ?n ?kn WHERE { ?c <urn:name> ?n
            OPTIONAL { ?c <urn:knows>+/<urn:name> ?kn } }
    """), key=lambda t: (t[0], t[1] or ""))
    assert got4 == [("Alice", "Ann"), ("Alice", "Bob"),
                    ("Ann", None), ("Bob", "Ann")]
    got5 = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n
            FILTER NOT EXISTS { ?x <urn:knows>+ ?c } }
    """))
    assert got5 == [("Alice",)]  # only c1 is transitively reached by nobody
    got6 = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n
            MINUS { ?c <urn:knows>+ ?z . ?z <urn:name> "Ann" } }
    """))
    assert got6 == [("Ann",)]  # c1 and c2 reach Ann; c3 has no + path
    # GRAPH ?var with closures still raises (one closure per binding)
    with pytest.raises(SparqlError, match="GRAPH \\?var"):
        sparql_select(tri, """
            SELECT ?n WHERE { GRAPH ?g { ?c <urn:knows>+ ?n } }
        """).collect()


def test_numeric_builtins(tri):
    # ABS/CEIL/FLOOR over computed arithmetic; ROUND ties toward +inf
    # (XPath fn:round), which floor(x+0.5) reproduces
    got = dict(_run(tri, """
        SELECT ?n ?v WHERE { ?c <urn:name> ?n . ?c <urn:bal> ?b
            BIND(CEIL(?b) AS ?v) }
    """))
    assert got == {"Alice": 11.0, "Bob": 3.0}
    got = dict(_run(tri, """
        SELECT ?n ?v WHERE { ?c <urn:name> ?n . ?c <urn:bal> ?b
            BIND(FLOOR(?b) AS ?v) }
    """))
    assert got == {"Alice": 10.0, "Bob": 3.0}
    got = dict(_run(tri, """
        SELECT ?n ?v WHERE { ?c <urn:name> ?n . ?c <urn:bal> ?b
            BIND(ABS(1 - ?b) AS ?v) }
    """))
    assert got == {"Alice": 9.5, "Bob": 2.0}
    got = dict(_run(tri, """
        SELECT ?n ?v WHERE { ?c <urn:name> ?n . ?c <urn:bal> ?b
            BIND(ROUND(?b) AS ?v) }
    """))
    assert got == {"Alice": 11.0, "Bob": 3.0}
    # the tie case: ROUND(-2.5) = -2 toward +inf, not -3 away from zero
    got = _run(tri, """
        SELECT DISTINCT ?v WHERE { ?c <urn:name> ?n
            BIND(ROUND(0 - 2.5) AS ?v) }
    """)
    assert got == [(-2.0,)]
    # usable inside FILTER comparisons
    got = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n . ?c <urn:bal> ?b
            FILTER(FLOOR(?b) = 10) }
    """))
    assert got == [("Alice",)]


def test_strbefore_strafter(tri):
    got = dict(_run(tri, """
        SELECT ?n ?v WHERE { ?c <urn:name> ?n
            BIND(STRBEFORE(?n, "n") AS ?v) }
    """))
    # SPARQL: "" when the separator does not occur (Bob has no "n")
    assert got == {"Alice": "", "Bob": "", "Ann": "A"}
    got = dict(_run(tri, """
        SELECT ?n ?v WHERE { ?c <urn:name> ?n
            BIND(STRAFTER(?n, "A") AS ?v) }
    """))
    assert got == {"Alice": "lice", "Bob": "", "Ann": "nn"}
    # multi-char separator, first occurrence
    got = dict(_run(tri, """
        SELECT ?n ?v WHERE { ?c <urn:name> ?n
            BIND(STRAFTER(CONCAT(?n, "--", ?n), "--") AS ?v) }
    """))
    assert got == {"Alice": "Alice", "Bob": "Bob", "Ann": "Ann"}
    with pytest.raises(SparqlError, match="separator"):
        sparql_select(tri, """
            SELECT ?v WHERE { ?c <urn:name> ?n
                BIND(STRBEFORE(?n, ?n) AS ?v) }
        """).collect()


def test_term_kind_tests(trim):
    got = sorted(_run(trim, """
        SELECT ?o WHERE { <urn:c1> ?p ?o FILTER(ISIRI(?o)) }
    """))
    assert got == [("urn:c2",)]
    # isURI is a synonym; case-insensitive keyword
    got = sorted(_run(trim, """
        SELECT ?o WHERE { <urn:c1> ?p ?o FILTER(isUri(?o)) }
    """))
    assert got == [("urn:c2",)]
    got = sorted(_run(trim, """
        SELECT ?o WHERE { <urn:c1> ?p ?o FILTER(isLiteral(?o)) }
    """))
    assert got == [("10",), ("Alice",)]
    got = sorted(_run(trim, """
        SELECT ?o WHERE { <urn:c1> ?p ?o FILTER(isNumeric(?o)) }
    """))
    assert got == [("10",)]
    # no blank nodes in this store; predicates are always IRIs
    assert _run(trim, """
        SELECT ?o WHERE { <urn:c1> ?p ?o FILTER(ISBLANK(?o)) }
    """) == []
    got = sorted(_run(trim, """
        SELECT ?p WHERE { <urn:c1> ?p ?o FILTER(ISIRI(?p) && isLiteral(?o)) }
    """))
    assert got == [("urn:age",), ("urn:name",)]
    # negation composes
    got = sorted(_run(trim, """
        SELECT ?o WHERE { <urn:c1> ?p ?o
            FILTER(isLiteral(?o) && !isNumeric(?o)) }
    """))
    assert got == [("Alice",)]


def test_term_kind_blank(spark):
    from rdf_spark.terms import KIND_BLANK, KIND_IRI, KIND_LITERAL

    rows = [
        ("urn:c1", KIND_IRI, "urn:knows", "b0", KIND_BLANK, None, None),
        ("b0", KIND_BLANK, "urn:name", "Zed", KIND_LITERAL, None, None),
    ]
    trib = spark.createDataFrame(
        rows,
        "s string, s_kind tinyint, p string, o string, o_kind tinyint, "
        "o_datatype string, o_lang string",
    )
    got = _run(trib, "SELECT ?o WHERE { ?s ?p ?o FILTER(ISBLANK(?o)) }")
    assert got == [("b0",)]
    # subject-position kind is carried too
    got = _run(trib, "SELECT ?s WHERE { ?s ?p ?o FILTER(ISBLANK(?s)) }")
    assert got == [("b0",)]


def test_istest_requires_required_binding(trim):
    with pytest.raises(SparqlError, match="isIRI-family"):
        sparql_select(trim, """
            SELECT ?x WHERE { ?c <urn:name> ?n
                OPTIONAL { ?c <urn:knows> ?x } FILTER(ISIRI(?x)) }
        """).collect()


def test_select_expression_projection(tri):
    got = sorted(_run(tri, """
        SELECT ?n (STRLEN(?n) AS ?len) WHERE { ?c <urn:name> ?n }
    """))
    assert got == [("Alice", 5), ("Ann", 3), ("Bob", 3)]
    # arithmetic + mixing with plain vars; rename form (?v AS ?alias)
    got = sorted(_run(tri, """
        SELECT (?b * 2 AS ?dbl) (?n AS ?who) WHERE {
            ?c <urn:name> ?n . ?c <urn:bal> ?b }
    """))
    assert got == [(6.0, "Bob"), (21.0, "Alice")]
    with pytest.raises(SparqlError, match="rebind"):
        sparql_select(tri, """
            SELECT ?n (LCASE(?n) AS ?n) WHERE { ?c <urn:name> ?n }
        """).collect()
    with pytest.raises(SparqlError, match="unbound"):
        sparql_select(tri, """
            SELECT (STRLEN(?nope) AS ?x) WHERE { ?c <urn:name> ?n }
        """).collect()
    # round-5: expressions over GROUP BY keys are legal in aggregate
    # queries (§18.2.4) — formerly rejected
    got = sorted(_run(tri, """
        SELECT (STRLEN(?n) AS ?x) (COUNT(?c) AS ?k)
        WHERE { ?c <urn:name> ?n } GROUP BY ?n
    """))
    assert got == [(3, 1), (3, 1), (5, 1)]


def test_regex_flags(tri):
    got = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n FILTER(REGEX(?n, "^a", "i")) }
    """))
    assert got == [("Alice",), ("Ann",)]
    # without the flag the same pattern matches nothing
    assert _run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n FILTER(REGEX(?n, "^a")) }
    """) == []
    with pytest.raises(SparqlError, match="flags"):
        sparql_select(tri, """
            SELECT ?n WHERE { ?c <urn:name> ?n FILTER(REGEX(?n, "a", "x")) }
        """).collect()


def test_aggregate_expression_projections(tri):
    # §18.2.4: expressions over GROUP BY keys, aggregate aliases, and
    # earlier expression aliases, computed post-aggregation
    got = _run(tri, """
        SELECT ?n (COUNT(?k) AS ?deg) (?deg + 1 AS ?a) (?a * 2 AS ?b)
               (CONCAT(?n, "!") AS ?tag)
        WHERE { ?c <urn:name> ?n . ?c <urn:knows> ?k }
        GROUP BY ?n ORDER BY ?n
    """)
    assert got == [("Alice", 1, 2.0, 4.0, "Alice!"), ("Bob", 1, 2.0, 4.0, "Bob!")]
    # global aggregate (no GROUP BY) with a derived expression
    got = _run(tri, """
        SELECT (COUNT(*) AS ?n) (?n * 10 AS ?x) WHERE { ?c a <urn:Customer> }
    """)
    assert got == [(3, 30.0)]


@pytest.mark.parametrize("bad", [
    # ungrouped variable inside a select expression
    "SELECT (COUNT(?n) AS ?c) (?n AS ?x) WHERE { ?s <urn:name> ?n }",
    # rebinding a GROUP BY key
    "SELECT ?n (COUNT(*) AS ?n) WHERE { ?s <urn:name> ?n } GROUP BY ?n",
    # duplicate aggregate aliases
    "SELECT (COUNT(*) AS ?n) (SUM(?b) AS ?n) WHERE { ?s <urn:bal> ?b }",
    # EXPRESSION alias referenced before it is defined (aggregate
    # aliases, unlike expression aliases, are visible regardless of
    # order — they are computed in the aggregation step first)
    "SELECT (COUNT(*) AS ?n) (?e AS ?b) (?n + 1 AS ?e) "
    "WHERE { ?s <urn:name> ?n2 }",
    # LANG is group-scoped metadata, unavailable post-aggregation
    "SELECT ?n (COUNT(*) AS ?c) (LANG(?n) AS ?l) WHERE { ?s <urn:name> ?n } GROUP BY ?n",
])
def test_aggregate_expression_errors(tri, bad):
    with pytest.raises(SparqlError):
        sparql_select(tri, bad).collect()


def test_term_constructors(tri):
    # IRI/STRDT/STRLANG construct terms whose metadata is synthesized at
    # the BIND site — LANG/DATATYPE/isIRI work on a PLAIN (s,p,o) store
    got = dict(_run(tri, """
        SELECT ?n ?i WHERE { ?c <urn:name> ?n
            BIND(IRI(CONCAT("urn:person:", ?n)) AS ?x)
            BIND(STR(?x) AS ?i) }
    """))
    assert got == {"Alice": "urn:person:Alice", "Bob": "urn:person:Bob",
                   "Ann": "urn:person:Ann"}
    # isIRI sees the synthesized kind; plain store has NO meta columns
    got2 = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n
            BIND(URI(?n) AS ?x) FILTER(isIRI(?x)) }
    """))
    assert got2 == [("Alice",), ("Ann",), ("Bob",)]
    # STRDT: DATATYPE returns the constructed tag
    got3 = dict(_run(tri, """
        PREFIX t: <urn:t:>
        SELECT ?n ?dt WHERE { ?c <urn:name> ?n
            BIND(STRDT(?n, t:Name) AS ?d)
            BIND(DATATYPE(?d) AS ?dt) }
    """))
    assert got3 == {n: "urn:t:Name" for n in ("Alice", "Bob", "Ann")}
    # STRLANG: LANG + langMatches over the constructed tag
    got4 = sorted(_run(tri, """
        SELECT ?n ?lg WHERE { ?c <urn:name> ?n
            BIND(STRLANG(?n, "en-GB") AS ?l)
            BIND(LANG(?l) AS ?lg) FILTER(langMatches(LANG(?l), "en")) }
    """))
    assert got4 == [("Alice", "en-GB"), ("Ann", "en-GB"), ("Bob", "en-GB")]
    # a constructed literal is NOT an IRI; a constructed IRI has NULL
    # datatype → the BIND var is NULL → comparison drops the row
    assert _run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n
            BIND(STRLANG(?n, "en") AS ?l) FILTER(isIRI(?l)) }
    """) == []
    # parse errors
    for bad in (
        'SELECT ?x WHERE { ?c <urn:name> ?n BIND(STRDT(?n, "x") AS ?x) }',
        'SELECT ?x WHERE { ?c <urn:name> ?n BIND(STRLANG(?n, ?n) AS ?x) }',
        'SELECT ?x WHERE { ?c <urn:name> ?n BIND(STRLANG(?n, "9x!") AS ?x) }',
    ):
        with pytest.raises(SparqlError):
            sparql_select(tri, bad)


def test_order_by_expressions(tri):
    # ASC/DESC over any operand expression, mixed with plain vars
    got = _run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n }
        ORDER BY DESC(STRLEN(?n)) ?n LIMIT 2
    """)
    assert got == [("Alice",), ("Ann",)]  # 5 chars, then 3-char tie by ?n
    got2 = _run(tri, """
        SELECT ?n ?b WHERE { ?c <urn:name> ?n . ?c <urn:bal> ?b }
        ORDER BY DESC(?b * 2) LIMIT 1
    """)
    assert got2 == [("Alice", "10.5")]
    # §15.1: ORDER BY may use NON-projected WHERE variables (the sort
    # applies to the solution sequence before projection)
    got3 = _run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n . ?c <urn:bal> ?b }
        ORDER BY DESC(?b * 1) LIMIT 1
    """)
    assert got3 == [("Alice",)]  # bal 10.5 > 3 numerically ("3" > "10.5" lex)
    # ... but not with DISTINCT (sort defers to the projected set)
    with pytest.raises(SparqlError, match="out-of-scope"):
        sparql_select(tri, """
            SELECT DISTINCT ?n WHERE { ?c <urn:name> ?n . ?c <urn:bal> ?b }
            ORDER BY DESC(STRLEN(?b))
        """).collect()
    with pytest.raises(SparqlError, match="not in scope"):
        sparql_select(tri, """
            SELECT DISTINCT ?n WHERE { ?c <urn:name> ?n . ?c <urn:bal> ?b }
            ORDER BY ?b
        """).collect()


def test_values_undef_and_reduced(tri):
    # UNDEF in a shared column matches ANY binding of that row (§10.2)
    got = sorted(_run(tri, """
        SELECT ?n ?tag WHERE { ?c <urn:name> ?n
            VALUES (?n ?tag) { ("Alice" "seen") (UNDEF "any") } }
    """))
    assert got == [("Alice", "any"), ("Alice", "seen"),
                   ("Ann", "any"), ("Bob", "any")]
    # UNDEF in a carried (new) column → unbound (NULL) for that row
    got2 = sorted(_run(tri, """
        SELECT ?n ?tag WHERE { ?c <urn:name> ?n
            VALUES (?n ?tag) { ("Alice" UNDEF) ("Bob" "b") } }
    """), key=lambda t: (t[0], t[1] or ""))
    assert got2 == [("Alice", None), ("Bob", "b")]
    # single-var UNDEF row restricts nothing
    got3 = sorted(_run(tri, """
        SELECT ?n WHERE { ?c <urn:name> ?n VALUES ?n { UNDEF } }
    """))
    assert got3 == [("Alice",), ("Ann",), ("Bob",)]
    # REDUCED permits duplicate elimination — compiled like DISTINCT
    got4 = sorted(_run(tri, """
        SELECT REDUCED ?t WHERE { ?c a ?t }
    """))
    assert got4 == [("urn:Customer",)]


# ---------------------------------------------------------------- update

def _upd(tri, u):
    from rdf_spark.sparql import sparql_update
    return sorted(tuple(r) for r in sparql_update(tri, u).collect())


def test_update_insert_delete_data(tri):
    base = _upd(tri, 'INSERT DATA { <urn:c9> <urn:name> "Zoe" }')
    assert ("urn:c9", "urn:name", "Zoe") in base
    assert len(base) == tri.count() + 1
    # inserting an existing triple is a no-op (set semantics)
    again = _upd(tri, 'INSERT DATA { <urn:c1> <urn:name> "Alice" }')
    assert len(again) == tri.count()
    gone = _upd(tri, 'DELETE DATA { <urn:c1> <urn:name> "Alice" }')
    assert ("urn:c1", "urn:name", "Alice") not in gone
    assert len(gone) == tri.count() - 1
    # deleting an absent triple is a no-op
    assert len(_upd(tri, 'DELETE DATA { <urn:x> <urn:y> "z" }')) == tri.count()


def test_update_delete_where(tri):
    got = _upd(tri, "DELETE WHERE { ?c <urn:knows> ?o }")
    assert all(p != "urn:knows" for _, p, _ in got)
    assert len(got) == tri.count() - 2


def test_update_modify(tri):
    # rename a predicate: DELETE+INSERT from the same solutions
    got = _upd(tri, """
        DELETE { ?c <urn:name> ?n } INSERT { ?c <urn:label> ?n }
        WHERE { ?c <urn:name> ?n }
    """)
    assert all(p != "urn:name" for _, p, _ in got)
    assert ("urn:c1", "urn:label", "Alice") in got
    assert len(got) == tri.count()
    # insert-only with a FILTERed WHERE
    got2 = _upd(tri, """
        INSERT { ?c a <urn:Friendly> } WHERE { ?c <urn:knows> ?o }
    """)
    assert ("urn:c1", RDF_TYPE, "urn:Friendly") in got2
    assert ("urn:c2", RDF_TYPE, "urn:Friendly") in got2
    assert len(got2) == tri.count() + 2
    # unbound OPTIONAL var in the template → that row's triple skipped
    got3 = _upd(tri, """
        INSERT { ?c <urn:bal2> ?b } WHERE {
            ?c <urn:name> ?n OPTIONAL { ?c <urn:bal> ?b } }
    """)
    assert len(got3) == tri.count() + 2  # c1, c2 have bal; c3 skipped


def test_update_sequence_and_prefixes(tri):
    got = _upd(tri, """
        PREFIX u: <urn:>
        DELETE DATA { u:c1 u:name "Alice" } ;
        INSERT { ?c u:renamed "yes" } WHERE { ?c u:name ?n } ;
    """)
    # second op sees the first's result: c1's name is gone
    assert ("urn:c1", "urn:renamed", "yes") not in got
    assert ("urn:c2", "urn:renamed", "yes") in got
    assert ("urn:c3", "urn:renamed", "yes") in got


def test_update_parse_errors(tri):
    from rdf_spark.sparql import sparql_update
    for bad in [
        'INSERT DATA { ?v <urn:p> "x" }',        # var in ground data
        'INSERT DATA { }',                        # empty template
        'DELETE { ?c <urn:p> ?o }',               # modify without WHERE
        'INSERT { ?c <urn:p> 1 } WHERE { ?c <urn:name> ?n } LIMIT 2',
        'INSERT DATA { <urn:s> <urn:p> "x" } garbage',
        'INSERT { ?c <urn:p> ?z } WHERE { ?c <urn:name> ?n }',  # unbound ?z
    ]:
        with pytest.raises(SparqlError):
            sparql_update(tri, bad).collect()


def test_sparql_job_update_route(spark, tri, tmp_path):
    """Update requests route through sparql_update and write a NEW store."""
    import io
    import json
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "jobs")
    import sparql_job
    from rdf_spark.sparql import sniff_form

    assert sniff_form('INSERT DATA { <urn:s> <urn:p> "x" }') == "UPDATE"
    assert sniff_form("""DELETE { ?c <urn:p> ?n } INSERT { ?c <urn:q> ?n }
        WHERE { ?c <urn:p> ?n { SELECT ?c WHERE { ?c a <urn:T> } } }
    """) == "UPDATE"
    # a "DELETE" inside an IRI/literal cannot shadow a query form
    assert sniff_form('SELECT ?x WHERE { ?x <urn:DELETE> "INSERT" }') == "SELECT"

    store = str(tmp_path / "store")
    tri.write.mode("overwrite").parquet(store)
    out = str(tmp_path / "updated")

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = sparql_job.main([
            "--store", store, "--out", out,
            "--query", "DELETE WHERE { ?c <urn:knows> ?o }",
        ])
    assert rc == 0
    n = tri.count()
    assert json.loads(buf.getvalue().strip().splitlines()[-1])["rows"] == n - 2
    assert spark.read.parquet(out).filter("p = 'urn:knows'").count() == 0

    # update without --out is refused (store is never modified in place)
    with pytest.raises(SystemExit):
        sparql_job.main([
            "--store", store,
            "--query", "DELETE WHERE { ?c <urn:knows> ?o }",
        ])


def test_sparql_job_out_formats(spark, tri, tmp_path):
    import io
    import json
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "jobs")
    import sparql_job

    store = str(tmp_path / "store")
    tri.write.mode("overwrite").parquet(store)
    q = "SELECT ?n WHERE { ?c <urn:name> ?n }"
    for fmt, reader in (
        ("csv", lambda p: spark.read.option("header", True).csv(p)),
        ("json", spark.read.json),
    ):
        out = str(tmp_path / f"res_{fmt}")
        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = sparql_job.main(["--store", store, "--out", out,
                                  "--out-format", fmt, "--query", q])
        assert rc == 0
        info = json.loads(buf.getvalue().strip().splitlines()[-1])
        assert info["rows"] == 3 and info["format"] == fmt
        assert {r.n for r in reader(out).collect()} == {"Alice", "Bob", "Ann"}


# ---------------------------------------------------------- dataset clause

@pytest.fixture(scope="module")
def quad(spark):
    rows = [
        # default-graph rows (graph NULL) must be INVISIBLE under FROM
        ("urn:d1", "urn:p", "vd", None),
        ("urn:a1", "urn:p", "v1", "urn:g1"),
        ("urn:a2", "urn:p", "v2", "urn:g2"),
        ("urn:a3", "urn:p", "v3", "urn:g3"),
        ("urn:a1", "urn:child", "urn:a2", "urn:g1"),
        ("urn:a2", "urn:child", "urn:a3", "urn:g1"),
        ("urn:a2", "urn:child", "urn:a3", "urn:g2"),
    ]
    return spark.createDataFrame(
        rows, "s string, p string, o string, graph string")


def test_from_default_graph(quad):
    got = sorted(_run(quad, """
        SELECT ?s ?o FROM <urn:g1> WHERE { ?s <urn:p> ?o }
    """))
    assert got == [("urn:a1", "v1")]
    got2 = sorted(_run(quad, """
        SELECT ?o FROM <urn:g1> FROM <urn:g2> WHERE { ?s <urn:p> ?o }
    """))
    assert got2 == [("v1",), ("v2",)]
    # closure runs over the FROM merge only: g1 has both child edges
    got3 = sorted(_run(quad, """
        SELECT ?x FROM <urn:g2> WHERE { <urn:a1> <urn:child>+ ?x }
    """))
    assert got3 == []  # g2 lacks the a1→a2 edge
    got4 = sorted(_run(quad, """
        SELECT ?x FROM <urn:g1> WHERE { <urn:a1> <urn:child>+ ?x }
    """))
    assert got4 == [("urn:a2",), ("urn:a3",)]


def test_from_named_scopes_graph(quad):
    got = sorted(_run(quad, """
        SELECT ?g ?o FROM NAMED <urn:g2> WHERE { GRAPH ?g { ?s <urn:p> ?o } }
    """))
    assert got == [("urn:g2", "v2")]
    # FROM NAMED only: the default graph is EMPTY
    assert _run(quad, """
        SELECT ?o FROM NAMED <urn:g2> WHERE { ?s <urn:p> ?o }
    """) == []
    # both clauses: plain patterns see g1, GRAPH sees only g2
    got2 = sorted(_run(quad, """
        SELECT ?o ?w FROM <urn:g1> FROM NAMED <urn:g2> WHERE {
            ?s <urn:p> ?o . GRAPH ?g { ?t <urn:p> ?w } }
    """))
    assert got2 == [("v1", "v2")]
    # GRAPH <iri> outside the FROM NAMED list matches nothing
    assert _run(quad, """
        SELECT ?o FROM <urn:g1> FROM NAMED <urn:g2> WHERE {
            GRAPH <urn:g1> { ?s <urn:p> ?o } }
    """) == []


def test_dataset_clause_errors(tri, quad):
    with pytest.raises(SparqlError, match="graph"):
        _run(tri, "SELECT ?s FROM <urn:g1> WHERE { ?s <urn:p> ?o }")
    with pytest.raises(SparqlError, match="outer dataset"):
        _run(quad, """
            SELECT ?o WHERE {
                { SELECT ?o FROM <urn:g1> WHERE { ?s <urn:p> ?o } } }
        """)
    with pytest.raises(SparqlError, match="FROM needs"):
        _run(quad, "SELECT ?o FROM ?g WHERE { ?s <urn:p> ?o }")


def test_describe_cbd_closure(spark):
    from rdf_spark.sparql import sparql_describe

    rows = [
        ("urn:it", "urn:p", "_:b1"),
        ("_:b1", "urn:q", "_:b2"),
        ("_:b2", "urn:r", "leaf"),
        ("_:b2", "urn:r2", "urn:other"),   # IRI object: not followed
        ("urn:other", "urn:s", "outside"),  # must stay out
        ("_:b9", "urn:t", "unrelated"),
    ]
    tri = spark.createDataFrame(rows, "s string, p string, o string")
    plain = sparql_describe(tri, "DESCRIBE <urn:it>")
    assert {tuple(r) for r in plain.collect()} == {rows[0]}
    got = {tuple(r) for r in
           sparql_describe(tri, "DESCRIBE <urn:it>", cbd=True).collect()}
    assert got == set(rows[:4])
    # depth cap raises instead of silently truncating
    with pytest.raises(SparqlError, match="max_depth"):
        sparql_describe(tri, "DESCRIBE <urn:it>", cbd=True,
                        max_depth=1).collect()
    # skolemized store: no blank objects → zero closure rounds
    sk = spark.createDataFrame(
        [("urn:a", "urn:p", "urn:b")], "s string, p string, o string")
    assert sparql_describe(sk, "DESCRIBE <urn:a>", cbd=True).count() == 1


def test_group_by_expression(tri):
    got = sorted(_run(tri, """
        SELECT ?init (COUNT(?c) AS ?n) WHERE { ?c <urn:name> ?nm }
        GROUP BY (SUBSTR(?nm, 1, 1) AS ?init)
    """))
    assert got == [("A", 2), ("B", 1)]
    # mixed: plain key + expression key
    got2 = sorted(_run(tri, """
        SELECT ?nm ?l (COUNT(?c) AS ?n) WHERE { ?c <urn:name> ?nm }
        GROUP BY ?nm (STRLEN(?nm) AS ?l)
    """))
    assert got2 == [("Alice", 5, 1), ("Ann", 3, 1), ("Bob", 3, 1)]
    for bad in [
        # rebinding a bound var
        """SELECT ?nm (COUNT(?c) AS ?n) WHERE { ?c <urn:name> ?nm }
           GROUP BY (STRLEN(?nm) AS ?nm)""",
        # unbound var in the key expression
        """SELECT ?k (COUNT(?c) AS ?n) WHERE { ?c <urn:name> ?nm }
           GROUP BY (STRLEN(?zzz) AS ?k)""",
        # missing AS var
        """SELECT ?k (COUNT(?c) AS ?n) WHERE { ?c <urn:name> ?nm }
           GROUP BY (STRLEN(?nm))""",
    ]:
        with pytest.raises(SparqlError):
            _run(tri, bad)


def test_describe_respects_dataset_clause(spark):
    from rdf_spark.sparql import sparql_describe

    rows = [
        ("urn:x", "urn:p", "in_g1", "urn:g1"),
        ("urn:x", "urn:p", "in_g2", "urn:g2"),
        ("urn:x", "urn:p", "default", None),
    ]
    quad = spark.createDataFrame(
        rows, "s string, p string, o string, graph string")
    got = {r.o for r in sparql_describe(quad, """
        DESCRIBE ?v FROM <urn:g1> WHERE { ?v <urn:p> ?o }
    """).collect()}
    # description triples come from the dataset's default graph only
    assert got == {"in_g1"}


def test_construct_where_shorthand(tri, spark):
    from rdf_spark.sparql import sparql_construct, sparql_explain

    got = {tuple(r) for r in sparql_construct(tri, """
        CONSTRUCT WHERE { ?c <urn:knows> ?o }
    """).collect()}
    assert got == {("urn:c1", "urn:knows", "urn:c2"),
                   ("urn:c2", "urn:knows", "urn:c3")}
    # shorthand + dataset clause
    quad = spark.createDataFrame(
        [("urn:a", "urn:p", "x", "urn:g1"), ("urn:b", "urn:p", "y", "urn:g2")],
        "s string, p string, o string, graph string")
    got2 = {tuple(r) for r in sparql_construct(quad, """
        CONSTRUCT FROM <urn:g1> WHERE { ?s <urn:p> ?o }
    """).collect()}
    assert got2 == {("urn:a", "urn:p", "x")}
    # explain covers update requests now
    plan = sparql_explain(tri, 'DELETE WHERE { ?c <urn:knows> ?o }')
    assert "Join" in plan or "Exchange" in plan


def test_sparql_job_srj_format(spark, tri, tmp_path):
    """--out-format srj: one SPARQL 1.1 Query Results JSON document
    (head/vars + typed bindings; ASK → boolean document)."""
    import io
    import json
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "jobs")
    import sparql_job

    store = str(tmp_path / "store")
    tri.write.mode("overwrite").parquet(store)
    out = str(tmp_path / "res.srj")
    with redirect_stdout(io.StringIO()):
        rc = sparql_job.main([
            "--store", store, "--out", out, "--out-format", "srj",
            "--query",
            "PREFIX u: <urn:> SELECT ?c ?n WHERE { ?c u:name ?n }",
        ])
    assert rc == 0
    doc = json.load(open(out))
    assert doc["head"]["vars"] == ["c", "n"]
    binds = doc["results"]["bindings"]
    assert len(binds) == 3
    by_name = {b["n"]["value"]: b for b in binds}
    assert by_name["Alice"]["n"]["type"] == "literal"
    assert by_name["Alice"]["c"]["type"] == "uri"

    ask_out = str(tmp_path / "ask.srj")
    with redirect_stdout(io.StringIO()):
        rc = sparql_job.main([
            "--store", store, "--out", ask_out, "--out-format", "srj",
            "--query",
            'PREFIX u: <urn:> ASK { ?c u:name "Alice" }',
        ])
    assert rc == 0
    assert json.load(open(ask_out)) == {"head": {}, "boolean": True}


def test_sparql_job_srj_nonstring_bindings(spark, tri, tmp_path):
    """Review regression: aggregate/arithmetic projections are
    non-string columns — srj must coerce, not crash."""
    import io
    import json
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "jobs")
    import sparql_job

    store = str(tmp_path / "store")
    tri.write.mode("overwrite").parquet(store)
    out = str(tmp_path / "agg.srj")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = sparql_job.main([
            "--store", store, "--out", out, "--out-format", "srj",
            "--query",
            "PREFIX u: <urn:> SELECT (COUNT(?n) AS ?c) "
            "WHERE { ?s u:name ?n }",
        ])
    assert rc == 0
    doc = json.load(open(out))
    [b] = doc["results"]["bindings"]
    assert b["c"] == {"type": "literal", "value": "3"}
    assert json.loads(buf.getvalue().strip().splitlines()[-1])["rows"] == 1
