"""rdf:List materialization (ops.rdflist.rdf_lists)."""
import pytest

from rdf_spark.ops.rdflist import RDF_FIRST, RDF_NIL, RDF_REST, rdf_lists

DDL = ("s string, p string, o string, o_kind int, o_datatype string, "
       "o_lang string")
XS = "http://www.w3.org/2001/XMLSchema#string"


def _df(spark, rows):
    return spark.createDataFrame(rows, DDL)


def _chain(head_prefix, items, tail=RDF_NIL):
    """Triples for a list of literal items; cells <prefix>0.. ."""
    rows = []
    for j, it in enumerate(items):
        cell = f"{head_prefix}{j}"
        rows.append((cell, RDF_FIRST, it, 2, XS, None))
        nxt = f"{head_prefix}{j+1}" if j + 1 < len(items) else tail
        rows.append((cell, RDF_REST, nxt, 1 if nxt != tail or
                     tail == RDF_NIL else 1, None, None))
    return rows


def _members(df):
    return sorted((r.head, r.ix, r.member) for r in df.collect())


def test_basic_and_single_element(spark):
    rows = _chain("b:", ["x", "y", "z"]) + _chain("c:", ["solo"])
    got = _members(rdf_lists(_df(spark, rows)))
    assert got == [
        ("b:0", 0, "x"), ("b:0", 1, "y"), ("b:0", 2, "z"),
        ("c:0", 0, "solo"),
    ]


def test_long_list_pointer_doubling(spark):
    items = [f"i{j}" for j in range(40)]
    got = _members(rdf_lists(_df(spark, _chain("L", items)), max_len=64))
    assert got == [("L0", j, f"i{j}") for j in range(40)]


def test_over_max_len_dropped(spark):
    items = [f"i{j}" for j in range(12)]
    df = _df(spark, _chain("L", items))
    assert rdf_lists(df, max_len=8).count() == 0
    assert rdf_lists(df, max_len=12).count() == 12


def test_dangling_tail_dropped(spark):
    rows = _chain("ok:", ["a", "b"]) + _chain("bad:", ["p", "q"],
                                              tail="u:dangle")
    got = _members(rdf_lists(_df(spark, rows)))
    assert got == [("ok:0", 0, "a"), ("ok:0", 1, "b")]


def test_cycle_dropped(spark):
    rows = [
        ("c0", RDF_FIRST, "a", 2, XS, None),
        ("c0", RDF_REST, "c1", 1, None, None),
        ("c1", RDF_FIRST, "b", 2, XS, None),
        ("c1", RDF_REST, "c0", 1, None, None),  # cycle — but c0 is
        # rest-object so neither is a head at all
        ("h0", RDF_FIRST, "x", 2, XS, None),
        ("h0", RDF_REST, "h1", 1, None, None),
        ("h1", RDF_FIRST, "y", 2, XS, None),
        ("h1", RDF_REST, "h1", 1, None, None),  # self-loop tail
    ]
    assert rdf_lists(_df(spark, rows)).count() == 0


def test_multi_first_and_multi_rest_dropped(spark):
    rows = _chain("ok:", ["a"]) + _chain("mf:", ["p", "q"])
    rows.append(("mf:1", RDF_FIRST, "ALT", 2, XS, None))
    rows += _chain("mr:", ["r", "s"])
    rows.append(("mr:0", RDF_REST, RDF_NIL, 1, None, None))
    got = _members(rdf_lists(_df(spark, rows)))
    assert got == [("ok:0", 0, "a")]


def test_duplicate_triples_are_fine(spark):
    rows = _chain("d:", ["a", "b"])
    got = _members(rdf_lists(_df(spark, rows + rows)))
    assert got == [("d:0", 0, "a"), ("d:0", 1, "b")]


def test_nested_list_enumerated_separately(spark):
    # outer list (m1, inner-head, m2); inner list (x, y).  The inner
    # head is an rdf:first object, not a rest object → also a head.
    inner = _chain("in", ["x", "y"])
    rows = inner + [
        ("o0", RDF_FIRST, "m1", 2, XS, None),
        ("o0", RDF_REST, "o1", 1, None, None),
        ("o1", RDF_FIRST, "in0", 1, None, None),
        ("o1", RDF_REST, "o2", 1, None, None),
        ("o2", RDF_FIRST, "m2", 2, XS, None),
        ("o2", RDF_REST, RDF_NIL, 1, None, None),
    ]
    got = _members(rdf_lists(_df(spark, rows)))
    assert got == [
        ("in0", 0, "x"), ("in0", 1, "y"),
        ("o0", 0, "m1"), ("o0", 1, "in0"), ("o0", 2, "m2"),
    ]


def test_kinds_and_datatypes_carried(spark):
    rows = [
        ("h", RDF_FIRST, "u:iri", 1, None, None),
        ("h", RDF_REST, "h2", 1, None, None),
        ("h2", RDF_FIRST, "bonjour", 2, None, "fr"),
        ("h2", RDF_REST, RDF_NIL, 1, None, None),
    ]
    out = rdf_lists(_df(spark, rows)).orderBy("ix").collect()
    assert (out[0].member_kind, out[0].member_lang) == (1, None)
    assert (out[1].member_kind, out[1].member_lang) == (2, "fr")


def test_stats(spark):
    rows = _chain("ok:", ["a", "b"]) + _chain("bad:", ["p"],
                                              tail="u:dangle")
    row = rdf_lists(_df(spark, rows), stats=True).collect()[0]
    assert (row.n_lists, row.n_members, row.n_dropped_heads) == (1, 2, 1)


def test_nil_with_rest_garbage(spark):
    rows = _chain("g:", ["a", "b"])
    rows.append((RDF_NIL, RDF_REST, "g:0", 1, None, None))
    # nil now rest-points INTO the list; g:0 becomes a rest object so
    # it is no longer a head → nothing well-formed remains
    assert rdf_lists(_df(spark, rows)).count() == 0


def test_max_len_validation(spark):
    with pytest.raises(ValueError):
        rdf_lists(_df(spark, _chain("x", ["a"])), max_len=0)


def test_local_matches_distributed(spark, set_fastpath_cap):
    """Driver fast path ≡ distributed pointer-doubling on a mixed
    fixture: good chains, a cycle, a dangle, multi-first, past-nil
    garbage — full 6-column row sets and stats must agree."""

    rows = (
        _chain("ok:", ["a", "b", "c"])
        + _chain("one:", ["solo"])
        + _chain("dang:", ["p", "q"], tail="u:dangle")
        + _chain("cyc:", ["x", "y"], tail="cyc:0")
        + _chain("mf:", ["m1", "m2"])
    )
    rows.append(("mf:1", RDF_FIRST, "EXTRA", 2, XS, None))
    rows.append((RDF_NIL, RDF_REST, "bad:tail", 1, None, None))
    df = _df(spark, rows)

    def full(frame):
        return sorted(tuple(r) for r in frame.collect())

    fast = full(rdf_lists(df))
    fast_stats = full(rdf_lists(df, stats=True))
    set_fastpath_cap(0)
    slow = full(rdf_lists(df))
    slow_stats = full(rdf_lists(df, stats=True))
    assert fast == slow
    assert fast_stats == slow_stats
