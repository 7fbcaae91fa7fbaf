"""OWL property entailments (ops/reasoning.py::owl_property_closure)
vs a naive chase fixpoint."""
import pytest

from rdf_spark.ops.reasoning import (
    OWL_INVERSEOF,
    OWL_SYMMETRIC,
    OWL_TRANSITIVE,
    owl_property_closure,
)
from rdf_spark.terms import RDF_TYPE


def _df(spark, triples):
    return spark.createDataFrame(
        list(triples), "s string, p string, o string"
    )


def _naive(triples):
    """Full chase: apply every rule until nothing new appears."""
    inv = {(s, o) for s, p, o in triples if p == OWL_INVERSEOF}
    inv_map = {}
    for a, b in inv | {(b, a) for a, b in inv}:
        if a != b:
            inv_map.setdefault(a, set()).add(b)
    sym = {s for s, p, o in triples if p == RDF_TYPE and o == OWL_SYMMETRIC}
    trans = {s for s, p, o in triples
             if p == RDF_TYPE and o == OWL_TRANSITIVE}
    out = set(triples)
    while True:
        add = set()
        for s, p, o in out:
            for q in inv_map.get(p, ()):
                add.add((o, q, s))
            if p in sym:
                add.add((o, p, s))
            if p in trans:
                for s2, p2, o2 in out:
                    if p2 == p and s2 == o:
                        add.add((s, p, o2))
        if add <= out:
            return out
        out |= add


def _got(df):
    return {(r.s, r.p, r.o) for r in df.collect()}


INV = OWL_INVERSEOF
SYM_T = (RDF_TYPE, OWL_SYMMETRIC)
TRN_T = (RDF_TYPE, OWL_TRANSITIVE)


class TestOwlPropertyClosure:
    def test_inverse(self, spark):
        trs = {("u:p", INV, "u:q"), ("u:a", "u:p", "u:b"),
               ("u:c", "u:q", "u:d")}
        got = _got(owl_property_closure(_df(spark, trs)))
        assert got == _naive(trs)
        assert ("u:b", "u:q", "u:a") in got and ("u:d", "u:p", "u:c") in got

    def test_symmetric_and_transitive(self, spark):
        trs = {("u:knows", *SYM_T), ("u:part", *TRN_T),
               ("u:a", "u:knows", "u:b"),
               ("u:x", "u:part", "u:y"), ("u:y", "u:part", "u:z"),
               ("u:z", "u:part", "u:w")}
        got = _got(owl_property_closure(_df(spark, trs)))
        assert got == _naive(trs)
        assert ("u:b", "u:knows", "u:a") in got
        assert ("u:x", "u:part", "u:w") in got

    def test_inverse_of_transitive_is_transitive(self, spark):
        trs = {("u:part", *TRN_T), ("u:part", INV, "u:contains"),
               ("u:x", "u:part", "u:y"), ("u:y", "u:part", "u:z")}
        got = _got(owl_property_closure(_df(spark, trs)))
        assert got == _naive(trs)
        # contains gets the full inverted closure
        assert ("u:z", "u:contains", "u:x") in got

    def test_sym_inv_chain_orbit(self, spark):
        # p inv q, q symmetric: the orbit needs sym∘inv composition —
        # (a p b) entails (b q a) AND (a q b) (q = inv(p) is symmetric
        # ⟺ flipping it is a no-op), and back through inv: (b p a)
        trs = {("u:p", INV, "u:q"), ("u:q", *SYM_T),
               ("u:a", "u:p", "u:b")}
        got = _got(owl_property_closure(_df(spark, trs)))
        assert got == _naive(trs)
        for t in [("u:b", "u:q", "u:a"), ("u:a", "u:q", "u:b"),
                  ("u:b", "u:p", "u:a")]:
            assert t in got, t

    def test_symmetric_transitive_component(self, spark):
        trs = {("u:r", *SYM_T), ("u:r", *TRN_T),
               ("u:a", "u:r", "u:b"), ("u:b", "u:r", "u:c")}
        got = _got(owl_property_closure(_df(spark, trs)))
        assert got == _naive(trs)
        assert ("u:c", "u:r", "u:a") in got and ("u:a", "u:r", "u:a") in got

    def test_external_schema_and_no_rules(self, spark):
        inst = {("u:a", "u:p", "u:b")}
        schema = {("u:p", *SYM_T)}
        got = _got(owl_property_closure(_df(spark, inst),
                                        schema=_df(spark, schema)))
        assert got == {("u:a", "u:p", "u:b"), ("u:b", "u:p", "u:a")}
        # no declarations → identity
        plain = _got(owl_property_closure(_df(spark, inst)))
        assert plain == inst

    def test_literal_objects_never_flip(self, spark):
        df = spark.createDataFrame(
            [("u:p", RDF_TYPE, OWL_SYMMETRIC, 1, None, None),
             ("u:a", "u:p", "some text", 2, None, None)],
            "s string, p string, o string, o_kind tinyint, "
            "o_datatype string, o_lang string",
        )
        got = {(r.s, r.p, r.o) for r in owl_property_closure(df).collect()}
        assert ("some text", "u:p", "u:a") not in got
        assert len(got) == 2

    @pytest.mark.parametrize("seed", range(4))
    def test_matches_naive_chase_random(self, spark, seed):
        import random

        rng = random.Random(seed)
        preds = [f"u:p{i}" for i in range(4)]
        nodes = [f"u:n{i}" for i in range(8)]
        trs = set()
        for _ in range(2):
            a, b = rng.sample(preds, 2)
            trs.add((a, INV, b))
        for p in rng.sample(preds, 2):
            trs.add((p, *rng.choice([SYM_T, TRN_T])))
        for _ in range(14):
            trs.add((rng.choice(nodes), rng.choice(preds),
                     rng.choice(nodes)))
        got = _got(owl_property_closure(_df(spark, trs)))
        assert got == _naive(trs), seed


def test_instance_closure_local_matches_distributed(spark, set_fastpath_cap):
    import random

    rng = random.Random(41)
    preds = [f"u:p{i}" for i in range(3)]
    nodes = [f"u:n{i}" for i in range(10)]
    trs = {(preds[0], *TRN_T), (preds[1], INV, preds[0]),
           (preds[2], *SYM_T), (preds[2], *TRN_T)}
    for _ in range(25):
        trs.add((rng.choice(nodes), rng.choice(preds), rng.choice(nodes)))
    fast = _got(owl_property_closure(_df(spark, trs)))
    set_fastpath_cap(0)
    slow = _got(owl_property_closure(_df(spark, trs)))
    assert fast == slow


def test_instance_closure_single_kind_column(spark, set_fastpath_cap):
    """o_kind-only (and s_kind-only) inputs must close identically on
    both paths — the local replica indexes kind positions per column."""

    rows = [("u:p0", RDF_TYPE, OWL_TRANSITIVE, 1),
            ("u:a", "u:p0", "u:b", 1), ("u:b", "u:p0", "u:c", 1)]
    df = spark.createDataFrame(
        rows, "s string, p string, o string, o_kind int")
    fast = _got(owl_property_closure(df))
    set_fastpath_cap(0)
    slow = _got(owl_property_closure(df))
    assert fast == slow
    assert ("u:a", "u:p0", "u:c") in {t[:3] for t in fast}
