"""ops.fastpath: the one driver fast-path helper — checkpoint reuse,
bail-out, checkpoint release, the rule that no operator probes its
input by hand, and the Arrow hand-off every driver-built frame takes."""

import ast
import datetime as dt
import pathlib
import re
from decimal import Decimal

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from rdf_spark import sparql
from rdf_spark.ops import bpe, dedup, fastpath, graph, rdflist, reasoning, walks
from rdf_spark.ops.planutil import plan_has
from rdf_spark.terms import RDF_NS

RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL_TRANSITIVE = "http://www.w3.org/2002/07/owl#TransitiveProperty"


def _persisted_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _edges(spark, ddl="a string, b string"):
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
             ("e", "c"), ("b", "d"), ("x", "y"), ("y", "y")]
    return spark.createDataFrame(pairs, ddl)


def _helper_users(spark):
    """One small local-path call per operator that uses the helper."""
    e = _edges(spark)
    d = _edges(spark, "src string, dst string")
    w = spark.createDataFrame(
        [("a", "b", 2), ("b", "c", 1), ("a", "c", 5)],
        "src string, dst string, w long")
    srcs = spark.createDataFrame([("a",)], "s string")
    trip = spark.createDataFrame(
        [("u:a", "u:p", "u:b", 1, None, None),
         ("u:b", "u:p", "u:c", 1, None, None),
         ("u:p", RDFS + "subPropertyOf", "u:q", 1, None, None),
         ("u:q", RDFS + "domain", "u:C", 1, None, None),
         ("u:p", RDF_NS + "type", OWL_TRANSITIVE, 1, None, None),
         ("u:l", RDF_NS + "first", "1", 2, None, None),
         ("u:l", RDF_NS + "rest", RDF_NS + "nil", 1, None, None)],
        "s string, p string, o string, o_kind int, o_datatype string, "
        "o_lang string")
    pe = trip.filter(F.col("p") == "u:p").select(
        F.col("s").alias("_src"), F.col("o").alias("_dst"))
    sub = trip.filter(F.col("p") == RDFS + "subPropertyOf").select(
        F.col("s").alias("sub"), F.col("o").alias("sup"))
    docs = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "new newer newest"),
         (3, "low lower lowest"), (4, "unrelated words here")],
        "doc_id long, text string")
    return {
        "connected_components_star": lambda: graph.connected_components_star(e),
        "connected_components": lambda: graph.connected_components(e),
        "pagerank": lambda: graph.pagerank(d),
        "personalized_pagerank": lambda: graph.personalized_pagerank(d, ["a"]),
        "hits": lambda: graph.hits(d),
        "triangle_count": lambda: graph.triangle_count(e),
        "k_truss": lambda: graph.k_truss(e, k=3),
        "k_core": lambda: graph.k_core(e, k=2),
        "label_propagation": lambda: graph.label_propagation(e),
        "link_predict": lambda: graph.link_predict(e),
        "strongly_connected_components":
            lambda: graph.strongly_connected_components(d),
        "shortest_paths":
            lambda: graph.shortest_paths(w, srcs, weight_col="w"),
        "sparql._reach_from": lambda: sparql._reach_from(pe, "u:a"),
        "sparql._closure_pairs": lambda: sparql._closure_pairs(pe),
        "reasoning._schema_closure": lambda: reasoning._schema_closure(sub),
        "rdfs_closure": lambda: reasoning.rdfs_closure(trip),
        "owl_property_closure": lambda: reasoning.owl_property_closure(trip),
        "rdf_lists": lambda: rdflist.rdf_lists(trip),
        "train_bpe": lambda: bpe.train_bpe(docs, n_merges=3),
        "deterministic_walks":
            lambda: walks.deterministic_walks(d, walk_len=3),
        "near_dup_clusters":
            lambda: dedup.near_dup_clusters(docs, threshold=0.9),
    }


def test_local_path_releases_probe_checkpoint(spark):
    """A long-lived session must not accumulate the probe checkpoints
    of local-path calls; the returned frame stays readable."""
    for name, call in _helper_users(spark).items():
        before = _persisted_ids(spark)
        out = call()
        assert _persisted_ids(spark) - before == set(), name
        if not isinstance(out, list):
            out.collect()


def test_bail_keeps_checkpoint_for_fallback(spark):
    """A replica that returns None leaves the probe's checkpoint to the
    distributed path, still readable (never released on a bail)."""
    df = spark.range(50).select((F.col("id") % 7).alias("k")).distinct()
    out, (ck,) = fastpath.try_local([df], lambda head: None)
    assert out is None
    assert ck._jdf.queryExecution().analyzed().getClass().getSimpleName() \
        == "LogicalRDD"
    assert sorted(r.k for r in ck.collect()) == list(range(7))


def test_scan_plans_are_not_checkpointed(spark):
    """A plain projection has nothing to re-run: probed lazily."""
    df = spark.range(10).select((F.col("id") * 2).alias("x"))
    assert not plan_has(df, fastpath._RESCAN_NODES)
    assert plan_has(df.distinct(), fastpath._RESCAN_NODES)
    out, (same,) = fastpath.try_local([df], lambda head: len(head))
    assert out == 10 and same is df


def test_factor_scales_the_cap(spark, set_fastpath_cap):
    set_fastpath_cap(3)
    df = spark.range(5).toDF("x")
    assert fastpath.try_local([df], len, factors=(2,))[0] == 5
    assert fastpath.try_local([df], len)[0] is None


@pytest.mark.parametrize("fn", ["_closure_pairs", "_reach_from"])
def test_sparql_closure_fallback_dedups_once(spark, set_fastpath_cap,
                                            new_sql_plans, fn):
    """At cap 0 the over-cap fallback reuses the probe's checkpoint: the
    dedup Exchange over the input runs once, not once for the probe and
    again for the fallback."""
    set_fastpath_cap(0)
    # a 5-cycle, every edge twice: the dedup has work to do
    edges = spark.range(10).select(
        (F.col("id") % 5).cast("string").alias("_src"),
        ((F.col("id") + 1) % 5).cast("string").alias("_dst"))
    new_sql_plans()
    if fn == "_closure_pairs":
        out = sparql._closure_pairs(edges)
        expect = 5 * 5
    else:
        out = sparql._reach_from(edges, "0")
        expect = 5
    assert out.count() == expect
    # executions that shuffle the raw Range input (its dedup)
    assert sum("Range" in p and "Exchange" in p
               for p in new_sql_plans()) == 1


def test_no_hand_rolled_probe_outside_fastpath():
    """Every driver fast path goes through ops.fastpath.try_local."""
    root = pathlib.Path(fastpath.__file__).resolve().parents[1]
    # also across a line break: ``.limit(cap + 1)\n.collect()``
    probe = re.compile(r"limit\([^)]*\+ ?1\)\s*\.collect")
    offenders = [
        f"{p.relative_to(root)}:{text.count(chr(10), 0, m.start()) + 1}"
        for p in root.rglob("*.py") if p.name != "fastpath.py"
        for text in [p.read_text()]
        for m in probe.finditer(text)
    ]
    assert offenders == []


_LOCAL_FRAME_CASES = {
    "string": ([("a",), (None,), ("é☃ \"q\"",)], "x string"),
    "int": ([(1,), (-2**31,), (None,)], "x int"),
    "bigint": ([(2**40,), (-2**63,), (None,)], "x bigint"),
    "double": ([(1.5,), (float("inf"),), (-0.0,), (None,)], "x double"),
    "boolean": ([(True,), (False,), (None,)], "x boolean"),
    # more digits than the scale: rounded HALF_UP, as the JVM does
    "decimal": ([(Decimal("1.23456"),), (Decimal("-2.005"),),
                 (Decimal("7"),), (None,)], "x decimal(10,2)"),
    "date": ([(dt.date(2020, 1, 2),), (dt.date(1969, 12, 31),), (None,)],
             "x date"),
    # a naive timestamp is local time; an aware one keeps its instant
    "timestamp": ([(dt.datetime(2020, 1, 2, 3, 4, 5, 678901),),
                   (dt.datetime(2020, 1, 2, 3, 4, 5, tzinfo=dt.timezone(
                       dt.timedelta(hours=5))),), (None,)], "x timestamp"),
    "null_only": ([(None, None), (None, None)], "a string, b double"),
    "zero_rows": ([], "a string, b bigint, c double"),
    "not_nullable": ([("a", 1), ("b", None)], StructType([
        StructField("a", StringType(), False),
        StructField("b", LongType(), True)])),
    "mixed": ([("n1", 3, 0.25, True), ("n2", None, None, False)],
              "node string, k int, rank double, hit boolean"),
}


@pytest.mark.parametrize("case", sorted(_LOCAL_FRAME_CASES))
def test_local_frame_matches_create_dataframe(spark, case):
    """The Arrow hand-off gives exactly the frame of
    ``createDataFrame(rows, schema)`` — rows, column names, types and
    nullability — as a LocalRelation."""
    rows, schema = _LOCAL_FRAME_CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = fastpath.local_frame(spark, iter(rows), schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert got._jdf.queryExecution().analyzed().getClass().getSimpleName() \
        == "LocalRelation"


@pytest.mark.parametrize("op", ["pagerank", "connected_components",
                                "triangle_count"])
def test_replica_results_read_no_python_rdd(spark, op):
    """A replica's result is built from an Arrow table, so no leaf of
    its plan is a LogicalRDD (a pickled Python RDD whose every read
    runs Python tasks)."""
    e = _edges(spark, "src string, dst string" if op == "pagerank"
               else "a string, b string")
    out = getattr(graph, op)(e)
    leaves = out._jdf.queryExecution().analyzed().collectLeaves()
    kinds = {leaves.apply(i).getClass().getSimpleName()
             for i in range(leaves.size())}
    assert kinds == {"LocalRelation"}


def test_no_create_dataframe_outside_local_frame():
    """Every frame built from driver rows in the library and its job
    CLIs goes through ops.fastpath.local_frame."""
    repo = pathlib.Path(fastpath.__file__).resolve().parents[2]
    offenders = []
    for top in ("rdf_spark", "jobs"):
        for p in sorted((repo / top).rglob("*.py")):
            tree = ast.parse(p.read_text())
            allowed = set()
            if p.name == "fastpath.py":
                fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef)
                          and n.name == "local_frame")
                allowed = {id(n) for n in ast.walk(fn)}
            offenders += [
                f"{p.relative_to(repo)}:{n.lineno}" for n in ast.walk(tree)
                if isinstance(n, ast.Attribute) and n.attr == "createDataFrame"
                and id(n) not in allowed
            ]
    assert offenders == []
