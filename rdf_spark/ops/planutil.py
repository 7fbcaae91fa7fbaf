"""Plan-aware input materialization for multi-branch operators.

Several operators evaluate many independent branch plans over ONE input
(SHACL validation: one branch per constraint family; infobox mining:
both sides of the header self-join).  When that input is a plain file
scan, re-scanning per branch is the RIGHT plan — each branch's
predicate prunes at the source, and no copy of the data is ever
materialized.  But when the input crosses the Python boundary (our
parsers/extractors: ``mapInArrow`` / ``mapInPandas`` stages), every
branch re-runs the full Python parse — k branches pay k parses
(measured: the shacl_report bench query re-parsed 1.3M N-Triples lines
once per violation family; materializing once cut the wall ~3x).

``materialize_for_fanout`` applies the obvious rule: localCheckpoint
the input once iff its physical plan contains a Python stage; leave
pure-JVM/scan plans lazy.  The checkpoint is computed from the inputs
at call time (inside the caller's timed region — nothing is cached
across runs) and its storage is dropped when the RDD is GC'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PY_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInArrow",
    "PythonMapInArrow",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
)

# row generators: a branch predicate cannot be pushed below an explode,
# so k branches over a generator-built input re-run the generator k
# times with no pruning payoff — same economics as a Python stage
_GEN_NODES = ("Generate",)


def plan_has(df: DataFrame, nodes: tuple[str, ...]) -> bool:
    """Whether ``df``'s physical plan contains one of the node names."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    return any(n in plan for n in nodes)


def materialize_for_fanout(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` iff re-evaluating ``df`` means
    re-running a Python stage or a row generator (explode); plain
    scan/expression plans are returned unchanged so per-branch
    pruning/pushdown still applies — a parquet triple store filtered by
    predicate per branch is exactly the plan we must NOT materialize.
    Streaming frames are returned unchanged (cannot checkpoint)."""
    if df.isStreaming:
        return df
    if plan_has(df, _PY_NODES + _GEN_NODES):
        return df.localCheckpoint(eager=True)
    return df
