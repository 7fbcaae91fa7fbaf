"""Driver fast path: run an operator's in-process replica when its
inputs are small, else its distributed algorithm.

On a bench-sized input the O(rounds) Spark jobs of an iterative
operator are pure scheduling, while one guarded collect plus an
in-process replica of the same round schedule is one job.
:func:`try_local` makes that choice for every operator:

1. an input whose physical plan has an ``Exchange`` or a Python /
   row-generator stage (:mod:`rdf_spark.ops.planutil`) is
   ``localCheckpoint``-ed, so the probe and the distributed fallback
   share one evaluation of it.  The checkpoint is lazy: the probe's
   job fills it (Spark computes any partition the probe skipped right
   after), so a fitting input costs no job beyond the probe;
2. each input is probed with ``limit(cap + 1).collect()``;
3. if all fit, the replica runs on the collected rows and may still
   return ``None`` (an output or work bound it guards is exceeded).

A checkpoint taken here is released once a replica result that does
not read it is returned — never on the fallback, whose later reads
would fail on the freed blocks.

A replica's result, like every frame the library builds from driver
rows, goes through :func:`local_frame`: one Arrow table handed to the
JVM, which keeps it as a ``LocalRelation`` (or, above
``spark.sql.execution.arrow.localRelationThreshold`` bytes, as an RDD
of Arrow batches).  ``createDataFrame`` over Python rows instead
builds a pickled Python RDD, and every read of it runs
``defaultParallelism`` Python tasks.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from typing import Callable, Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DataType,
    DateType,
    DecimalType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from rdf_spark.ops.planutil import _GEN_NODES, _PY_NODES, plan_has

#: rows collected per probed input before the distributed path is
#: taken; inputs that are a fixed multiple of an edge set by
#: construction (symmetric views, node sets) probe at that multiple
LOCAL_ROWS_MAX = 200_000

_RESCAN_NODES = ("Exchange",) + _PY_NODES + _GEN_NODES


def _arrow_column(values: Sequence, dtype: DataType, atype: pa.DataType):
    """One column of Python values as an Arrow array of ``atype``, the
    values converted as ``createDataFrame(rows, schema)`` converts
    them: dates and timestamps through the Spark type's own
    ``toInternal`` (a naive timestamp is local time), decimals rounded
    HALF_UP to the column's scale."""
    if isinstance(dtype, (DateType, TimestampType, TimestampNTZType)):
        internal = [None if v is None else dtype.toInternal(v) for v in values]
        raw = pa.int32() if isinstance(dtype, DateType) else pa.int64()
        return pa.array(internal, type=raw).cast(atype)
    if isinstance(dtype, DecimalType):
        step = Decimal(1).scaleb(-dtype.scale)
        values = [None if v is None else v.quantize(step, ROUND_HALF_UP)
                  for v in values]
    return pa.array(values, type=atype)


def local_frame(spark: SparkSession, rows: Iterable,
                schema: StructType | str) -> DataFrame:
    """The frame ``spark.createDataFrame(rows, schema)`` gives — same
    rows, column names, types and nullability — built from one Arrow
    table, so reading it runs no Python task.  ``rows`` are tuples in
    ``schema``'s column order; ``schema`` is a ``StructType`` or a DDL
    string such as ``"node string, rank double"``."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [_arrow_column(c, f.dataType, t)
         for c, f, t in zip(cols, schema.fields, arrow.types)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def release(checkpoint: DataFrame, result) -> None:
    """Free the blocks of ``checkpoint`` (a ``localCheckpoint`` frame)
    unless a frame in ``result`` (a frame, or a tuple/list holding
    frames) still scans them."""
    rdd = checkpoint._jdf.queryExecution().analyzed().rdd()
    items = result if isinstance(result, (tuple, list)) else (result,)
    for item in items:
        if isinstance(item, DataFrame):
            leaves = item._jdf.queryExecution().analyzed().collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if (leaf.getClass().getSimpleName() == "LogicalRDD"
                        and leaf.rdd().id() == rdd.id()):
                    return
    rdd.unpersist(False)


def try_local(
    frames: Sequence[DataFrame],
    local: Callable,
    factors: Sequence[int] = (),
) -> tuple[object, list[DataFrame]]:
    """``(local(*heads), inputs)`` when every frame fits its cap —
    ``heads[i]`` the rows of ``frames[i]``, the cap ``factors[i]``
    (default 1) times :data:`LOCAL_ROWS_MAX`.  Else ``(None, frames)``,
    as also when the replica returns ``None``: the inputs checkpointed
    per the module rule, which the caller's distributed path reads."""
    inputs, frames, taken = list(frames), list(frames), []
    for i, df in enumerate(frames):
        if plan_has(df, _RESCAN_NODES):
            frames[i] = df.localCheckpoint(eager=False)
            taken.append(frames[i])
    heads = []
    for df, factor in zip(frames, list(factors) + [1] * len(frames)):
        cap = factor * LOCAL_ROWS_MAX
        head = df.limit(cap + 1).collect()
        if len(head) > cap:
            return None, frames
        heads.append(head)
    try:
        out = local(*heads)
    except BaseException:
        for ck in taken:
            release(ck, None)
        raise
    if out is None:
        return None, frames
    for ck in taken:
        release(ck, out)
    return out, inputs
