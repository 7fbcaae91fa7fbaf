"""Deterministic random walks over an edge table (graft addition — no
reference analogue; /root/reference stops at parse/serialize,
rdf.go:14-22).  DeepWalk/node2vec-style graph-embedding pipelines
consume walk corpora; a distributed walk generator must be
DETERMINISTIC to be resumable and auditable (the same argument as
ops/sample.py — Spark's per-partition RNG changes with partitioning).

The walk rule: from node ``u`` at step ``t`` of walk ``(start, w)``,
move to the out-neighbor ``v`` minimizing
``md5(start || '|' || w || '|' || t || '|' || v)`` — a per-step hash
lottery that is uniform over neighbors, independent across steps and
walks, identical at any parallelism, and replayable verbatim in a SQL
oracle.  Dead ends (no out-edges) end the walk early.

Scale shape: one equi-join frontier-against-edges plus one
``min(struct(md5, dst))`` hash aggregation per step (map-side
combinable — a hub node's candidate fan-in reduces before the
shuffle); the frontier holds one row per live walk.  ``walk_len``
shuffles total — the standard iterative-BFS cost.  The per-step
localCheckpoint keeps the plan linear in ``walk_len``, not
exponential.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rdf_spark.ops import fastpath


def deterministic_walks(
    edges: DataFrame,
    walk_len: int,
    n_walks: int = 1,
    starts: DataFrame | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: bool = True,
) -> DataFrame:
    """Walk corpus: ``(start, walk, step, node)`` rows, one per visited
    node, ``step`` 0-based (step 0 is the start node itself).

    ``starts``: optional one-column DataFrame of start nodes (defaults
    to every distinct source node); ``n_walks`` walks per start.
    """
    if walk_len < 1:
        raise ValueError(f"walk_len must be >= 1, got {walk_len}")
    if n_walks < 1:
        raise ValueError(f"n_walks must be >= 1, got {n_walks}")
    e = edges.select(
        F.col(src_col).cast("string").alias("_src"),
        F.col(dst_col).cast("string").alias("_dst"),
    ).filter(F.col("_src").isNotNull() & F.col("_dst").isNotNull())

    if starts is None:
        starts = e.select(F.col("_src").alias("start")).distinct()
    else:
        [c] = starts.columns
        starts = starts.select(F.col(c).cast("string").alias("start"))

    out, (e, starts) = fastpath.try_local(
        [e, starts], lambda ehead, shead: _walks_local(
            edges.sparkSession, ehead, shead, walk_len, n_walks))
    if out is not None:
        return out

    frontier = starts.select(
        "start",
        F.explode(
            F.sequence(F.lit(0), F.lit(n_walks - 1))
        ).alias("walk"),
    ).withColumn("node", F.col("start")).withColumn(
        "step", F.lit(0)
    )
    out = frontier
    for t in range(1, walk_len):
        nxt = (
            frontier.join(e, frontier["node"] == e["_src"])
            .select(
                "start", "walk",
                F.struct(
                    F.md5(F.concat_ws(
                        "|", F.col("start"), F.col("walk"),
                        F.lit(t), F.col("_dst"),
                    )).alias("h"),
                    F.col("_dst").alias("v"),
                ).alias("_cand"),
            )
            .groupBy("start", "walk")
            .agg(F.min("_cand").alias("_win"))
            .select(
                "start", "walk",
                F.col("_win.v").alias("node"),
                F.lit(t).alias("step"),
            )
        )
        if checkpoint:
            nxt = nxt.localCheckpoint(eager=True)
        frontier = nxt
        out = out.unionByName(frontier)
    return out.select("start", "walk", "step", "node")


#: output bound of the driver replica, in walk rows (its inputs are
#: probed by ops.fastpath)
_WALK_ROWS_MAX = 2_000_000


def _walks_local(spark, ehead, shead, walk_len: int, n_walks: int):
    """Driver replica of the per-step md5 lottery (hashlib.md5 of the
    same ``start|walk|t|v`` string, winner = min (hex, v) — identical
    to the distributed ``min(struct(md5, dst))``) over the collected
    edges and start rows, or None past ``_WALK_ROWS_MAX``.  Null start
    nodes dead-end at step 0 exactly like the null-key join."""
    import hashlib

    if len(shead) * n_walks * walk_len > _WALK_ROWS_MAX:
        return None
    adj: dict = {}
    for r in ehead:
        adj.setdefault(r["_src"], set()).add(r["_dst"])
    rows = []
    # duplicate start rows emit duplicate step-0 rows (the distributed
    # frontier has one row per input start row) but merge from step 1
    # on (the per-(start, walk) groupBy dedups them)
    mult: dict = {}
    for sr in shead:
        mult[sr["start"]] = mult.get(sr["start"], 0) + 1
    for start, m in mult.items():
        for w in range(n_walks):
            node = start
            rows.extend([(start, w, 0, node)] * m)
            for t in range(1, walk_len):
                nxt = adj.get(node)
                if not nxt:
                    break
                node = min(
                    nxt,
                    key=lambda v: (hashlib.md5(
                        f"{start}|{w}|{t}|{v}".encode()).hexdigest(), v),
                )
                rows.append((start, w, t, node))
    from rdf_spark.ops.graph import _sorted_rows

    return fastpath.local_frame(
        spark, _sorted_rows(rows),
        "start string, walk int, step int, node string",
    )


def walk_sentences(walks: DataFrame) -> DataFrame:
    """Collapse walk rows to one space-joined ``sentence`` string per
    walk — the skip-gram trainer's input line format.  One
    hash-aggregation (``array_sort(collect_list(struct(step, node)))``
    keeps the order partitioning-invariant)."""
    return (
        walks.groupBy("start", "walk")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("step", "node"))
            ).alias("_s")
        )
        .select(
            "start", "walk",
            F.array_join(
                F.transform(F.col("_s"), lambda x: x["node"]), " "
            ).alias("sentence"),
        )
    )
