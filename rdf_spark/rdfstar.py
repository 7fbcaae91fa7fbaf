"""RDF-star encode: fold reification statements back into ``<< >>``.

Inverse of the decode mapping in rdf_spark/parsing.py (_QtMinter): a
node carrying exactly ``rdf:type rdf:Statement`` plus ONE each of
``rdf:subject / rdf:predicate / rdf:object`` is a *foldable* statement
node; every reference to it serializes as the quoted triple
``<< s p o >>`` and its four reification rows are dropped (they are
implied by the star syntax).  Everything else — nodes with missing or
duplicated parts, plain triples — passes through as canonical
N-Triples, so ``encode → parse`` is the identity on the triple multiset
for any graph the star decoder produced (round-trip property, tested).

No reference analogue: /root/reference is RDF 1.1 only (rdf.go:14-22)
and encodes reification literally; this module exists so a KG whose
provenance/confidence edges hang off statement nodes can interchange
with RDF-star tooling.

Scale shape: statement-part assembly is three self-equi-joins of the
(small) reification slice on the node key plus one duplicate-guard
aggregation; nesting resolves by re-joining the statement table against
itself ``max_depth`` times (statement metadata only — the instance scan
is never in the loop); the final line projection left-joins the folded
serializations twice (subject side, object side).  All equi-joins, no
windows, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from rdf_spark.encoders import term_nt_col
from rdf_spark.ops import fastpath
from rdf_spark.parsing import (
    RDF_OBJECT,
    RDF_PREDICATE,
    RDF_STATEMENT,
    RDF_SUBJECT,
)
from rdf_spark.terms import KIND_IRI, KIND_LITERAL, RDF_TYPE

_PART_PREDS = (RDF_SUBJECT, RDF_PREDICATE, RDF_OBJECT)


def _is_reif_row() -> Column:
    return F.col("p").isin(*_PART_PREDS) | (
        (F.col("p") == RDF_TYPE)
        & (F.col("o") == RDF_STATEMENT)
        & (F.col("o_kind") == KIND_IRI)
    )


#: statement nodes the star DECODER mints — the only ones folded by
#: default (folding a hand-reified node with its own IRI would RENAME it
#: to urn:rdfstar:<md5> on the next parse, breaking external references)
_MINTED_RE = r"^(urn:rdfstar:|_:qt)[0-9a-f]{32}$"


def _statement_sers(
    df: DataFrame, max_depth: int, fold: str = "minted"
) -> tuple[DataFrame, DataFrame]:
    """``(sers, checkpoint)``: ``sers`` is (node, ser), the ``<< s p o
    >>`` serialization of every foldable statement node, with nested
    statement references resolved up to ``max_depth`` levels;
    ``checkpoint`` is the last round's local checkpoint, which ``sers``
    reads (the earlier rounds' are released as each next round is
    taken).  ``fold="minted"`` restricts to decoder-minted node ids (see
    :data:`_MINTED_RE`); ``fold="all"`` folds any complete reification
    (identity-destroying on round-trip — opt-in only)."""
    if fold not in ("minted", "all"):
        raise ValueError(f"fold must be 'minted' or 'all', got {fold!r}")
    typed = (
        df.filter(
            (F.col("p") == RDF_TYPE)
            & (F.col("o") == RDF_STATEMENT)
            & (F.col("o_kind") == KIND_IRI)
        )
        .select(F.col("s").alias("node"))
        .distinct()
    )
    if fold == "minted":
        typed = typed.filter(F.col("node").rlike(_MINTED_RE))
    # set semantics over reification rows: the same ground fact quoted
    # in two documents legitimately yields identical reification rows
    # twice — identical copies collapse; genuinely CONFLICTING parts
    # still disqualify via the duplicate guard below
    parts = df.filter(F.col("p").isin(*_PART_PREDS)).dropDuplicates(
        ["s", "p", "o", "o_kind", "o_datatype", "o_lang"]
    )
    # exactly one of each part — duplicated or missing parts disqualify
    dup = (
        parts.groupBy("s", "p")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select(F.col("s").alias("node"))
        .distinct()
    )

    def part(pred: str, prefix: str) -> DataFrame:
        return parts.filter(F.col("p") == pred).select(
            F.col("s").alias("node"),
            F.col("o").alias(prefix),
            F.col("o_kind").alias(prefix + "_kind"),
            F.col("o_datatype").alias(prefix + "_dt"),
            F.col("o_lang").alias(prefix + "_lang"),
        )

    stmts = (
        typed.join(part(RDF_SUBJECT, "qs"), "node")
        .join(part(RDF_PREDICATE, "qp"), "node")
        .join(part(RDF_OBJECT, "qo"), "node")
        .join(dup, "node", "left_anti")
    )

    # mark which subject/object slots reference another foldable
    # statement node — resolution tracking: a node's serialization is
    # COMPLETE only when every such inner reference has been substituted
    nodeset = stmts.select("node").distinct()
    stmts = (
        stmts.join(
            nodeset.withColumnRenamed("node", "qs")
            .withColumn("_qs_stmt", F.lit(True)),
            "qs", "left",
        )
        .join(
            nodeset.withColumnRenamed("node", "qo")
            .withColumn("_qo_stmt", F.lit(True)),
            "qo", "left",
        )
        .withColumn(
            "_qs_stmt",
            F.coalesce(F.col("_qs_stmt"), F.lit(False))
            & (F.col("qs_kind") != KIND_LITERAL),
        )
        .withColumn(
            "_qo_stmt",
            F.coalesce(F.col("_qo_stmt"), F.lit(False))
            & (F.col("qo_kind") != KIND_LITERAL),
        )
    )

    def ser_round(cur: DataFrame) -> DataFrame:
        qs_ser = F.coalesce(
            F.col("_sub_ser"),
            term_nt_col(F.col("qs"), F.col("qs_kind")),
        )
        qo_ser = F.coalesce(
            F.col("_obj_ser"),
            term_nt_col(
                F.col("qo"), F.col("qo_kind"),
                F.col("qo_dt"), F.col("qo_lang"),
            ),
        )
        res = (
            (~F.col("_qs_stmt") | F.coalesce(
                F.col("_sub_res"), F.lit(False)))
            & (~F.col("_qo_stmt") | F.coalesce(
                F.col("_obj_res"), F.lit(False)))
        )
        return cur.withColumn(
            "ser",
            F.concat(
                F.lit("<< "), qs_ser, F.lit(" <"), F.col("qp"),
                F.lit("> "), qo_ser, F.lit(" >>"),
            ),
        ).withColumn("res", res)

    # a round reads the previous one three times (its rows and the
    # subject / object serializations): localCheckpoint per round keeps
    # the plan O(1) instead of 3^max_depth copies of the input's
    nulls = F.lit(None)
    cur = ser_round(
        stmts.withColumn("_sub_ser", nulls.cast("string"))
        .withColumn("_obj_ser", nulls.cast("string"))
        .withColumn("_sub_res", nulls.cast("boolean"))
        .withColumn("_obj_res", nulls.cast("boolean"))
    ).localCheckpoint(eager=True)
    for _ in range(max(0, max_depth - 1)):
        sers = cur.select(
            F.col("node").alias("_n"),
            F.col("ser").alias("_s"),
            F.col("res").alias("_r"),
        )
        prev, cur = cur, ser_round(
            cur.drop("_sub_ser", "_obj_ser", "_sub_res", "_obj_res",
                     "ser", "res")
            .join(
                sers.withColumnRenamed("_s", "_sub_ser")
                .withColumnRenamed("_r", "_sub_res"),
                (F.col("qs") == F.col("_n"))
                & (F.col("qs_kind") != KIND_LITERAL),
                "left",
            ).drop("_n")
            .join(
                sers.withColumnRenamed("_s", "_obj_ser")
                .withColumnRenamed("_r", "_obj_res"),
                (F.col("qo") == F.col("_n"))
                & (F.col("qo_kind") != KIND_LITERAL),
                "left",
            ).drop("_n")
        ).localCheckpoint(eager=True)
        fastpath.release(prev, None)
    # an UNRESOLVED node (nesting deeper than max_depth) is not folded —
    # it and everything above it stay fully reified (lossless)
    return cur.filter(F.col("res")).select("node", "ser"), cur


def encode_ntriples_star(
    df: DataFrame, max_depth: int = 4, fold: str = "minted"
) -> DataFrame:
    """Triples → N-Triples-star lines (column ``value``).

    Foldable statement nodes (see module docstring) appear only as
    ``<< s p o >>`` quoted terms; their reification rows are dropped
    with SET semantics (identical duplicate reification rows — the same
    ground fact quoted from two documents — collapse into the one
    quoted form; dedup the input first if exact multiset round-trips of
    duplicated rows matter).  A foldable node nobody references is NOT
    folded: its reification rows are the only trace of it and are kept
    verbatim.  ``max_depth`` bounds nested-quote resolution — a chain
    nested deeper stays FULLY reified (every line kept; lossless).
    ``fold="minted"`` (default) folds only decoder-minted statement ids
    (``urn:rdfstar:``/``_:qt`` + md5) so hand-reified nodes with their
    own IRIs keep their identity on round-trip; ``fold="all"`` folds
    any complete reification.

    The result reads one local checkpoint (the last nesting round's),
    held until the JVM collects it; :func:`write_ntriples_star` frees
    it once the write returns."""
    return _encode(df, max_depth, fold)[0]


def _encode(
    df: DataFrame, max_depth: int, fold: str
) -> tuple[DataFrame, DataFrame]:
    """``(lines, checkpoint)``: :func:`encode_ntriples_star`'s lines and
    the local checkpoint they read."""
    sers, checkpoint = _statement_sers(df, max_depth, fold=fold)
    folded_nodes = sers.select(F.col("node"))
    non_reif = df.filter(~_is_reif_row())

    # a foldable node is REFERENCED if it occurs in a non-reification
    # row or inside another statement's subject/object slot; an
    # unreferenced one is NOT folded (its reification rows would be the
    # only trace of it — folding would silently erase it)
    refs = (
        non_reif.select(F.col("s").alias("node"))
        .unionByName(
            non_reif.filter(F.col("o_kind") != KIND_LITERAL)
            .select(F.col("o").alias("node"))
        )
        .unionByName(
            df.filter(F.col("p").isin(RDF_SUBJECT, RDF_OBJECT))
            .filter(F.col("o_kind") != KIND_LITERAL)
            .select(F.col("o").alias("node"))
        )
        .distinct()
    )
    effective = folded_nodes.join(refs, "node", "left_semi")
    sers = sers.join(effective, "node", "left_semi")

    reif_kept = df.filter(_is_reif_row()).join(
        effective, F.col("s") == F.col("node"), "left_anti"
    )
    out_rows = non_reif.unionByName(reif_kept)

    sub_ser = sers.select(
        F.col("node").alias("_sn"), F.col("ser").alias("_ss")
    )
    obj_ser = sers.select(
        F.col("node").alias("_on"), F.col("ser").alias("_os")
    )
    lines = (
        out_rows.join(sub_ser, F.col("s") == F.col("_sn"), "left")
        .join(
            obj_ser,
            (F.col("o") == F.col("_on"))
            & (F.col("o_kind") != KIND_LITERAL),
            "left",
        )
        .select(
            F.concat_ws(
                " ",
                F.coalesce(
                    F.col("_ss"),
                    term_nt_col(F.col("s"), F.col("s_kind")),
                ),
                F.concat(F.lit("<"), F.col("p"), F.lit(">")),
                F.coalesce(
                    F.col("_os"),
                    term_nt_col(
                        F.col("o"), F.col("o_kind"),
                        F.col("o_datatype"), F.col("o_lang"),
                    ),
                ),
                F.lit("."),
            ).alias("value")
        )
    )
    return lines, checkpoint


def write_ntriples_star(
    df: DataFrame, path: str, mode: str = "overwrite",
    max_depth: int = 4, fold: str = "minted",
) -> None:
    """Write the star-folded N-Triples lines as text files; no local
    checkpoint taken for the encoding outlives the write."""
    lines, checkpoint = _encode(df, max_depth, fold)
    try:
        lines.write.mode(mode).text(path)
    finally:
        fastpath.release(checkpoint, None)
