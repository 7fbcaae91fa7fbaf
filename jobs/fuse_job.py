"""spark-submit entry point for knowledge fusion / truth discovery:

    spark-submit --py-files /tmp/rdf_spark.zip jobs/fuse_job.py \\
        --assertions /data/claims.parquet \\
        --out /out/fused [--conflicts /out/conflicts] \\
        [--s-col s --p-col p --o-col o --source-col source] \\
        [--trust-col trust | --no-trust] \\
        [--min-confidence 0.6] [--triples-out /out/triples]

Input: one row per (subject, predicate, value, source[, trust])
assertion — e.g. the union of a kg_construct run, an
--infobox-triples sidecar, and a direct-mapped database export, each
tagged with its source id.  Output: one fused row per (s, p) with the
winning value, support/total trust, confidence, and vote counts
(rdf_spark.ops.fusion).  --conflicts additionally writes the audit
view of contested facts; --triples-out writes the winners in the
canonical triple schema (literal objects) ready for the store writer.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--assertions", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--conflicts",
                    help="also write the contested-fact audit view")
    ap.add_argument("--triples-out",
                    help="also write winners as canonical triple rows")
    ap.add_argument("--s-col", default="s")
    ap.add_argument("--p-col", default="p")
    ap.add_argument("--o-col", default="o")
    ap.add_argument("--source-col", default="source")
    ap.add_argument("--trust-col", default="trust")
    ap.add_argument("--no-trust", action="store_true",
                    help="unweighted majority vote (ignore --trust-col)")
    ap.add_argument("--min-confidence", type=float, default=0.0,
                    help="keep only fused values at or above this "
                         "confidence")
    args = ap.parse_args(argv)

    from pyspark.sql import Observation, SparkSession, functions as F

    spark = SparkSession.builder.appName("kg-fuse").getOrCreate()

    from rdf_spark.ops.fusion import fuse_assertions, value_conflicts

    assertions = spark.read.parquet(args.assertions)
    trust = None if args.no_trust else args.trust_col
    kw = dict(
        s_col=args.s_col, p_col=args.p_col, o_col=args.o_col,
        source_col=args.source_col, trust_col=trust,
    )
    fused = fuse_assertions(assertions, **kw)
    if args.min_confidence > 0.0:
        fused = fused.filter(
            F.col("confidence") >= args.min_confidence)
    # counted while written, not by re-reading the output
    facts = Observation()
    fused.observe(facts, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite").parquet(args.out)
    stats = {"facts": facts.get["n"], "out": args.out}
    if args.conflicts:
        value_conflicts(assertions, **kw).write.mode(
            "overwrite").parquet(args.conflicts)
        # a distinct count stays a read: observed metrics cannot hold a
        # distinct aggregate
        stats["contested_facts"] = (
            spark.read.parquet(args.conflicts)
            .select("s", "p").distinct().count()
        )
    if args.triples_out:
        from rdf_spark.terms import KIND_IRI, KIND_LITERAL

        nstr = F.lit(None).cast("string")
        spark.read.parquet(args.out).select(
            F.col("s"),
            F.lit(KIND_IRI).cast("tinyint").alias("s_kind"),
            F.col("p"),
            F.col("o"),
            F.lit(KIND_LITERAL).cast("tinyint").alias("o_kind"),
            nstr.alias("o_datatype"),
            nstr.alias("o_lang"),
        ).write.mode("overwrite").parquet(args.triples_out)
        stats["triples_out"] = args.triples_out
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
