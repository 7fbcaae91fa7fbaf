"""spark-submit entry point for BPE tokenizer training and application
(rdf_spark.ops.bpe):

    spark-submit --py-files /tmp/rdf_spark.zip jobs/tokenize_job.py \\
        --in <docs.parquet> --out <dir> \\
        [--n-merges 1000] [--merges <merges.parquet>] \\
        [--train-only] [--text-col text] [--key-col doc_id]

Without ``--merges``, trains ``--n-merges`` merges on the input corpus
and writes them to ``<out>/merges`` (step, x, y); unless
``--train-only``, also encodes the corpus with the learned (or loaded)
table and writes token rows (key, pos, token) to ``<out>/tokens``.
Prints one JSON line with merge/token counts.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--in", dest="in_path", required=True)
    ap.add_argument("--out", dest="out_path", required=True)
    ap.add_argument("--n-merges", type=int, default=1000)
    ap.add_argument("--merges", default="",
                    help="pre-trained merge table parquet (step, x, y); "
                         "skips training")
    ap.add_argument("--train-only", action="store_true")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--key-col", default="doc_id")
    args = ap.parse_args(argv)

    from pyspark.sql import Observation, SparkSession, functions as F

    spark = SparkSession.builder.appName("bpe-tokenize").getOrCreate()

    from rdf_spark.ops import fastpath
    from rdf_spark.ops.bpe import apply_bpe, train_bpe

    docs = spark.read.parquet(args.in_path)
    if args.merges:
        rows = spark.read.parquet(args.merges).orderBy("step").collect()
        merges = [(r.x, r.y) for r in rows]
    else:
        merges = train_bpe(
            docs, n_merges=args.n_merges,
            text_col=args.text_col, id_col=args.key_col,
        )
        fastpath.local_frame(
            spark, [(i + 1, x, y) for i, (x, y) in enumerate(merges)],
            "step int, x string, y string",
        ).coalesce(1).write.mode("overwrite").parquet(
            args.out_path + "/merges"
        )
    n_tokens = None
    if not args.train_only:
        toks = apply_bpe(
            docs, merges, text_col=args.text_col, id_col=args.key_col
        )
        # counted while written, not by re-reading the output
        obs = Observation()
        toks.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite").parquet(args.out_path + "/tokens")
        n_tokens = obs.get["n"]
    print(json.dumps({
        "out": args.out_path,
        "merges": len(merges),
        "tokens": n_tokens,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
