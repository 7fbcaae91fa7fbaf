"""spark-submit entry point for benchmark decontamination
(rdf_spark.ops.contamination) — the pre-training eval-overlap check:

    spark-submit --py-files /tmp/rdf_spark.zip jobs/decontaminate_job.py \\
        --corpus <docs.parquet> --eval <eval.parquet> --out <dir> \\
        [--n 13] [--text-col text] [--key-col doc_id] \\
        [--eval-text-col <col>] [--no-broadcast] [--write-clean] \\
        [--embeddings --vec-col embedding --threshold 0.95]

With --embeddings the check is semantic instead of n-gram: corpus rows
whose embedding has cosine >= --threshold with any eval embedding are
contaminated (rdf_spark.ops.contamination.embedding_decontaminate,
audit mode).

Writes under --out:
  contaminated/   (key, n_overlap) for every corpus doc sharing >=1
                  n-gram with the eval set
  clean/          (only with --write-clean) the corpus minus those docs

Prints one JSON line with the contamination counts.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--eval", dest="eval_path", required=True)
    ap.add_argument("--out", dest="out_path", required=True)
    ap.add_argument("--n", type=int, default=13)
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--key-col", default="doc_id")
    ap.add_argument("--eval-text-col", default=None)
    ap.add_argument("--no-broadcast", action="store_true")
    ap.add_argument("--write-clean", action="store_true")
    ap.add_argument("--embeddings", action="store_true",
                    help="cosine-similarity decontamination over "
                         "--vec-col instead of n-gram overlap")
    ap.add_argument("--vec-col", default="embedding")
    ap.add_argument("--threshold", type=float, default=0.95)
    args = ap.parse_args(argv)

    from pyspark.sql import Observation, SparkSession, functions as F

    spark = SparkSession.builder.appName("decontaminate").getOrCreate()

    from rdf_spark.ops.contamination import (
        embedding_decontaminate,
        ngram_contamination,
    )

    corpus = spark.read.parquet(args.corpus)
    eval_set = spark.read.parquet(args.eval_path)
    if args.embeddings:
        flagged = embedding_decontaminate(
            corpus, eval_set, threshold=args.threshold,
            vec_col=args.vec_col, keep_contaminated=True,
        )
        hits = flagged.filter("contaminated").select(args.key_col)
    else:
        hits = ngram_contamination(
            corpus,
            eval_set,
            n=args.n,
            text_col=args.text_col,
            id_col=args.key_col,
            eval_text_col=args.eval_text_col,
            broadcast_eval=not args.no_broadcast,
        )
    # counts are observed while written, not by re-reading the output
    obs = Observation()
    hits.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite").parquet(f"{args.out_path}/contaminated")
    hits = spark.read.parquet(f"{args.out_path}/contaminated")
    n_bad = obs.get["n"]
    result = {"out": args.out_path,
              "mode": "embeddings" if args.embeddings else f"ngram_{args.n}",
              "contaminated": n_bad}
    if args.write_clean:
        # null-safe anti-join: plain equality never matches NULL=NULL, so
        # a contaminated null-keyed doc would leak into clean/ (the
        # nullable-key anti-join gotcha)
        clean = corpus.join(
            hits,
            corpus[args.key_col].eqNullSafe(hits[args.key_col]),
            how="left_anti",
        )
        obs = Observation()
        clean.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite").parquet(f"{args.out_path}/clean")
        result["clean"] = obs.get["n"]
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
