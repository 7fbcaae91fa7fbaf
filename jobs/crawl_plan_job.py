"""spark-submit entry point for crawl fetch planning — the step between
a frontier and the fetcher fleet, tying together the repo's crawl ops:

    spark-submit --py-files /tmp/rdf_spark.zip jobs/crawl_plan_job.py \\
        (--cdx <cdxj files> | --urls <parquet with a url column>) \\
        --out <dir> \\
        [--robots <parquet: host, body>]  # RFC 9309 gate + Crawl-delay
        [--agent BOT]                     # user-agent for both
        [--default-delay 1.0]             # seconds, hosts w/o a delay
        [--statuses 200]                  # CDX: keep these HTTP statuses
        [--mime text/html]                # CDX: keep this MIME prefix
        [--dedup-digest]                  # CDX: one fetch per digest
        [--surt]                          # append the SURT index key

Pipeline: read frontier (CDXJ index lines or a parquet URL table) →
optional CDX filters (status/mime/digest-dedup: don't fetch what the
index already proves is a duplicate) → robots.txt allow gate →
per-host politeness schedule (md5-deterministic queue slots,
fetch_at_s = slot·Crawl-delay) → parquet, shardable by host with zero
fetcher coordination.  Prints one JSON line with plan counts.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cdx", help="CDXJ index file(s)/glob")
    ap.add_argument("--urls", help="parquet table with a url column")
    ap.add_argument("--out", required=True)
    ap.add_argument("--robots", help="parquet (host, body) robots.txt table")
    ap.add_argument("--agent", default="*")
    ap.add_argument("--default-delay", type=float, default=1.0)
    ap.add_argument("--statuses", default=None,
                    help="comma-separated HTTP statuses to keep (CDX input)")
    ap.add_argument("--mime", default=None,
                    help="keep records whose mime starts with this (CDX)")
    ap.add_argument("--dedup-digest", action="store_true",
                    help="one fetch per CDX digest (md5-rank winner)")
    ap.add_argument("--surt", action="store_true",
                    help="append the SURT index key column")
    args = ap.parse_args(argv)
    if bool(args.cdx) == bool(args.urls):
        ap.error("exactly one of --cdx or --urls is required")

    from pyspark.sql import Observation, SparkSession, functions as F

    spark = SparkSession.builder.appName("crawl-plan").getOrCreate()

    n_err = 0
    if args.cdx:
        from rdf_spark.cdx import read_cdxj

        recs = read_cdxj(spark, args.cdx)
        n_err = recs.filter(F.col("err").isNotNull()).count()
        frontier = recs.filter(F.col("err").isNull()).drop("err")
        if args.statuses:
            keep = [int(s) for s in args.statuses.split(",") if s]
            frontier = frontier.filter(F.col("status").isin(keep))
        if args.mime:
            frontier = frontier.filter(
                F.col("mime").startswith(args.mime)
            )
        if args.dedup_digest:
            from pyspark.sql import Window

            w = Window.partitionBy("digest").orderBy(
                F.md5(F.col("url")), F.col("url")
            )
            frontier = (
                frontier.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
    else:
        frontier = spark.read.parquet(args.urls)

    delays = None
    if args.robots:
        from rdf_spark.ops.robots import robots_crawl_delays, robots_filter

        robots = spark.read.parquet(args.robots)
        frontier = robots_filter(
            frontier, robots, agent=args.agent, keep_denied=False
        )
        delays = robots_crawl_delays(robots, agent=args.agent)

    from rdf_spark.ops.fetchplan import plan_fetches

    plan = plan_fetches(
        frontier, delays=delays, default_delay=args.default_delay
    )
    if args.surt:
        from rdf_spark.ops.url import surt_col

        plan = plan.withColumn("surt_key", surt_col(F.col("url")))
    urls = Observation()
    plan.observe(urls, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite").parquet(args.out)

    # the url count is observed while written; the host count stays a
    # read: observed metrics cannot hold a distinct aggregate
    hosts = spark.read.parquet(args.out).select("host").distinct().count()
    summary = {
        "urls": urls.get["n"],
        "hosts": hosts,
        "index_errors": n_err,
        "out": args.out,
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
