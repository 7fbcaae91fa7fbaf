"""spark-submit entry point for the W3C Direct Mapping — relational
tables (parquet/csv) → RDF in any supported encode format:

    spark-submit --py-files /tmp/rdf_spark.zip jobs/direct_map_job.py \\
        --in /data/orders.parquet --table orders \\
        --pk o_orderkey --fk o_custkey:customer:c_custkey \\
        --out /out/orders-rdf --out-format ntriples \\
        [--base urn:dm:] [--csv] [--csv-header]

Maps each row to a row node (<base>table/pk=v...; blank nodes without
--pk), each non-null column to a typed literal triple, and each --fk
column to a reference triple (repeatable).  See rdf_spark/directmap.py
for the datatype matrix and the spec deviation on blank-node rows.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    from rdf_spark.convert import ENCODERS

    ap.add_argument("--in", dest="in_path", required=True)
    ap.add_argument("--table", required=True,
                    help="relational table name (used in the minted IRIs)")
    ap.add_argument("--out", dest="out_path", required=True)
    ap.add_argument("--out-format", default="ntriples",
                    choices=sorted(ENCODERS))
    ap.add_argument("--base", default="urn:dm:")
    ap.add_argument("--pk", action="append", default=[],
                    help="primary-key column (repeat for composite keys; "
                         "order defines the row-node IRI)")
    ap.add_argument("--fk", action="append", default=[],
                    metavar="COL:REF_TABLE:REF_COL",
                    help="foreign key (repeatable)")
    ap.add_argument("--csv", action="store_true",
                    help="input is CSV (default: parquet)")
    ap.add_argument("--csv-header", action="store_true",
                    help="with --csv: first line is the header")
    args = ap.parse_args(argv)

    fks = {}
    for spec in args.fk:
        parts = spec.split(":")
        if len(parts) != 3 or not all(parts):
            ap.error(f"--fk needs COL:REF_TABLE:REF_COL, got {spec!r}")
        fks[parts[0]] = (parts[1], parts[2])

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("direct-map").getOrCreate()

    from rdf_spark.convert import write_rdf
    from rdf_spark.directmap import direct_map

    if args.csv:
        df = spark.read.csv(
            args.in_path, header=args.csv_header, inferSchema=True)
    else:
        df = spark.read.parquet(args.in_path)

    triples = direct_map(
        df, args.table, base=args.base,
        pk=args.pk or None, fks=fks or None,
    )
    n_triples = write_rdf(triples, args.out_path, args.out_format)
    print(json.dumps({
        "table": args.table,
        "out": args.out_path,
        "format": args.out_format,
        "n_triples": n_triples,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
