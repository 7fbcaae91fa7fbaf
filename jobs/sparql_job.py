"""spark-submit entry point for SPARQL queries over a materialized triple
store (the query-side companion of kg_construct_job.py):

    spark-submit --py-files /tmp/rdf_spark.zip jobs/sparql_job.py \\
        --store <parquet dir or file> \\
        (--query 'SELECT ...' | --query-file q.rq) \\
        [--out <dir>]           # parquet results; omit → print ≤100 rows

All four query forms are supported (rdf_spark.sparql subset): SELECT and
CONSTRUCT write/print a result table; ASK prints a JSON boolean;
DESCRIBE writes/prints the touching triples.  Update requests
(INSERT/DELETE DATA, DELETE WHERE, DELETE/INSERT…WHERE) run through
sparql_update and write the NEW store to --out (required — the input
store is never modified in place).  The store just needs lexical
``s p o`` columns — exactly what pipeline.materialize/store writers
produce.
"""

from __future__ import annotations

import argparse
import json
import sys


_SCHEME_RE = __import__("re").compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:\S*$")


def _srj_term(value):
    """Binding value → SPARQL-results term object.  The engine's
    documented dialect binds LEXICAL FORMS, so term kinds are
    reconstructed: '_:'-prefixed = bnode, scheme-shaped (no
    whitespace) = uri, everything else = literal.  Non-string values
    (aggregates, arithmetic projections, kind columns) serialize as
    literal lexical forms."""
    if not isinstance(value, str):
        value = str(value)
        return {"type": "literal", "value": value}
    if value.startswith("_:"):
        return {"type": "bnode", "value": value[2:]}
    if _SCHEME_RE.match(value):
        return {"type": "uri", "value": value}
    return {"type": "literal", "value": value}


def _write_srj(df, path):
    """ONE application/sparql-results+json document (driver-side —
    interchange-sized results; use parquet/csv for bulk).  Returns the
    binding count so the caller need not re-execute the plan."""
    cols = df.columns
    bindings = [
        {c: _srj_term(row[c]) for c in cols if row[c] is not None}
        for row in df.collect()
    ]
    with open(path, "w") as f:
        json.dump(
            {"head": {"vars": cols},
             "results": {"bindings": bindings}},
            f, indent=1,
        )
    return len(bindings)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--store", required=True)
    ap.add_argument("--query")
    ap.add_argument("--query-file")
    ap.add_argument("--out")
    ap.add_argument("--out-format", default="parquet",
                    choices=("parquet", "csv", "json", "srj"),
                    help="result encoding for --out: parquet (default), "
                         "csv (RFC 4180 quoting + header, the SPARQL "
                         "results CSV profile — lexical forms only, "
                         "type info is lost by design), json lines, or "
                         "srj (the SPARQL 1.1 Query Results JSON "
                         "document — ONE file, driver-side assembly for "
                         "interchange-sized results; term types are "
                         "reconstructed from the lexical dialect: '_:' "
                         "prefix = bnode, scheme-shaped = uri, else "
                         "literal)")
    args = ap.parse_args(argv)
    if bool(args.query) == bool(args.query_file):
        ap.error("exactly one of --query / --query-file is required")
    q = args.query or open(args.query_file).read()

    from pyspark.sql import Observation, SparkSession, functions as F

    spark = SparkSession.builder.appName("sparql-query").getOrCreate()

    from rdf_spark import sparql

    triples = spark.read.parquet(args.store)
    # form sniffing lives in rdf_spark.sparql.sniff_form: it blanks IRIs,
    # string literals, and prefixed names first so a keyword inside any of
    # them (a <http://x/select#> IRI, a 'PREFIX ask: <…>' declaration, an
    # ask:foo pname) cannot shadow the real form keyword.
    form = sparql.sniff_form(q)

    if form == "ASK":
        result = sparql.sparql_ask(triples, q)
        if args.out and args.out_format == "srj":
            with open(args.out, "w") as f:
                json.dump({"head": {}, "boolean": result}, f)
        print(json.dumps({"ask": result}))
        return 0
    if form == "UPDATE":
        if not args.out:
            ap.error("update requests require --out (the input store "
                     "is never modified in place)")
        updated = sparql.sparql_update(triples, q)
        obs = Observation()
        updated.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite").parquet(args.out)
        print(json.dumps({"rows": obs.get["n"], "out": args.out}))
        return 0
    if form == "SELECT":
        df = sparql.sparql_select(triples, q)
    elif form == "CONSTRUCT":
        df = sparql.sparql_construct(triples, q)
    elif form == "DESCRIBE":
        df = sparql.sparql_describe(triples, q)
    else:
        ap.error(f"unsupported query form {form!r}")
        return 2
    if args.out and args.out_format == "srj":
        n = _write_srj(df, args.out)
        print(json.dumps({"rows": n, "out": args.out,
                          "format": "srj"}))
        return 0
    if args.out:
        # the row count is observed while written, not read back
        obs = Observation()
        w = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite")
        if args.out_format == "csv":
            w.option("header", True).csv(args.out)
        elif args.out_format == "json":
            w.json(args.out)
        else:
            w.parquet(args.out)
        print(json.dumps({"rows": obs.get["n"], "out": args.out,
                          "format": args.out_format}))
    else:
        df.show(100, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
