"""The benchmark's metric catalogue, the single source for names, units
and the per-layer predictions.  ``BENCHMARK.json`` lists the same names
and units; the smoke test checks that the two agree.

End-to-end metrics are reported on every workload, each workload timing
its own kind of request: a ``construct`` request is one
``pipeline.run_pipeline`` build, a ``convert`` request one
``convert.convert`` call, a ``serve`` request one SPARQL query or one
graph operator.

Each per-layer metric names the end-to-end metric it should move, and on
which workload; on the others the prediction is no change.  A layer that
a workload never calls reports 0 there.
"""

WORKLOADS = ("construct", "convert", "serve")

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "p50_ms": ("ms", "lower"),
    "work_per_s": ("1/s", "higher"),
}

# Printed before the JSON line but not part of it: workload-specific
# views of the same runs.  ``failed_share`` reads 0 on a healthy run, so
# no relative bound can apply to it; the result's ``failed`` and
# ``attempted`` carry the same figure.
REPORTED = {
    "construct": {"failed_share": "ratio", "construct.pages_per_s": "pages/s"},
    "convert": {"failed_share": "ratio", "convert.triples_per_s": "triples/s"},
    "serve": {"failed_share": "ratio", "serve.sparql_p50_ms": "ms",
              "serve.sparql_samples": "count", "serve.analytics_p50_s": "s"},
}

C, V, S = "construct", "convert", "serve"
BUILD = [("work_per_s", C), ("setup_s", S)]  # serve builds its store in set-up
ALL = [("work_per_s", C), ("work_per_s", V), ("work_per_s", S)]

# name -> (unit, [(end-to-end metric it should move, on workload), ...])
PER_LAYER = {
    "session.start_s": ("s", [("setup_s", C), ("setup_s", V), ("setup_s", S)]),
    "extraction.self_s": ("s", BUILD),
    "extraction.python_run_s": ("s", BUILD),
    "extraction.python_bytes": ("bytes", BUILD),
    "extraction.quarantine_rows": ("count", [("failed_share", C)]),
    "canonical.self_s": ("s", BUILD),
    "canonical.dedup_rows_in": ("count", BUILD),
    "canonical.dedup_rows_out": ("count", BUILD),
    "canonical.shuffle_bytes": ("bytes", BUILD),
    "store.write_s": ("s", BUILD),
    "store.bytes_per_triple": ("bytes", [("work_per_s", C), ("p50_ms", S)]),
    "pipeline.bookkeeping_s": ("s", BUILD),
    "pipeline.jobs_per_shard": ("count", BUILD),
    "parse.self_s": ("s", [("work_per_s", V)]),
    "parse.python_run_s": ("s", [("work_per_s", V)]),
    "parse.passes_per_line": ("ratio", [("work_per_s", V)]),
    "encoders.write_s": ("s", [("work_per_s", V)]),
    "encoders.bytes_per_triple": ("bytes", [("work_per_s", V)]),
    "sparql.compile_ms": ("ms", [("p50_ms", S)]),
    "sparql.plan_ms": ("ms", [("p50_ms", S)]),
    "sparql.exec_ms": ("ms", [("p50_ms", S)]),
    "sparql.jobs_per_query": ("count", [("p50_ms", S)]),
    "sparql.rows_scanned_per_row_returned": ("ratio", [("p50_ms", S), ("work_per_s", S)]),
    "graph.pagerank_s": ("s", [("work_per_s", S)]),
    "graph.cc_s": ("s", [("work_per_s", S)]),
    "graph.jobs_per_op": ("count", [("work_per_s", S)]),
    "graph.driver_s": ("s", [("work_per_s", S)]),
    "spark.jobs": ("count", ALL),
    "spark.stages": ("count", ALL),
    "spark.tasks": ("count", ALL),
    "spark.executor_run_s": ("s", ALL),
    "spark.shuffle_write_bytes": ("bytes", ALL),
    "spark.python_boot_s": ("s", [("setup_s", C), ("setup_s", V), ("setup_s", S)]),
    "session.persisted_rdds_end": ("count", [("peak_rss_mb", S)]),
    "session.storage_mem_mb": ("MB", [("peak_rss_mb", S)]),
    "trace.overhead_s": ("s", []),
    "host.loadavg_1m": ("load", []),
    "host.cpu_probe_s": ("s", []),
}


def layer_metrics(measured: dict) -> dict:
    """Every per-layer metric, 0 for those the workload never calls."""
    return {name: {"value": float(measured.get(name, 0.0)), "unit": unit}
            for name, (unit, _) in PER_LAYER.items()}
