"""``construct``: synthetic pages -> ``pipeline.run_pipeline`` -> a fresh
parquet bucket store, repeated for the measured window.

Inputs: ``datagen.pages(N, seed)``, a lazy frame generated from the seed
by Spark expressions.  About 2.4% of the pages carry a malformed Turtle
block and about half sit on one hot domain.
"""

from __future__ import annotations

import glob
import os

from perfbench import harness
from perfbench.eventlog import python_node

N_SHARDS = 1
TRIPLE_COLS = ["s", "s_kind", "p", "o", "o_kind", "o_datatype", "o_lang"]


def make_pages(spark, n_pages: int, seed: int):
    from rdf_spark import datagen

    return datagen.pages(spark, n_pages, seed), datagen.aliases(spark)


def build(spark, pages, aliases, out_dir: str, n_shards: int = N_SHARDS):
    from rdf_spark import pipeline

    return pipeline.run_pipeline(spark, pages, aliases, out_dir,
                                 n_shards=n_shards, resume=False)


def warm_up(spark, pages, aliases, run_dir) -> None:
    """Two full builds: the first pays the cold start and the second
    runs warm, so the timed builds start warm.  A build over a sample of
    the pages does not do: it runs fewer tasks, so it starts fewer
    Python workers, and the first timed build pays for the rest."""
    for _ in range(2):
        build(spark, pages, aliases, run_dir.fresh("warmup-store"))


def store_digest(df):
    """Order-independent digest of a triple multiset: (rows, sum of row hashes)."""
    from pyspark.sql import functions as F

    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\u0000"))
                           for c in TRIPLE_COLS]).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(r["n"]), str(r["h"])


class Oracle:
    """What the pipeline must produce for ``pages(N, seed)``, from
    ``datagen.expected_triples``: the triple set, its size, and the
    number of malformed pages (pages without an ``rdf:type`` triple)."""

    def __init__(self, spark, n_pages: int, seed: int):
        from pyspark.sql import functions as F

        from rdf_spark import datagen, terms

        self.expected = datagen.expected_triples(spark, n_pages, seed).select(*TRIPLE_COLS)
        self.expected = self.expected.localCheckpoint(eager=True)
        self.digest = store_digest(self.expected)
        n_typed = self.expected.filter(F.col("p") == terms.RDF_TYPE).count()
        self.n_pages = n_pages
        self.malformed = n_pages - n_typed

    def check(self, spark, out_dir: str, results, exact: bool) -> list[str]:
        """Problems with one pipeline output (empty when correct)."""
        from rdf_spark import pipeline

        errs = []
        pages = sum(r.n_pages for r in results)
        parse_errors = sum(r.n_parse_errors for r in results)
        final = sum(r.n_triples_final for r in results)
        if pages != self.n_pages:
            errs.append(f"manifest pages {pages} != {self.n_pages}")
        if parse_errors != self.malformed:
            errs.append(f"manifest parse errors {parse_errors} != {self.malformed}")
        if final != self.digest[0]:
            errs.append(f"manifest triples {final} != {self.digest[0]}")
        manifests = glob.glob(os.path.join(out_dir, pipeline.MANIFEST_DIR, "*.json"))
        if len(manifests) != N_SHARDS:
            errs.append(f"{len(manifests)} manifests, expected {N_SHARDS}")
        got = pipeline.read_triple_store(spark, out_dir).select(*TRIPLE_COLS)
        if store_digest(got) != self.digest:
            errs.append("store digest differs from expected_triples")
        if exact:
            # P/R = 1.0: no false positives, no misses
            fp = got.exceptAll(self.expected).count()
            fn = self.expected.exceptAll(got).count()
            if fp or fn:
                errs.append(f"precision/recall miss: {fp} extra, {fn} missing")
        return errs


def traced_build(spark, tracer, pages, aliases, out_dir: str,
                 n_shards: int = N_SHARDS) -> dict:
    """One build, with each layer's output forced to the ``noop`` sink
    in turn before the real ``run_pipeline`` call.  Returns counts the
    event log cannot give; times come from the spans."""
    from pyspark.sql import functions as F

    from rdf_spark import canonical, extraction, pipeline

    alias_rows = [(r.surface, r.entity_iri, r.prior) for r in aliases.collect()]
    alias_bc = spark.sparkContext.broadcast(alias_rows)
    with tracer.span("extraction"):
        tagged = extraction.fused_extract_parse_link(pages, alias_bc)
        tagged.write.format("noop").mode("overwrite").save()
    with tracer.span("canonical"):
        final, _ = pipeline.build_shard_triples(pages, aliases)
        final.write.format("noop").mode("overwrite").save()
    with tracer.span("canonical.counts"):
        valid = canonical.validate_triples(tagged.filter(F.col("err").isNull()).drop("err"))
        rows_in = canonical.skolemize(valid.filter(F.col("valid")).drop("valid")).count()
    with tracer.span("pipeline.run_pipeline"):
        results = build(spark, pages, aliases, out_dir, n_shards)
    alias_bc.unpersist()
    n = sum(r.n_triples_final for r in results)
    store_bytes = harness.du_bytes(os.path.join(out_dir, pipeline.TRIPLE_STORE_DIR))
    return {
        "results": results,
        "shards": n_shards,
        "extraction.quarantine_rows": sum(r.n_parse_errors + r.n_invalid for r in results),
        "canonical.dedup_rows_in": rows_in,
        "canonical.dedup_rows_out": n,
        "store.bytes_per_triple": store_bytes / max(n, 1),
    }


def build_layers(ev, tracer, counts: list[dict]) -> dict:
    """Per-layer figures of the traced builds (medians over builds)."""
    ext = tracer.named("extraction")
    can = tracer.named("canonical")
    runs = tracer.named("pipeline.run_pipeline")
    per = {k: [] for k in ("extraction.self_s", "extraction.python_run_s",
                           "extraction.python_bytes", "canonical.self_s",
                           "canonical.shuffle_bytes", "store.write_s",
                           "pipeline.bookkeeping_s", "pipeline.jobs_per_shard")}
    for e, c, r, n in zip(ext, can, runs, counts):
        e_s = e["end"] - e["start"]
        c_s = c["end"] - c["start"]
        r_s = r["end"] - r["start"]
        e_jobs, c_jobs, r_jobs = ev.jobs_in([e]), ev.jobs_in([c]), ev.jobs_in([r])
        writes = ev.write_s(r)
        per["extraction.self_s"].append(e_s)
        per["extraction.python_run_s"].append(
            ev.sql_metric(e_jobs, python_node, "time to run Python workers"))
        per["extraction.python_bytes"].append(
            ev.sql_metric(e_jobs, python_node, "data sent to Python workers")
            + ev.sql_metric(e_jobs, python_node, "data returned from Python workers"))
        per["canonical.self_s"].append(c_s - e_s)
        per["canonical.shuffle_bytes"].append(ev.task_sum(c_jobs, "shuffle_write_bytes"))
        per["store.write_s"].append(writes - c_s)
        per["pipeline.bookkeeping_s"].append(r_s - writes)
        per["pipeline.jobs_per_shard"].append(len(r_jobs) / n["shards"])
    out = {k: harness.median(v) for k, v in per.items()}
    for k in ("extraction.quarantine_rows", "canonical.dedup_rows_in",
              "canonical.dedup_rows_out", "store.bytes_per_triple"):
        out[k] = harness.median([c[k] for c in counts])
    return out


def run(ctx) -> None:
    """Set up, warm up, measure ``run_pipeline`` for the window, check."""
    spark, run_dir, cfg = ctx.spark, ctx.run, ctx.cfg
    n_pages = cfg["construct_pages"]
    pages, aliases = make_pages(spark, n_pages, ctx.seed)
    warm_up(spark, pages, aliases, run_dir)
    ctx.end_setup()

    outputs, counts = [], []

    def plain():
        out = run_dir.fresh("store")
        outputs.append((out, build(spark, pages, aliases, out), None))

    def traced():
        out = run_dir.fresh("store")
        c = traced_build(spark, ctx.tracer, pages, aliases, out)
        counts.append(c)
        outputs.append((out, c["results"], c))

    walls, traced_walls = ctx.window(plain, traced)

    ctx.mark("window done")
    oracle = Oracle(spark, n_pages, ctx.seed)
    for i, (out, results, c) in enumerate(outputs):
        errs = oracle.check(spark, out, results, exact=(i == 0))
        # the quarantine count must equal the generator's malformed pages
        if c and c["extraction.quarantine_rows"] != oracle.malformed:
            errs.append(f"quarantine rows {c['extraction.quarantine_rows']} "
                        f"!= malformed pages {oracle.malformed}")
        if errs:
            ctx.fail(f"construct output {i}: {errs}")
    ctx.mark("checks done")
    ctx.e2e["p50_ms"] = 1e3 * harness.median(walls)
    ctx.e2e["work_per_s"] = n_pages * len(walls) / sum(walls)
    ctx.reported["construct.pages_per_s"] = n_pages / harness.median(walls)
    ctx.info.update({"pages": n_pages, "shards": N_SHARDS, "walls_s": walls,
                     "expected_triples": oracle.digest[0],
                     "malformed_pages": oracle.malformed})
    if ctx.trace:
        ctx.overhead_s = harness.median(traced_walls) - harness.median(walls)
        ctx.main_spans = ctx.tracer.named("pipeline.run_pipeline")
        ctx.layer_fns.append(lambda ev: build_layers(ev, ctx.tracer, counts))
