"""``serve``: one long-lived session answering a seeded closed-loop mix
(one client; the next request is sent when the previous one returns).

Set-up builds a one-shard store with ``run_pipeline`` and reads it back with
``pipeline.read_triple_store``.  Requests come in cycles that hold one
request of each template, in a seeded shuffled order (no template is
weighted over another, since nothing tells how often each is asked):

- SPARQL: a point lookup by subject, a two-pattern BGP join, a GROUP BY
  count over ``vocab#mentions``, an ASK, a CONSTRUCT with a ``tag/label``
  sequence path, an OPTIONAL + FILTER;
- analytics: ``ops.graph.pagerank`` over the mention edges and
  ``ops.graph.connected_components`` over the non-literal-object edges.
  At this store size both inputs fit under the library's fast-path cap,
  so both run as in-process driver replicas; the distributed algorithms
  only run above 200k edges (components: 400k symmetric edges, about
  50k pages), beyond what one run can afford.

Every SPARQL answer is compared with DuckDB over the same store
parquet; each graph operator's result must hash the same on every
repeat within a run, warm-up included.
"""

from __future__ import annotations

import hashlib
import os
from contextlib import nullcontext
import random
import time

from perfbench import construct, harness
from perfbench.eventlog import scan_node

EX = "http://kg.example/vocab#"
MENTIONS = EX + "mentions"
SPARQL_TEMPLATES = ("point", "join", "group", "ask", "construct", "optional")
GRAPH_TEMPLATES = ("pagerank", "cc")
WARM_SPARQL_ROUNDS = 3
STORE_SHARDS = 1


def _sql_str(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


class Queries:
    """Parameter pools drawn from the store, and each template as a
    (SPARQL, equivalent DuckDB SQL) pair."""

    def __init__(self, con, rng: random.Random):
        from rdf_spark import datagen

        self.rng = rng
        self.subjects = [r[0] for r in con.execute("SELECT DISTINCT s FROM t ORDER BY s").fetchall()]
        self.pages = [r[0] for r in con.execute(
            f"SELECT DISTINCT s FROM t WHERE p = {_sql_str(MENTIONS)} ORDER BY s").fetchall()]
        self.entities = sorted({e for _, e, _ in datagen.ENTITIES})
        self.domains = list(datagen.DOMAINS)

    def make(self, kind: str) -> tuple[str, str, str]:
        """(form, sparql, sql) for one request of the given template."""
        r = self.rng
        if kind == "point":
            s = r.choice(self.subjects)
            return ("select", f"SELECT ?p ?o WHERE {{ <{s}> ?p ?o }}",
                    f"SELECT p, o FROM t WHERE s = {_sql_str(s)}")
        if kind == "ask":
            page, e = r.choice(self.pages), r.choice(self.entities)
            return ("ask", f"ASK {{ <{page}> <{MENTIONS}> <{e}> }}",
                    f"SELECT count(*) > 0 FROM t WHERE s = {_sql_str(page)} "
                    f"AND p = {_sql_str(MENTIONS)} AND o = {_sql_str(e)}")
        if kind == "group":
            d = r.choice(self.domains)
            return ("select",
                    f"SELECT ?e (COUNT(?page) AS ?n) WHERE {{ ?page <{MENTIONS}> ?e "
                    f'FILTER(strstarts(str(?page), "https://{d}/")) }} GROUP BY ?e',
                    f"SELECT o, count(*) FROM t WHERE p = {_sql_str(MENTIONS)} "
                    f"AND starts_with(s, {_sql_str('https://' + d + '/')}) GROUP BY o")
        if kind == "join":
            e = r.choice(self.entities)
            return ("select",
                    f"SELECT ?page ?other WHERE {{ ?page <{MENTIONS}> <{e}> . "
                    f"?page <{MENTIONS}> ?other }}",
                    f"SELECT a.s, b.o FROM t a JOIN t b ON a.s = b.s "
                    f"WHERE a.p = {_sql_str(MENTIONS)} AND a.o = {_sql_str(e)} "
                    f"AND b.p = {_sql_str(MENTIONS)}")
        if kind == "construct":
            x = r.randrange(980, 999)
            return ("construct",
                    f"CONSTRUCT {{ ?prod <{EX}tagLabel> ?l }} WHERE {{ "
                    f"?prod <{EX}tag>/<{EX}label> ?l . ?prod <{EX}price> ?pr FILTER(?pr > {x}) }}",
                    f"SELECT DISTINCT a.s, {_sql_str(EX + 'tagLabel')}, b.o FROM t a "
                    f"JOIN t b ON a.o = b.s JOIN t c ON c.s = a.s "
                    f"WHERE a.p = {_sql_str(EX + 'tag')} AND b.p = {_sql_str(EX + 'label')} "
                    f"AND c.p = {_sql_str(EX + 'price')} AND TRY_CAST(c.o AS DOUBLE) > {x}")
        if kind == "optional":
            prefix = f"https://{r.choice(self.domains)}/page/{r.randrange(1, 100)}"
            return ("select",
                    f"SELECT ?x ?o ?label WHERE {{ ?x ?p ?o "
                    f"OPTIONAL {{ ?o <{EX}label> ?label }} "
                    f'FILTER(strstarts(str(?x), "{prefix}")) }}',
                    f"SELECT a.s, a.o, b.o FROM t a LEFT JOIN t b ON b.s = a.o "
                    f"AND b.p = {_sql_str(EX + 'label')} "
                    f"WHERE starts_with(a.s, {_sql_str(prefix)})")
        raise ValueError(kind)

    def cycle(self) -> list[str]:
        """One request of each template, in a shuffled order."""
        kinds = list(SPARQL_TEMPLATES + GRAPH_TEMPLATES)
        self.rng.shuffle(kinds)
        return kinds


def _norm(rows) -> list[tuple]:
    return sorted(tuple(None if v is None else str(v) for v in r) for r in rows)


def _digest(rows) -> str:
    return hashlib.sha256(repr(_norm(rows)).encode()).hexdigest()


class Server:
    """The client's view of the serving session: SPARQL and analytics
    requests against one store frame, timed, optionally traced."""

    def __init__(self, spark, store_dir: str, tracer):
        from pyspark.sql import functions as F

        from rdf_spark import pipeline

        self.tracer = tracer
        self.triples = pipeline.read_triple_store(spark, store_dir)
        t = self.triples
        self.mentions = t.filter(F.col("p") == MENTIONS).select(
            F.col("s").alias("src"), F.col("o").alias("dst"))
        self.links = t.filter(F.col("o_kind") != 2).select(
            F.col("s").alias("a"), F.col("o").alias("b"))

    def sparql(self, form: str, query: str, traced: bool):
        from rdf_spark import sparql

        if form == "ask":
            with self.tracer.span("sparql.ask") if traced else nullcontext():
                return [(sparql.sparql_ask(self.triples, query),)]
        fn = sparql.sparql_construct if form == "construct" else sparql.sparql_select
        if not traced:
            return fn(self.triples, query).collect()
        with self.tracer.span("sparql.compile"):
            df = fn(self.triples, query)
        with self.tracer.span("sparql.plan"):
            df._jdf.queryExecution().executedPlan()
        with self.tracer.span("sparql.exec"):
            return df.collect()

    def analytics(self, kind: str, traced: bool) -> str:
        """Run one graph operator; return a digest of its result."""
        from rdf_spark.ops import graph

        with self.tracer.span("graph." + kind) if traced else nullcontext():
            if kind == "pagerank":
                return _digest(graph.pagerank(self.mentions).collect())
            return _digest(graph.connected_components(self.links).collect())


def serve_layers(ev, tracer, rows_returned: int) -> dict:
    out = {}
    for name, key in (("sparql.compile", "sparql.compile_ms"),
                      ("sparql.plan", "sparql.plan_ms"),
                      ("sparql.exec", "sparql.exec_ms")):
        out[key] = 1e3 * harness.median([s["end"] - s["start"] for s in tracer.named(name)])
    reqs = tracer.named("sparql.request")
    req_jobs = ev.jobs_in(reqs)
    out["sparql.jobs_per_query"] = len(req_jobs) / max(len(reqs), 1)
    out["sparql.rows_scanned_per_row_returned"] = (
        ev.sql_metric(req_jobs, scan_node, "number of output rows") / max(rows_returned, 1))
    ops = tracer.named("graph.pagerank") + tracer.named("graph.cc")
    out["graph.pagerank_s"] = harness.median(
        [s["end"] - s["start"] for s in tracer.named("graph.pagerank")])
    out["graph.cc_s"] = harness.median([s["end"] - s["start"] for s in tracer.named("graph.cc")])
    out["graph.jobs_per_op"] = len(ev.jobs_in(ops)) / max(len(ops), 1)
    out["graph.driver_s"] = harness.median(
        [(s["end"] - s["start"]) - ev.busy_s(ev.jobs_in([s])) for s in ops])
    return out


def run(ctx) -> None:
    import duckdb

    spark, run_dir, cfg = ctx.spark, ctx.run, ctx.cfg
    pages, aliases = construct.make_pages(spark, cfg["serve_pages"], ctx.seed)
    store_dir = run_dir.fresh("store")
    counts = []
    if ctx.trace:
        counts.append(construct.traced_build(spark, ctx.tracer, pages, aliases, store_dir,
                                             STORE_SHARDS))
        ctx.layer_fns.append(
            lambda ev: construct.build_layers(ev, ctx.tracer, counts))
    else:
        construct.build(spark, pages, aliases, store_dir, STORE_SHARDS)
    ctx.mark("store built")
    server = Server(spark, store_dir, ctx.tracer)

    # oracle and parameter pools: DuckDB over the same store parquet
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(
        "CREATE TABLE t AS SELECT s, s_kind, p, o, o_kind, o_datatype, o_lang FROM read_parquet("
        f"{_sql_str(os.path.join(store_dir, 'triples', '**', '*.parquet'))}, hive_partitioning = true)")
    queries = Queries(con, random.Random(ctx.seed))

    # warm-up: one cycle, then more rounds of the SPARQL templates, which
    # keep getting faster over the first few dozen queries of a session
    digests: dict[str, list[str]] = {k: [] for k in GRAPH_TEMPLATES}
    for kind in queries.cycle() + list(SPARQL_TEMPLATES) * WARM_SPARQL_ROUNDS:
        if kind in digests:
            digests[kind].append(server.analytics(kind, False))
        else:
            form, q, _ = queries.make(kind)
            server.sparql(form, q, False)
    ctx.end_setup()

    answers, sparql_ms, graph_s, timeline = [], [], [], []
    traced_ms, plain_ms = [], []
    traced_rows = cycles = 0
    # a traced run traces from its second half of the minimum cycles on
    split = max(1, cfg["serve_min_cycles"] // 2)
    t_end = time.perf_counter() + ctx.seconds
    # whole cycles only, so every run sends the same mix
    while time.perf_counter() < t_end or cycles < cfg["serve_min_cycles"]:
        traced = ctx.trace and cycles >= split
        cycles += 1
        for kind in queries.cycle():
            ctx.attempted += 1
            if kind in digests:
                t0 = time.perf_counter()
                try:
                    digests[kind].append(server.analytics(kind, traced))
                except Exception as e:
                    ctx.fail(f"{kind} raised: {e!r}")
                    continue
                graph_s.append(time.perf_counter() - t0)
                timeline.append((kind, 1e3 * graph_s[-1]))
                continue
            form, q, sql = queries.make(kind)
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("sparql.request") if traced else nullcontext():
                    rows = server.sparql(form, q, traced)
            except Exception as e:
                ctx.fail(f"SPARQL raised on {q!r}: {e!r}")
                continue
            ms = 1e3 * (time.perf_counter() - t0)
            sparql_ms.append(ms)
            timeline.append((kind, ms))
            (traced_ms if traced else plain_ms).append(ms)
            answers.append((q, sql, rows))
            if traced:
                traced_rows += len(rows)

    expected: dict[str, list] = {}
    for q, sql, rows in answers:
        if sql not in expected:
            expected[sql] = _norm(con.execute(sql).fetchall())
        if _norm(rows) != expected[sql]:
            ctx.fail(f"SPARQL answer differs from DuckDB: {q!r}")
    for kind, ds in digests.items():
        if len(set(ds)) != 1:
            ctx.fail(f"{kind} results differ between repeats: {len(set(ds))} digests")
    n_triples = con.execute("SELECT count(*) FROM t").fetchone()[0]
    con.close()

    all_ms = sparql_ms + [1e3 * x for x in graph_s]
    ctx.mark("checks done")
    ctx.e2e["p50_ms"] = harness.median(all_ms)
    ctx.e2e["work_per_s"] = 1e3 * len(all_ms) / sum(all_ms)
    # a full run sends 12 SPARQL requests: no percentile above the
    # median has ten samples beyond it, so only the median is reported
    ctx.reported["serve.sparql_p50_ms"] = harness.median(sparql_ms)
    ctx.reported["serve.sparql_samples"] = len(sparql_ms)
    ctx.reported["serve.analytics_p50_s"] = harness.median(graph_s)
    jsc = spark.sparkContext._jsc
    ctx.layer["session.persisted_rdds_end"] = jsc.getPersistentRDDs().size()
    ctx.layer["session.storage_mem_mb"] = sum(
        i.memSize() for i in jsc.sc().getRDDStorageInfo()) / 2**20
    ctx.info.update({"pages": cfg["serve_pages"], "triples": n_triples, "cycles": cycles,
                     "requests_ms": timeline})
    if ctx.trace:
        ctx.overhead_s = (harness.median(traced_ms) - harness.median(plain_ms)) / 1e3
        ctx.main_spans = (ctx.tracer.named("sparql.request") + ctx.tracer.named("graph.pagerank")
                          + ctx.tracer.named("graph.cc"))
        ctx.layer_fns.append(lambda ev: serve_layers(ev, ctx.tracer, traced_rows))
