"""``convert``: a multi-file N-Triples dump -> ``convert.convert(in,
"ntriples", out, "ntriples")`` with skolemization on (the default path),
repeated for the measured window.

Inputs, written by the benchmark from the seed: ``N_FILES`` files of
N-Triples lines, 90% typed-literal statements, 5% blank-node subjects and
5% escaped language-tagged literals.  Blank labels repeat from file to
file, so skolemization has to keep them apart.  Every statement carries a
unique object, which identifies it when an output line is checked.
"""

from __future__ import annotations

import glob
import os
import random

from perfbench import harness
from perfbench.eventlog import python_node

N_FILES = 8
CHECK_SAMPLE = 400
EX = "http://bench.example/"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_LANG_STRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
DATATYPES = ("integer", "decimal", "string")
LANGS = ("en", "en-GB", "de", "fr-CA", "ja")
SKOLEM_PREFIX = "urn:skolem:"


def _literal(kind: int, i: int, r: random.Random) -> tuple[str, str, str | None]:
    """(lexical form, datatype, language) of statement ``i``'s object."""
    if kind == 0:
        dt = DATATYPES[i % len(DATATYPES)]
        lex = {"integer": str(i), "decimal": f"{i}.{r.randrange(10, 100)}",
               "string": f"item {i}"}[dt]
        return lex, XSD + dt, None
    if kind == 1:
        return f"v{i}", XSD + "string", None
    return f'say "hi" {i}\n\tto {r.choice(("Zoë", "naïve", "x"))}', RDF_LANG_STRING, r.choice(LANGS)


def _escape(lex: str) -> str:
    return (lex.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\t", "\\t"))


def write_dump(dir_: str, n_lines: int, seed: int) -> dict:
    """Write the dump; return the expected statement for each object
    lexical form: (file, subject or blank label, kind, predicate, datatype, language)."""
    r = random.Random(seed)
    os.makedirs(dir_)
    expected = {}
    per_file = n_lines // N_FILES
    i = 0
    for f in range(N_FILES):
        with open(os.path.join(dir_, f"part-{f:02d}.nt"), "w", encoding="utf-8") as fh:
            for j in range(per_file):
                x = r.random()
                kind = 0 if x < 0.90 else (1 if x < 0.95 else 2)
                p = EX + (f"p{r.randrange(12)}" if kind == 0 else ("name" if kind == 1 else "label"))
                lex, dt, lang = _literal(kind, i, r)
                if kind == 1:
                    s = f"b{r.randrange(per_file // 20 + 1)}"
                    subj = "_:" + s
                else:
                    s = f"{EX}thing/{r.randrange(n_lines // 4)}"
                    subj = f"<{s}>"
                obj = f'"{_escape(lex)}"' + (f"@{lang}" if lang else f"^^<{dt}>")
                fh.write(f"{subj} <{p}> {obj} .\n")
                expected[lex] = (f, s, kind, p, dt, lang)
                i += 1
    return expected


def check_output(out_dir: str, n_written: int, expected: dict, seed: int) -> list[str]:
    """Problems with one conversion's output (empty when correct): the
    triple count, and a seeded sample of output lines re-parsed with
    ``parsing.parse_ntriples`` against the statements that were written."""
    from rdf_spark import parsing

    errs = []
    lines = []
    for p in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(p, encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines())
    if n_written != len(expected):
        errs.append(f"convert returned {n_written} triples, {len(expected)} written")
    if len(lines) != len(expected):
        errs.append(f"{len(lines)} output lines, {len(expected)} statements")
    skolem_of_file: dict[int, str] = {}
    for line in random.Random(seed).sample(lines, min(CHECK_SAMPLE, len(lines))):
        got = parsing.parse_ntriples(line + "\n")
        if len(got) != 1:
            errs.append(f"{line!r} parses to {len(got)} triples")
            continue
        s, s_kind, p, o, o_kind, dt, lang = got[0]
        want = expected.get(o)
        if want is None:
            errs.append(f"{line!r}: object not in the input")
            continue
        f, ws, kind, wp, wdt, wlang = want
        if (p, o_kind, dt, lang) != (wp, 2, wdt, wlang):
            errs.append(f"{line!r}: terms differ from the input statement")
        if kind != 1:
            if s != ws:
                errs.append(f"{line!r}: subject differs from the input")
        elif not (s.startswith(SKOLEM_PREFIX) and s.endswith(":" + ws)):
            errs.append(f"{line!r}: blank subject _:{ws} not skolemized")
        elif skolem_of_file.setdefault(f, s[:-len(ws)]) != s[:-len(ws)]:
            errs.append(f"{line!r}: two skolem scopes in one input file")
    scopes = list(skolem_of_file.values())
    if len(set(scopes)) != len(scopes):
        errs.append("two input files share a skolem scope")
    return errs[:20]


def run_convert(spark, in_dir: str, out_dir: str) -> int:
    from rdf_spark import convert

    return convert.convert(spark, in_dir, "ntriples", out_dir, "ntriples")


def traced_convert(spark, tracer, in_dir: str, out_dir: str) -> int:
    """One conversion, with the parse layer's output forced to the
    ``noop`` sink first, then the real ``convert.convert`` call."""
    from pyspark.sql import functions as F

    from rdf_spark import sources

    with tracer.span("parse"):
        docs = spark.read.format("binaryFile").load(in_dir).select(
            F.col("path").alias("url"), F.decode(F.col("content"), "utf-8").alias("text"))
        sources.parse_documents(docs, fmt="ntriples").write.format("noop").mode(
            "overwrite").save()
    with tracer.span("convert.convert"):
        return run_convert(spark, in_dir, out_dir)


def convert_layers(ev, tracer, n_statements: int, out_bytes: list[float]) -> dict:
    """Per-layer figures of the traced conversions (medians)."""
    per = {k: [] for k in ("parse.self_s", "parse.python_run_s", "parse.passes_per_line",
                           "encoders.write_s")}
    for p, c in zip(tracer.named("parse"), tracer.named("convert.convert")):
        p_s = p["end"] - p["start"]
        per["parse.self_s"].append(p_s)
        per["parse.python_run_s"].append(
            ev.sql_metric(ev.jobs_in([p]), python_node, "time to run Python workers"))
        per["parse.passes_per_line"].append(
            ev.sql_metric(ev.jobs_in([c]), python_node, "number of output rows") / n_statements)
        per["encoders.write_s"].append(ev.write_s(c) - p_s)
    out = {k: harness.median(v) for k, v in per.items()}
    out["encoders.bytes_per_triple"] = harness.median(out_bytes) / n_statements
    return out


def run(ctx) -> None:
    """Set up, warm up, measure ``convert.convert`` for the window, check."""
    spark, run_dir, cfg = ctx.spark, ctx.run, ctx.cfg
    n_lines = cfg["convert_lines"]
    in_dir = run_dir.fresh("dump")
    expected = write_dump(in_dir, n_lines, ctx.seed)
    n = len(expected)
    # a conversion of one input file pays the cold start, then a full
    # conversion: the timed ones start warm
    run_convert(spark, os.path.join(in_dir, "part-00.nt"), run_dir.fresh("warmup-out"))
    run_convert(spark, in_dir, run_dir.fresh("warmup-out"))
    ctx.end_setup()

    outputs = []

    def plain():
        out = run_dir.fresh("out")
        outputs.append((out, run_convert(spark, in_dir, out)))

    def traced():
        out = run_dir.fresh("out")
        outputs.append((out, traced_convert(spark, ctx.tracer, in_dir, out)))

    walls, traced_walls = ctx.window(plain, traced)

    ctx.mark("window done")
    out_bytes = []
    for i, (out, n_written) in enumerate(outputs):
        errs = check_output(out, n_written, expected, ctx.seed + i)
        out_bytes.append(harness.du_bytes(out))
        if errs:
            ctx.fail(f"convert output {i}: {errs}")
    ctx.mark("checks done")
    ctx.e2e["p50_ms"] = 1e3 * harness.median(walls)
    ctx.e2e["work_per_s"] = n * len(walls) / sum(walls)
    ctx.reported["convert.triples_per_s"] = n / harness.median(walls)
    ctx.info.update({"statements": n, "files": N_FILES, "walls_s": walls})
    if ctx.trace:
        ctx.overhead_s = harness.median(traced_walls) - harness.median(walls)
        ctx.main_spans = ctx.tracer.named("convert.convert")
        ctx.layer_fns.append(lambda ev: convert_layers(ev, ctx.tracer, n, out_bytes))
