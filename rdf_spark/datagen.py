"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1/§4).

Generates the ``pages`` table (url, warc_ts, html, text, lang) and the
``aliases`` gazetteer entirely with Spark column expressions over
``spark.range`` — no driver-side data, so the same generator scales from
unit tests to bench shards.  Every column is a pure function of the page
id (seeded by xxhash64), so expected triples are known exactly and
regeneration is reproducible.

The domain distribution is deliberately skewed (~half of all pages on one
host) to exercise the salting/AQE path demanded by the north rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_spark.ops import fastpath

# Gazetteer: (surface form, entity IRI, link prior).
ENTITIES = [
    ("Ada Lovelace", "http://kg.example/entity/Ada_Lovelace", 0.95),
    ("Alan Turing", "http://kg.example/entity/Alan_Turing", 0.97),
    ("Grace Hopper", "http://kg.example/entity/Grace_Hopper", 0.94),
    ("Tim Berners-Lee", "http://kg.example/entity/Tim_Berners-Lee", 0.96),
    ("Barbara Liskov", "http://kg.example/entity/Barbara_Liskov", 0.93),
    ("John McCarthy", "http://kg.example/entity/John_McCarthy", 0.72),
    ("Donald Knuth", "http://kg.example/entity/Donald_Knuth", 0.98),
    ("Edsger Dijkstra", "http://kg.example/entity/Edsger_Dijkstra", 0.95),
    ("Claude Shannon", "http://kg.example/entity/Claude_Shannon", 0.91),
    ("Margaret Hamilton", "http://kg.example/entity/Margaret_Hamilton", 0.66),
    ("Mercury", "http://kg.example/entity/Mercury_planet", 0.40),
    ("Mercury", "http://kg.example/entity/Mercury_element", 0.55),
]

# Skewed host table: index 0 is the hot domain (SURVEY.md §4.2.3).
DOMAINS = [
    "big.example.com",
    "mid-a.example.org",
    "mid-b.example.org",
    "small-1.example.net",
    "small-2.example.net",
    "small-3.example.net",
    "small-4.example.net",
    "small-5.example.net",
]


def aliases(spark: SparkSession) -> DataFrame:
    return fastpath.local_frame(
        spark, ENTITIES, "surface string, entity_iri string, prior double")


def pages(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """n synthetic pages. Each page embeds a Turtle block (directives,
    pname shortcuts, a bnode property list, numeric shorthand) plus prose
    mentioning two gazetteer entities."""
    df = spark.range(n).withColumn("h", F.xxhash64(F.col("id"), F.lit(seed)))

    # skew: pmod(h,16) in 0..7 → hot domain; else spread over the tail
    dsel = F.pmod(F.col("h"), F.lit(16))
    domain = F.when(dsel < 8, F.lit(DOMAINS[0]))
    for i, d in enumerate(DOMAINS[1:], start=1):
        domain = domain.when(dsel == (7 + i), F.lit(d))
    domain = domain.otherwise(F.lit(DOMAINS[-1]))

    url = F.concat(F.lit("https://"), domain, F.lit("/page/"), F.col("id"))
    warc_ts = F.timestamp_seconds(F.lit(1700000000) + F.pmod(F.col("h"), F.lit(86400 * 365)))
    lang = F.when(F.pmod(F.col("h"), F.lit(10)) < 8, F.lit("en")).otherwise(F.lit("de"))

    m1 = F.pmod(F.col("h"), F.lit(len(ENTITIES)))
    m2 = F.pmod(F.col("h") + 7, F.lit(len(ENTITIES)))
    surf = F.array(*[F.lit(e[0]) for e in ENTITIES])
    mention1 = F.element_at(surf, (m1 + 1).cast("int"))
    mention2 = F.element_at(surf, (m2 + 1).cast("int"))

    price_int = F.pmod(F.col("h"), F.lit(900)) + 100
    price_dec = F.pmod(F.col("h"), F.lit(100))
    tag = F.pmod(F.col("h"), F.lit(7))

    turtle = F.concat(
        F.lit("@prefix ex: <http://kg.example/vocab#> .\n"),
        F.lit("<#product> a ex:Product ;\n"),
        F.lit('  ex:name "Item '), F.col("id"), F.lit('" ;\n'),
        F.lit("  ex:price "), price_int, F.lit("."), price_dec, F.lit(" ;\n"),
        F.lit('  ex:tag [ ex:label "t'), tag, F.lit('"@en ] .\n'),
    )
    # a deterministic ~2.4% of pages carry a malformed RDF block: the
    # pipeline must quarantine them (their link triples still extract)
    broken = F.pmod(F.col("h"), F.lit(41)) == 0
    turtle = F.when(broken, F.lit("@prefix broken .\n<oops")).otherwise(turtle)

    prose = F.concat(
        F.lit("A page about "), mention1, F.lit(" and "), mention2,
        F.lit(". Item "), F.col("id"), F.lit(" was reviewed by "), mention1,
        F.lit(" in great detail."),
    )

    # text = what the reference extractor must reproduce byte-identically
    # (the <title> contributes leading "Page {id}" after tag-stripping)
    text = F.concat(F.lit("Page "), F.col("id"), F.lit(" "), prose)

    html = F.concat(
        F.lit("<html><head><title>Page "), F.col("id"),
        F.lit('</title></head><body><script type="text/turtle">\n'),
        turtle,
        F.lit("</script><p>"), prose, F.lit("</p></body></html>"),
    )

    return df.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


def expected_link_count(n: int) -> int:
    """Every page mentions exactly two surfaces (possibly equal)."""
    return n


def _best_entities() -> list[str]:
    """Best entity per gazetteer row's surface (max prior, tie → min IRI) —
    the same selection rule as extraction.link_entities / the fused stage."""
    best: dict[str, tuple[str, float]] = {}
    for surface, entity, prior in ENTITIES:
        cur = best.get(surface)
        if cur is None or prior > cur[1] or (prior == cur[1] and entity < cur[0]):
            best[surface] = (entity, prior)
    return [best[surface][0] for surface, _, _ in ENTITIES]


def expected_triples(spark: SparkSession, n: int, seed: int = 42):
    """The EXACT canonical (post-skolemization, post-dedup) triple set the
    pipeline must produce for ``pages(spark, n, seed)`` — the reference
    oracle for the P/R metric (BASELINE.md).  Pure column expressions, so
    the oracle itself scales with the corpus."""
    from rdf_spark.canonical import SKOLEM_PREFIX

    EX = "http://kg.example/vocab#"
    df = spark.range(n).withColumn("h", F.xxhash64(F.col("id"), F.lit(seed)))
    dsel = F.pmod(F.col("h"), F.lit(16))
    domain = F.when(dsel < 8, F.lit(DOMAINS[0]))
    for i, d in enumerate(DOMAINS[1:], start=1):
        domain = domain.when(dsel == (7 + i), F.lit(d))
    domain = domain.otherwise(F.lit(DOMAINS[-1]))
    url = F.concat(F.lit("https://"), domain, F.lit("/page/"), F.col("id"))
    subj = F.concat(url, F.lit("#product"))
    skolem_b1 = F.concat(
        F.lit(SKOLEM_PREFIX), F.lower(F.hex(F.xxhash64(url))), F.lit(":b1")
    )
    price = F.concat(
        (F.pmod(F.col("h"), F.lit(900)) + 100).cast("string"),
        F.lit("."),
        F.pmod(F.col("h"), F.lit(100)).cast("string"),
    )
    tag = F.concat(F.lit("t"), F.pmod(F.col("h"), F.lit(7)).cast("string"))

    base = df.select(F.col("id"), F.col("h"), url.alias("url"))
    ok_base = base.filter(F.pmod(F.col("h"), F.lit(41)) != 0)

    def tri(s, s_kind, p, o, o_kind, dt=None, lang=None, base=base):
        return base.select(
            s.alias("s"), F.lit(s_kind).cast("tinyint").alias("s_kind"),
            F.lit(p).alias("p"), o.alias("o"),
            F.lit(o_kind).cast("tinyint").alias("o_kind"),
            (F.lit(dt) if dt else F.lit(None)).cast("string").alias("o_datatype"),
            (F.lit(lang) if lang else F.lit(None)).cast("string").alias("o_lang"),
        )

    from rdf_spark import terms

    # pages whose RDF block is malformed contribute no rdf triples
    # (quarantined), only link triples
    rdf_parts = [
        tri(subj, 1, terms.RDF_TYPE, F.lit(EX + "Product"), 1, base=ok_base),
        tri(subj, 1, EX + "name", F.concat(F.lit("Item "), F.col("id")), 2,
            terms.XSD_STRING, base=ok_base),
        tri(subj, 1, EX + "price", price, 2, terms.XSD_DECIMAL, base=ok_base),
        tri(subj, 1, EX + "tag", skolem_b1, 0, base=ok_base),
        tri(skolem_b1, 0, EX + "label", tag, 2, terms.RDF_LANG_STRING, "en",
            base=ok_base),
    ]

    best = _best_entities()
    ents = F.array(*[F.lit(e) for e in best])
    m1 = F.element_at(ents, (F.pmod(F.col("h"), F.lit(len(ENTITIES))) + 1).cast("int"))
    m2 = F.element_at(ents, (F.pmod(F.col("h") + 7, F.lit(len(ENTITIES))) + 1).cast("int"))
    links = [
        tri(F.col("url"), 1, EX + "mentions", m1, 1),
        tri(F.col("url"), 1, EX + "mentions", m2, 1),
    ]

    out = rdf_parts[0]
    for part in rdf_parts[1:] + links:
        out = out.unionByName(part)
    return out.dropDuplicates()
