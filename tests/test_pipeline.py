"""End-to-end KG pipeline tests: byte-identical extraction, mention
linking, skolemized triple store, checkpoint-resume, skew stats."""

import json
import os

import pytest

from pyspark.sql import functions as F

from rdf_spark import canonical, datagen, extraction, pipeline


def _assert_counters_are_recounts(spark, out, pages, n_shards, n_buckets):
    """Every shard manifest equals exact recounts of what the shard wrote:
    the store's bucket_counts, a groupBy of its quarantine by error class,
    and a count of the shard's pages."""
    from rdf_spark.store import ParquetBucketStore

    store = ParquetBucketStore(out, n_buckets)
    n_pages = dict(pages.groupBy(pipeline._shard_col(n_shards).alias("k"))
                   .count().collect())
    for k in range(n_shards):
        with open(os.path.join(out, pipeline.MANIFEST_DIR,
                               f"shard-{k}.json")) as f:
            man = json.load(f)
        per_bucket = {str(r.bucket): (r.n, r.links)
                      for r in store.bucket_counts(spark, k).collect()}
        assert man["buckets"] == {b: n for b, (n, _) in per_bucket.items()}
        assert man["n_link_triples"] == sum(l for _, l in per_bucket.values())
        assert man["n_triples_final"] == sum(man["buckets"].values())
        assert man["n_pages"] == n_pages.get(k, 0)
        q = dict(store.read_quarantine(spark, k).groupBy(
            F.when(F.col("err") == "invalid term", "invalid")
            .otherwise("parse")).count().collect())
        assert man["n_parse_errors"] == q.get("parse", 0)
        assert man["n_invalid"] == q.get("invalid", 0)


def test_extraction_byte_identical(spark):
    """Per-url invariant (BASELINE.json:15): pipeline extractor output ==
    the pages.text column, byte for byte."""
    pages = datagen.pages(spark, 200)
    ext = extraction.extract_stage(pages)
    joined = pages.join(ext, "url")
    n_bad = joined.filter(F.col("text") != F.col("extracted_text")).count()
    assert n_bad == 0
    # and the python-level extractor agrees with the vectorized stage
    row = pages.first()
    assert extraction.extract_text(row.html) == row.text


def test_mention_linking(spark):
    pages = datagen.pages(spark, 100)
    aliases = datagen.aliases(spark)
    ext = extraction.extract_stage(pages)
    mentions = extraction.detect_mentions(ext, aliases)
    assert mentions.filter(F.col("n_hits") < 1).count() == 0
    links = extraction.link_entities(mentions, aliases)
    # top-1 per (url, surface): no surface may appear twice for one url
    dup = links.groupBy("url", "surface").count().filter("count > 1").count()
    assert dup == 0
    # ambiguous surface 'Mercury' must resolve to the higher-prior element
    merc = links.filter(F.col("surface") == "Mercury").select("entity_iri").distinct().collect()
    if merc:
        assert merc == [("http://kg.example/entity/Mercury_element",)] or merc[0][
            0
        ].endswith("Mercury_element")


def test_pipeline_end_to_end_and_resume(spark, tmp_path):
    out = str(tmp_path / "kg")
    pages = datagen.pages(spark, 120)
    aliases = datagen.aliases(spark)

    results = pipeline.run_pipeline(spark, pages, aliases, out, n_shards=3, n_buckets=4)
    assert len(results) == 3
    assert sum(r.n_pages for r in results) == 120
    assert all(not r.skipped for r in results)
    n_broken = pages.filter(
        F.contains(F.decode("html", "utf-8"), F.lit("broken"))
    ).count()
    assert sum(r.n_parse_errors for r in results) == n_broken

    store = pipeline.read_triple_store(spark, out)
    # every page contributes: 5 turtle triples (type, name, price, tag, label)
    # + 1-2 link triples
    n = store.count()
    assert n >= 120 * 6
    # skolemization: no raw '_:' labels survive in the store
    assert store.filter(F.col("s").startswith("_:")).count() == 0
    assert store.filter(F.col("o").startswith("_:")).count() == 0
    # blank provenance retained
    assert store.filter(F.col("s_kind") == 0).count() > 0

    # resume: delete one manifest → only that shard recomputes
    os.remove(os.path.join(out, pipeline.MANIFEST_DIR, "shard-1.json"))
    results2 = pipeline.run_pipeline(spark, pages, aliases, out, n_shards=3, n_buckets=4)
    assert [r.skipped for r in results2] == [True, False, True]
    assert results2[1].n_triples_final == results[1].n_triples_final
    # store identical after resume (idempotent shard overwrite)
    assert pipeline.read_triple_store(spark, out).count() == n


def test_domain_stats_skew(spark, tmp_path):
    out = str(tmp_path / "kg")
    pages = datagen.pages(spark, 200)
    aliases = datagen.aliases(spark)
    pipeline.run_pipeline(spark, pages, aliases, out, n_shards=1, n_buckets=4)
    store = pipeline.read_triple_store(spark, out)
    stats = pipeline.domain_stats(store).collect()
    assert stats[0].domain == datagen.DOMAINS[0]  # hot domain dominates
    total = sum(r.n_triples for r in stats)
    assert stats[0].n_triples > 0.3 * total


def test_salted_distinct_count(spark):
    from rdf_spark.ops.skew import salted_distinct_count

    df = spark.createDataFrame(
        [("hot", f"v{i % 57}") for i in range(500)] + [("cold", "x")],
        "k string, v string",
    )
    got = {r.k: r.n_distinct for r in salted_distinct_count(df, "k", "v").collect()}
    assert got == {"hot": 57, "cold": 1}


def test_fused_overlapping_surfaces_longest_first(spark):
    """Fused stage must apply the same longest-first, non-overlapping match
    semantics as detect_mentions when one gazetteer surface is a substring
    of another (e.g. 'window' inside 'window manager')."""
    aliases = [
        ("window", "urn:e:window", 0.9),
        ("window manager", "urn:e:wm", 0.8),
    ]
    rows = [
        # only the long surface: the embedded 'window' must NOT link
        ("u:1", b"<p>all about the window manager here</p>", "all about the window manager here"),
        # both: one standalone 'window' plus one 'window manager'
        ("u:2", b"<p>window manager and a window</p>", "window manager and a window"),
        # only the short surface
        ("u:3", b"<p>a window</p>", "a window"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary, text string")
    got = {
        (r.s, r.o)
        for r in extraction.fused_extract_parse_link(pages, aliases)
        .filter(F.col("err").isNull())
        .collect()
    }
    assert got == {
        ("u:1", "urn:e:wm"),
        ("u:2", "urn:e:wm"),
        ("u:2", "urn:e:window"),
        ("u:3", "urn:e:window"),
    }

    # parity with the unfused path
    docs = pages.select("url", F.col("text").alias("extracted_text"))
    adf = spark.createDataFrame(aliases, "surface string, entity_iri string, prior double")
    m = extraction.detect_mentions(docs, adf)
    links = extraction.link_entities(m, adf)
    unfused = {(r.url, r.entity_iri) for r in links.collect()}
    assert unfused == got


def test_fused_nonnested_overlap_falls_back_to_exact(spark):
    """Gazetteer surfaces that overlap WITHOUT containment ('ab'/'bc'
    across 'abc') break the count-and-subtract scheme; the fused stage
    must detect them and route through the exact alternation, matching
    detect_mentions bit-for-bit."""
    from rdf_spark.extraction import _nonnested_overlaps

    assert _nonnested_overlaps(["ab", "bc"])
    assert not _nonnested_overlaps(["window", "window manager"])
    assert not _nonnested_overlaps(["a", "ab", "abc"])

    aliases = [("ab", "urn:e:ab", 0.9), ("bc", "urn:e:bc", 0.8)]
    rows = [
        # 'abc': alternation takes 'ab' at pos 0 (leftmost), 'bc' overlaps
        # inside it and must NOT link — naive counting would emit both
        ("u:1", b"<p>abc</p>", "abc"),
        ("u:2", b"<p>ab and bc apart</p>", "ab and bc apart"),
        ("u:3", b"<p>nothing</p>", "nothing"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary, text string")
    got = {
        (r.s, r.o)
        for r in extraction.fused_extract_parse_link(pages, aliases)
        .filter(F.col("err").isNull())
        .collect()
    }
    assert got == {
        ("u:1", "urn:e:ab"),
        ("u:2", "urn:e:ab"),
        ("u:2", "urn:e:bc"),
    }
    # parity with the unfused path
    docs = pages.select("url", F.col("text").alias("extracted_text"))
    adf = spark.createDataFrame(aliases, "surface string, entity_iri string, prior double")
    links = extraction.link_entities(extraction.detect_mentions(docs, adf), adf)
    assert {(r.url, r.entity_iri) for r in links.collect()} == got


def test_detect_mentions_engines_equivalent(spark):
    """The regex alternation and the Aho-Corasick automaton must produce
    identical (url, surface, n_hits) on overlapping, nested, repeated and
    unicode surfaces."""
    aliases = [
        ("window", "urn:e:w", 0.9),
        ("window manager", "urn:e:wm", 0.8),
        ("ab", "urn:e:ab", 0.5),
        ("bc", "urn:e:bc", 0.5),
        ("abc", "urn:e:abc", 0.5),
        ("élan", "urn:e:el", 0.5),
    ]
    adf = spark.createDataFrame(aliases, "surface string, entity_iri string, prior double")
    docs = spark.createDataFrame(
        [
            ("u:1", "the window manager opened a window and a window"),
            ("u:2", "abcabc ab bc abc xbcx"),
            ("u:3", "élan élan vital"),
            ("u:4", "no matches whatsoever"),
            ("u:5", None),
        ],
        "url string, extracted_text string",
    )
    rx = {(r.url, r.surface, r.n_hits)
          for r in extraction.detect_mentions(docs, adf, engine="regex").collect()}
    ac = {(r.url, r.surface, r.n_hits)
          for r in extraction.detect_mentions(docs, adf, engine="aho").collect()}
    assert rx == ac
    assert ("u:2", "abc", 3) in ac  # abcabc + standalone abc (longest-first)
    assert ("u:1", "window", 2) in ac
    assert ("u:1", "window manager", 1) in ac
    import pytest as _pytest
    with _pytest.raises(ValueError, match="engine"):
        extraction.detect_mentions(docs, adf, engine="bogus")


def _disambig_fixture(spark):
    aliases = spark.createDataFrame(
        [("paris", "urn:ParisFR", 0.8), ("paris", "urn:ParisTX", 0.2),
         ("texas", "urn:Texas", 0.9), ("france", "urn:France", 0.9)],
        "surface string, entity_iri string, prior double",
    )
    rel = spark.createDataFrame(
        [("urn:ParisTX", "urn:Texas"), ("urn:France", "urn:ParisFR")],
        "entity_a string, entity_b string",
    )
    mentions = spark.createDataFrame(
        [("d1", "paris", 1), ("d1", "texas", 1),
         ("d2", "paris", 1), ("d2", "france", 1),
         ("d3", "paris", 2)],
        "url string, surface string, n_hits long",
    )
    return mentions, aliases, rel


def test_disambiguate_context_flips_prior(spark):
    """Coherence voting: on the Texas page 'paris' resolves to the
    low-prior Texan sense; with no context the prior wins."""
    mentions, aliases, rel = _disambig_fixture(spark)
    out = extraction.disambiguate_mentions(
        mentions, aliases, rel, coherence_weight=5.0)
    got = {(r.url, r.surface): (r.entity_iri, r.coherence)
           for r in out.collect()}
    assert got[("d1", "paris")] == ("urn:ParisTX", 1)  # context flip
    assert got[("d2", "paris")] == ("urn:ParisFR", 1)  # context agrees
    assert got[("d3", "paris")] == ("urn:ParisFR", 0)  # no context
    # unambiguous surfaces keep their single sense, coherence included
    assert got[("d1", "texas")][0] == "urn:Texas"
    # one row per (url, surface)
    assert out.count() == 5


def test_disambiguate_weight_zero_matches_link_entities(spark):
    """w=0 degenerates to the context-free prior*log1p(n_hits) ranking
    of link_entities (same tie-break), whatever the relatedness edges."""
    mentions, aliases, rel = _disambig_fixture(spark)
    out = extraction.disambiguate_mentions(
        mentions, aliases, rel, coherence_weight=0.0)
    base = extraction.link_entities(mentions, aliases)
    got = {(r.url, r.surface): r.entity_iri for r in out.collect()}
    want = {(r.url, r.surface): r.entity_iri for r in base.collect()}
    assert got == want


def test_disambiguate_relatedness_symmetrized(spark):
    """Edges count in either orientation and self-loops never support a
    candidate (a context entity cannot vote for itself)."""
    mentions, aliases, _ = _disambig_fixture(spark)
    rel = spark.createDataFrame(
        [("urn:Texas", "urn:ParisTX"),  # reversed orientation
         ("urn:Texas", "urn:Texas")],   # self-loop, must be ignored
        "entity_a string, entity_b string",
    )
    out = extraction.disambiguate_mentions(mentions, aliases, rel,
                                           coherence_weight=5.0)
    got = {(r.url, r.surface): (r.entity_iri, r.coherence)
           for r in out.collect()}
    assert got[("d1", "paris")] == ("urn:ParisTX", 1)
    assert got[("d1", "texas")][1] == 0  # no self-support


def test_aho_corasick_unit():
    from rdf_spark.automaton import AhoCorasick

    ac = AhoCorasick(["he", "she", "his", "hers"])
    assert sorted(ac.iter_matches("ushers")) == [
        (1, "she"), (2, "he"), (2, "hers")
    ]
    # longest-first non-overlap: 'she' wins at pos 1, 'hers' overlaps it
    assert ac.count_nonoverlapping("ushers") == {"she": 1}
    assert ac.count_nonoverlapping("his hers he") == {"his": 1, "hers": 1, "he": 1}
    assert AhoCorasick(["ab", "abc"]).count_nonoverlapping("abcab") == {
        "abc": 1, "ab": 1
    }
    assert AhoCorasick([]).count_nonoverlapping("anything") == {}
    assert AhoCorasick(["x"]).count_nonoverlapping("") == {}


def test_parquet_store_seam_roundtrip(spark, tmp_path):
    """run_pipeline's writes all go through the store seam; an explicitly
    passed ParquetBucketStore must behave identically to the default, and
    its read/merge methods must round-trip."""
    from rdf_spark import datagen
    from rdf_spark.store import ParquetBucketStore

    out = str(tmp_path / "kg")
    pages = datagen.pages(spark, 60)
    store = ParquetBucketStore(out, n_buckets=4)
    results = pipeline.run_pipeline(
        spark, pages, datagen.aliases(spark), out, n_shards=2, n_buckets=4,
        store=store,
    )
    assert len(results) == 2 and not any(r.skipped for r in results)
    total = sum(r.n_triples_final for r in results)
    assert store.read_triples(spark).count() == total
    assert store.read_triples(spark, shard=0).count() == results[0].n_triples_final
    # merge through the seam: re-merging shard 0's own triples appends 0
    existing = store.read_triples(spark, shard=0).drop("bucket")
    assert store.merge(spark, existing, shard=0) == 0


def test_iceberg_store_api_without_jars(spark):
    """The Iceberg store must be constructible (API-drift guard) and fail
    with a clear actionable error — not an opaque JVM stack — when the
    runtime jars are absent."""
    from rdf_spark.store import IcebergTripleStore

    with pytest.raises(ValueError, match="table identifier"):
        IcebergTripleStore("/some/path")
    st = IcebergTripleStore("cat.db.triples", n_buckets=8)
    assert st.format == "iceberg" and st.n_buckets == 8
    if IcebergTripleStore.available(spark):
        pytest.skip("iceberg jars present; covered by the roundtrip test")
    df = spark.createDataFrame([("urn:s", 1)], "s string, s_kind int")
    with pytest.raises(RuntimeError, match="iceberg-spark runtime"):
        st.write_shard(df, 0)
    with pytest.raises(RuntimeError, match="iceberg-spark runtime"):
        st.read_triples(spark)


def test_iceberg_store_roundtrip(spark, tmp_path):
    """Full Iceberg round-trip — runs only when the iceberg-spark runtime
    jars and a catalog are available (absent in this container)."""
    from rdf_spark.store import IcebergTripleStore

    if not IcebergTripleStore.available(spark):
        pytest.skip("iceberg-spark runtime jars not on the classpath")
    spark.conf.set("spark.sql.catalog.it", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.it.type", "hadoop")
    spark.conf.set("spark.sql.catalog.it.warehouse", str(tmp_path / "wh"))
    from rdf_spark import datagen

    st = IcebergTripleStore("it.db.triples", n_buckets=4)
    final, _ = pipeline.build_shard_triples(
        datagen.pages(spark, 40), datagen.aliases(spark)
    )
    st.write_shard(final, 0)
    assert st.read_triples(spark, shard=0).count() == final.count()
    st.write_shard(final, 0)  # idempotent overwrite
    assert st.read_triples(spark, shard=0).count() == final.count()
    st.merge(spark, final.limit(5), shard=0)  # re-merge: no duplicates
    assert st.read_triples(spark, shard=0).count() == final.count()


def test_merge_new_triples_incremental(spark, tmp_path):
    """Incremental upsert: only absent triples append, and the dedup
    anti-join prunes to the affected bucket partitions."""
    from rdf_spark import terms
    from rdf_spark.pipeline import materialize_triples, merge_new_triples

    def tri(i):
        return (f"urn:s:{i}", 1, "urn:p", f"v{i}", 2, terms.XSD_STRING, None)

    store = str(tmp_path / "store")
    base = spark.createDataFrame([tri(i) for i in range(100)], terms.TRIPLE_DDL)
    materialize_triples(base, store, n_buckets=8)
    n0 = spark.read.parquet(store).count()
    assert n0 == 100

    # delta: 50 already present + 30 new
    delta = spark.createDataFrame(
        [tri(i) for i in range(50, 130)], terms.TRIPLE_DDL
    )
    appended = merge_new_triples(spark, store, delta, n_buckets=8)
    assert appended == 30
    after = spark.read.parquet(store)
    assert after.count() == 130
    assert after.dropDuplicates(
        ["s", "s_kind", "p", "o", "o_kind", "o_datatype", "o_lang"]
    ).count() == 130  # no duplicates introduced

    # idempotent: merging the same delta again appends nothing
    assert merge_new_triples(spark, store, delta, n_buckets=8) == 0

    # pruning: the scan merge actually uses carries a bucket partition
    # filter (test the production helper, not a reconstruction)
    from rdf_spark.pipeline import _pruned_store_scan

    key = ["s", "s_kind", "p", "o", "o_kind", "o_datatype", "o_lang"]
    plan = (
        _pruned_store_scan(spark, store, [3], key)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "bucket" in plan

    # bucketing metadata: inferred when omitted, mismatches rejected
    import pytest as _pytest

    assert merge_new_triples(spark, store, delta) == 0  # n_buckets inferred
    with _pytest.raises(ValueError, match="does not match"):
        merge_new_triples(spark, store, delta, n_buckets=32)


def test_merge_new_triples_quads_keep_graph(spark, tmp_path):
    """The identity key includes graph: the same (s,p,o) in another graph
    is a DIFFERENT quad and must append."""
    from rdf_spark import terms
    from rdf_spark.pipeline import materialize_triples, merge_new_triples

    store = str(tmp_path / "qstore")
    q = ("urn:s", 1, "urn:p", "v", 2, terms.XSD_STRING, None, "urn:g1", 1)
    base = spark.createDataFrame([q], terms.QUAD_DDL)
    materialize_triples(base, store, n_buckets=4)
    delta = spark.createDataFrame(
        [q, ("urn:s", 1, "urn:p", "v", 2, terms.XSD_STRING, None, "urn:g2", 1)],
        terms.QUAD_DDL,
    )
    assert merge_new_triples(spark, store, delta) == 1  # only the g2 quad
    assert spark.read.parquet(store).count() == 2


def test_manifest_per_bucket_counters(spark, tmp_path):
    """North rule: per-partition lineage counters — each shard manifest
    records its per-bucket triple counts, summing to the shard total."""
    import glob
    import json as _json

    from rdf_spark import datagen, pipeline

    out = str(tmp_path / "kg_buckets")
    results = pipeline.run_pipeline(
        spark, datagen.pages(spark, 80), datagen.aliases(spark), out,
        n_shards=2, n_buckets=4,
    )
    for m in glob.glob(f"{out}/_manifest/*.json"):
        man = _json.load(open(m))
        assert man["buckets"], m
        assert sum(man["buckets"].values()) == man["n_triples_final"]
    # resume still parses manifests with the new field
    again = pipeline.run_pipeline(
        spark, datagen.pages(spark, 80), datagen.aliases(spark), out,
        n_shards=2, n_buckets=4,
    )
    assert all(r.skipped for r in again)
    assert sum(r.n_triples_final for r in again) == sum(
        r.n_triples_final for r in results
    )


def test_empty_shard_writes_zero_manifest(spark, tmp_path):
    """A shard that receives no pages writes no bucket partitions; its
    manifest must still record zero counts (and resume must skip it)."""
    out = str(tmp_path / "kg_empty_shard")
    pages = datagen.pages(spark, 1, 7)
    results = pipeline.run_pipeline(
        spark, pages, datagen.aliases(spark), out, n_shards=4, n_buckets=4,
    )
    assert len(results) == 4
    assert sum(r.n_pages for r in results) == 1
    empty = [r for r in results if r.n_pages == 0]
    assert len(empty) == 3
    for r in empty:
        assert r.n_triples_final == r.n_rdf_triples == r.n_link_triples == 0
        man = json.load(open(os.path.join(out, "_manifest",
                                          f"shard-{r.shard}.json")))
        assert man["n_triples_final"] == 0 and man["buckets"] == {}
    _assert_counters_are_recounts(spark, out, pages, 4, 4)
    again = pipeline.run_pipeline(
        spark, pages, datagen.aliases(spark), out, n_shards=4, n_buckets=4,
    )
    assert all(r.skipped for r in again)


@pytest.mark.parametrize("n_buckets", [3, 16])
def test_observed_counters_equal_recounts(spark, tmp_path, new_sql_plans,
                                          n_buckets):
    """The manifest counters are observed during the shard's writes; they
    equal exact recounts of the written store, quarantine and pages, and
    the run scans none of its own output."""
    pages = datagen.pages(spark, 40, 3)
    # one page whose Turtle parses but carries an invalid language tag
    bad = pages.limit(1).select(
        F.lit("https://invalid.example/1").alias("url"), "warc_ts",
        F.encode(F.lit('<html><script type="text/turtle"><urn:a> <urn:p> '
                       '"x"@en-gb-oed .</script></html>'), "utf-8")
        .alias("html"), "text", "lang")
    pages = pages.unionByName(bad)
    out = str(tmp_path / f"kg_obs{n_buckets}")
    new_sql_plans()
    results = pipeline.run_pipeline(spark, pages, datagen.aliases(spark), out,
                                    n_shards=1, n_buckets=n_buckets)
    assert new_sql_plans(out) == []
    assert results[0].n_invalid == 1 and results[0].n_parse_errors > 0
    _assert_counters_are_recounts(spark, out, pages, 1, n_buckets)


def test_failed_shard_releases_persisted_rdds(spark, tmp_path):
    """A store whose write raises leaves no persisted RDD behind."""
    from rdf_spark.store import ParquetBucketStore

    class FailingStore(ParquetBucketStore):
        def write_quarantine(self, quarantine, shard):
            raise RuntimeError("quarantine sink down")

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    out = str(tmp_path / "kg_fail")
    with pytest.raises(RuntimeError, match="quarantine sink down"):
        pipeline.run_pipeline(
            spark, datagen.pages(spark, 20), datagen.aliases(spark), out,
            n_shards=1, n_buckets=2, store=FailingStore(out, 2))
    assert persisted() == before


def test_salted_join_matches_plain_join(spark):
    """salt-and-replicate join must be exactly equivalent to a plain join
    on a hot-keyed input (deterministic salts, no lost or doubled rows)."""
    from rdf_spark.ops.skew import salted_join

    big = spark.createDataFrame(
        [("hot", i) for i in range(5000)] + [("cold", i) for i in range(5)],
        "k string, v long",
    )
    dim = spark.createDataFrame(
        [("hot", "H"), ("cold", "C"), ("absent", "A")], "k string, label string"
    )
    got = salted_join(big, dim, "k", n_salts=8)
    plain = big.join(dim, "k")
    assert got.count() == plain.count() == 5005
    assert got.exceptAll(plain).count() == 0
    # left join keeps unmatched skewed rows exactly once
    big2 = big.unionByName(spark.createDataFrame([("orphan", 1)], "k string, v long"))
    left = salted_join(big2, dim, "k", n_salts=8, how="left")
    assert left.count() == 5006
    assert left.filter("label IS NULL").count() == 1


def test_spark_submit_job_entrypoint(spark, tmp_path):
    """The spark-submit entry point end-to-end (argument parsing, pipeline
    invocation, JSON summary, resume skip) — in-process via getOrCreate."""
    import io
    import json as _json
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "jobs")
    import kg_construct_job

    out = str(tmp_path / "job_out")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = kg_construct_job.main(
            ["--synthetic", "60", "--out", out, "--shards", "2", "--buckets", "4"]
        )
    assert rc == 0
    summary = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert summary["pages"] == 60 and summary["shards"] == 2
    assert summary["triples"] > 0 and summary["skipped"] == 0

    # second run resumes: all shards skipped, same totals
    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        assert kg_construct_job.main(
            ["--synthetic", "60", "--out", out, "--shards", "2", "--buckets", "4"]
        ) == 0
    summary2 = _json.loads(buf2.getvalue().strip().splitlines()[-1])
    assert summary2["skipped"] == 2
    assert summary2["triples"] == summary["triples"]


def test_pipeline_relatedness_disambiguation(spark, tmp_path):
    """run_pipeline(relatedness=...): the fused context-free link rows
    are replaced by coherence-aware decisions — the same ambiguous
    surface resolves differently per page, and the baseline (no
    relatedness) keeps the prior sense everywhere."""
    from rdf_spark.extraction import MENTIONS_PREDICATE

    pages = spark.createDataFrame(
        [("https://a.example/1", "<html><body>paris texas</body></html>"),
         ("https://a.example/2", "<html><body>paris france</body></html>"),
         ("https://a.example/3", "<html><body>paris alone</body></html>")],
        "url string, html string",
    )
    aliases = spark.createDataFrame(
        [("paris", "urn:ParisFR", 0.8), ("paris", "urn:ParisTX", 0.2),
         ("texas", "urn:Texas", 0.9), ("france", "urn:France", 0.9)],
        "surface string, entity_iri string, prior double",
    )
    rel = spark.createDataFrame(
        [("urn:ParisTX", "urn:Texas"), ("urn:France", "urn:ParisFR")],
        "entity_a string, entity_b string",
    )
    out1 = str(tmp_path / "ctx")
    res = pipeline.run_pipeline(
        spark, pages, aliases, out1, n_shards=1, n_buckets=2,
        relatedness=rel, coherence_weight=5.0,
    )
    assert res[0].n_link_triples == 5  # 2 + 2 + 1 mentions
    _assert_counters_are_recounts(spark, out1, pages, 1, 2)
    tri = pipeline.read_triple_store(spark, out1)
    links = {(r.s, r.o)
             for r in tri.filter(F.col("p") == MENTIONS_PREDICATE).collect()}
    assert ("https://a.example/1", "urn:ParisTX") in links  # context flip
    assert ("https://a.example/1", "urn:Texas") in links
    assert ("https://a.example/2", "urn:ParisFR") in links
    assert ("https://a.example/3", "urn:ParisFR") in links  # no context
    # context-free baseline: prior wins on every page
    out2 = str(tmp_path / "plain")
    pipeline.run_pipeline(spark, pages, aliases, out2,
                          n_shards=1, n_buckets=2)
    links2 = {(r.s, r.o)
              for r in pipeline.read_triple_store(spark, out2)
              .filter(F.col("p") == MENTIONS_PREDICATE).collect()}
    assert ("https://a.example/1", "urn:ParisFR") in links2
    assert ("https://a.example/1", "urn:ParisTX") not in links2


def test_run_pipeline_single_gazetteer_collect(spark, tmp_path):
    """VERDICT r4 item 3: the gazetteer must be collected ONCE per
    run_pipeline call (then sc.broadcast), not once per shard."""
    pages = datagen.pages(spark, 60)
    aliases = datagen.aliases(spark)
    calls = {"n": 0}
    orig = aliases.collect

    def counting_collect():
        calls["n"] += 1
        return orig()

    aliases.collect = counting_collect  # instance attr shadows the method
    out = str(tmp_path / "kg_once")
    results = pipeline.run_pipeline(spark, pages, aliases, out, n_shards=3, n_buckets=4)
    assert calls["n"] == 1
    assert sum(r.n_triples_final for r in results) > 0


def test_build_shard_triples_shares_gazetteer_broadcast(spark, monkeypatch):
    """Repeated builds over the same gazetteer hand the fused stage one
    broadcast, not a new one per call (none of them can be destroyed:
    the returned frames read it lazily)."""
    seen = []
    fused = extraction.fused_extract_parse_link

    def spy(pages, alias_rows, *args, **kwargs):
        seen.append(alias_rows)
        return fused(pages, alias_rows, *args, **kwargs)

    monkeypatch.setattr(extraction, "fused_extract_parse_link", spy)
    pages = datagen.pages(spark, 5)
    for _ in range(2):
        pipeline.build_shard_triples(pages, datagen.aliases(spark))
    assert len(seen) == 2 and seen[0] is seen[1]
    assert sorted(seen[0].value) == sorted(datagen.ENTITIES)


def test_fused_broadcast_gazetteer_equivalent(spark):
    """fused_extract_parse_link(pages, Broadcast) must produce exactly the
    rows of the closure-shipped list path — including with the matching
    engine forced to Aho-Corasick (the ≥AHO_THRESHOLD scale path)."""
    import rdf_spark.extraction as ex

    aliases = [
        ("window", "urn:e:window", 0.9),
        ("window manager", "urn:e:wm", 0.8),
        ("manager", "urn:e:mgr", 0.7),
    ]
    rows = [
        ("u:1", b"<p>all about the window manager here</p>", None),
        ("u:2", b"<p>window manager and a window and a manager</p>", None),
        ("u:3", b"<p>a window</p>", None),
        ("u:4", b"<p>nothing to see</p>", None),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary, text string")

    def run(gaz, engine="auto"):
        return sorted(
            (r.s, r.p, r.o)
            for r in ex.fused_extract_parse_link(pages, gaz, engine=engine)
            .filter(F.col("err").isNull())
            .collect()
        )

    expect = run(aliases)  # vectorized closure path (reference behavior)
    assert len(expect) > 0
    bc = spark.sparkContext.broadcast(aliases)
    assert run(bc) == expect  # broadcast, same engine
    # engine forced to the automaton — ships in the closure, so it reaches
    # the worker-side context build (a driver-side AHO_THRESHOLD
    # monkeypatch would NOT: workers import the module fresh)
    assert run(bc, engine="aho") == expect
    assert run(aliases, engine="aho") == expect


def _jsonld_pages(spark, n=40):
    """Pages carrying BOTH a turtle block (with a [ ] bnode) and a
    JSON-LD island (with a nested bnode) — both islands mint the label
    _:b1 locally, so the routes collide unless re-namespaced."""
    from pyspark.sql import functions as F

    df = spark.range(n)
    html = F.concat(
        F.lit('<html><body><script type="text/turtle">'
              '@prefix e: <urn:e:> . <#it> e:tag [ e:lab "t" ] .'
              '</script><script type="application/ld+json">'
              '{"@id":"urn:item:'), F.col("id"),
        F.lit('","urn:v:meta":{"urn:v:depth":7}}</script>'
              "<p>About Ada Lovelace and Alan Turing.</p></body></html>"),
    )
    return df.select(
        F.concat(F.lit("https://j.example/p/"), F.col("id")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )


def test_pipeline_extra_fmts_jsonld(spark, tmp_path):
    pages = _jsonld_pages(spark, 40)
    aliases = datagen.aliases(spark)

    out = str(tmp_path / "kg_j")
    pipeline.run_pipeline(
        spark, pages, aliases, out, n_shards=2, n_buckets=4,
        extra_fmts=("jsonld",),
    )
    _assert_counters_are_recounts(spark, out, pages, 2, 4)
    store = pipeline.read_triple_store(spark, out)
    # jsonld route contributes the typed-depth triple for every page
    depth = store.filter(F.col("p") == "urn:v:depth")
    assert depth.count() == 40
    assert depth.filter(F.col("o") == "7").count() == 40
    # both routes' bnodes survive skolemization WITHOUT merging: per page
    # one turtle bnode (tag) and one jsonld bnode (meta) → 2 distinct
    # skolemized blank subjects per url
    blanks = (
        store.filter(F.col("s_kind") == 0)
        .select("s").distinct().count()
    )
    assert blanks == 80
    # link triples still extracted (fused stage untouched)
    assert store.filter(F.col("p").endswith("mentions")).count() > 0

    # default run (no extra_fmts): no jsonld triples
    out2 = str(tmp_path / "kg_plain")
    pipeline.run_pipeline(spark, pages, aliases, out2, n_shards=2, n_buckets=4)
    store2 = pipeline.read_triple_store(spark, out2)
    assert store2.filter(F.col("p") == "urn:v:depth").count() == 0


def test_kg_construct_job_structured_and_link_graph(spark, tmp_path):
    import io
    import json as _json
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "jobs")
    import kg_construct_job

    pages = _jsonld_pages(spark, 20)
    # plant one cross-host anchor so the link graph is non-empty
    pages = pages.withColumn(
        "html",
        F.encode(
            F.concat(
                F.decode("html", "utf-8"),
                F.lit('<a href="https://T.example:443/x?utm_a=1">t</a>'),
            ),
            "utf-8",
        ),
    )
    src = str(tmp_path / "pages_in")
    pages.write.parquet(src)
    out = str(tmp_path / "job_out")
    lg = str(tmp_path / "links")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = kg_construct_job.main(
            ["--pages", src, "--out", out, "--shards", "1", "--buckets", "2",
             "--structured", "jsonld", "--link-graph", lg]
        )
    assert rc == 0
    summary = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert summary["pages"] == 20
    store = pipeline.read_triple_store(spark, out)
    assert store.filter(F.col("p") == "urn:v:depth").count() == 20
    links = {
        (r.src, r.dst): r.n_links for r in spark.read.parquet(lg).collect()
    }
    assert links == {("j.example", "t.example"): 20}


def test_kg_construct_job_priors_and_normalize(spark, tmp_path):
    import io
    import json as _json
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "jobs")
    import kg_construct_job

    df = spark.range(15)
    # messy page url (uppercase host + default port + tracking param)
    # that must collapse under --normalize-urls; one anchor linking the
    # surface 'Ada Lovelace' to a canonicalizable target
    html = F.concat(
        F.lit('<a href="https://KG.example:443/e/ada?utm_x=1">Ada Lovelace</a>'
              "<p>About Grace Hopper.</p>"),
    )
    pages = df.select(
        F.concat(F.lit("HTTPS://NP.Example:443/p/"), F.col("id")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )
    src = str(tmp_path / "pages_np")
    pages.write.parquet(src)
    out = str(tmp_path / "job_np")
    priors = str(tmp_path / "priors")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = kg_construct_job.main(
            ["--pages", src, "--out", out, "--shards", "1", "--buckets", "2",
             "--normalize-urls", "--anchor-priors", priors]
        )
    assert rc == 0
    assert _json.loads(buf.getvalue().strip().splitlines()[-1])["pages"] == 15
    # store subjects carry the canonical page url
    store = pipeline.read_triple_store(spark, out)
    assert store.filter(F.col("s").startswith("https://np.example/p/")).count() > 0
    assert store.filter(F.col("s").contains(":443")).count() == 0
    got = {(r.surface, r.entity_iri): (r.n, r.prior)
           for r in spark.read.parquet(priors).collect()}
    assert got == {("Ada Lovelace", "https://kg.example/e/ada"): (15, 1.0)}


def test_kg_construct_job_aliases_and_relatedness(spark, tmp_path):
    """--aliases swaps in a user gazetteer parquet and --relatedness
    switches linking to context-coherence disambiguation."""
    import io
    import json as _json
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "jobs")
    import kg_construct_job

    from rdf_spark.extraction import MENTIONS_PREDICATE

    pages = spark.createDataFrame(
        [("https://a.example/1", b"<html><body>paris texas</body></html>"),
         ("https://a.example/2", b"<html><body>paris alone</body></html>")],
        "url string, html binary",
    )
    aliases = spark.createDataFrame(
        [("paris", "urn:ParisFR", 0.8), ("paris", "urn:ParisTX", 0.2),
         ("texas", "urn:Texas", 0.9)],
        "surface string, entity_iri string, prior double",
    )
    rel = spark.createDataFrame(
        [("urn:ParisTX", "urn:Texas")], "entity_a string, entity_b string",
    )
    src, al, rl = (str(tmp_path / d) for d in ("pages_dis", "al", "rl"))
    pages.write.parquet(src)
    aliases.write.parquet(al)
    rel.write.parquet(rl)
    out = str(tmp_path / "job_dis")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = kg_construct_job.main(
            ["--pages", src, "--out", out, "--shards", "1", "--buckets", "2",
             "--aliases", al, "--relatedness", rl,
             "--coherence-weight", "5.0"]
        )
    assert rc == 0
    assert _json.loads(buf.getvalue().strip().splitlines()[-1])["pages"] == 2
    links = {(r.s, r.o) for r in pipeline.read_triple_store(spark, out)
             .filter(F.col("p") == MENTIONS_PREDICATE).collect()}
    assert ("https://a.example/1", "urn:ParisTX") in links
    assert ("https://a.example/2", "urn:ParisFR") in links


def test_kg_construct_job_sniff_charset(spark, tmp_path):
    """--sniff-charset normalizes a cp1252/BOM crawl into the utf-8
    pages contract before island extraction — the turtle island of a
    latin-1-labeled page (bytes are cp1252) still parses, and the
    decoded html column is a string downstream."""
    import io
    import json as _json
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "jobs")
    import kg_construct_job

    html = ('<meta charset="iso-8859-1">'
            '<script type="text/turtle">'
            '<#café> <urn:p:x> "€" .'
            "</script><p>About Ada Lovelace.</p>")
    rows = [(f"https://c.example/p/{i}",
             None,
             html.encode("cp1252"),
             None, "en") for i in range(8)]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    src = str(tmp_path / "cp1252_pages")
    pages.write.parquet(src)
    out = str(tmp_path / "job_out")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = kg_construct_job.main(
            ["--pages", src, "--out", out, "--shards", "1", "--buckets", "2",
             "--sniff-charset"]
        )
    assert rc == 0
    store = pipeline.read_triple_store(spark, out)
    euro = store.filter(F.col("o") == "€")
    # <#café> resolves against each page url → 8 distinct subjects
    assert euro.count() == 8
    assert euro.filter(F.col("s").endswith("#café")).count() == 8


def test_kg_construct_job_hearst_and_infobox(spark, tmp_path):
    """--hearst and --infobox-triples sidecar outputs (round-5)."""
    import io
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "jobs")
    import kg_construct_job

    from rdf_spark import datagen

    pages = datagen.pages(spark, 12)
    pages = pages.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" Vendors such as Alpha and Beta ship parts."),
        ),
    ).withColumn(
        "html",
        F.encode(
            F.concat(
                F.decode("html", "utf-8"),
                F.lit("<table><tr><th>Size</th></tr>"
                      "<tr><td>42</td></tr></table>"),
            ),
            "utf-8",
        ),
    )
    src = str(tmp_path / "pages_in")
    pages.write.parquet(src)
    out = str(tmp_path / "job_out")
    hearst = str(tmp_path / "hearst")
    infobox = str(tmp_path / "infobox")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = kg_construct_job.main([
            "--pages", src, "--out", out, "--shards", "1",
            "--buckets", "2", "--hearst", hearst,
            "--infobox-triples", infobox,
        ])
    assert rc == 0
    pairs = {(r.hyponym, r.hypernym)
             for r in spark.read.parquet(hearst).collect()}
    assert pairs == {("Alpha", "Vendors"), ("Beta", "Vendors")}
    tri = spark.read.parquet(infobox)
    assert tri.count() == 12
    [r] = tri.limit(1).collect()
    assert r.p == "urn:table:p:size" and r.o == "42"
