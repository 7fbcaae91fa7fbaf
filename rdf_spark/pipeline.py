"""End-to-end KG construction: pages → canonical partitioned triple store.

The north-star pipeline (BASELINE.json / SURVEY.md §2.6):

    pages (url, warc_ts, html, text, lang)
      → extract+parse+link (ONE fused narrow mapInArrow stage: byte-
                            identical text, embedded-RDF Turtle parse,
                            gazetteer mention scoring — quarantine errors)
      → canonicalize       (skolemize bnodes per (url,label); validate)
      → dedup              (partial+final hash agg, lineage counts)
      → materialize        (parquet partitioned by subject hash-bucket)

Scale design: the only shuffle per shard is the dedup aggregate (page
partitioning is url-hash — uniform regardless of domain skew).
Checkpoint-resume is
shard-at-a-time: pages are split into ``n_shards`` url-hash shards; each
shard is one idempotent job writing ``shard=K`` partitions plus a manifest
row with counters — a resumed run skips shards whose manifest exists
(at 10^12 documents each shard is one spark-submit of ~10^8-10^9 pages).
"""

from __future__ import annotations

import json
import os
import time
import weakref
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from rdf_spark import canonical, extraction

TRIPLE_STORE_DIR = "triples"
MANIFEST_DIR = "_manifest"
QUARANTINE_DIR = "_quarantine"


@dataclass
class ShardResult:
    shard: int
    n_pages: int
    n_rdf_triples: int
    n_link_triples: int
    n_parse_errors: int
    n_invalid: int
    n_triples_final: int
    wall_s: float
    skipped: bool = False


def _shard_col(n_shards: int):
    return F.pmod(F.xxhash64(F.col("url")), F.lit(n_shards)).cast("int")


def subject_bucket(n_buckets: int):
    """The store's subject hash-bucket of each row: ``pmod(xxhash64(s),
    n)`` — the one bucketing expression for writes, merges and audits."""
    return F.pmod(F.xxhash64(F.col("s")), F.lit(n_buckets)).cast("int")


#: SparkContext → {gazetteer rows: broadcast}: the broadcasts of
#: :func:`build_shard_triples`, which cannot destroy its own (the frames
#: it returns read it lazily), so calls over one gazetteer share one
_ALIAS_BROADCASTS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def build_shard_triples(pages: DataFrame, aliases: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One shard's logical plan: returns (final_triples, quarantine).

    Extraction + Turtle parse + mention scoring run FUSED in a single
    narrow mapInArrow stage (one scan of pages; see
    extraction.fused_extract_parse_link) — the only shuffle in the shard
    is the final dedup aggregate.  The gazetteer is broadcast once per
    session and content: repeated calls over equal ``aliases`` rows
    reuse the first call's broadcast.
    """
    alias_rows = tuple((r.surface, r.entity_iri, r.prior) for r in aliases.collect())
    sc = pages.sparkSession.sparkContext
    shared = _ALIAS_BROADCASTS.setdefault(sc, {})
    if alias_rows not in shared:
        shared[alias_rows] = sc.broadcast(list(alias_rows))
    alias_bc = shared[alias_rows]
    tagged = extraction.fused_extract_parse_link(pages, alias_bc)
    # NOTE: triples and quarantine are two consumers of the same narrow
    # stage; run_pipeline persists `tagged` per shard to avoid a second
    # scan of pages (the expensive part at 10^12 docs).
    return _canonicalize_tagged(tagged)


def _canonicalize_tagged(tagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Parsed rows (url + triple + err) → (final_triples, quarantine):
    split off parse errors, quarantine invalid terms, skolemize, dedup
    with lineage.

    Validation runs before skolemization.  It is invariant under
    skolemization (that only rewrites blank-node lexicals, which stay
    non-empty; IRI columns are untouched), and validating FIRST keeps
    Catalyst from inlining the skolem concat+xxhash64 CASE expression
    into the validity filter where it would be re-evaluated several
    times per row.
    """
    quarantine = tagged.filter(F.col("err").isNotNull()).select("url", "err")
    all_triples = tagged.filter(F.col("err").isNull()).drop("err")
    validated = canonical.validate_triples(all_triples)
    good = validated.filter(F.col("valid")).drop("valid")
    invalid = validated.filter(~F.col("valid")).select(
        "url", F.lit("invalid term").alias("err")
    )
    quarantine = quarantine.unionByName(invalid)
    final = canonical.dedup_triples(canonical.skolemize(good), keep_lineage=True)
    return final, quarantine


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    aliases: DataFrame,
    out_dir: str,
    n_shards: int = 4,
    n_buckets: int = 16,
    resume: bool = True,
    store=None,
    extra_fmts: tuple[str, ...] = (),
    relatedness: DataFrame | None = None,
    coherence_weight: float = 1.0,
) -> list[ShardResult]:
    """Run the full pipeline shard-by-shard with manifest-based resume.

    All physical writes/reads go through the ``store`` seam
    (rdf_spark.store): the default is a :class:`ParquetBucketStore`
    rooted at ``out_dir``; pass an :class:`IcebergTripleStore` to
    materialize into a catalog table instead (requires iceberg jars +
    catalog config).  Manifests stay filesystem JSON either way — they
    are pipeline resume bookkeeping, not store data.

    ``extra_fmts`` adds further embedded structured-data routes beyond
    the fused stage's ``text/turtle`` blocks — ``("jsonld",)`` parses
    every ``<script type="application/ld+json">`` island (ops.html),
    ``("microdata",)`` walks itemscope/itemprop attributes
    (rdf_spark.microdata), ``("rdfa",)`` walks RDFa Lite attributes
    (rdf_spark.rdfa); all merge their triples into the same
    validate→skolemize→dedup flow.  Named-graph membership is flattened
    (the store is a triple store: RDF-dataset union semantics) and
    island blank-node labels are re-namespaced ``_:b…`` → ``_:jb…`` so
    they can never collide with the turtle blocks' labels under the
    url-keyed skolemizer.  Each extra format is one additional narrow
    scan of the shard's pages — no new shuffle.

    ``relatedness`` (optional, ``(entity_a, entity_b)`` edges) upgrades
    entity linking from the fused stage's context-free per-surface
    argmax to :func:`extraction.disambiguate_mentions` — coherence
    voting against the document's unambiguous mentions, so ambiguous
    surfaces can resolve differently per page.  The fused stage's link
    rows are dropped and replaced; costs one extra extract+match scan
    per shard (context-aware linking is inherently two-pass: candidate
    scores depend on the WHOLE document's mention set) plus the
    broadcast/aggregate joins of the disambiguator — no raw-edge
    fan-out.  Triple/quarantine routes are unchanged.
    """
    if store is None:
        from rdf_spark.store import ParquetBucketStore

        store = ParquetBucketStore(out_dir, n_buckets)
    os.makedirs(os.path.join(out_dir, MANIFEST_DIR), exist_ok=True)
    results = []
    pages = pages.withColumn("_shard", _shard_col(n_shards))
    # gazetteer: ONE driver collect + ONE sc.broadcast for the whole run
    # (was: a collect + closure re-serialization per shard — at a real
    # 10^5–10^7-surface dictionary that re-ships the gazetteer into every
    # shard's tasks and holds copies on the driver; VERDICT r4 item 3).
    # The per-worker matching state (incl. the Aho automaton above
    # extraction.AHO_THRESHOLD surfaces) is built from the broadcast once
    # per executor process, never on the driver.
    alias_rows = [(r.surface, r.entity_iri, r.prior) for r in aliases.collect()]
    alias_bc = spark.sparkContext.broadcast(alias_rows)
    # reuse the one collect for the disambiguation pass's dictionary too
    surface_list = sorted({s for s, _, _ in alias_rows})
    try:
        for k in range(n_shards):
            manifest_path = os.path.join(out_dir, MANIFEST_DIR, f"shard-{k}.json")
            if resume and os.path.exists(manifest_path):
                with open(manifest_path) as f:
                    m = json.load(f)
                kwargs = {x: m[x] for x in m if x not in ("ts", "skipped", "buckets")}
                results.append(ShardResult(skipped=True, **kwargs))
                continue
            t0 = time.time()
            shard_pages = pages.filter(F.col("_shard") == k).drop("_shard")
            # counters come from the shard's own writes: metrics observed
            # during them plus the written files' footers (no recount,
            # re-read or store scan after them); the page count sits on the
            # fused stage's input only, so it counts each page once
            pages_obs = Observation()
            tagged = extraction.fused_extract_parse_link(
                shard_pages.observe(pages_obs, F.count(F.lit(1)).alias("n")),
                alias_bc)
            if relatedness is not None:
                # replace the fused context-free link rows with the
                # coherence-aware decisions (p is NULL on quarantine rows —
                # null-safe compare keeps them)
                tagged = tagged.filter(
                    ~F.col("p").eqNullSafe(F.lit(extraction.MENTIONS_PREDICATE))
                )
                mentions = extraction.detect_mentions(
                    extraction.extract_stage(shard_pages), aliases,
                    surfaces=surface_list,
                )
                linked = extraction.disambiguate_mentions(
                    mentions, aliases, relatedness,
                    coherence_weight=coherence_weight,
                )
                tagged = tagged.unionByName(
                    extraction.emit_link_triples(linked).withColumn(
                        "err", F.lit(None).cast("string")
                    )
                )
            for fmt in extra_fmts:
                if fmt == "microdata":
                    from rdf_spark import microdata as _md

                    ex = _md.parse_microdata(shard_pages)
                elif fmt == "rdfa":
                    from rdf_spark import rdfa as _ra

                    ex = _ra.parse_rdfa(shard_pages)
                else:
                    from rdf_spark.ops import html as _html

                    ex = _html.parse_html_structured(shard_pages, fmts=(fmt,))
                pfx = fmt[0]  # _:b1 → _:jb1 etc.: island labels must never
                # collide with the turtle blocks' under the url-keyed skolemizer
                relab = lambda c, kc: F.when(  # noqa: E731
                    F.col(kc) == 0, F.regexp_replace(F.col(c), "^_:", "_:" + pfx)
                ).otherwise(F.col(c))
                tagged = tagged.unionByName(
                    ex.select(
                        "url",
                        relab("s", "s_kind").alias("s"), "s_kind",
                        "p",
                        relab("o", "o_kind").alias("o"), "o_kind",
                        "o_datatype", "o_lang", "err",
                    )
                )
            tagged = tagged.persist(StorageLevel.DISK_ONLY)  # 2 consumers, 1 scan
            try:
                final, quarantine = _canonicalize_tagged(tagged)
                # the per-bucket triple counts come from the written files
                # (store.bucket_sizes below), so no counter's per-row cost
                # grows with the bucket count
                links_obs, quarantine_obs = Observation(), Observation()
                final = final.observe(
                    links_obs,
                    F.count_if(F.col("p") == extraction.MENTIONS_PREDICATE).alias("n"),
                )
                is_invalid = F.col("err") == "invalid term"
                quarantine = quarantine.observe(
                    quarantine_obs,
                    F.count_if(is_invalid).alias("invalid"),
                    F.count_if(~is_invalid).alias("parse"),
                )
                # materialize through the store seam: subject hash-bucket
                # partitioning → partition pruning for point lookups and
                # co-located downstream merges
                store.write_shard(final, k)
                store.write_quarantine(quarantine, k)
            finally:
                tagged.unpersist()
            n_pages = pages_obs.get["n"]
            qcounts = quarantine_obs.get
            # per-PARTITION lineage counters (north rule): triples per
            # non-empty store bucket, so resumable audits can localize
            # loss/skew to a single bucket partition without a rescan
            per_bucket = store.bucket_sizes(spark, k)
            n_final = sum(per_bucket.values())
            n_link = links_obs.get["n"]
            res = ShardResult(
                shard=k,
                n_pages=n_pages,
                n_rdf_triples=n_final - n_link,
                n_link_triples=n_link,
                n_parse_errors=qcounts["parse"],
                n_invalid=qcounts["invalid"],
                n_triples_final=n_final,
                wall_s=round(time.time() - t0, 3),
            )
            # manifest written last → crash before this line reruns the shard
            with open(manifest_path, "w") as f:
                json.dump(
                    {
                        **res.__dict__,
                        "ts": time.time(),
                        "buckets": {str(b): n for b, n in sorted(per_bucket.items())},
                    },
                    f,
                )
            results.append(res)
    finally:
        alias_bc.destroy()  # no broadcast outlives the run
    return results


def materialize_triples(
    df: DataFrame,
    target: str,
    n_buckets: int = 16,
    table_format: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Materialize a triples DataFrame partitioned by subject hash-bucket.

    ``table_format="iceberg"`` uses the DataFrameWriterV2 path
    (``writeTo(target).partitionedBy(bucket(n, s))`` — hidden partitioning,
    snapshot isolation, and true `bucket()` transforms); it requires the
    Iceberg runtime jars + a configured catalog, which this container does
    not ship, so parquet with an explicit bucket column is the tested
    stand-in (same pruning behavior via hive partition filters).
    """
    if table_format == "iceberg":
        try:
            writer = df.writeTo(target).partitionedBy(F.bucket(n_buckets, F.col("s")))
            if mode == "overwrite":
                writer.createOrReplace()
            else:
                writer.append()
            return
        except Exception as e:  # pragma: no cover - needs iceberg jars
            raise RuntimeError(
                "iceberg materialization needs the iceberg-spark runtime jar "
                "and a catalog (spark.sql.catalog.*) configured; fall back to "
                "table_format='parquet'"
            ) from e
    store = df.withColumn("bucket", subject_bucket(n_buckets))
    (
        store.repartition("bucket")
        .sortWithinPartitions("s", "p")  # parquet min/max stats → subject pruning
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(target)
    )
    # record the bucketing so merge_new_triples can validate it (the
    # underscore prefix keeps the file invisible to parquet readers)
    with open(os.path.join(target, "_bucketing.json"), "w") as f:
        json.dump({"n_buckets": n_buckets, "column": "s", "fn": "pmod(xxhash64(s))"}, f)


def _store_n_buckets(store_path: str) -> int | None:
    """Read the bucketing metadata materialize_triples records (the
    underscore-prefixed file is invisible to parquet readers)."""
    meta = os.path.join(store_path, "_bucketing.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return json.load(f)["n_buckets"]
    return None


def _pruned_store_scan(spark: SparkSession, store_path: str, affected: list[int],
                       key: list[str]) -> DataFrame:
    """Existing-side scan for the merge anti-join: ONLY the affected
    bucket partitions (hive PartitionFilters) — tested directly so a
    regression to a full rescan is visible."""
    return (
        spark.read.parquet(store_path)
        .filter(F.col("bucket").isin(affected))
        .select(*key, "bucket")
    )


def merge_new_triples(
    spark: SparkSession,
    store_path: str,
    new_triples: DataFrame,
    n_buckets: int | None = None,
) -> int:
    """Incremental upsert into a bucket-partitioned triple store: append
    only triples/quads not already present; returns the number appended.

    The dedup anti-join (null-safe over the FULL identity key incl.
    graph, canonical.dedup_key) reads ONLY the buckets the new rows hash
    into — at 10^12 triples that is the difference between touching
    ~|delta| bytes and touching everything.  The bucket count comes from
    the store's ``_bucketing.json`` (written by materialize_triples); a
    mismatched explicit ``n_buckets`` raises rather than silently
    appending rows under an inconsistent bucketing scheme.  With an
    Iceberg catalog prefer ``MERGE INTO`` on the
    ``materialize_triples(table_format="iceberg")`` table instead.
    """
    from rdf_spark.canonical import dedup_key

    stored = _store_n_buckets(store_path)
    if n_buckets is None:
        if stored is None:
            raise ValueError(
                "store has no _bucketing.json and no n_buckets was given"
            )
        n_buckets = stored
    elif stored is not None and stored != n_buckets:
        raise ValueError(
            f"n_buckets={n_buckets} does not match the store's bucketing "
            f"({stored}); merging would corrupt subject-bucket pruning"
        )
    key = dedup_key(new_triples.columns)
    new_b = (
        new_triples.dropDuplicates(key)
        .withColumn("bucket", subject_bucket(n_buckets))
    )
    new_b = new_b.persist(StorageLevel.MEMORY_AND_DISK)
    affected = [r.bucket for r in new_b.select("bucket").distinct().collect()]
    existing = _pruned_store_scan(spark, store_path, affected, key)
    # null-safe equality: o_datatype/o_lang/graph are nullable key columns,
    # and a plain equi-join would treat every null-keyed triple as absent
    cond = None
    for k in key + ["bucket"]:
        eq = new_b[k].eqNullSafe(existing[k])
        cond = eq if cond is None else cond & eq
    # materialize BEFORE the append: the anti-join is lazy and would
    # otherwise re-read the store after its own write (seeing itself)
    fresh = new_b.join(existing, cond, "left_anti").persist(StorageLevel.MEMORY_AND_DISK)
    n = fresh.count()
    if n:
        (
            fresh.repartition("bucket")
            .sortWithinPartitions("s", "p")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(store_path)
        )
    fresh.unpersist()
    new_b.unpersist()
    return n


def read_triple_store(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, TRIPLE_STORE_DIR))


def domain_stats(triples: DataFrame) -> DataFrame:
    """Per-domain triple counts — the domain-skewed aggregation of the
    north rule.  Partial aggregation collapses the hot domain map-side;
    with AQE on, any residual reducer skew is split at runtime."""
    domain = F.regexp_extract(F.col("url"), r"^https?://([^/]+)/", 1)
    return (
        triples.groupBy(domain.alias("domain"))
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.approx_count_distinct("s").alias("approx_subjects"),
        )
        .orderBy(F.desc("n_triples"))
    )
