"""Triple-store writer seam: one interface, swappable physical formats.

The pipeline's materialization contract (SURVEY.md §2.6 north star:
"partitioned Iceberg/parquet store") is isolated here so callers —
``run_pipeline``, incremental merge jobs, audits — never touch write
internals.  Two implementations:

- :class:`ParquetBucketStore` — parquet with an explicit subject
  hash-bucket partition column plus a ``_bucketing.json`` manifest; the
  tested default in this container (same pruning behavior as a catalog
  table via hive partition filters).  Wraps
  :func:`rdf_spark.pipeline.materialize_triples` /
  :func:`rdf_spark.pipeline.merge_new_triples`.
- :class:`IcebergTripleStore` — a catalog table written through
  DataFrameWriterV2 (``writeTo(tbl).partitionedBy(shard,
  bucket(n, s))``: hidden partitioning, snapshot isolation, real
  ``bucket()`` transforms) with ``MERGE INTO`` upserts.  Requires the
  iceberg-spark runtime jar and a configured catalog
  (``spark.sql.catalog.*``) — absent in this container, so every method
  raises a clear RuntimeError until the jars appear; the round-trip
  test is marked skip-without-jars.

Both stores share shard layout semantics: a shard is an idempotent
overwrite unit (manifest-resume in run_pipeline), a bucket is the
subject-hash pruning unit for point lookups and co-located merges.

Seam rule: ``write_shard`` and ``write_quarantine`` must write the frame
they are given with one SQL action over it, even when it is empty —
run_pipeline reads counters observed on those frames (a
``pyspark.sql.Observation``) and ``Observation.get`` waits, with no
timeout, until a SQL execution reports them.  After ``write_shard``,
``bucket_sizes`` gives the shard's rows per non-empty engine bucket.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_spark.ops import fastpath

#: columns whose (null-safe) equality defines triple identity for merges
_LINK_PRED = "http://kg.example/vocab#mentions"


class ParquetBucketStore:
    """Subject-hash-bucketed parquet store rooted at a directory.

    Layout: ``<root>/triples/shard=K/bucket=B/*.parquet`` plus
    ``<root>/_quarantine/shard=K`` and per-shard ``_bucketing.json``.
    """

    format = "parquet"

    def __init__(self, root: str, n_buckets: int = 16):
        self.root = root
        self.n_buckets = n_buckets

    # -- paths -------------------------------------------------------
    def shard_path(self, shard: int) -> str:
        from rdf_spark.pipeline import TRIPLE_STORE_DIR

        return os.path.join(self.root, TRIPLE_STORE_DIR, f"shard={shard}")

    def quarantine_path(self, shard: int) -> str:
        from rdf_spark.pipeline import QUARANTINE_DIR

        return os.path.join(self.root, QUARANTINE_DIR, f"shard={shard}")

    # -- writes ------------------------------------------------------
    def write_shard(self, triples: DataFrame, shard: int) -> None:
        from rdf_spark.pipeline import materialize_triples

        materialize_triples(triples, self.shard_path(shard), self.n_buckets)

    def write_quarantine(self, quarantine: DataFrame, shard: int) -> None:
        quarantine.write.mode("overwrite").parquet(self.quarantine_path(shard))

    def merge(self, spark: SparkSession, new_triples: DataFrame,
              shard: int) -> int:
        """Incremental upsert into one shard (see merge_new_triples:
        bucket-pruned, null-safe over the full identity key)."""
        from rdf_spark.pipeline import merge_new_triples

        return merge_new_triples(spark, self.shard_path(shard), new_triples)

    # -- reads -------------------------------------------------------
    def read_triples(self, spark: SparkSession, shard: int | None = None) -> DataFrame:
        from rdf_spark.pipeline import TRIPLE_STORE_DIR

        path = (self.shard_path(shard) if shard is not None
                else os.path.join(self.root, TRIPLE_STORE_DIR))
        return spark.read.parquet(path)

    def read_quarantine(self, spark: SparkSession, shard: int) -> DataFrame:
        return spark.read.parquet(self.quarantine_path(shard))

    def bucket_sizes(self, spark: SparkSession, shard: int) -> dict[int, int]:
        """Rows per non-empty bucket of a written shard — the
        per-partition lineage counters run_pipeline records in its
        manifest (north rule auditability) — summed from the parquet
        footers of the shard's files: no Spark job, and a cost per file,
        not per row."""
        import pyarrow.parquet as pq

        sizes: dict[int, int] = {}
        for f in glob.glob(os.path.join(self.shard_path(shard), "bucket=*", "*.parquet")):
            b = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
            sizes[b] = sizes.get(b, 0) + pq.read_metadata(f).num_rows
        return {b: n for b, n in sizes.items() if n}

    def bucket_counts(self, spark: SparkSession, shard: int) -> DataFrame:
        """(bucket, n, links) per store bucket — an exact recount, by a
        scan of the shard, of what bucket_sizes reads from the footers
        and of the link count run_pipeline observes during the write.
        A shard with no
        triples writes no bucket partition, hence no file to read a
        schema from: it has no buckets."""
        from pyspark.errors import AnalysisException

        try:
            triples = self.read_triples(spark, shard)
        except AnalysisException as e:
            if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
                raise
            return fastpath.local_frame(spark, [], "bucket int, n long, links long")
        return triples.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("p") == _LINK_PRED).cast("long")).alias("links"),
        )


class IcebergTripleStore:
    """Catalog-table store: ``writeTo`` V2 writes with hidden
    ``bucket(n, s)`` partitioning and ``MERGE INTO`` upserts.

    Constructing the object is always safe (API-drift guard tests run
    without jars); any Spark action raises RuntimeError with the missing
    requirement until the iceberg-spark runtime + catalog exist.
    """

    format = "iceberg"

    def __init__(self, table: str, n_buckets: int = 16):
        if not table or "/" in table:
            raise ValueError(
                "IcebergTripleStore takes a catalog table identifier "
                f"(e.g. 'cat.db.triples'), got {table!r}"
            )
        self.table = table
        self.n_buckets = n_buckets

    @staticmethod
    def available(spark: SparkSession) -> bool:
        """True when the iceberg-spark runtime classes are on the JVM
        classpath (catalog config is checked at write time)."""
        try:
            spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
                "org.apache.iceberg.spark.SparkCatalog"
            )
            return True
        except Exception:
            return False

    def _require(self, spark: SparkSession) -> None:
        if not self.available(spark):
            raise RuntimeError(
                "iceberg materialization needs the iceberg-spark runtime "
                "jar and a catalog (spark.sql.catalog.*) configured; use "
                "ParquetBucketStore in this environment"
            )

    def write_shard(self, triples: DataFrame, shard: int) -> None:
        """Idempotent shard overwrite: ``overwritePartitions`` replaces
        exactly the shard's partitions (resume-safe like the parquet
        shard=K overwrite); first write creates the table partitioned by
        (shard identity, bucket(n, s))."""
        spark = triples.sparkSession
        self._require(spark)
        df = triples.withColumn("shard", F.lit(shard).cast("int"))
        writer = df.writeTo(self.table).partitionedBy(
            F.col("shard"), F.bucket(self.n_buckets, F.col("s"))
        )
        if spark.catalog.tableExists(self.table):
            df.writeTo(self.table).overwritePartitions()
        else:
            writer.create()

    def write_quarantine(self, quarantine: DataFrame, shard: int) -> None:
        spark = quarantine.sparkSession
        self._require(spark)
        df = quarantine.withColumn("shard", F.lit(shard).cast("int"))
        tbl = self.table + "_quarantine"
        if spark.catalog.tableExists(tbl):
            df.writeTo(tbl).overwritePartitions()
        else:
            df.writeTo(tbl).partitionedBy(F.col("shard")).create()

    def merge(self, spark: SparkSession, new_triples: DataFrame,
              shard: int) -> int | None:
        """Upsert via MERGE INTO (snapshot-isolated, no read-own-write
        hazard — the parquet path needs an explicit persist for that).
        Null-safe identity match over the full key, like
        merge_new_triples.

        Returns ``None`` (not a count): MERGE INTO does not report row
        counts pre-Spark-4 DSv2 metrics, and a sentinel int invites
        arithmetic misuse against ParquetBucketStore.merge's real count.
        """
        import uuid

        from rdf_spark.canonical import dedup_key

        self._require(spark)
        key = dedup_key(new_triples.columns)
        src = new_triples.dropDuplicates(key).withColumn(
            "shard", F.lit(shard).cast("int")
        )
        # unique view name: concurrent merges in one SparkSession must not
        # clobber each other's source view
        view = f"_merge_src_{uuid.uuid4().hex}"
        src.createOrReplaceTempView(view)
        try:
            cond = " AND ".join(f"t.{k} <=> s.{k}" for k in key + ["shard"])
            spark.sql(
                f"MERGE INTO {self.table} t USING {view} s ON {cond} "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            spark.catalog.dropTempView(view)
        return None

    def read_triples(self, spark: SparkSession, shard: int | None = None) -> DataFrame:
        self._require(spark)
        df = spark.table(self.table)
        return df.filter(F.col("shard") == shard) if shard is not None else df

    def read_quarantine(self, spark: SparkSession, shard: int) -> DataFrame:
        self._require(spark)
        return spark.table(self.table + "_quarantine").filter(
            F.col("shard") == shard
        )

    def bucket_counts(self, spark: SparkSession, shard: int) -> DataFrame:
        """Audit counters grouped by the ENGINE's subject hash (pmod of
        xxhash64), independent of Iceberg's hidden murmur3 bucketing —
        the manifest counters must stay comparable across store formats,
        and Iceberg's physical bucket is an implementation detail."""
        from rdf_spark.pipeline import subject_bucket

        self._require(spark)
        return (
            self.read_triples(spark, shard)
            .withColumn("bucket", subject_bucket(self.n_buckets))
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("p") == _LINK_PRED).cast("long")).alias("links"),
            )
        )

    def bucket_sizes(self, spark: SparkSession, shard: int) -> dict[int, int]:
        """Rows per non-empty engine bucket.  Iceberg's file metadata is
        keyed by its own murmur3 buckets, not the engine's, so this is
        the bucket_counts recount (one scan of the shard)."""
        return {r.bucket: r.n for r in self.bucket_counts(spark, shard).collect()}


TRIPLE_KEY_COLS = ("s", "s_kind", "p", "o", "o_kind", "o_datatype", "o_lang")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    graph_col: str | None = None,
) -> DataFrame:
    """Set difference between two store snapshots: one row per triple
    that was ``added`` (in new, not old) or ``removed`` (in old, not
    new), with a leading ``change`` column — the incremental-publish
    delta (what a downstream index must apply to go from old to new).

    Both inputs are projected to the canonical identity columns
    (:data:`TRIPLE_KEY_COLS`, plus ``graph_col`` when given) and
    compared with SET semantics via ``EXCEPT`` — Spark compiles it to a
    null-safe left-anti join after partial-aggregate dedup, which is
    exactly the hand-written plan (an explicit anti-join would need an
    eqNullSafe conjunction over every nullable column).  Scale: two
    shuffles on the full key; at extreme snapshot sizes pre-bucket both
    stores by subject hash (ParquetBucketStore's layout) so the compare
    is bucket-local.
    """
    cols = list(TRIPLE_KEY_COLS) + ([graph_col] if graph_col else [])
    o = old.select(*cols)
    n = new.select(*cols)
    added = n.subtract(o).select(F.lit("added").alias("change"), *cols)
    removed = o.subtract(n).select(F.lit("removed").alias("change"), *cols)
    return added.unionByName(removed)


def diff_stats(old: DataFrame, new: DataFrame,
               graph_col: str | None = None) -> DataFrame:
    """Per-(change, predicate) counts of :func:`snapshot_diff` — the
    audit line an incremental publish logs."""
    return (
        snapshot_diff(old, new, graph_col)
        .groupBy("change", "p")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
