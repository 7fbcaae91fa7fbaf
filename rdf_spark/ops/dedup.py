"""Deduplication families for web-scale corpora (graft additions).

Four tiers, cheapest first:

1. exact           — hash groupBy (partial agg collapses dups map-side)
2. ngram-jaccard   — token-set similarity on candidate pairs
3. MinHash + LSH   — shingle → signature (narrow pandas stage) → banded
                     bucket join → candidate pairs → jaccard verify
4. SimHash         — 64-bit weighted fingerprint, hamming-banded
5. embedding       — cosine near-dup via ops.ann

At 100 TB the only shuffles are the LSH bucket groupBys (keyed by band
hash — uniform by construction) and the final candidate join; signatures
are computed in a single narrow mapInPandas pass with numpy.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rdf_spark.ops.text import fingerprint_col

_MERSENNE = (1 << 61) - 1


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by normalized-content hash: one representative
    (min id) + member count per group."""
    return (
        df.select(F.col(id_col), fingerprint_col(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def _hash_params(n_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=n_hashes, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=n_hashes, dtype=np.int64)
    return a, b


def _hash63(data: bytes) -> int:
    """Stable 63-bit content hash (Python's hash() is salted per process)."""
    import zlib

    return zlib.crc32(data) | ((zlib.adler32(data) & 0x7FFFFFFF) << 32)


#: fixed SipHash key for pd.util.hash_array — pinned so token hashes are
#: deterministic across processes, executors, and runs
_TOKEN_HASH_KEY = "0123456789123456"
#: odd multiplier for the rolling shingle combine (wrapping uint64)
_SHINGLE_BASE = np.uint64(0x9E3779B97F4A7C15)


def _batch_shingle_hashes(texts, k: int) -> list[np.ndarray]:
    """Per-doc arrays of unique k-token-shingle hashes for a whole batch.

    ONE C-level SipHash pass over every token in the batch
    (pd.util.hash_array with a pinned key), then a k-step numpy rolling
    combine per doc — no per-shingle Python strings or hash calls (the
    round-2 implementation built each shingle with " ".join and crc32,
    which dominated the signature stage's profile).
    """
    tok_lists = [t.split() for t in texts]
    flat = [tok for toks in tok_lists for tok in toks]
    if flat:
        th = pd.util.hash_array(
            np.asarray(flat, dtype=object),
            hash_key=_TOKEN_HASH_KEY,
            categorize=False,
        )
    else:
        th = np.empty(0, dtype=np.uint64)
    out: list[np.ndarray] = []
    off = 0
    B = _SHINGLE_BASE
    for toks in tok_lists:
        n = len(toks)
        t = th[off : off + n]
        off += n
        if n == 0:
            out.append(np.zeros(1, dtype=np.int64))
            continue
        m = max(n - k + 1, 1)
        width = min(k, n)
        acc = np.zeros(m, dtype=np.uint64)
        for j in range(width):  # k tiny vectorized passes, not n Python ones
            acc = acc * B + t[j : j + m]
        out.append(np.unique(acc.view(np.int64)))
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """doc → MinHash signature (array<long>), computed in one narrow
    vectorized pass (no shuffle; one C-level token-hash pass per batch +
    numpy rolling shingle combine + one matmul-shaped min pass)."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        a, b = _hash_params(n_hashes, seed)
        for pdf in it:
            sigs = []
            for h in _batch_shingle_hashes(pdf[text_col].fillna(""), shingle_k):
                # (a*h + b) "mod p" computed in WRAPPING int64: a*h
                # overflows before the mod, so this is NOT the textbook
                # universal family mod the Mersenne prime — it is a
                # deliberate, deterministic, well-mixed variant (the wrap
                # is itself a mod-2^64 mix).  Do NOT "fix" the overflow:
                # signatures are part of the determinism contract — equal
                # shingle sets MUST yield bit-identical signatures.
                vals = (h[None, :] * a[:, None] + b[:, None]) % _MERSENNE
                sigs.append(vals.min(axis=1).tolist())
            yield pd.DataFrame({id_col: pdf[id_col], "signature": sigs})

    return df.mapInPandas(run, f"{id_col} long, signature array<long>")


def lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 16,
    n_hashes: int | None = None,
    max_bucket: int = 512,
    stats: bool = False,
):
    """Banded LSH: equal band-slice → same bucket → candidate pair.

    Bucket grouping shuffles on (band, hash-of-slice) which is uniform;
    pairs are generated inside each bucket.  Bucket membership is capped
    at ``max_bucket`` ids (sorted ascending, so planted/representative low
    ids survive): a degenerate corpus (thousands of byte-identical
    boilerplate docs → identical signatures) otherwise makes one bucket
    O(n) and its pair expansion O(n²) in a single task.  Ids beyond the
    cap in EVERY band lose their candidates — run :func:`exact_dedup`
    first so identical docs never reach LSH in bulk, or raise the cap.

    ``n_hashes`` should be passed by the caller (it always knows it);
    ``None`` falls back to reading one row, which triggers an extra job
    that recomputes the signature stage.  With ``stats=True`` returns
    ``(pairs, oversize)`` where ``oversize`` counts the ids dropped per
    overflowing (band, bucket) — the "log what was capped" channel.
    """
    if n_hashes is None:
        n_hashes = len(signatures.select("signature").first()[0])
    rows_per_band = n_hashes // n_bands
    bands = signatures.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            F.slice("signature", i * rows_per_band + 1, rows_per_band)
                        ).alias("bucket"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    # Pre-cap the AGGREGATION STATE itself, not just the pair expansion:
    # a row_number window (sort-based, spills to disk) keeps only the
    # ``max_bucket`` smallest ids per (band, bucket) BEFORE collect_set,
    # so a degenerate bucket of 10^8 identical signatures never
    # materializes a 10^8-element array inside one reducer's hash-agg
    # buffer — the collect_set input is bounded at max_bucket rows.
    # (band, bucket, id) is unique by construction (explode emits one row
    # per band per doc), so row_number over ascending ids keeps exactly
    # the same set as the previous slice(sort_array(collect_set(..)), 1,
    # max_bucket) — oracle output is bit-identical.
    w = Window.partitionBy("band", "bucket").orderBy(id_col)
    ranked = bands.withColumn("rn", F.row_number().over(w))
    if stats:
        ranked = ranked.withColumn(
            "n_total", F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
        )
    kept = ranked.filter(F.col("rn") <= max_bucket)
    aggs = [F.sort_array(F.collect_set(id_col)).alias("ids")]
    if stats:
        aggs.append(F.max("n_total").alias("n_total"))
    grouped = kept.groupBy("band", "bucket").agg(*aggs)
    capped = grouped.filter(F.size("ids") > 1)
    # pairs (i<j) within a bucket, deduped across bands
    pairs = capped.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), y -> struct(x as a, y as b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b").dropDuplicates(["a", "b"])
    if stats:
        oversize = grouped.filter(F.col("n_total") > max_bucket).select(
            "band", "bucket", (F.col("n_total") - max_bucket).alias("n_dropped")
        )
        return pairs, oversize
    return pairs


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    ngram: int = 1,
) -> DataFrame:
    """Exact token-set (or n-gram-set) jaccard on candidate pairs."""
    grams = ngram_set_col(F.col(text_col), ngram)
    sets_df = df.select(F.col(id_col).alias("_id"), grams.alias("_set"))
    j = (
        candidates.join(sets_df.withColumnRenamed("_id", "a").withColumnRenamed("_set", "set_a"), "a")
        .join(sets_df.withColumnRenamed("_id", "b").withColumnRenamed("_set", "set_b"), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("set_a", "set_b"))
                / F.size(F.array_union("set_a", "set_b")),
                6,
            ),
        )
        .select("a", "b", "jaccard")
    )
    return j.filter(F.col("jaccard") >= threshold)


def ngram_set_col(text, n: int = 1):
    """Distinct word n-gram set as an array column (pure JVM expressions)."""
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    if n == 1:
        return F.array_distinct(toks)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))
    return F.array_distinct(grams)


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    n_bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
    verify_ngram: int = 1,
    max_bucket: int = 512,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline → verified pairs (a, b, jaccard)."""
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle_k)
    cands = lsh_candidates(sigs, id_col, n_bands, n_hashes=n_hashes, max_bucket=max_bucket)
    return jaccard_verify(cands, df, text_col, id_col, threshold, verify_ngram)


def near_dup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **minhash_kwargs,
) -> DataFrame:
    """Near-duplicate CLUSTERS: verified MinHash-LSH pairs → transitive
    closure → ``(doc_id, cluster)`` with cluster = min doc id.

    This is the operator a dedup pipeline actually keeps: pick
    ``doc_id == cluster`` rows as the retained representatives and drop
    the rest.  Docs with no near-duplicate form singleton clusters.

    The closure is :func:`rdf_spark.ops.graph.connected_components_star`:
    the pair graph is usually TINY relative to the corpus (near-dup
    rates are low after exact dedup), so it normally runs as a driver
    union-find (:mod:`rdf_spark.ops.fastpath`), and larger graphs take
    the O(log n)-round distributed path — neither has a diameter limit.
    """
    from rdf_spark.ops import fastpath
    from rdf_spark.ops.graph import connected_components_star
    from rdf_spark.ops.planutil import materialize_for_fanout

    raw = minhash_near_duplicates(df, text_col, id_col, **minhash_kwargs)
    # cc_star reads the pairs twice (edges and nodes): run the
    # MinHash/Jaccard Python stages once
    pairs = materialize_for_fanout(raw)
    comps = connected_components_star(pairs, "a", "b").select(
        F.col("node").alias(id_col), F.col("comp").alias("cluster")
    )
    if pairs is not raw:
        fastpath.release(pairs, comps)
    return (
        df.select(id_col)
        .join(comps, id_col, "left")
        .select(id_col, F.coalesce("cluster", F.col(id_col)).alias("cluster"))
    )


# ---------------------------------------------------------------------------
# Winnowing (rolling-hash document fingerprints, Schleimer/Wilkerson/Aiken)
# ---------------------------------------------------------------------------

_WINNOW_B = np.uint64(1_000_003)  # odd → invertible mod 2^64
_WINNOW_BINV = np.uint64(pow(1_000_003, -1, 1 << 64))


def _rolling_kgram_hashes(text: str, k: int) -> np.ndarray:
    """All character k-gram hashes of ``text`` via a TRUE rolling
    polynomial hash, fully vectorized: uint64 arithmetic wraps mod 2^64
    for free, and because the base is odd its modular inverse exists, so
    window sums of c[j]·B^j rebase to position-independent hashes with
    one cumsum + one cumprod — no per-character Python loop (codepoints
    come straight from the UTF-32 encoding of the string)."""
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(
        np.uint64
    ) + np.uint64(1)
    n = len(codes)
    if n < k:
        return np.array([], dtype=np.uint64)
    powers = np.ones(n, dtype=np.uint64)
    powers[1:] = _WINNOW_B
    powers = np.cumprod(powers)  # B^j mod 2^64
    binv_powers = np.ones(n - k + 1, dtype=np.uint64)
    binv_powers[1:] = _WINNOW_BINV
    binv_powers = np.cumprod(binv_powers)  # B^-i mod 2^64
    prefix = np.zeros(n + 1, dtype=np.uint64)
    prefix[1:] = np.cumsum(codes * powers)  # wraps mod 2^64
    return (prefix[k:] - prefix[:-k]) * binv_powers


def winnow_fingerprints_pd(texts: pd.Series, k: int = 8, window: int = 4) -> pd.Series:
    """Winnowing fingerprint set per document: the minimum k-gram hash of
    every ``window``-sized window of consecutive k-grams (deduped).  The
    winnowing guarantee: any shared substring of at least k+window-1
    characters yields at least one shared fingerprint — position-robust
    overlap detection, unlike whole-document hashes."""
    out = []
    for text in texts.fillna(""):
        h = _rolling_kgram_hashes(" ".join(text.lower().split()), k)
        if len(h) == 0:
            out.append([])
            continue
        if len(h) < window:
            mins = np.array([h.min()])
        else:
            mins = np.lib.stride_tricks.sliding_window_view(h, window).min(axis=1)
        out.append(np.unique(mins).view(np.int64).tolist())
    return pd.Series(out, index=texts.index)


def winnow_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 8, window: int = 4,
) -> DataFrame:
    """doc → winnowing fingerprint set (array<long>), one narrow pass."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "fingerprints": winnow_fingerprints_pd(pdf[text_col], k, window),
            })

    return df.mapInPandas(run, f"{id_col} long, fingerprints array<long>")


def winnow_overlap_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 8, window: int = 4, threshold: float = 0.5,
    max_df: int = 512, stats: bool = False,
):
    """Containment-style near-dup/plagiarism pairs: docs sharing winnowing
    fingerprints, scored by |common| / min(|a|, |b|) (containment, so a
    paragraph lifted into a larger doc still scores high — jaccard would
    dilute it).

    Fingerprints appearing in more than ``max_df`` documents are stopword
    grams (boilerplate shared corpus-wide): they are dropped from BOTH
    the pair generation AND the containment denominator — this bounds
    every bucket at ``max_df`` (no O(n²) blowup) while surviving-
    fingerprint scores stay unskewed.  LIMITATION: a document whose
    fingerprints are ALL hot (e.g. a duplicate class of more than
    ``max_df`` byte-identical boilerplate docs) loses every posting and
    yields zero pairs — identical-doc classes larger than ``max_df``
    must go through :func:`exact_dedup` first, exactly as
    :func:`lsh_candidates` advises.  With ``stats=True`` returns
    ``(pairs, dropped_docs)`` where ``dropped_docs`` lists the ids whose
    postings were entirely hot-filtered — the "log what was dropped"
    channel, so the truncation is never silent.  The hot-fingerprint
    list is tiny by construction, so the filter is a broadcast
    anti-join.  Explode → fingerprint-keyed shuffle → per-pair
    aggregation; never all-pairs."""
    fps = winnow_fingerprints(df, text_col, id_col, k, window)
    posts = fps.select(
        F.col(id_col), F.explode("fingerprints").alias("fp")
    )
    hot = posts.groupBy("fp").count().filter(F.col("count") > max_df).select("fp")
    posts = posts.join(F.broadcast(hot), "fp", "left_anti")
    sizes = posts.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    if stats:
        dropped_docs = (
            fps.filter(F.size("fingerprints") > 0)
            .select(id_col)
            .join(sizes.select(id_col), id_col, "left_anti")
        )
    buckets = (
        posts.groupBy("fp")
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), y -> struct(x as a, y as b))))"
            )
        ).alias("p")
    ).groupBy("p.a", "p.b").agg(F.count(F.lit(1)).alias("n_common"))
    sa = sizes.withColumnRenamed(id_col, "a").withColumnRenamed("n_fp", "n_a")
    sb = sizes.withColumnRenamed(id_col, "b").withColumnRenamed("n_fp", "n_b")
    scored = (
        pairs.join(sa, "a").join(sb, "b")
        .withColumn(
            "containment",
            F.round(F.col("n_common") / F.least("n_a", "n_b"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("a", "b", "n_common", "containment")
    )
    if stats:
        return scored, dropped_docs
    return scored


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_col_pd(texts: pd.Series, n_bits: int = 64) -> pd.Series:
    """64-bit SimHash per document.

    Token hashes are cached across the batch (web text repeats tokens
    heavily) and the bit expansion is one numpy matrix op per document,
    not one per token."""
    shifts = np.arange(n_bits, dtype=np.uint64)
    powers = (np.uint64(1) << shifts).astype(np.uint64)
    cache: dict[str, int] = {}
    out = []
    for text in texts.fillna(""):
        toks = text.lower().split()
        if not toks:
            out.append(0)
            continue
        # hash per UNIQUE token only (web text repeats tokens heavily);
        # per-occurrence weighting comes back via the counts vector
        uniq, counts = np.unique(np.asarray(toks, dtype=object), return_counts=True)
        hs = np.empty(len(uniq), dtype=np.uint64)
        for i, t in enumerate(uniq):
            h = cache.get(t)
            if h is None:
                h = _hash63(t.encode())
                cache[t] = h
            hs[i] = h
        bits = (hs[:, None] >> shifts[None, :]) & 1  # (n_uniq, n_bits)
        acc = (bits.astype(np.int64) * counts[:, None]).sum(axis=0) * 2 - len(toks)
        sig = int((acc > 0).astype(np.uint64) @ powers)
        out.append(sig - (1 << 64) if sig >= (1 << 63) else sig)  # to signed
    return pd.Series(out, index=texts.index)


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {id_col: pdf[id_col], "simhash": simhash_col_pd(pdf[text_col])}
            )

    return df.mapInPandas(run, f"{id_col} long, simhash long")


def simhash_near_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3, max_bucket: int = 512,
) -> DataFrame:
    """Near-dups by SimHash: band the 64 bits into 4×16-bit keys (any pair
    within hamming≤3 shares at least one exact band), bucket-join, then
    verify the true hamming distance.  Bucket membership is capped at
    ``max_bucket`` (see :func:`lsh_candidates` for the degenerate-corpus
    rationale)."""
    sigs = simhash_signatures(df, text_col, id_col)
    bands = sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.key")
    # Same pre-aggregation cap as lsh_candidates: bound the collect_set
    # INPUT with a spillable row_number window so one degenerate bucket
    # can't OOM a reducer; (id, simhash) ordering matches the previous
    # sort_array(collect_set(struct)) slice, so output is unchanged.
    w = Window.partitionBy("band", "key").orderBy(id_col, "simhash")
    grouped = (
        bands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_bucket)
        .groupBy("band", "key")
        .agg(F.sort_array(F.collect_set(F.struct(id_col, "simhash"))).alias("items"))
        .filter(F.size("items") > 1)
    )
    pairs = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(items, (x, i) -> "
                "transform(slice(items, i + 2, size(items)), y -> struct(x, y))))"
            )
        ).alias("p")
    ).select(
        F.col(f"p.x.{id_col}").alias("a"),
        F.col(f"p.y.{id_col}").alias("b"),
        F.col("p.x.simhash").alias("ha"),
        F.col("p.y.simhash").alias("hb"),
    ).dropDuplicates(["a", "b"])
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return pairs.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("a", "b", "hamming")


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 50,
) -> DataFrame:
    """Exact substring deduplication (tier 0.5 — between exact-doc and
    near-dup): remove every token span of length ≥ ``ngram`` that also
    occurs anywhere else in the corpus, keeping the globally FIRST
    occurrence (min ``(doc, pos)``) of each duplicated gram — the
    "dedup the span, not the document" step of Lee et al.,
    *Deduplicating Training Data Makes Language Models Better* (their
    suffix-array ExactSubstr, re-expressed as distributed hashing).

    Semantics (the naive spec the property tests replay):

    1. tokenize on single spaces;
    2. every ``ngram``-token window is an occurrence keyed by content;
    3. windows whose content occurs ≥2 times are duplicated; the
       occurrence with the smallest ``(doc, pos)`` is the keeper;
    4. a doc's removed-token set is the union of ``[pos, pos+ngram)``
       over its non-keeper duplicated windows — overlapping windows
       merge into maximal spans for free;
    5. output text = remaining tokens joined in order (docs shorter
       than ``ngram``, null texts, and gram-free docs pass through).

    Spark plan, sized for 100 TB: posexplode tokens (one row per
    token — never the O(len²) explode-while-carrying-the-array shape),
    per-doc sliding window ``collect_list`` of per-token xxhash64 over
    ROWS [0, ngram) hashed again per window (one shuffle, keyed by
    doc), duplicated-gram keeper via ``min(struct(doc, pos))`` hash
    aggregate (map-side partials; gram hashes are uniform by
    construction so the shuffle cannot skew), marked spans exploded to
    token indexes, and a final per-doc rebuild aggregate.  No
    driver-side state, no Python in the hot path.

    Returns ``df``'s id column + ``dedup_text`` + ``n_removed_tokens``.

    64-bit collision caveat: two DIFFERENT grams may share an xxhash64
    (p ≈ n²/2⁶⁴) and falsely mark a span; acceptable at the same rate
    every hash-keyed dedup in this module accepts.
    """
    toks = df.select(
        F.col(id_col).alias("_d"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("_pos", "_tok"),
    )
    wfull = Window.partitionBy("_d").orderBy("_pos").rowsBetween(0, ngram - 1)
    grams = (
        toks.withColumn("_th", F.xxhash64("_tok"))
        .withColumn("_n", F.count(F.lit(1)).over(wfull))
        .withColumn("_gh", F.xxhash64(F.collect_list("_th").over(wfull)))
        .filter(F.col("_n") == ngram)  # full windows only
        .select("_d", "_pos", "_gh")
    )
    keepers = (
        grams.groupBy("_gh")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.min(F.struct("_d", "_pos")).alias("_k"),
        )
        .filter(F.col("_cnt") > 1)
        .select("_gh", "_k")
    )
    marked = grams.join(keepers, "_gh").filter(
        ~((F.col("_d") == F.col("_k._d")) & (F.col("_pos") == F.col("_k._pos")))
    )
    removed = (
        marked.select(
            "_d",
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + (ngram - 1))
            ).alias("_pos"),
        )
        .distinct()
        .withColumn("_rm", F.lit(True))
    )
    rebuilt = (
        toks.join(removed, ["_d", "_pos"], "left")
        .groupBy("_d")
        .agg(
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(F.struct("_pos", "_rm", "_tok"))
                        ),
                        lambda s: s["_rm"].isNull(),
                    ),
                    lambda s: s["_tok"],
                ),
                " ",
            ).alias("dedup_text"),
            F.sum(F.when(F.col("_rm"), 1).otherwise(0)).alias("n_removed_tokens"),
        )
    )
    # null-text docs produce no token rows → restore them via the left
    # join (dedup_text = the original null); everything else rebuilt
    return (
        df.select(id_col, F.col(text_col).alias("_orig"))
        .join(rebuilt.withColumnRenamed("_d", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("dedup_text", "_orig").alias("dedup_text"),
            F.coalesce("n_removed_tokens", F.lit(0)).alias("n_removed_tokens"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the exact companion to
    :func:`winnow_overlap_pairs`' sampled fingerprints): every maximal
    token range whose k-token windows ALL occur at least ``min_df``
    times corpus-wide → ``(id, span_start, span_end, n_tokens,
    n_windows)``, 0-based inclusive token indices.  The AUDIT companion
    to :func:`remove_duplicate_spans` (curate's ``span_dedup_ngram``
    rewrite stage): that one rewrites text keeping the globally-first
    occurrence; this one REPORTS every duplicated range in every doc
    (keeper included) without touching the text — inspect before you
    cut, rank docs by duplicated fraction, or drive a custom cutter —
    and its md5-keyed schedule replays exactly in SQL (xxhash64-keyed
    removal can't be oracled).

    Scale shape: a suffix array is the single-machine tool; distributed,
    the same spans fall out of window HASHES — (doc, pos, md5(k-gram))
    rows, one count aggregate per gram (map-side combinable), one
    join BACK to positions (each position row matches exactly ONE count
    row, so a corpus-hot boilerplate gram causes no fanout — counting
    needs no max_df cap, unlike pair GENERATION), then per-doc
    gaps-and-islands (pos − row_number) to merge adjacent duplicated
    windows into maximal spans.  md5 is used for the window key so a
    SQL engine reproduces the identical pipeline; it is 16 bytes where
    xxhash64 is 8 — swap in xxhash64 when oracle parity is not needed.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    arr = F.filter(
        F.split(
            F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
        ),
        lambda t: t != "",
    )
    grams = df.select(F.col(id_col), arr.alias("a")).filter(
        F.size("a") >= k
    ).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("a") - (k - 1)),
                lambda i: F.md5(F.array_join(F.slice("a", i, k), " ")),
            )
        ).alias("pos", "h"),
    ).withColumn("pos", F.col("pos").cast("long"))
    counts = grams.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    dup = (
        grams.join(counts, "h")
        .filter(F.col("c") >= min_df)
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = dup.withColumn(
        "grp", F.col("pos") - F.row_number().over(w)
    )
    return islands.groupBy(id_col, "grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        (F.max("pos") - F.min("pos") + F.lit(k)).alias("n_tokens"),
        F.count(F.lit(1)).alias("n_windows"),
    ).drop("grp")


def duplicated_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_df: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """Per-document memorization-risk score → ``(id, n_tokens,
    dup_tokens, dup_fraction)``: the fraction of each document's tokens
    covered by :func:`duplicate_spans` ranges (k-token windows repeating
    ≥``min_df`` times corpus-wide).  The scalar to threshold or bucket
    on when deciding between span-cutting (low fraction) and dropping
    the document outright (mostly-duplicated pages).  Every input row
    is emitted; span-free and shorter-than-k docs score 0.0."""
    spans = duplicate_spans(df, text_col, id_col, k=k, min_df=min_df)
    per_doc = spans.groupBy(id_col).agg(
        F.sum("n_tokens").alias("dup_tokens")
    )
    n_tok = df.select(
        F.col(id_col),
        F.size(
            F.filter(
                F.split(
                    F.trim(
                        F.lower(F.coalesce(F.col(text_col), F.lit("")))
                    ),
                    r"\s+",
                ),
                lambda t: t != "",
            )
        ).cast("long").alias("n_tokens"),
    )
    return n_tok.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.coalesce("dup_tokens", F.lit(0))
                / F.col("n_tokens").cast("double"),
                round_to,
            ),
        ).otherwise(F.lit(0.0)).alias("dup_fraction"),
    )
