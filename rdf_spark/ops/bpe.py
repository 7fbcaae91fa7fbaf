"""Byte-pair-encoding tokenizer training over a corpus.

The training-data side of tokenization (Sennrich et al. 2016): learn
the top-N most frequent symbol-pair merges from the corpus's own word
distribution.  No end-of-word marker variant — merges never cross word
boundaries and the learned table is the open-vocabulary artifact a
downstream tokenizer consumes.

Scale shape: the corpus is scanned ONCE into a word-type vocabulary
(word → count; types, not tokens — orders of magnitude smaller than the
corpus), and every merge round runs over that vocabulary only: one
pair-count aggregate (map-side combinable) plus a single-row driver
collect of the winning pair, then a JVM ``replace`` projection.  The
per-round collect is one row — the same bounded-driver pattern as the
IVF k-means sample.  At 100 TB you'd train on a deterministic document
sample (ops.sample.md5_threshold) — the vocabulary pass is the only
corpus-sized stage either way.

Reproducibility: symbol sequences are stored separator-framed
(``\\x1f\\x1f`` between symbols, framing both ends) so a merge is a
plain left-to-right literal ``replace`` — the SAME greedy semantics in
Java, Python, and DuckDB, making the whole merge schedule SQL-exact;
ties break (count DESC, pair lexicographic ASC).  Words containing the
U+001F separator are dropped from the vocabulary (documented; it is a
C0 control char that whitespace tokenization never yields in practice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_spark.ops import fastpath
from rdf_spark.ops.retrieval import tokenize_lower

SEP = "\x1f"
SEP2 = SEP * 2

# beyond this, the chained-replace expression tree makes Catalyst
# analysis itself the bottleneck — route through mapInPandas instead
_CHAIN_MAX_MERGES = 48


def _frame(word_col):
    """word → framed symbol sequence: ``␟␟c␟␟h␟␟a␟␟r␟␟`` (initial
    symbols = single characters)."""
    return F.concat(
        F.lit(SEP2), F.array_join(F.split(word_col, ""), SEP2), F.lit(SEP2)
    )


def _symbols(seq_col):
    return F.filter(F.split(seq_col, SEP2), lambda t: t != "")


def word_vocab(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """(seq, n): framed symbol sequence per word TYPE with its corpus
    count — the working set every merge round re-scans."""
    toks = tokenize_lower(docs, text_col, id_col)
    return (
        toks.filter(~F.col("term").contains(SEP))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(_frame(F.col("term")).alias("seq"), "n")
    )


def _merge_expr(seq_col, x: str, y: str):
    return F.replace(
        seq_col,
        F.lit(f"{SEP}{x}{SEP2}{y}{SEP}"),
        F.lit(f"{SEP}{x}{y}{SEP}"),
    )


#: work bound of the driver replica on merges x word types (each merge
#: round scans the vocabulary; the vocabulary is probed by ops.fastpath)
_LOCAL_WORK_MAX = 20_000_000


def _train_bpe_local(vocab: list, n_merges: int) -> list[tuple[str, str]]:
    """Driver replica of the merge rounds below over a collected word
    vocabulary: same pair counting (adjacent symbol pairs weighted by
    type count), same (count DESC, x ASC, y ASC) tie-break, and the
    same left-to-right literal replace (str.replace ≡ the JVM replace —
    the apply_bpe path-equivalence test pins that)."""
    seqs = list(vocab)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict = {}
        for seq, n in seqs:
            syms = [s for s in seq.split(SEP2) if s != ""]
            if len(syms) < 2:
                continue
            for a, b in zip(syms[:-1], syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + n
        if not counts:
            break
        (x, y), _c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((x, y))
        old = f"{SEP}{x}{SEP2}{y}{SEP}"
        new = f"{SEP}{x}{y}{SEP}"
        seqs = [(seq.replace(old, new), n) for seq, n in seqs]
    return merges


def train_bpe(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges → ordered ``[(x, y), …]``.  Stops
    early only when no adjacent pair is left anywhere (degenerate
    corpora); tie pairs resolve (count DESC, x ASC, y ASC), so the
    schedule is deterministic and engine-replayable."""

    def local(head):
        # the merges x vocab work product bounds the single-threaded
        # driver loop (a 30k-merge run over a near-cap vocabulary belongs
        # on the cluster even though the vocabulary alone fits)
        if n_merges * max(1, len(head)) > _LOCAL_WORK_MAX:
            return None
        return _train_bpe_local([(r["seq"], r["n"]) for r in head], n_merges)

    out, (vocab,) = fastpath.try_local([word_vocab(docs, text_col, id_col)], local)
    if out is not None:
        return out
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        syms = _symbols(F.col("seq"))
        pair = F.explode(
            F.zip_with(
                F.slice(syms, F.lit(1), F.size(syms) - 1),
                F.slice(syms, F.lit(2), F.size(syms) - 1),
                lambda a, b: F.struct(a.alias("x"), b.alias("y")),
            )
        )
        top = (
            vocab.filter(F.size(syms) >= 2)
            .select(pair.alias("p"), "n")
            .groupBy("p.x", "p.y")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), "x", "y")
            .limit(1)
            .collect()
        )
        if not top:
            break
        x, y = top[0].x, top[0].y
        merges.append((x, y))
        vocab = vocab.withColumn(
            "seq", _merge_expr(F.col("seq"), x, y)
        ).localCheckpoint(eager=True)
    return merges


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize documents with a learned merge table → ``(id, pos,
    token)`` rows in document order (exploded, driver-hashable).

    Small tables (≤ ``_CHAIN_MAX_MERGES``) apply as ONE chained JVM
    ``replace`` expression inside an array ``transform`` — pure
    projection, zero shuffle, zero Python.  Larger tables would make
    Catalyst analyze an N-deep expression tree (measured ~26 s at
    N=300), so they route through an Arrow-batched ``mapInPandas``
    whose inner loop is the SAME left-to-right literal ``str.replace``
    over the framed sequence — byte-identical semantics (a chained-vs-
    python equivalence test enforces it) — memoized per DISTINCT word
    within each batch (real text repeats words heavily).  The two
    paths' whitespace tokenization differs only on non-ASCII
    whitespace (Python ``str.split`` vs Java ``\\s+``)."""
    if len(merges) <= _CHAIN_MAX_MERGES:

        def enc(word):
            seq = _frame(word)
            for x, y in merges:
                seq = _merge_expr(seq, x, y)
            return _symbols(seq)

        words = F.filter(
            F.split(
                F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))),
                r"\s+",
            ),
            lambda t: (t != "") & ~t.contains(SEP),
        )
        return docs.select(
            F.col(id_col),
            F.posexplode(F.flatten(F.transform(words, enc))).alias(
                "pos", "token"
            ),
        ).select(id_col, "pos", "token")

    from pyspark.sql.types import StructType

    id_type = docs.schema[id_col].dataType
    schema = StructType().add(id_col, id_type).add("pos", "integer").add(
        "token", "string"
    )
    schema = StructType(list(schema))
    merge_list = list(merges)

    def run(batches):
        import pandas as pd

        cache: dict[str, list[str]] = {}

        def pieces(word: str) -> list[str]:
            got = cache.get(word)
            if got is None:
                seq = SEP2 + SEP2.join(word) + SEP2
                for x, y in merge_list:
                    seq = seq.replace(
                        f"{SEP}{x}{SEP2}{y}{SEP}", f"{SEP}{x}{y}{SEP}"
                    )
                got = [t for t in seq.split(SEP2) if t]
                cache[word] = got
            return got

        for pdf in batches:
            ids, poss, toks = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                pos = 0
                for w in (text or "").strip().lower().split():
                    if SEP in w:
                        continue
                    for t in pieces(w):
                        ids.append(did)
                        poss.append(pos)
                        toks.append(t)
                        pos += 1
            yield pd.DataFrame({id_col: ids, "pos": poss, "token": toks})

    return docs.select(id_col, text_col).mapInPandas(run, schema)
