"""BPE tokenizer training (ops/bpe.py) vs a naive reference trainer."""
from collections import Counter

from rdf_spark.ops.bpe import apply_bpe, train_bpe


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _merge_seq(syms, x, y):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
            out.append(x + y)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _naive_train(texts, n):
    words = Counter()
    for t in texts:
        words.update(w for w in t.strip().lower().split() if w)
    vocab = Counter({tuple(w): c for w, c in words.items()})
    merges = []
    for _ in range(n):
        pairs = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (x, y), _ = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((x, y))
        nxt = Counter()
        for syms, c in vocab.items():
            nxt[tuple(_merge_seq(list(syms), x, y))] += c
        vocab = nxt
    return merges


def _naive_apply(text, merges):
    out = []
    for w in text.strip().lower().split():
        syms = list(w)
        for x, y in merges:
            syms = _merge_seq(syms, x, y)
        out += syms
    return out


class TestBpe:
    def test_hand_corpus(self, spark):
        texts = ["aaab aaab aaab", "ab cd"]
        merges = train_bpe(_docs(spark, texts), n_merges=3)
        assert merges == _naive_train(texts, 3)
        # (a,a) dominates (count 6), then (aa,ab) or per schedule
        assert merges[0] == ("a", "a")

    def test_matches_naive_random(self, spark):
        import random

        rng = random.Random(171)
        texts = [
            " ".join(
                "".join(rng.choice("abcd") for _ in range(rng.randrange(1, 7)))
                for _ in range(rng.randrange(3, 25))
            )
            for _ in range(30)
        ]
        assert train_bpe(_docs(spark, texts), n_merges=8) == \
            _naive_train(texts, 8)

    def test_apply_matches_naive_in_order(self, spark):
        import random

        rng = random.Random(19)
        texts = [
            " ".join(
                "".join(rng.choice("abc") for _ in range(rng.randrange(1, 6)))
                for _ in range(rng.randrange(2, 15)))
            for _ in range(12)
        ]
        merges = _naive_train(texts, 6)
        got = {}
        rows = apply_bpe(_docs(spark, texts), merges).collect()
        for r in rows:
            got.setdefault(r.doc_id, {})[r.pos] = r.token
        for i, t in enumerate(texts):
            want = _naive_apply(t, merges)
            assert [got[i][p] for p in range(len(want))] == want, i

    def test_apply_compresses_training_corpus(self, spark):
        texts = ["the the the cat cat", "the cat"]
        d = _docs(spark, texts)
        merges = train_bpe(d, n_merges=6)
        n_chars = sum(len(w) for t in texts for w in t.split())
        n_tokens = apply_bpe(d, merges).count()
        assert n_tokens < n_chars

    def test_degenerate_corpus_stops_early(self, spark):
        merges = train_bpe(_docs(spark, ["a b c", "a  b"]), n_merges=4)
        assert merges == []

    def test_tokenize_job_entrypoint(self, spark, tmp_path):
        import io
        import json
        import sys
        from contextlib import redirect_stdout

        sys.path.insert(0, "jobs")
        import tokenize_job

        src = str(tmp_path / "docs")
        _docs(spark, ["aa ab aa ab", "aa aa"]).write.parquet(src)
        out = str(tmp_path / "bpe")
        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = tokenize_job.main([
                "--in", src, "--out", out, "--n-merges", "2"])
        assert rc == 0
        stats = json.loads(buf.getvalue().strip().splitlines()[-1])
        assert stats["merges"] == 2 and stats["tokens"] > 0
        merges = {(r.step, r.x, r.y)
                  for r in spark.read.parquet(out + "/merges").collect()}
        assert (1, "a", "a") in merges
        # reuse the trained table via --merges
        out2 = str(tmp_path / "bpe2")
        buf2 = io.StringIO()
        with redirect_stdout(buf2):
            rc = tokenize_job.main([
                "--in", src, "--out", out2, "--merges", out + "/merges"])
        assert rc == 0
        t1 = {tuple(r) for r in
              spark.read.parquet(out + "/tokens").collect()}
        t2 = {tuple(r) for r in
              spark.read.parquet(out2 + "/tokens").collect()}
        assert t1 == t2

    def test_apply_paths_equivalent(self, spark):
        """Chained-JVM vs mapInPandas apply paths are byte-identical."""
        import random

        import rdf_spark.ops.bpe as bpe

        rng = random.Random(77)
        texts = [
            " ".join(
                "".join(rng.choice("ab") for _ in range(rng.randrange(1, 8)))
                for _ in range(rng.randrange(2, 20)))
            for _ in range(15)
        ]
        d = _docs(spark, texts)
        merges = _naive_train(texts, 10)
        assert len(merges) == 10
        got_jvm = {tuple(r) for r in apply_bpe(d, merges).collect()}
        orig = bpe._CHAIN_MAX_MERGES
        try:
            bpe._CHAIN_MAX_MERGES = 0  # force the mapInPandas path
            got_py = {tuple(r) for r in apply_bpe(d, merges).collect()}
        finally:
            bpe._CHAIN_MAX_MERGES = orig
        assert got_py != set() and got_py == got_jvm


def test_train_local_matches_distributed(spark, set_fastpath_cap):
    from rdf_spark.ops.bpe import train_bpe

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["low lower lowest", "new newer newest", "low low newer",
             "wide wider widest low", "er er er est est"])],
        "doc_id long, text string",
    )
    fast = train_bpe(docs, n_merges=9)
    set_fastpath_cap(0)
    slow = train_bpe(docs, n_merges=9)
    assert fast == slow and len(fast) == 9
