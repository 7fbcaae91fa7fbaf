"""Format-conversion tests (rdf2rdf analogue): turtle → ntriples → nquads
→ back, set-equal triples throughout."""

import glob

from pyspark.sql import functions as F

from rdf_spark import convert, sources

TTL = """@prefix ex: <http://e/> .
ex:s a ex:T ; ex:p "v"@en ; ex:n 42 .
"""


# four good N-Triples lines, a quoted triple (five rows once reified) and
# a malformed line
MIXED_NT = (
    '<http://x/rex> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://x/Dog> .\n'
    '<http://x/Dog> <http://www.w3.org/2000/01/rdf-schema#subClassOf> <http://x/Mammal> .\n'
    '<http://x/rex> <http://x/name> "Rex"@en .\n'
    '_:b1 <http://x/knows> <http://x/rex> .\n'
    '<< <http://x/rex> <http://x/age> "3" >> <http://x/src> <http://x/vet> .\n'
    '<http://x/s> <http://x/p> .\n'
)


def _n_lines(out: str) -> int:
    return sum(1 for f in glob.glob(out + "/part-*") for _ in open(f))


def test_convert_turtle_to_ntriples_to_nquads(spark, tmp_path):
    ttl_dir = tmp_path / "in_ttl"
    ttl_dir.mkdir()
    (ttl_dir / "doc1.ttl").write_text(TTL)

    nt_out = str(tmp_path / "out_nt")
    n = convert.convert(spark, str(ttl_dir), "turtle", nt_out, "ntriples")
    assert n == 3
    lines = []
    for f in glob.glob(nt_out + "/part-*"):
        lines += [ln for ln in open(f).read().splitlines() if ln]
    assert len(lines) == 3
    assert any('"v"@en' in ln for ln in lines)
    assert any('"42"^^<http://www.w3.org/2001/XMLSchema#integer>' in ln for ln in lines)

    nq_out = str(tmp_path / "out_nq")
    n2 = convert.convert(spark, nt_out, "ntriples", nq_out, "nquads")
    assert n2 == 3
    back = sources.read_nquads(spark, nq_out).filter(F.col("err").isNull())
    assert back.count() == 3
    assert {r.graph for r in back.collect()} == {"_:defaultGraph"}

    ttl_out = str(tmp_path / "out_ttl")
    n3 = convert.convert(spark, nt_out, "ntriples", ttl_out, "turtle")
    assert n3 == 3
    back_ttl = convert.read_rdf(spark, ttl_out, "turtle")
    assert back_ttl.filter(F.col("err").isNull()).count() == 3


def test_rdf_convert_job_entrypoint(spark, tmp_path):
    """The rdf2rdf-analogue spark-submit CLI end-to-end."""
    import io
    import json
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "jobs")
    import rdf_convert_job

    src = str(tmp_path / "in.ttl")
    with open(src, "w") as f:
        f.write('@prefix ex: <http://e/> .\n<http://s> ex:p "v"@en , 42 .\n')
    out = str(tmp_path / "out_nq")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = rdf_convert_job.main([
            "--in", src, "--in-format", "turtle",
            "--out", out, "--out-format", "nquads",
        ])
    assert rc == 0
    assert json.loads(buf.getvalue().strip().splitlines()[-1])["triples"] == 2
    back = sources.read_nquads(spark, out).filter(F.col("err").isNull())
    assert back.count() == 2


def test_convert_line_formats_skolemize_per_file(spark, tmp_path):
    """Review fix: _:b1 in two different N-Triples files is TWO distinct
    nodes (labels are file-scoped); the skolemizing default must not merge
    them, while --keep-blank-labels preserves raw labels.  A file the
    line reader splits over several partitions is still ONE scope."""
    src = tmp_path / "nt_in"
    src.mkdir()
    (src / "a.nt").write_text('_:b1 <http://p> "from-a" .\n')
    (src / "b.nt").write_text('_:b1 <http://p> "from-b" .\n')
    out = str(tmp_path / "out_nt")
    n = convert.convert(spark, str(src), "ntriples", out, "ntriples")
    assert n == 2
    back = sources.read_ntriples(spark, out).filter(F.col("err").isNull())
    subjects = {r.s for r in back.collect()}
    assert len(subjects) == 2  # distinct skolem IRIs, not a merged _:b1
    assert all(s.startswith("urn:skolem:") for s in subjects)

    # label-preserving mode keeps both _:b1 (single-document semantics)
    out2 = str(tmp_path / "out_nt2")
    n2 = convert.convert(spark, str(src), "ntriples", out2, "ntriples",
                         skolemize=False)
    assert n2 == 2
    back2 = sources.read_ntriples(spark, out2).filter(F.col("err").isNull())
    assert {r.s for r in back2.collect()} == {"_:b1"}

    # a file split over >= 2 partitions keeps one skolem scope
    split = tmp_path / "nt_split"
    split.mkdir()
    (split / "big.nt").write_text("".join(
        f'_:b1 <http://p> "big-{i:03d}" .\n' for i in range(200)))
    (split / "small.nt").write_text('_:b1 <http://p> "small" .\n')
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        n_parts = spark.read.text(str(split / "big.nt")).rdd.getNumPartitions()
        out3 = str(tmp_path / "out_split")
        n3 = convert.convert(spark, str(split), "ntriples", out3, "ntriples")
    finally:
        spark.conf.set(key, old)
    assert n_parts >= 2
    assert n3 == 201
    rows = sources.read_ntriples(spark, out3).filter(F.col("err").isNull()).collect()
    big = {r.s for r in rows if r.o.startswith("big-")}
    small = {r.s for r in rows if r.o == "small"}
    assert len(big) == 1 and len(small) == 1 and big != small


def test_convert_line_formats_quarantine_per_line(spark, tmp_path):
    """One malformed line drops only itself, in both convert modes: the
    other lines of its file and the other files are all written."""
    src = tmp_path / "nt_bad"
    src.mkdir()
    (src / "a.nt").write_text(
        '<http://s> <http://p> "a1" .\n'
        '<http://s> <http://p> "a2" .\n'
        '<http://s> <http://p> .\n'
        '_:b1 <http://p> "a3" .\n'
    )
    (src / "b.nt").write_text('_:b1 <http://p> "fromb" .\n')
    for i, skolemize in enumerate((True, False)):
        out = str(tmp_path / f"out_{i}")
        n = convert.convert(spark, str(src), "ntriples", out, "ntriples",
                            skolemize=skolemize)
        assert n == _n_lines(out) == 4, skolemize


def test_convert_nquads_documents_keep_graph(spark, tmp_path):
    src = tmp_path / "nq_in"
    src.mkdir()
    (src / "a.nq").write_text('_:b1 <http://p> "x" <http://g1> .\n')
    out = str(tmp_path / "out_nq3")
    n = convert.convert(spark, str(src), "nquads", out, "nquads")
    assert n == 1
    back = sources.read_nquads(spark, out).filter(F.col("err").isNull()).collect()
    assert back[0].graph == "http://g1"
    assert back[0].s.startswith("urn:skolem:")


def test_convert_with_rdfs_inference(spark, tmp_path):
    """--infer rdfs: the ρdf closure is materialized between decode and
    encode; external --schema reasons instance data against a separate
    ontology file."""
    import io
    import json
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "jobs")
    import rdf_convert_job

    src = str(tmp_path / "inst.ttl")
    with open(src, "w") as f:
        f.write("<http://x/rex> a <http://x/Dog> .\n")
    schema = str(tmp_path / "onto.ttl")
    with open(schema, "w") as f:
        f.write(
            "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n"
            "<http://x/Dog> rdfs:subClassOf <http://x/Mammal> .\n"
            "<http://x/Mammal> rdfs:subClassOf <http://x/Animal> .\n"
        )
    out = str(tmp_path / "out_nt")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = rdf_convert_job.main([
            "--in", src, "--in-format", "turtle",
            "--out", out, "--out-format", "ntriples",
            "--infer", "rdfs", "--schema", schema,
        ])
    assert rc == 0
    # 1 input + 2 inherited types + 3 subclass facts (2 direct entailed
    # copies + 1 transitive)
    assert json.loads(buf.getvalue().strip().splitlines()[-1])["triples"] == 6
    assert _n_lines(out) == 6
    back = convert.read_rdf(spark, out, "ntriples")
    objs = {r.o for r in back.filter(
        F.col("s") == "http://x/rex").collect()}
    assert objs == {"http://x/Dog", "http://x/Mammal", "http://x/Animal"}


def test_convert_with_sameas_resolution(spark, tmp_path):
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "d.nt").write_text(
        "<http://x/a> <http://www.w3.org/2002/07/owl#sameAs> <http://x/b> .\n"
        "<http://x/b> <http://x/p> \"v\" .\n"
    )
    out = str(tmp_path / "out_nt")
    n = convert.convert(
        spark, str(src_dir), "ntriples", out, "ntriples",
        resolve_sameas=True,
    )
    assert n == 1
    back = convert.read_rdf(spark, out, "ntriples").collect()
    assert back[0].s == "http://x/a"


def test_convert_canonicalize_bnodes(spark, tmp_path):
    """--canonicalize-bnodes: isomorphic inputs with different blank
    labels convert to byte-identical label sets; skolemize conflicts."""
    import glob as _glob

    import pytest

    for name, a, b in (("v1", "_:x", "_:y"), ("v2", "_:q", "_:p")):
        d = tmp_path / name
        d.mkdir()
        (d / "doc.ttl").write_text(
            "@prefix ex: <http://e/> .\n"
            f"{a} ex:p {b} .\n{b} ex:v \"leaf\" .\n"
        )
    outs = []
    for name in ("v1", "v2"):
        out = str(tmp_path / f"out_{name}")
        n = convert.convert(
            spark, str(tmp_path / name), "turtle", out, "ntriples",
            skolemize=False, canonicalize=True,
        )
        assert n == 2
        lines = set()
        for f in _glob.glob(out + "/part-*"):
            lines |= {ln for ln in open(f).read().splitlines() if ln}
        outs.append(lines)
    assert outs[0] == outs[1]
    assert any("_:c14n" in ln for ln in outs[0])

    with pytest.raises(ValueError):
        convert.convert(spark, str(tmp_path / "v1"), "turtle",
                        str(tmp_path / "boom"), "ntriples",
                        canonicalize=True)


def test_rdf_convert_job_canonicalize_flag(spark, tmp_path):
    import io
    import json
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, "jobs")
    import rdf_convert_job

    src = str(tmp_path / "in.ttl")
    with open(src, "w") as f:
        f.write('@prefix ex: <http://e/> .\n_:b ex:p "v" .\n')
    out = str(tmp_path / "out_nt")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = rdf_convert_job.main([
            "--in", src, "--in-format", "turtle",
            "--out", out, "--out-format", "ntriples",
            "--canonicalize-bnodes",
        ])
    assert rc == 0
    assert json.loads(buf.getvalue().strip().splitlines()[-1])["triples"] == 1
    text = "".join(open(f).read() for f in glob.glob(out + "/part-*"))
    assert "_:c14n0" in text


def test_convert_with_owl_inference(spark, tmp_path):
    d = tmp_path / "in_owl"
    d.mkdir()
    (d / "doc.ttl").write_text(
        "@prefix ex: <http://e/> .\n"
        "@prefix owl: <http://www.w3.org/2002/07/owl#> .\n"
        "ex:part a owl:TransitiveProperty .\n"
        "ex:contains owl:inverseOf ex:part .\n"
        "ex:a ex:part ex:b . ex:b ex:part ex:c .\n"
    )
    out = str(tmp_path / "out_owl")
    n = convert.convert(spark, str(d), "turtle", out, "ntriples",
                        infer="rdfs+owl")
    lines = set()
    for f in glob.glob(out + "/part-*"):
        lines |= {ln for ln in open(f).read().splitlines() if ln}
    assert "<http://e/a> <http://e/part> <http://e/c> ." in lines
    assert "<http://e/c> <http://e/contains> <http://e/a> ." in lines
    assert n == len(lines)


def test_convert_count_is_observed_once(spark, tmp_path, new_sql_plans):
    """convert's returned count is the exact row count of what it encoded
    (the N-Triples output line count) for every encoder, and the default
    conversion reads its input once."""
    src = tmp_path / "mixed"
    src.mkdir()
    (src / "a.nt").write_text(MIXED_NT)
    new_sql_plans()
    n = convert.convert(spark, str(src), "ntriples", str(tmp_path / "nt"),
                        "ntriples")
    assert len(new_sql_plans(str(src))) == 1
    assert n == _n_lines(str(tmp_path / "nt")) == 9
    for fmt in sorted(convert.ENCODERS - {"ntriples"}):
        assert convert.convert(spark, str(src), "ntriples",
                               str(tmp_path / fmt), fmt) == n, fmt
    # with no quoted triple the star encoder's quoted-term branch is
    # empty; the count must still cover every row
    plain = tmp_path / "plain"
    plain.mkdir()
    (plain / "a.nt").write_text("".join(
        ln + "\n" for ln in MIXED_NT.splitlines() if "<<" not in ln))
    star = str(tmp_path / "plain_star")
    assert convert.convert(spark, str(plain), "ntriples", star,
                           "ntriples-star") == _n_lines(star) == 4


def test_ntriples_star_conversion_releases_checkpoints(spark, tmp_path):
    """The N-Triples-star encoder's local checkpoints (the input's and
    each nesting round's) are freed once the write returns."""
    src = tmp_path / "mixed"
    src.mkdir()
    (src / "a.nt").write_text(MIXED_NT)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    for i in range(3):
        out = str(tmp_path / f"star{i}")
        assert convert.convert(spark, str(src), "ntriples", out,
                               "ntriples-star") == 9
        assert any("<< " in ln for f in glob.glob(out + "/part-*")
                   for ln in open(f))
    assert persisted().size() == before
