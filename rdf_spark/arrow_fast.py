"""Arrow-native (RE2) fast path for N-Triples / N-Quads line parsing.

pandas object-dtype regex is memory-bandwidth-bound and stops scaling at
~8 cores on this class of machine; pyarrow's RE2 ``extract_regex`` over
contiguous string buffers is ~2× faster per core and scales to 32 cores
(measured: 0.5M lines/s/core, 8.4M lines/s @32 procs).  The fast patterns
are sound, not complete: any line they cannot prove safe (escapes, unusual
whitespace, syntax errors, quoted triples) falls back to the exact
per-line tokenizer in rdf_spark.parsing, so this is the one N-Triples /
N-Quads parser — line scans and whole documents (split into lines by
:func:`split_lines`) both go through :func:`parse_lines_arrow`.

RE2 reports non-participating groups as empty strings (not nulls), so the
arrow patterns capture WITH their delimiters — ``<iri>``, ``"lit"``,
``@lang`` — making participation inferable from non-emptiness; delimiters
are stripped afterwards with vectorized slices.

Used via ``DataFrame.mapInArrow`` (see rdf_spark.sources).
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from rdf_spark import parsing, terms
from rdf_spark.chars import _PN_CHARS_RANGES, _PN_CHARS_U_RANGES

# Lines that produce no statement: blank / comment-only.
_NO_STMT_PATTERN = r"^[ \t]*(?:#.*)?\r?$"

_IRI_BODY = r"[A-Za-z][A-Za-z0-9+.\-]*:[^ <>\"{}|^`\\]*"
_BN_BODY = "_:[%s0-9](?:[%s.]*[%s])?" % (
    _PN_CHARS_U_RANGES, _PN_CHARS_RANGES, _PN_CHARS_RANGES,
)
_WS = r"[ \t]*"


# Turtle numeric/boolean shorthand (ttl grammar INTEGER/DECIMAL/DOUBLE):
# double must come first so its integer/decimal prefixes can't win
_EXP = "[eE][+-]?[0-9]+"
_NUM_BODY = (
    r"(?P<o_dbl>[+-]?(?:[0-9]+\.[0-9]*" + _EXP + r"|\.[0-9]+" + _EXP
    + r"|[0-9]+" + _EXP + r"))"
    + r"|(?P<o_dec>[+-]?[0-9]*\.[0-9]+)"
    + r"|(?P<o_num>[+-]?[0-9]+)"
    + r"|(?P<o_bool>true|false)"
)


def _mk_pattern(quads: bool, turtle: bool = False) -> str:
    pred = _WS + "<(?P<p>" + _IRI_BODY + ")>" + _WS
    if turtle:
        # The bare 'a' predicate must be whitespace-delimited on BOTH
        # sides: with optional delimiters, RE2 would fabricate rdf:type
        # triples from malformed docs ('<s> atrue .', '<s> a42 .',
        # '_:ba42 .' — the bnode alternative shortens to '_:b').  RE2 has
        # no lookahead, so abutting-but-VALID Turtle like '<s>a<o>.'
        # simply falls back to the exact tokenizer (sound-not-complete).
        pred = "(?:" + pred + r"|[ \t]+(?P<p_a>a)[ \t]+)"
    pat = (
        "^" + _WS
        + "(?:<(?P<s_iri>" + _IRI_BODY + ")>|(?P<s_bn>" + _BN_BODY + "))"
        + pred
        + "(?:<(?P<o_iri>" + _IRI_BODY + ")>|(?P<o_bn>" + _BN_BODY + ")"
        + ('|' + _NUM_BODY if turtle else "")
        + '|(?P<o_lit>"[^"\\\\]*")'
        + "(?:(?P<lang>@[A-Za-z]+(?:-[A-Za-z0-9-]+)?)"
        + r"|\^\^<(?P<dt>" + _IRI_BODY + ")>)?" + ")"
    )
    if quads:
        pat += _WS + "(?:<(?P<g_iri>" + _IRI_BODY + ")>|(?P<g_bn>" + _BN_BODY + "))?"
    pat += _WS + r"\.[ \t]*\r?(?:#.*)?$"
    return pat


_NT_PATTERN = _mk_pattern(False)
_NQ_PATTERN = _mk_pattern(True)
_TTL_FLAT_PATTERN = _mk_pattern(False, turtle=True)

TRIPLE_FIELDS = [
    ("s", pa.string()),
    ("s_kind", pa.int8()),
    ("p", pa.string()),
    ("o", pa.string()),
    ("o_kind", pa.int8()),
    ("o_datatype", pa.string()),
    ("o_lang", pa.string()),
]
QUAD_FIELDS = TRIPLE_FIELDS + [("graph", pa.string()), ("graph_kind", pa.int8())]

TRIPLE_SCHEMA = pa.schema(TRIPLE_FIELDS + [("err", pa.string())])
QUAD_SCHEMA = pa.schema(QUAD_FIELDS + [("err", pa.string())])
URL_TRIPLE_SCHEMA = pa.schema([("url", pa.string())] + list(TRIPLE_SCHEMA))
URL_QUAD_SCHEMA = pa.schema([("url", pa.string())] + list(QUAD_SCHEMA))


def _i8(x):
    return pa.scalar(x, pa.int8())


def _null_str():
    return pa.scalar(None, pa.string())


def _match_cols(fast, quads: bool = False, turtle: bool = False) -> dict:
    """Canonical triple/quad columns from a filtered extract_regex struct
    array (participation inferred from non-empty groups)."""
    g = {f.name: pc.struct_field(fast, f.name) for f in fast.type}
    part = {k: pc.not_equal(v, "") for k, v in g.items()}

    def strip1(x):  # drop one leading char (e.g. '@lang')
        return pc.utf8_slice_codeunits(x, 1)

    s = pc.if_else(part["s_iri"], g["s_iri"], g["s_bn"])
    s_kind = pc.if_else(part["s_iri"], _i8(terms.KIND_IRI), _i8(terms.KIND_BLANK))
    o_lit_content = pc.utf8_slice_codeunits(g["o_lit"], 1, -1)
    o = pc.if_else(
        part["o_iri"], g["o_iri"], pc.if_else(part["o_bn"], g["o_bn"], o_lit_content)
    )
    o_kind = pc.if_else(
        part["o_iri"],
        _i8(terms.KIND_IRI),
        pc.if_else(part["o_bn"], _i8(terms.KIND_BLANK), _i8(terms.KIND_LITERAL)),
    )
    o_datatype = pc.if_else(
        part["lang"],
        pa.scalar(terms.RDF_LANG_STRING),
        pc.if_else(
            part["dt"],
            g["dt"],
            pc.if_else(part["o_lit"], pa.scalar(terms.XSD_STRING), _null_str()),
        ),
    )
    o_lang = pc.if_else(part["lang"], strip1(g["lang"]), _null_str())
    p = g["p"]
    if turtle:
        # 'a' predicate sugar + numeric/boolean shorthand lexicals
        p = pc.if_else(part["p_a"], pa.scalar(terms.RDF_TYPE), p)
        for grp, dt in (("o_num", terms.XSD_INTEGER), ("o_dec", terms.XSD_DECIMAL),
                        ("o_dbl", terms.XSD_DOUBLE), ("o_bool", terms.XSD_BOOLEAN)):
            o = pc.if_else(part[grp], g[grp], o)
            o_kind = pc.if_else(part[grp], _i8(terms.KIND_LITERAL), o_kind)
            o_datatype = pc.if_else(part[grp], pa.scalar(dt), o_datatype)
    cols = {
        "s": s, "s_kind": s_kind, "p": p, "o": o, "o_kind": o_kind,
        "o_datatype": o_datatype, "o_lang": o_lang,
    }
    if quads:
        cols["graph"] = pc.if_else(
            part["g_iri"],
            g["g_iri"],
            pc.if_else(part["g_bn"], g["g_bn"], pa.scalar(terms.DEFAULT_GRAPH)),
        )
        cols["graph_kind"] = pc.if_else(
            part["g_iri"], _i8(terms.KIND_IRI), _i8(terms.KIND_BLANK)
        )
    return cols


def split_lines(texts: pa.Array) -> tuple[pa.Array, np.ndarray]:
    """Split each document into its ``\\n``-separated lines → ``(lines,
    doc_idx)``: the flat line array and, per line, the index of its
    document.  A null document yields one empty line."""
    lines_list = pc.split_pattern(pc.fill_null(texts, ""), "\n")
    doc_idx = pc.list_parent_indices(lines_list).to_numpy(zero_copy_only=False)
    return pc.list_flatten(lines_list), doc_idx


def parse_turtle_docs_arrow(urls: pa.Array, texts: pa.Array):
    """Vectorized fast path for FLAT Turtle documents.

    A document is *flat* when every statement-bearing line is a complete
    single-line, prefix-free, absolute-IRI triple (optionally with the
    ``a`` predicate sugar, numeric/boolean shorthand, plain/typed/lang
    string literals, ``_:`` labels) — i.e. a line the RE2 pattern can
    prove safe.  Directives, pnames, relative IRIs, ``;``/``,`` lists,
    ``[]``/``()`` and multi-line strings all make a line unmatchable, and
    ONE unmatchable statement line disqualifies the WHOLE document (an
    unterminated ``\"\"\"`` opener never matches, so a line *inside* a long
    string can never be mistaken for a statement of a flat doc).  Flat
    docs skip the Python tokenizer entirely, the way N-Triples lines do
    (sound-not-complete; equivalence is differential-tested over the
    conformance corpus).

    Returns ``(table, fallback_mask)``: a table in url+TRIPLE_SCHEMA
    holding all triples of the flat documents, plus a boolean numpy mask
    of documents that must go through the exact parser.
    """
    if isinstance(urls, pa.ChunkedArray):
        urls = urls.combine_chunks()
    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    n_docs = len(texts)
    lines, doc_idx = split_lines(texts)

    # extract first; the blank/comment check runs only over the
    # non-matching remainder (same reorder as parse_lines_arrow — one
    # full-corpus regex scan instead of two)
    m = pc.extract_regex(lines, pattern=_TTL_FLAT_PATTERN)
    matched = m.is_valid().to_numpy(zero_copy_only=False)

    fallback = np.zeros(n_docs, dtype=bool)
    rest_idx = np.nonzero(~matched)[0]
    if len(rest_idx):
        rest = pc.take(lines, pa.array(rest_idx))
        no_stmt_rest = pc.match_substring_regex(
            rest, _NO_STMT_PATTERN
        ).to_numpy(zero_copy_only=False)
        line_bad_idx = rest_idx[~no_stmt_rest]
        np.logical_or.at(fallback, doc_idx[line_bad_idx], True)
    # null-text docs are skipped entirely (caller contract), not fallback
    null_text = np.zeros(n_docs, dtype=bool)
    if texts.null_count:
        null_text = texts.is_null().to_numpy(zero_copy_only=False)
        fallback &= ~null_text

    keep = matched & ~fallback[doc_idx] & ~null_text[doc_idx]
    fast = pc.filter(m, pa.array(keep))
    cols = _match_cols(fast, turtle=True)
    n = len(fast)
    out = pa.table(
        {
            "url": pc.take(urls, pa.array(doc_idx[keep])),
            **cols,
            "err": pa.nulls(n, pa.string()),
        }
    )
    return out, fallback


def parse_lines_arrow(lines: pa.Array, fmt: str = "ntriples",
                      urls: pa.Array | None = None) -> pa.Table:
    """Parse a string array of lines → table in TRIPLE/QUAD_SCHEMA.

    Blank/comment lines are dropped; rows that fail produce err!=null
    (quarantine is per line).  ``urls``, when given, holds each line's
    document url: the table then starts with a ``url`` column, and a
    quoted-triple minter (:class:`parsing._QtMinter`) never spans two
    urls, so a ``_:qt…`` statement node and its four reification rows
    always carry the same url for the url-keyed skolemizer.  Within one
    url the minter is per call (per Arrow batch): a fact quoted on many
    lines of a batch expands its reification rows once, but a document
    split over several batches repeats them once per batch (identical
    rows, content-keyed ids — dedup collapses them)."""
    quads = fmt == "nquads"
    keyed = urls is not None
    if keyed:
        schema = URL_QUAD_SCHEMA if quads else URL_TRIPLE_SCHEMA
    else:
        schema = QUAD_SCHEMA if quads else TRIPLE_SCHEMA
    pattern = _NQ_PATTERN if quads else _NT_PATTERN

    if isinstance(lines, pa.ChunkedArray):
        lines = lines.combine_chunks()
    if lines.null_count:
        lines = pc.fill_null(lines, "")
    if len(lines) == 0:
        return schema.empty_table()

    # One extract_regex pass over EVERYTHING first; the blank/comment
    # check then runs only over the non-matching remainder (typically a
    # tiny fraction), instead of a second full-corpus regex scan plus a
    # near-full filter copy.  In the common all-match batch this path is
    # zero-copy: the struct array is used as-is.
    m = pc.extract_regex(lines, pattern=pattern)
    is_fast = m.is_valid()
    n_fast = pc.sum(is_fast).as_py() or 0
    all_fast = n_fast == len(lines)
    fast = m if all_fast else pc.filter(m, is_fast)

    cols = _match_cols(fast, quads=quads)
    cols["err"] = pa.nulls(n_fast, pa.string())
    if keyed:
        cols["url"] = urls if all_fast else pc.filter(urls, is_fast)
    fast_tbl = pa.table([cols[f.name] for f in schema], schema=schema)

    if all_fast:
        return fast_tbl
    is_slow = pc.invert(is_fast)
    rest = pc.filter(lines, is_slow)
    stmt = pc.invert(pc.match_substring_regex(rest, _NO_STMT_PATTERN))
    slow_lines = pc.filter(rest, stmt).to_pylist()
    if not slow_lines:
        return fast_tbl
    if keyed:
        slow_urls = pc.filter(pc.filter(urls, is_slow), stmt).to_pylist()
    else:
        slow_urls = [None] * len(slow_lines)
    parse_one = parsing.parse_nquads if quads else parsing.parse_ntriples
    n_cols = len(schema) - 1 - keyed
    recs: list[tuple] = []
    # one quoted-triple minter per url of the BATCH: a fact quoted on
    # many lines expands its reification once here, not once per line
    minters = defaultdict(parsing._QtMinter)
    for url, line in zip(slow_urls, slow_lines):
        qt_minter = minters[url]
        head = (url,) if keyed else ()
        # stage this line's memo additions: a quarantined line's partial
        # parse must not leave statement nodes memoized (their
        # reification rows die with the line — a later clean line
        # quoting the same fact would then emit nothing)
        qt_minter.journal = staged = []
        try:
            rows = parse_one(line, qt=qt_minter)
        except parsing.QUARANTINE_ERRORS as e:
            for k in staged:
                del qt_minter.memo[k]
            recs.append(head + (None,) * n_cols + (str(e),))
            continue
        for r in rows:
            recs.append(head + tuple(r) + (None,))
    if not recs:
        return fast_tbl
    slow_tbl = pa.table(
        [pa.array([r[i] for r in recs], type=f.type) for i, f in enumerate(schema)],
        schema=schema,
    )
    return pa.concat_tables([fast_tbl, slow_tbl]).combine_chunks()
