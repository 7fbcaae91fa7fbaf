"""Minimal SPARQL SELECT compiler over the canonical triple DataFrame.

The reference is a parser library with no query layer (SURVEY §2.5);
this module puts a declarative KG query language on top of the store,
compiled entirely to Catalyst plans: basic graph patterns become the
equi-join tree of :func:`rdf_spark.ops.graph.bgp_match` (filters push
into scans, join order/broadcast left to the optimizer), OPTIONAL blocks
become left outer joins on the shared variables, FILTERs become Column
predicates, and the solution modifiers map 1:1 onto
``distinct/orderBy/offset/limit``.

Supported subset (anything else raises ``SparqlError`` at parse time):

    [PREFIX ns: <iri> …]
    SELECT [DISTINCT] (?var | (AGG(?v|*) AS ?alias) | (expr AS ?alias))… | *
      -- in aggregate queries, expr may use GROUP BY keys, aggregate
      -- aliases, and earlier expression aliases (§18.2.4)
    CONSTRUCT { template triples }    -- → (s,p,o) DataFrame, set semantics
    ASK [WHERE] { group }             -- → bool
    DESCRIBE <iri>… | DESCRIBE ?v… WHERE { group }
                                      -- → subject/object-touching triples
                                         (?v forms semi-join the var's
                                         distinct bindings — no collect)
    INSERT DATA {…} | DELETE DATA {…} | DELETE WHERE {…}
      | [DELETE {t}] [INSERT {t}] WHERE { group }   -- update forms
                                      -- (sparql_update: pure, returns
                                         the new store; ';'-chainable)
    [FROM <g>]… [FROM NAMED <g>]…   -- dataset clause (§13.2; needs a
                                       'graph' column): plain patterns/
                                       paths see the RDF merge of the
                                       FROM graphs, GRAPH matches only
                                       the FROM NAMED graphs; either
                                       list empty → that side matches
                                       nothing; no clause → the whole
                                       store (the union-default dialect
                                       documented below); subqueries/
                                       updates share the outer dataset
    WHERE { group }  |  WHERE { { group } UNION { group } … }
      group: triple patterns '.'-separated
             property paths with full SPARQL 1.1 precedence — '^'
               (inverse) > '+'/'*'/'?' (closure / zero-or-one) > '/'
               (sequence) > '|'
               (alternation), '(' path ')' groups.  Compilation picks
               the cheapest shape that fits:
               - plain atoms / atom sequences → triple patterns with a
                 fresh variable per hop (plain equi-joins)
               - uniform-direction predicate alternations → ONE pattern
                 with an IN-list predicate (scan-pushed)
               - single-predicate closures with a constant endpoint →
                 iterate-to-fixpoint BFS with per-round localCheckpoint
               - everything else (grouped '|'+'/' mixes like
                 (<p1>|<p2>)/<p3>, closures over compound paths or
                 negated sets, UNANCHORED ?a <p>+ ?b) → a generic pair-
                 table evaluator: bag-semantics unions/joins for alt/seq
                 per SPARQL §18.4, set-semantics transitive closure by
                 iterative squaring (O(log diameter) self-join rounds);
                 anchored compound closures still run the BFS over the
                 inner path's pair set.  ?a <p>* ?b includes the
                 zero-length solution ?a=?b for EVERY node of the graph
                 (every subject/object term, per SPARQL §9.1 ALP);
                 elt? (ZeroOrOnePath, §18.4) is the same zero-length
                 set unioned with elt's DIRECT pairs — set semantics,
                 no fixpoint ever runs
             negated property sets  ?s !<p> ?o | ?s !(<p1>|<p2>) ?o —
               a NOT-IN predicate filter (forward members only; ^ inside
               a negated set is not supported)
             FILTER( expr )          -- any number, anywhere in the group
             FILTER [NOT] EXISTS { patterns }  -- → left semi / anti join
             OPTIONAL { patterns }   -- any number; patterns may use any
                                        property path (closures included
                                        — the block compiles through the
                                        same group compiler as WHERE);
                                        ditto EXISTS/MINUS below
             VALUES ?v { term … }    -- inline bindings (restricts a
                                        bound var, introduces an unbound)
             VALUES (?a ?b) { (t t) … }  -- multi-var rows: joins on the
                                        already-bound subset, carries the
                                        rest along; UNDEF cells (§10.2)
                                        match any binding / stay unbound
             BIND( operand AS ?v )   -- computed column (applied after
                                        the group's joins, before FILTERs;
                                        a MINUS/EXISTS block referencing a
                                        BIND-defined variable raises —
                                        those blocks compile before BINDs,
                                        so the reference would silently
                                        not restrict)
             MINUS { patterns }      -- → left anti join on shared vars
                                        (disjoint domains remove nothing)
             { SELECT ... }          -- subquery: evaluated independently
                                        (its GROUP BY/ORDER/LIMIT apply
                                        inside), joined with the group on
                                        its projected variables; shares
                                        the outer PREFIX prologue
             { patterns ... }        -- nested group graph pattern with
                                        its own FILTERs/OPTIONALs/...:
                                        compiled recursively, joined on
                                        shared variables (UNION only at
                                        the top level of a WHERE body)
             GRAPH (<g>|?g) { patterns }  -- match inside one named graph /
                                        bind the graph (needs a 'graph'
                                        column: an N-Quads/TriG store);
                                        GRAPH <g> blocks may use any
                                        property path — closures run over
                                        the graph-FILTERED edge set
                                        (GRAPH ?g + closure raises: one
                                        closure per binding)
    [GROUP BY ?v…] [HAVING( expr )]
    [ORDER BY (?v | ASC(expr) | DESC(expr))…]   -- expr: any operand over
                                                   projected variables
    [LIMIT n] [OFFSET n]

Terms: ``<iri>`` (matched against the lexical column), ``?var``, ``a``
(rdf:type sugar via :data:`rdf_spark.terms.RDF_TYPE`), ``"string"``
literals, and bare integers/decimals.  Scale note for unanchored
closures: ``?a <p>+ ?b`` materializes the predicate's full transitive-
closure pair set — always finite, but output size is worst-case
quadratic in the node count of that predicate's subgraph; anchor one
endpoint (or restrict ?a by another pattern) when the query allows.  FILTER expressions: ``|| && !``,
comparisons ``= != < <= > >=``, ``regex(?v, "pattern")``, ``bound(?v)``,
``contains/strstarts/strends(x, y)``, ``langMatches(lang(?v), "en")``
(basic RFC 4647 ranges incl. ``"*"``), ``?v IN (const, …)``, and the
operand functions ``strlen/lcase/ucase/str/concat/substr/replace(x)``
(REPLACE is regex-based; SUBSTR is 1-based), the hash functions
``md5/sha1/sha256/sha384/sha512(x)`` (lowercase-hex digests of the
UTF-8 lexical form, §17.4.4), ``encode_for_uri(x)`` (RFC 3986
unreserved-set percent-encoding, uppercase hex), ``sameTerm(?a, ?b)``
(exact term identity over lexical+kind+datatype+lang — needs the
carried metadata columns, like the isIRI family), the date/time
accessors ``year/month/day/hours/minutes/seconds(?v)`` (§17.4.5 over
xsd:dateTime lexicals via try_to_timestamp — unparseable → solution
drops; SECONDS is integral, this corpus is second-granular) and
``tz(?v)`` (the lexical's own timezone suffix, "" when absent; NOW/
RAND/UUID/STRUUID are deliberately absent — nondeterministic builtins
would break replay/resume and oracle parity), numeric arithmetic
``+ - * /`` with standard precedence and ``( )`` grouping (operands
cast to double; ``/`` → try_divide so division by zero drops the
solution like SPARQL's evaluation error), ``COALESCE(x, …)``,
``IF(cond, a, b)``, the term constructors ``IRI/URI(x)``,
``STRDT(x, <dt>)`` and ``STRLANG(x, "tag")`` (§17.4.2; the value is
the lexical form, and a BIND of a constructed term synthesizes the
var's kind/datatype/lang metadata so isIRI/DATATYPE/LANG/sameTerm
work over it WITHOUT needing store metadata columns; BNODE() is
deliberately absent — fresh-label minting is nondeterministic under
replay, use skolem IRIs via IRI(CONCAT(...)) instead), plus the
accessors
``lang(?v)`` / ``datatype(?v)`` (these need the canonical metadata
columns ``s_kind o_kind o_datatype o_lang`` on the triple DataFrame,
and ?v bound by a required triple pattern of the same group; LANG of a
non-literal is NULL, DATATYPE of a plain/lang literal defaults to
xsd:string / rdf:langString per RDF 1.1).  HAVING filters over
aggregate aliases after the GROUP BY.  Aggregates:
COUNT[ DISTINCT]/SUM[ DISTINCT]/AVG[ DISTINCT]/MIN/MAX, GROUP_CONCAT
(``; SEPARATOR="…"``, sorted for determinism — SPARQL leaves the order
unspecified) and SAMPLE (compiled to MIN: a legal, deterministic
choice) (GROUP BY →
partial+final hash aggregate; see the SUM/AVG float caveat on
:func:`sparql_select`).  UNION branches compile independently and align
on the union of their variables (unbound → NULL).  Comparing against a
NUMBER casts the variable's lexical to double (a documented
simplification of SPARQL's typed value semantics); string comparisons
are lexical.  Prefixed names (``ns:local``) expand against the PREFIX
prologue anywhere a term or path predicate appears.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdf_spark.ops import fastpath
from rdf_spark.ops.graph import META_COLS, bgp_match
from rdf_spark.terms import (
    KIND_BLANK,
    KIND_IRI,
    KIND_LITERAL,
    RDF_LANG_STRING,
    RDF_TYPE,
    XSD,
    XSD_STRING,
)

# the XSD numeric datatype space ISNUMERIC() tests against (SPARQL 1.1
# §17.4.2.4 operand types plus the derived integer types, matching the
# reference's typed-conversion table, /root/reference/literal.go area)
_XSD_NUMERIC = tuple(sorted(
    XSD + n
    for n in (
        "integer", "decimal", "double", "float", "long", "int", "short",
        "byte", "nonNegativeInteger", "nonPositiveInteger",
        "negativeInteger", "positiveInteger", "unsignedLong",
        "unsignedInt", "unsignedShort", "unsignedByte",
    )
))


class SparqlError(ValueError):
    pass


_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<iri><[^<>"{}|^`\\ ]*>)
      | (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
      | (?P<string>"(?:[^"\\]|\\.)*")
      | (?P<number>[+-]?(?:[0-9]+\.[0-9]*|\.[0-9]+|[0-9]+))
      | (?P<pname>[A-Za-z][A-Za-z0-9_\-]*:[A-Za-z0-9_.\-]*)
      | (?P<word>[A-Za-z][A-Za-z0-9_]*)
      | (?P<op>\|\||&&|!=|<=|>=|[{}().,=<>!*+;|/^?-])
    )""",
    re.X,
)


def _tokenize(q: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(q):
        m = _TOKEN_RE.match(q, pos)
        if not m:
            if q[pos:].strip() == "":
                break
            raise SparqlError(f"cannot tokenize at: {q[pos:pos+30]!r}")
        pos = m.end()
        for kind in ("iri", "var", "string", "number", "pname", "word", "op"):
            v = m.group(kind)
            if v is not None:
                if kind == "var" and (
                    v[1:].startswith(("_pp", "_meta_", "_path_m"))
                    or re.fullmatch(r"_qt\d+", v[1:])
                ):
                    raise SparqlError(
                        f"variable {v} uses a reserved name: ?_pp* "
                        "(path rewriting), ?_meta_* (term metadata), "
                        "?_path_m* (path markers), ?_qt<N> (quoted-"
                        "triple rewriting)"
                    )
                out.append((kind, v))
                break
    # reject pathological nesting up front: the recursive-descent parser
    # (and the arithmetic/boolean backtrack) would otherwise surface a
    # RecursionError instead of a SparqlError on '((((((…' inputs
    depth = 0
    for kind, v in out:
        if kind == "op" and v in ("(", "{"):
            depth += 1
            if depth > _MAX_NESTING:
                raise SparqlError(
                    f"query nesting deeper than {_MAX_NESTING} levels"
                )
        elif kind == "op" and v in (")", "}"):
            depth -= 1
    out.append(("eof", ""))
    return out


_MAX_NESTING = 200


_STRING_ESCAPES = {
    "t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}
_STRING_ESC_RE = re.compile(r"\\(u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8}|.)")


def _unescape_string(raw: str) -> str:
    """SPARQL string-literal escapes → their characters (\\n is a newline,
    not the letter n); unsupported escapes raise at parse time so a query
    never silently matches the wrong lexical value."""
    def sub(m: re.Match) -> str:
        e = m.group(1)
        if len(e) > 1:  # \uXXXX / \UXXXXXXXX
            return chr(int(e[1:], 16))
        if e in _STRING_ESCAPES:
            return _STRING_ESCAPES[e]
        raise SparqlError(f"unsupported string escape \\{e}")

    return _STRING_ESC_RE.sub(sub, raw)


@dataclass
class _Group:
    patterns: list[tuple[str, str, str]] = field(default_factory=list)
    # OPTIONAL blocks: pattern-only _Groups (patterns + property paths,
    # closures included) compiled through _compile_group and left-joined
    optionals: list = field(default_factory=list)
    filters: list[tuple] = field(default_factory=list)
    # anchored single-predicate closures: (s_term, pred_iri, '+'|'*', o_term)
    paths: list[tuple[str, str, str, str]] = field(default_factory=list)
    # compound/unanchored paths: (s_term, path AST node, o_term) — see
    # _path_edges for the node grammar
    generic_paths: list[tuple[str, tuple, str]] = field(default_factory=list)
    # inline bindings: ([var names], [rows of lexical values])
    values: list[tuple[list[str], list[tuple]]] = field(default_factory=list)
    # BIND(operand AS ?v): (var_name, operand expr)
    binds: list[tuple[str, tuple]] = field(default_factory=list)
    # FILTER [NOT] EXISTS blocks: (positive, pattern-only _Group)
    exists: list = field(default_factory=list)
    # MINUS { ... } blocks: pattern-only _Groups
    minus: list = field(default_factory=list)
    # GRAPH <iri> { ... } blocks containing property paths that need
    # pair evaluation (closures, grouped mixes): (graph_iri, _Group),
    # compiled against the graph-FILTERED triple set.  Pattern-only
    # GRAPH blocks never land here — they rewrite to quad patterns.
    graph_groups: list = field(default_factory=list)
    # { SELECT ... } subqueries: parsed _Ast, compiled independently and
    # joined on the shared projected variables
    subqueries: list = field(default_factory=list)
    # nested group graph patterns { ... }: compiled recursively, joined
    # on shared variables (SPARQL group join)
    nested: list = field(default_factory=list)


@dataclass
class _Ast:
    distinct: bool = False
    # select items: ('var', name) | ('agg', fn, var_or_None_for_star, alias)
    select_items: list[tuple] | None = None  # None = *
    branches: list[_Group] = field(default_factory=list)  # >1 = UNION
    group_by: list[str] = field(default_factory=list)
    # GROUP BY (expr AS ?v) conditions: (v, operand) computed on the
    # solution rows pre-aggregation; v is ALSO appended to group_by
    group_exprs: list[tuple[str, tuple]] = field(default_factory=list)
    having: tuple | None = None  # boolean expr over agg aliases / group keys
    order: list[tuple[str, bool]] = field(default_factory=list)  # (var, asc)
    limit: int | None = None
    offset: int | None = None
    # dataset clause (§13.2): FROM graphs form the default graph, FROM
    # NAMED graphs are the only ones GRAPH may match; empty lists when
    # no dataset clause was given (→ the whole store, today's behavior)
    from_graphs: list[str] = field(default_factory=list)
    from_named: list[str] = field(default_factory=list)


@dataclass
class _UpdateOp:
    """One update operation: ground data (ast None) or a templated
    modify (delete/insert instantiated per WHERE solution)."""
    delete: list[tuple[str, str, str]] | None = None
    insert: list[tuple[str, str, str]] | None = None
    ast: "_Ast | None" = None


class _Parser:
    def __init__(self, q: str):
        self.toks = _tokenize(q)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self._ppn = 0  # fresh-variable counter for path-sequence rewriting
        self._qtn = 0  # fresh-variable counter for quoted-triple patterns
        self._qt_ok = False  # << >> legal only inside group patterns
        self._pending_qt: list[tuple[str, str, str, str]] = []

    def prologue(self):
        """Zero or more `PREFIX ns: <iri>` declarations."""
        while self.at_word("PREFIX"):
            self.next()
            kind, v = self.next()
            if kind != "pname" or not v.endswith(":"):
                raise SparqlError(f"PREFIX needs 'ns:', got {v!r}")
            kind2, iri = self.next()
            if kind2 != "iri":
                raise SparqlError(f"PREFIX {v} needs an <iri>")
            self.prefixes[v[:-1]] = iri[1:-1]

    def expand_pname(self, v: str) -> str:
        ns, local = v.split(":", 1)
        if ns not in self.prefixes:
            raise SparqlError(f"undeclared prefix {ns}: in {v!r}")
        return self.prefixes[ns] + local

    def peek(self):
        # clamp at the eof sentinel: reading past the end keeps returning
        # ("eof", "") so every grammar rule fails with a SparqlError
        # instead of an IndexError on truncated input
        return self.toks[min(self.i, len(self.toks) - 1)]

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def eat_word(self, *words) -> str:
        kind, v = self.next()
        if kind != "word" or v.upper() not in words:
            raise SparqlError(f"expected {'/'.join(words)}, got {v!r}")
        return v.upper()

    def eat_op(self, op):
        kind, v = self.next()
        if kind != "op" or v != op:
            raise SparqlError(f"expected {op!r}, got {v!r}")

    def at_word(self, *words) -> bool:
        kind, v = self.peek()
        return kind == "word" and v.upper() in words

    # --- grammar ---

    _AGG_FNS = ("COUNT", "SUM", "AVG", "MIN", "MAX", "GROUP_CONCAT", "SAMPLE")

    def construct_query(self) -> tuple[list[tuple[str, str, str]], _Ast]:
        """CONSTRUCT { template } WHERE { ... } [modifiers] — returns the
        template triples plus the WHERE ast (select_items=None)."""
        self.prologue()
        self.eat_word("CONSTRUCT")
        if self.at_word("WHERE") or self.at_word("FROM"):
            # CONSTRUCT WHERE { … } shorthand (§10.2.3): the pattern
            # doubles as the template — plain triples only, by grammar
            ast = _Ast()
            self._dataset_clause(ast)
            self.eat_word("WHERE")
            template = self._update_template()
            g = _Group()
            g.patterns.extend(template)
            ast.branches.append(g)
            self.modifiers(ast)
            if self.peek()[0] != "eof":
                raise SparqlError(f"trailing input at {self.peek()[1]!r}")
            return template, ast
        self.eat_op("{")
        template = []
        while self.peek() != ("op", "}"):
            template.append(self.triple())
            if self.peek() == ("op", "."):
                self.next()
        self.next()  # }
        if not template:
            raise SparqlError("empty CONSTRUCT template")
        ast = _Ast()
        self._where_and_modifiers(ast)
        return template, ast

    def ask_query(self) -> _Ast:
        self.prologue()
        self.eat_word("ASK")
        ast = _Ast()
        self._where_and_modifiers(ast, where_optional=True)
        return ast

    def describe_query(self) -> tuple[list[str], list[str], "_Ast | None"]:
        """DESCRIBE <iri>… | DESCRIBE ?var… WHERE { group } (round-5) —
        returns (iris, vars, where_ast_or_None); a WHERE clause is
        required iff any ?var appears."""
        self.prologue()
        self.eat_word("DESCRIBE")
        iris, vars_ = [], []
        while True:
            kind, v = self.peek()
            if kind == "iri":
                iris.append(self.next()[1][1:-1])
            elif kind == "pname":
                iris.append(self.expand_pname(self.next()[1]))
            elif kind == "var":
                vars_.append(self.next()[1][1:])
            else:
                break
        if not (iris or vars_):
            raise SparqlError("DESCRIBE needs at least one <iri> or ?var")
        ast = None
        if vars_:
            ast = _Ast()
            self._where_and_modifiers(ast)
        elif self.peek()[0] != "eof":
            raise SparqlError(f"trailing input at {self.peek()[1]!r}")
        return iris, vars_, ast

    def query(self) -> _Ast:
        self.prologue()
        return self.select_core()

    def update_request(self) -> list[_UpdateOp]:
        """SPARQL 1.1 Update subset: prologue + one or more ';'-separated
        operations — INSERT DATA / DELETE DATA / DELETE WHERE /
        [DELETE {t}] [INSERT {t}] WHERE { group }."""
        self.prologue()
        ops = [self._update_op()]
        while self.peek() == ("op", ";"):
            self.next()
            if self.peek()[0] == "eof":
                break  # trailing ';' is legal (UPDATE grammar)
            ops.append(self._update_op())
        if self.peek()[0] != "eof":
            raise SparqlError(f"trailing input at {self.peek()[1]!r}")
        return ops

    def _update_op(self) -> _UpdateOp:
        w = self.eat_word("INSERT", "DELETE")
        if w == "INSERT":
            if self.at_word("DATA"):
                self.next()
                return _UpdateOp(insert=self._update_template(ground=True))
            ins = self._update_template()
            ast = _Ast()
            self._update_where(ast)
            return _UpdateOp(insert=ins, ast=ast)
        if self.at_word("DATA"):
            self.next()
            return _UpdateOp(delete=self._update_template(ground=True))
        if self.at_word("WHERE"):
            # DELETE WHERE { patterns }: the pattern doubles as the
            # delete template (§3.1.3.2) — plain triples only, by grammar
            self.next()
            tpl = self._update_template()
            ast = _Ast()
            g = _Group()
            g.patterns.extend(tpl)
            ast.branches.append(g)
            return _UpdateOp(delete=tpl, ast=ast)
        dele = self._update_template()
        ins = None
        if self.at_word("INSERT"):
            self.next()
            ins = self._update_template()
        ast = _Ast()
        self._update_where(ast)
        return _UpdateOp(delete=dele, insert=ins, ast=ast)

    def _update_template(self, ground: bool = False) -> list:
        """``{ triple ('.' triple)* }`` — plain triples (the update
        grammar has no property paths in templates).  With ``ground``
        (the DATA forms) variables are rejected.  Blank nodes are
        rejected everywhere by :meth:`term` already — fresh-label
        minting is replay-hostile (see the BNODE() note), use skolem
        IRIs instead."""
        self.eat_op("{")
        tpl = []
        while self.peek() != ("op", "}"):
            t = self.triple()
            if ground and any(x.startswith("?") for x in t):
                raise SparqlError(
                    "INSERT/DELETE DATA takes ground triples only"
                )
            tpl.append(t)
            if self.peek() == ("op", "."):
                self.next()
        self.next()  # }
        if not tpl:
            raise SparqlError("empty update template")
        return tpl

    def _update_where(self, ast: _Ast):
        """WHERE { group } of a modify operation: the full SELECT group
        grammar, but no solution modifiers (not in the update grammar)."""
        if not self.at_word("WHERE"):
            raise SparqlError(f"expected WHERE, got {self.peek()[1]!r}")
        self._where_and_modifiers(ast, subquery=True)
        if (ast.group_by or ast.having is not None or ast.order
                or ast.limit is not None or ast.offset):
            raise SparqlError(
                "solution modifiers are not allowed in an update WHERE"
            )

    def select_core(self, subquery: bool = False) -> _Ast:
        """SELECT clause + WHERE + modifiers.  With ``subquery`` the
        trailing-input check is skipped (the caller owns the closing
        brace); the prologue belongs to the top level only — a subquery
        shares the outer query's prefixes."""
        ast = _Ast()
        self.eat_word("SELECT")
        if self.at_word("DISTINCT"):
            self.next()
            ast.distinct = True
        elif self.at_word("REDUCED"):
            # §18.2.5.3 permits (does not require) duplicate elimination
            # under REDUCED; eliminating is the deterministic legal
            # choice, so REDUCED compiles exactly like DISTINCT
            self.next()
            ast.distinct = True
        kind, v = self.peek()
        if kind == "op" and v == "*":
            self.next()
        else:
            items = []
            while True:
                kind, v = self.peek()
                if kind == "var":
                    items.append(("var", self.next()[1][1:]))
                elif kind == "op" and v == "(":
                    self.next()
                    pk, pv = self.peek()
                    if not (pk == "word" and pv.upper() in self._AGG_FNS):
                        # (expr AS ?alias) projection — any operand
                        # expression, compiled like an implicit BIND
                        e = self.operand()
                        self.eat_word("AS")
                        alias = self.next()
                        if alias[0] != "var":
                            raise SparqlError(
                                "expression projection needs AS ?alias"
                            )
                        self.eat_op(")")
                        items.append(("expr", e, alias[1][1:]))
                        continue
                    fn = self.eat_word(*self._AGG_FNS)
                    self.eat_op("(")
                    opts: dict = {}
                    if self.at_word("DISTINCT"):
                        self.next()
                        opts["distinct"] = True
                    kind2, v2 = self.next()
                    if kind2 == "var":
                        arg = v2[1:]
                    elif (kind2, v2) == ("op", "*") and fn == "COUNT":
                        arg = None
                    else:
                        raise SparqlError(f"bad aggregate argument {v2!r}")
                    if self.peek() == ("op", ";"):  # GROUP_CONCAT separator
                        self.next()
                        self.eat_word("SEPARATOR")
                        self.eat_op("=")
                        sep_k, sep_v = self.next()
                        if sep_k != "string":
                            raise SparqlError("SEPARATOR needs a string")
                        opts["separator"] = _unescape_string(sep_v[1:-1])
                    self.eat_op(")")
                    self.eat_word("AS")
                    alias = self.next()
                    if alias[0] != "var":
                        raise SparqlError("aggregate needs AS ?alias")
                    self.eat_op(")")
                    if opts.get("distinct") and fn not in ("COUNT", "SUM", "AVG"):
                        raise SparqlError(f"DISTINCT not supported for {fn}")
                    items.append(("agg", fn, arg, alias[1][1:], opts))
                else:
                    break
            if not items:
                raise SparqlError("SELECT needs ?vars, aggregates, or *")
            ast.select_items = items
        self._where_and_modifiers(ast, subquery=subquery)
        return ast

    def _union_ahead(self) -> bool:
        """Lookahead from a '{' at the current position: does its
        matching '}' have UNION right after?  Distinguishes a
        `{ g1 } UNION { g2 }` chain from a nested group / subquery as
        the group's first element."""
        depth = 0
        for j in range(self.i, len(self.toks)):
            kind, v = self.toks[j]
            if (kind, v) == ("op", "{"):
                depth += 1
            elif (kind, v) == ("op", "}"):
                depth -= 1
                if depth == 0:
                    nk, nv = self.toks[min(j + 1, len(self.toks) - 1)]
                    return nk == "word" and nv.upper() == "UNION"
        return False

    def _dataset_clause(self, ast: _Ast, subquery: bool = False):
        """``(FROM [NAMED] <iri>)*`` before WHERE (§13.2).  Subqueries
        and update WHEREs share the outer dataset — a FROM there is a
        grammar error."""
        while self.at_word("FROM"):
            if subquery:
                raise SparqlError(
                    "FROM is not allowed here — subqueries and update "
                    "WHERE clauses share the outer dataset"
                )
            self.next()
            named = False
            if self.at_word("NAMED"):
                self.next()
                named = True
            kind, v = self.next()
            if kind == "iri":
                iri = v[1:-1]
            elif kind == "pname":
                iri = self.expand_pname(v)
            else:
                raise SparqlError(f"FROM needs an <iri>, got {v!r}")
            (ast.from_named if named else ast.from_graphs).append(iri)

    def _where_and_modifiers(self, ast: _Ast, where_optional: bool = False,
                             subquery: bool = False):
        self._dataset_clause(ast, subquery)
        if self.at_word("WHERE"):
            self.next()
        elif not where_optional:
            raise SparqlError(f"expected WHERE, got {self.peek()[1]!r}")
        self.eat_op("{")
        if self.peek() == ("op", "{") and self._union_ahead():
            while True:  # { g1 } UNION { g2 } ...
                self.eat_op("{")
                g = _Group()
                self.group(g)
                ast.branches.append(g)
                if self.at_word("UNION"):
                    self.next()
                    continue
                break
            self.eat_op("}")
        else:
            g = _Group()
            self.group(g)
            ast.branches.append(g)
        self.modifiers(ast)
        if not subquery and self.peek()[0] != "eof":
            raise SparqlError(f"trailing input at {self.peek()[1]!r}")

    def pattern_block(self, what: str) -> "_Group":
        """Triple patterns of an OPTIONAL/EXISTS/MINUS/GRAPH block,
        returned as a pattern-only ``_Group``.  Any property path is
        allowed in OPTIONAL/EXISTS/MINUS — the blocks compile through
        the same group compiler as the main WHERE, so closures get
        their pair-table/BFS plans there too.  Pattern-shaped GRAPH
        blocks rewrite to quads against the graph term; a GRAPH <iri>
        block with closures compiles against the graph-FILTERED triple
        set instead (g.graph_groups).  GRAPH ?var with closures raises:
        the closure would have to run once per graph binding."""
        self.eat_op("{")
        scratch = _Group()
        while self.peek() != ("op", "}"):
            s = self.term("s")
            node = self.path_expr()
            o = self.term("o")
            self._plant_path(scratch, s, node, o)
            if self.peek() == ("op", "."):
                self.next()
        self.next()  # }
        if not (scratch.patterns or scratch.paths or scratch.generic_paths):
            raise SparqlError(f"empty {what} block")
        return scratch

    def group(self, g: _Group):
        while True:
            kind, v = self.peek()
            if kind == "op" and v == "}":
                self.next()
                return
            if kind == "op" and v == "{":
                # nested element: { SELECT ... } subquery or a nested
                # group graph pattern { patterns ... }
                self.next()
                if self.at_word("SELECT"):
                    g.subqueries.append(self.select_core(subquery=True))
                    self.eat_op("}")
                else:
                    ng = _Group()
                    self.group(ng)  # consumes the closing }
                    g.nested.append(ng)
            elif self.at_word("FILTER"):
                self.next()
                if self.at_word("NOT", "EXISTS"):  # FILTER [NOT] EXISTS {...}
                    positive = self.eat_word("NOT", "EXISTS") == "EXISTS"
                    if not positive:
                        self.eat_word("EXISTS")
                    g.exists.append((positive, self.pattern_block("EXISTS")))
                else:
                    self.eat_op("(")
                    g.filters.append(self.expr())
                    self.eat_op(")")
            elif self.at_word("OPTIONAL"):
                self.next()
                g.optionals.append(self.pattern_block("OPTIONAL"))
            elif self.at_word("MINUS"):
                self.next()
                g.minus.append(self.pattern_block("MINUS"))
            elif self.at_word("GRAPH"):
                self.next()
                kind2, v2 = self.next()
                if kind2 == "var":
                    gterm = v2
                elif kind2 == "iri":
                    gterm = v2[1:-1]
                elif kind2 == "pname":
                    gterm = self.expand_pname(v2)
                else:
                    raise SparqlError("GRAPH needs <iri> or ?var")
                blk = self.pattern_block("GRAPH")
                if blk.paths or blk.generic_paths:
                    if kind2 == "var":
                        raise SparqlError(
                            "property-path closures are not supported "
                            "inside GRAPH ?var blocks (the closure would "
                            "run once per graph binding) — name the graph"
                        )
                    # the whole block (plain patterns included) compiles
                    # against the graph-filtered triple set
                    g.graph_groups.append((gterm, blk))
                else:
                    for s, p, o in blk.patterns:
                        g.patterns.append((s, p, o, gterm))
            elif self.at_word("BIND"):
                self.next()
                self.eat_op("(")
                ex = self.operand()
                self.eat_word("AS")
                var = self.next()
                if var[0] != "var":
                    raise SparqlError("BIND needs AS ?var")
                self.eat_op(")")
                g.binds.append((var[1][1:], ex))
            elif self.at_word("VALUES"):
                self.next()
                if self.peek() == ("op", "("):  # VALUES (?a ?b) { (x y) … }
                    self.next()
                    vars_ = []
                    while self.peek()[0] == "var":
                        vars_.append(self.next()[1][1:])
                    self.eat_op(")")
                    if not vars_:
                        raise SparqlError("VALUES needs at least one ?var")
                    self.eat_op("{")
                    rows = []
                    while self.peek() == ("op", "("):
                        self.next()
                        row = tuple(self._values_cell() for _ in vars_)
                        self.eat_op(")")
                        rows.append(row)
                    if self.peek() != ("op", "}"):
                        raise SparqlError(
                            "VALUES rows must be '(' term… ')' groups"
                        )
                    self.next()  # }
                    if not rows:
                        raise SparqlError("empty VALUES block")
                    g.values.append((vars_, rows))
                else:
                    var = self.next()
                    if var[0] != "var":
                        raise SparqlError("VALUES needs a ?var")
                    self.eat_op("{")
                    vals = []
                    while self.peek() != ("op", "}"):
                        vals.append(self._values_cell())
                    self.next()  # }
                    if not vals:
                        raise SparqlError("empty VALUES block")
                    g.values.append(([var[1][1:]], [(v,) for v in vals]))
            else:
                self._qt_ok = True
                s = self.term("s")
                path = self.path_expr()
                o = self.term("o")
                self._qt_ok = False
                # quoted-triple expansions FIRST (their subject/object
                # patterns bind the shared vars), then the base pattern
                # that uses the ?_qt vars — keeps the join tree connected
                self._flush_qt(g)
                self._plant_path(g, s, path, o)
            if self.peek() == ("op", "."):
                self.next()

    _PATH_ATOMS = ("pred", "ipred", "nps", "inps")

    def _flush_qt(self, g: "_Group"):
        """Expand collected << s p o >> patterns: each quoted triple adds
        its four reification patterns on the fresh ?_qt var (the exact
        encoding rdf_spark.parsing's star decoder materializes), so star
        queries run against star-decoded stores with zero extra state."""
        from rdf_spark.parsing import (
            RDF_OBJECT, RDF_PREDICATE, RDF_STATEMENT, RDF_SUBJECT,
        )
        for var, qs, qp, qo in self._pending_qt:
            # subject/object first: they bind the variables shared with
            # the rest of the group, so the bgp join tree stays
            # connected (the type pattern alone shares only ?_qt)
            g.patterns.append((var, RDF_SUBJECT, qs))
            g.patterns.append((var, RDF_PREDICATE, qp))
            g.patterns.append((var, RDF_OBJECT, qo))
            g.patterns.append((var, RDF_TYPE, RDF_STATEMENT))
        self._pending_qt.clear()

    def _plant_path(self, g: _Group, s: str, node: tuple, o: str):
        """Route one parsed path to the cheapest compilation shape: plain
        patterns (atoms, atom sequences, uniform predicate alternations),
        the anchored-BFS list (single-predicate closures with a constant
        endpoint), or the generic pair-table evaluator (everything else —
        grouped mixes, compound/negated-set closures, unanchored
        closures)."""
        tag = node[0]
        if tag == "pred":
            g.patterns.append((s, node[1], o))
            return
        if tag == "ipred":
            g.patterns.append((o, node[1], s))
            return
        if tag == "nps":
            g.patterns.append((s, frozenset(node[1]), o))
            return
        if tag == "inps":
            g.patterns.append((o, frozenset(node[1]), s))
            return
        if tag == "alt":
            kids = node[1]
            tags = {k[0] for k in kids}
            preds = tuple(k[1] for k in kids)
            # an IN-list pattern; a repeated predicate is a repeated bag
            # branch (§18.4) and takes the generic (union) evaluator
            if tags in ({"pred"}, {"ipred"}) and len(set(preds)) == len(preds):
                g.patterns.append(
                    (s, preds, o) if tags == {"pred"} else (o, preds, s))
                return
        elif tag == "seq":
            if all(k[0] in self._PATH_ATOMS for k in node[1]):
                # exact SPARQL translation: fresh variable per hop; an
                # inverse segment just flips that hop's direction
                cur = s
                for i, seg in enumerate(node[1]):
                    last = i == len(node[1]) - 1
                    if last:
                        nxt = o
                    else:
                        nxt = f"?_pp{self._ppn}"
                        self._ppn += 1
                    if seg[0] == "ipred":
                        g.patterns.append((nxt, seg[1], cur))
                    elif seg[0] == "nps":
                        g.patterns.append((cur, frozenset(seg[1]), nxt))
                    elif seg[0] == "inps":
                        g.patterns.append((nxt, frozenset(seg[1]), cur))
                    else:
                        g.patterns.append((cur, seg[1], nxt))
                    cur = nxt
                return
        elif tag == "closure":
            inner = node[1]
            anchored = not s.startswith("?") or not o.startswith("?")
            if inner[0] in ("pred", "ipred") and anchored \
                    and node[2] != "?":
                if inner[0] == "ipred":  # X ^p+ Y ≡ Y p+ X
                    s, o = o, s
                g.paths.append((s, inner[1], node[2], o))
                return
        g.generic_paths.append((s, node, o))

    # --- path grammar (SPARQL 1.1 §18.2.2.4 precedence) ---
    #   PathAlternative ::= PathSequence ('|' PathSequence)*
    #   PathSequence    ::= PathEltOrInverse ('/' PathEltOrInverse)*
    #   PathEltOrInverse::= PathElt | '^' PathElt
    #   PathElt         ::= PathPrimary ('+'|'*'|'?')?
    #   PathPrimary     ::= iri | 'a' | '!' NPS | '(' PathAlternative ')'
    # AST nodes: ('pred', iri) ('ipred', iri) ('nps', [iris])
    # ('inps', [iris]) ('alt', [nodes]) ('seq', [nodes])
    # ('closure', node, '+'|'*'|'?').  Inverses are pushed to the leaves at
    # parse time (_path_inverse) so the compiler only sees the six tags.

    def path_expr(self):
        """Predicate-position path; a plain ?var predicate is not a path."""
        if self.peek()[0] == "var":
            return ("pred", self.term("p"))
        return self.path_alt()

    def path_alt(self):
        segs = [self.path_seq()]
        while self.peek() == ("op", "|"):
            self.next()
            segs.append(self.path_seq())
        return segs[0] if len(segs) == 1 else ("alt", segs)

    def path_seq(self):
        segs = [self.path_elt_or_inverse()]
        while self.peek() == ("op", "/"):
            self.next()
            segs.append(self.path_elt_or_inverse())
        return segs[0] if len(segs) == 1 else ("seq", segs)

    def path_elt_or_inverse(self):
        if self.peek() == ("op", "^"):
            self.next()
            return _path_inverse(self.path_elt())
        return self.path_elt()

    def path_elt(self):
        prim = self.path_prim()
        if self.peek() in (("op", "+"), ("op", "*"), ("op", "?")):
            return ("closure", prim, self.next()[1])
        return prim

    def path_prim(self):
        if self.peek() == ("op", "("):
            self.next()
            inner = self.path_alt()
            self.eat_op(")")
            return inner
        if self.peek() == ("op", "!"):  # negated property set
            self.next()
            iris = []
            if self.peek() == ("op", "("):
                self.next()
                while True:
                    iris.append(self._path_iri("negated property sets take "
                                               "plain forward predicates only"))
                    if self.peek() == ("op", "|"):
                        self.next()
                        continue
                    break
                self.eat_op(")")
            else:
                iris.append(self._path_iri("negated property sets take "
                                           "plain forward predicates only"))
            return ("nps", sorted(iris))
        return ("pred", self._path_iri("bad path element"))

    def _path_iri(self, err: str) -> str:
        kind, v = self.next()
        if kind == "iri":
            return v[1:-1]
        if kind == "pname":
            return self.expand_pname(v)
        if kind == "word" and v == "a":
            return RDF_TYPE
        raise SparqlError(f"{err}: {v!r}")

    def term(self, position: str) -> str:
        kind, v = self.next()
        if kind == "op" and v == "<" and self.peek() == ("op", "<"):
            # SPARQL-star quoted triple pattern << s p o >> — desugars to
            # the reification encoding the star DECODER emits (one fresh
            # ?_qt var + 4 patterns, flushed into the enclosing group).
            # Two single '<' op tokens occur in no other legal position.
            if not self._qt_ok or position == "p":
                raise SparqlError(
                    "quoted triple pattern only allowed in subject/object "
                    "position of a group pattern")
            self.next()  # second '<'
            qs = self.term("s")
            qp = self.term("p")
            qo = self.term("o")
            self.eat_op(">")
            self.eat_op(">")
            var = f"?_qt{self._qtn}"
            self._qtn += 1
            self._pending_qt.append((var, qs, qp, qo))
            return var
        if kind == "var":
            return v  # keep '?', bgp_match speaks this dialect
        if kind == "iri":
            return v[1:-1]
        if kind == "pname":
            return self.expand_pname(v)
        if kind == "word" and v == "a" and position == "p":
            return RDF_TYPE
        if kind == "string" and position == "o":
            return _unescape_string(v[1:-1])
        if kind == "number" and position == "o":
            return v
        raise SparqlError(f"bad {position}-term {v!r}")

    def _values_cell(self) -> str | None:
        """One VALUES row cell: a term, or UNDEF (§10.2) → None — the
        variable stays unbound for that row."""
        if self.peek()[0] == "word" and self.peek()[1].upper() == "UNDEF":
            self.next()
            return None
        return self.term("o")

    def triple(self) -> tuple[str, str, str]:
        return (self.term("s"), self.term("p"), self.term("o"))

    def expr(self):
        left = self.and_expr()
        while self.peek() == ("op", "||"):
            self.next()
            left = ("or", left, self.and_expr())
        return left

    def and_expr(self):
        left = self.unary()
        while self.peek() == ("op", "&&"):
            self.next()
            left = ("and", left, self.unary())
        return left

    def unary(self):
        if self.peek() == ("op", "!"):
            self.next()
            return ("not", self.unary())
        if self.peek() == ("op", "("):
            # ambiguous: boolean grouping `(?a > 1 || ...)` vs an
            # arithmetic-grouped comparison `(?a + 1) * 2 > ?b`.  Try the
            # boolean read first; on failure rewind and parse as an
            # operand comparison (the token index makes this a cheap
            # backtrack).
            mark = self.i
            try:
                self.next()
                e = self.expr()
                self.eat_op(")")
                return e
            except SparqlError:
                self.i = mark
        if self.at_word("REGEX"):
            self.next()
            self.eat_op("(")
            var = self.operand()
            self.eat_op(",")
            pat = self.operand()
            flags = ""
            if self.peek() == ("op", ","):
                self.next()
                fl = self.operand()
                # the XQuery flags Java regex shares as inline modifiers
                if fl[0] != "str" or (set(fl[1]) - set("ism")) or not fl[1]:
                    raise SparqlError('regex flags must be non-empty, "ism" only')
                flags = fl[1]
            self.eat_op(")")
            if var[0] != "var" or pat[0] != "str":
                raise SparqlError("regex(?var, \"pattern\") expected")
            return ("regex", var[1], pat[1], flags)
        if self.at_word("BOUND"):
            self.next()
            self.eat_op("(")
            var = self.operand()
            self.eat_op(")")
            if var[0] != "var":
                raise SparqlError("bound(?var) expected")
            return ("bound", var[1])
        if self.at_word("CONTAINS", "STRSTARTS", "STRENDS", "LANGMATCHES"):
            fn = self.next()[1].upper()
            self.eat_op("(")
            a = self.operand()
            self.eat_op(",")
            b = self.operand()
            self.eat_op(")")
            if fn == "LANGMATCHES":
                return ("langmatches", a, b)
            return ("strfn2", fn, a, b)
        if self.at_word("SAMETERM"):
            self.next()
            self.eat_op("(")
            a = self.operand()
            self.eat_op(",")
            b = self.operand()
            self.eat_op(")")
            if a[0] != "var" or b[0] != "var":
                raise SparqlError("sameTerm(?a, ?b) expected")
            return ("sameterm", a[1], b[1])
        if self.at_word("ISIRI", "ISURI", "ISBLANK", "ISLITERAL", "ISNUMERIC"):
            fn = self.next()[1].upper()
            self.eat_op("(")
            var = self.next()
            if var[0] != "var":
                raise SparqlError(f"{fn}(?var) expected")
            self.eat_op(")")
            return ("istest", "ISIRI" if fn == "ISURI" else fn, var[1][1:])
        left = self.operand()
        if self.at_word("IN"):
            self.next()
            self.eat_op("(")
            vals = [self.operand()]
            while self.peek() == ("op", ","):
                self.next()
                vals.append(self.operand())
            self.eat_op(")")
            kinds = {x[0] for x in vals}
            if not kinds <= {"str", "num"}:
                raise SparqlError("IN list takes string/number constants")
            if len(kinds) > 1:
                # a mixed list would force the column to double AND keep a
                # string member — an ANSI runtime cast error, not a match
                raise SparqlError("IN list cannot mix strings and numbers")
            return ("in", left, [x[1] for x in vals])
        kind, v = self.next()
        if kind != "op" or v not in ("=", "!=", "<", "<=", ">", ">="):
            raise SparqlError(f"expected comparison operator, got {v!r}")
        right = self.operand()
        return ("cmp", v, left, right)

    def operand(self):
        """Arithmetic operand grammar (round-5): additive over
        multiplicative over primary — ``?a + ?b * 2`` groups as
        ``?a + (?b * 2)``; '(' groups; arithmetic evaluates numerically
        (lexicals cast to double), '/' compiles to try_divide (SPARQL:
        division by zero is an error → the solution drops, which NULL
        reproduces through any comparison/filter)."""
        left = self._operand_mult()
        while self.peek() in (("op", "+"), ("op", "-")):
            sign = self.next()[1]
            left = ("arith", sign, left, self._operand_mult())
        return left

    def _operand_mult(self):
        left = self.operand_primary()
        while self.peek() in (("op", "*"), ("op", "/")):
            sign = self.next()[1]
            left = ("arith", sign, left, self.operand_primary())
        return left

    def operand_primary(self):
        kind, v = self.next()
        if kind == "op" and v == "(":
            e = self.operand()
            self.eat_op(")")
            return e
        if kind == "var":
            return ("var", v[1:])
        if kind == "string":
            return ("str", _unescape_string(v[1:-1]))
        if kind == "number":
            return ("num", float(v))
        if kind == "word" and v.upper() in (
            "STRLEN", "LCASE", "UCASE", "STR",
            "MD5", "SHA1", "SHA256", "SHA384", "SHA512", "ENCODE_FOR_URI",
        ):
            fn = v.upper()
            self.eat_op("(")
            inner = self.operand()
            self.eat_op(")")
            return ("fn", fn, inner)
        if kind == "word" and v.upper() in ("ABS", "CEIL", "FLOOR", "ROUND"):
            fn = v.upper()
            self.eat_op("(")
            inner = self.operand()
            self.eat_op(")")
            return ("numfn", fn, inner)
        if kind == "word" and v.upper() in (
            "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS", "TZ",
        ):
            fn = v.upper()
            self.eat_op("(")
            inner = self.operand()
            self.eat_op(")")
            return ("dtfn", fn, inner)
        if kind == "word" and v.upper() in ("STRBEFORE", "STRAFTER"):
            fn = v.upper()
            self.eat_op("(")
            x = self.operand()
            self.eat_op(",")
            sep = self.operand()
            self.eat_op(")")
            if sep[0] != "str" or not sep[1]:
                raise SparqlError(
                    f"{fn} separator must be a non-empty string constant"
                )
            return ("strslice", fn, x, sep[1])
        if kind == "word" and v.upper() in ("LANG", "DATATYPE"):
            fn = v.upper()
            self.eat_op("(")
            arg = self.next()
            if arg[0] != "var":
                raise SparqlError(f"{fn}() takes a ?var")
            self.eat_op(")")
            return ("meta", fn, arg[1][1:])
        if kind == "word" and v.upper() in ("IRI", "URI"):
            # term constructor §17.4.2.{5,6}: the value is the lexical;
            # the BIND compiler synthesizes kind metadata for the bound
            # var so isIRI/DATATYPE/sameTerm work on it downstream
            self.eat_op("(")
            inner = self.operand()
            self.eat_op(")")
            return ("mkterm", "IRI", inner, None)
        if kind == "word" and v.upper() == "STRDT":
            self.eat_op("(")
            inner = self.operand()
            self.eat_op(",")
            k2, v2 = self.next()
            if k2 == "iri":
                dt = v2[1:-1]
            elif k2 == "pname":
                dt = self.expand_pname(v2)
            else:
                raise SparqlError("STRDT datatype must be an IRI constant")
            self.eat_op(")")
            return ("mkterm", "STRDT", inner, dt)
        if kind == "word" and v.upper() == "STRLANG":
            self.eat_op("(")
            inner = self.operand()
            self.eat_op(",")
            lt = self.next()
            if lt[0] != "string":
                raise SparqlError("STRLANG tag must be a string constant")
            self.eat_op(")")
            tag = _unescape_string(lt[1][1:-1])
            if not re.fullmatch(r"[A-Za-z]+(-[A-Za-z0-9]+)*", tag):
                raise SparqlError(f"STRLANG: malformed language tag {tag!r}")
            return ("mkterm", "STRLANG", inner, tag)
        if kind == "word" and v.upper() == "CONCAT":
            self.eat_op("(")
            parts = [self.operand()]
            while self.peek() == ("op", ","):
                self.next()
                parts.append(self.operand())
            self.eat_op(")")
            return ("concat", parts)
        if kind == "word" and v.upper() == "SUBSTR":
            self.eat_op("(")
            x = self.operand()
            self.eat_op(",")
            start = self.operand()
            length = None
            if self.peek() == ("op", ","):
                self.next()
                length = self.operand()
            self.eat_op(")")
            if start[0] != "num" or (length and length[0] != "num"):
                raise SparqlError("SUBSTR start/length must be numbers")
            return ("substr", x, int(start[1]),
                    int(length[1]) if length else None)
        if kind == "word" and v.upper() == "REPLACE":
            self.eat_op("(")
            x = self.operand()
            self.eat_op(",")
            pat = self.operand()
            self.eat_op(",")
            rep = self.operand()
            self.eat_op(")")
            if pat[0] != "str" or rep[0] != "str":
                raise SparqlError("REPLACE needs string pattern/replacement")
            return ("replace", x, pat[1], rep[1])
        if kind == "word" and v.upper() == "COALESCE":
            self.eat_op("(")
            parts = [self.operand()]
            while self.peek() == ("op", ","):
                self.next()
                parts.append(self.operand())
            self.eat_op(")")
            return ("coalesce", parts)
        if kind == "word" and v.upper() == "IF":
            self.eat_op("(")
            cond = self.expr()
            self.eat_op(",")
            then = self.operand()
            self.eat_op(",")
            other = self.operand()
            self.eat_op(")")
            return ("if", cond, then, other)
        raise SparqlError(f"bad operand {v!r}")

    def modifiers(self, ast: _Ast):
        if self.at_word("GROUP"):
            self.next()
            self.eat_word("BY")
            while True:
                kind, v = self.peek()
                if kind == "var":
                    self.next()
                    ast.group_by.append(v[1:])
                elif self.peek() == ("op", "("):
                    # GroupCondition '(' Expression AS Var ')' (§19.8):
                    # the key expression, computed pre-aggregation
                    self.next()
                    e = self.operand()
                    self.eat_word("AS")
                    kind2, v2 = self.next()
                    if kind2 != "var":
                        raise SparqlError(
                            "GROUP BY (expr AS ?var) needs a variable"
                        )
                    self.eat_op(")")
                    ast.group_exprs.append((v2[1:], e))
                    ast.group_by.append(v2[1:])
                else:
                    break
            if not ast.group_by:
                raise SparqlError("empty GROUP BY")
        if self.at_word("HAVING"):
            self.next()
            self.eat_op("(")
            ast.having = self.expr()
            self.eat_op(")")
        if self.at_word("ORDER"):
            self.next()
            self.eat_word("BY")
            while True:
                kind, v = self.peek()
                if kind == "var":
                    self.next()
                    ast.order.append((v[1:], True))
                elif self.at_word("ASC", "DESC"):
                    # full OrderCondition: ASC/DESC( expression ) — any
                    # operand (STRLEN(?v), arithmetic, …), not just vars
                    asc = self.next()[1].upper() == "ASC"
                    self.eat_op("(")
                    key = self.operand()
                    self.eat_op(")")
                    ast.order.append(
                        (key[1], asc) if key[0] == "var" else (key, asc)
                    )
                else:
                    break
            if not ast.order:
                raise SparqlError("empty ORDER BY")
        if self.at_word("LIMIT"):
            self.next()
            ast.limit = self._int("LIMIT")
        if self.at_word("OFFSET"):
            self.next()
            ast.offset = self._int("OFFSET")

    def _int(self, what: str) -> int:
        kind, v = self.next()
        # a non-negative integer NUMBER token; "1.5", "-", or a word must
        # be a SparqlError, not a ValueError out of int()
        if kind != "number" or not v.isdigit():
            raise SparqlError(f"{what} needs a non-negative integer, got {v!r}")
        return int(v)


def _operand_col(op, numeric: bool) -> Column:
    kind = op[0]
    if kind == "var":
        c = F.col(op[1])
        return c.cast("double") if numeric else c
    if kind == "fn":
        _, fn, inner = op
        c = _operand_col(inner, False)
        if fn == "STRLEN":
            return F.length(c)  # numeric by nature — no lexical cast
        if fn == "STR":
            return c  # this dialect's bindings ARE lexical forms
        if fn == "MD5":
            return F.md5(c.cast("binary"))
        if fn == "SHA1":
            return F.sha1(c.cast("binary"))
        if fn in ("SHA256", "SHA384", "SHA512"):
            return F.sha2(c.cast("binary"), int(fn[3:]))
        if fn == "ENCODE_FOR_URI":
            # SPARQL §17.4.2.8 / XPath fn:encode-for-uri: percent-encode
            # everything outside RFC 3986 unreserved [A-Za-z0-9._~-],
            # UTF-8 bytes, UPPERCASE hex.  url_encode (java URLEncoder)
            # differs on exactly three counts, each fixed up: ' '→'+'
            # (must be %20), '*' kept (must be %2A), '~'→%7E (must stay
            # bare).  An input literal "%7E" encodes to %257E, which the
            # last replace cannot touch (no bare '%7E' substring).
            enc = F.url_encode(c)
            enc = F.replace(enc, F.lit("+"), F.lit("%20"))
            enc = F.replace(enc, F.lit("*"), F.lit("%2A"))
            return F.replace(enc, F.lit("%7E"), F.lit("~"))
        return F.lower(c) if fn == "LCASE" else F.upper(c)
    if kind == "numfn":
        _, fn, inner = op
        c = _operand_col(inner, True)
        if fn == "ABS":
            return F.abs(c)
        if fn == "CEIL":  # XPath fn:ceiling/floor return the argument's
            return F.ceil(c).cast("double")  # type; inputs are doubles here
        if fn == "FLOOR":
            return F.floor(c).cast("double")
        # XPath fn:round ties toward +inf (round(-2.5) = -2); both Spark's
        # and DuckDB's native round() tie away from zero (-3), so compile
        # to floor(x + 0.5) — identical in both engines AND spec-correct
        return F.floor(c + F.lit(0.5)).cast("double")
    if kind == "dtfn":
        # SPARQL §17.4.5 date/time accessors over xsd:dateTime lexicals.
        # TZ is pure string surgery (the lexical's own timezone suffix,
        # "" when absent, per spec); the component accessors parse via
        # try_to_timestamp (Spark 4 ANSI: an unparseable lexical → NULL
        # → the solution drops through any filter, matching SPARQL's
        # evaluation-error semantics).  SECONDS returns the integral
        # seconds as a long (spec says xsd:decimal with fraction; this
        # dialect's corpus lexicals are second-granular — documented
        # divergence).
        _, fn, inner = op
        c = _operand_col(inner, False)
        if fn == "TZ":
            return F.regexp_extract(c, r"(Z|[+-]\d{2}:\d{2})$", 1)
        t = F.try_to_timestamp(c)
        part = {
            "YEAR": F.year, "MONTH": F.month, "DAY": F.dayofmonth,
            "HOURS": F.hour, "MINUTES": F.minute, "SECONDS": F.second,
        }[fn](t)
        return part.cast("long")
    if kind == "strslice":
        _, fn, x, sep = op
        c = _operand_col(x, False)
        pos = F.instr(c, sep)
        if fn == "STRBEFORE":  # SPARQL: "" when the separator is absent
            return F.when(pos > 0, F.substring(c, F.lit(1), pos - 1)).otherwise(
                F.lit("")
            )
        return F.when(
            pos > 0, F.substring(c, pos + F.lit(len(sep)), F.lit(2**31 - 1))
        ).otherwise(F.lit(""))
    if kind == "concat":
        return F.concat(*[_operand_col(p, False) for p in op[1]])
    if kind == "substr":  # SPARQL substr is 1-based, like F.substring
        _, x, start, length = op
        c = _operand_col(x, False)
        return F.substring(c, start, length if length is not None else 2**31 - 1)
    if kind == "replace":  # SPARQL REPLACE is regex-based
        _, x, pat, rep = op
        return F.regexp_replace(_operand_col(x, False), pat, rep)
    if kind == "arith":
        _, sign, a, b = op
        ca, cb = _operand_col(a, True), _operand_col(b, True)
        if sign == "+":
            return ca + cb
        if sign == "-":
            return ca - cb
        if sign == "*":
            return ca * cb
        # SPARQL: division by zero is an evaluation error → the solution
        # drops; try_divide's NULL reproduces that through any filter
        # (and avoids Spark 4 ANSI's hard error)
        return F.try_divide(ca, cb)
    if kind == "coalesce":
        return F.coalesce(*[_operand_col(p, numeric) for p in op[1]])
    if kind == "if":
        _, cond, then, other = op
        return F.when(_compile_expr(cond), _operand_col(then, numeric)).otherwise(
            _operand_col(other, numeric)
        )
    if kind == "mkterm":
        # the constructed term's VALUE is its lexical form (this
        # dialect's bindings are lexicals); kind/dt/lang metadata is
        # synthesized at the BIND site (_compile_group)
        return _operand_col(op[2], False)
    if kind == "meta":
        _, fn, var = op
        kindc = F.col(f"_meta_kind_{var}")
        lang = F.col(f"_meta_lang_{var}")
        is_lit = kindc == str(KIND_LITERAL)
        if fn == "LANG":  # "" for lang-less literals, NULL for non-literals
            return F.when(is_lit, F.coalesce(lang, F.lit(""))).otherwise(
                F.lit(None).cast("string")
            )
        # DATATYPE: explicit tag, else rdf:langString / xsd:string (RDF 1.1)
        return F.when(
            is_lit,
            F.coalesce(
                F.col(f"_meta_dt_{var}"),
                F.when(
                    lang.isNotNull() & (lang != ""), F.lit(RDF_LANG_STRING)
                ).otherwise(F.lit(XSD_STRING)),
            ),
        ).otherwise(F.lit(None).cast("string"))
    return F.lit(op[1])


def _operand_vars(op, meta_only: bool = False) -> set[str]:
    if op[0] == "var":
        return set() if meta_only else {op[1]}
    if op[0] in ("fn", "numfn", "dtfn", "mkterm"):
        return _operand_vars(op[2], meta_only)
    if op[0] == "strslice":
        return _operand_vars(op[2], meta_only)
    if op[0] == "meta":
        return {op[2]}
    if op[0] in ("concat", "coalesce"):
        out: set[str] = set()
        for p in op[1]:
            out |= _operand_vars(p, meta_only)
        return out
    if op[0] in ("substr", "replace"):
        return _operand_vars(op[1], meta_only)
    if op[0] == "arith":
        return _operand_vars(op[2], meta_only) | _operand_vars(op[3], meta_only)
    if op[0] == "if":
        return (
            _expr_vars(op[1], meta_only)
            | _operand_vars(op[2], meta_only)
            | _operand_vars(op[3], meta_only)
        )
    return set()


def _expr_vars(e, meta_only: bool = False) -> set[str]:
    """Variables referenced by a boolean expr; with ``meta_only`` just the
    ones inside LANG()/DATATYPE() (they need carried metadata columns)."""
    tag = e[0]
    if tag in ("or", "and"):
        return _expr_vars(e[1], meta_only) | _expr_vars(e[2], meta_only)
    if tag == "not":
        return _expr_vars(e[1], meta_only)
    if tag in ("regex", "bound"):
        return set() if meta_only else {e[1]}
    if tag == "istest":
        return {e[2]}  # needs the carried kind (and dt) columns
    if tag == "sameterm":
        return {e[1], e[2]}  # full term identity needs kind/dt/lang
    if tag == "strfn2":
        return _operand_vars(e[2], meta_only) | _operand_vars(e[3], meta_only)
    if tag == "langmatches":
        return _operand_vars(e[1], meta_only) | _operand_vars(e[2], meta_only)
    if tag == "in":
        return _operand_vars(e[1], meta_only)
    if tag == "cmp":
        return _operand_vars(e[2], meta_only) | _operand_vars(e[3], meta_only)
    return set()


def _group_needs_meta(g: _Group) -> bool:
    # vars bound by a term constructor get SYNTHESIZED metadata at the
    # BIND site — only meta usage over other vars needs the store's
    # kind/dt/lang columns carried through bgp_match
    made = {var for var, ex in g.binds if ex[0] == "mkterm"}
    need: set[str] = set()
    for f in g.filters:
        need |= _expr_vars(f, meta_only=True)
    for _, ex in g.binds:
        need |= _operand_vars(ex, meta_only=True)
    return bool(need - made)


def _compile_expr(e) -> Column:
    tag = e[0]
    if tag == "or":
        return _compile_expr(e[1]) | _compile_expr(e[2])
    if tag == "and":
        return _compile_expr(e[1]) & _compile_expr(e[2])
    if tag == "not":
        return ~_compile_expr(e[1])
    if tag == "regex":
        pat = f"(?{e[3]}){e[2]}" if len(e) > 3 and e[3] else e[2]
        return F.col(e[1]).rlike(pat)
    if tag == "bound":
        return F.col(e[1]).isNotNull()
    if tag == "istest":
        _, fn, var = e
        kindc = F.col(f"_meta_kind_{var}")
        if fn == "ISIRI":
            return kindc == str(KIND_IRI)
        if fn == "ISBLANK":
            return kindc == str(KIND_BLANK)
        if fn == "ISLITERAL":
            return kindc == str(KIND_LITERAL)
        # ISNUMERIC: a literal whose datatype is an XSD numeric type
        # (lexical validity is the decoder's responsibility upstream).
        # A dt-less (plain/lang) literal has a NULL tag — isin would
        # yield NULL and poison a surrounding NOT; coalesce to False.
        return (kindc == str(KIND_LITERAL)) & F.coalesce(
            F.col(f"_meta_dt_{var}").isin(list(_XSD_NUMERIC)), F.lit(False)
        )
    if tag == "sameterm":
        # exact RDF term identity (SPARQL §17.4.1.8): lexical AND
        # kind/datatype/lang must all agree.  Unbound args are an
        # evaluation error → false (the solution drops), so the lexical
        # compare uses plain equality; the meta columns are legitimately
        # NULL for IRIs/plain literals, so those compare null-safely.
        _, a, b = e
        cond = F.col(a).isNotNull() & F.col(b).isNotNull() & (
            F.col(a) == F.col(b)
        )
        for part in ("kind", "dt", "lang"):
            cond = cond & F.col(f"_meta_{part}_{a}").eqNullSafe(
                F.col(f"_meta_{part}_{b}")
            )
        return cond
    if tag == "strfn2":
        _, fn, a, b = e
        ca, cb = _operand_col(a, False), _operand_col(b, False)
        if fn == "CONTAINS":
            return ca.contains(cb)
        return ca.startswith(cb) if fn == "STRSTARTS" else ca.endswith(cb)
    if tag == "langmatches":
        # basic language-range matching (RFC 4647): "*" matches any
        # non-empty tag, else case-insensitive exact or subtag-prefix
        _, a, b = e
        tag_c = F.lower(_operand_col(a, False))
        if b[0] == "str" and b[1] == "*":
            return (tag_c.isNotNull()) & (tag_c != "")
        rng = F.lower(_operand_col(b, False))
        return (tag_c == rng) | tag_c.startswith(F.concat(rng, F.lit("-")))
    if tag == "in":
        _, left, vals = e
        numeric = any(isinstance(x, float) for x in vals)
        return _operand_col(left, numeric).isin(vals)
    if tag == "cmp":
        _, op, a, b = e
        numeric = a[0] in ("num", "arith") or b[0] in ("num", "arith")
        ca, cb = _operand_col(a, numeric), _operand_col(b, numeric)
        return {
            "=": ca == cb, "!=": ca != cb, "<": ca < cb,
            "<=": ca <= cb, ">": ca > cb, ">=": ca >= cb,
        }[op]
    raise SparqlError(f"unknown expr node {tag}")


_PATH_MAX_ITER = 1000  # diameter guard; real graphs converge far sooner


def _path_inverse(node: tuple) -> tuple:
    """Push a '^' down to the leaves: inv(seq) reverses and inverts the
    segments, inv(alt) inverts each branch, inv(closure) inverts the
    inner path (equivalent per SPARQL: a reversed walk of p+ is a walk
    of (^p)+), atoms flip direction."""
    tag = node[0]
    if tag == "pred":
        return ("ipred", node[1])
    if tag == "ipred":
        return ("pred", node[1])
    if tag == "nps":
        return ("inps", node[1])
    if tag == "inps":
        return ("nps", node[1])
    if tag == "alt":
        return ("alt", [_path_inverse(k) for k in node[1]])
    if tag == "seq":
        return ("seq", [_path_inverse(k) for k in reversed(node[1])])
    if tag == "closure":
        return ("closure", _path_inverse(node[1]), node[2])
    raise SparqlError(f"cannot invert path node {tag}")


def _graph_nodes(triples: DataFrame) -> DataFrame:
    """Every term of the graph (subjects ∪ objects) — the SPARQL §9.1
    zero-length-path domain."""
    return (
        triples.select(F.col("s").alias("node"))
        .unionByName(triples.select(F.col("o").alias("node")))
        .distinct()
    )


def _reach_from(edges: DataFrame, start: str) -> DataFrame:
    """Nodes reachable from ``start`` by ≥1 edge of the ``(_src, _dst)``
    pair set.  A small distinct edge set (:mod:`rdf_spark.ops.fastpath`)
    is collected once and BFS'd in-process — the per-round
    localCheckpoint+count scheduling dominated anchored-closure queries;
    the output is bounded by the node count, so no output cap is needed.
    Bigger sets keep the iterate-to-fixpoint distributed BFS with
    per-round localCheckpoint, same shape as ops.graph.k_hop_neighbors.
    Local traversal mirrors SQL join semantics: a null node joins
    nothing downstream (reached, never expanded)."""

    def local(head):
        adj: dict = {}
        for r in head:
            adj.setdefault(r[0], set()).add(r[1])
        seen: set = set()
        stack = list(adj.get(start, ()))
        while stack:
            x = stack.pop()
            if x in seen:
                continue
            seen.add(x)
            if x is None:
                continue
            nxt = adj.get(x)
            if nxt:
                stack.extend(nxt)
        return fastpath.local_frame(
            edges.sparkSession,
            sorted(((v,) for v in seen), key=lambda t: t[0] or ""),
            "node string",
        )

    out, (edges,) = fastpath.try_local([edges.distinct()], local)
    if out is not None:
        return out
    frontier = (
        edges.filter(F.col("_src") == start)
        .select(F.col("_dst").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    visited = frontier
    n = frontier.count()
    for _ in range(_PATH_MAX_ITER):
        if n == 0:
            break
        nxt = (
            edges.join(frontier.withColumnRenamed("node", "_src"), "_src")
            .select(F.col("_dst").alias("node"))
            .distinct()
        )
        frontier = nxt.join(visited, "node", "left_anti").localCheckpoint(eager=True)
        n = frontier.count()
        visited = visited.unionByName(frontier).localCheckpoint(eager=True)
    return visited


def _reach_plus(triples: DataFrame, pred: str, start: str,
                reverse: bool = False) -> DataFrame:
    """Nodes reachable from ``start`` by ≥1 ``pred`` edge (transitive
    closure from one anchor).  With ``reverse`` the edges are followed
    backwards (for ``?v <p>+ <X>``)."""
    src, dst = ("o", "s") if reverse else ("s", "o")
    edges = triples.filter(F.col("p") == pred).select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst")
    )
    return _reach_from(edges, start)


#: output cap of the driver closure in _closure_pairs: a closure whose
#: PAIR SET outgrows it falls back to the distributed squaring, which
#: spills and parallelizes
_CLOSURE_LOCAL_MAX_OUT = 500_000


def _closure_pairs_local(pairs: list[tuple]) -> set | None:
    """In-process reachability closure matching the distributed
    semantics exactly: original pairs kept (nulls included), traversal
    never continues THROUGH a null node (SQL equality joins never match
    null), cycles yield their (a, a) pairs.  None past
    ``_CLOSURE_LOCAL_MAX_OUT`` pairs."""
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
    out = set(pairs)
    for start, direct in adj.items():
        seen: set = set()
        stack = list(direct)
        while stack:
            x = stack.pop()
            if x in seen:
                continue
            seen.add(x)
            if x is None:
                continue  # a null _dst joins nothing downstream
            nxt = adj.get(x)
            if nxt:
                stack.extend(nxt)
        out.update((start, y) for y in seen)
        if len(out) > _CLOSURE_LOCAL_MAX_OUT:
            return None
    return out


def _closure_pairs(edges: DataFrame) -> DataFrame:
    """The full transitive-closure pair set of ``(_src, _dst)`` edges.
    Set semantics per SPARQL §9.1 ALP.  The pair set is always finite;
    it is worst-case quadratic in the subgraph's node count — the cost
    of an unanchored closure query, not of this algorithm.

    Small subgraphs (distinct edges within :mod:`rdf_spark.ops.fastpath`'s
    cap, closure ≤ ``_CLOSURE_LOCAL_MAX_OUT`` pairs) are closed on the
    driver — one guarded collect replaces O(log diameter) self-join
    rounds whose per-round localCheckpoint+count scheduling dominated
    the wall.  Anything bigger uses iterative squaring: R ← R ∪ R∘R
    doubles the reachable path length per round (O(log diameter) rounds
    vs O(diameter) for edge-at-a-time semi-naive iteration); per-round
    localCheckpoint truncates lineage."""

    def local(head):
        closed = _closure_pairs_local([(r[0], r[1]) for r in head])
        if closed is None:
            return None
        return fastpath.local_frame(
            edges.sparkSession,
            sorted(closed, key=lambda t: (t[0] or "", t[1] or "")),
            "_src string, _dst string",
        )

    out, (result,) = fastpath.try_local([edges.distinct()], local)
    if out is not None:
        return out
    n = result.count()
    for _ in range(_PATH_MAX_ITER):
        if n == 0:
            break
        a, b = result.alias("a"), result.alias("b")
        step = a.join(b, F.col("a._dst") == F.col("b._src")).select(
            F.col("a._src").alias("_src"), F.col("b._dst").alias("_dst")
        )
        nxt = result.unionByName(step).distinct().localCheckpoint(eager=True)
        n2 = nxt.count()
        if n2 == n:  # R ⊆ nxt always, so equal count ⇒ fixpoint
            break
        result, n = nxt, n2
    return result


def _path_edges(triples: DataFrame, node: tuple) -> DataFrame:
    """Generic path-algebra evaluator: a path AST node → its pair table
    ``(_src, _dst)``.  alt/seq keep bag semantics (a duplicate derivation
    through different intermediates is a real duplicate solution, SPARQL
    §18.4); closure is a set (§9.1 ALP).  Atom/alternation leaves stay
    single scan-pushed filters of the triple table."""
    tag = node[0]
    if tag == "pred":
        return triples.filter(F.col("p") == node[1]).select(
            F.col("s").alias("_src"), F.col("o").alias("_dst")
        )
    if tag == "ipred":
        return triples.filter(F.col("p") == node[1]).select(
            F.col("o").alias("_src"), F.col("s").alias("_dst")
        )
    if tag == "nps":
        return triples.filter(~F.col("p").isin(list(node[1]))).select(
            F.col("s").alias("_src"), F.col("o").alias("_dst")
        )
    if tag == "inps":
        return triples.filter(~F.col("p").isin(list(node[1]))).select(
            F.col("o").alias("_src"), F.col("s").alias("_dst")
        )
    if tag == "alt":
        kids = node[1]
        # uniform predicate alternation → ONE IN-list scan, no union; a
        # repeated predicate is a repeated bag branch (§18.4), which an
        # IN-list would collapse, so it keeps the union below
        tags = {k[0] for k in kids}
        preds = [k[1] for k in kids]
        if tags in ({"pred"}, {"ipred"}) and len(set(preds)) == len(preds):
            src, dst = ("s", "o") if tags == {"pred"} else ("o", "s")
            return triples.filter(F.col("p").isin(preds)).select(
                F.col(src).alias("_src"), F.col(dst).alias("_dst"))
        out = _path_edges(triples, kids[0])
        for k in kids[1:]:
            out = out.unionByName(_path_edges(triples, k))
        return out
    if tag == "seq":
        out = _path_edges(triples, node[1][0])
        for k in node[1][1:]:
            right = (
                _path_edges(triples, k)
                .withColumnRenamed("_src", "_hop_src")
                .withColumnRenamed("_dst", "_hop_dst")
            )
            out = out.join(right, F.col("_dst") == F.col("_hop_src")).select(
                F.col("_src"), F.col("_hop_dst").alias("_dst")
            )
        return out
    if tag == "closure":
        inner = _path_edges(triples, node[1])
        # '?' (ZeroOrOnePath) is identity ∪ DIRECT pairs — set
        # semantics like the closures (§18.4), but no fixpoint runs
        pairs = inner.distinct() if node[2] == "?" else _closure_pairs(inner)
        if node[2] in ("*", "?"):
            ident = _graph_nodes(triples).select(
                F.col("node").alias("_src"), F.col("node").alias("_dst")
            )
            pairs = pairs.unionByName(ident).distinct()
        return pairs
    raise SparqlError(f"unknown path node {tag}")


def _compile_generic_path(triples: DataFrame, s: str, node: tuple, o: str,
                          idx: int) -> DataFrame:
    """One compound/unanchored path pattern → its binding table (columns
    named after its variable endpoints), or a 0/1-row marker table when
    both endpoints are constant."""
    s_var, o_var = s.startswith("?"), o.startswith("?")
    spark = triples.sparkSession
    if node[0] == "closure" and not (s_var and o_var):
        # anchored closure over ANY inner path: fixpoint BFS over the
        # inner pair set beats materializing the full pairwise closure
        inner = _path_edges(triples, node[1])
        if s_var:  # ?v path+ <X> — follow the edges backwards
            inner = inner.select(
                F.col("_dst").alias("_src"), F.col("_src").alias("_dst")
            )
            anchor, var_term = o, s
        else:
            anchor, var_term = s, o
        if node[2] == "?":  # one step at most: no BFS, one filter
            reach = (
                inner.filter(F.col("_src") == anchor)
                .select(F.col("_dst").alias("node"))
                .distinct()
            )
        else:
            reach = _reach_from(inner, anchor)
        if node[2] in ("*", "?"):  # zero-length: anchor reaches itself
            reach = reach.unionByName(
                fastpath.local_frame(spark, [(anchor,)], "node string")
            ).distinct()
        if var_term.startswith("?"):
            return reach.withColumnRenamed("node", var_term[1:])
        return reach.filter(F.col("node") == var_term).select(
            F.lit(1).alias(f"_path_m{idx}")
        ).limit(1)
    pairs = _path_edges(triples, node)
    if s_var and o_var:
        if s == o:  # ?a path ?a — the cyclic solutions
            return pairs.filter(F.col("_src") == F.col("_dst")).select(
                F.col("_src").alias(s[1:])
            )
        return pairs.select(
            F.col("_src").alias(s[1:]), F.col("_dst").alias(o[1:])
        )
    if s_var:
        return pairs.filter(F.col("_dst") == o).select(F.col("_src").alias(s[1:]))
    if o_var:
        return pairs.filter(F.col("_src") == s).select(F.col("_dst").alias(o[1:]))
    return pairs.filter(
        (F.col("_src") == s) & (F.col("_dst") == o)
    ).select(F.lit(1).alias(f"_path_m{idx}")).limit(1)


def _compile_path(triples: DataFrame, path, idx: int = 0) -> DataFrame:
    """One anchored path pattern → its binding table (one var column), or
    a 0/1-row marker table for the two-constant case."""
    s, pred, mod, o = path
    s_var, o_var = s.startswith("?"), o.startswith("?")
    spark = triples.sparkSession
    if s_var and o_var:
        raise SparqlError(
            "property paths need a constant endpoint "
            f"(?{s[1:]} <{pred}>{mod} ?{o[1:]} is unbounded reachability)"
        )
    if not s_var:
        reach = _reach_plus(triples, pred, s)
        anchor, var_term = s, o
    else:
        reach = _reach_plus(triples, pred, o, reverse=True)
        anchor, var_term = o, s
    if mod == "*":  # zero-length path: the anchor reaches itself
        reach = reach.unionByName(
            fastpath.local_frame(spark, [(anchor,)], "node string")
        ).distinct()
    if var_term.startswith("?"):
        return reach.withColumnRenamed("node", var_term[1:])
    # both endpoints constant → EXISTS semantics (0 or 1 marker row)
    return reach.filter(F.col("node") == var_term).select(
        F.lit(1).alias(f"_path_m{idx}")
    ).limit(1)


def _compile_group(triples: DataFrame, g: _Group,
                   named: DataFrame | None = None) -> DataFrame:
    """``named`` is the dataset clause's FROM NAMED store (None → no
    dataset clause: GRAPH matches the whole store, today's dialect)."""
    named_df = named if named is not None else triples
    if not (g.patterns or g.paths or g.generic_paths or g.values
            or g.subqueries or g.nested or g.graph_groups):
        raise SparqlError("each group needs at least one non-OPTIONAL pattern")
    if (any(len(p) == 4 for p in g.patterns) or g.graph_groups) \
            and "graph" not in named_df.columns:
        raise SparqlError(
            "GRAPH blocks need a 'graph' column on the triple DataFrame "
            "(an N-Quads/TriG store)"
        )
    carry_meta = _group_needs_meta(g)
    if carry_meta:
        missing = [c for c in META_COLS if c not in triples.columns]
        if missing:
            raise SparqlError(
                f"LANG()/DATATYPE()/sameTerm need term metadata columns "
                f"{missing} on the triple DataFrame (the canonical store "
                "schema)"
            )
    if named is None or not g.patterns:
        df = (
            bgp_match(triples, g.patterns, distinct=False,
                      carry_meta=carry_meta)
            if g.patterns
            else None
        )
    else:
        # dataset clause active: plain patterns match the default graph,
        # quad patterns (GRAPH rewrites) match the FROM NAMED store —
        # two bgp join trees merged on their shared variables (inner
        # equi-joins are associative, so this equals the single-tree
        # compilation)
        plain = [p for p in g.patterns if len(p) == 3]
        quads = [p for p in g.patterns if len(p) == 4]
        sub_dfs = [
            bgp_match(src, pats, distinct=False, carry_meta=carry_meta)
            for src, pats in ((triples, plain), (named_df, quads))
            if pats
        ]
        df = sub_dfs[0]
        for part in sub_dfs[1:]:
            shared = sorted(set(df.columns) & set(part.columns))
            df = df.join(part, on=shared) if shared else df.crossJoin(part)
    path_parts = [
        _compile_path(triples, path, i) for i, path in enumerate(g.paths)
    ] + [
        _compile_generic_path(triples, ps, pnode, po, len(g.paths) + i)
        for i, (ps, pnode, po) in enumerate(g.generic_paths)
    ] + [
        # a subquery evaluates independently (its modifiers — GROUP BY,
        # ORDER/LIMIT — apply INSIDE), then joins the outer group on its
        # projected variables; a nested group is a plain group join
        _select_df(triples, sub, named) for sub in g.subqueries
    ] + [
        _compile_group(triples, ng, named) for ng in g.nested
    ] + [
        # GRAPH <iri> blocks with paths: the same group compiler over
        # the graph-filtered edge set (scan-pushable constant filter) —
        # of the FROM NAMED store when a dataset clause is active
        _compile_group(named_df.filter(F.col("graph") == giri), blk)
        for giri, blk in g.graph_groups
    ]
    for part in path_parts:
        if df is None:
            df = part
            continue
        shared = sorted(set(df.columns) & set(part.columns))
        df = df.join(part, on=shared) if shared else df.crossJoin(part)
    if df is not None:  # a VALUES-only group reaches here with df=None
        df = df.drop(*[c for c in df.columns if c.startswith("_path_m")])
    for vars_, rows in g.values:
        part = fastpath.local_frame(
            triples.sparkSession, rows, ", ".join(f"{v} string" for v in vars_)
        )
        if df is None:
            df = part
            continue
        shared = [v for v in vars_ if v in df.columns]
        undef_shared = any(
            row[vars_.index(v)] is None for row in rows for v in shared
        )
        if not shared:
            df = df.crossJoin(part)  # introduce new bindings
        elif not undef_shared:
            # restrict on the already-bound vars, carry the new ones along
            df = df.join(part, on=shared)
        else:
            # §10.2 compatibility join: an UNDEF cell (NULL) matches any
            # binding of that variable in that row.  Row-dependent match
            # condition → broadcast nested-loop join; VALUES tables are
            # inline constants, so the broadcast side is always tiny.
            renamed = part
            for v in vars_:
                renamed = renamed.withColumnRenamed(v, f"_val_{v}")
            cond = None
            for v in shared:
                c = F.col(f"_val_{v}").isNull() | (F.col(f"_val_{v}") == df[v])
                cond = c if cond is None else (cond & c)
            df = df.join(F.broadcast(renamed), cond)
            for v in vars_:
                if v in shared:
                    df = df.drop(f"_val_{v}")
                else:
                    df = df.withColumnRenamed(f"_val_{v}", v)
    for block in g.optionals:
        odf = _compile_group(triples, block, named)
        shared = sorted(set(df.columns) & set(odf.columns))
        if not shared:
            raise SparqlError("OPTIONAL block shares no variable with the group")
        df = df.join(odf, on=shared, how="left")
    # EXISTS/MINUS compile before BINDs, so a block whose join variable is
    # BIND-introduced would silently restrict on nothing (SPARQL restricts
    # when the BIND textually precedes the block); raise instead of
    # answering a different question.
    bind_vars = {var for var, _ in g.binds}

    def _bind_clash(block: _Group, what: str):
        block_vars = {
            t[1:]
            for pat in block.patterns
            for t in pat
            if isinstance(t, str) and t.startswith("?")
        } | {
            t[1:]
            for s, _p, _m, o in block.paths
            for t in (s, o)
            if t.startswith("?")
        } | {
            t[1:]
            for s, _node, o in block.generic_paths
            for t in (s, o)
            if t.startswith("?")
        }
        clash = bind_vars & block_vars
        if clash:
            raise SparqlError(
                f"{what} block references BIND-defined variable(s) "
                f"{sorted(clash)} — BIND is applied after {what} in this "
                "dialect; bind the value with a triple pattern instead"
            )

    for positive, block in g.exists:
        _bind_clash(block, "FILTER EXISTS" if positive else "FILTER NOT EXISTS")
        edf = _compile_group(triples, block, named)
        shared = sorted(set(df.columns) & set(edf.columns))
        if not shared:
            raise SparqlError("EXISTS block shares no variable with the group")
        # the canonical Spark translation: EXISTS → left semi join,
        # NOT EXISTS → left anti join on the shared variables
        df = df.join(edf, on=shared, how="left_semi" if positive else "left_anti")
    for block in g.minus:
        _bind_clash(block, "MINUS")
        mdf = _compile_group(triples, block, named)
        shared = sorted(set(df.columns) & set(mdf.columns))
        # SPARQL MINUS with disjoint domains removes nothing (unlike
        # NOT EXISTS, which this otherwise compiles identically to)
        if shared:
            df = df.join(mdf, on=shared, how="left_anti")

    def _check_meta_bound(mvars):
        for mv in mvars:
            if f"_meta_kind_{mv}" not in df.columns:
                raise SparqlError(
                    f"LANG()/DATATYPE()/isIRI-family/sameTerm over ?{mv} "
                    "needs it bound by a required triple pattern in the "
                    "same group"
                )

    for var, ex in g.binds:
        if var in df.columns:
            raise SparqlError(f"BIND would rebind already-bound ?{var}")
        _check_meta_bound(_operand_vars(ex, meta_only=True))
        df = df.withColumn(var, _operand_col(ex, False))
        if ex[0] == "mkterm":
            # a constructed term's kind/dt/lang is known statically —
            # synthesize the metadata columns so LANG/DATATYPE/isIRI/
            # sameTerm over the BIND var work in later binds and filters
            fn, anc = ex[1], ex[3]
            df = (
                df.withColumn(
                    f"_meta_kind_{var}",
                    F.lit(str(KIND_IRI if fn == "IRI" else KIND_LITERAL)),
                )
                .withColumn(
                    f"_meta_dt_{var}",
                    F.lit(anc if fn == "STRDT" else None).cast("string"),
                )
                .withColumn(
                    f"_meta_lang_{var}",
                    F.lit(anc if fn == "STRLANG" else None).cast("string"),
                )
            )
    for f in g.filters:
        _check_meta_bound(_expr_vars(f, meta_only=True))
        df = df.filter(_compile_expr(f))
    # metadata helpers are consumed only inside the group; _pp vars are
    # the synthetic intermediates of path-sequence rewriting
    return df.drop(*[
        c for c in df.columns
        if c.startswith("_meta_") or c.startswith("_pp")
        or re.fullmatch(r"_qt\d+", c)
    ])


_AGG_BUILDERS = {
    "COUNT": lambda c: F.count(c),
    "SUM": lambda c: F.sum(c.cast("double")),
    "AVG": lambda c: F.avg(c.cast("double")),
    "MIN": lambda c: F.min(c),
    "MAX": lambda c: F.max(c),
    # SAMPLE may return any value of the group; min is a legal choice
    # that is also deterministic across partitionings
    "SAMPLE": lambda c: F.min(c),
}


def _build_agg(fn: str, c: Column, opts: dict) -> Column:
    if fn == "GROUP_CONCAT":
        # SPARQL leaves GROUP_CONCAT order unspecified; sorting makes it
        # deterministic across partitionings (collect_list alone is not)
        return F.array_join(
            F.sort_array(F.collect_list(c)), opts.get("separator", " ")
        )
    if opts.get("distinct"):
        if fn == "COUNT":
            return F.count_distinct(c)
        if fn == "AVG":  # avg over the distinct value set
            return F.try_divide(
                F.sum_distinct(c.cast("double")),
                F.count_distinct(c.cast("double")),
            )
        return F.sum_distinct(c.cast("double"))  # SUM (parser-guarded)
    return _AGG_BUILDERS[fn](c)


def _dataset_stores(
    triples: DataFrame, ast: _Ast
) -> tuple[DataFrame, DataFrame]:
    """(default store, named store) of a dataset clause: the default
    store is the FROM rows with the graph columns DROPPED, the named
    store the FROM NAMED rows — both scan-pushable IN filters."""
    if "graph" not in triples.columns:
        raise SparqlError(
            "FROM/FROM NAMED need a 'graph' column on the triple "
            "DataFrame (an N-Quads/TriG store)"
        )
    drop = [c for c in ("graph", "graph_kind") if c in triples.columns]
    named = (triples.filter(F.col("graph").isin(ast.from_named))
             if ast.from_named else triples.filter(F.lit(False)))
    default = (
        triples.filter(F.col("graph").isin(ast.from_graphs))
        if ast.from_graphs else triples.filter(F.lit(False))
    ).drop(*drop)
    return default, named


def _solutions(triples: DataFrame, ast: _Ast,
               named: DataFrame | None = None) -> DataFrame:
    """The WHERE clause's solution multiset: each branch's join tree,
    UNION branches aligned on the union of their variables (unbound →
    NULL).  A dataset clause (§13.2) splits the quad store first: the
    default graph is the FROM rows with the graph column DROPPED (so
    plain patterns, paths, and zero-length closure node sets see exactly
    that RDF merge), the named store is the FROM NAMED rows (GRAPH can
    match nothing else — both filters are scan-pushable IN lists).
    ``named`` carries an outer query's dataset into subqueries."""
    if ast.from_graphs or ast.from_named:
        triples, named = _dataset_stores(triples, ast)
    dfs = [_compile_group(triples, g, named) for g in ast.branches]
    if len(dfs) == 1:
        return dfs[0]
    all_vars = sorted({c for d in dfs for c in d.columns})
    aligned = [
        d.select(*[
            F.col(v) if v in d.columns
            else F.lit(None).cast("string").alias(v)
            for v in all_vars
        ])
        for d in dfs
    ]
    df = aligned[0]
    for d in aligned[1:]:
        df = df.unionByName(d)
    return df


def _order_keys(df: DataFrame, order) -> list[Column]:
    """Sort keys for ORDER BY conditions: plain ?var names or ASC/DESC
    (expression) operand ASTs, validated against the in-scope columns
    (order applies after projection — sort vars must be projected)."""
    keys = []
    for v, asc in order:
        if isinstance(v, str):
            if v not in df.columns:
                raise SparqlError(f"ORDER BY ?{v} is not in scope")
            c = F.col(v)
        else:
            missing = _operand_vars(v) - set(df.columns)
            if missing:
                raise SparqlError(
                    "ORDER BY expression references out-of-scope "
                    f"variable(s) {sorted(missing)} (order applies after "
                    "projection — project them)"
                )
            c = _operand_col(v, False)
        keys.append(c.asc() if asc else c.desc())
    return keys


def _apply_row_modifiers(df: DataFrame, ast: _Ast) -> DataFrame:
    if ast.order:
        df = df.orderBy(*_order_keys(df, ast.order))
    if ast.offset:
        df = df.offset(ast.offset)
    if ast.limit is not None:
        df = df.limit(ast.limit)
    return df


def sparql_construct(triples: DataFrame, query: str) -> DataFrame:
    """CONSTRUCT: instantiate the template per WHERE solution → a triple
    DataFrame ``(s, p, o)`` with graph set semantics (distinct; template
    triples touching an unbound OPTIONAL variable are dropped, per
    SPARQL).  The output feeds anything that takes the lexical triple
    schema — including :func:`sparql_select` itself."""
    template, ast = _Parser(query).construct_query()
    if ast.group_by or ast.having is not None:
        raise SparqlError("GROUP BY/HAVING are only supported in SELECT")
    df = _apply_row_modifiers(_solutions(triples, ast), ast)
    return _instantiate_template(df, template)


def _instantiate_template(sols: DataFrame, template) -> DataFrame:
    """Instantiate a triple template per solution row → distinct
    ``(s, p, o)``; triples touching an unbound (NULL) variable are
    dropped, per SPARQL.  Shared by CONSTRUCT and the update forms."""
    parts = []
    for ts, tp, to in template:
        cols = []
        for pos, t in (("s", ts), ("p", tp), ("o", to)):
            if t.startswith("?"):
                v = t[1:]
                if v not in sols.columns:
                    raise SparqlError(f"template variable ?{v} is unbound")
                cols.append(F.col(v).alias(pos))
            else:
                cols.append(F.lit(t).alias(pos))
        parts.append(
            sols.select(*cols).filter(
                F.col("s").isNotNull()
                & F.col("p").isNotNull()
                & F.col("o").isNotNull()
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def sparql_ask(triples: DataFrame, query: str) -> bool:
    """ASK: does the pattern have at least one solution?"""
    ast = _Parser(query).ask_query()
    if ast.group_by or ast.having is not None:
        # silently ignoring them would answer a DIFFERENT question
        raise SparqlError("GROUP BY/HAVING are not supported in ASK")
    return _solutions(triples, ast).limit(1).count() > 0


def sparql_describe(triples: DataFrame, query: str,
                    cbd: bool = False, max_depth: int = 16) -> DataFrame:
    """DESCRIBE <iri>… [?var… WHERE { group }]: every triple where a
    described term appears as subject or object (the simple symmetric-
    concise-bounded variant, matching ops.graph.describe).  Constant IRIs
    become two scan-pushable IN filters; ?var forms (round-5) evaluate
    the WHERE group, take the variable's distinct bindings, and LEFT SEMI
    join the triple table on subject and on object — never a collect, so
    a million-binding DESCRIBE stays distributed.

    With ``cbd=True`` the result is closed into a Concise Bounded
    Description: blank-node objects of included triples are described
    too, transitively (the standard CBD fixpoint; skolemized stores
    never iterate — first frontier is empty).  Each round is one
    left-semi join over the blank frontier with ``localCheckpoint``
    lineage truncation, capped at ``max_depth`` (a deeper bnode chain
    raises rather than silently truncating)."""
    iris, vars_, ast = _Parser(query).describe_query()
    desc_src = triples
    if ast is not None and (ast.from_graphs or ast.from_named):
        # dataset clause: descriptions are drawn from the default graph
        # (the same store the WHERE's plain patterns see), so the seed
        # filters, semi-joins, and CBD closure below all use it;
        # _solutions does its own split for the WHERE compile
        desc_src, _ = _dataset_stores(triples, ast)
    parts = []
    if iris:
        parts.append(
            desc_src.filter(F.col("s").isin(iris) | F.col("o").isin(iris))
        )
    if vars_:
        sols = _apply_row_modifiers(_solutions(triples, ast), ast)
        missing = [v for v in vars_ if v not in sols.columns]
        if missing:
            raise SparqlError(f"DESCRIBE of unbound variable(s) {missing}")
        for v in vars_:
            vals = sols.select(v).distinct()
            parts.append(desc_src.join(
                vals.withColumnRenamed(v, "s"), "s", "left_semi"
            ))
            parts.append(desc_src.join(
                vals.withColumnRenamed(v, "o"), "o", "left_semi"
            ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # a triple can match several described terms / both positions
    out = out.dropDuplicates() if len(parts) > 1 else out
    if not cbd:
        return out
    # CBD closure: repeatedly pull the triples of blank-node OBJECTS
    # already in the description ("_:" lexical prefix — the canonical
    # store dialect).  Seen-set anti-join keeps each round's frontier
    # strictly new, so the loop terminates in ≤ bnode-chain-depth rounds.
    out = out.localCheckpoint()
    seen = out.select("s").distinct().localCheckpoint()
    for _ in range(max_depth):
        frontier = (
            out.filter(F.col("o").startswith("_:"))
            .select(F.col("o").alias("s")).distinct()
            .join(seen, "s", "left_anti")
        )
        add = desc_src.join(frontier, "s", "left_semi")
        if add.limit(1).count() == 0:
            return out
        out = out.unionByName(add).dropDuplicates().localCheckpoint()
        seen = seen.unionByName(frontier).localCheckpoint()
    raise SparqlError(
        f"CBD closure exceeded max_depth={max_depth} rounds "
        "(raise max_depth for deeper blank-node chains)"
    )


def sparql_update(triples: DataFrame, update: str) -> DataFrame:
    """SPARQL 1.1 Update subset over the lexical triple columns
    ``(s, p, o)``: ``INSERT DATA`` / ``DELETE DATA`` / ``DELETE WHERE`` /
    ``[DELETE {t}] [INSERT {t}] WHERE { group }``, with ``;``-chained
    operations applied in sequence (each sees the previous result, per
    §3).  Pure — the store is immutable: returns the NEW triple
    DataFrame; materialize it via :mod:`rdf_spark.store`.

    Semantics per §3.1.3: within one operation the WHERE solutions are
    computed against the pre-operation graph, the delete template's
    instantiation is removed first, then the insert template's is added;
    template triples touching an unbound variable are skipped.  Graph
    stores are sets, so an operation that inserts returns a distinct
    result.

    Spark shapes: a delete is a ``left_anti`` join on the full (s,p,o)
    key (Catalyst broadcasts the instantiated delete set when small;
    AQE picks SMJ otherwise — never forced), an insert is
    union + set-dedup — ONE shuffle on the triple key, the same cost
    class as ``dedup_triples``.  Blank nodes in templates/data are
    rejected (fresh-label minting is replay-hostile — use skolem IRIs
    via ``IRI(CONCAT(...))``); the WHERE supports the full SELECT group
    grammar including property paths.
    """
    ops = _Parser(update).update_request()
    spark = triples.sparkSession
    cur = triples.select("s", "p", "o")
    for op in ops:
        if op.ast is not None:
            sols = _solutions(cur, op.ast)
            dele = (_instantiate_template(sols, op.delete)
                    if op.delete else None)
            ins = (_instantiate_template(sols, op.insert)
                   if op.insert else None)
        else:
            dele = (fastpath.local_frame(
                spark, op.delete, "s string, p string, o string")
                if op.delete else None)
            ins = (fastpath.local_frame(
                spark, op.insert, "s string, p string, o string")
                if op.insert else None)
        if dele is not None:
            cur = cur.join(dele, ["s", "p", "o"], "left_anti")
        if ins is not None:
            cur = cur.unionByName(ins).dropDuplicates()
    return cur


def sniff_form(query: str) -> str:
    """Best-effort query-form detection for routing (the jobs CLI and
    :func:`sparql_explain`): blank IRIs, string literals, and prefixed
    names before searching for the form keyword, so a keyword inside any
    of them — an ``<http://x/select#>`` IRI, a ``PREFIX ask: <…>``
    declaration, an ``ask:foo`` pname, a ``"DESCRIBE"`` literal — cannot
    shadow the real one.  Returns ``""`` when no form keyword is found."""
    s = re.sub(r"<[^>]*>", " ", query)
    s = re.sub(r'"(?:[^"\\]|\\.)*"', " ", s)
    s = re.sub(r"[A-Za-z][A-Za-z0-9_\-]*:[A-Za-z0-9_.\-]*", " ", s)
    # FIRST keyword wins: an update WHERE may contain a { SELECT }
    # subquery, but INSERT/DELETE always textually precedes it; a query
    # form cannot contain INSERT/DELETE keywords at all
    m = re.search(r"\b(SELECT|CONSTRUCT|ASK|DESCRIBE|INSERT|DELETE)\b",
                  s, re.I)
    if not m:
        return ""
    kw = m.group(1).upper()
    return "UPDATE" if kw in ("INSERT", "DELETE") else kw


def sparql_explain(triples: DataFrame, query: str) -> str:
    """The compiled Catalyst plan of a query (formatted explain string) —
    the debugging companion of the four query forms.  ASK explains its
    solution plan; DESCRIBE its filter plan."""
    form = sniff_form(query)
    if form == "SELECT":
        df = sparql_select(triples, query)
    elif form == "CONSTRUCT":
        df = sparql_construct(triples, query)
    elif form == "ASK":
        df = _solutions(triples, _Parser(query).ask_query())
    elif form == "DESCRIBE":
        df = sparql_describe(triples, query)
    elif form == "UPDATE":
        df = sparql_update(triples, query)  # the new store's plan
    else:
        raise SparqlError(f"unsupported query form {form!r}")
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def sparql_select(triples: DataFrame, query: str) -> DataFrame:
    """Compile and run a SPARQL SELECT (subset, see module docstring)
    against a triple DataFrame with lexical columns ``s p o``.  Returns
    one column per selected variable / aggregate alias.

    Aggregate caveat: SUM/AVG cast lexicals to double and aggregate in
    floating point — at cluster scale their low-order digits can vary
    with partitioning (use COUNT/MIN/MAX, or the decimal-sum operators
    in ops.retrieval/ops.graph, when bit-exact reproducibility matters).
    """
    return _select_df(triples, _Parser(query).query())


def _select_df(triples: DataFrame, ast: _Ast,
               named: DataFrame | None = None) -> DataFrame:
    """Compile a parsed SELECT ast → DataFrame (shared by top-level
    SELECT and ``{ SELECT ... }`` subqueries; ``named`` hands an outer
    dataset clause's FROM NAMED store down to a subquery)."""
    df = _solutions(triples, ast, named)
    items = ast.select_items
    order_done = False
    has_agg = items is not None and any(it[0] == "agg" for it in items)
    if ast.having is not None and not (has_agg or ast.group_by):
        raise SparqlError("HAVING needs GROUP BY or aggregates")
    if has_agg or ast.group_by:
        if items is None:
            raise SparqlError("aggregate queries cannot SELECT *")
        agg_aliases = {it[3] for it in items if it[0] == "agg"}
        seen_expr: set[str] = set()
        seen_aliases: set[str] = set()
        for it in items:
            alias = it[3] if it[0] == "agg" else (it[2] if it[0] == "expr" else None)
            if alias is not None:
                if alias in ast.group_by or alias in seen_aliases:
                    raise SparqlError(
                        f"projection would rebind already-bound ?{alias}"
                    )
                seen_aliases.add(alias)
        for it in items:
            if it[0] == "var" and it[1] not in ast.group_by:
                raise SparqlError(
                    f"?{it[1]} selected outside an aggregate must be in GROUP BY"
                )
            if it[0] == "expr":
                # SPARQL 1.1 §18.2.4: select expressions over the group —
                # here: GROUP BY keys and aggregate aliases (computed
                # post-aggregation, so ?avg = ?sum/?n compositions work)
                if _operand_vars(it[1], meta_only=True):
                    raise SparqlError(
                        "LANG()/DATATYPE() projections are not available "
                        "after grouping — BIND them in WHERE instead"
                    )
                bad = _operand_vars(it[1]) - (
                    set(ast.group_by) | agg_aliases | seen_expr
                )
                if bad:
                    raise SparqlError(
                        f"expression projection references {sorted(bad)} — "
                        "only GROUP BY keys, aggregate aliases, and earlier "
                        "expression aliases are in scope after grouping"
                    )
                seen_expr.add(it[2])
        for v, e in ast.group_exprs:
            if v in df.columns:
                raise SparqlError(
                    f"GROUP BY expression would rebind already-bound ?{v}"
                )
            for mv in _operand_vars(e, meta_only=True):
                if f"_meta_kind_{mv}" not in df.columns:
                    raise SparqlError(
                        f"LANG()/DATATYPE() over ?{mv} in GROUP BY needs it "
                        "bound by a required triple pattern"
                    )
            bad = _operand_vars(e) - set(df.columns)
            if bad:
                raise SparqlError(
                    f"GROUP BY expression references unbound {sorted(bad)}"
                )
            df = df.withColumn(v, _operand_col(e, False))
        missing = [v for v in ast.group_by if v not in df.columns]
        if missing:
            raise SparqlError(f"GROUP BY of unbound variable(s) {missing}")
        aggs = []
        for it in items:
            if it[0] != "agg":
                continue
            _, fn, arg, alias, opts = it
            if arg is None:  # COUNT(*)
                aggs.append(F.count(F.lit(1)).alias(alias))
            else:
                if arg not in df.columns:
                    raise SparqlError(f"aggregate over unbound variable ?{arg}")
                aggs.append(_build_agg(fn, F.col(arg), opts).alias(alias))
        if not aggs:
            raise SparqlError("GROUP BY without any aggregate in SELECT")
        grouped = df.groupBy(*ast.group_by) if ast.group_by else df.groupBy()
        df = grouped.agg(*aggs)
        if ast.having is not None:
            unknown = _expr_vars(ast.having) - set(df.columns)
            if unknown:
                raise SparqlError(
                    f"HAVING references {sorted(unknown)} — only GROUP BY "
                    "keys and aggregate aliases are in scope"
                )
            df = df.filter(_compile_expr(ast.having))
        names: list[str] = []
        for it in items:
            if it[0] == "var":
                names.append(it[1])
            elif it[0] == "agg":
                names.append(it[3])
            else:
                _, e, alias = it
                if alias in df.columns or alias in names:
                    raise SparqlError(
                        f"projection would rebind already-bound ?{alias}"
                    )
                df = df.withColumn(alias, _operand_col(e, False))
                names.append(alias)
        df = df.select(*names)
    elif items is not None:
        names: list[str] = []
        for it in items:
            if it[0] == "var":
                if it[1] not in df.columns:
                    raise SparqlError(f"SELECT of unbound variable(s) [{it[1]!r}]")
                names.append(it[1])
                continue
            _, e, alias = it
            if _operand_vars(e, meta_only=True):
                raise SparqlError(
                    "LANG()/DATATYPE() projections need a BIND inside the "
                    "group (metadata columns are scoped to the WHERE group)"
                )
            unknown = _operand_vars(e) - set(df.columns)
            if unknown:
                raise SparqlError(
                    f"expression projection references unbound {sorted(unknown)}"
                )
            if alias in df.columns or alias in names:
                raise SparqlError(f"projection would rebind already-bound ?{alias}")
            df = df.withColumn(alias, _operand_col(e, False))
            names.append(alias)
        # SPARQL §15.1: ORDER BY applies to the solution sequence BEFORE
        # projection, so sort keys may use non-projected WHERE variables
        # (Catalyst preserves the ordering through the projection).  With
        # DISTINCT the sort defers to the projected set — Spark's
        # distinct does not preserve order, and pre-distinct ordering
        # over hidden vars is not well-defined across duplicates anyway.
        if ast.order and not ast.distinct:
            df = df.orderBy(*_order_keys(df, ast.order))
            order_done = True
        df = df.select(*names)

    if ast.distinct:
        df = df.distinct()
    if ast.order and not order_done:
        df = df.orderBy(*_order_keys(df, ast.order))
    if ast.offset:
        df = df.offset(ast.offset)
    if ast.limit is not None:
        df = df.limit(ast.limit)
    return df
