"""SPARQL-text front-end over the pattern compiler.

k-gap's user surface is SPARQL strings — typed in notebooks
(``jupyter/kgap/notebooks/kgap_tools.py:17-26``), templated from
``queries/*.sparql`` files, POSTed to GraphDB. This module parses the
concrete SPARQL subset those docs use — SELECT/ASK over a WHERE group
with BGP triples (``;`` property lists, ``,`` object lists, ``a`` =
rdf:type), FILTER (comparisons, &&/||/!, LANG, STR, CONTAINS, STRLEN,
BOUND, REGEX), OPTIONAL, FILTER NOT EXISTS, UNION, BIND, VALUES, GRAPH
scoping, GROUP BY/HAVING, ORDER BY/LIMIT/OFFSET, aggregates
COUNT/MAX/MIN/SUM/AVG (reference queries:
``docs/quick-reference.md:186-222``, ``docs/components/jupyter.md:
557-566``, ``docs/advanced-topics.md:299-311,377-394``) — and compiles
it onto ``bgp`` slices joined by this module's own operators (left
outer joins for OPTIONAL, semi/anti joins for FILTER [NOT] EXISTS and
MINUS), so every query stays a Catalyst DataFrame plan (pruned scans,
re-orderable equi-joins, partial aggregation — never an interpreter
loop). It is the only evaluator of these forms; CONSTRUCT and UPDATE
templates are instantiated by one function, ``_instantiate``.

GraphDB's Lucene magic predicates (``?e luc:searchIndex "q"`` +
``?e luc:score ?s``, docs/quick-reference.md:215-222) are recognized
and routed to the FTS module: the two virtual patterns leave the BGP
and become a posting-table search over the store's literal objects,
joined back on the entity variable.

Unbound-compatible joins: the compiler tracks which variables may be
unbound (NULL) — OPTIONAL bindings, arm-local UNION variables, BINDs
over them — and every group element joins through one function,
``_join``: a variable that may be unbound on either side matches with
SPARQL's unbound-is-compatible condition instead of SQL equality (no
solution is silently dropped) and fills from the side that bound it,
@lang/^^datatype included. Fully-bound variables stay plain equi keys
(hash-joinable).

Property paths (SPARQL 1.1 §9 subset): ``p+``, ``p*``, ``p?``,
inverse ``^elt``, sequences ``p1/p2``, negated sets ``!p``/``!(p1|p2)``
and alternation (bare ``p1|p2``, or ``(p1|p2)`` with a modifier).
BIND/OPTIONAL/MINUS replay in textual order (SPARQL's left-to-right
group translation).

Known divergence from full SPARQL semantics: a PLAIN pattern-position
literal ("Paris" with no tag) matches on lexical form only — it also
matches tagged forms. Literals WITH @lang/^^datatype — in pattern
position, FILTER equality, IN lists, and VALUES rows — match the
exact RDF term.

Term convention: prefixed names expand through the query's PREFIX
declarations; a pname whose prefix is NOT declared stays compact
(matching the repo's compact-IRI storage convention, e.g.
``rdf:type``), so the same parser serves full-IRI and compact stores.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace as _dc_replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# string literals share Turtle's UCHAR / ECHAR escapes (SPARQL 1.1
# §19.2, §19.7)
from kgap_spark.io.turtle import _unescape_string
from kgap_spark.query.patterns import (
    Var, bgp, _is_meta, PathNeg, TypedLit, XSD_STRING,
)
from kgap_spark.session import local_frame

LUCENE_NS = "http://www.ontotext.com/owlim/lucene#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

# GraphDB ships these namespaces pre-declared, so reference queries
# (e.g. the FAQ's template example, faq.md:215-224) use rdfs:label with
# no PREFIX line. An UNDECLARED well-known pname therefore matches
# EITHER its full IRI or the compact form (the repo's own store
# convention) — an any-of constant, like `a`.
WELL_KNOWN_PREFIXES = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "skos": "http://www.w3.org/2004/02/skos/core#",
}


class DeclaredPair(tuple):
    """The any-of ``(full IRI, compact)`` of a pname whose PREFIX line
    binds a well-known prefix to its standard namespace: it matches
    both forms, like the undeclared pname, but is written, bound and
    named as the full IRI its PREFIX line declares."""


# ---------------------------------------------------------------------------
# Tokenizer.

_TOKEN_RE = re.compile(
    r"""
    (?P<WS>\s+)
  | (?P<COMMENT>\#[^\n]*)
  | (?P<IRI><[^<>"{}|^`\\\s]*>)
  | (?P<STRING>"{3}(?:[^"\\]|\\.|"(?!"{2})|"(?="{3}))*"{3}
              |'{3}(?:[^'\\]|\\.|'(?!'{2})|'(?='{3}))*'{3}
              |"(?:[^"\\]|\\.)*"
              |'(?:[^'\\]|\\.)*')
  | (?P<VAR>[?$][A-Za-z_][A-Za-z0-9_]*)
  | (?P<NUM>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<PNAME>[A-Za-z_][A-Za-z0-9_.\-]*:[A-Za-z0-9_.\-]*|[A-Za-z_][A-Za-z0-9_]*)
  | (?P<OP>\^\^|&&|\|\||!=|<=|>=|[{}().;,=<>!*@/+\-|^?])
    """,
    re.VERBOSE,
)

_KEYWORDS = {
    "PREFIX", "BASE", "SELECT", "ASK", "DISTINCT", "WHERE", "FILTER",
    "OPTIONAL", "NOT", "EXISTS", "GRAPH", "GROUP", "BY", "HAVING",
    "ORDER", "LIMIT", "OFFSET", "AS", "DESC", "ASC", "UNION", "BIND",
    "VALUES", "CONSTRUCT", "DESCRIBE", "INSERT", "DELETE", "DATA",
    "MINUS", "IN",
    # graph-management update forms (SPARQL 1.1 Update §3.2) — single
    # source of truth in _GRAPHMAN_KWS below
}
# Graph-management keywords. They also double as ordinary colon-less
# terms in TERM position: pre-round-6 queries could use bare
# `all`/`to`/`add` as compact store terms (expand_pname's
# passthrough), and promoting them query-wide would regress that.
_GRAPHMAN_KWS = {"CLEAR", "DROP", "CREATE", "COPY", "MOVE", "ADD",
                 "LOAD", "SILENT", "TO", "INTO", "DEFAULT", "NAMED",
                 "ALL"}
_KEYWORDS |= _GRAPHMAN_KWS
_TERM_OK_KWS = _GRAPHMAN_KWS

# GraphOrDefault keyword references in the Update IR. Distinct NUL
# sentinels, never equal to a parsed graph NAME: the tokenizer cannot
# produce NUL, so a graph literally named "ALL"/"DEFAULT" (written
# `GRAPH ALL`, `GRAPH <DEFAULT>`, …) can never collide with the
# keyword forms `CLEAR ALL` / `CLEAR DEFAULT` (review finding: the
# string-valued sentinel let `DROP GRAPH ALL` wipe every graph).
REF_DEFAULT = "\x00DEFAULT"
REF_NAMED = "\x00NAMED"
REF_ALL = "\x00ALL"
_AGGS = {"COUNT", "MAX", "MIN", "SUM", "AVG", "SAMPLE", "GROUP_CONCAT"}
_FUNCS = {"LANG", "STR", "CONTAINS", "STRLEN", "BOUND", "REGEX",
          "CONCAT", "IF",
          "DATATYPE", "STRSTARTS", "STRENDS", "LCASE", "UCASE",
          "COALESCE", "STRBEFORE", "STRAFTER", "REPLACE", "SUBSTR",
          "ISIRI", "ISURI", "ISLITERAL", "ISBLANK",
          "ABS", "ROUND", "CEIL", "FLOOR",
          "LANGMATCHES", "STRLANG", "STRDT",
          "MD5", "SHA1", "SHA256", "SHA384", "SHA512",
          "ENCODE_FOR_URI",
          "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS", "TZ",
          "IRI", "URI", "ISNUMERIC",
          "NOW", "UUID", "STRUUID", "RAND", "BNODE"}

# the only builtins with a legal nullary form (§17.4.1.x, §17.4.2.9);
# COALESCE() is grammatically nullary too (ExpressionList may be empty)
_ZERO_ARG_FUNCS = {"NOW", "UUID", "STRUUID", "RAND", "BNODE",
                   "COALESCE"}


@dataclass
class Tok:
    kind: str
    text: str
    raw: str | None = None   # original spelling for KW tokens


def _tokenize(q: str) -> list[Tok]:
    toks: list[Tok] = []
    i, n = 0, len(q)
    while i < n:
        m = _TOKEN_RE.match(q, i)
        if not m:
            raise ValueError(f"SPARQL tokenizer: bad input at {q[i:i+30]!r}")
        i = m.end()
        kind = m.lastgroup
        if kind in ("WS", "COMMENT"):
            continue
        text = m.group(0)
        if kind == "PNAME" and text.upper() in _KEYWORDS | _AGGS | _FUNCS:
            toks.append(Tok("KW", text.upper(), raw=text))
        else:
            toks.append(Tok(kind, text))
    return toks


# ---------------------------------------------------------------------------
# AST.

@dataclass
class Lit:
    """An RDF literal constant in a query."""

    value: str
    lang: str | None = None
    datatype: str | None = None


@dataclass
class Num:
    value: float
    text: str


@dataclass
class FnCall:
    name: str
    args: list


@dataclass(frozen=True)
class PathPlus:
    """A one-or-more property path: ``pred+`` (``pred`` may be an
    any-of tuple for ``(p1|p2)+`` alternations)."""

    pred: object


@dataclass(frozen=True)
class PathStar:
    """A zero-or-more property path: ``pred*`` — the one-or-more
    closure plus the zero-length path (every graph term matches
    itself, SPARQL 1.1 §18.4 ZeroLengthPath)."""

    pred: object


@dataclass(frozen=True)
class PathOpt:
    """A zero-or-one property path: ``pred?`` — a single edge plus
    the zero-length path."""

    pred: object


@dataclass(frozen=True)
class PathSeq:
    """A parenthesized sequence path ``(p1/p2/…)`` usable under a
    modifier — ``(p1/p2)+`` closes over the COMPOSED edge relation.
    ``steps`` is a tuple of ``(pred_or_anyof_tuple, inverse)``."""

    steps: tuple


@dataclass(frozen=True)
class PathAlt:
    """A top-level path alternation with at least one COMPOSITE arm —
    ``(p1/p2)|p3``, ``^p|q``, ``p+|q`` — compiled as the UNION of each
    arm's endpoint-pair relation (cross-arm duplicates preserved per
    SPARQL 1.1 bag union; an all-simple-IRI alternation keeps the
    any-of-tuple fast path instead, which pushes down as ``isin``).
    ``arms`` is a tuple of arms, each a tuple of ``(pred, mod,
    inverse)`` path elements."""

    arms: tuple


@dataclass(frozen=True)
class PathNegMixed:
    """A negated property set with BOTH forward and inverse members,
    ``!(p1|^p2)`` — SPARQL 1.1 §9.1 splits it into the union of a
    forward NPS and an inverse NPS; the parser rewrites it into two
    UNION arms at emit time (never reaches the pattern compiler)."""

    fwd: tuple
    rev: tuple


@dataclass
class BinOp:
    op: str
    left: object
    right: object


@dataclass
class NotExpr:
    inner: object


@dataclass
class Agg:
    fn: str           # COUNT/MAX/MIN/SUM/AVG/SAMPLE/GROUP_CONCAT
    arg: object       # Var | "*"
    distinct: bool = False
    sep: str | None = None   # GROUP_CONCAT(…; SEPARATOR="…")


@dataclass
class Update:
    """A SPARQL Update request (quick-reference.md:224-244)."""

    form: str   # "insert_data" | "delete_data" | "modify" | "graphman"
    data: list = field(default_factory=list)       # ground (s,p,o,graph)
    delete_template: list = field(default_factory=list)
    insert_template: list = field(default_factory=list)
    where: object | None = None
    # graph-management forms (§3.2)
    op: str | None = None         # clear|drop|create|copy|move|add|load
    silent: bool = False
    src: str | None = None        # graph IRI | REF_DEFAULT/NAMED/ALL
    dst: str | None = None        # graph IRI | REF_DEFAULT
    load_path: str | None = None  # LOAD document IRI/path


@dataclass
class Group:
    """One { … } group: triples, filters, optionals, not-exists,
    graph-scoped subgroups, unions, BINDs, inline VALUES."""

    triples: list = field(default_factory=list)       # (s, p, o) tuples
    filters: list = field(default_factory=list)       # Expr
    optionals: list = field(default_factory=list)     # Group
    not_exists: list = field(default_factory=list)    # Group
    exists: list = field(default_factory=list)        # Group
    minus: list = field(default_factory=list)         # Group
    graph_scopes: list = field(default_factory=list)  # (term, Group)
    unions: list = field(default_factory=list)        # [Group, Group, …]
    binds: list = field(default_factory=list)         # (expr, Var)
    values: list = field(default_factory=list)        # ([Var], [rows])
    subselects: list = field(default_factory=list)    # Query (form=select)
    # SPARQL's group translation folds left-to-right, which matters
    # for the non-commutative elements (a BIND after an OPTIONAL must
    # see its bindings; a MINUS must see exactly the bindings of the
    # elements written BEFORE it — incl. VALUES/UNION/sub-SELECT/
    # GRAPH blocks, and TriplesBlocks themselves — a MINUS textually
    # before a triples run must not see that run's bindings), so
    # EVERY element's textual order is recorded here as
    # ("triples", (start, end) index range into .triples) or
    # ("bind"|"optional"|"minus"|"values"|"union"|"subselect"|
    # "graph", payload) and the compiler replays THIS list; the typed
    # lists above stay populated for the template/DATA validators
    # (_has_nontriple_features) — keep both in sync when adding
    # entries. FILTER / FILTER [NOT] EXISTS are group-scoped
    # (SPARQL 1.1 §7) and stay out of seq.
    seq: list = field(default_factory=list)


@dataclass
class Query:
    form: str                     # "select" | "ask" | "construct" | "describe"
    distinct: bool = False
    projections: list = field(default_factory=list)  # Var | (expr, alias)
    where: Group | None = None
    group_by: list = field(default_factory=list)     # [Var | (expr, Var)]
    having: object | None = None
    order_by: list = field(default_factory=list)     # [(expr, asc: bool)]
    limit: int | None = None
    offset: int | None = None
    template: list = field(default_factory=list)     # CONSTRUCT triples
    describe_iris: list = field(default_factory=list)


def _is_path_term(t) -> bool:
    """A property-path construct: PathPlus/PathStar/PathOpt/PathNeg
    nodes, or the fresh ``__path`` variables emit_path introduces when
    rewriting sequence paths — all of them invalid wherever only plain
    triples belong (DATA blocks, templates, DELETE WHERE)."""
    return isinstance(
        t, (PathPlus, PathStar, PathOpt, PathSeq, PathAlt, PathNeg,
            PathNegMixed)
    ) or (
        isinstance(t, Var) and t.name.startswith("__path")
    )


def _has_nontriple_features(g: Group) -> bool:
    """Any group feature beyond plain triples (+ graph scopes, which
    the callers validate separately) — used to reject templates/DATA
    blocks that smuggle in pattern constructs, which would otherwise
    be silently discarded."""
    return bool(
        g.filters or g.optionals or g.not_exists or g.exists or g.minus
        or g.unions or g.binds or g.values or g.subselects
    )


# ---------------------------------------------------------------------------
# Parser (recursive descent).

class _Parser:
    def __init__(self, toks: list[Tok]):
        self.toks = toks
        self.i = 0
        self.prefixes: dict[str, str] = {}

    def peek(self, k: int = 0) -> Tok | None:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> Tok:
        t = self.peek()
        if t is None:
            raise ValueError("SPARQL parser: unexpected end of query")
        self.i += 1
        return t

    def expect(self, kind: str, text: str | None = None) -> Tok:
        t = self.next()
        if t.kind != kind or (text is not None and t.text != text):
            raise ValueError(
                f"SPARQL parser: expected {text or kind}, got {t.text!r}"
            )
        return t

    def at_kw(self, *kws: str) -> bool:
        t = self.peek()
        return t is not None and t.kind == "KW" and t.text in kws

    # -- entry ---------------------------------------------------------
    def parse(self):
        q = self._parse_inner()
        if self.peek() is not None:
            raise ValueError(
                f"SPARQL parser: trailing input at {self.peek().text!r}"
            )
        return q

    def _parse_inner(self):
        while self.at_kw("PREFIX", "BASE"):
            kw = self.next().text
            if kw == "BASE":
                self.expect("IRI")
                continue
            pn = self.expect("PNAME").text
            iri = self.expect("IRI").text
            self.prefixes[pn.rstrip(":")] = iri[1:-1]
        if self.at_kw("INSERT", "DELETE"):
            return self.parse_update()
        if self.at_kw("CLEAR", "DROP", "CREATE", "COPY", "MOVE", "ADD",
                      "LOAD"):
            return self.parse_graph_update()
        if self.at_kw("ASK"):
            self.next()
            q = Query(form="ask")
            q.where = self.group()
            return q
        if self.at_kw("CONSTRUCT"):
            self.next()
            q = Query(form="construct")
            q.template = self.template_group()
            if any(isinstance(g, Var) for *_, g in q.template):
                raise ValueError("GRAPH ?var not allowed in a CONSTRUCT "
                                 "template")
            if self.at_kw("WHERE"):
                self.next()
            q.where = self.group()
            if self.at_kw("LIMIT"):
                self.next()
                q.limit = int(self.expect("NUM").text)
            return q
        if self.at_kw("DESCRIBE"):
            self.next()
            q = Query(form="describe")
            # DESCRIBE ?x [?y …] WHERE { … }: resources selected by a
            # pattern; or DESCRIBE <iri> … for constants
            while self.peek() and self.peek().kind == "VAR":
                q.projections.append(Var(self.next().text[1:]))
            if q.projections:
                self.expect("KW", "WHERE")
                q.where = self.group()
                return q
            while self.peek() and self.peek().kind in ("IRI", "PNAME"):
                t = self.next()
                iri = (t.text[1:-1] if t.kind == "IRI"
                       else self.expand_pname(t.text))
                if isinstance(iri, tuple):  # any-of: describe each form
                    q.describe_iris.extend(iri)
                else:
                    q.describe_iris.append(iri)
            if not q.describe_iris:
                raise ValueError("DESCRIBE needs at least one IRI or "
                                 "variable")
            return q
        return self.parse_select_body()

    def parse_select_body(self) -> Query:
        """SELECT … WHERE { … } + solution modifiers — shared by the
        top level and ``{ SELECT … }`` sub-queries (the docs'
        limit-early staging pattern, advanced-topics.md:441-452)."""
        self.expect("KW", "SELECT")
        q = Query(form="select")
        if self.at_kw("DISTINCT"):
            self.next()
            q.distinct = True
        q.projections = self.projection_list()
        if self.at_kw("WHERE"):
            self.next()
        q.where = self.group()
        while True:
            if self.at_kw("GROUP"):
                self.next()
                self.expect("KW", "BY")
                # GroupCondition ::= Var | '(' Expression 'AS' Var ')'
                # (§19.8; the bare-builtin form without AS binds an
                # unreferenceable implicit var — not supported, loud)
                while True:
                    t = self.peek()
                    if t and t.kind == "VAR":
                        q.group_by.append(Var(self.next().text[1:]))
                    elif t and t.kind == "OP" and t.text == "(":
                        self.next()
                        e = self.expr()
                        self.expect("KW", "AS")
                        vt = self.next()
                        if vt is None or vt.kind != "VAR":
                            raise ValueError(
                                "GROUP BY (expr AS ?var): expected "
                                "a variable after AS"
                            )
                        self.expect("OP", ")")
                        q.group_by.append((e, Var(vt.text[1:])))
                    else:
                        break
            elif self.at_kw("HAVING"):
                self.next()
                q.having = self.expr()
            elif self.at_kw("ORDER"):
                self.next()
                self.expect("KW", "BY")
                while True:
                    t = self.peek()
                    if t is None:
                        break
                    if t.kind == "KW" and t.text in ("DESC", "ASC"):
                        asc = self.next().text == "ASC"
                        self.expect("OP", "(")
                        q.order_by.append((self.expr(), asc))
                        self.expect("OP", ")")
                    elif t.kind == "VAR":
                        q.order_by.append((Var(self.next().text[1:]), True))
                    else:
                        break
            elif self.at_kw("LIMIT"):
                self.next()
                q.limit = int(self.expect("NUM").text)
            elif self.at_kw("OFFSET"):
                self.next()
                q.offset = int(self.expect("NUM").text)
            else:
                break
        return q

    def _graph_iri(self) -> str:
        """An exact graph name: ``<iri>`` or a DECLARED pname (an
        undeclared well-known prefix expands to an any-of tuple —
        ambiguous as a graph IDENTITY, so it is rejected here)."""
        t = self.term(as_predicate=False)
        if isinstance(t, DeclaredPair):
            return t[0]
        if isinstance(t, str):
            return t
        if isinstance(t, tuple):
            raise ValueError(
                "graph name uses an undeclared prefix — add a PREFIX "
                "line (a graph name is an exact identity, not a match)"
            )
        raise ValueError(f"expected a graph IRI, got {t!r}")

    def _graph_ref(self, named_all: bool) -> str:
        """``GRAPH? <iri>`` | ``DEFAULT`` [| ``NAMED`` | ``ALL``] —
        the GRAPH keyword is optional before a bare IRI per the
        GraphOrDefault production (the spec's own COPY example is
        ``COPY DEFAULT TO <g>`` / ``COPY <g> TO DEFAULT``)."""
        if self.at_kw("GRAPH"):
            self.next()
            return self._graph_iri()
        kws = {"DEFAULT": REF_DEFAULT, "NAMED": REF_NAMED,
               "ALL": REF_ALL}
        for kw, ref in kws.items():
            if (kw == "DEFAULT" or named_all) and self.at_kw(kw):
                self.next()
                return ref
        t = self.peek()
        if t and t.kind in ("IRI", "PNAME"):
            return self._graph_iri()
        raise ValueError(
            "expected GRAPH <iri>, a bare <iri>, or DEFAULT"
            + (" or NAMED or ALL" if named_all else "")
        )

    def parse_graph_update(self) -> Update:
        """Graph-management forms (SPARQL 1.1 Update §3.2):
        CLEAR/DROP [SILENT] (GRAPH <g> | DEFAULT | NAMED | ALL),
        CREATE [SILENT] GRAPH <g>,
        COPY/MOVE/ADD [SILENT] (GRAPH <g>|DEFAULT) TO (GRAPH <g>|DEFAULT),
        LOAD [SILENT] <doc> [INTO GRAPH <g>]."""
        u = Update(form="graphman")
        u.op = self.next().text.lower()
        if self.at_kw("SILENT"):
            self.next()
            u.silent = True
        if u.op == "load":
            u.load_path = self.expect("IRI").text[1:-1]
            if self.at_kw("INTO"):
                self.next()
                self.expect("KW", "GRAPH")
                u.dst = self._graph_iri()
            return u
        if u.op in ("clear", "drop"):
            u.src = self._graph_ref(named_all=True)
            return u
        if u.op == "create":
            self.expect("KW", "GRAPH")
            u.src = self._graph_iri()
            return u
        u.src = self._graph_ref(named_all=False)
        self.expect("KW", "TO")
        u.dst = self._graph_ref(named_all=False)
        return u

    def parse_update(self) -> Update:
        """INSERT DATA { … } | DELETE DATA { … } |
        DELETE { t } INSERT { t } WHERE { g } (either part optional) |
        DELETE WHERE { g } (quick-reference.md:224-244)."""
        kw = self.next().text  # INSERT | DELETE
        if self.at_kw("DATA"):
            self.next()
            g = self.group()
            u = Update(form="insert_data" if kw == "INSERT" else "delete_data")
            u.data = self.ground_quads(g)
            return u
        u = Update(form="modify")
        if kw == "DELETE":
            if self.at_kw("WHERE"):  # DELETE WHERE { g }: template = BGP
                self.next()
                u.where = self.group()
                # strict SPARQL limits DELETE WHERE to a QuadPattern:
                # any pattern feature (FILTER/OPTIONAL/UNION/BIND/
                # VALUES/MINUS/EXISTS/sub-SELECT) or doubly-nested
                # GRAPH would make the mirrored template a silent
                # subset of the matched solutions — reject loudly,
                # matching the template/DATA validators
                if _has_nontriple_features(u.where) or any(
                    _has_nontriple_features(sub) or sub.graph_scopes
                    for _, sub in u.where.graph_scopes
                ):
                    raise ValueError(
                        "DELETE WHERE must be a quad pattern (triples "
                        "and single-level GRAPH blocks only)"
                    )
                # the template mirrors the WHERE pattern, INCLUDING
                # GRAPH-scoped triples (previously those compiled but
                # produced an empty template → silent no-op delete)
                tmpl = [(s, p, o, None) for s, p, o in u.where.triples]
                for term, sub in u.where.graph_scopes:
                    tmpl.extend((s, p, o, term) for s, p, o in sub.triples)
                for s, p, o, _g in tmpl:
                    # incl. the __path vars emit_path introduced for
                    # sequence paths — deleting those would silently
                    # remove the chain's component triples
                    if any(_is_path_term(t) for t in (s, p, o)):
                        raise ValueError(
                            "DELETE WHERE cannot contain property paths"
                        )
                if not tmpl:
                    raise ValueError(
                        "DELETE WHERE has no deletable triple patterns"
                    )
                u.delete_template = tmpl
                return u
            u.delete_template = self.template_group()
            if self.at_kw("INSERT"):
                self.next()
                u.insert_template = self.template_group()
        else:
            u.insert_template = self.template_group()
            if self.at_kw("DELETE"):  # pragma: no cover - unusual order
                self.next()
                u.delete_template = self.template_group()
        self.expect("KW", "WHERE")
        u.where = self.group()
        return u

    def template_group(self) -> list:
        """A CONSTRUCT/INSERT/DELETE template → (s, p, o, graph|None)
        quads; GRAPH <g> { … } and GRAPH ?g { … } blocks scope their
        triples' graph term (a variable binds per WHERE solution)."""
        tg = self.group()
        if _has_nontriple_features(tg):
            raise ValueError("template must contain only triples")

        def check(s, p, o):
            if any(_is_path_term(t) for t in (s, p, o)):
                raise ValueError("templates cannot contain property paths")
            return (s, p, o)

        out = [(*check(s, p, o), None) for s, p, o in tg.triples]
        for term, sub in tg.graph_scopes:
            if _has_nontriple_features(sub) or sub.graph_scopes:
                raise ValueError("template must contain only triples")
            out.extend((*check(s, p, o), term) for s, p, o in sub.triples)
        if not out:
            raise ValueError("empty template")
        return out

    def ground_quads(self, g: Group) -> list:
        """Ground triples of a DATA block → (s, p, o-term, graph) rows;
        GRAPH <g> { … } blocks scope their triples."""
        out = []

        def add(triples, graph):
            for s, p, o in triples:
                if any(_is_path_term(t) or isinstance(t, Var)
                       for t in (s, p, o)):
                    raise ValueError(
                        "DATA blocks must be ground (no variables or paths)"
                    )
                out.append((s, p, o, graph))

        add(g.triples, None)
        for term, sub in g.graph_scopes:
            if isinstance(term, Var):
                raise ValueError("GRAPH ?var not allowed in DATA blocks")
            if _has_nontriple_features(sub) or sub.graph_scopes:
                raise ValueError("DATA blocks must contain only triples")
            add(sub.triples, term)
        if _has_nontriple_features(g):
            raise ValueError("DATA blocks must contain only triples")
        return out

    def projection_list(self) -> list:
        out = []
        while True:
            t = self.peek()
            if t is None:
                break
            if t.kind == "VAR":
                out.append(Var(self.next().text[1:]))
            elif t.kind == "OP" and t.text == "*":
                self.next()
                out.append("*")
            elif t.kind == "OP" and t.text == "(":
                self.next()
                e = self.expr()
                self.expect("KW", "AS")
                alias = Var(self.expect("VAR").text[1:])
                self.expect("OP", ")")
                out.append((e, alias))
            else:
                break
        if not out:
            raise ValueError("SPARQL parser: empty SELECT projection")
        return out

    # -- group pattern -------------------------------------------------
    def group(self) -> Group:
        self.expect("OP", "{")
        g = Group()
        while True:
            t = self.peek()
            if t is None:
                raise ValueError("SPARQL parser: unterminated group")
            if t.kind == "OP" and t.text == "}":
                self.next()
                return g
            if t.kind == "KW" and t.text == "FILTER":
                self.next()
                if self.at_kw("NOT"):
                    self.next()
                    self.expect("KW", "EXISTS")
                    g.not_exists.append(self.group())
                elif self.at_kw("EXISTS"):
                    self.next()
                    g.exists.append(self.group())
                elif self.peek() and self.peek().kind == "KW" \
                        and self.peek().text in _FUNCS:
                    # FILTER CONTAINS(...) — bracketless builtin call
                    g.filters.append(self.expr())
                else:
                    self.expect("OP", "(")
                    g.filters.append(self.expr())
                    self.expect("OP", ")")
                continue
            if t.kind == "KW" and t.text == "OPTIONAL":
                self.next()
                sub = self.group()
                g.optionals.append(sub)
                g.seq.append(("optional", sub))
                continue
            if t.kind == "KW" and t.text == "MINUS":
                self.next()
                sub = self.group()
                g.minus.append(sub)
                g.seq.append(("minus", sub))
                continue
            if t.kind == "KW" and t.text == "GRAPH":
                self.next()
                term = self.term()
                scope = (term, self.group())
                g.graph_scopes.append(scope)
                g.seq.append(("graph", scope))
                continue
            if t.kind == "KW" and t.text == "BIND":
                self.next()
                self.expect("OP", "(")
                e = self.expr()
                self.expect("KW", "AS")
                v = Var(self.expect("VAR").text[1:])
                self.expect("OP", ")")
                g.binds.append((e, v))
                g.seq.append(("bind", (e, v)))
                continue
            if t.kind == "KW" and t.text == "VALUES":
                self.next()
                vb = self.values_block()
                g.values.append(vb)
                g.seq.append(("values", vb))
                continue
            if t.kind == "OP" and t.text == "{":
                nxt = self.peek(1)
                if nxt is not None and nxt.kind == "KW" and nxt.text == "SELECT":
                    # { SELECT … } sub-query (limit-early staging,
                    # docs/advanced-topics.md:441-452)
                    self.next()
                    sq = self.parse_select_body()
                    self.expect("OP", "}")
                    g.subselects.append(sq)
                    g.seq.append(("subselect", sq))
                    continue
                # { A } UNION { B } [UNION { C } …]
                arms = [self.group()]
                while self.at_kw("UNION"):
                    self.next()
                    arms.append(self.group())
                g.unions.append(arms)
                g.seq.append(("union", arms))
                continue
            n0 = len(g.triples)
            self.triples_same_subject(g)
            if len(g.triples) > n0:
                # record the run's textual position; adjacent runs
                # merge into one TriplesBlock (FILTER between them is
                # group-scoped, so it never splits a block)
                if g.seq and g.seq[-1][0] == "triples" \
                        and g.seq[-1][1][1] == n0:
                    g.seq[-1] = ("triples", (g.seq[-1][1][0],
                                             len(g.triples)))
                else:
                    g.seq.append(("triples", (n0, len(g.triples))))
            if self.peek() and self.peek().kind == "OP" and self.peek().text == ".":
                self.next()
        return g

    def values_block(self):
        """VALUES ?x { v… }  or  VALUES (?a ?b) { (v v) … }"""
        def at_op(text: str) -> bool:
            p = self.peek()
            if p is None:
                raise ValueError("SPARQL parser: unterminated VALUES block")
            return p.kind == "OP" and p.text == text

        t = self.peek()
        if t and t.kind == "VAR":
            vars_ = [Var(self.next().text[1:])]
            self.expect("OP", "{")
            rows = []
            while not at_op("}"):
                rows.append((self.value_term(),))
            self.next()
            return (vars_, rows)
        self.expect("OP", "(")
        vars_ = []
        while self.peek() and self.peek().kind == "VAR":
            vars_.append(Var(self.next().text[1:]))
        self.expect("OP", ")")
        self.expect("OP", "{")
        rows = []
        while not at_op("}"):
            self.expect("OP", "(")
            row = []
            while not at_op(")"):
                row.append(self.value_term())
            self.next()
            if len(row) != len(vars_):
                raise ValueError("VALUES row arity mismatch")
            rows.append(tuple(row))
        self.next()
        return (vars_, rows)

    def value_term(self) -> str | None:
        nxt = self.peek()
        if nxt and nxt.kind == "PNAME" and nxt.text == "UNDEF":
            # UNDEF = unbound in that row; compiles to NULL + an
            # unbound-compatible join (matches anything)
            self.next()
            return None
        t = self.term()
        if isinstance(t, Lit):
            # tagged/typed literals keep their term identity (compared
            # against the binding's meta columns at compile time, same
            # semantics as pattern-position TypedLit); plain literals
            # stay lexical strings
            return t if (t.lang or t.datatype) else t.value
        if isinstance(t, Num):
            return t.text
        if isinstance(t, Var):
            raise ValueError("variables not allowed inside VALUES data")
        if isinstance(t, tuple):  # any-of well-known pname
            return _write_term(t)
        return t

    _path_counter = 0

    def path(self):
        """Property path subset (SPARQL 1.1 §9): elements with
        modifiers ``+`` (one-or-more), ``*`` (zero-or-more), ``?``
        (zero-or-one); inverse ``^elt``; sequences ``p1/p2``; negated
        sets ``!p`` / ``!(p1|p2)``; and alternation — bare ``p1|p2``
        over simple IRIs, or parenthesized ``(p1|p2)`` with an
        optional modifier — compiling to an any-of predicate set.
        Returns a list of path elements [(pred, mod, inverse), …]."""
        parts = self.path_sequence()

        t = self.peek()
        if t and t.kind == "OP" and t.text == "|":
            arms = [parts]
            while self.peek() and self.peek().kind == "OP" \
                    and self.peek().text == "|":
                self.next()
                arms.append(self.path_sequence())
            for a in arms:
                for pred, _mod, _inv in a:
                    if isinstance(pred, (Var, Lit, Num)):
                        raise ValueError(
                            "path alternation members must be IRIs"
                        )

            def is_simple(a) -> bool:
                # NPS arms are never "simple": they need _edge_rel's
                # per-triple-multiplicity relation, not an isin scan;
                # a nested PathAlt (overlapping inner alternation,
                # e.g. (p|p)|q) is a relation, not an isin literal
                return (len(a) == 1 and a[0][1] is None and not a[0][2]
                        and not isinstance(a[0][0], (PathSeq, PathNeg,
                                                     PathNegMixed,
                                                     PathAlt)))

            if all(is_simple(a) for a in arms):
                # all-simple alternation with DISTINCT arms: stay on
                # the any-of tuple — one isin-pushdown scan. Bag
                # semantics hold only because each triple matches at
                # most one arm; a repeated arm (p0|p1|p0) must yield
                # its matches once PER ARM (§18.4 multiset union), so
                # overlapping arms take the per-arm-union path below.
                # (One arm may itself be an any-of tuple — alternate
                # encodings of a single pname — that's one arm, not a
                # repeat.)
                arm_encodings = [
                    set(p) if isinstance(p := a[0][0], tuple) else {p}
                    for a in arms
                ]
                disjoint = all(
                    arm_encodings[i].isdisjoint(arm_encodings[j])
                    for i in range(len(arm_encodings))
                    for j in range(i + 1, len(arm_encodings))
                )
                if disjoint:
                    preds = []
                    for a in arms:
                        p = a[0][0]
                        preds.extend(p if isinstance(p, tuple) else (p,))
                    return [(tuple(dict.fromkeys(preds)), None, False)]
            # composite arm(s) — (p1/p2)|p3, ^p|q, p+|q: compile each
            # arm to its pair relation and union them
            return [(PathAlt(tuple(tuple(a) for a in arms)),
                     None, False)]
        return parts

    def path_sequence(self) -> list:
        parts = [self.path_elt()]
        while self.peek() and self.peek().kind == "OP" \
                and self.peek().text == "/":
            self.next()
            parts.append(self.path_elt())
        return parts

    def path_elt(self):
        """One element: ``[^] (IRI | (p1|p2|…) | !negset) [+*?]`` →
        (pred, mod, inverse)."""
        inv = False
        t = self.peek()
        if t and t.kind == "OP" and t.text == "^":
            self.next()
            inv = True
        t = self.peek()
        if t and t.kind == "OP" and t.text == "!":
            self.next()
            pred = self.negated_property_set()
            mod = self.path_mod()
            return (pred, mod, inv)
        if t and t.kind == "OP" and t.text == "(":
            self.next()
            first_inv = False
            tp = self.peek()
            if tp and tp.kind == "OP" and tp.text == "^":
                self.next()
                first_inv = True
            first = self._alt_member()
            nxt = self.peek()
            if (nxt and nxt.kind == "OP" and nxt.text == "/") \
                    or first_inv:
                # parenthesized SEQUENCE (p1/p2/…), steps optionally
                # inverse — usable under a modifier: (p1/p2)+ closes
                # over the composed edge relation
                steps = [(first if len(first) > 1 else first[0],
                          first_inv)]
                while self.peek() and self.peek().kind == "OP" \
                        and self.peek().text == "/":
                    self.next()
                    step_inv = False
                    tp = self.peek()
                    if tp and tp.kind == "OP" and tp.text == "^":
                        self.next()
                        step_inv = True
                    m = self._alt_member()
                    steps.append((m if len(m) > 1 else m[0], step_inv))
                self.expect("OP", ")")
                return (PathSeq(tuple(steps)), self.path_mod(), inv)
            members = [first]
            while self.peek() and self.peek().kind == "OP" \
                    and self.peek().text == "|":
                self.next()
                members.append(self._alt_member())
            self.expect("OP", ")")
            mod = self.path_mod()
            # A repeated arm ((p0|p1|p0)) must yield its matches once
            # PER ARM (§18.4 multiset union) — the flattened any-of
            # scan is only safe when arms are disjoint, OR under a
            # +/*/? modifier (the ALP closure is duplicate-free, so
            # (p|p)+ ≡ p+). Otherwise compile as a PathAlt union.
            disjoint = all(
                set(members[i]).isdisjoint(members[j])
                for i in range(len(members))
                for j in range(i + 1, len(members))
            )
            if disjoint or mod is not None:
                preds = [p for m in members for p in m]
                return (tuple(dict.fromkeys(preds)), mod, inv)
            return (PathAlt(tuple(
                ((m if len(m) > 1 else m[0], None, False),)
                for m in members
            )), None, inv)
        pred = self.term(as_predicate=True)
        return (pred, self.path_mod(), inv)

    def _alt_member(self) -> tuple:
        """One IRI/pname inside a parenthesized alternation; any-of
        constants (``a``, well-known pnames) flatten into the set."""
        t = self.term(as_predicate=True)
        if isinstance(t, (Var, Lit, Num)):
            raise ValueError("path alternation members must be IRIs")
        return t if isinstance(t, tuple) else (t,)

    def path_mod(self) -> str | None:
        t = self.peek()
        if t and t.kind == "OP" and t.text in ("+", "*", "?"):
            self.next()
            return t.text
        return None

    def negated_property_set(self):
        """After ``!``: a single ``[^]IRI``, or ``([^]p1|[^]p2|…)``.
        Any-of constants (undeclared well-known pnames, ``a``) flatten
        into the excluded set — !rdf:type must exclude both store
        forms. Returns ``PathNeg`` (forward-only) or ``PathNegMixed``
        when inverse members (``^p``) are present — SPARQL 1.1 §9.1
        evaluates a mixed set as forward-NPS ∪ inverse-NPS."""
        fwd: list = []
        rev: list = []

        def member() -> None:
            inv = False
            t = self.peek()
            if t and t.kind == "OP" and t.text == "^":
                self.next()
                inv = True
            term = self.term(as_predicate=True)
            if isinstance(term, (Var, Lit, Num)):
                raise ValueError(
                    "negated property set members must be IRIs"
                )
            toks = term if isinstance(term, tuple) else (term,)
            (rev if inv else fwd).extend(toks)

        t = self.peek()
        if t and t.kind == "OP" and t.text == "(":
            self.next()
            member()
            while self.peek() and self.peek().kind == "OP" \
                    and self.peek().text == "|":
                self.next()
                member()
            self.expect("OP", ")")
        else:
            member()
        if rev:
            return PathNegMixed(tuple(fwd), tuple(rev))
        return PathNeg(tuple(fwd))

    _PATH_WRAP = {"+": PathPlus, "*": PathStar, "?": PathOpt}

    def emit_path(self, g: Group, subj, parts, obj) -> None:
        """Rewrite a path into chained patterns through fresh vars.
        An inverse element swaps its endpoints (``a ^p b`` is
        ``b p a``); a modifier wraps the predicate in its Path node."""
        node = subj
        for i, (pred, mod, inv) in enumerate(parts):
            last = i == len(parts) - 1
            nxt = obj if last else Var(f"__path{_Parser._path_counter}")
            if not last:
                _Parser._path_counter += 1
            src, dst = (nxt, node) if inv else (node, nxt)
            if isinstance(pred, PathSeq) and mod is None:
                # parentheses are pure grouping (SPARQL 1.1): a bare
                # (p1/p2) splices into chained triple patterns exactly
                # like p1/p2 — bag semantics and literal meta
                # preserved; the composed-edge-relation compile is
                # only correct under +/*/? (set semantics).
                # ^(p1/p2) == (^p2/^p1)
                steps = list(pred.steps)
                if inv:
                    steps = [(sp, not si) for sp, si in reversed(steps)]
                cur = node
                for j, (sp, si) in enumerate(steps):
                    lastj = j == len(steps) - 1
                    tgt = nxt if lastj else Var(
                        f"__path{_Parser._path_counter}"
                    )
                    if not lastj:
                        _Parser._path_counter += 1
                    g.triples.append((tgt, sp, cur) if si
                                     else (cur, sp, tgt))
                    cur = tgt
                node = nxt
                continue
            if isinstance(pred, PathNegMixed) and mod is None:
                # !(p1|^p2) = forward-NPS ∪ inverse-NPS (§9.1): two
                # UNION arms sharing the endpoints (just the reversed
                # triple when the forward set is empty). Under +/*/?
                # the wrap below closes over the mixed edge relation
                # (_edge_rel's PathNegMixed branch) instead.
                rev_triple = (dst, PathNeg(pred.rev), src)
                if not pred.fwd:
                    g.triples.append(rev_triple)
                else:
                    arms = [Group(triples=[(src, PathNeg(pred.fwd),
                                            dst)]),
                            Group(triples=[rev_triple])]
                    g.unions.append(arms)
                    g.seq.append(("union", arms))
            else:
                p = _Parser._PATH_WRAP[mod](pred) if mod else pred
                g.triples.append((src, p, dst))
            node = nxt

    def triples_same_subject(self, g: Group) -> None:
        subj = self.term()
        while True:
            parts = self.path()
            while True:
                obj = self.term()
                if len(parts) == 1 and parts[0][1] is None \
                        and not parts[0][2] \
                        and not isinstance(parts[0][0],
                                           (PathNegMixed, PathSeq)):
                    g.triples.append((subj, parts[0][0], obj))
                else:
                    self.emit_path(g, subj, parts, obj)
                t = self.peek()
                if t and t.kind == "OP" and t.text == ",":  # object list
                    self.next()
                    continue
                break
            t = self.peek()
            if t and t.kind == "OP" and t.text == ";":
                self.next()
                # allow trailing ';' before '.' or '}'
                t2 = self.peek()
                if t2 and (t2.kind == "OP" and t2.text in (".", "}")):
                    return
                continue
            return

    def term(self, as_predicate: bool = False):
        t = self.next()
        if t.kind == "VAR":
            return Var(t.text[1:])
        if t.kind == "IRI":
            return t.text[1:-1]
        if t.kind == "PNAME":
            if t.text == "a" and as_predicate:
                # `a` must hit full-IRI stores (no PREFIX rdf: needed —
                # the docs' observation query relies on that) AND the
                # repo's compact-IRI stores: any-of constant
                return (RDF_TYPE, "rdf:type")
            return self.expand_pname(t.text)
        if t.kind == "STRING":
            return self.finish_literal(t)
        if t.kind == "NUM":
            return Num(float(t.text), t.text)
        if t.kind == "KW" and t.text in _TERM_OK_KWS:
            # graph-management keyword used as a bare compact term
            # (`?s ?p all`) — verbatim passthrough, original spelling
            return t.raw if t.raw is not None else t.text
        raise ValueError(f"SPARQL parser: bad term {t.text!r}")

    def finish_literal(self, t: Tok) -> Lit:
        # short ("…" / '…') and long ("""…""" / '''…''') string forms
        q = 3 if t.text[:3] in ('"""', "'''") else 1
        value = _unescape_string(t.text[q:-q])
        nxt = self.peek()
        if nxt and nxt.kind == "OP" and nxt.text == "@":
            self.next()
            lang = self.expect("PNAME").text
            # BCP-47 subtags: en-US, de-DE-1996 …
            while (self.peek() and self.peek().kind == "OP"
                   and self.peek().text == "-"):
                self.next()
                sub = self.next()
                if sub.kind not in ("PNAME", "NUM"):
                    raise ValueError(f"bad language subtag {sub.text!r}")
                lang += "-" + sub.text
            return Lit(value, lang=lang)
        if nxt and nxt.kind == "OP" and nxt.text == "^^":
            self.next()
            dt = self.next()
            if dt.kind == "IRI":
                return Lit(value, datatype=dt.text[1:-1])
            dtv = self.expand_pname(dt.text)
            if isinstance(dtv, tuple):
                # well-known undeclared prefix (xsd: without a PREFIX
                # line): datatypes are stored as full IRIs, so the
                # full form is the term identity — an any-of tuple
                # here would leak into F.lit() sinks downstream
                dtv = dtv[0]
            return Lit(value, datatype=dtv)
        return Lit(value)

    def expand_pname(self, pname: str):
        """Declared prefix → full IRI; well-known prefix, undeclared
        or declared as its standard namespace → any-of (full IRI,
        compact); other undeclared → keep compact (the repo's
        compact-IRI stores; see module docstring)."""
        if ":" not in pname:
            return pname
        pfx, local = pname.split(":", 1)
        if pfx in self.prefixes:
            if self.prefixes[pfx] == WELL_KNOWN_PREFIXES.get(pfx):
                return DeclaredPair((self.prefixes[pfx] + local, pname))
            return self.prefixes[pfx] + local
        if pfx in WELL_KNOWN_PREFIXES:
            return (WELL_KNOWN_PREFIXES[pfx] + local, pname)
        return pname

    # -- expressions ---------------------------------------------------
    def expr(self):
        return self.or_expr()

    def or_expr(self):
        left = self.and_expr()
        while self.peek() and self.peek().kind == "OP" and self.peek().text == "||":
            self.next()
            left = BinOp("||", left, self.and_expr())
        return left

    def and_expr(self):
        left = self.unary_expr()
        while self.peek() and self.peek().kind == "OP" and self.peek().text == "&&":
            self.next()
            left = BinOp("&&", left, self.unary_expr())
        return left

    def unary_expr(self):
        t = self.peek()
        if t and t.kind == "OP" and t.text == "!":
            self.next()
            return NotExpr(self.unary_expr())
        return self.rel_expr()

    def rel_expr(self):
        left = self.additive_expr()
        t = self.peek()
        if t and t.kind == "OP" and t.text in ("=", "!=", "<", ">", "<=", ">="):
            op = self.next().text
            return BinOp(op, left, self.additive_expr())
        if self.at_kw("IN"):
            self.next()
            return self.in_list(left, negated=False)
        if self.at_kw("NOT"):
            nxt = self.peek(1)
            if nxt is not None and nxt.kind == "KW" and nxt.text == "IN":
                self.next()
                self.next()
                return self.in_list(left, negated=True)
        return left

    def in_list(self, left, negated: bool):
        """``?x [NOT] IN (t1, t2, …)`` → FnCall("IN"/"NOT IN", …)."""
        self.expect("OP", "(")
        items = []
        while True:
            t = self.peek()
            if t is None:
                raise ValueError("SPARQL parser: unterminated IN list")
            if t.kind == "OP" and t.text == ")":
                self.next()
                break
            items.append(self.term())
            t = self.peek()
            if t and t.kind == "OP" and t.text == ",":
                self.next()
        return FnCall("NOT IN" if negated else "IN", [left] + items)

    def _signed_num_split(self) -> str | None:
        """The tokenizer lexes ``?x+1`` / ``?x -2`` as a SIGNED number
        token (NUM swallows the +/-). In binary-operator position that
        sign IS the operator: split it off, push the bare number back,
        return the operator."""
        t = self.peek()
        if t and t.kind == "NUM" and t.text[0] in "+-":
            op = t.text[0]
            self.toks[self.i] = Tok("NUM", t.text[1:])
            return op
        return None

    def additive_expr(self):
        left = self.mult_expr()
        while True:
            t = self.peek()
            if t and t.kind == "OP" and t.text in ("+", "-"):
                op = self.next().text
                left = BinOp(op, left, self.mult_expr())
                continue
            op = self._signed_num_split()
            if op is not None:
                left = BinOp(op, left, self.mult_expr())
                continue
            return left

    def mult_expr(self):
        left = self.neg_primary()
        while True:
            t = self.peek()
            if t and t.kind == "OP" and t.text in ("*", "/"):
                op = self.next().text
                left = BinOp(op, left, self.neg_primary())
                continue
            return left

    def neg_primary(self):
        t = self.peek()
        if t and t.kind == "OP" and t.text == "-":
            self.next()
            return BinOp("-", Num(0.0, "0"), self.neg_primary())
        if t and t.kind == "OP" and t.text == "+":
            self.next()
            return self.neg_primary()
        return self.primary()

    def primary(self):
        t = self.peek()
        if t is None:
            raise ValueError("SPARQL parser: unexpected end of expression")
        if t.kind == "OP" and t.text == "(":
            self.next()
            e = self.expr()
            self.expect("OP", ")")
            return e
        if t.kind == "KW" and t.text in _AGGS:
            self.next()
            self.expect("OP", "(")
            distinct = False
            if self.at_kw("DISTINCT"):
                self.next()
                distinct = True
            if self.peek().kind == "OP" and self.peek().text == "*":
                self.next()
                arg = "*"
            else:
                arg = self.expr()  # aggregates over expressions: SUM(?a*?b)
            sep = None
            nxt = self.peek()
            if nxt and nxt.kind == "OP" and nxt.text == ";":
                # GROUP_CONCAT(?x; SEPARATOR=", ")
                self.next()
                kw = self.expect("PNAME")
                if kw.text.upper() != "SEPARATOR":
                    raise ValueError(
                        f"expected SEPARATOR, got {kw.text!r}"
                    )
                self.expect("OP", "=")
                sep = _unescape_string(self.expect("STRING").text[1:-1])
                if t.text != "GROUP_CONCAT":
                    raise ValueError(
                        "SEPARATOR is only valid in GROUP_CONCAT"
                    )
            self.expect("OP", ")")
            return Agg(t.text, arg, distinct, sep)
        if t.kind == "KW" and t.text in _FUNCS:
            self.next()
            self.expect("OP", "(")
            args = []
            if not (self.peek() and self.peek().kind == "OP"
                    and self.peek().text == ")"):  # NOW()/UUID()/RAND()
                args = [self.expr()]
                while self.peek() and self.peek().kind == "OP" \
                        and self.peek().text == ",":
                    self.next()
                    args.append(self.expr())
            self.expect("OP", ")")
            if not args and t.text not in _ZERO_ARG_FUNCS:
                # only the nondeterministic/constant builtins have a
                # nullary form — STRLEN() etc. must fail at parse
                # time, not as an IndexError mid-compile
                raise ValueError(
                    f"SPARQL builtin {t.text}() requires arguments"
                )
            if t.text in ("STRLANG", "STRDT"):
                return self._fold_term_ctor(FnCall(t.text, args))
            return FnCall(t.text, args)
        return self.term()

    @staticmethod
    def _fold_term_ctor(fn: FnCall):
        """Constant-fold STRLANG/STRDT over literal arguments into the
        tagged/typed ``Lit`` they construct, so the existing term-aware
        machinery (tagged_eq, IN, VALUES, BIND meta routing) applies —
        FILTER(?l = STRLANG("chat","fr")) must behave exactly like
        FILTER(?l = "chat"@fr). Non-constant args keep the FnCall
        (value-only in expression position; BIND routes the tag)."""
        if len(fn.args) != 2:
            raise ValueError(f"{fn.name} takes exactly 2 arguments")
        v, tag = fn.args
        if isinstance(v, Lit) and not (v.lang or v.datatype):
            if fn.name == "STRLANG" and isinstance(tag, Lit) \
                    and not (tag.lang or tag.datatype):
                return Lit(v.value, lang=tag.value)
            if fn.name == "STRDT":
                if isinstance(tag, tuple):
                    return Lit(v.value, datatype=tag[0])
                if isinstance(tag, str):
                    return Lit(v.value, datatype=tag)
        return fn


def parse_sparql(text: str) -> Query:
    return _Parser(_tokenize(text)).parse()


# ---------------------------------------------------------------------------
# Compiler: AST → DataFrame plan.

def _const_of(term):
    """Pattern-position constant. A plain literal matches on its
    lexical form (documented divergence: an untagged "Paris" pattern
    also matches tagged forms — the store predates RDF 1.1 simple-
    literal folding); a literal WITH @lang/^^datatype becomes a
    ``TypedLit`` so the slice matches the exact RDF term ("Paris"@en
    must not match "Paris"@fr)."""
    if isinstance(term, Lit):
        if term.lang is not None or term.datatype is not None:
            return TypedLit(term.value, term.lang, term.datatype)
        return term.value
    if isinstance(term, Num):
        return term.text
    return term


def _vars_of(e) -> set[str]:
    """Variable names referenced anywhere in an expression AST."""
    if isinstance(e, Var):
        return {e.name}
    if isinstance(e, BinOp):
        return _vars_of(e.left) | _vars_of(e.right)
    if isinstance(e, NotExpr):
        return _vars_of(e.inner)
    if isinstance(e, FnCall):
        return set().union(*[_vars_of(a) for a in e.args]) if e.args else set()
    if isinstance(e, Agg):
        return set() if e.arg == "*" else _vars_of(e.arg)
    return set()


def _compile_expr(e, df: DataFrame,
                  resolver: dict[str, Column] | None = None) -> Column:
    """Expression AST → Column over ``df``. ``resolver`` maps variable
    names to explicit Column references for cross-frame contexts (an
    OPTIONAL filter hoisted into a join condition, where names must be
    frame-qualified to avoid ambiguity)."""
    cols = set(df.columns) | set(resolver or ())

    def col_or_null(name: str) -> Column:
        if resolver and name in resolver:
            return resolver[name]
        return F.col(name) if name in cols else F.lit(None).cast("string")

    def tagged_eq(a, b) -> Column:
        """RDF term equality of a variable against a tagged/typed
        literal ("Paris"@en): the lang/datatype meta columns compare
        too, matching the quad identity the update layer keys on.
        Value equality keeps SQL NULL semantics (unbound var → NULL →
        the row drops under = AND !=, SPARQL's type error); the META
        conjuncts are coalesced to false so a bound-but-untagged value
        is a definite term MISMATCH ("Paris" plain != "Paris"@en is
        TRUE), never NULL — and the whole thing is forced NULL for an
        unbound variable (three-valued NULL & false would otherwise
        collapse to false and invert under !=). A var without meta
        columns falls back to lexical comparison (same documented
        divergence as plain pattern-position literals)."""
        val = to(a)
        eq = val == F.lit(b.value)
        lang_col = f"{a.name}__lang"
        dt_col = f"{a.name}__dt"
        if b.lang is not None and lang_col in cols:
            eq = eq & F.coalesce(
                col_or_null(lang_col) == F.lit(b.lang), F.lit(False)
            )
        elif b.datatype == XSD_STRING and lang_col in cols \
                and dt_col in cols:
            eq = eq & col_or_null(lang_col).isNull() & (
                col_or_null(dt_col).isNull()
                | (col_or_null(dt_col) == XSD_STRING)
            )
        elif b.datatype is not None and dt_col in cols:
            eq = eq & F.coalesce(
                col_or_null(dt_col) == F.lit(b.datatype), F.lit(False)
            )
        return F.when(val.isNotNull(), eq)

    def to(e):
        if isinstance(e, Var):
            return col_or_null(e.name)
        if isinstance(e, Lit):
            return F.lit(e.value)
        if isinstance(e, Num):
            return F.lit(e.value)
        if isinstance(e, str):       # IRI / pname constant
            return F.lit(e)
        if isinstance(e, DeclaredPair):
            return F.lit(e[0])
        if isinstance(e, NotExpr):
            return ~to(e.inner)
        if isinstance(e, tuple):
            raise ValueError(
                "any-of constant only valid in = / != comparisons"
            )
        if isinstance(e, BinOp):
            if e.op == "&&":
                return to(e.left) & to(e.right)
            if e.op == "||":
                return to(e.left) | to(e.right)
            if e.op in ("+", "-", "*", "/"):
                # SPARQL numeric operators; the store keeps lexical
                # forms, so operands cast by value (try_cast → NULL,
                # i.e. SPARQL type error, on non-numeric strings;
                # try_divide keeps /0 an unbound, not an ANSI crash)
                l = to(e.left).try_cast("double")
                r = to(e.right).try_cast("double")
                return {"+": l + r, "-": l - r, "*": l * r,
                        "/": F.try_divide(l, r)}[e.op]
            # any-of constant (well-known pname): = → isin
            for a, b in ((e.left, e.right), (e.right, e.left)):
                if isinstance(b, tuple):
                    if e.op == "=":
                        return to(a).isin(*b)
                    if e.op == "!=":
                        return ~to(a).isin(*b)
                    if isinstance(b, DeclaredPair):
                        continue
                    raise ValueError(
                        "any-of constant only valid in = / != comparisons"
                    )
            # RDF term equality for tagged literals ("Paris"@en):
            # compare the variable's lang/datatype meta columns too,
            # matching the quad identity the update layer keys on —
            # "Paris"@en must not equal "Paris"@fr or plain "Paris".
            # (A var without meta columns falls back to lexical
            # comparison — same documented divergence as plain
            # pattern-position literals.)
            if e.op in ("=", "!="):
                for a, b in ((e.left, e.right), (e.right, e.left)):
                    if (isinstance(b, Lit)
                            and (b.lang is not None or b.datatype is not None)
                            and isinstance(a, Var)):
                        eq = tagged_eq(a, b)
                        return eq if e.op == "=" else ~eq
            l, r = to(e.left), to(e.right)
            # numeric comparison when either side is a number: SPARQL
            # compares by value, the store keeps lexical forms
            if isinstance(e.left, Num) or isinstance(e.right, Num):
                l, r = l.try_cast("double"), r.try_cast("double")
            return {
                "=": l == r, "!=": l != r, "<": l < r,
                ">": l > r, "<=": l <= r, ">=": l >= r,
            }[e.op]
        if isinstance(e, FnCall):
            if e.name in ("IN", "NOT IN"):
                # SPARQL defines IN as a chain of = comparisons ORed
                # together, so each item keeps =-semantics: tagged
                # literals compare the meta columns, numbers compare
                # by value; plain IRI/string items batch into isin.
                # Any-of constants (undeclared well-known pnames)
                # flatten into the membership set.
                left = e.args[0]
                conds, plain = [], []
                for item in e.args[1:]:
                    if isinstance(item, Var):
                        # ?x IN (?y, …): exactly the = chain —
                        # recurse so tagged/numeric semantics apply
                        conds.append(_compile_expr(
                            BinOp("=", left, item), df, resolver
                        ))
                        continue
                    if isinstance(item, Lit) and (
                            item.lang is not None
                            or item.datatype is not None):
                        if isinstance(left, Var):
                            conds.append(tagged_eq(left, item))
                        else:
                            conds.append(to(left) == F.lit(item.value))
                    elif isinstance(item, Num):
                        conds.append(
                            to(left).try_cast("double") == item.value
                        )
                    else:
                        c = _const_of(item)
                        plain.extend(c if isinstance(c, tuple) else (c,))
                if plain:
                    conds.append(to(left).isin(*plain))
                cond = conds[0] if conds else F.lit(False)
                for extra in conds[1:]:
                    cond = cond | extra
                return cond if e.name == "IN" else ~cond
            if e.name in ("STRLANG", "STRDT"):
                # expression position sees the VALUE component only
                # (the lexical form); a BIND target additionally gets
                # the tag routed into its __lang/__dt meta columns —
                # handled in the bind replay. Evaluated before the
                # generic arg loop: the datatype arg may be an any-of
                # tuple (undeclared well-known pname) that to()
                # rejects.
                return to(e.args[0]).cast("string")
            a = [to(x) for x in e.args]
            if e.name == "LANGMATCHES":
                # SPARQL langMatches (RFC 4647 basic filtering): "*"
                # matches any non-empty tag; otherwise the tag equals
                # the range or extends it with a subtag, both
                # case-insensitive
                if len(a) != 2:
                    raise ValueError(
                        "LANGMATCHES takes exactly 2 arguments"
                    )
                t, r = F.lower(a[0]), F.lower(a[1])
                return F.when(r == "*", t != "").otherwise(
                    (t == r) | t.startswith(F.concat(r, F.lit("-")))
                )
            if e.name == "LANG":
                v = e.args[0]
                meta = f"{v.name}__lang" if isinstance(v, Var) else None
                if meta and meta in cols:
                    return F.coalesce(col_or_null(meta), F.lit(""))
                return F.lit("")
            if e.name == "DATATYPE":
                v = e.args[0]
                meta = f"{v.name}__dt" if isinstance(v, Var) else None
                if meta and meta in cols:
                    return col_or_null(meta)
                return F.lit(None).cast("string")
            if e.name == "STR":
                return a[0].cast("string")
            if e.name == "CONTAINS":
                return a[0].contains(a[1])
            if e.name == "STRSTARTS":
                return a[0].startswith(a[1])
            if e.name == "STRENDS":
                return a[0].endswith(a[1])
            if e.name == "STRLEN":
                return F.length(a[0])
            if e.name == "LCASE":
                return F.lower(a[0])
            if e.name == "UCASE":
                return F.upper(a[0])
            if e.name == "CONCAT":
                # §17.4.3.12: variadic; any erroring/unbound arg makes
                # the whole call an error (F.concat's NULL propagation
                # matches exactly)
                return F.concat(*[x.cast("string") for x in a])
            if e.name == "IF":
                # §17.4.1.2: IF(c,t,f) — an ERROR condition is an
                # error (unbound), NOT the else-branch: the chained
                # when with no otherwise leaves NULL cond → NULL
                if len(a) != 3:
                    raise ValueError("IF takes exactly 3 arguments")
                cond = a[0].cast("boolean")
                return F.when(cond, a[1]).when(~cond, a[2])
            if e.name == "BOUND":
                return a[0].isNotNull()
            if e.name == "COALESCE":
                # nullary COALESCE() is grammatical; every arg
                # erroring/unbound (or none given) yields unbound
                return F.coalesce(*a) if a else F.lit(None)
            if e.name in ("STRBEFORE", "STRAFTER"):
                if not isinstance(e.args[1], Lit):
                    raise ValueError(
                        f"{e.name} separator must be a string literal"
                    )
                sep = e.args[1].value
                if e.name == "STRBEFORE":
                    # part before the FIRST occurrence; "" when absent
                    return F.when(
                        F.instr(a[0], sep) > 0,
                        F.substring_index(a[0], sep, 1),
                    ).otherwise(F.lit(""))
                return F.when(
                    F.instr(a[0], sep) > 0,
                    F.substring(
                        a[0], F.instr(a[0], sep) + len(sep),
                        F.lit(1 << 30),
                    ),
                ).otherwise(F.lit(""))
            if e.name == "REPLACE":
                if not isinstance(e.args[1], Lit):
                    raise ValueError("REPLACE pattern must be a string literal")
                pat = e.args[1].value
                if len(e.args) > 3:
                    if not isinstance(e.args[3], Lit):
                        raise ValueError(
                            "REPLACE flags must be a string literal"
                        )
                    flags = e.args[3].value
                    bad = set(flags) - set("ism")
                    if bad:
                        raise ValueError(f"unsupported REPLACE flags {flags!r}")
                    if flags:
                        pat = f"(?{flags})" + pat
                return F.regexp_replace(a[0], pat, a[2])
            if e.name == "SUBSTR":
                # SPARQL substr is 1-based; length optional
                length = a[2].cast("int") if len(a) > 2 else F.lit(1 << 30)
                return F.substring(a[0], a[1].cast("int"), length)
            if e.name in ("ISIRI", "ISURI"):
                # store convention: IRIs are scheme-prefixed or compact
                # pnames; blank nodes start with "_:"; tagged/typed
                # values are literals regardless of shape
                v = e.args[0]
                c = a[0]
                iri_like = c.rlike(
                    r"^[A-Za-z][A-Za-z0-9+.\-]*:"
                ) & ~c.startswith("_:")
                if isinstance(v, Var) and f"{v.name}__lang" in cols:
                    iri_like = iri_like \
                        & col_or_null(f"{v.name}__lang").isNull() \
                        & col_or_null(f"{v.name}__dt").isNull()
                return F.when(c.isNotNull(), iri_like)
            if e.name == "ISBLANK":
                return F.when(a[0].isNotNull(), a[0].startswith("_:"))
            if e.name == "ISLITERAL":
                v = e.args[0]
                c = a[0]
                lit_like = ~c.rlike(
                    r"^[A-Za-z][A-Za-z0-9+.\-]*:"
                ) & ~c.startswith("_:")
                if isinstance(v, Var) and f"{v.name}__lang" in cols:
                    lit_like = lit_like \
                        | col_or_null(f"{v.name}__lang").isNotNull() \
                        | col_or_null(f"{v.name}__dt").isNotNull()
                return F.when(c.isNotNull(), lit_like)
            if e.name == "ABS":
                return F.abs(a[0].try_cast("double"))
            if e.name == "ROUND":
                # fn:round rounds ties toward +inf (round(-2.5) = -2),
                # not Spark's HALF_UP away-from-zero: floor(x + 0.5)
                return F.floor(
                    a[0].try_cast("double") + 0.5
                ).cast("double")
            if e.name == "CEIL":
                return F.ceil(a[0].try_cast("double")).cast("double")
            if e.name == "FLOOR":
                return F.floor(a[0].try_cast("double")).cast("double")
            if e.name in ("IRI", "URI"):
                # term strings ARE IRIs in this store; STR→IRI is a
                # cast (queries here use absolute IRIs / pnames — no
                # base resolution)
                return a[0].cast("string")
            if e.name == "ISNUMERIC":
                # §17.4.2.4: numeric means a numeric DATATYPE — a bare
                # "12" is xsd:string. Datatype-aware when meta rides
                # along; otherwise lexical-parse + term-shape fallback
                v = e.args[0]
                c = a[0]
                if isinstance(v, Num):
                    return F.lit(True)
                if isinstance(v, Var) and f"{v.name}__dt" in cols:
                    dt = F.regexp_replace(
                        col_or_null(f"{v.name}__dt"),
                        "^http://www\\.w3\\.org/2001/XMLSchema#", "xsd:")
                    return F.when(c.isNotNull(), F.coalesce(dt.isin(
                        "xsd:integer", "xsd:decimal", "xsd:float",
                        "xsd:double", "xsd:int", "xsd:long", "xsd:short",
                        "xsd:byte", "xsd:nonNegativeInteger",
                        "xsd:positiveInteger", "xsd:negativeInteger",
                        "xsd:nonPositiveInteger", "xsd:unsignedInt",
                        "xsd:unsignedLong", "xsd:unsignedShort",
                        "xsd:unsignedByte"), F.lit(False)))
                return F.when(
                    c.isNotNull(),
                    c.try_cast("double").isNotNull()
                    & ~c.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
                    & ~c.startswith("_:"))
            if e.name == "NOW":
                # constant across the whole query (§17.4.5.1)
                return F.date_format(
                    F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSS")
            if e.name == "UUID":
                return F.concat(F.lit("urn:uuid:"), F.expr("uuid()"))
            if e.name == "STRUUID":
                return F.expr("uuid()")
            if e.name == "BNODE":
                if e.args:
                    # BNODE(str), §17.4.2.9: the SAME node for equal
                    # args within one solution mapping, DISTINCT
                    # across solutions. The nonce is a content hash of
                    # the solution's (non-internal) columns — NOT a
                    # physical row id: monotonically_increasing_id
                    # changes between projection stages and under
                    # stage retry, which broke the same-node-within-
                    # one-solution guarantee for two BNODE calls
                    # compiled into different BINDs. Value-identical
                    # duplicate solutions (bag semantics) share a
                    # label under this scheme — the documented
                    # trade-off for determinism.
                    # columns holding GENERATED bnode labels (an
                    # earlier BIND(BNODE(..))) are masked out of the
                    # hash — otherwise a second BNODE("k") compiled
                    # after the first lands on a solution that now
                    # carries b1, changing the nonce and breaking the
                    # same-node guarantee. Masking is by the generated
                    # shape (_: + 32 hex); solutions distinguished
                    # ONLY by such a column share labels — documented.
                    sol_cols = [
                        F.when(F.col(c).cast("string")
                               .rlike("^_:[0-9a-f]{32}$"), F.lit(None))
                        .otherwise(F.concat(F.lit(c + "="),
                                            F.col(c).cast("string")))
                        for c in df.columns if not c.startswith("_")
                    ]
                    nonce = (
                        F.xxhash64(F.filter(F.array(*sol_cols),
                                            lambda x: x.isNotNull()))
                        .cast("string")
                        if sol_cols else F.lit("row"))
                    return F.concat(
                        F.lit("_:"),
                        F.md5(F.concat(nonce, F.lit(":"),
                                       a[0].cast("string"))))
                return F.concat(F.lit("_:"), F.expr("uuid()"))
            if e.name == "RAND":
                return F.rand()
            if e.name == "MD5":
                return F.md5(a[0].cast("string"))
            if e.name == "SHA1":
                return F.sha1(a[0].cast("string"))
            if e.name in ("SHA256", "SHA384", "SHA512"):
                return F.sha2(a[0].cast("string"), int(e.name[3:]))
            if e.name == "ENCODE_FOR_URI":
                # §17.4.2.8 percent-encodes everything outside RFC
                # 3986's unreserved set; url_encode is form-encoding,
                # which differs on exactly space/'~'/'*'
                enc = F.url_encode(a[0].cast("string"))
                enc = F.replace(enc, F.lit("+"), F.lit("%20"))
                enc = F.replace(enc, F.lit("%7E"), F.lit("~"))
                return F.replace(enc, F.lit("*"), F.lit("%2A"))
            if e.name in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES",
                          "SECONDS", "TZ"):
                # LEXICAL extraction from the xsd:date/dateTime form —
                # a timestamp cast would shift tz-suffixed literals to
                # session time, but §17.4.5 accessors return the
                # component in the literal's own timezone
                ts = a[0].cast("string")
                pats = {
                    "YEAR": r"^(-?\d{4,})-", "MONTH": r"^-?\d{4,}-(\d{2})-",
                    "DAY": r"^-?\d{4,}-\d{2}-(\d{2})",
                    "HOURS": r"[T ](\d{2}):",
                    "MINUTES": r"[T ]\d{2}:(\d{2}):",
                    "SECONDS": r"[T ]\d{2}:\d{2}:(\d{2}(?:\.\d+)?)",
                    "TZ": r"(Z|[+-]\d{2}:\d{2})$",
                }
                got = F.regexp_extract(ts, pats[e.name], 1)
                if e.name == "TZ":  # '' when the literal carries none
                    return got
                if e.name == "SECONDS":
                    return got.try_cast("double")
                return got.try_cast("int")
            if e.name == "REGEX":
                if not isinstance(e.args[1], Lit):
                    raise ValueError("REGEX pattern must be a string literal")
                pat = e.args[1].value
                if len(e.args) > 2:  # flags: i/s/m → inline (?…) prefix
                    if not isinstance(e.args[2], Lit):
                        raise ValueError("REGEX flags must be a string literal")
                    flags = e.args[2].value
                    bad = set(flags) - set("ism")
                    if bad:
                        raise ValueError(f"unsupported REGEX flags {flags!r}")
                    if flags:
                        pat = f"(?{flags})" + pat
                return a[0].rlike(pat)
            raise ValueError(f"unsupported function {e.name}")
        raise ValueError(f"unsupported expression node {e!r}")

    return to(e)


def _agg_col(agg: Agg, df: DataFrame | None = None) -> Column:
    """Aggregate expression → Column. The argument is a variable, ``*``,
    or (with ``df`` for name resolution) any expression — SUM(?a*?b)."""
    def arg_col() -> Column:
        if isinstance(agg.arg, Var):
            return F.col(agg.arg.name)
        if df is None:
            raise ValueError(
                f"{agg.fn}() over an expression needs solution context"
            )
        return _compile_expr(agg.arg, df)

    if agg.fn == "COUNT":
        if agg.arg == "*":
            return F.count(F.lit(1))
        c = arg_col()
        return F.countDistinct(c) if agg.distinct else F.count(c)
    c = arg_col()
    if agg.fn == "MAX":
        return F.max(c)
    if agg.fn == "MIN":
        return F.min(c)
    if agg.fn == "SUM":
        return F.sum(c.try_cast("double"))
    if agg.fn == "AVG":
        return F.avg(c.try_cast("double"))
    if agg.fn == "SAMPLE":
        # SPARQL SAMPLE is any value; MIN keeps it deterministic
        return F.min(c)
    if agg.fn == "GROUP_CONCAT":
        # sorted for determinism; SPARQL's default separator is a space
        vals = F.collect_set(c) if agg.distinct else F.collect_list(c)
        return F.array_join(F.sort_array(vals),
                            agg.sep if agg.sep is not None else " ")
    raise ValueError(f"unsupported aggregate {agg.fn}")


_LUC_SEARCH_PREDS = (LUCENE_NS + "searchIndex", "luc:searchIndex")
_LUC_SCORE_PREDS = (LUCENE_NS + "score", "luc:score")


def _lucene_score_map(triple_list: list) -> dict[str, str]:
    """GROUP-wide luc:score pairing: {entity_var: score_var}, validated
    against the group's luc:searchIndex patterns — a score may sit in
    a different TriplesBlock than its search (GraphDB imposes no
    adjacency requirement)."""
    searches, score_vars = set(), {}
    for (s, p, o) in triple_list:
        if p in _LUC_SEARCH_PREDS and isinstance(s, Var):
            searches.add(s.name)
        elif p in _LUC_SCORE_PREDS and isinstance(s, Var) \
                and isinstance(o, Var):
            score_vars[s.name] = o.name
    orphans = set(score_vars) - searches
    if orphans:
        raise ValueError(
            "luc:score without a matching luc:searchIndex pattern for "
            f"?{sorted(orphans)[0]}"
        )
    return score_vars


def _split_lucene(triple_list: list, score_map: dict[str, str]):
    """Pull GraphDB's Lucene magic patterns out of a TriplesBlock:
    (?e luc:searchIndex "query") joins at ITS textual position with
    the score variable from ``score_map`` (paired group-wide by
    ``_lucene_score_map``); luc:score patterns are consumed wherever
    they appear. Returns (remaining_triples, searches) with
    searches = [(entity_var, query_string, score_var|None)]."""
    remaining, searches = [], {}
    for (s, p, o) in triple_list:
        if p in _LUC_SEARCH_PREDS and isinstance(s, Var):
            searches[s.name] = o.value if isinstance(o, Lit) else str(o)
        elif p in _LUC_SCORE_PREDS and isinstance(s, Var) \
                and isinstance(o, Var):
            continue  # already paired in score_map
        else:
            remaining.append((s, p, o))
    return remaining, [
        (ent, q, score_map.get(ent)) for ent, q in searches.items()
    ]


# joins a graph IRI to its subject in the per-graph FTS doc key; a
# control char is illegal in IRIs, so the split-back is unambiguous
_LUC_GRAPH_SEP = "\x1f"


def _eval_lucene(triples: DataFrame, ent: str, query: str,
                 score_var: str | None,
                 graph_var: str | None = None) -> DataFrame:
    """luc:searchIndex over the store's literal objects: ad-hoc posting
    table (production uses the materialized bucket-pruned index), TF
    score — the luc:score analog. The query text is evaluated by
    ``fts_matches`` (the Lucene operator subset), every match kept.

    ``graph_var`` (the GRAPH ?var scope): the document key becomes
    (graph, subject) — an entity matches per named graph on that
    graph's literals only, and the TF score sums that graph's term
    frequencies (TF needs no corpus-global statistics, so per-graph
    scoring is exact; a tfidf variant would need per-graph document
    frequencies). Result carries the graph column bound as the
    variable."""
    from kgap_spark.index.fts import build_posting_table, fts_matches

    lits = triples.filter(
        F.col("obj_lang").isNotNull()
        | (F.col("obj_datatype").isNull() & ~F.col("obj").rlike("^[A-Za-z][A-Za-z0-9+.\\-]*:"))
    )
    if graph_var is None:
        docs = lits.select(F.col("subj").alias("_doc"),
                           F.col("obj").alias("_txt"))
    else:
        docs = lits.filter(F.col("graph").isNotNull()).select(
            F.concat_ws(_LUC_GRAPH_SEP, "graph", "subj").alias("_doc"),
            F.col("obj").alias("_txt"),
        )
    posting = build_posting_table(docs, "_doc", "_txt")
    hits = fts_matches(posting, query)
    score = F.col("score").cast("double").alias(score_var or "__score")
    if graph_var is None:
        out = hits.select(F.col("subj").alias(ent), score)
    else:
        out = hits.select(
            F.substring_index("subj", _LUC_GRAPH_SEP, 1).alias(graph_var),
            F.substring_index("subj", _LUC_GRAPH_SEP, -1).alias(ent),
            score,
        )
    return out if score_var else out.drop("__score")


def _pred_cond(pred) -> Column:
    if isinstance(pred, PathNeg):
        # forward negated property set as a closure edge: (!p)+ walks
        # every edge whose predicate is NOT in the excluded set
        return ~F.col("pred").isin(*pred.preds)
    return (
        F.col("pred").isin(*pred) if isinstance(pred, (tuple, set, frozenset))
        else F.col("pred") == pred
    )


# internal column names of the path-closure frames; double-underscore
# prefixed so a user variable (or GRAPH ?var) named a/b/n/_m cannot
# collide — a guard below rejects the pathological ?__path… overlap
_PA, _PB, _PM, _PN = "__path_a", "__path_b", "__path_m", "__path_n"


def _path_guard(graph_var: str | None) -> None:
    if graph_var is not None and graph_var.startswith("__path"):
        raise ValueError(
            f"GRAPH ?{graph_var}: __path-prefixed variables are "
            "reserved by the path compiler"
        )


def _edge_rel(triples: DataFrame, pred,
              graph_var: str | None = None,
              triple_multiplicity: bool = False) -> DataFrame:
    """The (__path_a, __path_b[, graph]) edge relation of a predicate:
    a simple IRI, an any-of tuple, a negated set (``PathNeg`` /
    ``PathNegMixed``), or a composed ``PathSeq`` — the ``(p1/p2)+``
    inner relation, one equi-join per step (inverse steps swap their
    endpoints).

    ``triple_multiplicity``: keep one row per matching TRIPLE instead
    of per endpoint pair — §18.4 NPS evaluation yields a solution per
    triple, so two differently-labelled edges between the same
    endpoints count twice when an NPS stands alone in an alternation
    arm. Closures ignore this (ALP is duplicate-free by construction)."""
    _path_guard(graph_var)
    gcols = [graph_var] if graph_var else []
    t = triples
    gsel = []
    if graph_var:
        t = t.filter(F.col("graph").isNotNull())
        gsel = [F.col("graph").alias(graph_var)]
    def _one_per_triple(frame: DataFrame, src: str, dst: str) -> DataFrame:
        # exact per-triple rows: dedup on the full (graph-scoped)
        # triple identity, then project the endpoints WITHOUT a
        # second distinct — per-predicate multiplicity survives
        keys = (["graph"] if graph_var else []) + ["subj", "pred", "obj"]
        return frame.select(*keys).distinct().select(
            F.col(src).alias(_PA), F.col(dst).alias(_PB), *gsel
        )

    if isinstance(pred, PathNegMixed):
        # !(p1|^p2) as a closure edge: forward-NPS edges (pred not in
        # the forward excluded set) ∪ SWAPPED inverse-NPS edges (§9.1
        # union rewrite) — a mixed set under +/*/? walks both
        # directions each hop. No forward arm when every member is
        # inverse (!(^p) is pure ^!(p)).
        def _mk(frame, src, dst):
            return _one_per_triple(frame, src, dst) if triple_multiplicity \
                else frame.select(F.col(src).alias(_PA),
                                  F.col(dst).alias(_PB), *gsel)

        rev_arm = _mk(t.filter(~F.col("pred").isin(*pred.rev)), "obj", "subj")
        if not pred.fwd:
            return rev_arm if triple_multiplicity else rev_arm.distinct()
        fwd_arm = _mk(t.filter(~F.col("pred").isin(*pred.fwd)), "subj", "obj")
        both = fwd_arm.unionByName(rev_arm)
        return both if triple_multiplicity else both.distinct()
    if not isinstance(pred, PathSeq):
        matched = t.filter(_pred_cond(pred))
        if triple_multiplicity:
            return _one_per_triple(matched, "subj", "obj")
        return matched.select(
            F.col("subj").alias(_PA), F.col("obj").alias(_PB), *gsel
        ).distinct()
    cur = None
    for sp, inv in pred.steps:
        src, dst = ("obj", "subj") if inv else ("subj", "obj")
        step = t.filter(_pred_cond(sp)).select(
            F.col(src).alias(_PA), F.col(dst).alias(_PB), *gsel
        ).distinct()
        if cur is None:
            cur = step
        else:
            cur = (
                cur.withColumnRenamed(_PB, _PM)
                .join(step.withColumnRenamed(_PA, _PM), [_PM, *gcols])
                .select(_PA, _PB, *gcols)
                .distinct()
            )
    return cur


# safety valves for the transitive-closure loops: SPARQL 1.1 closure
# is unbounded, so both loops iterate to FIXPOINT (the anti-join
# early-exit terminates on cycles) and only ever stop early by
# RAISING — a silent cap would under-return deep hierarchies.
# Doubling covers diameter 2^rounds, so 64 rounds is unreachable on
# real data; the per-hop frontier cap bounds pathological chains.
_CLOSURE_MAX_DOUBLING_ROUNDS = 64
_CLOSURE_MAX_FRONTIER_HOPS = 4096


def _transitive_pairs(triples: DataFrame, pred, start: str | None,
                      graph_var: str | None = None) -> DataFrame:
    """Closure of ``pred+``: all (__path_a, __path_b) pairs connected
    by 1..n hops, iterated to FIXPOINT (SPARQL 1.1 closure is
    unbounded; cycles terminate via the anti-join early-exit). With a
    constant subject the frontier starts there and extends one hop
    per round (bounded expansion, the ``recursive_dereference``
    shape); var-var paths compute the full closure by path-doubling —
    result ∘ result each round, so paths of length 1..2^k are covered
    after k rounds and a diameter-D graph converges in ⌈log2 D⌉
    shuffles instead of D.

    ``graph_var``: per-named-graph closure (the GRAPH ?var scope) —
    edges carry the graph column aliased to the variable, every hop
    joins on it too (a path never crosses graphs), and the result is
    (__path_a, __path_b, graph_var) triples."""
    _path_guard(graph_var)
    gcols = [graph_var] if graph_var else []
    edges = _edge_rel(triples, pred, graph_var)
    if start is not None:
        # frontier expansion from the constant endpoint: the frontier
        # only ever holds newly-reached nodes, so each round is one
        # small shuffle against the edge relation
        frontier = edges.filter(F.col(_PA) == start) \
            .localCheckpoint(eager=True)
        result = frontier
        for _ in range(_CLOSURE_MAX_FRONTIER_HOPS):
            nxt = (
                frontier.withColumnRenamed(_PB, _PM)
                .join(edges.withColumnRenamed(_PA, _PM), [_PM, *gcols])
                .select(_PA, _PB, *gcols)
                .distinct()
            )
            new = nxt.join(result, [_PA, _PB, *gcols], "left_anti") \
                .localCheckpoint(eager=True)
            if not new.head(1):
                return result
            result = result.unionByName(new).localCheckpoint(eager=True)
            frontier = new
        raise ValueError(
            "property-path closure did not converge within "
            f"{_CLOSURE_MAX_FRONTIER_HOPS} hops from <{start}>"
        )
    # var-var full closure: path-doubling to fixpoint
    result = edges.localCheckpoint(eager=True)
    for _ in range(_CLOSURE_MAX_DOUBLING_ROUNDS):
        ext = (
            result.withColumnRenamed(_PB, _PM)
            .join(result.withColumnRenamed(_PA, _PM), [_PM, *gcols])
            .select(_PA, _PB, *gcols)
            .distinct()
        )
        new = ext.join(result, [_PA, _PB, *gcols], "left_anti") \
            .localCheckpoint(eager=True)
        if not new.head(1):
            return result
        result = result.unionByName(new).localCheckpoint(eager=True)
    raise ValueError(
        "property-path closure did not converge within "
        f"{_CLOSURE_MAX_DOUBLING_ROUNDS} doubling rounds"
    )


def _arm_rel(triples: DataFrame, elts: tuple,
             graph_var: str | None = None,
             s_term=None, o_term=None) -> DataFrame:
    """Endpoint-pair relation of ONE alternation arm — a sequence of
    path elements ``(pred, mod, inverse)`` composed by equi-joins. A
    modified element contributes its closure relation (``+`` the
    fixpoint closure, ``*``/``?`` closure ∪ zero-length identity); an
    inverse element swaps its endpoints.

    ``s_term``/``o_term``: the enclosing path's endpoint terms. They
    apply at the arm's BOUNDARY elements (junctions between elements
    are existential variables): a constant start SEEDS a boundary
    closure's frontier instead of computing the whole-graph fixpoint,
    and extends a ``*``/``?`` boundary's zero-length identity with the
    constant itself — ZeroLengthPath(term) = {(term, term)} even for
    terms absent from the data (SPARQL 1.1 §18.4)."""
    gcols = [graph_var] if graph_var else []
    cur = None
    n = len(elts)
    for i, (pred, mod, inv) in enumerate(elts):
        left = s_term if i == 0 else None
        right = o_term if i == n - 1 else None
        if inv:
            # the relation is computed forward then endpoint-swapped,
            # so the arm's left boundary is the pre-swap OBJECT side
            left, right = right, left
        if mod == "+":
            start = left if isinstance(left, str) else None
            r = _transitive_pairs(triples, pred, start,
                                  graph_var=graph_var)
        elif mod in ("*", "?"):
            wrap = PathStar if mod == "*" else PathOpt
            sT = left if left is not None else Var("__path_arm_a")
            oT = right if right is not None else Var("__path_arm_b")
            r = _path_pairs(triples, wrap(pred), sT, oT,
                            graph_var=graph_var)
        elif isinstance(pred, PathAlt):
            # nested alternation as an arm element ((p|p)/q …):
            # recurse — _path_pairs unions the inner arms with the
            # same endpoint threading
            sT = left if left is not None else Var("__path_arm_a")
            oT = right if right is not None else Var("__path_arm_b")
            r = _path_pairs(triples, pred, sT, oT, graph_var=graph_var)
        else:
            r = _edge_rel(triples, pred, graph_var,
                          triple_multiplicity=isinstance(
                              pred, (PathNeg, PathNegMixed)))
            if isinstance(left, str):
                r = r.filter(F.col(_PA) == left)
        if inv:
            r = r.select(F.col(_PB).alias(_PA),
                         F.col(_PA).alias(_PB), *gcols)
        if cur is None:
            cur = r
        else:
            cur = (
                cur.withColumnRenamed(_PB, _PM)
                .join(r.withColumnRenamed(_PA, _PM), [_PM, *gcols])
                .select(_PA, _PB, *gcols)
            )
    return cur


def _path_pairs(triples: DataFrame, p, s_term, o_term,
                graph_var: str | None = None) -> DataFrame:
    """Endpoint pairs of a modified path: PathPlus → the 1..n closure,
    PathStar → closure ∪ zero-length, PathOpt → single edge ∪
    zero-length. The zero-length path matches every term in the
    (scoped) graph PLUS any constant endpoint itself (SPARQL 1.1
    §18.4: ZeroLengthPath(term) = {(term, term)} regardless of graph
    membership — incl. literal/numeric endpoints via their lexical
    form). With ``graph_var`` the pairs carry the graph column and
    stay within one named graph."""
    _path_guard(graph_var)
    start = s_term if isinstance(s_term, str) else None
    if isinstance(p, PathAlt):
        # union of the arms' pair relations; cross-arm duplicates are
        # kept (SPARQL 1.1 bag union of the alternation branches).
        # Endpoint terms thread into each arm so constant starts seed
        # boundary closures (frontier expansion, not the whole-graph
        # fixpoint) and */? boundaries keep ZeroLengthPath(const)
        rel = None
        for arm in p.arms:
            r = _arm_rel(triples, arm, graph_var,
                         s_term=s_term, o_term=o_term)
            rel = r if rel is None else rel.unionByName(r)
        return rel.filter(F.col(_PA) == start) if start is not None \
            else rel
    if isinstance(p, PathSeq):
        # bare parenthesized sequence: just the composed edge relation
        edges = _edge_rel(triples, p, graph_var)
        return edges.filter(F.col(_PA) == start) if start is not None \
            else edges
    if isinstance(p, PathPlus):
        return _transitive_pairs(triples, p.pred, start,
                                 graph_var=graph_var)
    gcols = [graph_var] if graph_var else []
    t = triples.filter(F.col("graph").isNotNull()) if graph_var else triples
    gsel = [F.col("graph").alias(graph_var)] if graph_var else []
    if isinstance(p, PathOpt):
        step = _edge_rel(triples, p.pred, graph_var)
        if start is not None:
            step = step.filter(F.col(_PA) == start)
    else:  # PathStar
        step = _transitive_pairs(triples, p.pred, start,
                                 graph_var=graph_var)
    spark = triples.sparkSession
    graphs_df = (
        t.select(F.col("graph").alias(graph_var)).distinct()
        if graph_var else None
    )
    if start is not None:
        # constant subject: zero-length yields exactly (start, start)
        nodes = local_frame(spark, [(start,)], f"{_PN} string")
        if graph_var:
            nodes = nodes.crossJoin(graphs_df)
    else:
        nodes = (
            t.select(F.col("subj").alias(_PN), *gsel)
            .unionByName(t.select(F.col("obj").alias(_PN), *gsel))
            .distinct()
        )
        consts = []
        for c in (s_term, o_term):
            if isinstance(c, Var):
                continue
            if isinstance(c, tuple):
                consts.extend(x for x in c if isinstance(x, str))
            else:
                # str IRIs as-is; Lit/Num by lexical form —
                # ZeroLengthPath(term) holds for literal terms too
                consts.append(_write_term(c))
        if consts:
            extra = local_frame(
                spark, [(c,) for c in sorted(set(consts))], f"{_PN} string"
            )
            if graph_var:
                extra = extra.crossJoin(graphs_df)
            nodes = nodes.unionByName(extra)
    ident = nodes.select(F.col(_PN).alias(_PA), F.col(_PN).alias(_PB),
                         *gcols)
    return step.unionByName(ident).distinct()


def _join(df: DataFrame | None, maybe: set, right: DataFrame,
          right_maybe: set, how: str = "inner", on=None):
    """The SPARQL 1.1 §18.2 join of two solution sets (compatible
    mappings), written once for every group element: a triples block,
    sub-SELECT, GRAPH, UNION and VALUES join ``inner``, OPTIONAL
    ``left``, FILTER EXISTS ``left_semi``, FILTER NOT EXISTS and MINUS
    ``left_anti``.

    ``maybe`` / ``right_maybe`` name the columns that can be NULL
    (unbound) on each side. A shared variable bound on both sides is a
    plain equi key (hash-joinable). A partial key — maybe-unbound on
    either side — matches when either side is unbound or the two are
    equal, and its merged value is COALESCE(left, right); its
    ``__lang`` / ``__dt`` meta follows the binding: the left's where
    the left bound it, else the right's, created when only the right
    carries them. A key bound on the left keeps the left's meta (first
    binding wins, as in ``bgp``). No shared variable joins on true: a
    cross product, a left join that keeps every left row, or a semi /
    anti join that keeps all rows or none.

    ``on(left, right, sol)`` adds a condition: ``left`` / ``right`` map
    each side's column names to Columns (semi / anti: the shared
    variables only), ``sol`` maps every column of the joined solution
    to its merged value — a ``_compile_expr`` resolver. Returns the
    joined frame and its maybe-unbound set; a semi / anti join keeps
    ``df``'s columns. ``df`` None (nothing bound yet) yields
    ``right``."""
    if df is None:
        return right, set(right_maybe)
    rvars = {c for c in right.columns if not _is_meta(c)}
    shared = sorted(set(df.columns) & rvars)
    partial = {c for c in shared if c in maybe or c in right_maybe}
    filtering = how in ("left_semi", "left_anti")
    if filtering:
        right = right.select(*shared)
        new_maybe = set(maybe)
    elif how == "left":
        new_maybe = maybe | (rvars - set(shared))
    else:
        # a partial key stays unbound only when BOTH sides can be NULL
        new_maybe = ((maybe - set(shared))
                     | (right_maybe & (rvars - set(shared)))
                     | (partial & maybe & right_maybe))
    if not partial and on is None:
        right = right.drop(*[c for c in right.columns
                             if _is_meta(c) and c in df.columns])
        if shared:
            out = df.join(right, on=shared, how=how)
        elif how == "inner":
            out = df.crossJoin(right)
        else:
            out = df.join(right, F.lit(True), how)
        return out, new_maybe
    r = right.select(*[F.col(c).alias(f"__r_{c}") for c in right.columns])
    left = {c: df[c] for c in df.columns}
    rcols = {c: r[f"__r_{c}"] for c in right.columns}
    cond = F.lit(True)
    for c in shared:
        lc, rc = left[c], rcols[c]
        cond = cond & ((lc.isNull() | rc.isNull() | (lc == rc))
                       if c in partial else (lc == rc))
    sol = dict(left)
    for c, rc in rcols.items():
        var = c.rsplit("__", 1)[0] if _is_meta(c) else c
        if var in partial:
            # a left binding without meta columns reads as untagged
            lc = left.get(c, F.lit(None).cast("string"))
            sol[c] = (F.coalesce(lc, rc) if c == var
                      else F.when(left[var].isNull(), rc).otherwise(lc))
        elif c not in left:
            sol[c] = rc
    if on is not None:
        cond = cond & on(left, rcols, sol)
    out = df.join(r, cond, how)
    if filtering:
        return out, new_maybe
    return out.select(*[v.alias(c) for c, v in sol.items()]), new_maybe


def _unit_table(spark) -> DataFrame:
    """The SPARQL unit table {μ0}: one solution binding nothing — a
    one-row, zero-column frame the group elements fold onto when they
    textually precede every pattern."""
    return spark.range(1).select()


_PATH_NODES = (PathPlus, PathStar, PathOpt, PathSeq, PathAlt)


def _compile_triples_chunk(base_triples: DataFrame, chunk: list,
                           graph_var: str | None,
                           score_map: dict[str, str],
                           ) -> DataFrame | None:
    """Compile one textual run of triple patterns (a SPARQL
    TriplesBlock): plain BGP joins + luc: magic-pattern searches +
    property-path closures, joined within the run on plain equi keys
    (a BGP never produces an unbound binding). Returns None for an
    empty run. ``score_map`` carries the group-wide luc:score pairing
    so a score pattern may sit in a different block than its search."""
    patterns, searches = _split_lucene(chunk, score_map)
    path_patterns = [
        (s, p, o) for (s, p, o) in patterns
        if isinstance(p, _PATH_NODES)
    ]
    patterns = [
        (s, _const_of(p), _const_of(o)) for (s, p, o) in patterns
        if not isinstance(p, _PATH_NODES)
    ]
    df: DataFrame | None = None
    if patterns:
        df = bgp(base_triples, patterns, carry_meta=True,
                 graph_var=graph_var)
    for ent, q, score_var in searches:
        sr = _eval_lucene(base_triples, ent, q, score_var, graph_var)
        if df is None:
            df = sr
        else:
            on = [c for c in (ent, graph_var)
                  if c is not None and c in df.columns]
            df = df.join(sr, on=on, how="inner") if on \
                else df.crossJoin(sr)
    for s, p, o in path_patterns:
        pairs = _path_pairs(base_triples, p, s, o, graph_var=graph_var)

        def _match(col, term):
            if isinstance(term, tuple):  # any-of constant
                return col.isin(*term)
            # path endpoints match on lexical form (the closure does
            # not carry literal meta)
            return col == F.lit(_write_term(term))

        sel = []
        if isinstance(s, Var):
            if graph_var is not None and s.name == graph_var:
                # GRAPH ?g { ?g p+ ?o }: the endpoint IS the graph
                # variable — constrain instead of duplicating the col
                pairs = pairs.filter(F.col(_PA) == F.col(graph_var))
            else:
                sel.append(F.col(_PA).alias(s.name))
        else:
            pairs = pairs.filter(_match(F.col(_PA), s))
        if isinstance(o, Var):
            if isinstance(s, Var) and o.name == s.name:
                # same variable at both endpoints (?x p* ?x): the
                # path must loop back — one column, filtered
                pairs = pairs.filter(F.col(_PA) == F.col(_PB))
            elif graph_var is not None and o.name == graph_var:
                pairs = pairs.filter(F.col(_PB) == F.col(graph_var))
            else:
                sel.append(F.col(_PB).alias(o.name))
        else:
            pairs = pairs.filter(_match(F.col(_PB), o))
        if graph_var is not None:
            sel.append(F.col(graph_var))
        # no variables → pure existence constraint on the group
        pp = pairs.select(*sel) if sel \
            else pairs.select(F.lit(1).alias("__hit")).limit(1)
        if df is None:
            df = pp
        else:
            shared = sorted(set(df.columns) & set(pp.columns) - {"__hit"})
            df = df.join(pp, on=shared, how="inner") if shared \
                else df.crossJoin(pp)
        if "__hit" in df.columns:
            df = df.drop("__hit")
    return df


def _apply_minus(triples: DataFrame, df: DataFrame, maybe: set,
                 sub: Group, graph) -> DataFrame:
    """SPARQL MINUS: an anti join that removes the solutions compatible
    with the sub-group on a NON-EMPTY shared domain. Replayed in
    textual order via ``g.seq``."""
    sub_df, sub_maybe = _compile_group_ex(triples, sub, graph=graph)

    def overlap(left, right, _sol):
        # dom(μ) ∩ dom(μ') ≠ ∅: disjoint solutions are never
        # compatible, so a MINUS without shared variables removes
        # nothing (unlike NOT EXISTS)
        cond = F.lit(False)
        for c in right:
            cond = cond | (left[c].isNotNull() & right[c].isNotNull())
        return cond

    return _join(df, maybe, sub_df, sub_maybe, "left_anti", overlap)[0]


def _apply_values(triples: DataFrame, df: DataFrame | None, maybe: set,
                  vars_: list, rows: list):
    """Inline VALUES → a broadcast literal table joined by ``_join``. A
    column with any UNDEF row is maybe-unbound. A var with a tagged or
    typed row (``Lit`` with @lang/^^datatype) gets ``__lang``/``__dt``
    columns: against a binding that carries meta they compare as exact
    RDF terms — the same semantics as ``tagged_eq`` / pattern-position
    TypedLit — and a row that fills an unbound binding brings its tags
    along. A shared var WITHOUT meta columns falls back to lexical
    comparison (the documented plain-literal divergence)."""
    names = [v.name for v in vars_]
    v_maybe = {n for i, n in enumerate(names)
               if any(r[i] is None for r in rows)}
    tagged = {n for i, n in enumerate(names)
              if any(isinstance(r[i], Lit) for r in rows)}
    fields, out_rows = [], []
    for n in names:
        fields.append(f"{n} string")
        if n in tagged:
            fields += [f"{n}__lang string", f"{n}__dt string"]
    for r in rows:
        row = []
        for n, t in zip(names, r):
            lit = isinstance(t, Lit)
            row.append(t.value if lit else t)
            if n in tagged:
                row += [t.lang, t.datatype] if lit else [None, None]
        out_rows.append(tuple(row))
    vdf = local_frame(triples.sparkSession, out_rows, ", ".join(fields))
    if df is None:
        return vdf, set(v_maybe)
    checked = [n for n in tagged
               if f"{n}__lang" in df.columns and f"{n}__dt" in df.columns]

    def same_term(left, right, _sol):
        cond = F.lit(True)
        for n in checked:
            rlang, rdt = right[f"{n}__lang"], right[f"{n}__dt"]
            dlang, ddt = left[f"{n}__lang"], left[f"{n}__dt"]
            meta = (
                F.when(rlang.isNotNull(),
                       F.coalesce(dlang == rlang, F.lit(False)))
                .when(rdt == F.lit(XSD_STRING),
                      dlang.isNull()
                      & (ddt.isNull() | (ddt == XSD_STRING)))
                .when(rdt.isNotNull(),
                      F.coalesce(ddt == rdt, F.lit(False)))
                .otherwise(F.lit(True))  # plain-literal row: lexical
            )
            # an unbound side matches anything, meta included
            cond = cond & F.when(left[n].isNotNull() & right[n].isNotNull(),
                                 meta).otherwise(F.lit(True))
        return cond

    return _join(df, maybe, F.broadcast(vdf), v_maybe,
                 on=same_term if checked else None)


def _compile_group(triples: DataFrame, g: Group,
                   graph=None) -> DataFrame:
    return _compile_group_ex(triples, g, graph)[0]


def _compile_group_ex(triples: DataFrame, g: Group, graph=None):
    """Compile one group pattern. ``graph`` scopes the quad scan:
    None (default graph union), a constant graph term, or a ``Var`` —
    the GRAPH ?var form, which binds the quad table's ``graph`` column
    as that variable in every pattern of the scope (same-graph
    semantics fall out of the shared-variable joins).

    Returns ``(df, maybe_unbound)`` where ``maybe_unbound`` is the set
    of result columns that can be NULL (SPARQL unbound) — introduced by
    OPTIONAL, arm-local UNION variables, VALUES UNDEF, or BINDs over
    them. Every element but BIND folds in through ``_join``: a triples
    block, sub-SELECT, GRAPH, UNION and VALUES as inner joins, OPTIONAL
    as a left join, MINUS and FILTER [NOT] EXISTS as anti / semi
    joins, so a maybe-unbound key matches unbound-compatibly (never by
    SQL equality, which would silently drop solutions) and carries its
    @lang/^^datatype the same way in each."""
    graph_var = graph.name if isinstance(graph, Var) else None
    base_triples = triples
    if graph is not None and graph_var is None:
        cond = (F.col("graph").isin(*graph) if isinstance(graph, tuple)
                else F.col("graph") == graph)
        base_triples = base_triples.filter(cond)

    maybe: set[str] = set()
    # TriplesBlocks recorded in g.seq replay at their textual position
    # (so a MINUS/BIND before a block does NOT see its bindings);
    # programmatically-built groups carry no seq record — their
    # triples compile upfront exactly as before.
    covered: set[int] = set()
    for _kind, _payload in g.seq:
        if _kind == "triples":
            covered.update(range(_payload[0], _payload[1]))
    hoisted = [t for i, t in enumerate(g.triples) if i not in covered]
    # luc:score ↔ luc:searchIndex pairing is GROUP-wide (and validated
    # here); each search joins at its own block's textual position
    score_map = _lucene_score_map(g.triples)
    df: DataFrame | None = (
        _compile_triples_chunk(base_triples, hoisted, graph_var,
                               score_map)
        if hoisted else None
    )
    # EVERY group element replays in TEXTUAL order (g.seq) — SPARQL's
    # group translation folds left-to-right, which matters for the
    # non-commutative elements: a BIND after an OPTIONAL sees its
    # bindings, and a MINUS sees exactly the bindings of the elements
    # written BEFORE it (a MINUS before a TriplesBlock / VALUES /
    # UNION / sub-SELECT / GRAPH block must NOT treat their variables
    # as shared). FILTER and FILTER [NOT] EXISTS stay group-scoped and
    # apply at the end (SPARQL 1.1 §7).
    for _kind, _payload in g.seq:
        if _kind == "triples":
            cdf = _compile_triples_chunk(
                base_triples, g.triples[_payload[0]:_payload[1]],
                graph_var, score_map,
            )
            if cdf is not None:
                # Join(Ω, BGP): a BGP binding never unbinds, but the
                # accumulated side may carry maybe-unbound shared
                # keys → compatibility join
                df, maybe = _join(df, maybe, cdf, set())
            continue
        if _kind == "subselect":
            # { SELECT … }: compile + project + order/limit FIRST,
            # then join into the enclosing solution — the docs'
            # limit-early staging (advanced-topics.md:441-452)
            # becomes a GlobalLimit BELOW the join in the plan.
            subq = _payload
            inner_df, inner_maybe = _compile_group_ex(
                triples, subq.where, graph=graph
            )
            if graph_var is None:
                sub_df = _select_result(subq, inner_df)
                eff_projs = subq.projections
            else:
                sub_df, eff_projs = _select_result_scoped(
                    subq, inner_df, graph_var
                )
            sub_maybe: set[str] = set()
            for p in eff_projs:
                if isinstance(p, Var):
                    if p.name in inner_maybe \
                            or p.name not in inner_df.columns:
                        sub_maybe.add(p.name)
                elif p == "*":
                    sub_maybe |= inner_maybe & set(sub_df.columns)
                elif isinstance(p[0], Agg):
                    # MAX/MIN/SUM/AVG/SAMPLE/GROUP_CONCAT over a
                    # maybe-unbound variable can be NULL per group
                    # (COUNT never is) → the alias must join
                    # unbound-compatibly downstream, not on a
                    # NULL-never-matches equi key
                    if p[0].fn != "COUNT" \
                            and _vars_of(p[0]) & inner_maybe:
                        sub_maybe.add(p[1].name)
                elif _vars_of(p[0]) & inner_maybe:
                    sub_maybe.add(p[1].name)
            df, maybe = _join(df, maybe, sub_df, sub_maybe)
            continue
        if _kind == "graph":
            # graph-scoped subgroup joins into the enclosing
            # solution; a Var term binds the graph column as that
            # variable inside the scope
            term, sub = _payload
            sub_df, sub_maybe = _compile_group_ex(triples, sub,
                                                  graph=term)
            df, maybe = _join(df, maybe, sub_df, sub_maybe)
            continue
        if _kind == "union":
            # { A } UNION { B }: evaluate each arm, align columns (a
            # var bound in one arm only → NULL in the other, per
            # SPARQL), then join the combined solution into the
            # enclosing pattern. Variables bound in EVERY arm join as
            # plain equi-keys; arm-local or maybe-unbound variables
            # carry NULLs, and SQL NULL keys never match, so those
            # use the unbound-is-compatible condition instead of
            # silently dropping solutions.
            arms = _payload
            arm_results = [
                _compile_group_ex(triples, arm, graph=graph)
                for arm in arms
            ]
            arm_dfs = [a for a, _ in arm_results]
            arm_cols = [
                {c for c in a.columns if not _is_meta(c)}
                for a in arm_dfs
            ]
            in_every = set.intersection(*arm_cols)
            u_maybe = (set.union(*arm_cols) - in_every) | set().union(
                *[m for _, m in arm_results]
            )
            u = arm_dfs[0]
            for other in arm_dfs[1:]:
                u = u.unionByName(other, allowMissingColumns=True)
            df, maybe = _join(df, maybe, u, u_maybe)
            continue
        if _kind == "values":
            # inline VALUES: broadcast-joined literal table; UNDEF →
            # maybe-unbound; tagged/typed rows match exact RDF terms
            vars_, rows = _payload
            df, maybe = _apply_values(triples, df, maybe, vars_, rows)
            continue
        if _kind == "bind":
            e, v = _payload
            if df is None:
                # SPARQL folds onto the unit table {μ0}: a BIND that
                # textually precedes every pattern extends the single
                # empty solution
                df = _unit_table(triples.sparkSession)
            if v.name in df.columns:
                # SPARQL forbids BIND onto an in-scope variable;
                # silently overwriting it would fabricate solutions
                raise ValueError(f"BIND target ?{v.name} is already bound")
            refs = _vars_of(e)
            if (refs & maybe) or (refs - set(df.columns)):
                maybe.add(v.name)
            df = df.withColumn(v.name, _compile_expr(e, df))
            # a constructed literal's tag becomes the binding's meta,
            # where LANG()/DATATYPE()/term-aware = read it
            tag_pair = None
            if isinstance(e, FnCall) and e.name in ("STRLANG", "STRDT"):
                tag = e.args[1]  # arity checked at parse (fold)
                tag_col = (F.lit(tag[0]) if isinstance(tag, tuple)
                           else _compile_expr(tag, df).cast("string"))
                # STRLANG/STRDT over an unbound value is a SPARQL type
                # error → the binding stays fully unbound, no tag
                tag_col = F.when(F.col(v.name).isNotNull(), tag_col)
                tag_pair = ("lang" if e.name == "STRLANG" else "dt",
                            tag_col)
            elif isinstance(e, Lit) and (e.lang or e.datatype):
                # parse-time-folded STRLANG/STRDT constant
                tag_pair = (("lang", F.lit(e.lang)) if e.lang
                            else ("dt", F.lit(e.datatype)))
            if tag_pair is not None:
                kind, tag_col = tag_pair
                other = "dt" if kind == "lang" else "lang"
                df = df.withColumn(f"{v.name}__{kind}",
                                   tag_col.cast("string"))
                if f"{v.name}__{other}" not in df.columns:
                    df = df.withColumn(f"{v.name}__{other}",
                                       F.lit(None).cast("string"))
            continue
        if _kind == "minus":
            if df is None:
                # MINUS over the empty domain removes nothing
                continue
            df = _apply_minus(triples, df, maybe, _payload, graph)
            continue
        sub = _payload
        if df is None:
            # LeftJoin({μ0}, P): P's solutions, or μ0 if P is empty —
            # ``_join``'s left join on true (no shared variable) gives
            # exactly that over the unit table
            df = _unit_table(triples.sparkSession)
        # SPARQL LeftJoin(Ω1, Ω2, expr): a FILTER at the top level of
        # an OPTIONAL group that references variables bound only in
        # the OUTER pattern is part of the JOIN CONDITION — evaluating
        # it on the optional side alone would read the outer variable
        # as NULL and silently drop every optional binding. Filters
        # over inner-only variables stay on the optional side
        # (equivalent, and they prune before the join).
        sub_inner = _dc_replace(sub, filters=[])
        sub_df, sub_maybe = _compile_group_ex(triples, sub_inner,
                                              graph=graph)
        local_filters, join_filters = [], []
        for fx in sub.filters:
            outer_only = _vars_of(fx) - set(sub_df.columns)
            (join_filters if outer_only & set(df.columns)
             else local_filters).append(fx)
        for fx in local_filters:
            sub_df = sub_df.filter(_compile_expr(fx, sub_df))

        def hoisted(_left, _right, sol):
            # the join filters read the merged solution: a shared
            # variable as COALESCE(outer, optional), LANG(?v) as the
            # merged meta
            cond = F.lit(True)
            for fx in join_filters:
                cond = cond & _compile_expr(fx, df, sol)
            return cond

        df, maybe = _join(df, maybe, sub_df, sub_maybe, "left",
                          hoisted if join_filters else None)
    if df is None:
        # a group that bound nothing (only MINUS elements, or empty):
        # SPARQL evaluates {} to the unit table {μ0} — one solution
        # binding nothing (§18.2.2.2); a leading MINUS removes
        # nothing from it
        df = _unit_table(triples.sparkSession)
    # FILTER EXISTS → semi join, FILTER NOT EXISTS → anti join (no
    # distinct(): both are set-semantics already)
    for how, subs in (("left_semi", g.exists), ("left_anti", g.not_exists)):
        for sub in subs:
            sub_df, sub_maybe = _compile_group_ex(triples, sub, graph=graph)
            df, _ = _join(df, maybe, sub_df, sub_maybe, how)
    for f_expr in g.filters:
        df = df.filter(_compile_expr(f_expr, df))
    return df, maybe


def _is_internal(col: str) -> bool:
    """Meta (lang/dt) and compiler-internal (__path/__having/…) columns
    never surface in results."""
    return _is_meta(col) or col.startswith("__")


def _project(q: Query, df: DataFrame, keep: list[str] | None = None) -> DataFrame:
    has_agg = bool(q.group_by) or any(
        isinstance(p, tuple) and isinstance(p[0], Agg) for p in q.projections
    ) or q.having is not None

    if not has_agg:
        if q.projections == ["*"]:
            out = df.select(*[c for c in df.columns if not _is_internal(c)])
        else:
            sel = []
            for p in q.projections:
                if isinstance(p, Var):
                    sel.append(
                        (F.col(p.name) if p.name in df.columns
                         else F.lit(None).cast("string")).alias(p.name)
                    )
                else:
                    e, alias = p
                    sel.append(_compile_expr(e, df).alias(alias.name))
            # hidden ORDER BY keys ride along until after the sort
            sel.extend(F.col(k) for k in (keep or []))
            out = df.select(*sel)
        return out.distinct() if q.distinct else out

    # GROUP BY ?v | GROUP BY (expr AS ?v): computed group keys are
    # materialized as columns BEFORE the grouping (so aggregates and
    # HAVING may reference them like any bound variable)
    group_cols = []
    for gb in q.group_by:
        if isinstance(gb, Var):
            group_cols.append(gb.name)
        else:
            e, v = gb
            if v.name in df.columns:
                # same in-scope rule as BIND (§18.2.4.1 Group/Extend):
                # silently overwriting would fabricate groups
                raise ValueError(
                    f"GROUP BY (… AS ?{v.name}): variable is already "
                    "bound in the group"
                )
            df = df.withColumn(v.name, _compile_expr(e, df))
            group_cols.append(v.name)
    aggs, post_sel = [], []
    for p in q.projections:
        if isinstance(p, Var):
            if p.name in group_cols:
                post_sel.append(F.col(p.name))
            else:
                # unbound/non-grouped var (the docs' ?types slip):
                # SPARQL returns unbound → NULL
                post_sel.append(F.lit(None).cast("string").alias(p.name))
        else:
            e, alias = p
            if isinstance(e, Agg):
                aggs.append(_agg_col(e, df).alias(alias.name))
                post_sel.append(F.col(alias.name))
            elif _vars_of(e) <= set(group_cols):
                # §18.2.4.4: a non-aggregate projection expression is
                # legal when every variable it uses is a group key —
                # SELECT (UCASE(?g) AS ?u) … GROUP BY ?g. Compiled
                # AFTER the aggregation, against the grouped frame
                # (deferred: the frame doesn't exist yet).
                post_sel.append(("__post_expr", e, alias.name))
            else:
                raise ValueError(
                    "non-aggregate projection expression may only use "
                    "GROUP BY variables"
                )
    having_expr = None
    having_names: list[str] = []
    if q.having is not None:
        # General HAVING (§11.1): an arbitrary boolean expression over
        # aggregates, group keys, and constants — HAVING (SUM(?x) > 3
        # && COUNT(*) < AVG(?y) || ?g != "a"). Each Agg node is LIFTED
        # into a hidden aggregate column computed alongside the
        # projected ones, then the rewritten expression compiles
        # through the normal FILTER machinery against the grouped
        # frame (numeric-vs-lexical coercion, && / || / !, functions —
        # one semantics for FILTER and HAVING).
        def _lift(e):
            if isinstance(e, Agg):
                name = f"__having{len(having_names)}"
                having_names.append(name)
                aggs.append(_agg_col(e, df).alias(name))
                return Var(name)
            if isinstance(e, BinOp):
                return BinOp(e.op, _lift(e.left), _lift(e.right))
            if isinstance(e, NotExpr):
                return NotExpr(_lift(e.inner))
            if isinstance(e, FnCall):
                return FnCall(e.name, [_lift(a) for a in e.args])
            return e

        having_expr = _lift(q.having)

    if aggs:
        gdf = (df.groupBy(*group_cols).agg(*aggs) if group_cols
               else df.agg(*aggs))
    else:
        # GROUP BY with no aggregate anywhere (keys-only projection,
        # HAVING over keys only): the grouped frame is the distinct
        # keys — Spark's GroupedData.agg() asserts on an empty list
        gdf = df.select(*group_cols).distinct()
    if having_expr is not None:
        gdf = gdf.filter(_compile_expr(having_expr, gdf))
    final_sel = [
        _compile_expr(c[1], gdf).alias(c[2])
        if isinstance(c, tuple) and c[0] == "__post_expr" else c
        for c in post_sel
    ]
    return gdf.select(*final_sel)


def _order_limit(q: Query, df: DataFrame) -> DataFrame:
    if q.order_by:
        keys = []
        for e, asc in q.order_by:
            if isinstance(e, Var) and e.name not in df.columns:
                # silently sorting by NULL would be no ordering at all
                raise ValueError(
                    f"ORDER BY ?{e.name}: variable not available in the "
                    "result (project it, or order by a projected alias)"
                )
            c = (F.col(e.name) if isinstance(e, Var)
                 else _compile_expr(e, df))
            keys.append(c.asc() if asc else c.desc())
        df = df.orderBy(*keys)
    if q.offset:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df


def _select_result(q: Query, df: DataFrame) -> DataFrame:
    """Project + order + limit with SPARQL's ordering scope: ORDER BY
    may reference WHERE-bound variables the SELECT list drops — those
    ride through the projection as hidden columns, sort, then vanish.
    (DISTINCT and aggregate queries order over the projected result
    only — an out-of-scope key raises instead of silently not
    sorting.)"""
    has_agg = bool(q.group_by) or any(
        isinstance(p, tuple) and isinstance(p[0], Agg) for p in q.projections
    ) or q.having is not None
    proj_names = set()
    for p in q.projections:
        if isinstance(p, Var):
            proj_names.add(p.name)
        elif p == "*":
            proj_names.update(c for c in df.columns if not _is_internal(c))
        else:
            proj_names.add(p[1].name)
    hidden = []
    if not has_agg and not q.distinct:
        hidden = [
            e.name for e, _ in q.order_by
            if isinstance(e, Var) and e.name not in proj_names
            and e.name in df.columns
        ]
    out = _order_limit(q, _project(q, df, keep=hidden))
    return out.drop(*hidden) if hidden else out


def _select_result_scoped(q: Query, df: DataFrame, graph_var: str):
    """A sub-SELECT inside a GRAPH ?var scope: per SPARQL the
    sub-query evaluates once per named graph, so the graph variable
    threads through projection and grouping (aggregates become
    per-graph), and ORDER/LIMIT/OFFSET apply PER GRAPH — a row_number
    window partitioned by the graph — rather than once across the
    union of graphs. Returns ``(result, effective_projections)``; the
    caller's maybe-unbound marking reads the latter."""
    projections = list(q.projections)
    proj_names = {p.name for p in projections if isinstance(p, Var)}
    if "*" not in projections and graph_var not in proj_names:
        projections.append(Var(graph_var))
    group_by = list(q.group_by)
    has_agg = bool(group_by) or any(
        isinstance(p, tuple) and isinstance(p[0], Agg) for p in projections
    ) or q.having is not None
    gb_names = {(v.name if isinstance(v, Var) else v[1].name)
                for v in group_by}
    if has_agg and graph_var not in gb_names:
        group_by.append(Var(graph_var))
    q2 = _dc_replace(q, projections=projections, group_by=group_by,
                     order_by=[], limit=None, offset=None)
    out = _select_result(q2, df)
    if q.order_by or q.limit is not None or q.offset:
        from pyspark.sql.window import Window

        keys = []
        for e, asc in q.order_by:
            if isinstance(e, Var) and e.name not in out.columns:
                raise ValueError(
                    f"ORDER BY ?{e.name} inside GRAPH ?{graph_var}: "
                    "project the variable in the sub-SELECT"
                )
            c = (F.col(e.name) if isinstance(e, Var)
                 else _compile_expr(e, out))
            keys.append(c.asc() if asc else c.desc())
        if not keys:
            # LIMIT without ORDER BY: SPARQL leaves the order
            # unspecified — any deterministic per-graph order serves
            keys = [F.col(c).asc() for c in out.columns
                    if c != graph_var and not _is_internal(c)][:1] \
                or [F.lit(1).asc()]
        w = Window.partitionBy(graph_var).orderBy(*keys)
        out = out.withColumn("__rn", F.row_number().over(w))
        lo = q.offset or 0
        cond = F.col("__rn") > lo
        if q.limit is not None:
            cond = cond & (F.col("__rn") <= lo + q.limit)
        out = out.filter(cond).drop("__rn")
    return out, projections


def _construct(q: Query, sols: DataFrame) -> DataFrame:
    """CONSTRUCT: the template quads ``_instantiate`` builds, in the
    TRIPLES schema (feeds TripleStore). An any-of template constant
    (``a``, an undeclared ``rdfs:label``) writes its full IRI here,
    where an update template writes the store's compact form."""
    template = [(*(t[0] if isinstance(t, tuple) else t for t in spo), g)
                for *spo, g in q.template]
    out = _instantiate(template, sols).withColumn(
        "src_url", F.lit(None).cast("string"))
    return out if q.limit is None else out.limit(q.limit)


def _write_term(t) -> str:
    """Constant term → the string written into the store. An any-of
    tuple writes the form as typed: compact for an undeclared
    well-known pname (the repo's store convention), the full IRI for a
    declared one. A literal writes its LEXICAL form — its
    @lang/^^datatype travel in the meta columns, never inside the
    value (``_const_of``'s TypedLit wrapper is a pattern-matching
    construct only)."""
    if isinstance(t, tuple):
        return t[0] if isinstance(t, DeclaredPair) else t[1]
    if isinstance(t, Lit):
        return t.value
    if isinstance(t, Num):
        return t.text
    return t


def _ground_rows(data: list, default_graph: str | None):
    rows = []
    for s, p, o, g in data:
        lang = o.lang if isinstance(o, Lit) else None
        dt = o.datatype if isinstance(o, Lit) else None
        graph = _write_term(g) if g is not None else default_graph
        rows.append((_write_term(s), _write_term(p), _write_term(o),
                     lang, dt, graph, None))
    return rows


def _instantiate(template: list, sols: DataFrame) -> DataFrame:
    """Template quads × solutions → distinct
    (subj, pred, obj, obj_lang, obj_datatype, graph); graph is NULL for
    template triples outside a GRAPH block. CONSTRUCT, INSERT and DELETE
    all build their quads here. Literal metadata survives — a template
    Lit keeps its @lang/^^dt, a variable object carries the solution's
    meta binding — so deletes match the exact term and neither inserts
    nor constructed graphs strip tags."""
    def term(t):
        return F.col(t.name) if isinstance(t, Var) else F.lit(_write_term(t))

    cols = set(sols.columns)

    def meta(t, kind: str):
        if isinstance(t, Var) and f"{t.name}__{kind}" in cols:
            return F.col(f"{t.name}__{kind}")
        if isinstance(t, Lit):
            v = t.lang if kind == "lang" else t.datatype
            return F.lit(v).cast("string")
        return F.lit(None).cast("string")

    def graph_term(g):
        # GRAPH ?g { … }: the graph binds per-solution
        if isinstance(g, Var):
            return F.col(g.name)
        if g is not None:
            return F.lit(_write_term(g))
        return F.lit(None)

    def bound(quad):
        # SPARQL 1.1 Update §3.1.3: a solution leaving a template
        # variable unbound instantiates no quad — a NULL term would
        # insert a broken quad, a NULL graph would make a delete match
        # every graph
        out = sols
        for t in quad:
            if isinstance(t, Var):
                out = out.filter(F.col(t.name).isNotNull())
        return out

    outs = [
        bound((s, p, o, g)).select(
            term(s).cast("string").alias("subj"),
            term(p).cast("string").alias("pred"),
            term(o).cast("string").alias("obj"),
            meta(o, "lang").alias("obj_lang"),
            meta(o, "dt").alias("obj_datatype"),
            graph_term(g).cast("string").alias("graph"),
        )
        for s, p, o, g in template
    ]
    result = outs[0]
    for df in outs[1:]:
        result = result.unionByName(df)
    return result.distinct()


_LOAD_FMT = {
    "nt": "ntriples", "ntriples": "ntriples",
    "nq": "nquads", "nquads": "nquads",
    "ttl": "turtle", "turtle": "turtle", "trig": "turtle",
    "jsonld": "jsonld", "json": "jsonld",
    "rdf": "rdfxml", "xml": "rdfxml", "owl": "rdfxml",
}


def _execute_graph_update(store, u, default_graph: str | None) -> dict:
    """Graph-management forms (SPARQL 1.1 Update §3.2) over the store.

    Store model notes (documented divergences, GraphDB-context-like):
    the store is all-named-graphs — ``DEFAULT`` resolves to the
    ``default_graph`` argument; ``ALL`` means every live graph and
    ``NAMED`` every live graph EXCEPT the configured default graph
    (§3.2.3 — with no default_graph configured they coincide). ``CREATE`` validates per spec (error on an existing
    graph unless SILENT) but is otherwise a no-op: the store has no
    representation of an empty graph — graphs exist exactly while
    they hold quads (same as GraphDB contexts). ``SILENT`` suppresses
    the spec's existence failures, never data errors."""
    spark = store.spark

    def resolve(ref: str) -> str:
        if ref == REF_DEFAULT:
            if default_graph is None:
                raise ValueError(
                    f"{u.op.upper()}: DEFAULT graph referenced but no "
                    "default_graph was configured"
                )
            return default_graph
        return ref

    # existence = "is a live graph", answered from the manifest — no
    # Spark job, consistent with the NAMED/ALL enumeration
    live = set(store.graphs())

    def exists(g: str) -> bool:
        return g in live

    if u.op == "load":
        path = u.load_path
        if path.startswith("file://"):
            path = path[len("file://"):]
        ext = path.rsplit(".", 1)[-1].lower()
        fmt = _LOAD_FMT.get(ext)
        # config errors resolve OUTSIDE the SILENT net: a missing
        # default_graph is an operator mistake, not a failed document
        target = resolve(u.dst if u.dst is not None else REF_DEFAULT)
        try:
            if fmt is None:
                raise ValueError(
                    f"LOAD: cannot infer RDF format from {u.load_path!r} "
                    f"(known extensions: {sorted(set(_LOAD_FMT))})"
                )
            from kgap_spark.io.rdf import read_rdf

            quads = read_rdf(spark, path, fmt=fmt, default_graph=target)
            out = store.merge(quads)
        except Exception:
            if u.silent:   # LOAD SILENT: failure to load is success
                return {"op": "load", "loaded": False}
            raise
        return {"op": "load", "loaded": True, "merge": out}

    if u.op in ("clear", "drop"):
        if u.src in (REF_NAMED, REF_ALL):
            graphs = sorted(live)
            # §3.2.3: NAMED excludes the default graph — with a
            # configured default_graph, CLEAR/DROP NAMED must not
            # destroy default-graph data (ALL keeps everything)
            if u.src == REF_NAMED and default_graph is not None:
                graphs = [g for g in graphs if g != default_graph]
        else:
            g = resolve(u.src)
            if not exists(g):
                # CLEAR of an absent graph succeeds; so does
                # DROP DEFAULT (§3.2.2: ≡ CLEAR DEFAULT — the default
                # graph always exists); DROP of an absent NAMED graph
                # is the one loud case (unless SILENT)
                if (u.op == "drop" and u.src != REF_DEFAULT
                        and not u.silent):
                    raise ValueError(f"DROP GRAPH <{g}>: no such graph")
                graphs = []
            else:
                graphs = [g]
        store.delete_graphs(graphs)   # ONE metadata commit
        return {"op": u.op, "graphs": graphs}

    if u.op == "create":
        if exists(u.src) and not u.silent:
            raise ValueError(f"CREATE GRAPH <{u.src}>: already exists")
        return {"op": "create", "graph": u.src}

    # COPY | MOVE | ADD
    src, dst = resolve(u.src), resolve(u.dst)
    if src == dst:
        return {"op": u.op, "src": src, "dst": dst, "noop": True}
    if not exists(src):
        if u.silent:
            return {"op": u.op, "src": src, "dst": dst, "noop": True}
        raise ValueError(f"{u.op.upper()}: source graph <{src}> is empty "
                         "or does not exist")
    if u.op == "move":
        store.move_graph(src, dst)   # one atomic commit
    elif u.op == "add":
        store.merge(store.read_graph(src)
                    .withColumn("graph", F.lit(dst)))   # quad-key dedup
    else:
        store.overwrite_graphs(store.read_graph(src)
                               .withColumn("graph", F.lit(dst)))
    return {"op": u.op, "src": src, "dst": dst, "noop": False}


def execute_sparql_update(store, text: str,
                          default_graph: str | None = None) -> dict:
    """Run a SPARQL Update string against a ``TripleStore``
    (quick-reference.md:224-244):

    - INSERT DATA → quad-key merge (idempotent, append-only);
    - DELETE DATA → row-level delete of the named quads;
    - DELETE/INSERT … WHERE → solutions instantiate both templates;
      deleted quads are matched on (subj, pred, obj) across graphs,
      inserts land in ``default_graph``;
    - CLEAR/DROP/CREATE/COPY/MOVE/ADD/LOAD (§3.2 graph management) →
      store-level graph operations (see ``_execute_graph_update``) —
      COPY/MOVE are O(src) partition rewrites, CLEAR/DROP are
      metadata-level partition drops, LOAD is the bulk RDF import.

    Returns a small stats dict. All set logic runs as DataFrame plans;
    only the commit touches the store."""
    u = parse_sparql(text)
    if not isinstance(u, Update):
        raise ValueError("not a SPARQL Update request; use execute_sparql")
    spark = store.spark
    if u.form == "graphman":
        return _execute_graph_update(store, u, default_graph)
    if u.form in ("insert_data", "delete_data"):
        # nullable staging schema: a DELETE DATA row with no graph term
        # is a cross-graph wildcard (graph = NULL here, resolved below)
        quads = local_frame(
            spark,
            _ground_rows(u.data, default_graph),
            "subj string, pred string, obj string, obj_lang string, "
            "obj_datatype string, graph string, src_url string",
        )
        if u.form == "insert_data":
            if any(g is None for (_, _, _, g) in u.data) and default_graph is None:
                raise ValueError(
                    "INSERT DATA outside a GRAPH block needs default_graph"
                )
            store.merge(quads)
            return {"inserted": len(u.data)}
        # DELETE DATA: rows without an explicit graph delete that exact
        # term (incl. lang/datatype) from EVERY graph it appears in
        from kgap_spark.triples.writer import nullsafe_join

        term_key = ["subj", "pred", "obj", "obj_lang", "obj_datatype"]
        explicit = quads.filter(F.col("graph").isNotNull())
        wild = quads.filter(F.col("graph").isNull())
        dels = explicit.select(*term_key, "graph")
        if wild.head(1):
            matched = nullsafe_join(
                store.read(), wild, term_key, "left_semi"
            ).select(*term_key, "graph")
            dels = dels.unionByName(matched)
        store.delete_quads(dels)
        return {"delete_requested": len(u.data)}
    # modify: evaluate WHERE once, instantiate templates. A template
    # quad inside GRAPH <g> targets that graph exactly; outside, a
    # delete matches (subj, pred, obj) in EVERY graph and an insert
    # lands in ``default_graph``.
    from kgap_spark.triples.writer import nullsafe_join

    sols = _compile_group(store.read(), u.where).localCheckpoint(eager=True)
    term_key = ["subj", "pred", "obj", "obj_lang", "obj_datatype"]
    n_del = n_ins = 0
    if u.delete_template:
        inst = _instantiate(u.delete_template, sols)
        exact = inst.filter(F.col("graph").isNotNull())
        wild = inst.filter(F.col("graph").isNull())
        matched = nullsafe_join(
            store.read(), wild, term_key, "left_semi"
        ).select(*term_key, "graph")
        dels = exact.select(*term_key, "graph").unionByName(
            matched
        ).distinct().localCheckpoint(eager=True)
        n_del = dels.count()
        store.delete_quads(dels)
    if u.insert_template:
        ins = _instantiate(u.insert_template, sols).select(
            *term_key,
            F.coalesce(F.col("graph"), F.lit(default_graph)).alias("graph"),
            F.lit(None).cast("string").alias("src_url"),
        )
        n_ins = ins.count()
        store.merge(ins)
    return {"deleted": n_del, "inserted": n_ins}


def execute_sparql(triples: DataFrame, text: str):
    """Parse + compile + run a SPARQL string against a quad DataFrame
    (TRIPLES schema). SELECT → DataFrame (one column per projected
    variable, ``?`` stripped); ASK → bool; CONSTRUCT → quad DataFrame
    (TRIPLES schema); DESCRIBE → the resources' triples."""
    q = parse_sparql(text)
    if isinstance(q, Update):
        raise ValueError(
            "SPARQL Update request; use execute_sparql_update(store, text)"
        )
    if q.form == "describe":
        # the resources' triples: a resource set (the named IRIs, or
        # DESCRIBE ?x WHERE { … }'s bindings), then one
        # semi-join per role (subject / object) — never a driver-side
        # loop over resources
        if q.projections:
            sols = _compile_group(triples, q.where)
            res = None
            for v in q.projections:
                if v.name not in sols.columns:
                    raise ValueError(
                        f"DESCRIBE ?{v.name}: variable not bound in "
                        "the WHERE pattern"
                    )
                one = sols.select(F.col(v.name).alias("__r")).filter(
                    F.col("__r").isNotNull()
                ).distinct()
                res = one if res is None else res.unionByName(one)
            # materialize once: both semi-joins below reference this
            # subtree, and Spark would otherwise recompute the whole
            # WHERE-pattern plan per join
            res = res.distinct().localCheckpoint(eager=True)
        else:
            res = local_frame(
                triples.sparkSession,
                [(iri,) for iri in q.describe_iris], "__r string")
        # two equi semi-joins (hash/broadcast-able) instead of one
        # OR-condition join (which would fall back to nested-loop)
        by_subj = triples.join(
            res.withColumnRenamed("__r", "subj"), "subj", "left_semi"
        )
        by_obj = triples.join(
            res.withColumnRenamed("__r", "obj"), "obj", "left_semi"
        )
        return by_subj.unionByName(by_obj).distinct()
    df = _compile_group(triples, q.where)
    if q.form == "ask":
        return df.limit(1).count() > 0
    if q.form == "construct":
        return _construct(q, df)
    return _select_result(q, df)
