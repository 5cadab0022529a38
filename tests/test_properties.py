"""Property-based tests (hypothesis) for the pure-Python invariants:
extraction determinism on arbitrary bytes, fixture purity."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from kgap_spark.extract.html_text import extract_text


@given(st.binary(max_size=4096))
@settings(max_examples=200, deadline=None)
def test_extract_total_and_deterministic(data):
    """extract_text never raises on arbitrary bytes and is a pure
    function (byte-identical across calls) — the per-url invariant."""
    a = extract_text(data)
    b = extract_text(bytes(data))
    assert a == b
    assert a is None or isinstance(a, str)


@given(st.text(max_size=500))
@settings(max_examples=100, deadline=None)
def test_extract_plain_text_has_no_tags(txt):
    out = extract_text(txt.encode("utf-8"))
    assert "<script" not in (out or "").lower()


@given(st.integers(min_value=0, max_value=10_000))
@settings(max_examples=50, deadline=None)
def test_fixture_rows_pure(i):
    """page_row is a pure function of the index — distributed and local
    generation agree row-for-row."""
    from kgap_spark.fixtures import FixtureConfig, page_row

    cfg = FixtureConfig.for_scale("small")
    a, b = page_row(i, cfg), page_row(i, cfg)
    assert a == b


def _nt_escape(s: str) -> str:
    return (s.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\t", "\\t").replace("\r", "\\r"))


_lit = st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Cc")), max_size=60
)
_iri_part = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1,
                    max_size=12)


@given(st.lists(st.tuples(_iri_part, _iri_part, _lit), min_size=1, max_size=20))
@settings(max_examples=100, deadline=None)
def test_turtle_parser_agrees_with_ntriples_grammar(rows):
    """N-Triples text is valid Turtle: the pure-Python Turtle parser
    must decode arbitrary escaped literals exactly (same triples the
    writer encoded)."""
    from kgap_spark.io.turtle import parse_turtle

    lines = []
    expected = set()
    for s, p, o in rows:
        subj, pred = f"urn:s:{s}", f"urn:p:{p}"
        lines.append(f'<{subj}> <{pred}> "{_nt_escape(o)}" .')
        expected.add((subj, pred, o))
    quads = parse_turtle("\n".join(lines), default_graph="urn:g")
    got = {(q[0], q[1], q[2]) for q in quads}
    assert got == expected


# ---------------------------------------------------------------------------
# N-Triples writer → reader roundtrip on adversarial quads.

_IRI_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789:/._-"
_iri = st.text(alphabet=_IRI_CHARS, min_size=1, max_size=40).map(
    lambda s: "urn:x:" + s
)
# any text except NUL (the unescape sentinel; raw NUL is illegal in
# N-Triples anyway) — quotes, backslashes, newlines, CR, tabs, unicode
_lit = st.text(max_size=60).filter(lambda s: "\x00" not in s)
_bnode = st.from_regex(r"_:[A-Za-z0-9][A-Za-z0-9_]{0,10}", fullmatch=True)


@st.composite
def _quads(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    rows = []
    for _ in range(n):
        subj = draw(st.one_of(_iri, _bnode))
        pred = draw(_iri)
        kind = draw(st.integers(0, 3))
        if kind == 0:
            obj, lang, dt = draw(st.one_of(_iri, _bnode)), None, None
        elif kind == 1:
            obj, lang, dt = draw(_lit), None, None
        elif kind == 2:
            obj, lang, dt = draw(_lit), draw(st.sampled_from(
                ["en", "nl", "de-DE"])), None
        else:
            obj, lang, dt = draw(_lit), None, draw(_iri)
        rows.append((subj, pred, obj, lang, dt, "urn:g:p", None))
    return rows


@given(_quads())
@settings(max_examples=12, deadline=None)
def test_ntriples_roundtrip_property(spark, tmp_path_factory, rows):
    """write_ntriples → read_ntriples preserves every quad column for
    arbitrary literals (quotes, backslashes, newlines, CR, unicode),
    IRI and bnode terms — modulo the reader's file-unique bnode
    renaming, which the comparison strips."""
    from pyspark.sql import functions as F

    from kgap_spark import schemas as S
    from kgap_spark.io import read_ntriples, write_ntriples

    out = str(tmp_path_factory.mktemp("ntprop"))
    df = spark.createDataFrame(rows, S.TRIPLES)
    write_ntriples(df, out)
    back = read_ntriples(spark, out)  # on_error='fail': no silent drops

    key = ["subj", "pred", "obj", "obj_lang", "obj_datatype", "graph"]
    norm = lambda d: {  # noqa: E731
        tuple(
            __import__("re").sub(r"^_:(?:[0-9a-f]{8}-L)+", "_:", v)
            if isinstance(v, str) else v
            for v in r
        )
        for r in d.select(key).collect()
    }
    assert norm(back) == norm(df)


# ---------------------------------------------------------------------------
# Round 5: SPARQL parser robustness — grammar-driven fuzz.

_SPARQL_TERMS = st.sampled_from([
    "?s", "?o", "?x", "<urn:a>", "<urn:b>", "ex:p", "rdfs:label",
    '"lit"', '"tag"@en', '"5"^^xsd:integer', "3", "a",
])
_SPARQL_PREDS = st.sampled_from([
    "?p", "<urn:p>", "ex:p", "a", "ex:p+", "ex:p*", "ex:p?", "^ex:p",
    "ex:p/ex:q", "(ex:p|ex:q)", "(ex:p/ex:q)+", "!ex:p", "!(ex:p|^ex:q)",
])


@st.composite
def _sparql_query(draw):
    """A random-but-grammatical SELECT query from the supported
    subset; the property is total: parse never hangs or dies with a
    non-ValueError."""
    n = draw(st.integers(min_value=1, max_value=3))
    triples = []
    for _ in range(n):
        s = draw(_SPARQL_TERMS)
        p = draw(_SPARQL_PREDS)
        o = draw(_SPARQL_TERMS)
        triples.append(f"{s} {p} {o} .")
    extras = []
    if draw(st.booleans()):
        extras.append("FILTER(STRLEN(STR(?s)) > 0)")
    if draw(st.booleans()):
        extras.append("OPTIONAL { ?s ex:opt ?v }")
    if draw(st.booleans()):
        extras.append("MINUS { ?s ex:m ?w }")
    if draw(st.booleans()):
        extras.append('VALUES ?s { <urn:a> UNDEF }')
    if draw(st.booleans()):
        extras.append("BIND(STRLEN(STR(?s)) AS ?len)")
    body = "\n".join(triples + extras)
    tail = draw(st.sampled_from(
        ["", "ORDER BY ?s LIMIT 5", "LIMIT 3", "ORDER BY DESC(?s)"]
    ))
    return f"SELECT * WHERE {{ {body} }} {tail}"


@given(_sparql_query())
@settings(max_examples=150, deadline=None)
def test_sparql_parser_total_on_grammatical_queries(q):
    """Parsing a grammatical query either succeeds or raises a clean
    ValueError (e.g. BIND onto a bound var) — never an arbitrary
    exception or a hang."""
    from kgap_spark.query.sparql import parse_sparql

    try:
        parse_sparql(q)
    except ValueError:
        pass


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_sparql_parser_never_crashes_on_garbage(text):
    """Arbitrary input: ValueError only, never IndexError/AttributeError
    or a hang — the front-end is exposed to user-typed queries."""
    from kgap_spark.query.sparql import parse_sparql

    try:
        parse_sparql("SELECT * WHERE { " + text + " }")
    except ValueError:
        pass
