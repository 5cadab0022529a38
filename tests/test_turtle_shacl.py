"""Turtle/TriG ingestion (S5), SHACL shape validation (U5), ASK, Excel
export — the round-2 parity closures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

EX = "http://example.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"

TTL = """
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

ex:alice a ex:Person ;
    ex:name "Alice"@en ;
    ex:age "42"^^xsd:integer ;
    ex:knows ex:bob , ex:carol .
ex:bob a ex:Person ;
    ex:name "Bob"@en .
ex:carol a ex:Person .
"""


# ---------------------------------------------------------------------------
# Pure parser (no Spark)

def test_parse_turtle_core():
    from kgap_spark.io.turtle import RDF_TYPE, parse_turtle

    quads = parse_turtle(TTL, default_graph="urn:g")
    assert (f"{EX}alice", RDF_TYPE, f"{EX}Person", None, None, "urn:g") in quads
    assert (f"{EX}alice", f"{EX}name", "Alice", "en", None, "urn:g") in quads
    assert (f"{EX}alice", f"{EX}age", "42", None, f"{XSD}integer", "urn:g") in quads
    knows = [q[2] for q in quads if q[1] == f"{EX}knows"]
    assert sorted(knows) == [f"{EX}bob", f"{EX}carol"]


def test_parse_trig_graph_blocks():
    from kgap_spark.io.turtle import parse_turtle

    trig = """
    PREFIX ex: <http://example.org/>
    GRAPH ex:g1 { ex:a ex:p ex:b . }
    ex:g2 { ex:c ex:p 5 . }
    ex:d ex:p "default" .
    """
    quads = parse_turtle(trig, default_graph="urn:dg")
    graphs = {q[5] for q in quads}
    assert graphs == {f"{EX}g1", f"{EX}g2", "urn:dg"}
    g2 = [q for q in quads if q[5] == f"{EX}g2"][0]
    assert g2[2] == "5" and g2[4] == f"{XSD}integer"


def test_parse_turtle_collections_and_bnodes():
    from kgap_spark.io.turtle import RDF_FIRST, RDF_NIL, RDF_REST, parse_turtle

    quads = parse_turtle("@prefix ex: <http://example.org/> . "
                         "ex:s ex:items ( ex:x ex:y ) . "
                         "[ ex:anon true ] .")
    firsts = [q[2] for q in quads if q[1] == RDF_FIRST]
    assert firsts == [f"{EX}x", f"{EX}y"]
    rests = [q[2] for q in quads if q[1] == RDF_REST]
    assert rests[-1] == RDF_NIL
    anon = [q for q in quads if q[1] == f"{EX}anon"]
    assert len(anon) == 1 and anon[0][0].startswith("_:")


def test_parse_turtle_escapes_and_long_literals():
    from kgap_spark.io.turtle import parse_turtle

    quads = parse_turtle(
        '@prefix ex: <http://example.org/> .\n'
        'ex:s ex:p "tab\\there \\"q\\" \\u00e9" ;\n'
        '     ex:q """multi\nline""" .'
    )
    vals = {q[1]: q[2] for q in quads}
    assert vals[f"{EX}p"] == 'tab\there "q" é'
    assert vals[f"{EX}q"] == "multi\nline"


def test_parse_reference_config_ttl():
    """The reference's real repo-config TTL must parse (bnodes, prefixed
    names, nested property lists)."""
    import os

    from kgap_spark.io.turtle import parse_turtle

    path = "/root/reference/graphdb/kgap/template-repo-config.ttl"
    if not os.path.exists(path):
        pytest.skip(f"reference config TTL not present at {path}")
    text = open(path).read()
    quads = parse_turtle(text, default_graph="urn:cfg")
    assert len(quads) > 20
    assert any("repositoryID" in q[1] for q in quads)


def test_parse_turtle_errors():
    from kgap_spark.io.turtle import TurtleParseError, parse_turtle

    with pytest.raises(TurtleParseError):
        parse_turtle("ex:s ex:p ex:o .")  # undeclared prefix
    with pytest.raises(TurtleParseError):
        parse_turtle('<a> <b> "unterminated .')


# ---------------------------------------------------------------------------
# Distributed reader round-trip

def test_read_turtle_roundtrip(spark, tmp_path):
    """TTL file → quads → N-Quads text → re-read: same triple set."""
    from kgap_spark.io import read_ntriples, write_ntriples
    from kgap_spark.io.turtle import read_turtle

    p = tmp_path / "data.ttl"
    p.write_text(TTL)
    quads = read_turtle(spark, str(p), default_graph="urn:g")
    rows = quads.collect()
    assert len(rows) == 8
    assert {r.graph for r in rows} == {"urn:g"}
    alice_name = [r for r in rows if r.pred == f"{EX}name" and "alice" in r.subj]
    assert alice_name[0].obj == "Alice" and alice_name[0].obj_lang == "en"

    out = tmp_path / "out_nq"
    write_ntriples(quads, str(out))
    back = read_ntriples(spark, str(out))
    assert back.count() == 8
    orig = {(r.subj, r.pred, r.obj) for r in rows}
    rt = {(r.subj, r.pred, r.obj) for r in back.collect()}
    assert rt == orig


def test_read_turtle_many_files_parallel(spark, tmp_path):
    """One row per file; bnode labels are file-unique (no cross-file
    collisions after merge)."""
    from kgap_spark.io.turtle import read_turtle

    for i in range(4):
        (tmp_path / f"f{i}.ttl").write_text(
            f'@prefix ex: <http://example.org/> .\n'
            f'[ ex:idx {i} ] .\n'
        )
    quads = read_turtle(spark, str(tmp_path), default_graph="urn:g")
    rows = quads.collect()
    assert len(rows) == 4
    assert len({r.subj for r in rows}) == 4  # distinct bnodes across files


# ---------------------------------------------------------------------------
# SHACL shape → assertions → distributed validation

SHAPE = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

ex:PersonShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:property [ sh:path ex:name ; sh:minCount 1 ] ;
    sh:property [ sh:path ex:age ; sh:datatype xsd:integer ;
                  sh:minInclusive 0 ; sh:maxInclusive 120 ] ;
    sh:property [ sh:path ex:status ; sh:in ( "active" "inactive" ) ] ;
    sh:property [ sh:path ex:knows ; sh:maxCount 1 ] .
"""


def test_shape_to_assertions():
    from kgap_spark.validate.shacl import shape_to_assertions

    asserts = {(a.kind, a.path) for a in shape_to_assertions(SHAPE)}
    assert ("required", f"{EX}name") in asserts
    assert ("datatype", f"{EX}age") in asserts
    assert ("range", f"{EX}age") in asserts
    assert ("type_in", f"{EX}status") in asserts
    assert ("cardinality", f"{EX}knows") in asserts
    by_path = {a.path: a for a in
               __import__("kgap_spark.validate.shacl", fromlist=["x"])
               .shape_to_assertions(SHAPE) if a.kind == "type_in"}
    assert by_path[f"{EX}status"].values == ("active", "inactive")


def test_validate_with_shape(spark):
    """Distributed validation of parsed Turtle against the shape:
    carol misses ex:name (required) and alice has 2 ex:knows (max 1)."""
    from kgap_spark.io.turtle import parse_turtle
    from kgap_spark.validate.shacl import validate_with_shape

    quads = parse_turtle(TTL, default_graph="urn:g")
    triples = spark.createDataFrame(
        [(s, p, o, lang, dt, g, None) for s, p, o, lang, dt, g in quads],
        "subj string, pred string, obj string, obj_lang string, "
        "obj_datatype string, graph string, src_url string",
    )
    violations = validate_with_shape(triples, SHAPE).collect()
    issues = {(v.entity, v.issue.split(" ")[0]) for v in violations}
    entities = {v.entity for v in violations}
    assert f"{EX}carol" in entities        # missing required name
    assert f"{EX}alice" in entities        # knows-cardinality 2 > 1
    assert f"{EX}bob" not in {v.entity for v in violations
                              if "missing" in v.issue}
    assert issues  # non-empty


# ---------------------------------------------------------------------------
# ASK + Excel export

def test_ask(spark):
    from kgap_spark.query.sparql import execute_sparql

    triples = spark.createDataFrame(
        [("s1", "rdf:type", "Person", None, None, "g", None)],
        "subj string, pred string, obj string, obj_lang string, "
        "obj_datatype string, graph string, src_url string",
    )
    assert execute_sparql(triples, "ASK { ?s rdf:type <Person> }") is True
    assert execute_sparql(triples, "ASK { ?s rdf:type <Robot> }") is False


def test_export_xlsx(spark, tmp_path):
    """xlsx export writes a valid zip with the sheet XML and all values."""
    import zipfile

    from kgap_spark.io import export_results

    df = spark.createDataFrame(
        [("a", 1, 1.5, True), ("b <&> c", 2, 2.5, False)],
        "name string, n long, x double, flag boolean",
    )
    path = str(tmp_path / "out.xlsx")
    export_results(df, path, fmt="xlsx")
    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        assert "xl/worksheets/sheet1.xml" in names
        sheet = z.read("xl/worksheets/sheet1.xml").decode()
    assert "b &lt;&amp;&gt; c" in sheet  # XML-escaped
    assert sheet.count("<row>") == 3     # header + 2 rows


# ---------------------------------------------------------------------------
# JSON-LD / RDF-XML (S5 completion)

JSONLD = """
{
  "@context": {"ex": "http://example.org/",
               "name": "http://example.org/name",
               "knows": {"@id": "http://example.org/knows", "@type": "@id"}},
  "@graph": [
    {"@id": "ex:alice", "@type": "ex:Person",
     "name": {"@value": "Alice", "@language": "en"},
     "ex:age": 42, "knows": "ex:bob"},
    {"@id": "ex:bob", "name": "Bob"}
  ]
}
"""

RDFXML = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://example.org/">
  <ex:Person rdf:about="http://example.org/alice">
    <ex:name xml:lang="en">Alice</ex:name>
    <ex:age rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">42</ex:age>
    <ex:knows rdf:resource="http://example.org/bob"/>
  </ex:Person>
</rdf:RDF>
"""


def test_parse_jsonld_core():
    from kgap_spark.io.jsonld import parse_jsonld
    from kgap_spark.io.turtle import RDF_TYPE

    quads = parse_jsonld(JSONLD, default_graph="urn:g")
    assert (f"{EX}alice", RDF_TYPE, f"{EX}Person", None, None, "urn:g") in quads
    assert (f"{EX}alice", f"{EX}name", "Alice", "en", None, "urn:g") in quads
    assert (f"{EX}alice", f"{EX}age", "42", None, f"{XSD}integer", "urn:g") in quads
    assert (f"{EX}alice", f"{EX}knows", f"{EX}bob", None, None, "urn:g") in quads


def test_parse_jsonld_rejects_remote_context():
    import pytest as _pytest

    from kgap_spark.io.jsonld import JsonLdError, parse_jsonld

    with _pytest.raises(JsonLdError):
        parse_jsonld('{"@context": "https://schema.org", "@id": "x"}')


def test_parse_rdfxml_core():
    from kgap_spark.io.rdfxml import parse_rdfxml
    from kgap_spark.io.turtle import RDF_TYPE

    quads = parse_rdfxml(RDFXML, default_graph="urn:g")
    assert (f"{EX}alice", RDF_TYPE, f"{EX}Person", None, None, "urn:g") in quads
    assert (f"{EX}alice", f"{EX}name", "Alice", "en", None, "urn:g") in quads
    assert (f"{EX}alice", f"{EX}age", "42", None, f"{XSD}integer", "urn:g") in quads


def test_read_rdf_dispatch_all_formats(spark, tmp_path):
    """The four formats land in the SAME quad schema via read_rdf; the
    alice/name/knows triples agree across serializations."""
    from kgap_spark.io import read_rdf

    (tmp_path / "d.ttl").write_text(TTL)
    (tmp_path / "d.jsonld").write_text(JSONLD)
    (tmp_path / "d.rdf").write_text(RDFXML)
    (tmp_path / "d.nq").write_text(
        f'<{EX}alice> <{EX}name> "Alice"@en <urn:g> .\n'
        f'<{EX}alice> <{EX}knows> <{EX}bob> <urn:g> .\n'
    )
    frames = {
        "turtle": read_rdf(spark, str(tmp_path / "d.ttl"), "turtle", "urn:g"),
        "jsonld": read_rdf(spark, str(tmp_path / "d.jsonld"), "jsonld", "urn:g"),
        "rdfxml": read_rdf(spark, str(tmp_path / "d.rdf"), "rdfxml", "urn:g"),
        "ntriples": read_rdf(spark, str(tmp_path / "d.nq"), "nquads", "urn:g"),
    }
    key = {(f"{EX}alice", f"{EX}name", "Alice"),
           (f"{EX}alice", f"{EX}knows", f"{EX}bob")}
    for fmt, df in frames.items():
        assert df.columns == frames["turtle"].columns, fmt
        got = {(r.subj, r.pred, r.obj) for r in df.collect()}
        assert key <= got, fmt


def test_read_jsonld_ndjson_lines(spark, tmp_path):
    """NDJSON mode: one node object per line, line-splittable, shared
    context."""
    from kgap_spark.io.jsonld import read_jsonld

    ctx = {"name": "http://example.org/name"}
    p = tmp_path / "docs.ndjson"
    p.write_text(
        '{"@id": "http://example.org/a", "name": "A"}\n'
        '{"@id": "http://example.org/b", "name": "B"}\n'
    )
    rows = read_jsonld(spark, str(p), "urn:g", lines=True, context=ctx).collect()
    assert {(r.subj, r.obj) for r in rows} == {
        (f"{EX}a", "A"), (f"{EX}b", "B")
    }
    assert all(r.pred == f"{EX}name" for r in rows)


def test_parse_rdfxml_collection():
    from kgap_spark.io.rdfxml import parse_rdfxml
    from kgap_spark.io.turtle import RDF_FIRST, RDF_NIL, RDF_REST

    doc = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://example.org/">
  <rdf:Description rdf:about="http://example.org/s">
    <ex:items rdf:parseType="Collection">
      <rdf:Description rdf:about="http://example.org/x"/>
      <rdf:Description rdf:about="http://example.org/y"/>
    </ex:items>
  </rdf:Description>
</rdf:RDF>"""
    quads = parse_rdfxml(doc, default_graph="urn:g")
    firsts = [q[2] for q in quads if q[1] == RDF_FIRST]
    assert firsts == [f"{EX}x", f"{EX}y"]
    assert [q[2] for q in quads if q[1] == RDF_REST][-1] == RDF_NIL


def test_write_turtle_roundtrip(spark, tmp_path):
    """Prefix-compressed Turtle export → re-parse with the Turtle
    reader: identical triple set; every part file carries the
    preamble (standalone-valid)."""
    import glob

    from kgap_spark.io import write_turtle
    from kgap_spark.io.turtle import read_turtle

    df = spark.createDataFrame(
        [
            (f"{EX}a", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
             f"{EX}T", None, None, "g", None),
            (f"{EX}a", f"{EX}n", "lit with \"quotes\"", "en", None, "g", None),
            (f"{EX}b", f"{EX}age", "42", None, f"{XSD}integer", "g", None),
        ],
        "subj string, pred string, obj string, obj_lang string, "
        "obj_datatype string, graph string, src_url string",
    ).repartition(2)
    out = str(tmp_path / "ttl")
    write_turtle(df, out, prefixes={"ex": EX})
    parts = [p for p in glob.glob(out + "/part-*") if not p.endswith(".crc")]
    for p in parts:
        txt = open(p).read()
        if txt.strip():
            assert txt.startswith("@prefix")
            assert "ex:" in txt or "xsd:" in txt or "rdf:" in txt
    back = read_turtle(spark, out, default_graph="g")
    got = {(r.subj, r.pred, r.obj, r.obj_lang, r.obj_datatype)
           for r in back.collect()}
    want = {(r.subj, r.pred, r.obj, r.obj_lang, r.obj_datatype)
            for r in df.collect()}
    assert got == want


def test_read_rdf_skip_malformed_files(spark, tmp_path):
    """on_error='skip': one bad file among good ones is isolated (the
    FAILURE_IS_FATAL=false analog at file granularity); 'fail' raises."""
    from kgap_spark.io.turtle import read_turtle

    (tmp_path / "good.ttl").write_text(
        "@prefix ex: <http://example.org/> . ex:a ex:p ex:b ."
    )
    (tmp_path / "bad.ttl").write_text("this is :::: not turtle ;;; at all")
    ok = read_turtle(spark, str(tmp_path), "urn:g", on_error="skip").collect()
    assert len(ok) == 1 and ok[0].subj == f"{EX}a"
    import pytest as _pytest

    with _pytest.raises(Exception):
        read_turtle(spark, str(tmp_path), "urn:g", on_error="fail").collect()


def test_parsers_total_on_garbage():
    """Fuzz: parsers never hang or raise uncontrolled errors on
    arbitrary text — any failure is an explicit parse error."""
    import json

    from kgap_spark.io.jsonld import JsonLdError, parse_jsonld
    from kgap_spark.io.turtle import TurtleParseError, parse_turtle

    garbage = [
        "", "###", "<unclosed", '"dangling', "@prefix", "_:b", "( ( (",
        "{ nested { blocks", "ex:a", "123.456.789", "\\u00", "a a a .",
        "PREFIX : <x> :s :p :o", "<a> <b> 'mix\" .",
    ]
    for g in garbage:
        try:
            parse_turtle(g)
        except TurtleParseError:
            pass
        try:
            parse_jsonld(g)
        except (JsonLdError, json.JSONDecodeError, AttributeError, TypeError):
            pass


def test_parse_rdfxml_li_containers():
    from kgap_spark.io.rdfxml import parse_rdfxml
    from kgap_spark.io.turtle import RDF_NS

    doc = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://example.org/">
  <rdf:Seq rdf:about="http://example.org/seq">
    <rdf:li>first</rdf:li>
    <rdf:li rdf:resource="http://example.org/x"/>
  </rdf:Seq>
</rdf:RDF>"""
    quads = parse_rdfxml(doc, default_graph="urn:g")
    preds = {q[1]: q[2] for q in quads}
    assert preds[f"{RDF_NS}_1"] == "first"
    assert preds[f"{RDF_NS}_2"] == f"{EX}x"
    assert preds[f"{RDF_NS}type"] == f"{RDF_NS}Seq"


def test_parser_review_fixes(spark):
    """Regression pins for the fourth review pass (block parsers)."""
    from kgap_spark.io.jsonld import parse_jsonld
    from kgap_spark.io.rdfxml import parse_rdfxml
    from kgap_spark.io.turtle import parse_turtle

    # 1. anonymous @graph keeps its members (was: silently dropped)
    q = parse_jsonld(
        '[{"@graph": [{"@id": "http://ex/a", "http://ex/p": "v"}]}]',
        default_graph="urn:g",
    )
    assert [(s, p, o, g) for s, p, o, _l, _d, g in q] == [
        ("http://ex/a", "http://ex/p", "v", "urn:g")
    ]

    # 2. nested @context no longer leaks into sibling nodes
    q = parse_jsonld(
        '[{"@id":"http://ex/a","http://ex/p":'
        '{"@context":{"q":"http://inner/q"},"@id":"http://ex/b","q":"x"}},'
        '{"@id":"http://ex/c","q":"y"}]',
        default_graph="urn:g",
    )
    preds_c = {p for s, p, *_ in q if s == "http://ex/c"}
    assert preds_c == {"q"}  # NOT http://inner/q

    # 3. null @value / null property emit nothing (not "None" literals)
    q = parse_jsonld(
        '{"@id":"http://ex/a","http://ex/p":{"@value":null},'
        '"http://ex/r":null}', default_graph="urn:g")
    assert q == []

    # 4. rdf:ID resolves against xml:base; xml:* attrs are not triples
    xml = ('<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
           'xmlns:ex="http://ex/" xml:base="http://base.org/doc">'
           '<rdf:Description rdf:ID="item1" ex:name="n"/></rdf:RDF>')
    q = parse_rdfxml(xml, default_graph="urn:g")
    assert q[0][0] == "http://base.org/doc#item1"
    assert all("namespacebase" not in p for _s, p, *_ in q)

    # 5. rdf:li inside parseType=Resource numbers _1, _2
    xml2 = ('<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
            'xmlns:ex="http://ex/">'
            '<rdf:Description rdf:about="http://ex/s">'
            '<ex:seq rdf:parseType="Resource">'
            '<rdf:li>a</rdf:li><rdf:li>b</rdf:li></ex:seq>'
            '</rdf:Description></rdf:RDF>')
    q = parse_rdfxml(xml2, default_graph="urn:g")
    li_preds = sorted(p for _s, p, *_ in q if "_" in p.rsplit("#", 1)[-1])
    assert li_preds[-2:] == [
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#_1",
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#_2",
    ]

    # 6. TriG: bnode statement inside a graph block; bnode graph label
    q = parse_turtle(
        '<http://g> { [ <http://p> <http://o> ] . }', default_graph="urn:g")
    assert len(q) == 1 and q[0][5] == "http://g"
    q = parse_turtle(
        '_:g { <http://s> <http://p> <http://o> . }', default_graph="urn:g")
    assert q[0][5].startswith("_:")

    # 7. long literal ending in a quote character
    q = parse_turtle('<http://s> <http://p> """abc"""" .',
                     default_graph="urn:g")
    assert q[0][2] == 'abc"'
    q = parse_turtle('<http://s> <http://p> """x""""" .',
                     default_graph="urn:g")
    assert q[0][2] == 'x""'


def test_parse_jsonld_reverse():
    """JSON-LD 1.1 §4.8 @reverse: node-level maps and reverse term
    definitions both emit (value, p, node) triples."""
    import pytest as _pytest

    from kgap_spark.io.jsonld import JsonLdError, parse_jsonld

    doc = """{
      "@context": {
        "ex": "http://example.org/",
        "childOf": {"@reverse": "ex:parentOf"}
      },
      "@id": "ex:alice",
      "@reverse": {
        "ex:knows": [{"@id": "ex:bob"}, "ex:carol"]
      },
      "childOf": {"@id": "ex:dad", "ex:name": "Dad"}
    }"""
    quads = parse_jsonld(doc, default_graph="urn:g")
    trips = {(s, p, o) for (s, p, o, _l, _d, _g) in quads}
    # node-level @reverse: bob/carol point AT alice
    assert ("http://example.org/bob", "http://example.org/knows",
            "http://example.org/alice") in trips
    assert ("http://example.org/carol", "http://example.org/knows",
            "http://example.org/alice") in trips
    # reverse term: alice childOf dad → dad parentOf alice
    assert ("http://example.org/dad", "http://example.org/parentOf",
            "http://example.org/alice") in trips
    # the nested reverse node's own properties still emit forward
    assert ("http://example.org/dad", "http://example.org/name",
            "Dad") in trips
    # literals cannot be reverse values
    with _pytest.raises(JsonLdError, match="@reverse value"):
        parse_jsonld('{"@id": "ex:a", "@reverse": {"ex:p": 5}}')


def test_shacl_round5_components(spark):
    """sh:pattern(+flags) / sh:minLength / sh:maxLength / sh:nodeKind /
    sh:class translate and validate distributed (round-5 widening of
    the SHACL-core subset)."""
    from kgap_spark import schemas as S
    from kgap_spark.validate.shacl import (
        shape_to_assertions,
        validate_with_shape,
    )

    shape = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:DocShape a sh:NodeShape ;
      sh:targetClass ex:Doc ;
      sh:property [ sh:path ex:code ;
                    sh:pattern "^[A-Z]{3}-[0-9]+$" ] ;
      sh:property [ sh:path ex:title ;
                    sh:minLength 3 ; sh:maxLength 10 ] ;
      sh:property [ sh:path ex:ref ; sh:nodeKind sh:IRI ] ;
      sh:property [ sh:path ex:author ; sh:class ex:Person ] .
    """
    kinds = {(a.kind, a.path) for a in shape_to_assertions(shape)}
    assert ("pattern", "http://example.org/code") in kinds
    assert ("length", "http://example.org/title") in kinds
    assert ("node_kind", "http://example.org/ref") in kinds
    assert ("class", "http://example.org/author") in kinds

    EX = "http://example.org/"
    T = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    rows = [
        # d1 fully valid
        ("urn:d1", T, EX + "Doc", None, None, "urn:g", None),
        ("urn:d1", EX + "code", "ABC-12", None, None, "urn:g", None),
        ("urn:d1", EX + "title", "hello", None, None, "urn:g", None),
        ("urn:d1", EX + "ref", "urn:other", None, None, "urn:g", None),
        ("urn:d1", EX + "author", "urn:p1", None, None, "urn:g", None),
        ("urn:p1", T, EX + "Person", None, None, "urn:g", None),
        # d2: bad code, short title, literal ref, untyped author
        ("urn:d2", T, EX + "Doc", None, None, "urn:g", None),
        ("urn:d2", EX + "code", "abc12", None, None, "urn:g", None),
        ("urn:d2", EX + "title", "hi", None, None, "urn:g", None),
        ("urn:d2", EX + "ref", "not an iri", None, None, "urn:g", None),
        ("urn:d2", EX + "author", "urn:p2", None, None, "urn:g", None),
        # out-of-scope subject: same bad values but not an ex:Doc
        ("urn:x", EX + "code", "nope", None, None, "urn:g", None),
    ]
    triples = spark.createDataFrame(rows, S.TRIPLES)
    v = validate_with_shape(triples, shape)
    by_entity = {}
    for r in v.collect():
        by_entity.setdefault(r.entity, []).append(r.issue)
    assert "urn:d1" not in by_entity
    assert "urn:x" not in by_entity  # targetClass scoping holds
    issues = "\n".join(by_entity["urn:d2"])
    assert "does not match" in issues
    assert "length out of bounds" in issues
    assert "not a IRI" in issues
    assert "not a http://example.org/Person" in issues
    assert len(by_entity["urn:d2"]) == 4
