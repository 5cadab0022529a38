"""SPARQL-text front-end: the reference docs' own queries, verbatim,
against golden fixtures (docs/quick-reference.md:186-222,
docs/components/jupyter.md:557-566, docs/advanced-topics.md:299-311,
377-394)."""

from __future__ import annotations

import pytest

from kgap_spark import schemas as S
from kgap_spark.query.sparql import execute_sparql, parse_sparql

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
SOSA = "http://www.w3.org/ns/sosa/"


@pytest.fixture(scope="module")
def kb(spark):
    """A small observation KB using full IRIs (what the doc queries'
    PREFIX declarations expand to)."""
    rows = []

    def t(s, p, o, lang=None, dt=None, g="urn:g:obs"):
        rows.append((s, p, o, lang, dt, g, None))

    for i in range(4):
        obs = f"urn:obs:{i}"
        t(obs, RDF + "type", SOSA + "Observation")
        t(obs, SOSA + "madeBySensor", f"urn:sensor:{i % 2}")
        t(obs, SOSA + "hasResult", str(10 * (i + 1)))
        t(obs, SOSA + "resultTime", f"2024-01-0{i + 1}T00:00:00Z")
    # obs 3 has a conflicting second type
    t("urn:obs:3", RDF + "type", SOSA + "Sample")
    # sensors: typed, sensor 0 labeled (en + nl), sensor 1 unlabeled
    t("urn:sensor:0", RDF + "type", SOSA + "Sensor")
    t("urn:sensor:1", RDF + "type", SOSA + "Sensor")
    t("urn:sensor:0", RDFS + "label", "marine sensor", lang="en")
    t("urn:sensor:0", RDFS + "label", "mariene sensor", lang="nl")
    # a second graph for GRAPH-scope tests
    t("urn:obs:100", RDF + "type", SOSA + "Observation", g="urn:g:other")
    return spark.createDataFrame(rows, S.TRIPLES)


def test_count_all(kb):
    # quick-reference.md:186-188 — verbatim
    df = execute_sparql(kb, """
        # Count all triples
        SELECT (COUNT(*) as ?count)
        WHERE { ?s ?p ?o }
    """)
    assert df.columns == ["count"]
    assert df.collect()[0]["count"] == kb.count()


def test_list_all_types(kb):
    # quick-reference.md:190-196 — verbatim
    df = execute_sparql(kb, """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        SELECT DISTINCT ?type (COUNT(?s) as ?count)
        WHERE { ?s rdf:type ?type }
        GROUP BY ?type
        ORDER BY DESC(?count)
    """)
    rows = [(r.type, r["count"]) for r in df.collect()]
    assert rows[0] == (SOSA + "Observation", 5)
    assert (SOSA + "Sensor", 2) in rows and (SOSA + "Sample", 1) in rows


def test_list_all_predicates(kb):
    # quick-reference.md:198-202 — verbatim
    df = execute_sparql(kb, """
        SELECT DISTINCT ?p (COUNT(*) as ?count)
        WHERE { ?s ?p ?o }
        GROUP BY ?p
        ORDER BY DESC(?count)
    """)
    got = {r.p: r["count"] for r in df.collect()}
    assert got[RDF + "type"] == 8
    assert got[SOSA + "hasResult"] == 4
    assert got[RDFS + "label"] == 2


def test_entities_with_labels_limit(kb):
    # quick-reference.md:206-213 — verbatim
    df = execute_sparql(kb, """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?entity ?label
        WHERE {
          ?entity rdfs:label ?label .
        }
        LIMIT 100
    """)
    assert df.columns == ["entity", "label"]
    got = {(r.entity, r.label) for r in df.collect()}
    assert got == {("urn:sensor:0", "marine sensor"),
                   ("urn:sensor:0", "mariene sensor")}


def test_fulltext_search_magic_predicate(kb):
    # quick-reference.md:215-222 — verbatim (luc: magic predicates)
    df = execute_sparql(kb, """
        PREFIX luc: <http://www.ontotext.com/owlim/lucene#>
        SELECT ?entity ?score
        WHERE {
          ?entity luc:searchIndex "marine" ;
                  luc:score ?score .
        }
        ORDER BY DESC(?score)
    """)
    rows = df.collect()
    assert [r.entity for r in rows] == ["urn:sensor:0"]
    assert rows[0].score >= 1.0


@pytest.mark.parametrize("query, want", [
    ("+marine -sensor", {"urn:b"}),
    ("marine AND sensor", {"urn:a"}),
    ("marine NOT sensor", {"urn:b"}),
])
def test_lucene_operators_match_fts_search(spark, query, want):
    """luc:searchIndex reads its query text as the Lucene subset, the
    same way as fts_search over the same labels."""
    from kgap_spark.index.fts import build_posting_table, fts_search

    labels = {"urn:a": "marine sensor", "urn:b": "marine buoy",
              "urn:c": "river sensor"}
    kb = spark.createDataFrame(
        [(s, RDFS + "label", o, "en", None, "urn:g", None)
         for s, o in labels.items()], S.TRIPLES)
    df = execute_sparql(kb, f"""
        PREFIX luc: <http://www.ontotext.com/owlim/lucene#>
        SELECT ?e ?score WHERE {{
          ?e luc:searchIndex "{query}" ; luc:score ?score .
        }}
    """)
    got = {r.e: r.score for r in df.collect()}
    assert set(got) == want
    docs = spark.createDataFrame(list(labels.items()), "s string, text string")
    hits = fts_search(build_posting_table(docs, "s", "text"), query).collect()
    assert got == {r.subj: float(r.score) for r in hits}


def test_missing_labels_not_exists(kb):
    # jupyter.md:557-566 — verbatim (data-quality pattern 2)
    df = execute_sparql(kb, """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>

        SELECT ?entity ?type
        WHERE {
            ?entity rdf:type ?type .
            FILTER NOT EXISTS { ?entity rdfs:label ?label }
        }
        LIMIT 100
    """)
    ents = {r.entity for r in df.collect()}
    assert "urn:sensor:0" not in ents          # labeled
    assert "urn:sensor:1" in ents              # unlabeled
    assert {f"urn:obs:{i}" for i in range(4)} <= ents


def test_observation_template_query(kb):
    # advanced-topics.md:299-311 — verbatim, with the template's
    # ${filter_*} slots instantiated the way the reference renders them
    text = """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        PREFIX qudt: <http://qudt.org/schema/qudt/>
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>

        SELECT ?observation ?sensor ?result ?time
        WHERE {
          ?observation a sosa:Observation ;
                       sosa:madeBySensor ?sensor ;
                       sosa:hasResult ?result ;
                       sosa:resultTime ?time .

          # Optional filters based on parameters
          FILTER(?sensor = <urn:sensor:0>)
          FILTER(?result >= 10)

        }
        ORDER BY DESC(?time)
        LIMIT 10
    """
    df = execute_sparql(kb, text)
    rows = df.collect()
    # sensor 0 made obs 0 and 2; DESC(?time) puts obs 2 first
    assert [r.observation for r in rows] == ["urn:obs:2", "urn:obs:0"]
    assert all(r.sensor == "urn:sensor:0" for r in rows)


def test_type_consistency_group_having(kb):
    # advanced-topics.md:377-394 — verbatim (incl. the doc's unbound
    # ?types projection, which SPARQL renders as NULL)
    df = execute_sparql(kb, """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX sosa: <http://www.w3.org/ns/sosa/>

        SELECT ?entity ?types
        WHERE {
          ?entity a sosa:Observation .

          # Get all types
          ?entity rdf:type ?type .

          # Check for conflicting types
          FILTER(?type != sosa:Observation)
        }
        GROUP BY ?entity
        HAVING (COUNT(?type) > 1)
    """)
    # only obs:3 has a second type, but COUNT > 1 needs two extras —
    # none qualify; loosen to >= 1 via a twin query for the positive
    assert df.count() == 0
    df2 = execute_sparql(kb, """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?entity ?types
        WHERE {
          ?entity a sosa:Observation .
          ?entity rdf:type ?type .
          FILTER(?type != sosa:Observation)
        }
        GROUP BY ?entity
        HAVING (COUNT(?type) >= 1)
    """)
    rows = df2.collect()
    assert [r.entity for r in rows] == ["urn:obs:3"]
    assert rows[0].types is None  # the doc query's ?types is unbound


def test_optional_and_bound(kb):
    df = execute_sparql(kb, """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?s ?label
        WHERE {
          ?s rdf:type sosa:Sensor .
          OPTIONAL { ?s rdfs:label ?label }
        }
    """)
    got = {(r.s, r.label) for r in df.collect()}
    assert ("urn:sensor:1", None) in got
    assert ("urn:sensor:0", "marine sensor") in got
    # BOUND over the optional var
    df2 = execute_sparql(kb, """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?s
        WHERE {
          ?s rdf:type sosa:Sensor .
          OPTIONAL { ?s rdfs:label ?label }
          FILTER(!BOUND(?label))
        }
    """)
    assert [r.s for r in df2.collect()] == ["urn:sensor:1"]


def test_lang_filter_and_contains(kb):
    df = execute_sparql(kb, """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?s ?label
        WHERE {
          ?s rdfs:label ?label .
          FILTER(LANG(?label) = "en" && CONTAINS(STR(?label), "marine"))
        }
    """)
    assert [(r.s, r.label) for r in df.collect()] == [
        ("urn:sensor:0", "marine sensor")
    ]


def test_graph_scope(kb):
    df = execute_sparql(kb, """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?s
        WHERE {
          GRAPH <urn:g:other> { ?s rdf:type sosa:Observation }
        }
    """)
    assert [r.s for r in df.collect()] == ["urn:obs:100"]


def test_ask(kb):
    assert execute_sparql(kb, """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        ASK { ?s a sosa:Sensor }
    """) is True
    assert execute_sparql(kb, """
        ASK { ?s a <urn:type:Nonexistent> }
    """) is False


def test_compact_store_convention(spark):
    """Undeclared prefixes stay compact — the repo's own triple tables
    (rdf:type etc.) query without PREFIX declarations."""
    rows = [("e1", "rdf:type", "ex:Doc", None, None, "urn:g", None),
            ("e1", "rdfs:label", "doc one", None, None, "urn:g", None)]
    t = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(t, "SELECT ?s WHERE { ?s rdf:type ex:Doc }")
    assert [r.s for r in df.collect()] == ["e1"]


def test_declared_well_known_prefix_matches_compact_store(spark, tmp_path):
    """A PREFIX line binding rdf: to its standard namespace matches
    the compact rdf:type too, as the undeclared rdf: does: the shipped
    type_counts query counts a pipeline-style store's kgap:WebPage
    rows. Any other binding expands to its IRI only, and INSERT DATA
    and CONSTRUCT with the declared prefix still write the full IRI."""
    from kgap_spark.query.sparql import execute_sparql_update
    from kgap_spark.query.templates import QueryTemplates
    from kgap_spark.triples import TripleStore

    rows = [(f"urn:p:{i}", "rdf:type", "kgap:WebPage", None, None, "urn:g",
             None) for i in range(3)]
    rows.append(("urn:e:1", RDF + "type", "kgap:Entity", None, None, "urn:g",
                 None))
    t = spark.createDataFrame(rows, S.TRIPLES)
    got = QueryTemplates(spark, "queries", triples=t) \
        .execute_to_df("type_counts").collect()
    assert [(r.type, r["count"]) for r in got] == [
        ("kgap:WebPage", 3), ("kgap:Entity", 1)]
    # = matches both forms; BIND and VALUES bind the declared full IRI
    q = execute_sparql(t, f"""
        PREFIX rdf: <{RDF}>
        SELECT DISTINCT ?t WHERE {{
          ?s ?p ?o FILTER(?p = rdf:type) BIND(rdf:type AS ?t) }}""")
    assert [r.t for r in q.collect()] == [RDF + "type"]
    q = execute_sparql(t, f"""
        PREFIX rdf: <{RDF}>
        SELECT ?s WHERE {{ VALUES ?p {{ rdf:type }} ?s ?p ?o }}""")
    assert [r.s for r in q.collect()] == ["urn:e:1"]

    other = execute_sparql(t, """
        PREFIX rdf: <urn:other#>
        SELECT ?s WHERE { ?s rdf:type ?o }""")
    assert other.count() == 0

    built = execute_sparql(t, f"""
        PREFIX rdf: <{RDF}>
        CONSTRUCT {{ ?s rdf:type <urn:c:Page> }}
        WHERE {{ ?s rdf:type kgap:WebPage }}""")
    assert {r.pred for r in built.collect()} == {RDF + "type"}

    store = TripleStore(spark, str(tmp_path / "s"))
    execute_sparql_update(store, f"""
        PREFIX rdf: <{RDF}>
        INSERT DATA {{ <urn:s> rdf:type <urn:c:Doc> . }}""",
        default_graph="urn:g")
    assert [r.pred for r in store.read().collect()] == [RDF + "type"]


def test_sparql_template_file(spark, kb, tmp_path):
    """.sparql templates load and execute like kgap_tools.py:17-26,
    with ${var} slots (advanced-topics.md template pattern)."""
    from kgap_spark.query.templates import QueryTemplates

    (tmp_path / "obs_by_sensor.sparql").write_text("""
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?observation ?result
        WHERE {
          ?observation a sosa:Observation ;
                       sosa:madeBySensor ?sensor ;
                       sosa:hasResult ?result .
          ${filter_sensor}
        }
        ORDER BY ?observation
        LIMIT ${limit}
    """)
    qt = QueryTemplates(spark, str(tmp_path), triples=kb)
    df = qt.execute_to_df(
        "obs_by_sensor",
        filter_sensor="FILTER(?sensor = <urn:sensor:1>)",
        limit=10,
    )
    assert [r.observation for r in df.collect()] == ["urn:obs:1", "urn:obs:3"]


def test_union(kb):
    df = execute_sparql(kb, """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?s ?label
        WHERE {
          { ?s a sosa:Sensor . OPTIONAL { ?s rdfs:label ?label } }
          UNION
          { ?s a sosa:Sample }
        }
    """)
    got = {(r.s, r.label) for r in df.collect()}
    assert ("urn:obs:3", None) in got           # Sample arm, ?label unbound
    assert ("urn:sensor:0", "marine sensor") in got
    assert ("urn:sensor:1", None) in got


def test_bind_and_object_list(kb):
    df = execute_sparql(kb, """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?s ?len
        WHERE {
          ?s rdfs:label ?label .
          FILTER(LANG(?label) = "en")
          BIND(STRLEN(?label) AS ?len)
        }
    """)
    assert [(r.s, r.len) for r in df.collect()] == [("urn:sensor:0", 13)]


def test_object_list(kb):
    df = execute_sparql(kb, """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?s
        WHERE { ?s rdf:type sosa:Observation , sosa:Sample . }
    """)
    # only obs:3 carries BOTH types
    assert [r.s for r in df.collect()] == ["urn:obs:3"]


def test_values(kb):
    df = execute_sparql(kb, """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?obs ?sensor
        WHERE {
          VALUES ?sensor { <urn:sensor:0> }
          ?obs sosa:madeBySensor ?sensor .
        }
        ORDER BY ?obs
    """)
    assert [r.obs for r in df.collect()] == ["urn:obs:0", "urn:obs:2"]
    # multi-var form
    df2 = execute_sparql(kb, """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?obs ?r
        WHERE {
          VALUES (?obs ?r) { (<urn:obs:0> "10") (<urn:obs:1> "20") }
          ?obs sosa:hasResult ?r .
        }
        ORDER BY ?obs
    """)
    assert [(x.obs, x.r) for x in df2.collect()] == [
        ("urn:obs:0", "10"), ("urn:obs:1", "20")
    ]


def test_sparql_compiles_to_catalyst_plan(kb):
    """The front-end emits DataFrame plans, not an interpreter loop:
    FILTER NOT EXISTS shows up as a LeftAnti join, constants as
    pushed filters in the scan."""
    df = execute_sparql(kb, """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?entity ?type
        WHERE {
            ?entity rdf:type ?type .
            FILTER NOT EXISTS { ?entity rdfs:label ?label }
        }
    """)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    # no Python in the plan: everything stays JVM-side
    assert "EvalPython" not in plan and "mapInPandas" not in plan.lower()


@pytest.fixture(scope="module")
def chain_kb(spark):
    """a→b→c→d partOf chain + labels for path tests."""
    rows = []
    for x, y in [("urn:n:a", "urn:n:b"), ("urn:n:b", "urn:n:c"),
                 ("urn:n:c", "urn:n:d")]:
        rows.append((x, "ex:partOf", y, None, None, "urn:g", None))
    rows.append(("urn:n:d", "rdfs:label", "the root", None, None, "urn:g", None))
    return spark.createDataFrame(rows, S.TRIPLES)


def test_property_path_transitive(chain_kb):
    df = execute_sparql(chain_kb, """
        SELECT ?x WHERE { <urn:n:a> ex:partOf+ ?x } ORDER BY ?x
    """)
    assert [r.x for r in df.collect()] == ["urn:n:b", "urn:n:c", "urn:n:d"]
    # var-var closure
    df2 = execute_sparql(chain_kb, """
        SELECT ?a ?b WHERE { ?a ex:partOf+ ?b } ORDER BY ?a ?b
    """)
    assert df2.count() == 6  # 3+2+1 reachable pairs


def test_property_path_sequence(chain_kb):
    df = execute_sparql(chain_kb, """
        SELECT ?l WHERE { <urn:n:c> ex:partOf/rdfs:label ?l }
    """)
    assert [r.l for r in df.collect()] == ["the root"]
    # sequence with transitive tail: a partOf+ then label
    df2 = execute_sparql(chain_kb, """
        SELECT ?l WHERE { <urn:n:a> ex:partOf+/rdfs:label ?l }
    """)
    assert [r.l for r in df2.collect()] == ["the root"]


def test_repo_queries_folder(spark, kb):
    """The shipped queries/ folder (the reference's notebooks/queries
    analog) loads and runs — incl. the FAQ's verbatim template example
    with its ${search_term}/${limit} slots (faq.md:215-229)."""
    from kgap_spark.query.templates import QueryTemplates

    qt = QueryTemplates(spark, "queries", triples=kb)
    df = qt.execute_to_df("label_search", search_term="marine", limit=100)
    assert [(r.entity, r.label) for r in df.collect()] == [
        ("urn:sensor:0", "marine sensor")
    ]
    # empty filter slots render to nothing, like the reference
    df2 = qt.execute_to_df(
        "observations", filter_sensor="", filter_timerange="",
        filter_value="FILTER(?result >= 30)", limit=10,
    )
    assert [r.observation for r in df2.collect()] == ["urn:obs:3", "urn:obs:2"]
    df3 = qt.execute_to_df("missing_labels", limit=100)
    assert df3.columns == ["entity", "type"]
    df4 = qt.execute_to_df("type_counts")
    assert df4.collect()[0]["count"] == 5


def test_query_templates_folder_through_hadoop_fs(spark, kb, tmp_path):
    """The templates folder is read through the Hadoop FS: a file://
    folder loads like a local one, and a missing folder fails at
    construction, naming the path."""
    import os

    from kgap_spark.query.templates import QueryTemplates

    missing = str(tmp_path / "no_such_folder")
    with pytest.raises(ValueError, match="no_such_folder"):
        QueryTemplates(spark, missing, triples=kb)
    qt = QueryTemplates(spark, "file://" + os.path.abspath("queries"),
                        triples=kb)
    assert qt.execute_to_df("type_counts").collect()[0]["count"] == 5


def test_construct_from_text(kb):
    df = execute_sparql(kb, """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        CONSTRUCT { ?sensor <urn:p:observedBy> ?obs }
        WHERE {
          ?obs a sosa:Observation ;
               sosa:madeBySensor ?sensor .
        }
    """)
    assert df.columns[:3] == ["subj", "pred", "obj"]  # TRIPLES schema
    got = {(r.subj, r.obj) for r in df.collect()}
    assert ("urn:sensor:0", "urn:obs:0") in got
    assert ("urn:sensor:1", "urn:obs:3") in got
    assert len(got) == 4


def test_construct_and_insert_template_forms(spark, tmp_path):
    """CONSTRUCT and INSERT build quads the same way but for one
    thing: an undeclared ``a`` / ``rdfs:label`` in the template comes
    out of CONSTRUCT as the full IRI and goes into the store from
    INSERT in its compact form. Lang and datatype tags survive both."""
    from kgap_spark.query.sparql import execute_sparql_update
    from kgap_spark.triples import TripleStore

    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    t = spark.createDataFrame(
        [("urn:s", "urn:p", "x", "en", None, "urn:g", None),
         ("urn:s", "urn:n", "5", None, xsd_int, "urn:g", None)], S.TRIPLES)
    template = "?s a <urn:C> ; rdfs:label ?l ; <urn:v> ?n"
    where = "WHERE { ?s <urn:p> ?l ; <urn:n> ?n }"

    def quads(df):
        return {(r.subj, r.pred, r.obj, r.obj_lang, r.obj_datatype)
                for r in df.collect()}

    def expect(a, label):
        return {("urn:s", a, "urn:C", None, None),
                ("urn:s", label, "x", "en", None),
                ("urn:s", "urn:v", "5", None, xsd_int)}

    built = execute_sparql(t, f"CONSTRUCT {{ {template} }} {where}")
    assert quads(built) == expect(RDF + "type", RDFS + "label")
    store = TripleStore(spark, str(tmp_path / "s"))
    store.append(t)
    execute_sparql_update(store, f"INSERT {{ {template} }} {where}",
                          default_graph="urn:g2")
    assert quads(store.read_graph("urn:g2")) == expect("rdf:type",
                                                        "rdfs:label")


def test_describe_from_text(kb):
    df = execute_sparql(kb, "DESCRIBE <urn:sensor:0>")
    preds = {r.pred for r in df.collect()}
    assert RDF + "type" in preds and RDFS + "label" in preds
    # appears as object of madeBySensor too
    objs = {r.obj for r in df.collect()}
    assert "urn:sensor:0" in objs


def test_job_sparql_subcommand(spark, tmp_path, capsys):
    """CLI: SELECT to stdout and CONSTRUCT --into the store."""
    import json as _json

    from kgap_spark import schemas as S
    from kgap_spark.job import main as job_main
    from kgap_spark.triples import TripleStore

    store_path = str(tmp_path / "store")
    rows = [("urn:e:1", "rdf:type", "ex:Doc", None, None, "urn:g", None),
            ("urn:e:2", "rdf:type", "ex:Doc", None, None, "urn:g", None)]
    TripleStore(spark, store_path).append(spark.createDataFrame(rows, S.TRIPLES))

    rc = job_main(["sparql", "--store", store_path,
                   "--query", "SELECT (COUNT(*) as ?n) WHERE { ?s ?p ?o }"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == [{"n": 2}]

    rc = job_main(["sparql", "--store", store_path,
                   "--query",
                   "CONSTRUCT { ?s <urn:p:isA> <urn:c:Doc> } "
                   "WHERE { ?s rdf:type ex:Doc }",
                   "--into", "urn:g:derived"])
    assert rc == 0
    derived = TripleStore(spark, store_path).read_graph("urn:g:derived")
    assert derived.count() == 2
    assert {r.pred for r in derived.collect()} == {"urn:p:isA"}


def test_job_sparql_construct_into_drops_unbound(spark, tmp_path):
    """CONSTRUCT --into merges no quad for a template triple whose
    variable a solution leaves unbound (SPARQL 1.1 §16.2): the OPTIONAL
    miss on urn:x writes nothing, not a NULL object."""
    from kgap_spark.job import main as job_main
    from kgap_spark.triples import TripleStore

    store_path = str(tmp_path / "store")
    TripleStore(spark, store_path).append(spark.createDataFrame(
        [("urn:x", "urn:p", "o1", None, None, "urn:g", None),
         ("urn:y", "urn:p", "o2", None, None, "urn:g", None),
         ("urn:y", "urn:q", "v", None, None, "urn:g", None)], S.TRIPLES))
    rc = job_main(["sparql", "--store", store_path, "--query",
                   "CONSTRUCT { ?s <urn:r> ?x } WHERE { ?s <urn:p> ?o "
                   "OPTIONAL { ?s <urn:q> ?x } }", "--into", "urn:g2"])
    assert rc == 0
    derived = TripleStore(spark, store_path).read_graph("urn:g2")
    assert derived.filter("obj IS NULL").count() == 0
    assert {(r.subj, r.pred, r.obj) for r in derived.collect()} == {
        ("urn:y", "urn:r", "v")}


def test_review_fixes(spark, kb, chain_kb, tmp_path):
    """Regression pins for the round-3 review findings."""
    from kgap_spark import schemas as S
    from kgap_spark.query.sparql import execute_sparql_update
    from kgap_spark.triples import TripleStore

    # 1. OPTIONAL with no shared vars keeps outer rows when empty
    df = execute_sparql(kb, """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?s ?b WHERE {
          ?s a sosa:Sensor .
          OPTIONAL { ?a <urn:p:absent> ?b }
        }
    """)
    rows = df.collect()
    assert len(rows) == 2 and all(r.b is None for r in rows)

    # 2. ORDER BY a WHERE-bound var dropped by SELECT still sorts
    df = execute_sparql(kb, """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?observation WHERE {
          ?observation a sosa:Observation ;
                       sosa:resultTime ?time .
        }
        ORDER BY DESC(?time) LIMIT 2
    """)
    assert [r.observation for r in df.collect()] == ["urn:obs:3", "urn:obs:2"]
    assert df.columns == ["observation"]
    # …but an out-of-scope key raises instead of silently not sorting
    with pytest.raises(ValueError, match="ORDER BY"):
        execute_sparql(kb, """
            SELECT (COUNT(*) as ?n) WHERE { ?s ?p ?o } ORDER BY ?p
        """).collect()

    # 3. SELECT * hides internal path columns
    df = execute_sparql(chain_kb, """
        SELECT * WHERE { ?a ex:partOf/rdfs:label ?l }
    """)
    assert df.columns == ["a", "l"]

    # 4. BIND onto a bound variable raises (was: silent overwrite)
    with pytest.raises(ValueError, match="already bound"):
        execute_sparql(kb, """
            SELECT ?s WHERE { ?s ?p ?o . BIND(<urn:x> AS ?s) }
        """)

    # 5. UNION with arm-local vars: unbound is compatible, not a
    # NULL-key join that drops everything
    df = execute_sparql(kb, """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?s ?label WHERE {
          ?s a sosa:Sensor .
          { ?s rdfs:label ?label } UNION { ?s a sosa:Sensor }
        }
    """)
    got = {(r.s, r.label) for r in df.collect()}
    assert ("urn:sensor:0", "marine sensor") in got
    assert ("urn:sensor:1", None) in got  # second arm, ?label unbound

    # 6. REGEX flags
    df = execute_sparql(kb, """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?s WHERE { ?s rdfs:label ?l . FILTER REGEX(?l, "MARINE", "i") }
    """)
    assert {r.s for r in df.collect()} == {"urn:sensor:0"}

    # 7. language subtags tokenize
    df = execute_sparql(kb, """
        SELECT ?s WHERE { ?s ?p "x"@en-US }
    """)
    assert df.count() == 0  # parses; no such literal

    # 8. CONSTRUCT keeps lang tags and GRAPH template scoping
    out = execute_sparql(kb, """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        CONSTRUCT { GRAPH <urn:g:copy> { ?s <urn:p:lbl> ?l } }
        WHERE { ?s rdfs:label ?l }
    """)
    rows = out.collect()
    assert {r.graph for r in rows} == {"urn:g:copy"}
    assert {r.obj_lang for r in rows} == {"en", "nl"}

    # 9. DELETE with a GRAPH-scoped template is not a silent no-op
    st = TripleStore(spark, str(tmp_path / "rstore"))
    st.append(spark.createDataFrame(
        [("s1", "p", "o", None, None, "g1", None),
         ("s1", "p", "o", None, None, "g2", None)], S.TRIPLES))
    r = execute_sparql_update(st, """
        DELETE { GRAPH <g1> { ?s ?p ?o } } WHERE { ?s ?p ?o }
    """)
    assert r["deleted"] == 1
    assert {x.graph for x in st.read().collect()} == {"g2"}

    # 10. trailing garbage rejected on every form
    for q in ["ASK { ?s ?p ?o } junk", "DESCRIBE <urn:x> ?v junk",
              "CONSTRUCT { ?s ?p ?o } WHERE { ?s ?p ?o } junk"]:
        with pytest.raises(ValueError):
            parse_sparql(q)


def test_group_concat_and_sample(kb):
    df = execute_sparql(kb, """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?s (GROUP_CONCAT(?label) AS ?labels) (SAMPLE(?label) AS ?one)
        WHERE { ?s rdfs:label ?label }
        GROUP BY ?s
    """)
    r = df.collect()[0]
    assert r.s == "urn:sensor:0"
    assert r.labels == "mariene sensor marine sensor"  # sorted, space-sep
    assert r.one == "mariene sensor"  # deterministic MIN


def test_sparql_updates(spark, tmp_path):
    """The reference's Updates examples verbatim
    (quick-reference.md:224-244) against a TripleStore."""
    from kgap_spark.query.sparql import execute_sparql_update
    from kgap_spark.triples import TripleStore

    store = TripleStore(spark, str(tmp_path / "ustore"))

    # Insert data (verbatim)
    r = execute_sparql_update(store, """
        PREFIX ex: <http://example.org/>
        INSERT DATA {
          ex:entity1 ex:property "value" .
        }
    """, default_graph="urn:g")
    assert r == {"inserted": 1}
    rows = store.read().collect()
    assert [(x.subj, x.pred, x.obj, x.graph) for x in rows] == [
        ("http://example.org/entity1", "http://example.org/property",
         "value", "urn:g")
    ]
    # idempotent re-insert (merge semantics)
    execute_sparql_update(store, """
        PREFIX ex: <http://example.org/>
        INSERT DATA { ex:entity1 ex:property "value" . }
    """, default_graph="urn:g")
    assert store.read().count() == 1

    # seed more data for the modify form
    execute_sparql_update(store, """
        PREFIX ex: <http://example.org/>
        INSERT DATA {
          ex:entity1 ex:oldProp "a" .
          ex:entity2 ex:oldProp "b" .
          GRAPH <urn:g2> { ex:entity3 ex:other "c" . }
        }
    """, default_graph="urn:g")
    assert store.read().count() == 4
    assert store.read_graph("urn:g2").count() == 1

    # Update (delete + insert) — verbatim
    r = execute_sparql_update(store, """
        PREFIX ex: <http://example.org/>
        DELETE { ?s ex:oldProp ?o }
        INSERT { ?s ex:newProp ?o }
        WHERE { ?s ex:oldProp ?o }
    """, default_graph="urn:g")
    assert r == {"deleted": 2, "inserted": 2}
    preds = {x.pred for x in store.read().collect()}
    assert "http://example.org/oldProp" not in preds
    assert "http://example.org/newProp" in preds

    # Delete data (verbatim)
    r = execute_sparql_update(store, """
        PREFIX ex: <http://example.org/>
        DELETE DATA {
          ex:entity1 ex:property "value" .
        }
    """)
    objs = {x.obj for x in store.read().collect()}
    assert "value" not in objs

    # DELETE WHERE shorthand
    execute_sparql_update(store, """
        PREFIX ex: <http://example.org/>
        DELETE WHERE { ?s ex:newProp ?o }
    """)
    assert {x.pred for x in store.read().collect()} == {
        "http://example.org/other"
    }


def test_parse_errors():
    with pytest.raises(ValueError, match="bad term"):
        parse_sparql("SELECT ?s WHERE { ?s ?p }")
    with pytest.raises(ValueError, match="trailing"):
        parse_sparql("SELECT ?s WHERE { ?s ?p ?o } BOGUS ?x")
    # round-4 grammar: loud failures for the unsupported corners
    with pytest.raises(ValueError, match="property paths"):
        parse_sparql("DELETE WHERE { ?s <p:a>+ ?o }")
    # round-5: DELETE WHERE rejects any non-quad pattern feature
    # loudly (previously only the empty-template case raised)
    with pytest.raises(ValueError, match="quad pattern"):
        parse_sparql("DELETE WHERE { FILTER(?x > 1) }")
    with pytest.raises(ValueError, match="quad pattern"):
        parse_sparql(
            "DELETE WHERE { ?s <p:a> ?o . OPTIONAL { ?s <p:b> ?x } }"
        )
    with pytest.raises(ValueError, match="quad pattern"):
        parse_sparql(
            "DELETE WHERE { GRAPH <g:a> { GRAPH <g:b> { ?s <p:a> ?o } } }"
        )
    with pytest.raises(ValueError, match="negated property set"):
        parse_sparql("SELECT ?s WHERE { ?s !(?v) ?o }")
    # round 6: (!p)+ is now supported (closure over the complement
    # edge set) — only the inverse-member mixed form stays rejected
    q = parse_sparql("SELECT ?s WHERE { ?s !<p:a>+ ?o }")
    from kgap_spark.query.patterns import PathNeg
    from kgap_spark.query.sparql import PathPlus
    (_, pred, _), = q.where.triples
    assert isinstance(pred, PathPlus) and isinstance(pred.pred, PathNeg)


def test_minus_and_subselect_parse_shapes():
    q = parse_sparql("""
        SELECT ?s WHERE {
          ?s <p:a> ?o .
          MINUS { ?s <p:b> ?x }
          { SELECT ?s WHERE { ?s <p:c> ?y } LIMIT 5 }
        }
    """)
    assert len(q.where.minus) == 1
    assert len(q.where.subselects) == 1
    assert q.where.subselects[0].limit == 5
    # negated path parses into a PathNeg predicate with both `a` forms
    from kgap_spark.query.patterns import PathNeg

    q2 = parse_sparql("SELECT ?s WHERE { ?s !(a|<p:x>) ?o }")
    (_, p, _), = q2.where.triples
    assert isinstance(p, PathNeg) and "p:x" in p.preds and len(p.preds) == 3


def test_graph_var_counts(kb):
    # ldes-consumer.md:330-336 — the per-feed accounting query, verbatim
    df = execute_sparql(kb, """
        # Count triples per named graph (per feed)
        SELECT ?graph (COUNT(*) as ?count)
        WHERE {
          GRAPH ?graph { ?s ?p ?o . }
        }
        GROUP BY ?graph
        ORDER BY DESC(?count)
    """)
    rows = [(r.graph, r["count"]) for r in df.collect()]
    assert rows == [("urn:g:obs", kb.count() - 1), ("urn:g:other", 1)]


def test_graph_var_same_graph_join(kb):
    # two patterns inside GRAPH ?g must come from the SAME graph, and
    # ?g joins into the enclosing solution like any other variable
    df = execute_sparql(kb, """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?g ?obs WHERE {
          GRAPH ?g {
            ?obs rdf:type sosa:Observation .
            ?obs sosa:hasResult ?r .
          }
        }
    """)
    got = {(r.g, r.obs) for r in df.collect()}
    # urn:obs:100 (urn:g:other) has no hasResult → excluded
    assert got == {("urn:g:obs", f"urn:obs:{i}") for i in range(4)}
    # a graph-var ASK with an outer constraint on ?g
    assert execute_sparql(kb, """
        SELECT ?g WHERE { GRAPH ?g { ?s a ?t } FILTER (?g = "urn:g:other") }
    """).distinct().count() == 1


def test_subselect_limit_early(kb):
    # advanced-topics.md:441-452 — the limit-early staging pattern,
    # verbatim (prefix declared; the doc assumes it in scope)
    df = execute_sparql(kb, """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        # Good: Limit before processing
        SELECT ?observation (COUNT(?property) AS ?propCount)
        WHERE {
          {
            SELECT ?observation
            WHERE {
              ?observation a sosa:Observation .
            }
            LIMIT 1000
          }
          ?observation ?property ?value .
        }
        GROUP BY ?observation
    """)
    got = {r.observation: r.propCount for r in df.collect()}
    assert got["urn:obs:0"] == 4
    assert got["urn:obs:3"] == 5  # extra rdf:type Sample
    assert got["urn:obs:100"] == 1


def test_subselect_limit_applied_before_join(kb):
    # a sub-select LIMIT 2 caps the join input, not the result: with 5
    # observations, only 2 survive
    df = execute_sparql(kb, """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?obs ?p ?v WHERE {
          { SELECT ?obs WHERE { ?obs a sosa:Observation } ORDER BY ?obs LIMIT 2 }
          ?obs ?p ?v .
        }
    """)
    assert {r.obs for r in df.collect()} == {"urn:obs:0", "urn:obs:1"}
    # the physical plan stages the limit BELOW the join (plan toString
    # lists children after parents): TakeOrderedAndProject(limit=2)
    # feeds the join's build side
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject(limit=2" in final and "Join" in final
    assert final.index("Join") < final.index("TakeOrderedAndProject")


def test_minus(kb):
    # MINUS removes compatible solutions …
    df = execute_sparql(kb, """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?s WHERE {
          ?s rdf:type sosa:Sensor .
          MINUS { ?s rdfs:label ?l }
        }
    """)
    assert [r.s for r in df.collect()] == ["urn:sensor:1"]
    # … but with disjoint domains removes NOTHING (unlike NOT EXISTS)
    df2 = execute_sparql(kb, """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?s WHERE {
          ?s rdf:type sosa:Sensor .
          MINUS { ?x a sosa:Observation }
        }
    """)
    assert df2.count() == 2


def test_negated_property_path(kb):
    # !rdf:type — every edge of sensor 0 except its type
    df = execute_sparql(kb, """
        SELECT ?p ?o WHERE { <urn:sensor:0> !a ?o . <urn:sensor:0> ?p ?o }
    """)
    assert {r.p for r in df.collect()} == {RDFS + "label"}
    # !(p1|p2) set form
    df2 = execute_sparql(kb, """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?o WHERE { <urn:obs:0> !(a|sosa:resultTime|sosa:hasResult) ?o }
    """)
    assert [r.o for r in df2.collect()] == ["urn:sensor:0"]


def test_optional_chain_unbound_compatible(spark):
    """A variable left unbound by one OPTIONAL then used as a join key
    by a later one must join with SPARQL's unbound-compatible
    semantics: the unbound row stays compatible with any binding."""
    rows = [
        ("urn:a", "p:name", "A", None, None, "urn:g", None),
        ("urn:b", "p:name", "B", None, None, "urn:g", None),
        # only a has a hub; both hubs have a city
        ("urn:a", "p:hub", "urn:hub1", None, None, "urn:g", None),
        ("urn:hub1", "p:city", "Ostend", None, None, "urn:g", None),
        ("urn:hub2", "p:city", "Brugge", None, None, "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(t, """
        SELECT ?s ?hub ?city WHERE {
          ?s <p:name> ?n .
          OPTIONAL { ?s <p:hub> ?hub }
          OPTIONAL { ?hub <p:city> ?city }
        }
    """)
    got = {(r.s, r.hub, r.city) for r in df.collect()}
    # urn:a: hub bound → city joins on it. urn:b: hub unbound → per
    # SPARQL compatibility the second OPTIONAL matches EVERY city row
    assert ("urn:a", "urn:hub1", "Ostend") in got
    assert ("urn:b", "urn:hub1", "Ostend") in got
    assert ("urn:b", "urn:hub2", "Brugge") in got
    assert len(got) == 3


def test_typed_literal_term_matching(kb):
    # pattern position: "…"@en matches ONLY the @en form
    df = execute_sparql(kb, """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?s WHERE { ?s rdfs:label "marine sensor"@en }
    """)
    assert [r.s for r in df.collect()] == ["urn:sensor:0"]
    assert execute_sparql(kb, """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?s WHERE { ?s rdfs:label "marine sensor"@fr }
    """).count() == 0
    # FILTER equality agrees with the pattern semantics
    df2 = execute_sparql(kb, """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?l WHERE { <urn:sensor:0> rdfs:label ?l
                          FILTER (?l = "mariene sensor"@nl) }
    """)
    assert df2.count() == 1
    assert execute_sparql(kb, """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?l WHERE { <urn:sensor:0> rdfs:label ?l
                          FILTER (?l = "mariene sensor"@en) }
    """).count() == 0


def test_delete_where_graph_scoped(spark, tmp_path):
    """ADVICE r3: DELETE WHERE { GRAPH <g> { … } } must delete the
    scoped triples, not silently no-op on an empty template."""
    from kgap_spark.query.sparql import execute_sparql_update
    from kgap_spark.triples.writer import TripleStore

    store = TripleStore(spark, str(tmp_path / "store"))
    rows = [
        ("urn:x", "p:v", "1", None, None, "urn:g:a", None),
        ("urn:y", "p:v", "2", None, None, "urn:g:b", None),
    ]
    store.merge(spark.createDataFrame(rows, S.TRIPLES))
    stats = execute_sparql_update(
        store, 'DELETE WHERE { GRAPH <urn:g:a> { ?s ?p ?o } }'
    )
    assert stats["deleted"] == 1
    left = store.read().select("subj", "graph").collect()
    assert [(r.subj, r.graph) for r in left] == [("urn:y", "urn:g:b")]
    # graph-VAR scoped delete: every named graph's matching rows go
    store.merge(spark.createDataFrame(rows[:1], S.TRIPLES))
    stats = execute_sparql_update(
        store, 'DELETE WHERE { GRAPH ?g { ?s <p:v> ?o } }'
    )
    assert stats["deleted"] == 2
    assert store.read().count() == 0


def test_arithmetic_expressions(kb):
    """SPARQL numeric operators in BIND/FILTER/aggregates, including
    the tokenizer's signed-number ambiguity (?x+1 lexes the sign into
    the NUM token) and unary minus."""
    df = execute_sparql(kb, """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?obs ?double WHERE {
          ?obs sosa:hasResult ?r .
          BIND(?r * 2 AS ?double)
          FILTER(?r + 10 <= 30)
        } ORDER BY ?obs
    """)
    rows = [(r.obs, r.double) for r in df.collect()]
    assert rows == [("urn:obs:0", 20.0), ("urn:obs:1", 40.0)]
    # no-space signed form + unary minus + division
    df2 = execute_sparql(kb, """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?obs WHERE {
          ?obs sosa:hasResult ?r .
          FILTER(?r/2 -5 = 5 || -?r = -40)
        } ORDER BY ?obs
    """)
    assert [r.obs for r in df2.collect()] == ["urn:obs:1", "urn:obs:3"]
    # aggregate over an expression; division by zero is unbound, not a crash
    df3 = execute_sparql(kb, """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT (SUM(?r * ?r) AS ?ss) (MAX(?r / 0) AS ?z) WHERE {
          ?obs sosa:hasResult ?r .
        }
    """)
    row = df3.collect()[0]
    assert row.ss == 100.0 + 400.0 + 900.0 + 1600.0
    assert row.z is None


def test_optional_filter_on_outer_variable(kb):
    """SPARQL LeftJoin(Ω1, Ω2, expr): an OPTIONAL's FILTER referencing
    an outer variable joins conditionally — previously the outer var
    read as NULL on the optional side and every binding vanished."""
    df = execute_sparql(kb, """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?obs ?r ?other ?r2 WHERE {
          ?obs sosa:hasResult ?r .
          OPTIONAL {
            ?other sosa:hasResult ?r2 .
            FILTER(?r2 > ?r)
          }
        }
    """)
    got = {(r.obs, r.other) for r in df.collect()}
    # obs:0 (r=10) pairs with the three larger results
    assert ("urn:obs:0", "urn:obs:1") in got
    assert ("urn:obs:0", "urn:obs:3") in got
    # obs:3 (r=40) has no larger result → survives with ?other unbound
    assert ("urn:obs:3", None) in got
    # filters over inner-only vars still prune before the join
    df2 = execute_sparql(kb, """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?s ?label WHERE {
          ?s rdf:type sosa:Sensor .
          OPTIONAL { ?s rdfs:label ?label FILTER(LANG(?label) = "nl") }
        }
    """)
    got2 = {(r.s, r.label) for r in df2.collect()}
    assert got2 == {("urn:sensor:0", "mariene sensor"),
                    ("urn:sensor:1", None)}


def test_filter_exists_positive(kb):
    """FILTER EXISTS → semi join (the positive twin of NOT EXISTS)."""
    df = execute_sparql(kb, """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?s WHERE {
          ?s rdf:type sosa:Sensor .
          FILTER EXISTS { ?s rdfs:label ?l }
        }
    """)
    assert [r.s for r in df.collect()] == ["urn:sensor:0"]


def test_values_undef(kb):
    """VALUES rows with UNDEF: the unbound cell matches anything
    (unbound-compatible join), bound cells constrain."""
    df = execute_sparql(kb, """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?obs ?sensor ?r WHERE {
          ?obs sosa:madeBySensor ?sensor ; sosa:hasResult ?r .
          VALUES (?sensor ?r) {
            (<urn:sensor:0> UNDEF)
            (UNDEF "20")
          }
        }
    """)
    got = {(r.obs, r.sensor) for r in df.collect()}
    # sensor:0 row matches its two observations regardless of result;
    # the UNDEF-sensor row matches the single r=20 observation
    assert got == {("urn:obs:0", "urn:sensor:0"),
                   ("urn:obs:2", "urn:sensor:0"),
                   ("urn:obs:1", "urn:sensor:1")}


def test_review_fixes_round4(spark, kb, tmp_path):
    """Regression pins for the round-4 code-review findings."""
    from kgap_spark.query.sparql import execute_sparql_update
    from kgap_spark.triples.writer import TripleStore

    # 1) tagged/typed literals in updates and templates (TypedLit must
    # never leak into string sinks)
    store = TripleStore(spark, str(tmp_path / "rf"))
    execute_sparql_update(store, '''
        INSERT DATA { GRAPH <urn:g> {
          <urn:s> <urn:name> "Paris"@en .
          <urn:s> <urn:pop> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .
        } }
    ''')
    rows = {(r.obj, r.obj_lang, r.obj_datatype) for r in store.read().collect()}
    assert ("Paris", "en", None) in rows
    assert ("42", None, "http://www.w3.org/2001/XMLSchema#integer") in rows
    execute_sparql_update(store, '''
        DELETE DATA { GRAPH <urn:g> { <urn:s> <urn:name> "Paris"@en . } }
    ''')
    assert store.read().count() == 1
    # CONSTRUCT with a tagged-literal constant in the template
    out = execute_sparql(kb, '''
        CONSTRUCT { ?s <urn:tagged> "ja"@nl } WHERE { ?s a <urn:x> }
    ''')
    assert out.count() == 0  # no match, but the plan must build

    # 2) sequence paths cannot slip through DELETE WHERE / templates
    with pytest.raises(ValueError, match="property paths"):
        parse_sparql("DELETE WHERE { ?s <urn:p1>/<urn:p2> ?o }")
    with pytest.raises(ValueError, match="property paths"):
        parse_sparql(
            "DELETE { ?s <urn:p1>/<urn:p2> ?o } WHERE { ?s ?p ?o }"
        )
    # 3) negated paths cannot slip into DATA blocks
    with pytest.raises(ValueError, match="ground"):
        parse_sparql("INSERT DATA { <urn:s> !<urn:p> <urn:o> . }")

    # 4) != against a tagged literal with an UNBOUND var drops the row
    # (same as the plain-literal path), while plain-vs-tagged is TRUE
    df = execute_sparql(kb, '''
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?s ?l WHERE {
          ?s rdf:type sosa:Sensor .
          OPTIONAL { ?s rdfs:label ?l }
          FILTER(?l != "marine sensor"@en)
        }
    ''')
    got = {(r.s, r.l) for r in df.collect()}
    # sensor:1's ?l is unbound → dropped; sensor:0's @nl label differs
    assert got == {("urn:sensor:0", "mariene sensor")}


def test_sparql11_builtins(kb):
    """IN/NOT IN, COALESCE, STRBEFORE/STRAFTER, REPLACE, SUBSTR,
    isIRI/isLiteral/isBlank, numeric ABS/ROUND/CEIL/FLOOR."""
    df = execute_sparql(kb, """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?obs WHERE {
          ?obs sosa:madeBySensor ?s .
          FILTER(?s IN (<urn:sensor:0>))
        } ORDER BY ?obs
    """)
    assert [r.obs for r in df.collect()] == ["urn:obs:0", "urn:obs:2"]
    df2 = execute_sparql(kb, """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?obs WHERE {
          ?obs sosa:madeBySensor ?s .
          FILTER(?s NOT IN (<urn:sensor:0>, <urn:sensor:9>))
        } ORDER BY ?obs
    """)
    assert [r.obs for r in df2.collect()] == ["urn:obs:1", "urn:obs:3"]
    # string builtins via BIND
    df3 = execute_sparql(kb, """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?b ?af ?rep ?sub WHERE {
          <urn:sensor:0> rdfs:label ?l . FILTER(LANG(?l) = "en")
          BIND(STRBEFORE(?l, " ") AS ?b)
          BIND(STRAFTER(?l, " ") AS ?af)
          BIND(REPLACE(?l, "mar[a-z]*", "SEA") AS ?rep)
          BIND(SUBSTR(?l, 1, 3) AS ?sub)
        }
    """)
    r = df3.collect()[0]
    assert (r.b, r.af, r.rep, r.sub) == ("marine", "sensor", "SEA sensor", "mar")
    # STRBEFORE/AFTER miss → empty string per SPARQL
    df4 = execute_sparql(kb, """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?b WHERE {
          <urn:sensor:0> rdfs:label ?l . FILTER(LANG(?l) = "en")
          BIND(STRBEFORE(?l, "zzz") AS ?b)
        }
    """)
    assert df4.collect()[0].b == ""
    # term-kind tests + COALESCE over an optional + numerics
    df5 = execute_sparql(kb, """
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?s ?lab ?isi ?isl WHERE {
          ?s rdf:type sosa:Sensor .
          OPTIONAL { ?s rdfs:label ?l FILTER(LANG(?l) = "en") }
          BIND(COALESCE(?l, "unlabeled") AS ?lab)
          BIND(ISIRI(?s) AS ?isi)
          BIND(ISLITERAL(?l) AS ?isl)
        } ORDER BY ?s
    """)
    rows = [(r.s, r.lab, r.isi, r.isl) for r in df5.collect()]
    assert rows == [("urn:sensor:0", "marine sensor", True, True),
                    ("urn:sensor:1", "unlabeled", True, None)]
    df6 = execute_sparql(kb, """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?f ?c ?r2 ?ab WHERE {
          <urn:obs:0> sosa:hasResult ?r .
          BIND(FLOOR(?r / 3) AS ?f)
          BIND(CEIL(?r / 3) AS ?c)
          BIND(ROUND(?r / 3) AS ?r2)
          BIND(ABS(0 - ?r) AS ?ab)
        }
    """)
    r = df6.collect()[0]
    assert (r.f, r.c, r.r2, r.ab) == (3.0, 4.0, 3.0, 10.0)


def test_review_fixes_round4_pass2(spark, kb):
    """Second review-pass pins: term-aware IN, template validation for
    the new group kinds, fn:round tie-break."""
    # IN respects lang tags and numeric value-comparison
    df = execute_sparql(kb, """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?l WHERE { <urn:sensor:0> rdfs:label ?l
                          FILTER(?l IN ("marine sensor"@en, "nope")) }
    """)
    assert [r.l for r in df.collect()] == ["marine sensor"]
    assert execute_sparql(kb, """
        PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
        SELECT ?l WHERE { <urn:sensor:0> rdfs:label ?l
                          FILTER(?l IN ("marine sensor"@fr)) }
    """).count() == 0
    # numeric item: "20" stored lexically must match IN (20.0)
    df2 = execute_sparql(kb, """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        SELECT ?obs WHERE { ?obs sosa:hasResult ?r FILTER(?r IN (20.0, 40)) }
        ORDER BY ?obs
    """)
    assert [r.obs for r in df2.collect()] == ["urn:obs:1", "urn:obs:3"]
    # round 6: variables in IN lists = the ORed = chain
    df_in = execute_sparql(
        kb, "SELECT ?x WHERE { ?x ?p ?o FILTER(?x IN (?o)) }"
    )
    assert df_in.count() == kb.filter("subj = obj").count()
    # FILTER EXISTS / MINUS / sub-selects cannot hide in templates or
    # DATA blocks (previously silently discarded)
    with pytest.raises(ValueError, match="only triples"):
        parse_sparql('INSERT DATA { <urn:s> <urn:p> "x" . '
                     'FILTER EXISTS { ?a ?b ?c } }')
    with pytest.raises(ValueError, match="only triples"):
        parse_sparql("CONSTRUCT { ?s <urn:p> ?o . "
                     "MINUS { ?s <urn:q> ?z } } WHERE { ?s ?p ?o }")
    # fn:round ties go toward +inf
    df3 = execute_sparql(kb, """
        SELECT ?a ?b WHERE {
          ?s ?p ?o . BIND(ROUND(0 - 2.5) AS ?a) BIND(ROUND(2.5) AS ?b)
        } LIMIT 1
    """)
    r = df3.collect()[0]
    assert (r.a, r.b) == (-2.0, 3.0)


# ---------------------------------------------------------------------------
# Round 5: property paths * / ? / ^ / |, GRAPH ?var composition lifts,
# MINUS textual ordering, term-aware VALUES.

def test_property_path_star(chain_kb):
    # zero-or-more from a constant: the node itself + the closure
    df = execute_sparql(chain_kb, """
        SELECT ?x WHERE { <urn:n:a> ex:partOf* ?x } ORDER BY ?x
    """)
    assert [r.x for r in df.collect()] == [
        "urn:n:a", "urn:n:b", "urn:n:c", "urn:n:d"
    ]
    # var-var: identity over every term in the graph + the closure
    # (5 distinct terms incl. the label literal, 6 reachable pairs)
    df2 = execute_sparql(
        chain_kb, "SELECT ?a ?b WHERE { ?a ex:partOf* ?b }"
    )
    assert df2.count() == 5 + 6
    # a constant endpoint not present in the graph still matches
    # itself (SPARQL 1.1 §18.4 ZeroLengthPath(term) = {(term, term)})
    df3 = execute_sparql(chain_kb, """
        SELECT ?x WHERE { <urn:n:zz> ex:partOf* ?x }
    """)
    assert [r.x for r in df3.collect()] == ["urn:n:zz"]


def test_property_path_zero_or_one(chain_kb):
    df = execute_sparql(chain_kb, """
        SELECT ?x WHERE { <urn:n:a> ex:partOf? ?x } ORDER BY ?x
    """)
    assert [r.x for r in df.collect()] == ["urn:n:a", "urn:n:b"]
    # sequence with a ? tail: c itself and its parent, then label —
    # only d carries one
    df2 = execute_sparql(chain_kb, """
        SELECT ?l WHERE { <urn:n:c> ex:partOf?/rdfs:label ?l }
    """)
    assert [r.l for r in df2.collect()] == ["the root"]


def test_property_path_inverse(chain_kb):
    df = execute_sparql(chain_kb, """
        SELECT ?x WHERE { <urn:n:c> ^ex:partOf ?x }
    """)
    assert [r.x for r in df.collect()] == ["urn:n:b"]
    # ^p+ = inverse of the closure: everything below d
    df2 = execute_sparql(chain_kb, """
        SELECT ?x WHERE { <urn:n:d> ^ex:partOf+ ?x } ORDER BY ?x
    """)
    assert [r.x for r in df2.collect()] == [
        "urn:n:a", "urn:n:b", "urn:n:c"
    ]
    # inverse inside a sequence: b's parent's label via ^ from d
    df3 = execute_sparql(chain_kb, """
        SELECT ?x WHERE { ?x ex:partOf/^ex:partOf ?x }
    """)
    # x -> parent -> back to x: every node with a parent
    assert sorted(r.x for r in df3.collect()) == [
        "urn:n:a", "urn:n:b", "urn:n:c"
    ]


def test_property_path_alternation(chain_kb):
    # bare alternation of simple IRIs
    df = execute_sparql(chain_kb, """
        SELECT ?o WHERE { <urn:n:c> ex:partOf|rdfs:label ?o }
    """)
    assert [r.o for r in df.collect()] == ["urn:n:d"]
    # parenthesized form
    df2 = execute_sparql(chain_kb, """
        SELECT ?o WHERE { <urn:n:d> (ex:partOf|rdfs:label) ?o }
    """)
    assert [r.o for r in df2.collect()] == ["the root"]
    # modified parenthesized alternation: (p1|p2)+ closure over the
    # union edge set reaches the label through the chain
    df3 = execute_sparql(chain_kb, """
        SELECT ?o WHERE { <urn:n:b> (ex:partOf|rdfs:label)+ ?o }
        ORDER BY ?o
    """)
    assert [r.o for r in df3.collect()] == [
        "the root", "urn:n:c", "urn:n:d"
    ]
    # bare alternation with a modified arm: a | (b+) per §9 precedence
    # (round 6 — previously a loud reject)
    df4 = execute_sparql(chain_kb, """
        SELECT ?o WHERE { <urn:n:b> rdfs:label|ex:partOf+ ?o }
        ORDER BY ?o
    """)
    assert [r.o for r in df4.collect()] == ["urn:n:c", "urn:n:d"]


def test_graph_var_transitive_path(spark):
    # per-graph closure: a path never crosses graph boundaries
    rows = []
    for g, chain in [("urn:g:1", ["a", "b", "c"]),
                     ("urn:g:2", ["x", "y"])]:
        for s, o in zip(chain, chain[1:]):
            rows.append((f"urn:n:{s}", "ex:partOf", f"urn:n:{o}",
                         None, None, g, None))
    kb2 = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(kb2, """
        SELECT ?g ?a ?b WHERE { GRAPH ?g { ?a ex:partOf+ ?b } }
        ORDER BY ?g ?a ?b
    """)
    assert [(r.g, r.a, r.b) for r in df.collect()] == [
        ("urn:g:1", "urn:n:a", "urn:n:b"),
        ("urn:g:1", "urn:n:a", "urn:n:c"),
        ("urn:g:1", "urn:n:b", "urn:n:c"),
        ("urn:g:2", "urn:n:x", "urn:n:y"),
    ]
    # edges split across graphs do NOT compose into a cross-graph hop
    rows2 = [
        ("urn:n:a", "ex:partOf", "urn:n:b", None, None, "urn:g:1", None),
        ("urn:n:b", "ex:partOf", "urn:n:c", None, None, "urn:g:2", None),
    ]
    kb3 = spark.createDataFrame(rows2, S.TRIPLES)
    df2 = execute_sparql(kb3, """
        SELECT ?g ?a ?b WHERE { GRAPH ?g { ?a ex:partOf+ ?b } }
        ORDER BY ?g ?a ?b
    """)
    assert [(r.g, r.a, r.b) for r in df2.collect()] == [
        ("urn:g:1", "urn:n:a", "urn:n:b"),
        ("urn:g:2", "urn:n:b", "urn:n:c"),
    ]
    # star inside GRAPH ?var: zero-length identity is per named graph
    df3 = execute_sparql(kb3, """
        SELECT ?g ?x WHERE { GRAPH ?g { <urn:n:a> ex:partOf* ?x } }
        ORDER BY ?g ?x
    """)
    assert [(r.g, r.x) for r in df3.collect()] == [
        ("urn:g:1", "urn:n:a"), ("urn:g:1", "urn:n:b"),
        ("urn:g:2", "urn:n:a"),
    ]


def test_graph_var_subselect(kb):
    # sub-SELECT inside GRAPH ?var: aggregates are per named graph
    df = execute_sparql(kb, """
        SELECT ?g ?n WHERE {
          GRAPH ?g { { SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o } } }
        } ORDER BY ?g
    """)
    from pyspark.sql import functions as F

    per_graph = {
        r.graph: r.n
        for r in kb.groupBy("graph").agg(F.count("*").alias("n")).collect()
    }
    assert [(r.g, r.n) for r in df.collect()] == sorted(
        per_graph.items()
    )
    # ORDER/LIMIT inside the scope applies PER GRAPH, not globally
    df2 = execute_sparql(kb, """
        SELECT ?g ?s WHERE {
          GRAPH ?g {
            { SELECT ?s WHERE { ?s ?p ?o } ORDER BY ?s LIMIT 1 }
          }
        } ORDER BY ?g
    """)
    assert [(r.g, r.s) for r in df2.collect()] == [
        ("urn:g:obs", "urn:obs:0"), ("urn:g:other", "urn:obs:100"),
    ]


def test_minus_textual_order(spark):
    """SPARQL folds MINUS at its textual position (left-to-right group
    translation): a MINUS written before an OPTIONAL that binds one of
    the MINUS pattern's variables must NOT see that variable as
    shared."""
    rows = [
        ("urn:s:0", "rdf:type", "ex:Sensor", None, None, "urn:g", None),
        ("urn:s:1", "rdf:type", "ex:Sensor", None, None, "urn:g", None),
        ("urn:s:0", "ex:nick", "nicky", None, None, "urn:g", None),
        ("urn:s:0", "rdfs:label", "marine sensor", None, None, "urn:g",
         None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(t, """
        SELECT ?s ?l WHERE {
          ?s a ex:Sensor .
          MINUS { ?s rdfs:label ?l }
          OPTIONAL { ?s ex:nick ?l }
        } ORDER BY ?s
    """)
    # at the MINUS point the domain is {?s} → labeled urn:s:0 is
    # removed; binding ?l via the LATER optional (to "nicky", which
    # differs from the label) must not shield it
    assert [(r.s, r.l) for r in df.collect()] == [("urn:s:1", None)]


def test_values_tagged_literal_term_matching(kb):
    # VALUES with @lang matches the exact RDF term
    df = execute_sparql(kb, f"""
        PREFIX rdfs: <{RDFS}>
        SELECT ?s ?l WHERE {{
          ?s rdfs:label ?l .
          VALUES ?l {{ "marine sensor"@en }}
        }}
    """)
    assert [(r.s, r.l) for r in df.collect()] == [
        ("urn:sensor:0", "marine sensor")
    ]
    # wrong language tag matches nothing (previously matched
    # lexically)
    df2 = execute_sparql(kb, f"""
        PREFIX rdfs: <{RDFS}>
        SELECT ?s WHERE {{
          ?s rdfs:label ?l .
          VALUES ?l {{ "marine sensor"@nl }}
        }}
    """)
    assert df2.count() == 0
    # mixed rows: each row matches its own term
    df3 = execute_sparql(kb, f"""
        PREFIX rdfs: <{RDFS}>
        SELECT ?l WHERE {{
          ?s rdfs:label ?l .
          VALUES ?l {{ "mariene sensor"@nl "nope"@en }}
        }}
    """)
    assert [r.l for r in df3.collect()] == ["mariene sensor"]
    # ^^xsd:string (undeclared well-known prefix) = plain term; a
    # typed datatype the store lacks matches nothing
    df4 = execute_sparql(kb, """
        SELECT ?r WHERE {
          ?s <http://www.w3.org/ns/sosa/hasResult> ?r .
          VALUES ?r { "10"^^xsd:string }
        }
    """)
    assert [r.r for r in df4.collect()] == ["10"]
    df5 = execute_sparql(kb, """
        SELECT ?r WHERE {
          ?s <http://www.w3.org/ns/sosa/hasResult> ?r .
          VALUES ?r { "10"^^xsd:integer }
        }
    """)
    assert df5.count() == 0
    # plain-literal rows keep the documented lexical divergence
    df6 = execute_sparql(kb, f"""
        PREFIX rdfs: <{RDFS}>
        SELECT ?s WHERE {{
          ?s rdfs:label ?l . VALUES ?l {{ "marine sensor" }}
        }}
    """)
    assert df6.count() == 1


def test_values_only_group_carries_meta(kb):
    # a var bound ONLY by VALUES keeps its row's @lang as the meta
    # binding — LANG() reads it
    df = execute_sparql(kb, """
        SELECT ?l WHERE {
          VALUES ?l { "a"@en "b" }
          FILTER(LANG(?l) = "en")
        }
    """)
    assert [r.l for r in df.collect()] == ["a"]


def test_path_same_var_both_ends(chain_kb):
    # ?x p ?x with a path predicate: must loop back, not crash on a
    # duplicate column (found driving the store end-to-end)
    df = execute_sparql(chain_kb, """
        SELECT ?x WHERE { ?x ex:partOf+ ?x }
    """)
    assert df.count() == 0  # the chain is acyclic
    df2 = execute_sparql(chain_kb, """
        SELECT ?x WHERE { ?x ex:partOf* ?x } ORDER BY ?x
    """)
    # zero-length: every term loops to itself
    assert df2.count() == 5


def test_concept_ancestors_template(spark):
    """The shipped skos:broader* ancestor-closure template runs
    through QueryTemplates (round-5 property-path surface)."""
    from kgap_spark import schemas as S
    from kgap_spark.query.templates import QueryTemplates

    SKOS = "http://www.w3.org/2004/02/skos/core#"
    rows = [
        ("urn:c:leaf", SKOS + "broader", "urn:c:mid", None, None,
         "urn:g", None),
        ("urn:c:mid", SKOS + "broader", "urn:c:root", None, None,
         "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    qt = QueryTemplates(spark, "queries", triples=t)
    df = qt.execute_to_df("concept_ancestors", limit=100)
    got = {(r.concept, r.ancestor) for r in df.collect()}
    # closure pairs + zero-length identity over the three terms
    assert ("urn:c:leaf", "urn:c:root") in got
    assert ("urn:c:leaf", "urn:c:mid") in got
    assert ("urn:c:mid", "urn:c:mid") in got
    assert len(got) == 3 + 3


# ---------------------------------------------------------------------------
# Round-5 code-review regressions.

def test_minus_before_values_textual_order(spark):
    """A MINUS written before a VALUES block must not see the VALUES
    variables as shared (SPARQL 1.1 §8.3.3 folds left-to-right): the
    domains are disjoint at the MINUS point, so nothing is removed."""
    rows = [
        ("urn:s:0", "ex:p", "x", None, None, "urn:g", None),
        ("urn:y:0", "ex:q", "1", None, None, "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(t, """
        SELECT ?s ?v WHERE {
          ?s ex:p ?x .
          MINUS { ?y ex:q ?v }
          VALUES ?v { "1" }
        }
    """)
    assert [(r.s, r.v) for r in df.collect()] == [("urn:s:0", "1")]
    # written AFTER the VALUES, the same MINUS shares ?v and removes
    df2 = execute_sparql(t, """
        SELECT ?s ?v WHERE {
          ?s ex:p ?x .
          VALUES ?v { "1" }
          MINUS { ?y ex:q ?v }
        }
    """)
    assert df2.count() == 0


def test_graph_var_named_like_path_internals(spark):
    """GRAPH variables named a/b/n (or path endpoints reusing the
    graph var) must not collide with the path compiler's internal
    columns."""
    rows = [
        ("urn:n:x", "ex:p", "urn:n:y", None, None, "urn:g:1", None),
        ("urn:n:y", "ex:p", "urn:n:z", None, None, "urn:g:1", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    for gv in ("a", "b", "n"):
        df = execute_sparql(t, f"""
            SELECT ?{gv} ?x ?y
            WHERE {{ GRAPH ?{gv} {{ ?x ex:p+ ?y }} }} ORDER BY ?x ?y
        """)
        assert df.count() == 3, gv
    # star with a graph var named like the identity column
    df2 = execute_sparql(t, """
        SELECT ?n ?x WHERE { GRAPH ?n { <urn:n:x> ex:p* ?x } }
    """)
    assert df2.count() == 3  # x itself + y + z, all in urn:g:1
    # reserved-prefix guard stays loud
    with pytest.raises(ValueError, match="reserved"):
        execute_sparql(t, """
            SELECT * WHERE { GRAPH ?__path_g { ?x ex:p+ ?y } }
        """)


def test_graph_var_as_path_endpoint(spark):
    """GRAPH ?g { ?g ex:p+ ?o }: the endpoint is the graph variable —
    constrained, not duplicated."""
    rows = [
        # graph IRI urn:g:1 is also a subject inside its own graph
        ("urn:g:1", "ex:p", "urn:n:y", None, None, "urn:g:1", None),
        ("urn:n:a", "ex:p", "urn:n:b", None, None, "urn:g:2", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(t, """
        SELECT ?g ?o WHERE { GRAPH ?g { ?g ex:p+ ?o } }
    """)
    assert [(r.g, r.o) for r in df.collect()] == [("urn:g:1", "urn:n:y")]


def test_path_star_literal_endpoint_identity(spark):
    """ZeroLengthPath(term) = {(term, term)} for literal endpoints
    too, even when the literal is absent from the graph."""
    rows = [("urn:s", "ex:p", "o1", None, None, "urn:g", None)]
    t = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(t, """
        SELECT ?a WHERE { ?a ex:p* "active" }
    """)
    assert [r.a for r in df.collect()] == ["active"]


def test_values_fills_unbound_with_meta(spark):
    """A tagged VALUES row that fills a maybe-unbound binding brings
    its @lang along — LANG() on the coalesced value sees the tag."""
    rows = [
        ("urn:s:0", "ex:p", "x", None, None, "urn:g", None),
        ("urn:s:1", "ex:p", "y", None, None, "urn:g", None),
        ("urn:s:1", "rdfs:label", "hallo", "nl", None, "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(t, """
        SELECT ?s ?l WHERE {
          ?s ex:p ?x .
          OPTIONAL { ?s rdfs:label ?l }
          VALUES ?l { "fallback"@en "hallo"@nl }
          FILTER(LANG(?l) = "en")
        } ORDER BY ?s
    """)
    # s:0 had ?l unbound → filled with "fallback"@en (tag carried);
    # s:1's bound "hallo"@nl fails the @en filter
    assert [(r.s, r.l) for r in df.collect()] == [("urn:s:0", "fallback")]


def test_bare_alternation_rejects_non_iris():
    with pytest.raises(ValueError, match="members must be IRIs"):
        parse_sparql("SELECT * WHERE { ?s ?p|<p:q> ?o }")
    with pytest.raises(ValueError, match="members must be IRIs"):
        parse_sparql('SELECT * WHERE { ?s <p:q>|"lit" ?o }')


def test_bind_values_before_patterns(spark):
    """Pass-2 review regression: elements that textually precede every
    pattern fold onto the unit table {μ0} instead of raising."""
    rows = [("urn:s", "ex:p", "o", None, None, "urn:g", None)]
    t = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(t, """
        SELECT * WHERE { BIND(1 AS ?x) VALUES ?y { "a" } }
    """)
    assert [(r.x, r.y) for r in df.collect()] == [(1.0, "a")]
    # OPTIONAL-first group: P's solutions when P matches
    df2 = execute_sparql(t, """
        SELECT ?s WHERE { OPTIONAL { ?s ex:p ?o } VALUES ?o { "o" } }
    """)
    assert [r.s for r in df2.collect()] == ["urn:s"]
    # OPTIONAL-first over an empty pattern: the μ0 row survives,
    # variable unbound
    df3 = execute_sparql(t, """
        SELECT ?z WHERE { OPTIONAL { ?z ex:nope ?o } }
    """)
    assert [r.z for r in df3.collect()] == [None]
    # BIND-only group: one extended solution
    df4 = execute_sparql(t, "SELECT ?x WHERE { BIND(2 AS ?x) }")
    assert [r.x for r in df4.collect()] == [2.0]


def test_values_fill_creates_missing_meta(spark):
    """Pass-2 review regression: the VALUES meta-fill creates the
    meta columns when df lacks them (subject-position vars), so
    LANG() still sees the filling row's tag."""
    rows = [
        ("urn:s:0", "ex:p", "x", None, None, "urn:g", None),
        ("urn:l:1", "ex:q", "urn:s:1", None, None, "urn:g", None),
        ("urn:s:1", "ex:p", "y", None, None, "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(t, """
        SELECT ?s ?l WHERE {
          ?s ex:p ?x .
          OPTIONAL { ?l ex:q ?s }
          VALUES ?l { "v"@en "urn:l:1" }
          FILTER(LANG(?l) = "en")
        } ORDER BY ?s
    """)
    # s:0 had ?l unbound -> filled with "v"@en (meta created);
    # s:1's bound urn:l:1 is an IRI -> untagged -> filtered out
    assert [(r.s, r.l) for r in df.collect()] == [("urn:s:0", "v")]


def test_partial_key_join_carries_meta(spark):
    """A variable left unbound by an OPTIONAL and bound by a later
    triples block or OPTIONAL takes that binding's @lang / ^^datatype
    along with its value — the same rule VALUES follows."""
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [
        ("s1", "u:q", "x", None, None, "urn:g", None),
        ("s1", "u:r", "chat", "fr", None, "urn:g", None),
        ("s2", "u:q", "x", None, None, "urn:g", None),
        ("s2", "u:p", "cat", "en", None, "urn:g", None),
        ("s2", "u:r", "cat", "en", None, "urn:g", None),
        ("s3", "u:q", "x", None, None, "urn:g", None),
        ("s3", "u:r", "7", None, xsd_int, "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    for last in ("?s <u:r> ?o", "OPTIONAL { ?s <u:r> ?o }"):
        df = execute_sparql(t, f"""
            SELECT ?s ?o (LANG(?o) AS ?l) (DATATYPE(?o) AS ?d) WHERE {{
              ?s <u:q> ?x OPTIONAL {{ ?s <u:p> ?o }} {last}
            }} ORDER BY ?s
        """)
        got = [(r.s, r.o, r.l, r.d) for r in df.collect()]
        assert [g[:3] for g in got] == [
            ("s1", "chat", "fr"), ("s2", "cat", "en"), ("s3", "7", ""),
        ], last
        assert got[2][3] == xsd_int, last


def test_filter_exists_without_shared_variables(spark):
    """With no shared variable, FILTER EXISTS keeps every solution when
    the sub-pattern has one and none when it has none; FILTER NOT
    EXISTS keeps them only when it has none."""
    rows = [
        ("urn:s:0", "ex:p", "x", None, None, "urn:g", None),
        ("urn:s:1", "ex:p", "y", None, None, "urn:g", None),
        ("urn:a", "ex:q", "b", None, None, "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    both = ["urn:s:0", "urn:s:1"]
    for pred, exists, not_exists in (("ex:q", both, []),
                                      ("ex:none", [], both)):
        for form, want in (("EXISTS", exists), ("NOT EXISTS", not_exists)):
            df = execute_sparql(t, f"""
                SELECT ?s WHERE {{
                  ?s ex:p ?o FILTER {form} {{ ?a {pred} ?b }}
                }} ORDER BY ?s
            """)
            assert [r.s for r in df.collect()] == want, (form, pred)


def test_string_escapes_decode_uchar_and_echar(spark):
    """String literals and the GROUP_CONCAT separator decode SPARQL's
    UCHAR (\\u, \\U) and ECHAR (\\b, \\f, …) escapes."""
    q = parse_sparql(
        r'SELECT * WHERE { ?s ?p "caf\u00e9 \U0001F600\b\f\t\"\\" }'
    )
    assert q.where.triples[0][2].value == "caf\u00e9 \U0001F600\b\f\t\"\\"
    agg = parse_sparql(
        r'SELECT (GROUP_CONCAT(?o; SEPARATOR="\u00b7") AS ?c) '
        r'WHERE { ?s ?p ?o }'
    )
    assert agg.projections[0][0].sep == "\u00b7"
    t = spark.createDataFrame(
        [("urn:s", "ex:p", "caf\u00e9", None, None, "urn:g", None)],
        S.TRIPLES,
    )
    df = execute_sparql(t, r'SELECT ?s WHERE { ?s ex:p "caf\u00e9" }')
    assert [r.s for r in df.collect()] == ["urn:s"]


def test_langmatches_strlang_strdt(kb):
    # LANGMATCHES: prefix matching per RFC 4647 basic filtering
    df = execute_sparql(kb, f"""
        PREFIX rdfs: <{RDFS}>
        SELECT ?l WHERE {{
          ?s rdfs:label ?l . FILTER(LANGMATCHES(LANG(?l), "en"))
        }}
    """)
    assert [r.l for r in df.collect()] == ["marine sensor"]
    # "*" matches any tagged literal
    df2 = execute_sparql(kb, f"""
        PREFIX rdfs: <{RDFS}>
        SELECT ?l WHERE {{
          ?s rdfs:label ?l . FILTER(LANGMATCHES(LANG(?l), "*"))
        }} ORDER BY ?l
    """)
    assert df2.count() == 2
    # en-US matches range "en"
    df3 = execute_sparql(kb, """
        SELECT ?ok WHERE {
          BIND(LANGMATCHES("en-US", "en") AS ?ok)
        }
    """)
    assert [r.ok for r in df3.collect()] == [True]
    # STRLANG constructs a tagged literal: LANG() reads the tag
    df4 = execute_sparql(kb, """
        SELECT ?tag WHERE {
          BIND(STRLANG("chat", "fr") AS ?w)
          BIND(LANG(?w) AS ?tag)
        }
    """)
    assert [r.tag for r in df4.collect()] == ["fr"]
    # STRDT with an undeclared well-known prefix datatype
    df5 = execute_sparql(kb, """
        SELECT ?dt WHERE {
          BIND(STRDT("5", xsd:integer) AS ?n)
          BIND(DATATYPE(?n) AS ?dt)
        }
    """)
    assert [r.dt for r in df5.collect()] == [
        "http://www.w3.org/2001/XMLSchema#integer"
    ]


def test_group_concat_separator(kb):
    df = execute_sparql(kb, f"""
        PREFIX rdfs: <{RDFS}>
        SELECT (GROUP_CONCAT(?l; SEPARATOR=", ") AS ?labels) WHERE {{
          <urn:sensor:0> rdfs:label ?l .
        }}
    """)
    assert [r.labels for r in df.collect()] == [
        "mariene sensor, marine sensor"
    ]
    with pytest.raises(ValueError, match="SEPARATOR"):
        parse_sparql(
            'SELECT (GROUP_CONCAT(?l; BOGUS="x") AS ?c) WHERE { ?s ?p ?l }'
        )


def test_describe_var_where(kb):
    """DESCRIBE ?x WHERE { … }: resources selected by pattern — the
    GraphDB-documented form alongside DESCRIBE <iri>."""
    df = execute_sparql(kb, """
        PREFIX sosa: <http://www.w3.org/ns/sosa/>
        DESCRIBE ?s WHERE { ?s a sosa:Sensor }
    """)
    rows = df.collect()
    subs = {r.subj for r in rows if r.subj.startswith("urn:sensor:")}
    assert subs == {"urn:sensor:0", "urn:sensor:1"}
    # triples where the sensor appears as OBJECT are included too
    assert any(r.obj in ("urn:sensor:0", "urn:sensor:1") for r in rows)
    with pytest.raises(ValueError, match="not bound"):
        execute_sparql(kb, "DESCRIBE ?nope WHERE { ?s ?p ?o }")


def test_negated_property_set_inverse_members(spark):
    """!(p|^q) = forward-NPS ∪ inverse-NPS (SPARQL 1.1 §9.1)."""
    rows = [
        ("urn:a", "ex:p", "urn:b", None, None, "urn:g", None),
        ("urn:a", "ex:r", "urn:c", None, None, "urn:g", None),
        ("urn:d", "ex:q", "urn:a", None, None, "urn:g", None),
        ("urn:e", "ex:s", "urn:a", None, None, "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    # forward: a -> c via ex:r (a -> b is via the EXCLUDED ex:p);
    # inverse: a -> e via incoming ex:s (incoming ex:q excluded)
    df = execute_sparql(t, """
        SELECT ?x WHERE { <urn:a> !(ex:p|^ex:q) ?x } ORDER BY ?x
    """)
    assert [r.x for r in df.collect()] == ["urn:c", "urn:e"]


def test_negated_property_set_inverse_only(spark):
    rows = [
        ("urn:d", "ex:q", "urn:a", None, None, "urn:g", None),
        ("urn:e", "ex:s", "urn:a", None, None, "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    # !(^ex:q): incoming edges whose pred is NOT ex:q
    df = execute_sparql(t, """
        SELECT ?x WHERE { <urn:a> !(^ex:q) ?x }
    """)
    assert [r.x for r in df.collect()] == ["urn:e"]


def test_strlang_strdt_term_semantics(kb):
    """Pass-3 review regressions: constant STRLANG/STRDT fold into
    tagged literals (term-aware everywhere), tags never attach to
    unbound values, and arity/SEPARATOR misuse fails at parse."""
    # FILTER(?l = STRLANG(...)) behaves exactly like ?l = "..."@en
    df = execute_sparql(kb, f"""
        PREFIX rdfs: <{RDFS}>
        SELECT ?s WHERE {{
          ?s rdfs:label ?l .
          FILTER(?l = STRLANG("marine sensor", "en"))
        }}
    """)
    assert [r.s for r in df.collect()] == ["urn:sensor:0"]
    df2 = execute_sparql(kb, f"""
        PREFIX rdfs: <{RDFS}>
        SELECT ?s WHERE {{
          ?s rdfs:label ?l .
          FILTER(?l = STRLANG("marine sensor", "nl"))
        }}
    """)
    assert df2.count() == 0
    # BIND of a plain tagged literal carries its tag too
    df3 = execute_sparql(kb, """
        SELECT ?t WHERE { BIND("chat"@fr AS ?w) BIND(LANG(?w) AS ?t) }
    """)
    assert [r.t for r in df3.collect()] == ["fr"]
    # STRLANG over an unbound value: binding stays unbound, no tag
    df4 = execute_sparql(kb, """
        SELECT ?w ?t WHERE {
          ?s <urn:p:none> ?m .
        } LIMIT 1
    """)
    assert df4.count() == 0  # no such triples; now the OPTIONAL form:
    df5 = execute_sparql(kb, """
        SELECT ?w ?t WHERE {
          ?s a ?type .
          OPTIONAL { ?s <urn:p:none> ?m }
          BIND(STRLANG(?m, "fr") AS ?w)
          BIND(LANG(?w) AS ?t)
        } LIMIT 1
    """)
    r = df5.collect()[0]
    assert r.w is None and r.t == ""
    # arity + misuse fail loudly at parse time
    with pytest.raises(ValueError, match="2 arguments"):
        parse_sparql('SELECT ?x WHERE { BIND(STRDT("5") AS ?x) }')
    with pytest.raises(ValueError, match="only valid in GROUP_CONCAT"):
        parse_sparql(
            'SELECT (SUM(?x; SEPARATOR=",") AS ?s) WHERE { ?a ?p ?x }'
        )


def test_parenthesized_sequence_paths(chain_kb):
    """(p1/p2) under a modifier closes over the COMPOSED edge
    relation; bare (p1/p2) and inverse steps work too."""
    # two-hop composed relation: a ->(partOf/partOf) c
    df = execute_sparql(chain_kb, """
        SELECT ?x WHERE { <urn:n:a> (ex:partOf/ex:partOf) ?x }
    """)
    assert [r.x for r in df.collect()] == ["urn:n:c"]
    # closure of the two-hop relation: a -> c (1 app); a -> nothing
    # further (c->e would need e); b -> d
    df2 = execute_sparql(chain_kb, """
        SELECT ?a ?b WHERE { ?a (ex:partOf/ex:partOf)+ ?b }
        ORDER BY ?a ?b
    """)
    assert [(r.a, r.b) for r in df2.collect()] == [
        ("urn:n:a", "urn:n:c"), ("urn:n:b", "urn:n:d"),
    ]
    # inverse step inside the sequence: sibling-ish hop up-then-down
    # (x partOf y, z partOf y) => x (partOf/^partOf) z includes x=z
    df3 = execute_sparql(chain_kb, """
        SELECT ?z WHERE { <urn:n:a> (ex:partOf/^ex:partOf) ?z }
    """)
    assert [r.z for r in df3.collect()] == ["urn:n:a"]
    # star over a composed relation includes identity
    df4 = execute_sparql(chain_kb, """
        SELECT ?x WHERE { <urn:n:a> (ex:partOf/ex:partOf)* ?x }
        ORDER BY ?x
    """)
    assert [r.x for r in df4.collect()] == ["urn:n:a", "urn:n:c"]
    # single inverse element in parens
    df5 = execute_sparql(chain_kb, """
        SELECT ?x WHERE { <urn:n:c> (^ex:partOf) ?x }
    """)
    assert [r.x for r in df5.collect()] == ["urn:n:b"]


def test_bare_sequence_parens_bag_semantics(spark):
    """Pass-4 review regression: (p1/p2) is pure grouping — identical
    to p1/p2 (bag semantics, duplicates via distinct intermediates
    preserved); only +/*/? close over the composed set relation."""
    rows = [
        ("urn:a", "ex:p1", "urn:m1", None, None, "urn:g", None),
        ("urn:a", "ex:p1", "urn:m2", None, None, "urn:g", None),
        ("urn:m1", "ex:p2", "urn:c", None, None, "urn:g", None),
        ("urn:m2", "ex:p2", "urn:c", None, None, "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    plain = execute_sparql(
        t, "SELECT ?x WHERE { <urn:a> ex:p1/ex:p2 ?x }"
    )
    parens = execute_sparql(
        t, "SELECT ?x WHERE { <urn:a> (ex:p1/ex:p2) ?x }"
    )
    assert plain.count() == parens.count() == 2
    # under +, the closure IS set-semantics: one (a, c) pair
    closed = execute_sparql(
        t, "SELECT ?x WHERE { <urn:a> (ex:p1/ex:p2)+ ?x }"
    )
    assert closed.count() == 1
    # ^(p1/p2) == (^p2/^p1)
    inv = execute_sparql(
        t, "SELECT ?x WHERE { <urn:c> ^(ex:p1/ex:p2) ?x }"
    )
    assert [r.x for r in inv.collect()] == ["urn:a", "urn:a"]
    # DATA blocks reject multi-step sequence paths (the splice's
    # fresh variable trips the ground check)…
    with pytest.raises(ValueError, match="ground"):
        parse_sparql("INSERT DATA { <urn:a> (<urn:p>/<urn:q>) <urn:b> }")
    # …while a single inverse element splices to the exactly-
    # equivalent reversed ground triple (b p a)
    u = parse_sparql("INSERT DATA { <urn:a> (^<urn:p>) <urn:b> }")
    assert u.data == [("urn:b", "urn:p", "urn:a", None)]


# ---------------------------------------------------------------------------
# deep-closure fixpoint (round-6: the engine previously truncated
# transitive paths at 12 hops silently — VERDICT r5 "What's wrong" #1)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def deep_chain_kb(spark):
    """A 50-link skos:broader-style chain — far deeper than any fixed
    per-hop bound; the reference's concept-hierarchy feeds are exactly
    this shape (docs/advanced-topics.md:226-277)."""
    rows = [
        (f"urn:d:{i}", "ex:broader", f"urn:d:{i + 1}",
         None, None, "urn:g", None)
        for i in range(50)
    ]
    return spark.createDataFrame(rows, S.TRIPLES)


def test_deep_chain_const_start_full_closure(deep_chain_kb):
    df = execute_sparql(
        deep_chain_kb, "SELECT ?x WHERE { <urn:d:0> ex:broader+ ?x }"
    )
    got = sorted(r.x for r in df.collect())
    assert len(got) == 50
    assert "urn:d:50" in got  # the 50-hop tail is reached


def test_deep_chain_var_var_full_closure(deep_chain_kb):
    df = execute_sparql(
        deep_chain_kb, "SELECT ?x ?y WHERE { ?x ex:broader+ ?y }"
    )
    # all ordered pairs (i, j) with i < j: 50*51/2
    assert df.count() == 1275
    assert df.filter(
        "x = 'urn:d:0' and y = 'urn:d:50'"
    ).count() == 1


def test_deep_chain_star_includes_zero_length(deep_chain_kb):
    df = execute_sparql(
        deep_chain_kb, "SELECT ?x WHERE { <urn:d:0> ex:broader* ?x }"
    )
    assert df.count() == 51  # closure + the start itself


def test_deep_cycle_closure_terminates(spark):
    """A 20-cycle: fixpoint must terminate (anti-join early-exit) and
    return the complete 20x20 closure — every node reaches every
    node including itself."""
    rows = [
        (f"urn:c:{i}", "ex:p", f"urn:c:{(i + 1) % 20}",
         None, None, "urn:g", None)
        for i in range(20)
    ]
    kb = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(kb, "SELECT ?x ?y WHERE { ?x ex:p+ ?y }")
    assert df.count() == 400


# ---------------------------------------------------------------------------
# composite path alternation (round 6): (p1/p2)|p3, ^p|q, p+|q
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def alt_kb(spark):
    rows = [
        ("a", "p1", "m"), ("m", "p2", "c"), ("a", "p3", "d"),
        ("x", "q", "a"), ("a", "r", "a2"), ("a2", "r", "a3"),
    ]
    return spark.createDataFrame(
        [(s, p, o, None, None, "urn:g", None) for s, p, o in rows],
        S.TRIPLES,
    )


def _vals(df):
    return sorted(tuple(r) for r in df.collect())


def test_alternation_sequence_arm(alt_kb):
    df = execute_sparql(
        alt_kb, "SELECT ?x WHERE { <a> (<p1>/<p2>)|<p3> ?x }"
    )
    assert _vals(df) == [("c",), ("d",)]


def test_alternation_inverse_arm(alt_kb):
    df = execute_sparql(alt_kb, "SELECT ?x WHERE { <a> ^<q>|<p3> ?x }")
    assert _vals(df) == [("d",), ("x",)]


def test_alternation_closure_arm(alt_kb):
    df = execute_sparql(alt_kb, "SELECT ?x WHERE { <a> <r>+|<p3> ?x }")
    assert _vals(df) == [("a2",), ("a3",), ("d",)]
    # star arm includes the zero-length identity
    df = execute_sparql(alt_kb, "SELECT ?x WHERE { <a> <r>*|<p3> ?x }")
    assert _vals(df) == [("a",), ("a2",), ("a3",), ("d",)]


def test_alternation_precedence_seq_binds_tighter(alt_kb):
    # ^q/p3|r  ==  (^q/p3)|r  per SPARQL 1.1 §9 precedence
    df = execute_sparql(alt_kb, "SELECT ?x WHERE { <a> ^<q>/<p3>|<r> ?x }")
    assert _vals(df) == [("a2",)]


def test_alternation_var_var(alt_kb):
    df = execute_sparql(
        alt_kb, "SELECT ?s ?x WHERE { ?s (<p1>/<p2>)|<q> ?x }"
    )
    assert _vals(df) == [("a", "c"), ("x", "a")]


def test_alternation_simple_fast_path_unchanged(alt_kb):
    # all-simple arms still compile to one isin scan, not a union
    q = parse_sparql("SELECT ?x WHERE { <a> <p3>|<r> ?x }")
    (s, p, o), = q.where.triples
    assert isinstance(p, tuple) and set(p) == {"p3", "r"}


def test_alternation_rejects_remain(alt_kb):
    # NPS arms are legal since round 6 and compile to PathAlt
    from kgap_spark.query.sparql import PathAlt

    q = parse_sparql("SELECT ?x WHERE { <a> !<p1>|<p3> ?x }")
    (_, p, _), = q.where.triples
    assert isinstance(p, PathAlt)
    with pytest.raises(ValueError, match="IRIs"):
        parse_sparql("SELECT ?x WHERE { <a> (<p1>/<p2>)|?v ?x }")


def test_lucene_inside_graph_var(spark):
    """luc: search inside GRAPH ?var (round 6 — restriction lifted):
    per-graph document keys, per-graph TF scores, graph bound as the
    variable."""
    rows = [
        ("urn:e:1", "rdfs:label", "marine sensor data", "en", None,
         "urn:g:one", None),
        ("urn:e:1", "rdfs:label", "marine marine", "en", None,
         "urn:g:two", None),
        ("urn:e:2", "rdfs:label", "terrestrial sensor", "en", None,
         "urn:g:one", None),
    ]
    kb = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(kb, """
        PREFIX luc: <http://www.ontotext.com/owlim/lucene#>
        SELECT ?g ?entity ?score WHERE {
          GRAPH ?g { ?entity luc:searchIndex "marine" ;
                             luc:score ?score . }
        } ORDER BY ?g
    """)
    got = [(r.g, r.entity, r.score) for r in df.collect()]
    # e1 matches once in g:one (tf=1) and twice in g:two (tf=2)
    assert got == [("urn:g:one", "urn:e:1", 1.0),
                   ("urn:g:two", "urn:e:1", 2.0)]
    # the same search under a shared-graph join restricts both
    # patterns to one graph
    df2 = execute_sparql(kb, """
        PREFIX luc: <http://www.ontotext.com/owlim/lucene#>
        SELECT ?g ?entity WHERE {
          GRAPH ?g { ?entity luc:searchIndex "sensor" .
                     ?entity rdfs:label ?l . }
        }
    """)
    assert sorted((r.g, r.entity) for r in df2.collect()) == [
        ("urn:g:one", "urn:e:1"), ("urn:g:one", "urn:e:2"),
    ]


def test_in_list_with_variables(alt_kb):
    # ?x IN (?y, const) == the ORed = chain (round 6 — was a reject)
    df = execute_sparql(alt_kb, """
        SELECT ?s ?o WHERE { ?s <r> ?o
          FILTER(?o IN (?s, "a3")) }
    """)
    assert _vals(df) == [("a2", "a3")]


def test_modified_negated_property_set(alt_kb):
    # (!q)+ — closure over every edge whose predicate is not excluded
    df = execute_sparql(alt_kb, "SELECT ?o WHERE { <a> !<q>+ ?o }")
    # from a: p1→m (then p2→c), p3→d, r→a2 (then r→a3); q excluded
    assert _vals(df) == [("a2",), ("a3",), ("c",), ("d",), ("m",)]


def test_modified_mixed_negated_property_set(spark):
    """!(p|^q)+ — closure over the §9.1 union edge relation: forward
    edges whose predicate avoids the forward set ∪ swapped edges
    whose predicate avoids the inverse set (round 6: was the last
    modified-NPS loud reject)."""
    rows = [
        ("urn:a", "ex:r", "urn:b", None, None, "urn:g", None),
        ("urn:b", "ex:p", "urn:c", None, None, "urn:g", None),
        ("urn:c", "ex:q", "urn:d", None, None, "urn:g", None),
        ("urn:d", "ex:s", "urn:b", None, None, "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    # edges: a→b (r fwd), b→a (r inv), c→b (p inv), c→d (q fwd),
    # d→b (s fwd), b→d (s inv); from a: b, then a (cycle) and d
    df = execute_sparql(t, """
        SELECT ?x WHERE { <urn:a> !(ex:p|^ex:q)+ ?x } ORDER BY ?x
    """)
    assert [r.x for r in df.collect()] == ["urn:a", "urn:b", "urn:d"]
    # ? form: zero-length start plus the one-hop mixed edges
    df2 = execute_sparql(t, """
        SELECT ?x WHERE { <urn:c> !(ex:p|^ex:q)? ?x } ORDER BY ?x
    """)
    assert [r.x for r in df2.collect()] == ["urn:b", "urn:c", "urn:d"]
    # inverse-only member set under a closure: swapped edges only
    df3 = execute_sparql(t, """
        SELECT ?x WHERE { <urn:c> !(^ex:q)+ ?x } ORDER BY ?x
    """)
    assert [r.x for r in df3.collect()] == ["urn:a", "urn:b", "urn:d"]


def test_negated_set_in_path_alternation(spark):
    """!(p)|q — an NPS alternation arm (round 6: was a parser
    reject). §18.4 bag semantics: the NPS arm yields one row per
    matching TRIPLE (parallel differently-labelled edges count
    twice), and a triple matching both arms counts once per arm."""
    rows = [
        ("urn:s", "ex:r1", "urn:o", None, None, "urn:g", None),
        ("urn:s", "ex:r2", "urn:o", None, None, "urn:g", None),
        ("urn:s", "ex:p", "urn:o", None, None, "urn:g", None),
        ("urn:s", "ex:q", "urn:x", None, None, "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(t, """
        SELECT ?o WHERE { <urn:s> !(ex:p)|ex:q ?o } ORDER BY ?o
    """)
    # NPS arm: r1, r2, q triples (p excluded) -> o, o, x;
    # ex:q arm: x again -> multiset {o:2, x:2}
    assert [r.o for r in df.collect()] == ["urn:o", "urn:o",
                                           "urn:x", "urn:x"]
    # mixed-set arm and inverse arm compose too
    df2 = execute_sparql(t, """
        SELECT ?z WHERE { <urn:o> !(^ex:p)|^ex:q ?z } ORDER BY ?z
    """)
    # !(^p) from o: incoming r1/r2 edges -> s, s; ^q from o: none
    assert [r.z for r in df2.collect()] == ["urn:s", "urn:s"]


def test_nested_alternation_in_alternation_arm(spark):
    """(p|p)|q — a non-disjoint inner alternation is a PathAlt node,
    not an isin literal; the outer alternation must union it per-arm
    (was: crashed converting the PathAlt dataclass to a Column).
    §18.4 multiset: p-edges twice (inner repeat), q-edges once."""
    rows = [
        ("urn:s", "ex:p", "urn:o1", None, None, "urn:g", None),
        ("urn:s", "ex:q", "urn:o2", None, None, "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(t, """
        SELECT ?o WHERE { <urn:s> (ex:p|ex:p)|ex:q ?o } ORDER BY ?o
    """)
    assert [r.o for r in df.collect()] == ["urn:o1", "urn:o1",
                                           "urn:o2"]
    # both arms nested non-disjoint: p×2 + q×2
    df2 = execute_sparql(t, """
        SELECT ?o WHERE { <urn:s> (ex:p|ex:p)|(ex:q|ex:q) ?o }
        ORDER BY ?o
    """)
    assert [r.o for r in df2.collect()] == ["urn:o1", "urn:o1",
                                            "urn:o2", "urn:o2"]


def test_nested_alternation_in_sequence_arm(spark):
    """(p|p)/q|r — alternation binds loosest (§19.8 PathAlternative ≫
    PathSequence), so this is ((p|p)/q) | r: a PathAlt as an ELEMENT
    of a sequence arm goes through _arm_rel's recursion; inner
    multiplicity carries through the junction join."""
    rows = [
        ("urn:s", "ex:p", "urn:m", None, None, "urn:g", None),
        ("urn:m", "ex:q", "urn:o1", None, None, "urn:g", None),
        ("urn:s", "ex:r", "urn:o2", None, None, "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(t, """
        SELECT ?o WHERE { <urn:s> (ex:p|ex:p)/ex:q|ex:r ?o }
        ORDER BY ?o
    """)
    # sequence arm: s→m twice, each →o1; r arm: o2 once
    assert [r.o for r in df.collect()] == ["urn:o1", "urn:o1",
                                           "urn:o2"]


def test_string_literal_quote_forms(alt_kb):
    # single-quoted and long (triple-quoted) literal forms (§19.8)
    from kgap_spark.query.sparql import parse_sparql as pq

    assert pq("SELECT ?o WHERE { ?s ?p 'b' }").where.triples[0][2].value == "b"
    assert pq("SELECT ?o WHERE { ?s ?p '''it's ok''' }") \
        .where.triples[0][2].value == "it's ok"
    assert pq('SELECT ?o WHERE { ?s ?p """a "q" b""" }') \
        .where.triples[0][2].value == 'a "q" b'
    assert pq("SELECT ?o WHERE { ?s ?p 'chat'@fr }") \
        .where.triples[0][2].lang == "fr"
    # content ending in quote(s) adjacent to the closing delimiter —
    # the grammar permits 1-2 content quotes before the final """ (the
    # LAST three quotes terminate, like Python triple-quotes)
    assert pq('SELECT ?o WHERE { ?s ?p """a"""" }') \
        .where.triples[0][2].value == 'a"'
    assert pq('SELECT ?o WHERE { ?s ?p """a""""" }') \
        .where.triples[0][2].value == 'a""'
    assert pq("SELECT ?o WHERE { ?s ?p '''it is'''' }") \
        .where.triples[0][2].value == "it is'"
    assert pq('SELECT ?o WHERE { ?s ?p """""" }') \
        .where.triples[0][2].value == ""


def test_builtin_hash_date_functions(spark):
    """Round 6: MD5/SHA*, ENCODE_FOR_URI, and the §17.4.5 date
    accessors — the accessors extract LEXICALLY so a tz-suffixed
    literal keeps its own timezone's components (a timestamp cast
    would shift them to session time)."""
    import hashlib

    rows = [
        ("urn:e", "ex:ts", "2024-03-05T10:20:30.5+05:00", None,
         "xsd:dateTime", "urn:g", None),
        ("urn:e", "ex:name", "café *", None, None, "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(t, """
        SELECT ?y ?mo ?d ?h ?mi ?s ?tz WHERE {
          <urn:e> ex:ts ?t .
          BIND(YEAR(?t) AS ?y) BIND(MONTH(?t) AS ?mo)
          BIND(DAY(?t) AS ?d) BIND(HOURS(?t) AS ?h)
          BIND(MINUTES(?t) AS ?mi) BIND(SECONDS(?t) AS ?s)
          BIND(TZ(?t) AS ?tz)
        }
    """)
    r, = df.collect()
    assert (r.y, r.mo, r.d, r.h, r.mi, r.s, r.tz) == \
        (2024, 3, 5, 10, 20, 30.5, "+05:00")
    df2 = execute_sparql(t, """
        SELECT ?hash ?sha ?enc ?tz2 WHERE {
          <urn:e> ex:name ?n .
          BIND(MD5(?n) AS ?hash) BIND(SHA256(?n) AS ?sha)
          BIND(ENCODE_FOR_URI(?n) AS ?enc) BIND(TZ(?n) AS ?tz2)
        }
    """)
    r2, = df2.collect()
    raw = "café *".encode()
    assert r2.hash == hashlib.md5(raw).hexdigest()
    assert r2.sha == hashlib.sha256(raw).hexdigest()
    assert r2.enc == "caf%C3%A9%20%2A"
    assert r2.tz2 == ""  # non-dateTime literal carries no offset


def test_builtin_term_ctor_and_nondeterministic(spark):
    """IRI/URI, isNumeric (datatype-aware), and the zero-arg builtins
    NOW/UUID/STRUUID/BNODE/RAND (round 6)."""
    import re

    rows = [
        ("urn:e", "ex:n", "12", None, "xsd:integer", "urn:g", None),
        ("urn:e", "ex:s", "12", None, None, "urn:g", None),
        ("urn:e", "ex:u", "urn:x", None, None, "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(t, """
        SELECT ?v ?num WHERE {
          ?s ?p ?v . BIND(ISNUMERIC(?v) AS ?num)
        } ORDER BY ?p
    """)
    got = [(r.v, r.num) for r in df.collect()]
    # typed 12 -> numeric; bare "12" string -> NOT numeric (datatype
    # meta rides along); IRI -> not numeric
    assert got == [("12", True), ("12", False), ("urn:x", False)]
    df2 = execute_sparql(t, """
        SELECT ?i ?now ?u ?su ?b ?r WHERE {
          <urn:e> ex:u ?x .
          BIND(IRI(STR(?x)) AS ?i) BIND(NOW() AS ?now)
          BIND(UUID() AS ?u) BIND(STRUUID() AS ?su)
          BIND(BNODE() AS ?b) BIND(RAND() AS ?r)
        }
    """)
    r2, = df2.collect()
    assert r2.i == "urn:x"
    assert re.match(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}", r2.now)
    assert r2.u.startswith("urn:uuid:") and len(r2.su) == 36
    assert r2.b.startswith("_:") and 0.0 <= r2.r < 1.0
    # BNODE(str) is stable per label
    df3 = execute_sparql(t, """
        SELECT ?b1 ?b2 WHERE {
          <urn:e> ex:u ?x .
          BIND(BNODE("k") AS ?b1) BIND(BNODE("k") AS ?b2)
        }
    """)
    r3, = df3.collect()
    assert r3.b1 == r3.b2 and r3.b1.startswith("_:")
    # …but DISTINCT across solution mappings (§17.4.2.9): equal args
    # in different rows must NOT merge into one blank node
    df4 = execute_sparql(t, """
        SELECT ?b WHERE { ?s ?p ?v . BIND(BNODE("k") AS ?b) }
    """)
    labels = [r.b for r in df4.collect()]
    assert len(labels) == 3 and len(set(labels)) == 3
    # nullary form is only legal for NOW/UUID/STRUUID/RAND/BNODE —
    # arg-requiring builtins reject at parse time
    with pytest.raises(ValueError, match="STRLEN"):
        execute_sparql(t, "SELECT ?s WHERE { ?s ?p ?o "
                          "FILTER(STRLEN() > 3) }")
    # nullary COALESCE() is grammatical and yields unbound
    df5 = execute_sparql(t, """
        SELECT ?c WHERE { <urn:e> ex:u ?x . BIND(COALESCE() AS ?c) }
    """)
    assert [r.c for r in df5.collect()] == [None]


def test_having_general_expressions(spark):
    """§11.1 HAVING widened past `<aggregate> <op> <number>`: boolean
    combinations, group keys, agg-vs-agg comparisons, and functions
    all compile through the shared FILTER machinery (each Agg node is
    lifted into a hidden aggregate column)."""
    rows = []
    for g, vals in (("urn:a", [1, 2, 3]), ("urn:b", [10]),
                    ("urn:c", [4, 4])):
        for i, v in enumerate(vals):
            rows.append((g, "ex:v", str(v), None,
                         "http://www.w3.org/2001/XMLSchema#integer",
                         "urn:g", None))
    t = spark.createDataFrame(rows, S.TRIPLES)
    # boolean conjunction of two aggregates
    df = execute_sparql(t, """
        SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ex:v ?v }
        GROUP BY ?s HAVING (SUM(?v) > 5 && COUNT(*) >= 2)
        ORDER BY ?s
    """)
    assert [(r.s, r.n) for r in df.collect()] == [("urn:a", 3),
                                                  ("urn:c", 2)]
    # group key in HAVING, disjunction
    df2 = execute_sparql(t, """
        SELECT ?s WHERE { ?s ex:v ?v }
        GROUP BY ?s HAVING (?s = <urn:b> || MIN(?v) > 3)
        ORDER BY ?s
    """)
    assert [r.s for r in df2.collect()] == ["urn:b", "urn:c"]
    # aggregate vs aggregate
    df3 = execute_sparql(t, """
        SELECT ?s WHERE { ?s ex:v ?v }
        GROUP BY ?s HAVING (MAX(?v) > AVG(?v))
        ORDER BY ?s
    """)
    assert [r.s for r in df3.collect()] == ["urn:a"]
    # negation + function over a group key
    df4 = execute_sparql(t, """
        SELECT ?s WHERE { ?s ex:v ?v }
        GROUP BY ?s HAVING (!(COUNT(*) = 2) && CONTAINS(STR(?s), "urn"))
        ORDER BY ?s
    """)
    assert [r.s for r in df4.collect()] == ["urn:a", "urn:b"]
    # HAVING without GROUP BY: implicit single group
    df5 = execute_sparql(t, """
        SELECT (COUNT(*) AS ?n) WHERE { ?s ex:v ?v }
        HAVING (COUNT(*) > 100)
    """)
    assert df5.collect() == []


def test_group_by_expression_and_projection_expression(spark):
    """§18.2.4.4 / §19.8 GroupCondition: GROUP BY (expr AS ?var)
    materializes the computed key before grouping, and non-aggregate
    projection expressions over group keys compile post-aggregation
    (SELECT (UCASE(?g) AS ?u) … GROUP BY ?g — was a loud reject)."""
    rows = [
        ("urn:a", "ex:v", "Apple", None, None, "urn:g", None),
        ("urn:a", "ex:v", "avocado", None, None, "urn:g", None),
        ("urn:b", "ex:v", "Banana", None, None, "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    # computed group key: group by the UPPERCASED first letter
    df = execute_sparql(t, """
        SELECT ?k (COUNT(*) AS ?n)
        WHERE { ?s ex:v ?o }
        GROUP BY (UCASE(SUBSTR(?o, 1, 1)) AS ?k)
        ORDER BY ?k
    """)
    assert [(r.k, r.n) for r in df.collect()] == [("A", 2), ("B", 1)]
    # projection expression over a plain group key
    df2 = execute_sparql(t, """
        SELECT (UCASE(STR(?s)) AS ?u) (COUNT(*) AS ?n)
        WHERE { ?s ex:v ?o }
        GROUP BY ?s ORDER BY ?u
    """)
    assert [(r.u, r.n) for r in df2.collect()] == [("URN:A", 2),
                                                   ("URN:B", 1)]
    # computed key referenced by projection expression AND aggregate
    df3 = execute_sparql(t, """
        SELECT (CONCAT("k=", ?k) AS ?label) (COUNT(?k) AS ?n)
        WHERE { ?s ex:v ?o }
        GROUP BY (STRLEN(?o) AS ?k)
        ORDER BY ?label
    """)
    got = [(r.label, r.n) for r in df3.collect()]
    assert got == [("k=5", 1), ("k=6", 1), ("k=7", 1)]
    # a projection expression using a NON-grouped variable stays loud
    with pytest.raises(ValueError, match="GROUP BY"):
        execute_sparql(t, """
            SELECT (UCASE(?o) AS ?u) WHERE { ?s ex:v ?o } GROUP BY ?s
        """)


def test_group_by_without_any_aggregate(spark):
    """Valid GROUP BY with no aggregate anywhere — keys-only
    projection, and HAVING over group keys only — must return the
    distinct keys, not crash (Spark's GroupedData.agg() asserts on an
    empty aggregate list; review finding, round 6)."""
    rows = [
        ("urn:a", "ex:v", "x", None, None, "urn:g", None),
        ("urn:a", "ex:v", "y", None, None, "urn:g", None),
        ("urn:b", "ex:v", "z", None, None, "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(
        t, "SELECT ?s WHERE { ?s ex:v ?o } GROUP BY ?s ORDER BY ?s")
    assert [r.s for r in df.collect()] == ["urn:a", "urn:b"]
    # HAVING over the group key only (no aggregate to lift)
    df2 = execute_sparql(t, """
        SELECT ?s WHERE { ?s ex:v ?o }
        GROUP BY ?s HAVING (STRLEN(STR(?s)) > 2 && ?s != "urn:b")
    """)
    assert [r.s for r in df2.collect()] == ["urn:a"]
    # computed keys-only grouping
    df3 = execute_sparql(t, """
        SELECT ?k WHERE { ?s ex:v ?o }
        GROUP BY (UCASE(?o) AS ?k) ORDER BY ?k
    """)
    assert [r.k for r in df3.collect()] == ["X", "Y", "Z"]


def test_group_by_as_onto_bound_variable_raises(spark):
    """GROUP BY (expr AS ?v) onto an in-scope variable is forbidden
    (§18.2.4.1, same rule as BIND) — silently overwriting would
    fabricate groups (review finding, round 6)."""
    rows = [("urn:a", "ex:v", "x", None, None, "urn:g", None)]
    t = spark.createDataFrame(rows, S.TRIPLES)
    with pytest.raises(ValueError, match="already bound"):
        execute_sparql(t, """
            SELECT ?o WHERE { ?s ex:v ?o } GROUP BY (STRLEN(?o) AS ?o)
        """)


def test_concat_and_if_builtins(spark):
    """CONCAT (§17.4.3.12, variadic) and IF (§17.4.1.2) in the text
    front-end — both previously missing (the F4/F5 operators were
    DataFrame-API-only). IF's error condition yields unbound, not the
    else branch."""
    rows = [
        ("urn:a", "ex:v", "5", None, None, "urn:g", None),
        ("urn:b", "ex:v", "15", None, None, "urn:g", None),
        ("urn:c", "ex:w", "x", None, None, "urn:g", None),
    ]
    t = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(t, """
        SELECT ?s (CONCAT("v=", ?o, "!") AS ?c)
               (IF(?o > 10, "big", "small") AS ?sz)
        WHERE { ?s ex:v ?o } ORDER BY ?s
    """)
    assert [(r.c, r.sz) for r in df.collect()] == [
        ("v=5!", "small"), ("v=15!", "big")]
    # IF over an ERROR condition (unbound var comparison) → unbound,
    # NOT the else branch; CONCAT with an unbound arg → unbound
    df2 = execute_sparql(t, """
        SELECT ?s ?m (IF(?m > 0, "y", "n") AS ?i)
               (CONCAT("p", ?m) AS ?c)
        WHERE { ?s ex:w ?o OPTIONAL { ?s ex:missing ?m } }
    """)
    r, = df2.collect()
    assert (r.m, r.i, r.c) == (None, None, None)


def test_graph_management_updates(spark, tmp_path):
    """SPARQL 1.1 Update §3.2 graph management: CLEAR/DROP/CREATE/
    COPY/MOVE/ADD/LOAD over the store."""
    from kgap_spark.query.sparql import execute_sparql_update
    from kgap_spark.triples import TripleStore

    st = TripleStore(spark, str(tmp_path / "store"))

    def seed(rows):
        st.merge(spark.createDataFrame(
            [(s, p, o, None, None, g, None) for s, p, o, g in rows],
            S.TRIPLES))

    def graphs():
        return {r.graph for r in st.read().select("graph")
                .distinct().collect()}

    def content(g):
        return {(r.subj, r.obj) for r in st.read_graph(g).collect()}

    seed([("a", "p", "1", "urn:g:1"), ("b", "p", "2", "urn:g:1"),
          ("c", "p", "3", "urn:g:2")])

    # COPY replaces dst exactly (pre-seeding dst to prove the clear)
    seed([("old", "p", "9", "urn:g:dst")])
    r = execute_sparql_update(st, "COPY GRAPH <urn:g:1> TO GRAPH <urn:g:dst>")
    assert r["noop"] is False
    assert content("urn:g:dst") == {("a", "1"), ("b", "2")}
    assert content("urn:g:1") == {("a", "1"), ("b", "2")}  # src intact

    # COPY onto itself: no-op
    assert execute_sparql_update(
        st, "COPY GRAPH <urn:g:1> TO GRAPH <urn:g:1>")["noop"] is True

    # ADD merges (set semantics: re-adding is idempotent)
    execute_sparql_update(st, "ADD GRAPH <urn:g:2> TO GRAPH <urn:g:dst>")
    execute_sparql_update(st, "ADD GRAPH <urn:g:2> TO GRAPH <urn:g:dst>")
    assert content("urn:g:dst") == {("a", "1"), ("b", "2"), ("c", "3")}

    # MOVE: dst := src, src dropped
    execute_sparql_update(st, "MOVE GRAPH <urn:g:2> TO GRAPH <urn:g:moved>")
    assert content("urn:g:moved") == {("c", "3")}
    assert "urn:g:2" not in graphs()

    # COPY/MOVE/ADD from an absent graph: loud, SILENT degrades to no-op
    with pytest.raises(ValueError, match="does not exist"):
        execute_sparql_update(st, "COPY GRAPH <urn:g:nope> TO GRAPH <urn:g:1>")
    assert execute_sparql_update(
        st, "ADD SILENT GRAPH <urn:g:nope> TO GRAPH <urn:g:1>")["noop"]
    assert content("urn:g:1") == {("a", "1"), ("b", "2")}

    # CREATE: error on existing, SILENT ok, new ok (validation-only)
    with pytest.raises(ValueError, match="already exists"):
        execute_sparql_update(st, "CREATE GRAPH <urn:g:1>")
    execute_sparql_update(st, "CREATE SILENT GRAPH <urn:g:1>")
    execute_sparql_update(st, "CREATE GRAPH <urn:g:fresh>")

    # CLEAR one graph; CLEAR of an absent graph succeeds; DROP of an
    # absent graph is loud unless SILENT
    execute_sparql_update(st, "CLEAR GRAPH <urn:g:moved>")
    assert "urn:g:moved" not in graphs()
    execute_sparql_update(st, "CLEAR GRAPH <urn:g:moved>")
    with pytest.raises(ValueError, match="no such graph"):
        execute_sparql_update(st, "DROP GRAPH <urn:g:moved>")
    execute_sparql_update(st, "DROP SILENT GRAPH <urn:g:moved>")

    # DEFAULT needs default_graph
    with pytest.raises(ValueError, match="default_graph"):
        execute_sparql_update(st, "CLEAR DEFAULT")
    execute_sparql_update(st, "CLEAR DEFAULT", default_graph="urn:g:dst")
    assert "urn:g:dst" not in graphs()

    # CLEAR ALL empties the store
    execute_sparql_update(st, "CLEAR ALL")
    assert graphs() == set()


def test_graph_management_load(spark, tmp_path):
    """LOAD <doc> [INTO GRAPH <g>]: bulk import through the format
    dispatch; SILENT turns a missing/undecodable document into a
    no-op success."""
    from kgap_spark.query.sparql import execute_sparql_update
    from kgap_spark.triples import TripleStore

    st = TripleStore(spark, str(tmp_path / "store"))
    doc = tmp_path / "data.nt"
    doc.write_text(
        '<urn:s:1> <urn:p:name> "alpha" .\n'
        '<urn:s:2> <urn:p:name> "beta" .\n'
    )
    r = execute_sparql_update(
        st, f"LOAD <file://{doc}> INTO GRAPH <urn:g:loaded>")
    assert r["loaded"] is True
    got = {(x.subj, x.obj) for x in st.read_graph("urn:g:loaded").collect()}
    assert got == {("urn:s:1", "alpha"), ("urn:s:2", "beta")}

    # idempotent re-LOAD (merge dedup)
    execute_sparql_update(
        st, f"LOAD <file://{doc}> INTO GRAPH <urn:g:loaded>")
    assert st.read_graph("urn:g:loaded").count() == 2

    # without INTO: needs default_graph
    with pytest.raises(ValueError, match="default_graph"):
        execute_sparql_update(st, f"LOAD <file://{doc}>")
    execute_sparql_update(st, f"LOAD <file://{doc}>",
                          default_graph="urn:g:dflt")
    assert st.read_graph("urn:g:dflt").count() == 2

    # unknown extension is loud; SILENT suppresses load failures —
    # but only DOCUMENT failures: the default graph must still resolve
    # (config errors escape the SILENT net, see review-fixes test)
    with pytest.raises(ValueError, match="cannot infer"):
        execute_sparql_update(st, "LOAD <file:///nope.bin>",
                              default_graph="urn:g:dflt")
    assert execute_sparql_update(
        st, "LOAD SILENT <file:///missing.nt>",
        default_graph="urn:g:dflt")["loaded"] is False


def test_graph_management_parse_rejects(spark, tmp_path):
    from kgap_spark.query.sparql import parse_sparql

    # a WELL-KNOWN undeclared prefix expands to an any-of tuple —
    # ambiguous as a graph IDENTITY (a project-specific compact pname
    # like g:1 stays compact and IS a valid exact name)
    with pytest.raises(ValueError, match="undeclared prefix"):
        parse_sparql("CLEAR GRAPH rdf:stmts")
    assert parse_sparql("CLEAR GRAPH g:1").src == "g:1"
    with pytest.raises(ValueError, match="expected GRAPH"):
        parse_sparql("COPY NAMED TO GRAPH <urn:g:1>")
    with pytest.raises(ValueError, match="GRAPH"):
        parse_sparql("CREATE DEFAULT")


def test_graph_management_review_fixes(spark, tmp_path):
    """Round-6 review-pass pins: atomic MOVE / single-commit CLEAR ALL,
    DROP DEFAULT never fails (§3.2.2 ≡ CLEAR),
    bare-IRI GraphOrDefault (the spec's own COPY example), LOAD SILENT
    not swallowing config errors, and bare keyword terms."""
    from kgap_spark.query.sparql import (execute_sparql_update,
                                         parse_sparql)
    from kgap_spark.triples import TripleStore

    st = TripleStore(spark, str(tmp_path / "s"))
    rows = [("a", "p", "1", None, None, "urn:g:1", None),
            ("b", "p", "2", None, None, "urn:g:2", None)]
    st.merge(spark.createDataFrame(rows, S.TRIPLES))       # v1

    # MOVE = ONE commit (no intermediate both-graphs-populated state)
    v = st.current_version()
    execute_sparql_update(st, "MOVE GRAPH <urn:g:1> TO GRAPH <urn:g:2>")
    assert st.current_version() == v + 1
    assert st.snapshots()[-1]["operation"] == "move-graph"
    assert st.graphs() == ["urn:g:2"]
    assert {r.subj for r in st.read().collect()} == {"a"}

    # bare-IRI GraphOrDefault parses (SPARQL 1.1 Update §3.2.3 example)
    u = parse_sparql("COPY DEFAULT TO <http://example.org/named>")
    from kgap_spark.query.sparql import REF_DEFAULT
    assert u.src == REF_DEFAULT and u.dst == "http://example.org/named"
    assert parse_sparql("MOVE <urn:a> TO <urn:b>").src == "urn:a"

    # DROP DEFAULT on an empty default graph succeeds (≡ CLEAR DEFAULT)
    r = execute_sparql_update(st, "DROP DEFAULT",
                              default_graph="urn:g:absent")
    assert r["graphs"] == []

    # CLEAR ALL = ONE commit dropping every graph
    execute_sparql_update(st, "INSERT DATA { GRAPH <urn:g:3> "
                              '{ <c> <p> "3" . } }')
    v = st.current_version()
    execute_sparql_update(st, "CLEAR ALL")
    assert st.current_version() == v + 1
    assert st.graphs() == []

    # LOAD SILENT still raises on a MISSING default_graph (operator
    # misconfiguration is not a "failed document")
    with pytest.raises(ValueError, match="default_graph"):
        execute_sparql_update(st, "LOAD SILENT <file:///missing.nt>")

    # bare graph-management keywords remain usable as compact terms
    t = spark.createDataFrame(
        [("s1", "p1", "all", None, None, "urn:g", None)], S.TRIPLES)
    df = execute_sparql(t, "SELECT ?s WHERE { ?s ?p all }")
    assert [r.s for r in df.collect()] == ["s1"]


def test_clear_named_excludes_default_graph(spark, tmp_path):
    """SPARQL 1.1 Update §3.2.3: NAMED excludes the default graph —
    CLEAR NAMED / DROP NAMED with a configured default_graph must keep
    default-graph data; CLEAR ALL still removes everything; with no
    default_graph configured, NAMED == ALL (documented store model)."""
    from kgap_spark import schemas as S
    from kgap_spark.query.sparql import execute_sparql_update
    from kgap_spark.triples import TripleStore

    def fresh(name):
        st = TripleStore(spark, str(tmp_path / name))
        rows = [("a", "p", "1", None, None, "urn:g:default", None),
                ("b", "p", "2", None, None, "urn:g:named1", None),
                ("c", "p", "3", None, None, "urn:g:named2", None)]
        st.merge(spark.createDataFrame(rows, S.TRIPLES))
        return st

    st = fresh("s1")
    r = execute_sparql_update(st, "CLEAR NAMED",
                              default_graph="urn:g:default")
    assert r["graphs"] == ["urn:g:named1", "urn:g:named2"]
    assert st.graphs() == ["urn:g:default"]

    st = fresh("s2")
    execute_sparql_update(st, "DROP NAMED", default_graph="urn:g:default")
    assert st.graphs() == ["urn:g:default"]

    st = fresh("s3")  # ALL clears the default graph too
    execute_sparql_update(st, "CLEAR ALL", default_graph="urn:g:default")
    assert st.graphs() == []

    st = fresh("s4")  # no default configured: NAMED means every graph
    execute_sparql_update(st, "CLEAR NAMED")
    assert st.graphs() == []


def test_select_star_column_order_stable_under_reorder(spark):
    """SELECT * returns variables in textual first-occurrence order
    regardless of the optimizer's join order."""
    rows = [("s1", "u:p1", "o1", None, None, "urn:g", None),
            ("s1", "u:p2", "x1", None, None, "urn:g", None)]
    t = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(t, """
        SELECT * WHERE { ?a ?p ?o . ?a <u:p2> ?x }
    """)
    assert df.columns == ["a", "p", "o", "x"]


def test_graph_management_sentinel_collision_and_absent_move(spark, tmp_path):
    """Review-pass pins: a graph literally named ALL/DEFAULT can never
    collide with the keyword forms (NUL sentinels), and
    TripleStore.move_graph of an absent source no-ops instead of
    wiping the destination."""
    from kgap_spark.query.sparql import execute_sparql_update
    from kgap_spark.triples import TripleStore

    st = TripleStore(spark, str(tmp_path / "s"))
    rows = [("a", "p", "1", None, None, "ALL", None),
            ("b", "p", "2", None, None, "urn:g:keep", None)]
    st.merge(spark.createDataFrame(rows, S.TRIPLES))

    # DROP GRAPH ALL targets the graph NAMED "ALL", never every graph
    r = execute_sparql_update(st, "DROP GRAPH ALL")
    assert r["graphs"] == ["ALL"]
    assert st.graphs() == ["urn:g:keep"]
    # the keyword form still clears everything
    execute_sparql_update(st, "CLEAR ALL")
    assert st.graphs() == []

    # absent-source MOVE must not touch dst (it used to commit
    # drop_graphs={src, dst} with nothing added — dst wiped)
    st.merge(spark.createDataFrame(
        [("keep", "p", "9", None, None, "urn:g:dst", None)], S.TRIPLES))
    v = st.current_version()
    st.move_graph("urn:g:absent", "urn:g:dst")
    assert st.current_version() == v          # no commit at all
    assert {r.subj for r in st.read_graph("urn:g:dst").collect()} == {
        "keep"}
