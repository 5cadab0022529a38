"""Query-pattern library (SURVEY §2 SPARQL analogs) against the tiny
fixture triples, with hand-computable expectations."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgap_spark.query import (
    QueryTemplates,
    Var,
    bgp,
    conflicting_types,
    counts_by_graph,
    entities_without_label,
    recursive_dereference,
    type_distribution,
)
from kgap_spark.query.sparql import execute_sparql
from kgap_spark.triples import build_triples


def _triples(spark, tiny):
    return build_triples(tiny["web_pages"], tiny["alias_dict"]).cache()


def test_counts_by_graph_totals(spark, tiny):
    t = _triples(spark, tiny)
    per_graph = counts_by_graph(t)
    assert per_graph.agg(F.sum("n_triples")).first()[0] == t.count()
    # one row per site graph + the dict graph
    n_sites = tiny["web_pages"].select(
        F.regexp_extract("url", r"https://([^.]+)\.", 1)
    ).distinct().count()
    assert per_graph.count() == n_sites + 1


def test_bgp_two_pattern_join(spark, tiny):
    """pages of type WebPage that mention some entity — a 2-pattern BGP
    joined on ?page."""
    t = _triples(spark, tiny)
    res = bgp(
        t,
        [
            (Var("page"), "rdf:type", "kgap:WebPage"),
            (Var("page"), "kgap:mentions", Var("ent")),
        ],
    )
    direct = t.filter(F.col("pred") == "kgap:mentions").select(
        F.col("subj").alias("page"), F.col("obj").alias("ent")
    )
    assert res.exceptAll(direct).count() == 0
    assert direct.exceptAll(res).count() == 0


def test_bgp_subject_object_chase(spark, tiny):
    """?page mentions ?ent . ?ent rdfs:label ?label — J2 path join."""
    t = _triples(spark, tiny)
    res = bgp(
        t,
        [
            (Var("page"), "kgap:mentions", Var("ent")),
            (Var("ent"), "rdfs:label", Var("label")),
        ],
    )
    # every mentioned entity is canonical and has exactly 3 labels
    per_pair = res.groupBy("page", "ent").count()
    assert per_pair.filter(F.col("count") != 3).count() == 0


def test_optional_and_not_exists(spark, tiny):
    t = _triples(spark, tiny)
    with_m = execute_sparql(t, """
        SELECT ?page ?ent WHERE {
          ?page rdf:type kgap:WebPage
          OPTIONAL { ?page kgap:mentions ?ent } }""")
    # left join keeps pages with no mentions (the empty-html pages)
    assert with_m.filter(F.col("ent").isNull()).count() > 0
    no_m = execute_sparql(t, """
        SELECT ?page WHERE {
          ?page rdf:type kgap:WebPage
          FILTER NOT EXISTS { ?page kgap:mentions ?ent } }""")
    assert no_m.count() == with_m.filter(F.col("ent").isNull()).count()


def test_entities_without_label_and_conflicts(spark, tiny):
    t = _triples(spark, tiny)
    nolabel = entities_without_label(t)
    # pages (urls) have no labels; canonical entities all have labels
    assert nolabel.filter(F.col("entity").startswith("https://")).count() > 0
    labeled_ents = t.filter(F.col("pred") == "rdfs:label").select("subj").distinct()
    assert nolabel.join(labeled_ents, nolabel["entity"] == labeled_ents["subj"]).count() == 0
    # each page has exactly one type → no conflicts
    assert conflicting_types(t).count() == 0


def test_type_distribution_topk(spark, tiny):
    t = _triples(spark, tiny)
    top = type_distribution(t, k=5)
    rows = top.collect()
    assert rows[0].type == "kgap:WebPage"
    assert rows[0].n == tiny["web_pages"].count()


def test_templates_execute_to_df(spark, tiny):
    t = _triples(spark, tiny)
    t.createOrReplaceTempView("triples_v")
    qt = QueryTemplates(spark)
    total = qt.execute_to_df("count_all", table="triples_v").first()["count"]
    assert total == t.count()
    per_graph = qt.execute_to_df("counts_by_graph", table="triples_v")
    assert per_graph.count() == counts_by_graph(t).count()
    import pytest

    with pytest.raises(ValueError):
        qt.generate_sql("count_all", table="triples_v; DROP TABLE x")


def test_recursive_dereference_depths(spark, tiny):
    """page → mentions → entity → labels: 2-hop traversal reaches
    entity labels at depth 2."""
    t = _triples(spark, tiny)
    start = t.filter(F.col("pred") == "rdf:type").select("subj").distinct().limit(5)
    edges = recursive_dereference(t, start, max_depth=2)
    d1 = edges.filter(F.col("depth") == 1)
    d2 = edges.filter(F.col("depth") == 2)
    assert d1.count() > 0 and d2.count() > 0
    # depth-2 edges start from entities reached at depth 1 (urn: nodes)
    assert d2.filter(~F.col("src").startswith("urn:")).count() == 0


def test_assemble_documents_nested(spark):
    """Nested-dict assembly (advanced-topics.md:257-277): 2-hop edges
    fold into {pred: [leaf | nested-doc]} JSON, bottom-up."""
    import json

    from kgap_spark.query.traverse import assemble_documents, recursive_dereference

    triples = spark.createDataFrame(
        [
            ("urn:a", "knows", "urn:b", None, None, "g", None),
            ("urn:a", "name", "Alice", None, None, "g", None),
            ("urn:b", "name", "Bob", None, None, "g", None),
            ("urn:b", "likes", "cake", None, None, "g", None),
            ("urn:b", "likes", "tea", None, None, "g", None),
        ],
        "subj string, pred string, obj string, obj_lang string, "
        "obj_datatype string, graph string, src_url string",
    )
    start = spark.createDataFrame([("urn:a",)], "node string")
    edges = recursive_dereference(triples, start, max_depth=2)
    docs = {r.node: json.loads(r.doc) for r in assemble_documents(edges).collect()}
    assert docs["urn:a"]["name"] == ["Alice"]
    assert docs["urn:a"]["knows"] == [{"likes": ["cake", "tea"], "name": ["Bob"]}]


def test_describe_and_graph_diff(spark):
    triples = spark.createDataFrame(
        [
            ("urn:a", "p", "urn:b", None, None, "g1", None),
            ("urn:a", "q", "lit", None, None, "g1", None),
            ("urn:b", "r", "urn:c", None, None, "g1", None),
            ("urn:x", "p", "urn:a", None, None, "g1", None),
            # g2 = next harvest: one triple dropped, one added
            ("urn:a", "p", "urn:b", None, None, "g2", None),
            ("urn:a", "q", "lit2", None, None, "g2", None),
        ],
        "subj string, pred string, obj string, obj_lang string, "
        "obj_datatype string, graph string, src_url string",
    )
    d1 = execute_sparql(triples, "DESCRIBE <urn:a>")
    assert d1.count() == 5  # 4 as subject across graphs + 1 incoming
    got = {(r.subj, r.pred, r.obj) for r in d1.collect()}
    assert ("urn:x", "p", "urn:a") in got

    # graph diff between two harvests: B MINUS A is what was added,
    # A MINUS B what was removed
    def minus(b, a):
        return {(r.s, r.p, r.o) for r in execute_sparql(triples, f"""
            SELECT ?s ?p ?o WHERE {{
              GRAPH <{b}> {{ ?s ?p ?o }}
              MINUS {{ GRAPH <{a}> {{ ?s ?p ?o }} }} }}""").collect()}

    assert minus("g2", "g1") == {("urn:a", "q", "lit2")}
    assert minus("g1", "g2") == {("urn:a", "q", "lit"),
                                 ("urn:b", "r", "urn:c"),
                                 ("urn:x", "p", "urn:a")}


def test_construct_template_instantiation(spark):
    """CONSTRUCT: a 2-pattern BGP rewritten into new triples (grandparent
    derivation), constants and variables mixed in the template."""
    triples = spark.createDataFrame(
        [("urn:a", "parent", "urn:b", None, None, "g", None),
         ("urn:b", "parent", "urn:c", None, None, "g", None),
         ("urn:x", "parent", "urn:y", None, None, "g", None)],
        "subj string, pred string, obj string, obj_lang string, "
        "obj_datatype string, graph string, src_url string",
    )
    out = execute_sparql(triples, """
        CONSTRUCT { GRAPH <urn:derived> {
          ?gp <grandparent> ?c . ?c rdf:type <Grandchild> } }
        WHERE { ?gp <parent> ?p . ?p <parent> ?c }""")
    rows = {(r.subj, r.pred, r.obj) for r in out.collect()}
    # CONSTRUCT writes an undeclared rdf:type as its full IRI
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    assert rows == {("urn:a", "grandparent", "urn:c"),
                    ("urn:c", rdf_type, "Grandchild")}
    assert {r.graph for r in out.collect()} == {"urn:derived"}
    assert out.columns[:3] == ["subj", "pred", "obj"]  # TRIPLES shape


def test_bgp_pattern_order_selectivity_and_connectivity():
    """Static BGP join ordering: most selective pattern first, then
    always a CONNECTED pattern (never a cartesian while one exists);
    repeated object variables reorder too (meta columns are
    first-binding-wins by original index, tracked in bgp)."""
    from kgap_spark.query.patterns import Var, _pattern_order

    v = Var
    pats = [
        (v("s"), v("p"), v("o")),          # 0: unselective scan
        (v("s"), "u:p1", v("x")),          # 1: pred const
        ("u:s0", "u:p2", v("x")),          # 2: subj+pred const (best)
    ]
    order = _pattern_order(pats)
    # opens with the most selective, then its CONNECTED neighbor (1,
    # shares ?x) even though 0 ties on nothing; 0 last
    assert order == [2, 1, 0]

    # connectivity beats raw selectivity: 1 connects to 2 via ?x while
    # the more-selective 0 is disconnected until ?s arrives
    pats2 = [
        (v("a"), "u:p0", "o1"),            # 0: pred+obj const (sel 3)
        (v("x"), "u:p1", v("y")),          # 1: pred const (sel 1)
        ("u:s0", "u:p2", v("x")),          # 2: subj+pred (sel 5)
    ]
    assert _pattern_order(pats2) == [2, 1, 0]

    # repeated OBJECT var reorders too — meta ownership is tracked by
    # original index in bgp(), not by restricting the order
    pats3 = [
        (v("s"), v("p"), v("o")),
        ("u:s0", "u:p1", v("o")),
    ]
    assert _pattern_order(pats3) == [1, 0]


def _textual_order(monkeypatch):
    """Reordering off: bgp joins in textual pattern order."""
    from kgap_spark.query import patterns

    monkeypatch.setattr(patterns, "_pattern_order",
                        lambda ps: list(range(len(ps))))


def test_bgp_reorder_results_unchanged(spark, monkeypatch):
    """The rewrite is semantics-free: a badly-ordered query returns
    identical rows with reordering on and off."""
    rows = [(f"u:s{i}", "u:knows", f"u:s{i+1}", None, None, "g", None)
            for i in range(30)]
    rows += [(f"u:s{i}", "u:name", f"n{i}", None, None, "g", None)
             for i in range(31)]
    t = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_lang string, "
        "obj_datatype string, graph string, src_url string",
    )
    pats = [
        (Var("a"), Var("p"), Var("n")),        # full scan first (bad)
        (Var("a"), "u:knows", Var("b")),
        ("u:s3", "u:name", Var("n")),
    ]

    def run():
        return {(r.a, r.b, r.n, r.p)
                for r in bgp(t, pats).collect()}

    fast = run()
    _textual_order(monkeypatch)
    slow = run()
    assert fast == slow and fast


def test_bgp_reorder_preserves_textual_meta_ownership(spark, monkeypatch):
    """A variable bound in OBJECT position by two patterns carries the
    TEXTUALLY-first pattern's @lang meta even when the optimizer joins
    the textually-later (more selective) pattern first."""
    rows = [
        # p1 binds ?o with @en; p2 binds the same lexical form @fr
        ("u:s0", "u:p1", "label", "en", None, "g", None),
        ("u:s0", "u:p2", "label", "fr", None, "g", None),
    ]
    t = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_lang string, "
        "obj_datatype string, graph string, src_url string",
    )
    # textual order: the UNSELECTIVE p1 pattern first (its meta must
    # win) — the optimizer will start from the p2 pattern (subj const)
    pats = [
        (Var("s"), "u:p1", Var("o")),
        ("u:s0", "u:p2", Var("o")),
    ]

    def lang():
        out = bgp(t, pats, carry_meta=True).collect()
        assert len(out) == 1
        return out[0]["o__lang"]

    reordered = lang()
    _textual_order(monkeypatch)
    textual = lang()
    assert reordered == textual == "en"
