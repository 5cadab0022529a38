"""Update operators U2 (DELETE DATA) and U3 (DELETE/INSERT rewrite) —
quick-reference.md:228-243."""

from __future__ import annotations

import pytest

from kgap_spark import schemas as S
from kgap_spark.triples import TripleStore


def _quads(spark, rows):
    return spark.createDataFrame(
        [(s, p, o, None, None, g, None) for s, p, o, g in rows], S.TRIPLES
    )


def test_delete_quads(spark, tmp_path):
    store = TripleStore(spark, str(tmp_path / "t"))
    store.append(_quads(spark, [
        ("a", "p", "1", "urn:g:1"), ("b", "p", "2", "urn:g:1"),
        ("c", "p", "3", "urn:g:2"), ("d", "p", "4", "urn:g:3"),
    ]))
    # delete one quad from g1 and the only quad of g3
    store.delete_quads(_quads(spark, [
        ("a", "p", "1", "urn:g:1"), ("d", "p", "4", "urn:g:3"),
    ]))
    left = {(r.subj, r.graph) for r in store.read().collect()}
    assert left == {("b", "urn:g:1"), ("c", "urn:g:2")}
    # idempotent: deleting already-deleted quads is a no-op
    store.delete_quads(_quads(spark, [("a", "p", "1", "urn:g:1")]))
    assert store.read().count() == 2


# U3 as a SPARQL modify: ``GRAPH ?g`` binds per solution, so the
# rename stays inside each quad's own graph (delete_quads + merge)
RENAME_PRED = """
    DELETE { GRAPH ?g { ?s <old:p> ?o } }
    INSERT { GRAPH ?g { ?s <new:p> ?o } }
    WHERE  { GRAPH ?g { ?s <old:p> ?o } }
"""


def test_rewrite_predicate(spark, tmp_path):
    from kgap_spark.query.sparql import execute_sparql_update

    store = TripleStore(spark, str(tmp_path / "t"))
    store.append(_quads(spark, [
        ("a", "old:p", "1", "urn:g:1"), ("b", "keep:p", "2", "urn:g:1"),
        ("c", "old:p", "3", "urn:g:2"), ("d", "keep:p", "4", "urn:g:3"),
    ]))
    execute_sparql_update(store, RENAME_PRED)
    preds = {(r.subj, r.pred) for r in store.read().collect()}
    assert preds == {("a", "new:p"), ("b", "keep:p"), ("c", "new:p"), ("d", "keep:p")}


def test_template_unbound_variable_instantiates_nothing(spark, tmp_path):
    """``GRAPH ?g`` in an update template takes each WHERE solution's
    graph; a solution that leaves a template variable unbound
    instantiates no quad (SPARQL 1.1 Update §3.1.3): a NULL graph would
    make the delete match every graph, a NULL object would insert a
    broken quad. CONSTRUCT templates still reject ``GRAPH ?g``."""
    from kgap_spark.query.sparql import execute_sparql_update, parse_sparql

    store = TripleStore(spark, str(tmp_path / "t"))
    store.append(_quads(spark, [
        ("a", "p", "1", "urn:g:1"), ("a", "q", "x", "urn:g:1"),
        ("b", "p", "2", "urn:g:2"),
    ]))
    execute_sparql_update(store, """
        DELETE { GRAPH ?g { ?s <p> ?o } }
        WHERE  { ?s <p> ?o OPTIONAL { GRAPH ?g { ?s <q> ?x } } }""")
    left = {(r.subj, r.pred, r.graph) for r in store.read().collect()}
    assert left == {("a", "q", "urn:g:1"), ("b", "p", "urn:g:2")}
    execute_sparql_update(store, """
        INSERT { GRAPH <urn:g:2> { ?s <r> ?x } }
        WHERE  { ?s ?pp ?o OPTIONAL { ?s <q> ?x } }""")
    assert {(r.subj, r.obj) for r in store.read().collect()
            if r.pred == "r"} == {("a", "x")}
    with pytest.raises(ValueError, match="CONSTRUCT"):
        parse_sparql("CONSTRUCT { GRAPH ?g { ?s ?p ?o } } "
                     "WHERE { GRAPH ?g { ?s ?p ?o } }")
