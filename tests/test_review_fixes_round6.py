"""Regression pins for the round-6 ADVICE findings."""

from __future__ import annotations

import pytest


# --- ADVICE #2: sh:flags validated before any Spark action -----------------

def test_shacl_pattern_flags_validated(spark):
    from kgap_spark.validate.assertions import Assertion, pattern_violations

    t = spark.createDataFrame(
        [("urn:s", "ex:p", "abc", None, None, "urn:g", None)],
        "subj string, pred string, obj string, obj_lang string, "
        "obj_datatype string, graph string, src_url string",
    )
    ok = Assertion(kind="pattern", path="ex:p", values=("^a", "i"))
    # supported flags build a plan without error
    pattern_violations(t, ok)
    # empty sh:flags reads as "no flags" — only junk content raises
    pattern_violations(
        t, Assertion(kind="pattern", path="ex:p", values=("^a", ""))
    )
    for bad in ("q", "iq", "junk"):
        a = Assertion(kind="pattern", path="ex:p", values=("^a", bad))
        with pytest.raises(ValueError, match="sh:flags"):
            pattern_violations(t, a)


# --- ADVICE #4: boolean FTS operands may not vanish silently ---------------

def test_boolean_query_zero_token_operands_raise():
    from kgap_spark.index.fts import parse_boolean_query

    # healthy parse unchanged
    q = parse_boolean_query("+a b -c")
    assert q["must"] and q["should"] and q["must_not"]
    with pytest.raises(ValueError, match="normalizes to no tokens"):
        parse_boolean_query("+*** b")
    with pytest.raises(ValueError, match="normalizes to no tokens"):
        parse_boolean_query("a -***")
    with pytest.raises(ValueError, match="normalizes to no tokens"):
        parse_boolean_query("a AND ***")
    with pytest.raises(ValueError, match="trailing NOT"):
        parse_boolean_query("a NOT")
    with pytest.raises(ValueError, match="normalizes to no tokens"):
        parse_boolean_query("a NOT ***")
    # a bare should word that normalizes away stays lenient
    assert parse_boolean_query("a ***")["should"] == ["a"]


# --- round-6 code-review pass 1 findings -----------------------------------

def _kb(spark, rows):
    from kgap_spark import schemas as S
    return spark.createDataFrame(
        [(s, p, o, None, None, "urn:g", None) for s, p, o in rows],
        S.TRIPLES,
    )


def test_pathalt_zero_length_for_absent_constant(spark):
    """ZeroLengthPath(term) = {(term, term)} even for terms absent
    from the data — PathAlt ?/* arms must keep it (review finding #1:
    the arm relation used Var placeholders and lost the constant)."""
    from kgap_spark.query.sparql import execute_sparql

    kb = _kb(spark, [("a", "c", "b")])
    assert execute_sparql(
        kb, "ASK { <urn:absent> (<x>/<y>)|<c>? <urn:absent> }"
    ) is True
    # and matches the non-alternation compile
    assert execute_sparql(
        kb, "ASK { <urn:absent> <c>? <urn:absent> }"
    ) is True


def test_pathalt_constant_start_seeds_closure(spark):
    """A constant subject seeds each +-arm's frontier instead of the
    whole-graph fixpoint (review finding #3) — observable as a correct
    result over a graph with a cycle the start can't reach."""
    from kgap_spark.query.sparql import execute_sparql

    kb = _kb(spark, [("s", "p", "t"), ("u", "p", "v"), ("v", "p", "u"),
                     ("s", "q", "w")])
    df = execute_sparql(kb, "SELECT ?x WHERE { <s> <p>+|<q> ?x }")
    assert sorted(r.x for r in df.collect()) == ["t", "w"]
    # seeded plan: the +-arm's first join filters on the start
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "s" in plan  # literal start pushed into the arm scan


def test_luc_score_in_separate_block(spark):
    """A luc:score separated from its luc:searchIndex by a non-triple
    element still pairs (review finding #2 — pairing is group-wide,
    matching GraphDB's position-independent magic predicates)."""
    from kgap_spark import schemas as S
    from kgap_spark.query.sparql import execute_sparql

    rows = [
        ("urn:e:1", "rdfs:label", "hello world", "en", None, "urn:g", None),
        ("urn:e:1", "ex:other", "urn:v", None, None, "urn:g", None),
    ]
    kb = spark.createDataFrame(rows, S.TRIPLES)
    df = execute_sparql(kb, """
        PREFIX luc: <http://www.ontotext.com/owlim/lucene#>
        SELECT ?e ?v ?s WHERE {
          ?e luc:searchIndex "hello" .
          OPTIONAL { ?e <ex:other> ?v }
          ?e luc:score ?s .
        }
    """)
    got = [(r.e, r.v, r.s) for r in df.collect()]
    assert got == [("urn:e:1", "urn:v", 1.0)]
    # orphan score still raises loudly
    import pytest as _pt
    with _pt.raises(ValueError, match="luc:score without"):
        execute_sparql(kb, """
            PREFIX luc: <http://www.ontotext.com/owlim/lucene#>
            SELECT ?s WHERE { ?e luc:score ?s }
        """)


def test_alternation_repeated_arms_bag_semantics(spark):
    """§18.4 multiset union: a repeated alternation arm duplicates its
    matches — p0|p1|p0 yields each p0 edge twice (found by the path
    differential fuzz; the isin fast path had deduped arms). Under a
    +/*/? modifier the flattened scan stays: ALP closures are
    duplicate-free, so (p|p)+ ≡ p+."""
    from kgap_spark.query.sparql import execute_sparql

    kb = _kb(spark, [("n0", "p0", "n1"), ("n1", "p1", "n2")])
    bare = execute_sparql(
        kb, "SELECT ?x ?y WHERE { ?x <p0>|<p1>|<p0> ?y }")
    assert sorted((r.x, r.y) for r in bare.collect()) == [
        ("n0", "n1"), ("n0", "n1"), ("n1", "n2")]
    paren = execute_sparql(
        kb, "SELECT ?x ?y WHERE { ?x (<p0>|<p0>) ?y }")
    assert [(r.x, r.y) for r in paren.collect()] == [
        ("n0", "n1"), ("n0", "n1")]
    closed = execute_sparql(
        kb, "SELECT ?x ?y WHERE { ?x (<p0>|<p0>)+ ?y }")
    assert [(r.x, r.y) for r in closed.collect()] == [("n0", "n1")]
    # disjoint arms keep the single isin-pushdown scan
    plan = execute_sparql(
        kb, "SELECT ?x ?y WHERE { ?x <p0>|<p1> ?y }"
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan
