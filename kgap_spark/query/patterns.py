"""Basic-graph-pattern compiler over the triple table.

k-gap's entire query surface is SPARQL evaluated by GraphDB. Here the
SPARQL text goes through ``query.sparql``, which compiles every query
form (OPTIONAL, FILTER NOT EXISTS, MINUS, ASK, CONSTRUCT, DESCRIBE, …)
onto this module's one primitive, ``bgp``: SPARQL's n-way
self-join of the triple relation on shared variables (e.g. the
4-pattern observation query, ``docs/advanced-topics.md:299-311``) as a
chain of equi-joins over predicate-filtered slices, which Catalyst
then reorders/broadcasts. The canned accounting queries at the end are
plain DataFrame aggregates the registered workload calls directly.

Scale design: each pattern's slice starts with a ``pred = <iri>``
filter — the store sorts every file by ``(graph, pred, obj, subj)``, so
parquet pushdown skips the row groups of other predicates; the joins
are plain equi-joins AQE can re-plan (broadcast for selective slices,
skew-split for hub subjects).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Var:
    """A SPARQL variable (?name)."""

    name: str


@dataclass(frozen=True)
class PathNeg:
    """A negated property set ``!p`` / ``!(p1|p2)``: any predicate NOT
    in ``preds`` (SPARQL 1.1 §9.1). Valid only in predicate position."""

    preds: tuple


XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"


@dataclass(frozen=True)
class TypedLit:
    """A pattern-position literal carrying its @lang / ^^datatype: the
    slice must match the exact RDF term, not just the lexical form
    ("Paris"@en must not match "Paris"@fr). RDF 1.1 folds plain
    literals and ^^xsd:string into the same term, so an xsd:string
    datatype also matches a NULL stored datatype."""

    value: str
    lang: str | None = None
    datatype: str | None = None


def _slice(
    triples: DataFrame, pattern, idx: int, carry_meta: bool = False,
    graph_var: str | None = None,
) -> tuple[DataFrame, dict[str, str]]:
    """One triple pattern → filtered/projected slice + var→column map.

    ``carry_meta``: when the object is a variable, also project its
    literal metadata as ``{var}__lang`` / ``{var}__dt`` — the binding
    the SPARQL front-end's LANG()/DATATYPE() filters read.

    ``graph_var``: bind the quad's ``graph`` column as this variable
    (the GRAPH ?var scope): only named-graph rows match, and because
    every slice in the scope projects the same variable, the BGP's
    shared-variable joins automatically enforce same-graph semantics."""
    s, p, o = pattern
    df = triples
    out_cols: dict[str, str] = {}
    for field, term in (("subj", s), ("pred", p), ("obj", o)):
        if isinstance(term, Var):
            pass  # projected below (first occurrence wins)
        elif isinstance(term, PathNeg):
            if field != "pred":
                raise ValueError("negated property set only valid as predicate")
            df = df.filter(~F.col("pred").isin(*term.preds))
        elif isinstance(term, TypedLit):
            if field != "obj":
                raise ValueError("typed literal only valid in object position")
            df = df.filter(F.col("obj") == F.lit(term.value))
            if term.lang is not None:
                df = df.filter(F.col("obj_lang") == F.lit(term.lang))
            elif term.datatype == XSD_STRING:
                df = df.filter(
                    F.col("obj_lang").isNull()
                    & (F.col("obj_datatype").isNull()
                       | (F.col("obj_datatype") == XSD_STRING))
                )
            else:
                df = df.filter(F.col("obj_datatype") == F.lit(term.datatype))
        elif isinstance(term, (tuple, frozenset, set)):
            # any-of constant (e.g. SPARQL's `a` matching both the full
            # rdf:type IRI and the compact store convention)
            df = df.filter(F.col(field).isin(*term))
        else:
            df = df.filter(F.col(field) == F.lit(term))
    sel = []
    # a variable used twice in one pattern (?x ?p ?x, or a pattern var
    # equal to the GRAPH ?var) is a self-equality filter: the first
    # occurrence projects the binding, later occurrences constrain
    seen: dict[str, str] = {}
    if graph_var is not None:
        # GRAPH ?var matches named graphs only (SPARQL §13.3)
        df = df.filter(F.col("graph").isNotNull())
        seen[graph_var] = "graph"
    for field, term in (("subj", s), ("pred", p), ("obj", o)):
        if not isinstance(term, Var):
            continue
        if term.name in seen:
            df = df.filter(F.col(seen[term.name]) == F.col(field))
            continue
        seen[term.name] = field
        sel.append(F.col(field).alias(term.name))
        out_cols[term.name] = term.name
        if carry_meta and field == "obj":
            sel.append(F.col("obj_lang").alias(f"{term.name}__lang"))
            sel.append(F.col("obj_datatype").alias(f"{term.name}__dt"))
    if graph_var is not None:
        sel.append(F.col("graph").alias(graph_var))
        out_cols[graph_var] = graph_var
    return df.select(*sel), out_cols


def _is_meta(col: str) -> bool:
    return col.endswith("__lang") or col.endswith("__dt")


def _pattern_order(patterns: list[tuple]) -> list[int]:
    """Static join ordering for a BGP (greedy selectivity +
    connectivity — the classic SPARQL optimization, e.g. Stocker et
    al., WWW'08): start from the most selective pattern, then always
    extend with the most selective pattern SHARING a variable with the
    bound set (never introduce a cartesian while a connected pattern
    exists). Selectivity is the standard constant-position heuristic:
    a constant subject narrows more than a constant object, which
    narrows more than a constant predicate.

    Catalyst cannot do this itself: every pattern is a filter over the
    SAME triple relation, and without CBO statistics inner equi-joins
    keep their written order — so a query that opens with
    ``?s ?p ?o`` drags the whole table through the first join even
    when a later pattern pins a single subject. Inner joins commute,
    so the rewrite is semantics-free; the one order-sensitive artifact
    — meta columns (``{var}__lang``/``__dt``) are textually-first-
    binding-wins — is preserved by ``bgp``'s owner tracking, not by
    restricting the order. BENCH/BGP_ORDER.md measures it against
    textual order."""
    if len(patterns) < 2:
        return list(range(len(patterns)))

    def pvars(p) -> set:
        return {t.name for t in p if isinstance(t, Var)}

    def selectivity(p) -> int:
        s, pr, o = p
        return ((0 if isinstance(s, Var) else 4)
                + (0 if isinstance(o, Var) else 2)
                + (0 if isinstance(pr, (Var, PathNeg)) else 1))

    remaining = list(range(len(patterns)))
    order: list[int] = []
    bound: set = set()
    while remaining:
        pool = ([i for i in remaining if pvars(patterns[i]) & bound]
                if bound else remaining) or remaining
        best = max(pool, key=lambda i: (selectivity(patterns[i]), -i))
        order.append(best)
        remaining.remove(best)
        bound |= pvars(patterns[best])
    return order


def bgp(
    triples: DataFrame,
    patterns: list[tuple],
    graph: str | None = None,
    carry_meta: bool = False,
    graph_var: str | None = None,
) -> DataFrame:
    """Evaluate a basic graph pattern: list of (s, p, o) triples whose
    terms are ``Var`` or constants. Returns one column per variable
    (plus ``{var}__lang``/``{var}__dt`` meta columns for object
    variables when ``carry_meta`` — first binding wins).

    Example (docs/advanced-topics.md:150-168):
        bgp(t, [
            (Var("obs"), "rdf:type", "sosa:Observation"),
            (Var("obs"), "sosa:hasResult", Var("result")),
        ])
    """
    if graph is not None:
        triples = triples.filter(F.col("graph") == graph)
    acc: DataFrame | None = None
    bound: set[str] = set()
    # meta columns are TEXTUALLY-first-binding-wins; under the static
    # reordering that owner is tracked by original pattern index, so
    # the join order never changes which pattern's @lang/^^dt a
    # variable carries
    meta_owner: dict[str, int] = {}
    for i, orig_idx in enumerate(_pattern_order(patterns)):
        sl, _ = _slice(triples, patterns[orig_idx], i,
                       carry_meta=carry_meta, graph_var=graph_var)
        if acc is None:
            acc = sl
        else:
            # join on shared VARIABLES only; of duplicate meta
            # columns, the one from the textually-earlier pattern wins
            for c in [c for c in sl.columns
                      if _is_meta(c) and c in acc.columns]:
                var = c.rsplit("__", 1)[0]
                if orig_idx < meta_owner.get(var, orig_idx + 1):
                    acc = acc.drop(c)
                else:
                    sl = sl.drop(c)
            shared = sorted(
                bound & {c for c in sl.columns if not _is_meta(c)}
            )
            if shared:
                acc = acc.join(sl, on=shared, how="inner")
            else:
                acc = acc.crossJoin(sl)
        for c in sl.columns:
            if _is_meta(c):
                var = c.rsplit("__", 1)[0]
                meta_owner[var] = min(meta_owner.get(var, orig_idx),
                                      orig_idx)
        bound |= {c for c in sl.columns if not _is_meta(c)}
    if acc is None:
        raise ValueError("empty BGP")
    # SELECT * expands from df.columns: present variables in TEXTUAL
    # first-occurrence order regardless of the join order chosen
    textual = []
    seen: set[str] = set()
    for pat in patterns:
        for t in pat:
            if isinstance(t, Var) and t.name not in seen \
                    and t.name in acc.columns:
                seen.add(t.name)
                textual.append(t.name)
    rest = [c for c in acc.columns if c not in seen]
    return acc.select(*textual, *rest)


# ---------------------------------------------------------------------------
# Canned accounting / hygiene queries from the reference docs.

def counts_by_graph(triples: DataFrame) -> DataFrame:
    """Per-feed triple counts (docs/components/ldes-consumer.md:330-336):
    SELECT ?graph (COUNT(*) as ?count) ... GROUP BY ?graph."""
    return (
        triples.groupBy("graph")
        .agg(F.count(F.lit(1)).alias("n_triples"))
        .orderBy("graph")
    )


def type_distribution(triples: DataFrame, k: int = 20) -> DataFrame:
    """Top-k entity types (docs/quick-reference.md:190-194)."""
    return (
        triples.filter(F.col("pred") == "rdf:type")
        .groupBy(F.col("obj").alias("type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "type")
        .limit(k)
    )


def entities_without_label(triples: DataFrame) -> DataFrame:
    """Entities lacking rdfs:label (docs/components/jupyter.md:557-566):
    subjects of any triple with no label triple — anti join."""
    subjects = triples.select(F.col("subj").alias("entity")).distinct()
    labeled = triples.filter(F.col("pred") == "rdfs:label").select(
        F.col("subj").alias("entity")
    )
    return subjects.join(labeled, "entity", "left_anti")


def conflicting_types(triples: DataFrame) -> DataFrame:
    """Entities with >1 rdf:type (docs/advanced-topics.md:377-394):
    GROUP BY + HAVING COUNT > 1."""
    return (
        triples.filter(F.col("pred") == "rdf:type")
        .groupBy(F.col("subj").alias("entity"))
        .agg(F.countDistinct("obj").alias("n_types"))
        .filter(F.col("n_types") > 1)
    )
