"""Connected-components canonicalization: convergence, chains, skew."""

from __future__ import annotations

from kgap_spark.canonicalize import (
    canonical_mapping,
    connected_components,
    duplicate_edges,
)


def test_cc_chain_and_isolated(spark):
    """A 5-node chain + a disjoint pair + an isolated self-contained
    component — label propagation must converge to min-id labels."""
    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"), ("d", "e"),  # chain a-b-c-d-e
         ("x", "y")],
        "src string, dst string",
    )
    comps = {r.node: r.component for r in connected_components(edges).collect()}
    assert all(comps[n] == "a" for n in "abcde")
    assert comps["x"] == "y" or comps["x"] == "x"
    assert comps["x"] == comps["y"] == min("xy")


def test_cc_hub_skew_star(spark):
    """A 500-spoke star (hub skew shape): one round must label every
    spoke with the hub-min id; the salted aggregation path handles the
    hot node."""
    edges = spark.createDataFrame(
        [("hub", f"spoke{i:04d}") for i in range(500)], "src string, dst string"
    )
    comps = connected_components(edges, salt=4)
    assert comps.select("component").distinct().count() == 1
    assert comps.count() == 501


def test_duplicate_edges_rule(spark):
    """≥2 shared (alias, lang) forms → edge; exactly 1 → no edge."""
    alias = spark.createDataFrame(
        [
            ("n1", "e1", "en", 0.9, True), ("n1", "e2", "en", 0.7, True),
            ("n2", "e1", "en", 0.9, False), ("n2", "e2", "en", 0.7, False),
            ("amb", "e3", "*", 0.5, False), ("amb", "e4", "*", 0.4, False),
        ],
        "alias string, entity_id string, lang string, prior double, is_label boolean",
    )
    edges = {(r.src, r.dst) for r in duplicate_edges(alias).collect()}
    assert edges == {("e1", "e2")}


def _edges_reference(rows, min_shared, max_group):
    """The published rule in plain Python: per (alias, lang) the set of
    entity ids (NULL alias or lang never pairs; a NULL id counts toward
    ``max_group`` but never pairs), every pair of a group within the cap
    shares one form, and pairs sharing ≥ ``min_shared`` forms are edges."""
    from collections import Counter, defaultdict
    from itertools import combinations

    groups = defaultdict(set)
    for alias, lang, eid in rows:
        if alias is not None and lang is not None:
            groups[(alias, lang)].add(eid)
    shared = Counter()
    for ids in groups.values():
        if len(ids) <= max_group:
            shared.update(combinations(sorted(i for i in ids if i is not None), 2))
    return {p for p, n in shared.items() if n >= min_shared}


def test_duplicate_edges_matches_reference(spark):
    """duplicate_edges == the pure-Python rule on the edge cases: NULLs,
    repeated rows, groups of exactly max_group and max_group + 1, and
    pairs sharing one form against two."""
    rows = [
        # e1/e2 share two forms, each repeated: one edge
        ("n1", "en", "e1"), ("n1", "en", "e1"), ("n1", "en", "e2"),
        ("n2", "en", "e1"), ("n2", "en", "e2"), ("n2", "en", "e2"),
        # e3/e4 share one form only (plus a NULL-lang and a NULL-alias
        # row, which never pair): no edge
        ("amb", "*", "e3"), ("amb", "*", "e4"),
        ("amb", None, "e3"), ("amb", None, "e4"),
        (None, "*", "e3"), (None, "*", "e4"),
        # exactly max_group=3 ids, twice: all three pairs are edges
        ("g3", "en", "f1"), ("g3", "en", "f2"), ("g3", "en", "f3"),
        ("h3", "en", "f1"), ("h3", "en", "f2"), ("h3", "en", "f3"),
        # max_group + 1 ids: capped, no edges from these groups
        ("g4", "en", "k1"), ("g4", "en", "k2"), ("g4", "en", "k3"),
        ("g4", "en", "k4"),
        ("h4", "en", "k1"), ("h4", "en", "k2"), ("h4", "en", "k3"),
        ("h4", "en", "k4"),
        # 3 ids + a NULL id = max_group + 1: capped as well
        ("g5", "nl", "m1"), ("g5", "nl", "m2"), ("g5", "nl", "m3"),
        ("g5", "nl", None), ("g5", "nl", None),
        ("h5", "nl", "m1"), ("h5", "nl", "m2"), ("h5", "nl", "m3"),
        ("h5", "nl", None),
        # 2 ids + a NULL id, twice: within the cap, the NULL never pairs
        ("g6", "de", "p1"), ("g6", "de", "p2"), ("g6", "de", None),
        ("h6", "de", "p1"), ("h6", "de", "p2"), ("h6", "de", None),
    ]
    alias = spark.createDataFrame(
        rows, "alias string, lang string, entity_id string"
    )
    want2 = {("e1", "e2"), ("f1", "f2"), ("f1", "f3"), ("f2", "f3"),
             ("p1", "p2")}
    assert _edges_reference(rows, 2, 3) == want2
    for min_shared, max_group in ((2, 3), (1, 3), (2, 4), (1, 128)):
        got = {(r.src, r.dst) for r in
               duplicate_edges(alias, min_shared, max_group).collect()}
        assert got == _edges_reference(rows, min_shared, max_group), (
            min_shared, max_group)


def test_duplicate_edges_plan_is_two_aggregations(spark, tiny):
    """The edge build is one aggregation per (alias, lang) and one per
    pair: two shuffle exchanges, no window and no join."""
    plan = duplicate_edges(tiny["alias_dict"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Window" not in plan and "Join" not in plan, plan


def test_canonical_mapping_matches_fixture_rule(spark, tiny):
    """Pipeline CC over the fixture dictionary == the fixture's own
    union-find result, entity for entity."""
    from kgap_spark.fixtures import FixtureConfig, alias_rows, canonical_map

    cfg = FixtureConfig.for_scale("tiny")
    expected = canonical_map(alias_rows(cfg))
    got = {
        r.entity_id: r.canonical_id
        for r in canonical_mapping(tiny["alias_dict"]).collect()
    }
    assert got == expected


def _components_reference(edges):
    """Union-find over ``edges`` (src, dst pairs): node → least node id
    of its component, isolated nodes excluded (the CC contract)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _chain(n, seed=None):
    """A path of ``n`` nodes (diameter n − 1). Ids are n00000… in path
    order, or a seeded shuffle of them, so the least id sits anywhere
    on the path and labels arrive from both directions."""
    import random

    ids = [f"n{i:05d}" for i in range(n)]
    if seed is not None:
        random.Random(seed).shuffle(ids)
    return [(ids[i], ids[i + 1]) for i in range(n - 1)]


def test_star_cc_matches_label_propagation(spark):
    """A mixed graph (a 6-node path with its least id inside, and a
    pair) gives the union-find components."""
    rows = [("a", "b"), ("b", "c"), ("d", "e"), ("f", "g"), ("g", "h"),
            ("h", "a")]  # {a,b,c,f,g,h} and {d,e}
    edges = spark.createDataFrame(rows, "src string, dst string")
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == _components_reference(rows)
    assert got["h"] == "a" and got["e"] == "d"


def test_star_cc_deep_chain(spark):
    """Paths far deeper than plain min-label propagation's round budget
    converge to one component, equal to union-find: a 1,024-node path
    in id order and 256- and 1,024-node paths with shuffled ids (the
    last takes 22 rounds). The planner's size estimate of the result
    stays a plain int64: it does not compound over the rounds."""
    for n, seed in ((1024, None), (256, 7), (1024, 11)):
        rows = _chain(n, seed)
        edges = spark.createDataFrame(rows, "src string, dst string")
        comps = connected_components(edges)
        got = {r.node: r.component for r in comps.collect()}
        assert got == _components_reference(rows), (n, seed)
        assert set(got.values()) == {"n00000"}, (n, seed)
        stats = comps._jdf.queryExecution().optimizedPlan().stats()
        assert stats.sizeInBytes() < 2**63, (n, seed)


def test_canonical_mapping_deep_alias_chain(spark):
    """An alias dictionary whose duplicate edges form a 160-entity
    chain (neighbours share two (alias, lang) forms; ids shuffled) plus
    one unrelated entity: every chain entity maps to one canonical id,
    equal to union-find over the chain."""
    n = 160
    chain = _chain(n, seed=3)
    rows = [(f"{form}{i}", "en", e)
            for i, (a, b) in enumerate(chain)
            for form in ("x", "y") for e in (a, b)]
    rows.append(("solo", "en", "z"))
    alias = spark.createDataFrame(rows, "alias string, lang string, entity_id string")
    got = {r.entity_id: r.canonical_id
           for r in canonical_mapping(alias).collect()}
    want = _components_reference(chain)
    assert {e: got[e] for e in want} == want
    assert set(want.values()) == {"n00000"}
    assert got["z"] == "z" and len(got) == n + 1


def test_canonical_mapping_job_count(spark, tiny, jobs_launched):
    """Materializing the tiny dictionary's canonical mapping launches
    at most 15 Spark jobs, the count of plain min-label propagation:
    shortcut and hook rows ride in each round's one join, so a change
    that adds a join or a check per round shows here."""
    def run():
        canonical_mapping(tiny["alias_dict"]).localCheckpoint(eager=True)

    run()  # warm: the first run also reads the fixture's footers
    assert jobs_launched(run) <= 15
