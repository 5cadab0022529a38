"""Entity canonicalization: connected components over duplicate edges.

k-gap leaves ``sameAs`` reasoning to the store and disables it by
default (reference: ``graphdb/kgap/template-repo-config.ttl:39``); at
web scale we *materialize* sameAs via connected components instead
(north rule: "canonicalization by connected-components … iterative
DataFrame self-joins with salted keys for hub-entity skew").

Published duplicate rule (shared with ``fixtures.canonical_map``):
two entity ids that share **≥ 2 (alias, lang) surface forms** are
duplicates. Sharing a single alias is mere ambiguity (e.g. one surface
form naming two real entities) and must not merge.

Algorithm: min-label propagation to fixpoint —
    label(v) ← min(label(v), min over neighbors u of label(u))
iterated with ``localCheckpoint`` each round to cut the lineage chain.
Convergence takes O(component diameter) rounds; duplicate clusters are
shallow (near-clique), so 2–3 rounds in practice. Skew handling:

- the edge build pre-aggregates per (alias, lang) and *caps the group
  size* (``max_group``): an alias shared by thousands of entities is a
  stop-word-like artifact, not evidence of identity — capping both
  fixes quality and removes the quadratic pair blow-up (hub-key skew);
- label propagation aggregates with a two-phase **salted min**:
  ``groupBy(node, salt) → min`` then ``groupBy(node) → min``, so a hub
  node with millions of edges never lands on one reducer;
- AQE skew-join splitting stays on as the backstop (session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 8
MAX_ALIAS_GROUP = 128


def duplicate_edges(
    alias_dict: DataFrame,
    min_shared: int = 2,
    max_group: int = MAX_ALIAS_GROUP,
) -> DataFrame:
    """alias_dict → undirected duplicate edges (src < dst).

    One aggregation per (alias, lang) collects the sorted distinct
    entity ids of groups of ≤ ``max_group`` entities (a NULL id counts
    toward the cap but never pairs; a NULL alias or lang never pairs),
    emits each group's ``i < j`` pairs from the array, and one count
    per pair keeps those sharing ≥ ``min_shared`` surface forms. Two
    exchanges: no distinct, window or self-join.
    """
    groups = (
        alias_dict.filter(F.col("alias").isNotNull() & F.col("lang").isNotNull())
        .groupBy("alias", "lang")
        .agg(
            F.array_sort(F.collect_set("entity_id")).alias("ids"),
            F.max(F.col("entity_id").isNull().cast("int")).alias("_null"),
        )
        .filter(F.size("ids") + F.col("_null") <= max_group)
    )
    ids = F.col("ids")
    pairs = groups.select(
        F.explode(
            F.flatten(
                F.transform(
                    ids,
                    lambda x, i: F.transform(
                        F.slice(ids, i + 2, F.size(ids)),
                        lambda y: F.struct(x.alias("src"), y.alias("dst")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.src", "p.dst")
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
        .select("src", "dst")
    )


def _salted_min_label(assign: DataFrame, salt: int) -> DataFrame:
    """groupBy(node) → min(label), max(_old) in two phases via a
    deterministic salt derived from the label value (pure; no rand()).
    Partial/map-side aggregation already dampens skew; the explicit salt
    guarantees no single reducer sees a hub node's full edge list."""
    salted = assign.withColumn("_salt", F.pmod(F.xxhash64("label"), F.lit(salt)))
    return (
        salted.groupBy("node", "_salt")
        .agg(F.min("label").alias("label"), F.max("_old").alias("_old"))
        .groupBy("node")
        .agg(F.min("label").alias("label"), F.max("_old").alias("_old"))
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    salt: int = DEFAULT_SALT,
    num_partitions: int | None = None,
    strict: bool = True,
) -> DataFrame:
    """edges(src, dst) → (node, component) with component = min node id
    (lexicographic) in the component.

    Iterative min-label propagation; each round is one shuffle on
    ``node`` plus the salted aggregation (round 1 is a single
    aggregation of the edges). ``localCheckpoint`` truncates the plan so
    round N doesn't recompute rounds 1..N-1.

    ``num_partitions`` pins the iteration partitioning: dictionary-size
    edge sets (10⁴–10⁶ rows) drown in task-scheduling overhead at the
    session's shuffle width — a handful of partitions makes each of the
    O(diameter) rounds a few fat tasks instead of hundreds of empty
    ones. Leave None to inherit the session width for web-scale graphs.
    """
    spark = edges.sparkSession
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if num_partitions:
        sym = sym.repartition(num_partitions, "src")
    sym = sym.localCheckpoint(eager=True)

    # round 1 needs no join: every node starts labelled with itself, so
    # its first label is the least of itself and its neighbours. Each
    # round's rows carry the label they replace as _old, so its own
    # output shows whether anything moved.
    labels = (
        sym.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .select(F.col("src").alias("node"), "label", F.col("src").alias("_old"))
        .localCheckpoint(eager=True)
    )
    no_old = F.lit(None).cast(labels.schema["label"].dataType).alias("_old")
    converged = labels.filter(F.col("label") != F.col("_old")).isEmpty()
    rounds = 1
    while not converged and rounds < max_iter:
        # candidate labels flowing along edges
        neighbor_labels = sym.join(
            labels, sym["dst"] == labels["node"], "inner"
        ).select(F.col("src").alias("node"), "label", no_old)
        labels = _salted_min_label(
            labels.select("node", "label", F.col("label").alias("_old"))
            .union(neighbor_labels),
            salt,
        ).localCheckpoint(eager=True)
        converged = labels.filter(F.col("label") != F.col("_old")).isEmpty()
        rounds += 1
    if not converged and strict:
        # partially-propagated labels split one component into several —
        # silently returning them would be wrong canonicalization
        # (strict=False is for diagnostics/benchmarks only)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter or use "
            "connected_components_star (O(log² n) rounds)"
        )
    return labels.select("node", F.col("label").alias("component"))


def connected_components_star(
    edges: DataFrame,
    max_iter: int = 50,
    num_partitions: int | None = None,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm): converges in O(log² n) rounds vs O(diameter) for
    min-label propagation, so this is the scale path for DEEP
    components (web-graph chains, long sameAs paths), where label
    propagation would need hundreds of shuffles.

    Each round is two pure join+partial-agg passes — no per-node
    adjacency lists are ever materialized (hub-safe):

    - large-star: every node links its larger neighbors to the minimum
      of its neighborhood (∪ itself);
    - small-star: every node links its smaller neighbors (and itself)
      to that minimum.

    Returns (node, component) with component = min node id, matching
    ``connected_components``; isolated nodes don't appear (same
    contract)."""
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if num_partitions:
        e = e.repartition(num_partitions, "u")
    e = e.localCheckpoint(eager=True)

    def _checksum(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: int64 hash sums overflow under ANSI mode
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    def _large_star(cur: DataFrame) -> DataFrame:
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        bigs = sym.filter(F.col("v") > F.col("u"))
        return (
            bigs.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(cur: DataFrame) -> DataFrame:
        # orient big → small: each undirected edge appears exactly once
        d = cur.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        m = d.groupBy("u").agg(F.min("v").alias("m"))  # v < u ⇒ min is over N∪{u}
        linked = d.join(m, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
        self_link = m.select(F.col("u"), F.col("m").alias("v"))
        return (
            linked.union(self_link)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    prev_sig = _checksum(e)
    converged = False
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        sig = _checksum(e)
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # a non-star residual maps one node to several "components" and
        # would fan out canonical_mapping's join — fail loudly instead
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds; raise max_iter"
        )

    # converged: stars (child → root). Roots label themselves.
    child = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("component"))
    return child.union(roots).distinct()


def canonical_mapping(
    alias_dict: DataFrame, algorithm: str = "label", **cc_kwargs
) -> DataFrame:
    """alias_dict → (entity_id, canonical_id) for every entity in the
    dictionary (identity rows included, so downstream rewrites are a
    single left join + coalesce).

    Dictionary CC is a small-graph problem (entities, not pages); the
    session's shuffle width is inherited — pass ``num_partitions`` to
    pin it when running inside a wide session.

    ``algorithm``: 'label' (min-label propagation — fewest shuffles for
    the shallow near-clique clusters alias sharing produces) or 'star'
    (large-star/small-star — O(log² n) rounds, for dictionaries whose
    sameAs chains run deep)."""
    edges = duplicate_edges(alias_dict)
    cc = {"label": connected_components,
          "star": connected_components_star}[algorithm]
    comps = cc(edges, **cc_kwargs)
    all_ents = alias_dict.select("entity_id").distinct()
    return all_ents.join(
        comps, all_ents["entity_id"] == comps["node"], "left"
    ).select(
        "entity_id",
        F.coalesce(F.col("component"), F.col("entity_id")).alias("canonical_id"),
    )
