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
    label(v) ← min(label(v), min over candidates u of label(u))
iterated with ``localCheckpoint`` each round to cut the lineage chain.
A node's candidates are its neighbours plus two Shiloach–Vishkin-style
kinds of row drawn from the round's own labels: the node its label
names (shortcut: v pulls label(label(v))) and every node whose previous
label it was (hook: an old label pulls that node's new label). Both
ride in the one join a round already runs, so a round runs as many jobs
as a plain one; every candidate is a label from v's own component, so
results equal plain propagation's. Plain propagation
needs O(diameter) rounds; with shortcut and hook 1,024- and 4,096-node
paths converge in 12-23 rounds (``BENCH/CC.md``), and duplicate
clusters (shallow near-cliques) in 2–3. Each round's labels drop the
planner's size estimate (``_checkpoint``). Skew handling:

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


def _checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` with the planner's size
    estimate reset to the session default. A checkpoint keeps the
    estimate of the plan it ran, and a round joins two sides built from
    the previous labels, whose estimates multiply: kept, the estimate
    squares every round (its decimal digits double), and from about
    round 18 planning on it takes seconds, then minutes. The rows are
    the checkpoint's own."""
    spark = df.sparkSession
    rdd = df.localCheckpoint(eager=True)._jdf.queryExecution().logical().rdd()
    return DataFrame(
        spark._jsparkSession.internalCreateDataFrame(rdd, df._jdf.schema(), False),
        spark,
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 64,
    salt: int = DEFAULT_SALT,
) -> DataFrame:
    """edges(src, dst) → (node, component) with component = min node id
    (lexicographic) in the component; isolated nodes don't appear.

    Iterative min-label propagation with shortcut and hook rows; each
    round is one join on the candidate's node plus the salted
    aggregation (round 1 is a single aggregation of the edges).
    ``localCheckpoint`` truncates the plan so round N doesn't recompute
    rounds 1..N-1. Raises ``RuntimeError`` if labels still move after
    ``max_iter`` rounds.
    """
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)

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
        # src pulls dst's label along: edges, node → label (shortcut)
        # and _old → node (hook)
        pulls = (
            sym.union(labels.select("node", "label"))
            .union(labels.select("_old", "node"))
            .filter(F.col("src") != F.col("dst"))
        )
        candidates = pulls.join(
            labels.select(F.col("node").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("node"), "label", no_old)
        labels = _checkpoint(_salted_min_label(
            labels.select("node", "label", F.col("label").alias("_old"))
            .union(candidates),
            salt,
        ))
        converged = labels.filter(F.col("label") != F.col("_old")).isEmpty()
        rounds += 1
    if not converged:
        # partially-propagated labels split one component into several —
        # silently returning them would be wrong canonicalization
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter"
        )
    return labels.select("node", F.col("label").alias("component"))


def canonical_mapping(alias_dict: DataFrame) -> DataFrame:
    """alias_dict → (entity_id, canonical_id) for every entity in the
    dictionary (identity rows included, so downstream rewrites are a
    single left join + coalesce).

    Dictionary CC is a small-graph problem (entities, not pages) and
    inherits the session's shuffle width."""
    comps = connected_components(duplicate_edges(alias_dict))
    all_ents = alias_dict.select("entity_id").distinct()
    return all_ents.join(
        comps, all_ents["entity_id"] == comps["node"], "left"
    ).select(
        "entity_id",
        F.coalesce(F.col("component"), F.col("entity_id")).alias("canonical_id"),
    )
