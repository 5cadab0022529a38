"""Partitioned triple store with Iceberg-style write semantics.

k-gap offers two sink modes (reference: ``ldes-consumer/README.md:
147-149``): "Replication" (append-only bulk load) and "Sync"
(create/update/delete per member). ``TripleStore`` reproduces both over
a ``graph``-partitioned table:

- ``append(df)``        → Replication mode (S3);
- ``overwrite_graphs``  → idempotent per-partition rewrite — the MERGE
  building block (S4/U3). Uses dynamic partition overwrite so only the
  graphs present in ``df`` are replaced;
- ``merge(df)``         → Sync mode: quad-level upsert = union of
  existing rows not in the update's graphs' keyspace + the update,
  deduplicated (A7 — "no duplicate data ingestion",
  docs/components/ldes-consumer.md:589-590);
- ``delete_graph``      → graph-scoped clear (S7,
  docs/quick-reference.md:330-336);
- ``delete_quads``, ``compact``, ``move_graph`` → graph-scoped
  rewrites (U2, rewrite_data_files, SPARQL MOVE).

One logical layer, two physical primitives. The graph-scoped
rewrites and ``merge``'s pruned scan are written once, here, over
``_scan_graphs(graphs, at)`` (the store restricted to some graphs)
and ``_replace_graphs(df, graphs, at, op)`` (afterwards exactly
``graphs`` hold ``df``'s rows). ``SnapshotStore`` overrides only the
primitives: a manifest file list instead of a partition filter, and
one snapshot dir plus one manifest commit instead of checkpoint,
dynamic overwrite and directory deletes. ``at`` is the version an
operation pinned at its start (``_pin``); this store has none.

Physical format: partitioned parquet. In production this class is the
seam where an Iceberg catalog plugs in (``writeTo(...).append()`` /
``MERGE INTO`` / snapshot ids); the jars aren't in this image, so the
parquet implementation keeps the exact same call surface and semantics
(partition-granular atomicity via dynamic partition overwrite).

One semantic gap vs Iceberg in THIS class — no snapshot isolation: a
lazy DataFrame obtained from ``read()``/``read_graph()`` pins the
*file listing* at creation time and becomes invalid once an
overwriting write replaces those files, whether this object or another
one on the same path made the write. Callers that re-use a
store-derived frame across writes must materialize it first
(``df.localCheckpoint(eager=True)``); ``_replace_graphs`` does this
internally for the rewrites above. ``SnapshotStore``
(``triples/snapshots.py``) closes the gap from first principles —
immutable data files + versioned manifests + create-if-absent commit —
with the same call surface plus time travel / rollback / vacuum; this
class remains the plain-parquet fast path for one-shot bulk loads.

Reads of an unchanged store are job-free: ``read()`` keeps its planned
scan and returns it again while the sorted ``(name, mtime)`` list of
the root's entries is unchanged. Every write changes that key — a
dynamic overwrite renames in fresh ``graph=`` directories, an append
adds files (bumping the directory's mtime), ``delete_graph`` removes a
name — and the key does not rely on a ``_SUCCESS`` marker, which
dynamic-overwrite commits do not write. The scan is reused only on
``file`` and ``hdfs`` paths, where a directory's mtime follows its
entries (at millisecond resolution); on any other scheme (``s3a``,
``gs``, …) every ``read()`` plans a fresh scan.

Layout for scale: partition by ``graph`` (the query workload is
graph-scoped: per-feed counts, graph-scoped import/export/clear —
docs/components/ldes-consumer.md:330-336), then repartition by
``(graph, subj)`` before writing so each file covers a subject range —
subject-joins downstream read co-located files (bucketing analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgap_spark import schemas as S
from kgap_spark.io import fs
from kgap_spark.session import local_frame

# Quad identity: the object TERM includes its language tag / datatype —
# "Paris"@en and "Paris"@fr are distinct statements, so merge/delete
# must key on all six columns or distinct literals silently collapse.
QUAD_KEY = ["subj", "pred", "obj", "obj_lang", "obj_datatype", "graph"]


def nullsafe_join(left: DataFrame, right: DataFrame, cols: list[str],
                  how: str) -> DataFrame:
    """semi/anti join with NULL-safe key equality: obj_lang/obj_datatype
    are NULL for plain literals, and SQL's NULL != NULL would make every
    plain-literal quad look new on every merge (or undeletable)."""
    r = right.select(*cols)
    for c in cols:
        r = r.withColumnRenamed(c, f"__r_{c}")
    cond = F.lit(True)
    for c in cols:
        cond = cond & left[c].eqNullSafe(F.col(f"__r_{c}"))
    return left.join(r, cond, how)


def _nullsafe_anti(left: DataFrame, right: DataFrame, cols: list[str]) -> DataFrame:
    return nullsafe_join(left, right, cols, "left_anti")


class TripleStore:
    def __init__(
        self, spark: SparkSession, path: str,
        files_per_graph: int | None = None,
        compact_threshold: int | None = 64,
    ):
        self.spark = spark
        self.path = path
        # write-partition count; None → session default parallelism so
        # the encode stage uses every core
        self.files_per_graph = files_per_graph
        # append-only merges grow a graph's file count by one delta per
        # Sync cycle; when a merged graph exceeds this many parquet
        # files it is auto-compacted after the merge (None disables —
        # callers then schedule compact() themselves)
        self.compact_threshold = compact_threshold
        # write-amplification observability: per-graph accounting of
        # the LAST merge's auto-compaction events (also returned by
        # merge() itself) — an operator watching Sync cycles reads
        # this instead of diffing fs listings
        self.last_compactions: list[dict] = []
        # (root listing key, planned scan) of the last read()
        self._scan: tuple[list, DataFrame] | None = None

    # -- reads --------------------------------------------------------
    # schemes whose directory mtimes change with their entries — the
    # only ones where read()'s listing key can prove the store unchanged
    _MTIME_SCHEMES = frozenset({"file", "hdfs"})

    def exists(self) -> bool:
        # Hadoop FS, not os.path: the store may live on s3a://hdfs://…
        # where a false "missing" would make merge() drop existing rows.
        return any(
            e.startswith("graph=") for e in fs.list_names(self.spark, self.path)
        )

    def read(self) -> DataFrame:
        """The whole store as a lazy scan in canonical column order,
        planned with the explicit canonical schema: no footer-inference
        job, and ``graph`` is always a string (a graph named ``"1.50"``
        is never inferred to a double). On ``file``/``hdfs`` paths the
        scan is kept and returned again while the sorted
        ``(name, mtime)`` list of root entries is unchanged, so a
        repeated read of an unchanged store launches no Spark job; any
        write, by this object or another on the same path, changes
        that key. Frames taken before a write still go stale (see the
        module docstring)."""
        entries = fs.list_status(self.spark, self.path)
        if not any(e["name"].startswith("graph=") for e in entries):
            return local_frame(self.spark, [], S.TRIPLES)
        key = sorted((e["name"], e["mtime"]) for e in entries)
        if self._scan is not None and self._scan[0] == key:
            return self._scan[1]
        # partition column comes back last; restore canonical order
        df = self.spark.read.schema(S.TRIPLES).parquet(self.path).select(
            [f.name for f in S.TRIPLES.fields]
        )
        if fs.scheme(self.spark, self.path) in self._MTIME_SCHEMES:
            self._scan = (key, df)
        return df

    def read_graph(self, graph: str) -> DataFrame:
        # predicate on the partition column → partition pruning
        return self._scan_graphs([graph])

    # -- writes -------------------------------------------------------
    def _prep(self, df: DataFrame) -> DataFrame:
        cols = [f.name for f in S.TRIPLES.fields]
        out = df.select(*cols)
        # a NULL graph would land in Hive's default partition, be
        # invisible to graph-pruned merges (IN (NULL) is never true),
        # and crash delete paths — fail inside the write, loudly
        out = out.withColumn(
            "graph",
            F.when(
                F.col("graph").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("NULL graph for subj "), F.col("subj"),
                        F.lit(" — pass default_graph when reading RDF"),
                    )
                ).cast("string"),
            ).otherwise(F.col("graph")),
        )
        n = max(self.spark.sparkContext.defaultParallelism * 2, 16)
        if self.files_per_graph and self.files_per_graph > 1:
            # explicit override: bounded subj-hash split per graph
            split = F.pmod(F.xxhash64("subj"), F.lit(self.files_per_graph))
            return out.repartition(n, "graph", split).sortWithinPartitions(
                "graph", "subj"
            )
        # Default: RANGE partition by (graph, subj). Three properties a
        # plain hash-by-graph can't combine:
        #   1. balanced tasks — ranges are cut from a sampled row-count
        #      distribution, so task sizes are even regardless of how
        #      skewed the per-graph row counts are;
        #   2. no hub-graph straggler — a graph bigger than one task is
        #      automatically split across consecutive subject ranges
        #      (web feeds are Zipfian across sites; hash-by-graph pins
        #      each graph to ONE task and the biggest feed serializes
        #      the stage);
        #   3. bounded file count — each task holds a CONTIGUOUS
        #      (graph, subj) range, so total files ≈ n_graphs + n_tasks,
        #      never tasks × graphs (which would make the dynamic
        #      partition-overwrite commit serial in the driver).
        # The within-task sort keeps subjects clustered for downstream
        # subject-join locality (bucketing analog).
        return out.repartitionByRange(n, "graph", "subj").sortWithinPartitions(
            "graph", "subj"
        )

    def append(self, df: DataFrame) -> None:
        """Replication mode: additions only (fast path)."""
        self._prep(df).write.mode("append").partitionBy("graph").parquet(self.path)

    def overwrite_graphs(self, df: DataFrame) -> None:
        """Replace exactly the graph partitions present in df
        (idempotent re-run of a source — the resume building block)."""
        (
            self._prep(df)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("graph")
            .parquet(self.path)
        )

    def merge(self, df: DataFrame) -> dict:
        """Sync mode: quad-level upsert — `MERGE INTO triples ON
        quad-key WHEN NOT MATCHED INSERT` ("no duplicate data
        ingestion", docs/components/ldes-consumer.md:589-590).
        Returns write-amplification accounting: affected-graph count
        and any auto-compaction events as
        ``{"graph", "files_before", "files_after"}`` dicts (also kept
        on ``self.last_compactions``).

        Append-only formulation: the update is anti-joined against the
        affected graphs' existing quad keys and ONLY the new quads are
        appended. Existing partition files are read, never rewritten —
        O(update) write instead of the previous O(graph) rewrite-and-
        checkpoint, which at 100 TB is the difference between a delta
        commit and re-writing a whole feed's history. No read-overwrite
        hazard either (append never deletes the files the anti-join is
        scanning), so no eager localCheckpoint. True replaces go
        through ``overwrite_graphs``; row removal through
        ``delete_quads``."""
        update = df.select([f.name for f in S.TRIPLES.fields]).dropDuplicates(
            QUAD_KEY
        )
        graphs = None
        if self.exists():
            update = update.localCheckpoint(eager=True)  # O(update), reused 2×
            graphs = self._graph_list(update)
            if graphs is not None:
                existing = self._scan_graphs(graphs)
            else:
                # past MAX_GRAPH_LIST: dynamic pruning, bounded driver
                existing = self._scan_graphs(None).join(
                    F.broadcast(update.select("graph").distinct()), "graph",
                    "left_semi",
                )
            new_quads = _nullsafe_anti(
                update, existing.select(*QUAD_KEY), QUAD_KEY
            )
        else:
            new_quads = update
        self.append(new_quads)
        # compaction trigger: each Sync delta appends files; past the
        # threshold a graph's scan fans out over tiny fragments, so
        # auto-compact it now (cheap check: one fs listing per affected
        # graph; skipped on the >MAX_GRAPH_LIST fallback path where
        # per-graph driver work is exactly what we're avoiding)
        events: list[dict] = []
        if graphs is not None and self.compact_threshold:
            over = {
                g: n for g in graphs
                if (n := self._n_graph_files(g)) > self.compact_threshold
            }
            if over:
                self.compact(list(over))
                events = [
                    {"graph": g, "files_before": n,
                     "files_after": self._n_graph_files(g)}
                    for g, n in over.items()
                ]
        self.last_compactions = events
        return {
            "graphs": len(graphs) if graphs is not None else None,
            "compacted": events,
        }

    # beyond this many distinct graphs, a driver-side isin list stops
    # being "static pruning" and becomes an unbounded collect + a huge
    # In-list plan — switch to a broadcast semi-join (graceful at
    # graph-per-source-file imports)
    MAX_GRAPH_LIST = 1000

    def _graph_list(self, update: DataFrame) -> list | None:
        """``update``'s distinct graphs as a driver list, or None when
        there are more than MAX_GRAPH_LIST (bounded collect)."""
        graphs = [
            r.graph
            for r in update.select("graph").distinct()
            .limit(self.MAX_GRAPH_LIST + 1).collect()
        ]
        return graphs if len(graphs) <= self.MAX_GRAPH_LIST else None

    def _live_graphs_of(self, update: DataFrame) -> list[str]:
        """``update``'s graphs that the store holds now. The live set
        comes from ``graphs()`` (a listing, no scan); past
        MAX_GRAPH_LIST the intersection runs as a broadcast semi-join
        against it, so the collect is bounded by the store's own graph
        count."""
        live = set(self.graphs())
        graphs = self._graph_list(update)
        if graphs is None:
            live_df = local_frame(
                self.spark, [(g,) for g in sorted(live)], "graph string")
            graphs = [
                r.graph for r in update.select("graph").distinct()
                .join(F.broadcast(live_df), "graph", "left_semi")
                .collect()
            ]
        return sorted(g for g in graphs if g in live)

    # -- physical primitives (SnapshotStore overrides these three) ----
    def _pin(self) -> int | None:
        """The version an operation reads and validates against: None
        here (this store keeps no versions)."""
        return None

    def _scan_graphs(self, graphs: list[str] | None,
                     at: int | None = None) -> DataFrame:
        """The store restricted to ``graphs`` (None: every graph). A
        partition filter: a driver-side isin list (static pruning) up
        to MAX_GRAPH_LIST graphs, a broadcast left-semi join (dynamic
        pruning) past it. ``at`` is unused here."""
        df = self.read()
        if graphs is None:
            return df
        if len(graphs) <= self.MAX_GRAPH_LIST:
            return df.filter(F.col("graph").isin(graphs))
        keep = local_frame(self.spark, [(g,) for g in graphs], "graph string")
        return df.join(F.broadcast(keep), "graph", "left_semi")

    def _replace_graphs(self, df: DataFrame, graphs: list[str],
                        at: int | None, op: str) -> None:
        """Afterwards exactly ``graphs`` hold ``df``'s rows (``df``
        lies inside ``graphs``). ``df`` is materialized first: it is
        usually derived from this store, and the overwrite deletes the
        files its plan reads. Graphs ``df`` leaves empty produce no
        output partition under dynamic overwrite, so they are deleted
        after the write — two physical steps, and a crash between them
        leaves those graphs populated (re-running the operation is the
        recovery). ``at`` and ``op`` are unused here."""
        df = df.localCheckpoint(eager=True)
        self.overwrite_graphs(df)
        kept = {r.graph for r in df.select("graph").distinct().collect()}
        self.delete_graphs([g for g in graphs if g not in kept])

    def _n_graph_files(self, graph: str) -> int:
        """Parquet file count of one graph partition (one fs listing)."""
        part = fs.join(self.path, f"graph={_escape_partition(graph)}")
        return sum(
            1 for name in fs.list_names(self.spark, part)
            if name.endswith(".parquet")
        )

    # -- logical update operators (over the primitives above) ---------
    def delete_quads(self, quads: DataFrame) -> None:
        """U2: DELETE DATA — remove specific quads
        (docs/quick-reference.md:234-237). Anti-join the affected
        graphs' content against the delete set and replace only those
        graphs (Iceberg row-level delete analog); graphs the delete
        empties are dropped. A delete set naming only absent graphs
        writes nothing.

        The delete set is materialized FIRST: it is consumed twice
        (graph discovery, anti-join), and ``quads`` may itself be
        derived from this store (SPARQL DELETE WHERE)."""
        at = self._pin()
        dels = quads.select(*QUAD_KEY).distinct().localCheckpoint(eager=True)
        graphs = self._live_graphs_of(dels)
        if not graphs:
            return
        remaining = _nullsafe_anti(self._scan_graphs(graphs, at), dels,
                                   QUAD_KEY)
        self._replace_graphs(remaining, graphs, at, "delete-quads")

    def compact(self, graphs: list[str] | None = None) -> dict:
        """Rewrite fragmented graphs (default: all) into the canonical
        range-partitioned layout. The append-only ``merge`` trades
        rewrite I/O for file-count growth — every Sync delta adds
        files — so periodic compaction is the operational counterpart
        (Iceberg's rewrite_data_files analog): read the graphs once,
        re-``_prep``, replace them. Returns per-call file accounting."""
        at = self._pin()
        if graphs is None:
            graphs = self.graphs()
        if not graphs:
            return {"graphs": 0, "files_before": 0, "files_after": 0}
        before = sum(self._n_graph_files(g) for g in graphs)
        self._replace_graphs(self._scan_graphs(graphs, at), graphs, at,
                             "compact")
        return {"graphs": len(graphs), "files_before": before,
                "files_after": sum(self._n_graph_files(g) for g in graphs)}

    def move_graph(self, src: str, dst: str) -> None:
        """Rename graph ``src`` to ``dst`` (dst replaced). An absent
        source is a no-op: it never wipes ``dst``. On this store the
        replace is copy-then-delete (see ``_replace_graphs``); the
        snapshot store commits it atomically."""
        at = self._pin()
        if src == dst or src not in self.graphs():
            return
        data = self._scan_graphs([src], at).withColumn("graph", F.lit(dst))
        self._replace_graphs(data, [src, dst], at, "move-graph")

    def delete_graph(self, graph: str) -> None:
        """Graph-scoped clear (reference: DELETE ?context=graph,
        docs/quick-reference.md:330-336). Partition drop = O(1) metadata
        in Iceberg; here: remove the partition directory via the Hadoop
        FS API (works on file://, hdfs://, s3a://…)."""
        part_dir = fs.join(self.path, f"graph={_escape_partition(graph)}")
        fs.delete(self.spark, part_dir)

    def delete_graphs(self, graphs: list[str]) -> None:
        """Drop several graphs. On this store: one directory delete
        each (the snapshot store overrides with a single atomic
        manifest commit)."""
        for g in graphs:
            self.delete_graph(g)

    def graphs(self) -> list[str]:
        """Live graph names from the physical layout — a partition-dir
        listing, no data scan (the snapshot store overrides with a
        manifest read)."""
        if not fs.exists(self.spark, self.path):
            return []
        return sorted(
            _unescape_partition(name[len("graph="):])
            for name in fs.list_names(self.spark, self.path)
            if name.startswith("graph=")
        )


# Hive's exact escape set (verified against Spark's partition writer:
# '}' is NOT escaped, '#'/'='/'?'/'\''/'*' ARE — a mismatch makes
# delete_graph/compact target a nonexistent directory and the graph
# silently survives a clear).
_HIVE_ESCAPED = set('"#%\'*/:=?\\{[]^') | {chr(c) for c in range(0x20)} | {"\x7f"}


def _escape_partition(value: str) -> str:
    """Hive partition-dir escaping, matching Spark's writer exactly."""
    return "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESCAPED else ch for ch in value
    )


def _unescape_partition(value: str) -> str:
    """Inverse of ``_escape_partition`` (and of Spark's writer)."""
    import re as _re

    return _re.sub(r"%([0-9A-Fa-f]{2})",
                   lambda m: chr(int(m.group(1), 16)), value)
