"""The triple store: immutable parquet data files under versioned
manifests.

k-gap writes every feed into one transactional GraphDB repository
(``graphdb/kgap/template-repo-config.ttl:15-41``) and offers two sink
modes over it (``ldes-consumer/README.md:147-149``): "Replication"
(append-only bulk load) and "Sync" (create/update/delete per member).
``TripleStore`` reproduces both over a ``graph``-partitioned table:

- ``append(df)``        → Replication mode (S3);
- ``overwrite_graphs``  → idempotent per-graph replace — the resume
  building block (S4/U3): exactly the graphs present in ``df`` are
  replaced, in one commit;
- ``merge(df)``         → Sync mode: quad-level upsert that appends
  only the quads the affected graphs lack (A7 — "no duplicate data
  ingestion", docs/components/ldes-consumer.md:589-590);
- ``delete_graph(s)``   → graph-scoped clear as a metadata commit (S7,
  docs/quick-reference.md:330-336);
- ``delete_quads``, ``compact``, ``move_graph`` → graph-scoped
  rewrites (U2, rewrite_data_files, SPARQL MOVE), one commit each.

Storage is kept apart from metadata (the Dremel split), with the public
table-format design implemented from first principles:

- **Data files are immutable.** Every write lands in a fresh
  ``_data/snap-<uuid>/graph=<g>/part-*.parquet`` tree; no commit ever
  deletes or rewrites a live file. Overwrites and deletes are manifest
  edits — the old files stay until ``expire_snapshots``. A DataFrame
  from ``read()`` therefore stays valid, and keeps answering as of its
  snapshot, across any number of later writes; a store-derived frame
  can feed a write to the same graphs with no checkpoint.
- **A two-level manifest per version.** ``_meta/v<N>.json`` names
  immutable manifest-PART files (``_meta/p-<uuid>.json``), each
  holding a slice of data-file entries (path, graph partition value,
  bytes) plus an operation summary. Commits are DELTAS: an append
  writes one new part and reuses every surviving part id verbatim —
  O(added files) metadata per commit, never a rewrite of the full
  table listing; graph drops rewrite only the parts containing the
  dropped graphs; rollback reuses part ids (pure metadata); past
  ``PART_CAP`` parts a commit merges them (the rewrite-manifests
  analog). Reads plan from the resolved entry list (manifest-level
  pruning: a graph-scoped read plans only that graph's files — no
  directory listing, no Hive pruning needed).
- **Commit = create-if-absent of the next manifest.** The committed
  version is the largest ``v<N>.json`` that exists AND parses;
  claiming ``v<N+1>`` with Hadoop ``create(path, overwrite=false)``
  is the compare-and-swap (atomic on HDFS; the ``file://`` test
  fallback and the S3 conditional-PUT seam are documented on
  ``fs.create_text_file``). A manifest torn by a crash mid-write never
  bricks the store: readers skip unparseable manifests, and a later
  committer deletes one after ``torn_grace_sec`` (a crashed writer)
  and re-claims the slot. Losing the race retries against the new
  tip: append-style commits replay unconditionally; overwrite-style
  commits (overwrite/compact/delete) re-validate that the affected
  graphs' file sets are unchanged since the snapshot their input was
  read from, else raise ``SnapshotConflictError`` — the same
  serializable-per-partition validation Iceberg applies. Pass
  ``expected_base=<version your read() used>`` to extend that
  validation across the full read→commit window; without it the
  window starts at the write call (both documented on
  ``overwrite_graphs``).
- **Reads are keyed by version.** Version files and parts are
  immutable once they parse, so their parses are memoized, and
  ``read()`` keeps the scan it planned for the current version:
  a repeated read of an unchanged store is one ``_meta`` listing and
  no Spark job. Any commit, by this object or another on the same
  path, moves the version and so the key.
- **Time travel and vacuum**: ``read(version=K)``, ``snapshots()``,
  ``read_changes(K)``, ``rollback(K)`` (an O(metadata) commit
  restoring K's file list) and ``expire_snapshots(keep_last=k)``, the
  one operation that deletes data files.

A directory holding ``graph=`` partitions but no manifests was written
by the earlier plain-parquet layout. It raises ``ValueError`` rather
than reading as an empty store; rewrite it into a new store.

Layout for scale: within a snapshot dir, partition by ``graph`` (the
query workload is graph-scoped: per-feed counts, graph-scoped
import/export/clear — docs/components/ldes-consumer.md:330-336), after
a range repartition by ``(graph, pred, obj, subj)`` into one task per
core, each sorted by that key and written with zstd. The order is
GraphDB's predicate list (``enablePredicateList``,
template-repo-config.ttl:33) as a file layout: each file holds a
contiguous predicate range, so the ``pred = <iri>`` filter that opens
every SPARQL pattern skips the row groups of other predicates through
parquet min/max pushdown, and the repeated ``pred``/``obj`` runs encode
small. At 100 TB the manifest is the only driver-side state: one JSON
entry per data file, bounded by that layout plus merge's
auto-compaction.
"""

from __future__ import annotations

import json
import re
import time
import uuid
from collections import Counter, defaultdict
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgap_spark import schemas as S
from kgap_spark.io import fs
from kgap_spark.session import local_frame

# Quad identity: the object TERM includes its language tag / datatype —
# "Paris"@en and "Paris"@fr are distinct statements, so merge/delete
# must key on all six columns or distinct literals silently collapse.
QUAD_KEY = ["subj", "pred", "obj", "obj_lang", "obj_datatype", "graph"]

# Physical layout of every data file: row order within a snapshot and
# the parquet codec (the session default, snappy, stays for every other
# writer).
SORT_KEY = ("graph", "pred", "obj", "subj")
CODEC = "zstd"

_MANIFEST_RE = re.compile(r"^v(\d+)\.json$")


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


class SnapshotConflictError(RuntimeError):
    """A concurrent commit changed an affected graph between this
    operation's read snapshot and its commit attempt."""


class SnapshotNotFoundError(ValueError):
    """The requested snapshot version has no readable manifest —
    expired (vacuumed), aborted mid-commit, or never committed.
    A dedicated type so consumers (e.g. the changelog cursor) can
    classify a vacuumed window without matching message text."""


class TripleStore:
    # a torn (unparseable) manifest younger than this may still be
    # mid-write by a live committer; older ones are crashed commits a
    # new committer may delete and re-claim
    torn_grace_sec: float = 60.0

    def __init__(self, spark: SparkSession, path: str,
                 compact_threshold: int | None = 64):
        self.spark = spark
        self.path = path
        self.data_dir = fs.join(path, "_data")
        self.meta_dir = fs.join(path, "_meta")
        # append-only merges grow a graph's file count by one delta per
        # Sync cycle; when a merged graph exceeds this many parquet
        # files it is auto-compacted after the merge (None disables —
        # callers then schedule compact() themselves)
        self.compact_threshold = compact_threshold
        # version → parsed manifest; safe because a manifest is
        # immutable once it parses (bounded: recent entries only)
        self._man_cache: dict[int, dict] = {}
        # (version, Counter) for _n_graph_files
        self._counts_cache: tuple[int, Counter] | None = None
        # part id → entries; parts are immutable once a version
        # references them (bounded, cleared past 256 entries)
        self._part_cache: dict[str, list[dict]] = {}
        # (version, planned scan) of the last current-version read()
        self._scan: tuple[int, DataFrame] | None = None

    # -- manifest layer ----------------------------------------------
    def _versions(self) -> list[int]:
        """Committed-or-claimed manifest version numbers, ascending
        (filename-based; torn manifests included — callers that need
        readability use ``current_version``). With none, ``graph=``
        directories at the root mean the earlier plain-parquet layout:
        it raises, since an empty read would let a resumed run skip
        graphs its lineage records as done."""
        vs = sorted(
            int(m.group(1))
            for name in fs.list_names(self.spark, self.meta_dir)
            if (m := _MANIFEST_RE.match(name))
        )
        if not vs and any(name.startswith("graph=")
                          for name in fs.list_names(self.spark, self.path)):
            raise ValueError(
                f"{self.path} holds graph= partition directories but no "
                "_meta/ manifests: it was written by the plain-parquet "
                "store layout, which is no longer read. Rewrite it into a "
                "new store: TripleStore(spark, new_path).overwrite_graphs("
                "spark.read.schema(schemas.TRIPLES).parquet(old_path))."
            )
        return vs

    def current_version(self) -> int:
        """Largest version whose manifest exists and parses (0 = empty
        store). A claimed-but-torn tip (crash mid-write, or a racing
        writer not yet closed) is skipped, never fatal."""
        for v in reversed(self._versions()):
            if self._try_manifest(v) is not None:
                return v
        return 0

    def _manifest_path(self, version: int) -> str:
        return fs.join(self.meta_dir, f"v{version}.json")

    def _try_manifest(self, version: int) -> dict | None:
        """Parse manifest ``version``; None if missing or torn.
        Positive results are memoized (manifests are immutable once
        parseable); negatives are not (a slow writer may complete)."""
        if version in self._man_cache:
            return self._man_cache[version]
        try:
            raw = fs.read_text_file(self.spark, self._manifest_path(version))
            man = json.loads(raw)
        except Exception:
            return None
        if len(self._man_cache) > 16:
            self._man_cache.clear()
        self._man_cache[version] = man
        return man

    def _manifest(self, version: int) -> dict:
        if version == 0:
            return {"version": 0, "parent": None, "operation": "init",
                    "files": []}
        man = self._try_manifest(version)
        if man is None:
            raise SnapshotNotFoundError(
                f"snapshot v{version} does not exist or is torn "
                f"(expired, aborted, or never committed; "
                f"current={self.current_version()})"
            )
        return man

    # -- manifest parts (two-level manifests) --------------------------
    # A version file does not embed the data-file list: it names
    # immutable manifest-PART files (`_meta/p-<uuid>.json`), each
    # holding a slice of entries. An append writes ONE new part and a
    # version file listing the surviving part ids — O(added files),
    # never O(table). Graph drops rewrite only the parts that contain
    # the dropped graphs; rollback reuses the old version's part ids
    # verbatim (pure metadata). When a version accumulates more than
    # PART_CAP parts they are merged into one (the rewrite-manifests
    # analog, amortized O(files)/PART_CAP per commit). Parts are
    # written BEFORE the version CAS, so a crash or lost race leaves
    # only orphan part files — swept by
    # ``expire_snapshots(sweep_orphans=True)``, never referenced.

    #: merge manifest parts when a commit would exceed this many
    PART_CAP: int = 64

    def _part_path(self, pid: str) -> str:
        return fs.join(self.meta_dir, f"{pid}.json")

    def _part_entries(self, pid: str) -> list[dict]:
        if pid not in self._part_cache:
            raw = fs.read_text_file(self.spark, self._part_path(pid))
            if len(self._part_cache) > 256:
                self._part_cache.clear()
            self._part_cache[pid] = json.loads(raw)["entries"]
        return self._part_cache[pid]

    def _write_part(self, entries: list[dict]) -> str:
        pid = f"p-{uuid.uuid4().hex[:12]}"
        fs.write_text_file(self.spark, self._part_path(pid),
                           json.dumps({"entries": entries}))
        # bound the cache on the WRITE path too: a long-lived writer
        # commits thousands of parts and its reads always hit, so the
        # miss-path eviction alone never fires
        if len(self._part_cache) > 256:
            self._part_cache.clear()
        self._part_cache[pid] = list(entries)
        return pid

    def _parts_of(self, man: dict) -> list[str]:
        return list(man.get("parts", []))

    def _files(self, version: int) -> list[dict]:
        man = self._manifest(version)
        if "parts" in man:
            return [e for pid in man["parts"]
                    for e in self._part_entries(pid)]
        # v0 and legacy single-level manifests embed the list directly
        return man["files"]

    def _commit(self, op: str, add: list[dict] = (),
                drop_graphs: set[str] | None = None,
                replace_files: list[dict] | None = None,
                replace_parts: list[str] | None = None,
                expected_base: int | None = None,
                max_retries: int = 5) -> int:
        """Claim the next manifest version. Retries against a moved
        tip; overwrite-style commits (``drop_graphs``/``replace_files``
        with ``expected_base``) first validate that no affected graph
        changed since ``expected_base``. A torn manifest blocking the
        next slot is deleted and re-claimed once older than
        ``torn_grace_sec``. The added entries are written as ONE part
        file up front (reused across CAS retries); parts orphaned by a
        failed commit are swept by the vacuum, never referenced."""
        add = list(add)
        add_pid = self._write_part(add) if add else None
        for _ in range(max_retries):
            cur = self.current_version()
            if expected_base is not None and cur != expected_base:
                affected = (drop_graphs if drop_graphs is not None
                            else {e["graph"] for e in add})
                base_set = {
                    e["path"] for e in self._files(expected_base)
                    if e["graph"] in affected
                }
                cur_set = {
                    e["path"] for e in self._files(cur)
                    if e["graph"] in affected
                }
                if base_set != cur_set:
                    raise SnapshotConflictError(
                        f"{op}: graphs {sorted(affected)[:5]} changed "
                        f"between v{expected_base} and v{cur}"
                    )
            if replace_parts is not None:
                parts = list(replace_parts)
            elif replace_files is not None:
                parts = ([self._write_part(list(replace_files))]
                         if replace_files else [])
            else:
                cur_man = self._manifest(cur)
                if "parts" in cur_man:
                    parts = list(cur_man["parts"])
                elif cur_man["files"]:
                    # legacy single-level manifest: wrap once
                    parts = [self._write_part(cur_man["files"])]
                else:
                    parts = []
                if drop_graphs:
                    kept_parts = []
                    for pid in parts:
                        ents = self._part_entries(pid)
                        kept = [e for e in ents
                                if e["graph"] not in drop_graphs]
                        if len(kept) == len(ents):
                            kept_parts.append(pid)    # untouched part
                        elif kept:
                            kept_parts.append(self._write_part(kept))
                        # fully-dropped part: omitted
                    parts = kept_parts
                if add_pid is not None:
                    parts.append(add_pid)
                if len(parts) > self.PART_CAP:
                    merged = [e for pid in parts
                              for e in self._part_entries(pid)]
                    parts = [self._write_part(merged)] if merged else []
            total = [e for pid in parts for e in self._part_entries(pid)]
            manifest = {
                "version": cur + 1,
                "parent": cur,
                "operation": op,
                "ts": time.time(),
                "summary": {
                    "added_files": len(add),
                    "total_files": len(total),
                    "total_bytes": sum(e.get("bytes", 0) for e in total),
                },
                "parts": parts,
            }
            if fs.create_text_file(
                self.spark, self._manifest_path(cur + 1),
                json.dumps(manifest),
            ):
                return cur + 1
            # slot taken: by a completed commit (loop re-reads the
            # tip) or by a torn manifest from a crashed writer —
            # recover the latter after the grace window
            self._recover_torn(cur + 1)
            if (self.current_version() == cur
                    and self._try_manifest(cur + 1) is None):
                # the slot is blocked by a torn manifest still inside
                # torn_grace_sec (its writer may be mid-close), not by
                # a completed commit: back off instead of burning the
                # remaining retries in microseconds
                time.sleep(min(0.05 * (2 ** _), 1.0))
        raise SnapshotConflictError(
            f"{op}: could not claim manifest v{self.current_version() + 1} "
            f"after {max_retries} attempts (heavy commit contention, or a "
            f"torn manifest younger than torn_grace_sec="
            f"{self.torn_grace_sec}s holding the slot — retry after the "
            f"grace window)"
        )

    def _recover_torn(self, version: int) -> None:
        """Delete a claimed-but-unparseable manifest older than
        ``torn_grace_sec`` so its slot can be re-claimed (crashed
        committer). Younger torn files are left alone — their writer
        may still be mid-close."""
        if self._try_manifest(version) is not None:
            return
        for ent in fs.list_status(self.spark, self.meta_dir):
            if (ent["name"] == f"v{version}.json"
                    and time.time() - ent["mtime"] > self.torn_grace_sec):
                fs.delete(self.spark, self._manifest_path(version))
                return

    def _write_snap(self, df: DataFrame) -> tuple[str, list[dict]]:
        """Write ``df`` to a fresh immutable snapshot dir; return
        ``(snap_rel, entries)`` with manifest entries (path relative
        to ``_data``, graph, bytes)."""
        snap_rel = f"snap-{uuid.uuid4().hex[:12]}"
        snap_dir = fs.join(self.data_dir, snap_rel)
        (
            self._prep(df)
            .write.mode("error")
            .option("compression", CODEC)
            .partitionBy("graph")
            .parquet(snap_dir)
        )
        entries = []
        for path, length in fs.list_files(self.spark, snap_dir):
            part, name = path.rsplit("/", 2)[-2:]
            if part.startswith("graph=") and name.endswith(".parquet"):
                entries.append({
                    "path": f"{snap_rel}/{part}/{name}",
                    "graph": _unescape_partition(part[len("graph="):]),
                    "bytes": length,
                })
        return snap_rel, entries

    def _commit_snap(self, op: str, snap_rel: str, add: list[dict],
                     **kwargs) -> int:
        """_commit, deleting the just-written snapshot dir if the
        commit fails — a refused commit must not leak data files (the
        vacuum only tracks files that made it into a manifest)."""
        try:
            return self._commit(op, add=add, **kwargs)
        except Exception:
            fs.delete(self.spark, fs.join(self.data_dir, snap_rel))
            raise

    # -- reads --------------------------------------------------------
    def exists(self) -> bool:
        return bool(self._files(self.current_version()))

    def _load_files(self, entries: list[dict]) -> DataFrame:
        """Plan a scan over exactly these manifest entries. Files are
        grouped per snapshot dir (each needs its own ``basePath`` for
        the ``graph=`` partition column to parse); every branch reads
        with the explicit canonical schema — the partition column's
        type is taken from it, so a numeric-looking graph name
        ("1.50") can never be inferred to double and round-trip
        wrong, and footer-sampling schema inference is skipped."""
        if not entries:
            return local_frame(self.spark, [], S.TRIPLES)
        by_dir: dict[str, list[str]] = defaultdict(list)
        for e in entries:
            snap_rel = e["path"].split("/", 1)[0]
            by_dir[snap_rel].append(fs.join(self.data_dir, e["path"]))
        cols = [f.name for f in S.TRIPLES.fields]
        parts = []
        for snap_rel, paths in sorted(by_dir.items()):
            base = fs.join(self.data_dir, snap_rel)
            parts.append(
                self.spark.read.schema(S.TRIPLES)
                .option("basePath", base)
                .parquet(*paths)
                .select(*cols)
            )
        return reduce(lambda a, b: a.unionByName(b), parts)

    def read(self, version: int | None = None) -> DataFrame:
        """The store as of ``version`` (default: current) in canonical
        column order. The plan embeds the snapshot's explicit file
        list, so it stays valid — and keeps answering as of that
        snapshot — across later writes (until the snapshot is
        expired). The scan of the current version is kept and returned
        again while the version is unchanged: planning a scan of more
        than 32 files runs a listing job, a repeated read runs none."""
        if version is not None:
            return self._load_files(self._files(version))
        v = self.current_version()
        if self._scan is None or self._scan[0] != v:
            self._scan = (v, self._load_files(self._files(v)))
        return self._scan[1]

    def read_graph(self, graph: str) -> DataFrame:
        return self._scan_graphs([graph])

    def _scan_graphs(self, graphs: list[str] | None,
                     at: int | None = None) -> DataFrame:
        """Manifest-level pruning: exactly ``graphs``' files (None:
        every graph) as of version ``at`` (default: current) enter
        the plan — no directory listing, no partition filter."""
        files = self._files(self.current_version() if at is None else at)
        if graphs is not None:
            gset = set(graphs)
            files = [e for e in files if e["graph"] in gset]
        return self._load_files(files)

    def _n_graph_files(self, graph: str) -> int:
        """Live file count of one graph — a manifest scan, not an fs
        listing, memoized per version: ``merge`` and ``compact`` ask
        once per graph, which must not re-scan the manifest each
        time."""
        v = self.current_version()
        if self._counts_cache is None or self._counts_cache[0] != v:
            self._counts_cache = (
                v, Counter(e["graph"] for e in self._files(v)))
        return self._counts_cache[1][graph]

    def graphs(self) -> list[str]:
        """Live graph names from the current manifest — O(metadata),
        no data scan, no directory listing."""
        return sorted({
            e["graph"] for e in self._files(self.current_version())
        })

    def _diff_filesets(self, files_a: list[dict],
                       files_b: list[dict]) -> tuple[DataFrame, DataFrame]:
        """(inserts, deletes) going from file list ``a`` to ``b``,
        planned with two levels of pruning so the cost is O(rows in
        files actually touched), never O(table):

        - **File-level**: a path present in both manifests is an
          immutable file — identical content, skipped entirely.
        - **Graph-level**: a graph whose changed files all sit on ONE
          side needs no content diff — its rows are pure inserts (new
          files in an appended/new graph) or pure deletes (a dropped
          graph). Only graphs with changed files on BOTH sides (an
          overwrite/delete-quads/compaction rewrite) pay the
          ``exceptAll`` shuffle, and only over those graphs' changed
          files.

        ``exceptAll`` is multiset difference over all columns, so a
        rewrite that re-emits identical content (compaction, a
        rollback past a rollback) nets to zero changes — the changelog
        reports LOGICAL change, not file churn."""
        paths_a = {e["path"] for e in files_a}
        paths_b = {e["path"] for e in files_b}
        only_a = [e for e in files_a if e["path"] not in paths_b]
        only_b = [e for e in files_b if e["path"] not in paths_a]
        mixed = ({e["graph"] for e in only_a}
                 & {e["graph"] for e in only_b})
        ins = self._load_files(
            [e for e in only_b if e["graph"] not in mixed])
        dels = self._load_files(
            [e for e in only_a if e["graph"] not in mixed])
        if mixed:
            new = self._load_files(
                [e for e in only_b if e["graph"] in mixed])
            old = self._load_files(
                [e for e in only_a if e["graph"] in mixed])
            ins = ins.unionByName(new.exceptAll(old))
            dels = dels.unionByName(old.exceptAll(new))
        return ins, dels

    def read_changes(self, from_version: int,
                     to_version: int | None = None,
                     net: bool = True) -> DataFrame:
        """Incremental (changelog) scan: the logical row changes going
        from snapshot ``from_version`` to ``to_version`` (default:
        current tip), as the table columns plus ``_change``
        (``insert`` | ``delete``). This is what a resumable downstream
        consumer polls instead of re-reading the table: record the
        version you last processed, then
        ``read_changes(last_seen)`` + ``current_version()`` on each
        cycle — the plan touches only files that changed (public table
        formats call this an incremental/changelog scan; same design:
        manifest diff first, content diff only where file sets
        overlap per graph, see ``_diff_filesets``).

        ``net=True`` (default) diffs the two endpoint manifests in one
        pass: row churn that cancels out inside the window (an insert
        later deleted, a compaction rewrite, a rollback that restores
        the starting file list) is absent from the result. ``net=False``
        walks each commit in ``(from, to]`` and emits its individual
        changes tagged with ``_commit_version`` — an audit/CDC view;
        every intermediate manifest must still be live (a vacuumed
        window raises, same as ``read(version=...)``)."""
        end = self.current_version() if to_version is None else to_version
        if from_version > end:
            raise ValueError(
                f"read_changes: from_version {from_version} is newer "
                f"than to_version {end}"
            )
        if net:
            ins, dels = self._diff_filesets(
                self._files(from_version), self._files(end))
            return (
                ins.withColumn("_change", F.lit("insert"))
                .unionByName(dels.withColumn("_change", F.lit("delete")))
            )
        parts = []
        prev = self._files(from_version)
        for v in range(from_version + 1, end + 1):
            cur = self._files(v)
            ins, dels = self._diff_filesets(prev, cur)
            parts.append(
                ins.withColumn("_change", F.lit("insert"))
                .unionByName(dels.withColumn("_change", F.lit("delete")))
                .withColumn("_commit_version", F.lit(v))
            )
            prev = cur
        if not parts:
            empty = self._load_files([]).withColumn(
                "_change", F.lit("insert"))
            return empty.withColumn("_commit_version", F.lit(0)).limit(0)
        return reduce(lambda a, b: a.unionByName(b), parts)

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
        # RANGE partition by the sort key into one task per core. Three
        # properties a plain hash-by-graph can't combine:
        #   1. balanced tasks — ranges are cut from a sampled row-count
        #      distribution, so task sizes are even regardless of how
        #      skewed the per-graph row counts are;
        #   2. no hub-graph straggler — a graph bigger than one task is
        #      automatically split across consecutive key ranges (web
        #      feeds are Zipfian across sites; hash-by-graph pins each
        #      graph to ONE task and the biggest feed serializes the
        #      stage);
        #   3. bounded file count — each task holds a CONTIGUOUS key
        #      range, so total files ≈ n_graphs + n_tasks, never
        #      tasks × graphs (which would make the commit's file
        #      listing and the manifest grow by the product).
        # Within a graph the key is predicate-major, so files and their
        # row groups cover narrow predicate ranges (see module docstring).
        n = self.spark.sparkContext.defaultParallelism
        return out.repartitionByRange(n, *SORT_KEY).sortWithinPartitions(
            *SORT_KEY)

    def append(self, df: DataFrame) -> None:
        """Replication mode: immutable snapshot dir + add-files commit
        (unconditionally replayable under concurrency)."""
        snap_rel, entries = self._write_snap(df)
        self._commit_snap("append", snap_rel, entries)

    def overwrite_graphs(self, df: DataFrame,
                         expected_base: int | None = None) -> None:
        """Replace exactly the graph partitions present in ``df``
        (idempotent re-run of a source — the resume building block).
        The affected-graph set is derived from the written snapshot
        dir's partition values — no driver-side collect of ``df``.
        Readers of older snapshots are untouched (their files stay
        live until ``expire_snapshots``), which is why ``df`` itself
        may be derived from this store with no checkpoint.

        ``expected_base`` extends the conflict validation window: pass
        the version your input was read from
        (``v = store.current_version(); df = store.read(version=v)``)
        and a concurrent commit that touched the same graphs anywhere
        in the read→commit window raises ``SnapshotConflictError``
        instead of being silently overwritten. Without it the window
        starts here (single-logical-writer-per-graph deployments don't
        need more)."""
        base = (self.current_version() if expected_base is None
                else expected_base)
        snap_rel, entries = self._write_snap(df)
        self._commit_snap("overwrite", snap_rel, entries,
                          drop_graphs={e["graph"] for e in entries},
                          expected_base=base)

    def merge(self, df: DataFrame) -> dict:
        """Sync mode: quad-level upsert — `MERGE INTO triples ON
        quad-key WHEN NOT MATCHED INSERT` ("no duplicate data
        ingestion", docs/components/ldes-consumer.md:589-590).
        Returns write-amplification accounting: affected-graph count
        and any auto-compaction events as
        ``{"graph", "files_before", "files_after"}`` dicts.

        Append-only formulation: the update is anti-joined against the
        affected graphs' existing quad keys and ONLY the new quads are
        appended. Existing data files are read, never rewritten —
        O(update) write instead of an O(graph) rewrite, which at
        100 TB is the difference between a delta commit and
        re-writing a whole feed's history. True replaces go through
        ``overwrite_graphs``; row removal through ``delete_quads``."""
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
        # auto-compact it now (cheap check: manifest counts; skipped on
        # the >MAX_GRAPH_LIST fallback path where per-graph driver work
        # is exactly what we're avoiding)
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
        return {
            "graphs": len(graphs) if graphs is not None else None,
            "compacted": events,
        }

    # beyond this many distinct graphs, a driver-side graph list stops
    # being cheap pruning and becomes an unbounded collect — switch to
    # a broadcast semi-join (graceful at graph-per-source-file imports)
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
        comes from ``graphs()`` (a manifest read, no scan); past
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

    def _replace_graphs(self, df: DataFrame, graphs: list[str],
                        at: int, op: str) -> None:
        """Afterwards exactly ``graphs`` hold ``df``'s rows, in ONE
        commit validated against version ``at``: ``df`` lands in a
        fresh snapshot dir and one manifest swap drops every file of
        ``graphs`` while adding the new ones, so graphs ``df`` leaves
        empty leave the manifest. No checkpoint: ``df``'s plan reads
        immutable files the commit never touches."""
        snap_rel, entries = self._write_snap(df)
        self._commit_snap(op, snap_rel, entries, drop_graphs=set(graphs),
                          expected_base=at)

    # -- graph-scoped rewrites (each reads the version it starts at) ---
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
        at = self.current_version()
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
        at = self.current_version()
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
        """Rename graph ``src`` to ``dst`` (dst replaced) in one
        commit. An absent source is a no-op: it never wipes ``dst``."""
        at = self.current_version()
        if src == dst or src not in self.graphs():
            return
        data = self._scan_graphs([src], at).withColumn("graph", F.lit(dst))
        self._replace_graphs(data, [src, dst], at, "move-graph")

    def delete_graph(self, graph: str) -> None:
        """Graph-scoped clear (reference: DELETE ?context=graph,
        docs/quick-reference.md:330-336) as a metadata-only commit:
        zero data movement regardless of graph size."""
        self._commit("delete-graph", drop_graphs={graph},
                     expected_base=self.current_version())

    def delete_graphs(self, graphs: list[str]) -> None:
        """Drop several graphs in ONE metadata commit — CLEAR ALL on a
        thousand-graph store is a single manifest swap."""
        if graphs:
            self._commit("delete-graphs", drop_graphs=set(graphs),
                         expected_base=self.current_version())

    # -- snapshot management ------------------------------------------
    def snapshots(self) -> list[dict]:
        """Commit log, oldest first: one row per live, parseable
        manifest."""
        out = []
        for v in self._versions():
            man = self._try_manifest(v)
            if man is None:
                continue
            out.append({
                "version": v,
                "parent": man.get("parent"),
                "operation": man.get("operation"),
                "ts": man.get("ts"),
                **man.get("summary", {}),
            })
        return out

    def _validate_rollback_target(self, man: dict) -> None:
        """Fresh (cache-bypassing) re-parse of the target's parts and
        existence probes for every data file they reference — a
        concurrent ``expire_snapshots`` between reading the target
        manifest and the CAS can delete both, and committing a tip
        over deleted metadata/data is effective data loss. Raises
        ``SnapshotConflictError`` on any missing piece."""
        try:
            if "parts" in man:
                entries = []
                for pid in man["parts"]:
                    raw = fs.read_text_file(self.spark,
                                            self._part_path(pid))
                    entries.extend(json.loads(raw)["entries"])
            else:
                entries = list(man["files"])
        except Exception as e:
            raise SnapshotConflictError(
                f"rollback to v{man['version']}: manifest part vanished "
                f"mid-flight (concurrent expire_snapshots?): {e}"
            ) from e
        for e in entries:
            if not fs.exists(self.spark, fs.join(self.data_dir, e["path"])):
                raise SnapshotConflictError(
                    f"rollback to v{man['version']}: data file "
                    f"{e['path']} was vacuumed mid-flight "
                    "(concurrent expire_snapshots)"
                )

    def rollback(self, version: int) -> int:
        """Restore snapshot ``version``'s exact file list as a NEW
        commit (history is preserved). With two-level manifests this
        reuses the old version's part ids verbatim — O(1) metadata,
        no part rewrite.

        Validated against a concurrent vacuum: parts and data files
        are re-checked both before the CAS and after it; if a vacuum
        won the race after the CAS, the just-committed manifest is
        removed again (the store's normal torn-tip recovery shape) and
        ``SnapshotConflictError`` raised, so the live tip never
        references deleted metadata or data."""
        man = self._manifest(version)  # raises if expired/unknown
        self._validate_rollback_target(man)
        if "parts" in man:
            new_v = self._commit("rollback",
                                 replace_parts=list(man["parts"]))
        else:
            new_v = self._commit("rollback", replace_files=man["files"])
        try:
            self._validate_rollback_target(man)
        except SnapshotConflictError:
            # undo: drop our manifest so the tip falls back to the
            # parent (readers see at worst a torn tip, which every
            # path already tolerates), then surface the conflict. The
            # slot can be claimed again with other content, so nothing
            # keyed by new_v may survive here.
            fs.delete(self.spark, self._manifest_path(new_v),
                      recursive=False)
            self._man_cache.pop(new_v, None)
            self._scan = None
            raise
        return new_v

    def expire_snapshots(self, keep_last: int = 1,
                         sweep_orphans: bool = False,
                         orphan_grace_sec: float = 3600.0) -> dict:
        """Vacuum: drop all but the newest ``keep_last`` manifests and
        delete every data file only they referenced. The one operation
        that removes data files — never run it with readers holding
        snapshots older than the kept window.

        Crash-safe ordering: expired MANIFESTS are deleted first, then
        their files — a crash mid-vacuum can only leave orphan files
        (harmless, removable by a later ``sweep_orphans=True`` run),
        never a live manifest referencing deleted data.
        ``sweep_orphans`` additionally removes snapshot dirs that no
        remaining manifest references at all (failed commits already
        clean up after themselves; this catches crashed ones) once
        older than ``orphan_grace_sec`` — the grace window keeps the
        sweep from racing an in-flight ``_write_snap``."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        # the keep window counts PARSEABLE manifests only: a torn
        # (claimed-but-unreadable) tip must never displace the live
        # snapshot out of the window — with filename-based counting,
        # keep_last=1 under a torn tip would vacuum the current
        # snapshot's manifest and data (total data loss). Torn
        # manifests are not expired here either; past the grace
        # window they are recovered like on the commit path.
        vs = [v for v in self._versions()
              if self._try_manifest(v) is not None]
        keep = set(vs[-keep_last:])
        expire = [v for v in vs if v not in keep]
        for v in set(self._versions()) - set(vs):
            self._recover_torn(v)
        referenced = {e["path"] for v in keep for e in self._files(v)}
        kept_parts = {
            pid for v in keep for pid in self._parts_of(self._manifest(v))
        }
        dropped_paths = {
            e["path"] for v in expire for e in self._files(v)
        } - referenced
        expired_parts = {
            pid for v in expire
            for pid in self._parts_of(self._manifest(v))
        } - kept_parts
        # manifests FIRST (see docstring), then parts, then data files
        for v in expire:
            fs.delete(self.spark, self._manifest_path(v))
            self._man_cache.pop(v, None)
        for pid in expired_parts:
            fs.delete(self.spark, self._part_path(pid))
            self._part_cache.pop(pid, None)
        for rel in dropped_paths:
            fs.delete(self.spark, fs.join(self.data_dir, rel),
                      recursive=False)
        # prune snapshot dirs emptied by the file deletes
        for snap_rel in {p.split("/", 1)[0] for p in dropped_paths}:
            self._delete_snap_dir_if_dead(snap_rel)
        swept = 0
        if sweep_orphans:
            ref_dirs = {p.split("/", 1)[0] for p in referenced}
            now = time.time()
            for ent in fs.list_status(self.spark, self.data_dir):
                if (ent["is_dir"] and ent["name"].startswith("snap-")
                        and ent["name"] not in ref_dirs
                        and now - ent["mtime"] > orphan_grace_sec):
                    fs.delete(self.spark,
                              fs.join(self.data_dir, ent["name"]))
                    swept += 1
            # orphan manifest PARTS: written by crashed/lost commits,
            # referenced by no live version (age-gated like snap dirs)
            for ent in fs.list_status(self.spark, self.meta_dir):
                name = ent["name"]
                if (name.startswith("p-") and name.endswith(".json")
                        and name[:-5] not in kept_parts
                        and now - ent["mtime"] > orphan_grace_sec):
                    fs.delete(self.spark, fs.join(self.meta_dir, name))
                    self._part_cache.pop(name[:-5], None)
                    swept += 1
        return {"expired": expire, "deleted_files": len(dropped_paths),
                "swept_orphan_dirs": swept}

    def _delete_snap_dir_if_dead(self, snap_rel: str) -> None:
        snap_dir = fs.join(self.data_dir, snap_rel)
        if not any(path.endswith(".parquet")
                   for path, _ in fs.list_files(self.spark, snap_dir)):
            fs.delete(self.spark, snap_dir)


def _unescape_partition(value: str) -> str:
    """Decode a Hive-escaped ``graph=`` directory name back to the
    graph value Spark's partition writer escaped."""
    return re.sub(r"%([0-9A-Fa-f]{2})",
                  lambda m: chr(int(m.group(1), 16)), value)
