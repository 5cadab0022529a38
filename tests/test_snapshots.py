"""TripleStore manifests: snapshot isolation over immutable parquet
files, time travel, changelog scans and vacuum (the transactional-store
analog of the reference's GraphDB repository,
graphdb/kgap/template-repo-config.ttl).
"""

from __future__ import annotations

import glob
import json

import pytest
from pyspark.sql import functions as F

from kgap_spark import schemas as S
from kgap_spark.triples import SnapshotConflictError, TripleStore


def _quads(spark, rows):
    return spark.createDataFrame(
        [(s, p, o, None, None, g, None) for s, p, o, g in rows], S.TRIPLES
    )


def _data_files(path: str) -> list[str]:
    return glob.glob(f"{path}/_data/snap-*/graph=*/*.parquet")


def test_snapshot_isolation_read_survives_overwrite(spark, tmp_path):
    """A lazy DataFrame from read() stays valid across an overwriting
    write — no localCheckpoint — and keeps answering as of its
    snapshot."""
    st = TripleStore(spark, str(tmp_path / "s"))
    g = "urn:g:1"
    st.append(_quads(spark, [("a", "p", "1", g), ("b", "p", "2", g)]))

    held = st.read()  # NOT checkpointed, NOT collected
    st.overwrite_graphs(_quads(spark, [("a", "p", "9", g)]))

    # the held plan still reads its snapshot's files
    assert {(r.subj, r.obj) for r in held.collect()} == {("a", "1"),
                                                         ("b", "2")}
    # a fresh read sees the overwrite
    assert {(r.subj, r.obj) for r in st.read().collect()} == {("a", "9")}


def test_read_derived_write_needs_no_checkpoint(spark, tmp_path):
    """A store-derived DataFrame can feed an overwrite of the same
    graphs directly: the write lands in a fresh snapshot dir, so the
    input plan's files are never touched mid-job."""
    st = TripleStore(spark, str(tmp_path / "s"))
    g = "urn:g:1"
    st.append(_quads(spark, [("a", "p", "1", g), ("b", "p", "2", g)]))
    derived = st.read().withColumn(
        "obj", F.concat(F.col("obj"), F.lit("!"))
    )
    st.overwrite_graphs(derived)  # no localCheckpoint anywhere
    assert {r.obj for r in st.read().collect()} == {"1!", "2!"}


def test_parity_with_triplestore_operation_script(spark, tmp_path):
    """One operation script over every logical operator lands on the
    expected final content and graphs."""
    from kgap_spark.query.sparql import execute_sparql_update

    ops_rows = {
        "append1": [("a", "p", "1", "urn:g:1"), ("b", "p", "2", "urn:g:2")],
        "merge1": [("a", "p", "1", "urn:g:1"), ("c", "p", "3", "urn:g:1")],
        "over": [("d", "p", "4", "urn:g:2")],
        "merge2": [("c", "p", "3", "urn:g:1"), ("e", "p", "5", "urn:g:3")],
        "append2": [("f", "old:p", "6", "urn:g:4"), ("g", "p", "7", "urn:g:5"),
                    ("h", "p", "8", "urn:g:5"), ("x", "p", "0", "urn:g:6")],
    }
    st = TripleStore(spark, str(tmp_path / "s"))
    st.append(_quads(spark, ops_rows["append1"]))
    st.merge(_quads(spark, ops_rows["merge1"]))
    st.overwrite_graphs(_quads(spark, ops_rows["over"]))
    st.merge(_quads(spark, ops_rows["merge2"]))
    st.delete_graph("urn:g:3")
    st.delete_quads(_quads(spark, [("c", "p", "3", "urn:g:1")]))
    # a delete that EMPTIES a graph must drop it entirely
    st.delete_quads(_quads(spark, [("d", "p", "4", "urn:g:2")]))
    st.append(_quads(spark, ops_rows["append2"]))
    st.compact()
    st.move_graph("urn:g:4", "urn:g:6")       # dst replaced
    st.move_graph("urn:g:absent", "urn:g:5")  # no-op, dst kept
    execute_sparql_update(st, """
        DELETE { GRAPH ?g { ?s <old:p> ?o } }
        INSERT { GRAPH ?g { ?s <new:p> ?o } }
        WHERE  { GRAPH ?g { ?s <old:p> ?o } }""")
    result = (
        sorted((r.subj, r.pred, r.obj, r.graph) for r in st.read().collect()),
        st.graphs(),
    )
    assert result == (
        [("a", "p", "1", "urn:g:1"), ("f", "new:p", "6", "urn:g:6"),
         ("g", "p", "7", "urn:g:5"), ("h", "p", "8", "urn:g:5")],
        ["urn:g:1", "urn:g:5", "urn:g:6"],
    )


def test_logical_operators_are_one_commit_each(spark, tmp_path):
    """delete_quads, compact and move_graph each advance the store by
    exactly one version."""
    st = TripleStore(spark, str(tmp_path / "s"))
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1"),
                             ("b", "p", "2", "urn:g:1"),
                             ("c", "p", "3", "urn:g:2")]))
    ops = {
        "delete-quads": lambda: st.delete_quads(
            _quads(spark, [("a", "p", "1", "urn:g:1")])),
        "compact": st.compact,
        "move-graph": lambda: st.move_graph("urn:g:2", "urn:g:3"),
    }
    for name, op in ops.items():
        v = st.current_version()
        op()
        assert st.current_version() == v + 1
        assert st.snapshots()[-1]["operation"] == name
    assert sorted((r.subj, r.graph) for r in st.read().collect()) == [
        ("b", "urn:g:1"), ("c", "urn:g:3")]


def test_time_travel_and_commit_log(spark, tmp_path):
    st = TripleStore(spark, str(tmp_path / "s"))
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))
    st.append(_quads(spark, [("b", "p", "2", "urn:g:2")]))
    st.delete_graph("urn:g:1")
    assert st.current_version() == 3
    assert st.read(version=1).count() == 1
    assert st.read(version=2).count() == 2
    assert st.read().count() == 1
    log = st.snapshots()
    assert [(s["version"], s["operation"]) for s in log] == [
        (1, "append"), (2, "append"), (3, "delete-graph"),
    ]
    # parent chain is intact and summaries carry file accounting
    assert [s["parent"] for s in log] == [0, 1, 2]
    assert all(s["total_files"] >= 0 for s in log)


def test_delete_graph_is_metadata_only(spark, tmp_path):
    """Partition drop = manifest edit: zero data files touched (the
    real O(1)-metadata semantics)."""
    path = str(tmp_path / "s")
    st = TripleStore(spark, path)
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1"),
                             ("b", "p", "2", "urn:g:2")]))
    before = set(_data_files(path))
    st.delete_graph("urn:g:1")
    assert set(_data_files(path)) == before  # nothing deleted
    assert {r.graph for r in st.read().collect()} == {"urn:g:2"}
    # time travel still reaches the dropped graph
    assert {r.graph for r in st.read(version=1).collect()} == {
        "urn:g:1", "urn:g:2"}


def test_rollback_restores_old_file_list(spark, tmp_path):
    st = TripleStore(spark, str(tmp_path / "s"))
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))
    st.overwrite_graphs(_quads(spark, [("a", "p", "9", "urn:g:1")]))
    v = st.rollback(1)
    assert v == 3  # history preserved — rollback is a NEW commit
    assert {r.obj for r in st.read().collect()} == {"1"}
    assert st.snapshots()[-1]["operation"] == "rollback"


def test_expire_snapshots_vacuums_unreferenced_files(spark, tmp_path):
    path = str(tmp_path / "s")
    st = TripleStore(spark, path)
    g = "urn:g:1"
    st.append(_quads(spark, [("a", "p", "1", g)]))
    st.overwrite_graphs(_quads(spark, [("a", "p", "2", g)]))
    st.overwrite_graphs(_quads(spark, [("a", "p", "3", g)]))
    n_before = len(_data_files(path))
    out = st.expire_snapshots(keep_last=1)
    assert out["expired"] == [1, 2]
    assert out["deleted_files"] > 0
    # current snapshot intact; expired versions loudly unreadable
    assert {r.obj for r in st.read().collect()} == {"3"}
    assert len(_data_files(path)) < n_before
    with pytest.raises(ValueError, match="v1"):
        st.read(version=1)
    # only the kept manifest remains
    assert [s["version"] for s in st.snapshots()] == [3]


def test_append_retries_past_claimed_version(spark, tmp_path):
    """Losing the manifest CAS is not an error for append-style
    commits: the add-files delta replays against the new tip."""
    path = str(tmp_path / "s")
    st = TripleStore(spark, path)
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))
    # simulate a concurrent committer claiming v2 with an unrelated add
    v1 = json.loads(open(f"{path}/_meta/v1.json").read())
    claimed = dict(v1, version=2, parent=1, operation="append")
    with open(f"{path}/_meta/v2.json", "w") as f:
        f.write(json.dumps(claimed))
    st.append(_quads(spark, [("b", "p", "2", "urn:g:2")]))
    assert st.current_version() == 3
    # v2's (duplicated) files and the new append are both live
    assert st.read_graph("urn:g:2").count() == 1


def test_overwrite_conflict_on_changed_graph_raises(spark, tmp_path):
    """Overwrite-style commits validate their affected graphs: if a
    concurrent commit changed those graphs' file sets after this
    operation's read snapshot, the commit must fail, not silently drop
    the concurrent write (Iceberg's serializable validation)."""
    path = str(tmp_path / "s")
    st = TripleStore(spark, path)
    g = "urn:g:1"
    st.append(_quads(spark, [("a", "p", "1", g)]))
    base = st.current_version()
    snap_rel, entries = st._write_snap(_quads(spark, [("a", "p", "9", g)]))
    # concurrent writer appends to the SAME graph before our commit
    st.append(_quads(spark, [("z", "p", "0", g)]))
    with pytest.raises(SnapshotConflictError):
        st._commit_snap("overwrite", snap_rel, entries, drop_graphs={g},
                        expected_base=base)
    # the concurrent append survives untouched...
    assert {r.subj for r in st.read_graph(g).collect()} == {"a", "z"}
    # ...and the refused commit's data files were cleaned up, not
    # leaked (the vacuum only tracks manifest-referenced files)
    assert not glob.glob(f"{path}/_data/{snap_rel}")


def test_overwrite_expected_base_covers_read_window(spark, tmp_path):
    """Passing expected_base = the version the input was read from
    extends conflict validation across the whole read→commit window:
    a concurrent commit landing between read() and overwrite_graphs()
    raises instead of being silently dropped."""
    st = TripleStore(spark, str(tmp_path / "s"))
    g = "urn:g:1"
    st.append(_quads(spark, [("a", "p", "1", g)]))
    v = st.current_version()
    df = st.read(version=v).withColumn("obj", F.lit("9"))
    # concurrent append to the same graph AFTER our read
    st.append(_quads(spark, [("z", "p", "0", g)]))
    with pytest.raises(SnapshotConflictError):
        st.overwrite_graphs(df, expected_base=v)
    assert {r.subj for r in st.read_graph(g).collect()} == {"a", "z"}
    # without expected_base the window starts at the call — documented
    # single-writer semantics: the overwrite proceeds
    st.overwrite_graphs(st.read().withColumn("obj", F.lit("7")))
    assert {r.obj for r in st.read_graph(g).collect()} == {"7"}


def test_torn_manifest_never_bricks_and_is_recovered(spark, tmp_path):
    """A manifest torn by a crash mid-write (truncated JSON) is
    skipped by readers and, once past the grace window, deleted and
    re-claimed by the next committer."""
    path = str(tmp_path / "s")
    st = TripleStore(spark, path)
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))
    # simulate a crashed committer: v2 exists but is truncated
    with open(f"{path}/_meta/v2.json", "w") as f:
        f.write('{"version": 2, "files": [{"pa')
    # readers skip the torn tip
    assert st.current_version() == 1
    assert st.read().count() == 1
    assert [s["version"] for s in st.snapshots()] == [1]
    with pytest.raises(ValueError, match="torn"):
        st.read(version=2)
    # a committer past the grace window recovers the slot
    st.torn_grace_sec = 0.0
    st.append(_quads(spark, [("b", "p", "2", "urn:g:2")]))
    assert st.current_version() == 2
    assert st.read().count() == 2


def test_expire_sweeps_orphan_snapshot_dirs(spark, tmp_path):
    """sweep_orphans removes snapshot dirs no live manifest references
    (crashed commits) once older than the grace window."""
    path = str(tmp_path / "s")
    st = TripleStore(spark, path)
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))
    # simulate a crashed commit: data landed, no manifest references it
    orphan_rel, _ = st._write_snap(_quads(spark, [("x", "p", "0",
                                                   "urn:g:9")]))
    assert glob.glob(f"{path}/_data/{orphan_rel}")
    out = st.expire_snapshots(keep_last=1, sweep_orphans=True,
                              orphan_grace_sec=0.0)
    assert out["swept_orphan_dirs"] == 1
    assert not glob.glob(f"{path}/_data/{orphan_rel}")
    assert st.read().count() == 1  # live data untouched


def test_graph_names_roundtrip_escaping_and_types(spark, tmp_path):
    """Hive-escaped partition values unescape into the manifest, and a
    numeric-looking graph name stays a string (explicit read schema —
    no partition-type inference), also once it is the only graph
    left."""
    st = TripleStore(spark, str(tmp_path / "s"))
    weird = "urn:g:x?f=1#frag"
    st.append(_quads(spark, [("a", "p", "1", weird),
                             ("b", "p", "2", "1.50")]))
    assert {r.graph for r in st.read().collect()} == {weird, "1.50"}
    assert st.read_graph(weird).count() == 1
    st.delete_graph(weird)
    assert {r.graph for r in st.read().collect()} == {"1.50"}


def test_merge_auto_compaction_uses_manifest_counts(spark, tmp_path):
    """Sync-merge auto-compaction counts files in the manifest (no fs
    listing) and reports its accounting."""
    st = TripleStore(spark, str(tmp_path / "s"), compact_threshold=5)
    g = "urn:g:1"
    # one subject: each merge appends one file, a compaction writes one
    for i in range(8):
        out = st.merge(_quads(spark, [("s", "p", str(i), g)]))
    assert st.read_graph(g).count() == 8
    # the trigger compacted back to one file whenever the live count
    # passed 5 (same bound as test_writer's)
    assert st._n_graph_files(g) <= 6
    assert isinstance(out["compacted"], list)


def test_resumable_pipeline_runs_on_snapshot_store(spark, tiny, tmp_path):
    """The KG-construction pipeline's fail/resume semantics and P/R
    1.0 hold, with each run a recorded manifest commit."""
    from kgap_spark.lineage import LineageLog, run_pipeline_resumable
    from kgap_spark.metrics import precision_recall

    st = TripleStore(spark, str(tmp_path / "triples"))
    lin = LineageLog(spark, str(tmp_path / "lineage"))
    pages, alias = tiny["web_pages"], tiny["alias_dict"]

    fail = {"urn:kgap:ldes:site003"}
    r1 = run_pipeline_resumable(spark, pages, alias, st, lin,
                                fail_graphs=fail)
    assert set(r1["graphs_failed"]) == fail
    r2 = run_pipeline_resumable(spark, pages, alias, st, lin)
    assert set(r2["graphs_done"]) == fail

    t = st.read()
    assert t.count() == t.dropDuplicates(
        ["subj", "pred", "obj", "graph"]).count()
    pr = precision_recall(t, tiny["golden_triples"])
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0
    # every pipeline stage is a recorded snapshot commit
    assert st.current_version() >= 2


# -- incremental / changelog scan -------------------------------------------

def _changes(df):
    return {(r._change, r.subj, r.pred, r.obj, r.graph)
            for r in df.collect()}


def test_read_changes_append_is_pure_inserts(spark, tmp_path):
    """Append-only windows never pay a content diff: the changes are
    exactly the appended rows (and the plan, by construction, scans
    only the new snapshot's files — _diff_filesets routes one-sided
    graphs straight to a scan, no exceptAll)."""
    st = TripleStore(spark, str(tmp_path / "s"))
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))   # v1
    st.append(_quads(spark, [("b", "p", "2", "urn:g:1"),
                             ("c", "p", "3", "urn:g:2")]))   # v2
    assert _changes(st.read_changes(1)) == {
        ("insert", "b", "p", "2", "urn:g:1"),
        ("insert", "c", "p", "3", "urn:g:2"),
    }
    # full window from the empty store = everything as inserts
    assert len(_changes(st.read_changes(0))) == 3
    # empty window
    assert st.read_changes(2, 2).count() == 0


def test_read_changes_overwrite_and_delete(spark, tmp_path):
    """Overwrites and quad deletes produce insert+delete pairs scoped
    to the touched graphs; untouched graphs contribute nothing."""
    st = TripleStore(spark, str(tmp_path / "s"))
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1"),
                             ("keep", "p", "9", "urn:g:2")]))  # v1
    st.overwrite_graphs(_quads(spark, [("a", "p", "2", "urn:g:1")]))  # v2
    st.delete_quads(_quads(spark, [("keep", "p", "9", "urn:g:2")]))   # v3
    assert _changes(st.read_changes(1)) == {
        ("delete", "a", "p", "1", "urn:g:1"),
        ("insert", "a", "p", "2", "urn:g:1"),
        ("delete", "keep", "p", "9", "urn:g:2"),
    }


def test_read_changes_nets_out_churn(spark, tmp_path):
    """net=True reports logical change only: an insert deleted inside
    the window, a compaction rewrite, and a rollback to the starting
    version all net to zero."""
    st = TripleStore(spark, str(tmp_path / "s"))
    g = "urn:g:1"
    st.append(_quads(spark, [("a", "p", "1", g)]))            # v1
    base = st.current_version()
    st.append(_quads(spark, [("tmp", "p", "x", g)]))          # v2
    st.delete_quads(_quads(spark, [("tmp", "p", "x", g)]))    # v3
    st.compact([g])                                           # v4
    assert st.read_changes(base).count() == 0
    st.append(_quads(spark, [("b", "p", "2", g)]))            # v5
    st.rollback(base)                                         # v6
    assert st.read_changes(base).count() == 0


def test_read_changes_per_commit_mode(spark, tmp_path):
    """net=False is the CDC/audit view: every commit's own changes,
    tagged with _commit_version — churn is visible, compaction is
    still content-neutral (empty contribution)."""
    st = TripleStore(spark, str(tmp_path / "s"))
    g = "urn:g:1"
    st.append(_quads(spark, [("a", "p", "1", g)]))            # v1
    st.append(_quads(spark, [("b", "p", "2", g)]))            # v2
    st.delete_quads(_quads(spark, [("b", "p", "2", g)]))      # v3
    st.compact([g])                                           # v4
    rows = {(r._commit_version, r._change, r.subj)
            for r in st.read_changes(0, net=False).collect()}
    assert rows == {
        (1, "insert", "a"),
        (2, "insert", "b"),
        (3, "delete", "b"),
    }
    assert st.read_changes(2, 2, net=False).count() == 0


def test_read_changes_validates_window(spark, tmp_path):
    st = TripleStore(spark, str(tmp_path / "s"))
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))
    with pytest.raises(ValueError, match="newer than"):
        st.read_changes(1, 0)
    with pytest.raises(ValueError, match="does not exist"):
        st.read_changes(0, 7)


# -- round-6 review-pass regressions ----------------------------------------

def test_expire_with_torn_tip_never_vacuums_live_data(spark, tmp_path):
    """Data-loss regression (review finding): a claimed-but-torn tip
    manifest must not count toward keep_last — with filename counting,
    expire(keep_last=1) under a torn v2 kept only the torn file and
    deleted the LIVE snapshot's manifest and data."""
    st = TripleStore(spark, str(tmp_path / "s"))
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))   # v1 (live)
    # simulate a writer crash mid-commit: torn v2, recent mtime
    (tmp_path / "s" / "_meta" / "v2.json").write_text("{ torn")
    out = st.expire_snapshots(keep_last=1)
    assert out["expired"] == [] and out["deleted_files"] == 0
    assert {r.subj for r in st.read().collect()} == {"a"}
    # and the torn file was left alone inside the grace window
    assert (tmp_path / "s" / "_meta" / "v2.json").exists()
    # past the grace window the vacuum recovers it like the commit path
    st.torn_grace_sec = 0.0
    st.expire_snapshots(keep_last=1)
    assert not (tmp_path / "s" / "_meta" / "v2.json").exists()
    assert st.current_version() == 1


def test_commit_blocked_by_young_torn_manifest_backs_off(spark, tmp_path):
    """A torn manifest inside the grace window makes commits fail with
    an explanatory error (after bounded backoff), and succeed again
    once the grace window passes."""
    st = TripleStore(spark, str(tmp_path / "s"))
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))
    (tmp_path / "s" / "_meta" / "v2.json").write_text("{ torn")
    with pytest.raises(SnapshotConflictError, match="torn manifest"):
        st.append(_quads(spark, [("b", "p", "2", "urn:g:1")]))
    st.torn_grace_sec = 0.0
    st.append(_quads(spark, [("b", "p", "2", "urn:g:1")]))
    assert {r.subj for r in st.read().collect()} == {"a", "b"}


def test_delete_quads_ignores_graphs_not_in_store(spark, tmp_path):
    """A delete set naming only absent graphs is a no-op (no empty
    commit), and one mixing live and absent graphs touches only the
    live ones."""
    st = TripleStore(spark, str(tmp_path / "s"))
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))   # v1
    st.delete_quads(_quads(spark, [("x", "p", "9", "urn:g:ghost")]))
    assert st.current_version() == 1  # no commit happened
    st.delete_quads(_quads(spark, [("a", "p", "1", "urn:g:1"),
                                   ("x", "p", "9", "urn:g:ghost")]))
    assert st.current_version() == 2
    assert st.read().count() == 0


def test_delete_quads_unbounded_graph_list_falls_back(spark, tmp_path):
    """Past MAX_GRAPH_LIST distinct graphs in the delete set, the
    affected-graph discovery switches to the broadcast semi-join
    against the manifest's live graphs (bounded driver memory)."""
    st = TripleStore(spark, str(tmp_path / "s"))
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1"),
                             ("b", "p", "2", "urn:g:2")]))
    old_max = TripleStore.MAX_GRAPH_LIST
    TripleStore.MAX_GRAPH_LIST = 2
    try:
        dels = [("a", "p", "1", "urn:g:1")] + [
            ("x", "p", "9", f"urn:g:ghost{i}") for i in range(5)
        ]
        st.delete_quads(_quads(spark, dels))
    finally:
        TripleStore.MAX_GRAPH_LIST = old_max
    assert {(r.subj, r.graph) for r in st.read().collect()} == {
        ("b", "urn:g:2")
    }


# -- changelog consumer (durable cursor) -------------------------------------

def test_changelog_cursor_poll_commit_resume(spark, tmp_path):
    """The consumer-side continuation contract: poll→sink→commit
    cycles deliver each window exactly once across process restarts
    (a NEW cursor object on the same dir resumes at the committed
    position), and an idle store polls cheaply to (None, tip)."""
    from kgap_spark.streaming import ChangelogCursor

    st = TripleStore(spark, str(tmp_path / "s"))
    cdir = str(tmp_path / "cursor")
    delivered: list[set] = []

    def sink(df):
        delivered.append({(r._change, r.subj) for r in df.collect()})

    cur = ChangelogCursor(st, cdir)
    assert cur.run_once(sink) is False          # empty store: idle
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))
    assert cur.run_once(sink) is True
    st.append(_quads(spark, [("b", "p", "2", "urn:g:1")]))
    st.delete_quads(_quads(spark, [("a", "p", "1", "urn:g:1")]))
    # restart: a fresh cursor object resumes after the commit
    cur2 = ChangelogCursor(st, cdir)
    assert cur2.run_once(sink) is True
    assert cur2.run_once(sink) is False         # drained
    assert delivered == [
        {("insert", "a")},
        {("insert", "b"), ("delete", "a")},
    ]


def test_changelog_cursor_crash_between_sink_and_commit_replays(
        spark, tmp_path):
    """At-least-once: a crash after the sink but before commit()
    replays the SAME window on restart — with an idempotent sink
    that is exactly-once end-to-end."""
    from kgap_spark.streaming import ChangelogCursor

    st = TripleStore(spark, str(tmp_path / "s"))
    cdir = str(tmp_path / "cursor")
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))

    cur = ChangelogCursor(st, cdir)
    changes, tip = cur.poll()
    assert changes.count() == 1
    # crash here: no commit. Restarted consumer sees the same window.
    cur2 = ChangelogCursor(st, cdir)
    changes2, tip2 = cur2.poll()
    assert tip2 == tip and changes2.count() == 1
    cur2.commit(tip2)
    assert cur2.poll() == (None, tip)


def test_changelog_cursor_vacuumed_window_raises_then_bootstraps(
        spark, tmp_path):
    """A vacuumed cursor position is a LOUD error by default (silent
    full-resend could double-apply at a non-idempotent sink); with
    allow_bootstrap=True the consumer resyncs from the full tip."""
    import pytest as _pytest

    from kgap_spark.streaming import ChangelogCursor, ChangelogExpiredError

    st = TripleStore(spark, str(tmp_path / "s"))
    cdir = str(tmp_path / "cursor")
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))   # v1
    cur = ChangelogCursor(st, cdir)
    cur.run_once(lambda df: df.count())                       # at v1
    st.overwrite_graphs(_quads(spark, [("b", "p", "2", "urn:g:1")]))  # v2
    st.expire_snapshots(keep_last=1)                          # v1 gone
    with _pytest.raises(ChangelogExpiredError, match="vacuumed"):
        cur.poll()
    changes, tip = cur.poll(allow_bootstrap=True)
    assert {(r._change, r.subj) for r in changes.collect()} == {
        ("insert", "b")
    }
    cur.commit(tip)
    assert cur.poll() == (None, tip)


def test_changelog_cursor_commit_is_idempotent_and_monotonic(
        spark, tmp_path):
    from kgap_spark.streaming import ChangelogCursor

    st = TripleStore(spark, str(tmp_path / "s"))
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))
    cur = ChangelogCursor(st, str(tmp_path / "cursor"))
    cur.commit(1)
    cur.commit(1)                 # replay of a claimed version: no-op
    assert cur.position() == 1
    with pytest.raises(ValueError, match="backwards"):
        ChangelogCursor(st, str(tmp_path / "cursor")).commit(0)
    # torn cursor file is skipped, older position stands
    (tmp_path / "cursor" / "cursor-5.json").write_text("{ torn")
    assert cur.position() == 1


# -- two-level manifests (delta commits) -------------------------------------

def _manifest_json(tmp, v):
    return json.loads((tmp / "s" / "_meta" / f"v{v}.json").read_text())


def test_append_commits_are_delta_not_full_rewrite(spark, tmp_path):
    """An append writes ONE new manifest part and a version file
    listing the surviving part ids — O(added files) metadata per
    commit, never a rewrite of the full file list (the two-level
    design public table formats use)."""
    st = TripleStore(spark, str(tmp_path / "s"))
    for i in range(3):
        st.append(_quads(spark, [(f"s{i}", "p", str(i), "urn:g:1")]))
    m2, m3 = _manifest_json(tmp_path, 2), _manifest_json(tmp_path, 3)
    assert "files" not in m3 and len(m3["parts"]) == 3
    # the previous version's parts are REUSED verbatim, plus one new
    assert m3["parts"][:2] == m2["parts"]
    assert m3["summary"]["total_files"] >= 3
    assert st.read().count() == 3


def test_drop_rewrites_only_affected_parts(spark, tmp_path):
    """delete_graph keeps untouched parts by id; only parts holding
    the dropped graph are rewritten/omitted."""
    st = TripleStore(spark, str(tmp_path / "s"))
    st.append(_quads(spark, [("a", "p", "1", "urn:g:keep")]))   # part A
    st.append(_quads(spark, [("b", "p", "2", "urn:g:drop")]))   # part B
    keep_part = _manifest_json(tmp_path, 2)["parts"][0]
    st.delete_graph("urn:g:drop")                               # v3
    m3 = _manifest_json(tmp_path, 3)
    assert m3["parts"] == [keep_part]   # part A untouched, B omitted
    assert {r.subj for r in st.read().collect()} == {"a"}


def test_rollback_reuses_part_ids(spark, tmp_path):
    st = TripleStore(spark, str(tmp_path / "s"))
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))      # v1
    st.append(_quads(spark, [("b", "p", "2", "urn:g:1")]))      # v2
    st.rollback(1)                                              # v3
    assert (_manifest_json(tmp_path, 3)["parts"]
            == _manifest_json(tmp_path, 1)["parts"])
    assert {r.subj for r in st.read().collect()} == {"a"}


def test_rollback_detects_mid_flight_vacuum(spark, tmp_path):
    """Advice fix: rollback must re-validate that the target's parts
    AND data files still exist around the CAS — a concurrent
    expire_snapshots between reading the manifest and committing
    would otherwise leave a live tip referencing deleted files."""
    from kgap_spark.triples import SnapshotConflictError

    st = TripleStore(spark, str(tmp_path / "s"))
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))      # v1
    # v2 REWRITES the graph, so v1's data files are only referenced
    # by v1 — expiring v1 really deletes them
    st.overwrite_graphs(_quads(spark, [("b", "p", "2", "urn:g:1")]))
    man1 = st._manifest(1)

    # simulate the vacuum winning the race AFTER the manifest read:
    # expire v1 (drops its only-referenced data files + parts)
    st.expire_snapshots(keep_last=1)
    with pytest.raises(SnapshotConflictError, match="mid-flight"):
        st._validate_rollback_target(man1)

    # post-CAS detection path: monkeypatch the second validation to
    # fire after commit — the just-committed manifest must be removed
    # again so the tip falls back (torn-tip recovery shape)
    st2 = TripleStore(spark, str(tmp_path / "s2"))
    st2.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))     # v1
    st2.append(_quads(spark, [("b", "p", "2", "urn:g:1")]))     # v2
    calls = {"n": 0}
    orig = st2._validate_rollback_target

    def flaky(man):
        calls["n"] += 1
        if calls["n"] == 2:                      # the post-CAS check
            raise SnapshotConflictError("simulated mid-flight vacuum")
        return orig(man)

    st2._validate_rollback_target = flaky
    tip_before = st2.current_version()
    with pytest.raises(SnapshotConflictError):
        st2.rollback(1)
    # the compensating delete removed the rollback manifest: the live
    # tip is the pre-rollback one and still reads fine
    assert st2.current_version() == tip_before
    assert {r.subj for r in st2.read().collect()} == {"a", "b"}

    # normal rollback still works end-to-end
    st2._validate_rollback_target = orig
    st2.rollback(1)
    assert {r.subj for r in st2.read().collect()} == {"a"}


def test_snapshot_not_found_is_typed(spark, tmp_path):
    """_manifest raises the dedicated SnapshotNotFoundError (still a
    ValueError for compatibility) — the changelog cursor classifies a
    vacuumed window by TYPE, not by message text."""
    from kgap_spark.triples import SnapshotNotFoundError

    st = TripleStore(spark, str(tmp_path / "s"))
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))
    with pytest.raises(SnapshotNotFoundError):
        st._manifest(9)
    assert issubclass(SnapshotNotFoundError, ValueError)


def test_part_cap_merges_fragmented_manifests(spark, tmp_path):
    old = TripleStore.PART_CAP
    TripleStore.PART_CAP = 3
    try:
        st = TripleStore(spark, str(tmp_path / "s"))
        for i in range(5):
            st.append(_quads(spark, [(f"s{i}", "p", str(i), "urn:g:1")]))
        tip = _manifest_json(tmp_path, st.current_version())
        assert len(tip["parts"]) <= 3
        assert st.read().count() == 5
        assert tip["summary"]["total_files"] == sum(
            len(json.loads((tmp_path / "s" / "_meta" / f"{p}.json")
                           .read_text())["entries"])
            for p in tip["parts"])
    finally:
        TripleStore.PART_CAP = old


def test_vacuum_deletes_expired_and_orphan_parts(spark, tmp_path):
    st = TripleStore(spark, str(tmp_path / "s"))
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))      # v1
    st.overwrite_graphs(_quads(spark, [("b", "p", "2", "urn:g:1")]))
    # an orphan part from a crashed commit
    (tmp_path / "s" / "_meta" / "p-deadbeef0000.json").write_text(
        '{"entries": []}')
    out = st.expire_snapshots(keep_last=1, sweep_orphans=True,
                              orphan_grace_sec=0.0)
    meta = {p.name for p in (tmp_path / "s" / "_meta").iterdir()}
    live_parts = set(_manifest_json(tmp_path, 2)["parts"])
    assert {n for n in meta if n.startswith("p-")} == {
        f"{p}.json" for p in live_parts}
    assert out["swept_orphan_dirs"] >= 1
    assert {r.subj for r in st.read().collect()} == {"b"}


def test_legacy_single_level_manifest_still_reads(spark, tmp_path):
    """A pre-upgrade manifest embedding `files` directly keeps
    reading, and the next commit wraps it into a part."""
    st = TripleStore(spark, str(tmp_path / "s"))
    st.append(_quads(spark, [("a", "p", "1", "urn:g:1")]))      # v1
    m1 = _manifest_json(tmp_path, 1)
    files = [e for p in m1["parts"]
             for e in json.loads((tmp_path / "s" / "_meta" / f"{p}.json")
                                 .read_text())["entries"]]
    legacy = dict(m1, files=files)
    legacy.pop("parts")
    (tmp_path / "s" / "_meta" / "v1.json").write_text(json.dumps(legacy))
    # the manifest was originally written through Hadoop's local FS,
    # which keeps a sidecar checksum — rewriting via pathlib stales it
    crc = tmp_path / "s" / "_meta" / ".v1.json.crc"
    if crc.exists():
        crc.unlink()
    st2 = TripleStore(spark, str(tmp_path / "s"))
    assert {r.subj for r in st2.read().collect()} == {"a"}
    st2.append(_quads(spark, [("b", "p", "2", "urn:g:1")]))     # v2
    m2 = _manifest_json(tmp_path, 2)
    assert "parts" in m2 and len(m2["parts"]) == 2
    assert {r.subj for r in st2.read().collect()} == {"a", "b"}
