"""TripleStore write semantics: append / overwrite / merge / delete
(the Replication vs Sync modes, ldes-consumer/README.md:147-149)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgap_spark import schemas as S
from kgap_spark.query import counts_by_graph
from kgap_spark.triples import TripleStore


def _quads(spark, rows):
    return spark.createDataFrame(
        [(s, p, o, None, None, g, None) for s, p, o, g in rows], S.TRIPLES
    )


def test_append_overwrite_merge_delete(spark, tmp_path):
    store = TripleStore(spark, str(tmp_path / "t"))
    g1, g2 = "urn:g:1", "urn:g:2"

    store.append(_quads(spark, [("a", "p", "1", g1), ("b", "p", "2", g2)]))
    assert store.read().count() == 2

    # append mode adds (Replication: additions only — duplicates allowed)
    store.append(_quads(spark, [("a", "p", "1", g1)]))
    assert store.read().count() == 3

    # overwrite_graphs replaces only the graphs present in the update
    store.overwrite_graphs(_quads(spark, [("a", "p", "9", g1)]))
    got = {(r.subj, r.obj, r.graph) for r in store.read().collect()}
    assert got == {("a", "9", g1), ("b", "2", g2)}

    # merge (Sync): quad-level upsert, idempotent
    store.merge(_quads(spark, [("a", "p", "9", g1), ("c", "p", "3", g1)]))
    store.merge(_quads(spark, [("c", "p", "3", g1)]))
    assert store.read_graph(g1).count() == 2

    # graph-scoped delete
    store.delete_graph(g1)
    assert store.read_graph(g1).count() == 0
    assert store.read_graph(g2).count() == 1

    # counts_by_graph over what's left
    rows = counts_by_graph(store.read()).collect()
    assert [(r.graph, r.n_triples) for r in rows] == [(g2, 1)]


def test_merge_appends_delta_without_rewriting_existing_files(spark, tmp_path):
    """Sync-mode merge is append-only: merging a small delta into a
    large graph must leave every pre-existing parquet file untouched
    (no O(graph) partition rewrite), add only the new quads, and stay
    idempotent."""
    import os

    store = TripleStore(spark, str(tmp_path / "t3"))
    g = "urn:g:big"
    base = _quads(spark, [(f"s{i}", "p", str(i), g) for i in range(5000)])
    store.append(base)

    def file_states(root):
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = file_states(tmp_path / "t3")
    assert before  # sanity: base files exist

    # delta: 1 duplicate (dropped) + 2 new quads
    store.merge(
        _quads(
            spark,
            [("s0", "p", "0", g), ("new1", "p", "x", g), ("new2", "p", "y", g)],
        )
    )
    after = file_states(tmp_path / "t3")
    # every original file survives byte-identical (same size+mtime)
    for p, sig in before.items():
        assert after.get(p) == sig, f"pre-existing file rewritten: {p}"
    assert len(after) > len(before)  # the delta landed in new files
    assert store.read_graph(g).count() == 5002

    # idempotence: re-merging the same delta adds nothing
    store.merge(_quads(spark, [("new1", "p", "x", g), ("new2", "p", "y", g)]))
    assert store.read_graph(g).count() == 5002
    # and still no rewrite of the original files
    final = file_states(tmp_path / "t3")
    for p, sig in before.items():
        assert final.get(p) == sig


def test_compact_collapses_merge_fragments(spark, tmp_path):
    """Repeated append-only merges fragment a partition into many
    small files; compact() rewrites it to the canonical layout with
    identical content."""
    store = TripleStore(spark, str(tmp_path / "t4"))
    g = "urn:g:frag"
    store.append(_quads(spark, [(f"s{i}", "p", str(i), g) for i in range(100)]))
    for j in range(6):  # six delta merges → six file batches
        store.merge(_quads(spark, [(f"d{j}", "p", str(j), g)]))
    before_rows = {(r.subj, r.obj) for r in store.read_graph(g).collect()}

    stats = store.compact([g])
    assert stats["files_before"] > stats["files_after"]
    after_rows = {(r.subj, r.obj) for r in store.read_graph(g).collect()}
    assert after_rows == before_rows
    assert len(after_rows) == 106


def test_quad_key_distinguishes_lang_and_datatype(spark, tmp_path):
    """'Paris'@en and 'Paris'@fr are distinct statements: merge must
    keep both and delete_quads must remove only the named term."""
    from kgap_spark import schemas as S

    store = TripleStore(spark, str(tmp_path / "t5"))
    g = "urn:g:l"
    r = lambda lang, dt=None: ("s", "rdfs:label", "Paris", lang, dt, g, None)
    store.merge(spark.createDataFrame([r("en")], S.TRIPLES))
    store.merge(spark.createDataFrame([r("fr")], S.TRIPLES))
    store.merge(spark.createDataFrame([r(None, "xsd:string")], S.TRIPLES))
    store.merge(spark.createDataFrame([r("en")], S.TRIPLES))  # idempotent
    got = {(x.obj_lang, x.obj_datatype) for x in store.read_graph(g).collect()}
    assert got == {("en", None), ("fr", None), (None, "xsd:string")}

    store.delete_quads(spark.createDataFrame([r("en")], S.TRIPLES))
    got = {(x.obj_lang, x.obj_datatype) for x in store.read_graph(g).collect()}
    assert got == {("fr", None), (None, "xsd:string")}


def test_graph_iri_with_fragment_clears(spark, tmp_path):
    """'#' is in Hive's partition-escape set: the manifest must record
    the graph that Spark's escaped directory name stands for, so
    delete_graph/compact find it (data-resurrection guard)."""
    store = TripleStore(spark, str(tmp_path / "t6"))
    g = "http://example.org/ns#g1"
    store.append(_quads(spark, [("a", "p", "1", g), ("b", "p", "2", "urn:ok")]))
    assert store.read_graph(g).count() == 1
    store.delete_graph(g)
    assert store.read_graph(g).count() == 0
    assert store.read_graph("urn:ok").count() == 1
    # compact sees the escaped graph too
    stats = store.compact(["urn:ok"])
    assert stats["files_before"] > 0


def test_null_graph_fails_loudly(spark, tmp_path):
    """A NULL graph would silently land in Hive's default partition and
    break merge pruning — the write must raise instead."""
    import pytest as _pytest

    store = TripleStore(spark, str(tmp_path / "t7"))
    bad = spark.createDataFrame(
        [("s", "p", "o", None, None, None, None)],
        "subj string, pred string, obj string, obj_lang string, "
        "obj_datatype string, graph string, src_url string",
    )
    with _pytest.raises(Exception, match="NULL graph"):
        store.append(bad)


def test_partition_pruning_in_plan(spark, tmp_path):
    """read_graph prunes at the manifest: its scan reads exactly the
    files the manifest lists for that graph, and no other graph's."""
    import os
    from urllib.parse import unquote, urlparse

    store = TripleStore(spark, str(tmp_path / "t2"))
    store.append(
        _quads(spark, [("a", "p", "1", "urn:g:1"), ("b", "p", "2", "urn:g:2")])
    )
    g1_files = {os.path.join(store.data_dir, e["path"])
                for e in store._files(store.current_version())
                if e["graph"] == "urn:g:1"}
    assert g1_files
    # inputFiles() are URIs: file:///…/graph=urn%253Ag%253A1/…
    got = {unquote(urlparse(f).path)
           for f in store.read_graph("urn:g:1").inputFiles()}
    assert got == g1_files


def test_store_ops_work_with_uri_scheme(spark, tiny, tmp_path):
    """Metadata ops route through the Hadoop FS API: the same store code
    must work when the path carries an explicit scheme (file:// here;
    s3a://hdfs:// in production — os.path would silently fail)."""
    from kgap_spark.triples import TripleStore, build_triples

    store = TripleStore(spark, f"file://{tmp_path}/t")
    assert store.exists() is False
    triples = build_triples(tiny["web_pages"], tiny["alias_dict"]).localCheckpoint(True)
    store.overwrite_graphs(triples)
    assert store.exists() is True
    graphs = [r.graph for r in store.read().select("graph").distinct().collect()]
    g = sorted(graphs)[0]
    store.delete_graph(g)
    remaining = {r.graph for r in store.read().select("graph").distinct().collect()}
    assert g not in remaining and len(remaining) == len(graphs) - 1


def test_write_layout_is_range_partitioned(spark, tiny):
    """The write shuffle must be RangePartitioning on (graph, pred, obj,
    subj): balanced tasks + hub-graph splitting + bounded file count."""
    from kgap_spark.triples import TripleStore, build_triples

    store = TripleStore(spark, "/tmp/unused-layout-probe")
    prepped = store._prep(build_triples(tiny["web_pages"], tiny["alias_dict"]))
    plan = prepped._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(graph" in plan.lower().replace(" ", "").replace("#", "")[:100000] or "RangePartitioning" in plan


def test_write_layout_splits_hub_graph_bounds_files(spark, tmp_path):
    """Zipfian feeds: one hub graph 100x bigger than the rest. The range
    layout must (a) split the hub across multiple files (no one-task
    straggler) and (b) keep total file count ~ graphs + tasks, never
    tasks x graphs."""
    import glob

    from pyspark.sql import functions as F

    from kgap_spark.triples import TripleStore

    hub = spark.range(0, 100_000).select(
        F.concat(F.lit("urn:s:"), F.col("id")).alias("subj"),
        F.lit("p").alias("pred"), F.lit("o").alias("obj"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit("urn:hub").alias("graph"),
        F.lit(None).cast("string").alias("src_url"),
    )
    small = spark.range(0, 1000).select(
        F.concat(F.lit("urn:t:"), F.col("id")).alias("subj"),
        F.lit("p").alias("pred"), F.lit("o").alias("obj"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.concat(F.lit("urn:g"), (F.col("id") % 20)).alias("graph"),
        F.lit(None).cast("string").alias("src_url"),
    )
    store = TripleStore(spark, str(tmp_path / "t"))
    store.overwrite_graphs(hub.unionByName(small))

    snaps = tmp_path / "t" / "_data" / "snap-*"
    hub_files = glob.glob(str(snaps / "graph=urn%3Ahub" / "*.parquet"))
    all_files = glob.glob(str(snaps / "graph=*" / "*.parquet"))
    n_tasks = spark.sparkContext.defaultParallelism
    assert len(hub_files) > 1                       # hub is split
    assert len(all_files) <= 21 + n_tasks           # bounded, not tasks*graphs
    assert store.read().count() == 101_000


def _data_files(root) -> list[str]:
    import glob

    return sorted(glob.glob(str(root / "_data" / "snap-*" / "graph=*"
                                / "*.parquet")))


def test_data_files_are_predicate_major_and_zstd(spark, tmp_path):
    """Every data file of a snapshot is sorted by (pred, obj, subj)
    within its graph and compressed with zstd."""
    import pyarrow.parquet as pq

    rows = spark.range(0, 6000).select(
        F.concat(F.lit("urn:s:"), F.col("id")).alias("subj"),
        F.concat(F.lit("urn:p:"), F.col("id") % 3).alias("pred"),
        (F.col("id") % 7).cast("string").alias("obj"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.concat(F.lit("urn:g:"), F.col("id") % 2).alias("graph"),
        F.lit(None).cast("string").alias("src_url"),
    )
    TripleStore(spark, str(tmp_path / "t")).append(rows)
    files = _data_files(tmp_path / "t")
    assert files
    n = 0
    for path in files:
        f = pq.ParquetFile(path)
        t = f.read(columns=["pred", "obj", "subj"]).to_pydict()
        keys = list(zip(t["pred"], t["obj"], t["subj"]))
        assert keys == sorted(keys), path
        n += len(keys)
        meta = f.metadata
        assert {meta.row_group(i).column(j).compression
                for i in range(meta.num_row_groups)
                for j in range(meta.num_columns)} == {"ZSTD"}, path
    assert n == 6000


def _scan_output_rows(df) -> int:
    """Rows the parquet scans of ``df``'s executed plan emitted."""
    stack, total = [df._jdf.queryExecution().executedPlan()], 0
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind == "FileSourceScanExec":
            total += node.metrics().apply("numOutputRows").value()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return total


def test_predicate_filter_skips_other_predicates_row_groups(spark, tmp_path):
    """With small row groups, a ``pred = <iri>`` scan of one graph reads
    little more than that predicate's rows: the store's predicate-major
    files let parquet min/max pushdown skip the other row groups."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", str(16 * 1024))
    try:
        rows = spark.range(0, 40_000).select(
            F.concat(F.lit("urn:s:"), F.col("id")).alias("subj"),
            F.concat(F.lit("urn:p:"), F.col("id") % 4).alias("pred"),
            F.concat(F.lit("value "), F.col("id")).alias("obj"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_datatype"),
            F.lit("urn:g:one").alias("graph"),
            F.lit(None).cast("string").alias("src_url"),
        )
        store = TripleStore(spark, str(tmp_path / "t"))
        store.append(rows)
    finally:
        if old is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old)
    one = store.read().filter(F.col("pred") == "urn:p:2")
    assert len(one.collect()) == 10_000
    assert _scan_output_rows(one) <= 40_000 // 2


def test_snappy_snapshots_read_merge_and_compact_to_zstd(spark, tmp_path,
                                                         monkeypatch):
    """A store whose first commit was written with snappy keeps
    answering after a zstd merge, and compaction rewrites every live
    file as zstd with the same rows."""
    import pyarrow.parquet as pq

    import kgap_spark.triples.writer as writer

    def codecs(paths) -> set[str]:
        return {pq.ParquetFile(str(p)).metadata.row_group(0).column(0)
                .compression for p in paths}

    g = "urn:g:old"
    store = TripleStore(spark, str(tmp_path / "t"))
    monkeypatch.setattr(writer, "CODEC", "snappy")
    store.append(_quads(spark, [(f"s{i}", "p", str(i), g) for i in range(50)]))
    monkeypatch.undo()
    assert codecs(_data_files(tmp_path / "t")) == {"SNAPPY"}

    store.merge(_quads(spark, [("s0", "p", "0", g), ("new", "q", "x", g)]))
    want = {(f"s{i}", "p", str(i)) for i in range(50)} | {("new", "q", "x")}
    got = [(r.subj, r.pred, r.obj) for r in store.read().collect()]
    assert sorted(got) == sorted(want)
    assert codecs(_data_files(tmp_path / "t")) == {"SNAPPY", "ZSTD"}

    store.compact()
    live = [tmp_path / "t" / "_data" / e["path"]
            for e in store._files(store.current_version())]
    assert codecs(live) == {"ZSTD"}
    got = [(r.subj, r.pred, r.obj) for r in store.read().collect()]
    assert sorted(got) == sorted(want)


def test_merge_many_graphs_broadcast_fallback(spark, tmp_path, monkeypatch):
    """ADVICE r3: past MAX_GRAPH_LIST distinct graphs the merge/delete
    scan pruning switches from a driver-side In-list to a broadcast
    semi-join — same results, bounded driver memory."""
    store = TripleStore(spark, str(tmp_path / "t"))
    monkeypatch.setattr(TripleStore, "MAX_GRAPH_LIST", 3)
    rows = [(f"s{i}", "p", str(i), f"urn:g:{i}") for i in range(8)]
    store.merge(_quads(spark, rows))
    # second merge over >MAX graphs: fallback path, still idempotent
    store.merge(_quads(spark, rows + [("s8", "p", "8", "urn:g:8")]))
    assert store.read().count() == 9
    # delete across >MAX graphs drives the same fallback + emptied-graph
    # cleanup collects only emptied graphs
    dels = _quads(spark, [(f"s{i}", "p", str(i), f"urn:g:{i}")
                          for i in range(5)])
    store.delete_quads(dels.select(
        "subj", "pred", "obj", "obj_lang", "obj_datatype", "graph"
    ))
    left = {r.graph for r in store.read().select("graph").distinct().collect()}
    assert left == {f"urn:g:{i}" for i in range(5, 9)}


def _fragment(spark, store, g, n):
    """``n`` single-quad merges into graph ``g``: each appends one
    file. The quads share one subject, so the range-partitioned
    layout a compaction writes holds them in a single file."""
    return [store.merge(_quads(spark, [("s", "p", str(i), g)]))
            for i in range(n)]


def test_merge_auto_compacts_past_threshold(spark, tmp_path):
    """VERDICT r3 #7: repeated small merges fragment a graph; once its
    file count passes compact_threshold the merge auto-compacts it —
    file count drops back to the canonical layout, results unchanged."""
    store = TripleStore(spark, str(tmp_path / "t"), compact_threshold=5)
    g = "urn:g:feed"
    _fragment(spark, store, g, 8)
    # every merge appended one file; the trigger compacted back to one
    # file whenever the count passed 5
    assert store._n_graph_files(g) <= 6
    got = {(r.subj, r.obj) for r in store.read_graph(g).collect()}
    assert got == {("s", str(i)) for i in range(8)}

    # threshold=None disables the trigger: fragments accumulate
    store2 = TripleStore(spark, str(tmp_path / "t2"), compact_threshold=None)
    _fragment(spark, store2, g, 8)
    assert store2._n_graph_files(g) >= 7


def test_merge_reports_compaction_events(spark, tmp_path):
    """Round-5 observability: merge() returns per-graph
    {graph, files_before, files_after} accounting whenever the
    auto-compaction trigger fires — the write-amplification signal an
    operator watches on Sync cycles."""
    store = TripleStore(spark, str(tmp_path / "t"), compact_threshold=3)
    g = "urn:g:feed"
    fired = []
    for i, stats in enumerate(_fragment(spark, store, g, 6)):
        # the very first merge takes the fresh-store fast path (no
        # graph-list collect) and reports graphs=None
        assert stats["graphs"] == (None if i == 0 else 1)
        fired.extend(stats["compacted"])
    assert fired, "threshold=3 over 6 single-file merges must trigger"
    for ev in fired:
        assert ev["graph"] == g
        assert ev["files_before"] > 3
        assert ev["files_after"] <= ev["files_before"]
    # a merge that does not trigger reports an empty event list
    store2 = TripleStore(spark, str(tmp_path / "t2"), compact_threshold=None)
    stats = store2.merge(_quads(spark, [("s", "p", "o", g)]))
    assert stats["compacted"] == []


def test_repeated_read_of_unchanged_store_launches_no_job(spark, tmp_path,
                                                          jobs_launched):
    """40 graphs put the scan's file list above Spark's 32-path
    parallel discovery threshold, so planning a scan runs a listing
    job. Once a warm read has planned it, reading the unchanged
    version again reuses the scan and launches nothing."""
    store = TripleStore(spark, str(tmp_path / "t"))
    store.append(_quads(spark, [(f"s{i}", "p", str(i), f"urn:g:{i}")
                                for i in range(40)]))
    assert store.read().count() == 40  # warm
    assert jobs_launched(store.read) == 0
    assert store.read().count() == 40


def test_reused_read_sees_every_write(spark, tmp_path):
    """The reuse key is the manifest version, so a read reflects each
    write — including writes made through a second store object on the
    same path, and this object's own read → merge → read."""
    path = str(tmp_path / "t")
    a, b = TripleStore(spark, path), TripleStore(spark, path)
    g1, g2 = "urn:g:1", "urn:g:2"

    def rows(store):
        return {(r.subj, r.obj, r.graph) for r in store.read().collect()}

    b.append(_quads(spark, [("a", "p", "1", g1), ("b", "p", "2", g2)]))
    assert rows(a) == {("a", "1", g1), ("b", "2", g2)}

    b.overwrite_graphs(_quads(spark, [("a", "p", "9", g1)]))
    assert rows(a) == {("a", "9", g1), ("b", "2", g2)}

    b.append(_quads(spark, [("c", "p", "3", g2)]))
    assert rows(a) == {("a", "9", g1), ("b", "2", g2), ("c", "3", g2)}

    b.delete_graph(g1)
    assert rows(a) == {("b", "2", g2), ("c", "3", g2)}

    a.merge(_quads(spark, [("d", "p", "4", g2), ("e", "p", "5", g1)]))
    assert rows(a) == {("b", "2", g2), ("c", "3", g2), ("d", "4", g2),
                       ("e", "5", g1)}


def test_plain_layout_directory_fails_loudly(spark, tmp_path):
    """A directory of ``graph=`` partitions with no ``_meta/`` was
    written by the earlier plain-parquet layout. Reading it raises a
    ValueError naming the path — an empty read would let a resumed
    run see no data while its lineage says the graphs are done — and
    the CLI's export fails the same way."""
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from kgap_spark.job import main

    path = tmp_path / "old"
    part = path / "graph=urn%3Ag"
    part.mkdir(parents=True)
    pq.write_table(pa.table({
        "subj": ["a"], "pred": ["p"], "obj": ["1"],
        "obj_lang": pa.array([None], pa.string()),
        "obj_datatype": pa.array([None], pa.string()),
        "src_url": pa.array([None], pa.string()),
    }), str(part / "part-0.parquet"))

    with pytest.raises(ValueError, match=re.escape(str(path))):
        TripleStore(spark, str(path)).read()
    with pytest.raises(ValueError, match=re.escape(str(path))):
        main(["export", "--store", str(path), "--out", str(tmp_path / "out"),
              "--master", "local[4]", "--shuffle-partitions", "4"])
