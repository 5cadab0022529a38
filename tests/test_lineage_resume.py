"""Resume/idempotence (SURVEY §5 tier 3; T3 exactly-once semantics):
kill after some graphs, rerun, assert no dupes + complete lineage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgap_spark.lineage import LineageLog, run_pipeline_resumable
from kgap_spark.metrics import precision_recall
from kgap_spark.triples import TripleStore


def test_fail_resume_idempotent(spark, tiny, tmp_path):
    store = TripleStore(spark, str(tmp_path / "triples"))
    lin = LineageLog(spark, str(tmp_path / "lineage"))
    pages, alias = tiny["web_pages"], tiny["alias_dict"]

    fail = {"urn:kgap:ldes:site001", "urn:kgap:ldes:site005"}
    r1 = run_pipeline_resumable(spark, pages, alias, store, lin, fail_graphs=fail)
    assert set(r1["graphs_failed"]) == fail
    assert not (set(r1["graphs_done"]) & fail)

    # resume: only the failed graphs get processed
    r2 = run_pipeline_resumable(spark, pages, alias, store, lin)
    assert set(r2["graphs_done"]) == fail

    # third run: nothing pending
    r3 = run_pipeline_resumable(spark, pages, alias, store, lin)
    assert r3["graphs_done"] == []

    # no duplicate quads; full P/R vs golden
    t = store.read()
    assert t.count() == t.dropDuplicates(["subj", "pred", "obj", "graph"]).count()
    pr = precision_recall(t, tiny["golden_triples"])
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0

    # lineage: every page graph has an ok row; the failures are recorded
    ldf = lin.read()
    ok_graphs = {r.graph for r in ldf.filter(F.col("status") == "ok").collect()}
    all_graphs = {
        r.g for r in pages.select(
            F.concat(F.lit("urn:kgap:ldes:"),
                     F.regexp_extract("url", r"https://([^.]+)\.", 1)).alias("g")
        ).distinct().collect()
    }
    assert all_graphs <= ok_graphs
    failed_rows = ldf.filter(F.col("status") == "failed")
    assert {r.graph for r in failed_rows.collect()} == fail


def test_every_run_job_is_described(spark, tiny, tmp_path):
    """Each job of a run carries a stage description (the runner's own
    stages and build_triples' branches), and the caller's description
    is restored afterwards."""
    sc = spark.sparkContext
    status = sc._jsc.sc().statusStore()

    def job_ids() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = status.jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    before = job_ids()
    caller = sc.getLocalProperty("spark.job.description")
    run_pipeline_resumable(
        spark, tiny["web_pages"], tiny["alias_dict"],
        TripleStore(spark, str(tmp_path / "triples")),
        LineageLog(spark, str(tmp_path / "lineage")))
    launched = job_ids() - before
    assert launched
    undescribed = sorted(j for j in launched
                         if not status.job(j).description().isDefined())
    assert undescribed == []
    assert sc.getLocalProperty("spark.job.description") == caller


def test_latest_wins_increments(spark, tiny, tmp_path):
    """Versioned-member materialization (U6): processing the increments
    fixture batch-by-batch with merge keeps one latest row per url."""
    from pyspark.sql import Window

    inc = tiny["increments"]
    # materialize latest-per-url (MATERIALIZE=true semantics)
    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"), F.desc("batch_id"))
    latest = (
        inc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    assert latest.count() == inc.select("url").distinct().count()
    # latest warc_ts per url matches a plain max
    mx = inc.groupBy("url").agg(F.max("warc_ts").alias("mx"))
    joined = latest.join(mx, "url").filter(F.col("warc_ts") != F.col("mx"))
    assert joined.count() == 0


def test_resume_from_lineage_with_wall_ms_column(spark, tiny, tmp_path):
    """A lineage log written when its rows still carried a per-graph
    ``wall_ms`` column resumes: its 'ok' graphs are skipped."""
    from pyspark.sql import types as T

    from kgap_spark import schemas as S

    pages = tiny["web_pages"]
    graphs = sorted(
        r.g for r in pages.select(
            F.concat(F.lit("urn:kgap:ldes:"),
                     F.regexp_extract("url", r"https://([^.]+)\.", 1)).alias("g")
        ).distinct().collect()
    )
    old_schema = T.StructType(
        S.LINEAGE.fields + [T.StructField("wall_ms", T.LongType(), True)]
    )
    lin_path = str(tmp_path / "lineage")
    spark.createDataFrame(
        [(g, 0, "old", 1, 1, 0, "ok", 40) for g in graphs[1:]], old_schema
    ).write.parquet(lin_path)

    lin = LineageLog(spark, lin_path)
    store = TripleStore(spark, str(tmp_path / "triples"))
    r = run_pipeline_resumable(spark, pages, tiny["alias_dict"], store, lin)
    assert r["graphs_done"] == graphs[:1]
    assert r["wall_ms"] >= 0
    ok = {row.graph for row in lin.read().filter(F.col("status") == "ok").collect()}
    assert set(graphs) <= ok


def _with_dict_site(pages):
    """The tiny pages plus one page of a site named ``dict``."""
    return pages.unionByName(
        pages.limit(1).withColumn("url", F.lit("https://dict.example.org/page/1"))
    )


def test_dict_site_fails_loudly(spark, tiny, tmp_path):
    """A site whose graph equals the dictionary graph raises, whether the
    dictionary graph is written or not, and also once an earlier run has
    recorded the dictionary graph as done."""
    pages = _with_dict_site(tiny["web_pages"])
    store = TripleStore(spark, str(tmp_path / "triples"))
    lin = LineageLog(spark, str(tmp_path / "lineage"))
    for include in (False, True):
        with pytest.raises(ValueError, match="'dict'"):
            run_pipeline_resumable(spark, pages, tiny["alias_dict"], store, lin,
                                   include_dict_graph=include)
    run_pipeline_resumable(spark, tiny["web_pages"], tiny["alias_dict"], store, lin)
    with pytest.raises(ValueError, match="'dict'"):
        run_pipeline_resumable(spark, pages, tiny["alias_dict"], store, lin)


def test_written_triples_are_not_semi_joined(spark, tiny, tmp_path, monkeypatch):
    """The frame handed to overwrite_graphs is a checkpoint of the
    triples with no semi-join against the pending graph list: page
    triples already carry exactly the pending graphs."""
    frame_cls = type(tiny["web_pages"])
    checkpoints = []  # (checkpointed frame, optimized plan of its source)
    real_checkpoint = frame_cls.localCheckpoint

    def checkpoint(self, *args, **kwargs):
        out = real_checkpoint(self, *args, **kwargs)
        checkpoints.append(
            (out, self._jdf.queryExecution().optimizedPlan().toString()))
        return out

    def source_plan(df):
        return next(plan for out, plan in checkpoints if out is df)

    written = []
    monkeypatch.setattr(frame_cls, "localCheckpoint", checkpoint)
    monkeypatch.setattr(TripleStore, "overwrite_graphs",
                        lambda self, df: written.append(source_plan(df)))
    store = TripleStore(spark, str(tmp_path / "triples"))
    lin = LineageLog(spark, str(tmp_path / "lineage"))
    run_pipeline_resumable(spark, tiny["web_pages"], tiny["alias_dict"], store, lin,
                           include_dict_graph=False)
    (plan,) = written
    assert "LeftSemi" not in plan, plan
    assert "Union" in plan, plan
