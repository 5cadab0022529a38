"""Resumable pipeline runner with per-partition lineage + metrics.

k-gap's ingest keeps a per-feed ``/state`` directory ("last processed
item, harvesting metadata, continuation tokens") that guarantees no
duplicate ingestion, incremental updates, and recovery from failures
(reference: ``ldes-consumer/app.py:299-305``,
``docs/components/ldes-consumer.md:584-592``), and captures container
logs on death (``app.py:394-426``). Here:

- the unit of work is a **named graph** (= source site, the per-feed
  analog of ``app.py:309``);
- ``LineageLog`` is an append-only parquet log with one row per
  (graph, run): rows_in, triples_out, mentions_out, status — the
  metrics sink replacing captured container logs (S8/S9). One Spark
  job serves every graph of a run, so wall time is measured per run
  (the returned ``wall_ms``), not per graph;
- a re-run anti-joins pending graphs against ``status='ok'`` lineage
  rows, processes only the remainder in ONE Spark job, and commits
  them as ONE manifest commit that replaces exactly those graphs
  (``TripleStore.overwrite_graphs``) — a crash before the commit
  leaves the store as it was, and a re-run repeats only the
  unrecorded graphs (T3);
- failures are isolated per graph and recorded with ``status='failed'``
  (the reference's ``FAILURE_IS_FATAL=false`` skip-and-continue,
  ``app.py:342``), to be retried by the next run.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgap_spark import schemas as S
from kgap_spark.session import job_description, local_frame
from kgap_spark.triples.materialize import build_triples, graph_of
from kgap_spark.triples.writer import TripleStore


class LineageLog:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        from kgap_spark.io import fs

        if not any(
            f.endswith(".parquet") for f in fs.list_names(self.spark, self.path)
        ):
            return local_frame(self.spark, [], S.LINEAGE)
        # explicit schema: no footer-inference job on every resume
        return self.spark.read.schema(S.LINEAGE).parquet(self.path)

    def completed_graphs(self) -> DataFrame:
        """Graphs whose latest status is 'ok' (a later failed retry of
        an already-ok graph cannot un-complete it)."""
        return (
            self.read()
            .filter(F.col("status") == "ok")
            .select("graph")
            .distinct()
        )

    def append(self, rows: list[dict]) -> None:
        if not rows:
            return
        df = local_frame(
            self.spark,
            [
                (
                    r["graph"],
                    int(r.get("src_partition", 0)),
                    r["run_id"],
                    r.get("rows_in"),
                    r.get("triples_out"),
                    r.get("mentions_out"),
                    r["status"],
                )
                for r in rows
            ],
            S.LINEAGE,
        )
        df.coalesce(1).write.mode("append").parquet(self.path)


def run_pipeline_resumable(
    spark: SparkSession,
    pages: DataFrame,
    alias_dict: DataFrame,
    store: TripleStore,
    lineage: LineageLog,
    run_id: str | None = None,
    fail_graphs: set[str] | None = None,
    include_dict_graph: bool = True,
) -> dict:
    """Process all graphs not yet 'ok' in lineage; returns run metrics.

    ``fail_graphs`` injects failures for the resume tests (the analog of
    a feed container dying mid-harvest).

    One Spark job processes every pending graph together — per-graph
    driver loops would serialize the cluster (SURVEY §2.4 J9 is the
    anti-pattern); isolation is at commit time, where one manifest
    commit replaces exactly the written graphs, idempotently.
    Within that run, ``build_triples`` materializes its two branches
    concurrently: canonicalization of the dictionary on a second thread,
    extract → detect → link of the pending pages on this one. The
    triples are then checkpointed once for the counts and the write.
    Every job carries its stage as job description (``runner: pending
    pages`` / ``triples`` / ``counts``, ``writer: overwrite_graphs``,
    ``lineage: append``, and ``build_triples``' branch names), so the UI
    and event log attribute it; the caller's description is restored.

    A site whose graph equals the dictionary graph (``https://dict.…``)
    raises ``ValueError`` before any triples are built: its page triples
    could not be told apart from the dictionary's.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.monotonic()

    pages_g = pages.withColumn("graph", graph_of(F.col("url")))
    # the dictionary graph's own 'ok' rows never complete a site: pages
    # of a site named like it stay pending and fail below
    done = lineage.completed_graphs().filter(F.col("graph") != S.GRAPH_DICT)
    pending_pages = pages_g.join(F.broadcast(done), "graph", "left_anti")

    if fail_graphs:
        # simulate a mid-run death: drop the failing graphs' rows from
        # this run and log them as failed (skip-and-continue semantics)
        fail_df = local_frame(spark, [(g,) for g in fail_graphs], "graph string")
        pending_pages = pending_pages.join(F.broadcast(fail_df), "graph", "left_anti")

    # one materialization serves the count-collect AND build_triples
    # (previously three separate actions re-scanned pages + the
    # anti-join each time — the dominant cost of a mostly-done resume);
    # the groupBy keys double as the distinct graph list
    with job_description(spark, "runner: pending pages"):
        pending_pages = pending_pages.localCheckpoint(eager=True)
        rows_in = {
            r.graph: r.n
            for r in pending_pages.groupBy("graph").agg(F.count(F.lit(1)).alias("n")).collect()
        }
    pending_graphs = sorted(rows_in)
    if S.GRAPH_DICT in rows_in:
        # graph_of(url) of a site named like the dictionary graph: its
        # page triples would share (or, without the dictionary graph,
        # silently lose) their graph
        raise ValueError(
            f"site {S.GRAPH_DICT.rsplit(':', 1)[1]!r} maps to the dictionary "
            f"graph {S.GRAPH_DICT}; rename the site or move its pages out "
            "of this run"
        )

    metrics_rows: list[dict] = []
    n_triples_by_graph: dict[str, int] = {}
    n_mentions_by_graph: dict[str, int] = {}

    if pending_graphs:
        # page triples take graph_of(url) of the pending pages, so the
        # output holds exactly the pending graphs plus the dictionary
        # graph (a partial input still yields complete per-graph output
        # because graphs are site-disjoint)
        with job_description(spark, "runner: triples"):
            triples = build_triples(pending_pages.drop("graph"), alias_dict)
            if not include_dict_graph:
                triples = triples.filter(F.col("graph") != S.GRAPH_DICT)
            triples = triples.localCheckpoint(eager=True)  # compute once: counts + write
        with job_description(spark, "runner: counts"):
            counts = (
                triples.groupBy("graph")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum((F.col("pred") == S.PRED_MENTIONS).cast("long")).alias("nm"),
                )
                .collect()
            )
        n_triples_by_graph = {r.graph: r.n for r in counts}
        n_mentions_by_graph = {r.graph: r.nm for r in counts}
        with job_description(spark, "writer: overwrite_graphs"):
            store.overwrite_graphs(triples)

    wall_ms = int((time.monotonic() - t0) * 1000)
    for g in pending_graphs:
        metrics_rows.append(
            dict(graph=g, run_id=run_id, rows_in=rows_in.get(g, 0),
                 triples_out=n_triples_by_graph.get(g, 0),
                 mentions_out=n_mentions_by_graph.get(g, 0), status="ok")
        )
    if include_dict_graph and pending_graphs:
        metrics_rows.append(
            dict(graph=S.GRAPH_DICT, run_id=run_id, rows_in=0,
                 triples_out=n_triples_by_graph.get(S.GRAPH_DICT, 0),
                 mentions_out=n_mentions_by_graph.get(S.GRAPH_DICT, 0),
                 status="ok")
        )
    for g in sorted(fail_graphs or ()):
        metrics_rows.append(
            dict(graph=g, run_id=run_id, rows_in=None, triples_out=None,
                 status="failed")
        )
    with job_description(spark, "lineage: append"):
        lineage.append(metrics_rows)
    return {
        "run_id": run_id,
        "graphs_done": pending_graphs,
        "graphs_failed": sorted(fail_graphs or ()),
        "triples_out": sum(n_triples_by_graph.values()),
        "wall_ms": wall_ms,
    }
