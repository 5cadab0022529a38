"""kgap-spark benchmark: bulk build, resume and SPARQL workloads.

Run from the root of a kgap-spark checkout:

    python3 perfbench/run.py --workload kg_bulk --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one job or query at a time, Spark ``local[4]``):

- ``kg_bulk``: a fresh store and lineage, then ``run_pipeline_resumable``
  over the whole corpus. No warm-up: the first iteration runs in a fresh
  JVM, as every scheduled batch run does;
- ``kg_resume``: the store and lineage restored (untimed) to a state
  where 90% of the site graphs are committed; the run commits the rest;
- ``kg_query``: a mix of six SPARQL queries through
  ``execute_sparql(store.read(), …)`` over a store holding the golden
  triples (untimed; written by ``TripleStore``, or by the pipeline in a
  traced run), after ``QUERY_WARMUP_PASSES`` untimed warm-up passes.

Each run starts Spark, sets up the corpus three times (``setup_s`` is the
median: write the seeded pages and alias dictionary as parquet, read
them back and count them; generating the corpus in memory is not part of
it), then times iterations until ``--seconds`` have passed. Outputs are
checked against golden triples and pandas answers; ``failed`` counts
iterations or queries whose output is wrong. The last stdout line is one
JSON object; ``--trace 0`` reports the end-to-end metrics and ``--trace 1``
the per-layer ones (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import unquote

WORKLOADS = ("kg_bulk", "kg_resume", "kg_query")
MASTER = "local[4]"
SETUP_REPEATS = 3
# Untimed passes of the SPARQL mix before kg_query times any: the first
# passes of a fresh JVM run 2x slower and are still speeding up (JIT), so
# timing them would measure how far the warm-up got, not the queries.
QUERY_WARMUP_PASSES = 3
PREFIX_ROUNDS = 1
SUBSTRATE_ROWS = 2_000_000
PERTURBATIONS = ("drop_triple", "wrong_row")


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs))


def p90(xs) -> float:
    xs = sorted(xs)
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=10, method="inclusive")[-1])


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under path."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    def __init__(self, args, work: str):
        from corpus import SCALES, Corpus

        self.args = args
        self.work = work
        self.corpus = Corpus(SCALES[args.scale], args.seed)
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.rows: dict[str, int] = {}  # answer rows per query
        # (runner span index, run result) of each timed pipeline run
        self.traced_runs: list[tuple[int | None, dict]] = []

    # -- session ------------------------------------------------------
    def start_spark(self):
        from kgap_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            self.event_dir = os.path.join(self.work, "events")
            os.makedirs(self.event_dir)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            conf["spark.eventLog.compress"] = "false"
        self.spark = get_spark("perfbench", master=MASTER,
                               shuffle_partitions=4, extra_conf=conf)
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

        from spans import Tracer

        self.tracer = Tracer(self.spark, self.trace)

    def substrate_wall(self) -> float:
        """The md5 probe of bench.py (fewer rows): host context, not a metric."""
        from pyspark.sql import functions as F

        df = self.spark.range(0, SUBSTRATE_ROWS, 1, 4)
        expr = F.max(F.md5(F.col("id").cast("string")))
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            df.select(expr).collect()
            walls.append(time.perf_counter() - t0)
        return min(walls)

    # -- set-up -------------------------------------------------------
    def generate(self) -> None:
        """Build the seeded corpus and its golden output in memory (pure
        Python; overlaps the JVM start-up and is not part of setup_s)."""
        import pyarrow as pa

        self.page_table = pa.Table.from_pylist(
            self.corpus.page_rows(self.corpus.page_ids),
            schema=pa.schema([
                ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())]))
        self.alias_table = pa.Table.from_pylist(self.corpus.alias_rows())
        self.golden = self.corpus.golden()

    def setup_once(self):
        """Write the corpus as the pipeline's parquet input and load it."""
        import pyarrow.parquet as pq

        d = os.path.join(self.work, "input")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        pq.write_table(self.page_table, os.path.join(d, "web_pages.parquet"))
        pq.write_table(self.alias_table, os.path.join(d, "alias_dict.parquet"))
        pages = self.spark.read.parquet(os.path.join(d, "web_pages.parquet"))
        alias = self.spark.read.parquet(os.path.join(d, "alias_dict.parquet"))
        if pages.count() != self.page_table.num_rows or alias.count() == 0:
            raise RuntimeError("corpus set-up loaded the wrong number of rows")
        return pages, alias

    def setup(self) -> None:
        times = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            self.pages, self.alias = self.setup_once()
            times.append(time.perf_counter() - t0)
        self.setup_s = median(times)

    # -- pipeline helpers ----------------------------------------------
    def fresh(self, name: str):
        from kgap_spark.lineage import LineageLog
        from kgap_spark.triples import TripleStore

        d = os.path.join(self.work, name)
        shutil.rmtree(d, ignore_errors=True)
        return (TripleStore(self.spark, os.path.join(d, "triples")),
                LineageLog(self.spark, os.path.join(d, "lineage")))

    def run_pipeline(self, store, lineage) -> tuple[dict, float, int | None]:
        """One pipeline run; returns its result, wall and runner span index."""
        from kgap_spark.lineage import run_pipeline_resumable

        idx = len(self.tracer.spans) if self.trace else None
        t0 = time.perf_counter()
        with self.tracer.span("runner"):
            res = run_pipeline_resumable(self.spark, self.pages, self.alias,
                                         store, lineage)
        return res, time.perf_counter() - t0, idx

    def timed_loop(self, step) -> list[float]:
        """Call step() until --seconds have passed; returns its walls."""
        log("prepared; timing")
        walls: list[float] = []
        end = time.perf_counter() + self.args.seconds
        while not walls or time.perf_counter() < end:
            walls.append(step())
        return walls

    def golden_counts(self, graphs=None) -> tuple[int, dict[str, int]]:
        g = self.golden if graphs is None else self.golden[self.golden.graph.isin(graphs)]
        return len(g), g.groupby("pred").size().to_dict()

    def check_store(self, store) -> bool:
        """Golden gate: P/R exactly 1.0 and golden per-predicate counts."""
        from pyspark.sql import functions as F

        from kgap_spark.metrics import precision_recall

        got = store.read()
        if self.args.perturb == "drop_triple":
            first = self.golden[self.golden.pred == "kgap:mentions"].iloc[0]
            got = got.filter(~((F.col("subj") == first.subj)
                               & (F.col("pred") == first.pred)
                               & (F.col("obj") == first.obj)))
        pr = precision_recall(got, self.golden_df)
        counts = {r["pred"]: r["count"] for r in got.groupBy("pred").count().collect()}
        ok = (pr["precision"] == 1.0 and pr["recall"] == 1.0
              and counts == self.golden_counts()[1])
        if not ok:
            print(f"# store gate failed: {pr} {counts}", file=sys.stderr)
        return ok

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    # -- workloads ------------------------------------------------------
    def kg_bulk(self) -> dict:
        graphs = self.corpus.graphs()
        n_golden = len(self.golden)
        state = {}

        def step():
            store, lineage = self.fresh("bulk")
            res, wall, idx = self.run_pipeline(store, lineage)
            self.record(res["triples_out"] == n_golden and res["graphs_done"] == graphs)
            state["store"] = store
            self.traced_runs.append((idx, res))
            return wall

        walls = self.timed_loop(step)
        if not self.check_store(state["store"]):
            self.failed += 1
        self.pending_graphs = graphs
        self.final_store = state["store"]
        return {"walls": walls, "triples": n_golden, "ops": {"pipeline": walls}}

    def kg_resume(self) -> dict:
        from pyspark.sql import functions as F

        from kgap_spark import schemas as S
        from kgap_spark.lineage import LineageLog
        from kgap_spark.triples import TripleStore

        held = self.corpus.held_out_graphs()
        kept = [g for g in self.corpus.graphs() if g not in held]
        bulk, bulk_lin = self.fresh("bulk")
        self.run_pipeline(bulk, bulk_lin)
        base, base_lin = self.fresh("base")
        base.overwrite_graphs(bulk.read().filter(~F.col("graph").isin(held)))
        pages_by_graph = self.pages_by_graph()
        base_lin.append(
            [dict(graph=g, run_id="restored", rows_in=pages_by_graph[g],
                  triples_out=self.golden_counts([g])[0], status="ok")
             for g in kept])
        base_dir = os.path.dirname(base.path)
        work_dir = os.path.join(self.work, "resume")

        def restore():
            shutil.rmtree(work_dir, ignore_errors=True)
            shutil.copytree(base_dir, work_dir)
            return (TripleStore(self.spark, os.path.join(work_dir, "triples")),
                    LineageLog(self.spark, os.path.join(work_dir, "lineage")))

        expect = self.golden_counts([*held, S.GRAPH_DICT])[0]
        state = {}

        def step():
            store, lineage = restore()
            res, wall, idx = self.run_pipeline(store, lineage)
            self.record(res["graphs_done"] == held and res["triples_out"] == expect)
            state["store"] = store
            self.traced_runs.append((idx, res))
            return wall

        walls = self.timed_loop(step)
        store = state["store"]
        key = ["subj", "pred", "obj", "obj_lang", "obj_datatype", "graph"]
        a, b = store.read().select(*key), bulk.read().select(*key)
        same = a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        if not (same and self.check_store(store)):
            print("# resumed store differs from the bulk store", file=sys.stderr)
            self.failed += 1
        self.pending_graphs = held
        self.final_store = store
        return {"walls": walls, "triples": expect, "ops": {"pipeline": walls}}

    def kg_query(self) -> dict:
        store, lineage = self.fresh("store")
        if self.trace:  # the pipeline layers are traced on the store build
            res, _, idx = self.run_pipeline(store, lineage)
            self.traced_runs.append((idx, res))
        else:
            self.write_golden_store(store)
        self.pending_graphs = self.corpus.graphs()
        self.final_store = store
        for _ in range(QUERY_WARMUP_PASSES):
            self.query_pass(store, record=False)
        lat: dict[str, list[float]] = {}

        def step():
            t0 = time.perf_counter()
            for name, x in self.query_pass(store).items():
                lat.setdefault(name, []).append(x)
            return time.perf_counter() - t0

        walls = self.timed_loop(step)
        return {"walls": walls, "triples": len(self.golden), "ops": lat}

    def write_golden_store(self, store) -> None:
        """Write the golden quads through the store's own writer: the same
        rows and layout the pipeline commits (kg_bulk's gate checks the
        pipeline against the same golden set), without a pipeline run."""
        from pyspark.sql import functions as F

        from kgap_spark import schemas as S

        page = F.col("graph") != S.GRAPH_DICT
        store.overwrite_graphs(self.golden_df.select(
            "subj", "pred", "obj", "obj_lang",
            F.lit(None).cast("string").alias("obj_datatype"), "graph",
            F.when(page, F.col("subj")).alias("src_url")))

    def query_pass(self, store, record: bool = True) -> dict[str, float]:
        """One pass of the SPARQL mix; returns each query's latency."""
        from corpus import expected_answers, query_mix, same_answer
        from kgap_spark.query.sparql import execute_sparql, parse_sparql

        if not hasattr(self, "expected"):
            self.expected = expected_answers(self.corpus, self.golden)
        lat = {}
        for name, text in query_mix(self.corpus).items():
            if self.trace:
                with self.tracer.span(f"sparql.{name}.parse"):
                    parse_sparql(text)
            t0 = time.perf_counter()
            with self.tracer.span("writer.read"):
                triples = store.read()
            with self.tracer.span(f"sparql.{name}.plan"):
                df = execute_sparql(triples, text)
            with self.tracer.span(f"sparql.{name}.exec"):
                got = df.toPandas()
            lat[name] = time.perf_counter() - t0
            if self.args.perturb == "wrong_row" and len(got):
                got = got.iloc[1:]
            ok = same_answer(name, got, self.expected[name])
            if not ok:
                print(f"# query {name} answer differs", file=sys.stderr)
            if record:
                self.record(ok)
            self.rows[name] = len(got)
        return lat

    def pages_by_graph(self) -> dict[str, int]:
        from kgap_spark.triples.materialize import graph_of
        from pyspark.sql import functions as F

        return {r["graph"]: r["count"] for r in self.pages.groupBy(
            graph_of(F.col("url")).alias("graph")).count().collect()}

    # -- per-layer ------------------------------------------------------
    def install_spans(self) -> None:
        import kgap_spark.canonicalize
        import kgap_spark.extract
        import kgap_spark.lineage.runner
        import kgap_spark.link.score
        import kgap_spark.mentions
        from kgap_spark.lineage import LineageLog
        from kgap_spark.triples import TripleStore

        t = self.tracer
        t.install(kgap_spark.lineage.runner, "build_triples", "materialize")
        t.install(kgap_spark.canonicalize, "canonical_mapping", "canonicalize")
        t.install(kgap_spark.extract, "with_extracted_text", "extract")
        t.install(kgap_spark.mentions, "detect_mentions", "mentions")
        t.install(kgap_spark.link.score, "link_mentions", "link")
        t.install(TripleStore, "overwrite_graphs", "writer")
        t.install(LineageLog, "completed_graphs", "lineage.completed")
        t.install(LineageLog, "append", "lineage.append")

    def run_layers(self) -> dict[str, float]:
        """Span-derived layer times of the traced pipeline runs (median)."""
        per_run: dict[str, list[float]] = {}
        t = self.tracer
        for idx, _ in self.traced_runs:
            run = t.spans[idx]
            top = [s for s in t.spans if s.parent == idx]
            vals = {
                "canonicalize.self_s": t.within(idx, "canonicalize"),
                "writer.write_s": t.within(idx, "writer"),
                "lineage.completed_s": t.within(idx, "lineage.completed"),
                "lineage.append_s": t.within(idx, "lineage.append"),
                "runner.unattributed_s": run.dur - sum(s.dur for s in top),
            }
            for k, v in vals.items():
                per_run.setdefault(k, []).append(v)
        return {k: median(v) for k, v in per_run.items()}

    def prefix_layers(self) -> dict[str, float]:
        """Self time of the fused extract → detect → link → materialize
        chain from prefix diffs: each prefix is written to the noop sink
        over the pages the traced run processed."""
        from pyspark.sql import functions as F

        from kgap_spark.canonicalize import canonical_mapping
        from kgap_spark.extract import with_extracted_text
        from kgap_spark.link.score import link_mentions
        from kgap_spark.mentions import detect_mentions
        from kgap_spark.triples import build_triples
        from kgap_spark.triples.materialize import graph_of

        pending = self.pages.filter(
            graph_of(F.col("url")).isin(self.pending_graphs)
        ).localCheckpoint(eager=True)
        canon = canonical_mapping(self.alias).localCheckpoint(eager=True)
        chain = [
            ("scan", lambda: pending),
            ("extract", lambda: with_extracted_text(pending)),
            ("mentions", lambda: detect_mentions(with_extracted_text(pending), self.alias)),
            ("link", lambda: link_mentions(
                detect_mentions(with_extracted_text(pending), self.alias))),
            ("materialize", lambda: build_triples(pending, self.alias, canon=canon)),
        ]
        best: dict[str, float] = {}
        for _ in range(PREFIX_ROUNDS):
            for name, make in chain:
                with self.tracer.span(f"prefix.{name}"):
                    t0 = time.perf_counter()
                    make().write.format("noop").mode("overwrite").save()
                    best[name] = min(best.get(name, 1e9), time.perf_counter() - t0)
        out = {}
        for (prev, _), (name, _) in zip(chain, chain[1:]):
            out[f"{name}.self_s"] = best[name] - best[prev]
        cands = detect_mentions(with_extracted_text(pending), self.alias
                                ).localCheckpoint(eager=True)
        n_cands = cands.count()
        linked = link_mentions(cands).count()
        out.update({
            "extract.python_rows": pending.filter(F.col("text").isNull()).count(),
            "mentions.candidates": n_cands,
            "link.linked": linked,
            "link.useful_ratio": linked / n_cands,
            "canonicalize.sameas": canon.filter(
                F.col("entity_id") != F.col("canonical_id")).count(),
            "lineage.pending_ratio": pending.count() / self.pages.count(),
        })
        return out

    def writer_files(self) -> dict[str, float]:
        """Files and bytes the last traced run wrote (its graph partitions)."""
        from kgap_spark import schemas as S

        written = {*self.pending_graphs, S.GRAPH_DICT}
        files = size = 0
        path = self.final_store.path
        for d in os.listdir(path):
            if d.startswith("graph=") and unquote(d[len("graph="):]) in written:
                f, b = dir_stats(os.path.join(path, d))
                files, size = files + f, size + b
        return {"writer.files": files, "writer.bytes": size}

    def sparql_layers(self) -> dict[str, float]:
        t = self.tracer
        out: dict[str, float] = {}
        from corpus import query_mix

        for name in query_mix(self.corpus):
            for part in ("parse", "plan", "exec"):
                xs = [s.dur for s in t.spans if s.name == f"sparql.{name}.{part}"]
                out[f"sparql.{name}.{part}_s"] = median(xs)
            out[f"sparql.{name}.rows"] = self.rows[name]
        out["writer.read_s"] = median(
            [s.dur for s in t.spans if s.name == "writer.read"])
        return out

    def event_layers(self, n_runs: int, n_passes: int) -> dict[str, float]:
        from spans import EVENT_KEYS, event_log_by_group

        groups = event_log_by_group(self.event_dir)
        zero = dict.fromkeys(EVENT_KEYS, 0.0)

        def g(name):
            return groups.get(name, zero)

        out = {}
        for layer, prev in (("extract", "scan"), ("mentions", "extract"),
                            ("link", "mentions"), ("materialize", "link")):
            a, b = g(f"prefix.{layer}"), g(f"prefix.{prev}")
            for k in EVENT_KEYS:
                v = a[k] if k == "jobs" else a[k] - b[k]
                out[f"{layer}.{k}"] = v / PREFIX_ROUNDS
        run_groups = {
            "canonicalize": ["canonicalize"],
            "writer": ["writer"],
            "lineage": ["lineage.completed", "lineage.append"],
            "runner": ["runner"],
        }
        for layer, names in run_groups.items():
            for k in EVENT_KEYS:
                out[f"{layer}.{k}"] = sum(g(n)[k] for n in names) / n_runs
        sparql = [n for n in groups if n.startswith("sparql.")]
        for k in EVENT_KEYS:
            out[f"sparql.{k}"] = sum(g(n)[k] for n in sparql) / n_passes
        return out

    # -- run ------------------------------------------------------------
    def run(self) -> dict:
        with ThreadPoolExecutor(1) as pool:
            generated = pool.submit(self.generate)
            self.start_spark()
        try:
            generated.result()
            return self._run()
        finally:
            self.spark.stop()
            self.stop_jvm()

    @staticmethod
    def stop_jvm() -> None:
        """End the gateway JVM and wait for it: it exits when its stdin
        closes (otherwise it would outlive spark.stop() until we exit)."""
        from pyspark import SparkContext

        proc = SparkContext._gateway.proc
        proc.stdin.close()
        proc.wait(timeout=120)

    def _run(self) -> dict:
        log("spark started, corpus generated")
        self.golden_df = self.spark.createDataFrame(
            self.golden, "subj string, pred string, obj string, "
                         "obj_lang string, graph string")
        self.setup()
        log(f"set up ({self.setup_s:.2f}s each)")
        self.install_spans()
        try:
            out = getattr(self, self.args.workload)()
        finally:
            self.tracer.close()
        walls = out["walls"]
        log(f"workload done, walls {[round(w, 2) for w in walls]}")
        print(f"# context: substrate_wall_s={self.substrate_wall():.4f} "
              f"substrate_rows={SUBSTRATE_ROWS}", flush=True)
        if self.trace:
            layers = {"trace.wall_s": median(walls)}
            layers.update(self.run_layers())
            layers.update(self.prefix_layers())
            layers.update(self.writer_files())
            if self.args.workload != "kg_query":
                self.query_pass(self.final_store)
            layers.update(self.sparql_layers())
            n_passes = (len(walls) + QUERY_WARMUP_PASSES
                        if self.args.workload == "kg_query" else 1)
        else:
            files, size = dir_stats(self.final_store.path)
            n_store = self.final_store.read().count()
            rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(self.jvm_pid)
        log("metrics gathered")
        self.spark.stop()
        log("spark stopped")
        if self.trace:
            layers.update(self.event_layers(len(self.traced_runs), n_passes))
            metrics = {k: (v, unit_of(k)) for k, v in layers.items()}
        else:
            # Percentiles over the operation kinds (the six query shapes,
            # or the pipeline run), each at its median latency in the run:
            # a run holds only 18 to 24 query executions, and a raw p90
            # over them would rest on the slowest one or two.
            typical = [median(xs) for xs in out["ops"].values()]
            print(f"# context: query_p50_s={median(typical):.4f}", flush=True)
            wall = median(walls)
            metrics = {
                "setup_s": (self.setup_s, "s"),
                "wall_s": (wall, "s"),
                "triples_per_s": (out["triples"] / wall, "1/s"),
                "query_p90_s": (p90(typical), "s"),
                "peak_rss_mb": (rss, "MB"),
                "store_bytes_per_triple": (size / n_store, "B"),
            }
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "writer.bytes":
        return "B"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="perf", choices=("perf", "tiny"),
                    help="corpus size; 'tiny' is for the self-test")
    ap.add_argument("--perturb", choices=PERTURBATIONS,
                    help="corrupt one output before the gate (self-test)")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kgap_spark", "__init__.py")):
        print("perfbench: run from the root of a kgap-spark checkout "
              "(kgap_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # Spark's Python workers import kgap_spark too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        result = Bench(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
