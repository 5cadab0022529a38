"""spark-submit entry point: pipeline run + store operations CLI.

The north rule requires the pipeline to "run via spark-submit
--py-files on a multi-executor cluster"; this module is that entry:

    spark-submit --py-files kgap_spark.zip -m kgap_spark.job \\
        [run] --pages s3://lake/web_pages \\
        --alias-dict s3://lake/alias_dict \\
        --store s3://lake/triples \\
        --lineage s3://lake/lineage \\
        [--run-id R] [--shuffle-partitions N]

(locally: ``python -m kgap_spark.job ...``). One ``run`` invocation =
one resumable run: graphs already 'ok' in lineage are skipped, failures
are isolated per graph and retried next run (the reference's
scheduled-rerun model, sembench/kgap/main.py:7-13 + ldes-consumer
/state semantics).

The other subcommands mirror the reference's repository-ops surface
(docs/quick-reference.md:316-336, docs/components/graphdb.md:254-278):

    import   — bulk RDF load (ntriples/nquads/turtle/jsonld/rdfxml),
               optional ``--graph`` context, append or merge mode
    export   — store/graph → N-Quads text or csv/json/parquet/xlsx
    validate — SHACL shape file → violations (exit 1 if any)
    clear    — drop one graph (or --all: one metadata commit)
    sparql   — run a SPARQL SELECT/ASK/CONSTRUCT/DESCRIBE string or
               .sparql file against the store (GDB.query analog)
"""

from __future__ import annotations

import argparse
import json
import sys


def _session(args):
    from kgap_spark.session import get_spark

    return get_spark(
        "kgap-job",
        master=getattr(args, "master", None),
        shuffle_partitions=getattr(args, "shuffle_partitions", None),
    )


def _common(ap: argparse.ArgumentParser) -> None:
    ap.add_argument("--master", default=None,
                    help="override master (default: spark-submit provides it)")
    ap.add_argument("--shuffle-partitions", type=int, default=None)


def _run(rest: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="kgap_spark.job run")
    ap.add_argument("--pages", required=True, help="web_pages parquet/table path")
    ap.add_argument("--alias-dict", required=True, help="alias_dict parquet path")
    ap.add_argument("--store", required=True, help="triples store path")
    ap.add_argument("--lineage", required=True, help="lineage log path")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--no-dict-graph", action="store_true",
                    help="skip the dictionary graph (labels/sameAs)")
    _common(ap)
    args = ap.parse_args(rest)

    from kgap_spark.lineage import LineageLog, run_pipeline_resumable
    from kgap_spark.triples import TripleStore

    spark = _session(args)
    pages = spark.read.parquet(args.pages)
    alias = spark.read.parquet(args.alias_dict)
    store = TripleStore(spark, args.store)
    lineage = LineageLog(spark, args.lineage)

    result = run_pipeline_resumable(
        spark, pages, alias, store, lineage,
        run_id=args.run_id,
        include_dict_graph=not args.no_dict_graph,
    )
    print(json.dumps({
        "run_id": result["run_id"],
        "graphs_done": len(result["graphs_done"]),
        "graphs_failed": result["graphs_failed"],
        "triples_out": result["triples_out"],
        "wall_ms": result["wall_ms"],
    }))
    return 1 if result["graphs_failed"] else 0


def _import(rest: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="kgap_spark.job import")
    ap.add_argument("--path", required=True, help="RDF file(s)/dir to import")
    ap.add_argument("--format", default="ntriples",
                    choices=["ntriples", "nquads", "turtle", "trig",
                             "jsonld", "rdfxml"])
    ap.add_argument("--store", required=True)
    ap.add_argument("--graph", default=None,
                    help="default graph for quads without one (?context=)")
    ap.add_argument("--mode", default="append", choices=["append", "merge"])
    ap.add_argument("--lines", action="store_true",
                    help="jsonld only: newline-delimited node objects "
                         "(line-splittable bulk mode)")
    ap.add_argument("--on-error", default="fail", choices=["fail", "skip"],
                    help="unparseable input: fail the job (default) or "
                         "skip-and-report (rejected_lines in the output)")
    _common(ap)
    args = ap.parse_args(rest)

    from kgap_spark.io import read_rdf
    from kgap_spark.triples import TripleStore

    spark = _session(args)
    kwargs = {"lines": True} if args.lines else {}
    quads = read_rdf(spark, args.path, args.format, args.graph,
                     on_error=args.on_error, **kwargs)
    store = TripleStore(spark, args.store)
    # count the INCOMING quads, not the store total after the write (a
    # second import into a non-empty store would report a misleading
    # figure); localCheckpoint so the count and the write share one scan
    quads = quads.localCheckpoint(eager=True)
    n_in = quads.count()
    if args.mode == "merge":
        store.merge(quads)
    else:
        store.append(quads)
    out = {"imported": n_in, "mode": args.mode}
    # under --on-error fail an unparseable line already failed the scan
    if args.on_error == "skip" and args.format in ("ntriples", "nquads"):
        from kgap_spark.io.rdf import ntriples_rejects

        out["rejected_lines"] = ntriples_rejects(spark, args.path).count()
    print(json.dumps(out))
    return 0


def _export(rest: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="kgap_spark.job export")
    ap.add_argument("--store", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--format", default="nquads",
                    choices=["nquads", "turtle", "csv", "json", "parquet",
                             "xlsx"])
    ap.add_argument("--graph", default=None, help="export one graph only")
    _common(ap)
    args = ap.parse_args(rest)

    from kgap_spark.io import export_results, write_ntriples
    from kgap_spark.triples import TripleStore

    spark = _session(args)
    store = TripleStore(spark, args.store)
    df = store.read_graph(args.graph) if args.graph else store.read()
    if args.format == "nquads":
        write_ntriples(df, args.out)
    elif args.format == "turtle":
        from kgap_spark.io import write_turtle

        write_turtle(df, args.out)
    else:
        export_results(df, args.out, fmt=args.format)
    print(json.dumps({"exported": df.count(), "format": args.format}))
    return 0


def _validate(rest: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="kgap_spark.job validate")
    ap.add_argument("--store", required=True)
    ap.add_argument("--shape", required=True, help="SHACL shape .ttl file")
    ap.add_argument("--graph", default=None)
    _common(ap)
    args = ap.parse_args(rest)

    from kgap_spark.triples import TripleStore
    from kgap_spark.validate.shacl import validate_with_shape

    spark = _session(args)
    store = TripleStore(spark, args.store)
    df = store.read_graph(args.graph) if args.graph else store.read()
    with open(args.shape) as f:
        shape = f.read()
    violations = validate_with_shape(df, shape)
    n = violations.count()
    sample = [r.asDict() for r in violations.limit(10).collect()]
    print(json.dumps({"violations": n, "sample": sample}))
    return 1 if n else 0


def _clear(rest: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="kgap_spark.job clear")
    ap.add_argument("--store", required=True)
    g = ap.add_mutually_exclusive_group(required=True)
    g.add_argument("--graph", default=None)
    g.add_argument("--all", action="store_true")
    _common(ap)
    args = ap.parse_args(rest)

    from kgap_spark.triples import TripleStore

    spark = _session(args)
    store = TripleStore(spark, args.store)
    if args.all:
        graphs = store.graphs()   # a manifest read, no job
        store.delete_graphs(graphs)
        print(json.dumps({"cleared": graphs}))
    else:
        store.delete_graph(args.graph)
        print(json.dumps({"cleared": [args.graph]}))
    return 0


def _sparql(rest: list[str]) -> int:
    """Run a SPARQL query (string or .sparql file) against the store —
    the GDB.query analog of the notebooks (kgap_tools.py:22-31).
    SELECT/DESCRIBE results export like `export`; ASK prints the
    boolean; CONSTRUCT quads can be written back with --into."""
    ap = argparse.ArgumentParser(prog="kgap_spark.job sparql")
    ap.add_argument("--store", required=True)
    q = ap.add_mutually_exclusive_group(required=True)
    q.add_argument("--query", default=None, help="SPARQL text")
    q.add_argument("--query-file", default=None, help="path to .sparql")
    ap.add_argument("--out", default=None, help="result output dir")
    ap.add_argument("--format", default="csv",
                    choices=["csv", "json", "parquet", "xlsx"])
    ap.add_argument("--into", default=None,
                    help="CONSTRUCT only: merge result quads into this "
                         "graph of the store")
    ap.add_argument("--graph", default=None,
                    help="updates only: default graph for inserted quads")
    ap.add_argument("--show", type=int, default=20,
                    help="rows to print when no --out is given")
    _common(ap)
    args = ap.parse_args(rest)

    from pyspark.sql import functions as F

    from kgap_spark.io import export_results
    from kgap_spark.query.sparql import (
        Update,
        execute_sparql,
        execute_sparql_update,
        parse_sparql,
    )
    from kgap_spark.triples import TripleStore

    spark = _session(args)
    store = TripleStore(spark, args.store)
    text = args.query
    if text is None:
        with open(args.query_file) as f:
            text = f.read()
    if isinstance(parse_sparql(text), Update):
        stats = execute_sparql_update(store, text, default_graph=args.graph)
        print(json.dumps(stats))
        return 0
    result = execute_sparql(store.read(), text)
    if isinstance(result, bool):
        print(json.dumps({"ask": result}))
        return 0
    if args.into is not None:
        quads = result.withColumn("graph", F.lit(args.into))
        store.merge(quads)
        print(json.dumps({"constructed": quads.count(), "graph": args.into}))
        return 0
    if args.out:
        export_results(result, args.out, fmt=args.format)
        print(json.dumps({"rows": result.count(), "out": args.out}))
    else:
        rows = [r.asDict() for r in result.limit(args.show).collect()]
        print(json.dumps({"rows": rows}, default=str))
    return 0


_COMMANDS = {
    "run": _run,
    "import": _import,
    "export": _export,
    "validate": _validate,
    "clear": _clear,
    "sparql": _sparql,
}


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if argv and not argv[0].startswith("-") and argv[0] in _COMMANDS:
        cmd, rest = argv[0], argv[1:]
    else:
        cmd, rest = "run", argv  # backward-compatible default
    return _COMMANDS[cmd](rest)


if __name__ == "__main__":
    sys.exit(main())
