"""spark-submit job entry + YAML pipeline config."""

from __future__ import annotations

import json
import subprocess
import sys


def test_job_cli_end_to_end(fixture_dir, tmp_path):
    """python -m kgap_spark.job — the spark-submit entry — runs the full
    resumable pipeline and reports machine-readable results."""
    cmd = [
        sys.executable, "-m", "kgap_spark.job",
        "--pages", f"{fixture_dir}/web_pages.parquet",
        "--alias-dict", f"{fixture_dir}/alias_dict.parquet",
        "--store", str(tmp_path / "store"),
        "--lineage", str(tmp_path / "lineage"),
        "--master", "local[4]",
        "--shuffle-partitions", "4",
        "--run-id", "t1",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=420,
                         cwd="/root/repo")
    assert out.returncode == 0, out.stderr[-1500:]
    result = json.loads([ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1])
    assert result["graphs_done"] > 0 and result["triples_out"] > 0

    # second invocation: resumable no-op
    out2 = subprocess.run(cmd + ["--run-id", "t2"], capture_output=True,
                          text=True, timeout=420, cwd="/root/repo")
    result2 = json.loads(
        [ln for ln in out2.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert result2["graphs_done"] == 0 and out2.returncode == 0


def test_pipeline_from_yaml(spark, tiny, tmp_path):
    from pyspark.sql import functions as F

    from kgap_spark.pipelines import pipeline_from_yaml, run_pipeline
    from kgap_spark.triples import build_triples

    cfg = tmp_path / "wf.yaml"
    cfg.write_text(
        """
name: nightly
steps:
  - kind: query
    name: mentions
    sql: SELECT * FROM all_triples WHERE pred = 'kgap:mentions'
  - kind: transform
    name: counts
    source: mentions
  - kind: validate
    name: violations
    source: all_triples
    fail_on_violations: true
    assertions:
      - {kind: required, path: rdf:type, focus_type: kgap:WebPage}
"""
    )
    pipe = pipeline_from_yaml(
        str(cfg),
        transforms={
            "counts": lambda df: df.groupBy("obj").agg(F.count(F.lit(1)).alias("n"))
        },
    )
    triples = build_triples(tiny["web_pages"], tiny["alias_dict"])
    ns = run_pipeline(spark, pipe, inputs={"all_triples": triples})
    assert ns["violations"].count() == 0
    assert ns["counts"].count() > 0


def test_job_cli_import_validate_export_clear(tmp_path):
    """The repository-ops subcommands end-to-end in one subprocess-free
    flow: import TTL → validate against a shape → export N-Quads →
    clear."""
    import json

    from kgap_spark.job import main

    ttl = tmp_path / "in.ttl"
    ttl.write_text(
        "@prefix ex: <http://example.org/> .\n"
        "ex:a a ex:Person ; ex:name \"A\" .\n"
        "ex:b a ex:Person .\n"
    )
    shape = tmp_path / "shape.ttl"
    shape.write_text(
        "@prefix sh: <http://www.w3.org/ns/shacl#> .\n"
        "@prefix ex: <http://example.org/> .\n"
        "ex:S a sh:NodeShape ; sh:targetClass ex:Person ;\n"
        "  sh:property [ sh:path ex:name ; sh:minCount 1 ] .\n"
    )
    store = str(tmp_path / "store")
    base = ["--master", "local[2]", "--shuffle-partitions", "2"]

    rc = main(["import", "--path", str(ttl), "--format", "turtle",
               "--store", store, "--graph", "urn:g", *base])
    assert rc == 0

    # ex:b has no name → 1 violation → exit code 1
    rc = main(["validate", "--store", store, "--shape", str(shape), *base])
    assert rc == 1

    out = str(tmp_path / "out_nq")
    rc = main(["export", "--store", store, "--out", out,
               "--format", "nquads", *base])
    assert rc == 0

    rc = main(["clear", "--store", store, "--all", *base])
    assert rc == 0


def test_clear_all_is_a_listing(spark, jobs_launched, tmp_path):
    """``clear --all`` drops the graphs a partition listing names: no
    data scan, so no Spark job."""
    from kgap_spark import schemas as S
    from kgap_spark.job import main
    from kgap_spark.triples import TripleStore

    path = str(tmp_path / "store")
    TripleStore(spark, path).append(spark.createDataFrame(
        [("a", "p", "1", None, None, "urn:g:1", None),
         ("b", "p", "2", None, None, "urn:g:2", None)], S.TRIPLES))
    argv = ["clear", "--store", path, "--all",
            "--master", "local[4]", "--shuffle-partitions", "4"]
    assert jobs_launched(lambda: main(argv)) == 0
    assert TripleStore(spark, path).graphs() == []


def test_import_skip_reports_rejected_lines(tmp_path, capsys):
    """``--on-error skip`` imports the parseable lines and reports the
    rejected ones."""
    from kgap_spark.job import main

    nt = tmp_path / "in.nt"
    nt.write_text(
        "<urn:a> <urn:p> \"1\" .\n"
        "this is not a triple\n"
        "<urn:b> <urn:p> <urn:c> .\n"
    )
    rc = main(["import", "--path", str(nt), "--store", str(tmp_path / "store"),
               "--graph", "urn:g", "--on-error", "skip", "--master", "local[2]",
               "--shuffle-partitions", "2"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["imported"] == 2 and out["rejected_lines"] == 1


def test_import_fail_mode_skips_reject_scan(tmp_path, capsys, monkeypatch):
    """Under the default ``--on-error fail`` a bad line fails the scan,
    so the import never re-reads the input to count rejects."""
    import kgap_spark.io.rdf as rdf
    from kgap_spark.job import main

    def no_scan(*_a, **_k):
        raise AssertionError("ntriples_rejects called under --on-error fail")

    monkeypatch.setattr(rdf, "ntriples_rejects", no_scan)
    nt = tmp_path / "in.nt"
    nt.write_text("<urn:a> <urn:p> \"1\" .\n<urn:b> <urn:p> <urn:c> .\n")
    rc = main(["import", "--path", str(nt), "--store", str(tmp_path / "store"),
               "--graph", "urn:g", "--master", "local[2]", "--shuffle-partitions", "2"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["imported"] == 2 and "rejected_lines" not in out
