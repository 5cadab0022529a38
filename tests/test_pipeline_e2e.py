"""Golden end-to-end: fixture web_pages → pipeline → triple P/R ≥ 0.95
(BASELINE.json gate; exact match expected at fixture scale)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgap_spark.metrics import precision_recall
from kgap_spark.triples import build_triples


def test_pipeline_matches_golden(spark, tiny):
    got = build_triples(tiny["web_pages"], tiny["alias_dict"])
    pr = precision_recall(got, tiny["golden_triples"])
    assert pr["precision"] >= 0.95, pr
    assert pr["recall"] >= 0.95, pr
    # fixture-scale expectation: exact
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0, pr


def test_pipeline_quads_match_golden_graphs(spark, tiny):
    """graph + obj_lang columns must also agree (quad-level check)."""
    key = ["subj", "pred", "obj", "graph"]
    got = build_triples(tiny["web_pages"], tiny["alias_dict"]).select(*key).distinct()
    ref = tiny["golden_triples"].select(*key).distinct()
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_labels_carry_language_tags(spark, tiny):
    got = build_triples(tiny["web_pages"], tiny["alias_dict"])
    labels = got.filter(F.col("pred") == "rdfs:label")
    assert labels.filter(F.col("obj_lang").isNull()).count() == 0
    langs = {r.obj_lang for r in labels.select("obj_lang").distinct().collect()}
    assert langs == {"en", "nl", "de"}


def test_pipeline_direct_path_matches_golden(spark, monkeypatch):
    """A dictionary within MAX_DIRECT_SCAN_ALIASES takes the direct scan
    inside build_triples: golden P/R stays exact, and the quads equal
    those of the general path (link_mentions over detect_mentions)
    through the same materialization."""
    import kgap_spark.mentions.detect as detect
    from kgap_spark import schemas as S
    from kgap_spark.fixtures import FixtureConfig, alias_rows, golden_rows, page_row

    cfg = FixtureConfig(60, 10, 5)
    pages = spark.createDataFrame(
        [page_row(i, cfg) for i in range(cfg.n_pages)], S.WEB_PAGES)
    alias = spark.createDataFrame(alias_rows(cfg), S.ALIAS_DICT)
    golden = spark.createDataFrame(
        golden_rows(cfg),
        "subj string, pred string, obj string, obj_lang string, graph string")
    assert alias.select("alias").distinct().count() <= detect.MAX_DIRECT_SCAN_ALIASES

    taken = []
    real = detect.mention_entities_direct

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        taken.append(out is not None)
        return out

    monkeypatch.setattr(detect, "mention_entities_direct", spy)
    direct = build_triples(pages, alias).localCheckpoint(eager=True)
    assert taken == [True]
    pr = precision_recall(direct, golden)
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0, pr

    monkeypatch.setattr(detect, "mention_entities_direct", lambda *a, **k: None)
    general = build_triples(pages, alias)
    assert direct.exceptAll(general).count() == 0
    assert general.exceptAll(direct).count() == 0
