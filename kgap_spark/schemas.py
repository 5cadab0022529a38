"""Canonical table schemas for the KG-construction pipeline.

These mirror SURVEY.md §1.5. ``WEB_PAGES`` is exactly the shape mandated
by BASELINE.json's ``input_hint``; ``TRIPLES`` is the Spark analog of
k-gap's RDF quad model (triple + named graph, reference:
``ldes-consumer/app.py:309``, ``docs/components/ldes-consumer.md:330-336``)
widened with literal metadata (``obj_lang`` for language-tagged literals,
``docs/components/jupyter.md:439-440``; ``obj_datatype`` for typed
literals, ``docs/advanced-topics.md:137``) and provenance.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input lake: Common-Crawl-style web pages (input_hint shape, verbatim).
WEB_PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Output graph table (quad model; partitioned by `graph`, bucketable by
# `subj`). One named graph per source, mirroring k-gap's
# urn:kgap:{prefix}:{feed} convention (ldes-consumer/app.py:309).
TRIPLES = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("obj_lang", T.StringType(), True),
        T.StructField("obj_datatype", T.StringType(), True),
        T.StructField("graph", T.StringType(), False),
        T.StructField("src_url", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Entity-linking dictionary (broadcast side of the candidate join; the
# Spark analog of k-gap's vocabulary/translation LDES feeds,
# data/ldes-feeds-example.yml:12-21).
ALIAS_DICT = T.StructType(
    [
        T.StructField("alias", T.StringType(), False),
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("prior", T.DoubleType(), True),
        T.StructField("is_label", T.BooleanType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Lineage / checkpoint table: the analog of the per-feed /state dirs +
# captured container logs (app.py:299-305,394-426;
# docs/components/ldes-consumer.md:584-592). One row per
# (graph, src_partition, run); reruns anti-join against status='ok'.
LINEAGE = T.StructType(
    [
        T.StructField("graph", T.StringType(), False),
        T.StructField("src_partition", T.IntegerType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("rows_in", T.LongType(), True),
        T.StructField("triples_out", T.LongType(), True),
        # per-stage metric: mention-edge triples (kgap:mentions) — the
        # linking stage's yield, derived from the committed output
        T.StructField("mentions_out", T.LongType(), True),
        T.StructField("status", T.StringType(), False),
    ]
)

# Closed predicate vocabulary (FIXTURES.md §3).
PRED_MENTIONS = "kgap:mentions"
PRED_SAME_AS = "kgap:sameAs"
PRED_TYPE = "rdf:type"
PRED_LABEL = "rdfs:label"
PRED_EXTRACTED_FROM = "kgap:extractedFrom"
TYPE_WEB_PAGE = "kgap:WebPage"

# Named graph holding dictionary-level triples (labels, sameAs).
GRAPH_DICT = "urn:kgap:ldes:dict"


def graph_for_source(source: str, prefix: str = "kgap") -> str:
    """Named-graph IRI for a source feed (app.py:309 convention)."""
    return f"urn:{prefix}:ldes:{source}"
