"""Triple materialization — the CONSTRUCT stage.

k-gap produces new triples from existing data via SPARQL CONSTRUCT
(reference: ``docs/components/sembench.md:443-455``); here the analog is
``select(lit(pred), …) → union`` over the pipeline's intermediate
DataFrames, emitting the closed vocabulary of FIXTURES.md §3:

- page graph (one named graph per source site, app.py:309 convention):
  ``(url, rdf:type, kgap:WebPage)``,
  ``(url, kgap:extractedFrom, site)``,
  ``(url, kgap:mentions, canonical_entity)`` (distinct);
- dictionary graph ``urn:kgap:ldes:dict``:
  ``(entity, rdfs:label, name)@lang`` for canonical entities,
  ``(dup_entity, kgap:sameAs, canonical_entity)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgap_spark import schemas as S
from kgap_spark.session import job_description

_SITE_RE = r"https?://([^./]+)\."


def site_of(url_col) -> F.Column:
    return F.regexp_extract(url_col, _SITE_RE, 1)


def graph_of(url_col) -> F.Column:
    return F.concat(F.lit("urn:kgap:ldes:"), site_of(url_col))


def _quad(subj, pred: str, obj, obj_lang=None, graph=None, src_url=None):
    return [
        subj.alias("subj"),
        F.lit(pred).alias("pred"),
        obj.alias("obj"),
        (obj_lang if obj_lang is not None else F.lit(None).cast("string")).alias("obj_lang"),
        F.lit(None).cast("string").alias("obj_datatype"),
        graph.alias("graph"),
        (src_url if src_url is not None else F.lit(None).cast("string")).alias("src_url"),
    ]


def page_graph_triples(pages: DataFrame, linked: DataFrame) -> DataFrame:
    """pages(url, …) + linked mentions (url, canonical_id) → page-graph
    triples. ``linked`` must already be canonicalized."""
    url = F.col("url")
    type_t = pages.select(
        *_quad(url, S.PRED_TYPE, F.lit(S.TYPE_WEB_PAGE), graph=graph_of(url), src_url=url)
    )
    from_t = pages.select(
        *_quad(url, S.PRED_EXTRACTED_FROM, site_of(url), graph=graph_of(url), src_url=url)
    )
    mention_t = (
        linked.select("url", "canonical_id")
        .distinct()
        .select(
            *_quad(
                url, S.PRED_MENTIONS, F.col("canonical_id"),
                graph=graph_of(url), src_url=url,
            )
        )
    )
    return type_t.unionByName(from_t).unionByName(mention_t)


def dict_graph_triples(alias_dict: DataFrame, canon: DataFrame) -> DataFrame:
    """alias_dict + canonical mapping → dictionary-graph triples.

    Labels are emitted only for canonical entities (duplicates collapse
    into their canonical id; their own labels are redundant). sameAs is
    one triple per non-identity mapping row.
    """
    g = F.lit(S.GRAPH_DICT)
    canonical_ids = canon.filter(F.col("entity_id") == F.col("canonical_id"))
    labels = (
        alias_dict.filter(F.col("is_label"))
        .join(
            F.broadcast(canonical_ids.select("entity_id")), "entity_id", "inner"
        )
        .select(
            *_quad(
                F.col("entity_id"), S.PRED_LABEL, F.col("alias"),
                obj_lang=F.col("lang"), graph=g,
            )
        )
        .distinct()
    )
    same_as = (
        canon.filter(F.col("entity_id") != F.col("canonical_id"))
        .select(
            *_quad(F.col("entity_id"), S.PRED_SAME_AS, F.col("canonical_id"), graph=g)
        )
    )
    return labels.unionByName(same_as)


def page_mentions(pages: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """The page branch of ``build_triples``: extract → detect + link
    (``mention_entities``) → linked ``(url, entity_id)`` pairs, one per
    linked alias."""
    from kgap_spark.extract import with_extracted_text
    from kgap_spark.mentions import mention_entities

    return mention_entities(with_extracted_text(pages), alias_dict)


def build_triples(
    pages: DataFrame, alias_dict: DataFrame,
    canon: DataFrame | None = None,
) -> DataFrame:
    """Full pipeline: pages + dictionary → quad DataFrame.

    Two branches meet in the materialization: the page branch
    (``page_mentions``: extract → detect + link) and the dictionary
    branch (``canonical_mapping``: duplicate edges → connected
    components). With ``canon=None`` both are checkpointed concurrently:
    the dictionary branch on an ``InheritableThread`` started first (its
    jobs keep the caller's job group), the page branch on the caller's
    thread, so the page branch's fresh-JVM costs (case-mapping start-up
    on the first ``lower()``, the extraction UDF's Python worker) run
    while connected components iterates. The thread is joined before
    anything is returned or raised; an error in either branch propagates
    after both have stopped. Jobs are described ``build_triples:
    canonicalize`` / ``build_triples: mentions``, and the caller's
    description is restored. The returned union over the two
    checkpoints is lazy.

    ``canon``: a precomputed ``canonical_mapping(alias_dict)`` — pass it
    when calling per micro-batch (streaming) so the CC iterations run
    once per dictionary, not once per batch. The page branch then stays
    lazy and no thread is started.
    """
    if canon is not None:
        return _materialize(pages, page_mentions(pages, alias_dict), alias_dict, canon)

    from pyspark import InheritableThread

    from kgap_spark.canonicalize import canonical_mapping

    spark = pages.sparkSession
    out: dict = {}

    def canonicalize() -> None:
        try:
            # referenced twice below (mention rewrite + dict triples):
            # materialized once, so the CC iterations run once
            with job_description(spark, "build_triples: canonicalize"):
                out["canon"] = canonical_mapping(alias_dict).localCheckpoint(eager=True)
        except BaseException as e:  # re-raised on the caller's thread
            out["error"] = e

    worker = InheritableThread(target=canonicalize)
    worker.start()
    try:
        with job_description(spark, "build_triples: mentions"):
            linked = page_mentions(pages, alias_dict).distinct().localCheckpoint(eager=True)
    finally:
        worker.join()
    if "error" in out:
        raise out["error"]
    return _materialize(pages, linked, alias_dict, out["canon"])


def _materialize(
    pages: DataFrame, linked: DataFrame, alias_dict: DataFrame, canon: DataFrame
) -> DataFrame:
    """Rewrite linked ``(url, entity_id)`` pairs to canonical ids and
    union the page-graph and dictionary-graph triples."""
    linked_canon = linked.join(
        F.broadcast(canon), "entity_id", "left"
    ).withColumn(
        "canonical_id", F.coalesce(F.col("canonical_id"), F.col("entity_id"))
    )
    return page_graph_triples(pages, linked_canon).unionByName(
        dict_graph_triples(alias_dict, canon)
    )
