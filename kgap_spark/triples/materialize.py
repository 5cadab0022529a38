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


def build_triples(
    pages: DataFrame, alias_dict: DataFrame,
    canon: DataFrame | None = None,
) -> DataFrame:
    """Full pipeline: pages + dictionary → quad DataFrame (lazy).

    extract → detect + link (``mention_entities``) → canonicalize →
    materialize. Each stage is a pure DataFrame transformation; only
    dictionary-sized data is read driver-side.

    ``canon``: a precomputed ``canonical_mapping(alias_dict)`` — pass it
    when calling per micro-batch (streaming) so the CC iterations run
    once per dictionary, not once per batch.
    """
    from kgap_spark.canonicalize import canonical_mapping
    from kgap_spark.extract import with_extracted_text
    from kgap_spark.mentions import mention_entities

    pages_t = with_extracted_text(pages)
    linked = mention_entities(pages_t, alias_dict)

    # The canonical mapping is dictionary-sized and referenced by TWO
    # branches of the output union (mention rewrite + dict triples);
    # materialize it once so a single write action doesn't run the CC
    # iterations twice.
    if canon is None:
        canon = canonical_mapping(alias_dict).localCheckpoint(eager=True)
    linked_canon = linked.join(
        F.broadcast(canon), "entity_id", "left"
    ).withColumn(
        "canonical_id", F.coalesce(F.col("canonical_id"), F.col("entity_id"))
    )

    return page_graph_triples(pages_t, linked_canon).unionByName(
        dict_graph_triples(alias_dict, canon)
    )
