"""Seeded inputs, golden output and expected query answers.

The corpus comes from the public generators in ``kgap_spark.fixtures``.
``page_row`` is defined for any page id, so the seed picks a page-id
window: seed ``s`` covers ids ``[s * n_pages, (s + 1) * n_pages)``. The
seed also picks the graphs held back for the resume workload and the
parameters of the SPARQL mix. Golden triples follow the published
rules the fixture module applies to ``golden_rows`` (which only covers
ids from 0), here over the seed's window.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import pandas as pd

from kgap_spark import fixtures as fx

SCALES = {
    # 4k pages over 50 sites, 2k entities: the dictionary (~9.6k alias
    # rows) is far above MAX_DIRECT_SCAN_ALIASES, so the generic mention
    # path runs, as it does in the product.
    "perf": fx.FixtureConfig(4_000, 2_000, 50),
    "tiny": fx.FixtureConfig.for_scale("tiny"),
}
RESUME_NEW_SHARE = 0.1  # share of site graphs the resume run commits


@dataclass(frozen=True)
class Corpus:
    cfg: fx.FixtureConfig
    seed: int

    @property
    def page_ids(self) -> range:
        start = self.seed * self.cfg.n_pages
        return range(start, start + self.cfg.n_pages)

    def graphs(self) -> list[str]:
        return sorted({f"urn:kgap:ldes:{fx.page_site(i, self.cfg)}"
                       for i in self.page_ids})

    def held_out_graphs(self) -> list[str]:
        """Site graphs the resume run commits; the rest are restored."""
        graphs = self.graphs()
        k = max(1, round(len(graphs) * RESUME_NEW_SHARE))
        return sorted(random.Random(f"resume:{self.seed}").sample(graphs, k))

    def page_rows(self, ids) -> list[dict]:
        return [fx.page_row(int(i), self.cfg) for i in ids]

    def alias_rows(self) -> list[dict]:
        return fx.alias_rows(self.cfg)

    def golden(self) -> pd.DataFrame:
        """Golden quads (subj, pred, obj, obj_lang, graph) of the window."""
        cfg = self.cfg
        arows = fx.alias_rows(cfg)
        by_alias: dict[str, list[dict]] = {}
        for r in arows:
            by_alias.setdefault(r["alias"], []).append(r)
        canon = fx.canonical_map(arows)
        rows = []
        for n in range(cfg.n_entities):
            for lang in fx.LANGS:
                rows.append((fx.entity_id(n), "rdfs:label",
                             fx.entity_name(n, lang), lang, fx.GRAPH_DICT))
        for eid, ceid in sorted(canon.items()):
            if eid != ceid:
                rows.append((eid, "kgap:sameAs", ceid, None, fx.GRAPH_DICT))
        for i in self.page_ids:
            url = fx.page_url(i, cfg)
            site = fx.page_site(i, cfg)
            graph = f"urn:kgap:ldes:{site}"
            rows.append((url, "rdf:type", "kgap:WebPage", None, graph))
            rows.append((url, "kgap:extractedFrom", site, None, graph))
            if not fx.expected_text(i, cfg):
                continue
            lang = fx.page_lang(i)
            for alias in fx.page_mentions(i, cfg):
                eid = fx.linked_entity_for_alias(alias, lang, by_alias)
                if eid is not None:
                    rows.append((url, "kgap:mentions", canon.get(eid, eid),
                                 None, graph))
        return pd.DataFrame(
            rows, columns=["subj", "pred", "obj", "obj_lang", "graph"]
        ).drop_duplicates(ignore_index=True)


# ---------------------------------------------------------------------------
# SPARQL mix. Terms are written as the store holds them: compact
# ``kgap:``/``rdfs:`` names with no PREFIX line. An undeclared ``rdf:``
# matches both the compact and the full IRI; a declared
# ``PREFIX rdf: <…>`` expands to the full IRI only and matches nothing
# in a pipeline-built store.

def query_params(corpus: Corpus) -> tuple[str, str, str]:
    """The seed's (site, label word, label language) for the mix."""
    rng = random.Random(f"query:{corpus.seed}")
    site = fx.page_site(rng.choice(corpus.page_ids), corpus.cfg)
    return site, rng.choice(fx.NAME_B), rng.choice(fx.LANGS)


def query_mix(corpus: Corpus) -> dict[str, str]:
    site, word, lang = query_params(corpus)
    return {
        "mention_topk": """
            SELECT ?e (COUNT(?p) AS ?n) WHERE { ?p kgap:mentions ?e }
            GROUP BY ?e ORDER BY DESC(?n) ?e LIMIT 10""",
        "cooccur": """
            SELECT ?a ?b (COUNT(?p) AS ?n) WHERE {
              ?p kgap:mentions ?a . ?p kgap:mentions ?b .
              FILTER(STR(?a) < STR(?b)) }
            GROUP BY ?a ?b ORDER BY DESC(?n) ?a ?b LIMIT 10""",
        "site_labels": f"""
            SELECT ?label (COUNT(?p) AS ?n) WHERE {{
              ?p kgap:extractedFrom ?site . ?p kgap:mentions ?e .
              ?e rdfs:label ?label .
              FILTER(STR(?site) = "{site}" && LANG(?label) = "en") }}
            GROUP BY ?label ORDER BY DESC(?n) ?label LIMIT 20""",
        "label_contains": f"""
            SELECT ?e ?label WHERE {{
              ?e rdfs:label ?label .
              FILTER(LANG(?label) = "{lang}" && CONTAINS(STR(?label), "{word}")) }}""",
        "sameas": """
            SELECT ?dup ?canon ?label WHERE {
              ?dup kgap:sameAs ?canon . ?canon rdfs:label ?label .
              FILTER(LANG(?label) = "en") }""",
        "type_counts": """
            SELECT ?type (COUNT(?s) AS ?n) WHERE { ?s rdf:type ?type }
            GROUP BY ?type""",
    }


# Queries whose answer is a set (no ORDER BY): compared after sorting.
UNORDERED = {"label_contains", "sameas", "type_counts"}


def expected_answers(corpus: Corpus, golden: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """Each query's answer computed with pandas over the golden quads."""
    site, word, lang = query_params(corpus)

    def by(pred):
        return golden[golden.pred == pred]

    ment = by("kgap:mentions")[["subj", "obj"]]
    labels = by("rdfs:label")
    en = labels[labels.obj_lang == "en"][["subj", "obj"]]

    topk = (ment.groupby("obj").size().reset_index(name="n")
            .rename(columns={"obj": "e"}))
    topk = topk.sort_values(["n", "e"], ascending=[False, True]).head(10)

    pairs = ment.merge(ment, on="subj", suffixes=("_a", "_b"))
    pairs = pairs[pairs.obj_a < pairs.obj_b]
    cooc = (pairs.groupby(["obj_a", "obj_b"]).size().reset_index(name="n")
            .rename(columns={"obj_a": "a", "obj_b": "b"}))
    cooc = cooc.sort_values(["n", "a", "b"],
                            ascending=[False, True, True]).head(10)

    site_pages = by("kgap:extractedFrom")
    site_pages = site_pages[site_pages.obj == site][["subj"]]
    hop = site_pages.merge(ment, on="subj").merge(
        en.rename(columns={"subj": "obj", "obj": "label"}), on="obj")
    site_labels = hop.groupby("label").size().reset_index(name="n")
    site_labels = site_labels.sort_values(
        ["n", "label"], ascending=[False, True]).head(20)

    lab = labels[(labels.obj_lang == lang) & labels.obj.str.contains(word, regex=False)]
    contains = lab.rename(columns={"subj": "e", "obj": "label"})[["e", "label"]]

    same = by("kgap:sameAs")[["subj", "obj"]].rename(
        columns={"subj": "dup", "obj": "canon"})
    sameas = same.merge(en.rename(columns={"subj": "canon", "obj": "label"}),
                        on="canon")

    types = (by("rdf:type").groupby("obj").size().reset_index(name="n")
             .rename(columns={"obj": "type"}))
    return {
        "mention_topk": topk, "cooccur": cooc, "site_labels": site_labels,
        "label_contains": contains, "sameas": sameas, "type_counts": types,
    }


def same_answer(name: str, got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Row-for-row equality of a query answer with its expectation."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False

    def norm(df):
        df = df.copy()
        if "n" in df.columns:
            df["n"] = df["n"].astype("int64")
        rows = [tuple(r) for r in df.itertuples(index=False)]
        return sorted(rows) if name in UNORDERED else rows

    return norm(got) == norm(want)
