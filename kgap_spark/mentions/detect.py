"""Mention detection: dictionary matching of alias surface forms.

k-gap's analysis joins vocabulary feeds (e.g. the BODC P02 vocab and its
Dutch translation, reference: ``data/ldes-feeds-example.yml:12-21``)
against harvested data at query time; our batch analog scans page text
for alias surface forms from the broadcast dictionary.

Everything here is JVM-side Catalyst expressions (split / transform /
explode / broadcast hash join) — no Python in the hot path. Matching is
language-routed: an alias matches only pages whose ``lang`` equals the
alias ``lang`` (or alias lang ``'*'``), mirroring the reference's
language-tagged-literal filter ``FILTER(LANG(?label) = 'en')``
(``docs/components/jupyter.md:439-440``).

Scale notes (100 TB): the n-gram explode multiplies rows by ~3× token
count, but it feeds directly into a broadcast join + partial aggregation
— no shuffle until the per-(url, alias) distinct, which AQE coalesces. The
dictionary stays < autoBroadcastJoinThreshold by design (SURVEY §2.4 J6).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ALIAS_TOKENS = 3


def with_ngrams(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``gram`` (exploded 1..3-token spans of the lowercased text).

    Token spans are built with ``transform`` over the token array —
    pure Catalyst, whole-stage-codegen friendly.
    """
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    df = pages.withColumn("_toks", F.filter(toks, lambda t: t != F.lit("")))
    # concat, not array_union: n-gram families are disjoint by
    # construction (different token counts), and union's per-row hash
    # set is pure allocation overhead at corpus scale.
    grams = F.concat(df["_toks"], _spans(2), _spans(3))
    return (
        df.withColumn("gram", F.explode(grams))
        .drop("_toks")
    )


def _spans(n: int):
    """n-token spans of the ``_toks`` array as space-joined strings."""
    # transform gives a 0-based index; span j covers tokens j..j+n-1.
    parts = ", ".join(f"_toks[i + {k}]" for k in range(n))
    return F.expr(
        f"CASE WHEN size(_toks) >= {n} THEN "
        f"transform(slice(_toks, 1, size(_toks) - {n - 1}), "
        f"(x, i) -> concat_ws(' ', {parts})) "
        f"ELSE array() END"
    )


# Above this many distinct alias first-tokens, skip the pre-filter:
# the InSet probe stays cheap, but a filter that passes almost
# everything just adds work. Dictionaries are broadcast-sized by
# design, so the driver-side collect is bounded too.
MAX_FIRST_TOKEN_FILTER = 100_000


def _sql_string(s: str) -> str:
    """``s`` as a SQL expression that folds to the string literal.
    Quotes and backslashes go through ``chr()`` so the text parses the
    same whether or not the session reads backslash escapes."""
    if "'" not in s and "\\" not in s:
        return f"'{s}'"
    parts = [
        {"'": "chr(39)", "\\": "chr(92)"}.get(p, f"'{p}'")
        for p in re.split(r"(['\\])", s) if p
    ]
    return "concat(" + ", ".join(parts) + ")"


def _first_token_grams(pages: DataFrame, alias_dict: DataFrame,
                       text_col: str) -> DataFrame | None:
    """Gram stream restricted to spans whose FIRST token opens some
    alias. The broadcast join discards every other span anyway — but
    only after the explode has materialized ~3×|tokens| concatenated
    strings; pruning at the start-position level keeps the exploded
    row count proportional to dictionary hits, not corpus size. The
    membership probe compiles to an InSet (hash set) per token."""
    firsts = [
        r.f for r in alias_dict.select(
            F.split(F.lower(F.col("alias")), r"\s+")[0].alias("f")
        ).distinct().collect()
    ]
    if len(firsts) > MAX_FIRST_TOKEN_FILTER:
        return None
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    df = pages.withColumn("_toks", F.filter(toks, lambda t: t != F.lit("")))
    # one SQL text for the whole IN list: Column.isin(list) makes a
    # py4j call per value (2,000 first tokens cost 1.3 s per run)
    in_list = ", ".join(_sql_string(f) for f in firsts if f is not None)
    opens = f"_toks[i] IN ({in_list})" if in_list else "false"
    starts = F.expr(f"filter(transform(_toks, (x, i) -> i), i -> {opens})")
    df = df.withColumn("_i", F.explode(starts))
    n = F.size("_toks")
    i = F.col("_i")
    t = F.col("_toks")
    g1 = t[i]
    g2 = F.when(i + 1 < n, F.concat_ws(" ", t[i], t[i + 1]))
    g3 = F.when(i + 2 < n, F.concat_ws(" ", t[i], t[i + 1], t[i + 2]))
    return (
        df.withColumn(
            "gram",
            F.explode(F.filter(F.array(g1, g2, g3), lambda x: x.isNotNull())),
        )
        .drop("_toks", "_i")
    )


# Direct-scan fast path: above this many distinct (valid) aliases the
# per-document contains() chain stops being cheaper than the exploded
# gram join; mention_entities then takes the general path.
MAX_DIRECT_SCAN_ALIASES = 64


def mention_entities_direct(
    pages: DataFrame, alias_dict: DataFrame, text_col: str = "text"
) -> DataFrame | None:
    """Linked ``(url, entity_id)`` mention pairs for a SMALL dictionary
    via a direct substring scan — provably equivalent to
    ``link_mentions(detect_mentions(pages, d)).select("url", "entity_id")``
    but with no token explode, no join, and no candidate aggregation.

    Why it is equivalent (the knowledge Catalyst cannot use):
    - a gram is 1..MAX_ALIAS_TOKENS tokens of ``split(lower(text), \\s+)``
      joined by ONE space, so ``lower(alias)`` occurs as a gram iff
      ``' '||alias||' '`` occurs in the single-space-collapsed, trimmed,
      space-padded lowercased text (token boundaries are exactly the
      spaces); aliases whose own whitespace is not already
      single-space-normalized, or with > MAX_ALIAS_TOKENS tokens, can
      never equal a gram and are dropped up front;
    - the argmax in ``link_mentions`` is per (url, alias) over the
      lang-routed candidate entities by (prior DESC, entity_id ASC) —
      a pure function of (alias, doc lang) that is precomputed
      driver-side into a tiny CASE-on-lang expression per alias;
    - aliases are lowercased by Python's ``str.lower()`` here and by
      the JVM's ``lower()`` on the general path; the two agree on the
      non-ASCII case mappings the equivalence test pins (dotted
      capital I, capital sharp s, Greek final sigma).

    Scale shape: one regexp pass + |aliases| codegen'd ``Contains``
    per document, one explode bounded by |aliases|, ONE shuffle (the
    caller's distinct) — vs the general path's corpus-sized explode,
    broadcast join and two aggregations. Returns None when the
    dictionary exceeds ``MAX_DIRECT_SCAN_ALIASES`` distinct aliases
    (or cannot be collected); ``mention_entities`` then takes the
    general path.
    """
    # bounded fetch: take(cap+1) instead of collect() so an unexpectedly
    # huge dictionary can never OOM the driver before the size check
    row_cap = MAX_DIRECT_SCAN_ALIASES * 64
    rows = alias_dict.select("alias", "entity_id", "lang", "prior") \
        .take(row_cap + 1)
    if len(rows) > row_cap:
        return None
    by_alias: dict[str, list[tuple[str, str | None, float]]] = {}
    for r in rows:
        if r["alias"] is None or r["entity_id"] is None:
            continue
        a = r["alias"].lower()
        # Java \s (ASCII) — the same class split() uses executor-side
        toks = [t for t in re.split(r"\s+", a, flags=re.ASCII) if t]
        if not toks or len(toks) > MAX_ALIAS_TOKENS or " ".join(toks) != a:
            continue  # can never equal a gram in the generic path
        by_alias.setdefault(a, []).append(
            (r["entity_id"], r["lang"], float(r["prior"]))
        )
    if not by_alias or len(by_alias) > MAX_DIRECT_SCAN_ALIASES:
        return None

    def _best(cands: list[tuple[str, float]]) -> str:
        # argmax by (prior DESC, entity_id ASC) — link_mentions' key
        return min(cands, key=lambda c: (-c[1], c[0]))[0]

    padded = F.col("_padded")
    picks = []
    for a, entries in by_alias.items():
        star = [(e, p) for e, lang, p in entries if lang in (None, "*")]
        by_lang: dict[str, list[tuple[str, float]]] = {}
        for e, lang, p in entries:
            if lang not in (None, "*"):
                by_lang.setdefault(lang, []).append((e, p))
        if by_lang:
            winner = None
            for lang in sorted(by_lang):
                w = F.lit(_best(star + by_lang[lang]))
                cond = F.col("lang") == lang
                winner = F.when(cond, w) if winner is None \
                    else winner.when(cond, w)
            winner = winner.otherwise(
                F.lit(_best(star)) if star else F.lit(None).cast("string")
            )
        else:
            winner = F.lit(_best(star))
        picks.append(F.when(padded.contains(" " + a + " "), winner))
    # the normalized text is hoisted into its OWN projection so the
    # regexp pass runs once per row — inlined into the explode's array
    # expression it would be re-evaluated per alias (measured 10x at
    # sf1); explode() is a Generate node, outside codegen CSE
    normalized = pages.select(
        F.col("url"),
        *([F.col("lang")] if "lang" in pages.columns else []),
        F.concat(
            F.lit(" "),
            F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")),
            F.lit(" "),
        ).alias("_padded"),
    )
    # the picks array is ALSO computed in a Project (codegen + runtime
    # subexpression elimination), not inside the Generate's generator
    # expression — Generate evaluates its expression interpreted, which
    # measured ~0.5 s/50k docs slower than the codegen'd projection
    ents = normalized.select(
        F.col("url"),
        F.filter(F.array(*picks), lambda x: x.isNotNull()).alias("_ents"),
    )
    # the when() wrapper is semantically a no-op (size >= 0 is always
    # true for a non-null array, and _ents is never null) but keeps
    # InferFiltersFromGenerate from seeing a bare attribute generator —
    # that rule would add a size()>0 pre-filter and push it down BELOW
    # the two projections, re-inlining the whole picks array (10
    # regexp_replace per row, measured 6 s vs 1.1 s at sf1)
    matched = ents.select(
        F.col("url"),
        F.explode(
            F.when(F.size("_ents") >= 0, F.col("_ents"))
        ).alias("entity_id"),
    )
    return matched


def mention_entities(
    pages: DataFrame, alias_dict: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Linked ``(url, entity_id)`` mention pairs — the one mention
    dispatcher shared by the pipeline (``build_triples``) and the
    ``kg_mentions`` query. A dictionary of at most
    ``MAX_DIRECT_SCAN_ALIASES`` aliases takes ``mention_entities_direct``;
    a larger one takes ``link_mentions`` over ``detect_mentions``. Both
    apply the same linking rule, so the choice changes cost, not rows.
    A pair repeats once per linked alias; callers take the distinct."""
    from kgap_spark.link.score import link_mentions

    direct = mention_entities_direct(pages, alias_dict, text_col)
    if direct is not None:
        return direct
    cands = detect_mentions(pages, alias_dict, text_col)
    return link_mentions(cands).select("url", "entity_id")


def detect_mentions(
    pages: DataFrame, alias_dict: DataFrame, text_col: str = "text"
) -> DataFrame:
    """pages(url, lang, text) × alias_dict → candidate mentions.

    Returns ``(url, lang, alias, entity_id, prior)`` — one row per
    (page, alias, candidate entity, prior), however often the alias
    occurs in the page or the row repeats in the dictionary. The
    dictionary side is explicitly ``broadcast`` (J6); the gram stream
    is start-position-pruned by the dictionary's first tokens
    (identical result — the join drops non-hits regardless)."""
    grams = _first_token_grams(
        pages.select("url", "lang", text_col), alias_dict, text_col
    )
    if grams is None:  # dictionary too wide for the prefilter
        grams = with_ngrams(pages.select("url", "lang", text_col), text_col)
    # grams are lowercased, so the alias side must be too (an alias
    # spelled 'Paris' previously matched nothing, silently); a NULL
    # alias lang means no language restriction, same as '*'
    d = alias_dict.select(
        F.lower(F.col("alias")).alias("alias"), F.col("entity_id"),
        F.col("lang").alias("alias_lang"), F.col("prior"),
    )
    joined = grams.join(
        F.broadcast(d),
        (grams["gram"] == d["alias"])
        & (
            (d["alias_lang"] == grams["lang"])
            | (d["alias_lang"] == F.lit("*"))
            | d["alias_lang"].isNull()
        ),
        "inner",
    )
    return joined.select("url", "lang", "alias", "entity_id", "prior").distinct()


def detect_mentions_fuzzy(
    pages: DataFrame,
    alias_dict: DataFrame,
    text_col: str = "text",
    max_jaccard_dist: float = 0.35,
    min_gram_len: int = 4,
) -> DataFrame:
    """Exact + fuzzy candidate union (opt-in; the exact path alone is
    the golden-parity default).

    Grams that exactly match no alias are MinHash/LSH-blocked against
    the dictionary (``link.candidates.fuzzy_candidates``) to recover
    typo'd/inflected surface forms. Scale shape: the fuzzy join's left
    side is the *distinct unmatched gram vocabulary* (anti-joined
    against aliases, length-filtered) — vocabulary-sized, NOT
    corpus-sized; matches then re-join the gram stream to find pages.
    Fuzzy candidates carry ``prior × (1 − jaccard_dist)`` so an exact
    match always outranks a fuzzy one for the same entity."""
    from kgap_spark.link.candidates import fuzzy_candidates

    exact = detect_mentions(pages, alias_dict, text_col)
    grams = with_ngrams(pages.select("url", "lang", text_col), text_col)

    aliases = alias_dict.select(F.lower(F.col("alias")).alias("alias")).distinct()
    unmatched = (
        grams.select("gram")
        .distinct()
        .join(F.broadcast(aliases), grams["gram"] == aliases["alias"], "left_anti")
        .filter(F.length("gram") >= min_gram_len)
        .select(F.col("gram").alias("surface"))
    )
    fz = fuzzy_candidates(
        unmatched, alias_dict, max_jaccard_dist=max_jaccard_dist
    ).filter(F.col("jaccard_dist") > 0)  # exact dups already covered

    fuzzy = (
        grams.join(fz, grams["gram"] == fz["surface"], "inner")
        .filter(
            (F.col("alias_lang") == F.col("lang"))
            | (F.col("alias_lang") == F.lit("*"))
            | F.col("alias_lang").isNull()
        )
        .select(
            "url", "lang", "alias", "entity_id",
            (F.col("prior") * (F.lit(1.0) - F.col("jaccard_dist"))).alias("prior"),
        )
        .distinct()
    )
    return exact.unionByName(fuzzy)
