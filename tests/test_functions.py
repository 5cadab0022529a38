"""Training-data ops: dedup, similarity, textstats, FTS, multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),      # near-dup of 0
    (2, "The  quick brown fox jumps over the lazy dog "),    # exact dup of 0 (normalized)
    (3, "completely different content about marine sensors"),
    (4, "der schnelle braune fuchs und die katze ist hier"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(spark, docs):
    from kgap_spark.functions.dedup import exact_duplicates

    groups = exact_duplicates(docs, "doc_id", "text").collect()
    assert len(groups) == 1
    g = groups[0]
    assert g.n_docs == 2 and g.first_doc == 0 and g.last_doc == 2


def test_ngram_jaccard(spark, docs):
    from kgap_spark.functions.dedup import ngram_jaccard_pairs

    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                          threshold=0.3).collect()}
    assert (0, 2) in pairs and pairs[(0, 2)] == 1.0   # exact dup
    assert (0, 1) in pairs and 0.5 < pairs[(0, 1)] < 1.0  # near dup
    assert (0, 3) not in pairs


def test_ngram_jaccard_df_cap_bounds_hot_shingles(spark):
    """Scale guard: a boilerplate shingle shared by every doc must not
    produce quadratic pairs; true near-dups keep their high jaccard."""
    from kgap_spark.functions.dedup import ngram_jaccard_pairs

    boiler = "copyright acme corp all rights reserved"
    rows = [(i, f"unique text number {i} alpha beta {boiler}")
            for i in range(30)]
    # one genuine near-dup pair sharing real content
    rows += [(100, "marine sensor deployment in the north sea basin " + boiler),
             (101, "marine sensor deployment in the north sea harbour " + boiler)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # cap at 5: every boilerplate shingle (df=32) is dropped pre-join
    capped = ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                 threshold=0.25, max_shingle_df=5).collect()
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in capped}
    assert (100, 101) in pairs and pairs[(100, 101)] > 0.4
    # the 30 boilerplate-only docs share nothing after the cap: no pair blowup
    assert all(a >= 100 for (a, b) in pairs)

    # uncapped, the hot shingles materialize hundreds of candidate pairs
    uncapped = ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                   threshold=0.01, max_shingle_df=None).count()
    assert uncapped > 100


def test_ngram_jaccard_cap_sized_posting_list(spark):
    """Worst-case bounded expansion: ONE shingle whose df is EXACTLY
    max_shingle_df survives the cap, so the in-task flatten expands the
    full cap²/2 pair structs from a single posting row. Must complete
    (bounded executor memory), produce only sub-threshold candidates
    from the hot shingle, and leave the true near-dup result identical
    to a run where the hot shingle is dropped (cap-1)."""
    from kgap_spark.functions.dedup import ngram_jaccard_pairs

    cap = 200
    hot = "shared boilerplate footer"
    # `cap` docs: each contributes the hot shingle ONCE plus unique tail
    rows = [(i, f"{hot} unique{i} tail{i} end{i}") for i in range(cap)]
    # a genuine near-dup pair WITHOUT the hot shingle
    rows += [(900, "deep sea probe records salinity and temperature daily"),
             (901, "deep sea probe records salinity and temperature hourly")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    at_cap = ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                 threshold=0.5, max_shingle_df=cap)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in at_cap.collect()}
    # the hot shingle's 19 900 in-task pairs all score 1/(4+4-1) < 0.5:
    # only the genuine near-dup pair survives the threshold
    assert set(got) == {(900, 901)} and got[(900, 901)] > 0.6

    below = ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                threshold=0.5, max_shingle_df=cap - 1)
    assert {(r.doc_a, r.doc_b) for r in below.collect()} == {(900, 901)}

    # candidate volume sanity: at the cap the hot shingle contributes
    # cap·(cap-1)/2 intersection pairs before thresholding
    n_cand = ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                 threshold=0.0, max_shingle_df=cap).count()
    assert n_cand >= cap * (cap - 1) // 2


def test_minhash_band_candidates(spark, docs):
    from kgap_spark.functions.dedup import minhash_band_candidates

    cands = {(r.doc_a, r.doc_b)
             for r in minhash_band_candidates(docs, "doc_id", "text",
                                              n=3, bands=4).collect()}
    assert (0, 2) in cands          # identical shingle sets → all bands agree
    assert (0, 4) not in cands      # disjoint shingles


def test_minhash_lsh_approx_join_matches_exact_jaccard(spark, docs):
    """The deterministic seeded-md5 LSH join: candidate recall on true
    near-dups, exact-jaccard distances on the pairs it returns, and
    no pair below the similarity floor."""
    from kgap_spark.functions.dedup import (
        minhash_lsh_approx_join,
        ngram_jaccard_pairs,
    )

    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in minhash_lsh_approx_join(
               docs, "doc_id", "text", n=3, max_jaccard_dist=0.6,
           ).collect()}
    assert (0, 2) in got and (0, 1) in got
    assert got[(0, 2)] == 1.0  # identical shingle sets
    # distances agree with the exact all-candidate jaccard path
    exact = {(r.doc_a, r.doc_b): r.jaccard
             for r in ngram_jaccard_pairs(
                 docs, "doc_id", "text", n=3, threshold=0.4,
                 max_shingle_df=1 << 20,
             ).collect()}
    for pair, j in got.items():
        assert exact.get(pair) == j
    assert all(j >= 0.4 for j in got.values())


def test_minhash_lsh_boundary_is_strict(spark):
    """approxSimilarityJoin keeps dist < threshold STRICTLY: a pair at
    exactly jaccard 0.5 is excluded at max_jaccard_dist=0.5 and
    included at 0.51 — by both the deterministic join and Spark ML."""
    from kgap_spark.functions.dedup import (
        minhash_lsh_approx_join,
        minhash_lsh_near_duplicates,
    )

    # 3 shingles each, sharing exactly 2 → jaccard 2/(3+3-2) = 0.5
    pair = spark.createDataFrame(
        [(0, "t1 t2 t3 t4 t5"), (1, "t1 t2 t3 t4 t6")],
        ["doc_id", "text"],
    )
    # bands=16 (1 row/band): candidate iff ANY of 16 minhashes agree —
    # deterministic under the seeded md5 family, verified nonempty at
    # the looser threshold below
    strict = minhash_lsh_approx_join(
        pair, "doc_id", "text", n=3, max_jaccard_dist=0.5,
        num_perm=16, bands=16).collect()
    assert strict == []
    loose = minhash_lsh_approx_join(
        pair, "doc_id", "text", n=3, max_jaccard_dist=0.51,
        num_perm=16, bands=16).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in loose] == [(0, 1, 0.5)]
    ml = minhash_lsh_near_duplicates(
        pair, "doc_id", "text", n=3, max_jaccard_dist=0.5,
        num_hash_tables=16).collect()
    assert ml == []


def test_minhash_lsh_ml_agrees_with_exact(spark, docs):
    from kgap_spark.functions.dedup import minhash_lsh_near_duplicates

    pairs = {(r.doc_a, r.doc_b)
             for r in minhash_lsh_near_duplicates(docs, "doc_id", "text", n=3,
                                                  max_jaccard_dist=0.6).collect()}
    assert (0, 2) in pairs and (0, 1) in pairs


def test_simhash_similarity_ordering(spark, docs):
    from kgap_spark.functions.dedup import simhash

    h = {r.doc: r.simhash for r in simhash(docs, "doc_id", "text").collect()}
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert ham(h[0], h[2]) == 0              # normalized-identical docs
    assert ham(h[0], h[1]) < ham(h[0], h[3])  # near-dup closer than unrelated


def test_textstats(spark, docs):
    from kgap_spark.functions.textstats import with_text_stats

    stats = {r.doc_id: r for r in with_text_stats(docs).collect()}
    assert stats[0].n_tokens == 9
    assert stats[0].lang_pred == "en"
    assert stats[4].lang_pred == "de"
    assert stats[0].fingerprint == stats[2].fingerprint
    assert 0.0 <= stats[0].quality <= 1.0


def test_repetition_stats(spark):
    from kgap_spark.functions.textstats import repetition_stats

    rows = [(0, "spam spam spam spam spam spam"),     # 1 word repeated
            (1, "all words here are unique tokens"),
            (2, "ab cd ef ab cd ef ab cd ef")]        # repeated trigrams
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           repetition_stats(docs, "doc_id", "text").collect()}
    assert got[0].top_word_frac == 1.0
    assert got[0].dup_trigram_frac == 0.75  # 4 trigrams, 1 distinct
    assert got[1].top_word_frac == pytest.approx(1 / 6, abs=1e-6)
    assert got[1].dup_trigram_frac == 0.0
    # doc 2: 7 trigrams, 3 distinct → 4/7 duplicated
    assert got[2].dup_trigram_frac == pytest.approx(4 / 7, abs=1e-6)


def test_redact_pii(spark):
    from kgap_spark.functions.textstats import redact_pii

    rows = [(0, "mail me at jane.doe+x@lab.example.org or +32 468 123456 now"),
            (1, "no pii in this one")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in redact_pii(docs, "doc_id", "text").collect()}
    assert got[0].n_emails == 1 and got[0].n_phones == 1
    assert got[0].clean_text == "mail me at [EMAIL] or [PHONE] now"
    assert got[1].n_emails == 0 and got[1].n_phones == 0
    assert got[1].clean_text == "no pii in this one"


def test_fts(spark, docs):
    from kgap_spark.index.fts import build_posting_table, fts_search

    posting = build_posting_table(docs, "doc_id", "text")
    hits = fts_search(posting, "fox dog", k=10).collect()
    assert hits[0].subj in (0, 2) and hits[0].score == 2  # fox + dog
    subj_scores = {r.subj: r.score for r in hits}
    assert subj_scores[1] == 1  # fox only
    assert 3 not in subj_scores


def test_fts_tfidf_downweights_stopwords(spark, tmp_path):
    """tf·idf ranking: a corpus-wide token (df=N → idf≈ln(1)=0) must no
    longer drown a rare term — the doc with ONE 'rare' hit outranks the
    doc with many 'the' hits; under plain TF the order is reversed.
    Also: the query tokenizer uses the index's rule, so a punctuated
    query ('the-rare') still matches."""
    from kgap_spark.index.fts import (
        build_posting_table,
        fts_search,
        fts_search_indexed,
        write_posting_table,
    )

    # "the" is in EVERY doc (df=N → idf=ln((N+1)/(N+1))=0)
    rows = [(0, "the the the the the common words"),
            (1, "the rare treasure"),
            (2, "the ordinary text"),
            (3, "the filler the filler")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    posting = build_posting_table(docs, "doc_id", "text")

    tf_top = fts_search(posting, "the rare", k=4).collect()[0]
    assert tf_top.subj == 0  # TF: stopword spam wins

    idf_hits = fts_search(posting, "the-rare", k=4, scoring="tfidf").collect()
    assert idf_hits[0].subj == 1  # tf·idf: the rare term wins
    scores = {r.subj: r.score for r in idf_hits}
    assert scores[1] > scores[0]

    # indexed path agrees (sidecar carries N)
    idx = str(tmp_path / "idx")
    write_posting_table(posting, idx, n_docs=4)
    via_index = fts_search_indexed(spark, idx, "the-rare", k=4,
                                   scoring="tfidf").collect()
    assert [r.subj for r in via_index] == [r.subj for r in idf_hits]


def test_cosine_zero_norm_and_empty_corpus(spark, tmp_path):
    """A zero vector (padding/missing embedding) must not kill the job
    with ANSI DIVIDE_BY_ZERO; empty corpora return empty results."""
    from kgap_spark.functions.similarity import (
        build_signature_table,
        cosine_topk,
        embedding_near_dup_pairs,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = cosine_topk(emb, [1.0, 0.0], k=3).collect()
    assert rows[0].vec_id == 1 and rows[0].cosine == 1.0
    assert all(r.cosine is None for r in rows[1:])  # zero-norm → NULL, last

    # two zero vectors share a bucket: candidate pair must not crash,
    # and NULL cosine never passes the threshold
    pairs = embedding_near_dup_pairs(emb, threshold=0.5).collect()
    assert (2, 3) not in {(p.id_a, p.id_b) for p in pairs}

    empty = emb.filter("vec_id < 0")
    assert embedding_near_dup_pairs(empty).count() == 0
    build_signature_table(empty, str(tmp_path / "sig"))  # no crash


def test_cc_nonconvergence_raises(spark):
    """Partially-propagated labels are wrong canonicalization — the
    strict default must raise, not return a split component."""
    from kgap_spark.canonicalize.connected_components import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(30)], "src string, dst string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3)
    # diagnostics mode still returns the partial result
    partial = connected_components(chain, max_iter=3, strict=False)
    assert partial.count() == 31


def test_length_quantile_labels():
    """p-labels round instead of truncating (0.29*100 is 28.999… in
    binary floating point)."""
    from kgap_spark.functions.selection import length_quantiles  # noqa: F401

    assert f"p{round(0.29 * 100)}" == "p29"
    assert f"p{int(0.29 * 100)}" == "p28"  # the old bug


def test_append_posting_table_incremental(spark, tmp_path):
    """Index maintenance: appending a new doc's postings (no rebuild)
    makes it searchable and bumps the corpus-size sidecar."""
    from kgap_spark.index.fts import (
        append_posting_table,
        build_posting_table,
        fts_search_indexed,
        read_doc_count,
        write_posting_table,
    )

    idx = str(tmp_path / "idx")
    base = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta gamma")], "doc_id long, text string"
    )
    write_posting_table(build_posting_table(base, "doc_id", "text"), idx,
                        n_docs=2)
    assert read_doc_count(spark, idx) == 2
    assert fts_search_indexed(spark, idx, "zeta", k=5).count() == 0

    newdocs = spark.createDataFrame([(2, "zeta beta")], "doc_id long, text string")
    append_posting_table(build_posting_table(newdocs, "doc_id", "text"), idx,
                         n_new_docs=1)
    assert read_doc_count(spark, idx) == 3
    hits = fts_search_indexed(spark, idx, "zeta", k=5).collect()
    assert [r.subj for r in hits] == [2]
    # old postings still intact, tfidf path works over the merged index
    beta = fts_search_indexed(spark, idx, "beta", k=5, scoring="tfidf")
    assert {r.subj for r in beta.collect()} == {0, 1, 2}

    # n_new_docs omitted → derived from the postings (never silently 0)
    more = spark.createDataFrame([(3, "delta")], "doc_id long, text string")
    append_posting_table(build_posting_table(more, "doc_id", "text"), idx)
    assert read_doc_count(spark, idx) == 4

    # a sidecar-less index refuses BEFORE any data lands
    import pytest

    bare = str(tmp_path / "bare")
    build_posting_table(base, "doc_id", "text").write.parquet(bare)
    files_before = set((tmp_path / "bare").rglob("*.parquet"))
    with pytest.raises(ValueError, match="_doc_count"):
        append_posting_table(
            build_posting_table(more, "doc_id", "text"), bare, n_new_docs=1
        )
    assert set((tmp_path / "bare").rglob("*.parquet")) == files_before


def test_fts_search_indexed_uri_path_skips_absent_bucket(spark, tmp_path):
    """A scheme-qualified index path must resolve bucket existence like
    a local one: a query token whose bucket directory does not exist
    is skipped, not read (PATH_NOT_FOUND)."""
    from kgap_spark.index.fts import (
        bucket_of_py,
        build_posting_table,
        fts_search_indexed,
        write_posting_table,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta gamma")], "doc_id long, text string"
    )
    local = str(tmp_path / "idx")
    write_posting_table(build_posting_table(docs, "doc_id", "text"), local)
    present = {bucket_of_py(t) for t in ("alpha", "beta", "gamma")}
    absent = next(t for t in (f"zz{i}" for i in range(1000))
                  if bucket_of_py(t) not in present)
    for path in (local, "file://" + local):
        hits = fts_search_indexed(spark, path, f"beta {absent}", k=5)
        assert {r.subj for r in hits.collect()} == {0, 1}


def test_cosine_topk_and_lsh_recall(spark):
    from kgap_spark.functions.similarity import cosine_topk, lsh_bucketed_topk

    import math
    vecs = [
        (i, [math.cos(i / 10.0 + d * 0.3) for d in range(8)]) for i in range(50)
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = vecs[7][1]
    exact = [r.vec_id for r in cosine_topk(emb, q, k=5).collect()]
    assert exact[0] == 7  # the query vector itself ranks first
    approx = [r.vec_id for r in
              lsh_bucketed_topk(emb, q, k=5, n_planes=4).collect()]
    # LSH with multiprobe must recover most of the exact top-5
    assert len(set(exact) & set(approx)) >= 3


def test_multimodal_features_deterministic(spark):
    from kgap_spark.functions.multimodal import extract_features

    media = spark.createDataFrame(
        [("m1", "image", "image/png", b"\x89PNG fake", {}),
         ("m2", "audio", "audio/wav", b"RIFF fake", {}),
         ("m3", "image", "image/png", None, {})],
        "media_id string, kind string, mime string, payload binary, "
        "meta map<string,string>",
    )
    rows = {r.media_id: r for r in extract_features(media).collect()}
    assert len(rows["m1"].features) == 16
    assert rows["m1"].n_bytes == 9 and rows["m3"].n_bytes == 0
    # determinism across repartitioning
    rows2 = {r.media_id: r for r in
             extract_features(media.repartition(3)).collect()}
    assert rows["m1"].features == rows2["m1"].features
    # image vs audio decoders differ
    assert rows["m1"].features != rows["m2"].features


def test_fuzzy_candidates_blocking(spark):
    from kgap_spark.link.candidates import fuzzy_candidates

    alias_dict = spark.createDataFrame(
        [("marine sensor", "urn:e1", "en", 0.9),
         ("coastal buoy", "urn:e2", "en", 0.8)],
        "alias string, entity_id string, lang string, prior double",
    )
    surfaces = spark.createDataFrame(
        [("marine sensr",), ("coastal buoy",), ("unrelated words",)],
        "surface string",
    )
    got = fuzzy_candidates(surfaces, alias_dict, max_jaccard_dist=0.5)
    m = {(r.surface, r.entity_id) for r in got.collect()}
    assert ("marine sensr", "urn:e1") in m      # typo blocked to right entity
    assert ("coastal buoy", "urn:e2") in m      # exact
    assert ("unrelated words", "urn:e1") not in m


def test_embedding_near_dup_pairs_recall(spark):
    """LSH-bucketed cosine near-dup pairs: perturbed copies (cos ≈ .999)
    must be found via multiprobe; unrelated vectors must not pair."""
    import math

    from kgap_spark.functions.similarity import embedding_near_dup_pairs

    rows = []
    for i in range(40):
        v = [math.cos(i * 1.7 + d * 0.61) for d in range(16)]
        rows.append((i, v))
        if i < 8:  # near-dup twin: tiny perturbation, not identical
            rows.append((100 + i, [x + 0.003 * ((d % 3) - 1)
                                   for d, x in enumerate(v)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_near_dup_pairs(emb, threshold=0.995, n_planes=4).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    expected = {(i, 100 + i) for i in range(8)}
    assert expected & found == expected          # full recall on twins
    assert all(r.cosine >= 0.995 for r in pairs)  # no false positives


def test_detect_mentions_case_and_null_lang(spark):
    """Uppercase aliases ('Paris') and NULL-lang aliases must match —
    both previously produced zero mentions, silently."""
    from kgap_spark.mentions.detect import detect_mentions

    pages = spark.createDataFrame(
        [("u1", "en", "we visited Paris in june"),
         ("u2", "nl", "paris is mooi")],
        "url string, lang string, text string",
    )
    alias = spark.createDataFrame(
        [("Paris", "e:paris", None, 0.9)],
        "alias string, entity_id string, lang string, prior double",
    )
    got = {(r.url, r.entity_id) for r in
           detect_mentions(pages, alias).collect()}
    # case-insensitive match on both pages; NULL lang = no restriction
    assert got == {("u1", "e:paris"), ("u2", "e:paris")}


def test_mention_entities_direct_equivalence(spark):
    """The r07 direct-scan fast path must produce EXACTLY the same
    (url, entity_id) set as link_mentions(detect_mentions(...)) on an
    adversarial corpus: irregular whitespace, leading/trailing
    whitespace, ambiguous aliases, lang routing (specific, '*', NULL
    doc lang), multi-token aliases split across newlines/tabs, aliases
    that can never match a gram (4 tokens, internal double space,
    leading space, empty), and empty/whitespace-only documents."""
    from kgap_spark.link.score import link_mentions
    from kgap_spark.mentions.detect import (
        detect_mentions,
        mention_entities_direct,
    )

    pages = spark.createDataFrame(
        [
            ("u1", "en", "spark joins  the\tstream"),
            ("u2", "de", "  der vector\nraum  "),
            ("u3", "en", "the vector space"),          # 'vector' is de-only
            ("u4", None, "window functions and the window"),  # en-only alias
            ("u5", "en", "hash\ntable lookup via hash  table"),
            ("u6", "en", "join the road or the join op"),     # ambiguous
            ("u7", "en", ""),
            ("u8", "en", "   \t\n "),
            ("u9", "en", "wordspark sparkword spark"),  # boundary checks
            ("u10", "en", "a b c d quad gram here"),
            # non-ASCII case mapping: dotted capital I, capital sharp s,
            # Greek final sigma (alias side lowercased in Python on the
            # direct path, in the JVM on the general path)
            ("u11", "tr", "gezi İSTANBUL"),
            ("u12", "de", "die STRAẞE hier"),
            ("u13", "el", "μια ΟΔΟΣ εδώ"),
        ],
        "url string, lang string, text string",
    )
    alias = spark.createDataFrame(
        [
            ("spark", "e:spark", "*", 0.9),
            ("Stream", "e:stream", None, 0.7),
            ("vector", "e:vector-de", "de", 0.5),
            ("vector", "e:vector-en2", "de", 0.5),   # prior tie → id asc
            ("window", "e:window", "en", 0.8),
            ("hash table", "e:ht", "*", 0.95),
            ("join", "e:join-op", "*", 0.7),
            ("join", "e:join-road", "*", 0.4),
            ("a b c d", "e:quad", "*", 0.9),          # 4 tokens: never a gram
            ("bad  alias", "e:bad", "*", 0.9),        # double space: never
            (" lead", "e:lead", "*", 0.9),            # leading space: never
            ("", "e:empty", "*", 0.9),                # empty: never
            ("İstanbul", "e:istanbul", "*", 0.9),
            ("Straße", "e:strasse", "*", 0.9),
            ("ΟΔΟΣ", "e:odos", "*", 0.9),              # lowercases to οδος
        ],
        "alias string, entity_id string, lang string, prior double",
    )
    direct = mention_entities_direct(pages, alias)
    assert direct is not None
    got = {(r.url, r.entity_id) for r in direct.collect()}
    generic = link_mentions(detect_mentions(pages, alias))
    want = {(r.url, r.entity_id) for r in generic.collect()}
    assert got == want
    # spot-check the semantics the equivalence relies on
    assert ("u3", "e:vector-de") not in got       # lang routing enforced
    assert ("u2", "e:vector-de") in got           # prior tie → entity_id asc
    assert ("u6", "e:join-op") in got             # argmax by prior
    assert ("u6", "e:join-road") not in got
    assert not {u for u, _ in got} & {"u7", "u8", "u10"}
    assert ("u9", "e:spark") in got               # exact token boundary
    assert {("u11", "e:istanbul"), ("u12", "e:strasse"),
            ("u13", "e:odos")} <= got


def test_duplicated_dictionary_rows_do_not_change_the_link(spark):
    """A dictionary row repeated three times must not outrank a higher
    prior: every linking path applies the published rule (prior DESC,
    entity_id ASC) of ``fixtures.linked_entity_for_alias``."""
    from kgap_spark.fixtures import linked_entity_for_alias
    from kgap_spark.link.score import link_mentions
    from kgap_spark.mentions.detect import detect_mentions, mention_entities
    from kgap_spark.triples import build_triples

    rows = [("x", "e:b", "*", 0.5)] * 3 + [("x", "e:a", "*", 0.5001)]
    by_alias = {"x": [dict(alias=a, entity_id=e, lang=lg, prior=p)
                      for a, e, lg, p in rows]}
    assert linked_entity_for_alias("x", "en", by_alias) == "e:a"

    url = "https://site001.example.org/page/1"
    pages = spark.createDataFrame(
        [(url, None, None, "we saw x here", "en")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    )
    alias = spark.createDataFrame(
        [(*r, True) for r in rows],
        "alias string, entity_id string, lang string, prior double, "
        "is_label boolean",
    )
    want = {(url, "e:a")}
    assert {(r.url, r.entity_id)
            for r in mention_entities(pages, alias).collect()} == want
    assert {(r.url, r.entity_id) for r in
            link_mentions(detect_mentions(pages, alias)).collect()} == want
    quads = build_triples(pages, alias).filter(F.col("pred") == "kgap:mentions")
    assert {(r.subj, r.obj) for r in quads.collect()} == want


def test_mention_entities_direct_large_dict_falls_back(spark):
    """Above MAX_DIRECT_SCAN_ALIASES the fast path must decline."""
    from kgap_spark.mentions.detect import mention_entities_direct

    pages = spark.createDataFrame(
        [("u1", "en", "x")], "url string, lang string, text string"
    )
    alias = spark.createDataFrame(
        [(f"w{i}", f"e:{i}", "*", 0.5) for i in range(200)],
        "alias string, entity_id string, lang string, prior double",
    )
    assert mention_entities_direct(pages, alias) is None


def test_detect_mentions_fuzzy_end_to_end(spark):
    """A typo'd surface form must link to the right entity via the
    fuzzy LSH path, with prior discounted below an exact match; clean
    pages are unaffected."""
    from kgap_spark.link.score import link_mentions
    from kgap_spark.mentions.detect import detect_mentions_fuzzy

    alias_dict = spark.createDataFrame(
        [("marine sensor", "urn:e1", "en", 0.9),
         ("coastal buoy", "urn:e2", "en", 0.8)],
        "alias string, entity_id string, lang string, prior double",
    )
    pages = spark.createDataFrame(
        [("u1", "en", "the marine sensr recorded data"),     # typo
         ("u2", "en", "a coastal buoy drifted")],            # exact
        "url string, lang string, text string",
    )
    cands = detect_mentions_fuzzy(pages, alias_dict, max_jaccard_dist=0.5)
    linked = {(r.url, r.entity_id): r.prior
              for r in link_mentions(cands).collect()}
    assert ("u1", "urn:e1") in linked        # typo recovered
    assert ("u2", "urn:e2") in linked        # exact path intact
    assert linked[("u1", "urn:e1")] < 0.9    # discounted prior
    assert linked[("u2", "urn:e2")] == 0.8   # exact prior undiscounted


def test_hash_split_deterministic_and_weighted(spark):
    """Split assignment is a pure function of content (repartition-
    invariant) and respects the weight ranges."""
    from kgap_spark.functions.selection import hash_split

    docs = spark.createDataFrame(
        [(i, f"document number {i} with content") for i in range(500)],
        "doc_id long, text string",
    )
    a = {r.doc_id: r.split for r in hash_split(docs, "text").collect()}
    b = {r.doc_id: r.split
         for r in hash_split(docs.repartition(7), "text").collect()}
    assert a == b                                   # partition-invariant
    from collections import Counter
    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > c["val"] and c["train"] > c["test"]


def test_topk_per_group(spark):
    from kgap_spark.functions.selection import topk_per_group
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", i, i * 1.0) for i in range(10)] + [("b", 99, 5.0)],
        "g string, id long, score double",
    )
    top = topk_per_group(df, "g", [F.desc("score"), F.asc("id")], k=2).collect()
    by_g = {}
    for r in top:
        by_g.setdefault(r.g, []).append(r.id)
    assert sorted(by_g["a"]) == [8, 9] and by_g["b"] == [99]


def _encode_png(width, height, pixels, color_type=2, filters=None):
    """Tiny test-side PNG encoder (zlib+struct): 8-bit, chooses the
    given per-row filter types so the decoder's filter arithmetic is
    exercised, not just filter 0."""
    import struct
    import zlib

    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride = width * ch
    filters = filters or [0] * height
    raw = bytearray()
    prev = bytearray(stride)
    for y in range(height):
        line = bytearray(pixels[y * stride:(y + 1) * stride])
        f = filters[y]
        enc = bytearray(line)
        if f == 1:  # Sub
            for i in range(stride - 1, ch - 1, -1):
                enc[i] = (line[i] - line[i - ch]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                enc[i] = (line[i] - prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                enc[i] = (line[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (line[i] - pr) & 0xFF
        raw += bytes([f]) + enc
        prev = line

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def test_png_decode_real_branch():
    """VERDICT r3 #6: real (not faked) PNG decode through pure stdlib.
    Round-trips pixels across all five scanline filters and both RGB
    and RGBA, including a 1-px image."""
    from kgap_spark.functions.multimodal import decode_png

    # 1×1 red RGB pixel
    png1 = _encode_png(1, 1, bytes([255, 0, 0]))
    assert decode_png(png1) == (1, 1, 3, bytes([255, 0, 0]))

    # 4×5 RGB gradient, one row per filter type 0..4
    import random

    rng = random.Random(7)
    px = bytes(rng.randrange(256) for _ in range(4 * 5 * 3))
    png = _encode_png(4, 5, px, color_type=2, filters=[0, 1, 2, 3, 4])
    assert decode_png(png) == (4, 5, 3, px)

    # RGBA with Paeth everywhere
    px4 = bytes(rng.randrange(256) for _ in range(3 * 3 * 4))
    png4 = _encode_png(3, 3, px4, color_type=6, filters=[4, 4, 4])
    assert decode_png(png4) == (3, 3, 4, px4)

    # grayscale
    pxg = bytes([0, 128, 255, 64])
    pngg = _encode_png(2, 2, pxg, color_type=0, filters=[2, 1])
    assert decode_png(pngg) == (2, 2, 1, pxg)


def test_png_features_through_distributed_path(spark):
    """A PNG payload flows through the mapInPandas pipeline via the
    REAL decode branch: features reflect actual pixel content."""
    from kgap_spark.functions.multimodal import extract_features

    red = _encode_png(2, 2, bytes([255, 0, 0] * 4))
    green = _encode_png(2, 2, bytes([0, 255, 0] * 4))
    media = spark.createDataFrame(
        [("m1", "image", "image/png", bytearray(red), {}),
         ("m2", "image", "image/png", bytearray(green), {})],
        "media_id string, kind string, mime string, payload binary, "
        "meta map<string,string>",
    )
    feats = {r.media_id: r.features
             for r in extract_features(media).collect()}
    # feature layout: [w, h, meanR, meanG, meanB, meanA, lumaStd, grid…]
    assert feats["m1"][2] == 1.0 and feats["m1"][3] == 0.0   # pure red
    assert feats["m2"][2] == 0.0 and feats["m2"][3] == 1.0   # pure green
    assert feats["m1"][5] == 1.0  # opaque


def test_png_decode_large_mixed_filters():
    """Round-5 vectorized unfilter: byte-exact on a 100x100 RGB image
    cycling through all five filter types (the BENCH/PNG_UNFILTER.md
    fixture shape)."""
    import random

    from kgap_spark.functions.multimodal import decode_png

    rng = random.Random(42)
    w = h = 100
    px = bytes(rng.randrange(256) for _ in range(w * h * 3))
    png = _encode_png(w, h, px, color_type=2,
                      filters=[i % 5 for i in range(h)])
    assert decode_png(png) == (w, h, 3, px)
    # RGBA variant exercises the ch=4 lanes of the Sub accumulate
    px4 = bytes(rng.randrange(256) for _ in range(20 * 10 * 4))
    png4 = _encode_png(20, 10, px4, color_type=6,
                       filters=[(i * 3) % 5 for i in range(10)])
    assert decode_png(png4) == (20, 10, 4, px4)


# ---------------------------------------------------------------------------
# Round 5: real baseline JPEG decode (pure stdlib + numpy).

def _jpeg_tables():
    """Trivial-but-valid canonical Huffman tables: 12 DC categories at
    code length 4, all 162 AC (run,size) symbols at code length 8."""
    dc_counts = [0, 0, 0, 12] + [0] * 12
    dc_syms = bytes(range(12))
    ac_syms = [0x00, 0xF0]
    for r in range(16):
        for s in range(1, 11):
            ac_syms.append((r << 4) | s)
    ac_counts = [0] * 16
    ac_counts[7] = len(ac_syms)  # all at length 8
    return dc_counts, dc_syms, ac_counts, bytes(ac_syms)


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def bits(self, value, count):
        for i in range(count - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self):
        while self.n:
            self.bits(1, 1)


def _encode_jpeg(width, height, planes, restart_interval=0,
                 sampling="444"):
    """Baseline JPEG encoder (test-side): quant tables all-ones
    (near-lossless), the trivial Huffman tables above, optional
    restart markers. ``planes`` = list of 1 (gray) or 3 (YCbCr)
    numpy uint8 arrays (height, width). ``sampling`` ∈ {"444",
    "422", "440", "420"}: chroma is box-averaged down and Y carries
    the matching (h, v) sampling factors in an interleaved scan."""
    import struct

    import numpy as np

    from kgap_spark.functions.jpeg import ZIGZAG, _idct_matrix

    T = _idct_matrix()
    dc_counts, dc_syms, ac_counts, ac_syms = _jpeg_tables()

    def huff_codes(counts, syms):
        codes, code, k = {}, 0, 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                codes[syms[k]] = (length, code)
                code += 1
                k += 1
            code <<= 1
        return codes

    dc_codes = huff_codes(dc_counts, dc_syms)
    ac_codes = huff_codes(ac_counts, ac_syms)
    nc = len(planes)
    ysamp = {"444": (1, 1), "422": (2, 1),
             "440": (1, 2), "420": (2, 2)}[sampling]
    samps = [(1, 1)] * nc
    if nc == 3:
        samps[0] = ysamp
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)

    def pad_edge(p, ph, pw):
        pp = np.zeros((ph, pw), dtype=np.float64)
        h0, w0 = p.shape
        pp[:h0, :w0] = p
        pp[h0:, :w0] = p[-1:, :]
        pp[:, w0:] = pp[:, w0 - 1:w0]
        return pp

    padded = []
    for ci, p in enumerate(planes):
        hi, vi = samps[ci]
        fh, fv = hmax // hi, vmax // vi
        if fh > 1 or fv > 1:  # box-average chroma downsample
            full = pad_edge(np.asarray(p, dtype=np.float64),
                            mcuy * vmax * 8, mcux * hmax * 8)
            p = full.reshape(full.shape[0] // fv, fv,
                             full.shape[1] // fh, fh).mean(axis=(1, 3))
            padded.append(p)
        else:
            padded.append(pad_edge(np.asarray(p, dtype=np.float64),
                                   mcuy * vi * 8, mcux * hi * 8))

    w = _JpegBitWriter()
    pred = [0] * nc
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                w.flush()
                w.out += bytes([0xFF, 0xD0 + ((mcu // restart_interval
                                               - 1) % 8)])
                pred = [0] * nc
            mcu += 1
            for ci in range(nc):
                hi, vi = samps[ci]
                for vy in range(vi):
                    for vx in range(hi):
                        by, bx = my * vi + vy, mx * hi + vx
                        blk = padded[ci][by * 8:by * 8 + 8,
                                         bx * 8:bx * 8 + 8] - 128.0
                        F = T @ blk @ T.T
                        zz = [int(round(F.reshape(64)[ZIGZAG[i]]))
                              for i in range(64)]
                        diff = zz[0] - pred[ci]
                        pred[ci] = zz[0]
                        t = (diff.bit_length() if diff >= 0
                             else (-diff).bit_length())
                        w.bits(*reversed(dc_codes[t]))
                        if t:
                            v = diff if diff >= 0 else diff + (1 << t) - 1
                            w.bits(v, t)
                        run = 0
                        last_nz = max(
                            (i for i in range(1, 64) if zz[i]), default=0)
                        for k in range(1, last_nz + 1):
                            if zz[k] == 0:
                                run += 1
                                continue
                            while run >= 16:
                                w.bits(*reversed(ac_codes[0xF0]))
                                run -= 16
                            s = abs(zz[k]).bit_length()
                            w.bits(*reversed(ac_codes[(run << 4) | s]))
                            v = zz[k] if zz[k] >= 0 else zz[k] + (1 << s) - 1
                            w.bits(v, s)
                            run = 0
                        if last_nz < 63:
                            w.bits(*reversed(ac_codes[0x00]))
    w.flush()

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(
            ">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes([1] * 64))  # DQT id0, all ones
    comps_sof = b"".join(
        bytes([i + 1, (samps[i][0] << 4) | samps[i][1], 0])
        for i in range(nc))
    out += seg(0xC0, struct.pack(">BHHB", 8, height, width, nc)
               + comps_sof)
    out += seg(0xC4, bytes([0x00]) + bytes(dc_counts) + dc_syms)
    out += seg(0xC4, bytes([0x10]) + bytes(ac_counts) + ac_syms)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    comps_sos = b"".join(bytes([i + 1, 0x00]) for i in range(nc))
    out += seg(0xDA, bytes([nc]) + comps_sos + bytes([0, 63, 0]))
    out += w.out
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_decode_grayscale_roundtrip():
    import numpy as np

    from kgap_spark.functions.jpeg import decode_jpeg

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(24, 17)).astype(np.uint8)
    data = _encode_jpeg(17, 24, [img])
    w, h, ch, px = decode_jpeg(data)
    assert (w, h, ch) == (17, 24, 1)
    got = np.frombuffer(px, dtype=np.uint8).reshape(24, 17)
    err = np.abs(got.astype(int) - img.astype(int))
    # all-ones quant tables: only DCT coefficient rounding remains
    assert err.max() <= 6 and err.mean() < 1.5


def test_jpeg_decode_flat_block_exact():
    import numpy as np

    from kgap_spark.functions.jpeg import decode_jpeg

    img = np.full((8, 8), 200, dtype=np.uint8)
    w, h, ch, px = decode_jpeg(_encode_jpeg(8, 8, [img]))
    got = np.frombuffer(px, dtype=np.uint8)
    assert (w, h, ch) == (8, 8, 1)
    assert np.abs(got.astype(int) - 200).max() <= 1


def test_jpeg_decode_color_roundtrip():
    import numpy as np

    from kgap_spark.functions.jpeg import decode_jpeg

    rng = np.random.RandomState(9)
    rgb = rng.randint(0, 256, size=(16, 16, 3)).astype(np.float64)
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    planes = [np.clip(np.round(p), 0, 255) for p in (y, cb, cr)]
    data = _encode_jpeg(16, 16, planes)
    w, h, ch, px = decode_jpeg(data)
    assert (w, h, ch) == (16, 16, 3)
    got = np.frombuffer(px, dtype=np.uint8).reshape(16, 16, 3)
    err = np.abs(got.astype(int) - rgb.astype(int))
    # YCbCr forward/back conversion + DCT rounding
    assert err.max() <= 8 and err.mean() < 2.0


def test_jpeg_decode_subsampled_roundtrip():
    """4:2:0 / 4:2:2 / 4:4:0 interleaved MCUs. Chroma is constant per
    2×2 cell so box-average-down + replicate-up is identity and the
    decoded RGB must match the source within DCT rounding — exactly
    the 4:4:4 tolerance. Non-multiple-of-16 dims exercise the MCU
    edge padding crop."""
    import numpy as np

    from kgap_spark.functions.jpeg import decode_jpeg

    rng = np.random.RandomState(41)
    hgt, wid = 21, 19
    y = rng.randint(0, 256, size=(hgt, wid)).astype(np.float64)
    # chroma constant on the 2×2 grid (downsample-invariant)
    cb_small = rng.randint(32, 224, size=((hgt + 1) // 2,
                                          (wid + 1) // 2))
    cr_small = rng.randint(32, 224, size=((hgt + 1) // 2,
                                          (wid + 1) // 2))
    cb = np.repeat(np.repeat(cb_small, 2, 0), 2, 1)[:hgt, :wid]
    cr = np.repeat(np.repeat(cr_small, 2, 0), 2, 1)[:hgt, :wid]
    yf, cbf, crf = (p.astype(np.float64) for p in (y, cb, cr))
    r = yf + 1.402 * (crf - 128.0)
    g = yf - 0.344136 * (cbf - 128.0) - 0.714136 * (crf - 128.0)
    b = yf + 1.772 * (cbf - 128.0)
    want = np.clip(np.round(np.stack([r, g, b], -1)), 0, 255)
    for sampling in ("420", "422", "440"):
        data = _encode_jpeg(wid, hgt, [y, cb, cr], sampling=sampling)
        w, h, ch, px = decode_jpeg(data)
        assert (w, h, ch) == (wid, hgt, 3)
        got = np.frombuffer(px, dtype=np.uint8).reshape(hgt, wid, 3)
        err = np.abs(got.astype(int) - want.astype(int))
        assert err.max() <= 8 and err.mean() < 2.0, sampling


def test_jpeg_decode_subsampled_restart_markers():
    """DRI counts MCUs, not blocks: at 4:2:0 one restart interval of 2
    spans 2×(4 Y + Cb + Cr) data units."""
    import numpy as np

    from kgap_spark.functions.jpeg import decode_jpeg

    rng = np.random.RandomState(7)
    hgt, wid = 32, 48  # 2×3 MCUs at 4:2:0
    y = rng.randint(0, 256, size=(hgt, wid)).astype(np.float64)
    cb = np.full((hgt, wid), 90.0)
    cr = np.full((hgt, wid), 160.0)
    data = _encode_jpeg(wid, hgt, [y, cb, cr], restart_interval=2,
                        sampling="420")
    w, h, ch, px = decode_jpeg(data)
    assert (w, h, ch) == (wid, hgt, 3)
    got = np.frombuffer(px, dtype=np.uint8).reshape(hgt, wid, 3)
    yf = np.full((hgt, wid), 0.0) + y
    r = yf + 1.402 * (160.0 - 128.0)
    g = yf - 0.344136 * (90.0 - 128.0) - 0.714136 * (160.0 - 128.0)
    b = yf + 1.772 * (90.0 - 128.0)
    want = np.clip(np.round(np.stack([r, g, b], -1)), 0, 255)
    err = np.abs(got.astype(int) - want.astype(int))
    assert err.max() <= 8 and err.mean() < 2.0


def test_jpeg_decode_sampling_factor_3_rejected():
    import numpy as np

    from kgap_spark.functions.jpeg import decode_jpeg

    img = np.full((8, 8), 100.0)
    data = bytearray(_encode_jpeg(8, 8, [img, img, img]))
    i = data.find(b"\xff\xc0")
    assert i >= 0
    # FF C0 len(2) prec h(2) w(2) nc cid samp … → samp of comp 1
    data[i + 11] = 0x31  # Y sampling 3x1
    with pytest.raises(ValueError, match="sampling factor"):
        decode_jpeg(bytes(data))


def test_jpeg_decode_restart_markers():
    import numpy as np

    from kgap_spark.functions.jpeg import decode_jpeg

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(16, 24)).astype(np.uint8)
    data = _encode_jpeg(24, 16, [img], restart_interval=2)
    w, h, ch, px = decode_jpeg(data)
    got = np.frombuffer(px, dtype=np.uint8).reshape(16, 24)
    assert np.abs(got.astype(int) - img.astype(int)).max() <= 6


def test_jpeg_unsupported_raises_cleanly():
    import pytest as _pytest

    from kgap_spark.functions.jpeg import decode_jpeg

    with _pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"nope")
    # progressive (SOF2) rejected loudly
    prog = (b"\xff\xd8" + b"\xff\xc2" + b"\x00\x0b"
            + b"\x08\x00\x08\x00\x08\x01\x01\x11\x00")
    with _pytest.raises(ValueError, match="baseline"):
        decode_jpeg(prog)


def test_jpeg_features_through_distributed_path(spark):
    """Real JPEG decode through the Arrow-batched mapInPandas extract,
    with a corrupt JPEG isolated to a NULL-feature row."""
    import numpy as np

    from kgap_spark.functions.multimodal import extract_features

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(16, 16)).astype(np.uint8)
    good = _encode_jpeg(16, 16, [img])
    corrupt = good[:40]  # truncated mid-header
    media = spark.createDataFrame(
        [("j0", "image", "image/jpeg", bytearray(good), {}),
         ("j1", "image", "image/jpeg", bytearray(corrupt), {})],
        "media_id string, kind string, mime string, payload binary, "
        "meta map<string,string>",
    )
    rows = {r.media_id: r for r in extract_features(media).collect()}
    assert rows["j0"].features is not None
    assert len(rows["j0"].features) == 16
    # mean gray of a uniform-random image ≈ 0.5
    assert 0.4 < rows["j0"].features[2] < 0.6
    assert rows["j1"].features is None


def test_lsh_bucket_cap_drops_hot_buckets(spark):
    """r07 scale guard (the round-6 verdict's one `weak` item): a hot
    LSH band bucket — e.g. a boilerplate cluster of identical docs —
    must be DROPPED from pair expansion when it exceeds
    max_bucket_docs (an over-cap bucket is an exact-dup cluster for
    exact_duplicates, not a pairwise candidate set), and surfaced by
    lsh_overflow_buckets; distinct docs below the cap still pair."""
    from kgap_spark.functions.dedup import (
        lsh_overflow_buckets,
        minhash_band_candidates,
    )

    hot = [(i, "the same boilerplate text repeated in every doc here")
           for i in range(20)]
    cold = [(100, "alpha beta gamma delta epsilon zeta"),
            (101, "alpha beta gamma delta epsilon eta")]
    docs = spark.createDataFrame(hot + cold, "doc_id long, text string")

    capped = minhash_band_candidates(
        docs, "doc_id", "text", n=3, bands=2, max_bucket_docs=10
    ).collect()
    ids = {d for r in capped for d in (r.doc_a, r.doc_b)}
    assert not ids & set(range(20))          # hot cluster dropped
    assert (100, 101) in {(r.doc_a, r.doc_b) for r in capped}

    over = lsh_overflow_buckets(
        docs, "doc_id", "text", n=3, bands=2, max_bucket_docs=10
    ).collect()
    assert over and all(r.n_docs == 20 for r in over)  # surfaced

    # cap disabled -> the hot cluster pairs exhaustively (spec shape)
    uncapped = minhash_band_candidates(
        docs, "doc_id", "text", n=3, bands=2, max_bucket_docs=None
    ).count()
    assert uncapped == 20 * 19 // 2 + 1


def test_bucket_of_py_matches_spark_xxhash64(spark):
    """The driver-side xxh64 twin must agree with Spark's
    pmod(xxhash64(token), N) for every token shape: short/long (past
    the 32-byte stripe path), multi-byte UTF-8, 4-byte tail, empty."""
    from pyspark.sql import functions as F

    from kgap_spark.index.fts import N_TOKEN_BUCKETS, bucket_of, bucket_of_py

    tokens = [
        "join", "stream", "a", "ab", "abc", "abcd", "abcde", "abcdefg",
        "abcdefgh", "abcdefghi", "x" * 31, "y" * 32, "z" * 33, "w" * 100,
        "tok123", "Ünïcodé", "日本語トークン", "emoji🎉mix", "",
        "exactly-sixteen!", "8bytes!!", "punct-u_a.tion",
    ]
    df = spark.createDataFrame([(t,) for t in tokens], "token string")
    got = {r.token: r.b for r in
           df.select("token", bucket_of(F.col("token")).alias("b")).collect()}
    for t in tokens:
        assert bucket_of_py(t) == got[t], t
        assert 0 <= bucket_of_py(t) < N_TOKEN_BUCKETS


def test_fts_boolean_query_parse():
    from kgap_spark.index.fts import parse_boolean_query

    assert parse_boolean_query("a b") == {
        "should": ["a", "b"], "must": [], "must_not": []}
    assert parse_boolean_query("a AND b") == {
        "should": [], "must": ["a", "b"], "must_not": []}
    assert parse_boolean_query("a AND b AND c") == {
        "should": [], "must": ["a", "b", "c"], "must_not": []}
    assert parse_boolean_query("a OR b") == {
        "should": ["a", "b"], "must": [], "must_not": []}
    assert parse_boolean_query("+a b -c") == {
        "should": ["b"], "must": ["a"], "must_not": ["c"]}
    assert parse_boolean_query("a NOT b") == {
        "should": ["a"], "must": [], "must_not": ["b"]}
    # query tokens normalize with the index rule (punctuation split)
    assert parse_boolean_query("+Data-Driven") == {
        "should": [], "must": ["data", "driven"], "must_not": []}


def test_fts_boolean_search(spark, docs):
    from kgap_spark.index.fts import build_posting_table, fts_search_boolean

    posting = build_posting_table(docs, "doc_id", "text")
    # must: docs 0,1,2 contain fox; dog optional scorer (0 and 2)
    hits = {r.subj: (r.score, r.n_terms)
            for r in fts_search_boolean(posting, "fox AND dog").collect()}
    assert set(hits) == {0, 2}
    assert hits[0] == (2, 2)
    # exclusion: fox docs without cat
    hits2 = {r.subj for r in
             fts_search_boolean(posting, "fox -cat").collect()}
    assert hits2 == {0, 2}
    # plain should with an exclusion keeps single-term matches
    hits3 = {r.subj for r in
             fts_search_boolean(posting, "fox katze -cat").collect()}
    assert hits3 == {0, 2, 4}
    # must term absent everywhere -> empty
    assert fts_search_boolean(posting, "+zzz fox").count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive term"):
        fts_search_boolean(posting, "-only -negatives")


def test_fts_boolean_and_promotes_whole_word():
    """Review regression: AND promotes the whole previous WORD (all
    its normalized tokens), and only when it went to should — a +term
    in between must not cause an earlier OR term to become required."""
    from kgap_spark.index.fts import parse_boolean_query

    assert parse_boolean_query("apple +banana AND cherry") == {
        "should": ["apple"], "must": ["banana", "cherry"],
        "must_not": []}
    assert parse_boolean_query("data-driven AND spark") == {
        "should": [], "must": ["data", "driven", "spark"],
        "must_not": []}
    # NOT resets the promotion anchor
    assert parse_boolean_query("a NOT b AND c") == {
        "should": ["a"], "must": ["c"], "must_not": ["b"]}


def test_jpeg_non_interleaved_scan_rejected():
    import struct

    import pytest as _pytest

    from kgap_spark.functions.jpeg import decode_jpeg

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(
            ">H", len(payload) + 2) + payload

    # 3-component SOF0 but a single-component scan (ns=1)
    comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(3))
    data = (b"\xff\xd8"
            + seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 3) + comps)
            + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0])))
    with _pytest.raises(ValueError, match="non-interleaved"):
        decode_jpeg(data)


def test_jpeg_truncated_sos_header_valueerror():
    import struct

    import pytest as _pytest

    from kgap_spark.functions.jpeg import decode_jpeg

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(
            ">H", len(payload) + 2) + payload

    sof = seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1)
              + bytes([1, 0x11, 0]))
    # empty SOS payload
    with _pytest.raises(ValueError, match="truncated SOS"):
        decode_jpeg(b"\xff\xd8" + sof + seg(0xDA, b""))
    # ns=3 but only one component descriptor
    with _pytest.raises(ValueError, match="truncated SOS"):
        decode_jpeg(b"\xff\xd8" + sof + seg(0xDA, bytes([3, 1, 0])))


# ---------------------------------------------------------------------------
# GIF decoder (round 6): real LZW branch, pure stdlib
# ---------------------------------------------------------------------------

def _lzw_encode(indices, min_code_size):
    """Test-side GIF LZW encoder, 'uncompressed' flavor: every pixel
    emitted as a literal code, a CLEAR inserted before the table
    would force a width increase — keeps code width at
    min_code_size+1 while remaining a fully spec-conformant stream."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    out = bytearray()
    bitbuf = 0
    nbits = 0

    def emit(code):
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    emit(clear)
    budget = (1 << width) - eoi - 2  # codes before width would grow
    for i, c in enumerate(indices):
        if i and i % budget == 0:
            emit(clear)
        emit(c)
    emit(eoi)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _encode_gif(width, height, indices, palette, interlace=False,
                transparent=None, animated_tail=False):
    import struct as st

    size_bits = max((len(palette) - 1).bit_length(), 1) - 1
    n = 2 << size_bits
    gct = bytearray()
    for r, g, b in palette:
        gct += bytes((r, g, b))
    gct += b"\x00" * (3 * n - len(gct))
    out = bytearray(b"GIF89a")
    out += st.pack("<HHBBB", width, height, 0x80 | size_bits, 0, 0)
    out += gct
    if transparent is not None:
        out += b"\x21\xf9\x04" + bytes((1, 0, 0, transparent)) + b"\x00"
    mcs = max(size_bits + 1, 2)
    if interlace:
        rows = [indices[y * width:(y + 1) * width] for y in range(height)]
        order = [y for s, p in ((0, 8), (4, 8), (2, 4), (1, 2))
                 for y in range(s, height, p)]
        indices = [c for y in order for c in rows[y]]
    out += b"\x2c" + st.pack("<HHHHB", 0, 0, width, height,
                              0x40 if interlace else 0)
    out += bytes((mcs,))
    lzw = _lzw_encode(indices, mcs)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        out += bytes((len(chunk),)) + chunk
    out += b"\x00"
    if animated_tail:  # a second (ignored) frame
        out += st.pack("<BHHHHB", 0x2C, 0, 0, 1, 1, 0)
        out += bytes((mcs,))
        tail = _lzw_encode([0], mcs)
        out += bytes((len(tail),)) + tail + b"\x00"
    out += b"\x3b"
    return bytes(out)


def test_gif_decode_roundtrip():
    from kgap_spark.functions.gif import decode_gif

    palette = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    w, h = 7, 5
    idx = [(x + y) % 4 for y in range(h) for x in range(w)]
    data = _encode_gif(w, h, idx, palette)
    gw, gh, ch, rgb = decode_gif(data)
    assert (gw, gh, ch) == (w, h, 3)
    expected = b"".join(bytes(palette[c]) for c in idx)
    assert rgb == expected


def test_gif_decode_larger_palette_and_multi_subblock():
    from kgap_spark.functions.gif import decode_gif

    # 64-color palette, enough pixels to span several 255-byte
    # sub-blocks and several CLEAR resets
    palette = [(i * 4, 255 - i * 4, (i * 7) % 256) for i in range(64)]
    w, h = 101, 37
    idx = [(x * y + x) % 64 for y in range(h) for x in range(w)]
    gw, gh, ch, rgb = decode_gif(_encode_gif(w, h, idx, palette))
    assert (gw, gh, ch) == (w, h, 3)
    assert rgb == b"".join(bytes(palette[c]) for c in idx)


def test_gif_decode_interlaced():
    from kgap_spark.functions.gif import decode_gif

    palette = [(0, 0, 0), (10, 20, 30), (40, 50, 60), (70, 80, 90)]
    w, h = 6, 11
    idx = [(3 * y + x) % 4 for y in range(h) for x in range(w)]
    gw, gh, ch, rgb = decode_gif(
        _encode_gif(w, h, idx, palette, interlace=True)
    )
    assert rgb == b"".join(bytes(palette[c]) for c in idx)


def test_gif_transparency_and_first_frame_only():
    from kgap_spark.functions.gif import decode_gif

    palette = [(9, 9, 9), (255, 255, 255)]
    w, h = 4, 2
    idx = [0, 1, 0, 1, 1, 0, 1, 0]
    data = _encode_gif(w, h, idx, palette, transparent=0,
                       animated_tail=True)
    gw, gh, ch, rgb = decode_gif(data)
    # transparent index composites to black, not palette[0]
    exp = b"".join(b"\x00\x00\x00" if c == 0 else bytes(palette[c])
                   for c in idx)
    assert rgb == exp and (gw, gh) == (w, h)


def test_gif_malformed_raises_valueerror():
    import pytest as _pt

    from kgap_spark.functions.gif import decode_gif

    with _pt.raises(ValueError, match="signature"):
        decode_gif(b"NOTAGIF")
    with _pt.raises(ValueError, match="truncated|image"):
        decode_gif(b"GIF89a" + b"\x00" * 7)
    # truncated LZW stream
    palette = [(0, 0, 0), (1, 1, 1)]
    good = _encode_gif(4, 4, [0, 1] * 8, palette)
    with _pt.raises(ValueError):
        decode_gif(good[:len(good) - 6] + b"\x00\x3b")


def test_gif_through_multimodal_features():
    from kgap_spark.functions.multimodal import _decode_image

    palette = [(i, i, i) for i in range(16)]
    idx = [(x + y) % 16 for y in range(8) for x in range(8)]
    feats = _decode_image(_encode_gif(8, 8, idx, palette))
    assert feats is not None and len(feats) == 16
    # corrupt GIF isolates to NULL features, never an exception
    assert _decode_image(b"GIF89a\xff\xff\xff") is None


# --- WAV audio decoder (real branch) ---------------------------------------

def test_wav_decode_roundtrip_16bit():
    import numpy as np

    from kgap_spark.functions.audio import decode_wav, encode_wav

    t = np.arange(800) / 8000.0
    stereo = np.stack(
        [np.sin(2 * np.pi * 440 * t), np.sin(2 * np.pi * 220 * t)], axis=1
    )
    sr, ch, frames = decode_wav(encode_wav(8000, stereo))
    assert (sr, ch) == (8000, 2)
    assert frames.shape == (800, 2)
    # 16-bit quantization: round-trip error ≤ 1/32768 scale mismatch
    # (encode scales by 32767, decode by 32768) + half-LSB rounding
    assert np.max(np.abs(frames - stereo)) < 1.0 / 16000


def test_wav_decode_float32_and_8bit_and_24bit():
    import struct

    import numpy as np

    from kgap_spark.functions.audio import decode_wav

    def riff(tag, bits, body):
        fmt = struct.pack("<HHIIHH", tag, 1, 8000, 0, 0, bits)
        inner = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                 + b"data" + struct.pack("<I", len(body)) + body)
        return b"RIFF" + struct.pack("<I", len(inner)) + inner

    # IEEE float32 (tag 3)
    src = np.linspace(-1, 1, 64)
    _, _, fr = decode_wav(riff(3, 32, src.astype("<f4").tobytes()))
    assert np.allclose(fr[:, 0], src, atol=1e-6)
    # 8-bit unsigned PCM: 128 is zero
    _, _, fr8 = decode_wav(riff(1, 8, bytes([0, 128, 255])))
    assert fr8[1, 0] == 0.0 and fr8[0, 0] == -1.0
    # 24-bit little-endian signed: 0x800000 = -1.0
    _, _, fr24 = decode_wav(riff(1, 24, b"\x00\x00\x80" + b"\x00\x00\x00"))
    assert fr24[0, 0] == -1.0 and fr24[1, 0] == 0.0


def test_wav_extensible_and_chunk_skip():
    """WAVE_FORMAT_EXTENSIBLE resolves via SubFormat; LIST chunks and
    odd-length word alignment are walked over."""
    import struct

    import numpy as np

    from kgap_spark.functions.audio import decode_wav

    # 16-byte header + cbSize(22) = validbits, channelmask, then the
    # 16-byte SubFormat GUID whose FIRST TWO bytes are the real tag
    ext = struct.pack("<HHIIHHHHI", 0xFFFE, 1, 8000, 0, 0, 16, 22, 16, 1) \
        + struct.pack("<H", 1) + b"\x00" * 14
    body = np.array([16384, -16384], dtype="<i2").tobytes()
    inner = (b"WAVE"
             + b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd+pad
             + b"fmt " + struct.pack("<I", len(ext)) + ext
             + b"data" + struct.pack("<I", len(body)) + body)
    sr, ch, fr = decode_wav(b"RIFF" + struct.pack("<I", len(inner)) + inner)
    assert (sr, ch) == (8000, 1) and abs(fr[0, 0] - 0.5) < 1e-4


def test_wav_malformed_raises_valueerror():
    import pytest

    from kgap_spark.functions.audio import decode_wav

    for bad in (b"", b"RIFX1234WAVE", b"RIFF\x04\x00\x00\x00WAVE",
                b"RIFF\xff\x00\x00\x00WAVEdata\x02\x00\x00\x00ab"):
        with pytest.raises(ValueError):
            decode_wav(bad)


def test_wav_through_multimodal_features():
    import numpy as np

    from kgap_spark.functions.audio import encode_wav
    from kgap_spark.functions.multimodal import _decode_audio

    t = np.arange(1600) / 16000.0
    wav = encode_wav(16000, np.sin(2 * np.pi * 440 * t)[:, None])
    feats = _decode_audio(wav)
    assert feats is not None and len(feats) == 16
    # sine RMS ≈ 1/sqrt(2); feature slots: [dur, sr, ch, rms, peak, zcr, ...]
    assert abs(feats[3] - 0.707) < 0.01 and abs(feats[4] - 1.0) < 0.01
    # corrupt RIFF isolates to NULL features; non-RIFF stays on the
    # deterministic-fake path (list, not None)
    assert _decode_audio(b"RIFF\x08\x00\x00\x00WAVEjunk") is None
    assert isinstance(_decode_audio(b"\x00mp3-ish"), list)


def test_wav_features_distributed(spark):
    """End-to-end through extract_features mapInPandas: mixed WAV and
    fake-path audio rows in one batch."""
    import numpy as np

    from kgap_spark.functions.audio import encode_wav
    from kgap_spark.functions.multimodal import MEDIA_SCHEMA, extract_features

    t = np.arange(400) / 8000.0
    wav = encode_wav(8000, np.sin(2 * np.pi * 100 * t)[:, None])
    rows = [
        ("m1", "audio", "audio/wav", bytearray(wav), {}),
        ("m2", "audio", "audio/mpeg", bytearray(b"\xffmp3"), {}),
    ]
    out = {r["media_id"]: r["features"]
           for r in extract_features(
               spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
    assert len(out["m1"]) == 16 and abs(out["m1"][3] - 0.707) < 0.01
    assert len(out["m2"]) == 16  # deterministic fake path


# --- AVI video decoder (real branch) ---------------------------------------

def _mk_avi_mjpeg(n_frames=6, w=16, h=16):
    import numpy as np

    from kgap_spark.functions.video import encode_avi

    frames = []
    for i in range(n_frames):
        img = np.full((h, w), 20 + i * 40, dtype=np.uint8)
        frames.append(_encode_jpeg(w, h, [img]))
    return encode_avi(frames, w, h, codec="MJPG", fps=10)


def test_avi_mjpeg_decode_and_sampling():
    from kgap_spark.functions.video import decode_avi

    data = _mk_avi_mjpeg(n_frames=6)
    w, h, fps, n, frames = decode_avi(data, max_frames=4)
    assert (w, h, n) == (16, 16, 6) and abs(fps - 10.0) < 1e-6
    # 4 evenly-spaced samples of 6 frames: indices {0, 1, 3, 5}
    assert len(frames) == 4
    lumas = [px[0] for (_, _, _, px) in frames]
    assert lumas == sorted(lumas)  # brightness ramp preserved in order


def test_avi_rgb_dib_frames():
    import struct

    import numpy as np

    from kgap_spark.functions.video import decode_avi, encode_avi

    w, h = 5, 3  # stride 5*3=15 → padded to 16
    stride = (w * 3 + 3) & ~3
    rgb = np.zeros((h, w, 3), dtype=np.uint8)
    rgb[0, 0] = (255, 0, 0)   # top-left red
    rgb[2, 4] = (0, 0, 255)   # bottom-right blue
    dib = np.zeros((h, stride), dtype=np.uint8)
    dib[:, :w * 3] = rgb[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    data = encode_avi([dib.tobytes()], w, h, codec="RGB", fps=5)
    _, _, fps, n, frames = decode_avi(data)
    assert n == 1 and abs(fps - 5.0) < 1e-6
    fw, fh, ch, px = frames[0]
    out = np.frombuffer(px, dtype=np.uint8).reshape(fh, fw, ch)
    assert tuple(out[0, 0]) == (255, 0, 0)
    assert tuple(out[2, 4]) == (0, 0, 255)


def test_avi_video_not_stream_zero():
    """An audio strl before the video strl makes the video stream 01;
    its frames live in '01dc' chunks and must still decode."""
    import numpy as np

    from kgap_spark.functions.video import decode_avi, encode_avi

    frames = [_encode_jpeg(16, 16, [np.full((16, 16), 30 + i * 50,
                                            dtype=np.uint8)])
              for i in range(3)]
    data = encode_avi(frames, 16, 16, codec="MJPG", fps=10,
                      audio_first=True)
    w, h, fps, n, out = decode_avi(data, max_frames=3)
    assert (w, h, n) == (16, 16, 3) and len(out) == 3
    lumas = [px[0] for (_, _, _, px) in out]
    assert lumas == sorted(lumas)


def test_avi_malformed_raises_valueerror():
    import pytest

    from kgap_spark.functions.video import decode_avi, encode_avi

    with pytest.raises(ValueError):
        decode_avi(b"RIFF\x04\x00\x00\x00WAVE")  # not AVI
    with pytest.raises(ValueError):
        decode_avi(b"RIFF\x04\x00\x00\x00AVI ")  # no streams
    # unsupported codec fourcc raises with the codec named
    bad = encode_avi([b"xxxx"], 4, 4, codec="H264")
    with pytest.raises(ValueError, match="H264"):
        decode_avi(bad)


def test_avi_through_multimodal_features():
    from kgap_spark.functions.multimodal import _decode_audio, _decode_video

    feats = _decode_video(_mk_avi_mjpeg())
    assert feats is not None and len(feats) == 16
    assert abs(feats[2] - 10.0 / 60.0) < 1e-6  # fps slot
    # luma ramp: temporal std is non-zero
    assert feats[5] > 0.05
    # corrupt AVI isolates to NULL; WAV payload routed to audio decoder
    # does not leak into the video branch (falls through to image/fake)
    assert _decode_video(b"RIFF\x08\x00\x00\x00AVI xxxx") is None
    assert isinstance(_decode_video(b"\x00notavideo"), list)
    # audio decoder no longer swallows AVI payloads as WAV
    assert isinstance(_decode_audio(b"RIFF\x08\x00\x00\x00AVI xxxx"), list)


def test_avi_features_distributed(spark):
    from kgap_spark.functions.multimodal import MEDIA_SCHEMA, extract_features

    rows = [
        ("v1", "video", "video/x-msvideo", bytearray(_mk_avi_mjpeg()), {}),
        ("v2", "video", "video/mp4", bytearray(b"\x00mp4-ish"), {}),
    ]
    out = {r["media_id"]: r["features"]
           for r in extract_features(
               spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
    assert len(out["v1"]) == 16 and abs(out["v1"][2] - 10.0 / 60.0) < 1e-6
    assert len(out["v2"]) == 16  # deterministic fake path


# ---------------------------------------------------------------------------
# WebP VP8L: test-side encoder (spec-direct, independent of the decoder:
# own bit/huffman writer, own predictor/color-transform math) + round-trips


class _VP8LWriter:
    def __init__(self):
        self.out = bytearray()
        self.cur = 0
        self.n = 0

    def bits(self, value, nbits):  # LSB-first stream order
        for i in range(nbits):
            self.cur |= ((value >> i) & 1) << self.n
            self.n += 1
            if self.n == 8:
                self.out.append(self.cur)
                self.cur = 0
                self.n = 0

    def code(self, code, length):  # prefix codes are walked MSB-first
        for i in range(length - 1, -1, -1):
            self.bits((code >> i) & 1, 1)

    def payload(self):
        return bytes(self.out) + (bytes((self.cur,)) if self.n else b"")


def _vp8l_hlengths(freq):
    import heapq

    items = sorted((f, s) for s, f in freq.items() if f > 0)
    if not items:
        return {}
    if len(items) == 1:
        return {items[0][1]: 1}
    lengths = {s: 0 for _, s in items}
    heap = [(f, i, [s]) for i, (f, s) in enumerate(items)]
    heapq.heapify(heap)
    tie = len(heap)
    while len(heap) > 1:
        f1, _, g1 = heapq.heappop(heap)
        f2, _, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            lengths[s] += 1
        heapq.heappush(heap, (f1 + f2, tie, g1 + g2))
        tie += 1
    assert max(lengths.values()) <= 15
    return lengths


def _vp8l_canon(lengths):
    used = sorted((l, s) for s, l in lengths.items() if l)
    codes = {}
    code = 0
    prev = used[0][0]
    for l, s in used:
        code <<= l - prev
        prev = l
        codes[s] = (code, l)
        code += 1
    return codes


_VP8L_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12,
                   13, 14, 15)


def _vp8l_emit_code(bw, lengths_list, alphabet_size):
    from collections import Counter

    used = [(s, l) for s, l in enumerate(lengths_list) if l]
    assert used
    if len(used) <= 2 and all(s < 256 for s, _ in used):
        bw.bits(1, 1)  # simple code
        bw.bits(len(used) - 1, 1)
        s0 = used[0][0]
        if s0 >= 2:
            bw.bits(1, 1)
            bw.bits(s0, 8)
        else:
            bw.bits(0, 1)
            bw.bits(s0, 1)
        if len(used) == 2:
            bw.bits(used[1][0], 8)
        return
    bw.bits(0, 1)  # normal code: clc over the 19-symbol alphabet, no RLE
    clc_map = _vp8l_hlengths(Counter(lengths_list))
    assert max(clc_map.values()) <= 7
    clc_list = [clc_map.get(v, 0) for v in range(19)]
    num_clc = max(
        max((i for i in range(19) if clc_list[_VP8L_CLC_ORDER[i]]),
            default=0) + 1, 4)
    bw.bits(num_clc - 4, 4)
    for i in range(num_clc):
        bw.bits(clc_list[_VP8L_CLC_ORDER[i]], 3)
    bw.bits(0, 1)  # lengths for the whole alphabet (no max_symbol)
    ccodes = _vp8l_canon(clc_map) if len(clc_map) > 1 else None
    if ccodes:
        for v in lengths_list:
            c, l = ccodes[v]
            bw.code(c, l)


def _t_prefix(v):
    """Inverse of the LZ77 prefix decode: value -> (prefix, extra, nbits)."""
    x = v - 1
    if x < 4:
        return x, 0, 0
    eb = x.bit_length() - 2
    lb = (x >> eb) - 2
    return 2 * eb + 2 + lb, x - ((2 + lb) << eb), eb


def _t_cache_slot(px, cache_bits):
    return ((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)


def _vp8l_entropy_image(bw, pixels, is_main, cache_bits=0, lz77=False):
    from collections import Counter

    if cache_bits:
        bw.bits(1, 1)
        bw.bits(cache_bits, 4)
    else:
        bw.bits(0, 1)
    if is_main:
        bw.bits(0, 1)  # single prefix group (no meta image)
    cache = [None] * (1 << cache_bits) if cache_bits else None
    tokens = []
    i, n = 0, len(pixels)
    while i < n:
        p = pixels[i]
        if cache is not None and cache[_t_cache_slot(p, cache_bits)] == p:
            tokens.append(("cache", _t_cache_slot(p, cache_bits)))
            i += 1
            continue
        if lz77 and i and pixels[i - 1] == p:
            run = 0
            while i + run < n and pixels[i + run] == p:
                run += 1
            tokens.append(("copy", run, 1))
            if cache is not None:
                cache[_t_cache_slot(p, cache_bits)] = p
            i += run
            continue
        tokens.append(("lit", p))
        if cache is not None:
            cache[_t_cache_slot(p, cache_bits)] = p
        i += 1
    gfreq, rfreq, bfreq, afreq, dfreq = (Counter() for _ in range(5))
    for t in tokens:
        if t[0] == "lit":
            p = t[1]
            gfreq[(p >> 8) & 0xFF] += 1
            rfreq[(p >> 16) & 0xFF] += 1
            bfreq[p & 0xFF] += 1
            afreq[p >> 24] += 1
        elif t[0] == "copy":
            gfreq[256 + _t_prefix(t[1])[0]] += 1
            dfreq[_t_prefix(t[2] + 120)[0]] += 1
        else:
            gfreq[280 + t[1]] += 1
    for fr in (rfreq, bfreq, afreq, dfreq):
        if not fr:
            fr[0] = 1  # unused code: 1-symbol simple code, zero bits/use
    cache_syms = (1 << cache_bits) if cache_bits else 0
    cmaps = []
    for fr, asize in ((gfreq, 280 + cache_syms), (rfreq, 256), (bfreq, 256),
                      (afreq, 256), (dfreq, 40)):
        lmap = _vp8l_hlengths(fr)
        _vp8l_emit_code(bw, [lmap.get(s, 0) for s in range(asize)], asize)
        cmaps.append(_vp8l_canon(lmap) if len(lmap) > 1 else None)
    gc, rc, bc, ac, dc = cmaps

    def emit(cmap, s):
        if cmap:
            c, l = cmap[s]
            bw.code(c, l)

    for t in tokens:
        if t[0] == "lit":
            p = t[1]
            emit(gc, (p >> 8) & 0xFF)
            emit(rc, (p >> 16) & 0xFF)
            emit(bc, p & 0xFF)
            emit(ac, p >> 24)
        elif t[0] == "copy":
            pl, ex, eb = _t_prefix(t[1])
            emit(gc, 256 + pl)
            bw.bits(ex, eb)
            dl, dex, deb = _t_prefix(t[2] + 120)
            emit(dc, dl)
            bw.bits(dex, deb)
        else:
            emit(gc, 280 + t[1])


def _t_chans(p):
    return [(p >> s) & 0xFF for s in (24, 16, 8, 0)]


def _t_pack(c):
    return (c[0] << 24) | (c[1] << 16) | (c[2] << 8) | c[3]


def _t_avg2(a, b):
    return _t_pack([(x + y) // 2 for x, y in zip(_t_chans(a), _t_chans(b))])


def _t_predict(mode, l, t, tr, tl):
    """Independent predictor reimplementation from the spec text."""
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _t_avg2(_t_avg2(l, tr), t)
    if mode == 6:
        return _t_avg2(l, tl)
    if mode == 7:
        return _t_avg2(l, t)
    if mode == 8:
        return _t_avg2(tl, t)
    if mode == 9:
        return _t_avg2(t, tr)
    if mode == 10:
        return _t_avg2(_t_avg2(l, tl), _t_avg2(t, tr))
    if mode == 11:
        p_l = sum(abs(x - y) for x, y in zip(_t_chans(t), _t_chans(tl)))
        p_t = sum(abs(x - y) for x, y in zip(_t_chans(l), _t_chans(tl)))
        return l if p_l < p_t else t
    if mode == 12:
        return _t_pack([max(0, min(255, lc + tc - tlc)) for lc, tc, tlc in
                        zip(_t_chans(l), _t_chans(t), _t_chans(tl))])
    a = [(lc + tc) // 2 for lc, tc in zip(_t_chans(l), _t_chans(t))]
    out = []
    for ac, tlc in zip(a, _t_chans(tl)):
        d = ac - tlc
        half = d // 2 if d >= 0 else -((-d) // 2)
        out.append(max(0, min(255, ac + half)))
    return _t_pack(out)


def _t_sub_mod(a, b):
    return _t_pack([(x - y) % 256 for x, y in zip(_t_chans(a), _t_chans(b))])


def _t_s8(v):
    return v - 256 if v >= 128 else v


def _t_delta(t, c):
    return (_t_s8(t) * _t_s8(c)) >> 5


def _encode_vp8l(rgba, w, h, subtract_green=False, cache_bits=0, lz77=False,
                 palette=False, predictor_mode=None, color_cte=None):
    px = [(a << 24) | (r << 16) | (g << 8) | b for r, g, b, a in rgba]
    bw = _VP8LWriter()
    bw.bits(w - 1, 14)
    bw.bits(h - 1, 14)
    bw.bits(1, 1)  # alpha hint
    bw.bits(0, 3)  # version
    cur_w = w
    if subtract_green:
        bw.bits(1, 1)
        bw.bits(2, 2)
        px = [(p & 0xFF00FF00)
              | ((((p >> 16) & 0xFF) - ((p >> 8) & 0xFF)) % 256) << 16
              | ((p & 0xFF) - ((p >> 8) & 0xFF)) % 256 for p in px]
    if color_cte is not None:
        g2r, g2b, r2b = color_cte
        bw.bits(1, 1)
        bw.bits(1, 2)
        bits = 2
        bw.bits(bits - 2, 3)
        sw, sh = (cur_w + 3) >> 2, (h + 3) >> 2
        cte_px = (0xFF000000 | ((r2b & 0xFF) << 16) | ((g2b & 0xFF) << 8)
                  | (g2r & 0xFF))
        _vp8l_entropy_image(bw, [cte_px] * (sw * sh), is_main=False)
        out = []
        for p in px:
            _a, r, g, b = _t_chans(p)
            tr_ = (r - _t_delta(g2r & 0xFF, g)) % 256
            tb = (b - _t_delta(g2b & 0xFF, g) - _t_delta(r2b & 0xFF, r)) % 256
            out.append((p & 0xFF00FF00) | (tr_ << 16) | tb)
        px = out
    if predictor_mode is not None:
        bw.bits(1, 1)
        bw.bits(0, 2)
        bits = 2  # 4x4 blocks
        bw.bits(bits - 2, 3)
        sw, sh = (cur_w + 3) >> 2, (h + 3) >> 2
        _vp8l_entropy_image(bw, [0xFF000000 | (predictor_mode << 8)] * (sw * sh),
                            is_main=False)
        res = [0] * (cur_w * h)
        for pos in range(cur_w * h):
            x, y = pos % cur_w, pos // cur_w
            if pos == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = px[pos - 1]
            elif x == 0:
                pred = px[pos - cur_w]
            else:
                pred = _t_predict(predictor_mode, px[pos - 1], px[pos - cur_w],
                                  px[pos - cur_w + 1], px[pos - cur_w - 1])
            res[pos] = _t_sub_mod(px[pos], pred)
        px = res
    if palette:
        pal = []
        seen = {}
        for p in px:
            if p not in seen:
                seen[p] = len(pal)
                pal.append(p)
        n = len(pal)
        assert n <= 256
        bw.bits(1, 1)
        bw.bits(3, 2)
        bw.bits(n - 1, 8)
        deltas = [pal[0]] + [_t_sub_mod(pal[i], pal[i - 1])
                             for i in range(1, n)]
        _vp8l_entropy_image(bw, deltas, is_main=False)
        wb = 3 if n <= 2 else 2 if n <= 4 else 1 if n <= 16 else 0
        idx = [seen[p] for p in px]
        if wb == 0:
            px = [0xFF000000 | (i << 8) for i in idx]
            # width unchanged
        else:
            per = 8 >> wb
            packed_w = (cur_w + (1 << wb) - 1) >> wb
            rows = []
            for y in range(h):
                row = idx[y * cur_w:(y + 1) * cur_w]
                for px_x in range(packed_w):
                    byte = 0
                    for k in range(1 << wb):
                        x = (px_x << wb) + k
                        if x < cur_w:
                            byte |= row[x] << (k * per)
                    rows.append(0xFF000000 | (byte << 8))
            px = rows
            cur_w = packed_w
    bw.bits(0, 1)  # end of transforms
    _vp8l_entropy_image(bw, px, is_main=True, cache_bits=cache_bits,
                        lz77=lz77)
    return b"\x2f" + bw.payload()


def _wrap_webp(payload, vp8x=False, tag=b"VP8L"):
    import struct as st

    chunks = b""
    if vp8x:
        chunks += b"VP8X" + st.pack("<I", 10) + bytes(10)
    chunks += tag + st.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunks += b"\x00"
    riff = b"WEBP" + chunks
    return b"RIFF" + st.pack("<I", len(riff)) + riff


def _encode_webp(rgba, w, h, **kw):
    return _wrap_webp(_encode_vp8l(rgba, w, h, **kw))


def _grad_rgba(w, h):
    return [((x * 7 + y * 13) % 256, (x * 3 + 11 * y) % 256, (y * 5 + x) % 256,
             255 if (x + y) % 3 else 128)
            for y in range(h) for x in range(w)]


def _rgba_bytes(rgba):
    return bytes(b for p in rgba for b in p)


def test_vp8l_literal_roundtrip():
    from kgap_spark.functions.webp import decode_webp

    rgba = _grad_rgba(13, 9)
    w, h, ch, pix = decode_webp(_encode_webp(rgba, 13, 9))
    assert (w, h, ch) == (13, 9, 4)
    assert pix == _rgba_bytes(rgba)


def test_vp8l_simple_codes():
    from kgap_spark.functions.webp import decode_webp

    # 1 color -> every code single-symbol (zero data bits)
    one = [(10, 20, 30, 255)] * 12
    assert decode_webp(_encode_webp(one, 4, 3))[3] == _rgba_bytes(one)
    # 2 colors -> 2-symbol simple codes
    two = [(0, 0, 0, 255) if i % 2 else (200, 100, 50, 255)
           for i in range(20)]
    assert decode_webp(_encode_webp(two, 5, 4))[3] == _rgba_bytes(two)


def test_vp8l_subtract_green():
    from kgap_spark.functions.webp import decode_webp

    rgba = _grad_rgba(8, 8)
    got = decode_webp(_encode_webp(rgba, 8, 8, subtract_green=True))
    assert got[3] == _rgba_bytes(rgba)


def test_vp8l_palette_bundled():
    from kgap_spark.functions.webp import decode_webp

    pal = [(255, 0, 0, 255), (0, 255, 0, 255), (0, 0, 255, 128)]
    rgba = [pal[(x + y) % 3] for y in range(7) for x in range(11)]
    got = decode_webp(_encode_webp(rgba, 11, 7, palette=True))
    assert got[:3] == (11, 7, 4)
    assert got[3] == _rgba_bytes(rgba)
    # 2-color palette: 8 pixels per packed byte
    rgba2 = [pal[(x * y) % 2] for y in range(5) for x in range(19)]
    assert decode_webp(_encode_webp(rgba2, 19, 5,
                                    palette=True))[3] == _rgba_bytes(rgba2)


def test_vp8l_palette_unbundled():
    from kgap_spark.functions.webp import decode_webp

    colors = [(i * 3 % 256, i * 7 % 256, i * 11 % 256, 255)
              for i in range(20)]
    rgba = [colors[(x * 13 + y * 5) % 20] for y in range(6) for x in range(9)]
    assert decode_webp(_encode_webp(rgba, 9, 6,
                                    palette=True))[3] == _rgba_bytes(rgba)


def test_vp8l_cache_and_lz77():
    from kgap_spark.functions.webp import decode_webp

    rgba = []
    for y in range(10):
        run = [(y * 20 % 256, 50, 200 - y * 10 % 200, 255)] * 12
        rgba.extend(run)
        rgba.extend([(5, 5, 5, 255), (y * 20 % 256, 50, 200 - y * 10 % 200,
                                      255)] * 2)
    w, h = 16, 10
    data = _encode_webp(rgba, w, h, cache_bits=4, lz77=True)
    assert decode_webp(data)[3] == _rgba_bytes(rgba)
    # and lz77 without cache
    data2 = _encode_webp(rgba, w, h, lz77=True)
    assert decode_webp(data2)[3] == _rgba_bytes(rgba)


def test_vp8l_predictor_modes():
    from kgap_spark.functions.webp import decode_webp

    rgba = _grad_rgba(11, 10)
    for mode in (0, 1, 2, 3, 4, 5, 7, 10, 11, 12, 13):
        got = decode_webp(_encode_webp(rgba, 11, 10, predictor_mode=mode))
        assert got[3] == _rgba_bytes(rgba), f"predictor mode {mode}"


def test_vp8l_color_transform():
    from kgap_spark.functions.webp import decode_webp

    rgba = _grad_rgba(9, 7)
    for cte in ((32, 224, 16), (0, 0, 0), (255, 1, 128)):
        got = decode_webp(_encode_webp(rgba, 9, 7, color_cte=cte))
        assert got[3] == _rgba_bytes(rgba), f"cte {cte}"


def test_vp8l_transform_combo():
    from kgap_spark.functions.webp import decode_webp

    rgba = _grad_rgba(12, 5)
    data = _encode_webp(rgba, 12, 5, subtract_green=True, predictor_mode=7,
                        cache_bits=3, lz77=True)
    assert decode_webp(data)[3] == _rgba_bytes(rgba)


def test_vp8l_vp8x_container_and_errors():
    import pytest

    from kgap_spark.functions.webp import decode_webp

    rgba = _grad_rgba(4, 4)
    payload = _encode_vp8l(rgba, 4, 4)
    assert decode_webp(_wrap_webp(payload, vp8x=True))[3] == _rgba_bytes(rgba)
    with pytest.raises(NotImplementedError):
        decode_webp(_wrap_webp(b"\x00" * 10, tag=b"VP8 "))
    with pytest.raises(ValueError):
        decode_webp(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError):
        decode_webp(_wrap_webp(b"\x00" + payload[1:]))  # bad signature
    with pytest.raises(ValueError):
        decode_webp(_wrap_webp(payload[:8]))  # truncated stream
    # version != 0: flip the 3 version bits (bits 29-31 after signature)
    bad = bytearray(payload)
    bad[4] |= 0xE0
    with pytest.raises(ValueError):
        decode_webp(_wrap_webp(bytes(bad)))


def test_webp_through_multimodal_features():
    from kgap_spark.functions.multimodal import _decode_image

    feats = _decode_image(_encode_webp(_grad_rgba(16, 12), 16, 12))
    assert feats is not None and len(feats) == 16
    assert feats[0] == 16.0 / 4096 and feats[1] == 12.0 / 4096
    # corrupt VP8L isolates to NULL; lossy VP8 falls to deterministic fake
    assert _decode_image(_wrap_webp(b"\x2f\x00")) is None
    lossy = _decode_image(_wrap_webp(b"\x00" * 10, tag=b"VP8 "))
    assert isinstance(lossy, list) and len(lossy) == 16


# ---------------------------------------------------------------------------
# FLAC: test-side encoder (spec-direct, independent MSB-first writer,
# own Rice/fixed/LPC/stereo math) + round-trips


class _FlacWriter:
    def __init__(self):
        self.out = bytearray()
        self.cur = 0
        self.n = 0

    def bits(self, v, n):  # MSB-first
        for i in range(n - 1, -1, -1):
            self.cur = (self.cur << 1) | ((v >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.cur)
                self.cur = 0
                self.n = 0

    def signed(self, v, n):
        self.bits(v & ((1 << n) - 1), n)

    def unary(self, q):  # q zeros then a terminating 1
        self.bits(1, q + 1)

    def align(self):
        while self.n:
            self.bits(0, 1)

    def data(self):
        assert self.n == 0
        return bytes(self.out)


def _f_crc8(data):
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 \
                else (crc << 1) & 0xFF
    return crc


def _f_zigzag(v):
    return (v << 1) if v >= 0 else ((-v << 1) - 1)


def _f_rice(bw, residuals, order, blocksize, param=None, part_order=0,
            escape_nbits=None):
    bw.bits(0, 2)  # 4-bit rice method
    bw.bits(part_order, 4)
    idx = 0
    for part in range(1 << part_order):
        count = (blocksize >> part_order) - (order if part == 0 else 0)
        if escape_nbits is not None and part == 0:
            bw.bits(15, 4)  # escape
            bw.bits(escape_nbits, 5)
            for _ in range(count):
                bw.signed(residuals[idx], escape_nbits)
                idx += 1
        else:
            seg = residuals[idx:idx + count]
            p = param
            if p is None:  # adaptive: bound unary runs on noisy data
                top = max((_f_zigzag(r) for r in seg), default=0)
                p = min(14, max(0, top.bit_length() - 2))
            bw.bits(p, 4)
            for _ in range(count):
                u = _f_zigzag(residuals[idx])
                bw.unary(u >> p)
                bw.bits(u & ((1 << p) - 1), p)
                idx += 1


def _f_subframe(bw, samples, bps, kind, wasted=0):
    bw.bits(0, 1)
    if wasted:
        samples = [s >> wasted for s in samples]
        bps -= wasted
    n = len(samples)
    # a (final partial) block shorter than the predictor order cannot
    # use that predictor — real encoders fall back too
    if kind in ("fixed1", "fixed2", "lpc2") and n <= int(kind[-1]):
        kind = "verbatim"
    if kind == "constant":
        bw.bits(0, 6)
    elif kind == "verbatim":
        bw.bits(1, 6)
    elif kind == "fixed0_escape":
        bw.bits(8, 6)  # fixed order 0
    elif kind.startswith("fixed"):
        order = int(kind[-1])
        bw.bits(8 + order, 6)
    else:  # lpc2
        order = 2
        bw.bits(32 + order - 1, 6)
    if wasted:
        bw.bits(1, 1)
        bw.unary(wasted - 1)
    else:
        bw.bits(0, 1)
    if kind == "constant":
        assert all(s == samples[0] for s in samples)
        bw.signed(samples[0], bps)
        return
    if kind == "verbatim":
        for s in samples:
            bw.signed(s, bps)
        return
    if kind == "fixed1":
        for s in samples[:1]:
            bw.signed(s, bps)
        res = [samples[i] - samples[i - 1] for i in range(1, n)]
        _f_rice(bw, res, 1, n)
    elif kind == "fixed2":
        for s in samples[:2]:
            bw.signed(s, bps)
        res = [samples[i] - 2 * samples[i - 1] + samples[i - 2]
               for i in range(2, n)]
        # two partitions only when the block size divides evenly
        _f_rice(bw, res, 2, n, part_order=1 if n % 2 == 0 else 0)
    elif kind == "fixed0_escape":
        _f_rice(bw, samples, 0, n, param=0, part_order=0,
                escape_nbits=bps)
    else:  # lpc2: coefficients (2, -1) at shift 1 -> pred = s[i-1]
        for s in samples[:2]:
            bw.signed(s, bps)
        bw.bits(4, 4)  # precision-1 -> 5 bits
        bw.signed(1, 5)  # shift 1
        bw.signed(2, 5)  # c0 (applies to s[i-1])
        bw.signed(0, 5)  # c1
        res = [samples[i] - ((2 * samples[i - 1]) >> 1)
               for i in range(2, n)]
        _f_rice(bw, res, 2, n)


def _encode_flac(sr, chans, bps=16, blocksize=64, kind="verbatim",
                 stereo=None, wasted=0, total_override=None):
    """chans: per-channel int sample lists. stereo: None | 'left_side'
    | 'right_side' | 'mid_side' (2-channel only)."""
    import struct as st

    n_total = len(chans[0])
    out = bytearray(b"fLaC")
    info = _FlacWriter()
    info.bits(blocksize, 16)
    info.bits(blocksize, 16)
    info.bits(0, 24)
    info.bits(0, 24)
    info.bits(sr, 20)
    info.bits(len(chans) - 1, 3)
    info.bits(bps - 1, 5)
    info.bits(n_total if total_override is None else total_override, 36)
    body = info.data() + bytes(16)  # zero MD5
    out += bytes((0x80,)) + st.pack(">I", len(body))[1:] + body
    frame_no = 0
    for start in range(0, n_total, blocksize):
        bsz = min(blocksize, n_total - start)
        hdr = _FlacWriter()
        hdr.bits(0x3FFE, 14)
        hdr.bits(0, 1)
        hdr.bits(0, 1)  # fixed blocking
        hdr.bits(7, 4)  # 16-bit blocksize-1 follows
        hdr.bits(0, 4)  # sample rate from STREAMINFO
        if stereo is None:
            hdr.bits(len(chans) - 1, 4)
        else:
            hdr.bits({"left_side": 8, "right_side": 9,
                      "mid_side": 10}[stereo], 4)
        hdr.bits(0, 3)  # sample size from STREAMINFO
        hdr.bits(0, 1)
        assert frame_no < 128
        hdr.bits(frame_no, 8)  # coded number, single byte
        hdr.bits(bsz - 1, 16)
        hbytes = hdr.data()
        bw = _FlacWriter()
        for b in hbytes:
            bw.bits(b, 8)
        bw.bits(_f_crc8(hbytes), 8)
        segs = [c[start:start + bsz] for c in chans]
        if stereo is None:
            for seg in segs:
                _f_subframe(bw, seg, bps, kind, wasted=wasted)
        else:
            left, right = segs
            side = [l - r for l, r in zip(left, right)]
            if stereo == "left_side":
                _f_subframe(bw, left, bps, kind)
                _f_subframe(bw, side, bps + 1, kind)
            elif stereo == "right_side":
                _f_subframe(bw, side, bps + 1, kind)
                _f_subframe(bw, right, bps, kind)
            else:
                mid = [(l + r) >> 1 for l, r in zip(left, right)]
                _f_subframe(bw, mid, bps, kind)
                _f_subframe(bw, side, bps + 1, kind)
        bw.align()
        bw.bits(0, 16)  # footer CRC-16 (decoder does not validate)
        out += bw.data()
        frame_no += 1
    return bytes(out)


def _f_ints(arr, bps):
    import numpy as np

    return np.rint(arr * float(1 << (bps - 1))).astype(int)


def test_flac_constant_and_verbatim():
    import numpy as np

    from kgap_spark.functions.flac import decode_flac

    const = [-123] * 96
    sr, ch, arr = decode_flac(_encode_flac(8000, [const], kind="constant"))
    assert (sr, ch) == (8000, 1)
    assert np.array_equal(_f_ints(arr[:, 0], 16), const)
    samples = [((i * 37) % 1024) - 512 for i in range(200)]
    sr, ch, arr = decode_flac(_encode_flac(44100, [samples],
                                           kind="verbatim"))
    assert np.array_equal(_f_ints(arr[:, 0], 16), samples)


def test_flac_fixed_and_lpc_predictors():
    import numpy as np

    from kgap_spark.functions.flac import decode_flac

    samples = [int(100 * (i % 17)) - 800 + (i // 3) for i in range(256)]
    for kind in ("fixed1", "fixed2", "lpc2"):
        sr, ch, arr = decode_flac(
            _encode_flac(16000, [samples], kind=kind, blocksize=64))
        assert np.array_equal(_f_ints(arr[:, 0], 16), samples), kind


def test_flac_escape_partition_and_wasted_bits():
    import numpy as np

    from kgap_spark.functions.flac import decode_flac

    samples = [((i * 13) % 200) - 100 for i in range(128)]
    sr, ch, arr = decode_flac(
        _encode_flac(8000, [samples], kind="fixed0_escape"))
    assert np.array_equal(_f_ints(arr[:, 0], 16), samples)
    shifted = [s * 4 for s in samples]  # 2 wasted bits
    sr, ch, arr = decode_flac(
        _encode_flac(8000, [shifted], kind="verbatim", wasted=2))
    assert np.array_equal(_f_ints(arr[:, 0], 16), shifted)


def test_flac_stereo_decorrelation():
    import numpy as np

    from kgap_spark.functions.flac import decode_flac

    left = [((i * 31) % 500) - 250 for i in range(192)]
    right = [((i * 7) % 300) - 150 + (1 if i % 2 else 0)
             for i in range(192)]
    for mode in ("left_side", "right_side", "mid_side"):
        sr, ch, arr = decode_flac(
            _encode_flac(22050, [left, right], stereo=mode, kind="verbatim"))
        assert ch == 2
        assert np.array_equal(_f_ints(arr[:, 0], 16), left), mode
        assert np.array_equal(_f_ints(arr[:, 1], 16), right), mode


def test_flac_multichannel_and_rates():
    import numpy as np

    from kgap_spark.functions.flac import decode_flac

    chans = [[(i * k) % 256 - 128 for i in range(96)] for k in (3, 5, 7)]
    sr, ch, arr = decode_flac(_encode_flac(48000, chans, kind="verbatim"))
    assert (sr, ch) == (48000, 3)
    for k in range(3):
        assert np.array_equal(_f_ints(arr[:, k], 16), chans[k])


def test_flac_malformed():
    import pytest

    from kgap_spark.functions.flac import decode_flac

    good = _encode_flac(8000, [[1, 2, 3, 4] * 16], kind="verbatim")
    with pytest.raises(ValueError):
        decode_flac(b"fLaX" + good[4:])
    with pytest.raises(ValueError):
        decode_flac(good[:40])  # truncated mid-stream
    bad = bytearray(good)
    bad[-10] ^= 0xFF  # corrupt subframe payload tail
    # either CRC/sync failure or truncation — must raise, not garbage
    with pytest.raises(ValueError):
        corrupt_hdr = bytearray(good)
        hdr_at = good.index(b"\xff\xf8")
        corrupt_hdr[hdr_at + 2] ^= 0x40
        decode_flac(bytes(corrupt_hdr))


def test_flac_through_multimodal_features():
    from kgap_spark.functions.multimodal import _decode_audio

    samples = [((i * 37) % 1024) - 512 for i in range(400)]
    feats = _decode_audio(_encode_flac(16000, [samples], kind="fixed1"))
    assert feats is not None and len(feats) == 16
    assert feats[1] == 16000 / 48000.0  # sample-rate slot
    # corrupt FLAC isolates to NULL
    assert _decode_audio(b"fLaC" + b"\x00" * 8) is None


# ---------------------------------------------------------------------------
# WAV ADPCM (IMA 0x11 / Microsoft 0x02): test-side encoders that track
# their own decoder-identical reconstruction — the round-trip asserts
# the decoder reproduces the encoder's state machine EXACTLY


def _wav_wrap(tag, ch, sr, block_align, bits, spb, body):
    import struct as st

    fmt = st.pack("<HHIIHHHH", tag, ch, sr, sr * block_align, block_align,
                  bits, 2, spb)
    chunks = (b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
              + b"data" + st.pack("<I", len(body)) + body)
    return b"RIFF" + st.pack("<I", len(chunks)) + chunks


def _ima_encode(sr, chans):
    import struct as st

    from kgap_spark.functions.audio import _IMA_INDEX, _IMA_STEPS

    ch = len(chans)
    block_align = 4 * ch + 16 * ch  # 4 nibble groups per channel
    spb = 1 + 32
    n = len(chans[0])
    nblocks = (n + spb - 1) // spb
    padded = [list(c) + [c[-1]] * (nblocks * spb - n) for c in chans]
    body = bytearray()
    recon = [[] for _ in range(ch)]
    idxs = [0] * ch
    for b in range(nblocks):
        seg = [c[b * spb:(b + 1) * spb] for c in padded]
        nibs = [[] for _ in range(ch)]
        for c in range(ch):
            pred = seg[c][0]
            body += st.pack("<hBB", pred, idxs[c], 0)
            recon[c].append(pred)
            index = idxs[c]
            for x in seg[c][1:]:
                step = _IMA_STEPS[index]
                d = x - pred
                nib = 0
                if d < 0:
                    nib = 8
                    d = -d
                if d >= step:
                    nib |= 4
                    d -= step
                if d >= step >> 1:
                    nib |= 2
                    d -= step >> 1
                if d >= step >> 2:
                    nib |= 1
                diff = step >> 3
                if nib & 1:
                    diff += step >> 2
                if nib & 2:
                    diff += step >> 1
                if nib & 4:
                    diff += step
                pred += -diff if nib & 8 else diff
                pred = max(-32768, min(32767, pred))
                index = max(0, min(88, index + _IMA_INDEX[nib & 7]))
                nibs[c].append(nib)
                recon[c].append(pred)
            idxs[c] = index
        for g in range(4):
            for c in range(ch):
                for k in range(4):
                    body.append(nibs[c][g * 8 + 2 * k]
                                | (nibs[c][g * 8 + 2 * k + 1] << 4))
    return _wav_wrap(0x11, ch, sr, block_align, 4, spb, bytes(body)), recon


def _ms_encode(sr, chans, pidx=0):
    import struct as st

    from kgap_spark.functions.audio import _MS_ADAPT, _MS_COEFS

    c1, c2 = _MS_COEFS[pidx]
    ch = len(chans)
    datab = 32 * ch
    spb = 2 + (2 * datab) // ch
    block_align = 7 * ch + datab
    n = len(chans[0])
    nblocks = (n + spb - 1) // spb
    padded = [list(c) + [c[-1]] * (nblocks * spb - n) for c in chans]
    body = bytearray()
    recon = [[] for _ in range(ch)]
    for b in range(nblocks):
        seg = [c[b * spb:(b + 1) * spb] for c in padded]
        deltas = [32] * ch
        s2 = [seg[c][0] for c in range(ch)]
        s1 = [seg[c][1] for c in range(ch)]
        for c in range(ch):
            body.append(pidx)
        for vals in (deltas, s1, s2):
            for c in range(ch):
                body += st.pack("<h", vals[c])
        for c in range(ch):
            recon[c].append(s2[c])
            recon[c].append(s1[c])
        nibbles = []
        pos = [2] * ch
        for which in range((spb - 2) * ch):
            c = which % ch
            x = seg[c][pos[c]]
            pos[c] += 1
            # decoder-identical: C '/ 256' truncates toward zero
            acc = s1[c] * c1 + s2[c] * c2
            pred = acc // 256 if acc >= 0 else -((-acc) // 256)
            s = max(-8, min(7, round((x - pred) / deltas[c])))
            nib = s & 0xF
            new = max(-32768, min(32767, pred + deltas[c] * s))
            s2[c], s1[c] = s1[c], new
            deltas[c] = max(16, (_MS_ADAPT[nib] * deltas[c]) >> 8)
            recon[c].append(new)
            nibbles.append(nib)
        for k in range(0, len(nibbles), 2):
            body.append((nibbles[k] << 4) | nibbles[k + 1])
    return _wav_wrap(0x02, ch, sr, block_align, 4, spb, bytes(body)), recon


def _sig(n, k, amp=3000):
    import math

    return [int(amp * math.sin(i / k)) + (i % 7) * 11 for i in range(n)]


def test_ima_adpcm_roundtrip():
    import numpy as np

    from kgap_spark.functions.audio import decode_wav

    chans = [_sig(200, 9.0)]
    data, recon = _ima_encode(8000, chans)
    sr, ch, arr = decode_wav(data)
    assert (sr, ch) == (8000, 1)
    got = np.rint(arr[:, 0] * 32768.0).astype(int)
    assert np.array_equal(got, recon[0][:len(got)])
    # tracks the source once the adaptive step ramps up (the first
    # samples lag while the step index climbs from 0)
    assert np.max(np.abs(got[50:200] - np.array(chans[0][50:]))) < 150


def test_ima_adpcm_stereo():
    import numpy as np

    from kgap_spark.functions.audio import decode_wav

    chans = [_sig(150, 7.0), _sig(150, 13.0, amp=1500)]
    data, recon = _ima_encode(22050, chans)
    sr, ch, arr = decode_wav(data)
    assert (sr, ch) == (22050, 2)
    for c in range(2):
        got = np.rint(arr[:, c] * 32768.0).astype(int)
        assert np.array_equal(got, recon[c][:len(got)])


def test_ms_adpcm_roundtrip():
    import numpy as np

    from kgap_spark.functions.audio import decode_wav

    # pidx 0 = (256, 0): products are multiples of 256 (floor == trunc);
    # pidx 3 = (192, 64): negative zero-crossing sums exercise the
    # C-style truncation-toward-zero prediction divide
    for chans, sr, pidx in (
            ([_sig(180, 11.0)], 16000, 0),
            ([_sig(140, 5.0), _sig(140, 17.0, amp=800)], 44100, 0),
            ([_sig(200, 9.0, amp=-2500)], 22050, 3),
            ([_sig(150, 6.0), _sig(150, 13.0, amp=-900)], 8000, 3)):
        data, recon = _ms_encode(sr, chans, pidx=pidx)
        got_sr, ch, arr = decode_wav(data)
        assert (got_sr, ch) == (sr, len(chans))
        for c in range(ch):
            got = np.rint(arr[:, c] * 32768.0).astype(int)
            assert np.array_equal(got, recon[c][:len(got)])


def test_adpcm_malformed():
    import struct as st

    import pytest

    from kgap_spark.functions.audio import decode_wav

    data, _ = _ima_encode(8000, [_sig(50, 9.0)])
    # corrupt the first block's step index to 200 (> 88)
    arr = bytearray(data)
    at = arr.index(b"data") + 8
    arr[at + 2] = 200
    with pytest.raises(ValueError, match="step index"):
        decode_wav(bytes(arr))
    # MS predictor index out of range
    data2, _ = _ms_encode(8000, [_sig(80, 9.0)])
    arr2 = bytearray(data2)
    at2 = arr2.index(b"data") + 8
    arr2[at2] = 9
    with pytest.raises(ValueError, match="predictor index"):
        decode_wav(bytes(arr2))


def test_adpcm_through_multimodal():
    from kgap_spark.functions.multimodal import _decode_audio

    data, _ = _ima_encode(16000, [_sig(300, 8.0)])
    feats = _decode_audio(data)
    assert feats is not None and len(feats) == 16
    assert feats[1] == 16000 / 48000.0
