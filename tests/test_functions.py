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
    """Partially-propagated labels are wrong canonicalization — a run
    out of rounds must raise, not return a split component."""
    from kgap_spark.canonicalize.connected_components import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(30)], "src string, dst string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3)


def test_length_quantile_labels():
    """p-labels round instead of truncating (0.29*100 is 28.999… in
    binary floating point)."""
    from kgap_spark.functions.selection import length_quantiles  # noqa: F401

    assert f"p{round(0.29 * 100)}" == "p29"
    assert f"p{int(0.29 * 100)}" == "p28"  # the old bug


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


def test_fts_search_indexed_reads_exclusion_buckets(spark, tmp_path):
    """An excluded term whose bucket no positive term shares is still
    read: the document containing it is dropped, not returned."""
    from kgap_spark.index.fts import (
        bucket_of_py,
        build_posting_table,
        fts_search_indexed,
        write_posting_table,
    )

    zeta = next(t for t in ["zeta"] + [f"zeta{i}" for i in range(100)]
                if bucket_of_py(t) != bucket_of_py("alpha"))
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, f"alpha {zeta}")], "doc_id long, text string"
    )
    idx = str(tmp_path / "idx")
    write_posting_table(build_posting_table(docs, "doc_id", "text"), idx)
    hits = fts_search_indexed(spark, idx, f"alpha -{zeta}", k=5).collect()
    assert [r.subj for r in hits] == [0]


@pytest.mark.parametrize("scoring", ["tf", "tfidf"])
def test_fts_search_indexed_equals_fts_search(spark, tmp_path, scoring):
    """The bucket-pruned search is the in-memory search over the same
    postings: same rows, scores and order for a should / must /
    must_not mix (tf-idf N from the sidecar on one side, passed on the
    other)."""
    from kgap_spark.index.fts import (
        build_posting_table,
        fts_search,
        fts_search_indexed,
        write_posting_table,
    )

    docs = spark.createDataFrame(
        [(0, "spark joins streams fast"), (1, "spark streams slow"),
         (2, "spark spark fast"), (3, "streams fast fast"),
         (4, "ducks join ponds")],
        "doc_id long, text string",
    )
    posting = build_posting_table(docs, "doc_id", "text")
    idx = str(tmp_path / "idx")
    write_posting_table(posting, idx, n_docs=5)
    query = "+spark streams fast -slow"
    want = fts_search(posting, query, k=10, scoring=scoring, n_docs=5).collect()
    got = fts_search_indexed(spark, idx, query, k=10, scoring=scoring).collect()
    assert len(want) > 1
    assert got == want


def test_cosine_topk_and_lsh_recall(spark, tmp_path):
    from kgap_spark.functions.similarity import (
        build_signature_table, cosine_topk, lsh_topk_from_signature_table,
    )

    import math
    vecs = [
        (i, [math.cos(i / 10.0 + d * 0.3) for d in range(8)]) for i in range(50)
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = vecs[7][1]
    exact = [r.vec_id for r in cosine_topk(emb, q, k=5).collect()]
    assert exact[0] == 7  # the query vector itself ranks first
    table = str(tmp_path / "sig")
    build_signature_table(emb, table, n_planes=4)
    approx = [r.vec_id for r in lsh_topk_from_signature_table(
        spark, table, q, k=5, n_planes=4).collect()]
    # LSH with multiprobe must recover most of the exact top-5
    assert len(set(exact) & set(approx)) >= 3


def test_multimodal_features_deterministic(spark):
    import hashlib

    from kgap_spark.functions.multimodal import extract_features

    # every payload, including one that starts with a PNG, JPEG, AVI or
    # other format's signature, gets the sha256 stub that the
    # multimodal_features oracle computes
    lookalikes = {"m4": ("image", b"GIF89a hello"),
                  "m5": ("image", b"RIFF\x00\x00\x00\x00WEBPVP8L x"),
                  "m7": ("image", b"\x89PNG\r\n\x1a\n\x00\x00garbage"),
                  "m8": ("image", b"\xff\xd8\xff\xe0garbage"),
                  "m9": ("video", b"RIFF????AVI garbage")}
    media = spark.createDataFrame(
        [("m1", "image", "image/png", b"\x89PNG fake", {}),
         ("m2", "audio", "audio/wav", b"RIFF fake", {}),
         ("m3", "image", "image/png", None, {}),
         ("m6", "video", "video/x-msvideo", b"\x89PNG fake", {})]
        + [(k, kind, "application/octet-stream", v, {})
           for k, (kind, v) in lookalikes.items()],
        "media_id string, kind string, mime string, payload binary, "
        "meta map<string,string>",
    )
    feats = extract_features(media)
    # one native projection: no Python worker runs for this query
    plan = feats._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "EvalPython" not in plan
    rows = {r.media_id: r for r in feats.collect()}
    for k, (_, payload) in lookalikes.items():
        assert rows[k].features == [
            b / 255.0 for b in hashlib.sha256(payload).digest()[:16]]
    assert rows["m2"].features == [
        b / 255.0 for b in hashlib.sha256(b"audio:RIFF fake").digest()[:16]]
    assert rows["m3"].features == [
        b / 255.0 for b in hashlib.sha256(b"").digest()[:16]]
    assert rows["m1"].n_bytes == 9 and rows["m3"].n_bytes == 0
    # determinism across repartitioning
    rows2 = {r.media_id: r for r in
             extract_features(media.repartition(3)).collect()}
    assert rows["m1"].features == rows2["m1"].features
    # image and audio stubs differ; video hashes as image does
    assert rows["m1"].features != rows["m2"].features
    assert rows["m6"].features == rows["m1"].features


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


def test_bucket_of_py_matches_spark_crc32(spark):
    """The driver-side bucket function must agree with Spark's
    pmod(crc32(token), N) for every token shape: short/long,
    multi-byte UTF-8, empty."""
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


def test_fts_search_indexed_rejects_old_bucket_layout(spark, tmp_path):
    """An index partitioned by the earlier pmod(xxhash64(token), 64)
    buckets fails loudly instead of reading the wrong buckets."""
    from pyspark.errors import AnalysisException

    from kgap_spark.index.fts import build_posting_table, fts_search_indexed

    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta gamma")], "doc_id long, text string"
    )
    idx = str(tmp_path / "old")
    (build_posting_table(docs, "doc_id", "text")
     .withColumn("_bucket", F.pmod(F.xxhash64("token"), F.lit(64)))
     .write.partitionBy("_bucket").parquet(idx))
    (tmp_path / "old" / "_doc_count").write_text("2")
    with pytest.raises(AnalysisException, match="_crc_bucket"):
        fts_search_indexed(spark, idx, "beta", k=5).collect()


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
    # operators are case-sensitive, as in Lucene
    assert parse_boolean_query("salt and pepper not") == {
        "should": ["salt", "and", "pepper", "not"], "must": [],
        "must_not": []}


def test_fts_boolean_search(spark, docs):
    from kgap_spark.index.fts import build_posting_table, fts_search

    posting = build_posting_table(docs, "doc_id", "text")
    # must: docs 0,1,2 contain fox; dog optional scorer (0 and 2)
    hits = {r.subj: (r.score, r.n_terms)
            for r in fts_search(posting, "fox AND dog").collect()}
    assert set(hits) == {0, 2}
    assert hits[0] == (2, 2)
    # exclusion: fox docs without cat
    hits2 = {r.subj for r in
             fts_search(posting, "fox -cat").collect()}
    assert hits2 == {0, 2}
    # plain should with an exclusion keeps single-term matches
    hits3 = {r.subj for r in
             fts_search(posting, "fox katze -cat").collect()}
    assert hits3 == {0, 2, 4}
    # must term absent everywhere -> empty
    assert fts_search(posting, "+zzz fox").count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive term"):
        fts_search(posting, "-only -negatives")


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
