"""Full-text search: materialized posting table + scored search.

k-gap enables GraphDB's Lucene FTS (reference:
``graphdb/kgap/template-repo-config.ttl:29-32``) and queries it as
``?entity luc:searchIndex "marine"; luc:score ?score``
(``docs/quick-reference.md:215-222``). Spark has no inverted index, so
the pipeline materializes one (SURVEY §4): a ``(token, subj, tf)``
posting table built once per corpus; a search is then a broadcast-join
of query tokens against the posting table with a term-frequency score —
a pruned scan + partial agg at any scale, never a full-corpus regex.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_RE = r"[^a-z0-9]+"


def tokens_col(text_col: str):
    return F.filter(
        F.split(F.lower(F.col(text_col)), TOKEN_RE), lambda t: t != F.lit("")
    )


def query_tokens(query: str) -> list[str]:
    """Tokenize a query with the SAME rule as the index build — a
    whitespace split would leave punctuation attached ('data-driven')
    and silently match nothing."""
    return [t for t in re.split(TOKEN_RE, query.lower()) if t]


def build_posting_table(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """corpus → (token, subj, tf). Written partitioned/bucketed by
    ``token`` in production so a search prunes to its tokens' buckets."""
    return (
        docs.select(F.col(id_col).alias("subj"), tokens_col(text_col).alias("_t"))
        .select("subj", F.explode("_t").alias("token"))
        .groupBy("token", "subj")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


N_TOKEN_BUCKETS = 64


def bucket_of(token_col):
    """Stable token → bucket id (content hash, reproducible anywhere)."""
    return F.pmod(F.xxhash64(token_col), F.lit(N_TOKEN_BUCKETS))


# --- driver-side twin of bucket_of ---------------------------------------
# xxHash64 (public spec, Yann Collet) over UTF-8 bytes with Spark's
# seed 42 — so a search computes its query tokens' bucket ids in pure
# Python instead of running a 2-row Spark job per query (r07: that job
# was ~0.2 s of every indexed search). Equality with F.xxhash64 is
# pytest-asserted over an adversarial token set.

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _xxh64(data: bytes, seed: int = 42) -> int:
    """xxHash64 of ``data`` (unsigned). Matches Spark's XXH64."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            for j, v in enumerate((v1, v2, v3, v4)):
                k = int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little")
                v = (v + k * _P2) & _M
                v = (_rotl(v, 31) * _P1) & _M
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            v = (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = (((h ^ v) * _P1) + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        k = int.from_bytes(data[i:i + 8], "little")
        k = (_rotl((k * _P2) & _M, 31) * _P1) & _M
        h = ((_rotl(h ^ k, 27) * _P1) + _P4) & _M
        i += 8
    if i <= n - 4:
        k = int.from_bytes(data[i:i + 4], "little")
        h = ((_rotl(h ^ ((k * _P1) & _M), 23) * _P2) + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def bucket_of_py(token: str) -> int:
    """Driver-side ``bucket_of``: pmod of the SIGNED xxhash64 value,
    exactly as Spark's ``pmod(xxhash64(token), N_TOKEN_BUCKETS)``."""
    u = _xxh64(token.encode("utf-8"))
    signed = u - (1 << 64) if u >= (1 << 63) else u
    return signed % N_TOKEN_BUCKETS  # python % is already non-negative


def write_posting_table(posting: DataFrame, path: str, n_docs: int | None = None) -> None:
    """Materialize the inverted index partitioned by token bucket: a
    search reads only its query tokens' buckets (partition pruning) —
    the Lucene-index analog. Build once per corpus, query many times;
    ~1/64 of the index read per single-token query.

    ``n_docs`` (corpus size, for IDF) is persisted in a ``_doc_count``
    sidecar — parquet readers ignore underscore files — so a tf-idf
    search never rescans the whole index to learn N."""
    (
        posting.withColumn("_bucket", bucket_of(F.col("token")))
        .repartition("_bucket")
        .write.mode("overwrite")
        .partitionBy("_bucket")
        .parquet(path)
    )
    spark = posting.sparkSession
    if n_docs is None:
        # count from the just-written index, not from `posting` — the
        # lazy posting plan re-tokenizes the whole corpus if recomputed
        n_docs = spark.read.parquet(path).select("subj").distinct().count()
    from kgap_spark.io.fs import write_text_file

    write_text_file(spark, path.rstrip("/") + "/_doc_count", str(n_docs))


def append_posting_table(posting: DataFrame, path: str,
                         n_new_docs: int | None = None) -> None:
    """Incremental index maintenance: append NEW documents' postings
    into the existing bucket-partitioned index (no rebuild — the
    Lucene segment-add analog). Token bucketing is content-hashed, so
    new rows land in the same bucket scheme; the `_doc_count` sidecar
    is bumped by ``n_new_docs`` (pass None to derive it as the
    appended postings' distinct subjects NOT already in the index —
    re-appended updated documents must not inflate the corpus size;
    the derivation anti-joins against one index scan, so callers that
    know the count should pass it).
    Searches need no change — a token's postings just span more files
    until the next compaction (`posting.repartition` keeps the
    per-append file count at one per touched bucket).

    The sidecar is validated BEFORE the data write: appending first
    and then discovering a missing `_doc_count` would leave the index
    and its corpus size permanently inconsistent (silently inverted
    tf-idf rankings)."""
    spark = posting.sparkSession
    current = read_doc_count(spark, path)
    if current is None:
        # treating an unknown N as 0 would write a tiny corpus size
        # and silently invert tf-idf rankings
        raise ValueError(
            f"{path} has no _doc_count sidecar; rebuild with "
            "write_posting_table before appending"
        )
    if n_new_docs is None:
        existing = spark.read.parquet(path).select("subj").distinct()
        n_new_docs = (
            posting.select("subj").distinct()
            .join(existing, "subj", "left_anti").count()
        )
    (
        posting.withColumn("_bucket", bucket_of(F.col("token")))
        .repartition("_bucket")
        .write.mode("append")
        .partitionBy("_bucket")
        .parquet(path)
    )
    from kgap_spark.io.fs import write_text_file

    write_text_file(
        spark, path.rstrip("/") + "/_doc_count",
        str(current + n_new_docs),
    )


def read_doc_count(spark, path: str) -> int | None:
    """The ``_doc_count`` sidecar written by ``write_posting_table``,
    or None for pre-sidecar indexes."""
    from kgap_spark.io.fs import read_text_file

    try:
        txt = read_text_file(spark, path.rstrip("/") + "/_doc_count")
        return int(txt.strip())
    except Exception:
        return None


def _scored(hits: DataFrame, n_docs: int | None, scoring: str, k: int) -> DataFrame:
    """Shared scoring tail: groupBy subj, TF or TF-IDF score, top-k.
    One definition of the scoring math — `_scored_with_terms` — serves
    both plain and boolean search, so the DuckDB oracles track a
    single formula."""
    return (
        _scored_with_terms(hits, n_docs, scoring)
        .drop("_toks")
        .orderBy(F.desc("score"), F.desc("n_terms"), "subj")
        .limit(k)
    )


def fts_search_indexed(
    spark, path: str, query: str, k: int = 20, scoring: str = "tf"
) -> DataFrame:
    """Search against the materialized posting table: bucket ids are
    computed driver-side from the query tokens, so the scan prunes to
    those partitions AND pushes the token equality filter."""
    q = query_tokens(query)
    # bucket ids computed driver-side (pure-python xxh64 twin of
    # bucket_of) — no per-search Spark job for a handful of tokens
    bucket_ids = sorted({bucket_of_py(t) for t in q})
    # list ONLY the probed bucket directories (r07): discovering all
    # N_TOKEN_BUCKETS partitions just to prune them again cost ~0.3 s
    # per search locally and a full directory listing at scale;
    # basePath keeps the `_bucket` partition column in the schema.
    # Buckets with no postings yet have no directory — skip them (on
    # any filesystem scheme, via the Hadoop FileSystem API).
    from kgap_spark.io import fs

    dirs = [
        d for d in (fs.join(path, f"_bucket={b}") for b in bucket_ids)
        if fs.exists(spark, d)
    ]
    if not dirs:
        posting = spark.read.parquet(path)
    else:
        posting = spark.read.option("basePath", path).parquet(*dirs)
    hits = posting.filter(
        F.col("_bucket").isin(bucket_ids) & F.col("token").isin(q)
    )
    n_docs = read_doc_count(spark, path) if scoring == "tfidf" else None
    return _scored(hits, n_docs, scoring, k)


def parse_boolean_query(query: str) -> dict:
    """Lucene-style boolean query subset (the syntax GraphDB's
    ``luc:searchIndex`` accepts, minus phrases/fields):

    - ``a b``        → *should*: match any, all contribute to score
    - ``a AND b``    → *must*: every term required
    - ``a OR b``     → explicit should (the default operator)
    - ``+a``         → must, ``-a`` / ``NOT a`` → must_not
    - mixed ``+a b -c`` → a required, b optional scorer, c excluded

    Returns ``{"should": [...], "must": [...], "must_not": [...]}`` of
    index-normalized tokens. ``AND`` binds pairwise like Lucene's
    default-OR parser: every term adjacent to an AND becomes must."""
    raw = [t for t in query.split() if t]
    should, must, must_not = [], [], []
    # (target_list, n_tokens) of the previous positive WORD, so AND
    # promotes that whole word (all its normalized tokens), and only
    # when it actually landed in should — `a +b AND c` must not
    # reach back past b and promote a
    last: tuple[list, int] | None = None
    and_next = False
    i = 0
    while i < len(raw):
        w = raw[i]
        up = w.upper()
        if up == "AND":
            if last is not None and last[0] is should and last[1]:
                moved = should[-last[1]:]
                del should[-last[1]:]
                must.extend(moved)
                last = (must, len(moved))
            and_next = True
            i += 1
            continue
        if up == "OR":
            and_next = False
            i += 1
            continue
        if up == "NOT":
            i += 1
            if i >= len(raw):
                raise ValueError(
                    "boolean FTS query: trailing NOT with no operand"
                )
            toks = query_tokens(raw[i])
            if not toks:
                raise ValueError(
                    f"boolean FTS query: NOT operand {raw[i]!r} "
                    "normalizes to no tokens — the exclusion would "
                    "silently vanish"
                )
            must_not.extend(toks)
            i += 1
            last = None
            continue
        target = should
        if w.startswith("+"):
            target = must
        elif w.startswith("-"):
            target = must_not
        elif and_next:
            target = must
        and_next = False
        toks = query_tokens(w)
        if not toks and target is not should:
            # a required/excluded operand must never degrade to a
            # weaker query with no signal to the caller; bare should
            # words may normalize away (Lucene-style leniency)
            raise ValueError(
                f"boolean FTS query: operand {w!r} normalizes to no "
                "tokens — the requirement would silently vanish"
            )
        target.extend(toks)
        last = (target, len(toks)) if target is not must_not else None
        i += 1
    return {"should": should, "must": must, "must_not": must_not}


def fts_search_boolean(
    posting: DataFrame,
    query: str,
    k: int = 20,
    scoring: str = "tf",
    n_docs: int | None = None,
) -> DataFrame:
    """Boolean full-text search over the posting table. Matching:
    every *must* token present; at least one *should* token present
    when no must terms exist; no *must_not* token present. Score =
    the usual Σ tf(·idf) over the matched should+must postings.

    Plan shape at scale: one token-pruned posting scan for the
    positive terms (bucket/partition pruning applies unchanged), the
    per-doc term-set check as ``collect_set`` inside the existing
    score agg (no extra shuffle), and the exclusion set as one
    broadcast-able anti join on the (tiny) must_not posting slice —
    never a full-corpus pass.

    Contract: ``posting`` holds at most one row per (subj, token), as
    ``build_posting_table`` writes it. Scoring counts rows, not
    distinct tokens, so a duplicated (subj, token) row adds its tf
    twice, adds one to ``n_terms`` and (tfidf) to the token's df."""
    q = parse_boolean_query(query)
    pos_tokens = q["should"] + q["must"]
    if not pos_tokens:
        raise ValueError("boolean FTS query needs at least one "
                         "positive term")
    hits = posting.filter(F.col("token").isin(pos_tokens))
    if scoring == "tfidf" and n_docs is None:
        n_docs = posting.select("subj").distinct().count()
    scored = _scored_with_terms(hits, n_docs, scoring)
    for t in q["must"]:
        scored = scored.filter(F.array_contains(F.col("_toks"), t))
    scored = scored.drop("_toks")
    if q["must_not"]:
        excl = posting.filter(
            F.col("token").isin(q["must_not"])
        ).select("subj").distinct()
        scored = scored.join(F.broadcast(excl), "subj", "left_anti")
    return scored.orderBy(
        F.desc("score"), F.desc("n_terms"), "subj"
    ).limit(k)


def _scored_with_terms(hits: DataFrame, n_docs: int | None,
                       scoring: str) -> DataFrame:
    """The scoring aggregation, unlimited/unsorted, keeping the
    per-doc matched-token set (``_toks``) for must-term filtering.

    tfidf: score = Σ_t tf(t,d) · ln((N+1)/(df(t)+1)) — df computed
    from the (already token-pruned) posting rows themselves, so a
    corpus-wide token (df=N) contributes ~0 and can no longer drown
    rarer terms; the smoothed +1 form keeps it SQL-expressible for
    the DuckDB oracle. ``n_terms`` = distinct matched tokens,
    tie-break."""
    # r07: (subj, token) is UNIQUE in a posting table (build_posting_
    # table groups by exactly that key), so countDistinct == count —
    # plain count avoids the two-phase distinct-aggregate Expand plan
    # (which doubles the aggregation input); collect_set likewise
    # becomes collect_list (the set dedup re-checked what the posting
    # key already guarantees).
    if scoring == "tf":
        return hits.groupBy("subj").agg(
            F.sum("tf").cast("long").alias("score"),
            F.count("token").alias("n_terms"),
            F.collect_list("token").alias("_toks"),
        )
    if scoring != "tfidf":
        raise ValueError(f"scoring must be 'tf' or 'tfidf', got {scoring!r}")
    if n_docs is None:
        raise ValueError("tfidf scoring needs n_docs (corpus size)")
    df_by_token = hits.groupBy("token").agg(
        F.count("subj").alias("df")
    )
    idf = F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0))
    return (
        hits.join(F.broadcast(df_by_token), "token")
        .withColumn("_w", F.col("tf") * idf)
        .groupBy("subj")
        .agg(
            F.round(F.sum("_w"), 6).alias("score"),
            F.count("token").alias("n_terms"),
            F.collect_list("token").alias("_toks"),
        )
    )


def fts_search(
    posting: DataFrame,
    query: str,
    k: int = 20,
    scoring: str = "tf",
    n_docs: int | None = None,
) -> DataFrame:
    """Multi-token OR search over an in-memory posting table.
    ``scoring='tf'`` (score = Σ tf, the luc:score analog — deterministic
    and oracle-checkable) or ``'tfidf'`` (df-weighted; pass ``n_docs``
    or the corpus is rescanned once to count it).

    Contract: ``posting`` holds at most one row per (subj, token), as
    ``build_posting_table`` writes it. Scoring counts rows, not
    distinct tokens, so a duplicated (subj, token) row adds its tf
    twice, adds one to ``n_terms`` and (tfidf) to the token's df."""
    q = query_tokens(query)
    hits = posting.filter(F.col("token").isin(q))
    if scoring == "tfidf" and n_docs is None:
        n_docs = posting.select("subj").distinct().count()
    return _scored(hits, n_docs, scoring, k)
