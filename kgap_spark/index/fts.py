"""Full-text search: materialized posting table + one query evaluator.

k-gap enables GraphDB's Lucene FTS (reference:
``graphdb/kgap/template-repo-config.ttl:29-32``) and queries it as
``?entity luc:searchIndex "marine"; luc:score ?score``
(``docs/quick-reference.md:215-222``). Spark has no inverted index, so
the pipeline materializes one (SURVEY §4): a ``(token, subj, tf)``
posting table built once per corpus; a search is then a broadcast-join
of query tokens against the posting table with a term-frequency score —
a pruned scan + partial agg at any scale, never a full-corpus regex.

A query text is evaluated in one place, ``fts_matches``: it is parsed
as the Lucene subset (``parse_boolean_query``: uppercase ``AND`` /
``OR`` / ``NOT`` and a leading ``+`` / ``-`` are operators), scored,
and filtered by its required and excluded terms. ``fts_search`` adds
the top-k, SPARQL's ``luc:searchIndex`` uses the unsorted matches, and
``fts_search_indexed`` reads the buckets of every token the query names
from a materialized index and runs ``fts_search`` over that slice.

The materialized index is partitioned by ``_crc_bucket`` =
``crc32(token) % 64``; ``zlib.crc32`` computes the same bucket on the
driver, so a search lists only its buckets without a Spark job. The
corpus size for tf-idf is kept in a ``_doc_count`` sidecar file.
"""

from __future__ import annotations

import re
import zlib

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
# named after the hash: an index partitioned by another bucket function
# has no such column, so searching it fails instead of under-returning
BUCKET_COL = "_crc_bucket"


def bucket_of(token_col):
    """Stable token → bucket id: crc32 of the UTF-8 bytes, mod 64."""
    return F.pmod(F.crc32(token_col), F.lit(N_TOKEN_BUCKETS))


def bucket_of_py(token: str) -> int:
    """Driver-side ``bucket_of`` (Spark's ``crc32`` is zlib's)."""
    return zlib.crc32(token.encode("utf-8")) % N_TOKEN_BUCKETS


def write_posting_table(posting: DataFrame, path: str, n_docs: int | None = None) -> None:
    """Materialize the inverted index partitioned by token bucket: a
    search reads only its query tokens' buckets (partition pruning) —
    the Lucene-index analog. Build once per corpus, query many times;
    ~1/64 of the index read per single-token query.

    ``n_docs`` (corpus size, for IDF) is persisted in a ``_doc_count``
    sidecar — parquet readers ignore underscore files — so a tf-idf
    search never rescans the whole index to learn N."""
    (
        posting.withColumn(BUCKET_COL, bucket_of(F.col("token")))
        .repartition(BUCKET_COL)
        .write.mode("overwrite")
        .partitionBy(BUCKET_COL)
        .parquet(path)
    )
    spark = posting.sparkSession
    if n_docs is None:
        # count from the just-written index, not from `posting` — the
        # lazy posting plan re-tokenizes the whole corpus if recomputed
        n_docs = spark.read.parquet(path).select("subj").distinct().count()
    from kgap_spark.io.fs import write_text_file

    write_text_file(spark, path.rstrip("/") + "/_doc_count", str(n_docs))


def read_doc_count(spark, path: str) -> int | None:
    """The ``_doc_count`` sidecar written by ``write_posting_table``,
    or None for pre-sidecar indexes."""
    from kgap_spark.io.fs import read_text_file

    try:
        txt = read_text_file(spark, path.rstrip("/") + "/_doc_count")
        return int(txt.strip())
    except Exception:
        return None


def fts_search_indexed(
    spark, path: str, query: str, k: int = 20, scoring: str = "tf"
) -> DataFrame:
    """``fts_search`` over the materialized index, reading only the
    buckets of the tokens the query names — its exclusions included,
    so a ``-term`` is checked against that term's postings. tf-idf
    takes N from the ``_doc_count`` sidecar (never from the pruned
    slice) and raises without one."""
    q = parse_boolean_query(query)
    bucket_ids = sorted({bucket_of_py(t) for toks in q.values() for t in toks})
    # list ONLY the probed bucket directories (r07): discovering all
    # N_TOKEN_BUCKETS partitions just to prune them again cost ~0.3 s
    # per search locally and a full directory listing at scale;
    # basePath keeps the bucket partition column in the schema.
    # Buckets with no postings yet have no directory — skip them (on
    # any filesystem scheme, via the Hadoop FileSystem API).
    from kgap_spark.io import fs

    dirs = [
        d for d in (fs.join(path, f"{BUCKET_COL}={b}") for b in bucket_ids)
        if fs.exists(spark, d)
    ]
    if not dirs:
        posting = spark.read.parquet(path)
    else:
        posting = spark.read.option("basePath", path).parquet(*dirs)
    n_docs = None
    if scoring == "tfidf":
        n_docs = read_doc_count(spark, path)
        if n_docs is None:
            raise ValueError(f"{path} has no _doc_count sidecar: tfidf "
                             "scoring needs n_docs (corpus size)")
    return fts_search(posting.filter(F.col(BUCKET_COL).isin(bucket_ids)),
                      query, k, scoring, n_docs)


def parse_boolean_query(query: str) -> dict:
    """Lucene-style boolean query subset (the syntax GraphDB's
    ``luc:searchIndex`` accepts, minus phrases/fields):

    - ``a b``        → *should*: match any, all contribute to score
    - ``a AND b``    → *must*: every term required
    - ``a OR b``     → explicit should (the default operator)
    - ``+a``         → must, ``-a`` / ``NOT a`` → must_not
    - mixed ``+a b -c`` → a required, b optional scorer, c excluded

    Operators are case-sensitive, as in Lucene: ``and`` / ``or`` /
    ``not`` are plain terms.

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
        if w == "AND":
            if last is not None and last[0] is should and last[1]:
                moved = should[-last[1]:]
                del should[-last[1]:]
                must.extend(moved)
                last = (must, len(moved))
            and_next = True
            i += 1
            continue
        if w == "OR":
            and_next = False
            i += 1
            continue
        if w == "NOT":
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


def fts_matches(
    posting: DataFrame,
    query: str,
    scoring: str = "tf",
    n_docs: int | None = None,
) -> DataFrame:
    """Every document matching ``query``, as unsorted
    ``(subj, score, n_terms)``. The one evaluator of a query text.

    Matching: every *must* token present; at least one *should* token
    present when no must terms exist; no *must_not* token present. A
    query with no positive term raises ``ValueError``. Score = Σ tf
    (``scoring='tf'``, the luc:score analog — deterministic and
    oracle-checkable) or Σ tf·idf (``'tfidf'``; pass ``n_docs`` or the
    posting table is scanned once to count it) over the matched
    should + must postings.

    Plan shape at scale: one token-pruned posting scan for the
    positive terms, the per-doc term check as ``collect_list`` inside
    the score agg (no extra shuffle), and the exclusion set as one
    broadcast anti join on the (tiny) must_not posting slice — never
    a full-corpus pass.

    Contract: ``posting`` holds at most one row per (subj, token), as
    ``build_posting_table`` writes it. Scoring counts rows, not
    distinct tokens, so a duplicated (subj, token) row adds its tf
    twice, adds one to ``n_terms`` and (tfidf) to the token's df."""
    q = parse_boolean_query(query)
    pos_tokens = q["should"] + q["must"]
    if not pos_tokens:
        raise ValueError("FTS query needs at least one positive term: "
                         f"{query!r}")
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
    return scored


def fts_search(
    posting: DataFrame,
    query: str,
    k: int = 20,
    scoring: str = "tf",
    n_docs: int | None = None,
) -> DataFrame:
    """Top-k of ``fts_matches``, ordered by score, then matched terms,
    then subject."""
    return fts_matches(posting, query, scoring, n_docs).orderBy(
        F.desc("score"), F.desc("n_terms"), "subj"
    ).limit(k)
