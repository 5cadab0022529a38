"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (one scan, no shuffle
until the top-k, which TakeOrderedAndProject handles); the LSH
signature table (``build_signature_table`` +
``lsh_topk_from_signature_table``) is the scale path —
sign-random-projection buckets shrink the candidate set so each query
touches a few buckets instead of the corpus.

All arithmetic is native Catalyst (``zip_with`` + ``aggregate`` in
double precision, sequential index order) so results are deterministic
and reproducible by the DuckDB oracle's ``list_dot_product``.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgap_spark.session import local_frame


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0),
                    lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def _cosine(dot, norm_prod, dp: int):
    """Cosine with a zero-norm guard: ANSI mode turns x/0 into a
    job-killing DIVIDE_BY_ZERO, and an all-zeros embedding (padding /
    missing vector) is a legal input. try_divide yields NULL — zero
    vectors sort last in top-k and never pass a ≥-threshold filter."""
    return F.round(F.try_divide(dot, norm_prod), dp)


def _dim_of(embeddings: DataFrame, vec_col: str) -> int | None:
    """Vector dimensionality from the first row; None for an empty
    frame (callers short-circuit instead of crashing on None[...])."""
    row = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
    return None if row is None else row["d"]


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k. Returns (id, cosine) with a total
    deterministic order (cosine desc, id asc). Rounded to 5 dp so the
    value is stable across double-summation environments (6 dp sits on
    rounding knife edges between engines' last-ulp differences)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    emb = F.col(vec_col)
    cos = _cosine(_dot(emb, q), _norm(emb) * F.lit(qn), 5)
    return (
        embeddings.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col).asc())
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes from SHA-256 (no
    RNG state; same planes on every executor and every run)."""
    planes = []
    for p in range(n_planes):
        vals = []
        for i in range(dim):
            h = hashlib.sha256(f"{seed}:{p}:{i}".encode()).digest()
            u = int.from_bytes(h[:8], "big") / 2**64  # [0,1)
            vals.append(2.0 * u - 1.0)
        planes.append(vals)
    return planes


def signature_col(vec_col, planes: list[list[float]]):
    """Sign-random-projection bucket id of a vector column."""
    sig = F.lit(0).cast("int")
    for b, plane in enumerate(planes):
        d = _dot(vec_col, F.array(*[F.lit(v) for v in plane]))
        sig = sig + F.when(d >= 0, F.lit(2 ** b)).otherwise(F.lit(0))
    return sig


def query_signature(query_vec: list[float], n_planes: int = 6,
                    seed: int = 42) -> int:
    """Driver-side signature of a query vector (same planes as
    ``signature_col`` — pure function of (dim, n_planes, seed))."""
    planes = _hyperplanes(len(query_vec), n_planes, seed)
    s = 0
    for b, plane in enumerate(planes):
        if sum(float(x) * y for x, y in zip(query_vec, plane)) >= 0:
            s += 2 ** b
    return s


def probe_signatures(qsig: int, n_planes: int,
                     multiprobe_hamming: int = 1) -> list[int]:
    """Bucket ids within ``multiprobe_hamming`` bits of the query's."""
    probe = [qsig]
    if multiprobe_hamming >= 1:
        probe += [qsig ^ (1 << b) for b in range(n_planes)]
    if multiprobe_hamming >= 2:
        probe += [
            qsig ^ (1 << a) ^ (1 << b)
            for a in range(n_planes)
            for b in range(a + 1, n_planes)
        ]
    return probe


def build_signature_table(
    embeddings: DataFrame,
    out_path: str,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Materialize the ANN index: the embeddings table with its
    sign-random-projection bucket id, written **partitioned by `_sig`**.

    This is the scale path (IVF-style): the signature is computed ONCE
    at build time, and every query after that reads only the probed
    bucket directories — Spark's partition pruning turns the
    `_sig IN (...)` filter into a directory listing, so a query touches
    ~(1+n_planes)/2^n_planes of the corpus instead of scanning it.
    Mirrors the posting-table pattern of ``index/fts.py``."""
    dim = _dim_of(embeddings, vec_col)
    if dim is None:  # empty corpus → empty (but valid) table
        (
            embeddings.withColumn("_sig", F.lit(0))
            .write.mode("overwrite").partitionBy("_sig").parquet(out_path)
        )
        return
    planes = _hyperplanes(dim, n_planes, seed)
    (
        embeddings.withColumn("_sig", signature_col(F.col(vec_col), planes))
        .write.mode("overwrite")
        .partitionBy("_sig")
        .parquet(out_path)
    )


def lsh_topk_from_signature_table(
    spark,
    table_path: str,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k against a materialized signature table:
    partition pruning on `_sig` (plan-asserted in tests) means only the
    probed buckets are read from storage."""
    qsig = query_signature([float(x) for x in query_vec], n_planes, seed)
    probe = probe_signatures(qsig, n_planes, multiprobe_hamming)
    cands = spark.read.parquet(table_path).filter(F.col("_sig").isin(probe))
    return cosine_topk(cands, query_vec, k, id_col, vec_col)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold — the
    embedding member of the dedup family (exact / minhash / simhash /
    jaccard / cosine).

    Never all-pairs: each vector gets its sign-random-projection bucket
    id; side A is exploded to its multiprobe bucket set (1 + n_planes
    rows at hamming 1) and joined to side B on the bucket — candidate
    pairs scale with bucket collisions, not |docs|². Exact cosine then
    filters the candidates (rounded to 6 dp for cross-engine
    stability). Recall follows the LSH guarantee: cos θ ≥ τ ⇒ per-plane
    disagreement probability θ/π; multiprobe covers 1-bit misses."""
    dim = _dim_of(embeddings, vec_col)
    if dim is None:  # empty corpus → empty pair set
        return local_frame(
            embeddings.sparkSession, [], "id_a long, id_b long, cosine double"
        )
    planes = _hyperplanes(dim, n_planes, seed)
    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        signature_col(F.col(vec_col), planes).alias("_sig"),
    )
    probes = [F.col("_sig")]
    if multiprobe_hamming >= 1:
        probes += [
            F.col("_sig").bitwiseXOR(F.lit(1 << b)) for b in range(n_planes)
        ]
    if multiprobe_hamming >= 2:
        # same contract as probe_signatures: 2-bit neighbors too
        probes += [
            F.col("_sig").bitwiseXOR(F.lit((1 << x) ^ (1 << y)))
            for x in range(n_planes)
            for y in range(x + 1, n_planes)
        ]
    a = base.select(
        F.col("id").alias("id_a"),
        F.col("vec").alias("vec_a"),
        F.explode(F.array(*probes)).alias("_probe"),
    )
    b = base.select(
        F.col("id").alias("id_b"),
        F.col("vec").alias("vec_b"),
        F.col("_sig").alias("_probe"),
    )
    cands = (
        a.join(b, ["_probe"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "vec_a", "vec_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    cos = _cosine(
        _dot(F.col("vec_a"), F.col("vec_b")),
        _norm(F.col("vec_a")) * _norm(F.col("vec_b")),
        6,
    )
    return (
        cands.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
