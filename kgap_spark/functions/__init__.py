"""Training-data-pipeline operations over document/embedding tables:
deduplication, similarity search, text analysis, multimodal plumbing
(``multimodal``: a sha256 stub for every payload, computed in Catalyst).

These extend the reference's capabilities to what a 100 TB web-corpus
pipeline needs (driver mandate); each has a `queries()` entry with a
DuckDB oracle in __spark_entry__.py.
"""

from kgap_spark.functions.textstats import (  # noqa: F401
    with_text_stats,
    language_id,
    quality_score,
    fingerprint,
)
from kgap_spark.functions.dedup import (  # noqa: F401
    exact_duplicates,
    ngram_jaccard_pairs,
    minhash_band_candidates,
    minhash_lsh_near_duplicates,
    simhash,
)
from kgap_spark.functions.similarity import (  # noqa: F401
    cosine_topk,
)
