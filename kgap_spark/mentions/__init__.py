from kgap_spark.mentions.detect import (  # noqa: F401
    detect_mentions,
    detect_mentions_fuzzy,
    mention_entities,
    with_ngrams,
)
