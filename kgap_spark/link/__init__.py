from kgap_spark.link.score import link_mentions  # noqa: F401
from kgap_spark.link.candidates import fuzzy_candidates  # noqa: F401
