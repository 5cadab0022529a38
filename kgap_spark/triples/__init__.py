from kgap_spark.triples.materialize import build_triples, page_graph_triples, dict_graph_triples  # noqa: F401
from kgap_spark.triples.writer import (  # noqa: F401
    SnapshotConflictError,
    SnapshotNotFoundError,
    TripleStore,
)
