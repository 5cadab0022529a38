from kgap_spark.query.patterns import (  # noqa: F401
    Var,
    bgp,
    counts_by_graph,
    type_distribution,
    entities_without_label,
    conflicting_types,
)
from kgap_spark.query.templates import QueryTemplates  # noqa: F401
from kgap_spark.query.traverse import recursive_dereference  # noqa: F401
