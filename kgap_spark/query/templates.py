"""Templated query layer — the ``execute_to_df`` analog.

k-gap's notebooks resolve ``${var}`` templates from ``./queries/*.sparql``
and POST them to GraphDB, getting a pandas DataFrame back
(reference: ``jupyter/kgap/notebooks/kgap_tools.py:13-31``; template
syntax ``docs/faq.md:215-229``). Here templates are Spark SQL text with
the same ``${var}`` substitution; dispatch is ``spark.sql`` against
registered temp views, and the result is a lazy pyspark DataFrame.
"""

from __future__ import annotations

import os
import re
from string import Template

from pyspark.sql import DataFrame, SparkSession

from kgap_spark.io import fs

# no quote characters: a value like "x' OR ..." must not break out of a
# string literal. Table names get the stricter identifier class below.
_VALUE = re.compile(r"^[A-Za-z0-9_.:/\- ]*$")
_TABLE = re.compile(r"^[A-Za-z_][A-Za-z0-9_.]*$")

# Built-in templates mirroring the reference's canned queries
# (docs/quick-reference.md:186-222, docs/components/ldes-consumer.md:330-343).
BUILTIN = {
    "count_all": "SELECT COUNT(*) AS count FROM ${table}",
    "counts_by_graph": (
        "SELECT graph, COUNT(*) AS count FROM ${table} "
        "GROUP BY graph ORDER BY graph"
    ),
    "type_distribution": (
        "SELECT obj AS type, COUNT(*) AS count FROM ${table} "
        "WHERE pred = 'rdf:type' GROUP BY obj ORDER BY count DESC, type LIMIT ${k}"
    ),
    "labels_containing": (
        "SELECT subj AS entity, obj AS label FROM ${table} "
        "WHERE pred = 'rdfs:label' AND contains(obj, '${search_term}') "
        "ORDER BY entity, label LIMIT ${k}"
    ),
    "entities_without_label": (
        "SELECT DISTINCT t.subj AS entity FROM ${table} t "
        "LEFT ANTI JOIN (SELECT subj FROM ${table} WHERE pred = 'rdfs:label') l "
        "ON t.subj = l.subj"
    ),
}


class QueryTemplates:
    """Template registry: built-ins + ``*.sql`` / ``*.sparql`` files
    from a folder (the reference loads ``./queries/*.sparql``,
    kgap_tools.py:13-19). SQL templates run via ``spark.sql`` against
    registered temp views; SPARQL templates run through the
    ``query.sparql`` front-end against the ``triples`` DataFrame passed
    to the constructor."""

    def __init__(
        self,
        spark: SparkSession,
        templates_folder: str | None = None,
        triples: DataFrame | None = None,
    ):
        self.spark = spark
        self.triples = triples
        self.templates: dict[str, str] = dict(BUILTIN)
        self.sparql_names: set[str] = set()
        if templates_folder is None:
            return
        # through the Hadoop FS, so a file:// or object-store folder
        # lists like a local one; a missing folder fails here, naming
        # the path, rather than at the first template lookup
        if not fs.exists(spark, templates_folder):
            raise ValueError(
                f"templates folder does not exist: {templates_folder}")
        for fn in sorted(fs.list_names(spark, templates_folder)):
            name, ext = os.path.splitext(fn)
            if ext in (".sql", ".sparql"):
                self.templates[name] = fs.read_text_file(
                    spark, fs.join(templates_folder, fn))
                if ext == ".sparql":
                    self.sparql_names.add(name)

    def generate_sql(self, name: str, **vars: object) -> str:
        """The ``generate_sparql`` analog (kgap_tools.py:17-19):
        substitute ``${var}`` placeholders. For SQL templates, values
        are validated against a conservative quote-free character class
        and ``table`` (which substitutes unquoted into the FROM clause)
        against a strict identifier regex — template substitution is
        not a SQL-injection surface. SPARQL templates skip the value
        filter (reference templates inject whole FILTER lines,
        advanced-topics.md:299-311); the SPARQL parser is the gate —
        substituted text must still parse as the supported subset, and
        nothing is ever string-concatenated into SQL."""
        if name not in self.sparql_names:
            for k, v in vars.items():
                pattern = _TABLE if k == "table" else _VALUE
                if not pattern.match(str(v)):
                    raise ValueError(f"unsafe template value for {k!r}: {v!r}")
        return Template(self.templates[name]).substitute(
            {k: str(v) for k, v in vars.items()}
        )

    def execute_to_df(self, name: str, **vars: object) -> DataFrame:
        """The ``execute_to_df`` analog (kgap_tools.py:22-31): template →
        SQL or SPARQL → DataFrame (lazy; ``.toPandas()`` is the
        caller's choice)."""
        text = self.generate_sql(name, **vars)
        if name in self.sparql_names:
            from kgap_spark.query.sparql import execute_sparql

            if self.triples is None:
                raise ValueError(
                    "SPARQL template needs a triples DataFrame: "
                    "QueryTemplates(spark, folder, triples=...)"
                )
            return execute_sparql(self.triples, text)
        return self.spark.sql(text)
