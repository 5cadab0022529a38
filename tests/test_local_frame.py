"""Contract of ``session.local_frame``: the same rows and schema as
``createDataFrame(<list>)``, built through Arrow instead of a PythonRDD."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from kgap_spark import schemas as S
from kgap_spark.session import local_frame


@pytest.mark.parametrize(
    "rows, schema",
    [
        # nullable long columns left NULL, as LineageLog.append writes them
        (
            [
                ("urn:g:a", 0, "run1", 12, None, None, "ok"),
                ("urn:g:b", 3, "run1", None, 7, 2, "failed"),
            ],
            S.LINEAGE,
        ),
        ([], S.TRIPLES),
        ([("urn:g:a",), ("urn:g:b",)], "graph string"),
        (
            [("Ærø", "rdfs:label", "Δ ρ ß 漢字 🙂", "de", None, "urn:g:ü", None)],
            S.TRIPLES,
        ),
    ],
    ids=["lineage-nulls", "empty-triples", "ddl-string", "non-ascii"],
)
def test_local_frame_matches_list_path(spark, rows, schema):
    arrow_df = local_frame(spark, rows, schema)
    list_df = spark.createDataFrame(rows, schema)
    assert arrow_df.schema == list_df.schema
    assert arrow_df.collect() == list_df.collect()


def test_local_frame_rejects_null_in_non_nullable_field(spark):
    schema = T.StructType([T.StructField("graph", T.StringType(), False)])
    with pytest.raises(ValueError, match="graph"):
        local_frame(spark, [("urn:g:a",), (None,)], schema).collect()


def test_local_frame_rejects_wrong_row_width(spark):
    with pytest.raises(ValueError, match="2 values"):
        local_frame(spark, [("a", "b"), ("c",)], "x string, y string")
