"""The ontology dimension tables: JVM-local relations with the declared schemas."""

import contextlib
import io

import pytest

from kgnorm import canon, ontology, schemas
from kgnorm.ontology import Ontology

TABLES = [
    (ontology.concepts_df, schemas.CONCEPTS),
    (ontology.synonyms_df, schemas.CONCEPT_SYNONYMS),
    (ontology.relationships_df, schemas.CONCEPT_RELATIONSHIPS),
]


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("build, schema", TABLES)
def test_schema_is_declared_schema(spark, ontology_bundle, build, schema):
    df = build(spark, ontology_bundle)
    assert df.schema == schema  # StructField equality includes nullability


@pytest.mark.parametrize("build", [build for build, _schema in TABLES])
def test_plans_as_local_table_scan(spark, ontology_bundle, build):
    plan = _plan(build(spark, ontology_bundle))
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan


@pytest.mark.parametrize("build, rows_of", [
    (ontology.concepts_df, lambda o: o.concepts),
    (ontology.synonyms_df, lambda o: o.synonyms),
    (ontology.relationships_df, lambda o: o.relationships),
])
def test_rows_round_trip(spark, ontology_bundle, build, rows_of):
    got = [r.asDict() for r in build(spark, ontology_bundle).collect()]
    assert got == rows_of(ontology_bundle)


def test_nullable_none_round_trips(spark):
    ont = Ontology(
        dictionary=[], concepts=[], relationships=[],
        synonyms=[
            {"concept_id": 1, "concept_synonym_name": "a", "language_concept_id": None},
            {"concept_id": 2, "concept_synonym_name": "b", "language_concept_id": 4180186},
        ],
    )
    got = sorted(map(tuple, ontology.synonyms_df(spark, ont).collect()))
    assert got == [(1, "a", None), (2, "b", 4180186)]


def test_null_in_non_nullable_field_rejected(spark):
    ont = Ontology(dictionary=[], concepts=[], synonyms=[],
                   relationships=[{"concept_id_1": 1, "concept_id_2": None,
                                   "relationship_id": "Maps to"}])
    with pytest.raises(ValueError, match="concept_id_2"):
        ontology.relationships_df(spark, ont)


def test_empty_relationships_give_empty_mapping(spark):
    ont = Ontology(dictionary=[], concepts=[], synonyms=[], relationships=[])
    rels = ontology.relationships_df(spark, ont)
    assert rels.schema == schemas.CONCEPT_RELATIONSHIPS
    assert rels.count() == 0
    assert canon.canonical_mapping(rels).collect() == []
