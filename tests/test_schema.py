"""Metadata schema validation (FIXTURES.md §5, schema.rs semantics)."""

import pytest

from fabstir_vectordb_spark.functions.schema import (
    MetadataSchema,
    SchemaValidationError,
)

SPEC = {
    "fields": {
        "title": {"type": "string"},
        "views": {"type": "number"},
        "published": {"type": "boolean"},
        "tags": {"type": "array", "items": {"type": "string"}},
        "author": {"type": "object", "fields": {"name": {"type": "string"}}},
    },
    "required": ["title", "views"],
}


@pytest.fixture(scope="module")
def schema():
    return MetadataSchema.from_json(SPEC)


def test_valid_row_passes(schema):
    schema.validate_metadata(
        {"title": "t", "views": 3, "published": True, "tags": ["a"], "author": {"name": "x"}}
    )


def test_missing_required(schema):
    with pytest.raises(SchemaValidationError, match="MissingField: views"):
        schema.validate_metadata({"title": "t"})
    # a missing metadata object misses every required field
    with pytest.raises(SchemaValidationError, match="MissingField"):
        schema.validate_metadata(None)


def test_wrong_type(schema):
    with pytest.raises(SchemaValidationError, match="InvalidType: title"):
        schema.validate_metadata({"title": 1, "views": 2})


def test_bool_is_not_number(schema):
    with pytest.raises(SchemaValidationError, match="InvalidType: views"):
        schema.validate_metadata({"title": "t", "views": True})


def test_wrong_array_element(schema):
    with pytest.raises(SchemaValidationError, match="InvalidArrayElement"):
        schema.validate_metadata({"title": "t", "views": 1, "tags": ["ok", 7]})


def test_null_always_passes(schema):
    # null passes type validation (schema.rs:68-71); required+null is present
    schema.validate_metadata({"title": None, "views": None, "published": None})


def test_extra_fields_pass(schema):
    schema.validate_metadata({"title": "t", "views": 1, "undeclared": object()})


def test_nested_object_type(schema):
    with pytest.raises(SchemaValidationError, match="author.name"):
        schema.validate_metadata({"title": "t", "views": 1, "author": {"name": 5}})


def test_spark_type_mapping(schema):
    st = schema.spark_type()
    assert st["views"].dataType.simpleString() == "double"
    assert st["tags"].dataType.simpleString() == "array<string>"
    assert st["author"].dataType.simpleString() == "struct<name:string>"


def test_unknown_type_rejected():
    with pytest.raises(SchemaValidationError):
        MetadataSchema.from_json({"fields": {"x": {"type": "decimal"}}})
