"""Optional metadata schema validation.

Parity target: `MetadataSchema` (src/core/schema.rs:37-52), validation
(:67-149,181-208), enforced at add/update time
(bindings/node/src/session.rs:388-392,594-599).  Behaviors preserved:

  - FieldType in {string, number, boolean, array(items), object(fields)}
  - null values ALWAYS pass type validation (schema.rs:68-71)
  - required fields must be present (null counts as present)
  - extra undeclared fields pass — only declared fields are checked
  - number means JSON number: int and float merge; bool is NOT a number

Two surfaces:
  validate_metadata(dict)  — row-level (the session write path)
  spark_type(schema)       — the equivalent typed StructType, so a
                             declared schema becomes real columns
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import types as T


class SchemaValidationError(ValueError):
    def __init__(self, kind: str, field_name: str, detail: str = ""):
        self.kind = kind
        self.field_name = field_name
        super().__init__(f"{kind}: {field_name}" + (f" ({detail})" if detail else ""))


_SCALARS = {"string": str, "boolean": bool}


@dataclass
class MetadataSchema:
    fields: dict[str, dict]
    required: set[str] = field(default_factory=set)

    @classmethod
    def from_json(cls, spec: dict) -> "MetadataSchema":
        fields = spec.get("fields", {})
        for name, f in fields.items():
            if f.get("type") not in {"string", "number", "boolean", "array", "object"}:
                raise SchemaValidationError("InvalidType", name, str(f.get("type")))
        return cls(fields=dict(fields), required=set(spec.get("required", [])))

    def to_json(self) -> dict:
        return {"fields": self.fields, "required": sorted(self.required)}

    # -- row-level validation (session write path) -------------------------

    def validate_metadata(self, metadata: dict | None) -> None:
        md = metadata or {}
        if not isinstance(md, dict):
            raise SchemaValidationError("InvalidType", "<root>", "metadata must be an object")
        for name in self.required:
            if name not in md:
                raise SchemaValidationError("MissingField", name)
        for name, spec in self.fields.items():
            if name in md:
                _check_value(name, md[name], spec)

    # -- Spark mapping ------------------------------------------------------

    def spark_type(self) -> T.StructType:
        return _struct_type(self.fields)


def _check_value(name: str, value: Any, spec: dict) -> None:
    if value is None:
        return  # null always passes (schema.rs:68-71)
    t = spec["type"]
    if t == "string":
        if not isinstance(value, str):
            raise SchemaValidationError("InvalidType", name, f"expected string, got {type(value).__name__}")
    elif t == "boolean":
        if not isinstance(value, bool):
            raise SchemaValidationError("InvalidType", name, f"expected boolean, got {type(value).__name__}")
    elif t == "number":
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            raise SchemaValidationError("InvalidType", name, f"expected number, got {type(value).__name__}")
    elif t == "array":
        if not isinstance(value, list):
            raise SchemaValidationError("InvalidType", name, f"expected array, got {type(value).__name__}")
        items = spec.get("items")
        if items:
            for i, el in enumerate(value):
                try:
                    _check_value(f"{name}[{i}]", el, items)
                except SchemaValidationError as e:
                    raise SchemaValidationError("InvalidArrayElement", f"{name}[{i}]", e.args[0] if e.args else "")
    elif t == "object":
        if not isinstance(value, dict):
            raise SchemaValidationError("InvalidType", name, f"expected object, got {type(value).__name__}")
        for sub, subspec in spec.get("fields", {}).items():
            if sub in value:
                _check_value(f"{name}.{sub}", value[sub], subspec)


def _field_type(spec: dict) -> T.DataType:
    t = spec["type"]
    if t == "string":
        return T.StringType()
    if t == "number":
        return T.DoubleType()
    if t == "boolean":
        return T.BooleanType()
    if t == "array":
        return T.ArrayType(_field_type(spec["items"]) if spec.get("items") else T.StringType())
    if t == "object":
        return _struct_type(spec.get("fields", {}))
    raise SchemaValidationError("InvalidType", "<spec>", t)


def _struct_type(fields: dict[str, dict]) -> T.StructType:
    return T.StructType(
        [T.StructField(name, _field_type(spec), nullable=True) for name, spec in fields.items()]
    )
