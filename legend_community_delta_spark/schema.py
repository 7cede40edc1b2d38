"""PURE class -> Spark ``StructType`` compiler.

Reproduces the reference's schema derivation exactly (SURVEY §1.2-§1.4):

* forward type map per ``LegendUtils.scala:113-130`` (Number->Long,
  Decimal->Double by design; anything else raises),
* inheritance: supertype fields prepended recursively (``Legend.scala:433-437``),
* nested classes -> nested ``StructType``; collections-of-class ->
  ``ArrayType(StructType)`` (``Legend.scala:459-472``),
* enumerations -> ``StringType`` (``Legend.scala:475-487``),
* multiplicity -> nullability / array-ness (``LegendUtils.scala:219,226``),
* ``doc`` tagged values -> field metadata ``{"comment": ...}``
  (``LegendUtils.scala:233``).

A lossless mode (``lossless=True``) maps Decimal -> ``DecimalType(38, 18)``
and Number -> ``DecimalType(38, 0)`` — an extension over the reference,
off by default for parity.
"""

from __future__ import annotations

from pyspark.sql import types as T

from .model.entities import LegendModelError, Multiplicity, PureClass
from .model.loader import LegendModel

# PURE primitive -> Spark DataType (LegendUtils.scala:113-130)
PURE_TO_SPARK: dict[str, T.DataType] = {
    "String": T.StringType(),
    "Boolean": T.BooleanType(),
    "Byte": T.ByteType(),
    "Binary": T.BinaryType(),
    "Integer": T.IntegerType(),
    "Short": T.ShortType(),
    "Number": T.LongType(),        # lossy by design
    "Float": T.FloatType(),
    "Decimal": T.DoubleType(),     # lossy by design (NOT DecimalType)
    "Date": T.DateType(),
    "StrictDate": T.DateType(),
    "DateTime": T.TimestampType(),
}

_LOSSLESS_OVERRIDES: dict[str, T.DataType] = {
    "Number": T.DecimalType(38, 0),
    "Decimal": T.DecimalType(38, 18),
}


def primitive_type(pure_type: str, lossless: bool = False) -> T.DataType:
    """Map a PURE primitive name to a Spark type; raise on unknowns."""
    if lossless and pure_type in _LOSSLESS_OVERRIDES:
        return _LOSSLESS_OVERRIDES[pure_type]
    try:
        return PURE_TO_SPARK[pure_type]
    except KeyError:
        raise LegendModelError(f"unsupported PURE primitive [{pure_type}]") from None


def is_primitive(pure_type: str) -> bool:
    return pure_type in PURE_TO_SPARK


def _field_metadata(doc: str | None) -> dict:
    return {"comment": doc} if doc else {}


def _wrap(dt: T.DataType, mult: Multiplicity) -> tuple[T.DataType, bool]:
    """Apply multiplicity: (possibly ArrayType-wrapped type, nullable)."""
    if mult.is_collection:
        # Elements of a collection follow the collection's nullability at
        # the field level; elements themselves are non-null.
        return T.ArrayType(dt, containsNull=False), mult.nullable
    return dt, mult.nullable


def class_struct(model: LegendModel, cls: PureClass, lossless: bool = False) -> T.StructType:
    """Compile a PURE class (with inheritance) to a StructType."""
    fields = []
    for prop in model.all_properties(cls):
        fields.append(property_field(model, prop, lossless=lossless))
    return T.StructType(fields)


def property_field(model: LegendModel, prop, lossless: bool = False) -> T.StructField:
    """Compile one property to a StructField."""
    ptype = prop.type
    if is_primitive(ptype):
        base = primitive_type(ptype, lossless=lossless)
    elif model.is_enumeration(ptype):
        base = T.StringType()      # enum -> string (Legend.scala:475-487)
    elif model.is_class(ptype):
        base = class_struct(model, model.get_class(ptype), lossless=lossless)
    else:
        raise LegendModelError(
            f"property [{prop.name}]: unresolvable type [{ptype}]")
    dt, nullable = _wrap(base, prop.multiplicity)
    return T.StructField(prop.name, dt, nullable=nullable,
                         metadata=_field_metadata(prop.doc))


def schema_for(model: LegendModel, entity_path: str, lossless: bool = False) -> T.StructType:
    """Public API: entity path -> StructType (reference ``Legend.scala:64-72``)."""
    return class_struct(model, model.get_class(entity_path), lossless=lossless)


def mapping_schema(model: LegendModel, mapping_path: str, lossless: bool = False) -> T.StructType:
    """Entity schema with fields renamed to target columns
    (reference ``Legend.scala:272-279``)."""
    mapping = model.get_mapping(mapping_path)
    cls = model.get_class(mapping.class_path)
    renames = mapping.property_columns
    fields = []
    for f in class_struct(model, cls, lossless=lossless).fields:
        fields.append(T.StructField(renames.get(f.name, f.name), f.dataType,
                                    nullable=f.nullable, metadata=f.metadata))
    return T.StructType(fields)


def relaxed(schema: T.StructType) -> T.StructType:
    """All fields forced nullable — write-side permissiveness
    (reference ``Legend.scala:170-171``)."""
    return T.StructType([
        T.StructField(f.name, f.dataType, nullable=True, metadata=f.metadata)
        for f in schema.fields
    ])

