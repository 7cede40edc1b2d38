"""Typed model for the Legend PURE entity subset the engine understands.

The reference (finos/legend-community-delta) loads ``org.finos.legend.sdlc``
``Entity`` JSON documents and delegates their interpretation to
legend-engine.  This module is our standalone replacement: plain Python
dataclasses over the same JSON shape.

Entity `_type` discrimination mirrors the reference
(``Legend.scala:66-71``, ``LegendUtils.scala:68-96``):

* ``class``        -> :class:`PureClass`
* ``enumeration``  -> :class:`Enumeration`
* ``mapping``      -> :class:`Mapping`
* ``relational``   -> :class:`Database` (store: schemas/tables/columns)
* ``service``      -> :class:`Service`
* anything else (connection/runtime/...) is retained raw and ignored.

Only fields the engine consumes are modelled; unknown JSON keys are ignored
so real Legend Studio exports load unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any


class LegendModelError(ValueError):
    """Raised for unresolvable entities, properties, or malformed content."""


# ---------------------------------------------------------------------------
# Multiplicity
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Multiplicity:
    """PURE multiplicity ``[lower..upper]``; ``upper is None`` means ``*``.

    Drives three Spark facts (SURVEY §1.4; reference
    ``LegendUtils.scala:212-241``): nullability (``lower == 0``),
    array-ness (``upper is None or upper > 1``) and SIZE expectations.
    """

    lower: int = 1
    upper: int | None = 1

    @staticmethod
    def from_json(d: dict[str, Any] | None) -> "Multiplicity":
        if not d:
            return Multiplicity()
        upper = d.get("upperBound")
        return Multiplicity(int(d.get("lowerBound", 1)),
                            None if upper is None else int(upper))

    @property
    def nullable(self) -> bool:
        return self.lower == 0

    @property
    def is_collection(self) -> bool:
        return self.upper is None or self.upper > 1

    def render(self) -> str:
        if self.upper is None:
            return f"[{self.lower}..*]" if self.lower else "[0..*]"
        if self.lower == self.upper:
            return f"[{self.lower}]"
        return f"[{self.lower}..{self.upper}]"


# ---------------------------------------------------------------------------
# Class / Enumeration
# ---------------------------------------------------------------------------


def _doc_from_tagged_values(tagged: list[dict[str, Any]] | None) -> str | None:
    """Extract the ``doc.doc`` tagged value (reference ``LegendUtils.scala:177-183``)."""
    for tv in tagged or []:
        tag = tv.get("tag") or {}
        if tag.get("value") == "doc":
            return tv.get("value")
    return None


@dataclass
class Property:
    name: str
    type: str                      # PURE primitive, enum path, or class path
    multiplicity: Multiplicity = field(default_factory=Multiplicity)
    doc: str | None = None

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Property":
        return Property(
            name=d["name"],
            type=d.get("type") or d.get("genericType", {}).get("rawType", {}).get("fullPath", ""),
            multiplicity=Multiplicity.from_json(d.get("multiplicity")),
            doc=_doc_from_tagged_values(d.get("taggedValues")),
        )


@dataclass
class QualifiedProperty:
    """A derived (computed) property: name + value-spec AST body."""

    name: str
    body: list[dict[str, Any]]
    return_type: str | None = None
    multiplicity: Multiplicity = field(default_factory=Multiplicity)
    doc: str | None = None

    @staticmethod
    def from_json(d: dict[str, Any]) -> "QualifiedProperty":
        return QualifiedProperty(
            name=d["name"],
            body=d.get("body") or [],
            return_type=d.get("returnType"),
            multiplicity=Multiplicity.from_json(d.get("returnMultiplicity")),
            doc=_doc_from_tagged_values(d.get("taggedValues")),
        )


@dataclass
class Constraint:
    """A boolean business constraint: name + value-spec AST body."""

    name: str
    body: list[dict[str, Any]]

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Constraint":
        fn = d.get("functionDefinition") or {}
        return Constraint(name=d.get("name", ""), body=fn.get("body") or [])


@dataclass
class PureClass:
    path: str                      # package::name
    name: str
    package: str
    properties: list[Property] = field(default_factory=list)
    qualified_properties: list[QualifiedProperty] = field(default_factory=list)
    constraints: list[Constraint] = field(default_factory=list)
    super_types: list[str] = field(default_factory=list)
    doc: str | None = None

    @staticmethod
    def from_json(content: dict[str, Any]) -> "PureClass":
        pkg = content.get("package", "")
        name = content["name"]
        return PureClass(
            path=f"{pkg}::{name}" if pkg else name,
            name=name,
            package=pkg,
            properties=[Property.from_json(p) for p in content.get("properties", [])],
            qualified_properties=[QualifiedProperty.from_json(q)
                                  for q in content.get("qualifiedProperties", [])],
            constraints=[Constraint.from_json(c) for c in content.get("constraints", [])],
            super_types=list(content.get("superTypes", [])),
            doc=_doc_from_tagged_values(content.get("taggedValues")),
        )


@dataclass
class Enumeration:
    path: str
    name: str
    package: str
    values: list[str] = field(default_factory=list)
    doc: str | None = None

    @staticmethod
    def from_json(content: dict[str, Any]) -> "Enumeration":
        pkg = content.get("package", "")
        name = content["name"]
        return Enumeration(
            path=f"{pkg}::{name}" if pkg else name,
            name=name,
            package=pkg,
            values=[v["value"] if isinstance(v, dict) else str(v)
                    for v in content.get("values", [])],
            doc=_doc_from_tagged_values(content.get("taggedValues")),
        )


# ---------------------------------------------------------------------------
# Relational store (Database)
# ---------------------------------------------------------------------------


@dataclass
class Column:
    name: str
    sql_type: str                  # e.g. VARCHAR(255), INTEGER, DATE
    nullable: bool = True

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Column":
        t = d.get("type") or {}
        type_name = t.get("_type", "").upper() if isinstance(t, dict) else str(t)
        size = t.get("size") if isinstance(t, dict) else None
        if size is not None:
            type_name = f"{type_name}({size})"
        return Column(name=d["name"], sql_type=type_name,
                      nullable=bool(d.get("nullable", True)))


@dataclass
class Table:
    name: str
    schema: str
    columns: list[Column] = field(default_factory=list)
    primary_key: list[str] = field(default_factory=list)


@dataclass
class Database:
    path: str
    name: str
    package: str
    tables: list[Table] = field(default_factory=list)

    @staticmethod
    def from_json(content: dict[str, Any]) -> "Database":
        pkg = content.get("package", "")
        name = content["name"]
        tables: list[Table] = []
        for schema in content.get("schemas", []):
            sname = schema.get("name", "")
            for t in schema.get("tables", []):
                tables.append(Table(
                    name=t["name"],
                    schema=sname,
                    columns=[Column.from_json(c) for c in t.get("columns", [])],
                    primary_key=list(t.get("primaryKey", [])),
                ))
        return Database(path=f"{pkg}::{name}" if pkg else name,
                        name=name, package=pkg, tables=tables)


# ---------------------------------------------------------------------------
# Mapping
# ---------------------------------------------------------------------------


@dataclass
class Mapping:
    """Relational class mapping: class path, main table, property→column map.

    Mirrors what the reference extracts from a mapping entity
    (``LegendUtils.scala:342-361``): per-property ``TableAliasColumn``
    column names and the main table identifier.
    """

    path: str
    name: str
    package: str
    class_path: str = ""
    table_schema: str = ""
    table_name: str = ""
    property_columns: dict[str, str] = field(default_factory=dict)

    @property
    def qualified_table(self) -> str:
        if self.table_schema and self.table_schema not in ("default", "main"):
            return f"{self.table_schema}.{self.table_name}"
        return self.table_name

    @staticmethod
    def from_json(content: dict[str, Any]) -> "Mapping":
        pkg = content.get("package", "")
        name = content["name"]
        m = Mapping(path=f"{pkg}::{name}" if pkg else name, name=name, package=pkg)
        class_mappings = content.get("classMappings", [])
        if class_mappings:
            cm = class_mappings[0]
            m.class_path = cm.get("class", "")
            main = cm.get("mainTable") or {}
            m.table_schema = main.get("schema", "")
            m.table_name = main.get("table", "")
            for pm in cm.get("propertyMappings", []):
                prop = (pm.get("property") or {}).get("property")
                rel = pm.get("relationalOperation") or {}
                col = rel.get("column") if isinstance(rel, dict) else None
                if prop and col:
                    m.property_columns[prop] = col
        return m


# ---------------------------------------------------------------------------
# Service
# ---------------------------------------------------------------------------


@dataclass
class Service:
    path: str
    name: str
    package: str
    pattern: str = ""
    mapping_path: str = ""
    func: dict[str, Any] = field(default_factory=dict)   # lambda value-spec AST

    @staticmethod
    def from_json(content: dict[str, Any]) -> "Service":
        pkg = content.get("package", "")
        name = content["name"]
        execution = content.get("execution") or {}
        if execution.get("_type") not in ("pureSingleExecution",):
            raise LegendModelError(
                f"service {pkg}::{name}: only PureSingleExecution is supported "
                f"(got {execution.get('_type')!r})")
        return Service(
            path=f"{pkg}::{name}" if pkg else name,
            name=name,
            package=pkg,
            pattern=content.get("pattern", ""),
            mapping_path=execution.get("mapping", ""),
            func=execution.get("func") or {},
        )
