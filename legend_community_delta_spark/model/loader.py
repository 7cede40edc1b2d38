"""Entity loaders: directory of JSON files, or in-memory dicts.

Mirrors ``LegendFileLoader.scala:21-29`` / ``LegendClasspathLoader.scala:12-19``
in the reference: walk a directory, parse every ``*.json`` as an sdlc Entity,
key the result by entity path.  We add :func:`load_dicts` for programmatic
models (used heavily by tests and by ``__spark_entry__``).
"""

from __future__ import annotations

import json
import os
from typing import Any, Iterable

from .entities import (
    Database,
    Enumeration,
    LegendModelError,
    Mapping,
    PureClass,
    Service,
)


class LegendModel:
    """A compiled registry of PURE entities, keyed by ``package::name`` path."""

    def __init__(self) -> None:
        self.classes: dict[str, PureClass] = {}
        self.enumerations: dict[str, Enumeration] = {}
        self.mappings: dict[str, Mapping] = {}
        self.databases: dict[str, Database] = {}
        self.services: dict[str, Service] = {}
        self.raw: dict[str, dict[str, Any]] = {}

    # -- registration ------------------------------------------------------

    def add_entity(self, entity: dict[str, Any]) -> None:
        """Register one sdlc Entity dict (``{"content": {...}}`` or bare content)."""
        content = entity.get("content", entity)
        etype = content.get("_type", "")
        pkg, name = content.get("package", ""), content.get("name", "")
        path = f"{pkg}::{name}" if pkg else name
        self.raw[path] = content
        if etype == "class":
            self.classes[path] = PureClass.from_json(content)
        elif etype.lower() == "enumeration":
            self.enumerations[path] = Enumeration.from_json(content)
        elif etype == "mapping":
            self.mappings[path] = Mapping.from_json(content)
        elif etype == "relational":
            self.databases[path] = Database.from_json(content)
        elif etype == "service":
            self.services[path] = Service.from_json(content)
        # connection / runtime / other types: retained in self.raw only.

    # -- lookup ------------------------------------------------------------

    def entity_names(self) -> list[str]:
        return sorted(self.raw)

    def get_class(self, path: str) -> PureClass:
        try:
            return self.classes[path]
        except KeyError:
            raise LegendModelError(f"unknown class entity [{path}]") from None

    def get_enumeration(self, path: str) -> Enumeration | None:
        return self.enumerations.get(path)

    def get_mapping(self, path: str) -> Mapping:
        try:
            return self.mappings[path]
        except KeyError:
            raise LegendModelError(f"unknown mapping entity [{path}]") from None

    def get_service(self, path: str) -> Service:
        try:
            return self.services[path]
        except KeyError:
            raise LegendModelError(f"unknown service entity [{path}]") from None

    def is_class(self, path: str) -> bool:
        return path in self.classes

    def is_enumeration(self, path: str) -> bool:
        return path in self.enumerations

    # -- inheritance -------------------------------------------------------
    #
    # Supertype members first, recursively (``Legend.scala:433-437``),
    # deduplicated by name: a subclass redefinition *overrides* the
    # supertype's (the reference gets this via Scala Map keying), keeping
    # the first-occurrence position so ordering stays deterministic.

    @staticmethod
    def _merge_by_name(items: list) -> list:
        pos: dict[str, int] = {}
        out: list = []
        for it in items:
            if it.name in pos:
                out[pos[it.name]] = it      # override, keep position
            else:
                pos[it.name] = len(out)
                out.append(it)
        return out

    def _inherited(self, cls: PureClass, attr: str) -> list:
        items: list = []
        for st in cls.super_types:
            if st not in ("meta::pure::metamodel::type::Any", "Any"):
                items.extend(self._inherited(self.get_class(st), attr))
        items.extend(getattr(cls, attr))
        return self._merge_by_name(items)

    def all_properties(self, cls: PureClass) -> list:
        return self._inherited(cls, "properties")

    def all_constraints(self, cls: PureClass) -> list:
        return self._inherited(cls, "constraints")

    def all_qualified_properties(self, cls: PureClass) -> list:
        return self._inherited(cls, "qualified_properties")


def load_resources(directory: str) -> LegendModel:
    """Load every ``*.json`` under *directory* (recursively) into a model."""
    if not os.path.isdir(directory):
        raise LegendModelError(f"not a directory: {directory}")
    model = LegendModel()
    for root, _dirs, files in os.walk(directory):
        for fname in sorted(files):
            if fname.endswith(".json"):
                with open(os.path.join(root, fname)) as fh:
                    model.add_entity(json.load(fh))
    return model


def load_dicts(entities: Iterable[dict[str, Any]]) -> LegendModel:
    """Build a model from in-memory entity dicts."""
    model = LegendModel()
    for e in entities:
        model.add_entity(e)
    return model


def load_package_resources(package: str) -> LegendModel:
    """Load every ``*.json`` resource bundled in a Python package —
    the pip-installable analogue of the reference's
    ``LegendClasspathLoader`` (classpath resources)."""
    from importlib import resources

    model = LegendModel()
    root = resources.files(package)
    for item in sorted(root.iterdir(), key=lambda p: p.name):
        if item.name.endswith(".json") and item.is_file():
            model.add_entity(json.loads(item.read_text()))
    return model
