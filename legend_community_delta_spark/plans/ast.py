"""Helpers over the PURE value-specification JSON AST.

The reference stores constraints, qualified properties, and service queries
as legend-engine "valueSpecification" JSON nodes (``_type`` discriminated).
This module centralizes node-shape accessors so the compiler stays readable.

Node types we understand (the exact surface exercised by the reference
fixtures — SURVEY §2.A/§2.B — plus a few safe extensions):

``var``, ``property``, ``func``, ``lambda``, ``collection``,
``integer``, ``float``, ``decimal``, ``string``, ``boolean``,
``date``, ``strictDate``, ``dateTime``, ``enumValue``,
``packageableElementPtr``.
"""

from __future__ import annotations

from typing import Any

from ..model.entities import LegendModelError

Node = dict[str, Any]


def node_type(node: Node) -> str:
    return node.get("_type", "")


def is_literal(node: Node) -> bool:
    return node_type(node) in (
        "integer", "float", "decimal", "string", "boolean",
        "date", "strictDate", "dateTime",
    )


def literal_values(node: Node) -> list[Any]:
    return node.get("values", [])


def single_literal(node: Node) -> Any:
    vals = literal_values(node)
    if len(vals) != 1:
        raise LegendModelError(f"expected single literal, got {vals!r}")
    return vals[0]


def is_property(node: Node) -> bool:
    return node_type(node) == "property"


def property_name(node: Node) -> str:
    return node["property"]


def property_receiver(node: Node) -> Node | None:
    params = node.get("parameters") or []
    return params[0] if params else None


def is_func(node: Node, name: str | None = None) -> bool:
    return node_type(node) == "func" and (name is None or node.get("function") == name)


def func_name(node: Node) -> str:
    return node.get("function", "")


def func_params(node: Node) -> list[Node]:
    return node.get("parameters") or []


def is_lambda(node: Node) -> bool:
    return node_type(node) == "lambda"


def lambda_body(node: Node) -> Node:
    body = node.get("body") or []
    if len(body) != 1:
        raise LegendModelError(f"lambda with {len(body)} body expressions unsupported")
    return body[0]


def is_collection(node: Node) -> bool:
    return node_type(node) == "collection"


def collection_values(node: Node) -> list[Node]:
    return node.get("values") or []


def is_element_ptr(node: Node, full_path: str | None = None) -> bool:
    return node_type(node) == "packageableElementPtr" and (
        full_path is None or node.get("fullPath") == full_path)


def element_path(node: Node) -> str:
    return node.get("fullPath", "")
