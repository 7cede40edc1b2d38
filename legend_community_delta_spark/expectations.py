"""Data-quality expectation compiler.

Reproduces the reference's three expectation families
(``Legend.scala:376-595``):

1. **mandatory** — non-nullable property: ``[field] is mandatory`` ->
   ``col IS NOT NULL``  (PURE: ``$this.field->isNotEmpty()``)
2. **size** — collection multiplicity: ``[field] has invalid size`` ->
   ``col IS NULL OR SIZE(col) >= lb`` / ``col IS NULL OR (SIZE(col)
   BETWEEN lb AND ub)``
3. **allowed values** — enumeration membership: ``[field] not allowed
   value`` -> ``(col IS NULL OR col IN ('...', ...))``
4. **business constraints** — the class's PURE constraints, compiled with
   null-guard semantics: ``[high five] should be positive`` ->
   ``(high_fives IS NOT NULL AND high_fives > 0)``

Nested classes recurse with dotted field names unless the property is a
collection (``Legend.scala:396-405`` skips collections of classes).

Rule *names* use entity property names; compiled SQL uses mapped column
names (pinned by ``python/tests/tests.py:74-88``).
"""

from __future__ import annotations

from .model.entities import LegendModelError, Property, PureClass
from .model.loader import LegendModel
from .plans import ast as A
from .plans.compiler import EXPECTATION_STYLE, Context, to_pure, to_sql

Rules = dict[str, str]


def _child(name: str, parent: str) -> str:
    """Dotted nested-field naming (reference ``LegendUtils.childFieldName``)."""
    return f"{parent}.{name}" if parent else name


def _field_rules(prop: Property, field: str, compile_sql: bool,
                 col: str) -> Rules:
    """Mandatory + size rules for one property (``Legend.scala:552-595``)."""
    rules: Rules = {}
    if not prop.multiplicity.nullable:
        rules[f"[{field}] is mandatory"] = (
            f"{col} IS NOT NULL" if compile_sql
            else f"$this.{field}->isNotEmpty()")
    if prop.multiplicity.is_collection:
        lb = prop.multiplicity.lower
        ub = prop.multiplicity.upper
        if ub is None:
            rules[f"[{field}] has invalid size"] = (
                f"{col} IS NULL OR SIZE({col}) >= {lb}" if compile_sql
                else f"$this.{field}->isEmpty() || $this.{field}->size() >= {lb}")
        else:
            rules[f"[{field}] has invalid size"] = (
                f"{col} IS NULL OR (SIZE({col}) BETWEEN {lb} AND {ub})"
                if compile_sql else
                f"$this.{field}->isEmpty() || ($this.{field}->size() >= {lb}"
                f" && $this.{field}->size() <= {ub})")
    return rules


def class_expectations(model: LegendModel, cls: PureClass,
                       compile_sql: bool = True,
                       renames: dict[str, str] | None = None,
                       parent: str = "") -> Rules:
    """All expectations for a class (recursing nested classes).

    *renames* maps **top-level** property names to physical columns
    (mapping mode); nested fields keep their dotted entity names.
    """
    renames = renames or {}
    rules: Rules = {}

    def col_for(field: str) -> str:
        head, _, rest = field.partition(".")
        head = renames.get(head, head) if not parent else head
        return f"{head}.{rest}" if rest else head

    for prop in model.all_properties(cls):
        field = _child(prop.name, parent)
        col = col_for(field)
        rules.update(_field_rules(prop, field, compile_sql, col))
        ptype = prop.type
        if "::" in ptype:
            if model.is_enumeration(ptype):
                values = ", ".join(f"'{v}'" for v in model.get_enumeration(ptype).values)
                rules[f"[{field}] not allowed value"] = (
                    f"({col} IS NULL OR {col} IN ({values}))" if compile_sql
                    else f"$this.{field}->isEmpty() || $this.{field}->in([{values}])")
            elif model.is_class(ptype):
                # recurse unless a collection of classes (Legend.scala:396-405)
                if not prop.multiplicity.is_collection:
                    rules.update(class_expectations(
                        model, model.get_class(ptype), compile_sql,
                        renames, parent=field))
            else:
                raise LegendModelError(
                    f"nested entities should be [enumeration] or [class], "
                    f"got unresolvable [{ptype}]")

    # business constraints, null-guarded (LegendPureTest.scala:72-80)
    if not parent:  # constraints evaluated at top level only
        ctx = Context(model=model, cls=cls, renames=renames,
                      style=EXPECTATION_STYLE, guard_nullable=True)
        for constraint in model.all_constraints(cls):
            if not constraint.body:
                continue
            if compile_sql:
                rules[constraint.name] = to_sql(constraint.body[0], ctx)
            else:
                rules[constraint.name] = to_pure(constraint.body[0])
    return rules


def entity_expectations(model: LegendModel, entity_path: str,
                        compile_sql: bool = False) -> Rules:
    """Entity-level expectations (PURE form by default — no table binding)."""
    return class_expectations(model, model.get_class(entity_path), compile_sql)


def mapping_expectations(model: LegendModel, mapping_path: str,
                         compile_sql: bool = True) -> Rules:
    """Mapping-level expectations (SQL with mapped column names by default)."""
    mapping = model.get_mapping(mapping_path)
    cls = model.get_class(mapping.class_path)
    return class_expectations(model, cls, compile_sql, mapping.property_columns)
