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
names (pinned by ``python/tests/tests.py:74-88``), the head of a nested
field included.  The same function renders the mapping query's WHERE
clause (``plans/query.mapping_sql``) by passing ``style=QUERY_STYLE``.
"""

from __future__ import annotations

from .model.entities import LegendModelError, Property, PureClass
from .model.loader import LegendModel
from .plans.compiler import EXPECTATION_STYLE, Context, SqlStyle, to_pure, to_sql

Rules = dict[str, str]


def _child(name: str, parent: str) -> str:
    """Dotted nested-field naming (reference ``LegendUtils.childFieldName``)."""
    return f"{parent}.{name}" if parent else name


def _field_rules(model: LegendModel, prop: Property, field: str,
                 compile_sql: bool, col: str, S: SqlStyle) -> Rules:
    """Mandatory, size and allowed-value rules for one property
    (``Legend.scala:552-595``)."""
    rules: Rules = {}
    if not prop.multiplicity.nullable:
        rules[f"[{field}] is mandatory"] = (
            f"{col} {S.kw('IS NOT NULL')}" if compile_sql
            else f"$this.{field}->isNotEmpty()")
    if prop.multiplicity.is_collection:
        lb = prop.multiplicity.lower
        ub = prop.multiplicity.upper
        if ub is None:
            rules[f"[{field}] has invalid size"] = (
                f"{col} {S.kw('IS NULL')} {S.kw('OR')} {S.kw('SIZE')}({col}) >= {lb}"
                if compile_sql else
                f"$this.{field}->isEmpty() || $this.{field}->size() >= {lb}")
        else:
            rules[f"[{field}] has invalid size"] = (
                f"{col} {S.kw('IS NULL')} {S.kw('OR')} ({S.kw('SIZE')}({col}) "
                f"{S.kw('BETWEEN')} {lb} {S.kw('AND')} {ub})"
                if compile_sql else
                f"$this.{field}->isEmpty() || ($this.{field}->size() >= {lb}"
                f" && $this.{field}->size() <= {ub})")
    if model.is_enumeration(prop.type):
        values = ", ".join(f"'{v}'" for v in model.get_enumeration(prop.type).values)
        rules[f"[{field}] not allowed value"] = (
            f"({col} {S.kw('IS NULL')} {S.kw('OR')} {col} {S.kw('IN')} ({values}))"
            if compile_sql else
            f"$this.{field}->isEmpty() || $this.{field}->in([{values}])")
    return rules


def class_expectations(model: LegendModel, cls: PureClass,
                       compile_sql: bool = True,
                       renames: dict[str, str] | None = None,
                       parent: str = "",
                       style: SqlStyle = EXPECTATION_STYLE) -> Rules:
    """All expectations for a class (recursing nested classes).

    *renames* maps **top-level** property names to physical columns
    (mapping mode); a nested field's dotted name gets its top-level head
    renamed (``home.city`` -> ``home_col.city``).  *style* renders the
    compiled SQL: :data:`EXPECTATION_STYLE` (uppercase keywords, bare
    columns) for DQ, :data:`QUERY_STYLE` (lowercase, ```root`.``
    columns) for the mapping query's WHERE clause.
    """
    renames = renames or {}
    rules: Rules = {}
    for prop in model.all_properties(cls):
        field = _child(prop.name, parent)
        head, dot, rest = field.partition(".")
        col = style.col(renames.get(head, head) + dot + rest)
        rules.update(_field_rules(model, prop, field, compile_sql, col, style))
        ptype = prop.type
        if "::" in ptype and not model.is_enumeration(ptype):
            if not model.is_class(ptype):
                raise LegendModelError(
                    f"nested entities should be [enumeration] or [class], "
                    f"got unresolvable [{ptype}]")
            # recurse unless a collection of classes (Legend.scala:396-405)
            if not prop.multiplicity.is_collection:
                rules.update(class_expectations(
                    model, model.get_class(ptype), compile_sql,
                    renames, parent=field, style=style))

    # business constraints, null-guarded (LegendPureTest.scala:72-80)
    if not parent:  # constraints evaluated at top level only
        ctx = Context(model=model, cls=cls, renames=renames,
                      style=style, guard_nullable=True)
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
