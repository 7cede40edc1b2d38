"""Query synthesis: mapping queries and service lambdas -> Spark SQL.

Replaces the legend-engine plan-generation path of the reference
(``Legend.scala:105-149``, ``LegendUtils.scala:162-175``): instead of
PURE-parse -> typed lambda -> SingleExecutionPlan -> SQLExecutionNode, we
compile the value-spec AST straight to one SQL SELECT, then hand it to
``spark.sql`` — from there Catalyst/AQE own optimization (predicate
pushdown, column pruning, whole-stage codegen), exactly as in the
reference's execution model.

Golden shapes (``LegendEntityTest.scala:201-244``)::

    select `root`.first_name as `firstName`, ...,
           year(`root`.joined_date) - year(`root`.birth_date) as `hiringAge`, ...
    from legend.employee as `root`
    where `root`.id is not null and ...

    select `root`.gender as `Gender`, avg(1.0 * `root`.high_fives) as
    `HighFives`, count(`root`.id) as `Employees` from legend.employee as
    `root` where not `root`.gender is null group by `Gender` order by
    `HighFives` desc limit 10

The mapping query's WHERE clause is the class's DQ rule set
(``expectations.class_expectations``, nested-class rules included) rendered
in query style, keeping each rule whose PURE text names a data property
at a word boundary.  Expressions and aggregates render through
``compiler.to_sql``.

Deviations from the reference (documented): select-list and WHERE-conjunct
*order* follows model declaration order, not Scala ``Map`` hash order —
semantics are identical, ours is deterministic.  ``average`` renders as
``avg(cast(1.0 * col as double))``: Spark types the literal 1.0 as
DECIMAL(2,1) where the reference's Databricks dialect types it DOUBLE, so
the cast keeps the double-typed average.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from typing import Any

from ..expectations import class_expectations
from ..model.entities import LegendModelError, Mapping, PureClass, Service
from ..model.loader import LegendModel
from . import ast as A
from .compiler import QUERY_STYLE, Context, to_sql

Node = dict[str, Any]


# ---------------------------------------------------------------------------
# Logical plan extracted from a service lambda
# ---------------------------------------------------------------------------


@dataclass
class ServicePlan:
    class_path: str
    filters: list[Node] = dc_field(default_factory=list)        # lambda nodes
    projections: list[tuple[str, Node]] = dc_field(default_factory=list)
    group_keys: list[tuple[str, Node]] = dc_field(default_factory=list)
    aggregates: list[tuple[str, Node, Node]] = dc_field(default_factory=list)
    sorts: list[tuple[str, str]] = dc_field(default_factory=list)  # (alias, asc|desc)
    limit: int | None = None
    distinct: bool = False


def parse_service_lambda(func: Node) -> ServicePlan:
    """Unwind the nested func chain take(sort(groupBy(filter(getAll(C)))))."""
    body = A.lambda_body(func) if A.is_lambda(func) else func
    plan = ServicePlan(class_path="")

    def walk(node: Node) -> None:
        if not A.is_func(node):
            raise LegendModelError(f"unexpected node in query chain: {A.node_type(node)}")
        name = A.func_name(node)
        params = A.func_params(node)
        if name in ("getAll", "all"):
            plan.class_path = A.element_path(params[0])
            return
        walk(params[0])  # recurse into the source first (left-to-right order)
        if name == "filter":
            plan.filters.append(params[1])
        elif name == "project":
            lambdas = A.collection_values(params[1]) if A.is_collection(params[1]) else [params[1]]
            names = [A.single_literal(n) for n in A.collection_values(params[2])] \
                if len(params) > 2 else []
            for i, lam in enumerate(lambdas):
                alias = names[i] if i < len(names) else f"col_{i}"
                plan.projections.append((alias, lam))
        elif name == "groupBy":
            key_lambdas = A.collection_values(params[1])
            agg_specs = A.collection_values(params[2])
            names = [A.single_literal(n) for n in A.collection_values(params[3])]
            for i, lam in enumerate(key_lambdas):
                plan.group_keys.append((names[i], lam))
            for j, spec in enumerate(agg_specs):
                if not A.is_func(spec, "agg"):
                    raise LegendModelError("groupBy aggregate must be agg(map, fn)")
                map_l, agg_l = A.func_params(spec)
                plan.aggregates.append((names[len(key_lambdas) + j], map_l, agg_l))
        elif name == "sort":
            specs = A.collection_values(params[1]) if A.is_collection(params[1]) else [params[1]]
            for s in specs:
                if A.is_func(s, "desc") or A.is_func(s, "asc"):
                    alias = A.single_literal(A.func_params(s)[0])
                    plan.sorts.append((alias, A.func_name(s)))
                else:  # bare string -> asc
                    plan.sorts.append((A.single_literal(s), "asc"))
        elif name == "take" or name == "limit":
            plan.limit = int(A.single_literal(params[1]))
        elif name == "distinct":
            plan.distinct = True
        else:
            raise LegendModelError(f"unsupported query operator [{name}]")

    walk(body)
    if not plan.class_path:
        raise LegendModelError("query chain has no getAll() source")
    return plan


# ---------------------------------------------------------------------------
# SQL generation
# ---------------------------------------------------------------------------


def _compile_lambda_body(lam: Node, ctx: Context) -> str:
    body = A.lambda_body(lam) if A.is_lambda(lam) else lam
    return to_sql(body, ctx)


_AGGREGATES = {"average", "count", "sum", "min", "max", "stdDevPopulation",
               "stdDevSample", "distinct"}


def _agg_sql(map_lambda: Node, agg_lambda: Node, ctx: Context) -> str:
    """Compile agg(x|$x.col, x|$x->fn()) by substituting the mapped column
    expression into the aggregation function, rendered by the compiler."""
    map_body = A.lambda_body(map_lambda) if A.is_lambda(map_lambda) else map_lambda
    agg_body = A.lambda_body(agg_lambda) if A.is_lambda(agg_lambda) else agg_lambda
    if not A.is_func(agg_body):
        raise LegendModelError("aggregation lambda must be a function call")
    fn = A.func_name(agg_body)
    if fn not in _AGGREGATES:
        raise LegendModelError(f"unsupported aggregate [{fn}]")
    if fn == "distinct":
        return f"count(distinct {to_sql(map_body, ctx)})"
    return to_sql({**agg_body, "parameters": [map_body]}, ctx)


def service_sql(model: LegendModel, service: Service, table: str,
                cls: PureClass, renames: dict[str, str]) -> str:
    plan = parse_service_lambda(service.func)
    return plan_sql(model, plan, table, cls, renames)


def plan_sql(model: LegendModel, plan: ServicePlan, table: str,
             cls: PureClass, renames: dict[str, str]) -> str:
    ctx = Context(model=model, cls=cls, renames=renames, style=QUERY_STYLE,
                  guard_nullable=False)
    select_items: list[str] = []
    group_by: list[str] = []

    if plan.group_keys or plan.aggregates:
        for alias, lam in plan.group_keys:
            select_items.append(f"{_compile_lambda_body(lam, ctx)} as `{alias}`")
            group_by.append(f"`{alias}`")
        for alias, map_l, agg_l in plan.aggregates:
            select_items.append(f"{_agg_sql(map_l, agg_l, ctx)} as `{alias}`")
    elif plan.projections:
        for alias, lam in plan.projections:
            select_items.append(f"{_compile_lambda_body(lam, ctx)} as `{alias}`")
    else:
        # bare scan/filter: project every mapped field plus derivations
        select_items = _entity_select(ctx)

    head = "select distinct " if plan.distinct else "select "
    sql = head + ", ".join(select_items) + f" from {table} as `root`"
    if plan.filters:
        conjuncts = [_compile_lambda_body(f, ctx) for f in plan.filters]
        sql += " where " + " and ".join(conjuncts)
    if group_by:
        sql += " group by " + ", ".join(group_by)
    if plan.sorts:
        sql += " order by " + ", ".join(
            f"`{alias}`" if order == "asc" else f"`{alias}` {order}"
            for alias, order in plan.sorts)
    if plan.limit is not None:
        sql += f" limit {plan.limit}"
    return sql


def _entity_select(ctx: Context) -> list[str]:
    """Select items for every mapped field (renamed back to its entity
    property name) plus every derivation, compiled in *ctx*."""
    model, cls = ctx.model, ctx.cls
    items = [f"`root`.{ctx.renames.get(p.name, p.name)} as `{p.name}`"
             for p in model.all_properties(cls)]
    items += [f"{to_sql(qp.body[0], ctx)} as `{qp.name}`"
              for qp in model.all_qualified_properties(cls) if qp.body]
    return items


def mapping_sql(model: LegendModel, mapping: Mapping) -> str:
    """Synthesize the flagship mapping query (``Legend.scala:110-139``):
    select every mapped field (renamed back to entity property names) plus
    every derivation, pre-filtered by every expectation that mentions a
    mapped field, nested-class rules included.  The reference keeps a rule
    when its PURE text ``contains`` a field name (``Legend.scala:125-127``);
    we keep it when the text matches ``$this.<property>`` at a word
    boundary, so a rule over ``$this.hiringAge`` is not kept because a data
    property is named ``hiring``.  The kept rules are the DQ rules of
    :func:`class_expectations`, rendered in query style."""
    cls = model.get_class(mapping.class_path)
    renames = mapping.property_columns
    select_items = _entity_select(Context(
        model=model, cls=cls, renames=renames, style=QUERY_STYLE,
        guard_nullable=False))
    sql = "select " + ", ".join(select_items)
    sql += f" from {mapping.qualified_table} as `root`"
    props = [re.escape(p.name) for p in model.all_properties(cls)]
    if not props:
        return sql
    mentions = re.compile(r"\$this\.(?:%s)\b" % "|".join(props))
    pure_rules = class_expectations(model, cls, compile_sql=False)
    query_rules = class_expectations(model, cls, renames=renames,
                                     style=QUERY_STYLE)
    conjuncts = [query_rules[name] for name, text in pure_rules.items()
                 if mentions.search(text)]
    if conjuncts:
        sql += " where " + " and ".join(conjuncts)
    return sql
