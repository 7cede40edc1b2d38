"""Query synthesis goldens (reference ``LegendEntityTest.scala:201-244``).

Deviation (documented in plans/query.py): select-list / WHERE order follows
model declaration order instead of Scala Map hash order; contents identical.
"""

from __future__ import annotations

import pytest

from legend_community_delta_spark import LegendModelError


MAPPING_SQL = (
    "select "
    "`root`.first_name as `firstName`, "
    "`root`.last_name as `lastName`, "
    "`root`.birth_date as `birthDate`, "
    "`root`.gender as `gender`, "
    "`root`.id as `id`, "
    "`root`.sme as `sme`, "
    "`root`.joined_date as `joinedDate`, "
    "`root`.high_fives as `highFives`, "
    "year(`root`.joined_date) - year(`root`.birth_date) as `hiringAge`, "
    "year(current_date) - year(`root`.birth_date) as `age`, "
    "concat(substring(`root`.first_name, 0, 1), substring(`root`.last_name, 0, 1)) as `initials` "
    "from legend.employee as `root` "
    "where `root`.first_name is not null "
    "and `root`.last_name is not null "
    "and `root`.birth_date is not null "
    "and `root`.id is not null "
    "and (`root`.sme is null or `root`.sme in ('Scala', 'Python', 'Java', 'R', 'SQL')) "
    "and `root`.joined_date is not null "
    "and (`root`.high_fives is not null and `root`.high_fives > 0)"
)

# NOTE deviation from LegendEntityTest.scala:235: the reference emits
# `avg(1.0 * col)` under the Databricks dialect where 1.0 is DOUBLE; Spark
# types 1.0 as DECIMAL(2,1), so we add an explicit double cast to preserve
# the *semantic* golden (double-typed average).
SKILLS_SQL = (
    "select `root`.gender as `Gender`, "
    "avg(cast(1.0 * `root`.high_fives as double)) as `HighFives`, "
    "count(`root`.id) as `Employees` "
    "from legend.employee as `root` "
    "where not `root`.gender is null "
    "group by `Gender` "
    "order by `HighFives` desc "
    "limit 10"
)


def test_generate_sql_mapping(legend):
    assert legend.generate_sql("demo::mapping::employee_delta") == MAPPING_SQL


def test_generate_sql_service_skills(legend):
    # exactly the reference golden (LegendEntityTest.scala:229-244)
    assert legend.generate_sql("demo::service::skills") == SKILLS_SQL


def test_generate_sql_service_employee(legend):
    sql = legend.generate_sql("demo::service::employee")
    assert sql.startswith("select `root`.first_name as `FirstName`, ")
    assert "`root`.first_name like 'G%'" in sql
    assert "year(current_date) - year(`root`.birth_date) as `Age`" in sql
    assert ("concat(substring(`root`.first_name, 0, 1), "
            "substring(`root`.last_name, 0, 1)) as `Initials`") in sql
    assert sql.endswith("order by `HighFives` desc limit 10")


def test_unknown_path_raises(legend):
    with pytest.raises(LegendModelError):
        legend.generate_sql("demo::entity::person")


def test_unknown_property_raises(legend):
    from legend_community_delta_spark.plans.compiler import Context, to_sql
    from fixtures import this_prop
    ctx = Context(model=legend.model, cls=legend.model.get_class("demo::entity::employee"))
    with pytest.raises(LegendModelError):
        to_sql(this_prop("nickName"), ctx)


def _hiring_legend(spark=None):
    """A mapped class with a renamed nested-class property (``home``), a
    nullable data property ``hiring``, and a constraint over the derived
    ``hiringAge`` whose name starts with ``hiring``; plus a mapped class
    with no data properties."""
    from legend_community_delta_spark import Legend, load_dicts
    from fixtures import func, integer, prop_def, this_prop

    def cls(name, props, derived=(), constraints=()):
        return {"content": {
            "_type": "class", "package": "t", "name": name, "properties": props,
            "qualifiedProperties": [
                {"name": n, "returnType": "Integer",
                 "returnMultiplicity": {"lowerBound": 1, "upperBound": 1},
                 "parameters": [], "body": [body]} for n, body in derived],
            "constraints": [
                {"name": n, "functionDefinition": {
                    "_type": "lambda", "parameters": [], "body": [body]}}
                for n, body in constraints]}}

    def mapping(name, cls_path, table, columns):
        return {"content": {
            "_type": "mapping", "package": "t", "name": name,
            "classMappings": [{
                "_type": "relational", "class": cls_path,
                "mainTable": {"_type": "Table", "schema": "default",
                              "table": table},
                "propertyMappings": [
                    {"_type": "relationalPropertyMapping",
                     "property": {"class": cls_path, "property": p},
                     "relationalOperation": {"_type": "column", "column": c}}
                    for p, c in columns.items()]}]}}

    age = ("hiringAge", func("plus", this_prop("n"), integer(1)))
    over_18 = ("[hiringAge] over 18",
               func("greaterThan", this_prop("hiringAge"), integer(18)))
    return Legend(load_dicts([
        cls("addr", [prop_def("city", "String")]),
        cls("c", [prop_def("home", "t::addr"),
                  prop_def("hiring", "Integer", lower=0),
                  prop_def("n", "Integer")], [age], [over_18]),
        mapping("m", "t::c", "hiring_t", {"home": "home_col"}),
        cls("d", [], [("one", integer(1))],
            [("[one] positive", func("greaterThan", this_prop("one"), integer(0)))]),
        mapping("md", "t::d", "empty_t", {}),
    ]), spark)


def test_mapping_filter_matches_property_names_at_word_boundary():
    legend = _hiring_legend()
    sql = legend.generate_sql("t::m")
    # `$this.hiringAge > 18` names no data property: `hiring` is a prefix
    assert "> 18" not in sql
    assert sql.endswith(" from hiring_t as `root` "
                        "where `root`.home_col is not null "
                        "and `root`.home_col.city is not null "
                        "and `root`.n is not null")
    # no data property, so no rule can apply
    assert legend.generate_sql("t::md") == (
        "select 1 as `one` from empty_t as `root`")


def test_mapping_query_keeps_exactly_the_rows_validation_passes(spark):
    from legend_community_delta_spark import legend_validate

    legend = _hiring_legend(spark)
    df = spark.createDataFrame(
        [({"city": None}, 1, 20),     # fails [home.city] is mandatory
         ({"city": "Oslo"}, 2, None),  # fails [n] is mandatory
         ({"city": "Rome"}, 3, 30)],   # passes every rule
        "home_col struct<city: string>, hiring int, n int")
    df.createOrReplaceTempView("hiring_t")
    try:
        validated = legend_validate(df, legend.get_expectations("t::m"))
        passed = {r.hiring for r in validated.where("size(legend) = 0").collect()}
        queried = {r.hiring for r in spark.sql(legend.generate_sql("t::m")).collect()}
    finally:
        spark.catalog.dropTempView("hiring_t")
    assert passed == queried == {3}
