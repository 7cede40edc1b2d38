"""Expectation + derivation compiler goldens.

SQL strings pinned by the reference: ``python/tests/tests.py:74-115``,
``LegendEntityTest.scala:140-199``.
"""

from __future__ import annotations


def test_mapping_expectations_sql(legend):
    expected = {
        "[firstName] is mandatory": "first_name IS NOT NULL",
        "[lastName] is mandatory": "last_name IS NOT NULL",
        "[birthDate] is mandatory": "birth_date IS NOT NULL",
        "[id] is mandatory": "id IS NOT NULL",
        "[joinedDate] is mandatory": "joined_date IS NOT NULL",
        "[sme] not allowed value":
            "(sme IS NULL OR sme IN ('Scala', 'Python', 'Java', 'R', 'SQL'))",
        "[high five] should be positive":
            "(high_fives IS NOT NULL AND high_fives > 0)",
        "[hiringAge] should be > 18":
            "year(joined_date) - year(birth_date) > 18",
    }
    assert legend.get_expectations("demo::mapping::employee_delta") == expected


def test_entity_expectations_pure(legend):
    # PURE forms pinned by LegendEntityTest.scala:140-150
    observed = set(legend.get_expectations("demo::entity::employee").values())
    assert observed == {
        "$this.highFives > 0",
        "$this.firstName->isNotEmpty()",
        "$this.sme->isEmpty() || $this.sme->in(['Scala', 'Python', 'Java', 'R', 'SQL'])",
        "$this.id->isNotEmpty()",
        "$this.birthDate->isNotEmpty()",
        "$this.lastName->isNotEmpty()",
        "$this.joinedDate->isNotEmpty()",
        "$this.hiringAge > 18",
    }


def test_transformations(legend):
    assert legend.get_transformations("demo::mapping::employee_delta") == {
        "firstName": "first_name", "lastName": "last_name",
        "birthDate": "birth_date", "gender": "gender", "id": "id",
        "sme": "sme", "joinedDate": "joined_date", "highFives": "high_fives",
    }


def test_mapping_derivations_sql(legend):
    assert legend.get_derivations("demo::mapping::employee_delta") == {
        "hiringAge": "year(joined_date) - year(birth_date)",
        "age": "year(current_date) - year(birth_date)",
        "initials":
            "concat(substring(first_name, 0, 1), substring(last_name, 0, 1))",
    }


def test_entity_derivations_pure(legend):
    # pinned by LegendEntityTest.scala:178-188
    observed = set(legend.get_derivations("demo::entity::employee").values())
    assert observed == {
        "$this.birthDate->dateDiff($this.joinedDate,DurationUnit.YEARS)",
        "$this.birthDate->dateDiff(today(),DurationUnit.YEARS)",
        "$this.firstName->substring(0,1) + $this.lastName->substring(0,1)",
    }


def test_size_rules():
    from legend_community_delta_spark import load_dicts
    from legend_community_delta_spark.expectations import class_expectations
    from fixtures import prop_def

    model = load_dicts([{"content": {
        "_type": "class", "package": "t", "name": "c",
        "properties": [
            prop_def("tags", "String", lower=1, upper=None),
            prop_def("pair", "String", lower=0, upper=2),
        ],
        "qualifiedProperties": [], "constraints": []}}])
    rules = class_expectations(model, model.get_class("t::c"), compile_sql=True)
    assert rules["[tags] has invalid size"] == \
        "tags IS NULL OR SIZE(tags) >= 1"
    assert rules["[pair] has invalid size"] == \
        "pair IS NULL OR (SIZE(pair) BETWEEN 0 AND 2)"
    # non-compiled PURE form (Legend.scala:571-591)
    pure = class_expectations(model, model.get_class("t::c"), compile_sql=False)
    assert pure["[tags] has invalid size"] == \
        "$this.tags->isEmpty() || $this.tags->size() >= 1"


def test_nested_class_expectations():
    from legend_community_delta_spark import load_dicts
    from legend_community_delta_spark.expectations import class_expectations
    from fixtures import prop_def

    model = load_dicts([
        {"content": {"_type": "class", "package": "t", "name": "addr",
                     "properties": [prop_def("city", "String")],
                     "qualifiedProperties": [], "constraints": []}},
        {"content": {"_type": "class", "package": "t", "name": "c",
                     "properties": [
                         prop_def("home", "t::addr"),
                         prop_def("offices", "t::addr", lower=0, upper=None)],
                     "qualifiedProperties": [], "constraints": []}},
    ])
    rules = class_expectations(model, model.get_class("t::c"), compile_sql=True)
    # nested mandatory recursion with dotted names
    assert rules["[home.city] is mandatory"] == "home.city IS NOT NULL"
    # a mapped nested field's SQL renames its head like the top-level rule
    renamed = class_expectations(model, model.get_class("t::c"),
                                 renames={"home": "home_col"})
    assert renamed["[home.city] is mandatory"] == "home_col.city IS NOT NULL"
    # collections of classes are NOT recursed (Legend.scala:396-405)
    assert not any(k.startswith("[offices.") for k in rules)
