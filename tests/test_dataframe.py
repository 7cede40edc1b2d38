"""``legend_transform`` / ``legend_validate`` / ``dq_metrics``: exact rule
names, rule-SQL edge cases, pointed errors, and a driver-side cost that
does not grow per rule or per column."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.errors import AnalysisException, ParseException
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from conftest import SF_DIR, py4j_round_trips
from legend_community_delta_spark import (Legend, dq_metrics, load_dicts,
                                          legend_transform, legend_validate)
from legend_community_delta_spark.demo import TPCH_ENTITIES

AWKWARD_NAMES = ["plain", "it's", "back\\slash \\n", 'say "hi"',
                 "two\nlines", "-- not a comment", "/* nor this */",
                 "naïve ✓ 名前", "${spark.app.name}", ""]


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_rule_names_come_back_exactly(spark, escaped):
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        df = spark.createDataFrame([(1,), (-1,)], "id int")
        rules = {name: "id < 0" for name in AWKWARD_NAMES}
        got = {r.id: r.legend for r in legend_validate(df, rules).collect()}
    finally:
        spark.conf.set(key, before)
    assert got == {1: AWKWARD_NAMES, -1: []}


def test_rule_sql_edge_cases(spark):
    df = spark.createDataFrame([(20, 1), (-1, None)], "id int, v int")
    rules = {"positive": "id > 0 -- ends in a comment",
             "small": "id < 10",
             "v set": "v > 0"}           # NULL for the second row
    got = {r.id: r.legend for r in legend_validate(df, rules).collect()}
    assert got == {20: ["small"], -1: ["positive", "v set"]}
    assert legend_validate(df, {}).first().legend == []


def test_unknown_column_raises_at_validate_time(spark):
    df = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(AnalysisException, match="nope"):
        legend_validate(df, {"ok": "id > 0", "bad": "nope > 0"})


def test_unparsable_rule_is_named(spark):
    df = spark.createDataFrame([(1,)], "id int")
    rules = {"ok": "id > 0", "unknown column": "nope > 0",
             "broken": "id >", "also broken": "(("}
    with pytest.raises(ValueError, match="'broken'") as err:
        legend_validate(df, rules)
    assert isinstance(err.value.__cause__, ParseException)


def test_transform_keeps_order_and_passes_unmapped(spark):
    df = spark.createDataFrame([(1, 2, 3)], "a int, `b.c` int, d int")
    out = legend_transform(df, {"b.c": "x.y", "a": "A", "gone": "G"})
    assert out.columns == ["A", "x.y", "d"]
    assert tuple(out.first()) == (1, 2, 3)
    assert out.select("`x.y`").first()[0] == 2


def _independent_counts(df, expectations):
    counts = {name: df.where(~F.expr(sql).eqNullSafe(F.lit(True))).count()
              for name, sql in expectations.items()}
    return {name: n for name, n in counts.items() if n}


def _dq(df, expectations):
    return {r.rule: r.violations
            for r in dq_metrics(df, expectations).collect()}


def test_dq_metrics_match_per_rule_counts_employee(legend_spark, spark):
    legend = legend_spark
    d = dt.date
    rows = [("Ada", "L", d(1980, 3, 14), "F", 1, "Python", d(2015, 6, 1), 3),
            ("Bo", "K", d(1975, 1, 2), "M", None, "SQL", None, 1),
            ("Cy", "P", d(1970, 1, 1), "M", 3, "C", d(1995, 5, 5), None),
            ("Di", "Q", d(2000, 7, 7), None, 4, "Java", d(2015, 8, 8), 0),
            (None, None, None, None, None, None, None, None)]
    # schema-on-read: the model's mandatory fields arrive nullable
    schema = StructType([StructField(f.name, f.dataType) for f in
                         legend.get_schema("demo::entity::employee")])
    bronze = spark.createDataFrame(rows, schema)
    mapping = "demo::mapping::employee_delta"
    silver = legend_transform(bronze, legend.get_transformations(mapping))
    ex = legend.get_expectations(mapping)
    want = _independent_counts(silver, ex)
    assert len(want) >= 5 and _dq(silver, ex) == want


def test_dq_metrics_match_per_rule_counts_lineitem(spark):
    legend = Legend(load_dicts(TPCH_ENTITIES), spark)
    ex = legend.get_expectations("tpch::mapping::lineitem_delta")
    lineitem = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    # a few rows outside the model's bounds, so several rules count
    bad = lineitem.limit(7).withColumn("l_discount", F.lit(0.5)) \
        .withColumn("l_returnflag", F.lit("Z"))
    df = lineitem.unionByName(bad)
    want = _independent_counts(df, ex)
    assert len(want) >= 2 and _dq(df, ex) == want


def test_driver_round_trips_do_not_grow_per_rule_or_column(spark):
    # building Column by Column cost ~38 Py4J round trips per rule and
    # ~25 per column; the SQL text costs a constant, and the rename
    # only ships its list of names (Py4J sends a list one item at a time)
    def validate_trips(n_rules):
        df = spark.range(3)
        rules = {f"rule {i}": f"id <> {i}" for i in range(n_rules)}
        with py4j_round_trips() as calls:
            legend_validate(df, rules)
        return len(calls)

    def transform_trips(n_cols):
        df = spark.range(1).selectExpr(*[f"id AS c{i}" for i in range(n_cols)])
        tf = {f"c{i}": f"t{i}" for i in range(0, n_cols, 2)}
        with py4j_round_trips() as calls:
            legend_transform(df, tf)
        return len(calls)

    validate_trips(2), transform_trips(3)        # warm the JVM side
    v2, v40 = validate_trips(2), validate_trips(40)
    t3, t60 = transform_trips(3), transform_trips(60)
    assert v2 <= 10 and v40 <= v2 + 2, (v2, v40)
    assert t3 <= 15 and t60 - t3 <= 60 - 3, (t3, t60)
