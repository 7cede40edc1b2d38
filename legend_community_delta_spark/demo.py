"""Demo model + query suite over the driver's synthetic TPC-H-ish tables.

This is the engine's showcase and the correctness-gate surface: a Legend
model authored over the ``orders``/``lineitem``/``part`` tables exercises
the metadata-compiler path (mapping query synthesis, service compilation,
expectations), while the relational/training-data queries exercise the
operator library.  ``__spark_entry__.py`` and ``bench.py`` both import
from here.

Determinism contract with the DuckDB oracle (driver hashes values):

* monetary aggregates go through DECIMAL casts (exact sums) and convert to
  DOUBLE at the end — bit-identical across engines;
* averages are written as exact-sum / count (double division of identical
  operands);
* every ORDER BY ... LIMIT carries a unique tie-break key;
* floating similarity scores are rounded to 6 decimals on both sides.
"""

from __future__ import annotations

import os
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from .dataframe import dq_metrics
from .functions import local_df
from .legend import Legend
from .model.loader import load_dicts
from .operators import dedup as DD
from .operators import similarity as SIM
from .functions import text as TX

# ---------------------------------------------------------------------------
# A Legend model over the TPC-H-ish tables (authored in-code)
# ---------------------------------------------------------------------------


def _prop(name: str, ptype: str, lower: int = 1, upper: int | None = 1) -> dict:
    return {"name": name, "type": ptype,
            "multiplicity": {"lowerBound": lower,
                             **({"upperBound": upper} if upper is not None else {})}}


def _this(name: str) -> dict:
    return {"_type": "property", "property": name,
            "parameters": [{"_type": "var", "name": "this"}]}


def _var(v: str, name: str) -> dict:
    return {"_type": "property", "property": name,
            "parameters": [{"_type": "var", "name": v}]}


def _fn(name: str, *params: dict) -> dict:
    return {"_type": "func", "function": name, "parameters": list(params)}


def _int(v: int) -> dict:
    return {"_type": "integer", "values": [v],
            "multiplicity": {"lowerBound": 1, "upperBound": 1}}


def _float(v: float) -> dict:
    return {"_type": "float", "values": [v],
            "multiplicity": {"lowerBound": 1, "upperBound": 1}}


def _str(v: str) -> dict:
    return {"_type": "string", "values": [v],
            "multiplicity": {"lowerBound": 1, "upperBound": 1}}


def _lam(body: dict, param: str = "x") -> dict:
    return {"_type": "lambda", "body": [body],
            "parameters": [{"_type": "var", "name": param}]}


def _coll(*values: dict) -> dict:
    return {"_type": "collection", "values": list(values),
            "multiplicity": {"lowerBound": len(values), "upperBound": len(values)}}


def _mapping(pkg: str, name: str, class_path: str, table: str,
             columns: dict[str, str]) -> dict:
    return {"content": {
        "_type": "mapping", "package": pkg, "name": name,
        "classMappings": [{
            "_type": "relational", "class": class_path,
            "mainTable": {"_type": "Table", "schema": "", "table": table},
            "propertyMappings": [
                {"_type": "relationalPropertyMapping",
                 "property": {"class": class_path, "property": p},
                 "relationalOperation": {"_type": "column", "column": c}}
                for p, c in columns.items()]}]}}


ORDER_STATUS_VALUES = ["O", "F", "P"]

TPCH_ENTITIES: list[dict] = [
    {"content": {"_type": "Enumeration", "package": "tpch::entity",
                 "name": "orderstatus",
                 "values": [{"value": v} for v in ORDER_STATUS_VALUES]}},
    {"content": {"_type": "Enumeration", "package": "tpch::entity",
                 "name": "returnflag",
                 "values": [{"value": v} for v in ["A", "N", "R"]]}},
    {"content": {
        "_type": "class", "package": "tpch::entity", "name": "order",
        "superTypes": [],
        "properties": [
            _prop("orderKey", "Number"),
            _prop("custKey", "Number"),
            _prop("orderStatus", "tpch::entity::orderstatus"),
            _prop("totalPrice", "Decimal"),
            _prop("orderDate", "DateTime"),
            _prop("orderPriority", "String", lower=0),
        ],
        "qualifiedProperties": [
            {"name": "orderYear", "returnType": "Integer",
             "returnMultiplicity": {"lowerBound": 1, "upperBound": 1},
             "parameters": [], "body": [_fn("year", _this("orderDate"))]},
            # composed derived property (reference employee.initials shape:
            # substring over a mapped column, person.json:derivedProperties)
            {"name": "priorityClass", "returnType": "String",
             "returnMultiplicity": {"lowerBound": 1, "upperBound": 1},
             "parameters": [],
             "body": [_fn("substring", _this("orderPriority"),
                          _int(0), _int(1))]},
        ],
        "constraints": [
            {"name": "[totalPrice] must be positive",
             "functionDefinition": {"_type": "lambda", "parameters": [],
                                    "body": [_fn("greaterThan", _this("totalPrice"),
                                                 _int(0))]}},
        ]}},
    {"content": {
        "_type": "class", "package": "tpch::entity", "name": "lineitem",
        "superTypes": [],
        "properties": [
            _prop("orderKey", "Number"),
            _prop("partKey", "Number"),
            _prop("suppKey", "Number"),
            _prop("lineNumber", "Integer"),
            _prop("quantity", "Decimal"),
            _prop("extendedPrice", "Decimal"),
            _prop("discount", "Decimal"),
            _prop("tax", "Decimal"),
            _prop("returnFlag", "tpch::entity::returnflag"),
            _prop("lineStatus", "String"),
            _prop("shipDate", "DateTime"),
        ],
        "qualifiedProperties": [],
        "constraints": [
            {"name": "[discount] should be positive",
             "functionDefinition": {"_type": "lambda", "parameters": [],
                                    "body": [_fn("greaterThan", _this("discount"),
                                                 _int(0))]}},
            {"name": "[tax] below cap",
             "functionDefinition": {"_type": "lambda", "parameters": [],
                                    "body": [_fn("lessThan", _this("tax"),
                                                 _float(0.05))]}},
        ]}},
    {"content": {
        "_type": "class", "package": "tpch::entity", "name": "part",
        "superTypes": [],
        "properties": [
            _prop("partKey", "Number"),
            _prop("name", "String"),
            _prop("brand", "String"),
            _prop("type", "String"),
            _prop("size", "Integer"),
            _prop("retailPrice", "Decimal"),
        ],
        "qualifiedProperties": [], "constraints": []}},
    _mapping("tpch::mapping", "orders_delta", "tpch::entity::order", "orders", {
        "orderKey": "o_orderkey", "custKey": "o_custkey",
        "orderStatus": "o_orderstatus", "totalPrice": "o_totalprice",
        "orderDate": "o_orderdate", "orderPriority": "o_orderpriority"}),
    _mapping("tpch::mapping", "lineitem_delta", "tpch::entity::lineitem", "lineitem", {
        "orderKey": "l_orderkey", "partKey": "l_partkey", "suppKey": "l_suppkey",
        "lineNumber": "l_linenumber", "quantity": "l_quantity",
        "extendedPrice": "l_extendedprice", "discount": "l_discount",
        "tax": "l_tax", "returnFlag": "l_returnflag",
        "lineStatus": "l_linestatus", "shipDate": "l_shipdate"}),
    _mapping("tpch::mapping", "part_delta", "tpch::entity::part", "part", {
        "partKey": "p_partkey", "name": "p_name", "brand": "p_brand",
        "type": "p_type", "size": "p_size", "retailPrice": "p_retailprice"}),
    {"content": {
        "_type": "service", "package": "tpch::service", "name": "urgent_orders",
        "pattern": "/urgent_orders",
        "execution": {
            "_type": "pureSingleExecution",
            "mapping": "tpch::mapping::orders_delta",
            "func": {"_type": "lambda", "parameters": [], "body": [
                _fn("take",
                    _fn("sort",
                        _fn("project",
                            _fn("filter",
                                _fn("getAll", {"_type": "packageableElementPtr",
                                               "fullPath": "tpch::entity::order"}),
                                _lam(_fn("startsWith",
                                         _var("x", "orderPriority"), _str("1")))),
                            _coll(_lam(_var("x", "orderKey")),
                                  _lam(_var("x", "totalPrice")),
                                  _lam(_var("x", "orderYear"))),
                            _coll(_str("OrderKey"), _str("Total"),
                                  _str("Year"))),
                        _coll(_fn("desc", _str("Total")), _str("OrderKey"))),
                    _int(20))]}}}},
    {"content": {
        "_type": "service", "package": "tpch::service", "name": "orders_by_year",
        "pattern": "/orders_by_year",
        "execution": {
            "_type": "pureSingleExecution",
            "mapping": "tpch::mapping::orders_delta",
            "func": {"_type": "lambda", "parameters": [], "body": [
                _fn("take",
                    _fn("sort",
                        _fn("groupBy",
                            _fn("getAll", {"_type": "packageableElementPtr",
                                           "fullPath": "tpch::entity::order"}),
                            _coll(_lam(_var("x", "orderYear")),
                                  _lam(_var("x", "priorityClass"))),
                            _coll(_fn("agg", _lam(_var("x", "totalPrice")),
                                      _lam(_fn("max",
                                               {"_type": "var", "name": "x"}))),
                                  _fn("agg", _lam(_var("x", "totalPrice")),
                                      _lam(_fn("min",
                                               {"_type": "var", "name": "x"}))),
                                  _fn("agg", _lam(_var("x", "orderKey")),
                                      _lam(_fn("count",
                                               {"_type": "var", "name": "x"})))),
                            _coll(_str("Year"), _str("PriorityClass"),
                                  _str("MaxPrice"), _str("MinPrice"),
                                  _str("Orders"))),
                        _coll(_fn("desc", _str("Year")),
                              _str("PriorityClass"))),
                    _int(12))]}}}},
    {"content": {
        "_type": "service", "package": "tpch::service", "name": "orders_97_low",
        "pattern": "/orders_97_low",
        "execution": {
            "_type": "pureSingleExecution",
            "mapping": "tpch::mapping::orders_delta",
            "func": {"_type": "lambda", "parameters": [], "body": [
                _fn("take",
                    _fn("sort",
                        _fn("project",
                            _fn("filter",
                                _fn("getAll", {"_type": "packageableElementPtr",
                                               "fullPath": "tpch::entity::order"}),
                                _lam(_fn("and",
                                         _fn("equal", _var("x", "orderYear"),
                                             _int(1997)),
                                         _fn("equal", _var("x", "priorityClass"),
                                             _str("5"))))),
                            _coll(_lam(_var("x", "orderKey")),
                                  _lam(_var("x", "totalPrice")),
                                  _lam(_var("x", "priorityClass"))),
                            _coll(_str("OrderKey"), _str("Total"),
                                  _str("Class"))),
                        _coll(_fn("desc", _str("Total")), _str("OrderKey"))),
                    _int(15))]}}}},
    {"content": {
        "_type": "service", "package": "tpch::service", "name": "part_stats",
        "pattern": "/part_stats",
        "execution": {
            "_type": "pureSingleExecution",
            "mapping": "tpch::mapping::part_delta",
            "func": {"_type": "lambda", "parameters": [], "body": [
                _fn("take",
                    _fn("sort",
                        _fn("groupBy",
                            _fn("getAll", {"_type": "packageableElementPtr",
                                           "fullPath": "tpch::entity::part"}),
                            _coll(_lam(_var("x", "brand"))),
                            _coll(_fn("agg", _lam(_var("x", "size")),
                                      _lam(_fn("average",
                                               {"_type": "var", "name": "x"}))),
                                  _fn("agg", _lam(_var("x", "partKey")),
                                      _lam(_fn("count",
                                               {"_type": "var", "name": "x"})))),
                            _coll(_str("Brand"), _str("AvgSize"), _str("Parts"))),
                        _coll(_fn("desc", _str("AvgSize")),
                              _str("Brand"))),
                    _int(10))]}}}},
]


_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
           "lineitem", "events", "documents", "embeddings"]


def _nanos_columns(path: str) -> list[str]:
    """Parquet columns with nanosecond timestamps (Spark can't read
    UTC-adjusted TIMESTAMP(NANOS) natively — PARQUET_TYPE_ILLEGAL)."""
    import pyarrow.parquet as pq
    return [f.name for f in pq.read_schema(path)
            if str(f.type).startswith("timestamp[ns")]


def _read_table(spark: SparkSession, path: str) -> DataFrame:
    ns_cols = _nanos_columns(path)
    if not ns_cols:
        return spark.read.parquet(path)
    # read nanos as long, then truncate to microseconds — the same value
    # DuckDB exposes after its ns->us python conversion
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(
            c, F.timestamp_micros(F.floor(F.col(c) / 1000).cast("long"))
            .cast("timestamp_ntz"))
    return df


def ensure_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the synthetic tables as temp views (idempotent, cheap)."""
    registered = getattr(spark, "_legend_demo_views", None)
    if registered == sf_dir:
        return
    for name in _TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            _read_table(spark, path).createOrReplaceTempView(name)
    try:
        spark._legend_demo_views = sf_dir
    except AttributeError:
        pass


def _spread(df: "DataFrame", spark: SparkSession) -> "DataFrame":
    """Repartition ONLY when the scan arrived under-split (the single-
    file sf fixtures read as one split).  A real multi-split scan at
    cluster scale already has >= cores partitions — repartitioning it
    would model a full corpus shuffle no production pipeline pays
    (round-7 review item)."""
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


def build_legend(spark: SparkSession) -> Legend:
    return Legend(load_dicts(TPCH_ENTITIES), spark)


# ---------------------------------------------------------------------------
# Query suite: builders and DuckDB oracles (registered in REGISTRY below)
# ---------------------------------------------------------------------------

# exact-sum idioms shared by Spark SQL and DuckDB
_REV = "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE)"
_CHARGE = ("CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) "
           "AS DECIMAL(22,6))) AS DOUBLE)")
_SUM_D = "CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"


def _q_legend_mapping_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship legend path: synthesized mapping query (scan+derive+prefilter)."""
    return build_legend(spark).query("tpch::mapping::orders_delta")


_ORACLE_MAPPING_ORDERS = """
SELECT o_orderkey AS "orderKey", o_custkey AS "custKey",
       o_orderstatus AS "orderStatus", o_totalprice AS "totalPrice",
       o_orderdate AS "orderDate", o_orderpriority AS "orderPriority",
       CAST(year(o_orderdate) AS INT) AS "orderYear",
       substring(o_orderpriority, 1, 1) AS "priorityClass"
FROM orders
WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
  AND o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
  AND o_orderdate IS NOT NULL
  AND (o_orderstatus IS NULL OR o_orderstatus IN ('O', 'F', 'P'))
  AND o_totalprice > 0
"""


def _q_legend_service_part_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service lambda path: groupBy/avg/count + sort + take via the compiler."""
    return build_legend(spark).query("tpch::service::part_stats")


_ORACLE_PART_STATS = """
SELECT p_brand AS "Brand", avg(1.0 * p_size) AS "AvgSize",
       count(p_partkey) AS "Parts"
FROM part GROUP BY p_brand
ORDER BY "AvgSize" DESC, "Brand" LIMIT 10
"""


def _q_legend_service_orders_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service groupBy over TWO qualified (derived) properties — year() and
    a composed substring derivation — with max/min/count aggregates and a
    deterministic top-k.  The service-compile path the reference exercises
    through service/employee.json's derived columns."""
    return build_legend(spark).query("tpch::service::orders_by_year")


_ORACLE_ORDERS_BY_YEAR = """
SELECT CAST(year(o_orderdate) AS INT) AS "Year",
       substring(o_orderpriority, 1, 1) AS "PriorityClass",
       max(o_totalprice) AS "MaxPrice",
       min(o_totalprice) AS "MinPrice",
       count(o_orderkey) AS "Orders"
FROM orders
GROUP BY 1, 2
ORDER BY "Year" DESC, "PriorityClass" LIMIT 12
"""


def _q_legend_service_orders_97_low(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service FILTER over derived (qualified) properties — the compile
    path where the predicate itself references year()/substring
    derivations rather than mapped columns."""
    return build_legend(spark).query("tpch::service::orders_97_low")


_ORACLE_ORDERS_97_LOW = """
SELECT o_orderkey AS "OrderKey", o_totalprice AS "Total",
       substring(o_orderpriority, 1, 1) AS "Class"
FROM orders
WHERE CAST(year(o_orderdate) AS INT) = 1997
  AND substring(o_orderpriority, 1, 1) = '5'
ORDER BY "Total" DESC, "OrderKey" LIMIT 15
"""


def _q_legend_service_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service projection path: filter (startsWith) + project incl. derived
    column + deterministic top-k — the employee-service shape on TPC-H."""
    return build_legend(spark).query("tpch::service::urgent_orders")


_ORACLE_URGENT_ORDERS = """
SELECT o_orderkey AS "OrderKey", o_totalprice AS "Total",
       CAST(year(o_orderdate) AS INT) AS "Year"
FROM orders
WHERE o_orderpriority LIKE '1%'
ORDER BY "Total" DESC, "OrderKey" LIMIT 20
"""


def _q_legend_dq_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations path: violated-rule metrics from model constraints."""
    legend = build_legend(spark)
    expectations = legend.get_expectations("tpch::mapping::lineitem_delta")
    df = spark.table("lineitem")
    return dq_metrics(df, expectations).orderBy("rule")


_ORACLE_DQ_LINEITEM = """
SELECT rule, violations FROM (
  SELECT '[discount] should be positive' AS rule,
         COUNT(*) FILTER (WHERE NOT (l_discount > 0)) AS violations FROM lineitem
  UNION ALL
  SELECT '[tax] below cap',
         COUNT(*) FILTER (WHERE NOT (l_tax < 0.05)) FROM lineitem
  UNION ALL
  SELECT '[returnFlag] not allowed value',
         COUNT(*) FILTER (WHERE NOT (l_returnflag IS NULL OR l_returnflag IN ('A','N','R')))
  FROM lineitem
) WHERE violations > 0
"""


# TPC-H Q1 shape: scan-heavy aggregation with decimal-exact sums.
_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {_SUM_D.format(col='l_quantity')} AS sum_qty,
       {_SUM_D.format(col='l_extendedprice')} AS sum_base_price,
       {_REV} AS sum_disc_price,
       {_CHARGE} AS sum_charge,
       {_SUM_D.format(col='l_quantity')} / COUNT(*) AS avg_qty,
       {_SUM_D.format(col='l_extendedprice')} / COUNT(*) AS avg_price,
       {_SUM_D.format(col='l_discount')} / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# TPC-H Q3 shape: 3-way join + agg + deterministic top-k.
_Q3_SQL = f"""
SELECT o_orderkey, {_REV} AS revenue, o_orderdate
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey LIMIT 10
"""


# TPC-H Q5 shape: star join with broadcast dims + agg per nation.
_Q5_SQL = f"""
SELECT n_name, {_REV} AS revenue
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""
# Spark's side hints the two dims as broadcasts (plan-asserted in tests).
_Q5_SPARK = _Q5_SQL.replace(
    "SELECT ", "SELECT /*+ BROADCAST(nation), BROADCAST(region) */ ", 1)

# TPC-H Q6 shape: highly selective scan-side filters (pushdown showcase)
_Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(22,6))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS rows_cnt
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


# NOT EXISTS / anti-join coverage.
_ANTIJOIN_SQL = """
SELECT c_custkey, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# Window/analytic coverage: deterministic per-customer top-3.
_WINDOW_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
  FROM orders
) t WHERE rnk <= 3
"""


# gaps compared in integer MICROSECONDS on both engines — duckdb's epoch()
# returns fractional seconds, which would disagree with any whole-second cut.
# Two driver-environment hazards handled here:
#  * gap math stays on TIMESTAMP_NTZ (timestampdiff) — no CAST(ts AS
#    TIMESTAMP), which would apply spark.sql.session.timeZone and shift
#    gaps across DST transitions in a non-UTC driver session;
#  * the oracle CASTs its SUM to BIGINT — DuckDB SUM(int) is HUGEINT,
#    which lands in pandas as float64 ("3.0" vs Spark's int64 "3") and
#    hash-mismatches even when every value is equal (round-1 red row).
_SESSIONIZE_SPARK = """
SELECT user_id, SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END) AS sessions,
       COUNT(*) AS events
FROM (
  SELECT user_id,
         timestampdiff(MICROSECOND, lag(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_us
  FROM events
) t GROUP BY user_id
"""

_SESSIONIZE_ORACLE = """
SELECT user_id, CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS sessions,
       COUNT(*) AS events
FROM (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
) t GROUP BY user_id
"""


# analytic-function breadth: lag/lead/ntile/percent_rank/cume_dist over a
# unique ordering (totalprice, orderkey) so every value is deterministic
_WINDOW_SUITE_SQL = """
SELECT o_orderkey,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM orders
WHERE o_custkey < 50
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_totalprice, o_orderkey)
"""


# rolling aggregates — the two frame kinds the analytic suite lacks:
# a ROWS frame (last 5 events moving sum/avg; decimal-exact so the
# rolling sums hash-match DuckDB) and a numeric RANGE frame (events in
# the trailing hour, over tz-free epoch-µs longs — frame membership by
# value, ties grouped, deterministic without a tie-break column).
_ROLLING_SQL = """
SELECT user_id, event_id,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w5 AS DOUBLE) AS mv_sum,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w5 AS DOUBLE)
    / COUNT(value) OVER w5 AS mv_avg,
  CAST(COUNT(*) OVER wh AS BIGINT) AS n_last_hour
FROM (SELECT user_id, event_id, value,
        timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',
                      ts) AS us
      FROM events WHERE user_id < 20)
WINDOW w5 AS (PARTITION BY user_id ORDER BY us, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       wh AS (PARTITION BY user_id ORDER BY us
              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""

_ROLLING_ORACLE = _ROLLING_SQL.replace(
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',\n"
    "                      ts)",
    "date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts)")


def _q_session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE ``session_window`` aggregation —
    the JVM-side, shuffle-once plan (group by user + merging session
    windows) that complements the lag-window SQL
    (``sessionize_events``) and the custom stateful stream
    (``sessionize_stream``).  Spark's session end = last event + gap;
    the oracle reproduces that with gaps-and-islands SQL."""
    ev = spark.table("events")
    w = F.session_window("ts", "30 minutes")
    return (ev.groupBy("user_id", w.alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("total_value"))
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events", "total_value"))


_SESSION_WINDOW_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
), sess AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM sess GROUP BY user_id, sid
"""


def _q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window aggregation via Spark's native ``window(ts, '2
    hours', '30 minutes')`` — each event lands in exactly 4 overlapping
    windows (length/slide), aggregated JVM-side in one shuffle.  The
    oracle replays the window arithmetic with a 4-offset cross join in
    DuckDB (epoch-aligned starts, so membership needs no filter)."""
    ev = spark.table("events")
    w = F.window("ts", "2 hours", "30 minutes")
    return (ev.groupBy(w.alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("total_value"))
            .select(F.col("w.start").alias("win_start"),
                    F.col("w.end").alias("win_end"),
                    "n_events", "total_value"))


_SLIDING_WINDOW_ORACLE = """
WITH offs AS (SELECT unnest(generate_series(0, 3)) AS i),
assigned AS (
  SELECT make_timestamp(
           ((epoch_us(ts) // 1800000000) - i) * 1800000000
         ) AS win_start,
         value
  FROM events CROSS JOIN offs
)
SELECT win_start,
       win_start + INTERVAL 2 HOUR AS win_end,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM assigned GROUP BY win_start
"""


_STREAM_RUN_SEQ = [0]  # memory-sink names must be unique per invocation


def _q_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming sessionization (applyInPandasWithState) driven
    to completion with availableNow over the events table, then compared
    against batch semantics: the stream emits only *closed* sessions, and
    each user's final session stays open, so closed+1 == the batch session
    count — which makes this streaming query oracle-checkable (users with
    >= 2 sessions).  The harness writes a single time-sorted source file
    so the one-shot backfill arrives in order, as a live stream would."""
    import tempfile

    from .streaming.sessionize import sessionize_stream

    tmp = tempfile.mkdtemp(prefix="legend_sessionize_stream_")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    (spark.table("events").select("user_id", "ts")
     .coalesce(1).sortWithinPartitions("ts", "user_id")
     .write.mode("overwrite").parquet(src))
    stream = (spark.readStream
              .schema(spark.read.parquet(src).schema).parquet(src))
    sessions = sessionize_stream(stream, gap="30 minutes",
                                 flush_timeout=False)
    _STREAM_RUN_SEQ[0] += 1
    sink = f"__sessions_stream_{_STREAM_RUN_SEQ[0]}"
    q = (sessions.writeStream.format("memory").queryName(sink)
         .outputMode("update").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    return (spark.table(sink).groupBy("user_id")
            .agg((F.count(F.lit(1)) + F.lit(1)).alias("sessions")))


# identical session semantics to _SESSIONIZE_ORACLE; the stream only sees
# users whose corpus contains at least one closed session (sessions >= 2)
_SESSIONIZE_STREAM_ORACLE = """
SELECT user_id, sessions FROM (
  SELECT user_id, CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                                THEN 1 ELSE 0 END) AS BIGINT) AS sessions
  FROM (
    SELECT user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY ts) AS gap_us
    FROM events
  ) t GROUP BY user_id
) WHERE sessions >= 2
"""


# Grouping-sets coverage: ROLLUP with exact measures.
_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS orders_cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


# TPC-H Q4 shape: EXISTS correlated semi-join with a date window
_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# TPC-H Q12 shape: conditional CASE aggregation after a fact join.
# Counts cast to BIGINT in both engines (DuckDB SUM(int) is HUGEINT).
_Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


# TPC-H Q14 shape: promo revenue share — ratio of two decimal-exact sums
_Q14_SQL = """
SELECT CAST(100.0 * SUM(CASE WHEN p_type = 'PROMO' THEN volume
                             ELSE CAST(0 AS DECIMAL(22,6)) END) AS DOUBLE)
       / CAST(SUM(volume) AS DOUBLE) AS promo_revenue_pct
FROM (
  SELECT CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6)) AS volume,
         p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
) t
"""


# TPC-H Q22 shape: scalar subquery threshold + NOT EXISTS anti-join
# (no c_phone in the synthetic schema — grouped by market segment; the
# anti-join is against *large* orders since every customer here orders)
_Q22_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*)
        FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 200000)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# TPC-H Q9 shape: profit (revenue minus retail cost proxy — no partsupp
# in the synthetic schema) by supplier nation and order year
_Q9_SQL = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     - p_retailprice * l_quantity
                     AS DECIMAL(22,6))) AS DOUBLE) AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%a%'
GROUP BY n_name, CAST(year(o_orderdate) AS INT)
ORDER BY nation, o_year DESC
"""


# TPC-H Q16 shape: NOT IN subquery + COUNT(DISTINCT) over a dim join
# (no partsupp table in the synthetic schema — lineitem is the
# part-supplier relation)
_Q16_SQL = """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 10, 15, 20, 25)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_nationkey = 0)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
LIMIT 20
"""


# TPC-H Q18 shape: IN subquery with HAVING over a decimal-exact sum
_Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""


# TPC-H Q2 shape: min-cost supplier per part via a correlated scalar MIN
# subquery over a reused CTE (no partsupp in the synthetic schema —
# lineitem aggregates stand in for supply cost).  Ties keep all minimal
# suppliers; ORDER BY (p_partkey, s_name) + LIMIT stays deterministic.
_Q2_SQL = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS cost
  FROM lineitem GROUP BY 1, 2)
SELECT p_partkey, p_name, s_name, cost
FROM ps
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
WHERE p_size <= 5
  AND cost = (SELECT MIN(ps2.cost) FROM ps ps2
              WHERE ps2.l_partkey = ps.l_partkey)
ORDER BY p_partkey, s_name
LIMIT 50
"""


# TPC-H Q11 shape: group totals kept only above a scalar fraction of the
# same aggregation — the HAVING-vs-global-subquery pattern.  Both sides
# cast the decimal-exact sum to double before comparing.
_Q11_SQL = """
SELECT l_partkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS val
FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_1'
GROUP BY l_partkey
HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) > (
  SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * 0.001
  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_1')
ORDER BY val DESC, l_partkey
LIMIT 50
"""


# TPC-H Q13 shape: customer order-count distribution including
# zero-order customers — LEFT OUTER JOIN with the filter in the join
# condition (moving it to WHERE would silently drop the NULL row).
_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
   AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# TPC-H Q15 shape: top supplier by period revenue via a MAX scalar
# subquery over a reused CTE (the view in the original).
_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(22,6))) AS DOUBLE) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
ORDER BY s_suppkey
"""


# TPC-H Q19 shape: disjunctive multi-column predicates (brand x size x
# quantity bands) — the OR-of-ANDs pushdown/reordering stressor.
_Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(22,6))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


# TPC-H Q20 shape: nested IN over a grouped HAVING subquery (suppliers
# who moved significant volume of matching parts — lineitem aggregates
# stand in for partsupp availability).
_Q20_SQL = """
SELECT s_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_1' AND s_suppkey IN (
  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'red%'
  GROUP BY l_suppkey, l_partkey
  HAVING SUM(l_quantity) > 50)
ORDER BY s_name
"""


# TPC-H Q17 shape: small-quantity revenue for selected parts, gated by a
# correlated scalar AVG subquery per part (Catalyst decorrelates it into
# an aggregate + join — no per-row re-execution).  p_size stands in for
# the missing p_container; exact-sum/count instead of AVG keeps the
# threshold bit-identical across engines.
_Q17_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
       AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1' AND p_size <= 15
  AND l_quantity < (
    SELECT 0.5 * (CAST(SUM(l2.l_quantity) AS DOUBLE) / COUNT(*))
    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


# TPC-H Q21 waiting-suppliers shape: the multi-EXISTS/NOT-EXISTS
# decorrelation stressor.  "Late" = shipped > 60 days after the order
# date (the synthetic schema has no receipt/commit dates); tz-free
# µs-integer gap math via timestampdiff — the NTZ-safe idiom (epoch
# functions reject TIMESTAMP_NTZ; casts apply the session tz).  The
# NOT EXISTS correlates on l_orderkey equality alone (o3 re-joined
# inside), which both Catalyst and DuckDB decorrelate to aggregate
# joins — no per-row subquery.
_LATE_US = 60 * 86400 * 1_000_000

_Q21_SQL = f"""
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND timestampdiff(MICROSECOND, o_orderdate, l1.l_shipdate) > {_LATE_US}
  AND n_name = 'NATION_3'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND timestampdiff(MICROSECOND, o3.o_orderdate,
                                      l3.l_shipdate) > {_LATE_US})
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""

_Q21_ORACLE = _Q21_SQL.replace("timestampdiff(MICROSECOND,",
                               "date_diff('microsecond',")


# TPC-H Q7 volume-shipping shape on the synthetic domains (nations are
# NATION_0..24 here): revenue flowing between two nations by ship year.
# Join-heavy: lineitem⋈orders⋈customer⋈supplier + two nation dims.
_Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year, {_REV} AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3
ORDER BY supp_nation, cust_nation, l_year
"""


# TPC-H Q8 market-share shape: one nation's share of regional part volume
# per order year.  Division of two decimal-exact sums cast to double keeps
# the ratio deterministic on both engines.
_Q8_SQL = """
SELECT o_year,
       CAST(SUM(CASE WHEN nation = 'NATION_5' THEN volume
                     ELSE CAST(0 AS DECIMAL(22,6)) END) AS DOUBLE)
       / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6)) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
) t
GROUP BY o_year
ORDER BY o_year
"""


# TPC-H Q10 shape: returned-items revenue per customer, top 20.
_Q10_SQL = f"""
SELECT c_custkey, c_name, n_name, {_REV} AS revenue
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


# CUBE grouping-sets coverage.
_CUBE_SQL = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS rows_cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
"""


# Tumbling-window aggregation (batch form of the streaming windowed
# DQ/rollup path — same window() semantics as readStream).
_EVENTS_HOURLY_SPARK = """
SELECT window.start AS hour_start, event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM (SELECT window(ts, '1 hour') AS window, event_type, value FROM events)
GROUP BY window.start, event_type
"""

_EVENTS_HOURLY_ORACLE = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


def _q_events_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME tumbling-window aggregation through Structured Streaming:
    readStream over the events data, watermarked window groupBy, complete
    mode, driven with availableNow — and checked against the identical
    batch oracle, proving stream/batch window semantics line up."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix="legend_events_hourly_stream_")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    (spark.table("events").select("ts", "event_type", "value")
     .write.mode("overwrite").parquet(src))
    stream = (spark.readStream
              .schema(spark.read.parquet(src).schema).parquet(src))
    # no watermark: complete-mode availableNow backfill retains all
    # windows by design, and ts stays TIMESTAMP_NTZ (watermarks require
    # TIMESTAMP; a live update-mode deployment would cast + watermark —
    # covered by tests/test_streaming.py::test_windowed_dq_metrics)
    agg = (stream
           .groupBy(F.window("ts", "1 hour").alias("window"), "event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,6)")).alias("__tv"))
           .select(F.col("window.start").alias("hour_start"), "event_type",
                   "n", F.col("__tv").cast("double").alias("total_value")))
    _STREAM_RUN_SEQ[0] += 1
    sink = f"__events_hourly_stream_{_STREAM_RUN_SEQ[0]}"
    q = (agg.writeStream.format("memory").queryName(sink)
         .outputMode("complete").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    return spark.table(sink)


def _q_dedup_stream_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicates over the normalized content
    hash on a readStream of the documents table (per source, so the
    result is arrival-order-independent), then a complete-mode count —
    matches the batch distinct-content oracle exactly."""
    import tempfile

    from .functions.text import content_hash

    tmp = tempfile.mkdtemp(prefix="legend_dedup_stream_")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    (spark.table("documents").select("doc_id", "source", "text")
     .write.mode("overwrite").parquet(src))
    stream = (spark.readStream
              .schema(spark.read.parquet(src).schema).parquet(src))
    deduped = (stream.withColumn("__key", content_hash("text"))
               .dropDuplicates(["source", "__key"])
               .groupBy("source")
               .agg(F.count(F.lit(1)).alias("distinct_docs")))
    _STREAM_RUN_SEQ[0] += 1
    sink = f"__dedup_stream_{_STREAM_RUN_SEQ[0]}"
    q = (deduped.writeStream.format("memory").queryName(sink)
         .outputMode("complete").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    return spark.table(sink)


# mirrors content_hash normalization: whitespace-collapsed, trimmed,
# lowercased text (COUNT DISTINCT of the normal form == distinct hashes)
_ORACLE_DEDUP_STREAM = r"""
SELECT source,
       COUNT(DISTINCT lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
         AS distinct_docs
FROM documents GROUP BY source
"""


# value histogram via explicit floor-division binning — identical double
# arithmetic on both engines (DuckDB has no width_bucket)
_HISTOGRAM_SQL = """
SELECT event_type,
       CAST(floor(value / 50.0) AS INT) AS bin,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS bin_sum
FROM events
WHERE value IS NOT NULL
GROUP BY event_type, CAST(floor(value / 50.0) AS INT)
"""


def _q_events_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the cardinality/quantile path for 100 TB where
    exact distinct/percentile shuffles are unaffordable.  approx_users
    exercises the MERGEABLE path: per-(event_type, day) DataSketches HLL
    sketches unioned per event_type (operators/sketches.py) — the
    store-and-merge shape incremental ingest replays; lossless vs a
    single whole-corpus sketch (pinned in tests).  Rows-only by nature
    (sketch estimates are engine-specific); the unit test pins them
    within 5% of exact on this data."""
    from .operators.sketches import merged_distinct
    ev = spark.table("events")
    users = merged_distinct(ev, "user_id", ["event_type"],
                            shard_col=F.to_date("ts"))
    pct = (ev.groupBy("event_type")
           .agg(F.expr("approx_percentile(value, 0.5)").alias("p50_value"),
                F.expr("approx_percentile(value, 0.99)").alias("p99_value")))
    return (users.withColumnRenamed("approx_distinct", "approx_users")
            .join(pct, "event_type")
            .select("event_type", "approx_users", "p50_value", "p99_value")
            .orderBy("event_type"))


def _q_pivot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (crosstab) coverage: order counts by priority x status."""
    return (spark.table("orders")
            .groupBy("o_orderpriority")
            .pivot("o_orderstatus", ["O", "F", "P"])
            .count()
            .na.fill(0, ["O", "F", "P"]))


_ORACLE_PIVOT = """
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
FROM orders GROUP BY o_orderpriority
"""

# Exact interpolated percentiles (both engines use the same linear
# interpolation; rounded to 4 decimals to absorb last-ulp division).
_PERCENTILE_SPARK = """
SELECT c_mktsegment,
       round(percentile(o_totalprice, 0.5), 4) AS p50,
       round(percentile(o_totalprice, 0.9), 4) AS p90,
       COUNT(*) AS n
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""

_PERCENTILE_ORACLE = """
SELECT c_mktsegment,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       COUNT(*) AS n
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# Set-operation coverage: UNION / INTERSECT / EXCEPT.
_SETOP_SQL = """
SELECT custkey FROM (
  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  UNION
  SELECT o_custkey FROM orders WHERE o_totalprice > 400000
)
INTERSECT
SELECT o_custkey FROM orders
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
"""


# Distinct-aggregation coverage.
_DISTINCT_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS parts,
       COUNT(DISTINCT l_suppkey) AS supps,
       COUNT(*) AS rows_cnt
FROM lineitem GROUP BY l_returnflag
"""


def _q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup stats per source (hash-groupBy path)."""
    return DD.dedup_stats(spark.table("documents"), "text", "source")


_ORACLE_DEDUP = r"""
SELECT source, COUNT(*) AS rows_total,
       COUNT(DISTINCT lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS rows_distinct,
       COUNT(*) - COUNT(DISTINCT lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS rows_duplicate
FROM documents GROUP BY source
"""


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + per-language quality aggregates."""
    docs = spark.table("documents")
    return (docs
            .select("lang", "n_chars", TX.token_count("text").alias("ntok"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("docs"),
                 (F.sum("ntok").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
                 (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars")))


_ORACLE_TEXT_QUALITY = r"""
SELECT lang, COUNT(*) AS docs,
       CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS DOUBLE) / COUNT(*) AS avg_tokens,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
FROM documents GROUP BY lang
"""


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budget accounting: whitespace tokens + BPE-ish subword proxy
    per source (both exact integer sums)."""
    docs = spark.table("documents")
    return (docs.groupBy("source")
            .agg(F.sum(TX.token_count("text")).alias("ws_tokens"),
                 F.sum(TX.bpe_ish_token_count("text")).alias("bpe_tokens"),
                 F.count(F.lit(1)).alias("docs")))


# SUMs cast to BIGINT: DuckDB SUM(int) is HUGEINT -> pandas float64,
# which hash-mismatches Spark's int64 despite equal values (round-1 red row)
_ORACLE_TOKEN_COUNTS = r"""
SELECT source,
       CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]'))) AS BIGINT) AS bpe_tokens,
       COUNT(*) AS docs
FROM documents GROUP BY source
"""


def _q_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score aggregates per source; the score formula is mirrored
    operation-for-operation in the DuckDB oracle (decimal-exact sum of the
    rounded per-doc scores keeps the average deterministic)."""
    docs = spark.table("documents").where(F.length("text") > 0)
    q = TX.quality_score("text")
    return (docs.select("source", F.col("text"),
                        q.cast("decimal(10,6)").alias("__q"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("docs"),
                 (F.sum("__q").cast("double") / F.count(F.lit(1))).alias("avg_quality"),
                 F.min("__q").cast("double").alias("min_quality"),
                 F.max("__q").cast("double").alias("max_quality")))


# mirrors functions/text.quality_score exactly: len/50 capped, punct
# penalty, mean-word-length band, /3, round 6
_ORACLE_QUALITY = r"""
WITH scored AS (
  SELECT source,
    CAST(round((
      least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 50.0, 1.0)
      + greatest(0.0, 1.0 - (CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
                             / length(text)) * 4)
      + CASE WHEN (CAST(list_sum(list_transform(regexp_extract_all(text, '\S+'),
                                                t -> length(t))) AS DOUBLE)
                   / len(regexp_extract_all(text, '\S+'))) BETWEEN 2.0 AND 12.0
             THEN 1.0 ELSE 0.3 END
    ) / 3.0, 6) AS DECIMAL(10,6)) AS q
  FROM documents WHERE length(text) > 0
)
SELECT source, COUNT(*) AS docs,
       CAST(SUM(q) AS DOUBLE) / COUNT(*) AS avg_quality,
       CAST(MIN(q) AS DOUBLE) AS min_quality,
       CAST(MAX(q) AS DOUBLE) AS max_quality
FROM scored GROUP BY source
"""


def _q_shingle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-5-shingle explode + distinct count per source (fingerprint base).

    Distinct runs over xxhash64 of the shingle, not the string — the
    distinct/shuffle operates on 8-byte longs (collision odds at this
    cardinality ~1e-7, far below any practical concern)."""
    # r12: spread the single-split local scan — the 1.5M-shingle
    # explode otherwise runs on one core (guide §2.5; no-op on a real
    # multi-split scan)
    docs = _spread(spark.table("documents"), spark)
    return (docs.select("source",
                        F.explode(TX.char_shingles("text", 5)).alias("s"))
            .groupBy("source")
            .agg(F.countDistinct(F.xxhash64("s")).alias("distinct_shingles")))


_ORACLE_SHINGLES = """
SELECT source, COUNT(DISTINCT s) AS distinct_shingles FROM (
  SELECT source, unnest(list_transform(
    generate_series(1, greatest(length(text) - 4, 0)),
    i -> substring(lower(text), CAST(i AS INT), 5))) AS s
  FROM documents
) t GROUP BY source
"""


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-5-gram Jaccard near-dup pairs (integer set math — the one
    fuzzy-dedup operator that IS SQL-expressible, so it carries an oracle)."""
    return DD.ngram_jaccard_pairs(spark.table("documents"), n=5, threshold=0.2)


def _q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact Jaccard pair graph: every doc
    in at least one near-dup pair labeled with its component's min id —
    the transitive clustering behind ``curate_corpus``'s near-dedup drop
    (operators/graph.py).  Oracle: DuckDB recursive-CTE reachability."""
    from .operators.graph import connected_components
    # single-file input arrives as one split; spread the gram explode +
    # window stages across cores the way a multi-split scan would be
    # (r13: 5.2 s -> 3.4 s, hash-identical)
    docs = _spread(spark.table("documents"), spark)
    pairs = DD.ngram_jaccard_pairs(docs, n=5, threshold=0.2)
    comp = connected_components(pairs, "id_a", "id_b")
    return comp.select(F.col("id").alias("doc_id"), "component")


def _q_verified_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION near-dup shape: MinHash/LSH proposes candidate pairs
    (sub-quadratic), exact gram-hash ``array_intersect`` Jaccard verifies.
    Always a subset of :func:`_q_ngram_jaccard` with identical jaccard
    values (pinned in tests/test_operators.py); at the driver's sf0.01 the
    pinned seed gives 100% recall, so it carries the exact operator's
    oracle — any LSH regression that drops a true pair turns this row red."""
    # the shingle explode + 64-min signature aggregate otherwise runs in
    # the single scan task (r13: 8.7 s -> 4.5 s, hash-identical)
    docs = _spread(spark.table("documents"), spark)
    return DD.verified_near_dup_pairs(docs, n=5, threshold=0.2)


def _q_verified_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the VERIFIED (LSH-proposed, exactly-checked)
    pair graph — the 100 TB clustering plan: no gram self-join anywhere,
    pair generation is banded LSH with hot-bucket caps.  Same oracle as
    ``near_dup_clusters`` (recall 1.0 at sf0.01 with the pinned seed)."""
    from .operators.graph import connected_components
    # spread the single-split scan (r13: 11.9 s -> 8.4 s, hash-identical)
    docs = _spread(spark.table("documents"), spark)
    pairs = DD.verified_near_dup_pairs(docs, n=5, threshold=0.2)
    comp = connected_components(pairs, "id_a", "id_b")
    return comp.select(F.col("id").alias("doc_id"), "component")


def _q_decontamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: exact cross-corpus 5-gram Jaccard pairs
    between a 'train' split (doc_id % 5 != 0) and an 'eval' split
    (doc_id % 5 == 0) of the documents table — the check an LLM pipeline
    runs before training to prove the eval set isn't in the training
    data.  Prefix-filtered (never a self-join); oracle is the exact
    cross-join set math in DuckDB."""
    # spread the single-split scan before the train/eval filter split
    # (r13: 3.5 s -> 1.8 s, hash-identical — unlike stupid_backoff_docs,
    # the added exchange is amortized by the gram window stages)
    docs = _spread(spark.table("documents"), spark)
    return DD.cross_ngram_jaccard_pairs(
        docs.where(F.col("doc_id") % 5 != 0),
        docs.where(F.col("doc_id") % 5 == 0),
        n=5, threshold=0.2)


_ORACLE_DECONTAMINATION = r"""
WITH grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
     generate_series(1, greatest(len(toks) - 4, 0)),
     i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram
  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents)
), sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_left, b.doc_id AS id_right, count(*) AS n_common
  FROM grams a JOIN grams b USING (gram)
  WHERE a.doc_id % 5 != 0 AND b.doc_id % 5 = 0
  GROUP BY 1, 2
)
SELECT id_left, id_right,
       CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_left
JOIN sizes sb ON sb.doc_id = id_right
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
"""


def _q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PaLM-style contamination audit: per eval doc (doc_id % 5 == 0),
    the fraction of its distinct 5-grams that appear anywhere in the
    train split — inverted-index shape (train collapses to a distinct
    gram set, eval semi-joins), no pairwise work."""
    # spread the single-split scan (r13: 4.0 s -> 2.1 s, hash-identical)
    docs = _spread(spark.table("documents"), spark)
    return DD.contamination_report(
        docs.where(F.col("doc_id") % 5 != 0),
        docs.where(F.col("doc_id") % 5 == 0), n=5)


_ORACLE_CONTAMINATION_REPORT = r"""
WITH grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
     generate_series(1, greatest(len(toks) - 4, 0)),
     i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram
  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents)
), tg AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 5 != 0
), eg AS (
  SELECT doc_id, gram FROM grams WHERE doc_id % 5 = 0
), tot AS (
  SELECT doc_id, count(*) AS n_grams FROM eg GROUP BY 1
), hit AS (
  SELECT doc_id, count(*) AS n_hit FROM eg JOIN tg USING (gram) GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(t.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       CASE WHEN COALESCE(t.n_grams, 0) > 0
            THEN CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_grams
            ELSE 0.0 END AS contamination_frac
FROM documents d
LEFT JOIN tot t USING (doc_id)
LEFT JOIN hit h USING (doc_id)
WHERE d.doc_id % 5 = 0
"""


def _q_decontamination_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest screen: train docs (doc_id % 5 != 0) arrive as a
    parquet stream and are scored against the static eval split's gram
    set via one stream-static join + one stateful aggregation
    (streaming/decontaminate_stream).  availableNow backfill == the
    batch operator, so the DuckDB oracle is the same inverted-index SQL
    with the splits' roles swapped."""
    import tempfile

    from .streaming import decontaminate_stream

    docs = spark.table("documents")
    tmp = tempfile.mkdtemp(prefix="legend_decontam_stream_")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    (docs.where(F.col("doc_id") % 5 != 0).select("doc_id", "text")
     .write.mode("overwrite").parquet(src))
    stream = (spark.readStream
              .schema(spark.read.parquet(src).schema).parquet(src))
    scored = decontaminate_stream(
        stream, docs.where(F.col("doc_id") % 5 == 0), n=5)
    _STREAM_RUN_SEQ[0] += 1
    sink = f"__decontam_stream_{_STREAM_RUN_SEQ[0]}"
    q = (scored.writeStream.format("memory").queryName(sink)
         .outputMode("complete").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    return spark.table(sink).select(
        "doc_id", "n_grams", "n_hit", "contamination_frac")


_ORACLE_DECONTAMINATION_STREAM = r"""
WITH grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
     generate_series(1, greatest(len(toks) - 4, 0)),
     i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram
  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents)
), eg AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 5 = 0
), sg AS (
  SELECT doc_id, gram FROM grams WHERE doc_id % 5 != 0
), tot AS (
  SELECT doc_id, count(*) AS n_grams FROM sg GROUP BY 1
), hit AS (
  SELECT doc_id, count(*) AS n_hit FROM sg JOIN eg USING (gram) GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(t.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       CASE WHEN COALESCE(t.n_grams, 0) > 0
            THEN CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_grams
            ELSE 0.0 END AS contamination_frac
FROM documents d
LEFT JOIN tot t USING (doc_id)
LEFT JOIN hit h USING (doc_id)
WHERE d.doc_id % 5 != 0
"""


def _q_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-doc repetition metrics (mode-token fraction,
    duplicate-bigram fraction) with keep/drop flags — pure set/count
    math, so it carries a full DuckDB oracle."""
    from .operators.curation import repetition_metrics
    return repetition_metrics(spark.table("documents"))


_ORACLE_REPETITION = r"""
WITH base AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents
), dng AS (
  SELECT doc_id,
    CASE WHEN len(toks) >= 2 THEN
      1.0 - CAST(len(list_distinct(list_transform(
        generate_series(1, len(toks) - 1),
        i -> toks[i] || ' ' || toks[i + 1]))) AS DOUBLE) / (len(toks) - 1)
    ELSE 0.0 END AS dup_ngram_frac
  FROM base
), counts AS (
  SELECT doc_id, t, count(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS t FROM base) GROUP BY 1, 2
), perdoc AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS top,
         count(*) AS nd
  FROM counts GROUP BY 1
)
SELECT b.doc_id,
  COALESCE(p.n_tokens, 0) AS n_tokens,
  CASE WHEN COALESCE(p.n_tokens, 0) > 0
       THEN CAST(p.nd AS DOUBLE) / p.n_tokens ELSE 0.0 END
    AS distinct_token_frac,
  CASE WHEN COALESCE(p.n_tokens, 0) > 0
       THEN CAST(p.top AS DOUBLE) / p.n_tokens ELSE 0.0 END
    AS top_token_frac,
  d.dup_ngram_frac,
  (CASE WHEN COALESCE(p.n_tokens, 0) > 0
        THEN CAST(p.top AS DOUBLE) / p.n_tokens ELSE 0.0 END > 0.2)
    OR (d.dup_ngram_frac > 0.2) AS repetitive
FROM base b
LEFT JOIN perdoc p USING (doc_id)
JOIN dng d USING (doc_id)
"""


def _q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture plan over languages (alpha=0.5
    upsamples the small langs): weights fixed-point-quantized so both
    engines emit bit-identical integer plans — a mixture plan is an
    audit artifact, it must reproduce exactly."""
    from .operators.curation import mixture_weights
    return mixture_weights(spark.table("documents"), "lang",
                           alpha=0.5, total_docs=300)


_ORACLE_MIXTURE_PLAN = """
WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
q AS (
  SELECT lang, n_docs,
         CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) / 1e-06) AS BIGINT) AS w
  FROM c
), t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM q)
SELECT lang, n_docs,
       CAST(floor(w * 1000000 / tw) AS BIGINT) AS weight_ppm,
       CAST(floor(w * 300 / tw) AS BIGINT) AS target_docs
FROM q, t
"""


def _q_pack_plan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing layout: exact per-doc offsets and chunk spans in
    the id-ordered concatenated token stream (chunk = 256 tokens) — the
    concat+chunk step of training-data prep as an engine-side plan.
    Oracle: naive global running-sum window in DuckDB; the Spark side
    uses the bucketed two-level prefix sum (no global window)."""
    from .operators.curation import pack_plan
    return pack_plan(spark.table("documents"), chunk_tokens=256,
                     n_buckets=16)


_ORACLE_PACK_PLAN = r"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(sum(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
  FROM t
)
SELECT doc_id, n_tokens, start_offset,
       CAST(floor(start_offset / 256) AS BIGINT) AS chunk_first,
       CAST(CASE WHEN n_tokens > 0
                 THEN floor((start_offset + n_tokens - 1) / 256)
                 ELSE floor(start_offset / 256) END AS BIGINT) AS chunk_last,
       CAST(CASE WHEN n_tokens > 0
                 THEN floor((start_offset + n_tokens - 1) / 256)
                      - floor(start_offset / 256) + 1
                 ELSE 0 END AS BIGINT) AS n_chunks_spanned
FROM c
"""


def _q_stratified_docs_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-count stratified sample: 40 docs per language
    (strata are uneven: en has ~4x the docs of fr at this SF, so the
    rank cut genuinely selects) under the reproducible (md5(id), id)
    order — auditable training-data mixture construction.  Both engines
    compute the identical sample (md5 is engine-independent), so the
    oracle checks exact row sets, not just counts."""
    from .operators.curation import stratified_sample_exact
    return stratified_sample_exact(
        spark.table("documents"), "lang", 40).select(
        "doc_id", "source", "lang", "n_chars")


_ORACLE_STRATIFIED = """
SELECT doc_id, source, lang, n_chars FROM (
  SELECT doc_id, source, lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rn
  FROM documents
) WHERE rn <= 40
"""


_ORACLE_NEAR_DUP_CLUSTERS = r"""
WITH RECURSIVE grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
     generate_series(1, greatest(len(toks) - 4, 0)),
     i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram
  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents)
), sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM grams a JOIN grams b USING (gram) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, least(a, MIN(b)) AS component
FROM reach GROUP BY a
"""


_ORACLE_NGRAM_JACCARD = r"""
WITH grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
     generate_series(1, greatest(len(toks) - 4, 0)),
     i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram
  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents)
), sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM grams a JOIN grams b USING (gram) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
"""

def _q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication report per source from the persisted verified-pair
    store: total docs, docs appearing in >= 1 near-dup pair, and the
    dup rate — the per-ingest-source health metric a curation dashboard
    tracks, priced at store-read cost because pair mining already ran
    (demo._pair_store).  Oracle recomputes membership from the exact
    pair set (recall 1.0 at driver scale with the pinned seed)."""
    pairs = DD.read_pairs(spark, _pair_store(spark, sf_dir),
                          method="verified", n=5, threshold=0.2)
    dup_ids = (pairs.select(F.col("id_a").alias("doc_id"))
               .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
               .distinct().withColumn("__dup", F.lit(1)))
    docs = spark.table("documents")
    return (docs.join(dup_ids, "doc_id", "left")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.sum(F.coalesce(F.col("__dup"), F.lit(0)))
                 .alias("dup_docs"))
            .withColumn("dup_rate",
                        F.round(F.col("dup_docs") / F.col("docs"), 6)))


_ORACLE_DUP_RATE = r"""
WITH grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
     generate_series(1, greatest(len(toks) - 4, 0)),
     i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram
  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        FROM documents)
), sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM grams a JOIN grams b USING (gram) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
), dup AS (
  SELECT DISTINCT doc_id FROM (
    SELECT id_a AS doc_id FROM pairs
    UNION ALL SELECT id_b FROM pairs)
)
SELECT source, count(*) AS docs,
       CAST(count(dup.doc_id) AS BIGINT) AS dup_docs,
       round(count(dup.doc_id) / count(*), 6) AS dup_rate
FROM documents d LEFT JOIN dup USING (doc_id)
GROUP BY source
"""


# Semi-structured extraction: JSON props parsing + aggregation.
_EVENTS_JSON_SPARK = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(get_json_object(props, '$.k') AS INT)) AS DOUBLE) / COUNT(*) AS avg_k
FROM events GROUP BY event_type
"""

_EVENTS_JSON_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS DOUBLE) / COUNT(*) AS avg_k
FROM events GROUP BY event_type
"""


# Spark 4 VariantType path: parse_json + variant_get (shredded semi-
# structured access, the engine-native successor to get_json_object string
# probing).
_EVENTS_VARIANT_SPARK = """
SELECT event_type,
       CAST(SUM(variant_get(parse_json(props), '$.k', 'int')) AS BIGINT) AS sum_k,
       COUNT(*) AS n
FROM events GROUP BY event_type
"""

_EVENTS_VARIANT_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n
FROM events GROUP BY event_type
"""


def _q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 embedding — fully
    lazy: the 1-row query side is broadcast, no driver .first() job."""
    emb = spark.table("embeddings")
    return SIM.cosine_topk_df(emb, emb.where("vec_id = 0"), k=10)


_ORACLE_ANN = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
  round(
    list_sum(list_transform(list_zip(e.embedding, q.qv),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
    6) AS cosine
FROM embeddings e, q
ORDER BY cosine DESC, vec_id LIMIT 10
"""


# float->decimal casts round differently across engines; double-widening a
# float is exact, group sizes are tiny (<= a few hundred), and round(9)
# absorbs the ~1e-18 summation-order error
_EMB_DIMS_SPARK = """
SELECT label, pos,
       round(SUM(CAST(x AS DOUBLE)) / COUNT(*), 9) AS avg_val,
       COUNT(*) AS n
FROM (SELECT label, posexplode(embedding) AS (pos, x) FROM embeddings)
GROUP BY label, pos
"""

_EMB_DIMS_ORACLE = """
SELECT label, CAST(s.pos AS INT) AS pos,
       round(SUM(CAST(s.x AS DOUBLE)) / COUNT(*), 9) AS avg_val,
       COUNT(*) AS n
FROM (SELECT label,
             unnest(list_transform(embedding,
                    (x, i) -> struct_pack(pos := i - 1, x := x))) AS s
      FROM embeddings)
GROUP BY label, s.pos
"""


# --- md5-portable dedup-pair entries (round 7) ---------------------------
#
# The MinHash / SimHash / hyperplane-LSH signatures are seeded
# deterministic math; running them on md5 (engine-portable, the same
# trick DSIR/CMS/splits already use) instead of xxhash64 makes the EXACT
# pair set — including the banding buckets and the max_bucket hot-bucket
# cap — reproducible in DuckDB, so these three carry full value oracles.
# Production callers keep the cheaper xxhash64 defaults; recall
# equivalence of the two modes is pinned in tests/test_operators.py.

_MH_HASHES, _MH_BANDS, _MH_K, _MH_THRESH, _MH_BUCKET = 16, 8, 5, 0.3, 200


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup candidates, md5-portable signatures
    (4 independent 32-bit hash slots per md5 of each distinct
    5-shingle: slot 4t+j = j-th hex quarter of md5('mh{t}:'||s)) —
    full duckdb oracle reproduces signatures, banding and the
    hot-bucket cap exactly."""
    # single-file input arrives as one split; spread the shingle md5 +
    # min aggregates across cores the way a multi-split scan would be
    docs = _spread(spark.table("documents"), spark)
    return DD.minhash_dedup(docs,
                            num_hashes=_MH_HASHES, bands=_MH_BANDS,
                            shingle_k=_MH_K, threshold=_MH_THRESH,
                            max_bucket=_MH_BUCKET, method="md5")


def _minhash_oracle() -> str:
    n, bands, k = _MH_HASHES, _MH_BANDS, _MH_K
    r = n // bands
    mins = ",\n    ".join(
        f"min(h{i}) AS m{i}" for i in range(n))
    banded = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || '|' || ".join(f"m{b * r + j}::VARCHAR" for j in range(r))
        + " AS bucket FROM sig" for b in range(bands))
    est = " + ".join(f"(sa.m{i} = sb.m{i})::INT" for i in range(n))
    return f"""
WITH docs AS (SELECT doc_id, lower(text) AS t FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= {k}
         THEN list_transform(generate_series(1, len(t) - {k - 1}),
                             i -> substr(t, i, {k}))
         ELSE [] END)) AS s
  FROM docs),
hh AS (
  SELECT doc_id,
         ('0x' || substr(md5('mh0:' || s), 1, 8))::BIGINT AS h0,
         ('0x' || substr(md5('mh0:' || s), 9, 8))::BIGINT AS h1,
         ('0x' || substr(md5('mh0:' || s), 17, 8))::BIGINT AS h2,
         ('0x' || substr(md5('mh0:' || s), 25, 8))::BIGINT AS h3,
         ('0x' || substr(md5('mh1:' || s), 1, 8))::BIGINT AS h4,
         ('0x' || substr(md5('mh1:' || s), 9, 8))::BIGINT AS h5,
         ('0x' || substr(md5('mh1:' || s), 17, 8))::BIGINT AS h6,
         ('0x' || substr(md5('mh1:' || s), 25, 8))::BIGINT AS h7,
         ('0x' || substr(md5('mh2:' || s), 1, 8))::BIGINT AS h8,
         ('0x' || substr(md5('mh2:' || s), 9, 8))::BIGINT AS h9,
         ('0x' || substr(md5('mh2:' || s), 17, 8))::BIGINT AS h10,
         ('0x' || substr(md5('mh2:' || s), 25, 8))::BIGINT AS h11,
         ('0x' || substr(md5('mh3:' || s), 1, 8))::BIGINT AS h12,
         ('0x' || substr(md5('mh3:' || s), 9, 8))::BIGINT AS h13,
         ('0x' || substr(md5('mh3:' || s), 17, 8))::BIGINT AS h14,
         ('0x' || substr(md5('mh3:' || s), 25, 8))::BIGINT AS h15
  FROM sh),
sig AS (SELECT doc_id,
    {mins}
  FROM hh GROUP BY doc_id),
banded AS (
  {banded}),
sizes AS (SELECT band, bucket, count(*) AS n FROM banded GROUP BY 1, 2),
cool AS (SELECT b.doc_id, b.band, b.bucket
         FROM banded b JOIN sizes s USING (band, bucket)
         WHERE s.n <= {_MH_BUCKET}),
pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM cool a JOIN cool b USING (band, bucket)
          WHERE a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST({est} AS DOUBLE) / {n} AS est_jaccard
FROM pairs p
JOIN sig sa ON sa.doc_id = p.id_a
JOIN sig sb ON sb.doc_id = p.id_b
WHERE CAST({est} AS DOUBLE) / {n} >= {_MH_THRESH}
"""


_SH_BITS, _SH_HAMMING, _SH_CHUNK = 60, 12, 15


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, md5-portable 60-bit signature (15 md5 hex
    chars as an integer — no 64-bit overflow drift) — full duckdb oracle."""
    docs = _spread(spark.table("documents"), spark)
    return DD.simhash_dedup(docs, max_hamming=_SH_HAMMING, hash="md5")


def _simhash_oracle() -> str:
    votes = ",\n    ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(_SH_BITS))
    sim = " + ".join(
        f"CASE WHEN v{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END"
        for b in range(_SH_BITS))
    chunks = "\n  UNION ALL ".join(
        f"SELECT doc_id, {c} AS chunk, (sim >> {c * _SH_CHUNK}) & "
        f"{(1 << _SH_CHUNK) - 1} AS val FROM sig" for c in range(4))
    return rf"""
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ts
              FROM documents),
grams AS (
  SELECT doc_id, unnest(
    CASE WHEN len(ts) >= 2
         THEN list_transform(generate_series(1, len(ts) - 1),
                             i -> ts[i] || ' ' || ts[i + 1])
         ELSE [] END) AS g
  FROM toks),
h AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
      FROM grams),
votes AS (SELECT doc_id,
    {votes}
  FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {sim} AS sim FROM votes),
chunks AS (
  {chunks}),
sizes AS (SELECT chunk, val, count(*) AS n FROM chunks GROUP BY 1, 2),
cool AS (SELECT c.doc_id, c.chunk, c.val
         FROM chunks c JOIN sizes s USING (chunk, val)
         WHERE s.n <= 200),
pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM cool a JOIN cool b USING (chunk, val)
          WHERE a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sa.sim, sb.sim)) AS INT) AS hamming
FROM pairs p
JOIN sig sa ON sa.doc_id = p.id_a
JOIN sig sb ON sb.doc_id = p.id_b
WHERE bit_count(xor(sa.sim, sb.sim)) <= {_SH_HAMMING}
"""


_EMB_THRESH, _EMB_PLANES, _EMB_DIMS, _EMB_SEED = 0.3, 4, 64, 42


def _q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over seeded random hyperplanes.
    The plane constants are deterministic driver-side literals, double
    folds are left-to-right in both engines, so the oracle reproduces the
    bucket bits AND the exact cosines (rounded at 6 for output only;
    the threshold compares the raw double in both engines)."""
    return (DD.embedding_dedup(spark.table("embeddings"),
                               threshold=_EMB_THRESH, n_planes=_EMB_PLANES,
                               dims=_EMB_DIMS, seed=_EMB_SEED)
            .select("id_a", "id_b", F.round("cosine", 6).alias("cosine")))


def _embedding_dedup_oracle() -> str:
    import random as _random
    rng = _random.Random(_EMB_SEED)
    planes = [[rng.gauss(0, 1) for _ in range(_EMB_DIMS)]
              for _ in range(_EMB_PLANES)]
    bucket = " + ".join(
        "(CASE WHEN list_sum(list_transform(list_zip(embedding, ["
        + ", ".join(repr(x) for x in p)
        + "]), p -> CAST(p[1] AS DOUBLE) * p[2])) >= 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes))
    return f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings
           WHERE len(embedding) = {_EMB_DIMS}),
sig AS (SELECT vec_id, embedding, {bucket} AS bucket FROM v),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    list_sum(list_transform(list_zip(a.embedding, b.embedding),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS d,
    sqrt(list_sum(list_transform(a.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
    sqrt(list_sum(list_transform(b.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
  FROM sig a JOIN sig b USING (bucket)
  WHERE a.vec_id < b.vec_id),
scored AS (
  SELECT id_a, id_b,
         CASE WHEN na > 0 AND nb > 0 THEN d / (na * nb) ELSE 0.0 END AS c
  FROM cand)
SELECT id_a, id_b, round(c, 6) AS cosine
FROM scored WHERE c >= {_EMB_THRESH}
"""


def _q_asof_views_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator — Spark has no native one): each view
    event gets the user's latest purchase value at-or-before it.  Oracle
    is DuckDB's native ASOF JOIN."""
    from .operators.asof import asof_join
    events = spark.table("events")
    views = events.where("event_type = 'view'") \
        .select("user_id", "event_id", "ts")
    purchases = (events.where("event_type = 'purchase'")
                 .groupBy("user_id", "ts")
                 .agg(F.max("value").alias("value")))
    return (asof_join(views, purchases, "user_id", "ts",
                      value_cols=["value"])
            .select("user_id", "event_id", "value_asof"))


_ORACLE_ASOF = """
SELECT v.user_id, v.event_id, p.value AS value_asof
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view') v
ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value FROM events
                WHERE event_type = 'purchase' GROUP BY 1, 2) p
  ON v.user_id = p.user_id AND v.ts >= p.ts
"""


def _q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each view event gets the user's NEXT purchase
    value at-or-after it (inclusive ties) — the mirror direction of
    asof_views_purchases, against DuckDB's native forward ASOF."""
    from .operators.asof import asof_join
    events = spark.table("events")
    views = events.where("event_type = 'view'") \
        .select("user_id", "event_id", "ts")
    purchases = (events.where("event_type = 'purchase'")
                 .groupBy("user_id", "ts")
                 .agg(F.max("value").alias("value")))
    return (asof_join(views, purchases, "user_id", "ts",
                      value_cols=["value"], direction="forward")
            .select("user_id", "event_id", "value_asof"))


_ORACLE_ASOF_FORWARD = """
SELECT v.user_id, v.event_id, p.value AS value_asof
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view') v
ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value FROM events
                WHERE event_type = 'purchase' GROUP BY 1, 2) p
  ON v.user_id = p.user_id AND v.ts <= p.ts
"""


def _q_range_join_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (bucket-equi-ized point-in-interval): how many 1-hour
    post-purchase windows contain each view event, per user.  The oracle
    is a plain inequality join in DuckDB — the operator must produce the
    identical match set without ever planning a cross product."""
    from .operators.asof import range_join
    us = ("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
          "ts)")
    ev = spark.table("events")
    views = ev.where("event_type = 'view'") \
        .selectExpr("user_id", "event_id", f"{us} AS p_us")
    purch = (ev.where("event_type = 'purchase'")
             .selectExpr("user_id", f"{us} AS start_us")
             .distinct()
             .withColumn("end_us", F.col("start_us") + F.lit(3_600_000_000)))
    joined = range_join(views, purch, "p_us", "start_us", "end_us",
                        on="user_id", bucket=3_600_000_000)
    return (joined.groupBy("user_id", "event_id")
            .agg(F.count(F.lit(1)).alias("n_windows")))


_ORACLE_RANGE_JOIN = """
SELECT v.user_id, v.event_id, COUNT(*) AS n_windows
FROM (SELECT user_id, event_id, epoch_us(ts) AS p_us FROM events
      WHERE event_type = 'view') v
JOIN (SELECT DISTINCT user_id, epoch_us(ts) AS start_us FROM events
      WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND v.p_us >= p.start_us
 AND v.p_us < p.start_us + 3600000000
GROUP BY v.user_id, v.event_id
"""


def _q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pipeline, oracle-checked END-TO-END: quality gate
    -> exact dedup -> exact-Jaccard near dedup (connected components) ->
    token-budget cut.  The ``exact`` backend makes every stage
    deterministic integer/decimal math, so the whole composition has a
    DuckDB twin (the per-stage oracles composed as CTEs).  Production
    runs swap ``near_dup_backend="minhash"`` for the sub-quadratic path —
    the surrounding stages are identical."""
    from .operators.curation import curate_corpus
    out, _ = curate_corpus(spark.table("documents"), min_quality=0.3,
                           near_dup_threshold=0.2, max_tokens=20_000,
                           collect_stats=False,
                           near_dup_backend="exact", ngram_n=5)
    return out


# composes the proven per-stage oracles (_ORACLE_QUALITY formula,
# _ORACLE_DEDUP normalized-text key, _ORACLE_NEAR_DUP_CLUSTERS recursive
# reachability, prefix-sum budget) into one CTE chain mirroring
# operators/curation.curate_corpus with near_dup_backend="exact"
_ORACLE_CURATE = r"""
WITH RECURSIVE gated AS (
  SELECT doc_id, text, lang, source, n_chars
  FROM documents
  WHERE round((
      least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 50.0, 1.0)
      + greatest(0.0, 1.0 - (CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
                             / length(text)) * 4)
      + CASE WHEN (CAST(list_sum(list_transform(regexp_extract_all(text, '\S+'),
                                                t -> length(t))) AS DOUBLE)
                   / len(regexp_extract_all(text, '\S+'))) BETWEEN 2.0 AND 12.0
             THEN 1.0 ELSE 0.3 END
    ) / 3.0, 6) >= 0.3
), exact AS (
  SELECT * FROM gated
  QUALIFY doc_id = MIN(doc_id) OVER (
    PARTITION BY lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
), grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
     generate_series(1, greatest(len(toks) - 4, 0)),
     i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram
  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM exact)
), sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM grams a JOIN grams b USING (gram) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT a AS doc_id, least(a, MIN(b)) AS component FROM reach GROUP BY a
),
near AS (
  SELECT e.* FROM exact e
  LEFT JOIN comp c ON e.doc_id = c.doc_id
  WHERE c.doc_id IS NULL OR c.doc_id = c.component
),
budget AS (
  SELECT *, SUM(len(regexp_extract_all(text, '\S+'))) OVER (
    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM near
)
SELECT doc_id, text, lang, source, n_chars FROM budget WHERE cum <= 20000
"""


def _q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (rows-only: approximate by construction) — the
    signature probe is a broadcast hamming join, no driver .first()."""
    emb = spark.table("embeddings")
    return SIM.lsh_topk_df(emb, emb.where("vec_id = 0"), dims=64,
                           k=10, n_planes=8)


def _q_curation_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc curation drop-stage labels (same parameters as
    ``curate_corpus_docs``): kept / quality / exact_dup / near_dup /
    budget — the one-action observability surface over the composed
    pipeline.  Oracle: the curation CTE chain emitting a CASE label per
    document instead of the surviving rows."""
    from .operators.curation import curate_provenance
    return curate_provenance(spark.table("documents"), min_quality=0.3,
                             near_dup_threshold=0.2, max_tokens=20_000,
                             near_dup_backend="exact", ngram_n=5)


_ORACLE_PROVENANCE = _ORACLE_CURATE[:_ORACLE_CURATE.rindex("SELECT doc_id,")] + """
SELECT d.doc_id,
  CASE WHEN g.doc_id IS NULL THEN 'quality'
       WHEN e.doc_id IS NULL THEN 'exact_dup'
       WHEN n.doc_id IS NULL THEN 'near_dup'
       WHEN b.doc_id IS NULL THEN 'budget'
       ELSE 'kept' END AS drop_stage
FROM documents d
LEFT JOIN gated g ON d.doc_id = g.doc_id
LEFT JOIN exact e ON d.doc_id = e.doc_id
LEFT JOIN near n ON d.doc_id = n.doc_id
LEFT JOIN (SELECT doc_id FROM budget WHERE cum <= 20000) b
       ON d.doc_id = b.doc_id
"""


def _q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: heuristic marker-word prediction vs
    the table's labeled lang — the per-language accuracy audit a corpus
    pipeline runs after ingest.  Column-algebra only; the DuckDB twin
    mirrors the marker lists, the CJK codepoint check, and the
    struct-max tie-break (score, then lexicographically largest lang).
    """
    docs = spark.table("documents")
    return (docs.select("lang", TX.language_id("text").alias("lang_pred"))
            .groupBy("lang", "lang_pred")
            .agg(F.count(F.lit(1)).alias("docs")))


def _lang_score_sql(lang: str, words: list[str]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return ("len(list_intersect(list_transform(regexp_extract_all(text, "
            fr"'\S+'), t -> lower(t)), [{quoted}])) AS s_{lang}")


_ORACLE_LANG_ID = f"""
WITH scored AS (
  SELECT lang,
    len(regexp_extract_all(text, '[一-鿿]')) AS cjk,
    {_lang_score_sql("en", TX._LANG_MARKERS["en"])},
    {_lang_score_sql("de", TX._LANG_MARKERS["de"])},
    {_lang_score_sql("fr", TX._LANG_MARKERS["fr"])},
    {_lang_score_sql("es", TX._LANG_MARKERS["es"])}
  FROM documents
), labeled AS (
  SELECT lang,
    CASE WHEN cjk > 0 THEN 'zh'
         WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
         WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
         WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
         WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
         ELSE 'de' END AS lang_pred
  FROM scored
)
SELECT lang, lang_pred, COUNT(*) AS docs
FROM labeled GROUP BY lang, lang_pred
"""


def _q_vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-100 lowercased whitespace tokens by
    frequency — the first pass of tokenizer/vocab construction.  Exact
    integer counts, deterministic (freq DESC, token) tie-break."""
    docs = spark.table("documents")
    toks = docs.select(F.explode(
        F.transform(TX.tokens("text"), lambda t: F.lower(t))).alias("tok"))
    return (toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
            .orderBy(F.desc("freq"), "tok").limit(100))


_ORACLE_VOCAB = r"""
SELECT tok, COUNT(*) AS freq FROM (
  SELECT unnest(list_transform(regexp_extract_all(text, '\S+'),
                               t -> lower(t))) AS tok
  FROM documents)
GROUP BY tok ORDER BY freq DESC, tok LIMIT 100
"""


def _q_ngram_diversity_by_source(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """N-gram diversity per source (self-BLEU's cheap cousin): for n in
    1..3, distinct n-grams / total n-grams — the standard repetition /
    mode-collapse diagnostic for generated or scraped corpora (low
    ratio = template-heavy source).  One explode + groupBy per n,
    unioned; exact integer counts, ratio rounded to 6."""
    docs = spark.table("documents")
    toks = F.transform(TX.tokens("text"), lambda t: F.lower(t))
    # 8-byte hashes instead of gram strings: the shuffle and the
    # distinct-count carry longs (collision odds ~1e-10 at corpus vocab
    # sizes -- the trade every gram-hash operator here makes).  N-gram
    # hashes come from ONE linear zip_with pass over the token-hash
    # array (shift-xor combine, bitwise so ANSI-safe) -- not a per-
    # window slice+concat, which would be O(len^2) per doc.
    h1 = F.transform(toks, lambda t: F.xxhash64(t))
    m = F.size(h1)

    def _shift_combine(a, b):
        return F.shiftleft(a, 16).bitwiseXOR(b)

    h2 = F.when(m >= 2, F.zip_with(
        F.slice(h1, 1, m - 1), F.slice(h1, 2, m - 1), _shift_combine)
    ).otherwise(F.array().cast("array<long>"))
    h3 = F.when(m >= 3, F.zip_with(
        F.slice(h2, 1, m - 2), F.slice(h1, 3, m - 2), _shift_combine)
    ).otherwise(F.array().cast("array<long>"))

    def tag(n: int, arr):
        return F.transform(arr, lambda g: F.struct(
            F.lit(n).alias("n"), g.alias("gram")))

    # one corpus scan, one explode, one shuffle for all three n
    allg = F.concat(tag(1, h1), tag(2, h2), tag(3, h3))
    return (docs.select("source", F.explode(allg).alias("g"))
            .groupBy("source", F.col("g.n").alias("n"))
            .agg(F.count(F.lit(1)).alias("total"),
                 F.count_distinct("g.gram").alias("distinct_grams"))
            .withColumn("diversity",
                        F.round(F.col("distinct_grams")
                                / F.col("total"), 6)))


_ORACLE_NGRAM_DIVERSITY = r"""
WITH t AS (
  SELECT source,
         list_transform(regexp_extract_all(text, '\S+'),
                        x -> lower(x)) AS toks
  FROM documents
), g AS (
  SELECT source, n,
         unnest(list_transform(
           generate_series(1, greatest(len(toks) - n + 1, 0)),
           i -> array_to_string(list_slice(toks, i, i + n - 1), ' ')
         )) AS gram
  FROM t CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS n)
)
SELECT source, n, count(*) AS total,
       count(DISTINCT gram) AS distinct_grams,
       round(count(DISTINCT gram) / count(*), 6) AS diversity
FROM g GROUP BY source, n
"""


def _q_zipf_slope_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope per source: OLS slope of ln(freq) on ln(rank) over
    the token frequency table (natural text sits near -1; flat slopes
    flag synthetic or keyword-stuffed sources).  Rank is the exact
    (freq DESC, token) row_number, the fit is the engines' shared
    ``regr_slope`` aggregate — one groupBy + one window + one
    aggregate, all JVM-side."""
    from pyspark.sql import Window
    docs = spark.table("documents")
    freqs = (docs.select(
        "source",
        F.explode(F.transform(TX.tokens("text"),
                              lambda t: F.lower(t))).alias("tok"))
        .groupBy("source", "tok").agg(F.count(F.lit(1)).alias("freq")))
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("freq"), "tok"))
    ranked = freqs.withColumn("rank", rn)
    return (ranked.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_types"),
                 F.round(F.expr(
                     "regr_slope(ln(freq), ln(rank))"), 6)
                 .alias("zipf_slope")))


_ORACLE_ZIPF_SLOPE = r"""
WITH f AS (
  SELECT source, tok, count(*) AS freq FROM (
    SELECT source,
           unnest(list_transform(regexp_extract_all(text, '\S+'),
                                 x -> lower(x))) AS tok
    FROM documents) GROUP BY source, tok
), r AS (
  SELECT source, freq,
         row_number() OVER (PARTITION BY source
                            ORDER BY freq DESC, tok) AS rank
  FROM f
)
SELECT source, count(*) AS n_types,
       round(regr_slope(ln(freq), ln(rank)), 6) AS zipf_slope
FROM r GROUP BY source
"""


def _q_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top bigrams by a PMI-style association score
    ``n_ab² / (n_a·n_b)`` (log-free, so the ordering is exact rational
    math — engine-portable, unlike ln()).  The phrase-detection pass a
    tokenizer pipeline runs before merging multi-word units."""
    docs = spark.table("documents")
    lowered = F.lower(F.col("text"))
    uni = (docs.select(F.explode(TX.tokens(lowered)).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("n")))
    bi = (docs.select(F.explode(TX.word_ngrams(lowered, 2)).alias("bigram"))
          .groupBy("bigram").agg(F.count(F.lit(1)).alias("n_ab"))
          .where(F.col("n_ab") >= 5))
    w1 = F.split(F.col("bigram"), " ").getItem(0)
    w2 = F.split(F.col("bigram"), " ").getItem(1)
    ua = uni.select(F.col("w").alias("__w1"), F.col("n").alias("__na"))
    ub = uni.select(F.col("w").alias("__w2"), F.col("n").alias("__nb"))
    return (bi.withColumn("__w1", w1).withColumn("__w2", w2)
            .join(ua, "__w1").join(ub, "__w2")
            .select("bigram", "n_ab",
                    F.round(F.col("n_ab").cast("double") * F.col("n_ab")
                            / (F.col("__na") * F.col("__nb")), 6)
                    .alias("score"))
            .orderBy(F.desc("score"), "bigram").limit(50))


_ORACLE_COLLOCATIONS = r"""
WITH toks AS (
  SELECT list_transform(regexp_extract_all(text, '\S+'),
                        t -> lower(t)) AS ts
  FROM documents
), ucnt AS (
  SELECT w, COUNT(*) AS n FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w
), bcnt AS (
  SELECT bg, COUNT(*) AS n_ab FROM (
    SELECT unnest(list_transform(generate_series(1, greatest(len(ts) - 1, 0)),
                                 i -> ts[i] || ' ' || ts[i + 1])) AS bg
    FROM toks) GROUP BY bg
  HAVING COUNT(*) >= 5
)
SELECT bg AS bigram, n_ab,
       round(CAST(n_ab AS DOUBLE) * n_ab / (ua.n * ub.n), 6) AS score
FROM bcnt
JOIN ucnt ua ON ua.w = split_part(bg, ' ', 1)
JOIN ucnt ub ON ub.w = split_part(bg, ' ', 2)
ORDER BY score DESC, bigram LIMIT 50
"""


# cohort retention: users grouped by signup week, counted in each later
# activity week.  Week index = floor(epoch_µs / week_µs) — pure integer
# math, immune to engine week-start conventions (date_trunc('week')
# differs subtly across engines/locales).  FLOOR is explicit because
# CAST(double AS BIGINT) truncates in Spark but ROUNDS in DuckDB —
# exactly the silent half-week skew this query would otherwise hide.
# Distinct-count per (cohort, offset) is one shuffle keyed by the pair.
_RETENTION_SQL = """
WITH signup AS (
  SELECT user_id,
         CAST(FLOOR(MIN(timestampdiff(MICROSECOND,
                  TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))
              / 604800000000) AS BIGINT) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(timestampdiff(MICROSECOND,
              TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)
              / 604800000000) AS BIGINT) AS act_week
  FROM events
)
SELECT s.cohort_week,
       CAST(a.act_week - s.cohort_week AS INT) AS week_offset,
       COUNT(DISTINCT s.user_id) AS retained_users
FROM signup s JOIN activity a
  ON s.user_id = a.user_id AND a.act_week >= s.cohort_week
GROUP BY s.cohort_week, CAST(a.act_week - s.cohort_week AS INT)
ORDER BY cohort_week, week_offset
"""

_RETENTION_ORACLE = _RETENTION_SQL.replace(
    "timestampdiff(MICROSECOND,\n"
    "                  TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)",
    "date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts)"
).replace(
    "timestampdiff(MICROSECOND,\n"
    "              TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)",
    "date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts)")


# event-sequence funnel: first-occurrence ordering semantics (each stage
# counts only when its FIRST event lands after the previous stage's
# first event).  One scan + one per-user aggregate + one global
# aggregate — no joins, no windows; tz-free µs ints for the ordering.
_FUNNEL_SQL = """
WITH stages AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'signup' THEN
      timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)
    END) AS s_us,
    MIN(CASE WHEN event_type = 'view' THEN
      timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)
    END) AS v_us,
    MIN(CASE WHEN event_type = 'click' THEN
      timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)
    END) AS c_us,
    MIN(CASE WHEN event_type = 'purchase' THEN
      timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)
    END) AS p_us
  FROM events GROUP BY user_id
)
SELECT COUNT(*) AS users,
  CAST(SUM(CASE WHEN s_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS signed_up,
  CAST(SUM(CASE WHEN v_us > s_us THEN 1 ELSE 0 END) AS BIGINT)
    AS viewed_after_signup,
  CAST(SUM(CASE WHEN v_us > s_us AND c_us > v_us THEN 1 ELSE 0 END)
    AS BIGINT) AS clicked_after_view,
  CAST(SUM(CASE WHEN v_us > s_us AND c_us > v_us AND p_us > c_us
           THEN 1 ELSE 0 END) AS BIGINT) AS purchased_after_click
FROM stages
"""

_FUNNEL_ORACLE = _FUNNEL_SQL.replace(
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)",
    "date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts)")


def _q_source_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keyword extraction: top-5 tokens by a LOG-FREE tf-idf
    (tf x N/df — linear idf keeps the score exact rational math, so the
    ranking oracle-checks across engines; ln() would be subject to libm
    last-bit drift).  The per-group top-k runs as one window over the
    (source, token) aggregate — topic signatures for corpus triage."""
    from pyspark.sql import Window
    docs = spark.table("documents")
    lowered = F.lower(F.col("text"))
    tok = docs.select("source", "doc_id",
                      F.explode(TX.tokens(lowered)).alias("tok"))
    tf = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = (tok.select("doc_id", "tok").distinct()
           .groupBy("tok").agg(F.count(F.lit(1)).alias("df")))
    n_docs = docs.count()
    w = Window.partitionBy("source").orderBy(
        F.desc("score"), F.col("tok"))
    return (tf.join(F.broadcast(df_), "tok")
            .withColumn("score",
                        F.round(F.col("tf").cast("double")
                                * F.lit(float(n_docs)) / F.col("df"), 6))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("source", "tok", "tf", "df", "score", "rank"))


_ORACLE_KEYWORDS = r"""
WITH tok AS (
  SELECT source, doc_id,
         unnest(list_transform(regexp_extract_all(text, '\S+'),
                               t -> lower(t))) AS tok
  FROM documents
), tf AS (
  SELECT source, tok, COUNT(*) AS tf FROM tok GROUP BY source, tok
), df AS (
  SELECT tok, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM tok)
  GROUP BY tok
), scored AS (
  SELECT source, tok, tf, df,
         round(CAST(tf AS DOUBLE)
               * (SELECT COUNT(*) FROM documents) / df, 6) AS score,
         row_number() OVER (PARTITION BY source
                            ORDER BY round(CAST(tf AS DOUBLE)
                                * (SELECT COUNT(*) FROM documents) / df, 6)
                                DESC, tok) AS rank
  FROM tf JOIN df USING (tok)
)
SELECT source, tok, tf, df, score, rank FROM scored WHERE rank <= 5
"""


def _q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus card: the summary a dataset release ships with —
    docs, token total, distinct contents, languages, mean quality, PII
    totals.  ONE narrow pass + ONE aggregate (no joins, no windows):
    the shape that holds at any corpus size."""
    docs = spark.table("documents")
    q = TX.quality_score("text").cast("decimal(10,6)")
    pii = TX.pii_counts("text")
    return (docs.select(
                TX.content_hash("text").alias("__h"),
                TX.token_count("text").alias("__t"),
                q.alias("__q"), pii.alias("__p"), "lang")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.sum("__t").cast("bigint").alias("total_tokens"),
                 F.countDistinct("__h").alias("distinct_contents"),
                 F.countDistinct("lang").alias("languages"),
                 (F.sum("__q").cast("double") / F.count(F.lit(1)))
                 .alias("mean_quality"),
                 F.sum(F.col("__p.email") + F.col("__p.phone")
                       + F.col("__p.ssn") + F.col("__p.ipv4"))
                 .cast("bigint").alias("pii_total")))


_ORACLE_CORPUS_REPORT = r"""
SELECT COUNT(*) AS docs,
  CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS total_tokens,
  COUNT(DISTINCT lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
    AS distinct_contents,
  COUNT(DISTINCT lang) AS languages,
  CAST(SUM(CAST(round((
      least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 50.0, 1.0)
      + greatest(0.0, 1.0 - (CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
                             / length(text)) * 4)
      + CASE WHEN (CAST(list_sum(list_transform(regexp_extract_all(text, '\S+'),
                                                t -> length(t))) AS DOUBLE)
                   / len(regexp_extract_all(text, '\S+'))) BETWEEN 2.0 AND 12.0
             THEN 1.0 ELSE 0.3 END
    ) / 3.0, 6) AS DECIMAL(10,6))) AS DOUBLE) / COUNT(*) AS mean_quality,
  CAST(SUM(
      len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
    + len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))
    + len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b'))
    + len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
  ) AS BIGINT) AS pii_total
FROM documents
"""


def _q_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII audit: per-source counts of email/phone/SSN/IPv4 matches —
    the scrub-coverage metric behind redact_pii.  The patterns are
    written to identical semantics in Java regex and RE2 (no
    lookaround), so the counts oracle-check exactly."""
    docs = spark.table("documents")
    c = TX.pii_counts("text")
    return (docs.select("source", c.alias("__p"))
            .groupBy("source")
            .agg(*[F.sum(F.col(f"__p.{k}")).cast("long").alias(k)
                   for k in ("email", "phone", "ssn", "ipv4")])
            .orderBy("source"))


_ORACLE_PII = r"""
SELECT source,
  CAST(SUM(len(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS email,
  CAST(SUM(len(regexp_extract_all(text,
    '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))) AS BIGINT) AS phone,
  CAST(SUM(len(regexp_extract_all(text,
    '\b\d{3}-\d{2}-\d{4}\b'))) AS BIGINT) AS ssn,
  CAST(SUM(len(regexp_extract_all(text,
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))) AS BIGINT) AS ipv4
FROM documents GROUP BY source ORDER BY source
"""


def _q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: a views STREAM joined to a purchases
    STREAM per user within [purchase, purchase+1h) — the Structured
    Streaming enrichment shape (two readStreams, time-bound join
    condition, append sink).  availableNow backfill; the joined rows
    land in a memory sink and the per-(user, event) window count is
    checked against the equivalent batch inequality join in DuckDB —
    stream/batch join semantics line up exactly."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix="legend_ss_join_")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    (spark.table("events").select("user_id", "event_id", "event_type", "ts")
     .write.mode("overwrite").parquet(src))
    schema = spark.read.parquet(src).schema

    views = (spark.readStream.schema(schema).parquet(src)
             .where("event_type = 'view'")
             .select("user_id", "event_id", F.col("ts").alias("v_ts")))
    purchases = (spark.readStream.schema(schema).parquet(src)
                 .where("event_type = 'purchase'")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("ts").alias("p_ts"))
                 .dropDuplicates(["p_user", "p_ts"]))
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("v_ts") >= F.col("p_ts"))
        & (F.col("v_ts") < F.col("p_ts") + F.expr("INTERVAL 1 HOUR")))

    _STREAM_RUN_SEQ[0] += 1
    sink = f"__ss_join_{_STREAM_RUN_SEQ[0]}"
    q = (joined.writeStream.format("memory").queryName(sink)
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    return (spark.table(sink)
            .groupBy("user_id", "event_id")
            .agg(F.count(F.lit(1)).alias("n_windows")))


_ORACLE_SS_JOIN = """
SELECT v.user_id, v.event_id, COUNT(*) AS n_windows
FROM (SELECT user_id, event_id, epoch_us(ts) AS v_us FROM events
      WHERE event_type = 'view') v
JOIN (SELECT DISTINCT user_id, epoch_us(ts) AS p_us FROM events
      WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND v.v_us >= p.p_us
 AND v.v_us < p.p_us + 3600000000
GROUP BY v.user_id, v.event_id
"""


def _query_vec(emb: DataFrame) -> list[float]:
    """The ``vec_id = 0`` embedding: the query of the ANN index entries."""
    row = emb.where("vec_id = 0").first()
    if row is None:
        raise ValueError("no vec_id = 0 row in the embeddings to query with")
    return [float(x) for x in row["embedding"]]


def _q_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN through the PERSISTED IVF index: k-means cells partitioned on
    disk, query reads only the n_probe nearest cells (partition-pruned
    IN-list).  Rows-only: centroid assignment is iteration-seeded."""
    import tempfile
    path = tempfile.mkdtemp(prefix="legend_ivf_index_") + "/idx"
    emb = spark.table("embeddings")
    SIM.build_ivf_index(emb, path, n_centroids=8)
    return SIM.query_ivf_index(spark, path, _query_vec(emb), k=10, n_probe=3)


def _q_lsh_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN through the PERSISTED LSH index: build the signature-
    partitioned parquet index, then query it — the scan prunes to the
    probed buckets (``PartitionFilters: [__sig IN ...]``,
    plan-asserted in tests/test_curation.py).  Rows-only: hash-seeded
    bucketing.  The build cost amortizes over queries in production;
    here it runs in-query against a scratch dir."""
    import tempfile
    path = tempfile.mkdtemp(prefix="legend_lsh_index_") + "/idx"
    emb = spark.table("embeddings")
    SIM.build_lsh_index(emb, path, dims=64, n_planes=8)
    return SIM.query_lsh_index(spark, path, _query_vec(emb), k=10)


def _q_doc_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean unigram surprisal — the cheap perplexity proxy for
    quality filtering (CCNet-style, the corpus as its own LM): the
    corpus's token counts price every token, a doc's score is
    ``ln(N) - avg(ln(count))``.  Rounded to 6 decimals on both sides
    (ln/avg last-ulp drift across engines)."""
    from .operators.scoring import unigram_surprisal
    return (unigram_surprisal(spark.table("documents"))
            .select("doc_id", "n_tokens",
                    F.round("mean_neg_logprob", 6)
                    .alias("mean_neg_logprob")))


_ORACLE_DOC_SURPRISAL = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS t
  FROM documents
), c AS (SELECT t, count(*) AS ct FROM tok GROUP BY 1),
n AS (SELECT sum(ct) AS N FROM c),
pd AS (
  SELECT doc_id, count(*) AS n_tokens, avg(ln(c.ct)) AS al
  FROM tok JOIN c USING (t) GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
       round(ln(n.N) - pd.al, 6) AS mean_neg_logprob
FROM documents d LEFT JOIN pd USING (doc_id) CROSS JOIN n
"""


def _q_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source total-variation distance from the corpus token
    distribution — mixture drift monitoring.  Absent-token mass folded
    in algebraically (no source x vocab cross product); rounded 6."""
    from .operators.scoring import source_tv_distance
    return (source_tv_distance(spark.table("documents"))
            .select("source", "n_tokens",
                    F.round("tv_distance", 6).alias("tv_distance")))


_ORACLE_SOURCE_DRIFT = r"""
WITH tok AS (
  SELECT source, unnest(regexp_extract_all(text, '\S+')) AS t
  FROM documents
), st AS (SELECT source, t, count(*) AS cst FROM tok GROUP BY 1, 2),
tt AS (SELECT t, sum(cst) AS ct FROM st GROUP BY 1),
ts AS (SELECT source, sum(cst) AS ns FROM st GROUP BY 1),
n AS (SELECT sum(ct) AS N FROM tt)
SELECT st.source, CAST(ts.ns AS BIGINT) AS n_tokens,
       round(0.5 * (sum(abs(CAST(cst AS DOUBLE) / ts.ns
                            - CAST(ct AS DOUBLE) / n.N))
                    + 1.0 - sum(CAST(ct AS DOUBLE) / n.N)), 6)
         AS tv_distance
FROM st JOIN tt USING (t) JOIN ts USING (source) CROSS JOIN n
GROUP BY st.source, ts.ns
"""


def _q_boilerplate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate exposure: fraction of the doc's distinct word
    3-grams shared by >= 1% of documents — the within-corpus template
    detector (headers / navigation / license chrome), the counterpart
    of cross-corpus decontamination."""
    from .operators.scoring import boilerplate_stats
    # r12 measured _spread as a 4x REGRESSION on the old 3-pass shape
    # (each corpus reference re-executed the added exchange); r13's
    # checkpointed single gram pass removes the repeated references, and
    # _spread now parallelizes that one pass: 4.4 s -> 1.9 s
    # (hash-identical, interleaved A/B)
    docs = _spread(spark.table("documents"), spark)
    return (boilerplate_stats(docs, n=3,
                              min_doc_frac=0.01)
            .select("doc_id", "n_grams", "n_boiler",
                    F.round("boiler_frac", 6).alias("boiler_frac")))


_ORACLE_BOILERPLATE = r"""
WITH dg AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
     generate_series(1, greatest(len(toks) - 2, 0)),
     i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS gram
  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        FROM documents)
), nd AS (SELECT count(*) AS ndocs FROM documents),
bg AS (
  SELECT gram FROM dg CROSS JOIN nd
  GROUP BY gram, ndocs
  HAVING CAST(count(*) AS DOUBLE) / ndocs >= 0.01
),
per AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY 1),
hit AS (SELECT doc_id, count(*) AS n_boiler
        FROM dg JOIN bg USING (gram) GROUP BY 1)
SELECT d.doc_id,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(h.n_boiler, 0) AS BIGINT) AS n_boiler,
       round(CASE WHEN COALESCE(p.n_grams, 0) > 0
                  THEN CAST(COALESCE(h.n_boiler, 0) AS DOUBLE) / p.n_grams
                  ELSE 0.0 END, 6) AS boiler_frac
FROM documents d
LEFT JOIN per p USING (doc_id)
LEFT JOIN hit h USING (doc_id)
"""


def _q_chunked_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (size=32, stride=16): each doc's token
    stream split into overlapping context-window chunks — the per-doc
    layout step before packing.  Pure Column algebra, zero shuffle."""
    from .operators.scoring import chunk_docs
    return chunk_docs(spark.table("documents"), size=32, stride=16)


_ORACLE_CHUNKED_DOCS = r"""
WITH base AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents
), w AS (
  SELECT doc_id, toks, len(toks) AS n,
    CASE WHEN len(toks) <= 0 THEN 0
         ELSE 1 + greatest(CAST(ceil((len(toks) - 32) / 16.0) AS INT), 0)
    END AS nc
  FROM base
)
SELECT doc_id, CAST(i AS INT) AS chunk_id,
       CAST(i * 16 AS BIGINT) AS start_token,
       CAST(least(32, n - i * 16) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(toks, i * 16 + 1, i * 16 + 32), ' ')
         AS chunk_text
FROM w, unnest(generate_series(0, nc - 1)) AS u(i)
WHERE nc > 0
"""


def _q_best_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered per-group caps: the 10 longest docs per source
    (ties by id — fully deterministic).  Compiles to WindowGroupLimit:
    running top-n per task, no full group sort (plan-pinned in
    tests/test_scoring.py)."""
    from .operators.scoring import top_n_per_group
    return (top_n_per_group(spark.table("documents"), "source", 10,
                            "n_chars")
            .select("doc_id", "source", "n_chars"))


_ORACLE_BEST_PER_SOURCE = """
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
) WHERE rn <= 10
"""


def _q_near_dup_best_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best survivor selection over the exact near-dup graph: per
    component, the member with max n_chars (tie -> min id) plus the
    member count — what ``drop_near_dups_keep_best`` keeps when a
    cluster holds one clean doc and N mangled re-crawls.  Oracle:
    recursive-CTE reachability + windowed argmax."""
    from .operators.graph import cluster_representatives
    pairs = DD.ngram_jaccard_pairs(spark.table("documents"), n=5,
                                   threshold=0.2)
    return cluster_representatives(spark.table("documents"), pairs,
                                   "n_chars")


_ORACLE_NEAR_DUP_BEST_REPS = r"""
WITH RECURSIVE grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
     generate_series(1, greatest(len(toks) - 4, 0)),
     i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram
  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents)
), sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM grams a JOIN grams b USING (gram) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT a AS doc_id, least(a, MIN(b)) AS component FROM reach GROUP BY a
),
scored AS (
  SELECT c.component, c.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY d.n_chars DESC, c.doc_id) AS rn
  FROM comp c JOIN documents d USING (doc_id)
),
sizes2 AS (SELECT component, count(*) AS n_members FROM comp GROUP BY 1)
SELECT s.component, s.doc_id AS rep_id,
       CAST(s.n_chars AS BIGINT) AS rep_score,
       CAST(z.n_members AS BIGINT) AS n_members
FROM scored s JOIN sizes2 z USING (component) WHERE s.rn = 1
"""


def _q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN through a PERSISTED product-quantization index: unit-normalize,
    train per-subspace codebooks, persist the compressed codes (m small
    ints per vector — the 32x memory story at 100 TB), then ADC-shortlist
    over codes only + exact cosine re-rank of the shortlist
    (similarity.pq_topk_refined).  Rows-only: k-means codebooks are
    iterative and data-order-seeded; refined recall floors are pinned in
    tests/test_curation.py."""
    import tempfile

    from .functions.vectors import norm

    path = tempfile.mkdtemp(prefix="legend_pq_index_") + "/idx"
    unit = spark.table("embeddings").select(
        "vec_id",
        F.transform("embedding",
                    lambda x: x.cast("double") / norm("embedding"))
        .alias("embedding"))
    cb = SIM.build_pq_index(unit, path, dims=64, m=16, n_codes=16, iters=1)
    return SIM.pq_topk_refined(unit, spark.read.parquet(path),
                               _query_vec(unit), cb, k=10, refine_factor=10)


def _q_surprisal_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest quality gate: documents arrive as a parquet
    stream and are priced against the static corpus unigram model via
    one stream-static join + one stateful aggregation
    (streaming/surprisal_stream).  availableNow backfill over the full
    corpus == the batch operator, so the oracle is ``doc_surprisal``'s
    SQL verbatim."""
    import tempfile

    from .streaming import surprisal_stream

    docs = spark.table("documents")
    tmp = tempfile.mkdtemp(prefix="legend_surprisal_stream_")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    docs.select("doc_id", "text").write.mode("overwrite").parquet(src)
    stream = (spark.readStream
              .schema(spark.read.parquet(src).schema).parquet(src))
    scored = surprisal_stream(stream, docs)
    _STREAM_RUN_SEQ[0] += 1
    sink = f"__surprisal_stream_{_STREAM_RUN_SEQ[0]}"
    q = (scored.writeStream.format("memory").queryName(sink)
         .outputMode("complete").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    return spark.table(sink).select(
        "doc_id", "n_tokens",
        F.round("mean_neg_logprob", 6).alias("mean_neg_logprob"))


def _q_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture construction by TOKENS: per-language token budgets filled
    in the reproducible (md5(id), id) order — en capped hard, small langs
    capped loosely, es/zh dropped (absent from the budget dict).  The
    two-level md5-prefix prefix sum keeps every stratum parallel (no
    one-partition-per-language window); selection is engine-independent,
    so the whole mixture is auditable SQL."""
    from .operators.curation import stratum_token_budget
    return (stratum_token_budget(
        spark.table("documents"), "lang",
        {"en": 4000, "de": 2000, "fr": 9000})
        .select("doc_id", "lang", "n_chars"))


_ORACLE_TOKEN_BUDGET_MIXTURE = r"""
WITH t AS (
  SELECT doc_id, lang, n_chars,
         md5(CAST(doc_id AS VARCHAR)) AS h,
         len(regexp_extract_all(text, '\S+')) AS tok
  FROM documents
), c AS (
  SELECT doc_id, lang, n_chars,
         sum(tok) OVER (PARTITION BY lang ORDER BY h, doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, lang, n_chars FROM c
WHERE (lang = 'en' AND cum <= 4000)
   OR (lang = 'de' AND cum <= 2000)
   OR (lang = 'fr' AND cum <= 9000)
"""


def _q_intra_dup_span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated-window removal (operators/spans.py
    intra_doc_dup_spans): a 2-token window occurrence is dropped iff the
    same window occurred earlier in the SAME doc at a non-overlapping
    position — the self-repetition cleaner (keyword stuffing, template
    echoes inside one page).  ZERO shuffles: pure per-row Column
    algebra, embarrassingly parallel at any corpus size.  The oracle
    reproduces the rule with DuckDB list lambdas and compares the
    cleaned text itself."""
    from .operators.spans import intra_doc_dup_spans
    return intra_doc_dup_spans(spark.table("documents"), n=2)


_ORACLE_INTRA_DUP_SPANS = r"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents
), w AS (
  SELECT doc_id, toks,
         list_transform(
           generate_series(1, greatest(len(toks) - 1, 0)),
           i -> array_to_string(list_slice(toks, i, i + 1), ' ')
         ) AS wins
  FROM t
), r AS (
  SELECT doc_id, toks,
         list_filter(
           generate_series(1, len(wins)),
           i -> len(list_filter(generate_series(1, len(wins)),
                                j -> j <= i - 2 AND wins[j] = wins[i])) > 0
         ) AS rem
  FROM w
), k AS (
  SELECT doc_id, toks, rem,
         list_filter(generate_series(1, len(toks)),
           p -> len(list_filter(rem, s -> p >= s AND p <= s + 1)) = 0
         ) AS keep
  FROM r
)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(toks) - len(keep) AS n_removed,
       array_to_string(list_transform(keep, p -> toks[p]), ' ')
         AS clean_text
FROM k
"""


def _q_dup_span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, distributed: remove every token covered by a
    corpus-duplicated 15-token window (the fixed-width n-gram cover that
    re-expresses Lee et al.'s suffix-array span removal at cluster
    scale).  Wide stages carry 8-byte xxhash64 window keys only; the
    rebuild is pure array algebra (operators/spans.py).  The oracle
    reproduces the cover literally with DuckDB list lambdas and compares
    the CLEANED TEXT itself — the strongest check available."""
    from .operators.spans import duplicate_span_stats
    return duplicate_span_stats(spark.table("documents"), n=15)


_ORACLE_DUP_SPANS = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(text,'\S+') AS ts FROM documents),
gg AS (
  SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 14)) AS s
  FROM t WHERE len(ts) >= 15
), g2 AS (
  SELECT doc_id, s, array_to_string(list_slice(ts, s, s + 14), chr(31)) AS gram
  FROM gg
), d AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
fl AS (SELECT doc_id, list(DISTINCT s) AS ss FROM g2 JOIN d USING (gram)
       GROUP BY doc_id),
r AS (SELECT t.doc_id, t.ts, coalesce(fl.ss, []) AS ss
      FROM t LEFT JOIN fl USING (doc_id))
SELECT doc_id, len(ts) AS n_tokens, len(ts) - len(kept) AS n_removed,
       coalesce(array_to_string(list_transform(kept, p -> ts[p]), ' '), '')
         AS clean_text
FROM (
  SELECT doc_id, ts,
         list_filter(generate_series(1, len(ts)),
                     p -> len(list_filter(ss, s -> p >= s AND p <= s + 14)) = 0)
           AS kept
  FROM r
)
"""


def _q_exact_span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-rank EXACT substring dedup (operators/suffix.py, round 8):
    same Lee et al. 15-token cover as dup_span_docs, but window identity
    comes from prefix-doubled suffix ranks + the overlapping-anchor pair
    (sparse-table trick) instead of xxhash64 — collision-free at any
    corpus size, O(log n) bounded rank passes, shuffles keyed on 8-byte
    longs.  Oracle: the same literal DuckDB cover as dup_span_docs
    (cleaned text compared verbatim)."""
    from .operators.suffix import exact_span_stats
    docs = _spread(spark.table("documents"), spark)
    return exact_span_stats(docs, n=15)


def _q_longest_dup_span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LONGEST exactly-duplicated substring (tokens): the
    suffix-array capability the n-gram cover can't express — exact LCPs
    between rank-order neighbors, descending the prefix-doubling tables.
    rounds=7 makes 2**7=128 >= the fixture's max 100-token docs, i.e. a
    FULL suffix sort — the exactness condition (ties then mean wholly
    identical suffixes, so neighbor LCPs are the true maxima).  Oracle:
    DuckDB enumerates every (start, length) window per doc and takes the
    max duplicated length — O(len^2) materialization that is fine at
    oracle scale and exactly what the rank path avoids at 100 TB."""
    from .operators.suffix import longest_dup_span_docs
    docs = _spread(spark.table("documents"), spark)
    return longest_dup_span_docs(docs, rounds=7)


def _q_exact_span_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. KEEP-ONE span dedup (suffix.exact_span_stats with
    keep_first=True): each duplicate group's canonical occurrence
    (lowest (doc_id, start)) survives, so exactly one copy of every
    duplicated 15-token substring remains in the corpus.  Oracle:
    the literal DuckDB cover minus each gram's argmin occurrence."""
    from .operators.suffix import exact_span_stats
    docs = _spread(spark.table("documents"), spark)
    return exact_span_stats(docs, n=15, keep_first=True)


def _q_top_dup_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diagnostics: the 20 most-repeated 15-token windows with
    occurrence/doc counts and the canonical first occurrence
    (suffix.top_dup_windows) — window identity from exact rank pairs;
    text reconstructed only for the k winners."""
    from .operators.suffix import top_dup_windows
    docs = _spread(spark.table("documents"), spark)
    return top_dup_windows(docs, n=15, k=20)


def _q_max_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-span inventory (suffix.max_dup_spans): every
    (doc_id, start, length) whose longest duplicated prefix is >= 10
    tokens and extends past the previous position's span — the explicit
    repeat map a fixed-width cover can't produce.  rounds=7 = full
    suffix sort on the fixture (exactness condition).  Oracle: per
    (doc, start) max duplicated window length in DuckDB, lag-shadow
    filtered."""
    from .operators.suffix import max_dup_spans
    docs = _spread(spark.table("documents"), spark)
    return max_dup_spans(docs, min_len=10, rounds=7)


_ORACLE_MAX_DUP_SPANS = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(text,'\S+') AS ts FROM documents),
pos AS (
  SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS s
  FROM t WHERE len(ts) >= 1),
wins AS (
  SELECT doc_id, s, l.l AS l,
         array_to_string(list_slice(ts, s, s + l.l - 1), chr(31)) AS gram
  FROM pos, unnest(generate_series(1, len(ts) - s + 1)) AS l(l)),
dup AS (SELECT gram FROM wins GROUP BY gram HAVING count(*) >= 2),
md AS (SELECT w.doc_id, w.s, max(w.l) AS m
       FROM wins w JOIN dup USING (gram) GROUP BY w.doc_id, w.s),
full_md AS (
  SELECT p.doc_id, p.s, coalesce(md.m, 0) AS m
  FROM pos p LEFT JOIN md USING (doc_id, s)),
shadow AS (
  SELECT doc_id, s, m,
         coalesce(lag(m) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pm
  FROM full_md)
SELECT doc_id, s AS start, m AS length
FROM shadow WHERE m >= 10 AND pm < m + 1
"""


def _q_exact_span_docs_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAR-level exact-substring dedup (suffix.exact_span_stats with
    unit='char', round 9): Lee et al. deduplicate at byte/BPE-token
    granularity, so intra-token duplication (markup, CJK, code) that
    whitespace tokens cannot see is visible here.  Every character
    covered by a corpus-duplicated 25-char window is removed; window
    identity is the same overlapping-anchor rank pair, now over
    character positions (only rank rounds 0..4 needed: 2**4 <= 25).
    Oracle: the literal DuckDB 25-char cover with the cleaned text
    compared verbatim."""
    from .operators.suffix import exact_span_stats
    docs = _spread(spark.table("documents"), spark)
    return exact_span_stats(docs, n=25, unit="char")


_ORACLE_DUP_SPANS_CHAR = r"""
WITH t AS (SELECT doc_id, string_split(text, '') AS ts FROM documents),
gg AS (
  SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 24)) AS s
  FROM t WHERE len(ts) >= 25
), g2 AS (
  SELECT doc_id, s, array_to_string(list_slice(ts, s, s + 24), '') AS gram
  FROM gg
), d AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
fl AS (SELECT doc_id, list(DISTINCT s) AS ss FROM g2 JOIN d USING (gram)
       GROUP BY doc_id),
r AS (SELECT t.doc_id, t.ts, coalesce(fl.ss, []) AS ss
      FROM t LEFT JOIN fl USING (doc_id))
SELECT doc_id, len(ts) AS n_tokens, len(ts) - len(kept) AS n_removed,
       coalesce(array_to_string(list_transform(kept, p -> ts[p]), ''), '')
         AS clean_text
FROM (
  SELECT doc_id, ts,
         list_filter(generate_series(1, len(ts)),
                     p -> len(list_filter(ss, s -> p >= s AND p <= s + 24)) = 0)
           AS kept
  FROM r
)
"""


def _q_max_dup_spans_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAR-level maximal duplicated-span inventory (suffix.max_dup_spans
    with unit='char', round 9) on the doc_id % 10 sample: every
    (doc_id, start, length) whose longest duplicated CHARACTER prefix is
    >= 20 and extends past the previous position's span.  rounds=10
    makes 2**10 = 1024 >= the fixture's 577-char max doc — the full
    suffix sort exactness condition at character granularity (early-stop
    finishes far sooner: the sample's longest repeat is ~26 chars).
    The sample bounds the O(len^2) brute-force oracle, not the operator.
    Oracle: per (doc, start) max duplicated substring length over ALL
    window lengths in DuckDB, lag-shadow filtered."""
    from .operators.suffix import max_dup_spans
    docs = _spread(
        spark.table("documents").where(F.col("doc_id") % 10 == 0), spark)
    return max_dup_spans(docs, min_len=20, rounds=10, unit="char")


_ORACLE_MAX_DUP_SPANS_CHAR = r"""
WITH t AS (SELECT doc_id, string_split(text, '') AS ts FROM documents
           WHERE doc_id % 10 = 0),
pos AS (
  SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS s
  FROM t WHERE len(ts) >= 1),
wins AS (
  SELECT doc_id, s, l.l AS l,
         array_to_string(list_slice(ts, s, s + l.l - 1), '') AS gram
  FROM pos, unnest(generate_series(1, len(ts) - s + 1)) AS l(l)),
dup AS (SELECT gram FROM wins GROUP BY gram HAVING count(*) >= 2),
md AS (SELECT w.doc_id, w.s, max(w.l) AS m
       FROM wins w JOIN dup USING (gram) GROUP BY w.doc_id, w.s),
full_md AS (
  SELECT p.doc_id, p.s, coalesce(md.m, 0) AS m
  FROM pos p LEFT JOIN md USING (doc_id, s)),
shadow AS (
  SELECT doc_id, s, m,
         coalesce(lag(m) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pm
  FROM full_md)
SELECT doc_id, s AS start, m AS length
FROM shadow WHERE m >= 20 AND pm < m + 1
"""


def _q_exact_contamination_spans(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """EXACT cross-corpus contamination spans (round 9,
    suffix.exact_contamination_spans): every eval-split (doc_id % 5 ==
    0) 15-token window whose exact content occurs anywhere in the train
    split — the suffix-rank, collision-free counterpart of the
    Jaccard/gram-overlap decontamination family.  Never a self-join;
    corpus-wide stages carry rank pairs only.  Oracle: literal DuckDB
    gram join between the two splits."""
    from .operators.suffix import exact_contamination_spans
    docs = _spread(spark.table("documents"), spark)
    return exact_contamination_spans(
        docs.where(F.col("doc_id") % 5 != 0),
        docs.where(F.col("doc_id") % 5 == 0), n=15)


_ORACLE_EXACT_CONTAM_SPANS = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(text,'\S+') AS ts FROM documents),
tg AS (
  SELECT array_to_string(list_slice(ts, s, s + 14), chr(31)) AS gram,
         count(*) AS n_train_occ
  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 14)) AS s
        FROM t WHERE doc_id % 5 != 0 AND len(ts) >= 15)
  GROUP BY gram),
eg AS (
  SELECT doc_id, s, array_to_string(list_slice(ts, s, s + 14), chr(31)) AS gram
  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 14)) AS s
        FROM t WHERE doc_id % 5 = 0 AND len(ts) >= 15))
SELECT eg.doc_id, eg.s, tg.n_train_occ
FROM eg JOIN tg USING (gram)
"""


def _q_exact_contamination_docs(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Per-eval-doc exact-contamination report
    (suffix.exact_contamination_stats): tokens covered by >= 1 window
    exactly present in train, as count + fraction — the span-cover
    measure the PaLM-style distinct-gram report can't give (it scores
    gram SETS; this scores positional coverage)."""
    from .operators.suffix import exact_contamination_stats
    docs = _spread(spark.table("documents"), spark)
    return exact_contamination_stats(
        docs.where(F.col("doc_id") % 5 != 0),
        docs.where(F.col("doc_id") % 5 == 0), n=15)


_ORACLE_EXACT_CONTAM_DOCS = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(text,'\S+') AS ts FROM documents),
tg AS (
  SELECT array_to_string(list_slice(ts, s, s + 14), chr(31)) AS gram
  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 14)) AS s
        FROM t WHERE doc_id % 5 != 0 AND len(ts) >= 15)
  GROUP BY gram),
ev AS (SELECT doc_id, ts FROM t WHERE doc_id % 5 = 0),
eg AS (
  SELECT doc_id, s, array_to_string(list_slice(ts, s, s + 14), chr(31)) AS gram
  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 14)) AS s
        FROM ev WHERE len(ts) >= 15)),
fl AS (SELECT eg.doc_id, list(DISTINCT eg.s) AS ss
       FROM eg JOIN tg USING (gram) GROUP BY eg.doc_id),
r AS (SELECT ev.doc_id, ev.ts, coalesce(fl.ss, []) AS ss
      FROM ev LEFT JOIN fl USING (doc_id))
SELECT doc_id, n_tokens, n_contaminated,
       CASE WHEN n_tokens > 0
            THEN round(n_contaminated / n_tokens, 6)
            ELSE 0.0 END AS contaminated_frac
FROM (
  SELECT doc_id, len(ts) AS n_tokens,
         len(list_filter(generate_series(1, len(ts)),
             p -> len(list_filter(ss, s -> p >= s AND p <= s + 14)) > 0))
           AS n_contaminated
  FROM r
)
"""


def _q_exact_decontaminated_docs(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Span-level decontamination (suffix.exact_decontaminate): the
    eval split rewritten with every token covered by a train-present
    15-token window removed — keep the doc, excise the leak.  Oracle
    compares the CLEANED TEXT verbatim (the strongest check), via the
    literal DuckDB cross-corpus cover."""
    from .operators.suffix import exact_decontaminate
    docs = _spread(spark.table("documents"), spark)
    return exact_decontaminate(
        docs.where(F.col("doc_id") % 5 != 0),
        docs.where(F.col("doc_id") % 5 == 0), n=15)


_ORACLE_EXACT_DECONTAM_DOCS = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(text,'\S+') AS ts FROM documents),
tg AS (
  SELECT array_to_string(list_slice(ts, s, s + 14), chr(31)) AS gram
  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 14)) AS s
        FROM t WHERE doc_id % 5 != 0 AND len(ts) >= 15)
  GROUP BY gram),
ev AS (SELECT doc_id, ts FROM t WHERE doc_id % 5 = 0),
eg AS (
  SELECT doc_id, s, array_to_string(list_slice(ts, s, s + 14), chr(31)) AS gram
  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 14)) AS s
        FROM ev WHERE len(ts) >= 15)),
fl AS (SELECT eg.doc_id, list(DISTINCT eg.s) AS ss
       FROM eg JOIN tg USING (gram) GROUP BY eg.doc_id),
r AS (SELECT ev.doc_id, ev.ts, coalesce(fl.ss, []) AS ss
      FROM ev LEFT JOIN fl USING (doc_id))
SELECT doc_id, len(ts) AS n_tokens, len(ts) - len(kept) AS n_removed,
       coalesce(array_to_string(list_transform(kept, p -> ts[p]), ' '), '')
         AS clean_text
FROM (
  SELECT doc_id, ts,
         list_filter(generate_series(1, len(ts)),
                     p -> len(list_filter(ss, s -> p >= s AND p <= s + 14)) = 0)
           AS kept
  FROM r
)
"""


_ORACLE_KEEP_FIRST_SPANS = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(text,'\S+') AS ts FROM documents),
gg AS (
  SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 14)) AS s
  FROM t WHERE len(ts) >= 15
), g2 AS (
  SELECT doc_id, s, array_to_string(list_slice(ts, s, s + 14), chr(31)) AS gram
  FROM gg
), d AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
canon AS (
  SELECT gram, min(struct_pack(doc_id := doc_id, s := s)) AS c
  FROM g2 JOIN d USING (gram) GROUP BY gram
), flagged AS (
  SELECT g2.doc_id, g2.s
  FROM g2 JOIN canon USING (gram)
  WHERE NOT (g2.doc_id = canon.c.doc_id AND g2.s = canon.c.s)
), fl AS (SELECT doc_id, list(DISTINCT s) AS ss FROM flagged GROUP BY doc_id),
r AS (SELECT t.doc_id, t.ts, coalesce(fl.ss, []) AS ss
      FROM t LEFT JOIN fl USING (doc_id))
SELECT doc_id, len(ts) AS n_tokens, len(ts) - len(kept) AS n_removed,
       coalesce(array_to_string(list_transform(kept, p -> ts[p]), ' '), '')
         AS clean_text
FROM (
  SELECT doc_id, ts,
         list_filter(generate_series(1, len(ts)),
                     p -> len(list_filter(ss, s -> p >= s AND p <= s + 14)) = 0)
           AS kept
  FROM r
)
"""


_ORACLE_TOP_DUP_WINDOWS = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(text,'\S+') AS ts FROM documents),
gg AS (
  SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 14)) AS s
  FROM t WHERE len(ts) >= 15
), g2 AS (
  SELECT doc_id, s, array_to_string(list_slice(ts, s, s + 14), ' ') AS gram
  FROM gg
), grp AS (
  SELECT gram AS window_text, count(*) AS n_occ,
         count(DISTINCT doc_id) AS n_docs,
         min(struct_pack(doc_id := doc_id, s := s)) AS c
  FROM g2 GROUP BY gram HAVING count(*) >= 2
)
SELECT window_text, n_occ, n_docs, c.doc_id AS first_id, c.s AS first_pos
FROM grp
ORDER BY n_occ DESC, window_text LIMIT 20
"""


_ORACLE_LONGEST_DUP = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(text,'\S+') AS ts FROM documents),
pos AS (
  SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS s
  FROM t WHERE len(ts) >= 1),
wins AS (
  SELECT doc_id, s, l.l AS l,
         array_to_string(list_slice(ts, s, s + l.l - 1), chr(31)) AS gram
  FROM pos, unnest(generate_series(1, len(ts) - s + 1)) AS l(l)),
dup AS (SELECT gram FROM wins GROUP BY gram HAVING count(*) >= 2),
m AS (SELECT w.doc_id, max(w.l) AS max_dup_len
      FROM wins w JOIN dup USING (gram) GROUP BY w.doc_id)
SELECT t.doc_id, len(t.ts) AS n_tokens,
       coalesce(m.max_dup_len, 0) AS max_dup_len
FROM t LEFT JOIN m USING (doc_id)
"""


def _q_dsir_doc_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (Xie et al., NeurIPS 2023): score every
    raw document by how much likelier its hashed unigram+bigram features
    are under the trusted target slice (here: the ``lang='en'`` docs)
    than under the raw corpus.  md5-prefix buckets (4096) make the
    feature hash engine-portable, so the whole model — counts, Laplace
    smoothing, log-ratios, per-doc means — is auditable SQL.  Spark plan:
    two tiny bucket aggregations, then explode → broadcast-hash-join
    (4096-row weight table, no shuffle of the exploded side) → one
    groupBy(doc_id)."""
    from .operators.scoring import dsir_logratios, dsir_weights
    # single-file input arrives as one split; spread the md5 feature
    # hashing across cores the way a real multi-split scan would be
    docs = _spread(spark.table("documents"), spark)
    lr = dsir_logratios(docs.where(F.col("lang") == "en"), docs)
    return (dsir_weights(docs, lr)
            .select("doc_id", "n_feats",
                    F.round("logratio_avg", 6).alias("logratio_avg")))


_ORACLE_DSIR = r"""
WITH toks AS (
  SELECT doc_id, lang, regexp_extract_all(text,'\S+') AS ts FROM documents
), feats AS (
  SELECT doc_id, lang,
         unnest(ts || list_transform(
             generate_series(1, greatest(len(ts) - 1, 0)),
             i -> ts[i] || ' ' || ts[i + 1])) AS g
  FROM toks
), b AS (SELECT doc_id, lang, substr(md5(g), 1, 3) AS bucket FROM feats),
rc AS (SELECT bucket, count(*) AS r_n FROM b GROUP BY bucket),
tc AS (SELECT bucket, count(*) AS t_n FROM b WHERE lang = 'en' GROUP BY bucket),
tot AS (SELECT (SELECT sum(r_n) FROM rc) AS r_tot,
               (SELECT sum(t_n) FROM tc) AS t_tot),
lr AS (
  SELECT bucket,
         ln(coalesce(t_n, 0) + 0.5) - ln(t_tot + 0.5 * 4096)
         - ln(r_n + 0.5) + ln(r_tot + 0.5 * 4096) AS logratio
  FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tot
), agg AS (
  SELECT b.doc_id, count(*) AS n_feats, sum(lr.logratio) AS s
  FROM b JOIN lr USING (bucket) GROUP BY b.doc_id
)
SELECT d.doc_id, coalesce(agg.n_feats, 0) AS n_feats,
       round(coalesce(agg.s / agg.n_feats, 0.0), 6) AS logratio_avg
FROM documents d LEFT JOIN agg USING (doc_id)
"""


_PAIR_STORES: dict = {}


def _pair_store(spark: SparkSession, sf_dir: str) -> str:
    """Process-cached verified-pair store for *sf_dir*: the production
    "compute pairs once" discipline — the LSH-propose + exact-verify
    pass runs a single time per corpus snapshot and every consumer
    (splits, PageRank, clustering) reads the parquet store.  First
    caller pays the mining cost; the bench's store-fed entries then
    show the true re-use cost."""
    import tempfile

    if sf_dir not in _PAIR_STORES:
        path = tempfile.mkdtemp(prefix="legend_pair_store_") + "/pairs"
        # spread the single-split scan — same win as the benched
        # verified_near_dup_pairs entry (r13)
        pairs = DD.verified_near_dup_pairs(
            _spread(spark.table("documents"), spark), n=5, threshold=0.2)
        DD.write_pair_store(pairs, path, method="verified", n=5,
                            threshold=0.2)
        _PAIR_STORES[sf_dir] = path
    return _PAIR_STORES[sf_dir]


def _q_pair_store_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank fed from the persisted verified-pair store — the
    pipeline shape where pair generation already ran (write_pair_store)
    and centrality is one cheap read + 3 unrolled iterations.  Same
    oracle as ``pagerank_near_dups`` (the verified pair set equals the
    exact one at the driver scale with the pinned seed — the same
    recall-1.0 argument ``verified_near_dup_pairs`` rests on), so this
    row doubles as a store write/read round-trip check."""
    from .operators.graph import pagerank

    pairs = DD.read_pairs(spark, _pair_store(spark, sf_dir),
                          method="verified", n=5, threshold=0.2)
    return (pagerank(pairs, "id_a", "id_b", iters=3, damping=0.85)
            .select(F.col("id").alias("doc_id"),
                    F.round("r", 6).alias("rank")))


def _q_leakage_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split unit is the
    near-dup CLUSTER (connected component of the exact Jaccard pair
    graph), hashed via md5 against hex-prefix boundaries, so no
    near-duplicate of an eval doc can sit in train
    (operators/splits.py).  Oracle: the recursive-CTE reachability from
    ``near_dup_clusters`` + the identical md5 threshold rule — split
    assignment is auditable SQL end-to-end.  Pairs come from the
    PRODUCTION near-dup path (LSH-proposed, exactly verified — recall
    1.0 vs the exact gram join at sf0.01 with the pinned seed, the same
    argument ``verified_near_dup_clusters`` rests on), so the benched
    plan is the 100 TB shape, not the quadratic exact self-join."""
    from .operators.splits import leakage_safe_split
    docs = spark.table("documents")
    # pairs come from the persisted store (computed once per process,
    # demo._pair_store) — the production discipline; results identical
    # to mining inline
    pairs = DD.read_pairs(spark, _pair_store(spark, sf_dir),
                          method="verified", n=5, threshold=0.2)
    return leakage_safe_split(docs, pairs).select("doc_id", "split")


_ORACLE_LEAKAGE_SPLITS = r"""
WITH RECURSIVE grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
     generate_series(1, greatest(len(toks) - 4, 0)),
     i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram
  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents)
), sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM grams a JOIN grams b USING (gram) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (SELECT a AS doc_id, least(a, MIN(b)) AS component
         FROM reach GROUP BY a),
h AS (
  SELECT d.doc_id,
         substr(md5('split' ||
                    CAST(coalesce(c.component, d.doc_id) AS VARCHAR)),
                1, 8) AS hx
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id,
       CASE WHEN hx < 'cccccccc' THEN 'train'
            WHEN hx < 'e6666666' THEN 'val'
            ELSE 'test' END AS split
FROM h
"""


def _q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-side global shuffle: every doc gets an md5-prefix shard
    (uniform by construction — no sampling pass) and a reproducible
    1-based position inside the shard's (md5, id) order
    (operators/splits.py).  No global sort is ever materialized: the
    row_number window partitions on the shard, so ordering work is
    per-shard-parallel — the layout that writes N independent training
    shards at 100 TB."""
    from .operators.splits import shuffle_shards
    return (shuffle_shards(spark.table("documents"), hex_chars=2)
            .select("doc_id", "shard", "shard_pos"))


_ORACLE_SHUFFLE_SHARDS = """
SELECT doc_id,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS shard,
       CAST(row_number() OVER (
           PARTITION BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT)
         AS shard_pos
FROM documents
"""


def _q_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-dup pairs via exact
    cosine INSIDE k-means cells — the sub-quadratic embedding-dedup
    shape for 100 TB corpora (similarity.semdedup_pairs).  Rows-only:
    cell assignment depends on iterative, data-order-seeded k-means;
    subset-of-brute-force and survivor-rule fixtures are pinned in
    tests/test_semdedup.py."""
    from .functions.vectors import norm
    from .operators.similarity import semdedup_pairs as _sp
    emb = spark.table("embeddings")
    # cells sized to ~100-row occupancy: in-cell work AND in-cell
    # parallelism both track n_cells (the driver's single-row-group
    # parquet arrives as ONE input split, so the repartition stands in
    # for the many-splits layout any real corpus scan has)
    n_cells = max(8, emb.count() // 100)
    unit = _spread(emb, spark).select(
        "vec_id",
        F.transform("embedding",
                    lambda x: x.cast("double") / norm("embedding"))
        .alias("embedding"))
    # k-means + assignment + the in-cell join all re-read the input;
    # materialize the normalization once instead of re-evaluating the
    # transform(/norm) expression under every action (same localCheckpoint
    # precedent as graph.connected_components' edge list)
    unit = unit.localCheckpoint(eager=True)
    return (_sp(unit, threshold=0.4, n_cells=n_cells, iters=2,
                assume_normalized=True)
            .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")))


def _q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional LM scoring: per-doc mean −ln P(w2|w1) under the
    Laplace-smoothed corpus bigram model (scoring.bigram_surprisal) —
    catches scrambled word order the unigram scorer can't see.  Fully
    auditable SQL: counts, vocab, smoothing, and the log all reproduce
    in DuckDB."""
    from .operators.scoring import bigram_surprisal
    docs = _spread(spark.table("documents"), spark)
    return (bigram_surprisal(docs)
            .select("doc_id", "n_bigrams",
                    F.round("mean_neg_logprob2", 6)
                    .alias("mean_neg_logprob2")))


def _q_k_anonymity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-level k-anonymity screen over the (lang, source)
    quasi-identifier combination (operators/governance.py): group
    sizes, violating groups, and the exact at-risk row count a release
    process must suppress — the privacy companion to per-row
    legendValidate, as one groupBy + one aggregate."""
    from .operators.governance import k_anonymity_report
    return k_anonymity_report(spark.table("documents"),
                              ["lang", "source"], k=5)


_ORACLE_K_ANON = """
WITH g AS (
  SELECT lang, source, count(*) AS n
  FROM documents GROUP BY lang, source
)
SELECT 5 AS k,
       CAST(sum(n) AS BIGINT) AS n_rows,
       count(*) AS n_groups,
       CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS violating_groups,
       CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
         AS at_risk_rows,
       min(n) AS min_group_size
FROM g
"""


def _q_benford_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance of order totals
    (operators/governance.py benford_report): per-digit observed vs
    log10(1 + 1/d) expectation with chi2 terms — the forensic screen
    for fabricated or truncated financial amounts.  First significant
    digit is extracted TEXTUALLY (anchored strip of leading zeros/dots
    — identical in both engines), so even this statistical test is an
    exact oracle row set."""
    from .operators.governance import benford_report
    return benford_report(spark.table("orders"), "o_totalprice")


_ORACLE_BENFORD = r"""
WITH base AS (
  SELECT CAST(substr(regexp_replace(CAST(abs(o_totalprice) AS VARCHAR),
                                    '^[0.]+', ''), 1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
), counts AS (
  SELECT digit, count(*) AS n FROM base GROUP BY digit
), t AS (SELECT CAST(sum(n) AS DOUBLE) AS tt FROM counts),
d AS (
  SELECT unnest(generate_series(1, 9)) AS digit
)
SELECT d.digit,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n,
       round(coalesce(c.n, 0) / tt, 6) AS observed_p,
       round(log10(1.0 + 1.0 / d.digit), 6) AS expected_p,
       round(pow(coalesce(c.n, 0) - log10(1.0 + 1.0 / d.digit) * tt, 2)
             / (log10(1.0 + 1.0 / d.digit) * tt), 6) AS chi2_term
FROM d LEFT JOIN counts c USING (digit) CROSS JOIN t
"""


def _q_reconcile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-vs-replica reconciliation (governance.reconcile_tables):
    the replica deterministically drops every 10th order and shifts
    every 7th order's total by 1.00, so the full-outer NULL-safe
    comparison must report exact matched / changed / only_left counts.
    The daily finance control, as one join + one aggregate."""
    from .operators.governance import reconcile_tables
    orders = spark.table("orders")
    replica = (orders.where(F.col("o_orderkey") % 10 != 0)
               .withColumn("o_totalprice",
                           F.when(F.col("o_orderkey") % 7 == 0,
                                  F.col("o_totalprice") + 1.0)
                           .otherwise(F.col("o_totalprice"))))
    return reconcile_tables(orders, replica, ["o_orderkey"],
                            ["o_totalprice", "o_orderstatus",
                             "o_orderdate"])


_ORACLE_RECONCILE = """
WITH replica AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus, o_orderdate
  FROM orders WHERE o_orderkey % 10 != 0
), j AS (
  SELECT CASE
           WHEN l.o_orderkey IS NULL THEN 'only_right'
           WHEN r.o_orderkey IS NULL THEN 'only_left'
           WHEN l.o_totalprice IS NOT DISTINCT FROM r.o_totalprice
            AND l.o_orderstatus IS NOT DISTINCT FROM r.o_orderstatus
            AND l.o_orderdate IS NOT DISTINCT FROM r.o_orderdate
             THEN 'matched'
           ELSE 'changed'
         END AS status
  FROM orders l FULL OUTER JOIN replica r USING (o_orderkey)
)
SELECT status, count(*) AS n_rows FROM j GROUP BY status
"""


def _q_scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history (governance.scd2_history): each user's event
    stream becomes auditable attribute history — one row per REAL
    status change with half-open validity intervals and an is_current
    flag; consecutive repeats open no version.  Windows partitioned by
    user only; the oracle replays lag-collapse + lead-validity with the
    identical deterministic (ts, status) ordering."""
    from .operators.governance import scd2_history
    ev = spark.table("events").select("user_id", "ts",
                                      F.col("event_type").alias("status"))
    return scd2_history(ev, ["user_id"], "ts", ["status"])


_ORACLE_SCD2 = """
WITH c AS (
  SELECT user_id, ts, event_type AS status,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_type) AS prev_s,
         lag(ts) OVER (PARTITION BY user_id
                       ORDER BY ts, event_type) AS prev_ts
  FROM events
), kept AS (
  SELECT user_id, ts, status FROM c
  WHERE prev_ts IS NULL OR status IS DISTINCT FROM prev_s
)
SELECT user_id, status,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, status)
         AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, status) IS NULL
         AS is_current
FROM kept
"""


def _q_gini_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of order value per priority class
    (governance.gini_by_group): the rank-formula coefficient — exact
    sum math, no pairwise differences, so a full inequality statistic
    oracle-checks at round 6.  One window + one aggregate per group."""
    from .operators.governance import gini_by_group
    return gini_by_group(spark.table("orders"), "o_totalprice",
                         ["o_orderpriority"])


_ORACLE_GINI = """
WITH r AS (
  SELECT o_orderpriority,
         o_totalprice AS x,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice) AS i
  FROM orders WHERE o_totalprice IS NOT NULL
)
SELECT o_orderpriority,
       count(*) AS n,
       round(2.0 * sum(i * x) / (count(*) * sum(x))
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM r GROUP BY o_orderpriority
"""


def _q_cluster_size_histogram(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Near-dup cluster size distribution from the persisted pair
    store: how many clusters of 2, 3, ... docs the corpus holds — the
    shape metric that distinguishes a template problem (few huge
    clusters) from scattered duplication (many pairs).  Store-read +
    connected components + two aggregates; oracle = the recursive-CTE
    reachability over the exact pair set."""
    from .operators.graph import connected_components
    pairs = DD.read_pairs(spark, _pair_store(spark, sf_dir),
                          method="verified", n=5, threshold=0.2)
    comp = connected_components(pairs, "id_a", "id_b")
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (sizes.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).alias("n_clusters")))


_ORACLE_CLUSTER_SIZES = r"""
WITH RECURSIVE grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
     generate_series(1, greatest(len(toks) - 4, 0)),
     i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram
  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        FROM documents)
), sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM grams a JOIN grams b USING (gram) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
), comp AS (
  SELECT a AS doc_id, least(a, MIN(b)) AS component
  FROM reach GROUP BY a
), cs AS (
  SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1
)
SELECT cluster_size, count(*) AS n_clusters FROM cs GROUP BY 1
"""


def _q_stupid_backoff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out trigram scoring under STUPID BACKOFF (Brants'07, the
    web-scale LM rule): counts from the train split (doc_id % 5 != 0),
    surprisal for the held-out docs (doc_id % 5 == 0) — unseen
    trigrams/bigrams exercise every backoff level.  The cascade
    (c3/c12, a*c23/c(w2), a^2*c1/N, a^2/N floor) reproduces verbatim in
    SQL, so a production-grade LM scoring rule is fully
    oracle-checked."""
    from .operators.scoring import stupid_backoff_surprisal
    # r12: measured _spread here at 8.7 s vs 5.4 s without (train/held
    # each re-execute the added exchange) — left unspread deliberately
    docs = spark.table("documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    held = docs.where(F.col("doc_id") % 5 == 0)
    return (stupid_backoff_surprisal(train, held)
            .select("doc_id", "n_trigrams",
                    F.round("mean_neg_logscore", 6)
                    .alias("mean_neg_logscore")))


_ORACLE_STUPID_BACKOFF = r"""
WITH tr AS (
  SELECT regexp_extract_all(text, '\S+') AS ts FROM documents
  WHERE doc_id % 5 != 0
), sc AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS ts FROM documents
  WHERE doc_id % 5 = 0
), tri3 AS (
  SELECT tg, count(*) AS c3 FROM (
    SELECT unnest(list_transform(
        generate_series(1, greatest(len(ts) - 2, 0)),
        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS tg
    FROM tr) GROUP BY tg
), bi2 AS (
  SELECT bg, count(*) AS c2 FROM (
    SELECT unnest(list_transform(
        generate_series(1, greatest(len(ts) - 1, 0)),
        i -> ts[i] || ' ' || ts[i+1])) AS bg
    FROM tr) GROUP BY bg
), uni AS (
  SELECT w, count(*) AS c1 FROM (
    SELECT unnest(ts) AS w FROM tr) GROUP BY w
), ntok AS (
  SELECT CAST(count(*) AS DOUBLE) AS nn FROM (
    SELECT unnest(ts) AS w FROM tr)
), stris AS (
  SELECT doc_id, unnest(list_transform(
      generate_series(1, greatest(len(ts) - 2, 0)),
      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS tg
  FROM sc
), priced AS (
  SELECT doc_id,
         CASE
           WHEN c3 IS NOT NULL AND c12.c2 IS NOT NULL
             THEN c3 / c12.c2
           WHEN c23.c2 IS NOT NULL
             THEN 0.4 * c23.c2 / w2u.c1
           WHEN w3u.c1 IS NOT NULL
             THEN 0.16 * w3u.c1 / nn
           ELSE 0.16 / nn
         END AS s
  FROM stris
  LEFT JOIN tri3 USING (tg)
  LEFT JOIN bi2 c12
    ON c12.bg = split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2)
  LEFT JOIN bi2 c23
    ON c23.bg = split_part(tg, ' ', 2) || ' ' || split_part(tg, ' ', 3)
  LEFT JOIN uni w2u ON w2u.w = split_part(tg, ' ', 2)
  LEFT JOIN uni w3u ON w3u.w = split_part(tg, ' ', 3)
  CROSS JOIN ntok
), per AS (
  SELECT doc_id, count(*) AS n_trigrams, -avg(ln(s)) AS m
  FROM priced GROUP BY doc_id
)
SELECT d.doc_id, coalesce(per.n_trigrams, 0) AS n_trigrams,
       round(per.m, 6) AS mean_neg_logscore
FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
LEFT JOIN per USING (doc_id)
"""


def _q_cdc_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (scoring.cdc_chunks_arrow): chunk boundaries
    fall where the rolling 4-token window's md5 starts with a hex zero
    (expected chunk ~16 tokens), so identical passages chunk
    identically across docs and an insertion shifts only its own chunk
    — the chunk-level dedup / incremental-sync primitive.  md5 keeps
    the layout bit-identical across engines: the oracle reproduces the
    boundary rule and compares the chunk TEXT itself."""
    from .operators.scoring import cdc_chunks_arrow
    # single-file input arrives as one split; spread the per-window
    # hashing across cores the way a multi-split scan would be.  The
    # rolling md5 + boundary fold run over whole Arrow batches instead
    # of per-row interpreted higher-order expressions.
    docs = _spread(spark.table("documents"), spark)
    return (cdc_chunks_arrow(docs, window=4,
                             boundary_hex=1, min_tokens=1)
            .select("doc_id", F.col("chunk_id").cast("long")
                    .alias("chunk_id"),
                    "start_token", "n_tokens", "chunk_text"))


_ORACLE_CDC_CHUNKS = r"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS ts FROM documents
), b AS (
  SELECT doc_id, ts, len(ts) AS n,
         list_filter(
           generate_series(4, greatest(len(ts), 4)),
           i -> i <= len(ts) AND substr(md5(array_to_string(
                  list_slice(ts, i - 3, i), ' ')), 1, 1) = '0'
         ) AS bs
  FROM t
), s AS (
  SELECT doc_id, ts, n,
         list_concat([0], list_filter(bs, x -> x < n)) AS starts
  FROM b WHERE n > 0
), e AS (
  SELECT doc_id, ts, n, starts,
         unnest(generate_series(1, len(starts))) AS k
  FROM s
)
SELECT doc_id,
       CAST(k - 1 AS BIGINT) AS chunk_id,
       CAST(starts[k] AS BIGINT) AS start_token,
       CAST(coalesce(starts[k + 1], n) - starts[k] AS BIGINT)
         AS n_tokens,
       array_to_string(
         list_slice(ts, starts[k] + 1, coalesce(starts[k + 1], n)),
         ' ') AS chunk_text
FROM e
"""


def _q_kn_surprisal_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (scoring.
    kn_bigram_surprisal, d=0.75) — the smoothing production n-gram LMs
    use: discounted bigram mass backs off to the CONTINUATION
    (type-count) unigram, so frequent-but-predictable tokens are priced
    low.  All four model aggregates reproduce in DuckDB, making a real
    KN model fully oracle-checkable."""
    from .operators.scoring import kn_bigram_surprisal
    docs = _spread(spark.table("documents"), spark)
    return (kn_bigram_surprisal(docs)
            .select("doc_id", "n_bigrams",
                    F.round("mean_neg_logprob_kn", 6)
                    .alias("mean_neg_logprob_kn")))


_ORACLE_KN_SURPRISAL = r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text,'\S+') AS ts FROM documents
), bigs AS (
  SELECT doc_id, unnest(list_transform(
      generate_series(1, greatest(len(ts) - 1, 0)),
      i -> ts[i] || ' ' || ts[i + 1])) AS bg
  FROM toks
), bc AS (SELECT bg, count(*) AS cb FROM bigs GROUP BY bg),
lc AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS cl,
              count(DISTINCT split_part(bg, ' ', -1)) AS n1l
       FROM bigs GROUP BY 1),
rc AS (SELECT split_part(bg, ' ', -1) AS w2,
              count(DISTINCT split_part(bg, ' ', 1)) AS n1r
       FROM bigs GROUP BY 1),
nt AS (SELECT CAST(count(DISTINCT bg) AS DOUBLE) AS tt FROM bigs),
per AS (
  SELECT doc_id, count(*) AS n_bigrams,
         -avg(ln(greatest(cb - 0.75, 0) / cl
                 + 0.75 * n1l / cl * (n1r / tt))) AS s
  FROM bigs JOIN bc USING (bg)
  JOIN lc ON lc.w1 = split_part(bigs.bg, ' ', 1)
  JOIN rc ON rc.w2 = split_part(bigs.bg, ' ', -1)
  CROSS JOIN nt
  GROUP BY doc_id
)
SELECT d.doc_id, coalesce(per.n_bigrams, 0) AS n_bigrams,
       round(per.s, 6) AS mean_neg_logprob_kn
FROM documents d LEFT JOIN per USING (doc_id)
"""


_ORACLE_BIGRAM_SURPRISAL = r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text,'\S+') AS ts FROM documents
), bigs AS (
  SELECT doc_id, unnest(list_transform(
      generate_series(1, greatest(len(ts) - 1, 0)),
      i -> ts[i] || ' ' || ts[i + 1])) AS bg
  FROM toks
), bc AS (SELECT bg, count(*) AS cb FROM bigs GROUP BY bg),
lc AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS cl
       FROM bigs GROUP BY 1),
v AS (SELECT CAST(count(DISTINCT t) AS DOUBLE) AS vv
      FROM (SELECT unnest(ts) AS t FROM toks)),
per AS (
  SELECT doc_id, count(*) AS n_bigrams,
         -avg(ln((cb + 0.5) / (cl + 0.5 * vv))) AS s
  FROM bigs JOIN bc USING (bg)
  JOIN lc ON lc.w1 = split_part(bigs.bg, ' ', 1)
  CROSS JOIN v
  GROUP BY doc_id
)
SELECT d.doc_id, coalesce(per.n_bigrams, 0) AS n_bigrams,
       round(per.s, 6) AS mean_neg_logprob2
FROM documents d LEFT JOIN per USING (doc_id)
"""


def _q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic drift per label: 1 − cosine(group mean vector, corpus
    mean vector), computed entirely in aggregate space — mean vectors
    are never reassembled (scoring.embedding_drift).  The embedding
    counterpart of the token-distribution drift monitor."""
    from .operators.scoring import embedding_drift
    return (embedding_drift(spark.table("embeddings"))
            .select("label", "n_vecs", F.round("drift", 6).alias("drift")))


_ORACLE_EMBEDDING_DRIFT = """
WITH flat AS (
  SELECT label, unnest(list_transform(embedding,
         (x, i) -> struct_pack(pos := i, x := CAST(x AS DOUBLE)))) AS s
  FROM embeddings
), gm AS (SELECT label, s.pos AS pos, avg(s.x) AS g FROM flat GROUP BY 1, 2),
gtot AS (SELECT s.pos AS pos, avg(s.x) AS gl FROM flat GROUP BY 1),
nv AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY 1)
SELECT gm.label, nv.n_vecs,
       round(1.0 - sum(g * gl) / (sqrt(sum(g * g)) * sqrt(sum(gl * gl))), 6)
         AS drift
FROM gm JOIN gtot USING (pos) JOIN nv USING (label)
GROUP BY gm.label, nv.n_vecs
"""


def _q_incremental_span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest span dedup: the historical half of the corpus
    is distilled into a persisted gram-count store (never re-tokenized
    again); the append half cleans itself against store+batch merged
    counts (spans.incremental_dup_spans).  Store ∪ batch == the full
    corpus here, so the oracle is the batch span-removal SQL restricted
    to the append ids — incremental == batch, verified by value."""
    import tempfile

    from .operators.spans import incremental_dup_spans, write_span_store
    docs = spark.table("documents")
    path = tempfile.mkdtemp(prefix="legend_span_store_") + "/store"
    write_span_store(docs.where("doc_id < 250"), path, n=15)
    return incremental_dup_spans(spark, path, docs.where("doc_id >= 250"))


# batch span-removal SQL restricted to the append ids — valid because the
# store half ∪ append half is exactly the full corpus
_ORACLE_INCREMENTAL_SPANS = (_ORACLE_DUP_SPANS.rstrip()
                             + "\nWHERE doc_id >= 250\n")


def _q_span_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest span gate: streamed docs clean themselves
    against the persisted span store via ONE stream-static join on the
    8-byte window hash + one stateful aggregation
    (streaming.span_dedup_stream).  Store built from the streamed corpus
    + availableNow backfill == the batch operator, so the oracle is
    ``dup_span_docs``'s SQL verbatim."""
    import tempfile

    from .operators.spans import write_span_store
    from .streaming import span_dedup_stream

    docs = spark.table("documents")
    tmp = tempfile.mkdtemp(prefix="legend_span_stream_")
    store, src, ckpt = f"{tmp}/store", f"{tmp}/src", f"{tmp}/ckpt"
    write_span_store(docs, store, n=15)
    docs.select("doc_id", "text").write.mode("overwrite").parquet(src)
    stream = (spark.readStream
              .schema(spark.read.parquet(src).schema).parquet(src))
    cleaned = span_dedup_stream(stream, spark, store)
    _STREAM_RUN_SEQ[0] += 1
    sink = f"__span_stream_{_STREAM_RUN_SEQ[0]}"
    q = (cleaned.writeStream.format("memory").queryName(sink)
         .outputMode("complete").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    return spark.table(sink)


def _q_dsir_selected_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derandomized DSIR selection: the 100 raw docs with the highest
    length-normalized importance weight vs the ``lang='en'`` target
    slice, ties broken by (md5(id), id) — TakeOrderedAndProject, no
    global sort materialization (scoring.dsir_select).  The full
    ranking statistic reproduces in SQL, so selection is oracle-checked
    end-to-end."""
    from .operators.scoring import dsir_select
    docs = _spread(spark.table("documents"), spark)
    return (dsir_select(docs, docs.where(F.col("lang") == "en"), 100)
            .select("doc_id", "n_feats",
                    F.round("logratio_avg", 6).alias("logratio_avg")))


_ORACLE_DSIR_SELECT = r"""
WITH toks AS (
  SELECT doc_id, lang, regexp_extract_all(text,'\S+') AS ts FROM documents
), feats AS (
  SELECT doc_id, lang,
         unnest(ts || list_transform(
             generate_series(1, greatest(len(ts) - 1, 0)),
             i -> ts[i] || ' ' || ts[i + 1])) AS g
  FROM toks
), b AS (SELECT doc_id, lang, substr(md5(g), 1, 3) AS bucket FROM feats),
rc AS (SELECT bucket, count(*) AS r_n FROM b GROUP BY bucket),
tc AS (SELECT bucket, count(*) AS t_n FROM b WHERE lang = 'en' GROUP BY bucket),
tot AS (SELECT (SELECT sum(r_n) FROM rc) AS r_tot,
               (SELECT sum(t_n) FROM tc) AS t_tot),
lr AS (
  SELECT bucket,
         ln(coalesce(t_n, 0) + 0.5) - ln(t_tot + 0.5 * 4096)
         - ln(r_n + 0.5) + ln(r_tot + 0.5 * 4096) AS logratio
  FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tot
), agg AS (
  SELECT b.doc_id, count(*) AS n_feats, sum(lr.logratio) AS s
  FROM b JOIN lr USING (bucket) GROUP BY b.doc_id
), w AS (
  SELECT d.doc_id, coalesce(agg.n_feats, 0) AS n_feats,
         coalesce(agg.s / agg.n_feats, 0.0) AS avg_w
  FROM documents d LEFT JOIN agg USING (doc_id)
)
SELECT doc_id, n_feats, round(avg_w, 6) AS logratio_avg
FROM w
ORDER BY avg_w DESC, md5(CAST(doc_id AS VARCHAR)), doc_id
LIMIT 100
"""


def _q_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable deterministic quantiles: a bottom-k-by-md5 (KMV) sample
    per order priority — uniform yet reproducible in any engine, and
    per-shard samples merge losslessly (bottom-k of unions == bottom-k
    of per-shard bottom-k's) — then type-1 quantiles of the sample with
    integer rank math (sketches.bottomk_sample / sample_quantiles).  The
    sampling rule IS SQL, so the whole estimate is oracle-checked, not
    rows-only like the HLL store."""
    from .operators.sketches import bottomk_sample, sample_quantiles
    s = bottomk_sample(spark.table("orders"), "o_totalprice", "o_orderkey",
                       ["o_orderpriority"], k=256)
    return sample_quantiles(s, [0.25, 0.5, 0.9], ["o_orderpriority"])


_ORACLE_SAMPLE_QUANTILES = """
WITH s AS (
  SELECT o_orderpriority,
         md5(CAST(o_orderkey AS VARCHAR)) AS h,
         o_orderkey AS id, o_totalprice AS value,
         row_number() OVER (
             PARTITION BY o_orderpriority
             ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn
  FROM orders
), ss AS (SELECT * FROM s WHERE rn <= 256),
r AS (
  SELECT o_orderpriority, value, id,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY value, id) AS rn2,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM ss
)
SELECT o_orderpriority, CAST(p.prob AS DOUBLE) AS prob, value AS quantile
FROM r JOIN (VALUES (0.25), (0.5), (0.9)) AS p(prob)
  ON rn2 = greatest(1, CAST(ceil(p.prob * n) AS INT))
"""


def _q_robust_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source robust normalization of the quality score: median/IQR
    z, winsorized at ±3 (scoring.robust_scores) — one global quality
    threshold only means something after per-source normalization, and
    median/IQR resists the heavy tails that wreck mean/stddev.  Exact
    percentiles use the same linear interpolation in both engines."""
    from .operators.scoring import robust_scores
    docs = spark.table("documents")
    return (robust_scores(docs, TX.quality_score("text"))
            .select("doc_id", "source", "score",
                    F.round("robust_z", 6).alias("robust_z")))


_ORACLE_ROBUST_QUALITY = r"""
WITH scored AS (
  SELECT doc_id, source,
    CASE WHEN text IS NULL THEN 0.0 ELSE round((
      least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 50.0, 1.0)
      + greatest(0.0, 1.0 - CASE WHEN length(text) > 0 THEN
          (CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
           / length(text)) * 4 ELSE 0.0 END)
      + CASE WHEN len(regexp_extract_all(text, '\S+')) > 0
                  AND (CAST(list_sum(list_transform(
                          regexp_extract_all(text, '\S+'),
                          t -> length(t))) AS DOUBLE)
                       / len(regexp_extract_all(text, '\S+')))
                      BETWEEN 2.0 AND 12.0
             THEN 1.0 ELSE 0.3 END
    ) / 3.0, 6) END AS score
  FROM documents
), stats AS (
  SELECT source,
         quantile_cont(score, 0.5) AS med,
         quantile_cont(score, 0.25) AS p25,
         quantile_cont(score, 0.75) AS p75
  FROM scored GROUP BY source
)
SELECT s.doc_id, s.source, s.score,
       round(greatest(-3.0, least(3.0,
           CASE WHEN (st.p75 - st.p25) > 0
                THEN (s.score - st.med) / (st.p75 - st.p25)
                ELSE 0.0 END)), 6) AS robust_z
FROM scored s JOIN stats st USING (source)
"""


def _q_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: eval vectors (here: the vec_id <
    50 slice, a planted full leak) screened against the train corpus via
    SemDeDup-shaped within-cell exact cosine
    (similarity.semantic_contamination) — catches paraphrase-level leaks
    the exact n-gram decontamination family cannot.  Rows-only: k-means
    cells; planted-leak and subset-of-brute-force pinned in
    tests/test_semdedup.py."""
    from .functions.vectors import norm
    from .operators.similarity import semantic_contamination
    unit = spark.table("embeddings").select(
        "vec_id",
        F.transform("embedding",
                    lambda x: x.cast("double") / norm("embedding"))
        .alias("embedding")).localCheckpoint(eager=True)
    evals = unit.where("vec_id < 50")
    return (semantic_contamination(unit, evals, threshold=0.999,
                                   n_cells=8, iters=2,
                                   assume_normalized=True)
            .select("eval_id", "train_id",
                    F.round("cos_sim", 6).alias("cos_sim")))


def _q_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-reference-model scoring: the ``lang='en'`` slice is
    persisted as a unigram LM store (mergeable counts), then the WHOLE
    corpus prices against it with OOV tokens at the hapax floor
    (scoring.write_lm_store / lm_surprisal) — the production shape of
    the perplexity-proxy gate, where the model is NOT the data being
    scored.  Counts, totals, OOV handling and the log all reproduce in
    SQL."""
    import tempfile

    from .operators.scoring import lm_surprisal, write_lm_store
    docs = spark.table("documents")
    path = tempfile.mkdtemp(prefix="legend_lm_store_") + "/lm"
    write_lm_store(docs.where(F.col("lang") == "en"), path)
    return (lm_surprisal(spark, path, docs)
            .select("doc_id", "n_tokens", "oov_tokens",
                    F.round("mean_neg_logprob", 6)
                    .alias("mean_neg_logprob")))


_ORACLE_LM_SURPRISAL = r"""
WITH model AS (
  SELECT t AS token, count(*) AS c
  FROM (SELECT unnest(regexp_extract_all(text,'\S+')) AS t
        FROM documents WHERE lang = 'en')
  GROUP BY 1
), tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM model),
toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text,'\S+')) AS token
  FROM documents
), per AS (
  SELECT toks.doc_id, count(*) AS n_tokens,
         CAST(sum(CASE WHEN m.c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS oov_tokens,
         avg(ln(CAST(coalesce(m.c, 1) AS DOUBLE))) AS avg_ln
  FROM toks LEFT JOIN model m USING (token)
  GROUP BY 1
)
SELECT d.doc_id,
       coalesce(per.n_tokens, 0) AS n_tokens,
       coalesce(per.oov_tokens, 0) AS oov_tokens,
       round(ln(tot.n) - per.avg_ln, 6) AS mean_neg_logprob
FROM documents d LEFT JOIN per USING (doc_id) CROSS JOIN tot
"""


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: top-10 docs per keyword query (retrieval.bm25_topk)
    — the corpus-probing path for decontamination triage / topic audit.
    Query terms broadcast-filter the postings BEFORE any shuffle; corpus
    scalars ride a one-row broadcast; per-query top-k is a window over
    the query partition.  Scores round to 6 decimals pre-rank so the
    ordering is engine-exact."""
    from .operators.retrieval import bm25_topk
    # single-file input arrives as one split; spread the tokenize work
    docs = _spread(spark.table("documents"), spark)
    queries = local_df(
        spark,
        [("q1", "spark hash join"), ("q2", "window sort table"),
         ("q3", "merge batch value"), ("q4", "slow scan row")],
        "query_id string, query string")
    return bm25_topk(docs, queries, k=10)


_ORACLE_BM25 = r"""
WITH toks AS (
  SELECT doc_id, lower(unnest(regexp_extract_all(text,'\S+'))) AS tok,
         len(regexp_extract_all(text,'\S+')) AS dl
  FROM documents
), stats AS (
  SELECT count(*) AS n_docs,
         avg(len(regexp_extract_all(text,'\S+'))) AS avgdl
  FROM documents
), qterms AS (
  SELECT * FROM (VALUES ('q1','spark'),('q1','hash'),('q1','join'),
                        ('q2','window'),('q2','sort'),('q2','table'),
                        ('q3','merge'),('q3','batch'),('q3','value'),
                        ('q4','slow'),('q4','scan'),('q4','row'))
       AS t(query_id, tok)
), tf AS (
  SELECT doc_id, tok, dl, count(*) AS tf FROM toks
  WHERE tok IN (SELECT DISTINCT tok FROM qterms)
  GROUP BY 1, 2, 3
), dfreq AS (
  SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
), contrib AS (
  SELECT tf.tok, tf.doc_id,
         ln(1.0::DOUBLE + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
         * (tf.tf * (1.2::DOUBLE + 1)
            / (tf.tf + 1.2::DOUBLE
               * (1 - 0.75::DOUBLE + 0.75::DOUBLE * tf.dl / s.avgdl)))
           AS w
  FROM tf JOIN dfreq d USING (tok) CROSS JOIN stats s
), scored AS (
  SELECT q.query_id, c.doc_id, round(sum(c.w), 6) AS score
  FROM contrib c JOIN qterms q USING (tok)
  GROUP BY 1, 2
), ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id) AS INT)
           AS rank
  FROM scored
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 10
"""


def _q_nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable corpus classifier: multinomial Naive Bayes TRAINED on
    the ``doc_id % 5 != 0`` split (label = lang) and evaluated on the
    held-out 20% — confusion matrix ``(label, pred_label, docs)``.  The
    fastText-style quality/domain-filter shape with training = two count
    aggregations (classify.nb_train / nb_confusion); every statistic
    incl. the smoothed log-posteriors reproduces in SQL (argmax on
    scores rounded to 6)."""
    from .operators.classify import nb_confusion, nb_train
    docs = spark.table("documents")
    model, stats = nb_train(docs.where(F.col("doc_id") % 5 != 0), "lang")
    return nb_confusion(docs.where(F.col("doc_id") % 5 == 0),
                        model, stats, "lang")


_ORACLE_NB_CONFUSION = r"""
WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
test AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
toks AS (
  SELECT lang AS label,
         lower(unnest(regexp_extract_all(text,'\S+'))) AS tok
  FROM train
), tok_counts AS (
  SELECT label, tok, count(*) AS n_lt FROM toks GROUP BY 1, 2
), vocab AS (SELECT DISTINCT tok FROM toks),
v AS (SELECT count(*) AS v FROM vocab),
class_tok AS (SELECT label, count(*) AS n_l FROM toks GROUP BY 1),
class_docs AS (SELECT lang AS label, count(*) AS docs FROM train GROUP BY 1),
nd AS (SELECT count(*) AS n_docs FROM train),
class_stats AS (
  SELECT ct.label, ln(cd.docs / nd.n_docs) AS log_prior,
         ln(CAST(1 AS DOUBLE) / (ct.n_l + v.v)) AS log_oov,
         ct.n_l + v.v AS denom
  FROM class_tok ct JOIN class_docs cd USING (label)
  CROSS JOIN v CROSS JOIN nd
), model AS (
  SELECT cs.label, vo.tok,
         ln((coalesce(tc.n_lt, 0) + 1) / cs.denom) AS logp
  FROM vocab vo CROSS JOIN class_stats cs
  LEFT JOIN tok_counts tc ON tc.label = cs.label AND tc.tok = vo.tok
), ttoks AS (
  SELECT doc_id, lower(unnest(regexp_extract_all(text,'\S+'))) AS tok
  FROM test
), tcnt AS (SELECT doc_id, tok, count(*) AS cnt FROM ttoks GROUP BY 1, 2),
dlen AS (SELECT doc_id, sum(cnt) AS n_tok FROM tcnt GROUP BY 1),
known AS (
  SELECT t.doc_id, m.label, sum(t.cnt * m.logp) AS known_sum,
         sum(t.cnt) AS known_cnt
  FROM tcnt t JOIN model m USING (tok) GROUP BY 1, 2
), scored AS (
  SELECT b.doc_id, cs.label,
         round(cs.log_prior + coalesce(k.known_sum, 0)
               + (coalesce(d.n_tok, 0) - coalesce(k.known_cnt, 0))
                 * cs.log_oov, 6) AS score
  FROM (SELECT doc_id FROM test) b CROSS JOIN class_stats cs
  LEFT JOIN dlen d USING (doc_id)
  LEFT JOIN known k ON k.doc_id = b.doc_id AND k.label = cs.label
), pred AS (
  SELECT doc_id, label AS pred_label,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, label) AS rn
  FROM scored
)
SELECT t.lang AS label, p.pred_label, count(*) AS docs
FROM test t JOIN pred p ON p.doc_id = t.doc_id AND p.rn = 1
GROUP BY 1, 2
"""


def _q_cms_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch audit: the exact top-20 tokens with their CMS
    frequency estimates side by side (sketches.cms_cells / cms_estimate,
    d=4 x 4096 md5-hex cells).  The mergeable-counter path for tracking
    heavy hitters over append-only corpora; the md5 cell hash makes the
    whole sketch engine-portable, so even the ESTIMATES oracle-check
    exactly (est >= freq always; equal absent collisions)."""
    from .operators.sketches import cms_cells, cms_estimate
    docs = spark.table("documents")
    toks = docs.select(F.explode(F.transform(
        TX.tokens("text"), lambda t: F.lower(t))).alias("tok"))
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    top = exact.orderBy(F.desc("freq"), "tok").limit(20)
    cms = cms_cells(toks, "tok", d=4, prefix_len=3)
    est = cms_estimate(cms, top.select("tok"), "tok", d=4, prefix_len=3)
    return (top.join(est, top["tok"] == est["value"])
            .select("tok", "freq", "est"))


_ORACLE_CMS = r"""
WITH toks AS (
  SELECT lower(unnest(regexp_extract_all(text,'\S+'))) AS tok
  FROM documents
), exact AS (SELECT tok, count(*) AS freq FROM toks GROUP BY 1),
top AS (SELECT tok, freq FROM exact ORDER BY freq DESC, tok LIMIT 20),
cells AS (
  SELECT i AS row, substr(md5('cms' || i || ':' || tok), 1, 3) AS cell,
         count(*) AS n
  FROM toks CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
  GROUP BY 1, 2
), keys AS (
  SELECT tok, freq, i AS row,
         substr(md5('cms' || i || ':' || tok), 1, 3) AS cell
  FROM top CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
)
SELECT k.tok, k.freq, min(coalesce(c.n, 0)) AS est
FROM keys k LEFT JOIN cells c ON c.row = k.row AND c.cell = k.cell
GROUP BY 1, 2
"""


def _q_pagerank_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph centrality over the exact near-dup pair graph: 3-iteration
    PageRank (graph.pagerank, damping 0.85) — ranks each cluster's
    "authority" doc (the template the others are copies of).  A FIXED
    iteration count keeps the lineage bounded and makes the whole
    computation SQL-unrollable, so even the float ranks oracle-check
    (rounded to 6)."""
    from .operators.graph import pagerank
    # spread the single-split scan (r13: 5.6 s -> 3.1 s, hash-identical)
    docs = _spread(spark.table("documents"), spark)
    pairs = DD.ngram_jaccard_pairs(docs, n=5, threshold=0.2)
    return (pagerank(pairs, "id_a", "id_b", iters=3, damping=0.85)
            .select(F.col("id").alias("doc_id"),
                    F.round("r", 6).alias("rank")))


_ORACLE_PAGERANK = r"""
WITH grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
     generate_series(1, greatest(len(toks) - 4, 0)),
     i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram
  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents)
), sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM grams a JOIN grams b USING (gram) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT a, count(*) AS outdeg FROM edges GROUP BY 1),
r0 AS (SELECT id, CAST(1 AS DOUBLE) / nn.n AS r FROM nodes CROSS JOIN nn),
c1 AS (SELECT e.b AS id, sum(r.r / d.outdeg) AS s
       FROM edges e JOIN r0 r ON r.id = e.a JOIN deg d ON d.a = e.a
       GROUP BY 1),
r1 AS (SELECT n.id,
              (1 - 0.85::DOUBLE) / nn.n + 0.85::DOUBLE * coalesce(c.s, 0)
                AS r
       FROM nodes n CROSS JOIN nn LEFT JOIN c1 c ON c.id = n.id),
c2 AS (SELECT e.b AS id, sum(r.r / d.outdeg) AS s
       FROM edges e JOIN r1 r ON r.id = e.a JOIN deg d ON d.a = e.a
       GROUP BY 1),
r2 AS (SELECT n.id,
              (1 - 0.85::DOUBLE) / nn.n + 0.85::DOUBLE * coalesce(c.s, 0)
                AS r
       FROM nodes n CROSS JOIN nn LEFT JOIN c2 c ON c.id = n.id),
c3 AS (SELECT e.b AS id, sum(r.r / d.outdeg) AS s
       FROM edges e JOIN r2 r ON r.id = e.a JOIN deg d ON d.a = e.a
       GROUP BY 1),
r3 AS (SELECT n.id,
              (1 - 0.85::DOUBLE) / nn.n + 0.85::DOUBLE * coalesce(c.s, 0)
                AS r
       FROM nodes n CROSS JOIN nn LEFT JOIN c3 c ON c.id = n.id)
SELECT id AS doc_id, round(r, 6) AS rank FROM r3
"""


def _q_bm25_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-retrieval path: the corpus written once as an md5-bucket-
    partitioned inverted index (retrieval.write_bm25_index), then the
    same 4 queries answered from it — query-term buckets land as
    PartitionFilters, so the scan touches |terms|/256 of the index.
    Results are IDENTICAL to the in-flight ``bm25_topk_docs`` (shared
    scoring tail), hence the same oracle."""
    import tempfile

    from .operators.retrieval import query_bm25_index, write_bm25_index
    docs = spark.table("documents")
    path = tempfile.mkdtemp(prefix="legend_bm25_idx_") + "/idx"
    write_bm25_index(docs, path)
    queries = local_df(
        spark,
        [("q1", "spark hash join"), ("q2", "window sort table"),
         ("q3", "merge batch value"), ("q4", "slow scan row")],
        "query_id string, query string")
    return query_bm25_index(spark, path, queries, k=10)


def _q_nb_stream_preds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming classifier gate: the corpus arrives as a parquet stream
    and every doc is scored against a FROZEN NB model (trained statically
    on the ``doc_id % 5 != 0`` split, persisted, reloaded, pivoted wide)
    — one stream-static broadcast join + one stateful aggregation
    (streaming.nb_score_stream).  availableNow backfill == the batch
    scorer, so the oracle is the batch per-doc argmax SQL over the whole
    corpus."""
    import tempfile

    from .operators.classify import (nb_model_wide, nb_train,
                                     read_nb_model, write_nb_model)
    from .streaming import nb_score_stream

    docs = spark.table("documents")
    tmp = tempfile.mkdtemp(prefix="legend_nb_stream_")
    model_path, src, ckpt = f"{tmp}/model", f"{tmp}/src", f"{tmp}/ckpt"
    model, stats = nb_train(docs.where(F.col("doc_id") % 5 != 0), "lang")
    write_nb_model(model, stats, model_path)
    wide, stats_rows = nb_model_wide(*read_nb_model(spark, model_path))
    (docs.select("doc_id", "text").write.mode("overwrite").parquet(src))
    stream = (spark.readStream
              .schema(spark.read.parquet(src).schema).parquet(src))
    preds = nb_score_stream(stream, wide, stats_rows)
    _STREAM_RUN_SEQ[0] += 1
    sink = f"__nb_stream_{_STREAM_RUN_SEQ[0]}"
    q = (preds.writeStream.format("memory").queryName(sink)
         .outputMode("complete").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    return spark.table(sink).select("doc_id", "pred_label", "score")


_ORACLE_NB_STREAM = r"""
WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
test AS (SELECT * FROM documents),
toks AS (
  SELECT lang AS label,
         lower(unnest(regexp_extract_all(text,'\S+'))) AS tok
  FROM train
), tok_counts AS (
  SELECT label, tok, count(*) AS n_lt FROM toks GROUP BY 1, 2
), vocab AS (SELECT DISTINCT tok FROM toks),
v AS (SELECT count(*) AS v FROM vocab),
class_tok AS (SELECT label, count(*) AS n_l FROM toks GROUP BY 1),
class_docs AS (SELECT lang AS label, count(*) AS docs FROM train GROUP BY 1),
nd AS (SELECT count(*) AS n_docs FROM train),
class_stats AS (
  SELECT ct.label, ln(cd.docs / nd.n_docs) AS log_prior,
         ln(CAST(1 AS DOUBLE) / (ct.n_l + v.v)) AS log_oov,
         ct.n_l + v.v AS denom
  FROM class_tok ct JOIN class_docs cd USING (label)
  CROSS JOIN v CROSS JOIN nd
), model AS (
  SELECT cs.label, vo.tok,
         ln((coalesce(tc.n_lt, 0) + 1) / cs.denom) AS logp
  FROM vocab vo CROSS JOIN class_stats cs
  LEFT JOIN tok_counts tc ON tc.label = cs.label AND tc.tok = vo.tok
), ttoks AS (
  SELECT doc_id, lower(unnest(regexp_extract_all(text,'\S+'))) AS tok
  FROM test
), tcnt AS (SELECT doc_id, tok, count(*) AS cnt FROM ttoks GROUP BY 1, 2),
dlen AS (SELECT doc_id, sum(cnt) AS n_tok FROM tcnt GROUP BY 1),
known AS (
  SELECT t.doc_id, m.label, sum(t.cnt * m.logp) AS known_sum,
         sum(t.cnt) AS known_cnt
  FROM tcnt t JOIN model m USING (tok) GROUP BY 1, 2
), scored AS (
  SELECT b.doc_id, cs.label,
         round(cs.log_prior + coalesce(k.known_sum, 0)
               + (coalesce(d.n_tok, 0) - coalesce(k.known_cnt, 0))
                 * cs.log_oov, 6) AS score
  FROM (SELECT doc_id FROM test) b CROSS JOIN class_stats cs
  LEFT JOIN dlen d USING (doc_id)
  LEFT JOIN known k ON k.doc_id = b.doc_id AND k.label = cs.label
), pred AS (
  SELECT doc_id, label AS pred_label, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, label) AS rn
  FROM scored
)
SELECT doc_id, pred_label, score FROM pred WHERE rn = 1
"""


def _q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: word-5-gram CONTAINMENT pairs at 0.6
    (dedup.containment_pairs) — catches excerpt/quote/syndication
    duplication that symmetric Jaccard misses.  Asymmetric AllPairs
    prefix filter on the contained side, exact array_intersect verify;
    the metric is integer set math + one division, so it carries a full
    oracle."""
    # spread the single-split scan (r13: 3.4 s -> 1.4 s, hash-identical)
    docs = _spread(spark.table("documents"), spark)
    return DD.containment_pairs(docs, n=5, threshold=0.6)


_ORACLE_CONTAINMENT = r"""
WITH grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
     generate_series(1, greatest(len(toks) - 4, 0)),
     i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram
  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents)
), sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM grams a JOIN grams b USING (gram) WHERE a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(n_common AS DOUBLE) / sa.n AS containment
FROM inter JOIN sizes sa ON sa.doc_id = id_a
WHERE CAST(n_common AS DOUBLE) / sa.n >= 0.6
"""


def _q_bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training: the first 12 BPE merges learned from the
    corpus (tokenize.bpe_train) — per-round work is vocabulary-sized
    (distinct words weighted by corpus frequency), one single-row driver
    fetch per round for the argmax pair.  Deterministic merge rule
    (max count, ties by (left, right) ascending); rows-only by nature
    (the greedy merge fold is iterative, not one-query SQL) — the merge
    table is pinned exactly against an independent pure-python BPE in
    tests/test_tokenize.py."""
    from .operators.tokenize import bpe_train
    merges, _ = bpe_train(spark.table("documents"), n_merges=12)
    return local_df(
        spark, [(i + 1, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "step int, left string, right string, pair_count long")


def _q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus priced in trained-tokenizer tokens: per-doc word/char/BPE
    token counts after 12 merges (tokenize.bpe_encode_stats) — encoding
    is an equi-join against the vocabulary segmentation table, never a
    per-token fold, so the corpus-sized pass stays in codegen.
    Rows-only (same fold rationale); end-to-end goldens in
    tests/test_tokenize.py."""
    from .operators.tokenize import bpe_encode_stats, bpe_train
    docs = spark.table("documents")
    _, seg = bpe_train(docs, n_merges=12)
    return bpe_encode_stats(docs, seg)


def _q_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer training
    (tokenize.unigram_train, Kudo ACL'18): EM over candidate pieces —
    E-step = forward-backward posteriors per distinct word (two Column
    folds), M-step = one aggregate; prune toward the target vocabulary
    keeping single-char coverage.  Rows-only by nature (the EM fixed
    point is iterative, not one-query SQL); the EM math is pinned
    against a pure-python reference in tests/test_tokenize.py."""
    from .operators.tokenize import unigram_train
    docs = _spread(spark.table("documents"), spark)
    pieces = unigram_train(docs, vocab_size=150, n_em=1,
                           max_piece_len=5, seed_size=500)
    return pieces.select("piece", F.round("logp", 6).alias("logp"))


def _q_unigram_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus priced in Unigram-LM tokens: per-doc word/char/piece
    counts under the trained model (tokenize.unigram_encode_stats) —
    Viterbi runs once per DISTINCT word, docs equi-join the result.
    Rows-only (same EM rationale); OOV chars fall back to char count."""
    from .operators.tokenize import unigram_encode_stats, unigram_train
    docs = _spread(spark.table("documents"), spark)
    pieces = unigram_train(docs, vocab_size=150, n_em=1,
                           max_piece_len=5, seed_size=500)
    return unigram_encode_stats(docs, pieces, max_piece_len=5)


def _q_eval_ngram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generation-eval metrics (operators/evalmetrics.py): each doc
    scored as a "candidate" against the next doc_id as "reference" —
    BLEU-2 clipped precisions + brevity penalty and ROUGE-1/2 P/R/F1.
    Exact integer multiset math per row (clipped counts via
    filter-inside-fold), zero shuffles beyond the adjacency join; every
    value reproduces in DuckDB list algebra — full oracle."""
    from .operators.evalmetrics import ngram_eval_metrics
    # single-file input arrives as one split; spread the gram explode +
    # counting across cores the way a multi-split scan would be
    d = _spread(spark.table("documents"), spark)
    a = d.select("doc_id", F.col("text").alias("cand"))
    b = d.select((F.col("doc_id") - 1).alias("doc_id"),
                 F.col("text").alias("ref"))
    # the metric builder fans the pair table out to 5 subtrees (2 clip
    # tables x cand/ref explodes + the output row) — materialize the
    # adjacency join once instead of re-reading + re-joining per branch
    # (guide §3.3; r12)
    pairs = a.join(b, "doc_id").localCheckpoint(eager=True)
    # fixture corpus is broadcast-sized; production default (False)
    # lets AQE pick the clip-join strategy
    m = ngram_eval_metrics(pairs, "cand", "ref", "doc_id", 2,
                           broadcast_clip=True)
    return m.select(
        "doc_id",
        F.round("p1", 6).alias("p1"), F.round("r1", 6).alias("r1"),
        F.round("rouge1_f1", 6).alias("rouge1_f1"),
        F.round("p2", 6).alias("p2"), F.round("r2", 6).alias("r2"),
        F.round("rouge2_f1", 6).alias("rouge2_f1"),
        F.round("bp", 6).alias("bp"),
        F.round("bleu2", 6).alias("bleu2"))


_ORACLE_EVAL_NGRAM = r"""
WITH pairs AS (
  SELECT a.doc_id, a.text AS cand, b.text AS ref
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
tok AS (
  SELECT doc_id,
    regexp_extract_all(cand, '\S+') AS ct,
    regexp_extract_all(ref, '\S+') AS rt
  FROM pairs),
grams AS (
  SELECT doc_id, ct, rt,
    CASE WHEN len(ct) >= 2
         THEN list_transform(generate_series(1, len(ct) - 1),
                             i -> ct[i] || ' ' || ct[i + 1])
         ELSE [] END AS cg2,
    CASE WHEN len(rt) >= 2
         THEN list_transform(generate_series(1, len(rt) - 1),
                             i -> rt[i] || ' ' || rt[i + 1])
         ELSE [] END AS rg2
  FROM tok),
-- clipped counts relationally: unnest each side to (doc, gram, count)
-- rows, inner-join, sum the mins (identical integer math to the
-- per-row fold; the fold form is O(distinct x len) per row in list
-- lambdas — measured 60x slower in DuckDB)
c1u AS (SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id, unnest(ct) AS g FROM grams) GROUP BY 1, 2),
r1u AS (SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id, unnest(rt) AS g FROM grams) GROUP BY 1, 2),
c2u AS (SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id, unnest(cg2) AS g FROM grams) GROUP BY 1, 2),
r2u AS (SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id, unnest(rg2) AS g FROM grams) GROUP BY 1, 2),
o1 AS (SELECT c1u.doc_id, sum(least(c1u.c, r1u.c)) AS c1
       FROM c1u JOIN r1u USING (doc_id, g) GROUP BY 1),
o2 AS (SELECT c2u.doc_id, sum(least(c2u.c, r2u.c)) AS c2
       FROM c2u JOIN r2u USING (doc_id, g) GROUP BY 1),
m AS (
  SELECT g.doc_id,
    CASE WHEN len(ct) > 0
         THEN coalesce(c1, 0)::DOUBLE / len(ct) ELSE 0.0 END AS p1,
    CASE WHEN len(rt) > 0
         THEN coalesce(c1, 0)::DOUBLE / len(rt) ELSE 0.0 END AS r1,
    CASE WHEN len(cg2) > 0
         THEN coalesce(c2, 0)::DOUBLE / len(cg2) ELSE 0.0 END AS p2,
    CASE WHEN len(rg2) > 0
         THEN coalesce(c2, 0)::DOUBLE / len(rg2) ELSE 0.0 END AS r2,
    CASE WHEN len(ct) <= 0 THEN 0.0
         ELSE least(1.0, exp(1.0 - len(rt)::DOUBLE / len(ct))) END AS bp
  FROM grams g LEFT JOIN o1 ON o1.doc_id = g.doc_id
               LEFT JOIN o2 ON o2.doc_id = g.doc_id)
SELECT doc_id,
  round(p1, 6) AS p1, round(r1, 6) AS r1,
  round(CASE WHEN p1 + r1 > 0 THEN 2 * p1 * r1 / (p1 + r1)
        ELSE 0.0 END, 6) AS rouge1_f1,
  round(p2, 6) AS p2, round(r2, 6) AS r2,
  round(CASE WHEN p2 + r2 > 0 THEN 2 * p2 * r2 / (p2 + r2)
        ELSE 0.0 END, 6) AS rouge2_f1,
  round(bp, 6) AS bp,
  round(CASE WHEN p1 * p2 > 0 THEN bp * pow(p1 * p2, 0.5)
        ELSE 0.0 END, 6) AS bleu2
FROM m
"""


def _q_wordpiece_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy encode (tokenize.wordpiece_encode_stats): per-doc
    token counts under a deterministic char+top-words vocabulary —
    longest-match-first segmentation once per DISTINCT word via the
    substring-lattice join + one bounded greedy fold.  FULL ORACLE
    (round 8): the vocab is one deterministic query (chars + top-10
    words by freq desc, word asc) and the greedy walk is a DuckDB
    recursive CTE over distinct words joined to a precomputed
    longest-match table.  top_words=10 (not 200) so the synthetic
    fixture's 30 distinct multi-char words actually segment instead of
    all matching as whole pieces."""
    from .operators.tokenize import (wordpiece_char_vocab,
                                     wordpiece_encode_stats)
    docs = _spread(spark.table("documents"), spark)
    vocab = wordpiece_char_vocab(docs, top_words=10)
    return wordpiece_encode_stats(docs, vocab)


_ORACLE_WORDPIECE = r"""
WITH RECURSIVE
tok AS (
  SELECT doc_id, lower(t.w) AS word
  FROM documents, unnest(regexp_extract_all(text, '\S+')) AS t(w)),
words AS (SELECT word, count(*) AS freq FROM tok GROUP BY word),
wpos AS (
  SELECT word, length(word) AS len, p.s
  FROM words, unnest(range(1, length(word) + 1)) AS p(s)),
vocab AS (
  SELECT DISTINCT substr(word, s, 1) AS piece FROM wpos
  UNION
  SELECT DISTINCT '##' || substr(word, s, 1) FROM wpos
  UNION
  SELECT word FROM (
    SELECT word FROM words WHERE length(word) > 1
    ORDER BY freq DESC, word LIMIT 10)),
-- longest vocab match per (word, 1-based position); max_piece_len=10
best AS (
  SELECT w.word, w.s, max(l.l) AS best_l
  FROM wpos w, unnest(range(1, least(10, w.len - w.s + 1) + 1)) AS l(l)
  WHERE (CASE WHEN w.s = 1 THEN substr(w.word, w.s, l.l)
              ELSE '##' || substr(w.word, w.s, l.l) END)
        IN (SELECT piece FROM vocab)
  GROUP BY w.word, w.s),
-- the greedy longest-match-first walk; dead end mid-word => [UNK] (cnt 1)
walk AS (
  SELECT word, length(word) AS len, 0 AS pos, 0 AS cnt, true AS ok
  FROM words
  UNION ALL
  SELECT w.word, w.len,
         CASE WHEN b.best_l IS NOT NULL THEN w.pos + b.best_l
              ELSE w.len END,
         CASE WHEN b.best_l IS NOT NULL THEN w.cnt + 1 ELSE 1 END,
         b.best_l IS NOT NULL
  FROM walk w LEFT JOIN best b ON b.word = w.word AND b.s = w.pos + 1
  WHERE w.pos < w.len AND w.ok),
seg AS (SELECT word, cnt AS n_pieces, NOT ok AS is_unk
        FROM walk WHERE pos >= len)
SELECT t.doc_id, count(*) AS n_words,
       CAST(sum(s.n_pieces) AS BIGINT) AS n_wordpiece_tokens,
       CAST(sum(CASE WHEN s.is_unk THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unk_words
FROM tok t JOIN seg s USING (word)
GROUP BY t.doc_id
"""


def _q_weighted_docs_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derandomized weighted sampling without replacement
    (curation.weighted_sample, Efraimidis-Spirakis A-Res): 100 docs
    drawn with probability tracking ``n_chars``, via md5-derived
    uniforms — reproducible on any engine, ranked on round-9 keys, and
    planned as TakeOrderedAndProject (no global sort)."""
    from .operators.curation import weighted_sample
    docs = spark.table("documents").select("doc_id", "n_chars")
    return (weighted_sample(docs, "n_chars", k=100)
            .select("doc_id", "n_chars", F.col("__key").alias("key")))


_ORACLE_WEIGHTED_SAMPLE = r"""
SELECT doc_id, n_chars,
       round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                   ::UBIGINT + 1) / 4503599627370497.0)
             / n_chars, 9) AS key
FROM documents
WHERE n_chars IS NOT NULL AND n_chars > 0
ORDER BY key DESC, doc_id LIMIT 100
"""


# Behavioral path mining: the 20 most common session ENTRY paths (first 5
# event types per 30-min-gap session, '>'-joined) — the journey-analysis
# companion to the funnel/retention entries. Session assignment is the
# sessionize window chain; per-session ordering is deterministic ((ts,
# event_id) struct sort), so the whole path table oracle-checks.
_SESSION_PATHS_SPARK = """
WITH g AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN timestampdiff(MICROSECOND, lag(ts) OVER (
                PARTITION BY user_id ORDER BY ts, event_id), ts)
                IS NULL
              OR timestampdiff(MICROSECOND, lag(ts) OVER (
                PARTITION BY user_id ORDER BY ts, event_id), ts)
                > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
), s AS (
  SELECT user_id, event_id, ts, event_type,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM g
), p AS (
  SELECT array_join(slice(transform(
           array_sort(collect_list(struct(ts, event_id, event_type))),
           x -> x.event_type), 1, 5), '>') AS path
  FROM s GROUP BY user_id, sess
)
SELECT path, COUNT(*) AS sessions
FROM p GROUP BY path ORDER BY sessions DESC, path LIMIT 20
"""

_SESSION_PATHS_ORACLE = """
WITH g AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)
                IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)
                > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
), s AS (
  SELECT user_id, event_id, ts, event_type,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM g
), p AS (
  SELECT array_to_string(list_slice(
           list(event_type ORDER BY ts, event_id), 1, 5), '>') AS path
  FROM s GROUP BY user_id, sess
)
SELECT path, COUNT(*) AS sessions
FROM p GROUP BY path ORDER BY sessions DESC, path LIMIT 20
"""


def _q_events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-feature drift monitor: daily PSI of the event ``value``
    distribution against the frozen day-one baseline
    (scoring.psi_drift, 10 fixed bins, add-one smoothing) — the scalar
    companion to source_drift (tokens) and embedding_drift (vectors).
    Integer-ratio math + ln, round 6 — full oracle."""
    from .operators.scoring import psi_drift
    ev = spark.table("events")
    baseline = ev.where(F.to_date("ts") == F.lit("2024-01-01"))
    return psi_drift(ev, baseline, "value", F.to_date("ts"),
                     n_bins=10, lo=0.0, hi=500.0)


_ORACLE_PSI = r"""
WITH cur AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS period,
         CAST(least(greatest(floor(("value" - 0) / 50.0), 0), 9) AS INT)
           AS bin
  FROM events
), cc AS (SELECT period, bin, count(*) AS n FROM cur GROUP BY 1, 2),
ct AS (SELECT period, sum(n) AS nt FROM cc GROUP BY 1),
b AS (
  SELECT CAST(least(greatest(floor(("value" - 0) / 50.0), 0), 9) AS INT)
           AS bin
  FROM events
  WHERE CAST(date_trunc('day', ts) AS DATE) = DATE '2024-01-01'
), bc AS (SELECT bin, count(*) AS m FROM b GROUP BY 1),
bt AS (SELECT sum(m) AS mt FROM bc),
bins AS (SELECT unnest(generate_series(0, 9)) AS bin),
f AS (
  SELECT ct.period,
         (coalesce(cc.n, 0) + 1) / (ct.nt + 10) AS p,
         (coalesce(bc.m, 0) + 1) / (bt.mt + 10) AS q
  FROM ct CROSS JOIN bins
  LEFT JOIN cc ON cc.period = ct.period AND cc.bin = bins.bin
  LEFT JOIN bc ON bc.bin = bins.bin
  CROSS JOIN bt
)
SELECT period, round(sum((p - q) * ln(p / q)), 6) AS psi
FROM f GROUP BY 1
"""


def _q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-regression diff (sources.versioned.snapshot_diff): a v2
    corpus is synthesized deterministically (drop doc_id%13==0, edit
    %17==0, re-add %11==0 under shifted ids), then v1→v2 changes are
    classified added/removed/changed via one full-outer join on content
    md5s (NULL-sentinel'd, engine-portable) and aggregated per source.
    The "what moved between snapshots" primitive behind the versioned
    table's diff_versions."""
    from .sources.versioned import snapshot_diff
    docs = spark.table("documents")
    v2 = (docs.where(F.col("doc_id") % 13 != 0)
          .withColumn("text", F.when(
              F.col("doc_id") % 17 == 0,
              F.concat(F.col("text"), F.lit(" v2")))
              .otherwise(F.col("text")))
          .unionByName(docs.where(F.col("doc_id") % 11 == 0)
                       .withColumn("doc_id",
                                   F.col("doc_id") + F.lit(1000000))))
    d = snapshot_diff(docs, v2, ["doc_id"], compare_cols=["text"])
    src = (docs.select("doc_id", "source")
           .unionByName(v2.select("doc_id", "source"))
           .dropDuplicates(["doc_id"]))
    return (d.join(src, "doc_id")
            .groupBy("source", "change")
            .agg(F.count(F.lit(1)).alias("docs")))


_ORACLE_CORPUS_DIFF = r"""
WITH v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END
           AS text,
         source
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 1000000, text, source
  FROM documents WHERE doc_id % 11 = 0
),
o AS (SELECT doc_id, md5(coalesce(text, chr(31) || 'NULL')) AS h, source
      FROM documents),
n AS (SELECT doc_id, md5(coalesce(text, chr(31) || 'NULL')) AS h, source
      FROM v2),
d AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.h IS NULL THEN 'added'
              WHEN n.h IS NULL THEN 'removed'
              WHEN o.h <> n.h THEN 'changed' END AS change,
         coalesce(o.source, n.source) AS source
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
)
SELECT source, change, count(*) AS docs
FROM d WHERE change IS NOT NULL GROUP BY 1, 2
"""


def _q_doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality axis (scoring.char_entropy_stats):
    per-doc Shannon entropy of the char distribution in nats — binary
    junk scores high, template floods score low; both tails are corpus
    gate cut points.  Integer-ratio math + ln, round 6 — full oracle."""
    from .operators.scoring import char_entropy_stats
    return char_entropy_stats(spark.table("documents"))


_ORACLE_CHAR_ENTROPY = r"""
WITH chars AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS ch
  FROM documents
), cnt AS (SELECT doc_id, ch, count(*) AS n FROM chars GROUP BY 1, 2),
tot AS (SELECT doc_id, sum(n) AS nt FROM cnt GROUP BY 1),
ent AS (
  SELECT c.doc_id, t.nt AS n_chars_counted,
         round(-sum((c.n / t.nt) * ln(c.n / t.nt)), 6) AS char_entropy
  FROM cnt c JOIN tot t USING (doc_id) GROUP BY 1, 2
)
SELECT d.doc_id,
       CAST(coalesce(e.n_chars_counted, 0) AS BIGINT) AS n_chars_counted,
       e.char_entropy
FROM documents d LEFT JOIN ent e USING (doc_id)
"""


def _q_event_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnosis (joins.key_skew_report): the heaviest
    groupBy/join keys with their row share — the report a 1000-executor
    operator runs FIRST when a shuffle stage straggles, feeding the
    salted_join / broadcast-isolate fix.  One count aggregate + top-k;
    full oracle."""
    from .operators.joins import key_skew_report
    return key_skew_report(spark.table("events"), ["event_type"],
                           top_n=10)


_ORACLE_KEY_SKEW = r"""
WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
t AS (SELECT count(*) AS tt FROM events)
SELECT event_type, n, round(n / t.tt, 6) AS frac,
       CAST(row_number() OVER (ORDER BY n DESC, event_type) AS INT)
         AS rank
FROM c CROSS JOIN t ORDER BY n DESC, event_type LIMIT 10
"""


def _q_vocab_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo/variant clustering over the corpus vocabulary: distinct
    lowercased token pairs within Levenshtein distance 1
    (dedup.edit_distance_pairs) — SymSpell deletion-neighborhood join
    (linear in vocab x token length), candidates verified with the
    built-in levenshtein.  The oracle brute-forces the vocab cross —
    tiny there, which is exactly why the Spark side must not."""
    toks = spark.table("documents").select(
        F.explode(F.transform(TX.tokens("text"),
                              lambda t: F.lower(t))).alias("tok"))
    # the synthetic vocabulary has no natural distance-1 pairs, so the
    # entry unions a deterministic typo layer (2nd char deleted from
    # every token of length >= 4) — the detection target
    typos = (toks.where(F.length("tok") >= 4)
             .select(F.concat(F.substring("tok", 1, 1),
                              F.expr("substr(tok, 3)")).alias("tok")))
    return DD.edit_distance_pairs(toks.unionByName(typos), "tok")


_ORACLE_EDIT_PAIRS = r"""
WITH toks AS (
  SELECT lower(unnest(regexp_extract_all(text, '\S+'))) AS tok
  FROM documents
), vocab AS (
  SELECT DISTINCT tok FROM (
    SELECT tok FROM toks
    UNION ALL
    SELECT substr(tok, 1, 1) || substr(tok, 3) FROM toks
    WHERE length(tok) >= 4)
)
SELECT a.tok AS val_a, b.tok AS val_b,
       CAST(levenshtein(a.tok, b.tok) AS INT) AS dist
FROM vocab a JOIN vocab b ON a.tok < b.tok
WHERE levenshtein(a.tok, b.tok) <= 1
"""


def _q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (similarity.hard_negatives): for each of
    three query embeddings, the 5 most-similar vectors with a DIFFERENT
    label — the contrastive-training negatives a bi-encoder needs.
    Label filter precedes the ranking window; exact cosine, round 6 —
    full oracle."""
    from .operators.similarity import hard_negatives
    emb = spark.table("embeddings")
    queries = (emb.where("vec_id < 3")
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec"),
                       F.col("label").alias("query_label")))
    return hard_negatives(emb, queries, k=5)


_ORACLE_HARD_NEG = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS ql
  FROM embeddings WHERE vec_id < 3
), s AS (
  SELECT q.query_id, e.vec_id, e.label,
    round(
      list_sum(list_transform(list_zip(e.embedding, q.qv),
                              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
      6) AS cosine
  FROM embeddings e, q WHERE e.label <> q.ql
), r AS (
  SELECT query_id, vec_id, label, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id) AS INT)
           AS rank
  FROM s
)
SELECT query_id, vec_id, label, cosine, rank FROM r WHERE rank <= 5
"""


def _q_events_psi_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: events arrive as a parquet stream and
    each day's PSI vs the FROZEN day-one baseline is maintained in ONE
    stateful aggregation (per-bin conditional sums as columns —
    streaming.psi_drift_stream); the baseline is 10 counts + a total,
    collected once (metadata-sized) and inlined as literals.
    availableNow backfill == the batch monitor, hence the same oracle."""
    import tempfile

    from .operators.scoring import psi_bin
    from .streaming import psi_drift_stream

    ev = spark.table("events")
    base = ev.where(F.to_date("ts") == F.lit("2024-01-01"))
    bc = {r.bin: r.n for r in
          base.select(psi_bin("value").alias("bin"))
          .groupBy("bin").agg(F.count(F.lit(1)).alias("n")).collect()}
    counts = [bc.get(i, 0) for i in range(10)]
    tmp = tempfile.mkdtemp(prefix="legend_psi_stream_")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    ev.select("ts", "value").write.mode("overwrite").parquet(src)
    stream = (spark.readStream
              .schema(spark.read.parquet(src).schema).parquet(src))
    out = psi_drift_stream(stream, counts, sum(counts), "value",
                           F.to_date("ts"))
    _STREAM_RUN_SEQ[0] += 1
    sink = f"__psi_stream_{_STREAM_RUN_SEQ[0]}"
    q = (out.writeStream.format("memory").queryName(sink)
         .outputMode("complete").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    return spark.table(sink).select("period", "psi")


def _q_quality_pct_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based per-source quality calibration: percent_rank of the
    heuristic quality score within each source — the CCNet-style
    normalization that makes one global cutoff fair across sources with
    different score distributions (rank, unlike the raw score or even a
    robust z, is distribution-free).  percent_rank is tie-aware
    ((rank-1)/(n-1)) so the output is deterministic even on tied
    scores; full oracle."""
    from pyspark.sql import Window as W
    from .functions.text import quality_score
    docs = (spark.table("documents")
            .where(F.length("text") > 0)
            .select("doc_id", "source",
                    quality_score("text").alias("quality")))
    pct = F.round(F.percent_rank().over(
        W.partitionBy("source").orderBy("quality")), 6)
    return docs.withColumn("pct", pct)


_ORACLE_QUALITY_PCT = r"""
WITH scored AS (
  SELECT doc_id, source,
    CAST(round((
      least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 50.0, 1.0)
      + greatest(0.0, 1.0 - (CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
                             / length(text)) * 4)
      + CASE WHEN (CAST(list_sum(list_transform(regexp_extract_all(text, '\S+'),
                                                t -> length(t))) AS DOUBLE)
                   / len(regexp_extract_all(text, '\S+'))) BETWEEN 2.0 AND 12.0
             THEN 1.0 ELSE 0.3 END
    ) / 3.0, 6) AS DECIMAL(10,6)) AS q
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, source, CAST(q AS DOUBLE) AS quality,
       round(percent_rank() OVER (PARTITION BY source ORDER BY q), 6)
         AS pct
FROM scored
"""


def _q_knn_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-graph construction (similarity.knn_graph): 3 nearest
    neighbors by cosine for the first 100 vectors over the full corpus
    — the graph SemDeDup-style clustering and graph dedup build on.
    Brute scoring here (exact, oracle-checkable); the corpus-scale
    within-cell variant (knn_graph_cells) is recall-pinned against this
    exact graph in tests."""
    from .operators.similarity import knn_graph
    emb = spark.table("embeddings")
    return knn_graph(emb, k=3, queries=emb.where("vec_id < 100"))


_ORACLE_KNN = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv
  FROM embeddings WHERE vec_id < 100
), s AS (
  SELECT q.query_id, e.vec_id,
    round(
      list_sum(list_transform(list_zip(e.embedding, q.qv),
                              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
      6) AS cosine
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
), r AS (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id) AS INT)
           AS rank
  FROM s
)
SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 3
"""


def _q_events_agg_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized aggregate (sketches.write_agg_store /
    read_agg_store): two ingest batches append their PARTIAL
    count/sum/min/max rows per event_type; the read-time merge equals
    the one-shot aggregate over everything — the "maintain the
    dashboard without rescanning history" pattern, generalized from the
    HLL/CMS/sample stores to algebraic aggregates.  Oracle = the direct
    aggregate."""
    import tempfile

    from .operators.sketches import read_agg_store, write_agg_store
    ev = spark.table("events")
    path = tempfile.mkdtemp(prefix="legend_agg_store_") + "/agg"
    aggs = {"n": ("count", "value"), "sum_value": ("sum", "value"),
            "min_value": ("min", "value"), "max_value": ("max", "value")}
    write_agg_store(ev.where(F.col("event_id") % 2 == 0), path,
                    ["event_type"], aggs)
    write_agg_store(ev.where(F.col("event_id") % 2 == 1), path,
                    ["event_type"], aggs)
    out = read_agg_store(spark, path, ["event_type"])
    return out.select("event_type", "n",
                      F.round("sum_value", 6).alias("sum_value"),
                      "min_value", "max_value")


_ORACLE_AGG_STORE = """
SELECT event_type, count(*) AS n,
       round(sum("value"), 6) AS sum_value,
       min("value") AS min_value, max("value") AS max_value
FROM events GROUP BY 1
"""


def _q_events_resampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with forward fill (asof.resample_ffill):
    each event_type's value series aligned to a daily grid (epoch-µs
    ticks), every tick carrying the last observation at or before it —
    the gap-filling step before aligned time-series math.  Grid
    generation + the as-of join; oracle = generate_series + DuckDB's
    native ASOF LEFT JOIN."""
    from .operators.asof import resample_ffill
    # ts is TIMESTAMP_NTZ: a tz-free diff from the epoch == DuckDB's
    # epoch_us on the same naive timestamps
    tus = F.expr("timestampdiff(MICROSECOND, "
                 "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    ev = (spark.table("events")
          .select("event_type", tus.alias("tus"), "value")
          .groupBy("event_type", "tus")
          .agg(F.max("value").alias("value")))
    return resample_ffill(ev, "tus", 86_400_000_000, on="event_type")


_ORACLE_RESAMPLE = """
WITH ev AS (
  SELECT event_type, epoch_us(ts) AS tus, max("value") AS value
  FROM events GROUP BY 1, 2
), b AS (
  SELECT event_type,
         CAST(floor(min(tus) / 86400000000) AS BIGINT) AS lo,
         CAST(floor(max(tus) / 86400000000) AS BIGINT) AS hi
  FROM ev GROUP BY 1
), grid AS (
  SELECT event_type, unnest(generate_series(lo, hi)) * 86400000000 AS tus
  FROM b
)
SELECT g.event_type, g.tus, e.value
FROM grid g
ASOF LEFT JOIN ev e
  ON g.event_type = e.event_type AND g.tus >= e.tus
"""


def _q_lang_source_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical corpus audit: the full lang x source contingency
    table with chi-square contributions — observed count, expected
    count under independence (row_total * col_total / N), and
    (o - e)^2 / e per cell, INCLUDING zero-observed cells (their
    contribution is e, which a group-by over observed rows alone would
    silently drop).  The sampling-bias detector a corpus intake runs:
    a big total chi2 means language mix differs by source.  Integer
    ratios + one square — full oracle."""
    docs = spark.table("documents")
    obs = (docs.groupBy("lang", "source")
           .agg(F.count(F.lit(1)).alias("obs")))
    rows = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("__rt"))
    cols = docs.groupBy("source").agg(F.count(F.lit(1)).alias("__ct"))
    n = docs.agg(F.count(F.lit(1)).alias("__n"))
    e = F.col("__rt") * F.col("__ct") / F.col("__n")
    o = F.coalesce(F.col("obs"), F.lit(0))
    return (rows.crossJoin(F.broadcast(cols))
            .crossJoin(F.broadcast(n))
            .join(obs, ["lang", "source"], "left")
            .select("lang", "source", o.alias("obs"),
                    F.round(e, 6).alias("expected"),
                    F.round((o - e) * (o - e) / e, 6).alias("chi2")))


_ORACLE_CHI2 = """
WITH obs AS (
  SELECT lang, source, count(*) AS obs FROM documents GROUP BY 1, 2
), r AS (SELECT lang, count(*) AS rt FROM documents GROUP BY 1),
c AS (SELECT source, count(*) AS ct FROM documents GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents)
SELECT r.lang, c.source,
       coalesce(o.obs, 0) AS obs,
       round(r.rt * c.ct / n.n, 6) AS expected,
       round((coalesce(o.obs, 0) - r.rt * c.ct / n.n)
             * (coalesce(o.obs, 0) - r.rt * c.ct / n.n)
             / (r.rt * c.ct / n.n), 6) AS chi2
FROM r CROSS JOIN c CROSS JOIN n
LEFT JOIN obs o ON o.lang = r.lang AND o.source = c.source
"""


def _q_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup clustering (graph.incremental_components):
    the exact Jaccard pair graph arrives in two batches (both-endpoints-
    under-250 first, the rest after); each batch folds into a persisted
    component store whose labels stand in for the old edges as star
    edges.  The final labels equal FULL-batch connected components
    exactly, so the oracle is the same recursive-CTE reachability SQL
    as near_dup_clusters."""
    import tempfile

    from .operators.graph import incremental_components
    pairs = DD.ngram_jaccard_pairs(spark.table("documents"), n=5,
                                   threshold=0.2)
    both_small = (F.col("id_a") < 250) & (F.col("id_b") < 250)
    path = tempfile.mkdtemp(prefix="legend_cc_store_") + "/cc"
    incremental_components(spark, path, pairs.where(both_small))
    labels = incremental_components(spark, path, pairs.where(~both_small))
    return labels.select(F.col("id").alias("doc_id"), "component")


def _q_events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binning-free drift: daily two-sample Kolmogorov-Smirnov statistic
    of event values vs the frozen day-one baseline (scoring.ks_drift) —
    catches distributional moves PSI's fixed bins can blur.  Exact
    ECDFs via one RANGE-framed window per day (ties enter together);
    integer-ratio math, full oracle."""
    from .operators.scoring import ks_drift
    ev = spark.table("events")
    base = ev.where(F.to_date("ts") == F.lit("2024-01-01"))
    return ks_drift(ev, base, "value", F.to_date("ts"))


_ORACLE_KS = """
WITH cur AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS period, "value" AS v,
         1 AS c FROM events
), periods AS (SELECT DISTINCT period FROM cur),
base AS (
  SELECT p.period, e."value" AS v, 0 AS c
  FROM periods p CROSS JOIN events e
  WHERE CAST(date_trunc('day', e.ts) AS DATE) = DATE '2024-01-01'
), u AS (SELECT * FROM cur UNION ALL SELECT * FROM base),
g AS (
  SELECT period,
         abs(
           CAST(sum(c) OVER (PARTITION BY period ORDER BY v
                             RANGE BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS DOUBLE)
           / sum(c) OVER (PARTITION BY period)
           - CAST(sum(1 - c) OVER (PARTITION BY period ORDER BY v
                                   RANGE BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS DOUBLE)
           / sum(1 - c) OVER (PARTITION BY period)) AS gap
  FROM u
)
SELECT period, round(max(gap), 6) AS ks FROM g GROUP BY 1
"""


# Robust smoothing: exact centered 7-row rolling MEDIAN per event_type — the
# outlier-immune counterpart of the rolling mean in rolling_windows (one
# spike moves a mean for 7 rows; the median shrugs). Spark's exact
# ``percentile`` as a window aggregate vs DuckDB's ``quantile_cont`` —
# identical linear interpolation, pinned exact over all 10k rows.
_ROLLING_MEDIAN_SPARK = """
SELECT event_id, event_type,
       round(percentile(value, 0.5) OVER (
         PARTITION BY event_type ORDER BY ts, event_id
         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 6) AS med
FROM events
"""

_ROLLING_MEDIAN_ORACLE = """
SELECT event_id, event_type,
       round(quantile_cont("value", 0.5) OVER (
         PARTITION BY event_type ORDER BY ts, event_id
         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 6) AS med
FROM events
"""


def _q_quality_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality quartile assignment via ``ntile(4)`` over
    (quality, doc_id) — the banding a curation pipeline uses to route
    docs to keep/review/drop tiers with per-source fairness (each
    source contributes equally to every band).  The doc_id tie-break
    makes ntile deterministic; summarized per (source, quartile) with
    round-6 average quality."""
    from pyspark.sql import Window as W
    from .functions.text import quality_score
    docs = (spark.table("documents")
            .where(F.length("text") > 0)
            .select("doc_id", "source",
                    quality_score("text").alias("q")))
    band = F.ntile(4).over(
        W.partitionBy("source").orderBy("q", "doc_id"))
    return (docs.withColumn("quartile", band)
            .groupBy("source", "quartile")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.round(F.avg("q"), 6).alias("avg_quality")))


_ORACLE_QUALITY_QUARTILES = r"""
WITH scored AS (
  SELECT doc_id, source,
    CAST(round((
      least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 50.0, 1.0)
      + greatest(0.0, 1.0 - (CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
                             / length(text)) * 4)
      + CASE WHEN (CAST(list_sum(list_transform(regexp_extract_all(text, '\S+'),
                                                t -> length(t))) AS DOUBLE)
                   / len(regexp_extract_all(text, '\S+'))) BETWEEN 2.0 AND 12.0
             THEN 1.0 ELSE 0.3 END
    ) / 3.0, 6) AS DOUBLE) AS q
  FROM documents WHERE length(text) > 0
), banded AS (
  SELECT source, q,
         CAST(ntile(4) OVER (PARTITION BY source ORDER BY q, doc_id)
              AS INT) AS quartile
  FROM scored
)
SELECT source, quartile, count(*) AS docs,
       round(avg(q), 6) AS avg_quality
FROM banded GROUP BY 1, 2
"""


def _q_heavy_hitter_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus boilerplate mining: the EXACT lowercased word 3-grams
    occurring >= 5 times, via the count-min cell-filter heavy-hitter
    pass (``operators/sketches.heavy_hitters``) — two bounded-state
    aggregations instead of a naive ``groupBy(ngram)`` whose partial
    state is the full distinct-n-gram space.  The cell filter is a
    pigeonhole superset (never probabilistic), so the result is exact
    at every width; width only tunes how much the recount state
    shrinks."""
    from .operators.sketches import heavy_hitter_ngrams
    # r12: the single-row-group local fixture scans as ONE split, which
    # serialized both n-gram explode passes on one core (the round-7
    # single-split lesson, guide §2.5 input skew); at real scale the
    # scan arrives multi-split and _spread is a no-op
    docs = _spread(spark.table("documents"), spark)
    return heavy_hitter_ngrams(docs, n=3, min_count=5, width_exp=16)


_ORACLE_HEAVY_NGRAMS = r"""
WITH toks AS (
  SELECT list_transform(regexp_extract_all(text, '\S+'),
                        t -> lower(t)) AS ts
  FROM documents
), g AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(ts) - 2, 0)),
                i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) AS g
  FROM toks)
SELECT g AS ngram, COUNT(*) AS n_occurrences
FROM g GROUP BY g HAVING COUNT(*) >= 5
ORDER BY n_occurrences DESC, ngram
"""


def _q_c4_clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (operators/cleaning.py, round 9; Raffel
    et al. 2020 §2.2).  The fixture's documents are single-line and
    punctuation-free, so the entry exercises the rules that corpus can
    express: the >= N-words line rule (min 50 — the fixture spans
    10..99 words) and a line blocklist ('merge' stands in for
    'javascript'); terminal-punctuation and min-sentence rules are
    relaxed and pinned instead on constructed text in
    tests/test_cleaning.py.  Full value oracle: every rule is exact
    SQL."""
    from .operators.cleaning import c4_clean
    docs = spark.table("documents")
    return c4_clean(docs, min_words_per_line=50, min_sentences=0,
                    require_terminal_punct=False,
                    line_blocklist=("merge",))


_ORACLE_C4_CLEAN = r"""
WITH t AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines
  FROM documents
), k AS (
  SELECT doc_id, text, lines,
         list_filter(lines, l ->
           len(list_filter(string_split_regex(l, '\s+'), w -> w <> ''))
             >= 50
           AND NOT contains(lower(l), 'merge')) AS kept
  FROM t
), c AS (
  SELECT doc_id, text, lines, kept,
         coalesce(array_to_string(kept, chr(10)), '') AS clean_text
  FROM k
)
SELECT doc_id,
       len(lines) AS n_lines,
       len(kept) AS n_kept_lines,
       CAST(length(clean_text)
            - length(regexp_replace(clean_text, '[.!?]', '', 'g'))
            AS INT) AS n_sentences,
       (contains(lower(text), 'lorem ipsum')
        OR contains(lower(text), 'terms of use')
        OR contains(lower(text), 'privacy policy')
        OR contains(lower(text), 'cookie policy')
        OR contains(lower(text), 'uses cookies')
        OR contains(lower(text), 'use of cookies')) AS has_blocklist,
       contains(text, '{') AS has_brace,
       (len(kept) > 0
        AND length(clean_text)
            - length(regexp_replace(clean_text, '[.!?]', '', 'g')) >= 0
        AND NOT (contains(lower(text), 'lorem ipsum')
                 OR contains(lower(text), 'terms of use')
                 OR contains(lower(text), 'privacy policy')
                 OR contains(lower(text), 'cookie policy')
                 OR contains(lower(text), 'uses cookies')
                 OR contains(lower(text), 'use of cookies'))
        AND NOT contains(text, '{')) AS keep_doc,
       clean_text
FROM c
"""


def _q_gopher_gates_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText document-quality gates (operators/cleaning.py,
    round 9; Rae et al. 2021 table A1): named per-rule booleans + the
    gated metrics.  min_stopword_hits=1 because the fixture vocabulary
    contains exactly one Gopher stop word ('the'); everything else runs
    the published thresholds.  Full value oracle: each gate is exact
    SQL arithmetic."""
    from .operators.cleaning import gopher_gates
    docs = spark.table("documents")
    return gopher_gates(docs, min_stopword_hits=1)


_ORACLE_GOPHER_GATES = r"""
WITH w AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws,
         string_split(text, chr(10)) AS lines
  FROM documents
), m AS (
  SELECT doc_id, text, ws, lines,
         len(ws) AS n_words,
         round(coalesce(list_sum(list_transform(ws, x -> length(x))), 0) * 1.0
               / greatest(len(ws), 1), 4) AS mean_word_len,
         round((length(text) - length(replace(text, '#', ''))
                + floor((length(text)
                         - length(replace(text, '...', ''))) / 3)) * 1.0
               / greatest(len(ws), 1), 4) AS symbol_word_ratio,
         round(len(list_filter(lines,
                 l -> regexp_matches(l, '^\s*([-*•]|[0-9]+[.)])\s')))
               * 1.0 / greatest(len(lines), 1), 4) AS bullet_frac,
         round(len(list_filter(lines,
                 l -> regexp_matches(l, '\.\.\.\s*$')))
               * 1.0 / greatest(len(lines), 1), 4) AS ellipsis_frac,
         round(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
               * 1.0 / greatest(len(ws), 1), 4) AS alpha_word_frac,
         len(list_intersect(
             list_distinct(list_transform(ws, x -> lower(x))),
             ['the','be','to','of','and','that','have','with']))
           AS stopword_hits
  FROM w
)
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, bullet_frac,
       ellipsis_frac, alpha_word_frac, stopword_hits,
       (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
       (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
         AS ok_mean_word_len,
       symbol_word_ratio <= 0.1 AS ok_symbol_ratio,
       bullet_frac <= 0.9 AS ok_bullets,
       ellipsis_frac <= 0.3 AS ok_ellipsis,
       alpha_word_frac >= 0.8 AS ok_alpha_words,
       stopword_hits >= 1 AS ok_stopwords,
       ((n_words >= 50 AND n_words <= 100000)
        AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        AND symbol_word_ratio <= 0.1 AND bullet_frac <= 0.9
        AND ellipsis_frac <= 0.3 AND alpha_word_frac >= 0.8
        AND stopword_hits >= 1) AS keep_doc
FROM m
"""


def _q_delta_bridge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both Delta bridges end to end (round 11): a hive-partitioned
    orders snapshot goes through ``VersionedTable.write`` ->
    ``export_delta_log`` (the snapshot becomes a public-protocol Delta
    table in place) -> ``sources.delta_reader.read_delta`` (log-replay
    read with NO Delta runtime), then aggregates per status.  A hash
    match proves the exported add actions reference exactly the right
    files, the partition directories recover through ``basePath``, and
    the replayed schema casts line up — the Delta interop surface the
    reference's runtime provides natively (`Legend.scala:163-186`),
    exercised standalone.  Full value oracle: the same aggregation
    straight over orders in DuckDB."""
    import tempfile
    from .sources.delta_reader import read_delta
    from .sources.versioned import VersionedTable
    o = spark.table("orders").select("o_orderkey", "o_totalprice",
                                     "o_orderstatus")
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="legend_dlt_")
                       + "/orders")
    t.write(o, partition_by=["o_orderstatus"])
    d = read_delta(spark, t.export_delta_log())
    return (d.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
                 F.min("o_orderkey").alias("min_key"),
                 F.max("o_orderkey").alias("max_key"))
            .orderBy("o_orderstatus"))


_ORACLE_DELTA_BRIDGE = """
SELECT o_orderstatus,
       COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS sum_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def _q_delta_time_travel_orders(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The multi-commit Delta bridge end to end (round 12): a
    versioned twin accrues three versions — a full write, a streaming
    SEGMENT append (O(batch) add-commit), and a hive-partitioned
    overwrite (schema + partition change) — then
    ``VersionedTable.export_delta_history`` writes one public-protocol
    Delta commit per version at the table root and
    ``sources.delta_reader.read_delta`` time-travels every version
    with NO Delta runtime (``VERSION AS OF`` via log replay).  The
    partitioned version also exercises the log-driven partition
    recovery path (the ``v=N`` layout is not plain hive, so
    ``partitionValues`` from the log are authoritative —
    ``delta_reader.py``'s grouped literal scan).  This is the
    reference's Delta time-travel surface (`Legend.scala:163-186`,
    the notebooks' VERSION AS OF cells) over the exported twin.  Full
    value oracle: each version's content restated as set algebra over
    orders in DuckDB."""
    import tempfile
    from .sources.delta_reader import read_delta
    from .sources.versioned import VersionedTable
    o = spark.table("orders").select("o_orderkey", "o_orderstatus",
                                     "o_totalprice")
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="legend_dtt_")
                       + "/orders")
    t.write(o.where(F.col("o_orderkey") % 3 == 0))
    t.append(o.where(F.col("o_orderkey") % 3 == 1))
    t.write(o.where(F.col("o_orderkey") % 5 == 0),
            operation="OVERWRITE", partition_by=["o_orderstatus"])
    root = t.export_delta_history()
    outs = []
    for k in (0, 1, 2):
        d = read_delta(spark, root, version=k)
        outs.append(
            d.agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
                  F.min("o_orderkey").alias("min_key"),
                  F.max("o_orderkey").alias("max_key"),
                  F.countDistinct("o_orderstatus").alias("n_status"))
            .withColumn("version", F.lit(k)))
    out = outs[0]
    for part in outs[1:]:
        out = out.unionByName(part)
    return out.select("version", "n", "sum_price", "min_key",
                      "max_key", "n_status").orderBy("version")


_ORACLE_DELTA_TIME_TRAVEL = """
WITH v0 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
     v1 AS (SELECT * FROM orders WHERE o_orderkey % 3 IN (0, 1)),
     v2 AS (SELECT * FROM orders WHERE o_orderkey % 5 = 0)
SELECT 0 AS version, COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS sum_price,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
       COUNT(DISTINCT o_orderstatus) AS n_status
FROM v0
UNION ALL
SELECT 1, COUNT(*), ROUND(SUM(o_totalprice), 2),
       MIN(o_orderkey), MAX(o_orderkey),
       COUNT(DISTINCT o_orderstatus)
FROM v1
UNION ALL
SELECT 2, COUNT(*), ROUND(SUM(o_totalprice), 2),
       MIN(o_orderkey), MAX(o_orderkey),
       COUNT(DISTINCT o_orderstatus)
FROM v2
ORDER BY version
"""


def _q_table_changes_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed analog over VersionedTable (sources/versioned
    .py:table_changes, round 9): two deterministic snapshots derived
    from orders (v0 = keys not divisible by 5; v1 = keys not divisible
    by 7, with status rewritten to 'X' on keys divisible by 3), then
    the full CDF between them — every row carries ``_change_type`` in
    insert/delete/update_preimage/update_postimage plus
    ``_commit_version``, exactly Delta CDF's contract
    (the reference's tables are Delta, `Legend.scala:163-186`; this is
    the incremental-consumer surface standalone).  Full value oracle:
    the same set algebra in DuckDB."""
    import tempfile
    from .sources.versioned import VersionedTable, table_changes
    o = spark.table("orders")
    v0 = (o.where(F.col("o_orderkey") % 5 != 0)
          .select("o_orderkey", "o_orderstatus", "o_totalprice"))
    v1 = (o.where(F.col("o_orderkey") % 7 != 0)
          .select("o_orderkey",
                  F.when(F.col("o_orderkey") % 3 == 0, F.lit("X"))
                  .otherwise(F.col("o_orderstatus"))
                  .alias("o_orderstatus"),
                  "o_totalprice"))
    t = VersionedTable(spark, tempfile.mkdtemp(prefix="legend_cdf_")
                       + "/orders")
    t.write(v0)
    t.write(v1)
    return table_changes(t, 0, 1, keys=["o_orderkey"])


_ORACLE_TABLE_CHANGES = """
WITH v0 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey % 5 <> 0
), v1 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         o_totalprice
  FROM orders WHERE o_orderkey % 7 <> 0
), chg AS (
  SELECT v0.o_orderkey FROM v0 JOIN v1 USING (o_orderkey)
  WHERE v0.o_orderstatus <> v1.o_orderstatus
     OR v0.o_totalprice <> v1.o_totalprice
)
SELECT v1.o_orderkey, v1.o_orderstatus, v1.o_totalprice,
       'insert' AS _change_type, 1 AS _commit_version
FROM v1 ANTI JOIN v0 USING (o_orderkey)
UNION ALL
SELECT v0.o_orderkey, v0.o_orderstatus, v0.o_totalprice,
       'delete', 1
FROM v0 ANTI JOIN v1 USING (o_orderkey)
UNION ALL
SELECT v0.o_orderkey, v0.o_orderstatus, v0.o_totalprice,
       'update_preimage', 1
FROM v0 JOIN chg USING (o_orderkey)
UNION ALL
SELECT v1.o_orderkey, v1.o_orderstatus, v1.o_totalprice,
       'update_postimage', 1
FROM v1 JOIN chg USING (o_orderkey)
"""


def _q_stream_table_appends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming table sink (sources/versioned.py
    :meth:`append_batch`, round 9 — the ``writeStream.format("delta")``
    analog): documents split into 4 source files, streamed one file
    per trigger through ``foreachBatch`` into a VersionedTable (each
    micro-batch lands as an O(batch) SEGMENT version), then batch 0 is
    maliciously re-delivered after the query finishes — the replay is
    a committed no-op, so the final table equals the corpus exactly.
    Full value oracle: per-source counts/chars over documents; the
    segment/vacuum/compact mechanics are pinned in
    tests/test_versioned.py."""
    import tempfile
    from .sources.versioned import VersionedTable
    tmp = tempfile.mkdtemp(prefix="legend_vt_stream_")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    docs = spark.table("documents").select("doc_id", "source", "text")
    docs.repartition(4, "doc_id").write.mode("overwrite").parquet(src)
    vt = VersionedTable(spark, f"{tmp}/tbl")
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream
         .foreachBatch(lambda bdf, bid: vt.append_batch(bdf, bid))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    # at-least-once redelivery: replaying an already-committed batch id
    # must change nothing
    assert vt.append_batch(docs.limit(5), 0) is None
    return (vt.read().groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.length("text")).alias("sum_chars")))


_ORACLE_STREAM_TABLE_APPENDS = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS sum_chars
FROM documents GROUP BY source
"""


def _q_zorder_roundtrip_lineitem(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Z-order layout rewrite round-trip (operators/layout.py, round 9):
    cluster lineitem on (l_partkey, l_suppkey) — the Delta ``OPTIMIZE
    ZORDER BY`` analog (the reference hands tables to Delta,
    `Legend.scala:163-186`; this is the layout half standalone) — write
    the clustered copy, read it back, and aggregate integer checksums
    per returnflag/linestatus group.  The oracle aggregates the ORIGINAL
    table: hash-match proves the one-shuffle rewrite preserved the row
    multiset exactly.  Scale: one repartitionByRange on the interleaved
    key + footer-only stats; no UDF, no driver data."""
    import tempfile
    from .operators.layout import cluster_by_zorder
    li = spark.table("lineitem")
    tmp = tempfile.mkdtemp(prefix="legend_zorder_") + "/z"
    cluster_by_zorder(li, ["l_partkey", "l_suppkey"], target_files=8,
                      bits=6).write.parquet(tmp)
    back = spark.read.parquet(tmp)
    return (back.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("l_orderkey").alias("sum_orderkey"),
                 F.sum("l_partkey").alias("sum_partkey"),
                 F.sum("l_suppkey").alias("sum_suppkey")))


_ORACLE_ZORDER_ROUNDTRIP = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       CAST(SUM(l_orderkey) AS BIGINT) AS sum_orderkey,
       CAST(SUM(l_partkey) AS BIGINT) AS sum_partkey,
       CAST(SUM(l_suppkey) AS BIGINT) AS sum_suppkey
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def _q_zorder_skipping_stats(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """File-level skipping effectiveness of the Z-ordered layout
    (operators/layout.py, round 9): cluster lineitem on two columns,
    gather per-file min/max from parquet FOOTERS (distributed pyarrow
    footer reads — no data pages), and report, for a narrow range
    predicate on EACH clustered column, how many of the 8 files a
    reader can prove it never needs to open.  Rows-only by nature: the
    metric describes the physical file layout, which no SQL over the
    logical table can express; the pruning-completeness and
    stats-equal-recomputed-truth invariants are pinned in
    tests/test_layout.py."""
    import tempfile
    from .operators.layout import (cluster_by_zorder, file_skipping_stats,
                                   skipping_effectiveness)
    li = spark.table("lineitem")
    tmp = tempfile.mkdtemp(prefix="legend_zskip_") + "/z"
    cluster_by_zorder(li, ["l_partkey", "l_suppkey"], target_files=8,
                      bits=6).write.parquet(tmp)
    stats = file_skipping_stats(
        spark, tmp, ["l_partkey", "l_suppkey"]).cache()
    eff_p = skipping_effectiveness(stats, "l_partkey", 10, 30)
    eff_s = skipping_effectiveness(stats, "l_suppkey", 2, 3)
    return eff_p.unionByName(eff_s)


def _q_media_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract surface for the multimodal decode subsystem
    (operators/multimodal.py + operators/mediagen.py, round 10): a
    deterministic seed -> pixels/samples -> encode -> DISTRIBUTED
    decode round-trip, aggregated per format.  48 synthetic payloads
    (8 each of bmp/png/ppm/gif/wav/webp, every byte a pure integer
    formula of the media_id) flow through probe_media + decode_images +
    audio_features over real multi-partition Arrow batches.  FULLY
    value-oracled since round 11: the pixel/sample formulas are pure
    integer arithmetic, so ``_ORACLE_MEDIA_DECODE`` re-derives every
    aggregate in DuckDB from generate_series — a hash match proves the
    encode->decode round-trip reproduced the formula exactly.
    *sf_dir* is unused — the media table is synthesized in-query
    (metadata-sized)."""
    from .operators.mediagen import synth_media_table
    from .operators.multimodal import (audio_features, decode_images,
                                       probe_media)
    media = synth_media_table(spark, per_format=8)
    probe = (probe_media(media)
             .select("media_id", F.col("kind").alias("probe_kind"),
                     F.col("format").alias("probe_format"),
                     F.col("decode_error").alias("probe_error")))
    img_level = decode_images(media.where(F.col("fmt") != "wav")).select(
        "media_id", "width", "height",
        F.round(F.aggregate("channel_means", F.lit(0.0),
                            lambda acc, x: acc + x)
                / F.col("channels"), 3).alias("level"),
        "decode_error")
    aud_level = audio_features(media.where(F.col("fmt") == "wav")).select(
        "media_id", F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.round("rms", 3).alias("level"), "decode_error")
    decoded = img_level.unionByName(aud_level)
    joined = (media.select("media_id", "fmt")
              .join(probe, "media_id").join(decoded, "media_id"))
    return (joined.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("probe_error").isNotNull().cast("long"))
        .alias("n_probe_err"),
        F.sum(F.col("decode_error").isNotNull().cast("long"))
        .alias("n_decode_err"),
        F.max("probe_kind").alias("probe_kind"),
        F.countDistinct("probe_format").alias("n_probe_formats"),
        F.max("width").alias("width"),
        F.max("height").alias("height"),
        F.round(F.avg("level"), 3).alias("avg_level"))
        .orderBy("fmt"))


def _q_media_frames_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract surface for the VIDEO decode path (round 10):
    deterministic animated-GIF and Y4M payloads
    (operators/mediagen.py) flow through sample_video_frames
    (composited GIF timeline / y4m frame walk) and probe_media,
    aggregated per format.  FULLY value-oracled since round 11:
    ``_ORACLE_MEDIA_FRAMES`` re-derives frame counts, sampled
    timestamps and distinct-frame counts from the generator's
    documented timing constants (frame-exact pixel round-trips stay
    pinned in tests/test_mediagen.py).  *sf_dir* unused — the table is
    synthesized in-query (12 payloads, metadata-sized)."""
    from .operators.mediagen import synth_video_table
    from .operators.multimodal import probe_media, sample_video_frames
    media = synth_video_table(spark, per_format=4)
    frames = sample_video_frames(media, every_ms=100)
    probe = probe_media(media).select(
        "media_id", F.col("n_frames").alias("probe_frames"),
        F.col("duration_ms").alias("probe_ms"))
    j = (media.select("media_id", "fmt")
         .join(frames, "media_id").join(probe, "media_id"))
    return (j.groupBy("fmt").agg(
        F.countDistinct("media_id").alias("n_media"),
        F.count(F.lit(1)).alias("n_sampled_frames"),
        F.sum(F.col("decode_error").isNotNull().cast("long"))
        .alias("n_err"),
        F.round(F.max("ts_ms"), 1).alias("max_ts_ms"),
        F.countDistinct(F.md5(F.col("frame_payload")))
        .alias("n_distinct_frames"),
        F.max("probe_frames").alias("probe_frames"),
        F.round(F.max("probe_ms"), 1).alias("probe_ms"))
        .orderBy("fmt"))


def _q_hevc_frames_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract surface for the HEVC decode path (round 12): real hev1
    MP4s encoded with the system libx265 (LOSSLESS, chroma flat 128,
    genuine P frames — NOT all-intra) flow through
    ``sample_video_frames``'s full-track libde265 pass
    (operators/hevccodec.py: reference-state decode, display-order
    drain) and ``image_pixel_stats``'s exact integer sums.  FULLY
    value-oracled: lossless encode makes decoded luma EQUAL to the
    generator's documented formula ``(17r+31c+53f+7m) % 256``, and the
    BT.601 limited-range convert collapses to
    ``clip((298*(y-16)+128)>>8)`` per pixel under flat chroma —
    ``_ORACLE_HEVC_FRAMES`` re-derives every px_sum/min/max from first
    principles in DuckDB.  *sf_dir* unused — the table is synthesized
    in-query (3 MP4s, metadata-sized)."""
    from .operators.mediagen import synth_hevc_video_table
    from .operators.multimodal import (image_pixel_stats,
                                       sample_video_frames)
    media = synth_hevc_video_table(spark, n_media=3, n_frames=4)
    frames = sample_video_frames(media, every_ms=100)
    fid = frames.select(
        (F.col("media_id") * 100 + F.col("frame_idx")).alias("media_id"),
        F.col("frame_payload").alias("payload"))
    st = image_pixel_stats(fid)
    return (st.select(
        F.floor(F.col("media_id") / 100).cast("long").alias("media_id"),
        (F.col("media_id") % 100).cast("int").alias("frame_idx"),
        ((F.col("media_id") % 100) * 100.0).cast("double")
        .alias("ts_ms"),
        "width", "height", "channels", "px_sum", "px_min", "px_max",
        F.col("decode_error").isNull().alias("decoded_ok"))
        .orderBy("media_id", "frame_idx"))


_ORACLE_HEVC_FRAMES = """
WITH px AS (
  SELECT m.m AS media_id, f.f AS frame_idx,
         LEAST(GREATEST(CAST(FLOOR(
           (298 * (((17*r.r + 31*c.c + 53*f.f + 7*m.m) % 256) - 16)
            + 128) / 256.0) AS INTEGER), 0), 255) AS v
  FROM generate_series(0, 2) m(m), generate_series(0, 3) f(f),
       generate_series(0, 23) r(r), generate_series(0, 31) c(c)
)
SELECT CAST(media_id AS BIGINT) AS media_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(frame_idx * 100.0 AS DOUBLE) AS ts_ms,
       CAST(32 AS INTEGER) AS width,
       CAST(24 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS channels,
       CAST(SUM(v) AS BIGINT) AS px_sum,
       CAST(MIN(v) AS INTEGER) AS px_min,
       CAST(MAX(v) AS INTEGER) AS px_max,
       TRUE AS decoded_ok
FROM px
GROUP BY media_id, frame_idx
ORDER BY media_id, frame_idx
"""


# Media oracles (round 11): synth_pixels/synth_samples are pure integer
# formulas (operators/mediagen.py), so DuckDB re-derives the decode
# aggregates from generate_series over (seed, y, x, channel) — the
# payload bytes never enter the comparison; the SPARK side must decode
# them back to exactly these values for the hash to match.  Constants
# mirror synth_media_table's defaults: per_format=8, 16x12 RGB,
# media_ids 0-39 in (bmp, png, ppm, gif, wav) blocks, GIF quantized to
# (px & 0xE0) | 0x10, WAV = 4000 frames of
# ((seed*131 + i*17) % 4096) - 2048.
_ORACLE_MEDIA_DECODE = """
WITH media AS (
  SELECT t.mid AS mid,
         CASE WHEN t.mid < 8 THEN 'bmp' WHEN t.mid < 16 THEN 'png'
              WHEN t.mid < 24 THEN 'ppm' WHEN t.mid < 32 THEN 'gif'
              WHEN t.mid < 40 THEN 'wav' ELSE 'webp' END AS fmt
  FROM generate_series(0, 47) t(mid)
),
img AS (
  SELECT m.mid AS mid, m.fmt AS fmt,
         ROUND(AVG(CASE WHEN m.fmt = 'gif'
             THEN CAST((((m.mid*31 + y.y*7 + x.x*3 + c.c*11) % 256)
                        & 224) | 16 AS DOUBLE)
             ELSE CAST((m.mid*31 + y.y*7 + x.x*3 + c.c*11) % 256
                       AS DOUBLE) END), 3) AS level
  FROM media m, generate_series(0, 11) y(y), generate_series(0, 15) x(x),
       generate_series(0, 2) c(c)
  WHERE m.fmt <> 'wav'
  GROUP BY m.mid, m.fmt
),
aud AS (
  SELECT m.mid AS mid, m.fmt AS fmt,
         ROUND(SQRT(AVG(POW(CAST(((m.mid*131 + i.i*17) % 4096) - 2048
                                 AS DOUBLE), 2))), 3) AS level
  FROM media m, generate_series(0, 3999) i(i)
  WHERE m.fmt = 'wav'
  GROUP BY m.mid, m.fmt
),
lvl AS (SELECT * FROM img UNION ALL SELECT * FROM aud)
SELECT fmt,
       COUNT(*) AS n,
       CAST(0 AS BIGINT) AS n_probe_err,
       CAST(0 AS BIGINT) AS n_decode_err,
       CASE WHEN fmt = 'wav' THEN 'audio' ELSE 'image' END AS probe_kind,
       CAST(1 AS BIGINT) AS n_probe_formats,
       CASE WHEN fmt = 'wav' THEN NULL ELSE 16 END AS width,
       CASE WHEN fmt = 'wav' THEN NULL ELSE 12 END AS height,
       CAST(ROUND(AVG(level), 3) AS DOUBLE) AS avg_level
FROM lvl GROUP BY fmt ORDER BY fmt
"""

# media_frames_stats re-derived from the generator's documented timing
# (synth_video_rows: 4 media each of animated GIF at 10 cs/frame,
# Y4M at 25 fps and animated WebP at 100 ms/frame, 3 frames each; sample_video_frames at every_ms=100
# emits the containing frame's start timestamp).  Every (media, frame)
# pair uses a distinct pixel seed (mid*101 + f), so sampled frames are
# all distinct.
_ORACLE_MEDIA_FRAMES = """
WITH params AS (
  SELECT 'gif_anim' AS fmt, 4 AS n_media, 3 AS n_frames,
         100.0 AS frame_ms
  UNION ALL SELECT 'y4m', 4, 3, 40.0
  UNION ALL SELECT 'webp_anim', 4, 3, 100.0
),
samples AS (
  SELECT p.fmt AS fmt, p.n_media AS n_media, p.n_frames AS n_frames,
         p.frame_ms AS frame_ms,
         FLOOR(t.t * 100.0 / p.frame_ms) * p.frame_ms AS ts_ms
  FROM params p, generate_series(0, 99) t(t)
  WHERE t.t * 100.0 < p.n_frames * p.frame_ms
)
SELECT fmt,
       CAST(MAX(n_media) AS BIGINT) AS n_media,
       CAST(MAX(n_media) * COUNT(*) AS BIGINT) AS n_sampled_frames,
       CAST(0 AS BIGINT) AS n_err,
       CAST(ROUND(MAX(ts_ms), 1) AS DOUBLE) AS max_ts_ms,
       CAST(MAX(n_media) * COUNT(*) AS BIGINT) AS n_distinct_frames,
       CAST(MAX(n_frames) AS INTEGER) AS probe_frames,
       CAST(ROUND(MAX(n_frames) * MAX(frame_ms), 1) AS DOUBLE)
           AS probe_ms
FROM samples GROUP BY fmt ORDER BY fmt
"""


# ---------------------------------------------------------------------------
# The contract registry: every entry declared once
# ---------------------------------------------------------------------------

Builder = Callable[[SparkSession, str], DataFrame]


class Entry(NamedTuple):
    """One contract query.

    *build* is a ``(spark, sf_dir) -> DataFrame`` builder, or the Spark
    SQL text of an entry that is one statement over the views.  An entry
    has either an *oracle* (DuckDB SQL whose rows must equal the entry's)
    or a *rows_only* reason why no SQL can reproduce it.  *eager* marks
    builders that run Spark jobs while the query is built (store writes,
    model training, streams, iterative label propagation, eager
    checkpoints), so the plan they return is not a lazy plan of the
    query.
    """

    name: str
    build: Builder | str
    oracle: str | None = None
    rows_only: str | None = None
    eager: bool = False


# Row order breaks ties in ``__spark_entry__._rotation_order``, which
# decides which entries the driver samples first.
REGISTRY: tuple[Entry, ...] = (
    Entry("unigram_vocab", _q_unigram_vocab, eager=True,
          rows_only="Unigram-LM (SentencePiece) training: the EM fixed "
                    "point over segmentation lattices is iterative, not "
                    "one-query SQL; EM math pinned vs a pure-python "
                    "reference in tests."),
    Entry("unigram_token_stats", _q_unigram_token_stats, eager=True,
          rows_only="Same EM rationale; Viterbi encode counts under the "
                    "trained model."),
    Entry("eval_ngram_docs", _q_eval_ngram_docs,
          _ORACLE_EVAL_NGRAM, eager=True),
    Entry("wordpiece_token_stats", _q_wordpiece_token_stats,
          _ORACLE_WORDPIECE, eager=True),
    Entry("minhash_pairs", _q_minhash_pairs, _minhash_oracle()),
    Entry("simhash_pairs", _q_simhash_pairs, _simhash_oracle(), eager=True),
    Entry("embedding_dedup_pairs", _q_embedding_dedup,
          _embedding_dedup_oracle()),
    Entry("setop_customers", _SETOP_SQL, _SETOP_SQL),
    Entry("exact_span_docs", _q_exact_span_docs,
          _ORACLE_DUP_SPANS, eager=True),
    Entry("longest_dup_span_docs", _q_longest_dup_span_docs,
          _ORACLE_LONGEST_DUP, eager=True),
    Entry("exact_span_keep_first", _q_exact_span_keep_first,
          _ORACLE_KEEP_FIRST_SPANS, eager=True),
    Entry("top_dup_windows", _q_top_dup_windows,
          _ORACLE_TOP_DUP_WINDOWS, eager=True),
    Entry("max_dup_spans", _q_max_dup_spans,
          _ORACLE_MAX_DUP_SPANS, eager=True),
    Entry("quality_by_source", _q_quality_by_source, _ORACLE_QUALITY),
    Entry("token_counts_by_source", _q_token_counts, _ORACLE_TOKEN_COUNTS),
    Entry("shingle_stats", _q_shingle_stats, _ORACLE_SHINGLES),
    Entry("ngram_jaccard_dups", _q_ngram_jaccard, _ORACLE_NGRAM_JACCARD),
    Entry("near_dup_clusters", _q_near_dup_clusters,
          _ORACLE_NEAR_DUP_CLUSTERS, eager=True),
    Entry("events_json_stats", _EVENTS_JSON_SPARK, _EVENTS_JSON_ORACLE),
    Entry("events_variant_stats", _EVENTS_VARIANT_SPARK,
          _EVENTS_VARIANT_ORACLE),
    Entry("ann_cosine_topk", _q_ann_cosine_topk, _ORACLE_ANN),
    Entry("embedding_dims_stats", _EMB_DIMS_SPARK, _EMB_DIMS_ORACLE),
    Entry("curate_corpus_docs", _q_curate_corpus, _ORACLE_CURATE, eager=True),
    Entry("curation_provenance", _q_curation_provenance,
          _ORACLE_PROVENANCE, eager=True),
    Entry("lang_id_confusion", _q_lang_id_confusion, _ORACLE_LANG_ID),
    Entry("vocab_top_tokens", _q_vocab_top_tokens, _ORACLE_VOCAB),
    Entry("bigram_collocations", _q_bigram_collocations, _ORACLE_COLLOCATIONS),
    Entry("corpus_report", _q_corpus_report, _ORACLE_CORPUS_REPORT),
    Entry("event_funnel", _FUNNEL_SQL, _FUNNEL_ORACLE),
    Entry("cohort_retention", _RETENTION_SQL, _RETENTION_ORACLE),
    Entry("source_keywords", _q_source_keywords, _ORACLE_KEYWORDS),
    Entry("pii_stats_by_source", _q_pii_stats, _ORACLE_PII),
    Entry("stream_stream_join", _q_stream_stream_join,
          _ORACLE_SS_JOIN, eager=True),
    # verified_* = LSH-proposed candidates + exact verification; recall is
    # 1.0 at the driver's sf0.01 with the pinned seed, so the exact
    # operators' oracles apply verbatim (subset+equality pinned in tests).
    Entry("verified_near_dup_pairs", _q_verified_near_dup,
          _ORACLE_NGRAM_JACCARD),
    Entry("verified_near_dup_clusters", _q_verified_near_dup_clusters,
          _ORACLE_NEAR_DUP_CLUSTERS, eager=True),
    Entry("decontamination_pairs", _q_decontamination_pairs,
          _ORACLE_DECONTAMINATION),
    Entry("contamination_report", _q_contamination_report,
          _ORACLE_CONTAMINATION_REPORT),
    Entry("decontamination_stream", _q_decontamination_stream,
          _ORACLE_DECONTAMINATION_STREAM, eager=True),
    Entry("repetition_flags", _q_repetition_flags, _ORACLE_REPETITION),
    Entry("mixture_plan", _q_mixture_plan, _ORACLE_MIXTURE_PLAN),
    Entry("pack_plan_docs", _q_pack_plan_docs, _ORACLE_PACK_PLAN),
    Entry("stratified_docs_sample", _q_stratified_docs_sample,
          _ORACLE_STRATIFIED),
    Entry("doc_surprisal", _q_doc_surprisal, _ORACLE_DOC_SURPRISAL),
    Entry("source_drift", _q_source_drift, _ORACLE_SOURCE_DRIFT),
    Entry("boilerplate_docs", _q_boilerplate_docs, _ORACLE_BOILERPLATE),
    Entry("chunked_docs", _q_chunked_docs, _ORACLE_CHUNKED_DOCS),
    Entry("best_per_source", _q_best_per_source, _ORACLE_BEST_PER_SOURCE),
    Entry("near_dup_best_reps", _q_near_dup_best_reps,
          _ORACLE_NEAR_DUP_BEST_REPS, eager=True),
    Entry("token_budget_mixture", _q_token_budget_mixture,
          _ORACLE_TOKEN_BUDGET_MIXTURE),
    Entry("surprisal_stream", _q_surprisal_stream,
          _ORACLE_DOC_SURPRISAL, eager=True),
    Entry("dup_span_docs", _q_dup_span_docs, _ORACLE_DUP_SPANS),
    Entry("dsir_doc_weights", _q_dsir_doc_weights, _ORACLE_DSIR),
    Entry("leakage_splits", _q_leakage_splits,
          _ORACLE_LEAKAGE_SPLITS, eager=True),
    Entry("shuffle_shards_plan", _q_shuffle_shards, _ORACLE_SHUFFLE_SHARDS),
    Entry("bigram_surprisal_docs", _q_bigram_surprisal,
          _ORACLE_BIGRAM_SURPRISAL),
    Entry("embedding_drift_stats", _q_embedding_drift,
          _ORACLE_EMBEDDING_DRIFT),
    Entry("incremental_span_docs", _q_incremental_span_docs,
          _ORACLE_INCREMENTAL_SPANS, eager=True),
    Entry("span_dedup_stream", _q_span_dedup_stream,
          _ORACLE_DUP_SPANS, eager=True),
    Entry("dsir_selected_docs", _q_dsir_selected_docs, _ORACLE_DSIR_SELECT),
    Entry("sample_quantile_stats", _q_sample_quantiles,
          _ORACLE_SAMPLE_QUANTILES),
    Entry("robust_quality_docs", _q_robust_quality, _ORACLE_ROBUST_QUALITY),
    Entry("lm_surprisal_docs", _q_lm_surprisal, _ORACLE_LM_SURPRISAL),
    Entry("bm25_topk_docs", _q_bm25_topk, _ORACLE_BM25),
    Entry("nb_lang_confusion", _q_nb_lang_confusion, _ORACLE_NB_CONFUSION),
    Entry("cms_token_freq", _q_cms_token_freq, _ORACLE_CMS),
    Entry("pagerank_near_dups", _q_pagerank_near_dups,
          _ORACLE_PAGERANK, eager=True),
    Entry("bm25_index_topk", _q_bm25_index_topk, _ORACLE_BM25, eager=True),
    Entry("nb_stream_preds", _q_nb_stream_preds,
          _ORACLE_NB_STREAM, eager=True),
    Entry("containment_dup_pairs", _q_containment_pairs, _ORACLE_CONTAINMENT),
    Entry("weighted_docs_sample", _q_weighted_docs_sample,
          _ORACLE_WEIGHTED_SAMPLE),
    Entry("session_paths", _SESSION_PATHS_SPARK, _SESSION_PATHS_ORACLE),
    Entry("events_psi_drift", _q_events_psi_drift, _ORACLE_PSI),
    Entry("corpus_diff_stats", _q_corpus_diff, _ORACLE_CORPUS_DIFF),
    Entry("doc_char_entropy", _q_doc_char_entropy, _ORACLE_CHAR_ENTROPY),
    Entry("event_key_skew", _q_event_key_skew, _ORACLE_KEY_SKEW),
    Entry("vocab_edit_pairs", _q_vocab_edit_pairs, _ORACLE_EDIT_PAIRS),
    Entry("hard_negative_mining", _q_hard_negatives, _ORACLE_HARD_NEG),
    Entry("events_psi_stream", _q_events_psi_stream, _ORACLE_PSI, eager=True),
    Entry("quality_pct_rank", _q_quality_pct_rank, _ORACLE_QUALITY_PCT),
    Entry("knn_graph_edges", _q_knn_graph_edges, _ORACLE_KNN),
    Entry("events_agg_store_stats", _q_events_agg_store, _ORACLE_AGG_STORE),
    Entry("events_resampled", _q_events_resampled, _ORACLE_RESAMPLE),
    Entry("lang_source_chi2", _q_lang_source_chi2, _ORACLE_CHI2),
    Entry("incremental_components", _q_incremental_components,
          _ORACLE_NEAR_DUP_CLUSTERS, eager=True),
    Entry("events_ks_drift", _q_events_ks_drift, _ORACLE_KS),
    Entry("rolling_median_events", _ROLLING_MEDIAN_SPARK,
          _ROLLING_MEDIAN_ORACLE),
    Entry("quality_quartiles", _q_quality_quartiles,
          _ORACLE_QUALITY_QUARTILES),
    Entry("bpe_merge_table", _q_bpe_merge_table, eager=True,
          rows_only="BPE training: the greedy left-to-right merge fold is "
                    "iterative (one round per merge), not one-query SQL; "
                    "merge table pinned EXACTLY against an independent "
                    "pure-python BPE in tests/test_tokenize.py."),
    Entry("bpe_token_stats", _q_bpe_token_stats, eager=True,
          rows_only="Same fold: per-word segmentations come from the "
                    "iterative merge rounds; end-to-end goldens in "
                    "tests/test_tokenize.py."),
    Entry("lsh_index_topk", _q_lsh_index_topk, eager=True,
          rows_only="Same as lsh_ann_topk, served from the persisted "
                    "signature-partitioned index."),
    Entry("ivf_index_topk", _q_ivf_index_topk, eager=True,
          rows_only="IVF probes n_probe k-means cells; k-means assignment "
                    "is iterative and seed-dependent."),
    Entry("pq_ann_topk", _q_pq_ann_topk, eager=True,
          rows_only="Product-quantization ADC + exact re-rank: the "
                    "shortlist depends on k-means codebooks (iterative, "
                    "data-order-seeded); refined recall floors pinned in "
                    "tests/test_curation.py."),
    Entry("semdedup_pairs", _q_semdedup_pairs, eager=True,
          rows_only="SemDeDup within-cell cosine pairs: the candidate "
                    "universe depends on iterative k-means cell assignment; "
                    "subset-of-brute-force pinned in tests/test_semdedup.py."),
    Entry("semantic_contamination_pairs", _q_semantic_contamination,
          eager=True,
          rows_only="Cross-corpus within-cell cosine screen: k-means cells "
                    "again; planted-leak recall and subset-of-brute-force "
                    "pinned in tests/test_semdedup.py."),
    Entry("lsh_ann_topk", _q_lsh_ann,
          rows_only="Approximate NN: result is top-k over LSH-probed "
                    "buckets, deliberately a (recall-pinned) subset of the "
                    "exact scan."),
    Entry("pair_store_pagerank", _q_pair_store_pagerank,
          _ORACLE_PAGERANK, eager=True),
    Entry("intra_dup_span_docs", _q_intra_dup_span_docs,
          _ORACLE_INTRA_DUP_SPANS),
    Entry("session_window_events", _q_session_window_events,
          _SESSION_WINDOW_ORACLE),
    Entry("events_sliding_window", _q_events_sliding_window,
          _SLIDING_WINDOW_ORACLE),
    Entry("ngram_diversity_by_source", _q_ngram_diversity_by_source,
          _ORACLE_NGRAM_DIVERSITY),
    Entry("zipf_slope_by_source", _q_zipf_slope_by_source, _ORACLE_ZIPF_SLOPE),
    Entry("kn_surprisal_docs", _q_kn_surprisal_docs, _ORACLE_KN_SURPRISAL),
    Entry("cdc_chunk_docs", _q_cdc_chunk_docs, _ORACLE_CDC_CHUNKS),
    Entry("dup_rate_by_source", _q_dup_rate_by_source, _ORACLE_DUP_RATE),
    Entry("stupid_backoff_docs", _q_stupid_backoff_docs,
          _ORACLE_STUPID_BACKOFF),
    Entry("cluster_size_histogram", _q_cluster_size_histogram,
          _ORACLE_CLUSTER_SIZES),
    Entry("k_anonymity_docs", _q_k_anonymity_docs, _ORACLE_K_ANON),
    Entry("benford_orders", _q_benford_orders, _ORACLE_BENFORD),
    Entry("reconcile_orders", _q_reconcile_orders, _ORACLE_RECONCILE),
    Entry("scd2_user_status", _q_scd2_user_status, _ORACLE_SCD2),
    Entry("gini_order_values", _q_gini_order_values, _ORACLE_GINI),
    Entry("legend_mapping_orders", _q_legend_mapping_orders,
          _ORACLE_MAPPING_ORDERS),
    Entry("legend_service_part_stats", _q_legend_service_part_stats,
          _ORACLE_PART_STATS),
    Entry("legend_service_orders_by_year", _q_legend_service_orders_by_year,
          _ORACLE_ORDERS_BY_YEAR),
    Entry("legend_service_orders_97_low", _q_legend_service_orders_97_low,
          _ORACLE_ORDERS_97_LOW),
    Entry("legend_service_urgent_orders", _q_legend_service_urgent_orders,
          _ORACLE_URGENT_ORDERS),
    Entry("legend_dq_lineitem", _q_legend_dq_lineitem, _ORACLE_DQ_LINEITEM),
    Entry("q1_pricing_summary", _Q1_SQL, _Q1_SQL),
    Entry("asof_views_purchases", _q_asof_views_purchases, _ORACLE_ASOF),
    Entry("asof_forward_views", _q_asof_forward, _ORACLE_ASOF_FORWARD),
    Entry("range_join_windows", _q_range_join_windows, _ORACLE_RANGE_JOIN),
    Entry("dedup_exact_docs", _q_dedup_exact_docs, _ORACLE_DEDUP),
    Entry("text_quality_by_lang", _q_text_quality, _ORACLE_TEXT_QUALITY),
    Entry("sessionize_events", _SESSIONIZE_SPARK, _SESSIONIZE_ORACLE),
    Entry("sessionize_stream", _q_sessionize_stream,
          _SESSIONIZE_STREAM_ORACLE, eager=True),
    Entry("dedup_stream_docs", _q_dedup_stream_docs,
          _ORACLE_DEDUP_STREAM, eager=True),
    Entry("events_hourly", _EVENTS_HOURLY_SPARK, _EVENTS_HOURLY_ORACLE),
    Entry("events_hourly_stream", _q_events_hourly_stream,
          _EVENTS_HOURLY_ORACLE, eager=True),
    Entry("window_suite", _WINDOW_SUITE_SQL, _WINDOW_SUITE_SQL),
    Entry("rolling_windows", _ROLLING_SQL, _ROLLING_ORACLE),
    Entry("percentiles_by_segment", _PERCENTILE_SPARK, _PERCENTILE_ORACLE),
    Entry("pivot_orders", _q_pivot_orders, _ORACLE_PIVOT),
    Entry("distinct_agg", _DISTINCT_SQL, _DISTINCT_SQL),
    Entry("q3_topk_orders", _Q3_SQL, _Q3_SQL),
    Entry("q5_region_revenue", _Q5_SPARK, _Q5_SQL),
    Entry("q4_priority_exists", _Q4_SQL, _Q4_SQL),
    Entry("q7_nation_volume", _Q7_SQL, _Q7_SQL),
    Entry("q8_market_share", _Q8_SQL, _Q8_SQL),
    Entry("q9_profit", _Q9_SQL, _Q9_SQL),
    Entry("q12_priority_lines", _Q12_SQL, _Q12_SQL),
    Entry("q14_promo_share", _Q14_SQL, _Q14_SQL),
    Entry("q16_supplier_variety", _Q16_SQL, _Q16_SQL),
    Entry("q17_small_quantity", _Q17_SQL, _Q17_SQL),
    Entry("q18_large_orders", _Q18_SQL, _Q18_SQL),
    Entry("q21_waiting_suppliers", _Q21_SQL, _Q21_ORACLE),
    Entry("q22_idle_rich_customers", _Q22_SQL, _Q22_SQL),
    Entry("q2_min_cost_supplier", _Q2_SQL, _Q2_SQL),
    Entry("q11_important_stock", _Q11_SQL, _Q11_SQL),
    Entry("q13_customer_distribution", _Q13_SQL, _Q13_SQL),
    Entry("q15_top_supplier", _Q15_SQL, _Q15_SQL),
    Entry("q19_discounted_revenue", _Q19_SQL, _Q19_SQL),
    Entry("q20_significant_suppliers", _Q20_SQL, _Q20_SQL),
    Entry("q10_returned_revenue", _Q10_SQL, _Q10_SQL),
    Entry("q6_forecast_revenue", _Q6_SQL, _Q6_SQL),
    Entry("customers_without_orders", _ANTIJOIN_SQL, _ANTIJOIN_SQL),
    Entry("cube_lineitem", _CUBE_SQL, _CUBE_SQL),
    Entry("events_sketch_stats", _q_events_sketch_stats,
          rows_only="HyperLogLog estimates (engine-specific digests, pinned "
                    "within 5% of exact in tests/test_sketches.py)."),
    Entry("events_histogram", _HISTOGRAM_SQL, _HISTOGRAM_SQL),
    Entry("window_top_orders", _WINDOW_SQL, _WINDOW_SQL),
    Entry("rollup_lineitem", _ROLLUP_SQL, _ROLLUP_SQL),
    Entry("exact_span_docs_char", _q_exact_span_docs_char,
          _ORACLE_DUP_SPANS_CHAR, eager=True),
    Entry("max_dup_spans_char", _q_max_dup_spans_char,
          _ORACLE_MAX_DUP_SPANS_CHAR, eager=True),
    Entry("exact_contamination_spans", _q_exact_contamination_spans,
          _ORACLE_EXACT_CONTAM_SPANS, eager=True),
    Entry("exact_contamination_docs", _q_exact_contamination_docs,
          _ORACLE_EXACT_CONTAM_DOCS, eager=True),
    Entry("exact_decontaminated_docs", _q_exact_decontaminated_docs,
          _ORACLE_EXACT_DECONTAM_DOCS),
    Entry("heavy_hitter_ngrams", _q_heavy_hitter_ngrams, _ORACLE_HEAVY_NGRAMS),
    Entry("zorder_roundtrip_lineitem", _q_zorder_roundtrip_lineitem,
          _ORACLE_ZORDER_ROUNDTRIP, eager=True),
    Entry("zorder_skipping_stats", _q_zorder_skipping_stats, eager=True,
          rows_only="File-layout metric from parquet footers; not "
                    "expressible as SQL over the logical table.  Invariants "
                    "pinned in tests/test_layout.py."),
    Entry("c4_clean_docs", _q_c4_clean_docs, _ORACLE_C4_CLEAN),
    Entry("gopher_gates_docs", _q_gopher_gates_docs, _ORACLE_GOPHER_GATES),
    Entry("table_changes_orders", _q_table_changes_orders,
          _ORACLE_TABLE_CHANGES, eager=True),
    Entry("delta_bridge_orders", _q_delta_bridge_orders, _ORACLE_DELTA_BRIDGE),
    Entry("delta_time_travel_orders", _q_delta_time_travel_orders,
          _ORACLE_DELTA_TIME_TRAVEL, eager=True),
    Entry("hevc_frames_stats", _q_hevc_frames_stats, _ORACLE_HEVC_FRAMES),
    Entry("stream_table_appends", _q_stream_table_appends,
          _ORACLE_STREAM_TABLE_APPENDS, eager=True),
    Entry("media_decode_stats", _q_media_decode_stats, _ORACLE_MEDIA_DECODE),
    Entry("media_frames_stats", _q_media_frames_stats, _ORACLE_MEDIA_FRAMES),
)


def _bind(build: Builder | str) -> Builder:
    """The entry's callable: register the views, then build."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_views(spark, sf_dir)
        if isinstance(build, str):
            return spark.sql(build)
        return build(spark, sf_dir)
    return run


QUERIES: dict[str, Builder] = {e.name: _bind(e.build) for e in REGISTRY}
ORACLES: dict[str, str] = {e.name: e.oracle for e in REGISTRY if e.oracle}
