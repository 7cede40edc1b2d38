"""DataFrame-level operations: ``legend_transform`` / ``legend_validate``.

Reference behavior (``package.scala:29-51``):

* ``legendTransform`` — rename every mapped property to its target column.
  The reference folds ``withColumnRenamed``; we emit **one** positional
  rename (``toDF``) — same result, one projection.
* ``legendValidate`` — append an array column with the *names of violated
  rules* per row.  The reference uses a row-wise Scala UDF (its only UDF,
  opaque to Catalyst).  We parse **one** SQL expression,
  ``array_compact(array(CASE WHEN NOT ((<rule>) <=> true) THEN '<name>'
  END, ...))``, still no UDF: it stays inside whole-stage codegen and
  costs a single projection at any scale (SURVEY §4 calls this out
  explicitly).

Both steps are built as one call into the JVM each, whatever the number
of columns or rules: under PySpark 4.1 every Column call captures its
call site over Py4J (about a dozen round trips), so building the same
expression Column by Column cost the driver tens of milliseconds per
batch (PERF.md, "Driver-side expression cost").  The optimized plan is
the same either way.

Violation semantics: a rule is violated when its expression is **not true**
(false *or* NULL).  Guarded expectation SQL never evaluates to NULL; for
unguarded business rules this "fails closed" deterministically.
"""

from __future__ import annotations

import re

from pyspark.errors import AnalysisException, ParseException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# text that a quoted SQL string literal keeps verbatim under either
# setting of spark.sql.parser.escapedStringLiterals; '$' is excluded
# because the parser substitutes ${var} references
_PLAIN_LITERAL = re.compile(r"[^'\\$]*")


def legend_transform(df: DataFrame, transformations: dict[str, str]) -> DataFrame:
    """Rename source properties to target columns in one projection.

    *transformations* maps property name -> column name.  Unmapped columns
    pass through unchanged, in their original order.
    """
    return df.toDF(*[transformations.get(c, c) for c in df.columns])


def _sql_string(text: str) -> str:
    """A SQL expression that evaluates to exactly *text*: a quoted
    literal when that is unambiguous, else the UTF-8 bytes as a hex
    binary literal cast to string (constant-folded to the same literal)."""
    if _PLAIN_LITERAL.fullmatch(text):
        return f"'{text}'"
    return f"CAST(X'{text.encode('utf-8').hex()}' AS STRING)"


def violations_column(expectations: dict[str, str]) -> Column:
    """Array of names of violated rules — one parsed SQL expression, no
    UDF."""
    if not expectations:
        return F.expr("CAST(array() AS ARRAY<STRING>)")
    # each rule ends with a newline so a trailing "-- comment" closes
    # before the text that follows it
    flags = ", ".join(
        f"CASE WHEN NOT (({sql}\n) <=> true) THEN {_sql_string(name)} END"
        for name, sql in expectations.items())
    return F.expr(f"array_compact(array({flags}))")


def legend_validate(df: DataFrame, expectations: dict[str, str],
                    column: str = "legend") -> DataFrame:
    """Append the violated-rules array column (default name ``legend``,
    matching the reference).  A rule whose SQL does not parse raises a
    ``ValueError`` that names it."""
    try:
        return df.withColumn(column, violations_column(expectations))
    except ParseException as e:
        for name, sql in expectations.items():
            try:
                df.select(F.expr(sql))
            except ParseException:
                raise ValueError(
                    f"expectation rule {name!r} does not parse as a SQL "
                    f"expression: {sql}") from e
            except AnalysisException:  # parses; fails analysis instead
                continue
        raise


def dq_metrics(df: DataFrame, expectations: dict[str, str],
               column: str = "legend") -> DataFrame:
    """Violated-rule counts: explode + groupBy (``LegendSparkTest.scala:58-67``).

    Returns columns ``(rule, violations)``.  The aggregation is map-side
    combinable; at scale this is one narrow projection + one shuffle of
    |rules| groups.
    """
    validated = df if column in df.columns else legend_validate(df, expectations, column)
    return (validated
            .select(F.explode(F.col(column)).alias("rule"))
            .groupBy("rule")
            .agg(F.count(F.lit(1)).alias("violations")))
