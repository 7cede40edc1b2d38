"""Schema-enforced sources and sinks.

The reference's ingest pattern is ``spark.read.format(...).schema(legend
schema).load(path)`` (``LegendSparkTest.scala:47-48``); these helpers wrap
it for json/csv/parquet plus catalog tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_with_schema(spark: SparkSession, path: str, schema,
                     fmt: str = "json", **options) -> DataFrame:
    """Schema-on-read: unknown fields dropped, missing fields null."""
    reader = spark.read.schema(schema).format(fmt)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_table(df: DataFrame, table: str, mode: str = "append",
                merge_schema: bool = False) -> None:
    """Append/overwrite into a catalog table; ``mergeSchema`` mirrors the
    reference's schema-drift option (Delta only)."""
    writer = df.write.mode(mode)
    if merge_schema:
        writer = writer.option("mergeSchema", "true")
    writer.saveAsTable(table)


from .versioned import (  # noqa: E402,F401 — re-export: the no-Delta
    # time-travel/history/merge/CDF surface (see sources/versioned.py)
    VersionedTable,
    diff_versions,
    snapshot_diff,
    table_changes,
)
from .delta_reader import (  # noqa: E402,F401 — re-export: READ real
    # Delta tables without a Delta runtime (log replay, VERSION AS OF)
    delta_log_versions,
    read_delta,
)
