"""Table services: time travel, history, upsert — Delta-first with
parquet-catalog fallbacks.

The reference's notebooks lean on Delta for time travel / DESCRIBE HISTORY
/ mergeSchema (``databricks-scala.ipynb`` drift cells, SURVEY §2.C).  This
environment has no delta-spark wheel, so each capability either routes to
Delta when importable or degrades explicitly:

* :func:`read_version` / :func:`table_history` — Delta-only; raise a
  pointed error on parquet tables instead of silently returning current
  state.
* :func:`merge_upsert` — Delta ``MERGE`` when available, otherwise an
  anti-join + union overwrite (same end state, full rewrite cost —
  documented as such).

For REAL time-travel/history/merge semantics without the Delta runtime,
use :class:`..sources.versioned.VersionedTable` — immutable parquet
snapshots behind a public Delta log (path-addressed rather than
catalog-addressed, which is why it is a separate surface and not a
silent fallback here); its root answers :func:`read_version` and
:func:`table_history` like any Delta table path.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from .delta_reader import _log_dir, delta_history, read_delta


def _delta_available() -> bool:
    try:
        import delta  # noqa: F401
        return True
    except ImportError:
        return False


class DeltaRequiredError(RuntimeError):
    def __init__(self, capability: str):
        super().__init__(
            f"{capability} requires delta-spark (table format DELTA); this "
            f"session has a parquet catalog only. Install delta-spark and "
            f"recreate the table with table_format='DELTA'.")


def read_version(spark: SparkSession, table: str, version: int) -> DataFrame:
    """Time-travel read: ``SELECT * FROM t VERSION AS OF n``.

    Catalog tables need delta-spark; a Delta table PATH works without
    any Delta runtime through :mod:`.delta_reader`'s log replay."""
    if not _delta_available():
        if _log_dir(table, required=False):
            return read_delta(spark, table, version=version)
        raise DeltaRequiredError("time travel (VERSION AS OF)")
    return spark.sql(f"SELECT * FROM {table} VERSION AS OF {version}")


def table_history(spark: SparkSession, table: str) -> DataFrame:
    """``DESCRIBE HISTORY``.  Catalog tables need delta-spark; a Delta
    table PATH answers from the transaction log directly."""
    if not _delta_available():
        if _log_dir(table, required=False):
            return delta_history(spark, table)
        raise DeltaRequiredError("DESCRIBE HISTORY")
    return spark.sql(f"DESCRIBE HISTORY {table}")


def merge_upsert(spark: SparkSession, updates: DataFrame, table: str,
                 keys: list[str]) -> None:
    """Upsert *updates* into *table* on *keys*.

    Delta path: a real ``MERGE`` (row-level, transactional).  Parquet
    fallback: keep target rows whose key has no update (left_anti), union
    the updates, overwrite — correct end state, but a full-table rewrite;
    fine for small/medium tables, use Delta for incremental scale.  The
    fallback assumes a single writer per target table (a non-transactional
    overwrite cannot serialize concurrent merges); the staging table name
    is suffixed per invocation so a failed run never collides with a
    later retry.
    """
    if _delta_available():
        from delta.tables import DeltaTable
        target = DeltaTable.forName(spark, table)
        cond = " AND ".join(f"t.{k} = u.{k}" for k in keys)
        (target.alias("t")
         .merge(updates.alias("u"), cond)
         .whenMatchedUpdateAll()
         .whenNotMatchedInsertAll()
         .execute())
        return
    target = spark.table(table)
    keep = target.join(updates.select(*keys), keys, "left_anti")
    merged = keep.unionByName(updates)
    # The overwrite plan would read the table being replaced, so the merged
    # rows are staged through a scratch table first — distributed writes
    # only; nothing ever materializes on the driver.
    staging = f"{table}__merge_staging_{uuid.uuid4().hex[:12]}"
    try:
        merged.write.mode("overwrite").saveAsTable(staging)
        spark.table(staging).write.mode("overwrite") \
            .insertInto(table, overwrite=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {staging}")
