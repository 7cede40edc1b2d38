"""Shared helpers for the operator modules."""

from __future__ import annotations

from pyspark.sql import DataFrame


def local_df(spark, rows, schema) -> DataFrame:
    """``createDataFrame`` for METADATA-SIZED local rows, pinned to ONE
    partition.

    The default ``createDataFrame(list)`` parallelizes into
    ``defaultParallelism`` partitions (all but one empty), and a
    ``coalesce(1)`` consumer then pulls every partition's Python-worker
    round-trip SERIALLY inside a single task: ~5.7 s for a ONE-ROW store
    footer on local[32] (r13 measurement; guide §4, the Python
    boundary).  One slice makes the same write ~0.35 s, as one file,
    and is the right shape for any driver-local handful of rows.  Not
    for data-sized inputs — those should come from storage, not the
    driver.
    """
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)


# -- store footers ---------------------------------------------------------
#
# A persisted operator store is parquet data at ``path`` plus its
# parameters (or driver-sized model state) as rows of a parquet footer at
# ``<path>__meta``.  The four functions below are the only code that
# knows that layout.

def read_if_exists(spark, path: str) -> DataFrame | None:
    """``spark.read.parquet(path)``, or None when *path* does not exist.
    Resolved through Spark's Hadoop filesystem layer, so non-local URIs
    (s3://, hdfs://) are probed correctly; any other read error — an
    unreadable file, say — propagates."""
    from pyspark.errors import AnalysisException
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" not in str(exc):
            raise
        return None


def read_footer(spark, path: str, required: bool = True) -> list | None:
    """The footer rows of the store at *path*.  A missing footer raises
    Spark's PATH_NOT_FOUND error, or returns None when not *required*."""
    if required:
        return spark.read.parquet(f"{path}__meta").collect()
    meta = read_if_exists(spark, f"{path}__meta")
    return None if meta is None else meta.collect()


def check_footer(what: str, path: str, footer: list | None, params: dict,
                 defaults: dict | None = None) -> None:
    """Raise unless the *params* a call was given equal the ones the
    footer records (keys missing from an older footer take *defaults*).
    No footer means there is nothing to check against."""
    if not footer:
        return
    row = footer[0].asDict()
    stored = {k: row[k] if k in row else defaults[k] for k in params}
    if stored != params:
        def kv(d):
            return ", ".join(f"{k}={v}" for k, v in d.items())
        raise ValueError(
            f"{what} at [{path}] was built with {kv(stored)}; called with "
            f"{kv(params)} — mixed-parameter {what}s are incompatible. "
            "Match the store or rebuild with mode='overwrite'.")


def write_store(data: DataFrame, path: str, rows: list, schema: str,
                mode: str = "overwrite", what: str | None = None,
                params: dict | None = None, defaults: dict | None = None,
                partition_by: str | None = None) -> None:
    """Write *data* to *path* and the footer *rows* to its footer.

    ``mode='append'`` first checks *params* against the existing footer
    (:func:`check_footer`), before anything is written.
    ``mode='ignore'`` on an existing path writes neither: Spark skips
    the data, and a rewritten footer would then describe data that was
    never written."""
    spark = data.sparkSession
    if mode == "append":
        check_footer(what, path, read_footer(spark, path, required=False),
                     params, defaults)
    if mode == "ignore":
        hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        if hpath.getFileSystem(
                spark._jsc.hadoopConfiguration()).exists(hpath):
            return
    writer = data.write.mode(mode)
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)
    local_df(spark, rows, schema).write.mode("overwrite").parquet(
        f"{path}__meta")
