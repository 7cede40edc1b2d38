"""Delta Lake tables WITHOUT a Delta runtime: the one module that knows
the public Delta transaction-log format, for reading and for writing.

The reference hands every table it creates to Delta
(``Legend.scala:163-186``, the notebooks' time travel); this container
has no delta-spark wheel.  A Delta table written by any engine is just
parquet files plus a JSON/parquet transaction log in the PUBLIC Delta
protocol:

* READ — replaying that log yields the exact live file set for any
  version (``VERSION AS OF`` included): :func:`read_delta`,
  :func:`delta_history`, :func:`delta_log_versions`;
* WRITE — :func:`write_commit` links one ``_delta_log/%020d.json``
  commit per version (``commitInfo``, ``protocol`` at version 0,
  ``metaData`` when the schema or partition columns change, a
  ``remove`` per live file for a full snapshot, an ``add`` per new
  file).  :class:`.versioned.VersionedTable` commits every version
  through it, so its root is a Delta table at every version.

Scale notes (how every Delta client works, including delta-spark):

* the DRIVER holds only the log — add/remove actions (path +
  partition values), metadata and the schema; data files are never
  opened by the driver;
* a checkpoint parquet (``N.checkpoint.parquet``) is read through
  Spark and only the action columns are collected, so even
  million-file tables ship a few hundred MB of strings to the
  driver, not data;
* the assembled DataFrame is a plain parquet scan over the live
  files, so Catalyst sees a parquet relation (predicate pushdown,
  column pruning, AQE all apply).  When every file sits in hive
  directories below ONE common base directory and those directory
  names agree with the log's ``partitionValues``, ONE multi-file scan
  with ``basePath`` recovers partitions natively (directory-level
  pruning); otherwise the log's ``partitionValues`` are authoritative
  and files are scanned per distinct partition tuple with literal
  partition columns — same pruning, log-driven.

Unsupported — these RAISE pointedly, never return wrong rows:
multi-part checkpoints, v2 checkpoints with sidecars, deletion
vectors (``add.deletionVector`` or the reader feature), and column
mapping (``delta.columnMapping.mode`` set, reader version 2, or the
``columnMapping`` feature): a column-mapped table's parquet columns
are physically UUID-named, so applying the logical schema would read
every mapped column as NULL silently.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..functions import local_df

__all__ = ["read_delta", "delta_log_versions", "delta_history"]

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _log_dir(path: str, required: bool = True) -> str | None:
    """The ``_delta_log`` directory of the table at *path*.  When there
    is none, raise (the default) or return None."""
    log_dir = os.path.join(path.rstrip("/"), "_delta_log")
    if os.path.isdir(log_dir):
        return log_dir
    if required:
        raise ValueError(f"[{path}] has no _delta_log — not a Delta "
                         "table")
    return None


def _hive_values(pieces: list[str]) -> dict[str, str | None]:
    """Partition values of the hive directory components ``k=v`` among
    *pieces*, with Spark's path escaping undone on key and value (the
    log stores logical values, not directory names)."""
    out: dict[str, str | None] = {}
    for piece in pieces:
        if "=" in piece:
            k, _, val = piece.partition("=")
            out[unquote(k)] = None if val == _HIVE_NULL else unquote(val)
    return out


def _log_entries(log_dir: str) -> tuple[list[int], dict[int, str]]:
    """Sorted commit versions + {version: json path}."""
    commits: dict[int, str] = {}
    for name in os.listdir(log_dir):
        if name.endswith(".json") and name[:-5].isdigit():
            commits[int(name[:-5])] = os.path.join(log_dir, name)
    return sorted(commits), commits


def _checkpoints(log_dir: str) -> dict[int, str]:
    """{version: single-part checkpoint parquet path}; multi-part /
    v2 checkpoint files raise pointedly when they would be needed."""
    out: dict[int, str] = {}
    for name in os.listdir(log_dir):
        if name.endswith(".checkpoint.parquet"):
            head = name[:-len(".checkpoint.parquet")]
            if head.isdigit():
                out[int(head)] = os.path.join(log_dir, name)
    return out


def _commit_info(commit_file: str) -> dict:
    """The ``commitInfo`` action of one commit file (``{}`` without one
    — it is optional in the protocol)."""
    with open(commit_file) as fh:
        for line in fh:
            if line.strip():
                action = json.loads(line)
                if "commitInfo" in action:
                    return action["commitInfo"]
    return {}


def delta_log_versions(path: str) -> list[int]:
    """The commit versions present in a Delta table's log."""
    versions, _ = _log_entries(_log_dir(path))
    return versions


def commit_infos(path: str) -> dict[int, dict]:
    """{version: commitInfo} for every JSON commit in the log."""
    versions, commit_files = _log_entries(_log_dir(path))
    return {v: _commit_info(commit_files[v]) for v in versions}


def delta_history(spark: SparkSession, path: str) -> DataFrame:
    """``DESCRIBE HISTORY`` for a Delta table without a Delta runtime:
    one row per commit, newest first — (version, timestamp,
    operation), from each commit's ``commitInfo`` action (logs written
    without commitInfo fall back to the commit file's mtime and a null
    operation)."""
    versions, commit_files = _log_entries(_log_dir(path))
    rows = []
    for v in reversed(versions):
        ci = _commit_info(commit_files[v])
        ts = ci.get("timestamp")
        if ts is None:
            ts = int(os.stat(commit_files[v]).st_mtime * 1000)
        rows.append((v, float(ts) / 1000.0, ci.get("operation")))
    return local_df(spark, rows,
                    "version int, timestamp double, operation string")


def _gate_protocol(path: str, protocol: dict | None) -> None:
    """Reject reader requirements this client cannot honor — BEFORE
    any data is returned, so unsupported tables never read silently
    wrong.  Per the public protocol: reader version 2 exists only for
    column mapping; version 3 introduces ``readerFeatures``; higher
    versions are unknown to this client."""
    if not protocol:
        return
    mrv = protocol.get("minReaderVersion", 1)
    feats = set(protocol.get("readerFeatures") or [])
    hard = {"deletionVectors", "columnMapping", "v2Checkpoint",
            "typeWidening", "variantType-preview"} & feats
    if hard:
        raise ValueError(
            f"Delta table at [{path}] requires reader features "
            f"{sorted(hard)}; read it with delta-spark")
    if mrv == 2:
        raise ValueError(
            f"Delta table at [{path}] has minReaderVersion=2 (column "
            "mapping): its parquet columns are physically renamed, so "
            "this log-replay reader would return NULLs — read it with "
            "delta-spark")
    if mrv > 3:
        raise ValueError(
            f"Delta table at [{path}] requires reader version {mrv}, "
            "newer than this client understands; read it with "
            "delta-spark")


def _gate_column_mapping(path: str, meta: dict) -> None:
    """Column mapping can also be detected from table configuration —
    gate on it even when the protocol action was itself vacuumed."""
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")
    if mode and mode != "none":
        raise ValueError(
            f"Delta table at [{path}] uses column mapping "
            f"(delta.columnMapping.mode={mode}): its parquet columns "
            "are physically renamed, so this log-replay reader would "
            "return NULLs — read it with delta-spark")


def _gate_deletion_vector(path: str, dv) -> None:
    """Belt-and-braces: an add action carrying a deletion vector means
    some rows in that file are logically deleted — reading the file
    plainly would resurrect them."""
    present = False
    if isinstance(dv, dict):
        present = dv.get("storageType") is not None
    elif dv is not None:  # a pyspark Row from a checkpoint scan
        try:
            present = dv["storageType"] is not None
        except (KeyError, ValueError, TypeError):
            present = True
    if present:
        raise ValueError(
            f"Delta table at [{path}] has files with deletion "
            "vectors; reading them plainly would resurrect deleted "
            "rows — read it with delta-spark")


def _replay(spark: SparkSession, path: str, version: int | None = None,
            timestamp_ms: float | None = None
            ) -> tuple[dict[str, dict], dict | None, dict | None]:
    """Replay the log up to *version* / *timestamp_ms* (latest when
    both omitted): ``(live, metaData, protocol)`` with *live* mapping
    each live ``add.path`` to its ``partitionValues``.

    Requesting a version below the earliest reconstructable state
    (its commit files vacuumed and no checkpoint at/below it) raises
    a version-out-of-range error rather than replaying an incomplete
    file set."""
    log_dir = _log_dir(path)
    versions, commit_files = _log_entries(log_dir)
    cps = _checkpoints(log_dir)
    has_exotic_cp = any(
        ".checkpoint." in n and not n.endswith(".checkpoint.parquet")
        for n in os.listdir(log_dir))
    latest = max([*versions, *cps], default=None)
    if latest is None:
        if has_exotic_cp:
            raise ValueError(
                f"[{path}] has only multi-part/v2 checkpoints; this "
                "reader supports single-part classic checkpoints — "
                "compact the log or read with delta-spark")
        raise ValueError(f"[{path}] has an empty _delta_log")
    if version is not None and timestamp_ms is not None:
        raise ValueError("pass version OR timestamp_ms, not both")
    if timestamp_ms is not None:
        if not versions:
            raise ValueError(
                f"[{path}] has no JSON commits to resolve a "
                "timestamp against (log vacuumed to a checkpoint); "
                "use version= instead")
        hist = {r["version"]: r["timestamp"] * 1000.0
                for r in delta_history(spark, path).collect()}
        eligible = [v for v in versions if hist[v] <= timestamp_ms]
        if not eligible:
            raise ValueError(
                f"no commit at or before timestamp {timestamp_ms} at "
                f"[{path}] (earliest is {min(hist.values())})")
        target = max(eligible)
    else:
        target = latest if version is None else int(version)
    if not 0 <= target <= latest:
        raise ValueError(
            f"version {target} out of range [0, {latest}] "
            f"at [{path}]")

    # Reconstructibility: the state at `target` needs a single-part
    # checkpoint at some cp <= target plus EVERY commit in
    # (cp, target], or every commit in [0, target].  Anything less
    # (log vacuumed / truncated) must raise, not replay a partial
    # file set.
    usable = [v for v in cps if v <= target]
    cp_v = max(usable) if usable else None
    start = 0 if cp_v is None else cp_v + 1
    missing = [v for v in range(start, target + 1)
               if v not in commit_files]
    if missing:
        starts = sorted(cps)
        if 0 in commit_files:
            starts.append(0)
        earliest = min(starts) if starts else None
        hint = (f"; earliest reconstructable version is {earliest}"
                if earliest is not None else
                "; no version is reconstructable (no single-part "
                "checkpoint and commit 0 is gone)")
        if has_exotic_cp:
            hint += (" — multi-part/v2 checkpoint files exist but "
                     "this reader supports only single-part classic "
                     "checkpoints")
        raise ValueError(
            f"version {target} at [{path}] has been vacuumed/"
            f"truncated: commit file(s) {missing[:5]} are gone and "
            f"no usable checkpoint covers them{hint}")

    live: dict[str, dict] = {}
    meta: dict | None = None
    protocol: dict | None = None

    if cp_v is not None:
        cp = spark.read.parquet(cps[cp_v])
        cols = set(cp.columns)
        rows = cp.select(*[c for c in ("add", "remove", "metaData",
                                       "protocol") if c in cols]) \
            .collect()
        for r in rows:
            add = r["add"] if "add" in cols else None
            if add is not None and add["path"] is not None:
                a = add.asDict()
                _gate_deletion_vector(path, a.get("deletionVector"))
                live[a["path"]] = dict(a.get("partitionValues") or {})
            md = r["metaData"] if "metaData" in cols else None
            if md is not None and md["id"] is not None:
                m = md.asDict()
                meta = {"id": m["id"],
                        "schemaString": m["schemaString"],
                        "partitionColumns":
                            list(m.get("partitionColumns") or []),
                        "configuration":
                            dict(m.get("configuration") or {})}
            pr = r["protocol"] if "protocol" in cols else None
            if pr is not None and pr["minReaderVersion"] is not None:
                protocol = pr.asDict()
                if protocol.get("readerFeatures") is not None:
                    protocol["readerFeatures"] = \
                        list(protocol["readerFeatures"])

    for v in range(start, target + 1):
        with open(commit_files[v]) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "add" in action:
                    a = action["add"]
                    _gate_deletion_vector(path, a.get("deletionVector"))
                    live[a["path"]] = dict(a.get("partitionValues")
                                           or {})
                elif "remove" in action:
                    live.pop(action["remove"]["path"], None)
                elif "metaData" in action:
                    meta = action["metaData"]
                elif "protocol" in action:
                    protocol = action["protocol"]
    return live, meta, protocol


def _hive_base(rel: str, part_cols: list[str],
               pvals: dict) -> str | None:
    """The directory below which *rel*'s last ``len(part_cols)``
    directory components encode exactly its log *pvals*; None when
    they do not (a non-hive layout)."""
    dirs = rel.split("/")[:-1]
    cut = len(dirs) - len(part_cols)
    if cut < 0 or _hive_values(dirs[cut:]) != \
            {c: pvals.get(c) for c in part_cols}:
        return None
    return "/".join(dirs[:cut])


def read_delta(spark: SparkSession, path: str,
               version: int | None = None,
               timestamp_ms: float | None = None) -> DataFrame:
    """Open a Delta table (``VERSION AS OF`` *version* /
    ``TIMESTAMP AS OF`` *timestamp_ms*, latest when both omitted) by
    replaying its transaction log — no Delta runtime.

    Returns one parquet scan over the live files with the log's
    schema enforced.  Partition columns come from the log's
    ``partitionValues`` (the protocol's source of truth): when the
    on-disk hive directories below one common base agree with the
    log, one ``basePath`` scan recovers them natively; otherwise
    (non-hive layout, or files spread over several base directories)
    files are scanned per distinct partition tuple with literal
    columns.  An empty live set (a table whose files were all removed,
    or a snapshot written with zero rows) returns an EMPTY DataFrame
    with the log's schema, like Delta does.
    """
    path = path.rstrip("/")
    live, meta, protocol = _replay(spark, path, version, timestamp_ms)
    _gate_protocol(path, protocol)
    if meta is None:
        raise ValueError(f"[{path}] log has no metaData action")
    _gate_column_mapping(path, meta)

    full_schema = StructType.fromJson(json.loads(meta["schemaString"]))
    if not live:
        # a valid state: every file removed — empty table, real schema
        return spark.createDataFrame([], full_schema)
    part_cols = list(meta.get("partitionColumns") or [])
    data_schema = StructType(
        [f for f in full_schema.fields if f.name not in part_cols])
    # add.path is a URL-encoded relative URI per the protocol — decode
    # before touching the filesystem
    decoded = {p: unquote(p).replace(os.sep, "/") for p in live}
    if not part_cols:
        files = [os.path.join(path, decoded[p]) for p in live]
        return spark.read.schema(data_schema).parquet(*files)

    # Partitioned: the log's partitionValues are authoritative.  Fast
    # path — every file's trailing hive directories EXACTLY encode its
    # log partitionValues below ONE base directory (so no other k=v
    # dir is in Spark's view) — one basePath scan, native pruning.
    bases = {_hive_base(decoded[p], part_cols, pv)
             for p, pv in live.items()}
    from pyspark.sql import functions as F
    if len(bases) == 1 and None not in bases:
        files = [os.path.join(path, decoded[p]) for p in live]
        df = spark.read.option("basePath", f"{path}/{bases.pop()}") \
            .schema(data_schema).parquet(*files)
        for f in full_schema.fields:
            if f.name in part_cols:
                df = df.withColumn(f.name,
                                   F.col(f.name).cast(f.dataType))
        return df.select(*[f.name for f in full_schema.fields])

    # Log-driven path: group files by their partition tuple, scan each
    # group once with literal partition columns (still a handful of
    # scans — one per live partition, the same cardinality basePath
    # enumerates), union by name.
    groups: dict[tuple, list[str]] = {}
    for p, pv in live.items():
        key = tuple(pv.get(c) for c in part_cols)
        groups.setdefault(key, []).append(
            os.path.join(path, decoded[p]))
    out: DataFrame | None = None
    order = [f.name for f in full_schema.fields]
    for key, fs in groups.items():
        g = spark.read.schema(data_schema).parquet(*fs)
        for f in full_schema.fields:
            if f.name in part_cols:
                val = key[part_cols.index(f.name)]
                g = g.withColumn(f.name,
                                 F.lit(val).cast(f.dataType))
        g = g.select(*order)
        out = g if out is None else out.unionByName(g)
    return out


# -- write side --------------------------------------------------------


def _walk_parquet_adds(data_dir: str, base: str) -> list[dict]:
    """``add`` payloads for every parquet file under *data_dir*:
    ``path`` relative to the table root *base* as a URL-ENCODED
    relative URI (the protocol's add.path contract — on-disk names may
    contain literal ``%XX`` from Spark's own hive escaping, which must
    survive a client's decode), ``partitionValues`` from the hive
    directory components below *data_dir*.  Skips ``_``-prefixed
    dirs."""
    out = []
    for root, _dirs, files in os.walk(data_dir):
        rel_root = os.path.relpath(root, data_dir)
        # compare RELATIVE to the data dir — the absolute path may
        # legitimately contain the substring (pytest tmp dirs)
        if rel_root != "." and rel_root.split(os.sep)[0].startswith("_"):
            continue
        for name in files:
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(root, name)
            rel = os.path.relpath(full, base).replace(os.sep, "/")
            st = os.stat(full)
            out.append({"path": quote(rel, safe="/=-._~!$&'()*+,;:@"),
                        "partitionValues": _hive_values(
                            os.path.relpath(full, data_dir)
                            .split(os.sep)[:-1]),
                        "size": st.st_size,
                        "modificationTime": int(st.st_mtime * 1000),
                        "dataChange": True})
    return out


def write_commit(spark: SparkSession, path: str, version: int,
                 data_dir: str, info: dict,
                 schema: StructType | None = None,
                 partition_cols: list[str] | None = None,
                 replace: bool = True) -> None:
    """Commit *version* of the Delta table at *path*: one JSONL file
    ``_delta_log/%020d.json`` holding ``commitInfo`` (*info* plus the
    timestamp), ``protocol`` at version 0, ``metaData`` when *schema*
    or *partition_cols* differ from the previous version's (None keeps
    them), a ``remove`` for every live file when *replace* (a full
    snapshot), and an ``add`` for each parquet file under *data_dir*.

    The file is hard-linked into place, so two writers racing to the
    same version make the loser raise :class:`FileExistsError` instead
    of silently replacing version N — the log stays linear (Delta's
    optimistic-concurrency commit point)."""
    ts = int(time.time() * 1000)
    live: dict[str, dict] = {}
    meta: dict | None = None
    if version > 0:
        live, meta, _ = _replay(spark, path, version - 1)
    actions: list[dict] = [{"commitInfo": {"timestamp": ts, **info}}]
    if meta is None:
        actions.append({"protocol": {"minReaderVersion": 1,
                                     "minWriterVersion": 2}})
    schema_string = meta["schemaString"] if schema is None \
        else schema.json()
    parts = meta["partitionColumns"] if partition_cols is None \
        else list(partition_cols)
    if meta is None or (schema_string, parts) != \
            (meta["schemaString"], list(meta["partitionColumns"])):
        actions.append({"metaData": {
            "id": meta["id"] if meta else str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": parts,
            "configuration": {},
            "createdTime": ts}})
    if replace:
        actions += [{"remove": {"path": p, "deletionTimestamp": ts,
                                "dataChange": True}} for p in live]
    actions += [{"add": a} for a in _walk_parquet_adds(data_dir, path)]
    log_dir = os.path.join(path, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    tmp = os.path.join(log_dir, f".{version:020d}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        for action in actions:
            fh.write(json.dumps(action) + "\n")
    try:
        os.link(tmp, os.path.join(log_dir, f"{version:020d}.json"))
    finally:
        os.unlink(tmp)
