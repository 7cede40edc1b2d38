"""Delta-table READ interop without a Delta runtime (log replay)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row

from legend_community_delta_spark.sources.delta_reader import (
    delta_log_versions, read_delta)
from legend_community_delta_spark.sources.versioned import VersionedTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _actions(root, version):
    with open(os.path.join(root, "_delta_log", f"{version:020d}.json")) as fh:
        return [json.loads(line) for line in fh]


def _metadata(root, version=0):
    return next(a["metaData"] for a in _actions(root, version)
                if "metaData" in a)


def _v0_file(root):
    """The one parquet file of a single-file snapshot at version 0, as
    a table-relative path."""
    names = [n for n in os.listdir(os.path.join(root, "v=0"))
             if n.endswith(".parquet")]
    assert len(names) == 1
    return f"v=0/{names[0]}"


def _has_partition_filter(df, col):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return ("PartitionFilters: [" in plan
            and col in plan.split("PartitionFilters")[1][:200])


def test_round_trip_with_export_delta_log(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")]))
    root = t.path
    assert delta_log_versions(root) == [0]
    got = read_delta(spark, root)
    assert got.columns == ["id", "v"]
    assert _rows(got) == [(1, "a"), (2, "b")]


def test_round_trip_partitioned(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame(
        [Row(id=1, k="x"), Row(id=2, k="y"), Row(id=3, k="x")]),
        partition_by=["k"])
    got = read_delta(spark, t.path)
    assert sorted(got.columns) == ["id", "k"]
    assert sorted((r["id"], r["k"]) for r in got.collect()) == \
        sorted([(1, "x"), (2, "y"), (3, "x")])
    # partition pruning is native: the files sit in hive dirs below one
    # base (v=0), so one basePath scan carries the partition filter
    assert sorted(r["id"] for r in
                  got.where("k = 'x'").collect()) == [1, 3]
    assert _has_partition_filter(got.where("k = 'x'"), "k")
    # a segment spreads the live files over two bases (v=0, v=1): the
    # log-driven per-partition scan answers the same way
    t.append(spark.createDataFrame([Row(id=4, k="x")]))
    got = read_delta(spark, t.path)
    assert sorted(r["id"] for r in
                  got.where("k = 'x'").collect()) == [1, 3, 4]
    assert not _has_partition_filter(got.where("k = 'x'"), "k")


def test_hive_laid_root_takes_base_path_scan(spark, tmp_path):
    # a plain hive-laid table committed at its root, with a partition
    # column whose name Spark escapes in directory names (':' -> %3A):
    # the one hive decoder undoes the escaping on the key, so the files
    # still take the native basePath scan
    from legend_community_delta_spark.sources.delta_reader import (
        NO_COMMIT, write_commit)
    root = str(tmp_path / "hive")
    df = spark.createDataFrame([(1, "x"), (2, "y"), (3, "x")],
                               "id long, `p:k` string")
    df.write.partitionBy("p:k").parquet(root)
    assert os.path.isdir(os.path.join(root, "p%3Ak=x"))
    write_commit(root, 0, root, {"operation": "WRITE"}, NO_COMMIT,
                 df.schema, ["p:k"])
    got = read_delta(spark, root)
    assert got.columns == ["id", "p:k"]
    assert _rows(got) == [(1, "x"), (2, "y"), (3, "x")]
    hit = got.where("`p:k` = 'x'")
    assert sorted(r["id"] for r in hit.collect()) == [1, 3]
    assert _has_partition_filter(hit, "p:k")


def _append_commit(root, version, actions):
    log = os.path.join(root, "_delta_log", f"{version:020d}.json")
    with open(log, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def test_multi_commit_replay_and_version_as_of(spark, tmp_path):
    # commit 0 via VersionedTable, then a hand-written commit 1 that
    # REMOVES one file and ADDS another — the reader must replay both
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")])
            .coalesce(1))
    root = t.path
    files = [_v0_file(root)]
    # write a second data file the Delta way (plain parquet inside)
    spark.createDataFrame([Row(id=3, v="c")]).coalesce(1) \
        .write.mode("overwrite").parquet(str(tmp_path / "extra"))
    extra = [n for n in os.listdir(str(tmp_path / "extra"))
             if n.endswith(".parquet")][0]
    os.replace(str(tmp_path / "extra" / extra),
               os.path.join(root, "part-extra.parquet"))
    _append_commit(root, 1, [
        {"remove": {"path": files[0], "dataChange": True}},
        {"add": {"path": "part-extra.parquet", "partitionValues": {},
                 "size": os.path.getsize(
                     os.path.join(root, "part-extra.parquet")),
                 "modificationTime": 0, "dataChange": True}},
    ])
    assert delta_log_versions(root) == [0, 1]
    assert _rows(read_delta(spark, root)) == [(3, "c")]
    assert _rows(read_delta(spark, root, version=0)) == \
        [(1, "a"), (2, "b")]
    with pytest.raises(ValueError, match="out of range"):
        read_delta(spark, root, version=9)


def test_checkpoint_replay(spark, tmp_path):
    # a classic single-part checkpoint carries the state; later JSON
    # commits replay on top of it
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1, v="a")]).coalesce(1))
    root = t.path
    f0 = _v0_file(root)
    meta = _metadata(root)
    # build the checkpoint parquet with Spark (nested action structs;
    # explicit schema — empty maps/nulls can't be inferred)
    ckpt_schema = (
        "add struct<path:string,partitionValues:map<string,string>>, "
        "remove struct<path:string>, "
        "metaData struct<id:string,schemaString:string,"
        "partitionColumns:array<string>>")
    rows = [
        ((f0, {}), None, None),
        (None, None, (meta["id"], meta["schemaString"], [])),
    ]
    ckpt_dir = str(tmp_path / "ckpt")
    spark.createDataFrame(rows, ckpt_schema).coalesce(1) \
        .write.parquet(ckpt_dir)
    part = [n for n in os.listdir(ckpt_dir)
            if n.endswith(".parquet")][0]
    os.replace(os.path.join(ckpt_dir, part),
               os.path.join(root, "_delta_log",
                            f"{0:020d}.checkpoint.parquet"))
    os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    # a later JSON commit on top of the checkpoint
    spark.createDataFrame([Row(id=2, v="b")]).coalesce(1) \
        .write.mode("overwrite").parquet(str(tmp_path / "extra"))
    extra = [n for n in os.listdir(str(tmp_path / "extra"))
             if n.endswith(".parquet")][0]
    os.replace(str(tmp_path / "extra" / extra),
               os.path.join(root, "part-2.parquet"))
    _append_commit(root, 1, [
        {"add": {"path": "part-2.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0,
                 "dataChange": True}}])
    assert _rows(read_delta(spark, root)) == [(1, "a"), (2, "b")]


def test_reader_feature_gates(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1)]))
    root = t.path
    _append_commit(root, 1, [
        {"protocol": {"minReaderVersion": 3,
                      "readerFeatures": ["deletionVectors"]}}])
    with pytest.raises(ValueError, match="deletionVectors"):
        read_delta(spark, root)
    # but VERSION AS OF 0 still reads (the gate is per target state)
    assert _rows(read_delta(spark, root, version=0)) == [(1,)]


def test_not_a_delta_table_raises(spark, tmp_path):
    os.makedirs(str(tmp_path / "plain"))
    with pytest.raises(ValueError, match="no _delta_log"):
        read_delta(spark, str(tmp_path / "plain"))


def test_delta_history_from_log(spark, tmp_path):
    from legend_community_delta_spark.sources.delta_reader import (
        delta_history)
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1)]))
    root = t.path
    _append_commit(root, 1, [
        {"commitInfo": {"timestamp": 1700000000000,
                        "operation": "DELETE"}},
        {"add": {"path": "nope.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0,
                 "dataChange": True}}])
    _append_commit(root, 2, [
        {"add": {"path": "nope2.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0,
                 "dataChange": True}}])
    hist = delta_history(spark, root).collect()
    assert [r["version"] for r in hist] == [2, 1, 0]   # newest first
    assert hist[0]["operation"] is None                # no commitInfo
    assert hist[1]["operation"] == "DELETE"
    assert hist[1]["timestamp"] == 1700000000000 / 1000.0
    assert hist[2]["operation"] == "WRITE"


def test_tables_surface_falls_back_to_log_replay(spark, tmp_path):
    # without delta-spark, read_version/table_history on a Delta PATH
    # must answer through the log-replay reader instead of raising
    from legend_community_delta_spark.sources.tables import (
        DeltaRequiredError, read_version, table_history)
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1, v="a")]))
    root = t.path
    try:
        import delta  # noqa: F401
        pytest.skip("delta-spark present: native path covers this")
    except ImportError:
        pass
    assert _rows(read_version(spark, root, 0)) == [(1, "a")]
    assert [r["version"] for r in
            table_history(spark, root).collect()] == [0]
    # a CATALOG name still raises the pointed error
    with pytest.raises(DeltaRequiredError):
        read_version(spark, "some_catalog_table", 0)


def test_timestamp_as_of_and_empty_state(spark, tmp_path):
    from legend_community_delta_spark.sources.delta_reader import (
        delta_history)  # noqa: F401
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1, v="a")]).coalesce(1))
    root = t.path
    f0 = _v0_file(root)
    # stamp commit 0's commitInfo (its first action) with a known
    # time, then commit 1 REMOVES everything at a later time
    lines = _actions(root, 0)
    lines[0]["commitInfo"]["timestamp"] = 1000_000
    _append_commit(root, 0, lines)
    _append_commit(root, 1, [
        {"commitInfo": {"timestamp": 2000_000, "operation": "DELETE"}},
        {"remove": {"path": f0, "dataChange": True}}])
    # TIMESTAMP AS OF between the commits resolves to version 0
    assert _rows(read_delta(spark, root, timestamp_ms=1500_000)) == \
        [(1, "a")]
    # latest state is EMPTY but valid: empty frame, real schema
    got = read_delta(spark, root)
    assert got.count() == 0 and got.columns == ["id", "v"]
    with pytest.raises(ValueError, match="no commit at or before"):
        read_delta(spark, root, timestamp_ms=500_000)
    with pytest.raises(ValueError, match="not both"):
        read_delta(spark, root, version=0, timestamp_ms=1)


# -- round 12: protocol gates, path decoding, log-driven partitions ------


def test_column_mapping_reader_v2_gate(spark, tmp_path):
    # minReaderVersion=2 exists ONLY for column mapping (no feature
    # list at that version) — reading through would NULL every mapped
    # column silently; the gate must raise instead
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1)]))
    root = t.path
    _append_commit(root, 1, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}])
    with pytest.raises(ValueError, match="column mapping"):
        read_delta(spark, root)
    assert _rows(read_delta(spark, root, version=0)) == [(1,)]


def test_column_mapping_configuration_gate(spark, tmp_path):
    # the metaData configuration also reveals column mapping — gate on
    # it even when the protocol action itself looks old (belt/braces)
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1)]))
    root = t.path
    c0 = os.path.join(root, "_delta_log", f"{0:020d}.json")
    actions = [json.loads(line) for line in open(c0)]
    for a in actions:
        if "metaData" in a:
            a["metaData"]["configuration"] = {
                "delta.columnMapping.mode": "name"}
    with open(c0, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    with pytest.raises(ValueError, match="columnMapping.mode=name"):
        read_delta(spark, root)


def test_unknown_reader_version_gate(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1)]))
    root = t.path
    _append_commit(root, 1, [
        {"protocol": {"minReaderVersion": 4, "minWriterVersion": 9}}])
    with pytest.raises(ValueError, match="reader version 4"):
        read_delta(spark, root)


def test_deletion_vector_on_add_raises(spark, tmp_path):
    # an add carrying a deletionVector means some rows in the file are
    # logically deleted — a plain read would resurrect them
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1)]).coalesce(1))
    root = t.path
    f0 = _v0_file(root)
    _append_commit(root, 1, [
        {"add": {"path": f0, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": {"storageType": "u",
                                    "pathOrInlineDv": "x",
                                    "offset": 1, "sizeInBytes": 40,
                                    "cardinality": 2}}}])
    with pytest.raises(ValueError, match="deletion"):
        read_delta(spark, root)


def test_protocol_extracted_from_checkpoint(spark, tmp_path):
    # after log cleanup the checkpoint can be the ONLY place the
    # protocol action lives — the gate must still see it
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1, v="a")]).coalesce(1))
    root = t.path
    f0 = _v0_file(root)
    meta = _metadata(root)
    ckpt_schema = (
        "add struct<path:string,partitionValues:map<string,string>>, "
        "metaData struct<id:string,schemaString:string,"
        "partitionColumns:array<string>>, "
        "protocol struct<minReaderVersion:int,minWriterVersion:int,"
        "readerFeatures:array<string>>")
    rows = [
        ((f0, {}), None, None),
        (None, (meta["id"], meta["schemaString"], []), None),
        (None, None, (3, 7, ["deletionVectors"])),
    ]
    ckpt_dir = str(tmp_path / "ckpt")
    spark.createDataFrame(rows, ckpt_schema).coalesce(1) \
        .write.parquet(ckpt_dir)
    part = [n for n in os.listdir(ckpt_dir)
            if n.endswith(".parquet")][0]
    os.replace(os.path.join(ckpt_dir, part),
               os.path.join(root, "_delta_log",
                            f"{0:020d}.checkpoint.parquet"))
    os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    with pytest.raises(ValueError, match="deletionVectors"):
        read_delta(spark, root)


def test_vacuumed_log_raises_not_empty(spark, tmp_path):
    # commits 0..k gone, no checkpoint: NOTHING is reconstructible —
    # must raise, never return a partial or empty frame
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1, v="a")]).coalesce(1))
    root = t.path
    _append_commit(root, 1, [
        {"add": {"path": "more.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0,
                 "dataChange": True}}])
    os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    with pytest.raises(ValueError, match="vacuumed/truncated"):
        read_delta(spark, root)
    with pytest.raises(ValueError, match="vacuumed/truncated"):
        read_delta(spark, root, version=1)


def test_version_below_checkpoint_raises_out_of_range(spark, tmp_path):
    # checkpoint at 0 (json commit 0 vacuumed) + commit 1: latest and
    # version 0 read; but make checkpoint at 1 instead and ask for 0 →
    # the state below the checkpoint is gone and must raise pointedly
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1, v="a")]).coalesce(1))
    root = t.path
    f0 = _v0_file(root)
    meta = _metadata(root)
    ckpt_schema = (
        "add struct<path:string,partitionValues:map<string,string>>, "
        "metaData struct<id:string,schemaString:string,"
        "partitionColumns:array<string>>")
    rows = [((f0, {}), None),
            (None, (meta["id"], meta["schemaString"], []))]
    ckpt_dir = str(tmp_path / "ckpt")
    spark.createDataFrame(rows, ckpt_schema).coalesce(1) \
        .write.parquet(ckpt_dir)
    part = [n for n in os.listdir(ckpt_dir)
            if n.endswith(".parquet")][0]
    os.replace(os.path.join(ckpt_dir, part),
               os.path.join(root, "_delta_log",
                            f"{1:020d}.checkpoint.parquet"))
    os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    # latest (=1) reads straight off the checkpoint
    assert _rows(read_delta(spark, root)) == [(1, "a")]
    # version 0 is below the earliest reconstructable state
    with pytest.raises(ValueError,
                       match="earliest reconstructable version is 1"):
        read_delta(spark, root, version=0)


def test_url_encoded_add_path_resolves(spark, tmp_path):
    # add.path is a URL-encoded relative URI per the protocol
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1, v="a")]).coalesce(1))
    root = t.path
    f0 = _v0_file(root)
    odd = "part with space.parquet"
    os.link(os.path.join(root, f0), os.path.join(root, odd))
    _append_commit(root, 1, [
        {"remove": {"path": f0, "dataChange": True}},
        {"add": {"path": "part%20with%20space.parquet",
                 "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}}])
    assert _rows(read_delta(spark, root)) == [(1, "a")]


def test_partition_values_from_log_non_hive_layout(spark, tmp_path):
    # a legal Delta table whose files are NOT hive-laid: partition
    # columns must come from the log's partitionValues, typed per the
    # schema — not from directory names
    import pyspark.sql.functions as F  # noqa: F401
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    for i, (k, ids) in enumerate([("x", [1, 3]), ("y", [2])]):
        spark.createDataFrame([Row(id=i2) for i2 in ids]).coalesce(1) \
            .write.mode("overwrite").parquet(str(tmp_path / "stage"))
        part = [n for n in os.listdir(str(tmp_path / "stage"))
                if n.endswith(".parquet")][0]
        os.replace(str(tmp_path / "stage" / part),
                   os.path.join(root, f"flat-{i}.parquet"))
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {}},
        {"name": "k", "type": "string", "nullable": True,
         "metadata": {}},
        {"name": "n", "type": "integer", "nullable": True,
         "metadata": {}}]})
    _append_commit(root, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "m", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": schema,
                      "partitionColumns": ["k", "n"],
                      "configuration": {}}},
        {"add": {"path": "flat-0.parquet",
                 "partitionValues": {"k": "x", "n": "7"},
                 "size": 1, "modificationTime": 0,
                 "dataChange": True}},
        {"add": {"path": "flat-1.parquet",
                 "partitionValues": {"k": "y", "n": None},
                 "size": 1, "modificationTime": 0,
                 "dataChange": True}}])
    got = read_delta(spark, root)
    assert got.columns == ["id", "k", "n"]
    assert dict(got.dtypes)["n"] == "int"
    assert sorted((r["id"], r["k"], r["n"])
                  for r in got.collect()) == \
        [(1, "x", 7), (2, "y", None), (3, "x", 7)]
    assert sorted(r["id"] for r in
                  got.where("k = 'x'").collect()) == [1, 3]


def test_export_partition_value_escaping_round_trip(spark, tmp_path):
    # Spark escapes ':' in hive dir names (%3A); the committed log must
    # carry the LOGICAL value and the reader must agree end-to-end
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame(
        [Row(id=1, k="a:b"), Row(id=2, k="c d")]), partition_by=["k"])
    root = t.path
    actions = _actions(root, 0)
    pvals = {a["add"]["partitionValues"]["k"]
             for a in actions if "add" in a}
    assert pvals == {"a:b", "c d"}
    got = read_delta(spark, root)
    assert sorted((r["id"], r["k"]) for r in got.collect()) == \
        [(1, "a:b"), (2, "c d")]
    assert [r["id"] for r in got.where("k = 'a:b'").collect()] == [1]


def test_export_delta_history_time_travel_round_trip(spark, tmp_path):
    # one Delta commit per version at the table root: read_delta at k
    # must equal VersionedTable.read(k) — full writes, a segment
    # append, a partitioned overwrite (schema/partition change), a
    # segment over the partitioned base and a compaction
    from legend_community_delta_spark.sources.delta_reader import (
        delta_history)
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")]))
    t.append(spark.createDataFrame([Row(id=3, v="c")]))      # segment
    t.write(spark.createDataFrame(
        [Row(id=10, v="x", k="p"), Row(id=11, v="y", k="q")]),
        operation="OVERWRITE", partition_by=["k"])
    t.append(spark.createDataFrame([Row(id=12, v="z", k="p")]))
    t.compact()
    root = t.path
    assert delta_log_versions(root) == [0, 1, 2, 3, 4]
    for k in range(5):
        want = sorted(tuple(r) for r in
                      t.read(k).select(*sorted(t.read(k).columns))
                      .collect())
        have_df = read_delta(spark, root, version=k)
        have = sorted(tuple(r) for r in
                      have_df.select(*sorted(have_df.columns))
                      .collect())
        assert have == want, f"version {k}"
    assert sorted(r["id"] for r in
                  read_delta(spark, root, version=3).collect()) == \
        [10, 11, 12]
    hist = delta_history(spark, root).collect()
    assert [r["version"] for r in hist] == [4, 3, 2, 1, 0]
    assert [r["operation"] for r in hist] == [
        "COMPACT", "APPEND", "OVERWRITE", "APPEND", "WRITE"]
    # the compacted snapshot is unpartitioned again: one metaData each
    # time the partition columns change
    assert _metadata(root, 2)["partitionColumns"] == ["k"]
    assert _metadata(root, 4)["partitionColumns"] == []
    assert not [a for a in _actions(root, 3) if "metaData" in a]
    d4 = read_delta(spark, root)
    assert sorted(r["k"] for r in d4.collect()) == ["p", "p", "q"]


def test_export_delta_history_segments_without_compaction(
        spark, tmp_path):
    # the streaming shape: full write + N segment appends are add-only
    # commits — no compaction required
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(id=1)]))
    t.append_batch(spark.createDataFrame([Row(id=2)]), batch_id=0)
    t.append_batch(spark.createDataFrame([Row(id=3)]), batch_id=1)
    root = t.path
    assert not [a for a in _actions(root, 2) if "remove" in a]
    for k, want in [(0, [1]), (1, [1, 2]), (2, [1, 2, 3])]:
        assert sorted(r["id"] for r in
                      read_delta(spark, root, version=k).collect()) \
            == want, f"version {k}"
