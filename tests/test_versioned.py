"""Versioned parquet tables: time travel, history, merge — no Delta."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from legend_community_delta_spark.sources.delta_reader import read_delta
from legend_community_delta_spark.sources.versioned import VersionedTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _named_rows(df):
    return sorted((tuple(r) for r in df.select(*sorted(df.columns))
                   .collect()), key=repr)


def assert_delta_matches(spark, t):
    """The table root is a Delta table: a plain log-replay read at every
    retained version (its ``v=N`` data dir still on disk) equals
    ``t.read(k)``."""
    import os as _os
    retained = [k for k in range(t.latest_version() + 1)
                if _os.path.isdir(f"{t.path}/v={k}")]
    assert retained
    for k in retained:
        assert _named_rows(read_delta(spark, t.path, version=k)) == \
            _named_rows(t.read(k)), f"version {k}"


def test_time_travel_and_history(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    v0 = t.write(spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")]))
    v1 = t.append(spark.createDataFrame([Row(id=3, v="c")]))
    assert (v0, v1) == (0, 1)

    # VERSION AS OF: the old snapshot is intact after the append
    assert _rows(t.read(0)) == [(1, "a"), (2, "b")]
    assert _rows(t.read(1)) == [(1, "a"), (2, "b"), (3, "c")]
    assert _rows(t.read()) == _rows(t.read(1))

    hist = t.history().collect()
    assert [r["version"] for r in hist] == [1, 0]          # newest first
    assert [r["operation"] for r in hist] == ["APPEND", "WRITE"]
    assert hist[0]["timestamp"] >= hist[1]["timestamp"]

    with pytest.raises(ValueError, match="out of range"):
        t.read(7)
    with pytest.raises(ValueError, match="empty"):
        VersionedTable(spark, str(tmp_path / "nope")).read()
    assert_delta_matches(spark, t)


def test_merge_is_row_level_and_versioned(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.write(spark.createDataFrame(
        [Row(id=1, v="a"), Row(id=2, v="b"), Row(id=3, v="c")]))
    v = t.merge(spark.createDataFrame(
        [Row(id=2, v="B"), Row(id=4, v="d")]), keys=["id"])
    assert v == 1
    # matched row replaced, new row inserted, untouched rows kept
    assert _rows(t.read()) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    # the pre-merge snapshot still answers queries (drift debugging)
    assert _rows(t.read(0)) == [(1, "a"), (2, "b"), (3, "c")]
    # idempotent re-merge: same end state, one more version
    t.merge(spark.createDataFrame([Row(id=2, v="B")]), keys=["id"])
    assert _rows(t.read()) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    assert t.latest_version() == 2
    assert_delta_matches(spark, t)


def test_vacuum_keeps_history_drops_old_snapshots(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    for i in range(4):
        t.write(spark.createDataFrame([Row(id=j) for j in range(i + 1)]))
    dropped = t.vacuum(keep_last=2)
    assert dropped == [0, 1]
    # history still lists everything; recent versions still readable
    assert [r["version"] for r in t.history().collect()] == [3, 2, 1, 0]
    assert len(t.read(2).collect()) == 3
    assert len(t.read(3).collect()) == 4
    assert_delta_matches(spark, t)


def test_vacuum_protects_append_segment_chain(spark, tmp_path):
    # appends are segments now: vacuum must keep the whole chain down
    # to the full base snapshot until compact() folds it
    t = VersionedTable(spark, str(tmp_path / "segchain"))
    for i in range(4):
        t.append(spark.createDataFrame([Row(id=i)]))
    assert t.vacuum(keep_last=2) == []          # chain needs v0
    assert _rows(t.read()) == [(0,), (1,), (2,), (3,)]
    t.compact(target_files=1)                   # v4 full snapshot
    assert t.vacuum(keep_last=1) == [0, 1, 2, 3]
    assert _rows(t.read()) == [(0,), (1,), (2,), (3,)]
    assert_delta_matches(spark, t)


def test_snapshot_diff_classifies_rows(spark):
    from legend_community_delta_spark.sources.versioned import (
        snapshot_diff)
    old = spark.createDataFrame(
        [Row(id=1, v="a"), Row(id=2, v="b"), Row(id=3, v="c"),
         Row(id=4, v=None)])
    new = spark.createDataFrame(
        [Row(id=1, v="a"),          # unchanged -> absent from output
         Row(id=2, v="B"),          # changed
         Row(id=4, v="NULL"),       # NULL -> the STRING 'NULL': changed
         Row(id=5, v="e")])         # added; id=3 removed
    got = {r.id: r.change
           for r in snapshot_diff(old, new, ["id"]).collect()}
    assert got == {2: "changed", 3: "removed", 4: "changed", 5: "added"}


def test_snapshot_diff_separator_prevents_column_smearing(spark):
    from legend_community_delta_spark.sources.versioned import (
        snapshot_diff)
    # ("ab", "") vs ("a", "b") concatenate identically without a
    # separator; the \x1f join must keep them distinct
    old = spark.createDataFrame([Row(id=1, x="ab", y="")])
    new = spark.createDataFrame([Row(id=1, x="a", y="b")])
    got = snapshot_diff(old, new, ["id"]).collect()
    assert [(r.id, r.change) for r in got] == [(1, "changed")]


def test_diff_versions_over_versioned_table(spark, tmp_path):
    from legend_community_delta_spark.sources.versioned import (
        diff_versions)
    t = VersionedTable(spark, str(tmp_path / "difftbl"))
    t.write(spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")]))
    t.merge(spark.createDataFrame([Row(id=2, v="B"), Row(id=3, v="c")]),
            keys=["id"])
    got = {r.id: r.change
           for r in diff_versions(t, 0, 1, ["id"]).collect()}
    assert got == {2: "changed", 3: "added"}
    assert_delta_matches(spark, t)


def test_compact_rewrites_latest_without_changing_rows(spark, tmp_path):
    import glob
    t = VersionedTable(spark, str(tmp_path / "ctbl"))
    df = spark.createDataFrame([Row(id=i, v=str(i)) for i in range(50)])
    t.write(df.repartition(8))
    before = _rows(t.read())
    n_before = len(glob.glob(f"{t.path}/v=0/part-*"))
    v = t.compact(target_files=1)
    assert v == 1
    assert _rows(t.read()) == before          # identical row set
    assert _rows(t.read(0)) == before         # old snapshot untouched
    n_after = len(glob.glob(f"{t.path}/v=1/part-*"))
    assert n_after == 1 and n_before > 1
    hist = t.history().collect()
    assert hist[0]["operation"] == "COMPACT"
    assert_delta_matches(spark, t)


def test_restore_commits_old_content_as_new_version(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "rtbl"))
    t.write(spark.createDataFrame([Row(id=1, v="good")]))
    t.write(spark.createDataFrame([Row(id=1, v="bad")]))
    v = t.restore(0)
    assert v == 2
    assert _rows(t.read()) == [(1, "good")]
    assert _rows(t.read(1)) == [(1, "bad")]   # history intact
    assert t.history().collect()[0]["operation"] == "RESTORE"
    assert_delta_matches(spark, t)


def test_compact_empty_table_raises(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "etbl"))
    with pytest.raises(ValueError, match="no versions"):
        t.compact()


def test_table_changes_cdf_shape(spark, tmp_path):
    from legend_community_delta_spark.sources.versioned import (
        table_changes)
    t = VersionedTable(spark, str(tmp_path / "cdf"))
    t.write(spark.createDataFrame(
        [Row(id=1, v="a"), Row(id=2, v="b"), Row(id=3, v="c")]))
    # v1: delete id=3, change id=2, insert id=4
    t.write(spark.createDataFrame(
        [Row(id=1, v="a"), Row(id=2, v="B"), Row(id=4, v="d")]))

    ch = table_changes(t, 0, 1, keys=["id"])
    assert ch.columns == ["id", "v", "_change_type", "_commit_version"]
    got = sorted((r["id"], r["v"], r["_change_type"]) for r in ch.collect())
    assert got == [
        (2, "B", "update_postimage"),
        (2, "b", "update_preimage"),
        (3, "c", "delete"),
        (4, "d", "insert"),
    ]
    assert {r["_commit_version"] for r in ch.collect()} == {1}
    # unchanged rows never appear (id=1 absent) — checked by the exact
    # list above; CDF between identical versions is empty
    assert table_changes(t, 1, 1, keys=["id"]).count() == 0
    assert_delta_matches(spark, t)


def test_stream_append_batches_are_segments_and_idempotent(spark,
                                                           tmp_path):
    t = VersionedTable(spark, str(tmp_path / "seg"))
    assert t.append_batch(spark.createDataFrame([Row(id=1)]), 0) == 0
    assert t.append_batch(spark.createDataFrame([Row(id=2)]), 1) == 1
    # replay of batch 1 (at-least-once delivery) is a committed no-op
    assert t.append_batch(spark.createDataFrame([Row(id=2)]), 1) is None
    assert t.append_batch(spark.createDataFrame([Row(id=3)]), 2) == 2
    assert _rows(t.read()) == [(1,), (2,), (3,)]
    # every segment version is itself a consistent prefix view
    assert _rows(t.read(1)) == [(1,), (2,)]
    ops = [r["operation"] for r in t.history().collect()]
    assert ops == ["STREAM_APPEND"] * 3
    # segments write O(batch): version dirs hold only their own rows
    seg = spark.read.parquet(str(tmp_path / "seg" / "v=1"))
    assert _rows(seg) == [(2,)]
    assert_delta_matches(spark, t)


def test_stream_segments_fold_and_vacuum_safely(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "segv"))
    t.write(spark.createDataFrame([Row(id=1)]))           # v0 full
    t.append_batch(spark.createDataFrame([Row(id=2)]), 0)  # v1 segment
    t.append_batch(spark.createDataFrame([Row(id=3)]), 1)  # v2 segment
    assert _rows(t.read()) == [(1,), (2,), (3,)]
    # vacuum keeping only the tip must keep the whole segment chain
    assert t.vacuum(keep_last=1) == []
    assert _rows(t.read()) == [(1,), (2,), (3,)]
    # compact folds the chain into one full snapshot; vacuum can then
    # really drop the old chain
    v = t.compact(target_files=1)
    assert _rows(t.read(v)) == [(1,), (2,), (3,)]
    dropped = t.vacuum(keep_last=1)
    assert dropped == [0, 1, 2]
    assert _rows(t.read()) == [(1,), (2,), (3,)]
    assert_delta_matches(spark, t)


def test_append_is_o_batch_segment(spark, tmp_path):
    # round-10: append commits ONLY the new rows (a segment version),
    # not a rewritten union snapshot — O(batch) like append_batch
    t = VersionedTable(spark, str(tmp_path / "oba"))
    t.write(spark.createDataFrame([Row(id=1), Row(id=2)]))
    v = t.append(spark.createDataFrame([Row(id=3)]))
    assert v == 1
    seg = spark.read.parquet(str(tmp_path / "oba" / "v=1"))
    assert _rows(seg) == [(3,)]                     # only the new rows
    assert _rows(t.read()) == [(1,), (2,), (3,)]    # logical view whole
    assert _rows(t.read(0)) == [(1,), (2,)]
    hist = t.history().collect()
    assert [r["operation"] for r in hist] == ["APPEND", "WRITE"]
    assert_delta_matches(spark, t)


def test_commit_race_loser_raises_and_log_stays_linear(spark, tmp_path):
    import json as _json
    from legend_community_delta_spark.sources.versioned import (
        ConcurrentWriteError)
    t1 = VersionedTable(spark, str(tmp_path / "race"))
    t2 = VersionedTable(spark, str(tmp_path / "race"))
    t1.write(spark.createDataFrame([Row(id=1)]))
    # both writers picked version 1; t1 reaches the commit point first
    t1._commit(1, "APPEND", {"winner": True})
    with pytest.raises(ConcurrentWriteError, match="version 1"):
        t2._commit(1, "APPEND", {"winner": False})
    # the winner's entry is untouched and the log is linear
    commits = t1._infos()
    assert sorted(commits) == [0, 1]
    log_dir = tmp_path / "race" / "_delta_log"
    with open(log_dir / f"{1:020d}.json") as fh:
        assert _json.loads(fh.readline())["commitInfo"]["winner"] is True
    # no stray tmp file left behind by the loser
    import os as _os
    assert not [f for f in _os.listdir(log_dir) if "tmp" in f]


def test_orphan_version_dir_recovered_on_replay(spark, tmp_path):
    # crash between the data rename and the commit point leaves a
    # token-stamped orphan v=N dir; ONLY the same stream batch's
    # replay may clear it implicitly (same logical write)
    from legend_community_delta_spark.sources.versioned import (
        ConcurrentWriteError)
    t = VersionedTable(spark, str(tmp_path / "orph"))
    t.write(spark.createDataFrame([Row(id=1)]))
    # simulate the dead stream writer: stage + promote batch 7's data
    # to v=1, then die before the commit-log link
    staging, _tok = t._stage(
        spark.createDataFrame([Row(id=98), Row(id=99)]),
        {"operation": "STREAM_APPEND", "batch_id": 7})
    t._promote(staging, 1, batch_id=7)
    assert t.latest_version() == 0          # orphan invisible to readers
    # a DIFFERENT batch id must NOT clear it (could be a live writer)
    with pytest.raises(ConcurrentWriteError, match="not committed"):
        t.append_batch(spark.createDataFrame([Row(id=5)]), batch_id=8)
    # the SAME batch id is a replay of the same logical write: recovers
    v = t.append_batch(spark.createDataFrame([Row(id=2)]), batch_id=7)
    assert v == 1
    assert _rows(t.read()) == [(1,), (2,)]  # orphan rows are GONE
    assert_delta_matches(spark, t)


def test_untracked_orphan_raises_and_recover_orphans_clears(
        spark, tmp_path):
    # an out-of-protocol v=N dir (no token) is never deleted silently:
    # the writer raises; recover_orphans() is the explicit remedy
    from legend_community_delta_spark.sources.versioned import (
        ConcurrentWriteError)
    t = VersionedTable(spark, str(tmp_path / "uorph"))
    t.write(spark.createDataFrame([Row(id=1)]))
    spark.createDataFrame([Row(id=77)]) \
        .write.parquet(str(tmp_path / "uorph" / "v=1"))
    with pytest.raises(ConcurrentWriteError, match="recover_orphans"):
        t.append(spark.createDataFrame([Row(id=3)]))
    removed = t.recover_orphans()
    assert any(p.endswith("v=1") for p in removed)
    assert t.append(spark.createDataFrame([Row(id=3)])) == 1
    assert _rows(t.read()) == [(1,), (3,)]
    assert_delta_matches(spark, t)


def test_interleaved_writers_winner_data_survives(spark, tmp_path):
    # round-10 verdict finding: under _clear_orphan, writer B could
    # silently replace in-flight data that writer A then committed.
    # Staged writes make that impossible: interleave A (staged, about
    # to promote) with B (full write of the same version) and prove
    # the COMMITTED version's rows are exactly its own writer's.
    from legend_community_delta_spark.sources.versioned import (
        ConcurrentWriteError)
    t_a = VersionedTable(spark, str(tmp_path / "ilv"))
    t_b = VersionedTable(spark, str(tmp_path / "ilv"))
    t_a.write(spark.createDataFrame([Row(id=0)]))
    # A stages its v=1 data but has not promoted yet
    staging_a, tok_a = t_a._stage(
        spark.createDataFrame([Row(id=101)]), {"operation": "WRITE"})
    # B races through a complete write of version 1
    assert t_b.write(spark.createDataFrame([Row(id=202)])) == 1
    # A promotes into v=1 -> loses LOUDLY (data dir already committed)
    with pytest.raises(ConcurrentWriteError, match="committed"):
        t_a._promote(staging_a, 1)
    # B's committed version is intact: its own rows, token verified
    assert _rows(t_a.read(1)) == [(202,)]
    commits = t_a._infos()
    assert t_a._dir_token(1)["token"] == commits[1]["write_token"]
    # A's staging dir was cleaned up on failure
    import os as _os
    assert not [d for d in _os.listdir(str(tmp_path / "ilv"))
                if d.startswith(".stage-")]
    assert_delta_matches(spark, t_a)


def test_read_detects_token_mismatch(spark, tmp_path):
    # a committed version whose data dir was replaced out-of-protocol
    # fails loudly at read time instead of serving foreign rows
    import json as _json
    import shutil as _shutil
    t = VersionedTable(spark, str(tmp_path / "tok"))
    t.write(spark.createDataFrame([Row(id=1)]))
    t.write(spark.createDataFrame([Row(id=2)]))
    # corrupt: swap v=1's data dir for one with a different token
    _shutil.rmtree(str(tmp_path / "tok" / "v=1"))
    spark.createDataFrame([Row(id=666)]) \
        .write.parquet(str(tmp_path / "tok" / "v=1"))
    with open(str(tmp_path / "tok" / "v=1" / "_write_token.json"),
              "w") as fh:
        _json.dump({"token": "impostor"}, fh)
    with pytest.raises(ValueError, match="token does not match"):
        t.read(1)


def test_table_changes_does_not_pin_cache_entries(spark, tmp_path):
    # round-10 verdict finding: diff.cache() pinned one CacheManager
    # entry per CDF call for the session lifetime.  localCheckpoint
    # keeps the cache manager empty; checkpointed blocks are released
    # by the ContextCleaner once the DataFrame is collected.
    from legend_community_delta_spark.sources.versioned import (
        table_changes)
    # the session is shared suite-wide, so assert RELATIVE emptiness:
    # start from a clean cache and require table_changes to add nothing
    spark.catalog.clearCache()
    t = VersionedTable(spark, str(tmp_path / "cdfleak"))
    t.write(spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")]))
    for i in range(3):
        t.merge(spark.createDataFrame([Row(id=2, v=f"c{i}")]), ["id"])
        table_changes(t, i, i + 1, ["id"]).collect()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "table_changes must not leave cached plans"
    assert_delta_matches(spark, t)


def test_append_batch_composes_with_partitioned_base(spark, tmp_path):
    # a segment on a hive-partitioned table is written with the table's
    # partition columns, so one Delta log describes base and segment
    t = VersionedTable(spark, str(tmp_path / "hivseg"))
    t.write(spark.createDataFrame(
        [Row(id=1, k="a"), Row(id=2, k="b")]), partition_by=["k"])
    v = t.append_batch(spark.createDataFrame([Row(id=3, k="a")]), 0)
    assert v == 1
    assert (tmp_path / "hivseg" / "v=1" / "k=a").is_dir()
    got = sorted((r["id"], r["k"]) for r in t.read().collect())
    assert got == [(1, "a"), (2, "b"), (3, "a")]
    # partition filtering still answers correctly on the merged view
    assert sorted(r["id"] for r in t.read()
                  .where("k = 'a'").collect()) == [1, 3]
    assert_delta_matches(spark, t)


def test_segment_schema_evolution_union_by_name(spark, tmp_path):
    # a later segment adds a column; its commit re-emits the table
    # schema with the column appended, and older files read it as null
    t = VersionedTable(spark, str(tmp_path / "sevo"))
    t.write(spark.createDataFrame([Row(id=1)]))
    t.append(spark.createDataFrame([Row(id=2, extra="x")]))
    got = sorted((r["id"], r["extra"]) for r in t.read().collect())
    assert got == [(1, None), (2, "x")]
    assert_delta_matches(spark, t)


def _actions(root, version):
    import json as _json
    with open(f"{root}/_delta_log/{version:020d}.json") as fh:
        return [_json.loads(line) for line in fh]


def test_export_delta_log_single_commit_table(spark, tmp_path):
    # every version is one commit in the public Delta transaction-log
    # format at the table root: commitInfo first, protocol + metaData
    # at version 0, a remove per live file for a full snapshot, and
    # one add per parquet file of its v=N directory
    import json as _json
    import os as _os
    t = VersionedTable(spark, str(tmp_path / "dexp"))
    t.write(spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")]))
    t.merge(spark.createDataFrame([Row(id=2, v="c")]), ["id"])
    root = t.path
    c0, c1 = _actions(root, 0), _actions(root, 1)
    assert c0[0]["commitInfo"]["operation"] == "WRITE"
    assert c0[0]["commitInfo"]["write_token"]
    assert c0[1]["protocol"] == {"minReaderVersion": 1,
                                 "minWriterVersion": 2}
    meta = c0[2]["metaData"]
    assert meta["format"]["provider"] == "parquet"
    schema = _json.loads(meta["schemaString"])
    assert [f["name"] for f in schema["fields"]] == ["id", "v"]
    assert c1[0]["commitInfo"]["operation"] == "MERGE"
    assert c1[0]["commitInfo"]["keys"] == ["id"]
    assert not [a for a in c1 if "metaData" in a or "protocol" in a]
    adds0 = {a["add"]["path"] for a in c0 if "add" in a}
    assert {a["remove"]["path"] for a in c1 if "remove" in a} == adds0
    adds = [a["add"] for a in c1 if "add" in a]
    assert adds, "at least one data file"
    for a in adds:
        full = _os.path.join(root, a["path"])
        assert _os.path.isfile(full)
        assert a["size"] == _os.path.getsize(full)
        assert a["dataChange"] is True
    # every parquet file in the snapshot is referenced exactly once
    on_disk = {f"v=1/{n}" for n in _os.listdir(t.snapshot_dir(1))
               if n.endswith(".parquet")}
    assert {a["path"] for a in adds} == on_disk
    assert _rows(read_delta(spark, root)) == [(1, "a"), (2, "c")]
    # plain spark.read.parquet on the snapshot directory still works
    got = sorted(tuple(r) for r in
                 spark.read.parquet(t.snapshot_dir(1)).collect())
    assert got == [(1, "a"), (2, "c")]
    assert_delta_matches(spark, t)


def test_export_delta_log_partitioned_snapshot(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "dexp2"))
    t.write(spark.createDataFrame(
        [Row(id=1, k="x"), Row(id=2, k="y"), Row(id=3, k="x")]),
        partition_by=["k"])
    actions = _actions(t.path, 0)
    assert actions[2]["metaData"]["partitionColumns"] == ["k"]
    adds = [a["add"] for a in actions if "add" in a]
    assert {a["partitionValues"].get("k") for a in adds} == {"x", "y"}
    for a in adds:
        assert a["path"].startswith("v=0/k=")
    assert_delta_matches(spark, t)


def test_export_delta_log_refuses_segments(spark, tmp_path):
    # a segment whose shared column changes type is refused at write
    # time, before any data lands; the table stays a readable Delta
    # table and compact() folds the good segment
    import os as _os
    t = VersionedTable(spark, str(tmp_path / "dexp3"))
    t.write(spark.createDataFrame([Row(id=1)]))
    t.append(spark.createDataFrame([Row(id=2)]))
    with pytest.raises(ValueError, match="column id is bigint"):
        t.append(spark.createDataFrame([Row(id="3")]))
    assert t.latest_version() == 1
    assert not _os.path.exists(f"{t.path}/v=2")
    t.compact()
    assert _rows(read_delta(spark, t.path)) == [(1,), (2,)]
    assert_delta_matches(spark, t)


def test_export_delta_log_readable_by_delta_when_available(
        spark, tmp_path):
    # import-gated: in environments WITH delta-spark the table root
    # must open as a real Delta table; here it documents the intended
    # consumer (this container has no delta wheel)
    pytest.importorskip("delta")
    t = VersionedTable(spark, str(tmp_path / "dexp4"))
    t.write(spark.createDataFrame([Row(id=1, v="a")]))
    got = sorted(tuple(r) for r in
                 spark.read.format("delta").load(t.path).collect())
    assert got == [(1, "a")]


def test_empty_partitioned_snapshot_stays_readable(spark, tmp_path):
    # a zero-row partitioned write leaves no parquet file; the commit's
    # schema comes from df.schema, so the table reads back empty with
    # the written schema instead of failing schema inference
    schema = "id bigint, v string, k string"
    t = VersionedTable(spark, str(tmp_path / "empty"))
    t.write(spark.createDataFrame([], schema), partition_by=["k"])
    want = spark.createDataFrame([], schema).schema
    for df in (t.read(), read_delta(spark, t.path)):
        assert df.count() == 0
        assert df.schema.simpleString() == want.simpleString()
    assert_delta_matches(spark, t)


def test_append_batch_table_is_delta_at_every_version(spark, tmp_path):
    # a table begun by append_batch (a segment at version 0) is a Delta
    # table at every version through the catalog-free table surface
    from legend_community_delta_spark.sources import tables
    if tables._delta_available():
        pytest.skip("delta-spark present: catalog path covers this")
    vt = VersionedTable(spark, str(tmp_path / "stream12"))
    for i in range(12):
        vt.append_batch(spark.createDataFrame([Row(id=i, v=f"r{i}")]), i)
    vt.merge(spark.createDataFrame([Row(id=3, v="m")]), ["id"])
    for k in range(13):
        assert _rows(tables.read_version(spark, vt.path, k)) == \
            _rows(vt.read(k)), f"version {k}"
    assert _rows(vt.read(5)) == [(i, f"r{i}") for i in range(6)]
    assert tables.table_history(spark, vt.path).collect() == \
        vt.history().collect()
    assert_delta_matches(spark, vt)


def test_append_batch_reads_the_log_at_most_twice(spark, tmp_path,
                                                  monkeypatch):
    # one replay before staging (replayed batch ids, schema) and one
    # after (version, commit) — not one pass per check
    from legend_community_delta_spark.sources import delta_reader
    vt = VersionedTable(spark, str(tmp_path / "reads"))
    for i in range(5):
        vt.append_batch(spark.createDataFrame([Row(id=i)]), i)
    calls = []
    real = delta_reader._log_entries
    monkeypatch.setattr(delta_reader, "_log_entries",
                        lambda log_dir: calls.append(log_dir)
                        or real(log_dir))
    assert vt.append_batch(spark.createDataFrame([Row(id=5)]), 5) == 5
    assert len(calls) <= 2, calls
    calls.clear()
    assert vt.append_batch(spark.createDataFrame([Row(id=5)]), 5) is None
    assert len(calls) == 1
    monkeypatch.undo()
    assert _rows(vt.read()) == [(i,) for i in range(6)]
    assert_delta_matches(spark, vt)


def test_first_commit_after_crash_left_empty_log(spark, tmp_path):
    # a first commit that died before its link leaves _delta_log without
    # a commit: the table is still empty to a writer
    import os as _os
    vt = VersionedTable(spark, str(tmp_path / "crashed"))
    _os.makedirs(f"{vt.path}/_delta_log")
    assert vt.latest_version() is None
    assert vt.append_batch(spark.createDataFrame([Row(id=1)]), 0) == 0
    assert _rows(vt.read()) == [(1,)]
