"""Merge-on-read delete semantics of SnapshotTable (Iceberg
equality-delete files + compaction) — the mechanism that makes the
frontier's per-round commit O(round) instead of O(pending).

Contract under test (catalog.py append_with_deletes/read/compact):
- an append_with_deletes commit atomically appends rows AND deletes
  every pre-existing row whose key matches;
- tombstones are sequence-aware: they never delete rows appended in the
  same or a later commit (Iceberg sequence-number rule) — so
  re-enqueueing a previously-consumed key (recrawl / forget+rediscover)
  works with plain append;
- compaction clears tombstones without changing the visible rows;
- time travel (read at an older version) still sees the old state;
- the appended rows may instead be a data dir another table already
  committed (shared, never copied), or nothing (a tombstone-only commit).
"""

from __future__ import annotations

import os
import tempfile

from etlpy_spark.sources.catalog import SnapshotTable, TableLayout, write_part


def _t(spark, rows):
    return spark.createDataFrame(rows, schema="k string, v int")


def _keys(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], schema="k string")


def _read_set(tbl, version=None):
    return {(r.k, r.v) for r in tbl.read(version).collect()}


def test_append_with_deletes_basic(spark):
    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="mor_"))
    tbl.overwrite(_t(spark, [("a", 1), ("b", 2), ("c", 3)]))
    v = tbl.append_with_deletes(_t(spark, [("d", 4)]), _keys(spark, ["a"]),
                                key="k", compact_threshold=100.0)
    assert _read_set(tbl) == {("b", 2), ("c", 3), ("d", 4)}
    snap = tbl.snapshot(v)
    assert snap.delete_dirs and snap.delete_key == "k"
    # no data-file rewrite happened: the original dir is still listed
    assert len(snap.data_dirs) == 2


def test_tombstones_are_sequence_aware(spark):
    """A key deleted in commit N and re-appended in commit N+1 is live:
    the tombstone binds only to data dirs that existed before it."""
    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="mor_"))
    tbl.overwrite(_t(spark, [("a", 1), ("b", 2)]))
    tbl.append_with_deletes(_t(spark, []), _keys(spark, ["a"]), key="k",
                            compact_threshold=100.0)
    assert _read_set(tbl) == {("b", 2)}
    tbl.append(_t(spark, [("a", 9)]))  # plain append re-enqueues the key
    assert _read_set(tbl) == {("b", 2), ("a", 9)}


def test_same_commit_rows_survive_own_tombstone(spark):
    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="mor_"))
    tbl.overwrite(_t(spark, [("a", 1), ("b", 2)]))
    tbl.append_with_deletes(_t(spark, [("a", 7)]), _keys(spark, ["a"]),
                            key="k", compact_threshold=100.0)
    assert _read_set(tbl) == {("b", 2), ("a", 7)}


def test_compaction_clears_tombstones_preserving_rows(spark):
    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="mor_"))
    tbl.overwrite(_t(spark, [(f"k{i}", i) for i in range(10)]))
    # threshold 0 -> every MoR commit compacts immediately
    v = tbl.append_with_deletes(
        _t(spark, [("x", 99)]), _keys(spark, ["k0", "k1"]), key="k",
        compact_threshold=0.0,
    )
    snap = tbl.snapshot(v)
    assert not snap.delete_dirs
    assert len(snap.data_dirs) == 1
    assert _read_set(tbl) == {(f"k{i}", i) for i in range(2, 10)} | {("x", 99)}


def test_meta_and_time_travel_through_mor(spark):
    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="mor_"))
    v1 = tbl.overwrite(_t(spark, [("a", 1), ("b", 2)]), meta={"round": 0})
    tbl.append_with_deletes(_t(spark, [("c", 3)]), _keys(spark, ["a"]),
                            key="k", meta={"round": 1},
                            compact_threshold=100.0)
    assert tbl.latest_meta()["round"] == 1
    assert _read_set(tbl, version=v1) == {("a", 1), ("b", 2)}
    # compaction carries the current meta forward by default
    v3 = tbl.compact()
    assert tbl.latest_meta()["round"] == 1
    assert not tbl.snapshot(v3).delete_dirs
    assert _read_set(tbl) == {("b", 2), ("c", 3)}


def test_accumulated_tombstones_trigger_auto_compaction(spark):
    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="mor_"))
    tbl.overwrite(_t(spark, [(f"k{i}", i) for i in range(8)]))
    # delete 2 keys per commit at threshold 0.5: 2/6 live is under, the
    # cumulative 4/(9-4) live after the second commit crosses it
    tbl.append_with_deletes(_t(spark, [("n1", 0)]), _keys(spark, ["k0", "k1"]),
                            key="k", compact_threshold=0.5)
    assert tbl.snapshot(tbl.current_version()).delete_dirs
    tbl.append_with_deletes(_t(spark, [("n2", 0)]), _keys(spark, ["k2", "k3"]),
                            key="k", compact_threshold=0.5)
    assert not tbl.snapshot(tbl.current_version()).delete_dirs
    assert _read_set(tbl) == (
        {(f"k{i}", i) for i in range(4, 8)} | {("n1", 0), ("n2", 0)}
    )


def test_plain_appends_grow_live_row_stats(spark):
    """Rows appended BETWEEN MoR commits must count into mor_stats: with
    the live count frozen at the first tombstone commit, a later tiny
    retraction would read tomb > threshold*live and fire a full
    compaction on a table that is almost entirely live (regression)."""
    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="mor_"))
    tbl.overwrite(_t(spark, [(f"a{i}", i) for i in range(10)]))
    tbl.append_with_deletes(_t(spark, []), _keys(spark, ["a0"]),
                            key="k", compact_threshold=0.5)
    # 100 plain-append rows later, retracting ONE more key is 2 tombstones
    # over ~109 live rows — far under the 0.5 threshold
    tbl.append(_t(spark, [(f"x{i}", i) for i in range(100)]))
    stats = tbl.snapshot(tbl.current_version()).mor_stats
    assert stats["data"] == 10 + 100, stats
    v = tbl.append_with_deletes(_t(spark, []), _keys(spark, ["a1"]),
                                key="k", compact_threshold=0.5)
    snap = tbl.snapshot(v)
    assert snap.delete_dirs, "small retraction must NOT trigger compaction"
    assert snap.mor_stats["data"] == 110 and snap.mor_stats["tomb"] == 2
    assert _read_set(tbl) == (
        {(f"a{i}", i) for i in range(2, 10)} | {(f"x{i}", i) for i in range(100)}
    )


def test_append_with_deletes_takes_a_written_dir_or_none(spark):
    """Beside a DataFrame, ``append_with_deletes`` appends an already
    written data dir (here another table's committed dir, referenced, not
    copied) or nothing at all (None: a tombstone-only commit). A layout
    table reads with its declared schema, so a snapshot with no data dir
    reads as 0 rows."""
    layout = TableLayout("k string, v int", sort=("k",))
    root = tempfile.mkdtemp(prefix="mor_")
    tbl = SnapshotTable(spark, os.path.join(root, "t"), layout)
    other = SnapshotTable(spark, os.path.join(root, "o"), layout)
    tbl.overwrite(_t(spark, [("a", 1), ("b", 2)]))
    ov, odir = other.begin_external()
    write_part(layout, {"k": ["c", "a"], "v": [3, 9]},
               os.path.join(odir, "part-00000.parquet"))
    other.commit_external(ov, odir)

    v = tbl.append_with_deletes(odir, _keys(spark, ["a"]), key="k",
                                compact_threshold=100.0)
    snap = tbl.snapshot(v)
    assert snap.data_dirs[-1] == odir
    assert not os.path.exists(os.path.join(root, "t", "data", snap.name))
    assert snap.mor_stats == {"data": 4, "tomb": 1}
    # the tombstone binds only to the dirs before it: the shared dir's
    # ("a", 9) stays live
    assert _read_set(tbl) == {("b", 2), ("c", 3), ("a", 9)}

    v2 = tbl.append_with_deletes(None, _keys(spark, ["b", "c"]), key="k",
                                 compact_threshold=100.0)
    snap2 = tbl.snapshot(v2)
    assert snap2.data_dirs == snap.data_dirs
    assert snap2.mor_stats == {"data": 4, "tomb": 3}
    assert _read_set(tbl) == {("a", 9)}
    # the other table's view of the shared dir is untouched
    assert _read_set(other) == {("c", 3), ("a", 9)}

    empty = SnapshotTable(spark, os.path.join(root, "e"), layout)
    empty.append_with_deletes(None, None, key="k")
    assert empty.snapshot(empty.current_version()).data_dirs == []
    df = empty.read()
    assert df.count() == 0 and df.columns == ["k", "v"]


def test_live_rows_and_flag_count_come_from_the_writes(spark):
    """Each manifest records its live rows (before + appended - tombstone
    rows, counted by the writes), the tombstone write counts the set rows
    of a ``flag`` column for a callable meta, and a commit that would add
    nothing is skipped unless it carries meta."""
    layout = TableLayout("k string, v int", sort=("k",))
    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="mor_"), layout)
    tbl.overwrite(_t(spark, [("a", 1), ("b", 2), ("c", 3)]))
    assert tbl.live_rows() == 3
    counts = []
    dels = spark.createDataFrame([("a", True), ("b", False)], "k string, f boolean")
    v = tbl.append_with_deletes(
        _t(spark, [("d", 4)]), dels, key="k", flag="f", compact_threshold=100.0,
        meta=lambda *c: counts.append(c) or {"round": 1},
    )
    assert counts == [(1, 2, 1)]  # (appended, tombstone rows, flagged)
    assert tbl.live_rows() == 2 == tbl.read().count()
    assert tbl.append_with_deletes(None, _keys(spark, []), key="k") == v
    v2 = tbl.append_with_deletes(None, _keys(spark, []), key="k", meta={"round": 2},
                                 compact_threshold=100.0)
    assert v2 == v + 1 and tbl.latest_meta() == {"round": 2}
    assert tbl.live_rows() == 2
