"""Transaction-log table format: ACID semantics, time travel,
file-level mutation pruning, checkpointed replay, vacuum.

Covers the reference's transactional wishlist (WRITE_TRUNCATE
replaces, backup/rollback recipes) on the log-structured backend —
see ``sources/txlog.py`` docstring for the design source.
"""

import json
import os

import pytest
from pyspark.sql import Row, functions as F

from mpg_data_warehouse_spark.sources import txlog


def _mk(spark, ids, seg="a"):
    return spark.createDataFrame(
        [Row(cust_id=i, segment=seg, balance=float(i) * 10) for i in ids]
    )


def test_create_read_roundtrip(spark, tmp_path):
    t = str(tmp_path / "t")
    v = txlog.create(spark, t, _mk(spark, range(10)))
    assert v == 0
    got = txlog.read(spark, t)
    assert got.count() == 10
    assert {r.cust_id for r in got.collect()} == set(range(10))


def test_create_twice_raises(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(3)))
    with pytest.raises(FileExistsError):
        txlog.create(spark, t, _mk(spark, range(3)))


def test_append_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(5)))
    v1 = txlog.append(spark, t, _mk(spark, range(5, 8)))
    assert v1 == 1
    assert txlog.read(spark, t).count() == 8
    # VERSION AS OF 0 still sees the pre-append table
    assert txlog.read(spark, t, version=0).count() == 5


def test_append_schema_mismatch_raises(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(3)))
    bad = spark.createDataFrame([Row(cust_id=1, other="x")])
    with pytest.raises(ValueError, match="schema mismatch"):
        txlog.append(spark, t, bad)


def test_overwrite_is_atomic_snapshot(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(5)))
    # pin the old snapshot BEFORE overwriting
    old = txlog.read(spark, t, version=0)
    txlog.overwrite(spark, t, _mk(spark, range(100, 103), seg="b"))
    new = txlog.read(spark, t)
    assert new.count() == 3
    assert {r.segment for r in new.collect()} == {"b"}
    # immutable data files: the pinned snapshot still reads cleanly
    assert old.count() == 5


def test_merge_upserts_and_inserts(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(10)))
    updates = spark.createDataFrame(
        [
            Row(cust_id=3, segment="vip", balance=999.0),  # update
            Row(cust_id=42, segment="new", balance=1.0),  # insert
        ]
    )
    txlog.merge(spark, t, updates, keys=["cust_id"])
    got = {r.cust_id: r for r in txlog.read(spark, t).collect()}
    assert len(got) == 11
    assert got[3].segment == "vip" and got[3].balance == 999.0
    assert got[42].segment == "new"
    assert got[7].balance == 70.0  # untouched row intact


def test_merge_rewrites_only_touched_files(spark, tmp_path):
    """File-level pruning proof: after a point merge, every data file
    of the untouched appends is still listed (same path) in the new
    snapshot — only files containing the merged key were rewritten."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(0, 10)).coalesce(1))
    txlog.append(spark, t, _mk(spark, range(100, 110)).coalesce(1))
    txlog.append(spark, t, _mk(spark, range(200, 210)).coalesce(1))
    before = set(txlog.snapshot_state(t)["files"])
    assert len(before) == 3

    updates = spark.createDataFrame(
        [Row(cust_id=105, segment="vip", balance=0.0)]
    )
    txlog.merge(spark, t, updates, keys=["cust_id"])
    after = set(txlog.snapshot_state(t)["files"])
    survivors = before & after
    # exactly the two files without cust_id=105 survive by identity
    assert len(survivors) == 2
    assert txlog.read(spark, t).count() == 30


def test_merge_footer_stats_prune_skips_scan(spark, tmp_path):
    """Disjoint key ranges prune on footer min/max alone: the commit
    touches zero existing files (pure insert) even though the exact
    check never scanned them."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(0, 10)).coalesce(1))
    state = txlog.snapshot_state(t)
    updates = spark.createDataFrame(
        [Row(cust_id=10_000, segment="x", balance=0.0)]
    )
    assert (
        txlog._touched_files(spark, t, state, updates, ["cust_id"]) == []
    )
    txlog.merge(spark, t, updates, keys=["cust_id"])
    hist = txlog.history(t)
    assert hist[0]["op"] == "merge" and hist[0]["removes"] == 0
    assert txlog.read(spark, t).count() == 11


def test_delete_where(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(0, 10)).coalesce(1))
    txlog.append(spark, t, _mk(spark, range(100, 110)).coalesce(1))
    before = set(txlog.snapshot_state(t)["files"])
    txlog.delete(spark, t, "cust_id >= 100 AND cust_id < 105")
    after = txlog.snapshot_state(t)
    got = txlog.read(spark, t)
    assert got.count() == 15
    assert got.where("cust_id >= 100 AND cust_id < 105").count() == 0
    # the 0..9 file had no matching row: kept by identity, not rewritten
    assert len(before & set(after["files"])) == 1


def test_delete_no_match_is_noop_commit(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(5)))
    v = txlog.delete(spark, t, "cust_id > 999")
    assert v == 0  # no new commit
    assert txlog.read(spark, t).count() == 5


def test_restore_is_metadata_only(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(5)))
    txlog.overwrite(spark, t, _mk(spark, range(100, 102)))
    v = txlog.restore(spark, t, version=0)
    assert v == 2  # history is append-only
    restored = txlog.read(spark, t)
    assert {r.cust_id for r in restored.collect()} == set(range(5))
    # and the bad version is still auditable
    assert txlog.read(spark, t, version=1).count() == 2
    assert [h["op"] for h in txlog.history(t)] == [
        "restore",
        "overwrite",
        "create",
    ]


def test_mutation_failure_never_corrupts(spark, tmp_path):
    """A write that dies before commit leaves the table byte-identical:
    data files are immutable and the log never references the orphans."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(5)))
    # simulate a crashed writer: data files written, commit never lands
    txlog._write_data_files(_mk(spark, range(900, 905)), t, [])
    assert txlog.read(spark, t).count() == 5
    assert txlog.latest_version(t) == 0
    # vacuum collects the orphans
    doomed = txlog.vacuum(t, retain_versions=1, min_age_seconds=0)
    assert doomed  # the orphan files went
    assert txlog.read(spark, t).count() == 5


def test_concurrent_append_retries_past_race(spark, tmp_path):
    """Losing the version race must NOT drop the append: pre-steal the
    next commit slot and check the append lands at the slot after."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(5)))
    # another writer takes version 1 first
    stolen = os.path.join(t, txlog.LOG_DIR, "00000001.json")
    with open(stolen, "x") as fh:
        json.dump({"op": "append", "actions": []}, fh)
    v = txlog.append(spark, t, _mk(spark, range(10, 13)))
    assert v == 2
    assert txlog.read(spark, t).count() == 8


def test_merge_conflict_on_concurrently_removed_file(spark, tmp_path):
    """A merge whose touched file was rewritten underneath it must
    raise TxConflict, not silently resurrect stale rows."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(5)).coalesce(1))
    state = txlog.snapshot_state(t)
    # concurrent overwrite replaces every file after our state read
    txlog.overwrite(spark, t, _mk(spark, range(50, 55)))
    removed = set(state["files"])

    def build(s):
        gone = removed - set(s["files"])
        if gone:
            raise txlog.TxConflict(str(sorted(gone)))
        return {"op": "merge", "actions": []}

    with pytest.raises(txlog.TxConflict):
        txlog._commit_retry(t, build)


def test_checkpoint_bounds_replay(spark, tmp_path):
    """After > CHECKPOINT_EVERY commits, replay serves from the newest
    checkpoint + tail; state equals a full-log replay."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, [0]))
    for i in range(1, txlog.CHECKPOINT_EVERY + 3):
        txlog.append(spark, t, _mk(spark, [i]))
    head = txlog.latest_version(t)
    assert head == txlog.CHECKPOINT_EVERY + 2
    cp = txlog._newest_checkpoint_at_or_before(t, head)
    assert cp == txlog.CHECKPOINT_EVERY
    assert os.path.exists(txlog._checkpoint_path(t, cp))
    state = txlog.snapshot_state(t)
    assert len(state["files"]) >= head + 1 - 0  # one+ file per commit
    assert txlog.read(spark, t).count() == head + 1
    # time travel BEFORE the checkpoint still replays from genesis
    assert txlog.read(spark, t, version=2).count() == 3


def test_commit_meta_survives_checkpoint_and_time_travel(spark, tmp_path):
    """A commit's ``meta`` is carried forward by commits without one,
    written into the checkpoint, and pinned by time travel. The commits
    before the checkpoint are deleted after it is written, so the
    newest versions can only get their ``meta`` through it."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, [0]))
    head = txlog.CHECKPOINT_EVERY + 2
    for v in range(1, head + 1):
        commit = {"op": "stamp", "actions": []}
        if v % 3 == 0:  # versions 3, 6, 9, 12 carry meta; the rest none
            commit["meta"] = {"v": v}
        assert txlog._try_commit(t, v, commit)

    def meta_at(v):
        return txlog.snapshot_state(t, v)["meta"]

    assert meta_at(0) is None and meta_at(2) is None
    assert [meta_at(v) for v in (3, 5, 6, 10, 11)] == [
        {"v": 3}, {"v": 3}, {"v": 6}, {"v": 9}, {"v": 9}
    ]
    cp = txlog._newest_checkpoint_at_or_before(t, head)
    assert cp == txlog.CHECKPOINT_EVERY
    with open(txlog._checkpoint_path(t, cp)) as fh:
        assert json.load(fh)["meta"] == {"v": 9}
    for v in range(cp):
        os.remove(os.path.join(t, txlog.LOG_DIR, f"{v:08d}.json"))
    assert meta_at(cp + 1) == {"v": 9}
    assert meta_at(head) == {"v": 12}
    assert txlog.read(spark, t).count() == 1


def test_partitioned_table_roundtrip_and_merge(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            Row(cust_id=i, segment="a" if i % 2 else "b", balance=float(i))
            for i in range(20)
        ]
    )
    txlog.create(spark, t, df, partition_by=["segment"])
    got = txlog.read(spark, t)
    assert set(got.columns) == {"cust_id", "segment", "balance"}
    assert got.count() == 20
    assert got.where(F.col("segment") == "a").count() == 10
    updates = spark.createDataFrame(
        [Row(cust_id=3, segment="a", balance=-1.0)]
    )
    txlog.merge(spark, t, updates, keys=["cust_id"])
    row = txlog.read(spark, t).where("cust_id = 3").first()
    assert row.balance == -1.0 and row.segment == "a"
    assert txlog.read(spark, t).count() == 20


def test_compact_collapses_groups_keeps_rows(spark, tmp_path):
    t = str(tmp_path / "t")
    df0 = spark.createDataFrame(
        [Row(cust_id=i, segment="a" if i % 2 else "b", balance=1.0) for i in range(8)]
    )
    txlog.create(spark, t, df0, partition_by=["segment"])
    for i in range(3):
        txlog.append(
            spark,
            t,
            spark.createDataFrame(
                [Row(cust_id=100 + i, segment="a", balance=2.0)]
            ),
        )
    assert len({p.split(os.sep)[1] for p in txlog.snapshot_state(t)["files"]}) == 4
    txlog.compact(spark, t)
    state = txlog.snapshot_state(t)
    assert len({p.split(os.sep)[1] for p in state["files"]}) == 1
    got = txlog.read(spark, t)
    assert got.count() == 11
    assert got.where("segment = 'a'").count() == 7
    # pre-compaction snapshot still time-travels
    assert txlog.read(spark, t, version=0).count() == 8


def test_vacuum_respects_retention_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(5)))
    txlog.overwrite(spark, t, _mk(spark, range(10, 12)))
    txlog.overwrite(spark, t, _mk(spark, range(20, 24)))
    # retain last 2 snapshots: v2 (live) and v1
    doomed = txlog.vacuum(t, retain_versions=2, min_age_seconds=0)
    assert doomed  # v0's files are gone
    assert txlog.read(spark, t).count() == 4
    assert txlog.read(spark, t, version=1).count() == 2
    with pytest.raises(Exception):
        txlog.read(spark, t, version=0).collect()
    with pytest.raises(ValueError):
        txlog.vacuum(t, retain_versions=0, min_age_seconds=0)


def test_add_actions_carry_footer_stats(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(7)).coalesce(1))
    (action,) = txlog.snapshot_state(t)["files"].values()
    assert action["rows"] == 7
    assert action["min"]["cust_id"] == 0
    assert action["max"]["cust_id"] == 6
    assert action["min"]["balance"] == 0.0
    assert action["max"]["balance"] == 60.0


def test_read_changes_insert_only_window(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(5)))
    txlog.append(spark, t, _mk(spark, range(10, 13)))
    ch = txlog.read_changes(spark, t, from_version=0)
    rows = ch.collect()
    assert {r._change_type for r in rows} == {"insert"}
    assert {r.cust_id for r in rows} == {10, 11, 12}
    # empty window -> empty feed, schema intact
    empty = txlog.read_changes(spark, t, from_version=1)
    assert empty.count() == 0
    assert "_change_type" in empty.columns


def test_read_changes_merge_emits_delete_and_insert(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(3)).coalesce(1))
    updates = spark.createDataFrame(
        [Row(cust_id=1, segment="vip", balance=0.0)]
    )
    txlog.merge(spark, t, updates, keys=["cust_id"])
    ch = txlog.read_changes(spark, t, from_version=0)
    by_type = {}
    for r in ch.collect():
        by_type.setdefault(r._change_type, []).append(r)
    # old file (3 rows) deleted, merged file (3 rows) inserted
    assert len(by_type["delete"]) == 3
    assert len(by_type["insert"]) == 3
    new = {r.cust_id: r.segment for r in by_type["insert"]}
    assert new[1] == "vip"


def test_read_changes_churn_cancels(spark, tmp_path):
    """A file added and removed inside the window (append then
    compact) must not appear in the feed at all."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(3)))
    txlog.append(spark, t, _mk(spark, range(10, 12)))
    txlog.compact(spark, t)
    added, removed = txlog.files_changed_between(t, 0)
    # the appended file churned away; net effect: create-files removed,
    # compacted file added
    ch = txlog.read_changes(spark, t, from_version=0)
    ins = ch.where("_change_type = 'insert'")
    dels = ch.where("_change_type = 'delete'")
    assert ins.count() == 5  # compacted file: all 5 live rows
    assert {r.cust_id for r in dels.collect()} == {0, 1, 2}


def test_incremental_rollup_bootstrap_and_refresh(spark, tmp_path):
    t = str(tmp_path / "t")
    roll = str(tmp_path / "roll")
    txlog.create(spark, t, _mk(spark, range(10)))  # seg 'a', bal i*10
    v = txlog.incremental_rollup(
        spark, t, roll, ["segment"], {"total": "balance", "n": "1"}
    )
    assert v == 0
    got = {r.segment: (r.total, r.n) for r in txlog.read(spark, roll).collect()}
    assert got == {"a": (450.0, 10)}

    # append-only refresh: only the new files are read
    txlog.append(spark, t, _mk(spark, range(100, 102), seg="b"))
    v = txlog.incremental_rollup(
        spark, t, roll, ["segment"], {"total": "balance", "n": "1"}
    )
    assert v == 1
    got = {r.segment: (r.total, r.n) for r in txlog.read(spark, roll).collect()}
    assert got == {"a": (450.0, 10), "b": (2010.0, 2)}

    # no-op cycle: nothing changed since last refresh
    assert (
        txlog.incremental_rollup(
            spark, t, roll, ["segment"], {"total": "balance", "n": "1"}
        )
        == 1
    )


def test_incremental_rollup_handles_deletes(spark, tmp_path):
    t = str(tmp_path / "t")
    roll = str(tmp_path / "roll")
    txlog.create(spark, t, _mk(spark, range(4)).coalesce(1))
    txlog.incremental_rollup(
        spark, t, roll, ["segment"], {"total": "balance", "n": "1"}
    )
    txlog.delete(spark, t, "cust_id >= 2")
    txlog.incremental_rollup(
        spark, t, roll, ["segment"], {"total": "balance", "n": "1"}
    )
    got = {r.segment: (r.total, r.n) for r in txlog.read(spark, roll).collect()}
    # rows 0,1 remain: total 0+10, n=2 — deletes applied as negated partials
    assert got == {"a": (10.0, 2)}
    # and it matches a from-scratch groupBy of the live table
    fresh = (
        txlog.read(spark, t)
        .groupBy("segment")
        .agg(F.sum("balance").alias("total"), F.count("*").alias("n"))
        .collect()
    )
    assert {r.segment: (r.total, r.n) for r in fresh} == {"a": (10.0, 2)}


def test_incremental_rollup_drops_fully_deleted_group(spark, tmp_path):
    """A group whose every source row is deleted must VANISH from the
    rollup (matching a fresh GROUP BY), not survive as a zero row."""
    t = str(tmp_path / "t")
    roll = str(tmp_path / "roll")
    a = _mk(spark, range(3)).coalesce(1)
    b = _mk(spark, range(100, 103), seg="b").coalesce(1)
    txlog.create(spark, t, a)
    txlog.append(spark, t, b)
    txlog.incremental_rollup(
        spark, t, roll, ["segment"], {"total": "balance", "n": "1"}
    )
    txlog.delete(spark, t, "segment = 'b'")  # wipes group b entirely
    txlog.incremental_rollup(
        spark, t, roll, ["segment"], {"total": "balance", "n": "1"}
    )
    got = {r.segment: (r.total, r.n) for r in txlog.read(spark, roll).collect()}
    assert got == {"a": (30.0, 3)}  # no phantom zero-row for 'b'
    fresh = (
        txlog.read(spark, t)
        .groupBy("segment")
        .agg(F.sum("balance").alias("total"), F.count("*").alias("n"))
        .collect()
    )
    assert {r.segment: (r.total, r.n) for r in fresh} == got


def test_cluster_by_compaction_sharpens_pruning(spark, tmp_path):
    """After OPTIMIZE with cluster_by, files own disjoint key slices:
    a point merge touches exactly one file, and read_pruned skips the
    rest at the metadata level."""
    t = str(tmp_path / "t")
    # interleaved appends: every file spans most of the key range
    txlog.create(spark, t, _mk(spark, range(0, 100, 2)).coalesce(1))
    txlog.append(spark, t, _mk(spark, range(1, 100, 2)).coalesce(1))
    state = txlog.snapshot_state(t)
    # unclustered: both files overlap any point key's range
    assert (
        len(
            txlog._touched_files(
                spark,
                t,
                state,
                spark.createDataFrame(
                    [Row(cust_id=51, segment="a", balance=0.0)]
                ),
                ["cust_id"],
            )
        )
        >= 1
    )

    txlog.compact(spark, t, target_partitions=4, cluster_by=["cust_id"])
    state = txlog.snapshot_state(t)
    ranges = sorted(
        (a["min"]["cust_id"], a["max"]["cust_id"])
        for a in state["files"].values()
    )
    assert len(ranges) == 4
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint slices

    # point merge now touches exactly one file
    updates = spark.createDataFrame(
        [Row(cust_id=51, segment="vip", balance=0.0)]
    )
    touched = txlog._touched_files(spark, t, state, updates, ["cust_id"])
    assert len(touched) == 1

    # and read_pruned's file list shrinks to the matching slice
    pruned = txlog.read_pruned(spark, t, "cust_id", lo=50, hi=55)
    assert {r.cust_id for r in pruned.collect()} == set(range(50, 56))


def test_read_pruned_matches_full_filter(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(50)).coalesce(2))
    txlog.append(spark, t, _mk(spark, range(100, 150)).coalesce(2))
    full = txlog.read(spark, t).where("cust_id >= 120").collect()
    pruned = txlog.read_pruned(spark, t, "cust_id", lo=120).collect()
    assert sorted(r.cust_id for r in pruned) == sorted(
        r.cust_id for r in full
    )
    with pytest.raises(ValueError):
        txlog.read_pruned(spark, t, "cust_id")


def test_append_merge_schema_evolves_additively(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(3)))
    wider = spark.createDataFrame(
        [
            Row(cust_id=10, segment="a", balance=1.0, tier="gold"),
        ]
    )
    # strict mode still refuses
    with pytest.raises(ValueError, match="schema mismatch"):
        txlog.append(spark, t, wider)
    txlog.append(spark, t, wider, merge_schema=True)
    got = txlog.read(spark, t)
    assert set(got.columns) == {"cust_id", "segment", "balance", "tier"}
    rows = {r.cust_id: r for r in got.collect()}
    assert rows[10].tier == "gold"
    assert rows[0].tier is None  # pre-evolution rows read as null
    # subsequent strict appends must carry the evolved schema
    with pytest.raises(ValueError, match="schema mismatch"):
        txlog.append(spark, t, _mk(spark, range(100, 101)))


def test_append_merge_schema_rejects_type_change(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(3)))
    conflicted = spark.createDataFrame(
        [Row(cust_id="not-a-number", segment="a", balance=1.0)]
    )
    with pytest.raises(ValueError, match="merge conflict on 'cust_id'"):
        txlog.append(spark, t, conflicted, merge_schema=True)


def test_scripted_op_sequence_matches_model(spark, tmp_path):
    """Model-based check: a fixed mixed sequence of appends, merges,
    deletes, overwrites, restores, and compactions must leave the
    table equal to a driver-side dict model applied step by step —
    and every intermediate version must still time-travel to its
    recorded state."""
    t = str(tmp_path / "t")

    def row(i, seg="a", bal=None):
        return Row(
            cust_id=i, segment=seg, balance=float(i) if bal is None else bal
        )

    def df(rows):
        return spark.createDataFrame(rows)

    model: dict[int, tuple] = {}
    snapshots: dict[int, dict] = {}

    def snap(version):
        snapshots[version] = dict(model)

    v = txlog.create(spark, t, df([row(i) for i in range(5)]))
    model.update({i: ("a", float(i)) for i in range(5)})
    snap(v)

    v = txlog.append(spark, t, df([row(i, "b") for i in range(10, 13)]))
    model.update({i: ("b", float(i)) for i in range(10, 13)})
    snap(v)

    v = txlog.merge(
        spark, t, df([row(2, "vip", 99.0), row(50, "new", 1.0)]), ["cust_id"]
    )
    model[2] = ("vip", 99.0)
    model[50] = ("new", 1.0)
    snap(v)

    v = txlog.delete(spark, t, "segment = 'b'")
    model = {k: vv for k, vv in model.items() if vv[0] != "b"}
    snap(v)

    v = txlog.compact(spark, t, target_partitions=2)
    snap(v)

    v = txlog.overwrite(spark, t, df([row(100, "z", 0.0)]))
    model = {100: ("z", 0.0)}
    snap(v)

    restore_to = 3  # the post-delete state
    v = txlog.restore(spark, t, restore_to)
    model = dict(snapshots[restore_to])
    snap(v)

    v = txlog.merge(spark, t, df([row(0, "a", -1.0)]), ["cust_id"])
    model[0] = ("a", -1.0)
    snap(v)

    def table_state(version=None):
        return {
            r.cust_id: (r.segment, r.balance)
            for r in txlog.read(spark, t, version).collect()
        }

    assert table_state() == model
    for version, expected in snapshots.items():
        assert table_state(version) == expected, f"version {version}"


def test_two_threads_append_concurrently(spark, tmp_path):
    """Two writers racing real commits: both appends must land (at
    distinct versions) with no lost update and no duplicate rows."""
    import threading

    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(3)))
    errors = []

    def worker(lo):
        try:
            txlog.append(spark, t, _mk(spark, range(lo, lo + 5)))
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [
        threading.Thread(target=worker, args=(lo,)) for lo in (100, 200)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    got = sorted(r.cust_id for r in txlog.read(spark, t).collect())
    assert got == sorted(
        list(range(3)) + list(range(100, 105)) + list(range(200, 205))
    )
    assert txlog.latest_version(t) == 2


def test_diff_versions_is_churn_exact(spark, tmp_path):
    """Compaction churns every file, but the row-level diff between
    the pre-churn and post-merge versions reports only the real
    changes."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(5)))
    v0 = 0
    txlog.compact(spark, t)  # pure churn: no row changed
    txlog.merge(
        spark,
        t,
        spark.createDataFrame(
            [Row(cust_id=2, segment="vip", balance=0.0),
             Row(cust_id=77, segment="new", balance=1.0)]
        ),
        ["cust_id"],
    )
    txlog.delete(spark, t, "cust_id = 4")
    got = {
        (r.cust_id, r.change)
        for r in txlog.diff_versions(
            spark, t, v0, keys=["cust_id"]
        ).collect()
    }
    assert got == {(2, "changed"), (77, "added"), (4, "removed")}


# ---------------------------------------------------------------------------
# review-pass regressions
# ---------------------------------------------------------------------------


def test_delete_null_predicate_rows_survive(spark, tmp_path):
    """SQL DELETE semantics: rows where the predicate is NULL are NOT
    deleted (a bare NOT(pred) filter would drop them)."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            Row(cust_id=1, segment="a", balance=10.0),
            Row(cust_id=2, segment="a", balance=None),
            Row(cust_id=3, segment="a", balance=99.0),
        ]
    ).coalesce(1)
    txlog.create(spark, t, df)
    txlog.delete(spark, t, "balance > 50")
    got = {r.cust_id for r in txlog.read(spark, t).collect()}
    assert got == {1, 2}  # the NULL-balance row survives


def test_merge_conflicts_on_concurrent_overlapping_append(spark, tmp_path):
    """Write-skew guard: an append landing between a merge's snapshot
    and its commit, containing a possibly-matching key, must raise
    TxConflict instead of committing duplicate keys."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(5)).coalesce(1))
    state = txlog.snapshot_state(t)
    updates = spark.createDataFrame(
        [Row(cust_id=2, segment="vip", balance=0.0)]
    )
    adds, removed, bounds = txlog._plan_merge(
        spark, t, state, updates, ["cust_id"]
    )
    # concurrent append of the same key range lands first
    txlog.append(spark, t, _mk(spark, [2]))
    base = set(state["files"])

    def build(s):
        txlog._merge_conflict_check(s, base, removed, ["cust_id"], bounds)
        return {"op": "merge", "actions": []}

    with pytest.raises(txlog.TxConflict, match="possibly containing"):
        txlog._commit_retry(t, build)
    # a disjoint-range append does NOT conflict
    t2 = str(tmp_path / "t2")
    txlog.create(spark, t2, _mk(spark, range(5)).coalesce(1))
    state2 = txlog.snapshot_state(t2)
    adds2, removed2, bounds2 = txlog._plan_merge(
        spark, t2, state2, updates, ["cust_id"]
    )
    txlog.append(spark, t2, _mk(spark, [10_000]))
    base2 = set(state2["files"])

    def build2(s):
        txlog._merge_conflict_check(s, base2, removed2, ["cust_id"], bounds2)
        return {
            "op": "merge",
            "actions": [{"remove": {"path": p}} for p in sorted(removed2)]
            + [{"add": a} for a in adds2],
        }

    txlog._commit_retry(t2, build2)  # commits fine
    assert txlog.read(spark, t2).where("cust_id = 2").count() == 1


def test_vacuum_age_threshold_spares_inflight_files(spark, tmp_path):
    """Freshly written but not-yet-committed files must survive vacuum
    (they may belong to a commit about to land)."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(3)))
    txlog._write_data_files(_mk(spark, range(900, 903)), t, [])
    assert txlog.vacuum(t, min_age_seconds=3600) == []
    assert txlog.vacuum(t, min_age_seconds=0) != []


def test_string_partition_values_roundtrip_exactly(spark, tmp_path):
    """Partition-type inference must not mangle string partition
    values ('007' staying '007', not int 7)."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            Row(cust_id=1, segment="007", balance=1.0),
            Row(cust_id=2, segment="ab", balance=2.0),
        ]
    )
    txlog.create(spark, t, df, partition_by=["segment"])
    got = {r.cust_id: r.segment for r in txlog.read(spark, t).collect()}
    assert got == {1: "007", 2: "ab"}
    assert dict(txlog.read(spark, t).dtypes)["segment"] == "string"


def test_diff_versions_rejects_inverted_window(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(3)))
    txlog.append(spark, t, _mk(spark, range(10, 12)))
    with pytest.raises(ValueError, match="bad version window"):
        txlog.diff_versions(spark, t, 1, 0, keys=["cust_id"])


def test_diff_versions_sees_changes_in_evolved_columns(spark, tmp_path):
    """A change confined to a column added after from_version is still
    reported (columns aligned on the union, not old's set)."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(3)).coalesce(1))
    wider = spark.createDataFrame(
        [Row(cust_id=1, segment="a", balance=10.0, tier="gold")]
    )
    txlog.append(spark, t, wider, merge_schema=True)
    # merge changes ONLY the evolved column for cust_id=1
    txlog.merge(
        spark,
        t,
        spark.createDataFrame(
            [Row(cust_id=1, segment="a", balance=10.0, tier="silver")]
        ),
        ["cust_id"],
    )
    got = {
        (r.cust_id, r.change)
        for r in txlog.diff_versions(spark, t, 1, keys=["cust_id"]).collect()
    }
    assert (1, "changed") in got


def test_restore_past_vacuum_horizon_raises(spark, tmp_path):
    """ADVICE r4: restoring to a version whose files were vacuumed
    must raise BEFORE committing, not brick the live table."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(3)).coalesce(1))
    txlog.overwrite(spark, t, _mk(spark, range(10, 13)).coalesce(1))
    deleted = txlog.vacuum(t, retain_versions=1, min_age_seconds=0)
    assert deleted, "v0 files should have been collected"
    head_before = txlog.latest_version(t)
    with pytest.raises(FileNotFoundError, match="vacuum"):
        txlog.restore(spark, t, 0)
    # no commit installed; table still reads fine
    assert txlog.latest_version(t) == head_before
    assert txlog.read(spark, t).count() == 3


def test_restore_within_retention_still_works(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(3)).coalesce(1))
    txlog.overwrite(spark, t, _mk(spark, range(10, 13)).coalesce(1))
    txlog.restore(spark, t, 0)
    assert {r.cust_id for r in txlog.read(spark, t).collect()} == {0, 1, 2}


def test_merge_duplicate_key_batch_raises(spark, tmp_path):
    """ADVICE r4: multiple update rows per key would make the upsert
    nondeterministic (Delta raises MultipleSourceRowMatches)."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(3)))
    dup = spark.createDataFrame(
        [
            Row(cust_id=1, segment="x", balance=1.0),
            Row(cust_id=1, segment="y", balance=2.0),
        ]
    )
    with pytest.raises(ValueError, match="rows per"):
        txlog.merge(spark, t, dup, keys=["cust_id"])


def test_merge_null_key_batch_raises(spark, tmp_path):
    """ADVICE r4: null keys never equi-match, so every merge would
    re-insert them — duplicates accumulate across merges."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(3)))
    bad = spark.createDataFrame(
        [Row(cust_id=None, segment="x", balance=1.0)],
        "cust_id bigint, segment string, balance double",
    )
    with pytest.raises(ValueError, match="NULL"):
        txlog.merge(spark, t, bad, keys=["cust_id"])


def test_pluggable_commit_backend_contended(spark, tmp_path):
    """A fake backend that loses the first N put races (a concurrent
    writer installs the version slot first) — the optimistic retry
    loop must re-read the fresh state and land at a later version,
    observing the rival's rows. Proves the ACID claim is portable:
    only CommitBackend.put_if_absent needs an object-store port."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(3)))

    class ContendedBackend(txlog.CommitBackend):
        """Simulates another writer winning the slot: before the
        caller's first `races` attempts, install a rival commit at
        the same path, forcing put_if_absent to return False."""

        def __init__(self, races):
            self.inner = txlog.LocalFSCommitBackend()
            self.races = races
            self.attempts = 0

        def put_if_absent(self, path, payload):
            self.attempts += 1
            if self.attempts <= self.races:
                rival = {
                    "op": "append",
                    "actions": [],
                    "rival": self.attempts,
                }
                assert self.inner.put_if_absent(path, json.dumps(rival))
                return False
            return self.inner.put_if_absent(path, payload)

    backend = ContendedBackend(races=3)
    prev = txlog.set_commit_backend(backend)
    try:
        v = txlog.append(spark, t, _mk(spark, range(10, 12)))
    finally:
        txlog.set_commit_backend(prev)
    # 3 lost races (versions 1..3 taken by the rival) + 1 win
    assert backend.attempts == 4
    assert v == 4
    assert {r["version"] for r in txlog.history(t)} == {0, 1, 2, 3, 4}
    assert txlog.read(spark, t).count() == 5


def test_local_backend_never_exposes_partial_commit(tmp_path):
    """put_if_absent is all-or-nothing: the losing writer leaves the
    winner's payload untouched, and the installed file is complete."""
    b = txlog.LocalFSCommitBackend()
    target = str(tmp_path / "log" / "00000001.json")
    assert b.put_if_absent(target, '{"op": "first"}')
    assert not b.put_if_absent(target, '{"op": "second"}')
    assert json.load(open(target)) == {"op": "first"}
    # no temp-file litter from either attempt
    assert os.listdir(os.path.dirname(target)) == ["00000001.json"]


def test_row_count_is_metadata_only_and_version_pinned(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(7)))
    txlog.append(spark, t, _mk(spark, range(10, 15)))
    assert txlog.row_count(t) == 12
    assert txlog.row_count(t, version=0) == 7
    txlog.delete(spark, t, "cust_id >= 10")
    assert txlog.row_count(t) == 7
    # agrees with the real scan at every version
    assert txlog.row_count(t) == txlog.read(spark, t).count()


def test_compact_zorder_tightens_both_dimensions(spark, tmp_path):
    """After ZORDER compaction, a point predicate on EITHER column
    prunes most files via footer stats (read_pruned), where the
    unclustered layout straddles every file."""
    import itertools

    t = str(tmp_path / "t")
    rows = [
        Row(x=float(x), y=float(y), payload=x * 100 + y)
        for x, y in itertools.product(range(32), range(32))
    ]
    df = spark.createDataFrame(rows).repartition(8)  # random layout
    txlog.create(spark, t, df)
    txlog.compact(spark, t, target_partitions=16, zorder_by=("x", "y"))
    state = txlog.snapshot_state(t)

    def files_overlapping(col, v):
        return [
            a for a in state["files"].values()
            if a["min"].get(col) is not None
            and a["min"][col] <= v <= a["max"][col]
        ]

    n = len(state["files"])
    assert n >= 8
    # both dimensions prune: a point value overlaps well under half
    # the files in each
    assert len(files_overlapping("x", 3.0)) <= n // 2
    assert len(files_overlapping("y", 3.0)) <= n // 2
    # rows survived exactly
    assert txlog.row_count(t) == 1024
    got = txlog.read(spark, t).where("x = 3.0 and y = 3.0").collect()
    assert len(got) == 1 and got[0].payload == 303


def test_compact_rejects_both_clusterings(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(3)))
    with pytest.raises(ValueError, match="not both"):
        txlog.compact(
            spark, t, cluster_by=["cust_id"], zorder_by=("cust_id", "balance")
        )


def test_column_stats_metadata_only_and_version_pinned(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(5)))
    stats0 = txlog.column_stats(t)
    assert stats0["cust_id"] == (0, 4)
    assert stats0["balance"] == (0.0, 40.0)
    txlog.append(spark, t, _mk(spark, range(90, 95)))
    assert txlog.column_stats(t)["cust_id"] == (0, 94)
    # pinned version still sees the old bounds
    assert txlog.column_stats(t, version=0)["cust_id"] == (0, 4)
    txlog.delete(spark, t, "cust_id >= 90")
    assert txlog.column_stats(t)["cust_id"] == (0, 4)


def test_cdf_diff_null_payload_is_layout_independent(spark, tmp_path):
    """A NULL-payload row must not leak into a CDF-derived change
    report: untouched NULL rows never enter the feed, and a
    rewritten-but-unchanged NULL row self-cancels ONLY under a
    null-safe (eqNullSafe) payload anti-join — the plain anti-join
    would tag it changed whenever footer-stats pruning happened to
    rewrite its file (layout-dependent output)."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    sch = StructType(
        [
            StructField("cust_id", LongType()),
            StructField("segment", StringType()),
            StructField("balance", DoubleType()),
        ]
    )
    t = str(tmp_path / "t")
    # file A: ids 1-3, id 2 has NULL balance (will be rewritten by merge)
    txlog.create(
        spark,
        t,
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", None), (3, "a", 30.0)], sch
        ).coalesce(1),
    )
    # file B: id 10 NULL balance, untouched by the merge (stats-pruned)
    txlog.append(
        spark, t, spark.createDataFrame([(10, "b", None)], sch).coalesce(1)
    )
    txlog.merge(
        spark,
        t,
        spark.createDataFrame([(1, "a", 99.0)], sch),
        keys=["cust_id"],
    )
    ch = txlog.read_changes(spark, t, from_version=1)
    ins = ch.filter(F.col("_change_type") == "insert").alias("l")
    dels = (
        ch.filter(F.col("_change_type") == "delete")
        .select("cust_id", "balance")
        .alias("r")
    )
    cond = F.col("l.cust_id").eqNullSafe(F.col("r.cust_id")) & F.col(
        "l.balance"
    ).eqNullSafe(F.col("r.balance"))
    changed = ins.join(dels, cond, "left_anti")
    assert {r.cust_id for r in changed.collect()} == {1}


def test_incremental_sketch_rollup_hll_matches_fresh_build(spark, tmp_path):
    """Bootstrap + two append increments: the maintained HLL rollup's
    registers must be BIT-IDENTICAL to a fresh hll_sketch over the
    live table (delta maintenance ≡ full rescan — register max is
    monotone under inserts)."""
    from mpg_data_warehouse_spark.operators.sketch import hll_sketch

    t = str(tmp_path / "t")
    roll = str(tmp_path / "roll")
    txlog.create(spark, t, _mk(spark, range(20)))
    v = txlog.incremental_sketch_rollup(
        spark, t, roll, ["segment"], "cust_id", kind="hll"
    )
    assert v == 0
    txlog.append(spark, t, _mk(spark, range(100, 140), seg="b"))
    txlog.append(spark, t, _mk(spark, range(15, 30)))  # overlaps seg a
    v = txlog.incremental_sketch_rollup(
        spark, t, roll, ["segment"], "cust_id", kind="hll"
    )
    assert v == 2
    got = {
        r.segment: list(r.hll_registers)
        for r in txlog.read(spark, roll).collect()
    }
    want = {
        r.segment: list(r.hll_registers)
        for r in hll_sketch(
            txlog.read(spark, t), ["segment"], "cust_id"
        ).collect()
    }
    assert got == want
    # no-op cycle returns the already-processed version
    assert (
        txlog.incremental_sketch_rollup(
            spark, t, roll, ["segment"], "cust_id", kind="hll"
        )
        == 2
    )


def test_incremental_sketch_rollup_kmv_matches_fresh_build(spark, tmp_path):
    """Same contract for the bottom-k kind: maintained minima arrays
    bit-identical to a fresh kmv_sketch of the live table."""
    from mpg_data_warehouse_spark.operators.sketch import kmv_sketch

    t = str(tmp_path / "t")
    roll = str(tmp_path / "roll")
    txlog.create(spark, t, _mk(spark, range(30)))
    txlog.incremental_sketch_rollup(
        spark, t, roll, ["segment"], "cust_id", kind="kmv"
    )
    txlog.append(spark, t, _mk(spark, range(200, 290), seg="b"))
    txlog.incremental_sketch_rollup(
        spark, t, roll, ["segment"], "cust_id", kind="kmv"
    )
    got = {
        r.segment: list(r.kmv_minima)
        for r in txlog.read(spark, roll).collect()
    }
    want = {
        r.segment: list(r.kmv_minima)
        for r in kmv_sketch(
            txlog.read(spark, t), ["segment"], "cust_id"
        ).collect()
    }
    assert got == want


def test_incremental_sketch_rollup_quantile_matches_fresh_build(
    spark, tmp_path
):
    """kind='quantile': the maintained bottom-k-by-id-hash sample must
    be bit-identical to a fresh quantile_sketch of the live table —
    the insert-monotonicity argument shared with KMV, on (h, v)
    structs."""
    from mpg_data_warehouse_spark.operators.sketch import quantile_sketch

    t = str(tmp_path / "t")
    roll = str(tmp_path / "roll")
    txlog.create(spark, t, _mk(spark, range(30)))
    txlog.incremental_sketch_rollup(
        spark, t, roll, ["segment"], "balance",
        kind="quantile", id_cols=["cust_id"],
    )
    txlog.append(spark, t, _mk(spark, range(200, 290), seg="b"))
    txlog.incremental_sketch_rollup(
        spark, t, roll, ["segment"], "balance",
        kind="quantile", id_cols=["cust_id"],
    )
    got = {
        r.segment: [(s["h"], s["v"]) for s in r.qs_sample]
        for r in txlog.read(spark, roll).collect()
    }
    want = {
        r.segment: [(s["h"], s["v"]) for s in r.qs_sample]
        for r in quantile_sketch(
            txlog.read(spark, t), ["segment"], "balance", ["cust_id"]
        ).collect()
    }
    assert got == want


def test_incremental_sketch_rollup_quantile_requires_id_cols(
    spark, tmp_path
):
    with pytest.raises(ValueError, match="id_cols"):
        txlog.incremental_sketch_rollup(
            spark, str(tmp_path / "t"), str(tmp_path / "roll"),
            ["segment"], "balance", kind="quantile",
        )


def test_incremental_sketch_rollup_refuses_removals(spark, tmp_path):
    """Sketch state cannot retract rows: any file removal inside the
    catch-up window (delete/merge/compact) must raise, not silently
    over-count."""
    t = str(tmp_path / "t")
    roll = str(tmp_path / "roll")
    txlog.create(spark, t, _mk(spark, range(10)).coalesce(1))
    txlog.incremental_sketch_rollup(
        spark, t, roll, ["segment"], "cust_id", kind="hll"
    )
    txlog.delete(spark, t, "cust_id >= 5")
    with pytest.raises(ValueError, match="removed"):
        txlog.incremental_sketch_rollup(
            spark, t, roll, ["segment"], "cust_id", kind="hll"
        )


def test_incremental_sketch_rollup_bad_kind(spark, tmp_path):
    with pytest.raises(ValueError, match="kind"):
        txlog.incremental_sketch_rollup(
            spark,
            str(tmp_path / "t"),
            str(tmp_path / "roll"),
            ["segment"],
            "cust_id",
            kind="cms",
        )


def test_sketch_rollup_bootstrap_is_single_commit(spark, tmp_path):
    """r8 ADVICE low: the bootstrap stamp must ride the CREATE commit
    itself — a two-commit bootstrap that crashed between them left a
    rollup with no rollup_src_version, re-entering the bootstrap
    branch and raising FileExistsError forever."""
    t = str(tmp_path / "t")
    roll = str(tmp_path / "roll")
    txlog.create(spark, t, _mk(spark, range(10)))
    txlog.incremental_sketch_rollup(
        spark, t, roll, ["segment"], "cust_id", kind="hll"
    )
    # version 0 (the create) carries the stamp — no second commit
    assert txlog.latest_version(roll) == 0
    assert txlog._read_commit(roll, 0)["rollup_src_version"] == 0


def test_sketch_rollup_recovers_unstamped_table(spark, tmp_path):
    """A rollup table that exists WITHOUT any stamp in its history
    (legacy crashed bootstrap) must be rebuilt-and-stamped in place,
    not wedge on FileExistsError."""
    from mpg_data_warehouse_spark.operators.sketch import hll_sketch

    t = str(tmp_path / "t")
    roll = str(tmp_path / "roll")
    txlog.create(spark, t, _mk(spark, range(10)))
    # simulate the legacy crash: rollup data committed, stamp never
    # landed (create it with correct content but no stamp)
    txlog.create(
        spark, roll, hll_sketch(txlog.read(spark, t), ["segment"], "cust_id")
    )
    txlog.append(spark, t, _mk(spark, range(10, 30), seg="b"))
    v = txlog.incremental_sketch_rollup(
        spark, t, roll, ["segment"], "cust_id", kind="hll"
    )
    assert v == 1
    got = {
        r.segment: list(r.hll_registers)
        for r in txlog.read(spark, roll).collect()
    }
    want = {
        r.segment: list(r.hll_registers)
        for r in hll_sketch(
            txlog.read(spark, t), ["segment"], "cust_id"
        ).collect()
    }
    assert got == want
    # and the recovery stamped it: the next call is a clean no-op
    assert (
        txlog.incremental_sketch_rollup(
            spark, t, roll, ["segment"], "cust_id", kind="hll"
        )
        == 1
    )


def test_incremental_rollup_unstamped_bootstrap_rebuilds(spark, tmp_path):
    """A rollup table with NO rollup_src_version stamp anywhere in its
    history (a legacy two-commit bootstrap that crashed between create
    and stamp, or a foreign table at the path) must be REPLACED by the
    fresh full build — the old behavior merged the full recompute into
    the existing content and silently DOUBLED every sum (the wedge the
    sketch rollup closed in r9, now closed for the sum rollup too)."""
    t = str(tmp_path / "t")
    roll = str(tmp_path / "roll")
    txlog.create(spark, t, _mk(spark, range(10)))
    # simulate the crashed legacy bootstrap: rollup CONTENT exists
    # (even with the maintenance column) but no commit is stamped
    stale = (
        _mk(spark, range(10))
        .groupBy("segment")
        .agg(
            F.sum("balance").alias("total"),
            F.sum(F.lit(1)).alias("n"),
            F.sum(F.lit(1)).alias("__nrows"),
        )
    )
    txlog.create(spark, roll, stale)
    v = txlog.incremental_rollup(
        spark, t, roll, ["segment"], {"total": "balance", "n": "1"}
    )
    assert v == 0
    got = {r.segment: (r.total, r.n) for r in txlog.read(spark, roll).collect()}
    assert got == {"a": (450.0, 10)}, f"double-counted: {got}"
    # and the rebuild is stamped: the next cycle is an O(delta) no-op
    assert (
        txlog.incremental_rollup(
            spark, t, roll, ["segment"], {"total": "balance", "n": "1"}
        )
        == 0
    )


def test_delete_predicate_bounds_extraction(spark):
    """_predicate_bounds: sound bounds from top-level conjuncts only —
    every recognized shape narrows, everything else contributes
    nothing, OR at the root yields {}."""
    sch = {"cust_id": "bigint", "segment": "string", "balance": "double"}
    b = txlog._predicate_bounds(
        spark,
        "cust_id BETWEEN 5 AND 10 AND segment = 'a' AND balance >= 20.0",
        sch,
    )
    assert b["cust_id"] == (5, 10)
    assert b["segment"] == ("a", "a")
    assert b["balance"] == (20.0, None)
    # reversed operands + strict ops narrow conservatively
    b = txlog._predicate_bounds(spark, "100 > cust_id AND 3 <= cust_id")
    assert b["cust_id"] == (3, 100)
    # IN lists take min..max
    b = txlog._predicate_bounds(spark, "cust_id IN (7, 2, 9)")
    assert b["cust_id"] == (2, 9)
    # date literals render to the footer-stats encoding (ISO strings)
    b = txlog._predicate_bounds(
        spark, "d >= DATE'2024-01-02'", {"d": "date"}
    )
    assert b["d"] == ("2024-01-02", None)
    # an OR at the root must extract NOTHING (pruning would be unsound)
    assert (
        txlog._predicate_bounds(spark, "cust_id = 1 OR segment = 'b'", sch)
        == {}
    )
    # unrecognized conjuncts don't poison their siblings
    b = txlog._predicate_bounds(
        spark, "cust_id = 4 AND (segment = 'a' OR balance < 5)", sch
    )
    assert b == {"cust_id": (4, 4)}
    # WITHOUT a schema only NUMERIC literals bound: a raw string might
    # target a date/timestamp column whose stats are isoformat, and a
    # typed DATE literal might target a TIMESTAMP column where its
    # date-only isoformat sorts before every stat of its own day (an
    # upper bound would wrongly prune the midnight rows)
    assert txlog._predicate_bounds(spark, "segment = 'a'") == {}
    assert txlog._predicate_bounds(spark, "ts <= DATE'2024-01-02'") == {}


def test_predicate_bounds_string_literals_coerced_to_column_type(spark):
    """Untyped string literals are re-rendered in the target column's
    stats encoding (the r10 ADVICE high finding): a space-separated
    timestamp string must compare against 'T'-isoformat footer stats,
    and '2020-6-1' on a date column must not prune all of 2020-12."""
    sch = {"ts": "timestamp", "d": "date", "k": "bigint", "s": "string"}
    b = txlog._predicate_bounds(spark, "ts <= '2020-06-01 12:00:00'", sch)
    assert b["ts"] == (None, "2020-06-01T12:00:00")
    # date-only string on a timestamp column casts to midnight
    b = txlog._predicate_bounds(spark, "ts >= '2020-06-01'", sch)
    assert b["ts"] == ("2020-06-01T00:00:00", None)
    # non-zero-padded date string normalizes (lexical '2020-6-1' would
    # wrongly exceed '2020-12-31')
    b = txlog._predicate_bounds(spark, "d >= '2020-6-1'", sch)
    assert b["d"] == ("2020-06-01", None)
    # a typed DATE literal on a TIMESTAMP column gains the midnight
    # time part ('2020-06-01' alone lexically precedes every
    # 'T'-suffixed stat of that day and would prune the midnight row)
    b = txlog._predicate_bounds(spark, "ts <= DATE'2020-06-01'", sch)
    assert b["ts"] == (None, "2020-06-01T00:00:00")
    # numeric strings promote like Spark (string vs numeric → double)
    b = txlog._predicate_bounds(spark, "k > '5'", sch)
    assert b["k"] == (5.0, None)
    # uncastable string on a numeric column: no bound, never a guess
    assert txlog._predicate_bounds(spark, "k > 'a'", sch) == {}
    # garbage date-ish strings contribute nothing
    assert txlog._predicate_bounds(spark, "d = '2020-13-99'", sch) == {}
    # plain strings on string columns still bound
    b = txlog._predicate_bounds(spark, "s BETWEEN 'a' AND 'c'", sch)
    assert b["s"] == ("a", "c")


def test_predicate_bounds_incomparable_conjuncts_do_not_crash(spark):
    """Mixed-type conjuncts on one column must never raise TypeError
    out of delete() (the r10 ADVICE narrow() finding). After the r11
    review hardening, type coercion itself prevents incomparable
    bounds from forming (non-numeric literals are dropped schema-less,
    and with a schema both sides share the column's encoding) — the
    narrow()/IN try-excepts remain as defense in depth; these cases
    pin the no-crash surface."""
    # the DATE bound is dropped (unknown column type), the int stays
    b = txlog._predicate_bounds(spark, "k > 5 AND k > DATE'2020-01-01'")
    assert b == {"k": (5, None)}
    # mixed-type IN list: the unconvertible member voids the bound
    assert (
        txlog._predicate_bounds(spark, "k IN (5, DATE'2020-01-01')") == {}
    )
    # siblings always narrow independently
    b = txlog._predicate_bounds(
        spark, "k > 5 AND k > DATE'2020-01-01' AND j = 7"
    )
    assert b == {"k": (5, None), "j": (7, 7)}


def test_delete_untyped_timestamp_string_prunes_soundly(spark, tmp_path):
    """END-TO-END regression for the r10 ADVICE high finding: DELETE
    with an untyped timestamp-string predicate must actually remove
    the matching rows. The old code compared the raw space-separated
    literal against isoformat footer stats ('T' sorts after ' '), so
    the file holding the matches was wrongly pruned and the rows
    silently survived — a right-to-be-forgotten violation."""
    import datetime

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            Row(k=i, ts=datetime.datetime(2020, 6, 1, h))
            for i, h in enumerate([0, 3, 6, 18, 21])
        ]
    )
    txlog.create(spark, t, df.coalesce(1))
    txlog.delete(spark, t, "ts <= '2020-06-01 12:00:00'")
    got = sorted(r.k for r in txlog.read(spark, t).collect())
    assert got == [3, 4]
    # and the date-column variant: a sloppy non-padded literal must
    # not prune the December file
    t2 = str(tmp_path / "t2")
    df2 = spark.createDataFrame(
        [Row(k=i, d=datetime.date(2020, 12, i + 1)) for i in range(3)]
    )
    txlog.create(spark, t2, df2.coalesce(1))
    txlog.delete(spark, t2, "d >= '2020-6-1'")
    assert txlog.read(spark, t2).count() == 0


def test_delete_with_pruning_matches_full_semantics(spark, tmp_path):
    """delete() answers identically with footer pruning active: rows
    matching the range go, NULL-predicate rows survive, and untouched
    files keep their original add actions (pruned files were never
    rewritten)."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(0, 5)).coalesce(1))
    txlog.append(spark, t, _mk(spark, range(100, 105)).coalesce(1))
    before = set(txlog.snapshot_state(t)["files"])
    txlog.delete(spark, t, "cust_id BETWEEN 100 AND 102")
    got = sorted(r.cust_id for r in txlog.read(spark, t).collect())
    assert got == [0, 1, 2, 3, 4, 103, 104]
    after = set(txlog.snapshot_state(t)["files"])
    # the low-range file is provably disjoint from [100, 102]: it was
    # pruned before the hit scan and survives UNREWRITTEN
    assert before & after, "pruned file should have survived untouched"


def test_read_pruned_accepts_date_bounds(spark, tmp_path):
    """read_pruned with datetime.date bounds: the caller's raw bound
    crosses the stats' ISO-string encoding instead of raising
    `str < date` (footer stats live JSON-serialized)."""
    import datetime

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            Row(k=1, d=datetime.date(2024, 1, 1)),
            Row(k=2, d=datetime.date(2024, 6, 1)),
            Row(k=3, d=datetime.date(2025, 1, 1)),
        ]
    )
    txlog.create(spark, t, df.repartition(3, "k"))
    got = sorted(
        r.k
        for r in txlog.read_pruned(
            spark, t, "d",
            lo=datetime.date(2024, 3, 1), hi=datetime.date(2024, 12, 31),
        ).collect()
    )
    assert got == [2]


def test_merge_empty_batch_is_cheap_noop(spark, tmp_path):
    """An empty update batch (idle CDC cycle / empty micro-batch)
    commits without touching or writing any file — the planning
    early-exits instead of key-scanning the whole table against an
    empty probe."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(6)))
    files_before = set(txlog.snapshot_state(t)["files"])
    v = txlog.merge(
        spark, t, _mk(spark, range(1)).limit(0), keys=["cust_id"]
    )
    assert v == 1  # the commit still lands (epoch-stamp contract)
    state = txlog.snapshot_state(t)
    assert set(state["files"]) == files_before
    assert txlog._read_commit(t, 1)["actions"] == []


def test_overwrite_new_schema_replaces_column_type(spark, tmp_path):
    """overwrite(new_schema=True) is the documented escape hatch for
    column TYPE changes: the commit removes every old file, stamps the
    new schema, and later appends are checked against it; without the
    flag the mismatch still raises."""
    t = str(tmp_path / "t")
    txlog.create(spark, t, _mk(spark, range(3)))
    retyped = spark.createDataFrame(
        [Row(cust_id=str(i), segment="a", balance=float(i)) for i in range(3)]
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        txlog.overwrite(spark, t, retyped)
    txlog.overwrite(spark, t, retyped, new_schema=True)
    state = txlog.snapshot_state(t)
    assert "cust_id:string" in state["schema"].replace(" ", "")
    got = sorted(r.cust_id for r in txlog.read(spark, t).collect())
    assert got == ["0", "1", "2"]
    # appends now validate against the REPLACED schema
    txlog.append(
        spark,
        t,
        spark.createDataFrame(
            [Row(cust_id="9", segment="b", balance=9.0)]
        ),
    )
    assert txlog.row_count(t) == 4
