"""Tests for the Settings KV, schema migration, and snapshot semantics."""

from __future__ import annotations

import os
import time

import pytest

from kafka_journal_spark.operators.snapshots import (
    BUFFER_SIZE,
    SNAP_EVERY,
    SnapshotSelectionCriteria,
    load_snapshot,
    snapshots_table,
)
from kafka_journal_spark.sources.settings import (
    SCHEMA_VERSION_KEY,
    Settings,
    migrate_store,
)
from kafka_journal_spark.sources import manifest
from kafka_journal_spark.sources.manifest import walk_parquet

SF = "/root/testdata/sf0.001"


def test_settings_crud(spark, tmp_path):
    s = Settings(spark, str(tmp_path))
    assert s.get("a") is None
    s.set("a", "1")
    s.set("b", "2")
    assert s.all() == {"a": "1", "b": "2"}
    s.set("a", "3")
    assert s.get("a") == "3"
    s.remove("b")
    assert s.all() == {"a": "3"}


def test_migrations_ordered_idempotent(spark, tmp_path):
    applied = []

    migs = [
        lambda sp, r: applied.append("m0"),
        lambda sp, r: applied.append("m1"),
    ]
    v = migrate_store(spark, str(tmp_path), migs)
    assert v == 1 and applied == ["m0", "m1"]
    # re-run: no-op
    v = migrate_store(spark, str(tmp_path), migs)
    assert v == 1 and applied == ["m0", "m1"]
    # new migration appended: only the suffix runs
    migs.append(lambda sp, r: applied.append("m2"))
    v = migrate_store(spark, str(tmp_path), migs)
    assert v == 2 and applied == ["m0", "m1", "m2"]
    assert Settings(spark, str(tmp_path)).get(SCHEMA_VERSION_KEY) == "2"


def test_ring_buffer_retention(spark):
    t = snapshots_table(spark, SF)
    rows = t.collect()
    # at most BUFFER_SIZE slots per journal, each slot occupied once
    per_key = {}
    for r in rows:
        per_key.setdefault((r.topic, r.id), []).append((r.buffer_nr, r.seq_nr))
    for key, slots in per_key.items():
        nrs = [b for b, _ in slots]
        assert len(nrs) == len(set(nrs)) and len(nrs) <= BUFFER_SIZE, key
        for b, seq in slots:
            assert seq % SNAP_EVERY == 0


def test_snapshot_store_save_load_delete(spark, tmp_path):
    """The full SnapshotStore trait (SnapshotStore.scala:11-61): ring-slot
    saves, criteria loads, criteria + point deletes."""
    from kafka_journal_spark.operators.snapshots import (
        BUFFER_SIZE,
        SnapshotSelectionCriteria,
        SnapshotStore,
    )

    s = SnapshotStore(spark, str(tmp_path / "snapstore"))
    for seq in (5, 10, 15, 20):  # 4 saves, 3 slots -> seq 5 overwritten
        s.save("t", "a", seq, f"state@{seq}")
    s.save("t", "b", 7, "b@7")

    latest = s.load("t", "a")
    assert (latest.seq_nr, latest.payload_txt) == (20, "state@20")
    # seq 5 fell out of the ring (slot reused by seq 20)
    assert s.load("t", "a", SnapshotSelectionCriteria(max_seq_nr=9)) is None
    bounded = s.load("t", "a", SnapshotSelectionCriteria(max_seq_nr=16))
    assert bounded.seq_nr == 15
    # point delete removes exactly seq 15; seq 10 remains retained
    s.delete("t", "a", seq_nr=15)
    assert s.load("t", "a", SnapshotSelectionCriteria(max_seq_nr=16)).seq_nr == 10
    assert s.load("t", "a").seq_nr == 20
    # criteria delete wipes the rest of the key; other keys untouched
    s.delete("t", "a")
    assert s.load("t", "a") is None
    assert s.load("t", "b").seq_nr == 7
    # retention bound holds after many saves
    for seq in range(30, 70, 5):
        s.save("t", "c", seq, f"c@{seq}")
    rows = s._df().filter("id = 'c'").collect()
    assert len(rows) <= BUFFER_SIZE
    assert max(r.seq_nr for r in rows) == 65  # newest always survives


def test_recovery_hybrid_reconstructs_full_visibility(spark):
    # snapshot seed + journal suffix must cover exactly the journal's visible
    # seq range: suffix starts right after the seed, no gap, no overlap
    from kafka_journal_spark.operators.actions import journal_actions
    from kafka_journal_spark.operators.replicate import materialize_journal
    from kafka_journal_spark.operators.snapshots import recovery_hybrid

    hybrid = recovery_hybrid(spark, SF).collect()
    seeds = {(r.topic, r.id): r.seq_nr for r in hybrid if r.source == "snapshot"}
    suffix = {}
    for r in hybrid:
        if r.source == "journal":
            suffix.setdefault((r.topic, r.id), []).append(r.seq_nr)
    journal = {}
    for r in materialize_journal(journal_actions(spark, SF)).collect():
        journal.setdefault((r.topic, r.id), []).append(r.seq_nr)
    for key, seqs in journal.items():
        seed = seeds.get(key, 0)
        expect = sorted(s for s in seqs if s > seed)
        assert sorted(suffix.get(key, [])) == expect, key
    # every seeded journal's suffix strictly follows its seed
    for key, seqs in suffix.items():
        if key in seeds:
            assert all(s > seeds[key] for s in seqs), key


def test_plan_recovery_snapshot_bound():
    from kafka_journal_spark.folds import HeadInfo
    from kafka_journal_spark.plans.recovery import plan_recovery

    empty = HeadInfo(kind="empty")
    assert plan_recovery(empty, 1, snapshot_seq_nr=10).from_seq_nr == 11
    # the tighter of snapshot and caller bound wins
    assert plan_recovery(empty, 20, snapshot_seq_nr=10).from_seq_nr == 20
    # a delete watermark past the snapshot still tightens further
    d = HeadInfo(kind="delete", delete_to=15)
    assert plan_recovery(d, 1, snapshot_seq_nr=10).from_seq_nr == 16
    # purge still short-circuits both sources
    p = plan_recovery(HeadInfo(kind="purge"), 1, snapshot_seq_nr=10)
    assert (p.read_store, p.read_kafka) == (False, False)


def test_load_respects_criteria(spark):
    latest = {r.id: r.seq_nr for r in load_snapshot(spark, SF).collect()}
    bounded = {
        r.id: r.seq_nr
        for r in load_snapshot(spark, SF, SnapshotSelectionCriteria(max_seq_nr=20)).collect()
    }
    for k, seq in bounded.items():
        assert seq <= 20
        assert latest[k] >= seq
    # the newest snapshot always survives ring overwrites
    for k, seq in latest.items():
        assert seq == max(
            s for s in range(SNAP_EVERY, seq + 1, SNAP_EVERY)
        )


def test_settings_timestamp_is_a_true_utc_instant(spark, tmp_path):
    """set() must store the real current instant regardless of the session
    timezone: the column is TIMESTAMP (instant semantics), and the old
    naive utcnow() was re-interpreted in the session zone — off by the
    full UTC offset on any non-UTC driver."""
    import datetime as dt

    from kafka_journal_spark.sources.settings import Settings

    s = Settings(spark, str(tmp_path / "kv"))
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")  # UTC+9
        before = dt.datetime.now(dt.timezone.utc)
        s.set("k", "v")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        row = s._df().filter("key = 'k'").collect()[0]
        stored = row.timestamp.replace(tzinfo=dt.timezone.utc)
        after = dt.datetime.now(dt.timezone.utc)
        # the naive-utcnow bug made this off by 9 h; allow generous slack
        assert abs((stored - before).total_seconds()) < 600, (stored, before)
        assert stored <= after + dt.timedelta(seconds=60)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


class _Crash(Exception):
    pass


def _crash_at(monkeypatch, point):
    """Raise where the manifest commit would publish (in-process stand-in
    for the ``KJS_STORE_CRASH`` hook, which kills the process)."""

    def hook(p):
        if p == point:
            raise _Crash(p)

    monkeypatch.setattr(manifest, "_maybe_crash", hook)


def _age(table, rels):
    old = time.time_ns() - int((table.retire_grace_s + 5) * 1e9)
    for rel in rels:
        os.utime(os.path.join(table.path, rel), ns=(old, old))


def test_settings_crash_before_publish_keeps_old_value(
    spark, tmp_path, monkeypatch
):
    s = Settings(spark, str(tmp_path))
    s.set("a", "1")
    with monkeypatch.context() as m:
        _crash_at(m, "swap_precommit_settings")
        with pytest.raises(_Crash):
            s.set("a", "2")
    assert s.get("a") == "1"  # the old value is read back
    orphans = walk_parquet(s.table.path) - s.table.live_files()
    assert orphans, "the crashed swap must have left its files behind"
    s.set("b", "3")  # the next set succeeds
    assert s.all() == {"a": "1", "b": "3"}
    _age(s.table, orphans)  # grace elapsed: the next commit reaps them
    s.remove("b")
    assert not (walk_parquet(s.table.path) & orphans)
    assert s.all() == {"a": "1"}


def test_settings_read_planned_before_set_collects_its_snapshot(spark, tmp_path):
    s = Settings(spark, str(tmp_path))
    s.set("a", "1")
    planned = s._df()
    s.set("a", "2")
    s.set("b", "3")
    assert {r.key: r.value for r in planned.collect()} == {"a": "1"}
    assert s.all() == {"a": "2", "b": "3"}


def test_snapshot_store_crash_before_publish_keeps_old_snapshot(
    spark, tmp_path, monkeypatch
):
    from kafka_journal_spark.operators.snapshots import SnapshotStore

    root = str(tmp_path / "snapstore")
    s = SnapshotStore(spark, root)
    s.save("t", "a", 5, "state@5")
    with monkeypatch.context() as m:
        _crash_at(m, "swap_precommit_snapshots")
        with pytest.raises(_Crash):
            s.save("t", "a", 10, "state@10")
    s = SnapshotStore(spark, root)  # restart after the crash
    assert s.load("t", "a").seq_nr == 5
    orphans = walk_parquet(s.table.path) - s.table.live_files()
    assert orphans, "the crashed swap must have left its files behind"
    s.save("t", "a", 10, "state@10")  # the next save succeeds
    assert s.load("t", "a").seq_nr == 10
    _age(s.table, orphans)
    s.save("t", "b", 7, "b@7")
    assert not (walk_parquet(s.table.path) & orphans)
    assert {(r.id, r.seq_nr) for r in s._df().collect()} == {
        ("a", 5), ("a", 10), ("b", 7)
    }


def test_snapshot_store_retry_after_failed_save_reuses_its_slot(
    spark, tmp_path, monkeypatch
):
    """A save that fails before its commit must not advance the ring: the
    same instance's retry lands in the slot the failed save targeted."""
    from kafka_journal_spark.operators.snapshots import SnapshotStore

    s = SnapshotStore(spark, str(tmp_path / "snapstore"))
    s.save("t", "a", 5, "state@5")  # slot 0
    with monkeypatch.context() as m:
        _crash_at(m, "swap_precommit_snapshots")
        with pytest.raises(_Crash):
            s.save("t", "a", 10, "state@10")  # targets slot 1
    s.save("t", "a", 10, "state@10")
    assert {(r.buffer_nr, r.seq_nr) for r in s._df().collect()} == {(0, 5), (1, 10)}
