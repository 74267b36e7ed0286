"""Merge-on-read metajournal deltas — the write-path economics pins.

The reference upserts ONE Cassandra row per key per batch
(``MetaJournalStatements.scala:315-634``); the parquet equivalent must not
secretly rewrite a band's worth of neighbor keys per trigger.  These tests
pin the file-level contract: a 1-key batch APPENDS O(1) files and rewrites
NOTHING, and the maintenance fold collapses deltas without changing any
read.
"""

from __future__ import annotations

import glob
import os

import pytest
from conftest import append, delete, make_actions, purge
from pyspark.sql import functions as F

from kafka_journal_spark.sources.statestore import JournalStore
from kafka_journal_spark.streaming.replicator import replicate_batch


def _file_inventory(root: str) -> dict[str, float]:
    """path -> mtime for every parquet file under root (identity check:
    an untouched file keeps both its name and its mtime)."""
    out = {}
    for r, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(r, f)
                out[os.path.relpath(p, root)] = os.path.getmtime(p)
    return out


def _read_state(store):
    return {
        (r.topic, r.id): (r.seq_nr, r.delete_to, r.record_id)
        for r in store.metajournal().collect()
    }


def test_one_key_batch_appends_one_file_rewrites_no_base(spark, tmp_path):
    store = JournalStore(spark, str(tmp_path / "s"))
    keys = [f"key-{i:03d}" for i in range(40)]
    replicate_batch(make_actions(spark, [append(k, 1) for k in keys]), store)
    assert store.fold_metajournal() != []  # deltas -> pure base
    meta = store._path("metajournal")
    before = _file_inventory(meta)

    replicate_batch(
        make_actions(spark, [append("key-000", 2)], offset_base=1000), store
    )
    after = _file_inventory(meta)

    # every pre-existing base file survives IDENTICALLY (no band rewrite)
    assert all(after.get(p) == mt for p, mt in before.items()), [
        p for p, mt in before.items() if after.get(p) != mt
    ]
    # and the append cost exactly one new delta file
    new = sorted(set(after) - set(before))
    assert len(new) == 1, new

    got = {r.id: r.seq_nr for r in store.metajournal().collect()}
    assert got["key-000"] == 2
    assert all(got[k] == 1 for k in keys[1:])


def test_fold_preserves_reads_and_drops_tombstones(spark, tmp_path):
    store = JournalStore(spark, str(tmp_path / "s"))
    replicate_batch(
        make_actions(spark, [append("a", 1), append("b", 1), append("c", 1)]),
        store,
    )
    replicate_batch(
        make_actions(
            spark,
            [append("a", 2), delete("b", 1), purge("c")],
            offset_base=100,
        ),
        store,
    )
    assert store._dirty_bands() != []
    before_state = _read_state(store)
    before_rows = {
        (r.id, r.seq_nr, r.offset) for r in store.read().collect()
    }
    assert ("journal", "c") not in before_state  # purge tombstoned the head

    folded = store.fold_metajournal()
    assert folded != []
    assert store._dirty_bands() == []
    assert _read_state(store) == before_state
    assert {
        (r.id, r.seq_nr, r.offset) for r in store.read().collect()
    } == before_rows
    # tombstones are physically gone: the raw files hold exactly the live
    # rows, once each, with no delta bookkeeping left
    raw = store._metajournal_phys()
    assert raw.filter(F.col("deleted").isNotNull()).count() == 0
    assert raw.filter(F.col("delta_seq").isNotNull()).count() == 0
    assert raw.count() == len(before_state)


def test_meta_health_reports_band_files_and_dirty(spark, tmp_path):
    store = JournalStore(spark, str(tmp_path / "s"))
    replicate_batch(make_actions(spark, [append("k", 1)]), store)
    h = {r.band: (r.n_files, r.dirty) for r in store.meta_health().collect()}
    assert h and all(d for _, d in h.values())
    store.fold_metajournal()
    h2 = {r.band: (r.n_files, r.dirty) for r in store.meta_health().collect()}
    assert h2 and not any(d for _, d in h2.values())


def test_fold_min_files_size_tiers(spark, tmp_path):
    """min_files gates the fold per band: below the threshold nothing is
    rewritten and the band stays dirty (still resolving on read)."""
    store = JournalStore(spark, str(tmp_path / "s"))
    replicate_batch(make_actions(spark, [append("k", 1)]), store)
    assert store.fold_metajournal(min_files=100) == []
    assert store._dirty_bands() != []
    assert {r.id: r.seq_nr for r in store.metajournal().collect()} == {"k": 1}
    assert store.fold_metajournal(min_files=1) != []
    assert store._dirty_bands() == []


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_resolver_fast_path_skips_merge_when_folded(spark, tmp_path):
    """A band only needs the last-write-wins resolution (the max_by
    hash-aggregate) while it is dirty AND holds two or more files: a
    second batch into the same band plans the aggregate, and a fully
    folded store's metajournal() plans without it — the merge-on-read tax
    is zero once deltas are folded (and O(multi-file dirty bands)
    before)."""
    store = JournalStore(spark, str(tmp_path / "s"))
    replicate_batch(make_actions(spark, [append("k", 1)]), store)
    replicate_batch(make_actions(spark, [append("k", 2)], offset_base=10), store)
    band = f"seg_band={store._dirty_bands()[0]}{os.sep}"
    assert sum(f.startswith(band) for f in store.tables["metajournal"].live_files()) == 2
    assert "max_by" in _plan(store.metajournal())
    assert {r.id: r.seq_nr for r in store.metajournal().collect()} == {"k": 2}
    store.fold_metajournal()
    clean_plan = _plan(store.metajournal())
    assert "max_by" not in clean_plan and "HashAggregate" not in clean_plan


def test_single_file_dirty_band_resolves_tombstone_without_merge(spark, tmp_path):
    """A dirty band of ONE file cannot hold two rows of one key (every
    writer writes one row per key per band file), so it plans no max_by
    aggregate — its purge tombstone still hides the key from pointer(),
    read() and metajournal()."""
    from kafka_journal_spark.api import JournalClient

    c = JournalClient(spark, str(tmp_path / "c"))
    c.append("journal", "k", ["p1"])
    c.purge("journal", "k")
    c.replicate()  # one narrow batch: append + purge -> one tombstone delta
    store = c.store
    (b,) = store._dirty_bands()
    band = f"seg_band={b}{os.sep}"
    assert sum(f.startswith(band) for f in store.tables["metajournal"].live_files()) == 1
    phys = store._metajournal_phys([b])
    assert phys.filter(F.col("id") == "k").select("deleted").collect()[0].deleted

    assert store.pointer("journal", "k") is None
    assert c.pointer("journal", "k") is None
    assert c.read("journal", "k") == []
    assert store.read(topic="journal", key="k").collect() == []
    assert store.metajournal().filter(F.col("id") == "k").collect() == []
    for df in (store.metajournal(), store.read(topic="journal", key="k")):
        assert "max_by" not in _plan(df)


def test_second_instance_reads_deltas_and_folds(spark, tmp_path):
    """The delta bookkeeping (dirty bands, write stamps) lives in store
    ROOT tokens, not instance memory: a FRESH JournalStore over the same
    root resolves another instance's un-folded deltas, can fold them, and
    the first instance keeps reading correctly afterwards."""
    root = str(tmp_path / "s")
    a = JournalStore(spark, root)
    replicate_batch(make_actions(spark, [append("k", 1)]), a)
    replicate_batch(make_actions(spark, [append("k", 2)], offset_base=10), a)

    b = JournalStore(spark, root)
    assert b._dirty_bands() != []
    assert {r.id: r.seq_nr for r in b.metajournal().collect()} == {"k": 2}
    assert b.fold_metajournal() != []
    # A sees B's fold through the on-disk token — clean fast path, same rows
    assert a._dirty_bands() == []
    assert {r.id: r.seq_nr for r in a.metajournal().collect()} == {"k": 2}


def test_wide_batch_takes_band_complete_path_and_leaves_no_debt(spark, tmp_path):
    """A batch touching >= half of all bands is a bulk load: it must land
    band-complete (no delta files, no dirty flags, zero merge-on-read debt
    for later batches) while producing exactly the same visible state the
    delta path would."""
    store = JournalStore(spark, str(tmp_path / "w"), meta_bands=4)
    keys = [f"key-{i:03d}" for i in range(64)]  # 64 segments -> all 4 bands
    replicate_batch(make_actions(spark, [append(k, 1) for k in keys]), store)

    assert store._dirty_bands() == []  # bulk load left the store folded
    meta = store._path("metajournal")
    # pure base: no file carries the delta bookkeeping columns
    phys = spark.read.parquet(meta)
    assert "delta_seq" not in phys.columns
    assert {r.id: r.seq_nr for r in store.metajournal().collect()} == {
        k: 1 for k in keys
    }

    # a second bulk batch merges idempotently (update half, keep half)
    replicate_batch(
        make_actions(spark, [append(k, 2) for k in keys[:32]], offset_base=1000),
        store,
    )
    assert store._dirty_bands() == []
    got = {r.id: r.seq_nr for r in store.metajournal().collect()}
    assert got == {k: (2 if k in set(keys[:32]) else 1) for k in keys}

    # a narrow batch afterwards still takes the delta path
    replicate_batch(
        make_actions(spark, [append("key-000", 3)], offset_base=2000), store
    )
    assert store._dirty_bands() != []
    got = {r.id: r.seq_nr for r in store.metajournal().collect()}["key-000"]
    assert got == 3
