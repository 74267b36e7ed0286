"""Band-pruned head lookups: a single-key ``pointer()``/``read()`` plans the
metajournal from the band files of the key's segment only — the parquet
form of the reference's point read at (topic, segment, id)
(``MetaJournalStatements.scala``).

Two contracts are pinned here:

- parity: the pruned lookup answers exactly what the unpruned resolution
  of the whole head table answers, on a store with dirty bands (delta
  files and a purge tombstone) and after the fold, for ASCII keys and for
  a non-ASCII key (which takes the unpruned path);
- cost: on a store with more than 32 band files (Spark's parallel-listing
  threshold) a pointer lookup is ONE Spark job of ONE task, and building a
  single-key read starts no job at all.
"""

from __future__ import annotations

import contextlib
import os
import uuid

from conftest import append, delete, make_actions, purge
from pyspark.sql import functions as F

from kafka_journal_spark import SEGMENTS_DEFAULT
from kafka_journal_spark.operators.replicate import segment_of
from kafka_journal_spark.sources.statestore import JournalStore
from kafka_journal_spark.streaming.replicator import replicate_batch

TOPIC = "journal"
ASCII_KEYS = ["a", "User-ABC", "polygenelubricants"] + [
    f"k-{i:03d}" for i in range(12)
]
NON_ASCII = "naïve-ключ"


@contextlib.contextmanager
def _spark_jobs(spark):
    """Collect the (job count, task count) of the Spark jobs the block
    starts, through the status tracker; the listener bus is drained first
    so a job whose events are still queued is counted."""
    sc = spark.sparkContext
    group = f"band-lookup-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    out: dict[str, int] = {}
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        ids = st.getJobIdsForGroup(group)
        out["jobs"] = len(ids)
        out["tasks"] = sum(
            st.getStageInfo(s).numTasks for j in ids for s in st.getJobInfo(j).stageIds
        )


def _band_files(store: JournalStore, key: str) -> list[str]:
    band = f"seg_band={segment_of(key, SEGMENTS_DEFAULT) % store.meta_bands}"
    return [f for f in store._live_files("metajournal") if f.split(os.sep, 1)[0] == band]


def _assert_pruned_equals_unpruned(store: JournalStore) -> None:
    full_meta = {
        r.id: r.asDict()
        for r in store.metajournal().filter(F.col("topic") == TOPIC).collect()
    }
    full_read: dict[str, set] = {}
    for r in store.read(topic=TOPIC).collect():
        full_read.setdefault(r.id, set()).add((r.seq_nr, r.offset, r.payload_txt))
    all_files = set(store.metajournal().inputFiles())
    for key in ASCII_KEYS + [NON_ASCII, "absent"]:
        head = full_meta.get(key)
        assert store.pointer(TOPIC, key) == (head["seq_nr"] if head else None), key
        got = {
            (r.seq_nr, r.offset, r.payload_txt)
            for r in store.read(topic=TOPIC, key=key).collect()
        }
        assert got == full_read.get(key, set()), key
        rows = [
            r.asDict()
            for r in store.metajournal_of_keys([key])
            .filter((F.col("topic") == TOPIC) & (F.col("id") == key))
            .collect()
        ]
        assert rows == ([head] if head else []), key
        planned = set(store.metajournal_of_keys([key]).inputFiles())
        if key.isascii():
            assert planned < all_files, key  # one band's files, not all
        else:
            assert planned == all_files, key  # no driver-side segment


def test_pruned_lookups_equal_unpruned_resolution_dirty_and_folded(spark, tmp_path):
    store = JournalStore(spark, str(tmp_path / "s"))
    keys = ASCII_KEYS + [NON_ASCII]
    # narrow batches (far below half the 256 bands): every head lands as
    # a delta file, so the bands stay dirty until the fold
    replicate_batch(
        make_actions(spark, [append(k, s) for k in keys for s in (1, 2)]), store
    )
    replicate_batch(
        make_actions(
            spark,
            [
                append("a", 3),
                delete("User-ABC", 1),
                purge("polygenelubricants"),  # a tombstone, nothing after it
                delete(NON_ASCII, 1),
                append(NON_ASCII, 3),
                append("k-000", 3),
            ],
            offset_base=1000,
        ),
        store,
    )
    assert store._dirty_bands() != []
    phys = store._metajournal_phys()
    assert phys.filter(F.col("deleted")).count() >= 1  # the purge tombstone
    assert store.pointer(TOPIC, "polygenelubricants") is None
    assert store.pointer(TOPIC, "a") == 3 and store.pointer(TOPIC, NON_ASCII) == 3
    _assert_pruned_equals_unpruned(store)

    assert store.fold_metajournal() != []
    assert store._dirty_bands() == []
    _assert_pruned_equals_unpruned(store)


def test_point_lookup_is_one_job_of_one_task_over_wide_store(spark, tmp_path):
    """A wide batch (as a replicator's backfill or the client benchmark's
    set-up replicate) leaves one base file per touched band — over Spark's
    32-path parallel-listing threshold.  A head lookup must still plan from
    its key's band alone: one job with one task for ``pointer()``, and no
    job at all to build a ``read()`` (the listing job a whole-table plan
    starts is exactly what the band pruning removes)."""
    store = JournalStore(spark, str(tmp_path / "wide"))
    keys = [f"key-{i:04d}" for i in range(400)]
    replicate_batch(make_actions(spark, [append(k, 1) for k in keys]), store)
    assert len(store._live_files("metajournal")) > 32
    assert store._dirty_bands() == []  # the wide path leaves pure base

    for key in keys[:3]:
        assert len(_band_files(store, key)) == 1, key
        with _spark_jobs(spark) as ptr:
            assert store.pointer(TOPIC, key) == 1
        assert (ptr["jobs"], ptr["tasks"]) == (1, 1), (key, ptr)

        with _spark_jobs(spark) as build:
            df = store.read(topic=TOPIC, key=key)
        assert build["jobs"] == 0, (key, build)
        assert [r.seq_nr for r in df.collect()] == [1]
