"""Crash-recovery and multi-instance invariants of the JournalStore — the
tests behind the documented architecture decision (COVERAGE.md "Authoritative
head store"): the parquet metajournal is the AUTHORITY, the journal is the
source of truth it can always be rebuilt from, and the standing head-state
stream is a cache that must never serve stale state.

Reference parity: the reference recovers from a crashed replicator batch via
Kafka-offset replay + idempotent Cassandra upserts
(TopicReplicator.scala:148-153, ReplicatedCassandra.scala:133-216); here the
same guarantee comes from the pointer offset guard + the R5 first-offset
dedup on read.
"""

from __future__ import annotations

import os

import pytest
from conftest import append, delete, make_actions

from kafka_journal_spark.sources.statestore import JournalStore
from kafka_journal_spark.streaming.replicator import replicate_batch


def test_restart_after_crash_mid_batch_preserves_authority(spark, tmp_path):
    """The authority survives a crash between the replicator's three writes:
    journal rows land, the metajournal/pointers update never happens.  On
    restart the pointer offset guard replays the whole batch; re-appended
    journal rows are collapsed by the R5 first-offset dedup; the final state
    equals a clean never-crashed replication."""
    root = str(tmp_path / "store")
    batch1 = make_actions(spark, [append("a", 1), append("b", 1)])
    batch2 = make_actions(
        spark, [append("a", 2), delete("b", 1), append("b", 2)], offset_base=10
    )

    # clean run for the expected end state
    clean = JournalStore(spark, str(tmp_path / "clean"))
    replicate_batch(batch1, clean)
    replicate_batch(batch2, clean)
    want_rows = {(r.id, r.seq_nr, r.offset) for r in clean.read().collect()}
    want_ptr = {(r.topic, r.partition, r.offset) for r in clean.pointers().collect()}

    # crashed run: batch2's journal append succeeds, the head upsert raises
    store = JournalStore(spark, root)
    replicate_batch(batch1, store)
    real_upsert = store.upsert_metajournal

    def _boom(df, segs, **kw):
        raise RuntimeError("simulated crash after journal append")

    store.upsert_metajournal = _boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        replicate_batch(batch2, store)
    store.upsert_metajournal = real_upsert
    # journal carries the orphaned batch2 rows; pointers still at batch1
    assert store.pointers().agg({"offset": "max"}).collect()[0][0] == 1

    # restart: a FRESH instance over the same root replays the batch
    reopened = JournalStore(spark, root)
    replicate_batch(batch2, reopened)
    assert {(r.id, r.seq_nr, r.offset) for r in reopened.read().collect()} == want_rows
    assert {
        (r.topic, r.partition, r.offset) for r in reopened.pointers().collect()
    } == want_ptr
    # the journal physically holds the crash-duplicated appends; compaction
    # drops them and the read stays identical
    reopened.compact()
    assert {(r.id, r.seq_nr, r.offset) for r in reopened.read().collect()} == want_rows


def test_health_measures_compaction_debt(spark, tmp_path):
    """health() quantifies the gap between physical journal rows and
    readable rows (purge orphans + delete-hidden); compact() drives it to
    zero without changing what a read sees."""
    from conftest import purge

    store = JournalStore(spark, str(tmp_path / "h"))
    # two batches: the in-batch collapse keeps same-batch deletes/purges
    # from ever landing hidden rows, so debt only accrues ACROSS batches
    replicate_batch(
        make_actions(
            spark, [append("a", 1), append("a", 2), append("a", 3), append("b", 1)]
        ),
        store,
    )
    replicate_batch(
        make_actions(
            spark, [delete("a", 2), purge("b"), append("b", 1)], offset_base=10
        ),
        store,
    )
    before = {r.topic: r for r in store.health().collect()}["journal"]
    # a1,a2 hidden by the delete watermark; b's first incarnation orphaned
    assert before.n_visible == 2  # a3 + b1 (second incarnation)
    assert before.compaction_debt == 3  # a1, a2, orphaned first b1
    assert before.n_keys == 2
    assert before.tombstone_debt == 2  # a's delete_to

    visible_before = {(r.id, r.seq_nr) for r in store.read().collect()}
    store.compact()
    after = {r.topic: r for r in store.health().collect()}["journal"]
    assert after.compaction_debt == 0
    assert after.n_visible == before.n_visible
    assert {(r.id, r.seq_nr) for r in store.read().collect()} == visible_before


def test_incremental_compact_rewrites_only_debt_topics(spark, tmp_path):
    """compact() must be partition-scoped: with debt in one of two topics,
    the health-driven call rewrites ONLY that topic's directories — the
    other topic's files keep their identity and mtimes (the reference
    never rewrites the table to delete one journal,
    JournalStatements.scala:252-320)."""
    import glob

    from pyspark.sql import functions as F

    root = str(tmp_path / "inc")
    store = JournalStore(spark, root)
    t1 = make_actions(spark, [append("a", 1), append("a", 2), append("b", 1)])
    t2 = make_actions(spark, [append("x", 1), append("x", 2)]).withColumn(
        "topic", F.lit("other")
    )
    replicate_batch(t1, store)
    replicate_batch(t2, store)
    # debt lands only in topic 'journal' (cross-batch delete hides a1/a2)
    replicate_batch(make_actions(spark, [delete("a", 2)], offset_base=10), store)

    def files(topic):
        d = os.path.join(root, "journal", f"topic={topic}")
        return {
            (p, os.path.getmtime(p))
            for p in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
        }

    before_vis = {(r.topic, r.id, r.seq_nr) for r in store.read().collect()}
    other_before = files("other")
    h = {r.topic: r for r in store.health().collect()}
    assert h["journal"].compaction_debt > 0
    assert h["other"].compaction_debt == 0
    # the new small-file observability columns
    assert h["other"].n_files >= 1 and h["other"].avg_file_mb > 0

    done = store.compact(min_debt=1)
    assert done == ["journal"]
    # 'other' untouched: identical file paths AND mtimes
    assert files("other") == other_before
    # reads identical, debt cleared
    assert {(r.topic, r.id, r.seq_nr) for r in store.read().collect()} == before_vis
    h2 = {r.topic: r for r in store.health().collect()}
    assert h2["journal"].compaction_debt == 0

    # thresholds nothing exceeds -> no-op; explicit selection still works
    assert store.compact(min_debt=1, min_files=10_000) == []
    assert store.compact(topics=["other"]) == ["other"]
    assert {(r.topic, r.id, r.seq_nr) for r in store.read().collect()} == before_vis
