"""The C1 consumption path: recovery reads planned from the MAINTAINED
head snapshot instead of a per-call tail fold (reference
``Journals.scala:157-170`` — recovery consults HeadCache before touching
Kafka).  Two layers:

1. Plan equality on every JournalSpec combination: the distributed
   ``head_info_batch`` summary must yield the SAME ``ReadPlan`` as the
   pure per-key fold, for every way to split appends and every
   delete/purge suffix (the exhaustive matrix ``test_journal_spec`` uses).
2. Client behavior: ``head_mode='snapshot'`` reads equal fold-mode reads
   after ``refresh_head_snapshot()``, and any append/replicate since the
   refresh makes the snapshot stale so the read silently falls back to
   the fold — a stale cache can never mis-plan a read.
"""

from __future__ import annotations

from test_journal_spec import ACTIONS_DDL, _scenarios, _to_rows

from kafka_journal_spark.api import JournalClient
from kafka_journal_spark.folds import HeadInfo, head_info
from kafka_journal_spark.operators.head import head_info_batch
from kafka_journal_spark.plans.recovery import plan_recovery


def test_plan_equality_on_every_journal_spec_combination(spark):
    scenarios = _scenarios()
    rows = [r for key, acts in scenarios for r in _to_rows(key, acts)]
    df = spark.createDataFrame(rows, schema=ACTIONS_DDL)
    got = {
        r.id: HeadInfo(
            kind=r.kind, offset=r.offset, seq_nr=r.seq_nr or 0, delete_to=r.delete_to
        )
        for r in head_info_batch(df).collect()
    }
    for key, acts in scenarios:
        h_fold = head_info(acts)
        h_snap = got.get(key, HeadInfo())
        for from_seq_nr in (1, 3):
            assert plan_recovery(h_snap, from_seq_nr) == plan_recovery(
                h_fold, from_seq_nr
            ), (key, from_seq_nr, h_snap, h_fold)


def test_snapshot_mode_reads_equal_fold_mode(spark, tmp_path):
    root = str(tmp_path / "cl")
    c = JournalClient(spark, root, head_mode="snapshot")
    fold = JournalClient(spark, root)  # same root, fold planning
    c.append("t", "a", ["a1", "a2"])
    c.append("t", "b", ["b1"])
    c.replicate()
    c.append("t", "a", ["a3"])  # un-replicated tail
    c.delete_to("t", "b", 1)

    # no snapshot yet -> silent fallback to the fold
    assert c.read("t", "a") == fold.read("t", "a") == [(1, "a1"), (2, "a2"), (3, "a3")]

    c.refresh_head_snapshot()
    assert c._snapshot_head("t", "a") is not None  # fresh: snapshot serves
    assert c._snapshot_head("t", "a") == fold._tail_head("t", "a")
    assert c._snapshot_head("t", "b") == fold._tail_head("t", "b")
    # a fully-replicated key has no tail row -> Empty head, store-only plan
    assert c.read("t", "a") == fold.read("t", "a")
    assert c.read("t", "b") == fold.read("t", "b") == []
    assert c.pointer("t", "a") == fold.pointer("t", "a") == 3

    # any append since the refresh STALES the snapshot (log end moved)
    c.append("t", "a", ["a4"])
    assert c._snapshot_head("t", "a") is None
    assert c.read("t", "a") == fold.read("t", "a")  # fold fallback, correct
    assert c.pointer("t", "a") == 4

    # refresh again, then REPLICATION stales it too (pointers moved)
    c.refresh_head_snapshot()
    assert c._snapshot_head("t", "a") is not None
    c.replicate()
    assert c._snapshot_head("t", "a") is None
    c.refresh_head_snapshot()
    assert c._snapshot_head("t", "a") == HeadInfo()  # all replicated now
    assert c.read("t", "a") == fold.read("t", "a")

    # an un-replicated purge, then a fresh append: the served head is
    # `append`, yet the replicated prefix must vanish in snapshot mode too
    c.purge("t", "a")
    c.append("t", "a", ["n1"])
    c.refresh_head_snapshot()
    assert c._snapshot_head("t", "a").kind == "append"
    assert c.read("t", "a") == fold.read("t", "a") == [(1, "n1")]


def test_snapshot_staleness_survives_out_of_band_writers(spark, tmp_path):
    """The fingerprint cache added for snapshot-mode read cost must NOT
    weaken the staleness guarantee for writers this client instance never
    saw: a second client appending to the same root changes the log's
    part files, which must flip the cached validity token."""
    root = str(tmp_path / "cl")
    c = JournalClient(spark, root, head_mode="snapshot")
    other = JournalClient(spark, root)  # out-of-band writer, same root
    c.append("t", "a", ["a1"])
    c.refresh_head_snapshot()
    assert c._snapshot_head("t", "a") is not None  # fresh + cache warm
    assert c._snapshot_head("t", "a") is not None  # served from cache

    other.append("t", "a", ["a2"])  # c's instance cache knows nothing
    assert c._snapshot_head("t", "a") is None  # stat signature flipped
    assert c.read("t", "a") == [(1, "a1"), (2, "a2")]  # fold fallback

    # an out-of-band replicate moves only the pointers, which the
    # fingerprint reads from the pointers manifest
    c.refresh_head_snapshot()
    assert c._snapshot_head("t", "a") is not None
    other.replicate()
    assert c._snapshot_head("t", "a") is None
    assert c.read("t", "a") == [(1, "a1"), (2, "a2")]
