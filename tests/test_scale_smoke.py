"""Skew/scale smoke: one hot key with 200k actions through the replication
fold — the shape that breaks naive per-key buffering.  The fold's windows
are partition-only (no ORDER BY for the max-aggregates), so Spark never
sorts the hot key, and events-per-key memory stays the only bound —
documented design limit (SURVEY §7.2: per-key head state is small, events
are not state)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_journal_spark.operators.replicate import (
    materialize_journal,
    materialize_metajournal,
)


@pytest.fixture(scope="module")
def hot_key_actions(spark):
    n = 200_000
    df = spark.range(n).select(
        F.lit("journal").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("id").alias("offset"),
        F.lit("hot").alias("id"),
        # every 10_000th action is a delete of the prefix so far
        F.when(F.col("id") % 10_000 == 9_999, "delete").otherwise("append").alias(
            "action_type"
        ),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("timestamp"),
        F.lit("o").alias("origin"),
        F.lit("1").alias("version"),
        F.when(F.col("id") % 10_000 != 9_999, F.col("id") + 1).alias("seq_nr_from"),
        F.when(F.col("id") % 10_000 != 9_999, F.col("id") + 1).alias("seq_nr_to"),
        F.lit("text").alias("payload_type"),
        F.lit("p").alias("payload"),
        F.when(F.col("id") % 10_000 == 9_999, F.col("id") - 5_000).alias("delete_to"),
        F.lit(None).cast("string").alias("mark_id"),
    )
    return df


def _logical_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_unfiltered_read_has_no_meta_broadcast_hint(spark, tmp_path):
    """The unfiltered store read must NOT pin the O(#keys) metajournal to a
    broadcast — that hint is what OOMs first at 100x scale.  A key-filtered
    read needs no hint: it runs in one partition, with no Exchange."""
    from conftest import append, make_actions

    from kafka_journal_spark.sources.statestore import JournalStore
    from kafka_journal_spark.streaming.replicator import replicate_batch

    store = JournalStore(spark, str(tmp_path / "bplan"))
    replicate_batch(make_actions(spark, [append("a", 1), append("b", 1)]), store)

    unfiltered = _logical_plan(store.read())
    assert "broadcast" not in unfiltered.lower(), unfiltered
    keyed = store.read(topic="journal", key="a")._jdf.queryExecution().executedPlan()
    assert "Exchange" not in keyed.toString(), keyed.toString()


def test_recovery_merge_has_no_tail_broadcast_hint(spark):
    """The tail (a real fraction of the log) must never carry a broadcast
    hint.  The only hint recovery_merge plants is on the O(n_partitions)
    split-point aggregate, which the optimizer records as a rightHint on
    the join whose LEFT side is the action relation — so every broadcast
    mention in the optimized plan must be a rightHint, and the left-side
    form must not appear."""
    from conftest import append, delete, make_actions

    from kafka_journal_spark.operators.read import recovery_merge

    df = make_actions(
        spark, [append("a", 1), append("a", 2), delete("a", 1), append("a", 3)]
    )
    plan = _logical_plan(recovery_merge(df))
    low = plan.lower()
    assert "lefthint=(strategy=broadcast" not in low, plan
    assert low.count("broadcast") == low.count(
        "righthint=(strategy=broadcast"
    ), plan


def test_incremental_upsert_touches_only_batch_segments(spark, tmp_path):
    """The 100 TB head-table write path: a 1-key micro-batch must rewrite
    ONLY the band partition its key's segment hashes into (dynamic
    partition overwrite — the Spark shape of the reference's point
    upserts, MetaJournalStatements.scala:315-634, at ``meta_bands``
    directory granularity), never the whole table; and the merge's read
    of existing heads must partition-prune to those bands.
    """
    import os

    from conftest import append, make_actions

    from kafka_journal_spark import SEGMENTS_DEFAULT
    from kafka_journal_spark.operators.replicate import meta_segment
    from kafka_journal_spark.sources.statestore import JournalStore
    from kafka_journal_spark.streaming.replicator import replicate_batch

    store = JournalStore(spark, str(tmp_path / "inc"))
    keys = [f"key-{i:03d}" for i in range(40)]
    replicate_batch(
        make_actions(spark, [append(k, 1) for k in keys]), store
    )

    meta_path = store._path("metajournal")

    def snapshot(path):
        out = {}
        for d in os.listdir(path):
            if d.startswith("seg_band="):
                full = os.path.join(path, d)
                out[d] = sorted(os.listdir(full))
        return out

    before = snapshot(meta_path)
    assert len(before) > 5  # 40 keys spread over many band partitions

    # 1-key follow-up batch (fresh offsets so the pointer guard admits it)
    replicate_batch(
        make_actions(spark, [append("key-000", 2)], offset_base=1000), store
    )
    after = snapshot(meta_path)

    seg = (
        spark.range(1)
        .select(meta_segment(F.lit("key-000"), SEGMENTS_DEFAULT).alias("s"))
        .collect()[0]
        .s
    )
    touched = f"seg_band={seg % store.meta_bands}"
    assert after[touched] != before[touched]
    untouched_changed = [
        d for d in before if d != touched and after.get(d) != before[d]
    ]
    assert untouched_changed == [], untouched_changed

    # the merge's head read partition-prunes to the touched bands
    pruned = store.metajournal_segments([seg])
    physical = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in physical and "seg_band" in physical, physical

    # and the store still reads back the correct per-key state
    got = {
        r.id: r.seq_nr
        for r in store.metajournal().select("id", "seq_nr").collect()
    }
    assert got["key-000"] == 2
    assert all(got[k] == 1 for k in keys[1:])


def test_hot_key_fold_completes_and_is_correct(spark, hot_key_actions):
    # seq_nr == offset+1 for appends; final delete watermark is the last
    # delete's delete_to = 199_999 - 5_000 - 1 = 194_998... computed below
    meta = materialize_metajournal(hot_key_actions).collect()
    assert len(meta) == 1
    last_delete_offset = 199_999
    expected_delete_to = last_delete_offset - 5_000
    assert meta[0].delete_to == expected_delete_to
    n_rows = materialize_journal(hot_key_actions).count()
    # surviving appends: seq_nr > delete_to, i.e. offsets delete_to..199_999
    # minus the delete actions among them
    candidates = range(expected_delete_to, 200_000)
    expected = sum(1 for off in candidates if off % 10_000 != 9_999)
    assert n_rows == expected


def test_span_dedup_survives_giant_single_document(spark):
    """Hot-key class for the span family: ONE 60k-token document whose
    content repeats (worst case: every gram duplicated, the per-doc
    gap-island window is a single task over the whole doc).  Must complete
    quickly and merge to ONE whole-document span; the strict clean then
    removes everything."""
    from kafka_journal_spark.functions.dedup import (
        SPAN_L,
        duplicate_spans,
        remove_duplicate_spans,
    )

    n_rep = 20_000
    giant = " ".join(["alpha beta gamma"] * n_rep)  # 60k tokens, period 3
    docs = spark.createDataFrame(
        [(0, giant), (1, "totally unique words only here")],
        "doc_id long, text string",
    )
    spans = duplicate_spans(spark, "", l=SPAN_L, docs=docs).collect()
    assert len(spans) == 1  # one maximal whole-document span, doc 1 clean
    s = spans[0]
    assert (s.doc_id, s.span_start, s.span_end) == (0, 0, 3 * n_rep)
    cleaned = {
        r.doc_id: (r.n_tokens, r.n_removed)
        for r in remove_duplicate_spans(spark, "", l=SPAN_L, docs=docs).collect()
    }
    assert cleaned[0] == (3 * n_rep, 3 * n_rep)
    assert cleaned[1] == (5, 0)
