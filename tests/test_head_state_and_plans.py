"""Tests for the HeadInfo state stream (applyInPandasWithState) and the
R2 recovery planner."""

from __future__ import annotations

from conftest import ACTIONS_DDL, append, delete, make_actions, mark, purge

from kafka_journal_spark.folds import ActionRec, HeadInfo, head_info
from kafka_journal_spark.plans.recovery import plan_recovery, read_with_plan
from kafka_journal_spark.sources.statestore import JournalStore
from kafka_journal_spark.streaming.replicator import replicate_batch
from kafka_journal_spark.streaming.head_state import head_info_stream


def test_head_info_stream_matches_pure_fold(spark, tmp_path):
    acts = [
        append("a", 1), append("a", 2), delete("a", 1),
        append("b", 1), purge("b"), append("b", 2),
        mark("c"),
    ]
    src = tmp_path / "src"
    make_actions(spark, acts).write.parquet(str(src))
    stream = spark.readStream.schema(ACTIONS_DDL).parquet(str(src))
    q = (
        head_info_stream(stream)
        .writeStream.format("memory")
        .queryName("heads")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.id: (r.kind, r.offset, r.seq_nr, r.delete_to)
        for r in spark.sql("SELECT * FROM heads").collect()
    }
    # expected from the pure fold over each key's actions
    df = make_actions(spark, acts)
    from kafka_journal_spark.folds import ActionRec

    by_key = {}
    for r in df.collect():
        by_key.setdefault(r.id, []).append(
            ActionRec(r.action_type, r.offset, r.seq_nr_from, r.seq_nr_to, r.delete_to)
        )
    for key, recs in by_key.items():
        h = head_info(recs)
        assert got[key] == (h.kind, h.offset, h.seq_nr, h.delete_to), key


def test_head_info_stream_carries_state_across_batches(spark, tmp_path):
    src = tmp_path / "src2"
    out_dir = str(tmp_path / "out2")
    store_ckpt = str(tmp_path / "ckpt2")
    make_actions(spark, [append("a", 1), append("a", 2)]).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(ACTIONS_DDL).parquet(str(src))

    def run():
        q = (
            head_info_stream(stream)
            .writeStream.foreachBatch(
                lambda df, bid: df.withColumn("batch_id", __import__("pyspark").sql.functions.lit(bid))
                .write.mode("append")
                .parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", store_ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    # second batch: a delete arrives — folded ON TOP of restored state
    make_actions(spark, [delete("a", 2)], offset_base=2).write.mode("append").parquet(str(src))
    run()
    rows = spark.read.parquet(out_dir).orderBy("batch_id").collect()
    last = rows[-1]
    assert (last.kind, last.seq_nr, last.delete_to) == ("append", 2, 2)
    # the first batch's summary must also have been emitted
    assert (rows[0].kind, rows[0].seq_nr, rows[0].delete_to) == ("append", 2, None)


def test_plan_selection():
    assert plan_recovery(HeadInfo()) == plan_recovery(HeadInfo(kind="empty"))
    p = plan_recovery(HeadInfo(kind="empty"), 3)
    assert (p.read_store, p.read_kafka, p.from_seq_nr) == (True, False, 3)
    p = plan_recovery(HeadInfo(kind="append", offset=7, seq_nr=5, delete_to=2), 1)
    assert (p.read_store, p.read_kafka, p.from_seq_nr, p.kafka_from_offset) == (True, True, 3, 7)
    p = plan_recovery(HeadInfo(kind="delete", delete_to=4), 2)
    assert (p.read_store, p.read_kafka, p.from_seq_nr) == (True, False, 5)
    p = plan_recovery(HeadInfo(kind="purge"))
    assert (p.read_store, p.read_kafka) == (False, False)


def test_read_with_plan_end_to_end(spark, tmp_path):
    # replicated prefix: a(1..2); kafka tail: delete(1), a(3)
    store = JournalStore(spark, str(tmp_path / "plan-store"))
    replicate_batch(make_actions(spark, [append("a", 1), append("a", 2)]), store)
    tail = make_actions(spark, [delete("a", 1), append("a", 3)], offset_base=2)
    recs = [
        ActionRec(r.action_type, r.offset, r.seq_nr_from, r.seq_nr_to, r.delete_to)
        for r in tail.collect()
    ]
    head = head_info(recs)
    out = read_with_plan(store, tail.toArrow(), "journal", "a", head, None)
    assert sorted((r.seq_nr, r.offset) for r in out) == [(2, 1), (3, 3)]
    # purge head -> empty
    out2 = read_with_plan(store, tail.toArrow(), "journal", "a", HeadInfo(kind="purge"), None)
    assert len(out2) == 0


def test_read_with_plan_tail_purge_horizon_erases_prefix(spark, tmp_path):
    """An un-replicated purge followed by a fresh append: the HeadInfo is
    ``append`` (the fold lost the purge), so only the caller's purge
    horizon can tell the plan that the replicated prefix is gone."""
    store = JournalStore(spark, str(tmp_path / "horizon-store"))
    replicate_batch(make_actions(spark, [append("a", 1), append("a", 2)]), store)
    tail = make_actions(spark, [purge("a"), append("a", 1)], offset_base=2)
    head = head_info(
        [
            ActionRec(r.action_type, r.offset, r.seq_nr_from, r.seq_nr_to, r.delete_to)
            for r in tail.collect()
        ]
    )
    assert (head.kind, head.offset, head.seq_nr) == ("append", 3, 1)
    out = read_with_plan(store, tail.toArrow(), "journal", "a", head, 2)
    assert [(r.seq_nr, r.offset, r.payload_txt) for r in out] == [(1, 3, "p1")]
    # without the horizon the stale prefix would win the seam
    stale = read_with_plan(store, tail.toArrow(), "journal", "a", head, None)
    assert sorted((r.seq_nr, r.offset) for r in stale) == [(1, 0), (2, 1)]


def test_head_info_stream_auto_selects_by_dependency(spark, tmp_path):
    """The head stream's operator no longer depends on which optional
    packages are importable: head_info_stream (applyInPandasWithState) is
    the one implementation, and it must plan and run without
    google.protobuf (the transformWithStateInPandas dependency)."""
    src = tmp_path / "autosrc"
    make_actions(spark, [append("a", 1), delete("a", 1)]).write.parquet(str(src))
    stream = spark.readStream.schema(ACTIONS_DDL).parquet(str(src))

    df = head_info_stream(stream)
    assert df.schema.simpleString().startswith("struct<topic:string,id:string")
    q = (
        df.writeStream.format("memory")
        .queryName("auto_heads")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "auto_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.id: (r.kind, r.seq_nr, r.delete_to)
        for r in spark.sql("SELECT * FROM auto_heads").collect()
    }
    # delete-after-append keeps the Append kind (only the watermark moves)
    assert got == {"a": ("append", 1, 1)}
