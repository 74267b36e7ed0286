"""ConsistencySpec-style tests for the streaming replicator: applying a
stream of actions in micro-batches (any split) must produce the same
readable journal as one-shot batch materialization, including across purge
incarnations, redelivery, and crash-replay."""

from __future__ import annotations

import pytest
from conftest import ACTIONS_DDL, append, delete, make_actions, mark, purge

from kafka_journal_spark.operators.replicate import materialize_journal
from kafka_journal_spark.sources.statestore import JournalStore
from kafka_journal_spark.streaming.replicator import (
    replicate_batch,
    run_parquet_replicator,
)

SCENARIOS = {
    "appends_deletes": [
        append("a", 1), append("a", 2), delete("a", 1), append("a", 3),
        append("b", 1), delete("b", 1),
    ],
    "purge_and_fresh": [
        append("a", 1), append("a", 2), purge("a"), append("a", 3), delete("a", 3),
        append("a", 4), mark("a"),
    ],
    "purge_tail": [
        append("a", 1), append("b", 1), purge("a"), purge("b"), append("b", 2),
    ],
    "interleaved": [
        append("a", 1), append("b", 1), append("a", 2), delete("a", 2),
        purge("b"), append("b", 2), append("a", 3), delete("b", 2),
        append("b", 3),
    ],
}


def test_incremental_equals_batch_randomized(spark, tmp_path):
    """ConsistencySpec, randomized: writer-valid action streams (monotone
    seq ranges, deletes clamped to the current pointer — what the real
    client emits) replicated through RANDOM batch boundaries must equal the
    one-shot materialization, for both journal rows and heads."""
    import random

    rng = random.Random(20260813)
    for trial in range(4):
        acts = []
        seq = {}
        for _ in range(rng.randint(10, 24)):
            key = rng.choice(["a", "b", "c"])
            kind = rng.choices(
                ["append", "delete", "purge", "mark"], weights=[6, 3, 1, 1]
            )[0]
            if kind == "append":
                seq[key] = seq.get(key, 0) + 1
                acts.append(append(key, seq[key]))
            elif kind == "delete":
                if seq.get(key, 0) == 0:
                    continue  # the writer drops deletes on absent journals
                acts.append(delete(key, rng.randint(1, seq[key])))
            elif kind == "purge":
                seq[key] = 0
                acts.append(purge(key))
            else:
                acts.append(mark(key))
        if not acts:
            continue
        cuts = sorted(rng.sample(range(1, len(acts) + 1), min(3, len(acts))))
        store = JournalStore(spark, str(tmp_path / f"rand{trial}"))
        bounds = [0, *cuts, len(acts)]
        for lo, hi in zip(bounds, bounds[1:]):
            if lo < hi:
                replicate_batch(make_actions(spark, acts[lo:hi], offset_base=lo), store)
                # merge-on-read invariant: folding head deltas at ANY batch
                # boundary is a pure physical rewrite — outcomes unchanged
                if rng.random() < 0.5:
                    store.fold_metajournal()
        assert _got(store) == _expected(spark, acts), (trial, cuts, acts)
        # heads agree with the batch materializer too
        from kafka_journal_spark.operators.replicate import materialize_metajournal

        want_meta = {
            r.id: (r.seq_nr, r.delete_to)
            for r in materialize_metajournal(make_actions(spark, acts)).collect()
        }
        got_meta = {
            r.id: (r.seq_nr, r.delete_to) for r in store.metajournal().collect()
        }
        assert got_meta == want_meta, (trial, cuts, acts)


# NOTE: an overshooting delete is deliberately NOT a SCENARIOS entry — the
# reference applies the clamp per poll (Batch collapse), so batch boundaries
# legitimately change the outcome; "incremental == one-shot" only holds for
# writer-clamped streams.
def test_overshoot_delete_clamped_across_batches(spark, tmp_path):
    # delete watermark arriving in a later batch than the appends it covers
    # is clamped to the existing head (ReplicatedCassandra.scala:309-316)
    store = JournalStore(spark, str(tmp_path / "overshoot"))
    replicate_batch(make_actions(spark, [append("a", 1), append("a", 2)]), store)
    replicate_batch(make_actions(spark, [delete("a", 99)], offset_base=2), store)
    meta = {r.id: (r.seq_nr, r.delete_to) for r in store.metajournal().collect()}
    assert meta == {"a": (2, 2)}
    assert store.pointer("journal", "a") == 2
    assert _got(store) == []


def _expected(spark, acts):
    df = make_actions(spark, acts)
    return sorted(
        (r.id, r.seq_nr, r.offset)
        for r in materialize_journal(df).select("id", "seq_nr", "offset").collect()
    )


def _got(store):
    return sorted(
        (r.id, r.seq_nr, r.offset)
        for r in store.read().select("id", "seq_nr", "offset").collect()
    )


@pytest.mark.parametrize("name", sorted(SCENARIOS))
@pytest.mark.parametrize("splits", [(1,), (3,), (1, 4), (2, 3, 5)])
def test_incremental_equals_batch(spark, tmp_path, name, splits):
    acts = SCENARIOS[name]
    store = JournalStore(spark, str(tmp_path / f"{name}-{'-'.join(map(str, splits))}"))
    bounds = [0, *[s for s in splits if s < len(acts)], len(acts)]
    for lo, hi in zip(bounds, bounds[1:]):
        if lo < hi:
            replicate_batch(make_actions(spark, acts[lo:hi], offset_base=lo), store)
    assert _got(store) == _expected(spark, acts), f"{name} splits={splits}"


def test_redelivery_is_idempotent(spark, tmp_path):
    acts = SCENARIOS["interleaved"]
    store = JournalStore(spark, str(tmp_path / "redeliver"))
    replicate_batch(make_actions(spark, acts[:5]), store)
    # redeliver the whole first batch plus the tail (overlapping offsets)
    replicate_batch(make_actions(spark, acts), store)
    # and replay the full stream again
    replicate_batch(make_actions(spark, acts), store)
    assert _got(store) == _expected(spark, acts)


def test_pointer_semantics(spark, tmp_path):
    store = JournalStore(spark, str(tmp_path / "ptr"))
    replicate_batch(make_actions(spark, [append("a", 1), append("a", 2), purge("b")]), store)
    assert store.pointer("journal", "a") == 2
    assert store.pointer("journal", "b") is None
    replicate_batch(
        make_actions(spark, [delete("a", 2), append("b", 1)], offset_base=3), store
    )
    assert store.pointer("journal", "a") == 2
    assert store.pointer("journal", "b") == 1
    assert _got(store) == [("b", 1, 4)]


def test_compaction_preserves_reads(spark, tmp_path):
    acts = SCENARIOS["purge_and_fresh"]
    store = JournalStore(spark, str(tmp_path / "compact"))
    replicate_batch(make_actions(spark, acts[:3]), store)
    replicate_batch(make_actions(spark, acts[3:], offset_base=3), store)
    before = _got(store)
    store.compact()
    assert _got(store) == before == _expected(spark, acts)


def test_streaming_file_source(spark, tmp_path):
    acts = SCENARIOS["interleaved"]
    src = tmp_path / "src"
    store = JournalStore(spark, str(tmp_path / "stream"))
    # two availableNow passes over a growing source dir
    make_actions(spark, acts[:5]).write.mode("append").parquet(str(src))
    run_parquet_replicator(spark, str(src), store, ACTIONS_DDL)
    make_actions(spark, acts[5:], offset_base=5).write.mode("append").parquet(str(src))
    run_parquet_replicator(spark, str(src), store, ACTIONS_DDL)
    assert _got(store) == _expected(spark, acts)


def test_self_maintaining_replicator_bounds_file_count(spark, tmp_path):
    """A standing replicator with maintain_every merges its per-trigger
    file appends via the health-driven incremental compaction: after many
    single-file micro-batches the journal's file count stays bounded and
    reads equal a one-shot replication of the same stream."""
    import glob

    from conftest import append, make_actions

    src = tmp_path / "src"
    # 8 micro-batches of one file each (maxFilesPerTrigger=1 below)
    for i in range(8):
        make_actions(
            spark, [append(f"k{i}", 1), append(f"k{i}", 2)], offset_base=i * 10
        ).coalesce(1).write.mode("append").parquet(str(src))

    # retire_grace_s=0: this test pins the PHYSICAL file count, so retired
    # snapshot files must reap at the end of the mutation that retired them
    store = JournalStore(spark, str(tmp_path / "st"), retire_grace_s=0)
    run_parquet_replicator(
        spark,
        str(src),
        store,
        ACTIONS_DDL,
        maintain_every=2,
        min_files=2,
        max_files_per_trigger=1,
    )

    files = glob.glob(str(tmp_path / "st" / "journal" / "**" / "*.parquet"),
                      recursive=True)
    # 8 appends uncompacted would leave >= 8 files; the in-loop compaction
    # merged them (the last 2 batches may still be un-merged)
    assert len(files) <= 4, files
    # and the manifest's live view agrees with the physical state
    live = store.tables["journal"].live_files()
    assert live is not None and len(live) == len(files)

    # reads equal a one-shot replication of the same actions
    one = JournalStore(spark, str(tmp_path / "one"))
    replicate_batch(spark.read.schema(ACTIONS_DDL).parquet(str(src)), one)
    assert (
        {(r.id, r.seq_nr, r.offset) for r in store.read().collect()}
        == {(r.id, r.seq_nr, r.offset) for r in one.read().collect()}
    )


def test_mark_only_keys_never_mint_head_rows(spark, tmp_path):
    """Marks are read-side fencing records: a key whose only actions are
    marks must NOT appear in the metajournal (the pre-fix merge minted a
    spurious head with seq_nr=0/offset=-1, so pointer() returned 0
    instead of None and ids() listed a nonexistent journal) — but a
    mark-only batch must STILL advance the replicated pointers, exactly
    the reference's offset bookkeeping for consumed records."""
    from conftest import mark

    store = JournalStore(spark, str(tmp_path / "marks"))
    # batch 1: a real journal for key a + a mark-only key m
    replicate_batch(
        make_actions(
            spark, [append("a", 1), mark("m"), append("a", 2)]
        ),
        store,
    )
    metas = {r.id for r in store.metajournal().collect()}
    assert metas == {"a"}, metas
    assert store.pointer("journal", "m") is None
    assert _got(store) == [("a", 1, 0), ("a", 2, 2)]
    ptr1 = store.pointers().agg({"offset": "max"}).collect()[0][0]
    assert ptr1 == 2

    # batch 2: mark-ONLY batch — no head churn, pointers still advance
    before_meta = sorted(
        (r.id, r.seq_nr, r.updated) for r in store.metajournal().collect()
    )
    replicate_batch(
        make_actions(spark, [mark("a"), mark("m")], offset_base=3), store
    )
    after_meta = sorted(
        (r.id, r.seq_nr, r.updated) for r in store.metajournal().collect()
    )
    assert after_meta == before_meta  # no spurious rows, no updated bumps
    ptr2 = store.pointers().agg({"offset": "max"}).collect()[0][0]
    assert ptr2 == 4  # the mark offsets were committed
