"""The beyond-grace contract (RETIRE_GRACE_S): a scan whose plan→collect
gap OUTLIVES the retire grace under standing maintenance must either return
complete rows or raise — never a silently-short result.

Three belts, each pinned here:
- holding the base read DataFrame registers its snapshot against this
  process's vacuum (weakref-scoped), so the scan completes whole however
  long it waits;
- ``pin_reads()`` does the same for a whole block of derived-plan work;
- an UNPROTECTED plan whose files a vacuum reaped fails LOUDLY — manifest
  scans run with ignoreMissingFiles=false (the old belt converted exactly
  this race into silently missing rows).
"""

from __future__ import annotations

import gc
import time

import pytest
from conftest import append, delete, make_actions

from kafka_journal_spark.sources.manifest import walk_parquet
from kafka_journal_spark.sources.statestore import JournalStore
from kafka_journal_spark.streaming.replicator import replicate_batch

GRACE = 0.2


def _seed(spark, root, **kw):
    store = JournalStore(spark, root, **kw)
    replicate_batch(
        make_actions(
            spark,
            [append("a", 1), append("a", 2), append("b", 1), delete("b", 0)],
        ),
        store,
    )
    return store


def _churn(store, rounds=2):
    """Retire and replace every journal file, then run mutations AFTER the
    grace lapsed so vacuum gets its chance to reap."""
    for _ in range(rounds):
        store.compact(["journal"])
    time.sleep(GRACE + 0.1)
    store.compact(["journal"])  # vacuum runs at the end of this mutation


def test_held_base_frame_outlives_grace_and_scans_whole(spark, tmp_path):
    store = _seed(spark, str(tmp_path / "s"), retire_grace_s=GRACE)
    want = {(r.id, r.seq_nr) for r in store.journal().collect()}
    held = store.journal()  # base frame held -> snapshot registered
    held_files = set((store.tables["journal"].load() or ([], {}))[0])
    assert held_files
    _churn(store)
    # the files the held plan listed were retired rounds ago and the grace
    # lapsed — but the registration kept them on disk, so the scan is whole
    jdir = store._path("journal")
    assert held_files <= walk_parquet(jdir), "pinned files vanished"
    assert {(r.id, r.seq_nr) for r in held.collect()} == want
    # release: drop the frame, collect the weakref, next vacuum reaps
    del held
    gc.collect()
    time.sleep(GRACE + 0.1)
    store.compact(["journal"])
    assert not (held_files & walk_parquet(jdir)), (
        "released files must be reaped"
    )


def test_pin_reads_protects_derived_plans_past_grace(spark, tmp_path):
    store = _seed(spark, str(tmp_path / "s"), retire_grace_s=GRACE)
    want = {(r.id, r.seq_nr) for r in store.read().collect()}
    with store.pin_reads():
        planned = store.read().select("id", "seq_nr")  # derived plan only
        _churn(store)
        assert {(r.id, r.seq_nr) for r in planned.collect()} == want


def test_unprotected_plan_past_grace_is_never_silently_short(spark, tmp_path):
    store = _seed(spark, str(tmp_path / "s"), retire_grace_s=GRACE)
    want = {(r.id, r.seq_nr) for r in store.read().collect()}
    planned = store.read().select("id", "seq_nr")  # base frame not held
    gc.collect()  # the base frame's registration is gone
    _churn(store)
    # contract: complete rows or a loud failure — NEVER a short result
    try:
        got = {(r.id, r.seq_nr) for r in planned.collect()}
    except Exception:
        return  # loud is acceptable past the grace
    assert got == want, "beyond-grace scan returned silently-short rows"


def test_corrupt_manifest_token_degrades_to_listing_and_repairs(
    spark, tmp_path
):
    """External corruption of the manifest token (power loss cannot tear
    it — the write fsyncs before its atomic rename): reads warn and plan
    from the repair view (the directory walk minus the files the ``.prev``
    manifest lists as retired); the next commit saves that view as a
    fresh manifest."""
    store = _seed(spark, str(tmp_path / "s"), retire_grace_s=0)
    want = {(r.id, r.seq_nr) for r in store.read().collect()}
    with open(store._path("_manifest_journal"), "w") as f:
        f.write("{not json")
    with pytest.warns(RuntimeWarning, match="corrupt"):
        got = {(r.id, r.seq_nr) for r in store.read().collect()}
    assert got == want
    store.compact(["journal"])  # repair: re-adopt + swap
    man = store.tables["journal"].load()
    assert man is not None
    assert {(r.id, r.seq_nr) for r in store.read().collect()} == want
