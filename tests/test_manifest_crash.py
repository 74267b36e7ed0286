"""Kill a SUBPROCESS between a mutation's file writes and its manifest
publish — the manifest protocol's core claim made physical
(sources/manifest.py): a crash mid-APPEND (data files on disk, manifest
commit never ran) and a crash mid-SWAP (fresh files moved into the live directory,
manifest still naming the old state) are both INVISIBLE to every reader,
and vacuum reaps the orphans by age.  The in-process crash-restart soak
(``test_crash_restart_soak.py``) kills between replicator mutations; this
file kills INSIDE a mutation's commit window, via ``os._exit`` (no atexit,
no finally — the closest a test gets to a power cut), driven by the
env-gated ``_maybe_crash`` hooks.

Reference parity: the reference gets crash-atomicity per statement from
Cassandra (a batch either applied or didn't, ``ReplicatedCassandra.scala``);
on parquet the manifest token is the single commit point this test proves.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest
from conftest import append, make_actions

from kafka_journal_spark.sources.manifest import walk_parquet
from kafka_journal_spark.sources.statestore import JournalStore
from kafka_journal_spark.streaming.replicator import replicate_batch

_CHILD = """
import os, sys
root, mode = sys.argv[1], sys.argv[2]
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from conftest import append, make_actions
from kafka_journal_spark.sources.statestore import JournalStore
from kafka_journal_spark.streaming.replicator import replicate_batch
store = JournalStore(spark, root)
if mode == "append":
    replicate_batch(
        make_actions(spark, [append("a", 2), append("c", 1)], offset_base=10),
        store,
    )
else:
    store.compact()
sys.exit(1)  # unreachable when the crash hook fires
"""


def _state(store):
    return (
        {(r.id, r.seq_nr, r.offset) for r in store.read().collect()},
        {
            (r.topic, r.id, r.seq_nr, r.delete_to)
            for r in store.metajournal().collect()
        },
        {(r.topic, r.partition, r.offset) for r in store.pointers().collect()},
    )


def _run_child(root: str, mode: str, crash_point: str) -> None:
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            [os.getcwd(), os.path.join(os.getcwd(), "tests")]
        ),
        KJS_STORE_CRASH=crash_point,
    )
    r = subprocess.run(
        [sys.executable, "-c", _CHILD, root, mode], env=env, timeout=300
    )
    assert r.returncode == 137, f"child exited {r.returncode}, not the crash"


@pytest.mark.parametrize(
    "mode, crash_point",
    [
        ("append", "append_precommit_journal"),
        ("swap", "swap_precommit_journal"),
    ],
)
def test_kill_mid_commit_is_invisible_then_vacuumed(
    spark, tmp_path, mode, crash_point
):
    root = str(tmp_path / "s")
    store = JournalStore(spark, root)
    replicate_batch(
        make_actions(spark, [append("a", 1), append("b", 1)]), store
    )
    pre = _state(store)
    jdir = store._path("journal")
    files_pre = walk_parquet(jdir)
    man_pre = store.tables["journal"].load()
    store.release_ownership()

    _run_child(root, mode, crash_point)

    # the crash's half-done work is physically present but unreferenced...
    reopened = JournalStore(spark, root)
    orphans = walk_parquet(jdir) - files_pre
    assert orphans, "the crash window must have left files behind"
    assert reopened.tables["journal"].load() == man_pre, (
        "a crash before the manifest publish must leave the manifest "
        "byte-identical"
    )
    # ...and every reopened read equals the pre-crash snapshot exactly
    assert _state(reopened) == pre

    # recovery: the child died holding the lease — the next mutation
    # detects the dead pid and takes over; aged orphans are reaped
    old = time.time_ns() - int((reopened.retire_grace_s + 5) * 1e9)
    for rel in orphans:
        p = os.path.join(jdir, rel)
        os.utime(p, ns=(old, old))
    reopened.retire_grace_s = 0  # exact disk==manifest after the compact
    reopened.compact(["journal"])
    assert not (walk_parquet(jdir) & orphans)
    assert walk_parquet(jdir) == (
        reopened.tables["journal"].live_files() or set()
    )
    assert _state(reopened) == pre


def test_corrupt_token_repair_keeps_retired_files_retired(spark, tmp_path):
    """EXTERNAL corruption of the manifest token (manual edit, foreign
    tooling — our own writes are fsynced pre-rename) must not resurrect
    retired-within-grace swap duplicates as live files: the next
    mutation repairs from the directory walk + the ``.prev`` safety net
    (the last GOOD superseded manifest), keeping known-retired files
    RETIRED — original timestamps, so vacuum still reaps them on
    schedule — while adopting everything newer live (no data loss).
    ``.prev`` is one save behind, so the net covers every retirement
    except the single mutation immediately before the corruption
    (documented window)."""
    root = str(tmp_path / "s")
    store = JournalStore(spark, root)
    replicate_batch(
        make_actions(spark, [append("a", 1), append("b", 1)]), store
    )
    pre_rows = {(r.id, r.seq_nr) for r in store.read().collect()}

    store.compact(["journal"])  # retires the replaced files (grace 900 s)
    _, retired = store.tables["journal"].load()
    assert retired, "compact must have retired the replaced files"
    # one more mutation so .prev (one save behind) carries the retired map
    replicate_batch(
        make_actions(spark, [append("c", 1)], offset_base=10), store
    )

    with open(store._path("_manifest_journal"), "w") as f:
        f.write("{this is not json")

    with pytest.warns(RuntimeWarning):
        replicate_batch(
            make_actions(spark, [append("d", 1)], offset_base=20), store
        )

    files2, retired2 = store.tables["journal"].load()
    assert set(retired) <= set(retired2), "known-retired files were dropped"
    assert set(retired2).isdisjoint(files2)
    assert not (set(files2) & set(retired)), (
        "retired files re-adopted as live — permanent duplicates"
    )
    for f, ts in retired.items():
        assert retired2[f] == ts, "retirement timestamps must survive repair"
    # no duplicated rows after the repair
    rows = sorted(
        (r.id, r.seq_nr) for r in store.read().collect()
    )
    assert rows == sorted(pre_rows | {("c", 1), ("d", 1)})

    # the preserved timestamps mean vacuum reaps on the ORIGINAL schedule
    store.retire_grace_s = 0
    replicate_batch(
        make_actions(spark, [append("e", 1)], offset_base=30), store
    )
    _, retired3 = store.tables["journal"].load()
    assert not set(retired) & set(retired3), "aged retired files not reaped"
    jdir = store._path("journal")
    assert not (walk_parquet(jdir) & set(retired))
