"""Spark work of the client's calls, counted through the status tracker.

Driver rows enter Spark through Arrow (``session.local_frame``), so a
handful of rows starts no Python worker: an append's log write is one job
of one task, and an empty frame (a store table with no file in the
planned band) collects without any task.  A read collects its key's tail
once, for both the HeadInfo fold and the purge horizon, and the final
plan scans the log once more with the same inlined pointer fence;
``read_with_plan`` starts no job itself.
"""

from __future__ import annotations

from test_band_lookup import _spark_jobs

from kafka_journal_spark import SEGMENTS_DEFAULT
from kafka_journal_spark.api import JournalClient
from kafka_journal_spark.folds import head_info
from kafka_journal_spark.operators.replicate import segment_of
from kafka_journal_spark.plans.recovery import read_with_plan
from kafka_journal_spark.sources.statestore import META_SCHEMA_DDL


def test_client_calls_run_few_jobs_and_no_python_workers(spark, tmp_path, monkeypatch):
    c = JournalClient(spark, str(tmp_path / "cl"))
    for key in ("a", "b", "c"):
        c.append("t", key, [f"{key}1", f"{key}2"])
    c.replicate()
    # a clean head table, as a wide set-up replicate leaves it (dirty bands
    # add the merge-on-read aggregate to every head lookup)
    c.store.fold_metajournal()
    c.delete_to("t", "a", 1)
    c.append("t", "a", ["a3"])  # un-replicated tail beside the prefix

    writes = []
    emit = c._emit

    def counted_emit(rows):
        with _spark_jobs(spark) as w:
            out = emit(rows)
        writes.append(w)
        return out

    monkeypatch.setattr(c, "_emit", counted_emit)
    c.append("t", "a", ["a4"])
    assert writes == [{"jobs": 1, "tasks": 1}]

    with _spark_jobs(spark) as read:
        got = c.read("t", "a")
    assert got == [(2, "a2"), (3, "a3"), (4, "a4")]
    assert read["jobs"] <= 6, read

    tail = c._tail("t", "a")
    head = head_info(c._fold_recs(tail))
    for horizon in (None, 0):
        with _spark_jobs(spark) as build:
            read_with_plan(c.store, tail, "t", "a", head, horizon)
        assert build["jobs"] == 0, (horizon, build)

    store = c.store
    live = {f.split("/", 1)[0] for f in store.tables["metajournal"].live_files()}
    band = next(
        f"seg_band={b}" for b in range(store.meta_bands) if f"seg_band={b}" not in live
    )
    with _spark_jobs(spark) as absent:
        assert store.tables["metajournal"].read(spark, META_SCHEMA_DDL, {band}).collect() == []
    assert absent["tasks"] == 0, absent
    # the same holds end to end for a key whose band holds no file
    key = next(
        k for k in (f"absent-{i}" for i in range(10_000))
        if f"seg_band={segment_of(k, SEGMENTS_DEFAULT) % store.meta_bands}" not in live
    )
    with _spark_jobs(spark) as ptr:
        assert store.pointer("t", key) is None
    assert ptr["tasks"] == 0, ptr
