"""Spark work of the client's calls, counted through the status tracker.

A client call starts Spark jobs only for data Spark has to scan.  The
log's end offset and a key's un-replicated tail come from the driver's
footer index of the actions log (pyarrow, no job), and the replicated
pointers are collected once per pointers commit.  Driver rows enter Spark
through Arrow (``session.local_frame``), so a handful of rows starts no
Python worker, and an empty frame (a store table with no file in the
planned band) collects without any task.  An append writes its log file
with pyarrow (no job), so its one job is the pointer's head lookup.  A
dirty head band of one file needs no newest-wins merge, so a pointer
lookup there is one job.  A key read is one job with or without a tail:
the store read plans in one partition with no Exchange, and the tail is
stitched on the driver.
"""

from __future__ import annotations

import pyarrow as pa
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
    # a narrow replicate leaves each touched band dirty with ONE delta file
    store = c.store
    bands = {f.split("/", 1)[0] for f in store.tables["metajournal"].live_files()}
    assert len(bands) == 3 and len(store._dirty_bands()) == 3
    c.delete_to("t", "a", 1)
    c.append("t", "a", ["a3"])  # un-replicated tail beside the prefix

    with _spark_jobs(spark) as nxt:
        assert c._next_offset() == 5
    assert nxt["jobs"] == 0, nxt

    with _spark_jobs(spark) as app:
        assert c.append("t", "b", ["b3"])[1] == 5
    assert app["jobs"] <= 1, app  # the head lookup
    with _spark_jobs(spark) as fp:
        c._log_fingerprint()
    assert fp["jobs"] == 0, fp

    writes = []
    emit = c._emit

    def counted_emit(rows):
        with _spark_jobs(spark) as w:
            out = emit(rows)
        writes.append(w)
        return out

    monkeypatch.setattr(c, "_emit", counted_emit)
    c.append("t", "a", ["a4"])
    assert writes == [{"jobs": 0, "tasks": 0}]

    # "c" has no tail: its pointer is the stored head of a one-file band
    with _spark_jobs(spark) as ptr:
        assert c.pointer("t", "c") == 2
    assert ptr["jobs"] == 1, ptr

    with _spark_jobs(spark) as read:
        got = c.read("t", "a")
    assert got == [(2, "a2"), (3, "a3"), (4, "a4")]
    assert read["jobs"] <= 1, read
    with _spark_jobs(spark) as read:
        assert c.read("t", "c") == [(1, "c1"), (2, "c2")]  # no tail
    assert read["jobs"] <= 1, read

    tail = c._tail("t", "a")
    assert isinstance(tail, pa.Table) and tail["offset"].to_pylist() == [3, 4, 6]
    head = head_info(c._fold_recs(tail))
    for horizon in (None, 0):
        with _spark_jobs(spark) as run:
            read_with_plan(c.store, tail, "t", "a", head, horizon)
        assert run["jobs"] <= 1, (horizon, run)

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
