"""The client's driver-side footer index of the actions log.

``_next_offset`` and ``_tail`` read the log with pyarrow on the driver
instead of through Spark.  These tests hold the index to the Spark scan
it replaces: the same rows for a key's un-replicated tail on a log that
mixes a producer's file with the client's own appends, the same file set
as ``spark.read.parquet``, and no stale entry after a foreign writer adds,
replaces or removes a file.

The client appends to the log with pyarrow too (``_emit``): its files
read back through Spark as the rows a Spark-written file gives, and the
temp file a crash leaves before the rename is invisible to every reader.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kafka_journal_spark.api import (
    ACTIONS_LOG_DDL,
    JournalClient,
    _log_arrow_schema,
    _log_struct,
)
from kafka_journal_spark.session import local_frame
from kafka_journal_spark.sources.statestore import JournalStore
from kafka_journal_spark.streaming.replicator import run_parquet_replicator

#: an out-of-band producer's schema (``ACTIONS_LOG_DDL`` written by
#: pyarrow: microsecond UTC timestamps, Arrow list/map field names)
LOG_SCHEMA = pa.schema([
    ("topic", pa.string()), ("partition", pa.int32()), ("offset", pa.int64()),
    ("id", pa.string()), ("action_type", pa.string()),
    ("timestamp", pa.timestamp("us", tz="UTC")), ("origin", pa.string()),
    ("version", pa.string()), ("seq_nr_from", pa.int64()), ("seq_nr_to", pa.int64()),
    ("payload_type", pa.string()), ("payload", pa.string()),
    ("payloads", pa.list_(pa.string())), ("payloads_bin", pa.list_(pa.binary())),
    ("headers", pa.map_(pa.string(), pa.string())), ("tags", pa.list_(pa.string())),
    ("delete_to", pa.int64()), ("mark_id", pa.string()), ("expire_after_secs", pa.int64()),
])

T0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def _row(key: str, offset: int, kind: str, partition: int = 3, **kw) -> dict:
    row = {f: None for f in LOG_SCHEMA.names}
    row.update(
        topic="t", partition=partition, offset=offset, id=key, action_type=kind,
        timestamp=T0 + dt.timedelta(seconds=offset), origin="producer", version="1.0",
    )
    row.update(kw)
    return row


def _write(c: JournalClient, name: str, rows: list[dict]) -> str:
    os.makedirs(c.log_path, exist_ok=True)
    path = os.path.join(c.log_path, name)
    pq.write_table(pa.Table.from_pylist(rows, schema=LOG_SCHEMA), path)
    return path


def _spark_tail(c: JournalClient, topic: str, key: str) -> list:
    """The Spark scan the driver tail replaces: the key's log rows above
    their partition's replicated pointer, in offset order."""
    fence = F.lit(-1)
    for r in c.store.pointers().filter(F.col("topic") == topic).collect():
        fence = F.when(F.col("partition") == r.partition, F.lit(r.offset)).otherwise(fence)
    return (
        c._log()
        .filter((F.col("topic") == topic) & (F.col("id") == key) & (F.col("offset") > fence))
        .orderBy("offset")
        .collect()
    )


def _driver_tail(spark, c: JournalClient, topic: str, key: str) -> list:
    return spark.createDataFrame(c._tail(topic, key), _log_struct()).collect()


def test_driver_tail_equals_spark_scan_on_a_mixed_log(spark, tmp_path):
    c = JournalClient(spark, str(tmp_path / "c"))
    # a producer's history, replicated: only rows past the fence are tail
    _write(c, "part-history.parquet", [
        _row("k", 0, "append", seq_nr_from=1, seq_nr_to=2, payload_type="text",
             payload="e1", payloads=["e1", "e2"], tags=["x"]),
        _row("k", 1, "append", partition=5, seq_nr_from=3, seq_nr_to=3,
             payload_type="binary", payloads_bin=[b"\x00\xff"]),
        _row("other", 2, "append", seq_nr_from=1, seq_nr_to=1, payload_type="text",
             payload="o1", payloads=["o1"]),
    ])
    c.replicate()
    # the client's own appends: binary, headers, tags, TTL
    c.append("t", "k", [b"\x01", b"\x02\x03"], headers={"h": "v"}, tags=["a", "b"],
             expire_after_secs=43_200)
    c.append("t", "k", ["text"], headers={"h2": "w"})
    c.delete_to("t", "k", 4)
    # a producer's un-replicated file: NULL-heavy delete/purge rows in two
    # partitions, a foreign key, and a row below partition 3's fence
    end = c._next_offset()
    _write(c, "part-foreign.parquet", [
        _row("k", end, "delete", delete_to=2),
        _row("k", end + 1, "purge", partition=6),
        _row("k", end + 2, "append", seq_nr_from=1, seq_nr_to=1, payload_type="text",
             payload="r", payloads=["r"], headers={"a": "1"}, expire_after_secs=60),
        _row("other", end + 3, "append", seq_nr_from=2, seq_nr_to=2),
        _row("k", 0, "append", seq_nr_from=9, seq_nr_to=9),  # replicated offset
    ])

    for key in ("k", "other", "absent"):
        got = _driver_tail(spark, c, "t", key)
        assert got == _spark_tail(c, "t", key), key
    tail = c._tail("t", "k")
    assert tail.schema == _log_arrow_schema()
    assert tail["offset"].to_pylist() == sorted(tail["offset"].to_pylist())
    assert tail.num_rows == 6
    assert c._next_offset() == end + 4


def test_foreign_writes_are_seen(spark, tmp_path):
    c = JournalClient(spark, str(tmp_path / "c"))
    c.append("t", "k", ["a"])
    assert c._next_offset() == 1
    fp = c._log_fingerprint()

    # a new file from another producer
    path = _write(c, "part-foreign.parquet", [_row("k", 1, "append", seq_nr_from=2, seq_nr_to=2)])
    assert c._next_offset() == 2
    assert c._tail("t", "k")["offset"].to_pylist() == [0, 1]
    assert c._log_fingerprint() != fp
    assert c.pointer("t", "k") == 2

    # the same file replaced in place under its name (new size and mtime)
    st = os.stat(path)
    _write(c, "part-foreign.parquet", [
        _row("k", 1, "append", seq_nr_from=2, seq_nr_to=2),
        _row("k", 2, "append", seq_nr_from=3, seq_nr_to=4, payloads=["p", "q"]),
    ])
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert c._next_offset() == 3
    assert c._tail("t", "k")["offset"].to_pylist() == [0, 1, 2]
    assert c.pointer("t", "k") == 4


def test_index_lists_the_files_spark_reads_and_evicts_removed_ones(spark, tmp_path):
    c = JournalClient(spark, str(tmp_path / "c"))
    for i in range(3):
        c.append("t", f"k{i}", [f"p{i}"])
    _write(c, "part-foreign.parquet", [_row("z", 3, "append", seq_nr_from=1, seq_nr_to=1)])
    spark_files = {
        os.path.basename(p) for p in spark.read.parquet(c.log_path).inputFiles()
    }
    names = {name for name, _, _ in c._index()}
    assert names == spark_files
    assert len(spark_files) == 4

    # a file leaves the log: its entry goes, and the end offset with it
    os.remove(os.path.join(c.log_path, "part-foreign.parquet"))
    assert c._next_offset() == 3
    assert len(c._log_index) == 3
    assert {name for name, _, _ in c._log_index} == spark_files - {"part-foreign.parquet"}


def _by_offset(df) -> list:
    return sorted(df.collect(), key=lambda r: r.offset)


def test_emitted_file_reads_back_like_a_spark_written_one(spark, tmp_path, monkeypatch):
    c = JournalClient(spark, str(tmp_path / "c"))
    emitted = []
    emit = c._emit

    def capture(rows):
        emitted.append(rows)
        return emit(rows)

    monkeypatch.setattr(c, "_emit", capture)
    c.append("t", "k", [b"\x00\xff", b"\x01"], headers={"h": "v"}, tags=["a", "b"],
             expire_after_secs=60)
    # the head keeps the last append's TTL
    c.append("t", "k", ["x", "y"], headers={"h2": "w"}, tags=[], expire_after_secs=43_200)
    c.append("t", "j", ["z"])
    c.delete_to("t", "k", 3)  # NULL-heavy delete and purge rows
    c.purge("t", "j")
    # the same rows, written by Spark into a second client's log
    s = JournalClient(spark, str(tmp_path / "s"))
    for rows in emitted:
        local_frame(spark, rows, ACTIONS_LOG_DDL).write.mode("append").parquet(s.log_path)
    assert _by_offset(c._log()) == _by_offset(s._log())
    assert len(emitted) == 5

    for cl in (c, s):
        cl.replicate()
        assert cl._tail("t", "k").num_rows == 0
    journal = ["topic", "id", "seq_nr", "offset", "payload_txt", "payload_bin", "tags", "headers"]
    meta = ["topic", "id", "seq_nr", "delete_to", "expire_after_secs", "expire_on_ts"]
    assert _by_offset(c.store.read().select(*journal)) == _by_offset(
        s.store.read().select(*journal)
    )
    heads = [c.store.metajournal().select(*meta).collect(), s.store.metajournal().select(*meta).collect()]
    assert heads[0] == heads[1] and [(r.id, r.expire_after_secs) for r in heads[0]] == [("k", 43_200)]
    assert c.read("t", "k") == [(4, "y")] and c.pointer("t", "j") is None


def test_a_crash_before_the_rename_leaves_nothing_visible(spark, tmp_path, monkeypatch):
    c = JournalClient(spark, str(tmp_path / "c"))
    c.append("t", "k", ["a"])

    def crash(src, dst):
        raise OSError("crash between write and rename")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash)
        with pytest.raises(OSError):
            c.append("t", "k", ["b"])
    temps = [n for n in os.listdir(c.log_path) if n.startswith(".part-")]
    assert len(temps) == 1 and temps[0].endswith(".parquet")
    # the temp file holds the lost append, complete
    assert pq.read_table(os.path.join(c.log_path, temps[0]))["offset"].to_pylist() == [1]
    # and a torn one beside it must not be read either
    with open(os.path.join(c.log_path, ".part-torn.parquet"), "wb") as f:
        f.write(b"PAR1\x00")

    assert [name for name, _, _ in c._index()] == [
        n for n in os.listdir(c.log_path) if not n.startswith(".")
    ]
    assert c._next_offset() == 1
    assert [r.offset for r in c._log().collect()] == [0]
    assert c.read("t", "k") == [(1, "a")]
    store = JournalStore(spark, str(tmp_path / "stream"))
    run_parquet_replicator(spark, c.log_path, store, ACTIONS_LOG_DDL)
    assert [(r.seq_nr, r.payload_txt) for r in store.read().collect()] == [(1, "a")]
    # the retried append takes the offset the crashed one never published
    assert c.append("t", "k", ["b"]) == (c._partition("k"), 1)
    assert c.read("t", "k") == [(1, "a"), (2, "b")]
