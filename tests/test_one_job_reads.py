"""A client read in one Spark job.

Two contracts are pinned here:

- plan shape: a single-key ``JournalStore.read`` plans with no Exchange on
  a folded head band, on a dirty band of one file and on a dirty band of
  two or more files (both scans are coalesced to one partition at the
  leaves), while the whole-table read keeps its distributed shape; a side
  with more than ``KEY_READ_SERIAL_FILES`` files scans in parallel and is
  gathered by one single-partition Exchange, with the same rows;
- parity: ``read_with_plan`` stitches the key's tail onto the replicated
  prefix on the driver, and returns exactly the rows of the Spark form it
  replaced — ``explode_events`` over the tail's append rows, the seq_nr
  bound, a union with the prefix and the ``first_delivery`` R5 window —
  over random tails.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from conftest import append, make_actions
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_journal_spark import SEGMENTS_DEFAULT
from kafka_journal_spark.api import ACTIONS_LOG_DDL, JournalClient, _log_arrow_schema
from kafka_journal_spark.folds import head_info
from kafka_journal_spark.operators.read import first_delivery
from kafka_journal_spark.operators.replicate import explode_events, segment_of
from kafka_journal_spark.plans.recovery import plan_recovery, read_with_plan
from kafka_journal_spark.sources import statestore
from kafka_journal_spark.sources.statestore import JournalStore
from kafka_journal_spark.streaming.replicator import replicate_batch


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_key_read_plans_without_exchange_on_every_band_state(spark, tmp_path):
    store = JournalStore(spark, str(tmp_path / "s"))
    band = f"seg_band={segment_of('a', SEGMENTS_DEFAULT) % store.meta_bands}"

    def key_read(n_files, dirty, expect):
        files = store._band_file_counts(store.tables["metajournal"].live_files())
        assert files[band] == n_files
        assert (band.split("=")[1] in map(str, store._dirty_bands())) == dirty
        df = store.read(topic="journal", key="a")
        assert "Exchange" not in _executed(df), _executed(df)
        assert ("max_by" in _executed(df)) == (dirty and n_files >= 2)
        assert sorted(r.seq_nr for r in df.collect()) == expect

    # a narrow batch lands as one delta file per band: dirty, one file
    rows = [append(k, s) for s in (1, 2) for k in ("a", "b", "c")]
    replicate_batch(make_actions(spark, rows), store)
    key_read(1, True, [1, 2])
    # a second one in the same band: the newest-wins merge runs
    replicate_batch(make_actions(spark, [append("a", 3)], offset_base=10), store)
    key_read(2, True, [1, 2, 3])
    store.fold_metajournal()
    key_read(1, False, [1, 2, 3])

    assert "Exchange" in _executed(store.read(topic="journal"))


def test_key_read_above_the_serial_file_bound_gathers_in_one_exchange(
    spark, tmp_path, monkeypatch
):
    store = JournalStore(spark, str(tmp_path / "s"))
    rows = [append(k, s) for s in (1, 2) for k in ("a", "b", "c")]
    replicate_batch(make_actions(spark, rows), store)
    replicate_batch(make_actions(spark, [append("a", 3)], offset_base=10), store)
    serial = sorted(store.read(topic="journal", key="a").collect())
    # two journal files and two head files: both sides above a bound of 1
    monkeypatch.setattr(statestore, "KEY_READ_SERIAL_FILES", 1)
    df = store.read(topic="journal", key="a")
    plan = _executed(df)
    assert plan.count("Exchange SinglePartition") == plan.count("Exchange") == 2, plan
    assert sorted(df.collect()) == serial
    assert [r.seq_nr for r in serial] == [1, 2, 3]


# -- parity of the driver stitch -------------------------------------------

def _spark_read_with_plan(store, tail: pa.Table, topic, key, head, horizon, from_seq_nr):
    """The Spark form ``read_with_plan`` had: explode the tail's append
    rows, union them with the prefix and keep each seq_nr's first
    delivery."""
    plan = plan_recovery(head, from_seq_nr)
    cols = ["topic", "id", "seq_nr", "offset", "payload_txt", "payload_bin"]
    parts = []
    if plan.read_store:
        prefix = store.read(topic=topic, key=key, from_seq_nr=plan.from_seq_nr)
        if horizon is not None:
            prefix = prefix.filter(F.col("offset") > F.lit(horizon))
        parts.append(prefix.select(*cols))
    if plan.read_kafka:
        df = store.spark.createDataFrame(tail).filter(
            (F.col("topic") == topic)
            & (F.col("id") == key)
            & (F.col("action_type") == "append")
            & (F.col("offset") >= F.lit(plan.kafka_from_offset))
        )
        ev = explode_events(df).filter(F.col("seq_nr") >= plan.from_seq_nr)
        if "payload_bin" not in ev.columns:
            ev = ev.withColumn("payload_bin", F.lit(None).cast("binary"))
        parts.append(ev.select(*cols))
    if not parts:
        return []
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return sorted(
        (r.seq_nr, r.offset, r.payload_txt, None if r.payload_bin is None else bytes(r.payload_bin))
        for r in first_delivery(out).collect()
    )


#: the log's column names (parsing ``ACTIONS_LOG_DDL`` needs a session)
LOG_COLS = [f.split()[0] for f in ACTIONS_LOG_DDL.split(", ")]


def _row(offset: int, kind: str, key: str = "a", **kw) -> dict:
    row = dict.fromkeys(LOG_COLS)
    row.update(topic="t", partition=0, offset=offset, id=key, action_type=kind, version="1.0")
    row.update(kw)
    return row


@st.composite
def _tails(draw):
    """Un-replicated rows of key ``a`` (and of a neighbour key ``b``):
    text and binary appends of one or more events, whose payload arrays
    may be missing, shorter or longer than their seq range, re-delivering
    stored seq_nrs at higher offsets; deletes and purges between them."""
    rows, off = [], 100
    for _ in range(draw(st.integers(0, 6))):
        off += draw(st.integers(1, 3))
        kind = draw(st.sampled_from(["append"] * 4 + ["delete", "purge"]))
        row = _row(off, kind, draw(st.sampled_from("aaab")))
        if kind == "append":
            lo = draw(st.integers(1, 7))
            hi = draw(st.integers(max(1, lo - 1), lo + 3))
            n = draw(st.none() | st.integers(0, hi - lo + 3 if hi >= lo else 3))
            binary = draw(st.booleans())
            row.update(seq_nr_from=lo, seq_nr_to=hi, payload_type="binary" if binary else "text")
            if binary:
                row["payloads_bin"] = None if n is None else [bytes([off, i]) for i in range(n)]
            else:
                row["payloads"] = None if n is None else [f"{off}.{i}" for i in range(n)]
                row["payload"] = draw(st.none() | st.just(f"{off}.single"))
        elif kind == "delete":
            row["delete_to"] = draw(st.integers(0, 7))
        rows.append(row)
    return rows


#: a short text array beside a long binary one, past the stored seq_nrs
SHORT_AND_LONG = [
    _row(101, "append", seq_nr_from=2, seq_nr_to=7, payload_type="text",
         payload="single", payloads=["x0", "x1"]),
    _row(102, "append", "b", seq_nr_from=1, seq_nr_to=1, payloads=["other"]),
    _row(103, "append", seq_nr_from=8, seq_nr_to=9, payload_type="binary",
         payloads_bin=[b"\x00", b"\x01", b"\x02"]),
]
#: a purge horizon, then a delete head over a re-delivered range
PURGE_THEN_DELETE = [
    _row(101, "append", seq_nr_from=6, seq_nr_to=6, payloads=["y6"]),
    _row(102, "purge"),
    _row(103, "append", seq_nr_from=1, seq_nr_to=3, payloads=["z1", "z2", "z3"]),
    _row(104, "delete", delete_to=1),
]


def test_driver_stitch_matches_the_spark_form(spark, tmp_path):
    c = JournalClient(spark, str(tmp_path / "c"))
    c.append("t", "a", ["p1", "p2"])
    c.append("t", "a", [b"\x00", b"\x01\x02"])
    c.append("t", "a", ["p5"])
    c.append("t", "b", ["q1"])
    c.delete_to("t", "a", 1)
    c.replicate()
    assert c.read("t", "a") == [(2, "p2"), (3, b"\x00"), (4, b"\x01\x02"), (5, "p5")]

    @settings(max_examples=60, deadline=None)
    @given(_tails(), st.integers(1, 6), st.booleans())
    @example(SHORT_AND_LONG, 1, False)
    @example(SHORT_AND_LONG, 3, True)
    @example(PURGE_THEN_DELETE, 1, False)
    def check(rows, from_seq_nr, narrow):
        tail = pa.Table.from_pylist(rows, schema=_log_arrow_schema())
        if narrow:  # a tail without the event arrays: ``payload`` per event
            tail = tail.drop_columns(["payloads", "payloads_bin"])
        mine = tail.filter(pc.equal(tail["id"], "a"))
        head = head_info(JournalClient._fold_recs(mine))
        purges = [
            o for o, k in zip(mine["offset"].to_pylist(), mine["action_type"].to_pylist())
            if k == "purge"
        ]
        horizon = max(purges, default=None)
        got = [
            tuple(r)
            for r in read_with_plan(c.store, tail, "t", "a", head, horizon, from_seq_nr)
        ]
        assert got == _spark_read_with_plan(
            c.store, tail, "t", "a", head, horizon, from_seq_nr
        ), (head, horizon)

    check()
