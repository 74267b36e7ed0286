"""``session.local_frame``: driver-side rows enter Spark through Arrow.

The helper replaces ``spark.createDataFrame(list, ddl)`` on the journal
path, so it must produce the same rows: every column type of the actions
log (text and binary payloads, headers, tags, TTLs, the NULL columns of
delete and purge actions), the same UTC instants for timestamps even when
the driver's local zone is not UTC, and the DDL schema for an empty frame.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import time

from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from kafka_journal_spark.api import ACTIONS_LOG_DDL
from kafka_journal_spark.operators.snapshots import SnapshotStore
from kafka_journal_spark.session import local_frame

UTC = dt.timezone.utc


@contextlib.contextmanager
def _process_tz(zone: str):
    """Run the block with the Python process's local zone set to ``zone``."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = zone
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


def _log_rows() -> list[dict]:
    base = dict(
        topic="t", partition=3, origin="o", version="1.0", seq_nr_from=None,
        seq_nr_to=None, payload_type=None, payload=None, payloads=None,
        payloads_bin=None, headers=None, tags=None, delete_to=None,
        mark_id=None, expire_after_secs=None,
    )
    return [
        dict(
            base, offset=0, id="a", action_type="append",
            timestamp=dt.datetime(2024, 3, 10, 23, 30, 0, 123456, tzinfo=UTC),
            seq_nr_from=1, seq_nr_to=2, payload_type="text", payload="x",
            payloads=["x", "é漢"], tags=["t1", "t2"], expire_after_secs=43200,
        ),
        dict(
            base, offset=1, id="a", action_type="append",
            timestamp=dt.datetime(2024, 3, 11, 0, 0, 1, tzinfo=UTC),
            seq_nr_from=3, seq_nr_to=4, payload_type="binary",
            payloads_bin=[b"\x00\xff", b""], headers={"h": "v", "k": ""}, tags=[],
        ),
        dict(
            base, offset=2, id="a", action_type="delete",
            timestamp=dt.datetime(2024, 3, 11, 0, 0, 2, tzinfo=UTC), delete_to=2,
        ),
        dict(
            base, offset=3, id="b", action_type="purge",
            timestamp=dt.datetime(1999, 12, 31, 23, 59, 59, tzinfo=UTC),
        ),
    ]


def _utc_micros(d: dt.datetime) -> int:
    return (d - dt.datetime(1970, 1, 1, tzinfo=UTC)) // dt.timedelta(microseconds=1)


def test_local_frame_matches_create_dataframe_off_utc(spark):
    rows = _log_rows()
    struct = _parse_datatype_string(ACTIONS_LOG_DDL)
    with _process_tz("America/Los_Angeles"):
        old = spark.createDataFrame(rows, ACTIONS_LOG_DDL)
        new = local_frame(spark, rows, ACTIONS_LOG_DDL)
        as_tuples = local_frame(
            spark, [tuple(r[n] for n in struct.fieldNames()) for r in rows],
            ACTIONS_LOG_DDL,
        )
        assert new.schema == old.schema == struct
        assert new.collect() == old.collect() == as_tuples.collect()
        # the same UTC instants, read without any local-zone conversion
        micros = [
            r.m
            for r in new.orderBy("offset")
            .select(F.unix_micros("timestamp").alias("m"))
            .collect()
        ]
        assert micros == [_utc_micros(r["timestamp"]) for r in rows]

        empty = local_frame(spark, [], ACTIONS_LOG_DDL)
        assert empty.schema == struct
        assert empty.collect() == []


def test_snapshot_save_stamps_the_utc_instant_off_utc(spark, tmp_path):
    """``SnapshotStore.save`` without a timestamp stores the current
    instant; a naive ``utcnow()`` read in a driver zone 9 h off UTC would
    land 9 h away."""
    snaps = SnapshotStore(spark, str(tmp_path / "snaps"))
    with _process_tz("Asia/Tokyo"):
        before = time.time()
        snaps.save("t", "k", 1, "s1")
        after = time.time()
        stored = (
            snaps._df().select(F.unix_micros("timestamp").alias("m")).collect()[0].m
        )
    assert before - 60 <= stored / 1e6 <= after + 60, (before, stored / 1e6)
