"""R2: HeadInfo-driven recovery-read planning (reference
``Journals.scala:211-292``) — the single biggest perf lever of the system
("Skip Kafka entirely when head replicated", SURVEY.md §4).

Given the per-key ``HeadInfo`` summary of the un-replicated Kafka head, the
planner decides which sources the read touches and tightens the lower bound
*before* any DataFrame is built, so Catalyst sees the final predicates:

- Empty  -> replicated store only (no Kafka read at all)
- Append -> store + Kafka tail from the head's first-append offset,
            lower bound max(from, delete_to + 1)
- Delete -> store only, from max(from, delete_to + 1)
- Purge  -> empty result

This is a *semantic* rewrite Catalyst cannot do (it needs a state lookup);
once chosen, the seq_nr bound pushes into the parquet scan for free.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_journal_spark.folds import HeadInfo
from kafka_journal_spark.operators.read import first_delivery
from kafka_journal_spark.operators.replicate import explode_events
from kafka_journal_spark.session import local_frame
from kafka_journal_spark.sources.statestore import JournalStore

#: columns of a recovery read
READ_DDL = (
    "id string, topic string, seq_nr long, partition int, offset long, "
    "timestamp timestamp, origin string, version string, payload_type string, "
    "payload_txt string, payload_bin binary"
)


@dataclass(frozen=True)
class ReadPlan:
    read_store: bool
    read_kafka: bool
    from_seq_nr: int
    kafka_from_offset: Optional[int] = None  # first un-replicated append offset


def plan_recovery(
    head: HeadInfo, from_seq_nr: int = 1, snapshot_seq_nr: Optional[int] = None
) -> ReadPlan:
    """Pick sources and lower bound; ``snapshot_seq_nr`` is the seq_nr of the
    latest retained snapshot the caller will seed state from (the reference's
    SnapshotStore intent, ``snapshot/.../SnapshotStore.scala:11-61``): replay
    starts after it, tightening the bound exactly like a delete watermark."""
    if snapshot_seq_nr is not None:
        from_seq_nr = max(from_seq_nr, snapshot_seq_nr + 1)
    if head.kind == "purge":
        return ReadPlan(read_store=False, read_kafka=False, from_seq_nr=from_seq_nr)
    if head.kind == "empty":
        return ReadPlan(read_store=True, read_kafka=False, from_seq_nr=from_seq_nr)
    lo = max(from_seq_nr, (head.delete_to or 0) + 1)
    if head.kind == "delete":
        return ReadPlan(read_store=True, read_kafka=False, from_seq_nr=lo)
    return ReadPlan(
        read_store=True, read_kafka=True, from_seq_nr=lo, kafka_from_offset=head.offset
    )


def read_with_plan(
    store: JournalStore,
    kafka_tail: Optional[DataFrame],
    topic: str,
    key: str,
    head: HeadInfo,
    tail_purge_offset: Optional[int],
    from_seq_nr: int = 1,
) -> DataFrame:
    """Build the recovery-read DataFrame for one key according to the plan;
    building it runs no Spark job.

    ``kafka_tail`` is the un-replicated actions DataFrame (Kafka-envelope
    already decoded); only consulted when the plan says so.

    ``tail_purge_offset`` is the offset of the key's last purge in the
    tail, or None when the tail holds none.  An un-replicated purge erases
    the replicated prefix, and the HeadInfo summary loses the purge once a
    fresh append follows it, so the caller reads the horizon from the
    same tail rows it folded the head from.  (The reference returns the
    STALE prefix in this window — its Append branch's monotonic guard
    drops the fresh events, Journals.scala:220-255; we match the journal
    model instead.)
    """
    plan = plan_recovery(head, from_seq_nr)
    cols = [f.split()[0] for f in READ_DDL.split(", ")]

    def _project(df: DataFrame) -> DataFrame:
        # tolerate sources without the binary twin column (narrow tails)
        if "payload_bin" not in df.columns:
            df = df.withColumn("payload_bin", F.lit(None).cast("binary"))
        return df.select(*cols)

    parts = []
    if plan.read_store:
        prefix = store.read(topic=topic, key=key, from_seq_nr=plan.from_seq_nr)
        if tail_purge_offset is not None:
            prefix = prefix.filter(F.col("offset") > F.lit(tail_purge_offset))
        parts.append(_project(prefix))
    if plan.read_kafka and kafka_tail is not None:
        tail = kafka_tail.filter(
            (F.col("topic") == topic)
            & (F.col("id") == key)
            & (F.col("action_type") == "append")
            & (F.col("offset") >= F.lit(plan.kafka_from_offset))
        )
        parts.append(
            _project(explode_events(tail).filter(F.col("seq_nr") >= plan.from_seq_nr))
        )
    if not parts:
        return local_frame(store.spark, [], READ_DDL)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # R5 monotonic guard across the seam
    return first_delivery(out)
