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

``read_with_plan`` runs the plan: the replicated prefix is the one Spark
job (``JournalStore.read`` of the key, collected once), and the key's
un-replicated tail — a handful of driver rows the client already holds —
is exploded and stitched across the seam in Python, where a Spark union
and a second R5 window cost several jobs and ~500 py4j round trips to
build for rows that never needed a cluster.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple, Optional

import pyarrow as pa

from kafka_journal_spark.folds import HeadInfo
from kafka_journal_spark.sources.statestore import JournalStore


class ReadRow(NamedTuple):
    """One event of a recovery read."""

    seq_nr: int
    offset: int
    payload_txt: Optional[str]
    payload_bin: Optional[bytes]


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


def _tail_events(tail: pa.Table, topic: str, key: str, plan: ReadPlan):
    """The key's tail append rows from ``plan.kafka_from_offset`` on,
    exploded to one ``ReadRow`` per event at or above
    ``plan.from_seq_nr`` — ``operators.replicate.explode_events``'
    alignment in Python: event ``i`` of ``sequence(seq_nr_from,
    seq_nr_to)`` takes ``payloads[i]`` / ``payloads_bin[i]``, a missing or
    short array gives NULL, and only a tail without either array column
    gives every event the single ``payload`` (with ``payload_bin``)."""
    cols = set(tail.column_names)
    arrays = "payloads" in cols or "payloads_bin" in cols

    def col(name):
        return tail[name].to_pylist() if name in cols else [None] * tail.num_rows

    rows = zip(
        col("topic"), col("id"), col("action_type"), col("offset"),
        col("seq_nr_from"), col("seq_nr_to"), col("payload"), col("payload_bin"),
        col("payloads"), col("payloads_bin"),
    )
    for t, k, kind, off, lo, hi, pl, pl_bin, pls, pls_bin in rows:
        if (t, k, kind) != (topic, key, "append") or None in (off, lo, hi):
            continue
        if off < plan.kafka_from_offset:
            continue
        step = 1 if lo <= hi else -1  # Spark's sequence() counts down too
        for i, seq in enumerate(range(lo, hi + step, step)):
            if seq < plan.from_seq_nr:
                continue
            if arrays:
                pl = pls[i] if pls is not None and i < len(pls) else None
                pl_bin = pls_bin[i] if pls_bin is not None and i < len(pls_bin) else None
            yield ReadRow(seq, off, pl, pl_bin)


def read_with_plan(
    store: JournalStore,
    tail: pa.Table,
    topic: str,
    key: str,
    head: HeadInfo,
    tail_purge_offset: Optional[int],
    from_seq_nr: int = 1,
) -> list[ReadRow]:
    """Run the recovery read of one key according to the plan; the
    events come back in seq_nr order.

    The replicated prefix is collected once (one Spark job, see
    ``JournalStore.read``), projected to the four columns a read returns.
    ``tail`` is the key's un-replicated actions as an Arrow table
    (``JournalClient._tail``: ``ACTIONS_LOG_DDL`` columns, Kafka envelope
    already decoded); it is consulted only when the plan says so, and its
    append rows are exploded on the driver (``_tail_events``).  Across
    the seam the R5 guard keeps the first-delivered copy (lowest offset)
    of each seq_nr, as ``operators.read.first_delivery`` does in Spark.

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
    events: list[ReadRow] = []
    if plan.read_store:
        prefix = store.read(topic=topic, key=key, from_seq_nr=plan.from_seq_nr)
        if tail_purge_offset is not None:
            prefix = prefix.filter(f"offset > {int(tail_purge_offset)}")
        rows = prefix.select("seq_nr", "offset", "payload_txt", "payload_bin").collect()
        events += (
            ReadRow(s, o, t, None if b is None else bytes(b)) for s, o, t, b in rows
        )
    if plan.read_kafka:
        events += _tail_events(tail, topic, key, plan)
    # R5 monotonic guard across the seam
    first: dict[int, ReadRow] = {}
    for e in events:
        if e.seq_nr not in first or e.offset < first[e.seq_nr].offset:
            first[e.seq_nr] = e
    return [first[s] for s in sorted(first)]
