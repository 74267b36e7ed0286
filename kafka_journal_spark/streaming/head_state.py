"""Standing HeadInfo state stream — the reference's HeadCache re-architected
(SURVEY.md §2.5 C1: "This IS our primary architecture, not a cache").

The reference maintains a topic-wide cache of per-key ``HeadInfo`` fed by a
background consumer (``HeadCache.scala:39-200``) so recovery can skip Kafka
when a journal is fully replicated.  Here the same summary is a Structured
Streaming stateful aggregation: ``applyInPandasWithState`` over (topic, id)
folding action headers (only headers — the value blob is never read, the
reference's header-only rule) with the *pure* ``head_info_step`` fold from
folds.py — the exact function unit-tested against HeadInfoSpec semantics.

Scale notes: state is O(live keys) — a few dozen bytes per key; the stream
shuffles only the header projection (id, action_type, offset, seq range,
delete_to), never payloads.  State TTL / eviction maps to the reference's
10-min entry expiry (HeadCacheConfig.scala) via GroupStateTimeout if needed.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafka_journal_spark.folds import ActionRec, HeadInfo, head_info_step

HEAD_STATE_SCHEMA = "kind string, offset long, seq_nr long, delete_to long"
HEAD_OUTPUT_SCHEMA = (
    "topic string, id string, kind string, offset long, seq_nr long, delete_to long"
)


def _fold_group(
    key: Tuple[str, str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        kind, offset, seq_nr, delete_to = state.get
        h = HeadInfo(
            kind=kind,
            offset=None if offset is not None and offset < 0 else offset,
            seq_nr=seq_nr or 0,
            delete_to=delete_to,
        )
    else:
        h = HeadInfo()
    rows = pd.concat(list(pdfs)).sort_values("offset")
    for r in rows.itertuples():
        h = head_info_step(
            h,
            ActionRec(
                kind=r.action_type,
                offset=int(r.offset),
                seq_nr_from=None if pd.isna(r.seq_nr_from) else int(r.seq_nr_from),
                seq_nr_to=None if pd.isna(r.seq_nr_to) else int(r.seq_nr_to),
                delete_to=None if pd.isna(r.delete_to) else int(r.delete_to),
            ),
        )
    state.update((h.kind, -1 if h.offset is None else h.offset, h.seq_nr, h.delete_to))
    yield pd.DataFrame(
        [
            {
                "topic": key[0],
                "id": key[1],
                "kind": h.kind,
                "offset": h.offset,
                "seq_nr": h.seq_nr,
                "delete_to": h.delete_to,
            }
        ]
    )


def head_info_stream(action_stream: DataFrame) -> DataFrame:
    """actions stream -> per-key HeadInfo updates (one row per key per batch).

    Input needs only the header projection; payload columns are dropped here
    so the state shuffle never carries blobs.
    """
    headers = action_stream.select(
        "topic", "id", "action_type", "offset", "seq_nr_from", "seq_nr_to", "delete_to"
    )
    return headers.groupBy("topic", "id").applyInPandasWithState(
        _fold_group,
        outputStructType=HEAD_OUTPUT_SCHEMA,
        stateStructType=HEAD_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
