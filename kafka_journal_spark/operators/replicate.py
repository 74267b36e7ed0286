"""Batch replication: fold an actions stream into the three storage tables.

Re-expresses the reference replicator's semantics (reference
``replicator/.../Batch.scala:27-156`` — the action-collapse fold — and
``eventual-cassandra/.../ReplicatedCassandra.scala:133-465`` — append/delete/
purge materialization) as declarative DataFrame plans:

- ``journal``      — replicated events (Cassandra ``journal`` table,
                     DDL ``JournalStatements.scala:32-53``)
- ``metajournal``  — per-key head state (``MetaJournalStatements.scala:24-57``)
- ``pointers``     — per-(topic,partition) replication progress
                     (``Pointer2Statements.scala:19-29``)

Final-state semantics per key (actions totally ordered by offset within a
key, since a key lives in one partition):

- last purge wins: everything at-or-before the latest ``purge`` offset is
  erased (``ReplicatedCassandra.scala:389-465``); the metajournal row of a
  purged journal is deleted.
- deletes are prefix deletions: the effective ``delete_to`` is the max over
  deletes after the purge horizon (delete-covers-delete merging,
  ``Batch.scala:94-155``); journal rows with ``seq_nr <= delete_to`` are gone
  (``ReplicatedCassandra.scala:287-387``).
- marks are never replicated (``Batch.scala`` ignores them).
- a fresh journal head's ``delete_to`` is ``first_seq_nr - 1`` when > 0
  (``ReplicatedCassandra.scala:190-216``: ``events.head.seqNr.prev``).

Scale notes:
- One shuffle on ``(topic, id)`` serves every per-key window; Catalyst
  collapses the three window expressions into a single Window node over one
  Exchange.  At 100 TB the per-key action count stays modest (events per
  entity), so full-partition windows don't spill.
- ``journal`` carries the derived ``segment = floor((seq_nr-1)/segment_size)``
  column (reference ``SegmentNr.scala:138-144``) for result parity, but the
  physical layout should partition by topic and bucket by id — Spark's
  partitioner replaces Cassandra segments (SURVEY.md §1.4).
- metajournal ``segment`` is bit-compatible with the reference:
  ``abs(id.toLowerCase.hashCode % segments)`` with Java's String.hashCode
  (``SegmentNr.scala:146-150``), expressed as a JVM-side aggregate.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_journal_spark import SEGMENT_SIZE_DEFAULT, SEGMENTS_DEFAULT


#: int32 wrap constants for the Java-parity hash
_M31, _M32 = 2_147_483_648, 4_294_967_296


def java_string_hash(col: Column) -> Column:
    """Java ``String.hashCode`` as a JVM-side column expression:
    ``h = 31*h + c`` over UTF-16 code units with int32 wrap-around.

    Spark 4 runs ANSI arithmetic (no silent int wrap), so each step is
    masked in bigint space: ``pmod(31*h + c + 2^31, 2^32) - 2^31`` — the
    magnitude stays < 2^42, well inside bigint.  ``split(col, '')`` yields
    code POINTS (Java's regex engine never splits a surrogate pair) and
    ``ascii()`` returns the code point; a BMP character contributes one
    fold step, a supplementary-plane character contributes its TWO UTF-16
    surrogate units in one combined step::

        h' = 31*(31*h + hi) + lo = 961*h + 31*hi + lo
        hi = 0xD800 + (cp - 0x10000) >> 10,  lo = 0xDC00 + (cp - 0x10000) & 0x3FF

    so the hash is bit-identical to the JVM for ALL strings, not just BMP
    (verified property-test vs a Python UTF-16 model incl. emoji /
    U+1D11E; "polygenelubricants" -> Integer.MIN_VALUE).
    """
    codes = F.transform(F.split(col, ""), lambda c: F.ascii(c).cast("long"))

    def _step(acc: Column, cp: Column) -> Column:
        bmp = acc * F.lit(31) + cp
        off = cp - F.lit(0x10000)
        hi = F.lit(0xD800) + F.floor(off / F.lit(1024))
        lo = F.lit(0xDC00) + F.pmod(off, F.lit(1024))
        supp = acc * F.lit(961) + hi * F.lit(31) + lo
        raw = F.when(cp < F.lit(0x10000), bmp).otherwise(supp)
        return F.pmod(raw + F.lit(_M31), F.lit(_M32)) - F.lit(_M31)

    return F.aggregate(codes, F.lit(0).cast("long"), _step)


def meta_segment(col: Column, segments: int) -> Column:
    """The metajournal bucket, bit-compatible with the reference
    (``SegmentNr.scala:146-150``): ``abs(id.toLowerCase.hashCode % segments)``
    — a reference deployment's head rows land in identical segments."""
    return F.abs(java_string_hash(F.lower(col)) % F.lit(segments))


def java_hash_code(s: str) -> int:
    """Java ``String.hashCode`` of a Python string, on the driver: the
    exact JVM model, folding over UTF-16 CODE UNITS (a supplementary-plane
    character contributes its two surrogate units) with int32 wrap-around.
    The reference the column forms above are tested against."""
    h = 0
    units = s.encode("utf-16-be")
    for i in range(0, len(units), 2):
        h = (h * 31 + int.from_bytes(units[i : i + 2], "big")) % _M32
    return h - _M32 if h >= _M31 else h


def segment_of(key: str, segments: int) -> int | None:
    """Driver-side twin of :func:`meta_segment` for one key, or None when
    the key is not pure ASCII.

    ``abs(key.toLowerCase.hashCode % segments)``: Java's ``%`` truncates
    toward zero (``math.fmod``) where Python's floors.  Only ASCII keys get
    an answer because only there are Python's ``str.lower`` and the JVM's
    lower-casing provably the same function (Unicode case mappings differ
    between the two, e.g. final sigma and dotted capital I); callers that
    get None must fall back to a lookup that does not prune by segment."""
    if not key.isascii():
        return None
    return abs(int(math.fmod(java_hash_code(key.lower()), segments)))


def java_string_hash_sql(expr: str) -> str:
    """SQL-string spelling of :func:`java_string_hash` (r11 optimization:
    the lambda-chain Column form costs ~30 py4j round-trips per use; this
    is ONE parser call).  Term-for-term the same tree — parity with the
    Column form is pinned by ``test_replicate.py`` over the UTF-16 property
    corpus (BMP, surrogate pairs, Integer.MIN_VALUE probe)."""
    return (
        f"aggregate(transform(split({expr}, ''), c -> CAST(ascii(c) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, cp) -> pmod("
        "CASE WHEN cp < 65536 THEN acc * 31 + cp "
        "ELSE acc * 961 + (55296 + FLOOR((cp - 65536) / 1024)) * 31 "
        "+ (56320 + pmod(cp - 65536, 1024)) END "
        f"+ {_M31}, {_M32}) - {_M31})"
    )


def meta_segment_sql(expr: str, segments: int) -> str:
    """SQL-string spelling of :func:`meta_segment`."""
    return f"abs({java_string_hash_sql(f'lower({expr})')} % {segments})"


def with_fold_columns(actions: DataFrame) -> DataFrame:
    """Annotate each action with the per-key fold state (purge horizon,
    effective flag, effective delete_to).  Spelled as selectExpr strings
    (r11: one parser call per stage instead of ~15 py4j Column calls);
    the window frames and predicates are unchanged."""
    wk = "OVER (PARTITION BY topic, id)"
    df = actions.selectExpr(
        "*",
        "max(CASE WHEN action_type = 'purge' THEN offset END) " + wk +
        " AS _purge_off",
    )
    return df.selectExpr(
        "*",
        "offset > coalesce(_purge_off, -1) AS _eff",
        "max(CASE WHEN action_type = 'delete' AND offset > coalesce(_purge_off, -1) "
        "THEN delete_to END) " + wk + " AS _del_to",
    )


def explode_events(appends: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """One row per event from append actions (Events[A] batches — one Kafka
    record may carry several events, reference ``Events.scala:131``).

    If a ``payloads`` array column is present it is positionally aligned with
    ``sequence(seq_nr_from, seq_nr_to)``; otherwise the single ``payload``
    column is used (single-event appends).  Stays JVM-side: explode over
    ``sequence`` — no Python UDF.

    Tags are per-event in the reference (``PayloadAndType.scala:49-120``): a
    ``tags_list`` column (one tag-array per event, as produced by
    ``decode_kafka_to_actions``) is zipped positionally; only without it does
    the batch-level ``tags`` column apply to every event of the batch.

    ``plans.recovery._tail_events`` mirrors this payload alignment on the
    driver for a client read's tail; ``test_driver_stitch_matches_the_spark_form``
    (tests/test_one_job_reads.py) pins the two together, so a change to the
    event-array format belongs in both.
    """
    cols = appends.columns
    per_event_tags = "tags_list" in cols
    # number of events in the batch — used to align optional per-event arrays
    # that may be null for this action (e.g. payloads on a binary batch)
    nsize = (F.col("seq_nr_to") - F.col("seq_nr_from") + F.lit(1)).cast("int")

    def _aligned(name: str, dtype: str) -> Column:
        return F.coalesce(F.col(name), F.array_repeat(F.lit(None).cast(dtype), nsize))

    if "payloads" in cols or "payloads_bin" in cols:
        zip_args = [F.sequence("seq_nr_from", "seq_nr_to").alias("seq_nrs")]
        if "payloads" in cols:
            zip_args.append(_aligned("payloads", "string").alias("payloads"))
        if "payloads_bin" in cols:
            zip_args.append(_aligned("payloads_bin", "binary").alias("payloads_bin"))
        if per_event_tags:
            zip_args.append(_aligned("tags_list", "array<string>").alias("tags_list"))
        df = appends.withColumn("_ev", F.explode(F.arrays_zip(*zip_args)))
        seq = F.col("_ev.seq_nrs")
        pl = F.col("_ev.payloads") if "payloads" in cols else F.lit(None).cast("string")
        bin_cols = (
            [F.col("_ev.payloads_bin").alias("payload_bin")]
            if "payloads_bin" in cols
            else []
        )
        if per_event_tags:
            tag_cols = [F.col("_ev.tags_list").alias("tags")]
        elif "tags" in cols:
            tag_cols = [F.col("tags")]
        else:
            tag_cols = []
    else:
        df = appends.withColumn("_ev", F.explode(F.sequence("seq_nr_from", "seq_nr_to")))
        seq, pl = F.col("_ev"), F.col("payload")
        bin_cols = [F.col("payload_bin")] if "payload_bin" in cols else []
        if per_event_tags:
            tag_cols = [F.get(F.col("tags_list"), 0).alias("tags")]
        elif "tags" in cols:
            tag_cols = [F.col("tags")]
        else:
            tag_cols = []
    # record-level extras (EventRecord.scala:65-82): user headers + payload
    # metadata apply to every event of the batch
    rec_cols = [F.col(c) for c in ("headers", "metadata") if c in cols]
    return df.select(
        "id",
        "topic",
        seq.cast("long").alias("seq_nr"),
        "partition",
        "offset",
        "timestamp",
        "origin",
        "version",
        "payload_type",
        pl.alias("payload_txt"),
        *bin_cols,
        *tag_cols,
        *rec_cols,
        *extra_cols,
    )


def materialize_journal(
    actions: DataFrame, segment_size: int = SEGMENT_SIZE_DEFAULT
) -> DataFrame:
    """actions -> journal table (FIXTURES.md §3 schema).

    An append batch straddling the delete watermark keeps only its upper
    part, so the watermark filter applies per-event after the explode.
    """
    df = with_fold_columns(actions)
    rows = df.filter(
        (F.col("action_type") == "append")
        & F.col("_eff")
        & (F.col("seq_nr_to") > F.coalesce(F.col("_del_to"), F.lit(0)))
    )
    events = explode_events(rows, extra_cols=("_del_to",))
    opt_cols = [
        F.col(c)
        for c in ("payload_bin", "tags", "headers", "metadata")
        if c in events.columns
    ]
    return (
        events.filter(F.col("seq_nr") > F.coalesce(F.col("_del_to"), F.lit(0)))
        .select(
            F.col("id"),
            F.col("topic"),
            F.floor((F.col("seq_nr") - 1) / segment_size).cast("long").alias("segment"),
            F.col("seq_nr"),
            F.col("partition"),
            F.col("offset"),
            F.col("timestamp"),
            F.col("origin"),
            F.col("version"),
            F.col("payload_type"),
            F.col("payload_txt"),
            *opt_cols,
        )
    )


def materialize_metajournal(
    actions: DataFrame,
    segment_size: int = SEGMENT_SIZE_DEFAULT,
    segments: int = SEGMENTS_DEFAULT,
) -> DataFrame:
    """actions -> metajournal head table (FIXTURES.md §4 schema).

    A head row exists iff the key has an effective append or delete
    (a purge with nothing after it deletes the row —
    ``ReplicatedCassandra.scala:389-465``).
    """
    df = with_fold_columns(actions)
    eff = df.filter(F.col("_eff") & F.col("action_type").isin("append", "delete"))
    app_off = F.when(F.col("action_type") == "append", F.col("offset"))
    # head expiry follows the LAST effective append (ExpiryService.scala:60-75
    # update/remove decision; MetaJournalStatements.scala:24-57 expire_after/
    # expire_on columns) — present only when the stream carries expiry.
    # The duration is second-granular (the reference's DURATION type;
    # seconds-level math in ExpiryService.scala:53-76); a legacy
    # ``expire_after_days`` column is up-converted.
    has_secs = "expire_after_secs" in actions.columns
    has_expiry = has_secs or "expire_after_days" in actions.columns
    if has_expiry:
        secs_src = (
            F.col("expire_after_secs")
            if has_secs
            else F.col("expire_after_days") * F.lit(86400)
        )
    exp_aggs = (
        [
            F.max_by(secs_src, app_off).alias("_exp_secs"),
            F.max_by("timestamp", app_off).alias("_last_app_ts"),
        ]
        if has_expiry
        else []
    )
    agg = eff.groupBy("topic", "id").agg(
        F.min("partition").alias("partition"),
        F.max("offset").alias("offset"),
        F.max("seq_nr_to").alias("_max_app_seq"),
        F.min("seq_nr_from").alias("_first_app_seq"),
        F.max("delete_to").alias("_d"),
        F.min("timestamp").alias("created"),
        F.max("timestamp").alias("updated"),
        *exp_aggs,
    )
    # the delete watermark is clamped to the appended head when one exists
    # (ReplicatedCassandra.scala:309-316: ``deleteTo.value.min(seqNr1)``) —
    # a delete overshooting the head must not inflate pointer() to seq_nrs
    # never appended; a delete-only journal keeps the raw watermark
    # (ReplicatedCassandra.scala:298-307: head created with seqNr = deleteTo)
    # (least skips nulls, so guard both sides explicitly).  The projection
    # is selectExpr SQL strings (r11: the Column form — notably the
    # segment hash's lambda chain — cost ~0.5 s of py4j churn per build).
    d_clamped = (
        "CASE WHEN _d IS NOT NULL AND _max_app_seq IS NOT NULL "
        "THEN least(_d, _max_app_seq) ELSE _d END"
    )
    if has_expiry:
        # interval add (works for TIMESTAMP and TIMESTAMP_NTZ alike) keeps
        # the append timestamp's fractional seconds — unix_timestamp() would
        # truncate them, diverging from the reference's DURATION math
        exp_on_ts = (
            "CASE WHEN _exp_secs IS NOT NULL THEN _last_app_ts "
            "+ make_dt_interval(0, 0, 0, CAST(_exp_secs AS DOUBLE)) END"
        )
        exp_cols = [
            "CAST(_exp_secs AS BIGINT) AS expire_after_secs",
            f"{exp_on_ts} AS expire_on_ts",
            f"to_date({exp_on_ts}) AS expire_on",
        ]
    else:
        exp_cols = []
    return agg.selectExpr(
        "topic",
        f"{meta_segment_sql('id', segments)} AS segment",
        "id",
        "partition",
        "offset",
        f"CAST({segment_size} AS INT) AS segment_size",
        "CAST(greatest(coalesce(_max_app_seq, 0), "
        f"coalesce({d_clamped}, 0)) AS BIGINT) AS seq_nr",
        f"CAST(nullif(greatest(coalesce({d_clamped}, 0), "
        "coalesce(_first_app_seq, 1) - 1), 0) AS BIGINT) AS delete_to",
        "created",
        "to_date(created) AS created_date",
        "updated",
        *exp_cols,
    )


def materialize_pointers(actions: DataFrame) -> DataFrame:
    """actions -> pointers table (FIXTURES.md §5): last offset per partition.

    The replicator commits its consumer offsets for *all* records seen
    (marks included) — ``TopicReplicator.scala:185-206``.
    """
    return (
        actions.groupBy("topic", "partition")
        .agg(
            F.max("offset").alias("offset"),
            F.min("timestamp").alias("created"),
            F.max("timestamp").alias("updated"),
        )
    )


@dataclass
class ReplicatedTables:
    journal: DataFrame
    metajournal: DataFrame
    pointers: DataFrame


def replicate(actions: DataFrame) -> ReplicatedTables:
    return ReplicatedTables(
        journal=materialize_journal(actions),
        metajournal=materialize_metajournal(actions),
        pointers=materialize_pointers(actions),
    )
