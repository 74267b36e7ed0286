"""Read-path operators — the reference's "query engine" (SURVEY.md §2.3).

- ``read_journal``    — R1/R7: read events with ``seq_nr >= from`` from the
                        replicated tables (``EventualCassandra.scala:108-215``).
                        The reference's segment-chained iteration collapses to
                        a single pushed-down range predicate in Spark.
- ``pointer``         — R6: last seq_nr per key (``Journals.scala:303-323``).
- ``ids``             — R9: all journal ids of a topic
                        (``EventualJournal.scala:81``).
- ``topic_offset``    — R10: last replicated offset per partition.
- ``replay_limit``    — R11: bounded replay, a per-key top-k by seq_nr
                        (``JournalAdapter.scala:189-216``).
- ``recovery_merge``  — R1's two-source merge: replicated prefix stitched
                        with a not-yet-replicated Kafka tail, fenced by an
                        end-offset (our Mark equivalent, SURVEY.md §3.1),
                        with the R5 monotonic-dedup guard.

Scale notes: every operator here is a filter/agg/window over the key
partitioning already established by replication — no extra shuffles beyond
the per-key exchange; range predicates (``seq_nr >= lo``) push into the
parquet scan (min-max skipping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_journal_spark.operators.replicate import explode_events

READ_COLUMNS = [
    "id",
    "topic",
    "seq_nr",
    "partition",
    "offset",
    "timestamp",
    "origin",
    "version",
    "payload_type",
    "payload_txt",
]


def read_journal(journal: DataFrame, from_seq_nr: int = 1) -> DataFrame:
    """read(from): events with seq_nr >= from, in seq order per key."""
    return journal.filter(F.col("seq_nr") >= F.lit(from_seq_nr)).select(*READ_COLUMNS)


def pointer(metajournal: DataFrame) -> DataFrame:
    """pointer per key: (topic, id, partition, offset, seq_nr) —
    ``JournalPointer.scala:5``."""
    return metajournal.select("topic", "id", "partition", "offset", "seq_nr")


def ids(metajournal: DataFrame, topic: str) -> DataFrame:
    """ids(topic): all live journal ids (purged journals have no head row)."""
    return metajournal.filter(F.col("topic") == topic).select("topic", "id")


def topic_offset(pointers: DataFrame) -> DataFrame:
    """offset(topic, partition) for all partitions."""
    return pointers.select("topic", "partition", "offset")


def ids_by_segment(metajournal: DataFrame, topic: str, segment: int) -> DataFrame:
    """Secondary-index scan: all journal ids of one metajournal segment
    (reference ``MetaJournalStatements.scala:282-310`` IdByTopicAndSegment —
    used by maintenance jobs to walk the head table bucket by bucket).
    Segments are Java-hashCode-compatible (``meta_segment``), so the walk
    order matches a reference deployment."""
    return (
        metajournal.filter(
            (F.col("topic") == topic) & (F.col("segment") == segment)
        ).select("topic", "segment", "id")
    )


def ids_by_created(metajournal: DataFrame, topic: str, created_date) -> DataFrame:
    """Secondary-index scan: ids of journals created on a given date
    (reference ``MetaJournalStatements.scala:247-281`` IdByTopicAndCreated).
    ``created_date`` is a date-typed bucket column, so a date-partitioned
    head table prunes this scan to one partition."""
    return (
        metajournal.filter(
            (F.col("topic") == topic) & (F.col("created_date") == F.lit(created_date))
        ).select("topic", "created_date", "id")
    )


def tag_index(journal: DataFrame) -> DataFrame:
    """Materialized tag secondary index: (tag, topic, id, seq_nr, offset) —
    one row per (event, tag).

    Why it exists: parquet cannot push an ``array_contains(tags, x)``
    predicate into the scan, so a tag-filtered read over a raw journal is a
    FULL scan at any scale.  The index is the 100 TB answer: an explode
    materialized once (incrementally per micro-batch in production),
    partitioned/bucketed by tag so a tag query prunes to one bucket and
    joins back to the journal on (topic, id, seq_nr).  The reference stores
    tags inline per event (``EventRecord.scala``, Tags.scala) and pays the
    scan; this is the Spark-native upgrade, not a parity behavior.
    """
    return journal.select(
        F.explode("tags").alias("tag"),
        "topic",
        "id",
        "seq_nr",
        "offset",
    )


def read_by_tag_indexed(journal: DataFrame, tag: str) -> DataFrame:
    """Tag read through the index: filter the narrow index relation first
    (at scale: a pruned scan of one tag bucket), then join back to the
    journal on the primary key — the journal side joins on (topic, id,
    seq_nr) equi-keys, so only matching row groups are touched when the
    journal is sorted by key (compact() guarantees that layout)."""
    idx = tag_index(journal).filter(F.col("tag") == tag).drop("tag", "offset")
    return journal.join(idx, ["topic", "id", "seq_nr"], "left_semi").select(
        "id", "topic", "seq_nr", "offset", "payload_txt",
        F.to_json("tags").alias("tags"),
    )


def replay_limit(journal: DataFrame, from_seq_nr: int, to_seq_nr: int, max_events: int) -> DataFrame:
    """replay(range, max): per-key ordered replay capped at ``max_events``
    (reference ``JournalAdapter.scala:192-208`` foldWhileM)."""
    w = Window.partitionBy("topic", "id").orderBy("seq_nr")
    return (
        journal.filter(F.col("seq_nr").between(from_seq_nr, to_seq_nr))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_events)
        .select(*READ_COLUMNS)
    )


def integrity_violations(journal: DataFrame) -> DataFrame:
    """Data-integrity check (config ``seq_nr_uniqueness``, reference
    ``EventualCassandra.scala:170-191``): journal rows sharing a
    (topic, id, seq_nr) with distinct offsets are duplicates — the reference
    raises ``JournalError`` on them during reads; we surface them as a
    violations relation so the caller can fail or quarantine.
    """
    return (
        journal.groupBy("topic", "id", "seq_nr")
        .agg(
            F.countDistinct("offset").alias("n_copies"),
            F.min("offset").alias("first_offset"),
            F.max("offset").alias("last_offset"),
        )
        .filter(F.col("n_copies") > 1)
    )


def first_delivery(df: DataFrame) -> DataFrame:
    """The R5 guard's default: keep the first-delivered copy (lowest
    offset) of each (topic, id, seq_nr).  The window is one SQL
    expression: built from Column builders it cost a single-key store
    read 60 more py4j round trips to construct (194 instead of 134)."""
    return (
        df.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY topic, id, seq_nr ORDER BY offset) AS _rn",
        )
        .filter("_rn = 1")
        .drop("_rn")
    )


def apply_seq_nr_uniqueness(df: DataFrame, mode: str = "ignore") -> DataFrame:
    """The R5 guard under the reference's configurable integrity modes
    (config ``seq_nr_uniqueness``; ``Journal.scala:458-480`` chooses whether
    duplicate seq_nrs raise or are tolerated during reads,
    ``EventualCassandra.scala:170-191`` raises ``JournalError``):

    - ``ignore``     — tolerate: keep the first-delivered copy (offset
      order).  The default, and the crash-replay-safe choice.
    - ``quarantine`` — exclude EVERY copy of a duplicated seq_nr from the
      result; callers fetch the conflicting rows via
      :func:`integrity_violations` for repair.
    - ``raise``      — fail the read when any duplicate exists, like the
      reference's strict mode.  The check rides the plan (``raise_error``
      fires in the same pass as the window dedup), so strictness costs no
      extra scan.
    """
    if mode not in ("ignore", "quarantine", "raise"):
        raise ValueError(f"unknown seq_nr_uniqueness mode {mode!r}")
    if mode == "ignore":
        return first_delivery(df)
    wk = Window.partitionBy("topic", "id", "seq_nr")
    # SAME-offset copies are physical crash replays (replicate_batch died
    # between journal append and pointer upsert; the replay re-appends
    # identical rows) — harmless, collapsed to one here exactly as
    # :func:`integrity_violations` ignores them (countDistinct offset).
    # Only DISTINCT offsets for one seq_nr are integrity violations; the
    # pre-fix code passed same-offset copies through min!=max as
    # "not duplicated" and returned every event twice in these modes.
    wphys = Window.partitionBy("topic", "id", "seq_nr", "offset").orderBy("offset")
    df = (
        df.withColumn("_prn", F.row_number().over(wphys))
        .filter(F.col("_prn") == 1)
        .drop("_prn")
    )
    dup = F.min("offset").over(wk) != F.max("offset").over(wk)
    if mode == "quarantine":
        return df.withColumn("_dup", dup).filter(~F.col("_dup")).drop("_dup")
    if mode == "raise":
        guard = F.when(
            dup,
            F.raise_error(
                F.concat(
                    F.lit("JournalError: duplicate seq_nr "),
                    F.col("seq_nr").cast("string"),
                    F.lit(" for journal "),
                    F.col("topic"),
                    F.lit("/"),
                    F.col("id"),
                )
            ),
        )
        return df.withColumn("_chk", guard).filter(F.col("_chk").isNull()).drop("_chk")
    raise AssertionError(mode)  # unreachable: validated above


def recovery_merge(
    actions: DataFrame,
    split_frac: float = 0.7,
    from_seq_nr: int = 1,
    seq_nr_uniqueness: str = "ignore",
) -> DataFrame:
    """R1: the flagship two-source recovery read.

    Simulates a half-replicated topic: per partition, actions with
    ``offset <= floor(max_offset * split_frac)`` are "already in Cassandra"
    (we materialize them into journal+metajournal), the rest are the
    "Kafka tail".  The read stitches replicated prefix + decoded tail and
    applies the tail's delete/purge visibility — exactly the plan of
    ``Journals.scala:211-292``:

    - tail purge erases the replicated prefix and earlier tail appends
      (HeadInfo.Purge branch);
    - effective delete_to = max(replicated head delete_to, tail deletes)
      tightens the read lower bound (``max(from, deleteTo + 1)``);
    - the R5 monotonic guard (dropDuplicates on (topic,id,seq_nr) keeping the
      first offset) protects against tail re-delivery.

    The result must equal a full materialization of *all* actions — the
    consistency property JournalSpec's model checks; the DuckDB oracle takes
    that independent path.

    SINGLE-PASS PLAN (optimization round 11).  The round-10 form composed
    ``materialize_journal(prefix) + prefix watermark + stitch_tail(tail)``
    as four independent DataFrame branches; Spark cannot share subtrees
    across branches, so the action relation (and, for derived streams like
    the bench's, the seq-nr derivation window feeding it) was scanned,
    shuffled, sorted and windowed once PER BRANCH — 8 scans and 8 Window
    nodes, with two SortMergeJoins re-attaching the per-key folds
    (plans/r11/j_recovery_merge_before.txt).  Every per-key quantity those
    branches computed is a max-over-the-key-partition with a row condition:

    - prefix purge horizon      max(offset  | prefix ∧ purge)
    - prefix delete watermark   max(delete_to | prefix ∧ delete ∧ post-purge)
    - tail purge horizon        max(offset  | tail ∧ purge)
    - tail delete watermark     max(delete_to | tail ∧ delete ∧ post-purge)

    so ONE Window node over the (topic, id) partitioning the input already
    has (guide §2.4: two operations keyed the same way share one exchange)
    computes all four, and the visibility rules become row-local filters —
    no joins, no re-scans: 2 scans (stream + the split-point aggregate),
    3 Window nodes, 1 broadcast join (plans/r11/j_recovery_merge_after.txt).
    The visibility semantics are the stitch_tail composition, spelled
    row-local (each filter annotated with its origin); equivalence is held
    by tests/test_recovery_merge.py (the consistency property at every
    split point, redelivery clamp, purge incarnations) and the driver's
    DuckDB oracle.  One deliberate semantic note: per-key folds now see
    NULL-keyed rows as their own (topic, id) group — exactly how
    materialize_journal's window treats them — where the join form's
    equi-join gave NULL-keyed rows no fold at all; the derived stream has
    no NULL ids, and the model (full materialization) uses the window
    semantics, so this is the more faithful reading.
    """
    # per-(topic, partition) split point as a map-side-combined aggregate
    # broadcast back, NOT a window: partitionBy("topic","partition") would
    # shuffle AND sort the full action relation into as few groups as the
    # topic has partitions — at 100M actions (sf100p) the sort ran the op
    # at 16.9x per 10x rows, and a real topic count caps parallelism at
    # n_partitions however many cores exist.  The aggregate's shuffle is
    # O(n_partitions) rows and the join back is a broadcast (zero exchange
    # of the big side).
    # NULL-SAFE join keys: the window form this replaced grouped NULL
    # topic/partition rows into their own group and still classified them;
    # a bare equi-join would silently drop such rows from BOTH prefix and
    # tail, breaking the "result equals a full materialization" invariant.
    # eqNullSafe keeps the join an equi-join (hashable), so the broadcast
    # plan is unchanged.
    maxes = actions.groupBy(
        F.col("topic").alias("_mt"), F.col("partition").alias("_mp")
    ).agg(F.floor(F.max("offset") * F.lit(split_frac)).cast("long").alias("_split"))
    acts = actions.join(
        F.broadcast(maxes),
        F.col("topic").eqNullSafe(F.col("_mt"))
        & F.col("partition").eqNullSafe(F.col("_mp")),
    ).drop("_mt", "_mp")

    # all four per-key folds in TWO Window nodes over one spec (the purge
    # horizons first; the watermarks reference them, so they land in a
    # second node) — both ride the (topic, id) partitioning the seq-nr
    # derivation already established: no exchange, no sort.  Each pair is
    # emitted in ONE select so CollapseWindow keeps them in one node
    # (chained withColumn planned four).  Expressions are SQL strings
    # (r11/r12 §4 pattern: the Column form cost ~0.2 s of py4j churn per
    # build); same parsed trees — CASE without ELSE is the bare when(),
    # coalesce promotes the int literal exactly like F.lit — pinned by
    # test_recovery_merge and the driver oracle.
    _pre = "(`offset` <= _split)"
    _wk = "OVER (PARTITION BY topic, id)"
    df = acts.selectExpr(
        "*",
        f"max(CASE WHEN {_pre} AND (action_type = 'purge') THEN `offset` END) "
        f"{_wk} AS _p_purge",
        f"max(CASE WHEN (NOT {_pre}) AND (action_type = 'purge') THEN `offset` END) "
        f"{_wk} AS _t_purge",
    )
    df = df.selectExpr(
        "*",
        f"max(CASE WHEN {_pre} AND (action_type = 'delete') "
        "AND (`offset` > coalesce(_p_purge, -1)) THEN delete_to END) "
        f"{_wk} AS _p_del",
        f"max(CASE WHEN (NOT {_pre}) AND (action_type = 'delete') "
        "AND (`offset` > coalesce(_t_purge, -1)) THEN delete_to END) "
        f"{_wk} AS _t_del",
    )

    apps = df.filter(F.col("action_type") == "append")
    # prefix appends obey the replicated materialization
    # (materialize_journal's _eff + batch-level watermark prune); tail
    # appends are the raw Kafka records, untouched here
    keep_batch = F.expr(
        f"CASE WHEN {_pre} THEN (`offset` > coalesce(_p_purge, -1)) "
        "AND (seq_nr_to > coalesce(_p_del, 0)) ELSE true END"
    )
    rows = explode_events(
        apps.filter(keep_batch),
        extra_cols=("_split", "_p_del", "_t_purge", "_t_del"),
    )

    visible = (
        rows
        # prefix materialization's per-event delete watermark
        .filter(
            F.expr(
                f"CASE WHEN {_pre} THEN seq_nr > coalesce(_p_del, 0) "
                "ELSE true END"
            )
        )
        # tail purge erases the replicated prefix and earlier tail appends
        .filter(F.expr("`offset` > coalesce(_t_purge, -1)"))
        # tail delete watermark tightens the read lower bound
        .filter(F.expr("seq_nr > coalesce(_t_del, 0)"))
        .filter(F.expr(f"seq_nr >= {int(from_seq_nr)}"))
        # the REPLICATED watermark clamps tail redeliveries too (an
        # at-least-once retry re-keying offsets must not resurrect deleted
        # events) — voided by a tail purge: rows surviving the purge filter
        # belong to the fresh incarnation
        .filter(
            F.expr(
                "seq_nr > (CASE WHEN _t_purge IS NOT NULL THEN 0 "
                "ELSE coalesce(_p_del, 0) END)"
            )
        )
    )
    # R5 monotonic-dedup guard under the configured integrity mode
    return apply_seq_nr_uniqueness(visible, seq_nr_uniqueness).select(*READ_COLUMNS)


def stitch_tail(
    eventual: DataFrame,
    tail: DataFrame,
    from_seq_nr: int = 1,
    seq_nr_uniqueness: str = "ignore",
    prefix_watermarks: DataFrame | None = None,
) -> DataFrame:
    """Stitch a replicated prefix with a not-yet-replicated actions tail —
    the common second half of every recovery read (``Journals.scala:211-292``):
    decode tail appends, apply the tail's purge/delete visibility to the
    union, dedup under the configured integrity mode.

    ``prefix_watermarks`` (topic, id, delete_to) carries the REPLICATED
    side's delete watermark: without it, a tail append re-delivering seq
    numbers below an already-replicated delete (an at-least-once producer
    retry that re-keys offsets) resurrects deleted events — the prefix
    side correctly yields nothing, the tail side sees no tail delete, and
    the R5 dedup has no surviving original to collapse against.  The
    clamp is suppressed after a TAIL purge (a purge starts a fresh
    incarnation whose appends legitimately restart below the old
    watermark)."""
    # "Kafka" side: decode tail appends (the replicator hasn't seen these)
    tail_rows = explode_events(tail.filter(F.col("action_type") == "append")).select(
        *READ_COLUMNS
    )

    merged = eventual.select(*READ_COLUMNS).unionByName(tail_rows)

    # tail-derived visibility: purge horizon + (post-purge) delete watermark
    # per key — a delete emitted before a later purge must not survive it
    wk = Window.partitionBy("topic", "id")
    tail_fold = (
        tail.withColumn(
            "_t_purge",
            F.max(F.when(F.col("action_type") == "purge", F.col("offset"))).over(wk),
        )
        .groupBy("topic", "id")
        .agg(
            F.first("_t_purge").alias("_t_purge"),
            F.max(
                F.when(
                    (F.col("action_type") == "delete")
                    & (F.col("offset") > F.coalesce(F.col("_t_purge"), F.lit(-1))),
                    F.col("delete_to"),
                )
            ).alias("_t_del"),
        )
    )

    # no broadcast hint on tail_fold: it is bounded only by replicator lag
    # (unbounded in theory), so a forced broadcast is the thing that dies
    # first at 100x scale — AQE broadcasts it at runtime when it is actually
    # small, and falls back to a shuffle join when it is not
    visible = (
        merged.join(tail_fold, ["topic", "id"], "left")
        .filter(F.col("offset") > F.coalesce(F.col("_t_purge"), F.lit(-1)))
        .filter(F.col("seq_nr") > F.coalesce(F.col("_t_del"), F.lit(0)))
        .filter(F.col("seq_nr") >= F.lit(from_seq_nr))
    )
    if prefix_watermarks is not None:
        pw = prefix_watermarks.select(
            "topic", "id", F.col("delete_to").alias("_p_dt")
        )
        # replicated watermark clamp — voided by a tail purge (rows that
        # survived the purge filter belong to the NEW incarnation).  No
        # broadcast hint: pw is O(keys with a replicated delete); AQE
        # broadcasts it while small.
        visible = visible.join(pw, ["topic", "id"], "left").filter(
            F.col("seq_nr")
            > F.when(F.col("_t_purge").isNotNull(), F.lit(0)).otherwise(
                F.coalesce(F.col("_p_dt"), F.lit(0))
            )
        )

    # R5 monotonic-dedup guard under the configured integrity mode
    # (default: keep first delivery of each seq_nr)
    return apply_seq_nr_uniqueness(visible, seq_nr_uniqueness).select(*READ_COLUMNS)
