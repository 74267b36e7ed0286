"""Snapshot store: the reference's SnapshotStore contract
(``snapshot/.../SnapshotStore.scala:11-61``, ``SnapshotRecord.scala:127``)
with the ring-buffer slot index (``BufferNr.scala:11-31``) — the reference
defines this API but ships no storage implementation ("there is no snapshot
support yet", ``README.md:36``); we provide one.

Model: per (topic, id) a ring of ``buffer_size`` slots; the n-th snapshot
(1-based by seq_nr order) lands in slot ``(n-1) % buffer_size``, overwriting
the previous occupant — so at most ``buffer_size`` snapshots are retained
and the newest always survives.  ``load`` picks the latest retained snapshot
within a ``SnapshotSelectionCriteria`` window
(``SnapshotSelectionCriteria.scala:88-101``).

The query surface derives a deterministic snapshot stream from the journal
("snapshot every k-th event") so the whole thing has a DuckDB oracle.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_journal_spark.operators.actions import journal_actions
from kafka_journal_spark.operators.replicate import materialize_journal
from kafka_journal_spark.session import local_frame
from kafka_journal_spark.sources.manifest import ManifestTable

BUFFER_SIZE = 3  # ring slots per journal
SNAP_EVERY = 5  # snapshot every 5th event (derived stream)


@dataclass(frozen=True)
class SnapshotSelectionCriteria:
    max_seq_nr: Optional[int] = None
    max_timestamp: Optional[str] = None
    min_seq_nr: Optional[int] = None
    min_timestamp: Optional[str] = None


def snapshot_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived snapshot writes: every SNAP_EVERY-th event of each journal
    becomes a snapshot (payload = the event payload)."""
    j = materialize_journal(journal_actions(spark, sf_dir))
    snaps = j.filter(F.pmod(F.col("seq_nr"), F.lit(SNAP_EVERY)) == 0)
    return snaps.select(
        "topic",
        "id",
        F.col("seq_nr"),
        F.col("timestamp"),
        F.col("origin"),
        F.col("version"),
        F.lit("text").alias("payload_type"),
        F.col("payload_txt"),
    )


def snapshots_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retained ring-buffer contents: snapshot n -> slot (n-1) % SIZE,
    later occupants overwrite earlier ones."""
    s = snapshot_stream(spark, sf_dir)
    worder = Window.partitionBy("topic", "id").orderBy("seq_nr")
    slotted = s.withColumn(
        "buffer_nr", F.pmod(F.row_number().over(worder) - 1, F.lit(BUFFER_SIZE))
    )
    wslot = Window.partitionBy("topic", "id", "buffer_nr").orderBy(F.col("seq_nr").desc())
    return (
        slotted.withColumn("_rn", F.row_number().over(wslot))
        .filter(F.col("_rn") == 1)
        .select(
            "topic", "id", F.col("buffer_nr").cast("int").alias("buffer_nr"),
            "seq_nr", "timestamp", "origin", "version", "payload_type", "payload_txt",
        )
    )


def load_snapshot(
    spark: SparkSession,
    sf_dir: str,
    criteria: SnapshotSelectionCriteria = SnapshotSelectionCriteria(),
) -> DataFrame:
    """SnapshotStore.load: the latest retained snapshot per journal within
    the criteria window."""
    t = snapshots_table(spark, sf_dir)
    if criteria.max_seq_nr is not None:
        t = t.filter(F.col("seq_nr") <= criteria.max_seq_nr)
    if criteria.min_seq_nr is not None:
        t = t.filter(F.col("seq_nr") >= criteria.min_seq_nr)
    if criteria.max_timestamp is not None:
        t = t.filter(F.col("timestamp") <= F.lit(criteria.max_timestamp))
    if criteria.min_timestamp is not None:
        t = t.filter(F.col("timestamp") >= F.lit(criteria.min_timestamp))
    w = Window.partitionBy("topic", "id").orderBy(F.col("seq_nr").desc())
    return (
        t.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("topic", "id", "buffer_nr", "seq_nr", "timestamp", "payload_txt")
    )


SNAPSHOT_SCHEMA_DDL = (
    "topic string, id string, buffer_nr int, seq_nr long, timestamp timestamp, "
    "origin string, version string, payload_type string, payload_txt string"
)


class SnapshotStore:
    """Parquet-backed implementation of the reference's SnapshotStore trait
    (``snapshot/.../SnapshotStore.scala:11-61``: save / load(criteria) /
    delete(criteria) / delete(seqNr)) with the ring-buffer slot policy
    (``BufferNr.scala:11-31``): the n-th snapshot of a key lands in slot
    ``(n-1) % buffer_size``, overwriting the previous occupant.

    The table (``<root>/snapshots``) is a one-file manifest table
    (``sources/manifest.py``): every save or delete stages the whole
    O(#keys x buffer_size) table and swaps it in through the manifest —
    snapshots are head state, not bulk data — and reads plan from the
    manifest's file list, so a read planned before a write still scans its
    own snapshot and a crash mid-write leaves the previous table live.
    """

    def __init__(self, spark: SparkSession, root: str, buffer_size: int = BUFFER_SIZE):
        import os

        self.spark = spark
        self.root = root
        self.buffer_size = buffer_size
        self.table = ManifestTable(root, "snapshots")
        os.makedirs(root, exist_ok=True)
        self._counts: dict[tuple[str, str], int] = {}

    def _df(self) -> DataFrame:
        return self.table.read(self.spark, SNAPSHOT_SCHEMA_DDL)

    def _swap(self, df: DataFrame) -> None:
        self.table.commit_swap(self.table.stage(df, coalesce=1), None)

    def save(self, topic: str, key: str, seq_nr: int, payload: str,
             timestamp=None, origin: str = "client", version: str = "1.0") -> None:
        """Slot = (n-1) % buffer_size for the key's n-th save; the previous
        occupant of the slot is overwritten (BufferNr ring semantics)."""
        import datetime as dt

        n = self._counts.get((topic, key), self._persisted_count(topic, key))
        slot = n % self.buffer_size
        # timezone-aware UTC now: the column holds instants, and a naive
        # utcnow() leaves its zone to whoever converts it
        row = local_frame(
            self.spark,
            [(
                topic, key, slot, seq_nr,
                timestamp or dt.datetime.now(dt.timezone.utc), origin, version,
                "text", payload,
            )],
            SNAPSHOT_SCHEMA_DDL,
        )
        from pyspark.sql import functions as F

        kept = self._df().filter(
            ~((F.col("topic") == topic) & (F.col("id") == key) & (F.col("buffer_nr") == slot))
        )
        self._swap(kept.unionByName(row))
        # counted only once committed: a failed save must not skip a slot
        self._counts[(topic, key)] = n + 1

    def _persisted_count(self, topic: str, key: str) -> int:
        """Restart recovery: the next save must land one slot past the NEWEST
        retained snapshot (BufferNr rotation continues evicting the oldest
        occupant).  Resuming from the retained row count alone would put the
        next save at ``count % size`` — which can overwrite the newest
        retained snapshot after a restart instead of the oldest."""
        rows = (
            self._df()
            .filter((F.col("topic") == topic) & (F.col("id") == key))
            .select("buffer_nr", "seq_nr")
            .collect()
        )
        if not rows:
            return 0
        newest = max(rows, key=lambda r: r.seq_nr)
        target = (newest.buffer_nr + 1) % self.buffer_size
        n = len(rows)
        while n % self.buffer_size != target:
            n += 1
        return n

    def _select(self, topic: str, key: str,
                criteria: "SnapshotSelectionCriteria") -> DataFrame:
        t = self._df().filter((F.col("topic") == topic) & (F.col("id") == key))
        if criteria.max_seq_nr is not None:
            t = t.filter(F.col("seq_nr") <= criteria.max_seq_nr)
        if criteria.min_seq_nr is not None:
            t = t.filter(F.col("seq_nr") >= criteria.min_seq_nr)
        if criteria.max_timestamp is not None:
            t = t.filter(F.col("timestamp") <= F.lit(criteria.max_timestamp))
        if criteria.min_timestamp is not None:
            t = t.filter(F.col("timestamp") >= F.lit(criteria.min_timestamp))
        return t

    def load(self, topic: str, key: str,
             criteria: "SnapshotSelectionCriteria" = None):
        """The latest (max seq_nr) retained snapshot within the criteria,
        or None (SnapshotStore.scala:23-34)."""
        criteria = criteria or SnapshotSelectionCriteria()
        rows = (
            self._select(topic, key, criteria)
            .orderBy(F.col("seq_nr").desc())
            .limit(1)
            .collect()
        )
        return rows[0] if rows else None

    def delete(self, topic: str, key: str,
               criteria: "SnapshotSelectionCriteria" = None,
               seq_nr: int | None = None) -> None:
        """Delete all snapshots matching the criteria, or exactly one
        seq_nr (SnapshotStore.scala:36-61)."""
        if seq_nr is not None:
            criteria = SnapshotSelectionCriteria(max_seq_nr=seq_nr, min_seq_nr=seq_nr)
        criteria = criteria or SnapshotSelectionCriteria()
        doomed = self._select(topic, key, criteria).select("topic", "id", "buffer_nr")
        kept = self._df().join(doomed, ["topic", "id", "buffer_nr"], "left_anti")
        self._swap(kept)


def recovery_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-seeded recovery (the reference's SnapshotStore intent,
    ``snapshot/.../SnapshotStore.scala:11-61``: recover state from the latest
    snapshot, then replay only the journal suffix after it).

    The relation is the stitched recovery source per journal: one
    ``source='snapshot'`` row (the seed) where a retained snapshot exists,
    plus ``source='journal'`` rows for events with ``seq_nr`` beyond the
    seed; journals without snapshots replay in full.

    Scale: with a stored snapshot table this is one (topic, id) join (no
    broadcast hint — AQE decides).  For the derived stream the latest
    retained snapshot is simply the key's max snapshot seq_nr (the newest
    always survives ring overwrites), so the whole stitch collapses to ONE
    window over the journal's existing (topic, id) partitioning — single
    scan, no self-join (a naive snapshot-side re-derivation scanned the
    fact table three times).
    """
    j = materialize_journal(journal_actions(spark, sf_dir))
    wk = Window.partitionBy("topic", "id")
    snap_seq = F.max(
        F.when(F.pmod(F.col("seq_nr"), F.lit(SNAP_EVERY)) == 0, F.col("seq_nr"))
    ).over(wk)
    source = F.when(F.col("seq_nr") == F.col("_snap_seq"), "snapshot").when(
        F.col("seq_nr") > F.coalesce(F.col("_snap_seq"), F.lit(0)), "journal"
    )
    return (
        j.withColumn("_snap_seq", snap_seq)
        .withColumn("source", source)
        .filter(F.col("source").isNotNull())
        .select("topic", "id", "source", "seq_nr", "payload_txt")
    )


def _sn_queries():
    def s_snapshots(spark, sf_dir):
        return snapshots_table(spark, sf_dir)

    def s_load_latest(spark, sf_dir):
        return load_snapshot(spark, sf_dir)

    def s_load_bounded(spark, sf_dir):
        return load_snapshot(
            spark, sf_dir, SnapshotSelectionCriteria(max_seq_nr=20)
        )

    def s_recovery_hybrid(spark, sf_dir):
        return recovery_hybrid(spark, sf_dir)

    return {
        "s_snapshots": s_snapshots,
        "s_load_latest": s_load_latest,
        "s_load_bounded": s_load_bounded,
        "s_recovery_hybrid": s_recovery_hybrid,
    }


SNAPSHOT_QUERIES = _sn_queries()

SNAPSHOT_ORACLES: dict[str, str] = {}


def _build_oracles() -> None:
    from kafka_journal_spark.oracles import FOLD_SQL, JOURNAL_ROWS_SQL

    base = f"""
        WITH {FOLD_SQL}, {JOURNAL_ROWS_SQL},
        snaps AS (
          SELECT topic, id, seq_nr, timestamp, origin, version,
                 'text' AS payload_type, payload_txt
          FROM __journal WHERE seq_nr % {SNAP_EVERY} = 0
        ),
        slotted AS (
          SELECT *, CAST((ROW_NUMBER() OVER (PARTITION BY topic, id ORDER BY seq_nr) - 1)
                     % {BUFFER_SIZE} AS INTEGER) AS buffer_nr
          FROM snaps
        ),
        retained AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY topic, id, buffer_nr
                       ORDER BY seq_nr DESC) AS _rn
            FROM slotted
          ) WHERE _rn = 1
        )
    """
    SNAPSHOT_ORACLES["s_snapshots"] = (
        f"{base} SELECT topic, id, buffer_nr, seq_nr, timestamp, origin, version, "
        f"payload_type, payload_txt FROM retained"
    )
    SNAPSHOT_ORACLES["s_load_latest"] = f"""{base}
        SELECT topic, id, buffer_nr, seq_nr, timestamp, payload_txt FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY topic, id ORDER BY seq_nr DESC) AS _r2
          FROM retained
        ) WHERE _r2 = 1
    """
    SNAPSHOT_ORACLES["s_load_bounded"] = f"""{base}
        SELECT topic, id, buffer_nr, seq_nr, timestamp, payload_txt FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY topic, id ORDER BY seq_nr DESC) AS _r2
          FROM retained WHERE seq_nr <= 20
        ) WHERE _r2 = 1
    """
    SNAPSHOT_ORACLES["s_recovery_hybrid"] = f"""{base},
        latest AS (
          SELECT topic, id, seq_nr, payload_txt FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY topic, id ORDER BY seq_nr DESC) AS _r2
            FROM retained
          ) WHERE _r2 = 1
        )
        SELECT topic, id, 'snapshot' AS source, seq_nr, payload_txt FROM latest
        UNION ALL
        SELECT j.topic, j.id, 'journal' AS source, j.seq_nr, j.payload_txt
        FROM __journal j LEFT JOIN latest s ON j.topic = s.topic AND j.id = s.id
        WHERE j.seq_nr > COALESCE(s.seq_nr, 0)
    """


_build_oracles()
