"""The user-facing journal client: the reference's ``Journal`` API surface
(``journal/.../Journal.scala:20-60`` — append / read / pointer / delete /
purge) over this engine.

A client owns an **actions log** (the Kafka stand-in: an append-only
parquet log per topic, offset-ordered per partition) and a **JournalStore**
(the replicated side).  Semantics match the reference:

- ``append``    — W1: one atomic batch of events -> one action record;
  seq_nrs continue from the current pointer (reads-own-writes: the pointer
  consults the un-replicated tail too).
- ``delete_to`` — W2: writer-side clamp to the pointer; no-op None on an
  absent journal (``Journals.scala:326-332``).
- ``purge``     — W3.
- ``read``      — R1/R2: plans from the tail's HeadInfo (folded with the
  same pure fold the streaming head state uses) and stitches the
  replicated prefix with the un-replicated tail — a reader sees appends
  *before* the replicator has run, exactly the reference's recovery
  guarantee.
- ``pointer``   — R6 over both sources.
- ``replicate`` — drains the un-replicated tail through the same
  ``replicate_batch`` the streaming pipeline uses.

Mark (W4) does not exist here by design: the end-offset of the actions log
is the fence (SURVEY §3.1) — the client never needs to write to read.

Client calls are single-key and driver-side (like the reference's); bulk
work belongs to the replicator/streaming pipeline.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_journal_spark.folds import ActionRec, HeadInfo, head_info
from kafka_journal_spark.plans.recovery import read_with_plan
from kafka_journal_spark.sources.statestore import JournalStore
from kafka_journal_spark.streaming.replicator import replicate_batch

N_PARTITIONS = 8

ACTIONS_LOG_DDL = (
    "topic string, partition int, offset long, id string, action_type string, "
    "timestamp timestamp, origin string, version string, seq_nr_from long, "
    "seq_nr_to long, payload_type string, payload string, payloads array<string>, "
    "payloads_bin array<binary>, headers map<string,string>, "
    "tags array<string>, delete_to long, mark_id string, expire_after_secs long"
)


#: per-key HeadInfo snapshot row (head_info_batch output)
HEAD_SNAPSHOT_DDL = (
    "topic string, id string, kind string, offset long, seq_nr long, delete_to long"
)


class JournalClient:
    """``head_mode`` selects how recovery reads obtain the R2 HeadInfo:

    - ``'fold'`` (default): fold the key's un-replicated tail per call —
      always correct, O(tail) driver work per read.
    - ``'snapshot'``: consult the maintained head snapshot
      (:meth:`refresh_head_snapshot`) — the reference's actual C1
      consumption path (``Journals.scala:157-170``: recovery asks HeadCache
      before touching Kafka).  The snapshot carries a validity fingerprint
      (log end offset + replicated pointers); any append/replicate since
      the refresh makes it stale and the read silently falls back to the
      fold, so a stale cache can never mis-plan a read.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        origin: str = "client",
        head_mode: str = "fold",
    ):
        assert head_mode in ("fold", "snapshot"), head_mode
        self.spark = spark
        self.root = root
        self.origin = origin
        self.head_mode = head_mode
        self.log_path = os.path.join(root, "actions-log")
        self.head_snapshot_path = os.path.join(root, "head-snapshot")
        self.store = JournalStore(spark, os.path.join(root, "store"))
        os.makedirs(root, exist_ok=True)

    # -- log access --------------------------------------------------------

    def _log(self) -> DataFrame:
        if os.path.exists(self.log_path):
            return self.spark.read.schema(ACTIONS_LOG_DDL).parquet(self.log_path)
        return self.spark.createDataFrame([], ACTIONS_LOG_DDL)

    def _next_offset(self) -> int:
        row = self._log().agg(F.max("offset").alias("m")).collect()[0]
        return (row.m if row.m is not None else -1) + 1

    def _tail(self, topic: str, key: str) -> DataFrame:
        """Un-replicated actions of a key (offset beyond the replicated
        pointer of its partition).

        Fences by each ROW's own partition column (via
        :meth:`_unreplicated_tail`), not a partition re-derived from
        ``md5(key)``: a store replicated from a log with a different
        partitioning scheme would otherwise consult the wrong partition's
        pointer — double-seeing replicated actions or missing fresh ones.
        The sibling paths (``_unreplicated_tail``, ``read_many``) always
        fenced this way; this was the one re-derivation."""
        return self._unreplicated_tail().filter(
            (F.col("topic") == topic) & (F.col("id") == key)
        )

    def _tail_head(self, topic: str, key: str):
        recs = [
            ActionRec(r.action_type, r.offset, r.seq_nr_from, r.seq_nr_to, r.delete_to)
            for r in self._tail(topic, key).collect()
        ]
        return head_info(recs)

    # -- maintained head snapshot (C1 consumption path) --------------------

    def _unreplicated_tail(self) -> DataFrame:
        """ALL un-replicated actions (every key), fenced per partition by
        the replicated pointer — the relation the standing head stream
        consumes."""
        ptr = self.store.pointers().select(
            "topic", "partition", F.col("offset").alias("_ptr_off")
        )
        return (
            self._log()
            .join(F.broadcast(ptr), ["topic", "partition"], "left")
            .filter(F.col("offset") > F.coalesce(F.col("_ptr_off"), F.lit(-1)))
            .drop("_ptr_off")
        )

    @staticmethod
    def _dir_sig(path: str) -> str:
        """Cheap filesystem signature of a parquet dir: md5 over the
        sorted (name, mtime_ns, size) of every file.  Any writer — this
        client OR an out-of-band process — creates/replaces part files,
        changing the signature.  A content digest, not Python ``hash()``:
        a 64-bit hash collision (or an equal-size in-place overwrite under
        coarse mtime) would validate a stale head-snapshot token and
        silently mis-plan a snapshot read (r9 advice) — same O(files)
        cost, no collision exposure beyond md5's."""
        import hashlib

        sig = []
        for root, _, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue  # concurrent swap mid-walk; next call re-reads
                sig.append(f"{p}\x00{st.st_mtime_ns}\x00{st.st_size}")
        return hashlib.md5("\n".join(sorted(sig)).encode()).hexdigest()

    def _log_fingerprint(self) -> str:
        """Validity token for the head snapshot: the log end offset plus
        the replicated pointers.  Appends move the former, replication the
        latter — either invalidates the snapshot.

        The Spark jobs (max-offset scan + pointers collect) run only when
        the underlying FILES changed since the last call (cheap stat-walk
        signature): snapshot-mode reads otherwise paid two full log-metadata
        jobs per call just to validate the token, defeating the snapshot's
        point-lookup purpose.  Out-of-band mutation safety is preserved —
        any writer changes the part files, which flips the signature and
        forces a recompute."""
        import hashlib
        import json

        stat = (
            self._dir_sig(self.log_path),
            self._dir_sig(os.path.join(self.store.root, "pointers")),
        )
        cached = getattr(self, "_fp_cache", None)
        if cached is not None and cached[0] == stat:
            return cached[1]
        end = self._log().agg(F.max("offset").alias("m")).collect()[0].m
        ptrs = sorted(
            (r.topic, r.partition, r.offset) for r in self.store.pointers().collect()
        )
        fp = hashlib.md5(json.dumps([end, ptrs]).encode()).hexdigest()
        self._fp_cache = (stat, fp)
        return fp

    def refresh_head_snapshot(self) -> None:
        """Materialize the per-key HeadInfo of the un-replicated tail with
        ONE distributed fold (``head_info_batch`` — the same summary the
        standing ``head_info_stream`` maintains incrementally), stamped
        with the current log fingerprint.  After this, ``head_mode=
        'snapshot'`` reads plan R2 from a point lookup instead of a
        per-call driver fold — the reference's HeadCache-backed recovery
        (``Journals.scala:157-170``, ``HeadCache.scala:39-200``)."""
        from kafka_journal_spark.operators.head import head_info_batch
        from kafka_journal_spark.sources.statestore import safe_dir_swap

        fp = self._log_fingerprint()
        heads = head_info_batch(self._unreplicated_tail()).select(
            "topic", "id", "kind", "offset", "seq_nr", "delete_to"
        )
        # size-aware write: range-partitioned by (topic, id) — AQE coalesces
        # a small tail to a handful of files, a large one spreads out, and
        # the point lookup prunes on the sort order either way
        safe_dir_swap(
            self.spark, self.head_snapshot_path, heads, sort_cols=["topic", "id"]
        )
        with open(self.head_snapshot_path + ".token", "w") as f:
            f.write(fp)

    def _snapshot_head(self, topic: str, key: str) -> Optional[HeadInfo]:
        """HeadInfo from the maintained snapshot, or None when the snapshot
        is absent/stale (caller falls back to the fold)."""
        tok_path = self.head_snapshot_path + ".token"
        if not (os.path.exists(self.head_snapshot_path) and os.path.exists(tok_path)):
            return None
        with open(tok_path) as f:
            if f.read().strip() != self._log_fingerprint():
                return None
        rows = (
            self.spark.read.schema(HEAD_SNAPSHOT_DDL)
            .parquet(self.head_snapshot_path)
            .filter((F.col("topic") == topic) & (F.col("id") == key))
            .collect()
        )
        if not rows:
            return HeadInfo()  # no un-replicated tail for this key
        r = rows[0]
        return HeadInfo(
            kind=r.kind, offset=r.offset, seq_nr=r.seq_nr or 0, delete_to=r.delete_to
        )

    def _head(self, topic: str, key: str):
        """The R2 HeadInfo for one key, via the configured mode (snapshot
        with silent fold fallback on staleness, or fold directly)."""
        if self.head_mode == "snapshot":
            h = self._snapshot_head(topic, key)
            if h is not None:
                return h
        return self._tail_head(topic, key)

    @staticmethod
    def _partition(key: str) -> int:
        import hashlib

        return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % N_PARTITIONS

    def _emit(self, rows: list[dict]) -> int:
        df = self.spark.createDataFrame(rows, ACTIONS_LOG_DDL)  # type: ignore[arg-type]
        df.write.mode("append").parquet(self.log_path)
        return rows[-1]["offset"]

    # -- the Journal API ---------------------------------------------------

    def pointer(self, topic: str, key: str) -> Optional[int]:
        """Last seq_nr, consulting the un-replicated tail first (R6)."""
        h = self._head(topic, key)
        if h.kind == "append":
            return h.seq_nr
        if h.kind == "purge":
            return None
        if h.kind == "delete":
            stored = self.store.pointer(topic, key)
            return max(stored or 0, h.delete_to) or None
        return self.store.pointer(topic, key)

    def append(
        self,
        topic: str,
        key: str,
        payloads: list,
        tags=None,
        headers=None,
        expire_after_secs: Optional[int] = None,
    ) -> tuple[int, int]:
        """Atomically append a batch of events; returns (partition, offset).

        ``payloads`` may be strings (text events) or bytes (binary events —
        the batch rides the binary envelope exactly as in the reference's
        "any binary => whole batch binary" rule, KafkaWrite.scala:88-98);
        ``headers`` is an optional per-record user-header map
        (EventRecord.scala:65-82); ``expire_after_secs`` sets the journal's
        TTL from this append on (PayloadMetadata.scala:181 expireAfter —
        second-granular; the metajournal head follows the LAST append's
        value, and the TTL job purges due journals).
        """
        import datetime as dt

        assert payloads
        is_binary = any(isinstance(x, (bytes, bytearray)) for x in payloads)
        if is_binary:
            assert all(isinstance(x, (bytes, bytearray)) for x in payloads), (
                "mixed text/binary batches are not supported; the reference "
                "encodes the whole batch binary if any event is binary"
            )
        ptr = self.pointer(topic, key) or 0
        first, last = ptr + 1, ptr + len(payloads)
        off = self._next_offset()
        part = self._partition(key)
        self._emit(
            [
                {
                    "topic": topic, "partition": part, "offset": off, "id": key,
                    "action_type": "append", "timestamp": dt.datetime.now(dt.timezone.utc),
                    "origin": self.origin, "version": "1.0",
                    "seq_nr_from": first, "seq_nr_to": last,
                    "payload_type": "binary" if is_binary else "text",
                    "payload": None if is_binary else payloads[0],
                    "payloads": None if is_binary else payloads,
                    "payloads_bin": [bytes(x) for x in payloads] if is_binary else None,
                    "headers": dict(headers) if headers else None,
                    "tags": list(tags or []),
                    "delete_to": None, "mark_id": None,
                    "expire_after_secs": expire_after_secs,
                }
            ]
        )
        return part, off

    def delete_to(self, topic: str, key: str, to: int) -> Optional[int]:
        """Prefix delete clamped to the pointer; None on absent journal."""
        import datetime as dt

        ptr = self.pointer(topic, key)
        if ptr is None:
            return None
        off = self._next_offset()
        self._emit(
            [
                {
                    "topic": topic, "partition": self._partition(key), "offset": off,
                    "id": key, "action_type": "delete",
                    "timestamp": dt.datetime.now(dt.timezone.utc), "origin": self.origin,
                    "version": "1.0", "seq_nr_from": None, "seq_nr_to": None,
                    "payload_type": None, "payload": None, "payloads": None,
                    "payloads_bin": None, "headers": None,
                    "tags": None, "delete_to": min(to, ptr), "mark_id": None,
                    "expire_after_secs": None,
                }
            ]
        )
        return off

    def purge(self, topic: str, key: str) -> Optional[int]:
        import datetime as dt

        if self.pointer(topic, key) is None and self._tail(topic, key).isEmpty():
            if not self.store.metajournal_of_keys([key]).filter(
                (F.col("topic") == topic) & (F.col("id") == key)
            ).take(1):
                return None
        off = self._next_offset()
        self._emit(
            [
                {
                    "topic": topic, "partition": self._partition(key), "offset": off,
                    "id": key, "action_type": "purge",
                    "timestamp": dt.datetime.now(dt.timezone.utc), "origin": self.origin,
                    "version": "1.0", "seq_nr_from": None, "seq_nr_to": None,
                    "payload_type": None, "payload": None, "payloads": None,
                    "payloads_bin": None, "headers": None,
                    "tags": None, "delete_to": None, "mark_id": None,
                    "expire_after_secs": None,
                }
            ]
        )
        return off

    def read(self, topic: str, key: str, from_seq_nr: int = 1) -> list[tuple[int, str]]:
        """Recovery read: (seq_nr, payload) pairs — replicated prefix
        stitched with the un-replicated tail per the R2 plan."""
        head = self._head(topic, key)
        tail = self._tail(topic, key)
        df = read_with_plan(self.store, tail, topic, key, head, from_seq_nr)
        out = []
        for r in df.collect():
            payload = r.payload_txt
            if payload is None and "payload_bin" in df.columns and r.payload_bin is not None:
                payload = bytes(r.payload_bin)
            out.append((r.seq_nr, payload))
        return sorted(out, key=lambda t: t[0])

    def read_many(
        self, topic: str, keys: list[str], from_seq_nr: int = 1
    ) -> DataFrame:
        """Bulk recovery read: ONE plan serves every key — a single pruned
        scan of the replicated store plus a single scan of the un-replicated
        log tail, stitched in-plan (``stitch_tail``).

        ``read()``/``pointer()`` are deliberately per-entity, driver-side
        calls (the reference's ``Journal`` trait serves one persistence id);
        looping them over N keys costs N collects and N tail folds on the
        driver.  This is the bulk path: the per-key fold becomes the same
        distributed window/groupBy the replicator uses, and the result stays
        a DataFrame for downstream processing.
        """
        from kafka_journal_spark.operators.read import stitch_tail

        key_set = list(dict.fromkeys(keys))
        # replicated side: one scan, id-pruned (isin pushes to parquet)
        eventual = self.store.read(topic=topic, from_seq_nr=1).filter(
            F.col("id").isin(key_set)
        )
        # un-replicated tail: one log scan, fenced per partition by the
        # replicated pointer (the end-offset fence, SURVEY §3.1)
        ptr = self.store.pointers().select(
            "topic", "partition", F.col("offset").alias("_ptr_off")
        )
        tail = (
            self._log()
            .filter((F.col("topic") == topic) & F.col("id").isin(key_set))
            .join(F.broadcast(ptr), ["topic", "partition"], "left")
            .filter(F.col("offset") > F.coalesce(F.col("_ptr_off"), F.lit(-1)))
            .drop("_ptr_off")
        )
        # the store's delete watermarks clamp TAIL rows too (a tail append
        # re-delivering seq numbers below a replicated delete must not
        # resurrect deleted events — see stitch_tail)
        prefix_wm = (
            self.store.metajournal_of_keys(key_set)
            .filter((F.col("topic") == topic) & F.col("id").isin(key_set))
            .filter(F.col("delete_to").isNotNull())
        )
        return stitch_tail(eventual, tail, from_seq_nr, prefix_watermarks=prefix_wm)

    def pointer_many(self, topic: str, keys: list[str] | None = None) -> DataFrame:
        """Bulk R6: last seq_nr per key as ONE DataFrame plan — the
        distributed sibling of :meth:`pointer` (which is per-entity,
        driver-side, like the reference's ``Journal`` trait).  Folds the
        whole un-replicated tail with ``head_info_batch`` (one shuffle),
        merges with the replicated heads by the same kind rules the scalar
        path applies, and returns (topic, id, seq_nr) for every LIVE key
        (purged keys are absent, matching ``pointer() is None``).

        ``keys=None`` means every key of the topic; with a key list both
        scans are pruned by ``isin`` pushdown, and the head side plans from
        the keys' bands only (``JournalStore.metajournal_of_keys``).
        """
        from kafka_journal_spark.operators.head import head_info_batch

        tail = self._unreplicated_tail().filter(F.col("topic") == topic)
        meta = self.store.metajournal()
        if keys is not None:
            key_set = list(dict.fromkeys(keys))
            tail = tail.filter(F.col("id").isin(key_set))
            meta = self.store.metajournal_of_keys(key_set).filter(
                F.col("id").isin(key_set)
            )
        stored = meta.filter(F.col("topic") == topic).select(
            "topic", "id", F.col("seq_nr").alias("_stored")
        )
        heads = head_info_batch(tail).select(
            "topic", "id", F.col("kind").alias("_k"),
            F.col("seq_nr").alias("_h_seq"), F.col("delete_to").alias("_h_dt"),
        )
        merged = stored.join(heads, ["topic", "id"], "full_outer")
        # scalar-path rules: append head wins outright; purge head erases;
        # delete head raises the floor to its watermark; empty head -> store
        ptr = (
            F.when(F.col("_k") == "append", F.col("_h_seq"))
            .when(F.col("_k") == "purge", F.lit(None).cast("long"))
            .when(
                F.col("_k") == "delete",
                F.nullif(
                    F.greatest(
                        F.coalesce("_stored", F.lit(0)),
                        F.coalesce("_h_dt", F.lit(0)),
                    ),
                    F.lit(0),
                ),
            )
            .otherwise(F.col("_stored"))
        )
        return (
            merged.select("topic", "id", ptr.cast("long").alias("seq_nr"))
            .filter(F.col("seq_nr").isNotNull())
        )

    def ttl_purge(self, now_ts: str) -> int:
        """The P8 TTL job (``PurgeExpired.scala:23-71``): purge every
        journal due at ``now_ts``.  Each due key gets a Purge action
        PRODUCED THROUGH THE LOG (a real offset, normal replication
        ordering — never a direct store delete), then the tail is drained.
        A purged head row disappears, so the job is naturally idempotent.

        Bulk path: ALL due Purge actions are built as one row batch and
        appended with ONE log write, then ONE replicate drains them —
        driver work is O(1) log round-trips however many journals expire
        (a mass-expiry day must not become millions of per-key appends).
        Offsets are assigned consecutively in sorted (topic, id) order so
        reruns are deterministic.
        """
        import datetime as dt

        from kafka_journal_spark.operators.expiry import ttl_due

        due = sorted(ttl_due(self.store, now_ts))
        if not due:
            return 0
        off = self._next_offset()
        now = dt.datetime.now(dt.timezone.utc)
        self._emit(
            [
                {
                    "topic": topic, "partition": self._partition(key),
                    "offset": off + i, "id": key, "action_type": "purge",
                    "timestamp": now, "origin": self.origin,
                    "version": "1.0", "seq_nr_from": None, "seq_nr_to": None,
                    "payload_type": None, "payload": None, "payloads": None,
                    "payloads_bin": None, "headers": None,
                    "tags": None, "delete_to": None, "mark_id": None,
                    "expire_after_secs": None,
                }
                for i, (topic, key) in enumerate(due)
            ]
        )
        self.replicate()
        return len(due)

    def replicate(self) -> None:
        """Drain the un-replicated log through the replication fold (the
        standing pipeline's foreachBatch, invoked on demand)."""
        ptr = {
            (r.topic, r.partition): r.offset for r in self.store.pointers().collect()
        }
        log = self._log()
        if ptr:
            conds = None
            for (t, p), o in ptr.items():
                c = (F.col("topic") == t) & (F.col("partition") == p) & (
                    F.col("offset") <= o
                )
                conds = c if conds is None else (conds | c)
            log = log.filter(~conds)
        if not log.isEmpty():
            replicate_batch(log, self.store)
