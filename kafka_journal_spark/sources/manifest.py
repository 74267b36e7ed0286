"""Manifest tables: the one commit protocol of every persistent table.

A table is a directory of parquet files plus one atomically-replaced
token (``_manifest_<name>`` in the table's root) naming exactly its live
files.  This is the Delta-Lake/Iceberg commit model in miniature, and it
is what makes reads SNAPSHOT-ISOLATED under standing mutation:

- a swap (fold / compaction / band rewrite / small-table replace) never
  renames or deletes a path a reader could have planned: it moves fresh
  files INTO the live directory, then atomically publishes a manifest
  that names the fresh files and RETIRES the replaced ones.  Retired
  files stay on disk for ``retire_grace_s`` before vacuum removes them,
  so a read planned against the old manifest scans a complete,
  point-in-time-consistent snapshot.
- a crash mid-swap is invisible: the manifest still names the old files
  (the swap never happened); half-moved fresh files are unreferenced
  orphans that vacuum reaps by age.  A crash mid-APPEND is likewise
  invisible — the batch's files are not in the manifest, so its replay
  cannot double rows even physically.
- an ABSENT token is an empty table.  Every commit writes a token, so
  parquet files without one can only be crash orphans.
- at 100 TB this is not an optimization but the only correct shape:
  object stores have no atomic directory rename at all, and an O(files)
  listing per read is the cost Delta's checkpointed log exists to
  amortize.  The manifest is that log folded to one token; the append
  path's listing diff would become a commit-protocol hook on a real
  deployment (documented, not needed at this file count).

Reference parity: the reference gets one atomic commit per statement from
Cassandra (``ReplicatedCassandra.scala``); here the manifest token is the
single commit point of each table (D-Streams, SOSP 2013: one recoverable
commit point per unit of state).
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import shutil
import threading
import time
import uuid
import warnings
import weakref
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from kafka_journal_spark.session import local_frame

#: how long a superseded (retired) data file stays on disk after a swap
#: replaced it in the manifest, in seconds.  This is the store's snapshot
#: retention: a reader plans against the manifest's file list, and any
#: file that list names is guaranteed to exist for at least this long
#: after a later swap retires it — so a racing read's plan→scan gap is
#: safe as long as it is shorter than the grace (the same contract as
#: Delta Lake's VACUUM retention; theirs defaults to 7 days).
#:
#: SIZING RULE: the grace must exceed the worst-case wall between a read
#: PLANNING (manifest load) and the scan's last byte, times a safety
#: factor.  Local-mode plans materialize in seconds; the sf100-projection
#: probes measured single-operator scans of 100–400 s — hence a 15-minute
#: default (~2x that worst case) rather than the earlier 60 s, which a
#: long scan under standing maintenance could outlive.  Deployments with
#: longer analytic scans should raise it (``JournalStore(retire_grace_s=)``) toward
#: Delta's days-scale retention — the only cost is retired bytes on disk.
#:
#: Two belts close the window beyond the grace:
#: - IN-PROCESS, vacuum never reaps a file referenced by a registered
#:   read snapshot: every manifest read registers its file list for as
#:   long as the returned DataFrame object is referenced (weakref-scoped),
#:   and ``ManifestTable.pin()`` (``JournalStore.pin_reads()`` for all
#:   three journal tables) pins a table's current snapshot for a whole
#:   block of derived-plan work;
#: - CROSS-PROCESS, manifest-planned scans run with
#:   ``ignoreMissingFiles=false``, so a foreign vacuum racing past the
#:   grace makes the scan FAIL LOUDLY instead of silently dropping rows.
RETIRE_GRACE_S = 900.0

_ROOT_LOCKS: dict[str, threading.RLock] = {}
_ROOT_LOCKS_GUARD = threading.Lock()


def _root_lock(root: str) -> threading.RLock:
    key = os.path.realpath(root)
    with _ROOT_LOCKS_GUARD:
        return _ROOT_LOCKS.setdefault(key, threading.RLock())


#: in-process read-snapshot registry: (realpath(root), table) -> snap_id ->
#: frozenset of manifest-relative file paths some live read plan references.
#: ``vacuum`` never reaps a retired file named by a registered snapshot —
#: the in-process belt that lets a scan outlive ``retire_grace_s`` under
#: standing maintenance (see RETIRE_GRACE_S).  Entries are released by the
#: reader DataFrame's weakref finalizer or by ``ManifestTable.pin()`` exit.
_ACTIVE_SNAPSHOTS: dict[tuple[str, str], dict[int, frozenset[str]]] = {}
_ACTIVE_SNAPSHOTS_GUARD = threading.Lock()
_SNAP_COUNTER = itertools.count(1)


def _register_snapshot(root: str, table: str, files) -> int:
    snap_id = next(_SNAP_COUNTER)
    key = (os.path.realpath(root), table)
    with _ACTIVE_SNAPSHOTS_GUARD:
        _ACTIVE_SNAPSHOTS.setdefault(key, {})[snap_id] = frozenset(files)
    return snap_id


def _release_snapshot(root: str, table: str, snap_id: int) -> None:
    key = (os.path.realpath(root), table)
    with _ACTIVE_SNAPSHOTS_GUARD:
        reg = _ACTIVE_SNAPSHOTS.get(key)
        if reg is not None:
            reg.pop(snap_id, None)
            if not reg:
                _ACTIVE_SNAPSHOTS.pop(key, None)


def _snapshot_referenced(root: str, table: str) -> frozenset[str]:
    key = (os.path.realpath(root), table)
    with _ACTIVE_SNAPSHOTS_GUARD:
        reg = _ACTIVE_SNAPSHOTS.get(key)
        if not reg:
            return frozenset()
        out: set[str] = set()
        for files in reg.values():
            out |= files
        return frozenset(out)


def _maybe_crash(point: str) -> None:
    """Test-only crash injection: when ``KJS_STORE_CRASH`` names this
    point, die HARD (no atexit, no finally — the closest a test can get
    to a power cut) so ``tests/test_manifest_crash.py`` can prove the
    manifest protocol's claim that a crash between a mutation's file
    writes and its manifest publish is physically invisible to readers.
    One dict lookup when unset."""
    if os.environ.get("KJS_STORE_CRASH") == point:
        os._exit(137)


def read_token(path: str) -> str | None:
    """A token's stripped content, or None when the file is absent.

    Only absence reads as None: any other failure (EACCES, EIO, ESTALE)
    raises.  A manifest token that could not be read must never pass for
    an empty table — the commit that follows would publish a manifest
    without the table's files and its vacuum would reap them."""
    try:
        with open(path) as f:
            return f.read().strip()
    except FileNotFoundError:
        return None


def write_token(path: str, value: str) -> None:
    """Atomic, DURABLE token publish: fsync the temp file before the
    rename (a power loss can otherwise surface a zero-length token at the
    final name — os.replace is atomic in the namespace, not for unflushed
    data pages) and fsync the directory after it so the rename itself
    survives."""
    tmp = f"{path}.{uuid.uuid4().hex[:8]}.tok"
    with open(tmp, "w") as f:
        f.write(value)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    try:
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass  # platforms/filesystems without directory fsync


def walk_parquet(root: str) -> set[str]:
    """Relative paths of every parquet data file under ``root``."""
    out: set[str] = set()
    for r, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                out.add(os.path.relpath(os.path.join(r, f), root))
    return out


def _parse(raw: str) -> tuple[list[str], dict[str, int]]:
    doc = json.loads(raw)
    return list(doc.get("files", [])), dict(doc.get("retired", {}))


class ManifestTable:
    """One manifest-committed table: ``<root>/<name>/`` holds its parquet
    files, ``<root>/_manifest_<name>`` names the live ones (and the
    retired ones with their retirement time), ``_manifest_<name>.prev``
    keeps the manifest the last commit superseded.  Commits hold the
    per-root lock; ``fence`` (if given) runs before every token write —
    the journal store passes its lease check there."""

    def __init__(
        self, root: str, name: str, *, fence: Callable[[], None] | None = None
    ):
        self.root = root
        self.name = name
        self.path = os.path.join(root, name)
        #: snapshot retention for superseded files (see RETIRE_GRACE_S)
        self.retire_grace_s = RETIRE_GRACE_S
        self.fence = fence
        self.lock = _root_lock(root)
        self._token = os.path.join(root, f"_manifest_{name}")

    def _write(self, path: str, value: str) -> None:
        if self.fence is not None:
            self.fence()
        write_token(path, value)

    def load(self) -> tuple[list[str], dict[str, int]]:
        """(live files, retired {file: retired_at_ns}).

        An absent token is an empty table.  A token that exists but does
        not parse gives the REPAIR view — ``write_token`` fsyncs before its
        atomic rename, so a power loss cannot tear it; this guards external
        corruption (manual edits, foreign tooling), where a warned
        best-effort view beats every read raising forever.  The view is the
        directory walk minus the files the ``.prev`` safety net (the last
        GOOD superseded manifest) lists as retired, which stay retired with
        their original timestamps so vacuum still reaps them on schedule.
        Files newer than ``.prev`` (the one commit between it and the
        corrupt token, or orphans of a crash inside that window) are
        indistinguishable from committed appends and count as live — no
        data loss, at worst one commit's worth of swap duplicates, loudly
        warned.  Readers plan from this view, and the next commit saves
        it."""
        raw = read_token(self._token)
        if raw is None:
            return [], {}
        try:
            return _parse(raw)
        except ValueError:
            pass
        walk = walk_parquet(self.path)
        retired: dict[str, int] = {}
        try:
            prev = _parse(read_token(self._token + ".prev") or "")
            retired = {f: ts for f, ts in prev[1].items() if f in walk}
        except ValueError:
            prev = None
        warnings.warn(
            f"manifest token _manifest_{self.name} in {self.root!r} is "
            f"corrupt — planning from the directory walk"
            + (
                f" with {len(retired)} known-retired file(s) kept retired "
                f"via the .prev manifest"
                if prev is not None
                else " (no usable .prev manifest — files retired within "
                "the grace may be read twice until a swap rewrites them)"
            )
            + "; the next commit saves this repaired view",
            RuntimeWarning,
            stacklevel=2,
        )
        return sorted(walk - set(retired)), retired

    def live_files(self) -> set[str]:
        return set(self.load()[0])

    @contextlib.contextmanager
    def pin(self):
        """Pin the table's CURRENT snapshot against this process's vacuum
        for the duration of the block (see RETIRE_GRACE_S)."""
        snap_id = _register_snapshot(self.root, self.name, self.load()[0])
        try:
            yield
        finally:
            _release_snapshot(self.root, self.name, snap_id)

    def save(self, files, retired) -> None:
        # preserve the manifest being superseded as `.prev` FIRST: the
        # last-known-good safety net ``load`` repairs from when the main
        # token is externally corrupted.  Only a parseable current token
        # is preserved (prev must always be a GOOD manifest); the extra
        # small-token fsync is noise next to the Spark write every
        # commit just did.
        cur = read_token(self._token)
        if cur:
            try:
                json.loads(cur)
            except ValueError:
                pass
            else:
                self._write(self._token + ".prev", cur)
        self._write(
            self._token,
            json.dumps(
                {"files": sorted(files), "retired": retired},
                separators=(",", ":"),
            ),
        )

    def read(
        self,
        spark: SparkSession,
        ddl: str,
        parts: set[str] | None = None,
        files: list[str] | None = None,
    ) -> DataFrame:
        """Snapshot read: plan against the manifest's explicit file list
        (point-in-time-consistent), with ``basePath`` preserving the hive
        partition columns and their pruning.

        ``parts`` narrows the plan to the manifest files whose partition
        directory (first path segment, e.g. ``seg_band=17``) is in the set
        — single-key head lookups plan from the key's one band.  This is
        not just partition pruning done early: ``spark.read.parquet`` over
        more than ``spark.sql.sources.parallelPartitionDiscovery.threshold``
        (32) paths lists them with a Spark job (one task per path) before
        any filter can prune, so a lookup planned from all of a
        metajournal's ~128–256 band files paid a listing job and footer
        reads for every band; a one-band plan lists on the driver and
        scans one band.  Only the files planned are registered.
        ``files`` is a live list the caller already took from ``load()``,
        so the plan reads the same snapshot the caller inspected.

        Two guarantees close the beyond-grace window (RETIRE_GRACE_S):
        the snapshot's file list is REGISTERED against this process's
        vacuum for as long as the returned DataFrame object lives
        (weakref-scoped — hold the frame, or a ``pin_reads()`` block, for
        long derived-plan work), and the scan runs with
        ``ignoreMissingFiles=false`` so a FOREIGN process vacuuming past
        the grace makes this scan raise instead of silently dropping a
        file's rows."""
        if files is None:
            files = self.load()[0]
        if parts is not None:
            files = [f for f in files if f.split(os.sep, 1)[0] in parts]
        if not files:
            return local_frame(spark, [], ddl)
        df = (
            spark.read.schema(ddl)
            .option("basePath", self.path)
            .option("ignoreMissingFiles", "false")
            .parquet(*[os.path.join(self.path, f) for f in files])
        )
        snap_id = _register_snapshot(self.root, self.name, files)
        weakref.finalize(df, _release_snapshot, self.root, self.name, snap_id)
        return df

    def commit_append(self, write_fn: Callable[[], None]) -> None:
        """Run an append-mode Spark write against the table directory and
        commit exactly the files it created into the manifest (diff of the
        directory walk around the write — pre-existing crash orphans stay
        unreferenced and are reaped by vacuum, never adopted)."""
        with self.lock:
            files, retired = self.load()
            before = walk_parquet(self.path)
            write_fn()
            _maybe_crash(f"append_precommit_{self.name}")
            new = walk_parquet(self.path) - before
            self.save(set(files) | new, retired)
            self.vacuum()

    def stage(
        self,
        df: DataFrame,
        *,
        coalesce: int | None = None,
        sort_cols: list[str] | None = None,
        partition_by: list[str] | None = None,
        max_records: int = 4_000_000,
    ) -> str:
        """Materialize a rewrite into a sibling ``<name>.<hex>.tmp``
        staging dir (the write side of ``commit_swap``).  The write
        parallelism is size-aware, not hard-coded: ``sort_cols`` triggers
        a range repartition that AQE coalesces to a handful of tasks when
        the table is small and spreads over the shuffle-partition count
        when it is not (a ``coalesce(1)`` would funnel 100 TB-scale
        metadata through one task — only tiny fixed-size tables pass
        ``coalesce``); a caller that shaped the frame itself passes
        neither.  Sweeps staging dirs a crashed earlier swap left behind —
        their half-moved output is already invisible (unreferenced) and
        vacuum ages it out."""
        for t in glob.glob(f"{self.path}.*.tmp"):
            shutil.rmtree(t, ignore_errors=True)
        w = df
        if coalesce is not None:
            w = w.coalesce(coalesce)
        elif sort_cols:
            w = w.repartitionByRange(*sort_cols)
        tmp = f"{self.path}.{uuid.uuid4().hex[:8]}.tmp"
        writer = w.write.mode("overwrite").option("maxRecordsPerFile", max_records)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        return tmp

    def commit_swap(self, tmp: str, scope: set[str] | None) -> None:
        """Promote a staged rewrite: move ``tmp``'s parquet files into the
        live directory (fresh unique names — no listed path is ever
        touched), then atomically publish a manifest in which the fresh
        files replace the live files whose first path segment (the
        partition directory) is in ``scope`` (None = whole table).
        Replaced files are retired, not deleted — vacuum removes them
        after ``retire_grace_s`` so racing readers' snapshots stay whole."""
        with self.lock:
            files, retired = self.load()
            p = self.path
            os.makedirs(p, exist_ok=True)
            moved: list[str] = []
            for rel in sorted(walk_parquet(tmp)):
                dst_rel = rel
                dst = os.path.join(p, dst_rel)
                if os.path.exists(dst):  # part names carry a per-job UUID;
                    d, b = os.path.split(rel)  # collisions are theoretical
                    dst_rel = os.path.join(d, f"{uuid.uuid4().hex[:8]}-{b}")
                    dst = os.path.join(p, dst_rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(os.path.join(tmp, rel), dst)
                moved.append(dst_rel)
            shutil.rmtree(tmp, ignore_errors=True)
            now = time.time_ns()

            def _in_scope(rel: str) -> bool:
                return scope is None or rel.split(os.sep, 1)[0] in scope

            _maybe_crash(f"swap_precommit_{self.name}")
            keep = [f for f in files if not _in_scope(f)]
            for f in files:
                if _in_scope(f):
                    retired[f] = now
            self.save(set(keep) | set(moved), retired)
            self.vacuum()

    def vacuum(self) -> None:
        """Reap (a) retired files whose grace elapsed AND no registered
        in-process read snapshot still references (see RETIRE_GRACE_S)
        and (b) unreferenced crash orphans older than the grace
        (half-moved swap output, files of an append whose manifest commit
        never ran — both invisible to every reader by construction), then
        drop emptied partition dirs.  Runs at the end of every commit;
        O(files) metadata, no data."""
        with self.lock:
            files, retired = self.load()
            p = self.path
            now = time.time_ns()
            grace_ns = int(self.retire_grace_s * 1e9)
            pinned = _snapshot_referenced(self.root, self.name)
            gone = [
                f
                for f, ts in retired.items()
                if now - int(ts) >= grace_ns and f not in pinned
            ]
            for f in gone:
                try:
                    os.remove(os.path.join(p, f))
                except OSError:
                    pass
                retired.pop(f, None)
            live = set(files)
            for rel in walk_parquet(p):
                if rel in live or rel in retired:
                    continue
                fp = os.path.join(p, rel)
                try:
                    if now - os.stat(fp).st_mtime_ns >= grace_ns:
                        os.remove(fp)
                except OSError:
                    pass
            if gone:
                self.save(files, retired)
            # drop directories the reaping emptied (pure listing hygiene —
            # readers never list directories on the manifest path)
            for r, dirs, fs in os.walk(p, topdown=False):
                if r != p and not dirs and not fs:
                    try:
                        os.rmdir(r)
                    except OSError:
                        pass
