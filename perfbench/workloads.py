"""The benchmark's workloads.  Each drives the package only through its
public functions, in a closed loop with one client thread: the next call
is issued when the previous one returns.  How many timed calls a run makes
is fixed by ``--seconds`` alone (``timed_count``), and set-up ends with an
untimed warm-up of the calls the run times.

- ``client_mixed``: the online client path, ``api`` -> ``plans.recovery`` ->
  ``sources.statestore``, and the write path ``streaming.replicator`` ->
  ``sources.statestore``: a Zipf-keyed history (with redelivered copies)
  replicated during set-up, then cycles of pointer / read / append /
  pointer / read on one key each (a fixed popularity rank), so reads fold
  a growing un-replicated tail beside the replicated prefix and every
  append is read back; a traced run then closes with one
  ``JournalStore.compact()``.
- ``operator_pipeline``: the operator path of ``__spark_entry__``, with
  ``codecs`` through the wire round trip: one HEADLINE query per pipeline
  layer over seeded tables, collected once during set-up (the warm-up,
  whose rows are checked against each query's DuckDB oracle), then forced
  with ``noop`` writes.

A workload calls ``started()`` when set-up ends and returns a ``Result``;
every call goes through ``Result.call``, so an exception or a wrong
answer is counted as a failed attempt instead of aborting the run.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import proc

#: generator settings of client_mixed (summarised in BENCHMARK.json's
#: ``why``).  Where a value has a public source it is named; the rest are
#: assumptions, each there to reach one layer:
#:
#: - ``zipf_s=0.99``: YCSB's default request distribution (Cooper et al.,
#:   "Benchmarking Cloud Serving Systems with YCSB", SoCC 2010): a few hot
#:   journals beside a long tail, so the per-key fold sees both;
#: - ``n_keys=1000``: an assumption sized so the history replicates within
#:   the run budget while it touches most of the 256 metajournal bands;
#: - ``mix`` append/delete/purge/mark: an assumption.  The reference writes
#:   one mark per recovery read (its ``Journals.scala``), so marks stand for
#:   recoveries; deletes and purges are rarer so journals grow; every branch
#:   of the replicator's fold (delete window, purge window, marks) is hit;
#: - ``events_per_append=(1, 5)``: an assumption, well inside the
#:   reference's 100-event producer batch cap; it varies the seq ranges;
#: - ``payload_bytes=96``: an assumption (small JSON-sized events); it keeps
#:   per-row codec and parquet costs, not byte volume, in front;
#: - ``binary_share=0.2``: an assumption; it sends a share of appends
#:   through the binary payload columns beside the text ones;
#: - ``redelivery_share=0.03``: an assumption (at-least-once delivery after
#:   a consumer restart); it exercises the replicator's in-batch dedup.
CLIENT_SPEC = gen.GenSpec(
    n_keys=1000, zipf_s=0.99, mix=(0.8, 0.08, 0.02, 0.1),
    events_per_append=(1, 5), payload_bytes=96, binary_share=0.2,
    redelivery_share=0.03,
)
CLIENT_HISTORY = 500  # actions written and replicated during set-up
#: one cycle on one key: recover (pointer, read), append, recover again --
#: an Akka Persistence journal plugin recovers an entity with
#: asyncReadHighestSequenceNr and asyncReplayMessages before it persists;
#: the second recovery reads the append back
CLIENT_CYCLE = ("pointer", "read", "append", "pointer", "read")
CLIENT_CYCLE_S = 10  # nominal seconds of one timed cycle
#: the warm-up cycle works on the most popular key, timed cycle i on the
#: key of popularity rank CLIENT_FIRST_RANK + i: a fixed rank keeps the
#: history a cycle reads the same size from seed to seed
CLIENT_FIRST_RANK = 2

#: table sizes and near-duplicate share of the sf0.01 testdata (TESTDATA.md)
PIPELINE_TABLES = gen.TableSpec(
    events=10000, users=150, lineitem=60000, documents=500, embeddings=500,
    dim=64, near_dup_share=0.05,
)
#: pipeline layer -> the HEADLINE query (bench.py) of the module it runs
PIPELINE_QUERIES = {
    "codecs": "j_wire_roundtrip",
    "journal": "j_read",
    "analytics": "q1",
    "dedup": "d_minhash_lsh",
    "text": "d_pii_scrub",
    "similarity": "e_cosine_topk",
    "multimodal": "m_wav_decode",
}
PIPELINE_PASS_S = 4  # nominal seconds of one timed pass over the queries


def timed_count(seconds: float, nominal_s: float) -> int:
    """How many timed units a run makes: fixed by ``--seconds`` alone, so
    the count never depends on how fast the program is."""
    return max(1, round(seconds / nominal_s))


def quiet(tracer):
    """Suspend span recording (set-up calls) in a traced run."""
    return tracer.paused() if tracer is not None else contextlib.nullcontext()


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    mismatches: list = field(default_factory=list)
    lat: dict = field(default_factory=dict)  # kind -> [seconds] of good calls
    cpu: dict = field(default_factory=dict)  # kind -> [CPU seconds] of good calls, JIT excluded
    jit: dict = field(default_factory=dict)  # kind -> [JIT compiler CPU seconds] of good calls
    counters: dict = field(default_factory=dict)
    window_s: float = 0.0
    user_bytes: int = 0
    inputs: dict = field(default_factory=dict)  # generator settings used
    phases: dict = field(default_factory=dict)  # set-up phase -> seconds
    done: dict = field(default_factory=dict)  # kind -> calls that passed their check
    _last: float = field(default_factory=time.perf_counter)

    def mark(self, phase: str) -> None:
        """Close a set-up phase: record the time since the previous mark."""
        now = time.perf_counter()
        self.phases[phase] = now - self._last
        self._last = now

    def call(self, kind: str, fn, check=None, tracer=None, timed=True):
        """Run ``fn()``; a raise, or ``check(result)`` returning an error
        string, counts the call as failed.  A timed call's wall and CPU
        seconds are recorded (and, traced, it is the root span
        ``op.<kind>``); a set-up call is only checked.  Returns (ok, result)."""
        self.attempted += 1
        c0, j0 = proc.cpu_s(), proc.jit_ticks()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = fn()
            else:
                with tracer.span(f"op.{kind}"):
                    out = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return False, None
        dt = time.perf_counter() - t0
        jit = proc.jit_s_since(j0)
        dc = proc.cpu_s() - c0 - jit
        err = check(out) if check else None
        if err:
            self.failed += 1
            self.mismatches.append(f"{kind}: {err}")
            return False, out
        self.done[kind] = self.done.get(kind, 0) + 1
        if timed:
            self.lat.setdefault(kind, []).append(dt)
            self.cpu.setdefault(kind, []).append(dc)
            self.jit.setdefault(kind, []).append(jit)
        return True, out

    def mismatch(self, what: str, kinds=()) -> None:
        """Record a wrong output found outside the timed region; the calls
        of ``kinds`` whose results it checked count as failed."""
        self.mismatches.append(what)
        for k in kinds:
            self.failed += self.done.pop(k, 0)


def write_parquet(records: list[dict], schema: pa.Schema, path: str) -> None:
    """Write records as one parquet file (a producer's append to a log)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(records, schema=schema), path)


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    n = b = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(root, f))
    return n, b


def _payload(r) -> object:
    return r.payload_txt if r.payload_txt is not None else bytes(r.payload_bin)


def _check_store(store, models: dict, pointers: dict, res: Result) -> None:
    """Every key's replicated rows and head pointer must equal the model;
    ``pointers()`` must equal the max offset delivered per partition.  A
    wrong store fails every call that built it."""
    kinds = ("replicate", "compact")
    got: dict[str, list] = {}
    for r in store.read(topic=gen.TOPIC).select(
        "id", "seq_nr", "payload_txt", "payload_bin"
    ).collect():
        got.setdefault(r.id, []).append((r.seq_nr, _payload(r)))
    heads = {r.id: r.seq_nr for r in store.metajournal().select("id", "seq_nr").collect()}
    for key, m in models.items():
        if sorted(got.get(key, [])) != m.read():
            res.mismatch(f"read rows of {key}", kinds)
        if heads.get(key) != m.pointer():
            res.mismatch(f"pointer of {key}: {heads.get(key)} != {m.pointer()}", kinds)
    extra = set(got) - set(models)
    if extra:
        res.mismatch(f"rows for never-written keys {sorted(extra)[:3]}", kinds)
    ptrs = {(r.topic, r.partition): r.offset for r in store.pointers().collect()}
    if ptrs != pointers:
        res.mismatch("pointers() differ from the max delivered offset per partition", kinds)


class WriteProbe:
    """Traced-run-only counters of the write path, read outside the spans:
    files and bytes each replicate adds to the store (directory walk) and
    the share of delivered actions that pass the offset guard."""

    def __init__(self, root: str, store):
        self.root, self.store = root, store
        self.files: list[int] = []
        self.bytes: list[int] = []
        self.useful: list[float] = []

    def _snapshot(self) -> dict[str, int]:
        out = {}
        for root, _, files in os.walk(self.root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.path.getsize(p)
        return out

    def _pointers(self) -> dict:
        return {(r.topic, r.partition): r.offset for r in self.store.pointers().collect()}

    def before(self, rows: list[dict]) -> None:
        self._before = self._snapshot()
        ptr = self._pointers()
        fresh = {
            (r["topic"], r["partition"], r["offset"])
            for r in rows
            if r["offset"] > ptr.get((r["topic"], r["partition"]), -1)
        }
        self.useful.append(len(fresh) / len(rows))

    def after(self) -> None:
        now = self._snapshot()
        new = [p for p in now if p not in self._before]
        self.files.append(len(new))
        self.bytes.append(sum(now[p] for p in new))

    def summary(self, user_bytes: int) -> dict:
        return {
            "files_written": self.files,
            "bytes_written": self.bytes,
            "useful_ratio": self.useful,
            "write_amp": sum(self.bytes) / max(1, user_bytes),
        }


def store_state(store) -> dict:
    """Live files, un-folded metajournal delta files and journal
    compaction debt, from the store's own ``health()`` / ``meta_health()``
    (traced runs only, outside the timed region)."""
    h = store.health().collect()
    mh = store.meta_health().collect()
    return {
        "statestore.files_live": sum(r.n_files for r in h) + sum(r.n_files for r in mh),
        "statestore.meta_delta_files": sum(r.n_files for r in mh if r.dirty),
        "statestore.journal_debt_rows": sum(r.compaction_debt for r in h),
    }


def client_mixed(spark, work: str, seed: int, seconds: float, tracer, started) -> Result:
    from kafka_journal_spark.api import JournalClient

    n_timed = timed_count(seconds, CLIENT_CYCLE_S)
    res = Result(inputs={
        **CLIENT_SPEC.as_dict(), "history_actions": CLIENT_HISTORY,
        "cycle": list(CLIENT_CYCLE), "timed_cycles": n_timed,
        "first_rank": CLIENT_FIRST_RANK,
    })
    j = gen.Journal(CLIENT_SPEC, seed)
    client = JournalClient(spark, os.path.join(work, "client"))
    hist = j.generate(CLIENT_HISTORY)
    # the log as the replicator's consumer sees it: every record once, a
    # share of them twice (an at-least-once redelivery)
    delivered = sorted(hist + j.redeliver(hist), key=lambda r: r["offset"])
    write_parquet(delivered, gen.LOG_SCHEMA, os.path.join(client.log_path, "part-history.parquet"))
    res.mark("history_s")
    # the replicate of the history is the one replicator batch of this
    # workload: traced, its spans and write counters are the replicator's
    # and the store's write-side figures
    probe = WriteProbe(client.store.root, client.store) if tracer is not None else None
    if probe is None:
        res.call("replicate", client.replicate, timed=False)
    else:
        probe.before(delivered)
        with tracer.span("setup.replicate"):
            res.call("replicate", client.replicate, timed=False)
        probe.after()
    res.mark("prebuild_s")
    replicated_upto = j.next_offset
    tail_rows: list[int] = []

    def cycle(key: str, timed: bool) -> bool:
        """One recover / append / recover cycle on ``key``.  The second
        pointer and read check the append's seq range and payloads."""
        tr = tracer if timed else None
        for kind in CLIENT_CYCLE:
            if kind == "append":
                row = j.append_row(key)
                payloads = row["payloads_bin"] or row["payloads"]
                want = (row["partition"], row["offset"])
                ok, _ = res.call(
                    "append",
                    lambda: client.append(gen.TOPIC, key, payloads, tags=row["tags"]),
                    lambda got: None if tuple(got) == want else f"{key}: {got} != {want}",
                    tr, timed,
                )
                if not ok:
                    return False  # the log no longer matches the model
                j.add(row)
            elif kind == "read":
                want = j.model(key).read()
                if timed:
                    tail_rows.append(j.next_offset - replicated_upto)
                res.call(
                    "read", lambda: client.read(gen.TOPIC, key),
                    lambda got: None if got == want else f"rows of {key}", tr, timed,
                )
            else:
                want = j.model(key).pointer()
                res.call(
                    "pointer", lambda: client.pointer(gen.TOPIC, key),
                    lambda got: None if got == want else f"{key}: {got} != {want}", tr, timed,
                )
        return True

    # one untimed cycle warms the read, pointer and append paths
    with quiet(tracer):
        cycle(j.keys.ranked(1), timed=False)
    res.mark("warmup_s")
    started()
    t_start = time.perf_counter()
    for i in range(n_timed):
        if not cycle(j.keys.ranked(CLIENT_FIRST_RANK + i), timed=True):
            break
    res.window_s = time.perf_counter() - t_start
    if tracer is not None:
        # maintenance is measured in the traced run only: a closing
        # compact() would add 2-3 s to every end-to-end run
        res.call("compact", client.store.compact, tracer=tracer)
    res.counters["tail_rows"] = tail_rows
    res.counters["actions_produced"] = j.next_offset
    # the store holds the replicated history; appends stay in the log tail
    res.user_bytes = sum(gen.payload_bytes(r) for r in hist)
    res.counters["store_files"], res.counters["store_bytes"] = dir_bytes(client.store.root)
    if probe is not None:
        res.counters.update(probe.summary(res.user_bytes), **store_state(client.store))
    # verification of the replicated history, outside the timed region
    # and the spans: every key against the model replay, redelivered
    # copies dropped
    t0 = time.perf_counter()
    with quiet(tracer):
        _check_store(client.store, gen.replay(hist), gen.max_offsets(hist), res)
    res.phases["verify_s"] = time.perf_counter() - t0
    return res


def operator_pipeline(spark, work: str, seed: int, seconds: float, tracer, started) -> Result:
    import duckdb

    import __spark_entry__ as E
    from tools.check_correctness import _normalize

    n_timed = timed_count(seconds, PIPELINE_PASS_S)
    res = Result(inputs={
        **PIPELINE_TABLES.as_dict(), "queries": PIPELINE_QUERIES, "timed_passes": n_timed,
    })
    data = os.path.join(work, "data")
    os.makedirs(data)
    tables = gen.pipeline_tables(PIPELINE_TABLES, seed)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(data, f"{name}.parquet"))
    res.mark("generate_s")
    qs = {**E.queries(), **E.extra_queries()}

    def force(layer: str, name: str) -> None:
        """Build the query and force it with a ``noop`` write."""
        if tracer is None:
            qs[name](spark, data).write.format("noop").mode("overwrite").save()
            return
        with tracer.span(f"pipeline.{layer}.build"):
            df = qs[name](spark, data)
        with tracer.span(f"pipeline.{layer}.exec"):
            df.write.format("noop").mode("overwrite").save()

    def collect(name: str) -> tuple[list[str], list]:
        df = qs[name](spark, data)
        return df.columns, [tuple(r) for r in df.collect()]

    # one untimed pass warms the JVM, the codegen and the Python workers;
    # its rows are the ones checked against the oracles
    collected = {}
    with quiet(tracer):
        for name in PIPELINE_QUERIES.values():
            ok, out = res.call(name, lambda: collect(name), timed=False)
            if ok:
                collected[name] = out
    res.mark("warmup_s")
    started()
    t_start = time.perf_counter()
    passes = []
    for _ in range(n_timed):
        t0 = time.perf_counter()
        for layer, name in PIPELINE_QUERIES.items():
            res.call(name, lambda: force(layer, name), tracer=tracer)
        passes.append(time.perf_counter() - t0)
    res.window_s = time.perf_counter() - t_start
    res.counters["pass_s"] = passes

    # verification, outside the timed region: row count and normalised-row
    # hash of each query's warm-up rows against its DuckDB oracle
    t0 = time.perf_counter()
    oracles = {**E.oracle_sql(), **E.extra_oracle_sql()}
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(data, name + '.parquet')}'")
    checked = {}
    for name, (columns, rows) in collected.items():
        try:
            got = _normalize(rows, columns)
            cur = con.execute(oracles[name])
            cols = [d[0] for d in cur.description]
            want = _normalize(cur.fetchall(), cols)
        except Exception as ex:
            res.mismatch(f"{name}: {ex}", (name,))
            continue
        h_got, h_want = (hashlib.sha256(repr(x).encode()).hexdigest() for x in (got, want))
        checked[name] = {"rows": len(got), "hash": h_got[:16]}
        if sorted(columns) != sorted(cols):
            res.mismatch(f"{name}: columns {sorted(columns)} != {sorted(cols)}", (name,))
        elif len(got) != len(want) or h_got != h_want:
            res.mismatch(
                f"{name}: {len(got)} rows hash {h_got[:16]} != {len(want)} rows hash {h_want[:16]}",
                (name,),
            )
        elif not got:
            res.mismatch(f"{name}: no rows on either side", (name,))
    con.close()
    res.counters["checked"] = checked
    res.phases["verify_s"] = time.perf_counter() - t0
    return res


WORKLOADS = {
    "client_mixed": client_mixed,
    "operator_pipeline": operator_pipeline,
}
