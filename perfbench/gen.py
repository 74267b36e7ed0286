"""Seeded input generator for the journal benchmark.

Builds an action log (the rows of ``kafka_journal_spark.api.ACTIONS_LOG_DDL``)
from a seed and a handful of knobs, and replays it through
``folds.JournalModel`` so every generated log comes with its expected end
state.  The program under test only ever sees the generated rows.

Knobs (``GenSpec``):

- ``n_keys`` / ``zipf_s``: key population and the Zipf exponent of key
  popularity (rank r drawn with weight ``1 / r**zipf_s``);
- ``mix``: relative weights of append / delete / purge / mark;
- ``events_per_append``: inclusive (lo, hi) event count of one append;
- ``payload_bytes``: size of one event payload;
- ``binary_share``: share of appends that carry binary payloads;
- ``redelivery_share``: share of records delivered a second time (same
  topic, partition and offset) in the same batch.
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
import random
import string
from dataclasses import asdict, dataclass, field

import pyarrow as pa

from kafka_journal_spark.folds import ActionRec, JournalModel

N_PARTITIONS = 8  # kafka_journal_spark.api.N_PARTITIONS
TOPIC = "bench"
EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

#: ``kafka_journal_spark.api.ACTIONS_LOG_DDL`` as an Arrow schema
LOG_SCHEMA = pa.schema([
    ("topic", pa.string()), ("partition", pa.int32()), ("offset", pa.int64()),
    ("id", pa.string()), ("action_type", pa.string()),
    ("timestamp", pa.timestamp("us", tz="UTC")), ("origin", pa.string()),
    ("version", pa.string()), ("seq_nr_from", pa.int64()), ("seq_nr_to", pa.int64()),
    ("payload_type", pa.string()), ("payload", pa.string()),
    ("payloads", pa.list_(pa.string())), ("payloads_bin", pa.list_(pa.binary())),
    ("headers", pa.map_(pa.string(), pa.string())), ("tags", pa.list_(pa.string())),
    ("delete_to", pa.int64()), ("mark_id", pa.string()), ("expire_after_secs", pa.int64()),
])

@dataclass(frozen=True)
class GenSpec:
    n_keys: int
    zipf_s: float
    mix: tuple[float, float, float, float]  # append, delete, purge, mark
    events_per_append: tuple[int, int]
    payload_bytes: int
    binary_share: float
    redelivery_share: float

    def as_dict(self) -> dict:
        return {
            "n_keys": self.n_keys,
            "zipf_s": self.zipf_s,
            "mix": dict(zip(("append", "delete", "purge", "mark"), self.mix)),
            "events_per_append": list(self.events_per_append),
            "payload_bytes": self.payload_bytes,
            "binary_share": self.binary_share,
            "redelivery_share": self.redelivery_share,
        }


def partition_of(key: str) -> int:
    """The client's keyed-produce partition (``JournalClient._partition``)."""
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % N_PARTITIONS


class ZipfKeys:
    """Seeded Zipf sampler over ``k00000 .. k<n-1>``; ranks are shuffled
    so popularity is independent of the key's hash bucket."""

    def __init__(self, rng: random.Random, n: int, s: float):
        self.keys = [f"k{i:05d}" for i in range(n)]
        rng.shuffle(self.keys)
        acc, self._cum = 0.0, []
        for r in range(1, n + 1):
            acc += 1.0 / r**s
            self._cum.append(acc)
        self._rng = rng

    def ranked(self, rank: int) -> str:
        """The key of popularity ``rank`` (1 is the most popular)."""
        return self.keys[rank - 1]

    def draw(self) -> str:
        x = self._rng.random() * self._cum[-1]
        return self.keys[bisect.bisect_left(self._cum, x)]


def _to_rec(row: dict) -> ActionRec:
    payloads = row["payloads_bin"] if row["payload_type"] == "binary" else row["payloads"]
    return ActionRec(
        row["action_type"],
        row["offset"],
        row["seq_nr_from"],
        row["seq_nr_to"],
        row["delete_to"],
        tuple(payloads or ()),
    )


@dataclass
class Journal:
    """A generated log plus the model state it must replicate to."""

    spec: GenSpec
    seed: int
    models: dict[str, JournalModel] = field(default_factory=dict)
    next_offset: int = 0

    def __post_init__(self):
        self.rng = random.Random(self.seed)
        self.keys = ZipfKeys(self.rng, self.spec.n_keys, self.spec.zipf_s)

    def model(self, key: str) -> JournalModel:
        return self.models.setdefault(key, JournalModel())

    def _payloads(self, n: int, binary: bool, seq_from: int, key: str) -> list:
        size = self.spec.payload_bytes
        if binary:
            return [self.rng.randbytes(size) for _ in range(n)]
        head = f"{key}:{seq_from}:"
        fill = "".join(self.rng.choices(string.ascii_letters, k=max(0, size - len(head))))
        return [f"{head}{i}{fill}"[:size] for i in range(n)]

    def _row(self, key: str, kind: str, **kw) -> dict:
        off = self.next_offset
        self.next_offset += 1
        row = {
            "topic": TOPIC, "partition": partition_of(key), "offset": off,
            "id": key, "action_type": kind,
            "timestamp": EPOCH + dt.timedelta(milliseconds=off),
            "origin": "perfbench", "version": "1.0",
            "seq_nr_from": None, "seq_nr_to": None, "payload_type": None,
            "payload": None, "payloads": None, "payloads_bin": None,
            "headers": None, "tags": None, "delete_to": None, "mark_id": None,
            "expire_after_secs": None,
        }
        row.update(kw)
        return row

    def append_row(self, key: str) -> dict:
        """The append a client would produce next for ``key``."""
        n = self.rng.randint(*self.spec.events_per_append)
        binary = self.rng.random() < self.spec.binary_share
        first = (self.model(key).pointer() or 0) + 1
        payloads = self._payloads(n, binary, first, key)
        return self._row(
            key, "append",
            seq_nr_from=first, seq_nr_to=first + n - 1,
            payload_type="binary" if binary else "text",
            payload=None if binary else payloads[0],
            payloads=None if binary else payloads,
            payloads_bin=payloads if binary else None,
            tags=["t%d" % (first % 3)],
        )

    def next_row(self) -> dict:
        """Draw one action: Zipf key, mixed kind; deletes and purges only
        target live journals (as ``JournalClient`` would produce them)."""
        key = self.keys.draw()
        kind = self.rng.choices(("append", "delete", "purge", "mark"), self.spec.mix)[0]
        ptr = self.model(key).pointer()
        if kind in ("delete", "purge") and not ptr:
            kind = "append"
        if kind == "append":
            return self.append_row(key)
        if kind == "delete":
            return self._row(key, "delete", delete_to=self.rng.randint(1, ptr))
        if kind == "purge":
            return self._row(key, "purge")
        return self._row(key, "mark", mark_id=f"m{self.next_offset}")

    def add(self, row: dict) -> dict:
        """Record ``row`` as produced: apply it to its key's model."""
        self.model(row["id"]).apply(_to_rec(row))
        return row

    def generate(self, n: int) -> list[dict]:
        return [self.add(self.next_row()) for _ in range(n)]

    def redeliver(self, rows: list[dict]) -> list[dict]:
        """A seeded ``redelivery_share`` of ``rows`` delivered a second
        time: copies with the same topic, partition and offset, which the
        replicator's in-batch offset dedup must drop."""
        k = round(self.spec.redelivery_share * len(rows))
        return [dict(r) for r in self.rng.sample(rows, k)]


def replay(rows: list[dict]) -> dict[str, JournalModel]:
    """Model state per key after applying ``rows`` in offset order."""
    models: dict[str, JournalModel] = {}
    for r in sorted(rows, key=lambda r: r["offset"]):
        models.setdefault(r["id"], JournalModel()).apply(_to_rec(r))
    return models


def max_offsets(rows: list[dict]) -> dict[tuple[str, int], int]:
    """The pointer each (topic, partition) must reach after ``rows``."""
    out: dict[tuple[str, int], int] = {}
    for r in rows:
        k = (r["topic"], r["partition"])
        out[k] = max(out.get(k, -1), r["offset"])
    return out


def payload_bytes(row: dict) -> int:
    """User payload bytes an action carries."""
    if row["payloads_bin"]:
        return sum(len(p) for p in row["payloads_bin"])
    return sum(len(p.encode()) for p in row["payloads"] or ())


# -- operator-pipeline inputs ------------------------------------------------

#: vocabulary of the generated documents (short technical words, so word
#: shingles repeat across documents as in the sf0.01 testdata corpus)
VOCAB = (
    "a the join hash row batch scan customer column filter small slow merge "
    "order vector line data table agg value key stream window spark group "
    "part big sort query fast"
).split()
LANGS = (("en", 0.44), ("zh", 0.14), ("de", 0.14), ("fr", 0.14), ("es", 0.14))
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


@dataclass(frozen=True)
class TableSpec:
    """Row counts of the operator-pipeline tables, plus the share of
    documents that are a near-duplicate (an earlier text plus ``dup``)."""

    events: int
    users: int
    lineitem: int
    documents: int
    embeddings: int
    dim: int
    near_dup_share: float

    def as_dict(self) -> dict:
        return asdict(self)


def pipeline_tables(spec: TableSpec, seed: int) -> dict[str, pa.Table]:
    """The ``events``, ``lineitem``, ``documents`` and ``embeddings``
    tables the operator-pipeline queries read, in the schemas of the
    testdata tables (TESTDATA.md)."""
    import numpy as np

    g = np.random.default_rng(seed)
    n = spec.events
    t0 = int(dt.datetime(2024, 1, 1).timestamp() * 1_000_000)
    ts = np.sort(g.integers(0, 30 * 86_400_000_000, n)) + t0
    events = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, spec.users, n), pa.int64()),
        "event_type": pa.array(g.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(g.uniform(0.01, 500.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in g.integers(0, 100, n)]),
    })

    n = spec.lineitem
    qty = g.integers(1, 51, n).astype(float)
    day0 = int(dt.datetime(1995, 1, 2).timestamp() * 1_000_000)
    lineitem = pa.table({
        "l_orderkey": pa.array(g.integers(1, n // 4 + 1, n), pa.int64()),
        "l_partkey": pa.array(g.integers(1, 2001, n), pa.int64()),
        "l_suppkey": pa.array(g.integers(1, 101, n), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * g.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(g.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(g.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(g.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(g.choice(["O", "F"], n)),
        "l_shipdate": pa.array(day0 + g.integers(0, 2500, n) * 86_400_000_000, pa.timestamp("us")),
    })

    texts: list[str] = []
    for i in range(spec.documents):
        if texts and g.random() < spec.near_dup_share:
            texts.append(texts[int(g.integers(0, len(texts)))] + " dup")
        else:
            texts.append(" ".join(g.choice(VOCAB, int(g.integers(8, 90)))))
    langs, weights = zip(*LANGS)
    documents = pa.table({
        "doc_id": pa.array(np.arange(spec.documents), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(g.choice(langs, spec.documents, p=weights)),
        "source": pa.array([f"src{i % 20}" for i in range(spec.documents)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    vecs = g.standard_normal((spec.embeddings, spec.dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(spec.embeddings), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, spec.embeddings), pa.int32()),
    })
    return {"events": events, "lineitem": lineitem, "documents": documents,
            "embeddings": embeddings}
