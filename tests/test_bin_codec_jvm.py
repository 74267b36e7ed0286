"""The shipping binary-envelope pair vs its Python kernels (the executable spec).

The binary envelope (Events.scala:14-36 scodec layout) is encoded by the
pure-expression form ``events_bin_encode_expr`` (JVM-side) and decoded by
``decode_kafka_to_actions`` through the Arrow pandas UDF over
``unpack_events_binary``; the kernels ``pack_events_binary`` /
``unpack_events_binary`` are golden-pinned against reference bytes in
test_golden_wire_compat.py.  These tests hold the encoder bit-for-bit equal
to ``pack_events_binary`` on a randomized structure sweep, and pin the
decoder's corruption contract on the path that ships: a blob the kernel
rejects must yield a NULL envelope on its row, never a failed task.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_journal_spark import codecs as C

EVENTS_DF_SCHEMA = T.StructType(
    [
        T.StructField("i", T.IntegerType()),
        T.StructField("events", T.ArrayType(C.EVENT_BIN_STRUCT)),
        T.StructField("metadata", T.StringType()),
        T.StructField("pybytes", T.BinaryType()),
    ]
)


def _random_case(rng: random.Random):
    """One randomized (events, metadata) batch covering every layout arm."""
    n = rng.randint(1, 5)
    events = []
    for k in range(n):
        ptype = rng.choice(["binary", "json", "text", None])
        payload = (
            None
            if ptype is None and rng.random() < 0.5
            else bytes(rng.getrandbits(8) for _ in range(rng.randint(0, 40)))
        )
        if payload is None:
            ptype = None
        tags = [
            rng.choice(["", "a", "tag-β", "日本語", "x" * 30])
            for _ in range(rng.randint(0, 4))
        ]
        events.append(
            {
                "seqNr": rng.choice([k + 1, 0, -5, 2**62, rng.getrandbits(40)]),
                "tags": tags,
                "payloadType": ptype,
                "payload": payload,
            }
        )
    metadata = rng.choice(["{}", "", '{"expireAfter":"7 seconds"}', '{"k":"ü"}'])
    return events, metadata


def _build_df(spark, cases):
    rows = []
    for i, (evs, md) in enumerate(cases):
        py = C.pack_events_binary([dict(e) for e in evs], md)
        rows.append((i, [tuple(e[f] for f in ("seqNr", "tags", "payloadType", "payload")) for e in evs], md, py))
    return spark.createDataFrame(rows, EVENTS_DF_SCHEMA)


def _decode_blobs(spark, blobs):
    """Each blob as the value of a binary-header append, decoded by the
    shipping ``decode_kafka_to_actions``; rows keyed by offset (= index)."""
    header = (
        b'{"append":{"range":{"from":1,"to":1},"origin":"o","version":"1",'
        b'"payloadType":"binary"}}'
    )
    kafka_df = spark.createDataFrame(
        [
            ("journal", 0, i, f"k{i}".encode(), b, [(C.KAFKA_HEADER_KEY, header)], None)
            for i, b in enumerate(blobs)
        ],
        "topic string, partition int, offset long, key binary, value binary, "
        "headers array<struct<key:string,value:binary>>, timestamp timestamp",
    )
    rows = {r.offset: r for r in C.decode_kafka_to_actions(kafka_df).collect()}
    assert sorted(rows) == list(range(len(blobs)))
    return rows


def test_encode_byte_parity_random(spark):
    rng = random.Random(0xC0DEC)
    cases = [_random_case(rng) for _ in range(60)]
    df = _build_df(spark, cases)
    out = df.select(
        "i",
        "pybytes",
        C.events_bin_encode_expr(F.col("events"), F.col("metadata")).alias("jvm"),
    ).collect()
    for r in out:
        assert bytes(r.jvm) == bytes(r.pybytes), f"case {r.i}"


def test_decode_version0_and_legacy_prefixes(spark):
    """choice(version1, version0, default) fallbacks (Events.scala:21-30):
    0x00 => events, '{}' metadata; any other byte => legacy skip-one."""
    body = C.pack_events_binary([{"seqNr": 3, "tags": ["t"], "payloadType": "text", "payload": b"p"}], "IGNORED")
    v0 = b"\x00" + body[1 : body.index(b"IGNORED")]
    legacy = b"\x7f" + body[1 : body.index(b"IGNORED")]
    rows = _decode_blobs(spark, [v0, legacy])
    for i, blob in enumerate((v0, legacy)):
        py = C.unpack_events_binary(blob)
        assert [bytes(p) for p in rows[i].payloads_bin] == [bytes(e["payload"]) for e in py["events"]] == [b"p"]
        assert rows[i].tags_list == [e["tags"] for e in py["events"]] == [["t"]]
        assert rows[i].metadata == py["metadata"] == "{}"


def test_decode_corrupt_blobs_null_not_crash(spark):
    """The standing probe: corrupt/foreign blobs are tolerated per-row.
    Every binary append comes back as a row (no task failure); a blob the
    kernel rejects leaves payloads_bin/metadata NULL, and an accepted one
    decodes to exactly the kernel's output."""
    rng = random.Random(0xBAD)
    blobs = [
        None,
        b"",
        b"\x00",
        b"\x01\x00\x00",
        b"\x01\x00\x00\x00\x05" + b"\x00" * 4,  # claims 5 events, has none
        b"\x01\x00\x00\x00\x01\x00\x00\x00\x11" + b"\x00" * 17 + b"\xff\xfe",  # bad utf8 tail
        b"\x01\xff\xff\xff\xff",  # negative count
    ] + [bytes(rng.getrandbits(8) for _ in range(rng.randint(1, 64))) for _ in range(40)]
    rows = _decode_blobs(spark, blobs)
    for i, blob in enumerate(blobs):
        r = rows[i]
        assert (r.action_type, r.payload_type) == ("append", "binary"), i
        try:
            py = C.unpack_events_binary(blob)
        except Exception:
            py = None
        if py is None:
            assert r.payloads_bin is None and r.metadata is None, i
            continue
        want = [bytes(e["payload"]) if e["payload"] is not None else None for e in py["events"]]
        got = [bytes(p) if p is not None else None for p in r.payloads_bin]
        assert got == want, i
        assert r.tags_list == [e["tags"] for e in py["events"]], i
        assert r.metadata == py["metadata"], i
