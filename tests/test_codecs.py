"""Codec tests: golden wire-format fixtures (byte-for-byte pinning, the
reference's EventsToBytesSpec / ActionHeaderJsonSpec strategy) and
encode->decode round-trips."""

from __future__ import annotations

from conftest import append, delete, make_actions, mark, purge
from pyspark.sql import functions as F

from kafka_journal_spark.codecs import (
    KAFKA_HEADER_KEY,
    decode_kafka_to_actions,
    encode_actions_to_kafka,
)


def _headers_map(row):
    return {h["key"]: bytes(h["value"]).decode() for h in row.headers}


def test_golden_header_json(spark):
    df = make_actions(
        spark,
        [append("a", 1), delete("a", 1), purge("a"), mark("a")],
    )
    enc = encode_actions_to_kafka(df).orderBy("offset").collect()
    golden = [
        '{"append":{"range":{"from":1,"to":1},"origin":"src-0","version":"1.0","payloadType":"text"}}',
        '{"delete":{"to":1,"origin":"src-0","version":"1.0"}}',
        '{"purge":{"origin":"src-0","version":"1.0"}}',
        '{"mark":{"id":"m","origin":"src-0","version":"1.0"}}',
    ]
    assert [_headers_map(r)[KAFKA_HEADER_KEY] for r in enc] == golden


def test_golden_events_blob(spark):
    df = make_actions(spark, [append("a", 1)])
    [r] = encode_actions_to_kafka(df).collect()
    assert (
        bytes(r.value).decode()
        == '{"events":[{"seqNr":1,"tags":[],"payloadType":"text","payload":"p1"}],"metadata":{}}'
    )


def test_roundtrip_preserves_actions(spark):
    actions = make_actions(
        spark,
        [
            append("a", 1),
            append("b", 1),
            delete("a", 1),
            purge("b"),
            mark("a"),
            append("a", 2),
        ],
    )
    decoded = decode_kafka_to_actions(encode_actions_to_kafka(actions))
    cols = [
        "topic", "partition", "offset", "id", "action_type", "timestamp",
        "origin", "version", "seq_nr_from", "seq_nr_to", "payload_type",
        "payload", "delete_to", "mark_id",
    ]
    orig = sorted(tuple(r) for r in actions.select(*cols).collect())
    got = sorted(tuple(r) for r in decoded.select(*cols).collect())
    assert got == orig


def test_value_blob_absent_for_control_records(spark):
    df = make_actions(spark, [delete("a", 1, offset=5), purge("a"), mark("a")])
    # a delete on absent journal would be dropped by the generator; here we
    # encode directly: control records carry no value blob
    enc = encode_actions_to_kafka(df).collect()
    assert all(r.value is None for r in enc)


# ------------------- binary envelope (Events.scala:14-36) -------------------


def test_golden_binary_envelope():
    # byte-for-byte pin of the version-1 envelope: [01][N][size][event][meta]
    # event = int64 seqNr, int32-sized utf8_32 tags block, uint8 payload
    # discriminator, int32-sized payload (Event.scala:13-37, Tags.scala:9-12)
    from kafka_journal_spark.codecs import pack_events_binary

    buf = pack_events_binary(
        [{"seqNr": 1, "tags": ["click"], "payloadType": "binary", "payload": b"\x00\x01\xff"}]
    )
    assert buf.hex() == (
        "01"  # version
        "00000001"  # 1 event
        "0000001d"  # event size = 29
        "0000000000000001"  # seqNr
        "00000009" + "00000005" + "click".encode().hex()  # tags block
        + "01"  # discriminator: binary
        "00000003" + "0001ff"  # payload
        "7b7d"  # metadata "{}"
    )


def test_binary_envelope_roundtrip_kernel():
    from kafka_journal_spark.codecs import pack_events_binary, unpack_events_binary

    events = [
        {"seqNr": 3, "tags": ["a", "b"], "payloadType": "binary", "payload": b"\xde\xad"},
        {"seqNr": 4, "tags": [], "payloadType": "text", "payload": "hello"},
        {"seqNr": 5, "tags": ["x"], "payloadType": None, "payload": None},
    ]
    out = unpack_events_binary(pack_events_binary(events, '{"expireAfter":60}'))
    assert out["metadata"] == '{"expireAfter":60}'
    got = out["events"]
    assert [e["seqNr"] for e in got] == [3, 4, 5]
    assert [e["tags"] for e in got] == [["a", "b"], [], ["x"]]
    assert got[0]["payload"] == b"\xde\xad"
    assert got[1]["payload"] == b"hello" and got[1]["payloadType"] == "text"
    assert got[2]["payload"] is None and got[2]["payloadType"] is None


def test_binary_envelope_legacy_variants():
    # decode fallback parity with codecs.choice(version1, version0, default)
    from kafka_journal_spark.codecs import pack_events_binary, unpack_events_binary

    v1 = pack_events_binary([{"seqNr": 1, "tags": [], "payloadType": "binary", "payload": b"z"}])
    body = v1[1 : len(v1) - 2]  # strip version byte and "{}" metadata
    assert unpack_events_binary(b"\x00" + body)["events"][0]["seqNr"] == 1  # version0
    assert unpack_events_binary(b"\x7f" + body)["events"][0]["seqNr"] == 1  # default
    assert unpack_events_binary(None) is None
    assert unpack_events_binary(b"") is None


def test_binary_roundtrip_dataframe(spark):
    # appends carry non-UTF8 binary payloads through the envelope; control
    # records are untouched
    acts = make_actions(
        spark, [append("a", 1), append("a", 2), delete("a", 1), mark("a")]
    )
    bin_acts = acts.withColumn(
        "payload_bin",
        F.when(F.col("action_type") == "append", F.unhex(F.md5("payload"))),
    ).withColumn(
        "payload_type",
        F.when(F.col("action_type") == "append", F.lit("binary")),
    )
    decoded = decode_kafka_to_actions(encode_actions_to_kafka(bin_acts))
    rows = {r.offset: r for r in decoded.collect()}
    orig = {r.offset: r for r in bin_acts.collect()}
    for off, r in orig.items():
        if r.action_type == "append":
            assert bytes(rows[off].payload_bin) == bytes(r.payload_bin), off
            assert rows[off].payload_type == "binary"
            assert rows[off].metadata == "{}"
        else:
            assert rows[off].payload_bin is None


def test_decode_carries_per_event_tags(spark):
    # a multi-event blob with heterogeneous tags must decode each event's own
    # tags (PayloadAndType.scala:49-120), not stamp events[0].tags batch-wide
    import json

    from kafka_journal_spark.operators.replicate import explode_events

    value = json.dumps(
        {
            "events": [
                {"seqNr": 7, "tags": ["red"], "payloadType": "text", "payload": "p7"},
                {"seqNr": 8, "tags": ["blue", "bold"], "payloadType": "text", "payload": "p8"},
            ],
            "metadata": {},
        }
    ).encode()
    header = (
        b'{"append":{"range":{"from":7,"to":8},"origin":"o","version":"1",'
        b'"payloadType":"json"}}'
    )
    kafka_df = spark.createDataFrame(
        [("journal", 0, 10, b"a", value, [("journal.action", header)], None)],
        "topic string, partition int, offset long, key binary, value binary, "
        "headers array<struct<key:string,value:binary>>, timestamp timestamp",
    )
    decoded = decode_kafka_to_actions(kafka_df)
    [r] = decoded.collect()
    assert r.tags == ["red"]
    assert r.tags_list == [["red"], ["blue", "bold"]]
    events = {e.seq_nr: e.tags for e in explode_events(decoded).collect()}
    assert events == {7: ["red"], 8: ["blue", "bold"]}


def test_expiry_metadata_roundtrips_both_envelopes(spark):
    """PayloadMetadata.expireAfter rides the JSON document's metadata field
    and the binary envelope's metadata tail — a TTL set by the writer must
    survive the wire in both encodings (PayloadMetadata.scala:181)."""
    from pyspark.sql import functions as F

    from conftest import append, make_actions
    from kafka_journal_spark.codecs import (
        decode_kafka_to_actions,
        encode_actions_to_kafka,
    )

    acts = make_actions(
        spark, [append("a", 1), append("b", 1), append("c", 1)]
    ).withColumn(
        "expire_after_secs",
        F.when(F.col("id") == "a", F.lit(43_200))  # 12 h
        .when(F.col("id") == "b", F.lit(90_000))   # 25 h
        .cast("long"),
    )

    # JSON envelope
    rt = decode_kafka_to_actions(encode_actions_to_kafka(acts))
    got = {r.id: r.expire_after_secs for r in rt.collect()}
    assert got == {"a": 43_200, "b": 90_000, "c": None}

    # binary envelope (whole batch binary)
    bin_acts = acts.withColumn(
        "payload_bin", F.encode(F.col("payload"), "utf-8")
    ).withColumn("payload_type", F.lit("binary"))
    rtb = decode_kafka_to_actions(encode_actions_to_kafka(bin_acts))
    gotb = {r.id: r.expire_after_secs for r in rtb.collect()}
    assert gotb == {"a": 43_200, "b": 90_000, "c": None}


def test_binary_envelope_pack_unpack_property():
    """Property: pack ∘ unpack is identity for arbitrary event batches —
    seq_nrs, unicode tags, payload type/None, arbitrary payload bytes
    (incl. bytes that look like envelope headers), and metadata JSON."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kafka_journal_spark.codecs import pack_events_binary, unpack_events_binary

    event = st.fixed_dictionaries(
        {
            "seqNr": st.integers(min_value=1, max_value=2**62),
            "tags": st.lists(
                st.text(max_size=8), max_size=4
            ),
            "payloadType": st.sampled_from(["binary", "json", "text", None]),
            "payload": st.one_of(st.none(), st.binary(max_size=64)),
        }
    )
    meta = st.one_of(
        st.just("{}"),
        st.just('{"expireAfterMs":43200000}'),
        st.text(alphabet="abc{}:,0189", max_size=24).map(lambda s: s or "{}"),
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(event, min_size=1, max_size=5), meta)
    def check(events, metadata):
        buf = pack_events_binary(events, metadata)
        out = unpack_events_binary(buf)
        assert out is not None
        assert out["metadata"] == (metadata or "{}")
        assert len(out["events"]) == len(events)
        for e_in, e_out in zip(events, out["events"]):
            assert e_out["seqNr"] == e_in["seqNr"]
            assert e_out["tags"] == list(e_in["tags"])
            if e_in["payload"] is None:
                assert e_out["payload"] is None
            else:
                assert bytes(e_out["payload"]) == bytes(e_in["payload"])
                # None payloadType packs as the binary discriminator
                assert e_out["payloadType"] == (e_in["payloadType"] or "binary")

    check()


def test_json_only_envelope_decode_matches_full_dispatch(spark):
    """The r12 short-circuit: when encode_actions_to_kafka provably wrote
    no binary envelope (no payload_bin/payloads_bin column), the decoder
    skips the Arrow blob decoder (typed-NULL _blob_bin) — the decoded
    actions must be IDENTICAL to the full-dispatch path, including the
    degenerate row whose HEADER claims payloadType='binary' without a bin
    column (the Arrow kernel's corrupt-blob tolerance returns NULL for the
    JSON byte stream, which is exactly the short-circuit's literal)."""
    from conftest import append, delete, make_actions, purge
    from pyspark.sql import functions as F

    from kafka_journal_spark.codecs import (
        decode_kafka_to_actions,
        encode_actions_to_kafka,
    )

    acts = make_actions(
        spark,
        [
            append("a", 1),
            dict(append("a", 2), payload_type="json"),
            delete("a", 1),
            purge("b"),
            # the degenerate shape: header says binary, but the encoder
            # had no bin column and wrote the JSON document anyway
            dict(append("c", 1), payload_type="binary"),
        ],
    )
    enc = encode_actions_to_kafka(acts)
    assert getattr(enc, "_kjs_json_only_envelope", False)

    dec_fast = decode_kafka_to_actions(enc)
    assert "ArrowEvalPython" not in dec_fast._jdf.queryExecution().executedPlan().toString()

    enc_full = encode_actions_to_kafka(acts)
    del enc_full._kjs_json_only_envelope
    dec_full = decode_kafka_to_actions(enc_full)
    assert "ArrowEvalPython" in dec_full._jdf.queryExecution().executedPlan().toString()

    def rows(df):
        out = df.withColumn("tags", F.to_json("tags")).withColumn(
            "headers", F.to_json("headers")
        )
        return sorted(map(tuple, out.collect()))

    assert rows(dec_fast) == rows(dec_full)

    # and a frame carrying REAL binary envelopes must keep the full path
    bin_acts = acts.withColumn(
        "payload_bin",
        F.when(F.col("action_type") == "append", F.unhex(F.md5("payload"))),
    )
    enc_bin = encode_actions_to_kafka(bin_acts)
    assert not getattr(enc_bin, "_kjs_json_only_envelope", False)
