"""Wire-format codecs: the Kafka record envelope shared by writer, reader
and replicator (SURVEY.md §2.6).

The reference serializes:
- the **action header** as JSON under the Kafka record-header key
  ``journal.action`` (``ActionHeader.scala:17``), a one-of wrapper
  ``{"append": {...}} | {"delete": {...}} | {"purge": {...}} | {"mark": {...}}``
  (``ActionHeader.scala:19-95``) — readable without touching the value blob
  ("Don't deserialize unrelated records", ``Notes for Next Developer.md:45``);
- the **events blob** as the record value: for text/JSON payloads a JSON
  document ``{"events": [{"seqNr": .., "tags": [..], "payloadType": ..,
  "payload": ..}], "metadata": {..}}`` (``PayloadAndType.scala:49-120``,
  ``Events.scala:131``).

We reproduce those JSON shapes with ``to_json``/``from_json`` — JVM-side,
no Python in the hot path.

For batches containing a **binary** payload the reference switches the whole
record value to a versioned scodec envelope (``KafkaWrite.scala:88-98``:
any binary event => ``eventsToBytes`` with ``PayloadType.Binary``).  That
format is implemented here bit-for-bit, with one implementation per
direction: ``events_bin_encode_expr`` packs it with Spark expressions
(JVM-side, the replicator's write path) and an Arrow-batched pandas UDF
unpacks it (the read path).  The pure-Python ``pack_events_binary`` /
``unpack_events_binary`` kernels are the executable spec; the decoder runs
``unpack_events_binary`` itself, so a blob it rejects decodes to NULL and
never fails the task.  The layout:

- ``Events.scala:14-36``: ``[version:byte=1][events][metadata]`` with decode
  fallback to version-0 (``0x00`` prefix) and the legacy headerless layout
  (any other first byte is skipped);
- events (``ScodecHelper.nelCodec`` over ``listOfN(int32,
  variableSizeBytes(int32, event))``): ``int32 N`` then per event
  ``int32 size`` + body;
- event body (``Event.scala:13-37``): ``int64 seqNr``;
  ``int32``-sized tags block of ``utf8_32`` strings (``Tags.scala:9-12``);
  ``uint8`` payload discriminator (0=none, 1=binary, 2=json, 3=text) and an
  ``int32``-sized payload region;
- metadata (``PayloadMetadata.scala:19-24`` via ``formatCodec`` =
  ``codecs.bytes``): the REST of the buffer as UTF-8 JSON (``{}`` when
  empty).

All integers are big-endian (scodec default).

``kafka_df`` here means the exact shape ``spark.read.format("kafka")``
produces: key/value binary, headers array<struct<key:string,value:binary>>,
topic/partition/offset/timestamp — so these codecs plug into a real broker
unchanged.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — needed to resolve pandas UDF type hints
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

KAFKA_HEADER_KEY = "journal.action"

# the one-of action header document (ActionHeader.scala:19-95)
ACTION_HEADER_SCHEMA = T.StructType(
    [
        T.StructField(
            "append",
            T.StructType(
                [
                    T.StructField(
                        "range",
                        T.StructType(
                            [
                                T.StructField("from", T.LongType()),
                                T.StructField("to", T.LongType()),
                            ]
                        ),
                    ),
                    T.StructField("origin", T.StringType()),
                    T.StructField("version", T.StringType()),
                    T.StructField("payloadType", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "delete",
            T.StructType(
                [
                    T.StructField("to", T.LongType()),
                    T.StructField("origin", T.StringType()),
                    T.StructField("version", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "purge",
            T.StructType(
                [
                    T.StructField("origin", T.StringType()),
                    T.StructField("version", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "mark",
            T.StructType(
                [
                    T.StructField("id", T.StringType()),
                    T.StructField("origin", T.StringType()),
                    T.StructField("version", T.StringType()),
                ]
            ),
        ),
    ]
)

# the events blob document (PayloadAndType.scala:49-120)
EVENTS_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField(
            "events",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("seqNr", T.LongType()),
                        T.StructField("tags", T.ArrayType(T.StringType())),
                        T.StructField("payloadType", T.StringType()),
                        T.StructField("payload", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "metadata",
            T.StructType(
                [
                    # the reference writes PayloadMetadata.expireAfter as a
                    # Scala FiniteDuration STRING ("1 day") and reads either
                    # that or a bare number of millis
                    # (PlayJsonHelper.scala:63-83 finiteDurationFormat);
                    # StringType captures both (from_json stringifies the
                    # numeric token), duration_to_secs() normalizes
                    T.StructField("expireAfter", T.StringType()),
                    # legacy tolerance: pre-r5 blobs of THIS engine carried
                    # millis under expireAfterMs
                    T.StructField("expireAfterMs", T.LongType()),
                ]
            ),
        ),
    ]
)


#: Scala FiniteDuration unit word -> seconds factor (Duration.toString long
#: forms plus the short forms Duration(...) itself accepts)
_DURATION_UNIT_SECS = [
    (("d", "day", "days"), 86400.0),
    (("h", "hour", "hours"), 3600.0),
    (("min", "minute", "minutes"), 60.0),
    (("s", "sec", "second", "seconds"), 1.0),
    (("ms", "milli", "millis", "millisecond", "milliseconds"), 1e-3),
    (("us", "µs", "micro", "micros", "microsecond", "microseconds"), 1e-6),
    (("ns", "nano", "nanos", "nanosecond", "nanoseconds"), 1e-9),
]


def duration_to_secs(col: Column) -> Column:
    """Whole seconds from the reference's ``expireAfter`` wire value —
    a ``FiniteDuration.toString`` string ("1 day", "43200 milliseconds")
    or a bare number meaning MILLIS (both sides of
    ``PlayJsonHelper.scala:63-83``).  Null in, null out; unknown unit →
    null (the reference would fail the read — we skip the TTL)."""
    raw = F.trim(col)
    # nullif guards ANSI cast: a non-matching extract yields '' not null
    num = F.nullif(
        F.regexp_extract(raw, r"^([0-9]+(?:\.[0-9]+)?)", 1), F.lit("")
    ).cast("double")
    unit = F.lower(F.regexp_extract(raw, r"^[0-9.]+\s*([A-Za-zµ]+)$", 1))
    factor = None
    for words, secs in _DURATION_UNIT_SECS:
        cond = unit.isin(*words)
        factor = F.when(cond, F.lit(secs)) if factor is None else factor.when(cond, F.lit(secs))
    return (
        F.when(raw.rlike(r"^[0-9]+$"), F.floor(raw.cast("double") / 1000))
        .otherwise(F.floor(num * factor))
        .cast("long")
    )


def duration_to_secs_sql(expr: str) -> str:
    """SQL-string twin of :func:`duration_to_secs` (r11: the Column form's
    unit CASE chain is ~25 py4j calls per use and decode uses it twice).
    Same tree; parity pinned in test_codecs.py over the wire fixtures.
    Regex literals are spelled with doubled backslashes — Spark SQL string
    literals process escapes by default."""
    raw = f"trim({expr})"
    num = (
        f"CAST(nullif(regexp_extract({raw}, "
        "'^([0-9]+(?:\\\\.[0-9]+)?)', 1), '') AS DOUBLE)"
    )
    unit = f"lower(regexp_extract({raw}, '^[0-9.]+\\\\s*([A-Za-zµ]+)$', 1))"
    branches = " ".join(
        f"WHEN {unit} IN ({', '.join(repr(w) for w in words)}) THEN {secs!r}"
        for words, secs in _DURATION_UNIT_SECS
    )
    factor = f"CASE {branches} END"
    return (
        f"CAST(CASE WHEN {raw} RLIKE '^[0-9]+$' "
        f"THEN FLOOR(CAST({raw} AS DOUBLE) / 1000) "
        f"ELSE FLOOR({num} * {factor}) END AS BIGINT)"
    )


def action_header_json(df: DataFrame) -> Column:
    """Encode action columns into the one-of header JSON (E3 forward).

    ONE ``to_json`` over a four-branch struct: ``to_json`` drops null fields
    (``ignoreNullFields`` default), so exactly the active branch appears —
    identical bytes to serializing each branch separately, with a quarter of
    the generated serializer code."""
    # SQL-string form (r11: ~35 py4j calls -> one parser call); the struct
    # field names and branch conditions are unchanged, so the emitted JSON
    # bytes are identical — pinned by the golden wire fixtures.
    return F.expr(
        "to_json(named_struct("
        "'append', CASE WHEN action_type = 'append' THEN named_struct("
        "'range', named_struct('from', seq_nr_from, 'to', seq_nr_to), "
        "'origin', origin, 'version', version, "
        "'payloadType', payload_type) END, "
        "'delete', CASE WHEN action_type = 'delete' THEN named_struct("
        "'to', delete_to, 'origin', origin, 'version', version) END, "
        "'purge', CASE WHEN action_type = 'purge' THEN named_struct("
        "'origin', origin, 'version', version) END, "
        "'mark', CASE WHEN NOT (action_type = 'append' OR "
        "action_type = 'delete' OR action_type = 'purge') THEN named_struct("
        "'id', mark_id, 'origin', origin, 'version', version) END))"
    )


def events_payload_json(df: DataFrame) -> Column:
    """Encode an append's events into the value-blob JSON (E1 forward).

    Works from either a ``payloads`` array (multi-event batch) or the single
    ``payload`` column; tags default to empty.
    """
    # SQL-string form (r11): same structs, same field names, same bytes —
    # golden-fixture-pinned like action_header_json above.
    tags = (
        "coalesce(tags, CAST(array() AS ARRAY<STRING>))"
        if "tags" in df.columns
        else "CAST(array() AS ARRAY<STRING>)"
    )
    if "payloads" in df.columns:
        events = (
            "zip_with(sequence(seq_nr_from, seq_nr_to), payloads, "
            f"(s, p) -> named_struct('seqNr', s, 'tags', {tags}, "
            "'payloadType', payload_type, 'payload', p))"
        )
    else:
        events = (
            f"array(named_struct('seqNr', seq_nr_from, 'tags', {tags}, "
            "'payloadType', payload_type, 'payload', payload))"
        )
    # PayloadMetadata rides the document (PayloadMetadata.scala:181
    # expireAfter): actions carrying a TTL serialize it; to_json drops the
    # null field for the rest, leaving the reference's empty {} metadata.
    # The wire value is a FiniteDuration STRING ("86400 seconds") — the
    # reference's own Writes emits Duration.toString and its Reads parses
    # any unit form back (PlayJsonHelper.scala:63-83); millis-as-number
    # would also be readable but the string matches the committed golden
    # fixtures' shape (Payload-text-many.json: "expireAfter": "1 day")
    expire_str = (
        "CASE WHEN expire_after_secs IS NOT NULL THEN "
        "concat(CAST(expire_after_secs AS STRING), ' seconds') END"
        if "expire_after_secs" in df.columns
        else "CAST(NULL AS STRING)"
    )
    return F.expr(
        f"to_json(named_struct('events', {events}, "
        f"'metadata', named_struct('expireAfter', {expire_str})))"
    )


# ---------------------------------------------------------------------------
# Binary envelope (Events.scala:14-36 versioned scodec codec): the Python
# kernels are the spec, then the one shipping pair — the expression encoder
# and the Arrow-batched decoder over the kernel
# ---------------------------------------------------------------------------

#: decoded shape of a binary events blob
EVENT_BIN_STRUCT = T.StructType(
    [
        T.StructField("seqNr", T.LongType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("payloadType", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)
EVENTS_BIN_SCHEMA = T.StructType(
    [
        T.StructField("events", T.ArrayType(EVENT_BIN_STRUCT)),
        T.StructField("metadata", T.StringType()),
    ]
)

#: Event.scala:25-35 payload discriminator (uint8)
_DISC_OF_TYPE = {"binary": 1, "json": 2, "text": 3}
_TYPE_OF_DISC = {1: "binary", 2: "json", 3: "text"}


def pack_events_binary(events: list[dict], metadata_json: str = "{}") -> bytes:
    """Pure-Python packer for the version-1 envelope (the golden-testable
    spec :func:`events_bin_encode_expr` is byte-pinned to).

    ``events``: dicts with ``seqNr`` (int), ``tags`` (list[str]),
    ``payloadType`` (binary|json|text|None), ``payload`` (bytes|str|None).
    """
    import struct as _s

    out = [b"\x01", _s.pack(">i", len(events))]
    for ev in events:
        body = bytearray()
        body += _s.pack(">q", int(ev["seqNr"]))
        tags_block = b"".join(
            _s.pack(">i", len(t.encode("utf-8"))) + t.encode("utf-8")
            for t in list(ev.get("tags") or [])
        )
        body += _s.pack(">i", len(tags_block)) + tags_block
        payload = ev.get("payload")
        if payload is None:
            # "even the None option is int32-size-prefixed" (Event.scala:28-31)
            body += _s.pack(">Bi", 0, 0)
        else:
            if isinstance(payload, str):
                payload = payload.encode("utf-8")
            disc = _DISC_OF_TYPE[ev.get("payloadType") or "binary"]
            body += _s.pack(">Bi", disc, len(payload)) + bytes(payload)
        out.append(_s.pack(">i", len(body)))
        out.append(bytes(body))
    out.append((metadata_json or "{}").encode("utf-8"))
    return b"".join(out)


def unpack_events_binary(buf: bytes | None) -> dict | None:
    """Decode any of the three envelope variants (``codecs.choice(version1,
    version0, default)``, Events.scala:21-30): first byte 1 => events +
    metadata-as-rest; 0 => events, empty metadata; anything else => the
    legacy layout that skips one byte (``codecs.ignore(ByteJ.SIZE)``)."""
    import struct as _s

    if buf is None or len(buf) < 5:
        return None
    version = buf[0]
    pos = 1
    (n,) = _s.unpack_from(">i", buf, pos)
    pos += 4
    if n < 0:
        # scodec's listOfN(int32, ...) fails on a negative count; treating
        # it as "no events" would fabricate an empty-but-valid row from a
        # corrupt blob
        raise ValueError(f"negative event count {n}")
    events = []
    for _ in range(n):
        (size,) = _s.unpack_from(">i", buf, pos)
        if size < 0:
            # all length prefixes are scodec variableSizeBytes(int32, ...) /
            # listOfN — negative is corrupt, and tolerating it here would
            # let the walk jump BACKWARD (pos = end < pos), re-parsing or
            # slicing at wild offsets instead of rejecting the blob
            raise ValueError(f"negative event size {size}")
        pos += 4
        end = pos + size
        (seq,) = _s.unpack_from(">q", buf, pos)
        pos += 8
        (tsize,) = _s.unpack_from(">i", buf, pos)
        if tsize < 0:
            raise ValueError(f"negative tags size {tsize}")
        pos += 4
        tend = pos + tsize
        tags = []
        while pos < tend:
            (tl,) = _s.unpack_from(">i", buf, pos)
            if tl < 0:
                raise ValueError(f"negative tag length {tl}")
            pos += 4
            tags.append(buf[pos : pos + tl].decode("utf-8"))
            pos += tl
        disc, psize = _s.unpack_from(">Bi", buf, pos)
        if psize < 0:
            raise ValueError(f"negative payload size {psize}")
        pos += 5
        payload = bytes(buf[pos : pos + psize])
        pos += psize
        ptype = _TYPE_OF_DISC.get(disc)
        events.append(
            {
                "seqNr": seq,
                "tags": tags,
                "payloadType": ptype,
                "payload": payload if ptype is not None else None,
            }
        )
        pos = end
    metadata = "{}"
    if version == 1 and pos < len(buf):
        metadata = buf[pos:].decode("utf-8") or "{}"
    return {"events": events, "metadata": metadata}


# -- The shipping pair: expression encoder, Arrow-batched decoder ------------
#
# The layout is fixed-width-prefixed everywhere (scodec's ``listOfN(int32,
# variableSizeBytes(int32, ...))``), so the encoder is Spark's binary
# built-ins — big-endian integers are ``to_binary(lpad(hex(x)))``,
# repetition is ``transform``/``aggregate`` — with no Python worker.  The
# decoder is a pandas UDF over :func:`unpack_events_binary`.  Alternatives
# measured and deleted (the last tree holding them is commit 39ec4b0):
#   - Arrow pandas-UDF encoder: 0.95 s vs 0.69 s warm, 3.2 vs 1.2 s cold
#     (sf0.1);
#   - pure-expression decoder: 31.8 s vs 1.4 s (sf0.1, 23x) — Catalyst has
#     no let-binding, so the size-prefix walk re-inlines into every
#     per-event reference;
#   - batch-vectorized numpy decoder: 33.0 s behind the same UDF and
#     40.0 s as a mapInArrow pass, vs 30.5 s (sf10 roundtrip, 9.9M 1-event
#     actions) — journal blobs are tiny, and mapInArrow ferries every
#     downstream column through the Python worker.

_B_EMPTY = bytes.fromhex("")


def _be(col: Column, hex_digits: int) -> Column:
    """Fixed-width big-endian binary of an integral column.

    ``hex_digits``: 2 => uint8, 8 => int32, 16 => int64.  ``hex`` of a
    NEGATIVE bigint always yields the full 16-digit two's complement, so
    the int64 form round-trips negatives exactly (``struct.pack('>q')``);
    narrower widths are only ever fed non-negative values (sizes, counts,
    discriminators) where ``lpad`` zero-extension is correct.
    """
    return F.to_binary(F.lpad(F.hex(col.cast("bigint")), hex_digits, "0"), F.lit("hex"))


def events_bin_encode_expr(events: Column, metadata: Column) -> Column:
    """Expression twin of :func:`pack_events_binary` (version-1 envelope).

    ``events``: ``array<struct<seqNr,tags,payloadType,payload>>``;
    ``metadata``: the PayloadMetadata JSON string (null/'' => ``{}``).
    NULL events / NULL-seqNr placeholders (non-append rows) are dropped and
    an empty batch encodes as NULL.
    """
    evs = F.filter(
        events, lambda e: e.isNotNull() & e["seqNr"].isNotNull()
    )
    # no let-binding in Spark SQL: stage per-event intermediates in a struct
    # so the tags block is built once, not once per reference
    parts = F.transform(
        evs,
        lambda e: F.struct(
            _be(e["seqNr"], 16).alias("seq"),
            F.aggregate(
                F.coalesce(e["tags"], F.array().cast("array<string>")),
                F.lit(_B_EMPTY),
                lambda acc, t: F.concat(
                    acc,
                    _be(F.octet_length(F.encode(t, "utf-8")), 8),
                    F.encode(t, "utf-8"),
                ),
            ).alias("tb"),
            F.when(
                e["payload"].isNull(), F.lit(bytes.fromhex("0000000000"))
            )
            .otherwise(
                F.concat(
                    _be(
                        F.when(e["payloadType"] == "json", F.lit(2))
                        .when(e["payloadType"] == "text", F.lit(3))
                        .otherwise(F.lit(1)),
                        2,
                    ),
                    _be(F.octet_length(e["payload"]), 8),
                    e["payload"],
                )
            )
            .alias("pb"),
        ),
    )
    bodies = F.transform(
        parts,
        lambda p: F.concat(p["seq"], _be(F.octet_length(p["tb"]), 8), p["tb"], p["pb"]),
    )
    envelope = F.concat(
        F.lit(bytes.fromhex("01")),
        _be(F.size(bodies), 8),
        F.aggregate(
            bodies,
            F.lit(_B_EMPTY),
            lambda acc, b: F.concat(acc, _be(F.octet_length(b), 8), b),
        ),
        F.encode(
            F.when(metadata.isNull() | (metadata == ""), F.lit("{}")).otherwise(
                metadata
            ),
            "utf-8",
        ),
    )
    return F.when(F.size(evs) > 0, envelope)


def _decode_events_bin_udf():
    """Arrow-batched decoder: envelope bytes -> struct<events, metadata>.

    One :func:`unpack_events_binary` call per row: a blob the kernel
    rejects decodes to NULL events and metadata, never a failed task."""
    import pandas as pd

    @F.pandas_udf(EVENTS_BIN_SCHEMA)
    def dec(value: pd.Series) -> pd.DataFrame:
        rows = []
        for v in value:
            try:
                rows.append(unpack_events_binary(v))
            except Exception:
                # corrupt/foreign blob: tolerate, never crash the scan
                rows.append(None)
        return pd.DataFrame(
            {
                "events": [r["events"] if r else None for r in rows],
                "metadata": [r["metadata"] if r else None for r in rows],
            }
        )

    return dec


def events_struct_binary(df: DataFrame) -> Column:
    """Build the array<struct> events column the binary encoder consumes.

    Positionally zips ``sequence(seq_nr_from, seq_nr_to)`` with the
    ``payloads_bin`` array when present (multi-event batches), else wraps the
    single ``payload_bin``.  Tags are batch-level (as in ``events_payload_json``).
    """
    tags = (
        F.coalesce(F.col("tags"), F.array().cast("array<string>"))
        if "tags" in df.columns
        else F.array().cast("array<string>")
    )
    if "payloads_bin" in df.columns:
        return F.zip_with(
            F.sequence("seq_nr_from", "seq_nr_to"),
            F.col("payloads_bin"),
            lambda s, p: F.struct(
                s.alias("seqNr"),
                tags.alias("tags"),
                F.col("payload_type").alias("payloadType"),
                p.alias("payload"),
            ),
        )
    return F.array(
        F.struct(
            F.col("seq_nr_from").alias("seqNr"),
            tags.alias("tags"),
            F.col("payload_type").alias("payloadType"),
            F.col("payload_bin").alias("payload"),
        )
    )


def encode_actions_to_kafka(actions: DataFrame) -> DataFrame:
    """actions -> Kafka-record-shaped DataFrame (S1 sink shape).

    key = journal id (keyed produce pins a key to one partition, exactly the
    reference's ordering guarantee), value = events blob (appends only),
    headers = [(journal.action, header JSON)].

    Appends whose ``payload_type`` is ``binary`` (and which carry a
    ``payload_bin``/``payloads_bin`` column) are encoded with the versioned
    scodec envelope instead of the JSON document — the reference's
    "any binary event => whole batch binary" rule (KafkaWrite.scala:88-98).
    """
    is_append = F.col("action_type") == "append"
    # per-record user headers (EventRecord.scala:65-82 ``headers: Headers``)
    # ride alongside the journal.action header as ordinary Kafka headers
    user_headers = (
        F.transform(
            F.map_entries(F.coalesce(F.col("headers"), F.create_map())),
            lambda e: F.struct(
                e["key"].alias("key"), e["value"].cast("binary").alias("value")
            ),
        )
        if "headers" in actions.columns
        else F.array().cast("array<struct<key:string,value:binary>>")
    )
    if "payload_bin" in actions.columns or "payloads_bin" in actions.columns:
        is_bin = is_append & (F.col("payload_type") == "binary")
        # the action's PayloadMetadata (e.g. expireAfter) rides the version-1
        # envelope tail — the reference serializes it, and the decoder
        # surfaces it, so hardcoding '{}' would make the codec asymmetric
        meta_parts = []
        if "metadata" in actions.columns:
            meta_parts.append(F.col("metadata"))
        if "expire_after_secs" in actions.columns:
            # synthesize PayloadMetadata for TTL-carrying actions without an
            # explicit metadata document
            meta_parts.append(
                F.when(
                    F.col("expire_after_secs").isNotNull(),
                    F.concat(
                        F.lit('{"expireAfter":"'),
                        F.col("expire_after_secs").cast("string"),
                        F.lit(' seconds"}'),
                    ),
                )
            )
        meta_col = F.coalesce(*meta_parts, F.lit("{}")) if meta_parts else F.lit("{}")
        bin_value = events_bin_encode_expr(events_struct_binary(actions), meta_col)
        value = F.when(is_bin, bin_value).when(
            is_append, events_payload_json(actions).cast("binary")
        )
    else:
        value = F.when(is_append, events_payload_json(actions).cast("binary"))
    out = actions.select(
        F.col("topic"),
        F.col("partition"),
        F.col("offset"),
        F.col("timestamp"),
        F.col("id").cast("binary").alias("key"),
        value.alias("value"),
        F.concat(
            F.array(
                F.struct(
                    F.lit(KAFKA_HEADER_KEY).alias("key"),
                    action_header_json(actions).cast("binary").alias("value"),
                )
            ),
            user_headers,
        ).alias("headers"),
    )
    if "payload_bin" not in actions.columns and "payloads_bin" not in actions.columns:
        # this encoder provably wrote NO binary envelope (every append's
        # value is the JSON document): tag the frame so an in-process
        # decode of it can skip the Arrow blob decoder outright — the tag
        # is a Python attribute, so ANY other frame (a real Kafka source,
        # a transformed copy) lacks it and decodes the full dispatch
        out._kjs_json_only_envelope = True
    return out


def decode_kafka_to_actions(kafka_df: DataFrame) -> DataFrame:
    """Kafka-record-shaped DataFrame -> actions (E2/E3 reverse).

    Header-only dispatch: the action type and seq range come from the
    ``journal.action`` header; the value blob is only parsed for appends
    (the reference's "don't deserialize unrelated records" rule — projecting
    the header before touching ``value`` lets Spark prune the blob column
    for non-append rows).
    """
    # F.get tolerates records without the journal.action header (foreign
    # producers on the topic); those rows are skipped, as the reference's
    # ConsRecordToActionRecord does by returning None.  (An HOF-free
    # spelling — headers["key"] + array_position + element_at, user map
    # via arrays_zip/slice — was MEASURED AND REJECTED at sf10: 3.37 s vs
    # 2.64 s for this form on the isolated header pipeline; Spark 4's
    # lambda HOFs are not the interpreted-fallback tax they used to be,
    # and arrays_zip builds arrays the lambdas never materialize.)
    # The header parse itself is from_json over the one-of schema — ONE
    # Jackson parse into a struct, fields then read as struct loads.  The
    # Spark 4 VariantType spelling (parse_json once + variant_get per
    # field) was MEASURED AND REJECTED in r12 (probe script last present at
    # commit 39ec4b0, 99k headers, checkpointed input, row-for-row equal):
    # 0.68 s vs 0.35 s median — 1.96x slower; the variant binary
    # encode costs more than it saves on a 13-field read-everything
    # projection.  from_json stays.
    hdr = F.get(F.filter(F.col("headers"), lambda h: h["key"] == KAFKA_HEADER_KEY), 0)[
        "value"
    ].cast("string")
    df = (
        kafka_df.withColumn("_hdr_raw", hdr)
        .filter(F.col("_hdr_raw").isNotNull())
        .withColumn("_hdr", F.from_json(F.col("_hdr_raw"), ACTION_HEADER_SCHEMA))
    )
    action_type = (
        F.when(F.col("_hdr.append").isNotNull(), "append")
        .when(F.col("_hdr.delete").isNotNull(), "delete")
        .when(F.col("_hdr.purge").isNotNull(), "purge")
        .otherwise("mark")
    )
    df = df.withColumn("_type", action_type)
    is_app = F.col("_type") == "append"
    # header-driven blob dispatch (the header names the blob's payloadType —
    # PayloadAndType.scala): binary appends go through the scodec envelope
    # decoder, everything else through the JSON document parser
    is_bin = is_app & (F.col("_hdr.append.payloadType") == "binary")
    blob = F.from_json(F.col("value").cast("string"), EVENTS_PAYLOAD_SCHEMA)
    df = df.withColumn("_blob", F.when(is_app & ~is_bin, blob))
    if getattr(kafka_df, "_kjs_json_only_envelope", False):
        # the producing encoder proved every value blob is the JSON
        # document (no payload_bin/payloads_bin column existed), so the
        # binary branch can never yield a decoded envelope: attach a typed
        # NULL instead of running the Arrow decoder over 100% masked rows.
        # This removes the ArrowEvalPython node — and its JVM->Python->JVM
        # crossing plus the whole-stage-codegen break — from the JSON-only
        # roundtrip (guide §4.1).  Rows whose HEADER claims binary (only
        # constructible by setting payload_type='binary' without a bin
        # column) decode to the same all-NULL action either way: the Arrow
        # kernel's corrupt-blob tolerance returns NULL for a JSON byte
        # stream (version byte mismatch), which is exactly this literal —
        # pinned by test_codecs' json-only equivalence test.
        df = df.withColumn("_blob_bin", F.lit(None).cast(EVENTS_BIN_SCHEMA))
    else:
        dec = _decode_events_bin_udf()
        df = df.withColumn(
            "_blob_bin", F.when(is_bin, dec(F.when(is_bin, F.col("value"))))
        )
    # per-event tag arrays (task: tags are per-event in the reference,
    # PayloadAndType.scala:49-120 — events[0].tags must not be stamped
    # batch-wide); `tags` keeps the first event's tags for the single-event
    # action shape, `tags_list` carries the full per-event alignment that
    # explode_events zips positionally
    # per-event field vectors via GetArrayStructFields (codegen), not
    # transform(events, e -> e[f]) lambdas (interpreted) — same values.
    # The projection is selectExpr SQL strings (r11: the Column form cost
    # ~0.5 s of py4j churn per build; the duplicated tags_list text is
    # folded by codegen subexpression elimination at runtime).
    is_app_s = "(_type = 'append')"
    is_bin_s = f"({is_app_s} AND _hdr.append.payloadType = 'binary')"
    tags_list_s = (
        f"CASE WHEN {is_bin_s} THEN _blob_bin.events.tags "
        f"WHEN {is_app_s} THEN _blob.events.tags END"
    )
    return df.selectExpr(
        "topic",
        "partition",
        "offset",
        "CAST(key AS STRING) AS id",
        "_type AS action_type",
        "timestamp",
        "coalesce(_hdr.append.origin, _hdr.delete.origin, "
        "_hdr.purge.origin, _hdr.mark.origin) AS origin",
        "coalesce(_hdr.append.version, _hdr.delete.version, "
        "_hdr.purge.version, _hdr.mark.version) AS version",
        "_hdr.append.range.`from` AS seq_nr_from",
        "_hdr.append.range.`to` AS seq_nr_to",
        "_hdr.append.payloadType AS payload_type",
        f"CASE WHEN {is_app_s} AND NOT {is_bin_s} "
        "THEN _blob.events[0].payload END AS payload",
        f"get({tags_list_s}, 0) AS tags",
        f"{tags_list_s} AS tags_list",
        f"CASE WHEN {is_app_s} AND NOT {is_bin_s} "
        "THEN _blob.events.payload END AS payloads",
        f"CASE WHEN {is_bin_s} THEN _blob_bin.events[0].payload END AS payload_bin",
        f"CASE WHEN {is_bin_s} THEN _blob_bin.events.payload END AS payloads_bin",
        f"CASE WHEN {is_bin_s} THEN _blob_bin.metadata END AS metadata",
        # PayloadMetadata.expireAfter round-trips from either envelope: the
        # JSON document's field or the binary envelope's metadata tail, in
        # the reference's duration-string-or-millis form (duration_to_secs),
        # with legacy expireAfterMs tolerance for pre-r5 blobs of this engine
        "coalesce("
        + duration_to_secs_sql("_blob.metadata.expireAfter")
        + ", "
        + duration_to_secs_sql(
            "get_json_object(_blob_bin.metadata, '$.expireAfter')"
        )
        + ", CAST(FLOOR(coalesce(_blob.metadata.expireAfterMs, "
        "CAST(get_json_object(_blob_bin.metadata, '$.expireAfterMs') AS BIGINT)"
        ") / 1000) AS BIGINT)) AS expire_after_secs",
        # user headers: everything except the journal.action dispatch header
        # (EventRecord.scala:65-82)
        "map_from_entries(transform("
        f"filter(headers, h -> h.key != '{KAFKA_HEADER_KEY}'), "
        "h -> named_struct('key', h.key, 'value', CAST(h.value AS STRING))"
        ")) AS headers",
        "_hdr.delete.`to` AS delete_to",
        "_hdr.mark.id AS mark_id",
    )
