"""Protobuf wire-format codec for the reference's metadata messages
(X5 — reference pkg/core/messages.proto; encode/decode sites
checkpoint_store.go:257-273, consistent_segment_store.go:413-429).

The reference serializes Checkpoint / SegmentEvent / Message as protobuf
onto its metadata Kafka topics.  This codec hand-rolls the public protobuf
wire format (varints + length-delimited fields; no protobuf runtime exists
in this container) and matches messages.proto **exactly**, nested messages
included:

    Segment      { 1: region (string), 2: topic (string),
                   3: partition (uint32), 4: level (uint32),
                   5: startOffset (uint64), 6: endOffset (uint64) }
    SegmentEvent { 1: type (enum CREATED=0 | REMOVED=1),
                   2: timestamp (well-known Timestamp),
                   3: segment (Segment), 4: segmentSize (uint64) }
    Checkpoint   { 1: region, 2: topic, 3: partition (uint32),
                   4: offset (uint64),
                   5: timestamp (well-known Timestamp) }
    Message      { 1: key (bytes), 2: value (bytes), 3: offset (uint64),
                   4: timestamp (Timestamp),
                   5: repeated Header { 1: key (string), 2: value (bytes) } }

Encoding follows proto3 canonical rules so bytes interoperate with the
reference's gogo-generated marshaller: zero-valued scalars are omitted;
the (gogoproto.nullable) = false submessages (timestamp, segment) are
always emitted, as gogo's generated Marshal does for non-pointer fields.
The well-known Timestamp (timestamp.proto) is
{ 1: seconds (int64), 2: nanos (int32) }.

Spark-side use: `encode_checkpoint_udf` / `decode_checkpoint_udf` are
Arrow-batched pandas UDFs for K3/S5 topic interop.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------- varint

def _write_varint(out: bytearray, v: int) -> None:
    if v < 0:
        v &= (1 << 64) - 1  # two's-complement 64-bit, per proto spec
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift >= 70:
            raise ValueError("malformed varint")


def _write_tag(out: bytearray, field: int, wire_type: int) -> None:
    _write_varint(out, (field << 3) | wire_type)


def _write_str(out: bytearray, field: int, s: str) -> None:
    """Length-delimited string; zero-length omitted (proto3 canonical)."""
    data = s.encode("utf-8")
    if not data:
        return
    _write_tag(out, field, 2)
    _write_varint(out, len(data))
    out.extend(data)


def _write_bytes(out: bytearray, field: int, data: bytes) -> None:
    if not data:
        return
    _write_tag(out, field, 2)
    _write_varint(out, len(data))
    out.extend(data)


def _write_uint(out: bytearray, field: int, v: int) -> None:
    """Varint scalar; zero omitted (proto3 canonical)."""
    if v == 0:
        return
    _write_tag(out, field, 0)
    _write_varint(out, v)


def _write_msg(out: bytearray, field: int, payload: bytes | bytearray) -> None:
    """Nested message — always emitted (gogoproto.nullable=false fields)."""
    _write_tag(out, field, 2)
    _write_varint(out, len(payload))
    out.extend(payload)


def _decode_fields(buf: bytes) -> dict[int, int | bytes]:
    pos = 0
    fields: dict[int, int | bytes] = {}
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wt = key >> 3, key & 7
        if wt == 0:
            fields[field], pos = _read_varint(buf, pos)
        elif wt == 2:
            ln, pos = _read_varint(buf, pos)
            fields[field] = buf[pos : pos + ln]
            pos += ln
        else:
            raise ValueError(f"unsupported wire type {wt}")
    return fields


def _decode_repeated(buf: bytes, want_field: int) -> list[bytes]:
    """All length-delimited occurrences of one field (repeated messages)."""
    pos = 0
    out: list[bytes] = []
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wt = key >> 3, key & 7
        if wt == 0:
            _, pos = _read_varint(buf, pos)
        elif wt == 2:
            ln, pos = _read_varint(buf, pos)
            if field == want_field:
                out.append(buf[pos : pos + ln])
            pos += ln
        else:
            raise ValueError(f"unsupported wire type {wt}")
    return out


# --------------------------------------------- well-known Timestamp type

def _encode_timestamp(ts_ns: int) -> bytes:
    """Timestamp { 1: seconds (int64), 2: nanos (int32) } from epoch nanos."""
    seconds, nanos = divmod(int(ts_ns), 1_000_000_000)
    out = bytearray()
    _write_uint(out, 1, seconds)
    _write_uint(out, 2, nanos)
    return bytes(out)


def _decode_timestamp(buf: bytes) -> int:
    f = _decode_fields(buf)
    return int(f.get(1, 0)) * 1_000_000_000 + int(f.get(2, 0))


# ------------------------------------------------------------ Checkpoint

def encode_checkpoint(region: str, topic: str, partition_id: int, msg_offset: int, ts_ns: int) -> bytes:
    """Checkpoint per messages.proto:49-55 (timestamp as nested Timestamp)."""
    out = bytearray()
    _write_str(out, 1, region)
    _write_str(out, 2, topic)
    _write_uint(out, 3, partition_id)
    _write_uint(out, 4, msg_offset)
    _write_msg(out, 5, _encode_timestamp(ts_ns))
    return bytes(out)


def decode_checkpoint(buf: bytes) -> dict:
    f = _decode_fields(bytes(buf))
    ts_field = f.get(5, b"")
    return {
        "region": f.get(1, b"").decode("utf-8"),
        "topic": f.get(2, b"").decode("utf-8"),
        "partition_id": int(f.get(3, 0)),
        "msg_offset": int(f.get(4, 0)),
        "ts_ns": _decode_timestamp(ts_field) if isinstance(ts_field, bytes) else 0,
    }


CHECKPOINT_STRUCT = T.StructType(
    [
        T.StructField("region", T.StringType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("msg_offset", T.LongType()),
        T.StructField("ts_ns", T.LongType()),
    ]
)


@F.pandas_udf(T.BinaryType())
def encode_checkpoint_udf(
    region: pd.Series, topic: pd.Series, partition_id: pd.Series,
    msg_offset: pd.Series, ts_ns: pd.Series,
) -> pd.Series:
    return pd.Series(
        [
            encode_checkpoint(r, t, int(p), int(o), int(ts))
            for r, t, p, o, ts in zip(region, topic, partition_id, msg_offset, ts_ns)
        ]
    )


@F.pandas_udf(CHECKPOINT_STRUCT)
def decode_checkpoint_udf(payload: pd.Series) -> pd.DataFrame:
    return pd.DataFrame([decode_checkpoint(b) for b in payload])


# --------------------------------------------------------------- Segment

def encode_segment(
    region: str, topic: str, partition_id: int, level: int,
    start_offset: int, end_offset: int,
) -> bytes:
    """Segment per messages.proto:28-35."""
    out = bytearray()
    _write_str(out, 1, region)
    _write_str(out, 2, topic)
    _write_uint(out, 3, partition_id)
    _write_uint(out, 4, level)
    _write_uint(out, 5, start_offset)
    _write_uint(out, 6, end_offset)
    return bytes(out)


def decode_segment(buf: bytes) -> dict:
    f = _decode_fields(bytes(buf))
    return {
        "region": f.get(1, b"").decode("utf-8"),
        "topic": f.get(2, b"").decode("utf-8"),
        "partition_id": int(f.get(3, 0)),
        "level": int(f.get(4, 0)),
        "start_offset": int(f.get(5, 0)),
        "end_offset": int(f.get(6, 0)),
    }


# ---------------------------------------------------------- SegmentEvent

#: SegmentEvent.Type enum values (messages.proto:38-41)
EVENT_TYPES = {"CREATED": 0, "REMOVED": 1}
EVENT_NAMES = {v: k for k, v in EVENT_TYPES.items()}


def encode_segment_event(
    event_type: str, region: str, topic: str, partition_id: int, level: int,
    start_offset: int, end_offset: int, size_bytes: int, event_ts_ns: int,
) -> bytes:
    """SegmentEvent per messages.proto:37-47: enum type, nested Timestamp,
    nested Segment, segmentSize."""
    out = bytearray()
    _write_uint(out, 1, EVENT_TYPES[event_type])  # enum varint; CREATED=0 omitted
    _write_msg(out, 2, _encode_timestamp(event_ts_ns))
    _write_msg(
        out, 3, encode_segment(region, topic, partition_id, level, start_offset, end_offset)
    )
    _write_uint(out, 4, size_bytes)
    return bytes(out)


def decode_segment_event(buf: bytes) -> dict:
    f = _decode_fields(bytes(buf))
    seg_field = f.get(3, b"")
    seg = decode_segment(seg_field) if isinstance(seg_field, bytes) else decode_segment(b"")
    ts_field = f.get(2, b"")
    return {
        "event_type": EVENT_NAMES[int(f.get(1, 0))],
        "event_ts_ns": _decode_timestamp(ts_field) if isinstance(ts_field, bytes) else 0,
        "size_bytes": int(f.get(4, 0)),
        **seg,
    }


# --------------------------------------------------------------- Message

def encode_message(
    key: bytes | None, value: bytes | None, msg_offset: int, ts_ns: int,
    headers: list[tuple[str, bytes]] | None = None,
) -> bytes:
    """Message per messages.proto:68-79 (bytes key/value, nested Timestamp,
    repeated Header submessages)."""
    out = bytearray()
    _write_bytes(out, 1, bytes(key) if key else b"")
    _write_bytes(out, 2, bytes(value) if value else b"")
    _write_uint(out, 3, msg_offset)
    _write_msg(out, 4, _encode_timestamp(ts_ns))
    for hk, hv in headers or []:
        h = bytearray()
        _write_str(h, 1, hk)
        _write_bytes(h, 2, bytes(hv) if hv else b"")
        _write_msg(out, 5, h)
    return bytes(out)


def decode_message(buf: bytes) -> dict:
    raw = bytes(buf)
    f = _decode_fields(raw)
    ts_field = f.get(4, b"")
    headers = []
    for h in _decode_repeated(raw, 5):
        hf = _decode_fields(h)
        headers.append(
            (hf.get(1, b"").decode("utf-8"), bytes(hf.get(2, b"")))
        )
    return {
        "key": bytes(f.get(1, b"")),
        "value": bytes(f.get(2, b"")),
        "msg_offset": int(f.get(3, 0)),
        "ts_ns": _decode_timestamp(ts_field) if isinstance(ts_field, bytes) else 0,
        "headers": headers,
    }
