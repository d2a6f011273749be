"""Protobuf wire-format walk — length-delimited binary log ingestion.

Binary event logs are overwhelmingly protobuf-framed: a stream of
varint-length-prefixed messages, each a sequence of
``(field_number << 3 | wire_type)`` tagged values.  The wire format is
a public spec (protobuf.dev encoding docs); decoding it needs no
schema compiler — just the four wire types — which is exactly what a
corpus pipeline wants for schema-light ingestion with quarantine:

- wire type 0: base-128 varint, little-endian groups, MSB continues;
- wire type 1: fixed64 little-endian;
- wire type 2: varint length + that many bytes (strings, bytes,
  nested messages);
- wire type 5: fixed32 little-endian;
- signed fields use ZIGZAG (``(n << 1) ^ (n >> 63)``) so small
  negatives stay small — the decode half is ``(u >> 1) ^ -(u & 1)``,
  the classic sign-extension trap this module pins.

``parse_pb_stream`` walks a stream of length-prefixed LogRecord-shaped
messages (ts varint, user string, zigzag delta, payload bytes, fixed32
checksum, optional nested submessage) and aggregates exact integers.
Unknown fields are SKIPPED BY WIRE TYPE — protobuf's forward-compat
contract.  Malformed framing raises ValueError for the standard
quarantine path.
"""

from __future__ import annotations


def write_varint(value: int) -> bytes:
    if value < 0:
        raise ValueError("varint encodes non-negative values only")
    out = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError(f"varint truncated at {pos}")
        if shift > 63:
            raise ValueError(f"varint at {pos} exceeds 64 bits")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def zigzag_encode(n: int) -> int:
    return ((n << 1) ^ (n >> 63)) & 0xFFFFFFFFFFFFFFFF


def zigzag_decode(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _field(num: int, wtype: int) -> bytes:
    return write_varint((num << 3) | wtype)


def make_pb_log(records: list[dict]) -> bytes:
    """Length-prefixed stream of LogRecord messages.  Record keys:
    ``ts`` (uint varint), ``user`` (str), ``delta`` (signed, zigzag),
    ``payload`` (bytes), ``checksum`` (fixed32), optional ``nested``
    (uint — encoded as a submessage holding one varint field)."""
    out = bytearray()
    for r in records:
        m = bytearray()
        m += _field(1, 0) + write_varint(int(r["ts"]))
        user = r["user"].encode("utf-8")
        m += _field(2, 2) + write_varint(len(user)) + user
        m += _field(3, 0) + write_varint(zigzag_encode(int(r["delta"])))
        payload = r["payload"]
        m += _field(4, 2) + write_varint(len(payload)) + payload
        m += _field(5, 5) + int(r["checksum"]).to_bytes(4, "little")
        if "nested" in r:
            sub = _field(1, 0) + write_varint(int(r["nested"]))
            m += _field(6, 2) + write_varint(len(sub)) + sub
        out += write_varint(len(m)) + m
    return bytes(out)


def _parse_message(buf: bytes) -> dict:
    pos = 0
    rec = {"payload_len": 0, "nested": None}
    while pos < len(buf):
        tag, pos = read_varint(buf, pos)
        num, wtype = tag >> 3, tag & 7
        if wtype == 0:
            val, pos = read_varint(buf, pos)
            if num == 1:
                rec["ts"] = val
            elif num == 3:
                rec["delta"] = zigzag_decode(val)
            # unknown varint field: value already consumed
        elif wtype == 5:
            if pos + 4 > len(buf):
                raise ValueError(f"fixed32 truncated at {pos}")
            if num == 5:
                rec["checksum"] = int.from_bytes(
                    buf[pos : pos + 4], "little"
                )
            pos += 4
        elif wtype == 1:
            if pos + 8 > len(buf):
                raise ValueError(f"fixed64 truncated at {pos}")
            pos += 8  # no fixed64 fields in LogRecord: skip
        elif wtype == 2:
            ln, pos = read_varint(buf, pos)
            if pos + ln > len(buf):
                raise ValueError(f"length-delimited field truncated at {pos}")
            body = buf[pos : pos + ln]
            pos += ln
            if num == 2:
                rec["user"] = body.decode("utf-8", "strict")
            elif num == 4:
                rec["payload_len"] = ln
            elif num == 6:
                sub_pos = 0
                tag2, sub_pos = read_varint(body, sub_pos)
                if tag2 != (1 << 3 | 0):
                    raise ValueError("nested submessage has no count field")
                rec["nested"], _ = read_varint(body, sub_pos)
            # unknown length-delimited field: skipped by length
        else:
            raise ValueError(f"reserved wire type {wtype} at {pos}")
    for k in ("ts", "user", "delta", "checksum"):
        if k not in rec:
            raise ValueError(f"LogRecord missing required field {k!r}")
    return rec


def parse_pb_stream(payload: bytes) -> dict:
    """``{n_records, sum_ts, sum_delta, distinct_users, payload_bytes,
    checksum_sum, n_nested, nested_sum}`` over a length-prefixed
    protobuf stream — all exact integers."""
    pos = 0
    n = 0
    sum_ts = sum_delta = payload_bytes = checksum_sum = 0
    n_nested = nested_sum = 0
    users = set()
    while pos < len(payload):
        ln, pos = read_varint(payload, pos)
        if pos + ln > len(payload):
            raise ValueError(f"message at {pos} truncated ({ln} bytes)")
        rec = _parse_message(payload[pos : pos + ln])
        pos += ln
        n += 1
        sum_ts += rec["ts"]
        sum_delta += rec["delta"]
        payload_bytes += rec["payload_len"]
        checksum_sum += rec["checksum"]
        users.add(rec["user"])
        if rec["nested"] is not None:
            n_nested += 1
            nested_sum += rec["nested"]
    if n == 0:
        raise ValueError("no protobuf records found")
    return {
        "n_records": n,
        "sum_ts": sum_ts,
        "sum_delta": sum_delta,
        "distinct_users": len(users),
        "payload_bytes": payload_bytes,
        "checksum_sum": checksum_sum,
        "n_nested": n_nested,
        "nested_sum": nested_sum,
    }
