"""Avro Object Container File (OCF) reader — the big-data-native row
format: Kafka archives, warehouse exports and ingestion hand-offs ship
as ``.avro`` container files, so a corpus/ETL engine meets them right
after parquet.  Built from the public Apache Avro 1.11 specification
(avro.apache.org/docs — file container format + binary encoding); no
avro library exists in this environment, so both the writer (fixture)
and reader implement the spec directly, the same discipline as every
other codec here.

Format walked:

- header: magic ``Obj\\x01``, then the file-metadata MAP — avro maps
  arrive in COUNT-PREFIXED BLOCKS (zigzag-varint count, then that many
  key/value pairs, repeated until a 0 count; a NEGATIVE count means an
  explicit byte size follows — both forms handled), carrying
  ``avro.schema`` (JSON) and ``avro.codec``; then the 16-byte sync
  marker;
- data blocks: zigzag-varint record count, zigzag-varint byte size,
  the serialized records (raw-DEFLATE-compressed when codec is
  ``deflate`` — RFC 1951, NO zlib wrapper: the classic interop trap;
  ``snappy`` — raw block + 4-byte big-endian CRC32 suffix of the
  UNCOMPRESSED bytes per the Avro spec; ``zstd`` — both decoded by
  this repo's own codecs),
  then the sync marker again, which MUST equal the header's;
- records per the schema: longs/ints are zigzag varints, strings and
  bytes are length-prefixed, booleans one byte, and nullable fields
  are avro UNIONS — a zigzag branch index then the branch value.

The reader validates magic, metadata termination, sync-marker equality
per block, byte-size consistency (a block must decode to exactly its
declared records consuming exactly its declared bytes), and union
branch indexes; any violation raises ValueError for the quarantine
path.  Schema support covers records of long/int/string/bytes/boolean,
``["null", X]`` unions, NESTED record fields to any depth (decoded as
nested dicts) — the shape Iceberg manifests use for their
``data_file`` struct and partition tuple (operators/iceberg.py) — and
ARRAYS (block-encoded per the spec, negative-count byte-size prefix
accepted; round 10, for the manifest ``equality_ids`` list); maps,
enums and named-type references stay loud quarantines.
"""

from __future__ import annotations

import json
import zlib

_MAGIC = b"Obj\x01"
_PRIMITIVES = {"long", "int", "string", "bytes", "boolean"}


def _zz(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n >= 0 else ((-n) << 1) - 1


def _write_varint(value: int) -> bytes:
    out = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def write_long(n: int) -> bytes:
    """Avro long: zigzag then base-128 varint."""
    return _write_varint(_zz(n))


def read_long(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError(f"avro long truncated at {pos}")
        if shift > 63:
            raise ValueError(f"avro long at {pos} exceeds 64 bits")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return (result >> 1) ^ -(result & 1), pos
        shift += 7


def _write_bytes(b: bytes) -> bytes:
    return write_long(len(b)) + b


def _read_sized(buf: bytes, pos: int) -> tuple[bytes, int]:
    ln, pos = read_long(buf, pos)
    if ln < 0 or pos + ln > len(buf):
        raise ValueError(f"sized value at {pos} truncated or negative")
    return buf[pos : pos + ln], pos + ln


def _encode_field(ftype, value) -> bytes:
    if isinstance(ftype, list):  # union ["null", X] (compiled, 2-branch)
        null_idx = ftype.index("null")
        if value is None:
            return write_long(null_idx)
        branch = 1 - null_idx
        return write_long(branch) + _encode_field(ftype[branch], value)
    if isinstance(ftype, tuple) and ftype[0] == "array":
        if not isinstance(value, (list, tuple)):
            raise ValueError("array value is not a list")
        out = bytearray()
        if value:
            out += write_long(len(value))
            for item in value:
                out += _encode_field(ftype[1], item)
        out += write_long(0)  # block terminator
        return bytes(out)
    if isinstance(ftype, tuple):  # ("record", [(name, ctype), ...])
        if not isinstance(value, dict):
            raise ValueError("record value is not a dict")
        out = bytearray()
        for name, ct in ftype[1]:
            out += _encode_field(ct, value.get(name))
        return bytes(out)
    if ftype in ("long", "int"):
        return write_long(int(value))
    if ftype == "string":
        return _write_bytes(str(value).encode("utf-8"))
    if ftype == "bytes":
        return _write_bytes(bytes(value))
    if ftype == "boolean":
        return b"\x01" if value else b"\x00"
    raise ValueError(f"unsupported avro type {ftype!r}")


def _decode_field(ftype, buf: bytes, pos: int):
    if isinstance(ftype, list):
        idx, pos = read_long(buf, pos)
        if not 0 <= idx < len(ftype):
            raise ValueError(f"union branch {idx} out of range at {pos}")
        if ftype[idx] == "null":
            return None, pos
        return _decode_field(ftype[idx], buf, pos)
    if isinstance(ftype, tuple) and ftype[0] == "array":
        items = []
        while True:
            count, pos = read_long(buf, pos)
            if count == 0:
                return items, pos
            if count < 0:  # block with byte-size prefix (spec allows)
                count = -count
                size, pos = read_long(buf, pos)
                if size < 0 or pos + size > len(buf):
                    raise ValueError(f"array block size bad at {pos}")
            if count > len(buf) - pos + 1:
                raise ValueError(f"array count {count} overruns buffer")
            for _ in range(count):
                item, pos = _decode_field(ftype[1], buf, pos)
                items.append(item)
    if isinstance(ftype, tuple):  # nested record → dict
        rec = {}
        for name, ct in ftype[1]:
            rec[name], pos = _decode_field(ct, buf, pos)
        return rec, pos
    if ftype in ("long", "int"):
        return read_long(buf, pos)
    if ftype == "string":
        raw, pos = _read_sized(buf, pos)
        return raw.decode("utf-8", "strict"), pos
    if ftype == "bytes":
        return _read_sized(buf, pos)
    if ftype == "boolean":
        if pos >= len(buf):
            raise ValueError(f"boolean truncated at {pos}")
        if buf[pos] not in (0, 1):
            raise ValueError(f"boolean byte 0x{buf[pos]:02x} at {pos}")
        return buf[pos] == 1, pos + 1
    raise ValueError(f"unsupported avro type {ftype!r}")


_MAX_SCHEMA_DEPTH = 40  # walk cap — no hostile recursion


def _compile_type(ft, depth: int = 0):
    """JSON schema type → compiled form: primitive name, 2-branch union
    list, or ``("record", [(name, compiled), ...])``."""
    if depth > _MAX_SCHEMA_DEPTH:
        raise ValueError("avro schema nests deeper than the walk cap")
    if isinstance(ft, str):
        if ft not in _PRIMITIVES:
            raise ValueError(f"unsupported field type {ft!r}")
        return ft
    if isinstance(ft, list):
        if len(ft) != 2 or ft.count("null") != 1:
            raise ValueError(f"unsupported union {ft!r}")
        return [
            "null" if t == "null" else _compile_type(t, depth + 1)
            for t in ft
        ]
    if isinstance(ft, dict):
        t = ft.get("type")
        if t == "record":
            fields = ft.get("fields")
            if not isinstance(fields, list):
                raise ValueError("record schema missing fields")
            return (
                "record",
                [
                    (f["name"], _compile_type(f["type"], depth + 1))
                    for f in fields
                ],
            )
        if t == "array":
            return ("array", _compile_type(ft.get("items"), depth + 1))
        if isinstance(t, str) and t in _PRIMITIVES:
            return t  # {"type": "long"} wrapper form
        raise ValueError(f"unsupported complex type {t!r}")
    raise ValueError(f"unsupported field type {ft!r}")


def _normalize_schema(schema: dict) -> list[tuple[str, object]]:
    compiled = _compile_type(schema)
    if not isinstance(compiled, tuple):
        raise ValueError("top-level schema must be a record")
    return compiled[1]


def make_avro(
    schema: dict,
    blocks: list[list[dict]],
    codec: str = "null",
    sync: bytes = bytes(range(16)),
) -> bytes:
    """Spec-shaped OCF: one data block per ``blocks`` entry."""
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    fields = _normalize_schema(schema)
    meta = {
        "avro.schema": json.dumps(schema).encode("utf-8"),
        "avro.codec": codec.encode("ascii"),
    }
    out = bytearray(_MAGIC)
    out += write_long(len(meta))
    for k, v in sorted(meta.items()):
        out += _write_bytes(k.encode("utf-8")) + _write_bytes(v)
    out += write_long(0)  # map terminator
    out += sync
    for recs in blocks:
        if not recs:
            # zero-record blocks are skipped, not written: the reader
            # (and real readers) reject a block declaring count 0, and
            # a file with no data blocks is spec-legal — the empty
            # CREATE TABLE manifest-list shape (round 14)
            continue
        body = bytearray()
        for r in recs:
            for name, ftype in fields:
                body += _encode_field(ftype, r.get(name))
        data = bytes(body)
        if codec == "deflate":  # raw RFC 1951, no zlib wrapper
            co = zlib.compressobj(wbits=-15)
            data = co.compress(data) + co.flush()
        elif codec == "snappy":
            # Avro spec: snappy blocks carry a 4-byte BIG-ENDIAN CRC32
            # of the UNCOMPRESSED data as a suffix
            import pyarrow as pa

            crc = zlib.crc32(data) & 0xFFFFFFFF
            data = pa.Codec("snappy").compress(data, asbytes=True) + (
                crc.to_bytes(4, "big")
            )
        elif codec == "zstd":
            import pyarrow as pa

            data = pa.Codec("zstd").compress(data, asbytes=True)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec!r}")
        out += write_long(len(recs)) + write_long(len(data)) + data
        out += sync
    return bytes(out)


def parse_avro(payload: bytes) -> dict:
    """``{codec, n_blocks, n_records, records}`` from a full container
    walk; ``records`` is the decoded list of dicts.  Raises ValueError
    on any framing, sync, codec, or schema violation."""
    if payload[:4] != _MAGIC:
        raise ValueError("not an avro object container (bad magic)")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        count, pos = read_long(payload, pos)
        if count == 0:
            break
        if count < 0:  # spec: negative count -> explicit byte size
            count = -count
            _, pos = read_long(payload, pos)
        for _ in range(count):
            k, pos = _read_sized(payload, pos)
            v, pos = _read_sized(payload, pos)
            meta[k.decode("utf-8", "strict")] = v
    if "avro.schema" not in meta:
        raise ValueError("container metadata carries no avro.schema")
    try:
        schema = json.loads(meta["avro.schema"])
    except json.JSONDecodeError as e:
        raise ValueError(f"avro.schema is not valid JSON: {e}") from None
    fields = _normalize_schema(schema)
    codec = meta.get("avro.codec", b"null").decode("ascii", "strict")
    if codec not in ("null", "deflate", "snappy", "zstd"):
        raise ValueError(f"unsupported codec {codec!r}")
    if pos + 16 > len(payload):
        raise ValueError("header sync marker truncated")
    sync = payload[pos : pos + 16]
    pos += 16

    records = []
    n_blocks = 0
    while pos < len(payload):
        count, pos = read_long(payload, pos)
        size, pos = read_long(payload, pos)
        if count <= 0 or size < 0:
            raise ValueError(f"block at {pos} declares count {count}")
        if pos + size > len(payload):
            raise ValueError(f"block at {pos} truncated ({size} bytes)")
        data = payload[pos : pos + size]
        pos += size
        if codec == "deflate":
            try:
                data = zlib.decompress(data, wbits=-15)
            except zlib.error as e:
                raise ValueError(f"deflate block corrupt: {e}") from None
        elif codec == "snappy":
            from .snappy import snappy_decompress

            if len(data) < 4:
                raise ValueError("snappy block missing its CRC suffix")
            data, want = snappy_decompress(data[:-4]), data[-4:]
            if (zlib.crc32(data) & 0xFFFFFFFF).to_bytes(4, "big") != want:
                raise ValueError("snappy block CRC mismatch")
        elif codec == "zstd":
            from .zstd import zstd_decompress

            data = zstd_decompress(data)
        dp = 0
        for _ in range(count):
            rec = {}
            for name, ftype in fields:
                rec[name], dp = _decode_field(ftype, data, dp)
            records.append(rec)
        if dp != len(data):
            raise ValueError(
                f"block decoded {dp} of {len(data)} bytes — count/size "
                "inconsistent"
            )
        n_blocks += 1
        if pos + 16 > len(payload):
            raise ValueError("block sync marker truncated")
        if payload[pos : pos + 16] != sync:
            raise ValueError(f"sync marker mismatch after block {n_blocks}")
        pos += 16
    return {
        "codec": codec,
        "n_blocks": n_blocks,
        "n_records": len(records),
        "records": records,
    }
