"""Regression tests for round-7 review findings (ADVICE.md, round 8):

- parse_tar: a PAX record with declared length 0 (or negative / shorter
  than its own length field) must raise ValueError, not loop forever
- _zip64_extra: a truncated 0x0001 extra field must raise ValueError,
  not struct.error (the fleet-wide decoder quarantine contract)
- parse_webm: deeply nested EBML containers must raise ValueError at
  a fixed depth cap, not RecursionError
"""

from __future__ import annotations

import struct

import pytest

from hainan_big_data_recommend_system_spark.sources.archives import (
    _tar_header,
    _zip64_extra,
    parse_tar,
)


def _pax_tar(pax_body: bytes, member: tuple[str, bytes]) -> bytes:
    """A tar stream: one PAX 'x' header carrying ``pax_body``, then one
    regular member."""
    out = bytearray()
    hdr = bytearray(_tar_header("pax_header", len(pax_body)))
    hdr[156] = ord("x")
    hdr[148:156] = b" " * 8
    hdr[148:156] = f"{sum(hdr):06o}\x00 ".encode()
    out += hdr + pax_body
    if len(pax_body) % 512:
        out += bytes(512 - len(pax_body) % 512)
    name, data = member
    out += _tar_header(name, len(data))
    out += data
    if len(data) % 512:
        out += bytes(512 - len(data) % 512)
    out += bytes(1024)
    return bytes(out)


def test_pax_zero_length_record_raises_not_hangs():
    # A valid record followed by a zero-declared-length record: the old
    # parser matched the PREVIOUS record's newline and made no progress.
    body = b"14 path=a.txt\n" + b"0 x=y\n"
    with pytest.raises(ValueError):
        parse_tar(_pax_tar(body, ("orig.txt", b"data")))


def test_pax_negative_length_record_raises():
    body = b"14 path=a.txt\n" + b"-4 x=y\n"
    with pytest.raises(ValueError):
        parse_tar(_pax_tar(body, ("orig.txt", b"data")))


def test_pax_length_shorter_than_own_field_raises():
    # rec_len=3 covers only "3 x" — cannot include its newline.
    body = b"3 x=y\n"
    with pytest.raises(ValueError):
        parse_tar(_pax_tar(body, ("orig.txt", b"data")))


def test_pax_valid_path_still_overrides():
    body = b"16 path=new.txt\n"
    members = parse_tar(_pax_tar(body, ("orig.txt", b"data")))
    assert members == [("new.txt", b"data")]


def test_zip64_extra_truncated_raises_valueerror():
    # 0x0001 field declaring 4 bytes where two saturated sentinels need 16
    extra = struct.pack("<HH4s", 0x0001, 4, b"\x01\x02\x03\x04")
    with pytest.raises(ValueError, match="ZIP64 extra field truncated"):
        _zip64_extra(extra, 0xFFFFFFFF, 0xFFFFFFFF, 0)


def test_zip64_extra_exact_fit_ok():
    extra = struct.pack("<HHQQ", 0x0001, 16, 111, 222)
    assert _zip64_extra(extra, 0xFFFFFFFF, 0xFFFFFFFF, 5) == (111, 222, 5)


def _nested_ebml(depth: int) -> bytes:
    """An EBML stream whose Segment contains ``depth`` nested Tracks
    (a master element), each 0x1654AE6B with a 1-byte-vint size."""
    inner = b""
    for _ in range(depth):
        body = inner
        if len(body) < 0x7F:
            size_vint = bytes([0x80 | len(body)])
        else:  # 2-byte vint, covers sizes < 2**14
            size_vint = bytes([0x40 | (len(body) >> 8), len(body) & 0xFF])
        inner = b"\x16\x54\xae\x6b" + size_vint + body
    # EBML header (magic, empty body) + Segment wrapping the nest
    seg_size = len(inner)
    assert seg_size < 2**14
    seg = b"\x18\x53\x80\x67" + bytes([0x40 | (seg_size >> 8), seg_size & 0xFF]) + inner
    hdr_body = b"\x42\x82\x84webm"  # DocType "webm"
    return b"\x1a\x45\xdf\xa3" + bytes([0x80 | len(hdr_body)]) + hdr_body + seg


def test_webm_deep_nesting_raises_valueerror_not_recursionerror():
    from hainan_big_data_recommend_system_spark.operators.mkv import parse_webm

    with pytest.raises(ValueError, match="nesting"):
        parse_webm(_nested_ebml(60))


def test_webm_moderate_nesting_ok():
    from hainan_big_data_recommend_system_spark.operators.mkv import parse_webm

    out = parse_webm(_nested_ebml(10))
    assert out["n_clusters"] == 0
