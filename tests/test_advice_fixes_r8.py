"""Regression tests for round-7 review findings (ADVICE.md, round 8):

- parse_tar: a PAX record with declared length 0 (or negative / shorter
  than its own length field) must raise ValueError, not loop forever
- _zip64_extra: a truncated 0x0001 extra field must raise ValueError,
  not struct.error (the fleet-wide decoder quarantine contract)
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
