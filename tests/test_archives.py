"""TAR/ZIP sources (sources/archives.py): roundtrips, checksum and CRC
enforcement, malformed rejection — including PAX records whose declared
length cannot make progress and truncated ZIP64 extra fields, which
must raise ValueError rather than hang or leak struct.error.
archive_corpus_scan is oracle-gated in test_oracle."""

from __future__ import annotations

import struct
import zlib

import pytest

from hainan_big_data_recommend_system_spark.sources.archives import (
    _tar_header,
    _zip64_extra,
    make_tar,
    make_zip,
    parse_tar,
    parse_zip,
)

MEMBERS = [
    ("docs/1.txt", b"hello archive world"),
    ("meta/1.json", b'{"k": 1}'),
    ("big.bin", bytes(range(256)) * 5),  # exercises 512-block rounding
]


def test_tar_roundtrip_and_checksum_enforced():
    t = make_tar(MEMBERS)
    assert parse_tar(t) == MEMBERS
    bad = bytearray(t)
    bad[0] ^= 0xFF  # flip a name byte -> checksum mismatch
    with pytest.raises(ValueError, match="checksum"):
        parse_tar(bytes(bad))
    with pytest.raises(ValueError, match="terminator"):
        parse_tar(t[:-1024])  # strip the two zero blocks
    with pytest.raises(ValueError, match="truncated"):
        parse_tar(t[: 512 + 4])  # header promises data that is not there


def test_zip_roundtrip_both_methods_and_crc_enforced():
    for deflate in (False, True):
        z = make_zip(MEMBERS, deflate=deflate)
        assert parse_zip(z) == MEMBERS
    z = bytearray(make_zip(MEMBERS, deflate=False))
    # corrupt one stored byte of the first member's data -> CRC mismatch
    start = z.find(b"hello archive")
    z[start] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        parse_zip(bytes(z))
    with pytest.raises(ValueError, match="end-of-central"):
        parse_zip(make_zip(MEMBERS)[:-23])


def test_zip_reads_via_central_directory():
    """A stray PK\\x03\\x04 in member DATA must not confuse the parser —
    members resolve through the central directory offsets."""
    tricky = [("trap.bin", b"xx" + b"PK\x03\x04" + b"yy")]
    assert parse_zip(make_zip(tricky)) == tricky


def test_empty_archives():
    assert parse_tar(make_tar([])) == []
    assert parse_zip(make_zip([])) == []


# ---------------------------------------------------------------------------
# Round-7 format hardening: interop against Python's OWN tarfile/zipfile
# (an independent implementation of the same public specs — stronger than
# roundtripping our writer through our reader).
# ---------------------------------------------------------------------------


def test_tar_gnu_longname_and_pax_interop():
    import io
    import tarfile

    from hainan_big_data_recommend_system_spark.sources.archives import (
        make_tar,
        parse_tar,
    )

    deep = "datasets/shard-0001/languages/en/" + "x" * 80 + "/part-00042.jsonl"
    assert len(deep.encode()) > 100
    for fmt in (tarfile.GNU_FORMAT, tarfile.PAX_FORMAT):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=fmt) as tf:
            ti = tarfile.TarInfo(deep)
            ti.size = 11
            tf.addfile(ti, io.BytesIO(b"deep member"))
            tf.addfile(tarfile.TarInfo("plain.txt"))  # zero-byte file
            d = tarfile.TarInfo("some/dir")
            d.type = tarfile.DIRTYPE
            tf.addfile(d)  # directories are not members
        got = dict(parse_tar(buf.getvalue()))
        assert got[deep] == b"deep member"
        assert got["plain.txt"] == b""
        assert "some/dir" not in got and len(got) == 2

    # our GNU-longname writer reads back under stdlib tarfile too
    ours = make_tar([(deep, b"abc"), ("short.txt", b"d")])
    with tarfile.open(fileobj=io.BytesIO(ours)) as tf:
        names = tf.getnames()
        assert deep in names and "short.txt" in names
        assert tf.extractfile(deep).read() == b"abc"
    assert dict(parse_tar(ours))[deep] == b"abc"


def test_zip64_interop_both_directions():
    import io
    import zipfile

    from hainan_big_data_recommend_system_spark.sources.archives import (
        make_zip,
        parse_zip,
    )

    # stdlib-written forced-ZIP64 archive parses
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("a.txt", b"alpha contents", )
        zf.writestr("b/b.txt", b"beta contents")
    # force zip64 end records: rewrite with allowZip64 + force flag via
    # low-level knob (stdlib writes ZIP64 EOCD when force_zip64 on the
    # member or when sizes demand it)
    buf2 = io.BytesIO()
    with zipfile.ZipFile(buf2, "w", zipfile.ZIP_DEFLATED) as zf:
        with zf.open(zipfile.ZipInfo("big.bin"), "w", force_zip64=True) as fh:
            fh.write(b"payload via zip64 descriptor path" * 10)
        zf.writestr("small.txt", b"tiny")
    got = dict(parse_zip(buf.getvalue()))
    assert got == {"a.txt": b"alpha contents", "b/b.txt": b"beta contents"}
    # the force_zip64 stream (zip64 extra fields + data-descriptor
    # members — exactly what the central-directory read order exists
    # for) parses too
    got64 = dict(parse_zip(buf2.getvalue()))
    assert got64["big.bin"] == b"payload via zip64 descriptor path" * 10
    assert got64["small.txt"] == b"tiny"

    # our zip64 writer is readable by stdlib AND by our parser
    members = [("one.txt", b"payload one"), ("two.txt", b"payload two" * 50)]
    blob = make_zip(members, zip64=True)
    assert dict(parse_zip(blob)) == dict(members)
    with zipfile.ZipFile(io.BytesIO(blob)) as zf:
        assert sorted(zf.namelist()) == ["one.txt", "two.txt"]
        assert zf.read("two.txt") == b"payload two" * 50


def test_zip64_sentinel_without_locator_rejected():
    import struct

    from hainan_big_data_recommend_system_spark.sources.archives import (
        make_zip,
        parse_zip,
    )
    import pytest as _pytest

    blob = bytearray(make_zip([("a", b"x")]))
    # saturate the EOCD entry count without providing EOCD64 structures
    eocd = bytes(blob).rfind(b"PK\x05\x06")
    struct.pack_into("<HH", blob, eocd + 8, 0xFFFF, 0xFFFF)
    with _pytest.raises(ValueError, match="EOCD64 locator"):
        parse_zip(bytes(blob))


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
