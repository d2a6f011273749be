"""Seeded fuzz regression for every pure-Python decoder: a mutated
payload must either decode or raise ValueError — never any other
exception class.  This is the 'one corrupt row never kills a corpus
decode job' contract made mechanical: the Arrow decode kernels catch
ValueError for their quarantine paths, so an IndexError/struct.error
escaping a parser would fail whole Spark tasks on real crawl garbage."""

from __future__ import annotations

import random

import pytest

from hainan_big_data_recommend_system_spark.operators.avrocf import (
    make_avro,
    parse_avro,
)
from hainan_big_data_recommend_system_spark.operators.gif import (
    make_gif,
    parse_gif,
)
from hainan_big_data_recommend_system_spark.operators.jpeg import (
    make_jpeg,
    make_progressive_jpeg,
    parse_jpeg,
)
from hainan_big_data_recommend_system_spark.operators.multimodal import (
    make_bmp,
    make_png,
    parse_bmp_header,
    parse_png,
)
from hainan_big_data_recommend_system_spark.operators.deltalog import (
    make_commit,
    parse_delta_payload,
)
from hainan_big_data_recommend_system_spark.operators.parquetfmt import (
    make_parquet,
    parse_parquet,
    parse_parquet_footer,
    read_int64_column,
    read_string_column,
)
from hainan_big_data_recommend_system_spark.operators.snappy import (
    snappy_decompress,
)
from hainan_big_data_recommend_system_spark.operators.zstd import (
    zstd_decompress,
)
from hainan_big_data_recommend_system_spark.operators.lz4 import (
    lz4_block_decompress,
)
from hainan_big_data_recommend_system_spark.operators.pbwire import (
    make_pb_log,
    parse_pb_stream,
)
from hainan_big_data_recommend_system_spark.operators.pdftext import (
    extract_pdf_text,
    make_pdf,
)
from hainan_big_data_recommend_system_spark.sources.archives import (
    make_tar,
    make_zip,
    parse_tar,
    parse_zip,
)
from hainan_big_data_recommend_system_spark.sources.warc import (
    make_warc,
    parse_warc,
)


def _real_snappy_page() -> bytes:
    import struct as _st

    from hainan_big_data_recommend_system_spark.operators.parquetfmt import (
        _read_struct,
    )

    raw = open("/root/testdata/sf0.001/orders.parquet", "rb").read()
    flen = _st.unpack("<I", raw[-8:-4])[0]
    fmd, _ = _read_struct(raw[len(raw) - 8 - flen : len(raw) - 8], 0, 0)
    md = fmd[4][0][1][0][3]  # first row group, first chunk metadata
    start = md.get(11, md.get(9))
    hdr, p2 = _read_struct(raw, start, 0)
    return raw[p2 : p2 + hdr[3]]


CASES = {
    "jpeg": (lambda: make_jpeg(16, 8, b"\x40\x50\x60"), parse_jpeg),
    "jpeg420": (
        lambda: make_jpeg(19, 21, b"\x40\x50\x60", subsampling="420"),
        parse_jpeg,
    ),
    "jpeg_rst": (
        lambda: make_jpeg(24, 16, b"\x40\x50\x60", restart_interval=2),
        parse_jpeg,
    ),
    "jpeg_progressive": (
        lambda: make_progressive_jpeg(19, 21, b"\x40\x50\x60"),
        parse_jpeg,
    ),
    "png": (lambda: make_png(12, 9, b"\x11\x22\x33"), parse_png),
    "gif": (lambda: make_gif(14, 9, b"\x11\x22\x33", interlaced=True),
            parse_gif),
    "bmp": (lambda: make_bmp(10, 7, b"\x01\x02\x03"), parse_bmp_header),
    "pdf": (lambda: make_pdf(["line one text", "line two (x)"]),
            extract_pdf_text),
    "avro": (lambda: make_avro(
        {"type": "record", "name": "r", "fields": [
            {"name": "id", "type": "long"},
            {"name": "u", "type": "string"},
            {"name": "s", "type": ["null", "long"]}]},
        [[{"id": -5, "u": "a", "s": 9}], [{"id": 7, "u": "b", "s": None}]],
        codec="deflate"), parse_avro),
    "pbwire": (lambda: make_pb_log([
        {"ts": 9, "user": "u1", "delta": -3, "payload": b"xyz",
         "checksum": 7, "nested": 4},
        {"ts": 300, "user": "u2", "delta": 2, "payload": b"",
         "checksum": 9},
    ]), parse_pb_stream),
    "delta": (
        lambda: (
            make_commit([{"protocol": {"minReaderVersion": 1}},
                         {"add": {"path": "f0", "size": 10,
                                  "numRecords": 3, "dataChange": True}}])
            + "\n\n"
            + make_commit([{"remove": {"path": "f0"}},
                           {"add": {"path": "f1", "size": 20,
                                    "numRecords": 5}}])
        ).encode(),
        parse_delta_payload,
    ),
    "parquet": (lambda: make_parquet([[(i * 3 - 9, f"n{i % 4}")
                                       for i in range(12)],
                                      [(-(2**40) + i, "y" * (i % 3))
                                       for i in range(7)]]),
                parse_parquet),
    "snappy": (
        # a REAL snappy block: the first compressed page body of the
        # orders testdata (deterministic slice via its page header)
        lambda: _real_snappy_page(),
        snappy_decompress,
    ),
    "lz4": (
        lambda: __import__("pyarrow").Codec("lz4_raw").compress(
            b"abc abc abc repeated content " * 80, asbytes=True
        ),
        lz4_block_decompress,
    ),
    "zstd": (
        # a REAL zstd frame (pyarrow reference encoder): Huffman
        # literals + FSE sequences, the full compressed-block path
        lambda: __import__("pyarrow").Codec("zstd").compress(
            b"the quick brown fox jumps " * 120, asbytes=True
        ),
        zstd_decompress,
    ),
    "parquet_column": (
        lambda: open("/root/testdata/sf0.001/orders.parquet",
                     "rb").read(),
        lambda b: read_int64_column(b, 0, "o_orderkey"),
    ),
    "parquet_strcol": (
        lambda: open("/root/testdata/sf0.001/orders.parquet",
                     "rb").read(),
        lambda b: read_string_column(b, 0, "o_orderstatus"),
    ),
    "parquet_footer": (
        lambda: open("/root/testdata/sf0.001/region.parquet", "rb").read(),
        parse_parquet_footer,
    ),
    "tar": (lambda: make_tar([("a.txt", b"abc"), ("b", b"d" * 700)]),
            parse_tar),
    "zip": (lambda: make_zip([("a.txt", b"abc"), ("b", b"d" * 700)]),
            parse_zip),
    "warc": (
        lambda: make_warc(
            [("u", b"<p>x</p>")], gzip_records=True
        ),
        parse_warc,
    ),
    "roaring64": (
        lambda: __import__(
            "hainan_big_data_recommend_system_spark.operators.roaring",
            fromlist=["roaring64_serialize"],
        ).roaring64_serialize(
            sorted(set(list(range(64)) + [2**33 + i * 3
                                          for i in range(300)]))
        ),
        lambda b: __import__(
            "hainan_big_data_recommend_system_spark.operators.roaring",
            fromlist=["roaring64_deserialize"],
        ).roaring64_deserialize(b),
    ),
    "deletion_vector": (
        lambda: __import__(
            "hainan_big_data_recommend_system_spark.operators.deltalog",
            fromlist=["make_deletion_vector"],
        ).make_deletion_vector(list(range(0, 5000, 7))),
        lambda b: __import__(
            "hainan_big_data_recommend_system_spark.operators.deltalog",
            fromlist=["decode_deletion_vector"],
        ).decode_deletion_vector(b),
    ),
    # parquet bloom filter: hand-built thrift BloomFilterHeader
    # (numBytes=64, BLOCK/XXHASH/UNCOMPRESSED unions) + 64-byte bitset
    "bloom_filter": (
        lambda: (
            b"\x15" + bytes([0x80, 0x01])
            + b"\x1c\x1c\x00\x00" * 3 + b"\x00" + bytes(64)
        ),
        lambda b: __import__(
            "hainan_big_data_recommend_system_spark.operators.bloom",
            fromlist=["read_bloom_filter"],
        ).read_bloom_filter(lambda off, ln: b[off : off + ln], 0),
    ),
}


def _mutate(b: bytes, rng: random.Random) -> bytes:
    buf = bytearray(b)
    op = rng.randrange(3)
    if op == 0 and len(buf) > 1:  # flip random bytes
        for _ in range(rng.randrange(1, 8)):
            buf[rng.randrange(len(buf))] = rng.randrange(256)
    elif op == 1:  # truncate anywhere
        buf = buf[: rng.randrange(len(buf))]
    else:  # splice junk anywhere
        i = rng.randrange(len(buf))
        buf[i:i] = bytes(
            rng.randrange(256) for _ in range(rng.randrange(1, 16))
        )
    return bytes(buf)


@pytest.mark.parametrize("name", sorted(CASES))
def test_decoder_only_raises_valueerror_under_fuzz(name):
    make, decode = CASES[name]
    payload = make()
    rng = random.Random(1234)  # seeded: deterministic regression, not CI dice
    for _ in range(300):
        m = _mutate(payload, rng)
        try:
            decode(m)
        except ValueError:
            pass  # the contract
        # any other exception type propagates and fails the test
