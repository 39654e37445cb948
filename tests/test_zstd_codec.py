"""Zstandard codec (sources/zstd_codec.py) — wire pinned against the
system libzstd 1.5.4 in BOTH directions, plus fuzz/bounding and the
Spark shard surfaces."""

import ctypes
import ctypes.util
import random
import struct

import pytest

from data_lake_skyfit_spark.sources.zstd_codec import (
    _LL_DEFAULT,
    _ML_DEFAULT,
    _OF_DEFAULT,
    zstd_compress,
    zstd_compress_store,
    zstd_decompress,
)


def _load_ref():
    try:
        lib = ctypes.CDLL(ctypes.util.find_library("zstd") or "libzstd.so.1")
    except OSError:
        return None
    lib.ZSTD_compress.restype = ctypes.c_size_t
    lib.ZSTD_compress.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p, ctypes.c_size_t,
        ctypes.c_int,
    ]
    lib.ZSTD_decompress.restype = ctypes.c_size_t
    lib.ZSTD_decompress.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p, ctypes.c_size_t,
    ]
    lib.ZSTD_isError.restype = ctypes.c_uint
    return lib


_REF = _load_ref()


def _ref_compress(data: bytes, level: int) -> bytes:
    buf = ctypes.create_string_buffer(len(data) + 1024)
    r = _REF.ZSTD_compress(buf, len(buf), data, len(data), level)
    assert not _REF.ZSTD_isError(r)
    return buf.raw[:r]


def _ref_decompress(z: bytes, n: int) -> bytes:
    buf = ctypes.create_string_buffer(max(n, 1))
    r = _REF.ZSTD_decompress(buf, max(n, 1), z, len(z))
    if _REF.ZSTD_isError(r):
        raise ValueError("reference rejected payload")
    return buf.raw[:r]


def _corpus():
    rnd = random.Random(3)
    words = ["alpha", "beta", "gamma", "delta", "the", "of", "and", "data",
             "lake", "spark"]
    return [
        ("text", (" ".join(rnd.choice(words) for _ in range(5000))).encode()),
        ("rep", b"abcabcabc" * 3000),
        ("rand", bytes(rnd.randrange(256) for _ in range(20000))),
        ("empty", b""),
        ("tiny", b"x"),
        ("rle", b"z" * 70000),
        ("semi", bytes((i * i) % 251 for i in range(50000))),
        ("jsonl", b"".join(
            b'{"id": %d, "text": "doc %d body %s"}\n'
            % (i, i, bytes([65 + i % 26]) * (i % 40))
            for i in range(3000)
        )),
        # > 128 KiB forces multi-block frames (treeless literal reuse
        # and repeat sequence tables at the higher levels)
        ("big", b"The quick brown fox jumps over the lazy dog. " * 10000),
    ]


# ---------------------------------------------------------------------------
# reference parity


@pytest.mark.skipif(_REF is None, reason="libzstd not present")
def test_reference_encoded_payloads_decode_bit_exactly():
    for name, data in _corpus():
        for level in (1, 3, 6, 9, 12, 19):
            z = _ref_compress(data, level)
            assert zstd_decompress(z) == data, (name, level)


@pytest.mark.skipif(_REF is None, reason="libzstd not present")
def test_reference_decodes_both_fixture_encoders():
    for name, data in _corpus():
        for enc in (zstd_compress_store, zstd_compress):
            z = enc(data)
            assert _ref_decompress(z, len(data)) == data, (name, enc.__name__)
            assert zstd_decompress(z) == data, (name, enc.__name__)


@pytest.mark.skipif(_REF is None, reason="libzstd not present")
def test_default_distributions_match_reference_binary():
    """The predefined FSE distributions shipped here must equal the
    int16 arrays inside libzstd.so.1 — the extraction that corrected
    two successive wrong memory transcriptions of ML_defaultNorm."""
    blob = open("/lib/x86_64-linux-gnu/libzstd.so.1", "rb").read()
    for tab in (_LL_DEFAULT, _ML_DEFAULT, _OF_DEFAULT):
        needle = struct.pack("<%dh" % len(tab), *tab)
        assert needle in blob


def test_compression_is_real():
    data = b"".join(
        b'{"id": %d, "text": "%s"}\n' % (i, bytes([65 + i % 26]) * 30)
        for i in range(2000)
    )
    z = zstd_compress(data)
    assert len(z) < len(data) // 3
    assert zstd_decompress(z) == data


# ---------------------------------------------------------------------------
# structure: skippable frames, multi-frame, bounds, fuzz


def test_skippable_and_multi_frame():
    a = zstd_compress(b"hello hello hello hello ")
    skip = struct.pack("<II", 0x184D2A53, 5) + b"JUNK!"
    b = zstd_compress_store(b" world")
    assert zstd_decompress(skip + a + b + skip) == b"hello hello hello hello  world"


def test_output_bound_enforced_before_allocation():
    # an RLE bomb: 4 GiB declared through chained RLE blocks must trip
    # the bound LONG before materializing anything
    # fhd 0x00 (no single-segment, no fcs) + window descriptor byte
    frame = bytearray(struct.pack("<I", 0xFD2FB528)) + b"\x00\x70"
    for i in range(40):
        last = 1 if i == 39 else 0
        bh = last | (1 << 1) | (100_000 << 3)
        frame += struct.pack("<I", bh)[:3] + b"A"
    with pytest.raises(ValueError, match="bound"):
        zstd_decompress(bytes(frame), max_out=1_000_000)
    # declared frame content size above the cap trips immediately
    big = zstd_compress_store(b"x" * 10_000)
    with pytest.raises(ValueError, match="bound"):
        zstd_decompress(big, max_out=100)


def test_dictionaries_rejected():
    frame = struct.pack("<I", 0xFD2FB528) + bytes([0x21, 7]) + b"\x01\x00\x00"
    with pytest.raises(ValueError, match="dictionar"):
        zstd_decompress(frame)


def test_fuzz_truncations_and_bitflips():
    """Every truncation point and a byte-flip sweep: clean ValueError
    or a (different) successful decode — never a hang, never a foreign
    exception, never unbounded growth."""
    base = zstd_compress(
        b"".join(b"line %d: the quick brown fox\n" % i for i in range(200))
    )
    for cut in range(0, len(base), 7):
        try:
            zstd_decompress(base[:cut], max_out=1 << 20)
        except ValueError:
            pass
    rnd = random.Random(11)
    for _ in range(300):
        b = bytearray(base)
        b[rnd.randrange(len(b))] ^= 1 << rnd.randrange(8)
        try:
            zstd_decompress(bytes(b), max_out=1 << 20)
        except ValueError:
            pass
    for junk in (b"", b"\x00" * 8, b"(\xb5/\xfd" + b"\xff" * 20):
        with pytest.raises(ValueError):
            zstd_decompress(junk or b"\x01")


# ---------------------------------------------------------------------------
# Spark surfaces


def test_spark_reads_zst_json_files_natively(spark, tmp_path):
    """The file-level path needs no Python codec: Spark's JVM zstd
    reads .jsonl.zst directly (the Dolma/RedPajama layout)."""
    p = tmp_path / "part-0.jsonl.zst"
    p.write_bytes(zstd_compress(b'{"a": 1}\n{"a": 2}\n{"a": 3}\n'))
    rows = spark.read.json(str(p)).collect()
    assert sorted(r["a"] for r in rows) == [1, 2, 3]


def test_read_zst_jsonl_lines_and_quarantine(spark):
    from data_lake_skyfit_spark.sources.zstd_shards import read_compressed_jsonl_lines

    good = zstd_compress(b"alpha\nbeta\ngamma\n")
    corrupt = good[:4] + b"\xff" * 10  # zstd magic, garbage frame
    rows = spark.createDataFrame(
        [
            (1, bytearray(good)),
            (2, bytearray(corrupt)),
            (3, bytearray(b"plain\njsonl")),  # no magic -> passthrough
        ],
        "doc_id long, payload binary",
    )
    got = {
        (r["doc_id"], r["line_idx"]): r["line"]
        for r in read_compressed_jsonl_lines(rows).collect()
    }
    assert got[(1, 0)] == "alpha" and got[(1, 2)] == "gamma"
    assert got[(2, -1)].startswith("error:")
    assert got[(3, 0)] == "plain" and got[(3, 1)] == "jsonl"


def test_read_tar_zst_members(spark):
    from data_lake_skyfit_spark.sources.webdataset import encode_tar
    from data_lake_skyfit_spark.sources.zstd_shards import read_tar_zst_members

    tar = encode_tar([("0001.txt", b"hello"), ("0001.json", b"{}")])
    rows = spark.createDataFrame(
        [(7, bytearray(zstd_compress(tar)))], "doc_id long, payload binary"
    )
    got = sorted(
        (r["name"], r["size"]) for r in read_tar_zst_members(rows).collect()
    )
    assert got == [("0001.json", 2), ("0001.txt", 5)]


def test_decompress_shard_seven_codec_contract():
    """r7b: the one-contract decode covers all seven wires — zstd/LZ4/
    gzip/bzip2/xz by magic, brotli by the explicit codec hint (its
    stream is headerless), plain bytes passed through; every path
    bounded by max_out and multistream concatenations looped."""
    import bz2
    import gzip
    import lzma

    from data_lake_skyfit_spark.sources.brotli_codec import brotli_compress
    from data_lake_skyfit_spark.sources.zstd_shards import decompress_shard

    data = b'{"doc": "shard line content"}\n' * 400
    assert decompress_shard(zstd_compress(data)) == data
    assert decompress_shard(gzip.compress(data)) == data
    assert decompress_shard(bz2.compress(data)) == data
    assert decompress_shard(lzma.compress(data, format=lzma.FORMAT_XZ)) == data
    assert decompress_shard(brotli_compress(data), codec="br") == data
    assert decompress_shard(data) == data  # plain passthrough
    # multistream concatenation (the Wikipedia-dump bz2 convention)
    assert decompress_shard(
        bz2.compress(data[:5000]) + bz2.compress(data[5000:])) == data
    assert decompress_shard(
        lzma.compress(data[:5000], format=lzma.FORMAT_XZ)
        + lzma.compress(data[5000:], format=lzma.FORMAT_XZ)) == data
    # bounds enforced inside the loops
    for blob, kw in ((bz2.compress(data), {}),
                     (lzma.compress(data, format=lzma.FORMAT_XZ), {}),
                     (brotli_compress(data), {"codec": "br"})):
        with pytest.raises(ValueError):
            decompress_shard(blob, max_out=100, **kw)
    # junk with valid magics raises, never hangs
    for junk in (b"BZh9" + b"\x00" * 50, b"\xfd7zXZ\x00" + b"\xff" * 50):
        with pytest.raises(ValueError):
            decompress_shard(junk)
    with pytest.raises(ValueError):
        decompress_shard(data, codec="nope")
