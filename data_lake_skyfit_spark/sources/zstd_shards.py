"""Spark surface for zst-compressed shard payloads (sources tier).

`.zst` shards are how the big public LLM corpora ship (Dolma /
RedPajama jsonl.zst, tar.zst WebDataset variants). Whole FILES Spark
already handles (spark.read.json over .jsonl.zst — pinned in
tests/test_zstd_codec.py); these operators cover the payload-COLUMN
cases where decompression must happen inside the Arrow kernel:
a corpus row carrying a compressed shard, a composite container
holding zst members. Decode is the pure-Python sources/zstd_codec
(wire-pinned against libzstd) so executors need no native deps.

Scale: the scaffold's embarrassingly parallel explode
(functions/kernels.py) — one task per shard payload, nothing shuffles
except the rows the caller keeps. Bad and NULL payloads quarantine per
row (line_idx −1, error text) rather than failing the task (the
WARC/tar discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions import kernels
from .lz4_codec import lz4_decompress
from .zstd_codec import zstd_compress, zstd_compress_store, zstd_decompress

__all__ = [
    "decompress_shard",
    "read_compressed_jsonl_lines",
    "read_tar_zst_members",
    "synthesize_zst_jsonl_payloads",
]

_MAX_MEMBER = 1 << 27


def decompress_shard(payload: bytes, *, max_out: int = _MAX_MEMBER,
                     codec: str = "auto") -> bytes:
    """Magic-sniffed shard decompression — ONE contract serving every
    wire the public corpora use (the r4e WAV fmt-tag discipline):
    zstd (0xFD2FB528), LZ4 frame (0x184D2204), gzip (0x1F 0x8B, via
    stdlib zlib with growth bounded chunk-by-chunk), xz
    (FD '7zXZ' 00, stdlib lzma with chunked growth bounds), bzip2
    ('BZh' + level digit, stdlib bz2 likewise, multi-stream looped —
    the Wikipedia-dump convention), or already-plain bytes (returned
    as-is only when they are not a known magic).

    Brotli (RFC 7932) streams are HEADERLESS — no magic exists to
    sniff, so `.br` payloads are opt-in: pass ``codec='br'`` (callers
    know the extension). Everything else flows through ``'auto'``."""
    if codec == "br":
        from .brotli_codec import brotli_decompress

        return brotli_decompress(payload, max_out=max_out)
    if codec != "auto":
        raise ValueError(f"decompress_shard: unknown codec {codec!r}")
    if len(payload) >= 4:
        import struct

        magic = struct.unpack_from("<I", payload, 0)[0]
        if magic == 0xFD2FB528 or (magic & 0xFFFFFFF0) == 0x184D2A50:
            return zstd_decompress(payload, max_out=max_out)
        if magic == 0x184D2204:
            return lz4_decompress(payload, max_out=max_out)
    if payload[:6] == b"\xfd7zXZ\x00":
        import lzma

        out = bytearray()
        data = payload
        while data:
            d = lzma.LZMADecompressor(format=lzma.FORMAT_XZ)
            try:
                while not d.eof:
                    chunk = d.decompress(data, 1 << 20)
                    out += chunk
                    if len(out) > max_out:
                        raise ValueError("xz: output exceeds bound")
                    data = b""
                    if d.needs_input:
                        break
            except lzma.LZMAError as e:
                raise ValueError(f"xz: bad stream: {e}") from e
            if not d.eof:
                raise ValueError("xz: truncated stream")
            data = d.unused_data.lstrip(b"\x00")  # stream padding
        return bytes(out)
    if payload[:3] == b"BZh" and len(payload) > 3 and \
            0x31 <= payload[3] <= 0x39:
        import bz2

        out = bytearray()
        data = payload
        while data:
            d = bz2.BZ2Decompressor()
            try:
                while not d.eof:
                    chunk = d.decompress(data, 1 << 20)
                    out += chunk
                    if len(out) > max_out:
                        raise ValueError("bzip2: output exceeds bound")
                    data = b""
                    if d.needs_input:
                        break
            except OSError as e:
                raise ValueError(f"bzip2: bad stream: {e}") from e
            if not d.eof:
                raise ValueError("bzip2: truncated stream")
            data = d.unused_data  # multistream concatenation
        return bytes(out)
    if payload[:2] == b"\x1f\x8b":
        import zlib

        out = bytearray()
        data = payload
        while data:
            d = zlib.decompressobj(wbits=31)
            while True:
                chunk = d.decompress(data, 1 << 20)
                out += chunk
                if len(out) > max_out:
                    raise ValueError("gzip: output exceeds bound")
                data = d.unconsumed_tail
                if d.eof or not chunk:
                    break
            if not d.eof:
                raise ValueError("gzip: truncated stream")
            data = d.unused_data  # multi-member concatenation
        return bytes(out)
    return payload


def read_compressed_jsonl_lines(
    df: DataFrame, *, payload_col: str = "payload", id_col: str = "doc_id",
    codec_col: str | None = None,
) -> DataFrame:
    """(id, payload = compressed JSONL bytes, codec magic-sniffed) →
    one row per decompressed line: (id, line_idx, line, n_bytes).
    Malformed and NULL payloads yield a single quarantine row (line_idx
    −1, error in `line`). `codec_col` names an optional per-row codec hint
    column ('auto' or 'br') — needed for headerless brotli shards,
    where the extension, not a magic, identifies the wire."""

    def rows_of(payload, hint="auto") -> list[tuple]:
        raw = decompress_shard(bytes(payload), max_out=_MAX_MEMBER,
                               codec=str(hint or "auto"))
        return [
            (i, ln, len(ln.encode("utf-8")))
            for i, ln in enumerate(raw.decode("utf-8").splitlines())
        ]

    return kernels.explode(
        df,
        rows_of,
        [
            (id_col, T.LongType(), None),
            ("line_idx", T.IntegerType(), "int32"),
            ("line", T.StringType(), None),
            ("n_bytes", T.IntegerType(), "int32"),
        ],
        inputs=(payload_col,) + ((codec_col,) if codec_col else ()),
        errors=(ValueError, UnicodeDecodeError),
        quarantine=lambda e: (-1, f"error: {e}", 0),
    )


def read_tar_zst_members(
    df: DataFrame, *, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """(id, payload=tar.zst bytes) → the WebDataset member rows of
    sources/webdataset.read_tar_members, after in-kernel zstd; a payload
    that does not decompress quarantines like a malformed tar. The
    compressed-shard composition real multimodal corpora use."""
    from .webdataset import _member_rows

    return _member_rows(
        df, id_col, payload_col,
        lambda payload: zstd_decompress(bytes(payload), max_out=_MAX_MEMBER),
    )


def synthesize_zst_jsonl_payloads(
    df: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """Battery fixture: id → REAL jsonl.zst payload with a closed-form
    construction the oracle mirrors in pure arithmetic. Per id:
    nl = 4 + id % 7 lines; line j is the single byte
    (65 + (id + j) % 26) repeated (10 + (id*7 + j) % 23) times — byte
    sums/squares are integer closed forms, while the repeated content
    gives the LZ77 matchers real matches. The codec cycles with
    id % 7 — sequence-coded zstd (the predefined-FSE machine on the
    decode side), store-mode zstd (raw/RLE blocks), LZ4 frame, gzip,
    bzip2, xz, and brotli (greedy-LZ compressed mode, the RFC 7932
    decoder on the read side) — so all seven decode paths sit under
    the battery gate. Brotli is headerless (no magic to sniff), so the
    fixture also emits a `codec` hint column ('br' / 'auto') the
    reader forwards to decompress_shard — exactly the information a
    real ingest has from the shard filename extension."""

    import bz2
    import gzip
    import lzma

    from .brotli_codec import brotli_compress
    from .lz4_codec import lz4_compress

    encoders = (
        zstd_compress,
        zstd_compress_store,
        lz4_compress,
        lambda raw: gzip.compress(raw, mtime=0),  # deterministic
        bz2.compress,
        lambda raw: lzma.compress(raw, format=lzma.FORMAT_XZ),
        brotli_compress,
    )

    def encode(rid) -> tuple[bytes, str]:
        rid = int(rid)
        lines = [
            bytes([65 + (rid + j) % 26]) * (10 + (rid * 7 + j) % 23)
            for j in range(4 + rid % 7)
        ]
        raw = b"\n".join(lines) + b"\n"
        return encoders[rid % 7](raw), "br" if rid % 7 == 6 else "auto"

    return kernels.row_map(
        df,
        encode,
        [
            (id_col, T.LongType(), None),
            ("payload", T.BinaryType(), None),
            ("codec", T.StringType(), None),
        ],
        inputs=(id_col,),
    )
