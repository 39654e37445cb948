"""Pure-Python Brotli (RFC 7932) decoder + fixture encoders.

Brotli is the remaining wire codec of the public web-corpus pipeline:
Common Crawl WARC response records carry ``Content-Encoding: br``
HTTP payloads, and ``.jsonl.br`` shards exist in the wild. Spark has
no JVM brotli codec, so the payload-COLUMN path (decompression inside
an Arrow kernel) needs a from-scratch decoder the same way the zstd /
LZ4 tiers do (sources/zstd_codec.py, sources/lz4_codec.py).

Wire-table provenance (the r7 lesson: grep the system libraries
before transcribing ANY table from memory — two successive memory
transcriptions of zstd's ML defaults were wrong):

- the 122,784-byte static dictionary ships beside this module as
  ``brotli_dictionary.bin.zlib``, BINARY-EXTRACTED from the system
  libbrotlicommon 1.0.9 via ``BrotliGetDictionary`` and gated at load
  on the SHA-256 that RFC 7932 Appendix A publishes
  (20e42eb1b511c21806d4d227d07e5dd06877d8ce7b3a817f378f313653f35c70);
- ``_TRANSFORMS`` (the 121 word transforms of Appendix B) is the
  ``BrotliGetTransforms`` struct walked via ctypes, cross-validated
  entry-by-entry against ``BrotliTransformDictionaryWord`` in
  tests/test_brotli_codec.py;
- ``_CTX_UTF8`` / ``_CTX_SIGNED`` (section 7.1 literal-context
  lookups) are the third and fourth 512-byte blocks of the exported
  ``_kBrotliContextLookupTable``; the LSB6/MSB6 blocks are the
  computable identities and are computed here, so the only
  binary-trusted bytes are exactly the two non-derivable tables;
- ``_BLOCK_COUNT_EXTRA`` matches the exported
  ``_kBrotliPrefixCodeRanges``; all base columns (block count,
  insert, copy) are CUMULATIVE SUMS of the extra-bit columns and are
  computed at import, never transcribed.

Both directions are pinned against the in-container reference
(libbrotli 1.0.9) in tests/test_brotli_codec.py: libbrotli-encoded
streams at every quality/window decode byte-exactly here, and the
fixture encoders' streams (store, compressed, dictionary-transform)
decode byte-exactly under libbrotli.

Hardening follows the repo fuzz rules: header-declared lengths are
validated before any slice, output growth is bounded INSIDE the
decode loop by ``max_out`` (the FLAC lesson), and every malformed
stream raises ValueError — callers quarantine per row.

Reference analog: raw blob handling (src/common/lake.py:59-71) — the
reference stores opaque payloads; compressed-shard ingestion is
north-star surface per SURVEY §7.5.
"""

from __future__ import annotations

import base64
import hashlib
import zlib
from pathlib import Path

__all__ = [
    "brotli_decompress",
    "brotli_compress",
    "brotli_compress_store",
]

_MAX_OUT_DEFAULT = 1 << 27

# ----------------------------------------------------------------- tables

# RFC 7932 section 3.5 — code-length-code order and its fixed VLC,
# expressed as a 4-bit LSB-first peek LUT (value, nbits).
_CL_ORDER = (1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11, 12, 13, 14, 15)
_CL_VLC_VALUE = (0, 4, 3, 2, 0, 4, 3, 1, 0, 4, 3, 2, 0, 4, 3, 5)
_CL_VLC_NBITS = (2, 2, 2, 3, 2, 2, 2, 4, 2, 2, 2, 3, 2, 2, 2, 4)

# Section 5 — insert/copy length codes. Bases are cumulative sums of
# the extra-bit spans (insert starts at 0, copy at 2), computed below.
_INSERT_EXTRA = (0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5,
                 6, 7, 8, 9, 10, 12, 14, 24)
_COPY_EXTRA = (0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4,
               5, 5, 6, 7, 8, 9, 10, 24)


def _cumulative(extras: tuple[int, ...], start: int) -> tuple[int, ...]:
    out, base = [], start
    for e in extras:
        out.append(base)
        base += 1 << e
    return tuple(out)


_INSERT_BASE = _cumulative(_INSERT_EXTRA, 0)
_COPY_BASE = _cumulative(_COPY_EXTRA, 2)

# Section 5 — the 11 x 64 insert-and-copy cell layout.
_CMD_INSERT_RANGE = (0, 0, 8, 8, 0, 16, 8, 16, 16)
_CMD_COPY_RANGE = (0, 8, 0, 8, 16, 0, 16, 8, 16)

# Section 6 — block count code (26 symbols); extras match the
# exported _kBrotliPrefixCodeRanges, bases cumulative from 1.
_BLOCK_COUNT_EXTRA = (2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5,
                      6, 6, 7, 8, 9, 10, 11, 12, 13, 24)
_BLOCK_COUNT_BASE = _cumulative(_BLOCK_COUNT_EXTRA, 1)

# Section 4 — distance short codes over the newest-first ring buffer.
_DIST_SHORT_IDX = (0, 1, 2, 3, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1)
_DIST_SHORT_OFF = (0, 0, 0, 0, -1, 1, -2, 2, -3, 3, -1, 1, -2, 2, -3, 3)

# Section 7.1 — literal context lookups. LSB6/MSB6 are identities;
# UTF8/Signed are binary-extracted (see module docstring). Each block
# is lut0 (256 bytes, indexed by p1) then lut1 (256 bytes, p2);
# context id = lut0[p1] | lut1[p2].
_CTX_UTF8 = base64.b64decode(
    "AAAAAAAAAAAABAQAAAQAAAAAAAAAAAAAAAAAAAAAAAAIDBAMDBQMEBgcDAwgDCQM"
    "LCwsLCwsLCwsLCAgGCgcDAwwNDQ0MDQ0NDA0NDQ0NDA0NDQ0NDA0NDQ0NBgMHAwM"
    "DDg8PDw4PDw8ODw8PDw8ODw8PDw8ODw8PDw8GAwcDAAAAQABAAEAAQABAAEAAQAB"
    "AAEAAQABAAEAAQABAAEAAQABAAEAAQABAAEAAQABAAEAAQABAAEAAQABAAEAAQAB"
    "AgMCAwIDAgMCAwIDAgMCAwIDAgMCAwIDAgMCAwIDAgMCAwIDAgMCAwIDAgMCAwID"
    "AgMCAwIDAgMCAwIDAgMCAwAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"
    "AAEBAQEBAQEBAQEBAQEBAQICAgICAgICAgIBAQEBAQEBAgICAgICAgICAgICAgIC"
    "AgICAgICAgICAgIBAQEBAQEDAwMDAwMDAwMDAwMDAwMDAwMDAwMDAwMDAwEBAQEA"
    "AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"
    "AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"
    "AgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgI=")
_CTX_SIGNED = base64.b64decode(
    "AAgICAgICAgICAgICAgICBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQ"
    "EBAQEBAQEBAQEBAQEBAQEBgYGBgYGBgYGBgYGBgYGBgYGBgYGBgYGBgYGBgYGBgY"
    "GBgYGBgYGBgYGBgYGBgYGBgYGBgYGBgYGBgYGBgYGBggICAgICAgICAgICAgICAg"
    "ICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAg"
    "KCgoKCgoKCgoKCgoKCgoKCgoKCgoKCgoKCgoKCgoKCgoKCgoKCgoKCgoKCgoKCgo"
    "MDAwMDAwMDAwMDAwMDAwOAABAQEBAQEBAQEBAQEBAQECAgICAgICAgICAgICAgIC"
    "AgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgIDAwMDAwMDAwMDAwMDAwMD"
    "AwMDAwMDAwMDAwMDAwMDAwMDAwMDAwMDAwMDAwMDAwMDAwMDAwMDAwMDAwMDAwMD"
    "BAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQE"
    "BAQEBAQEBAQEBAQEBAQEBAUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUF"
    "BQUFBQUFBQUFBQUFBQUFBQYGBgYGBgYGBgYGBgYGBgc=")
if len(_CTX_UTF8) != 512 or len(_CTX_SIGNED) != 512:
    raise ImportError("brotli: context lookup tables are corrupt")


def _context_lut(mode: int) -> bytes:
    if mode == 0:  # LSB6
        return bytes(i & 0x3F for i in range(256)) + bytes(256)
    if mode == 1:  # MSB6
        return bytes(i >> 2 for i in range(256)) + bytes(256)
    if mode == 2:
        return _CTX_UTF8
    return _CTX_SIGNED


_CONTEXT_LUTS = tuple(_context_lut(m) for m in range(4))

# Section 8 / Appendix B — the 121 dictionary word transforms as
# (prefix, kind, suffix), walked out of BrotliGetTransforms. Kinds:
# 0 identity, 1..9 omit-last-N, 10 uppercase-first, 11 uppercase-all,
# 12..20 omit-first-(kind-11).
_TRANSFORMS = (
    (b'', 0, b''),
    (b'', 0, b' '),
    (b' ', 0, b' '),
    (b'', 12, b''),
    (b'', 10, b' '),
    (b'', 0, b' the '),
    (b' ', 0, b''),
    (b's ', 0, b' '),
    (b'', 0, b' of '),
    (b'', 10, b''),
    (b'', 0, b' and '),
    (b'', 13, b''),
    (b'', 1, b''),
    (b', ', 0, b' '),
    (b'', 0, b', '),
    (b' ', 10, b' '),
    (b'', 0, b' in '),
    (b'', 0, b' to '),
    (b'e ', 0, b' '),
    (b'', 0, b'"'),
    (b'', 0, b'.'),
    (b'', 0, b'">'),
    (b'', 0, b'\n'),
    (b'', 3, b''),
    (b'', 0, b']'),
    (b'', 0, b' for '),
    (b'', 14, b''),
    (b'', 2, b''),
    (b'', 0, b' a '),
    (b'', 0, b' that '),
    (b' ', 10, b''),
    (b'', 0, b'. '),
    (b'.', 0, b''),
    (b' ', 0, b', '),
    (b'', 15, b''),
    (b'', 0, b' with '),
    (b'', 0, b"'"),
    (b'', 0, b' from '),
    (b'', 0, b' by '),
    (b'', 16, b''),
    (b'', 17, b''),
    (b' the ', 0, b''),
    (b'', 4, b''),
    (b'', 0, b'. The '),
    (b'', 11, b''),
    (b'', 0, b' on '),
    (b'', 0, b' as '),
    (b'', 0, b' is '),
    (b'', 7, b''),
    (b'', 1, b'ing '),
    (b'', 0, b'\n\t'),
    (b'', 0, b':'),
    (b' ', 0, b'. '),
    (b'', 0, b'ed '),
    (b'', 20, b''),
    (b'', 18, b''),
    (b'', 6, b''),
    (b'', 0, b'('),
    (b'', 10, b', '),
    (b'', 8, b''),
    (b'', 0, b' at '),
    (b'', 0, b'ly '),
    (b' the ', 0, b' of '),
    (b'', 5, b''),
    (b'', 9, b''),
    (b' ', 10, b', '),
    (b'', 10, b'"'),
    (b'.', 0, b'('),
    (b'', 11, b' '),
    (b'', 10, b'">'),
    (b'', 0, b'="'),
    (b' ', 0, b'.'),
    (b'.com/', 0, b''),
    (b' the ', 0, b' of the '),
    (b'', 10, b"'"),
    (b'', 0, b'. This '),
    (b'', 0, b','),
    (b'.', 0, b' '),
    (b'', 10, b'('),
    (b'', 10, b'.'),
    (b'', 0, b' not '),
    (b' ', 0, b'="'),
    (b'', 0, b'er '),
    (b' ', 11, b' '),
    (b'', 0, b'al '),
    (b' ', 11, b''),
    (b'', 0, b"='"),
    (b'', 11, b'"'),
    (b'', 10, b'. '),
    (b' ', 0, b'('),
    (b'', 0, b'ful '),
    (b' ', 10, b'. '),
    (b'', 0, b'ive '),
    (b'', 0, b'less '),
    (b'', 11, b"'"),
    (b'', 0, b'est '),
    (b' ', 10, b'.'),
    (b'', 11, b'">'),
    (b' ', 0, b"='"),
    (b'', 10, b','),
    (b'', 0, b'ize '),
    (b'', 11, b'.'),
    (b'\xc2\xa0', 0, b''),
    (b' ', 0, b','),
    (b'', 10, b'="'),
    (b'', 11, b'="'),
    (b'', 0, b'ous '),
    (b'', 11, b', '),
    (b'', 10, b"='"),
    (b' ', 10, b','),
    (b' ', 11, b'="'),
    (b' ', 11, b', '),
    (b'', 11, b','),
    (b'', 11, b'('),
    (b'', 11, b'. '),
    (b' ', 11, b'.'),
    (b'', 11, b"='"),
    (b' ', 11, b'. '),
    (b' ', 10, b'="'),
    (b' ', 11, b"='"),
    (b' ', 10, b"='"),
)
if len(_TRANSFORMS) != 121:
    raise ImportError("brotli: transform table is corrupt")

# Appendix A — dictionary word sizes per length (extracted; lengths
# 4..24 are populated). Offsets are cumulative, computed at load.
_DICT_SIZE_BITS = (0, 0, 0, 0, 10, 10, 11, 11, 10, 10, 10, 10, 10, 9, 9,
                   8, 7, 7, 8, 7, 7, 6, 6, 5, 5)
_DICT_SHA256 = "20e42eb1b511c21806d4d227d07e5dd06877d8ce7b3a817f378f313653f35c70"
_DICT_OFFSETS: list[int] = []
_off = 0
for _len, _bits in enumerate(_DICT_SIZE_BITS):
    _DICT_OFFSETS.append(_off)
    if _bits:
        _off += _len << _bits

_dict_data: bytes | None = None


def _dictionary() -> bytes:
    global _dict_data
    if _dict_data is None:
        raw = (Path(__file__).parent / "brotli_dictionary.bin.zlib").read_bytes()
        data = zlib.decompress(raw)
        if hashlib.sha256(data).hexdigest() != _DICT_SHA256:
            raise ValueError("brotli: embedded dictionary corrupt")
        _dict_data = data
    return _dict_data


def _ferment(buf: bytearray, pos: int) -> int:
    """Uppercase one UTF-8 'character' in place (section 8)."""
    c = buf[pos]
    if c < 192:
        if 97 <= c <= 122:
            buf[pos] ^= 32
        return 1
    if c < 224:
        if pos + 1 < len(buf):
            buf[pos + 1] ^= 32
        return 2
    if pos + 2 < len(buf):
        buf[pos + 2] ^= 5
    return 3


def _transform_word(word: bytes, transform_id: int) -> bytes:
    prefix, kind, suffix = _TRANSFORMS[transform_id]
    w = bytearray(word)
    if 1 <= kind <= 9:  # omit last N
        w = w[: max(0, len(w) - kind)]
    elif kind >= 12:  # omit first N
        n = kind - 11
        w = w[n:] if n < len(w) else bytearray()
    if kind == 10 and w:
        _ferment(w, 0)
    elif kind == 11:
        i = 0
        while i < len(w):
            i += _ferment(w, i)
    return prefix + bytes(w) + suffix


# ------------------------------------------------------------- bit reader


class _Bits:
    """LSB-first bit reader over bytes."""

    __slots__ = ("data", "pos", "total")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.total = len(data) * 8

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        pos = self.pos
        if pos + n > self.total:
            raise ValueError("brotli: truncated stream")
        lo = pos >> 3
        v = int.from_bytes(self.data[lo: (pos + n + 7) >> 3], "little")
        self.pos = pos + n
        return (v >> (pos & 7)) & ((1 << n) - 1)

    def peek(self, n: int) -> int:
        pos = self.pos
        lo = pos >> 3
        v = int.from_bytes(self.data[lo: (pos + n + 7) >> 3], "little")
        return (v >> (pos & 7)) & ((1 << n) - 1)

    def skip(self, n: int) -> None:
        if self.pos + n > self.total:
            raise ValueError("brotli: truncated stream")
        self.pos += n

    def align_zero(self) -> None:
        """Advance to the next byte boundary; pad bits must be zero."""
        while self.pos & 7:
            if self.read(1):
                raise ValueError("brotli: nonzero padding bits")

    def byte_pos(self) -> int:
        return self.pos >> 3


# --------------------------------------------------------------- huffman


class _Huff:
    """Prefix-code decoder: single-level LUT indexed by the next
    max_len raw (LSB-first) bits; canonical codes are bit-reversed
    into the index the way the wire carries them."""

    __slots__ = ("max_len", "lut", "const")

    def __init__(self, lengths: list[int], symbols: list[int] | None = None,
                 *, what: str = "code") -> None:
        # lengths[i] pairs with symbols[i] (appearance order drives
        # canonical assignment); symbols defaults to 0..n-1.
        if symbols is None:
            symbols = list(range(len(lengths)))
        used = [(ln, s) for ln, s in zip(lengths, symbols) if ln > 0]
        if not used:
            raise ValueError(f"brotli: empty {what}")
        self.const = None
        max_len = max(ln for ln, _ in used)
        if max_len > 15:
            raise ValueError(f"brotli: {what} length over 15")
        # completeness (Kraft equality) — RFC requires complete codes
        space = sum(1 << (max_len - ln) for ln, _ in used)
        if space != (1 << max_len):
            raise ValueError(f"brotli: incomplete {what}")
        self.max_len = max_len
        lut: list[tuple[int, int]] = [(0, 0)] * (1 << max_len)
        code = 0
        for ln in range(1, max_len + 1):
            for ulen, sym in used:
                if ulen != ln:
                    continue
                rev = 0
                c = code
                for _ in range(ln):
                    rev = (rev << 1) | (c & 1)
                    c >>= 1
                step = 1 << ln
                for k in range(rev, 1 << max_len, step):
                    lut[k] = (sym, ln)
                code += 1
            code <<= 1
        self.lut = lut

    @classmethod
    def single(cls, symbol: int) -> "_Huff":
        h = cls.__new__(cls)
        h.max_len = 0
        h.lut = []
        h.const = symbol
        return h

    def read(self, br: _Bits) -> int:
        if self.const is not None:
            return self.const
        sym, ln = self.lut[br.peek(self.max_len)]
        if ln == 0:
            raise ValueError("brotli: invalid prefix code word")
        br.skip(ln)
        return sym


def _read_cl_symbol(br: _Bits) -> int:
    idx = br.peek(4)
    v = _CL_VLC_VALUE[idx]
    br.skip(_CL_VLC_NBITS[idx])
    return v


_SIMPLE_LENGTHS = {1: [0], 2: [1, 1], 3: [1, 2, 2]}


def _read_prefix_code(br: _Bits, alphabet_size: int) -> _Huff:
    """Section 3 — simple or complex prefix-code description."""
    alphabet_bits = max(1, (alphabet_size - 1).bit_length())
    hskip = br.read(2)
    if hskip == 1:  # simple code
        nsym = br.read(2) + 1
        syms = []
        for _ in range(nsym):
            s = br.read(alphabet_bits)
            if s >= alphabet_size:
                raise ValueError("brotli: simple-code symbol out of range")
            if s in syms:
                raise ValueError("brotli: duplicate simple-code symbol")
            syms.append(s)
        if nsym == 1:
            return _Huff.single(syms[0])
        if nsym == 2:
            syms.sort()
            lens = [1, 1]
        elif nsym == 3:
            if syms[1] > syms[2]:
                syms[1], syms[2] = syms[2], syms[1]
            lens = [1, 2, 2]
        else:
            if br.read(1):  # tree select: skewed
                if syms[2] > syms[3]:
                    syms[2], syms[3] = syms[3], syms[2]
                lens = [1, 2, 3, 3]
            else:
                syms.sort()
                lens = [2, 2, 2, 2]
        return _Huff(lens, syms)

    # complex code: code lengths for the code-length alphabet first
    cl_lens = [0] * 18
    space = 32
    num_codes = 0
    for i in range(hskip, 18):
        v = _read_cl_symbol(br)
        cl_lens[_CL_ORDER[i]] = v
        if v:
            space -= 32 >> v
            num_codes += 1
            if space <= 0:
                break
    if num_codes == 1:
        single = next(s for s, ln in enumerate(cl_lens) if ln)
        cl_code = _Huff.single(single)
    elif space != 0:
        raise ValueError("brotli: corrupt code-length code")
    else:
        cl_code = _Huff([cl_lens[s] for s in range(18)], what="cl code")

    lengths = [0] * alphabet_size
    symbol = 0
    prev_len = 8
    repeat = 0
    repeat_len = -1
    space = 1 << 15
    while symbol < alphabet_size and space > 0:
        v = cl_code.read(br)
        if v < 16:
            lengths[symbol] = v
            symbol += 1
            repeat = 0
            repeat_len = -1
            if v:
                prev_len = v
                space -= (1 << 15) >> v
        else:
            extra = v - 14
            new_len = prev_len if v == 16 else 0
            if repeat_len != new_len:
                repeat = 0
                repeat_len = new_len
            old = repeat
            if repeat > 0:
                repeat = (repeat - 2) << extra
            repeat += br.read(extra) + 3
            delta = repeat - old
            if symbol + delta > alphabet_size:
                raise ValueError("brotli: repeat past alphabet end")
            for _ in range(delta):
                lengths[symbol] = new_len
                symbol += 1
            if new_len:
                space -= delta << (15 - new_len)
        # degenerate single-symbol cl code over value 0 never shrinks
        # space; the symbol < alphabet_size bound still terminates
    if space != 0:
        raise ValueError("brotli: incomplete symbol code")
    return _Huff(lengths)


def _read_256_code(br: _Bits) -> int:
    """Section 6 — the 1..256 variable-length value."""
    if br.read(1) == 0:
        return 1
    k = br.read(3)
    return (1 << k) + 1 + br.read(k)


def _read_context_map(br: _Bits, n_trees: int, size: int) -> bytes:
    """Section 7.3 — RLE-of-zeros + prefix code + inverse MTF."""
    if n_trees == 1:
        return bytes(size)
    rlemax = 0
    if br.read(1):
        rlemax = br.read(4) + 1
    code = _read_prefix_code(br, rlemax + n_trees)
    cmap = bytearray()
    while len(cmap) < size:
        sym = code.read(br)
        if sym == 0:
            cmap.append(0)
        elif sym <= rlemax:
            run = (1 << sym) + br.read(sym)
            if len(cmap) + run > size:
                raise ValueError("brotli: context-map run overflow")
            cmap.extend(bytes(run))
        else:
            cmap.append(sym - rlemax)
    if br.read(1):  # inverse move-to-front
        mtf = list(range(256))
        for i, v in enumerate(cmap):
            x = mtf[v]
            cmap[i] = x
            if v:
                del mtf[v]
                mtf.insert(0, x)
    if any(v >= n_trees for v in cmap):
        raise ValueError("brotli: context-map value out of range")
    return bytes(cmap)


def _read_block_count(br: _Bits, code: _Huff) -> int:
    sym = code.read(br)
    if sym >= 26:
        raise ValueError("brotli: block-count symbol out of range")
    return _BLOCK_COUNT_BASE[sym] + br.read(_BLOCK_COUNT_EXTRA[sym])


def _read_window_bits(br: _Bits) -> int:
    if br.read(1) == 0:
        return 16
    n = br.read(3)
    if n:
        return 17 + n
    n = br.read(3)
    if n == 0:
        return 17
    if n == 1:
        raise ValueError("brotli: reserved window-bits pattern")
    return 8 + n


# ---------------------------------------------------------------- decoder


def brotli_decompress(data: bytes, *, max_out: int = _MAX_OUT_DEFAULT) -> bytes:
    """Decode one Brotli stream (RFC 7932). Raises ValueError on any
    malformed input; output growth is bounded by `max_out` inside the
    decode loop."""
    if not data:
        raise ValueError("brotli: empty input")
    br = _Bits(data)
    wbits = _read_window_bits(br)
    window = (1 << wbits) - 16
    out = bytearray()
    dist_rb = [4, 11, 15, 16]

    while True:
        islast = br.read(1)
        if islast and br.read(1):  # ISLASTEMPTY
            break
        mnibbles = br.read(2)
        if mnibbles == 3:  # metadata meta-block
            if islast:
                raise ValueError("brotli: metadata block marked last")
            if br.read(1):
                raise ValueError("brotli: reserved metadata bit set")
            nbytes = br.read(2)
            skip = 0
            for i in range(nbytes):
                b = br.read(8)
                if i == nbytes - 1 and nbytes > 1 and b == 0:
                    raise ValueError("brotli: zero high byte in MSKIPLEN")
                skip |= b << (8 * i)
            if nbytes:
                skip += 1
            br.align_zero()
            if br.byte_pos() + skip > len(data):
                raise ValueError("brotli: metadata skip past end")
            br.skip(skip * 8)
            continue
        nib = 4 + mnibbles
        mlen = br.read(4 * nib) + 1
        if mnibbles > 0 and (mlen - 1) >> (4 * (nib - 1)) == 0:
            raise ValueError("brotli: non-minimal MNIBBLES")
        if len(out) + mlen > max_out:
            raise ValueError("brotli: output exceeds bound")

        if not islast and br.read(1):  # ISUNCOMPRESSED
            br.align_zero()
            start = br.byte_pos()
            if start + mlen > len(data):
                raise ValueError("brotli: uncompressed block past end")
            out += data[start: start + mlen]
            br.skip(mlen * 8)
            continue

        # ---- compressed meta-block header
        nbltypes = [0, 0, 0]
        btype = [0, 0, 0]
        btype_prev = [1, 1, 1]
        btype_codes: list[_Huff | None] = [None, None, None]
        bcount_codes: list[_Huff | None] = [None, None, None]
        bcount = [1 << 60, 1 << 60, 1 << 60]
        for cat in range(3):
            n = _read_256_code(br)
            nbltypes[cat] = n
            if n >= 2:
                btype_codes[cat] = _read_prefix_code(br, n + 2)
                bcount_codes[cat] = _read_prefix_code(br, 26)
                bcount[cat] = _read_block_count(br, bcount_codes[cat])
        npostfix = br.read(2)
        ndirect = br.read(4) << npostfix
        postfix_mask = (1 << npostfix) - 1
        modes = [br.read(2) for _ in range(nbltypes[0])]
        ntreesl = _read_256_code(br)
        cmap_l = _read_context_map(br, ntreesl, 64 * nbltypes[0])
        ntreesd = _read_256_code(br)
        cmap_d = _read_context_map(br, ntreesd, 4 * nbltypes[2])
        lit_codes = [_read_prefix_code(br, 256) for _ in range(ntreesl)]
        cmd_codes = [_read_prefix_code(br, 704) for _ in range(nbltypes[1])]
        dist_alpha = 16 + ndirect + (48 << npostfix)
        dist_codes = [_read_prefix_code(br, dist_alpha)
                      for _ in range(ntreesd)]

        def _switch(cat: int) -> None:
            code = btype_codes[cat]
            sym = code.read(br)
            if sym == 0:
                new = btype_prev[cat]
            elif sym == 1:
                new = (btype[cat] + 1) % nbltypes[cat]
            else:
                new = sym - 2
            btype_prev[cat] = btype[cat]
            btype[cat] = new
            bcount[cat] = _read_block_count(br, bcount_codes[cat])

        # ---- meta-block body
        remaining = mlen
        while remaining > 0:
            if bcount[1] == 0:
                _switch(1)
            bcount[1] -= 1
            cmd = cmd_codes[btype[1]].read(br)
            cell = cmd >> 6
            implicit = cell < 2
            if not implicit:
                cell -= 2
            ins_code = _CMD_INSERT_RANGE[cell] + ((cmd >> 3) & 7)
            cpy_code = _CMD_COPY_RANGE[cell] + (cmd & 7)
            ilen = _INSERT_BASE[ins_code] + br.read(_INSERT_EXTRA[ins_code])
            clen = _COPY_BASE[cpy_code] + br.read(_COPY_EXTRA[cpy_code])
            if ilen > remaining:
                raise ValueError("brotli: insert length exceeds meta-block")
            mode_lut = _CONTEXT_LUTS[modes[btype[0]]] if nbltypes[0] else None
            for _ in range(ilen):
                if bcount[0] == 0:
                    _switch(0)
                    mode_lut = _CONTEXT_LUTS[modes[btype[0]]]
                bcount[0] -= 1
                p1 = out[-1] if out else 0
                p2 = out[-2] if len(out) >= 2 else 0
                ctx = mode_lut[p1] | mode_lut[256 + p2]
                tree = lit_codes[cmap_l[(btype[0] << 6) + ctx]]
                out.append(tree.read(br))
            remaining -= ilen
            if remaining <= 0:
                break

            max_dist = min(len(out), window)
            if implicit:
                dcode = 0
                distance = dist_rb[0]
            else:
                if bcount[2] == 0:
                    _switch(2)
                bcount[2] -= 1
                dctx = clen - 2 if clen <= 4 else 3
                tree = dist_codes[cmap_d[(btype[2] << 2) + dctx]]
                dcode = tree.read(br)
                if dcode < 16:
                    distance = (dist_rb[_DIST_SHORT_IDX[dcode]]
                                + _DIST_SHORT_OFF[dcode])
                    if distance <= 0:
                        raise ValueError("brotli: non-positive distance")
                elif dcode < 16 + ndirect:
                    distance = dcode - 16 + 1
                else:
                    x = dcode - ndirect - 16
                    ndistbits = 1 + (x >> (npostfix + 1))
                    if ndistbits > 24:
                        raise ValueError("brotli: distance bits overflow")
                    extra = br.read(ndistbits)
                    hcode = x >> npostfix
                    lcode = x & postfix_mask
                    offset = ((2 + (hcode & 1)) << ndistbits) - 4
                    distance = (((offset + extra) << npostfix)
                                + lcode + ndirect + 1)

            if distance > max_dist:
                # static dictionary reference (section 8)
                if not (4 <= clen <= 24) or _DICT_SIZE_BITS[clen] == 0:
                    raise ValueError("brotli: bad dictionary copy length")
                address = distance - max_dist - 1
                nwords = 1 << _DICT_SIZE_BITS[clen]
                word_idx = address & (nwords - 1)
                transform_id = address >> _DICT_SIZE_BITS[clen]
                if transform_id >= 121:
                    raise ValueError("brotli: transform id out of range")
                base = _DICT_OFFSETS[clen] + word_idx * clen
                word = _dictionary()[base: base + clen]
                piece = _transform_word(word, transform_id)
                if len(piece) > remaining:
                    raise ValueError("brotli: dictionary word exceeds block")
                out += piece
                remaining -= len(piece)
                # ring buffer NOT updated for dictionary references
            else:
                if clen > remaining:
                    raise ValueError("brotli: copy length exceeds meta-block")
                start = len(out) - distance
                for _ in range(clen):
                    out.append(out[start])
                    start += 1
                remaining -= clen
                if dcode != 0:
                    dist_rb[3] = dist_rb[2]
                    dist_rb[2] = dist_rb[1]
                    dist_rb[1] = dist_rb[0]
                    dist_rb[0] = distance
        if islast:
            break

    br.align_zero()
    if br.byte_pos() != len(data):
        raise ValueError("brotli: trailing data after final meta-block")
    return bytes(out)


# ------------------------------------------------------- fixture encoders


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        if n and value >> n:
            raise ValueError("brotli encoder: value exceeds bit width")
        self.acc |= value << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def align(self) -> None:
        if self.nbits:
            self.buf.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0

    def getvalue(self) -> bytes:
        self.align()
        return bytes(self.buf)


def _write_window_bits(bw: _BitWriter, wbits: int) -> None:
    if wbits == 16:
        bw.write(0, 1)
    elif 18 <= wbits <= 24:
        bw.write(1, 1)
        bw.write(wbits - 17, 3)
    elif wbits == 17:
        bw.write(1, 1)
        bw.write(0, 3)
        bw.write(0, 3)
    elif 10 <= wbits <= 15:
        bw.write(1, 1)
        bw.write(0, 3)
        bw.write(wbits - 8, 3)
    else:
        raise ValueError("brotli encoder: bad window bits")


def _write_mlen(bw: _BitWriter, mlen: int) -> None:
    if not 1 <= mlen <= 1 << 24:
        raise ValueError("brotli encoder: bad meta-block length")
    nib = 4
    while (mlen - 1) >> (4 * nib):
        nib += 1
    bw.write(nib - 4, 2)
    bw.write(mlen - 1, 4 * nib)


def brotli_compress_store(data: bytes) -> bytes:
    """Uncompressed-meta-block encoding — the brotli analog of
    zstd_compress_store (valid RFC 7932 wire, zero compression)."""
    bw = _BitWriter()
    _write_window_bits(bw, 16)
    pos = 0
    while pos < len(data):
        chunk = data[pos: pos + (1 << 24)]
        pos += len(chunk)
        bw.write(0, 1)  # ISLAST = 0
        _write_mlen(bw, len(chunk))
        bw.write(1, 1)  # ISUNCOMPRESSED
        bw.align()
        bw.buf += chunk
    bw.write(1, 1)  # ISLAST
    bw.write(1, 1)  # ISLASTEMPTY
    return bw.getvalue()


def _huffman_lengths(freqs: dict[int, int], max_len: int) -> dict[int, int]:
    """Complete canonical code lengths (<= max_len) for >= 2 symbols,
    zlib-style overflow fixup preserving Kraft equality."""
    import heapq

    heap = [(f, i, (sym,)) for i, (sym, f) in enumerate(sorted(freqs.items()))]
    heapq.heapify(heap)
    lengths = {sym: 0 for sym in freqs}
    if len(heap) < 2:
        raise ValueError("brotli encoder: need >= 2 symbols")
    tick = len(heap)
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            lengths[s] += 1
        heapq.heappush(heap, (f1 + f2, tick, s1 + s2))
        tick += 1
    if max(lengths.values()) > max_len:
        # deflate-style rebalance (zlib trees.c gen_bitlen): clamp the
        # overflowed leaves to max_len, then repeatedly move one leaf
        # one level down to absorb an overflow pair — preserves Kraft
        # equality, which brotli prefix codes require.
        bl_count: dict[int, int] = {}
        overflow = 0
        for ln in lengths.values():
            c = min(ln, max_len)
            bl_count[c] = bl_count.get(c, 0) + 1
            if ln > max_len:
                overflow += 1
        while overflow > 0:
            bits = max_len - 1
            while bl_count.get(bits, 0) == 0:
                bits -= 1
            bl_count[bits] -= 1
            bl_count[bits + 1] = bl_count.get(bits + 1, 0) + 2
            bl_count[max_len] -= 1
            overflow -= 2
        order = sorted(lengths, key=lambda s: (-freqs[s], s))
        new_lens = sorted(
            ln for ln, cnt in bl_count.items() for _ in range(cnt))
        lengths = dict(zip(order, new_lens))
    if sum(1 << (max_len - ln) for ln in lengths.values()) != 1 << max_len:
        raise ValueError("brotli encoder: incomplete huffman code")
    return lengths


class _CanonEncoder:
    """Canonical codes (wire bit-reversed) from symbol->length."""

    def __init__(self, lengths: dict[int, int]) -> None:
        self.codes: dict[int, tuple[int, int]] = {}
        code = 0
        for ln in range(1, 16):
            for sym in sorted(s for s, l in lengths.items() if l == ln):
                rev = 0
                c = code
                for _ in range(ln):
                    rev = (rev << 1) | (c & 1)
                    c >>= 1
                self.codes[sym] = (rev, ln)
                code += 1
            code <<= 1

    def write(self, bw: _BitWriter, sym: int) -> None:
        rev, ln = self.codes[sym]
        bw.write(rev, ln)


def _write_cl_vlc(bw: _BitWriter, value: int) -> None:
    idx = _CL_VLC_VALUE.index(value)
    n = _CL_VLC_NBITS[idx]
    bw.write(idx & ((1 << n) - 1), n)


def _write_prefix_code(bw: _BitWriter, lengths: dict[int, int],
                       alphabet_size: int):
    """Emit a prefix-code description; returns the symbol encoder
    (None means single-symbol code: emit nothing per symbol)."""
    alphabet_bits = max(1, (alphabet_size - 1).bit_length())
    used = sorted(s for s, ln in lengths.items() if ln > 0)
    if len(lengths) == 1:
        used = list(lengths)
    if len(used) == 1:
        bw.write(1, 2)  # simple
        bw.write(0, 2)  # NSYM 1
        bw.write(used[0], alphabet_bits)
        return None
    if len(used) <= 4:
        shape = sorted(lengths[s] for s in used)
        bw.write(1, 2)
        bw.write(len(used) - 2 + 1, 2)
        if len(used) == 2:
            order = used
        elif len(used) == 3:
            order = sorted(used, key=lambda s: (lengths[s], s))
        else:
            if shape == [2, 2, 2, 2]:
                order = used
            else:  # [1, 2, 3, 3]
                order = sorted(used, key=lambda s: (lengths[s], s))
        for s in order:
            bw.write(s, alphabet_bits)
        if len(used) == 4:
            bw.write(0 if shape == [2, 2, 2, 2] else 1, 1)
        return _CanonEncoder({s: lengths[s] for s in used})

    # complex code: emit symbol lengths 0..last_used via the cl code
    last = max(used)
    seq: list[tuple[int, int]] = []  # (cl symbol, extra payload bits)

    sym = 0
    while sym <= last:
        ln = lengths.get(sym, 0)
        if ln == 0:
            gap = 0
            while sym <= last and lengths.get(sym, 0) == 0:
                gap += 1
                sym += 1
            while gap:
                if gap >= 3:
                    take = min(gap, 10)
                    seq.append((17, take - 3))
                    gap -= take
                    if gap:  # separate consecutive 17s (they would chain)
                        seq.append((0, -1))
                        gap -= 1
                else:
                    seq.append((0, -1))
                    gap -= 1
        else:
            run = 0
            while sym <= last and lengths.get(sym, 0) == ln:
                run += 1
                sym += 1
            seq.append((ln, -1))
            run -= 1
            while run:
                if run >= 3:
                    take = min(run, 6)
                    seq.append((16, take - 3))
                    run -= take
                    if run:  # avoid 16-16 chaining
                        seq.append((ln, -1))
                        run -= 1
                else:
                    seq.append((ln, -1))
                    run -= 1

    cl_freq: dict[int, int] = {}
    for v, _ in seq:
        cl_freq[v] = cl_freq.get(v, 0) + 1
    cl_lengths = _huffman_lengths(cl_freq, 5)
    bw.write(0, 2)  # HSKIP = 0
    space = 32
    for v in _CL_ORDER:
        _write_cl_vlc(bw, cl_lengths.get(v, 0))
        if cl_lengths.get(v, 0):
            space -= 32 >> cl_lengths[v]
            if space <= 0:
                break
    cl_enc = _CanonEncoder(cl_lengths)
    for v, extra in seq:
        cl_enc.write(bw, v)
        if v == 16:
            bw.write(extra, 2)
        elif v == 17:
            bw.write(extra, 3)
    return _CanonEncoder(lengths)


def _insert_code(ilen: int) -> int:
    for c in range(23, -1, -1):
        if ilen >= _INSERT_BASE[c]:
            return c
    raise ValueError("unreachable")


def _copy_code(clen: int) -> int:
    for c in range(23, -1, -1):
        if clen >= _COPY_BASE[c]:
            return c
    raise ValueError("unreachable")


def _cmd_symbol(ins_code: int, cpy_code: int) -> int:
    cell = next(j for j in range(9)
                if _CMD_INSERT_RANGE[j] == (ins_code & ~7)
                and _CMD_COPY_RANGE[j] == (cpy_code & ~7))
    return ((cell + 2) << 6) | ((ins_code & 7) << 3) | (cpy_code & 7)


def _dist_code_for(distance: int) -> tuple[int, int, int]:
    """(dcode, extra value, extra bits) with NPOSTFIX=0, NDIRECT=0."""
    for x in range(48):
        ndistbits = 1 + (x >> 1)
        base = ((2 + (x & 1)) << ndistbits) - 4 + 1
        if base <= distance < base + (1 << ndistbits):
            return 16 + x, distance - base, ndistbits
    raise ValueError("brotli encoder: distance out of range")


def brotli_compress(data: bytes, *, wbits: int = 22) -> bytes:
    """Real compressed-mode encoder: greedy hash-4 LZ77 over the
    stream-wide window, per-meta-block canonical prefix codes (simple
    for <= 4 distinct symbols, complex with repeat-coded lengths
    otherwise), explicit distance codes (NPOSTFIX=0, NDIRECT=0).
    Fixture-tier by design — correctness over ratio; libbrotli decodes
    its output byte-exactly (tests/test_brotli_codec.py)."""
    if not data:
        bw = _BitWriter()
        _write_window_bits(bw, wbits)
        bw.write(1, 1)
        bw.write(1, 1)
        return bw.getvalue()

    window = (1 << wbits) - 16
    table: dict[bytes, int] = {}
    bw = _BitWriter()
    _write_window_bits(bw, wbits)
    chunk_size = 1 << 18
    n_chunks = (len(data) + chunk_size - 1) // chunk_size
    for ci in range(n_chunks):
        lo = ci * chunk_size
        hi = min(len(data), lo + chunk_size)
        commands: list[tuple[bytes, int | None, int | None]] = []
        lit_start = lo
        pos = lo
        while pos < hi:
            key = data[pos: pos + 4]
            cand = table.get(key, -1) if len(key) == 4 else -1
            if len(key) == 4:
                table[key] = pos
            dist = pos - cand
            if cand >= 0 and dist <= min(pos, window):
                # extend the match (within this chunk's output budget)
                mlen = 4
                limit = min(hi - pos, (1 << 24) - 1)
                while (mlen < limit
                       and data[cand + mlen] == data[pos + mlen]):
                    mlen += 1
                step = min(mlen, 24593)
                commands.append((data[lit_start:pos], step, dist))
                for j in range(pos + 1, min(pos + step, hi - 3), 7):
                    table[data[j: j + 4]] = j
                pos += step
                lit_start = pos
                continue
            pos += 1
        if lit_start < hi:
            commands.append((data[lit_start:hi], None, None))
        body = _compress_commands_body(commands, wbits=wbits,
                                       base_pos=lo)
        last = ci == n_chunks - 1
        bw.write(1 if last else 0, 1)  # ISLAST
        if last:
            bw.write(0, 1)  # not ISLASTEMPTY
        _write_mlen(bw, hi - lo)
        if not last:
            bw.write(0, 1)  # ISUNCOMPRESSED = 0
        _emit_commands(bw, body)
    return bw.getvalue()


def _compress_commands_body(commands, *, wbits: int, base_pos: int):
    """Size + entropy-code a command list (no dictionary refs here;
    distances are real back-references, possibly into earlier
    meta-blocks)."""
    cmds = []
    lit_freq: dict[int, int] = {}
    cmd_freq: dict[int, int] = {}
    dist_freq: dict[int, int] = {}
    for lits, clen, dist in commands:
        ic = _insert_code(len(lits))
        cc = _copy_code(clen if clen is not None else 2)
        sym = _cmd_symbol(ic, cc)
        cmd_freq[sym] = cmd_freq.get(sym, 0) + 1
        for b in lits:
            lit_freq[b] = lit_freq.get(b, 0) + 1
        if dist is not None:
            dcode, dx, dxbits = _dist_code_for(dist)
            dist_freq[dcode] = dist_freq.get(dcode, 0) + 1
        else:
            dcode = dx = dxbits = -1
        cmds.append((sym,
                     len(lits) - _INSERT_BASE[ic], _INSERT_EXTRA[ic],
                     (clen if clen is not None else 2) - _COPY_BASE[cc],
                     _COPY_EXTRA[cc], lits, dcode, dx, dxbits))
    return cmds, lit_freq, cmd_freq, dist_freq


def _emit_commands(bw: _BitWriter, body) -> None:
    cmds, lit_freq, cmd_freq, dist_freq = body

    def _code_lengths(freqs: dict[int, int]) -> dict[int, int]:
        if not freqs:
            return {0: 0}
        if len(freqs) == 1:
            return {next(iter(freqs)): 0}
        return _huffman_lengths(freqs, 15)

    for _ in range(3):
        bw.write(0, 1)  # NBLTYPES = 1 each
    bw.write(0, 2)  # NPOSTFIX
    bw.write(0, 4)  # NDIRECT
    bw.write(0, 2)  # literal context mode LSB6
    bw.write(0, 1)  # NTREESL = 1
    bw.write(0, 1)  # NTREESD = 1
    lit_enc = _write_prefix_code(bw, _code_lengths(lit_freq), 256)
    cmd_enc = _write_prefix_code(bw, _code_lengths(cmd_freq), 704)
    dist_enc = _write_prefix_code(bw, _code_lengths(dist_freq), 64)
    for sym, ix, ixb, cx, cxb, lits, dcode, dx, dxbits in cmds:
        if cmd_enc is not None:
            cmd_enc.write(bw, sym)
        bw.write(ix, ixb)
        bw.write(cx, cxb)
        for b in lits:
            if lit_enc is not None:
                lit_enc.write(bw, b)
        if dcode >= 0:
            if dist_enc is not None:
                dist_enc.write(bw, dcode)
            bw.write(dx, dxbits)
