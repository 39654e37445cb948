"""Brotli (RFC 7932) codec validation.

Contract (the zstd/LZ4/VP8 discipline): the pure-Python decoder is
pinned BOTH directions against the in-container reference
implementation (libbrotli 1.0.9 via tests/libbrotli_oracle.py) —
reference-encoded streams at every quality/window decode byte-exactly
here, and this module's fixture encoders (store, greedy-LZ
compressed, hand-built command streams) decode byte-exactly under
libbrotli. Every binary-extracted wire table is re-extracted and
compared, and all 121 static-dictionary transforms are arbitrated by
the reference on hand-built dictionary-reference streams. A fuzz
gauntlet covers truncation, bit flips, and allocation bounds.
"""

from __future__ import annotations

import hashlib
import random

import pytest

from data_lake_skyfit_spark.sources import brotli_codec as bc
from data_lake_skyfit_spark.sources.brotli_codec import (
    _BitWriter,
    _COPY_BASE,
    _COPY_EXTRA,
    _DICT_OFFSETS,
    _DICT_SIZE_BITS,
    _INSERT_BASE,
    _INSERT_EXTRA,
    _cmd_symbol,
    _copy_code,
    _dictionary,
    _dist_code_for,
    _huffman_lengths,
    _insert_code,
    _transform_word,
    _write_mlen,
    _write_prefix_code,
    _write_window_bits,
    brotli_compress,
    brotli_compress_store,
    brotli_decompress,
)

try:
    from .libbrotli_oracle import load_brotli
except ImportError:  # pragma: no cover - direct pytest invocation
    from libbrotli_oracle import load_brotli


# Test-only fixture builder for the hand-built dictionary-transform goldens.
def _compress_commands(commands: list[tuple[bytes, int | None, int | None]],
                       *, wbits: int = 22) -> bytes:
    """Low-level fixture builder: one compressed meta-block from
    explicit (insert_literals, copy_len, distance) commands; distance
    None on the final command means the copy part is ignored
    (meta-block exhausted), distance > the position's max backward
    distance is a static-dictionary reference. This is how the
    dictionary-transform goldens are hand-built for libbrotli to
    arbitrate (the tests below)."""
    mlen = 0
    pos = 0
    window = (1 << wbits) - 16
    sized: list[tuple[bytes, int | None, int | None, int]] = []
    for lits, clen, dist in commands:
        mlen += len(lits)
        pos += len(lits)
        if dist is None:
            if clen is not None:
                raise ValueError("copy without distance must be final")
            sized.append((lits, None, None, 0))
            continue
        max_dist = min(pos, window)
        if dist > max_dist:  # dictionary word
            if not 4 <= clen <= 24 or _DICT_SIZE_BITS[clen] == 0:
                raise ValueError("bad dictionary copy length")
            address = dist - max_dist - 1
            tid = address >> _DICT_SIZE_BITS[clen]
            if tid >= 121:
                raise ValueError("transform id out of range")
            word_idx = address & ((1 << _DICT_SIZE_BITS[clen]) - 1)
            base = _DICT_OFFSETS[clen] + word_idx * clen
            word = _dictionary()[base: base + clen]
            out_len = len(_transform_word(word, tid))
        else:
            out_len = clen
        mlen += out_len
        pos += out_len
        sized.append((lits, clen, dist, out_len))

    lit_freq: dict[int, int] = {}
    cmd_freq: dict[int, int] = {}
    dist_freq: dict[int, int] = {}
    cmds = []
    for lits, clen, dist, _ in sized:
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

    def _code_lengths(freqs: dict[int, int]) -> dict[int, int]:
        if not freqs:
            return {0: 0}
        if len(freqs) == 1:
            return {next(iter(freqs)): 0}  # single-symbol simple code
        return _huffman_lengths(freqs, 15)

    bw = _BitWriter()
    _write_window_bits(bw, wbits)
    bw.write(1, 1)  # ISLAST
    bw.write(0, 1)  # not ISLASTEMPTY
    _write_mlen(bw, mlen)
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
        if dcode >= 0:  # explicit distance present on the wire
            if dist_enc is not None:
                dist_enc.write(bw, dcode)
            bw.write(dx, dxbits)
    return bw.getvalue()


_REF = load_brotli()

_RND = random.Random(0xB07)
CORPORA = [
    b"",
    b"a",
    b"the quick brown fox jumps over the lazy dog. " * 40,
    bytes(_RND.randrange(256) for _ in range(12_000)),
    b'{"url": "http://example.com/a", "text": "web text here"}\n' * 200,
    bytes(_RND.choice(b"abn") for _ in range(15_000)),
    "Unicode café 你好 привет ".encode() * 150,
]


# ------------------------------------------------------- table provenance


def test_dictionary_sha256_matches_rfc_appendix_a():
    data = bc._dictionary()
    assert len(data) == 122_784
    assert hashlib.sha256(data).hexdigest() == bc._DICT_SHA256


@pytest.mark.skipif(_REF is None, reason="libbrotli not present")
def test_embedded_tables_match_reference_binary():
    data, size_bits, offsets = _REF.dictionary()
    assert bc._dictionary() == data
    assert list(bc._DICT_SIZE_BITS) == size_bits[:25]
    assert bc._DICT_OFFSETS == offsets[:25]
    clt = _REF.context_lookup_table()
    assert bc._CTX_UTF8 == clt[1024:1536]
    assert bc._CTX_SIGNED == clt[1536:2048]
    # the LSB6/MSB6 blocks are computable identities — assert that too,
    # so the binary-trusted bytes are exactly the two extracted tables
    assert bytes(bc._CONTEXT_LUTS[0]) == clt[0:512]
    assert bytes(bc._CONTEXT_LUTS[1]) == clt[512:1024]
    assert list(zip(bc._BLOCK_COUNT_BASE, bc._BLOCK_COUNT_EXTRA)) == \
        _REF.prefix_code_ranges()
    assert list(bc._TRANSFORMS) == _REF.transforms()


@pytest.mark.skipif(_REF is None, reason="libbrotli not present")
def test_transform_application_matches_reference_function():
    words = [b"hello", b"caf\xc3\xa9 au lait", b"A", b"\xe4\xbd\xa0\xe5\xa5\xbd!",
             b"twentyfourbytedictionary"]
    for tid in range(121):
        for w in words:
            assert bc._transform_word(w, tid) == _REF.transform_word(w, tid), \
                (tid, w)


# ------------------------------------------------- reference cross-pins


@pytest.mark.skipif(_REF is None, reason="libbrotli not present")
def test_reference_encoded_streams_decode_bit_exactly():
    for quality in range(12):
        for lgwin in (10, 22, 24):
            for data in CORPORA:
                enc = _REF.compress(data, quality=quality, lgwin=lgwin)
                assert brotli_decompress(enc) == data, (quality, lgwin)


@pytest.mark.skipif(_REF is None, reason="libbrotli not present")
def test_reference_decodes_both_fixture_encoders():
    for data in CORPORA:
        store = brotli_compress_store(data)
        comp = brotli_compress(data)
        bound = max(64, 2 * len(data))
        assert _REF.decompress(store, max_out=bound) == data
        assert _REF.decompress(comp, max_out=bound) == data
        assert brotli_decompress(store) == data
        assert brotli_decompress(comp) == data


@pytest.mark.skipif(_REF is None, reason="libbrotli not present")
def test_all_121_transforms_reference_arbitrated():
    """Hand-built command streams referencing each transform id; the
    reference decoder arbitrates prefix/omit/ferment behavior."""
    for tid in range(121):
        for clen, widx in ((5, 100), (8, 7), (24, 3)):
            dist = 8 + 1 + (tid << bc._DICT_SIZE_BITS[clen]) + widx
            stream = _compress_commands(
                [(b"01234567", clen, dist), (b"tail", None, None)])
            mine = brotli_decompress(stream)
            ref = _REF.decompress(stream)
            assert mine == ref, (tid, clen)


@pytest.mark.skipif(_REF is None, reason="libbrotli not present")
def test_metadata_blocks_skip_convention():
    """Craft metadata meta-blocks by hand; libbrotli arbitrates the
    MSKIPLEN +1 convention and the byte-alignment rule."""
    for skip_len in (0, 1, 7, 255, 300):
        bw = bc._BitWriter()
        bc._write_window_bits(bw, 16)
        bw.write(0, 1)   # ISLAST = 0
        bw.write(3, 2)   # MNIBBLES pattern 11 -> metadata
        bw.write(0, 1)   # reserved
        if skip_len == 0:
            bw.write(0, 2)
        else:
            nbytes = (max(skip_len - 1, 1).bit_length() + 7) // 8
            bw.write(nbytes, 2)
            bw.write(skip_len - 1, 8 * nbytes)
        bw.align()
        bw.buf += b"\xaa" * skip_len
        # then one real block
        bw.write(0, 1)
        bc._write_mlen(bw, 5)
        bw.write(1, 1)  # ISUNCOMPRESSED
        bw.align()
        bw.buf += b"hello"
        bw.write(1, 1)
        bw.write(1, 1)
        stream = bw.getvalue()
        assert brotli_decompress(stream) == b"hello", skip_len
        assert _REF.decompress(stream) == b"hello", skip_len


def test_store_roundtrip_and_empty():
    for data in CORPORA:
        assert brotli_decompress(brotli_compress_store(data)) == data
    assert brotli_decompress(brotli_compress(b"")) == b""


def test_compression_is_real():
    data = b'{"repeated": "json shard line with text"}\n' * 2000
    comp = brotli_compress(data)
    assert len(comp) < len(data) // 10
    assert brotli_decompress(comp) == data


def test_multi_metablock_boundary():
    rnd = random.Random(5)
    for n in ((1 << 18) - 1, 1 << 18, (1 << 18) + 1):
        data = bytes(rnd.randrange(256) for _ in range(n))
        assert brotli_decompress(brotli_compress_store(data)) == data


# ---------------------------------------------------------------- fuzz


def test_output_bound_enforced():
    data = b"x" * 100_000
    comp = brotli_compress(data)
    with pytest.raises(ValueError):
        brotli_decompress(comp, max_out=50_000)
    store = brotli_compress_store(data)
    with pytest.raises(ValueError):
        brotli_decompress(store, max_out=50_000)


def test_fuzz_truncations_and_bitflips():
    rnd = random.Random(42)
    base = brotli_compress(
        b'the quick brown fox jumps over the lazy dog. ' * 60)
    reference = brotli_decompress(base)
    for cut in range(0, len(base), max(1, len(base) // 40)):
        try:
            brotli_decompress(base[:cut])
        except ValueError:
            pass  # must raise, never hang or crash differently
    for _ in range(300):
        flipped = bytearray(base)
        flipped[rnd.randrange(len(base))] ^= 1 << rnd.randrange(8)
        try:
            out = brotli_decompress(bytes(flipped), max_out=1 << 22)
            assert len(out) <= 1 << 22
        except ValueError:
            pass


def test_fuzz_junk_prefixes():
    rnd = random.Random(9)
    for _ in range(200):
        junk = bytes(rnd.randrange(256) for _ in range(rnd.randrange(1, 64)))
        try:
            out = brotli_decompress(junk, max_out=1 << 22)
            assert len(out) <= 1 << 22
        except ValueError:
            pass


def test_empty_input_rejected():
    with pytest.raises(ValueError):
        brotli_decompress(b"")
