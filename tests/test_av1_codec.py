"""AV1 OBU/bitstream-layer tests, arbitrated against the container's
five AV1 reference implementations (tests/libav1_oracle.py).

The r9 tier covers OBU framing, sequence headers, intra frame
headers and tile-group framing; every structural fact the parser
reports (dimensions, bit depth, subsampling, CodedLossless) is
checked against what the reference encoders produced and the
reference decoders report.  The symbol-decode tier extends these
tests in later rounds.
"""

from __future__ import annotations

import numpy as np
import pytest

from data_lake_skyfit_spark.llm import av1
from data_lake_skyfit_spark.llm.av1 import _Bits, _tile_log2

from . import libav1_oracle


# Test-only tile splitter (the structure walk keeps tile groups whole).
def tile_group_ranges(tile_data: bytes, fh: dict) -> list[bytes]:
    """§5.11.1: split one tile-group payload into per-tile byte
    strings (tile_start_and_end_present + le(TileSizeBytes) sizes)."""
    n_tiles = fh["tile_cols"] * fh["tile_rows"]
    b = _Bits(tile_data)
    if n_tiles > 1:
        if b.f(1):  # tile_start_and_end_present
            b.f(2 * _tile_log2(1, n_tiles))  # tg_start / tg_end
    b.byte_align()
    i = b.pos >> 3
    out = []
    sz_bytes = fh["tile_size_bytes"]
    for t in range(n_tiles):
        if t == n_tiles - 1:
            out.append(tile_data[i:])
            break
        sz = int.from_bytes(tile_data[i : i + sz_bytes], "little") + 1
        i += sz_bytes
        if i + sz > len(tile_data):
            raise ValueError("av1: tile size overruns tile group")
        out.append(tile_data[i : i + sz])
        i += sz
    return out


_AOM = libav1_oracle.load_aom()
_DAV1D = libav1_oracle.load_dav1d()
_GAV1 = libav1_oracle.load_gav1()
_RAV1E = libav1_oracle.load_rav1e()

needs_aom = pytest.mark.skipif(_AOM is None, reason="libaom absent")
needs_all = pytest.mark.skipif(
    None in (_AOM, _DAV1D, _GAV1, _RAV1E), reason="AV1 libraries absent")


def _planes(seed: int, w: int, h: int):
    rng = np.random.default_rng(seed)
    return (rng.integers(0, 256, (h, w), dtype=np.uint8).tobytes(),
            rng.integers(0, 256, ((h + 1) // 2, (w + 1) // 2),
                         dtype=np.uint8).tobytes(),
            rng.integers(0, 256, ((h + 1) // 2, (w + 1) // 2),
                         dtype=np.uint8).tobytes())


@needs_all
def test_reference_environment_agrees():
    """The arbitration env itself: aom-lossless round-trips exactly
    through all THREE reference decoders; rav1e streams decode
    identically everywhere."""
    y, cb, cr = _planes(1, 64, 48)
    s = _AOM.encode(64, 48, y, cb, cr, lossless=True)
    for dec in (_DAV1D, _GAV1, _AOM):
        got = dec.decode(s)[0]
        assert got[0] == 64 and got[1] == 48
        assert got[2] == y and got[3] == cb and got[4] == cr
    s2 = _RAV1E.encode(64, 48, y, cb, cr)
    outs = [dec.decode(s2)[0] for dec in (_DAV1D, _GAV1, _AOM)]
    assert outs[0] == outs[1] == outs[2]


@needs_aom
@pytest.mark.parametrize("w,h", [(32, 32), (16, 16), (96, 80), (20, 12),
                                 (130, 66), (256, 192)])
@pytest.mark.parametrize("lossless", [True, False])
def test_aom_stream_headers_parse(w, h, lossless):
    y, cb, cr = _planes(w + h, w, h)
    s = _AOM.encode(w, h, y, cb, cr, lossless=lossless)
    info = av1.parse_av1_stream(s)
    fh, sq = info["frame"], info["seq"]
    assert (fh["width"], fh["height"]) == (w, h)
    assert sq["bit_depth"] == 8
    assert (sq["subsampling_x"], sq["subsampling_y"]) == (1, 1)
    assert not sq["monochrome"]
    assert fh["coded_lossless"] == int(lossless)
    assert fh["frame_type"] == 0 and fh["show_frame"] == 1
    assert info["tile_data"], "frame carries a tile group"
    tiles = tile_group_ranges(info["tile_data"][0], fh)
    assert len(tiles) == fh["tile_cols"] * fh["tile_rows"]
    assert all(len(t) > 0 for t in tiles)


@pytest.mark.skipif(_RAV1E is None, reason="rav1e absent")
@pytest.mark.parametrize("w,h", [(32, 32), (64, 48), (130, 66)])
@pytest.mark.parametrize("q", [0, 80, 200])
def test_rav1e_stream_headers_parse(w, h, q):
    """rav1e writes reduced still-picture headers WITH segmentation
    enabled — a different wire shape than aom's (found the missing
    disable_frame_end_update_cdf bit and the su() sign convention)."""
    y, cb, cr = _planes(w * h + q, w, h)
    s = _RAV1E.encode(w, h, y, cb, cr, quantizer=q)
    info = av1.parse_av1_stream(s)
    fh, sq = info["frame"], info["seq"]
    assert (fh["width"], fh["height"]) == (w, h)
    assert sq["reduced_still_picture_header"] == 1
    assert sq["still_picture"] == 1
    assert fh["coded_lossless"] == 0  # rav1e has no lossless path


def test_obu_walk_rejections():
    with pytest.raises(ValueError, match="forbidden"):
        av1.split_obus(b"\x80\x00")
    with pytest.raises(ValueError, match="reserved"):
        av1.split_obus(b"\x13\x00")
    with pytest.raises(ValueError, match="overruns"):
        av1.split_obus(b"\x12\x7f")  # size 127 > remaining 0
    with pytest.raises(ValueError, match="leb128"):
        av1.split_obus(b"\x12" + b"\xff" * 9)
    with pytest.raises(ValueError, match="no frame"):
        av1.parse_av1_stream(b"\x12\x00")


@needs_aom
def test_corrupted_header_raises_not_hangs():
    y, cb, cr = _planes(3, 32, 32)
    s = bytearray(_AOM.encode(32, 32, y, cb, cr, lossless=True))
    rng = np.random.default_rng(7)
    raised = 0
    for _ in range(300):
        mut = bytearray(s)
        for _ in range(rng.integers(1, 5)):
            mut[rng.integers(0, min(len(mut), 40))] = rng.integers(0, 256)
        try:
            av1.parse_av1_stream(bytes(mut))
        except ValueError:
            raised += 1
    assert raised > 0


@pytest.mark.skipif(_RAV1E is None, reason="rav1e absent")
@pytest.mark.parametrize("chroma,profile,mono,sub", [
    (1, 2, 0, (1, 0)),   # 4:2:2 → Professional profile
    (2, 1, 0, (0, 0)),   # 4:4:4 → High profile
    (3, 0, 1, (1, 1)),   # monochrome → Main profile, mono_chrome
])
def test_chroma_format_headers_parse(chroma, profile, mono, sub):
    """Every AV1 profile's color_config wire shape through the parser
    (rav1e's flat pixel-format API emits all four samplings; the
    enum values were probed BY EFFECT against the parsed headers)."""
    w, h = 32, 32
    rng = np.random.default_rng(chroma)
    y = rng.integers(0, 256, (h, w), dtype=np.uint8).tobytes()
    cw = w if chroma == 2 else w // 2
    chh = h if chroma == 1 else (h if chroma == 2 else h // 2)
    if chroma == 1:
        chh = h
    cb = bytes(cw * chh)
    cr = bytes(cw * chh)
    s = _RAV1E.encode(w, h, y, cb, cr, quantizer=80, chroma=chroma)
    info = av1.parse_av1_stream(s)
    sq = info["seq"]
    assert sq["profile"] == profile
    assert sq["monochrome"] == mono
    assert (sq["subsampling_x"], sq["subsampling_y"]) == sub
    assert (info["frame"]["width"], info["frame"]["height"]) == (w, h)
