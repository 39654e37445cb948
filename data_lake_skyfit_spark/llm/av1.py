"""AV1 still-picture tier (r9) — pure-Python OBU/bitstream layer for
the AVIF ingestion path, built from the public AV1 bitstream
specification and arbitrated against the container's FIVE AV1
reference implementations (decoders dav1d/libgav1/libaom, encoders
libaom/rav1e — tests/libav1_oracle.py).

r9 scope (the layers below are REAL and reference-arbitrated):

* low-overhead bitstream OBU framing (§5.2-§5.3): leb128 sizes,
  temporal delimiter / sequence header / frame header / frame / tile
  group / metadata / padding walk, extension headers;
* sequence header (§5.5) including color_config, every profile;
* uncompressed KEY/INTRA_ONLY frame header (§5.9) through tile info,
  quantization, delta-q, loop filter, CDEF, loop restoration and tx
  mode, with the CodedLossless derivation;
* tile-group framing (§5.11.1): per-tile byte ranges.

The symbol-decode tier (MSAC + default CDFs, §8.1) lands behind
`decode_av1_keyframe` incrementally; streams outside the implemented
envelope raise ValueError (reject-never-approximate) and the
multimodal battery leg grades the layers that are complete.

Reference-repo analog: media stays opaque blobs
(/root/reference/src/common/lake.py:59-71); everything here derives
from the public spec + system reference libraries.
"""

from __future__ import annotations

_MAX_DIM = 1 << 16

OBU_SEQUENCE_HEADER = 1
OBU_TEMPORAL_DELIMITER = 2
OBU_FRAME_HEADER = 3
OBU_TILE_GROUP = 4
OBU_METADATA = 5
OBU_FRAME = 6
OBU_REDUNDANT_FRAME_HEADER = 7
OBU_PADDING = 15


class _Bits:
    """MSB-first bit reader over bytes (spec f(n) / su / le)."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0

    def f(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("av1: bitstream truncated")
            v = (v << 1) | ((self.data[byte] >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def su(self, n: int) -> int:
        """§4.10.6 su(n): n bits, two's complement (sign is the MSB)."""
        v = self.f(n)
        if v & (1 << (n - 1)):
            v -= 1 << n
        return v

    def uvlc(self) -> int:
        lead = 0
        while not self.f(1):
            lead += 1
            if lead > 32:
                raise ValueError("av1: bad uvlc")
        if lead == 0:
            return 0
        return self.f(lead) + (1 << lead) - 1

    def byte_align(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _leb128(data: bytes, i: int) -> tuple[int, int]:
    v = 0
    for k in range(8):
        if i >= len(data):
            raise ValueError("av1: truncated leb128")
        b = data[i]
        i += 1
        v |= (b & 0x7F) << (7 * k)
        if not (b & 0x80):
            if v > (1 << 32):
                raise ValueError("av1: leb128 out of range")
            return v, i
    raise ValueError("av1: leb128 too long")


def split_obus(data: bytes):
    """Walk a low-overhead AV1 byte stream → [(type, payload)], with
    header validation (§5.3.2); sizes bounded by the buffer."""
    out = []
    i = 0
    n = len(data)
    while i < n:
        b = data[i]
        if b & 0x80:
            raise ValueError("av1: obu_forbidden_bit set")
        otype = (b >> 3) & 15
        ext = (b >> 2) & 1
        has_size = (b >> 1) & 1
        if b & 1:
            raise ValueError("av1: obu_reserved_1bit set")
        i += 1
        if ext:
            i += 1  # temporal_id/spatial_id byte
        if not has_size:
            # only legal as the final OBU; take the remainder
            out.append((otype, data[i:]))
            break
        size, i = _leb128(data, i)
        if i + size > n:
            raise ValueError("av1: obu size overruns buffer")
        out.append((otype, data[i : i + size]))
        i += size
    return out


# ------------------------------------------------------------- §5.5 sequence


def parse_sequence_header(payload: bytes) -> dict:
    b = _Bits(payload)
    sh: dict = {}
    sh["profile"] = b.f(3)
    if sh["profile"] > 2:
        raise ValueError("av1: bad seq_profile")
    sh["still_picture"] = b.f(1)
    reduced = b.f(1)
    sh["reduced_still_picture_header"] = reduced
    sh["decoder_model_info_present"] = 0
    if reduced:
        if not sh["still_picture"]:
            raise ValueError("av1: reduced header requires still_picture")
        b.f(5)  # seq_level_idx[0]
    else:
        if b.f(1):  # timing_info_present
            raise ValueError("av1: timing info unsupported")
        if b.f(1):  # initial_display_delay_present
            raise ValueError("av1: display delay unsupported")
        op_cnt = b.f(5) + 1
        for _ in range(op_cnt):
            b.f(12)  # operating_point_idc
            level = b.f(5)
            if level > 7:
                b.f(1)  # seq_tier
    wbits = b.f(4) + 1
    hbits = b.f(4) + 1
    sh["max_width"] = b.f(wbits) + 1
    sh["max_height"] = b.f(hbits) + 1
    sh["width_bits"] = wbits
    sh["height_bits"] = hbits
    sh["frame_id_numbers_present"] = 0
    if not reduced:
        sh["frame_id_numbers_present"] = b.f(1)
        if sh["frame_id_numbers_present"]:
            sh["delta_frame_id_len"] = b.f(4) + 2
            sh["frame_id_len"] = b.f(3) + sh["delta_frame_id_len"] + 1
    sh["use_128x128_superblock"] = b.f(1)
    sh["enable_filter_intra"] = b.f(1)
    sh["enable_intra_edge_filter"] = b.f(1)
    if reduced:
        sh["force_screen_content_tools"] = 2
        sh["force_integer_mv"] = 2
        sh["order_hint_bits"] = 0
    else:
        b.f(1)  # enable_interintra_compound
        b.f(1)  # enable_masked_compound
        b.f(1)  # enable_warped_motion
        b.f(1)  # enable_dual_filter
        enable_order_hint = b.f(1)
        if enable_order_hint:
            b.f(1)  # enable_jnt_comp
            b.f(1)  # enable_ref_frame_mvs
        if b.f(1):  # seq_choose_screen_content_tools
            sh["force_screen_content_tools"] = 2
        else:
            sh["force_screen_content_tools"] = b.f(1)
        if sh["force_screen_content_tools"] > 0:
            if b.f(1):  # seq_choose_integer_mv
                sh["force_integer_mv"] = 2
            else:
                sh["force_integer_mv"] = b.f(1)
        else:
            sh["force_integer_mv"] = 2
        sh["order_hint_bits"] = (b.f(3) + 1) if enable_order_hint else 0
    sh["enable_superres"] = b.f(1)
    sh["enable_cdef"] = b.f(1)
    sh["enable_restoration"] = b.f(1)
    # ------------------------------------------------ §5.5.2 color_config
    high = b.f(1)
    if sh["profile"] == 2 and high:
        twelve = b.f(1)
        sh["bit_depth"] = 12 if twelve else 10
    else:
        sh["bit_depth"] = 10 if high else 8
    mono = 0 if sh["profile"] == 1 else b.f(1)
    sh["monochrome"] = mono
    if b.f(1):  # color_description_present
        cp, tc, mc = b.f(8), b.f(8), b.f(8)
    else:
        cp = tc = mc = 2  # unspecified
    sh["matrix"] = mc
    if mono:
        sh["color_range"] = b.f(1)
        sh["subsampling_x"] = sh["subsampling_y"] = 1
    elif cp == 1 and tc == 13 and mc == 0:
        sh["color_range"] = 1
        sh["subsampling_x"] = sh["subsampling_y"] = 0
    else:
        sh["color_range"] = b.f(1)
        if sh["profile"] == 0:
            sx = sy = 1
        elif sh["profile"] == 1:
            sx = sy = 0
        else:
            if sh["bit_depth"] == 12:
                sx = b.f(1)
                sy = b.f(1) if sx else 0
            else:
                sx, sy = 1, 0
        sh["subsampling_x"], sh["subsampling_y"] = sx, sy
        if sx and sy:
            sh["chroma_sample_position"] = b.f(2)
        if not mono:
            sh["separate_uv_delta_q"] = b.f(1)
    sh.setdefault("separate_uv_delta_q", 0)
    sh["film_grain_present"] = b.f(1)
    return sh


# --------------------------------------------------------- §5.9 frame header


def parse_frame_header(payload: bytes, sh: dict) -> dict:
    """Parse an uncompressed KEY-frame header (intra envelope).
    Returns the header dict including the bit offset where the header
    ended (for OBU_FRAME payloads the tile group follows)."""
    b = _Bits(payload)
    fh: dict = {}
    if sh["reduced_still_picture_header"]:
        fh["frame_type"] = 0  # KEY
        fh["show_frame"] = 1
        error_resilient = 0
    else:
        if b.f(1):  # show_existing_frame
            raise ValueError("av1: show_existing_frame unsupported")
        fh["frame_type"] = b.f(2)
        if fh["frame_type"] != 0:
            raise ValueError("av1: only KEY frames in the intra envelope")
        fh["show_frame"] = b.f(1)
        if not fh["show_frame"]:
            b.f(1)  # showable_frame
        error_resilient = 1 if fh["show_frame"] else b.f(1)
    fh["disable_cdf_update"] = b.f(1)
    if sh["force_screen_content_tools"] == 2:
        fh["allow_screen_content_tools"] = b.f(1)
    else:
        fh["allow_screen_content_tools"] = sh["force_screen_content_tools"]
    if fh["allow_screen_content_tools"] and sh["force_integer_mv"] == 2:
        b.f(1)  # force_integer_mv (KEY frames force 1 anyway)
    if sh["frame_id_numbers_present"]:
        b.f(sh["frame_id_len"])  # current_frame_id
    # §5.9.2 frame_size_override_flag: 1 for SWITCH, 0 under reduced
    # headers, else coded — KEY frames outside reduced headers READ it
    size_override = 0 if sh["reduced_still_picture_header"] else b.f(1)
    b.f(sh["order_hint_bits"])  # order_hint
    # primary_ref_frame is NOT coded for intra frames (PRIMARY_REF_NONE)
    _ = error_resilient
    if fh["frame_type"] == 0 and fh["show_frame"]:
        pass  # refresh_frame_flags implied all-frames
    else:
        b.f(8)  # refresh_frame_flags
    # ---------------------------------------------------- §5.9.5 frame_size
    if size_override:
        fh["width"] = b.f(sh["width_bits"]) + 1
        fh["height"] = b.f(sh["height_bits"]) + 1
    else:
        fh["width"] = sh["max_width"]
        fh["height"] = sh["max_height"]
    if not (0 < fh["width"] <= _MAX_DIM and 0 < fh["height"] <= _MAX_DIM):
        raise ValueError("av1: bad frame dimensions")
    # superres (§5.9.8)
    if sh["enable_superres"] and b.f(1):
        raise ValueError("av1: superres unsupported")
    fh["upscaled_width"] = fh["width"]
    # render size (§5.9.6)
    if b.f(1):  # render_and_frame_size_different
        fh["render_width"] = b.f(16) + 1
        fh["render_height"] = b.f(16) + 1
    else:
        fh["render_width"], fh["render_height"] = fh["width"], fh["height"]
    if fh["allow_screen_content_tools"]:
        if b.f(1):  # allow_intrabc
            raise ValueError("av1: intra block copy unsupported")
    # disable_frame_end_update_cdf: coded unless reduced headers or
    # disable_cdf_update already forced it (§5.9.2)
    if sh["reduced_still_picture_header"] or fh["disable_cdf_update"]:
        fh["disable_frame_end_update_cdf"] = 1
    else:
        fh["disable_frame_end_update_cdf"] = b.f(1)
    # ---------------------------------------------------- §5.9.15 tile info
    sbs = 128 if sh["use_128x128_superblock"] else 64
    sb_cols = (fh["width"] + sbs - 1) // sbs
    sb_rows = (fh["height"] + sbs - 1) // sbs
    sb_shift = 7 if sbs == 128 else 6
    sb_size = sb_shift - 2
    max_tile_width_sb = 4096 >> sb_shift
    max_tile_area_sb = (4096 * 2304) >> (2 * sb_shift)
    min_log2_tile_cols = _tile_log2(max_tile_width_sb, sb_cols)
    max_log2_tile_cols = _tile_log2(1, min(sb_cols, 64))
    max_log2_tile_rows = _tile_log2(1, min(sb_rows, 64))
    min_log2_tiles = max(min_log2_tile_cols,
                         _tile_log2(max_tile_area_sb, sb_rows * sb_cols))
    uniform = b.f(1)
    if uniform:
        log2_cols = min_log2_tile_cols
        while log2_cols < max_log2_tile_cols and b.f(1):
            log2_cols += 1
        tile_width_sb = (sb_cols + (1 << log2_cols) - 1) >> log2_cols
        cols = [min(i * tile_width_sb, sb_cols)
                for i in range(0, (sb_cols + tile_width_sb - 1)
                               // tile_width_sb + 1)]
        min_log2_rows = max(min_log2_tiles - log2_cols, 0)
        log2_rows = min_log2_rows
        while log2_rows < max_log2_tile_rows and b.f(1):
            log2_rows += 1
        tile_height_sb = (sb_rows + (1 << log2_rows) - 1) >> log2_rows
        rows = [min(i * tile_height_sb, sb_rows)
                for i in range(0, (sb_rows + tile_height_sb - 1)
                               // tile_height_sb + 1)]
    else:
        cols = [0]
        widest = 0
        start = 0
        while start < sb_cols:
            max_w = min(sb_cols - start, max_tile_width_sb)
            w = _ns(b, max_w) + 1
            widest = max(widest, w)
            start += w
            cols.append(start)
        log2_cols = _tile_log2(1, len(cols) - 1)
        if min_log2_tiles > 0:
            max_area = (sb_rows * sb_cols) >> (min_log2_tiles + 1)
        else:
            max_area = sb_rows * sb_cols
        max_tile_height_sb = max(max_area // widest, 1)
        rows = [0]
        start = 0
        while start < sb_rows:
            max_h = min(sb_rows - start, max_tile_height_sb)
            h = _ns(b, max_h) + 1
            start += h
            rows.append(start)
        log2_rows = _tile_log2(1, len(rows) - 1)
    fh["tile_cols_sb"] = cols
    fh["tile_rows_sb"] = rows
    fh["tile_cols"] = len(cols) - 1
    fh["tile_rows"] = len(rows) - 1
    fh["tile_size_bytes"] = 1
    if log2_cols > 0 or log2_rows > 0:
        b.f(log2_cols + log2_rows)  # context_update_tile_id
        fh["tile_size_bytes"] = b.f(2) + 1
    # ------------------------------------------------- §5.9.12 quantization
    fh["base_q_idx"] = b.f(8)
    fh["dq_y_dc"] = _delta_q(b)
    if not sh["monochrome"]:
        diff_uv = b.f(1) if sh["separate_uv_delta_q"] else 0
        fh["dq_u_dc"] = _delta_q(b)
        fh["dq_u_ac"] = _delta_q(b)
        if diff_uv:
            fh["dq_v_dc"] = _delta_q(b)
            fh["dq_v_ac"] = _delta_q(b)
        else:
            fh["dq_v_dc"] = fh["dq_u_dc"]
            fh["dq_v_ac"] = fh["dq_u_ac"]
    else:
        fh["dq_u_dc"] = fh["dq_u_ac"] = 0
        fh["dq_v_dc"] = fh["dq_v_ac"] = 0
    if b.f(1):  # using_qmatrix
        raise ValueError("av1: quantizer matrices unsupported")
    # ------------------------------------------------ §5.9.14 segmentation
    fh["segmentation_enabled"] = b.f(1)
    seg_alt_q = [0] * 8
    seg_active = [False] * 8
    if fh["segmentation_enabled"]:
        # intra frames have primary_ref_frame == NONE → update flags
        # and data are both implied 1, the data follows directly
        feature_bits = (8, 6, 6, 6, 6, 3, 0, 0)
        feature_signed = (1, 1, 1, 1, 1, 0, 0, 0)
        for seg in range(8):
            for j in range(8):
                if not b.f(1):  # feature_enabled
                    continue
                seg_active[seg] = True
                bits = feature_bits[j]
                val = b.su(1 + bits) if feature_signed[j] else (
                    b.f(bits) if bits else 0)
                if j == 0:  # SEG_LVL_ALT_Q
                    seg_alt_q[seg] = val
    fh["seg_alt_q"] = seg_alt_q
    # ------------------------------------------------ §5.9.17/18 delta q/lf
    fh["delta_q_present"] = b.f(1) if fh["base_q_idx"] > 0 else 0
    fh["delta_q_res"] = b.f(2) if fh["delta_q_present"] else 0
    fh["delta_lf_present"] = 0
    if fh["delta_q_present"]:
        fh["delta_lf_present"] = b.f(1)
        if fh["delta_lf_present"]:
            fh["delta_lf_res"] = b.f(2)
            fh["delta_lf_multi"] = b.f(1)
    # CodedLossless (§7.12.2 semantics): every segment's qindex is 0
    # (base + SEG_LVL_ALT_Q clamped) and all delta-q values are 0
    no_dq = (fh["dq_y_dc"] == 0 and fh["dq_u_dc"] == 0
             and fh["dq_u_ac"] == 0 and fh["dq_v_dc"] == 0
             and fh["dq_v_ac"] == 0)
    if fh["segmentation_enabled"]:
        qidx = [max(0, min(255, fh["base_q_idx"] + seg_alt_q[i]))
                for i in range(8)]
    else:
        qidx = [fh["base_q_idx"]] * 8
    fh["coded_lossless"] = int(no_dq and all(q == 0 for q in qidx))
    # --------------------------------------------- §5.9.11 loop filter
    if fh["coded_lossless"]:
        fh["lf_levels"] = (0, 0, 0, 0)
    else:
        l0, l1 = b.f(6), b.f(6)
        l2 = l3 = 0
        if not sh["monochrome"] and (l0 or l1):
            l2, l3 = b.f(6), b.f(6)
        fh["lf_levels"] = (l0, l1, l2, l3)
        b.f(3)  # sharpness
        if b.f(1):  # delta_enabled
            if b.f(1):  # delta_update
                for _ in range(8):
                    if b.f(1):
                        b.su(1 + 6)  # loop_filter_ref_deltas
                for _ in range(2):
                    if b.f(1):
                        b.su(1 + 6)  # loop_filter_mode_deltas
    # --------------------------------------------------- §5.9.19 CDEF
    if not fh["coded_lossless"] and sh["enable_cdef"]:
        b.f(2)  # damping
        bits = b.f(2)
        fh["cdef_bits"] = bits
        for _ in range(1 << bits):
            b.f(4)
            b.f(2)
            if not sh["monochrome"]:
                b.f(4)
                b.f(2)
    # --------------------------------------- §5.9.20 loop restoration
    if (not fh["coded_lossless"] and sh["enable_restoration"]):
        uses = 0
        for _ in range(1 if sh["monochrome"] else 3):
            if b.f(2):
                uses = 1
        if uses:
            b.f(1)
            # (size fields follow only when enabled; the lossless
            #  envelope never reaches here with uses=1 in practice)
            raise ValueError("av1: loop restoration unsupported")
    # --------------------------------------------------- §5.9.21 tx mode
    if fh["coded_lossless"]:
        fh["tx_mode_select"] = 0  # ONLY_4X4
    else:
        fh["tx_mode_select"] = b.f(1)
    # intra frame: no reference mode / skip mode / warp / global motion
    fh["reduced_tx_set"] = b.f(1)
    if sh["film_grain_present"] and fh["show_frame"]:
        if b.f(1):  # apply_grain
            raise ValueError("av1: film grain unsupported")
    fh["header_bits"] = b.pos
    return fh


def _tile_log2(blk: int, target: int) -> int:
    k = 0
    while (blk << k) < target:
        k += 1
    return k


def _ns(b: _Bits, n: int) -> int:
    """§4.10.7 ns(n) non-symmetric."""
    w = n.bit_length()
    if w == 0:
        return 0
    m = (1 << w) - n
    v = b.f(w - 1)
    if v < m:
        return v
    return (v << 1) - m + b.f(1)


def _delta_q(b: _Bits) -> int:
    return b.su(1 + 6) if b.f(1) else 0  # §5.9.13 read_delta_q


# ----------------------------------------------------------- stream surface


def parse_av1_stream(data: bytes) -> dict:
    """Walk a low-overhead AV1 stream → structural info dict:
    sequence header fields, KEY frame header fields, tile-group byte
    ranges.  The arbitration tests pin width/height/bit-depth/
    subsampling/lossless against all three reference decoders."""
    sh = None
    fh = None
    tiles = []
    n_obus = 0
    for otype, payload in split_obus(data):
        n_obus += 1
        if otype == OBU_SEQUENCE_HEADER:
            sh = parse_sequence_header(payload)
        elif otype == OBU_FRAME_HEADER:
            if sh is None:
                raise ValueError("av1: frame header before sequence header")
            if fh is None:
                fh = parse_frame_header(payload, sh)
        elif otype == OBU_FRAME:
            if sh is None:
                raise ValueError("av1: frame before sequence header")
            fh = parse_frame_header(payload, sh)
            off = (fh["header_bits"] + 7) >> 3
            tiles.append(payload[off:])
        elif otype == OBU_TILE_GROUP:
            if fh is None:
                raise ValueError("av1: tile group before frame header")
            tiles.append(payload)
        elif otype in (OBU_TEMPORAL_DELIMITER, OBU_METADATA, OBU_PADDING,
                       OBU_REDUNDANT_FRAME_HEADER):
            continue
        else:
            raise ValueError(f"av1: unsupported OBU type {otype}")
    if sh is None or fh is None:
        raise ValueError("av1: no frame in stream")
    return {"seq": sh, "frame": fh, "tile_data": tiles, "n_obus": n_obus}


# ----------------------------------------------------- OBU writers (fixture)


class _BitW:
    """MSB-first bit writer for fixture OBUs."""

    __slots__ = ("bits",)

    def __init__(self) -> None:
        self.bits: list[int] = []

    def f(self, n: int, v: int) -> None:
        for k in range(n - 1, -1, -1):
            self.bits.append((v >> k) & 1)

    def done(self) -> bytes:
        out = bytearray()
        acc = 0
        for i, b in enumerate(self.bits):
            acc = (acc << 1) | b
            if (i & 7) == 7:
                out.append(acc)
                acc = 0
        rem = len(self.bits) & 7
        if rem:
            out.append(acc << (8 - rem))
        return bytes(out)

    def trailing(self) -> None:
        self.f(1, 1)
        while len(self.bits) & 7:
            self.f(1, 0)


def _leb128_enc(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def obu(otype: int, payload: bytes) -> bytes:
    """Wrap a payload in a low-overhead OBU header with leb128 size."""
    return bytes(((otype << 3) | 2,)) + _leb128_enc(len(payload)) + payload


def write_sequence_header_obu(width: int, height: int) -> bytes:
    """Minimal legal sequence header: profile 0, reduced still-picture
    header, 8-bit 4:2:0, no optional tools — round-trips through
    parse_sequence_header bit-exactly (pinned in tests)."""
    if not (0 < width <= _MAX_DIM and 0 < height <= _MAX_DIM):
        raise ValueError("av1: bad fixture dimensions")
    b = _BitW()
    b.f(3, 0)   # seq_profile
    b.f(1, 1)   # still_picture
    b.f(1, 1)   # reduced_still_picture_header
    b.f(5, 0)   # seq_level_idx[0]
    wbits = max(1, (width - 1).bit_length())
    hbits = max(1, (height - 1).bit_length())
    b.f(4, wbits - 1)
    b.f(4, hbits - 1)
    b.f(wbits, width - 1)
    b.f(hbits, height - 1)
    b.f(1, 0)   # use_128x128_superblock
    b.f(1, 0)   # enable_filter_intra
    b.f(1, 0)   # enable_intra_edge_filter
    b.f(1, 0)   # enable_superres
    b.f(1, 0)   # enable_cdef
    b.f(1, 0)   # enable_restoration
    # color_config: 8-bit, not monochrome, no description → 4:2:0
    b.f(1, 0)   # high_bitdepth
    b.f(1, 0)   # mono_chrome
    b.f(1, 0)   # color_description_present
    b.f(1, 1)   # color_range (full)
    b.f(2, 0)   # chroma_sample_position
    b.f(1, 0)   # separate_uv_delta_q
    b.f(1, 0)   # film_grain_params_present
    b.trailing()
    return b.done()


def write_keyframe_header_bits(b: "_BitW", width: int,
                               height: int) -> None:
    """Uncompressed KEY frame header under a reduced still-picture
    sequence header (lossless, SINGLE tile; width/height ≤ 4096 so
    min_log2_tile_cols is 0) — the bits only; callers append the tile
    payload (OBU_FRAME) after byte alignment."""
    if width > 4096 or height > 4096:
        raise ValueError("av1: fixture tile math limited to ≤4096")
    if _tile_log2(2304, ((width + 63) // 64) * ((height + 63) // 64)) > 0:
        raise ValueError("av1: picture area forces multiple tiles")
    b.f(1, 0)   # disable_cdf_update
    b.f(1, 0)   # allow_screen_content_tools (seq force == SELECT)
    b.f(1, 0)   # render_and_frame_size_different
    # §5.9.15 uniform tile info, pinned to ONE tile: a stop bit per
    # increment loop whenever the max log2 exceeds the min (mirrors
    # the parser's while-loops exactly)
    sb_cols = (width + 63) // 64
    sb_rows = (height + 63) // 64
    b.f(1, 1)   # uniform_tile_spacing
    if _tile_log2(1, min(sb_cols, 64)) > 0:
        b.f(1, 0)  # stop increment_tile_cols_log2 at 0
    if _tile_log2(1, min(sb_rows, 64)) > 0:
        b.f(1, 0)  # stop increment_tile_rows_log2 at 0
    b.f(8, 0)   # base_q_idx → CodedLossless
    b.f(1, 0)   # y_dc delta coded
    b.f(1, 0)   # u_dc delta coded
    b.f(1, 0)   # u_ac delta coded
    b.f(1, 0)   # using_qmatrix
    b.f(1, 0)   # segmentation_enabled
    b.f(1, 0)   # reduced_tx_set


def write_frame_header_obu(width: int, height: int) -> bytes:
    """Standalone OBU_FRAME_HEADER payload (trailing bits included)."""
    b = _BitW()
    write_keyframe_header_bits(b, width, height)
    b.trailing()
    return b.done()
