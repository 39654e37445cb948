"""HEVC fixture encoders used only by tests/test_hevc_codec.py.

Reference encoders for the decoder's tile, wavefront (WPP),
dependent-slice, CABAC-init, NxN/B-partition, long-term-reference and
list-modification tiers. Each builds a spec-conformant Annex-B stream
whose decode the tests check against the input planes or closed forms,
and against libde265 where it can decode the shape. The runtime
package only decodes these shapes, so the encoders live with the tests.
"""

from __future__ import annotations

import numpy as np

from data_lake_skyfit_spark.llm.h264 import _BitWriter, _split_nals
from data_lake_skyfit_spark.llm.h264_cabac import _CabacEnc
from data_lake_skyfit_spark.llm.hevc import (
    _CTX_OFF,
    _FIXTURE_QP,
    _PicDecoder,
    _bypass_ctu_encode,
    _ctx_states,
    _enc_part_mode_16,
    _enc_pu_amvp_p,
    _encode_mvd,
    _fixture_iframe_parts,
    _fixture_mvd,
    _fixture_pps,
    _fixture_pslice,
    _fixture_pslice_parts,
    _fixture_sps,
    _fixture_sps_parts,
    _fixture_vps,
    _hevc_nal,
    _parse_pps,
    _parse_sps,
    _residual_encode,
    encode_hevc_iframe_dc,
    encode_hevc_iframe_pcm,
)


def _fixture_pps_tiled(ncols: int, nrows: int,
                       lf_across_tiles: bool,
                       wpp: bool = False,
                       tiles: bool = True) -> bytes:
    """_fixture_pps with a uniform-spacing tile grid; `wpp` also sets
    entropy_coding_sync for the combined tiles+WPP shape (r9), and
    `tiles=False` drops the grid for a wpp-only PPS (the libde265
    arbitration anchor for the WPP fixture encoder)."""
    bw = _BitWriter()
    bw.ue(0); bw.ue(0)
    bw.u(1, 0); bw.u(1, 0); bw.u(3, 0)
    bw.u(1, 0)                      # sign_data_hiding off
    bw.u(1, 0)                      # cabac_init_present
    bw.ue(0); bw.ue(0)
    bw.se(_FIXTURE_QP - 26)         # init_qp
    bw.u(1, 0)                      # constrained_intra_pred
    bw.u(1, 0); bw.u(1, 0)          # transform_skip, cu_qp_delta
    bw.se(0); bw.se(0)              # cb/cr qp offsets
    bw.u(1, 0)                      # slice chroma qp offsets
    bw.u(1, 0)                      # weighted_pred (P)
    bw.u(1, 0)                      # weighted_bipred (B)
    bw.u(1, 1)                      # transquant_bypass_enabled
    bw.u(1, 1 if tiles else 0)      # tiles_enabled
    bw.u(1, 1 if wpp else 0)        # entropy sync (§7.3.2.3: BEFORE
    #                                 the tile geometry — libde265 pin)
    if tiles:
        bw.ue(ncols - 1)
        bw.ue(nrows - 1)
        bw.u(1, 1)                  # uniform_spacing
        bw.u(1, 1 if lf_across_tiles else 0)
    bw.u(1, 1)                      # loop_filter_across_slices
    bw.u(1, 1)                      # deblocking_filter_control_present
    bw.u(1, 0)                      # override_enabled
    bw.u(1, 1)                      # pps_deblocking_filter_DISABLED
    bw.u(1, 0)                      # pps scaling list
    bw.u(1, 0); bw.ue(0); bw.u(1, 0); bw.u(1, 0)
    bw.rbsp_trailing()
    return bw.done()


def encode_hevc_iframe_bypass_tiled(
    width: int, height: int, y: bytes, cb: bytes, cr: bytes,
    ncols: int, nrows: int, lf_across_tiles: bool = True,
    wpp: bool = False,
) -> bytes:
    """Lossless intra stream partitioned into a uniform TILE grid
    (§6.5.1): one slice segment covering the picture, per-tile CABAC
    substreams with end_of_subset bits + byte alignment, slice-header
    entry point offsets, tile-scoped DC prediction.  With `wpp`
    (r9), entropy_coding_sync is ALSO enabled and every CTB row of
    every tile becomes its own substream: first row of each tile
    fresh-initializes, later rows restore the §9.3.2.3 state stored
    after the second CTU of the row above in the same tile (fresh
    when the tile is one CTU wide).  Pinned two ways in tests: this
    repo's decoder reproduces the input exactly, AND libde265 decodes
    the SAME bytes bit-identically (x265 cannot emit tiles — probed
    via x265_param_parse — so the DECODE-side arbitration carries the
    cross-pin, the r7d extracted-items pattern)."""
    if width % 16 or height % 16 or not width or not height:
        raise ValueError("hevc fixture: dimensions must be multiples of 16")
    ysz, csz = width * height, (width // 2) * (height // 2)
    if len(y) != ysz or len(cb) != csz or len(cr) != csz:
        raise ValueError("hevc fixture: plane size mismatch")
    n_w, n_h = width // 16, height // 16
    if not (1 <= ncols <= n_w and 1 <= nrows <= n_h):
        raise ValueError("hevc fixture: tile grid exceeds CTU grid")
    sps = _parse_sps(_fixture_sps(width, height))
    pps = _parse_pps(_fixture_pps_tiled(ncols, nrows, lf_across_tiles, wpp))
    sh = {"pps": pps, "qp": _FIXTURE_QP, "sao_luma": 0, "sao_chroma": 0,
          "cb_qp_offset": 0, "cr_qp_offset": 0, "deblock_disabled": 1,
          "beta_offset": 0, "tc_offset": 0}
    mirror = _PicDecoder(sps, sh)  # tile_grid auto-built from the PPS
    ty = np.frombuffer(y, np.uint8).reshape(height, width)
    tcb = np.frombuffer(cb, np.uint8).reshape(height // 2, width // 2)
    tcr = np.frombuffer(cr, np.uint8).reshape(height // 2, width // 2)

    # group the tile-scan CTU order into substreams: per tile, or —
    # under tiles+WPP — per CTB row of each tile
    order = mirror.ts_order
    s = mirror.log2_ctb - 2
    groups: list[tuple[bool, list[int]]] = []  # (first_row_of_tile, addrs)
    prev_tid = -1
    prev_ry = -1
    for addr in order:
        rx, ry = addr % n_w, addr // n_w
        tid = int(mirror.tile_grid[ry << s, rx << s])
        if tid != prev_tid or (wpp and ry != prev_ry):
            groups.append((tid != prev_tid, []))
            prev_tid, prev_ry = tid, ry
        groups[-1][1].append(addr)

    substreams: list[bytes] = []
    total = n_w * n_h
    done = 0
    row_sync: list[list[int]] | None = None
    for gi, (first_row, addrs) in enumerate(groups):
        sw = _BitWriter()
        enc = _CabacEnc(sw, _FIXTURE_QP)
        if first_row or row_sync is None:
            enc.state = _ctx_states(_FIXTURE_QP)
        else:
            enc.state = [st.copy() for st in row_sync]
        row_sync = None
        for j, addr in enumerate(addrs):
            x0 = (addr % n_w) * 16
            y0 = (addr // n_w) * 16
            _bypass_ctu_encode(enc, mirror, ty, tcb, tcr, x0, y0)
            if wpp and j == 1:
                # §9.3.1 storage point for the row below's sync
                row_sync = [st.copy() for st in enc.state]
            done += 1
            enc.terminate_enc(1 if done == total else 0)
        if not wpp:
            row_sync = None
        if gi != len(groups) - 1:
            enc.terminate_enc(1)  # end_of_subset_one_bit
        sw.align_zero()
        substreams.append(sw.done())

    bw = _BitWriter()
    bw.u(1, 1)                      # first_slice_segment_in_pic
    bw.u(1, 0)                      # no_output_of_prior_pics
    bw.ue(0)                        # pps id
    bw.ue(2)                        # slice_type I
    bw.se(0)                        # slice_qp_delta
    offsets = [len(sub) for sub in substreams[:-1]]
    bw.ue(len(offsets))             # num_entry_point_offsets
    if offsets:
        off_len = max(1, max(o - 1 for o in offsets).bit_length())
        bw.ue(off_len - 1)
        for o in offsets:
            bw.u(off_len, o - 1)
    bw.u(1, 1)
    bw.align_zero()                 # byte_alignment
    header = bw.done()
    return (_hevc_nal(32, _fixture_vps())
            + _hevc_nal(33, _fixture_sps(width, height))
            + _hevc_nal(34, _fixture_pps_tiled(ncols, nrows,
                                               lf_across_tiles, wpp))
            + _hevc_nal(19, header + b"".join(substreams)))


def encode_hevc_iframe_bypass_wpp(
    width: int, height: int, y: bytes, cb: bytes, cr: bytes,
) -> bytes:
    """Lossless intra stream under WAVEFRONT entropy sync (§9.3.1,
    tiles off): one slice segment, one CABAC substream per CTB row
    with entry point offsets, end_of_subset bits + byte alignment;
    row r>0 restores the context state stored after the second CTU of
    row r-1 (fresh when the picture is one CTU wide).  libde265
    decodes these streams bit-exactly (tests/test_hevc_codec.py),
    which pins the ENCODER-side WPP substream/sync machinery — the
    decode side was already pinned by x265's native WPP output (r8).
    This anchor also carries the tiles+WPP pin: a 1x1-tile tiles+WPP
    stream's payload is bit-identical to this wire (asserted in
    tests), transferring the arbitration to the combined shape that
    libde265 itself cannot decode (it dispatches tiles and WPP to two
    disjoint code paths — decode_slice_unit_tiles /
    decode_slice_unit_WPP — and garbles or rejects the combination,
    a measured reference absence, not a convention to mimic)."""
    if width % 16 or height % 16 or not width or not height:
        raise ValueError("hevc fixture: dimensions must be multiples of 16")
    ysz, csz = width * height, (width // 2) * (height // 2)
    if len(y) != ysz or len(cb) != csz or len(cr) != csz:
        raise ValueError("hevc fixture: plane size mismatch")
    n_w, n_h = width // 16, height // 16
    pps_rbsp = _fixture_pps_tiled(0, 0, True, wpp=True, tiles=False)
    sps = _parse_sps(_fixture_sps(width, height))
    pps = _parse_pps(pps_rbsp)
    sh = {"pps": pps, "qp": _FIXTURE_QP, "sao_luma": 0, "sao_chroma": 0,
          "cb_qp_offset": 0, "cr_qp_offset": 0, "deblock_disabled": 1,
          "beta_offset": 0, "tc_offset": 0}
    mirror = _PicDecoder(sps, sh)
    ty = np.frombuffer(y, np.uint8).reshape(height, width)
    tcb = np.frombuffer(cb, np.uint8).reshape(height // 2, width // 2)
    tcr = np.frombuffer(cr, np.uint8).reshape(height // 2, width // 2)

    substreams: list[bytes] = []
    total = n_w * n_h
    row_sync: list[list[int]] | None = None
    for ry in range(n_h):
        sw = _BitWriter()
        enc = _CabacEnc(sw, _FIXTURE_QP)
        enc.state = (_ctx_states(_FIXTURE_QP) if row_sync is None
                     else [st.copy() for st in row_sync])
        row_sync = None
        for rx in range(n_w):
            _bypass_ctu_encode(enc, mirror, ty, tcb, tcr, rx * 16, ry * 16)
            if rx == 1:
                row_sync = [st.copy() for st in enc.state]
            last = ry == n_h - 1 and rx == n_w - 1
            enc.terminate_enc(1 if last else 0)
        if ry != n_h - 1:
            enc.terminate_enc(1)  # end_of_subset_one_bit
        sw.align_zero()
        substreams.append(sw.done())

    bw = _BitWriter()
    bw.u(1, 1)                      # first_slice_segment_in_pic
    bw.u(1, 0)                      # no_output_of_prior_pics
    bw.ue(0)                        # pps id
    bw.ue(2)                        # slice_type I
    bw.se(0)                        # slice_qp_delta
    offsets = [len(sub) for sub in substreams[:-1]]
    bw.ue(len(offsets))             # num_entry_point_offsets
    if offsets:
        off_len = max(1, max(o - 1 for o in offsets).bit_length())
        bw.ue(off_len - 1)
        for o in offsets:
            bw.u(off_len, o - 1)
    bw.u(1, 1)
    bw.align_zero()                 # byte_alignment
    header = bw.done()
    return (_hevc_nal(32, _fixture_vps())
            + _hevc_nal(33, _fixture_sps(width, height))
            + _hevc_nal(34, pps_rbsp)
            + _hevc_nal(19, header + b"".join(substreams)))


def encode_hevc_iframe_bypass_depslices(
    width: int, height: int, y: bytes, cb: bytes, cr: bytes,
    seg_rows: list[int],
) -> bytes:
    """Lossless intra picture split into one independent + N DEPENDENT
    slice segments (each covering `seg_rows[i]` CTU rows): the
    dependent segments continue the slice's CABAC contexts (§9.3.1)
    and prediction scope across NAL boundaries.  Same two-way pin as
    the tiled fixture (libde265 decodes dependent segments; x265
    cannot emit them)."""
    if width % 16 or height % 16 or not width or not height:
        raise ValueError("hevc fixture: dimensions must be multiples of 16")
    ysz, csz = width * height, (width // 2) * (height // 2)
    if len(y) != ysz or len(cb) != csz or len(cr) != csz:
        raise ValueError("hevc fixture: plane size mismatch")
    n_w, n_h = width // 16, height // 16
    if sum(seg_rows) != n_h or min(seg_rows) < 1:
        raise ValueError("hevc fixture: segment rows must cover the picture")
    sps = _parse_sps(_fixture_sps(width, height))
    pps_rbsp = _fixture_pps_depslices()
    pps = _parse_pps(pps_rbsp)
    sh = {"pps": pps, "qp": _FIXTURE_QP, "sao_luma": 0, "sao_chroma": 0,
          "cb_qp_offset": 0, "cr_qp_offset": 0, "deblock_disabled": 1,
          "beta_offset": 0, "tc_offset": 0}
    mirror = _PicDecoder(sps, sh)
    ty = np.frombuffer(y, np.uint8).reshape(height, width)
    tcb = np.frombuffer(cb, np.uint8).reshape(height // 2, width // 2)
    tcr = np.frombuffer(cr, np.uint8).reshape(height // 2, width // 2)

    total = n_w * n_h
    addr_bits = max(1, (total - 1).bit_length())
    out = (_hevc_nal(32, _fixture_vps())
           + _hevc_nal(33, _fixture_sps(width, height))
           + _hevc_nal(34, pps_rbsp))
    state = None
    addr = 0
    for si, rows in enumerate(seg_rows):
        bw = _BitWriter()
        bw.u(1, 1 if si == 0 else 0)   # first_slice_segment_in_pic
        bw.u(1, 0)                     # no_output_of_prior_pics
        bw.ue(0)                       # pps id
        if si:
            bw.u(1, 1)                 # dependent_slice_segment_flag
            bw.u(addr_bits, addr)
        else:
            bw.ue(2)                   # slice_type I
            bw.se(0)                   # slice_qp_delta
        bw.u(1, 1)
        bw.align_zero()                # byte_alignment
        enc = _CabacEnc(bw, _FIXTURE_QP)
        enc.state = (_ctx_states(_FIXTURE_QP) if state is None
                     else [st.copy() for st in state])
        seg_total = rows * n_w
        for j in range(seg_total):
            x0 = (addr % n_w) * 16
            y0 = (addr // n_w) * 16
            _bypass_ctu_encode(enc, mirror, ty, tcb, tcr, x0, y0)
            addr += 1
            # end_of_slice_segment_flag closes each SEGMENT (the next
            # dependent segment restores the stored context state)
            enc.terminate_enc(1 if j == seg_total - 1 else 0)
        state = [st.copy() for st in enc.state]
        bw.align_zero()
        out += _hevc_nal(19, bw.done())
    return out


def _fixture_pps_depslices() -> bytes:
    """_fixture_pps with dependent_slice_segments_enabled."""
    bw = _BitWriter()
    bw.ue(0); bw.ue(0)
    bw.u(1, 1)                      # dependent_slice_segments_enabled
    bw.u(1, 0); bw.u(3, 0)
    bw.u(1, 0)                      # sign_data_hiding off
    bw.u(1, 0)                      # cabac_init_present
    bw.ue(0); bw.ue(0)
    bw.se(_FIXTURE_QP - 26)         # init_qp
    bw.u(1, 0)                      # constrained_intra_pred
    bw.u(1, 0); bw.u(1, 0)          # transform_skip, cu_qp_delta
    bw.se(0); bw.se(0)              # cb/cr qp offsets
    bw.u(1, 0)                      # slice chroma qp offsets
    bw.u(1, 0)                      # weighted_pred (P)
    bw.u(1, 0)                      # weighted_bipred (B)
    bw.u(1, 1)                      # transquant_bypass_enabled
    bw.u(1, 0); bw.u(1, 0)          # tiles, entropy sync
    bw.u(1, 1)                      # loop_filter_across_slices
    bw.u(1, 1)                      # deblocking_filter_control_present
    bw.u(1, 0)                      # override_enabled
    bw.u(1, 1)                      # pps_deblocking_filter_DISABLED
    bw.u(1, 0)                      # pps scaling list
    bw.u(1, 0); bw.ue(0); bw.u(1, 0); bw.u(1, 0)
    bw.rbsp_trailing()
    return bw.done()


def _fixture_bslice_small(width: int, height: int, qp: int,
                          poc_lsb: int) -> bytes:
    """One whole-picture B slice exercising the small-PU rules: every
    other CTU splits into 8x8 CUs of 2NxN (8x4 PUs) where PU0 merges
    (zero-fill candidates are BI → the §8.5.3.2.1 bi→L0 conversion)
    and PU1 is AMVP with the single-bin small-PU inter_pred_idc;
    the rest are 16x16 Nx2N AMVP CUs with the two-bin inter_pred_idc
    (L0/L1/BI cycled)."""
    bw = _BitWriter()
    bw.u(1, 1)
    bw.ue(0)
    bw.ue(0)                        # slice_type B
    bw.u(8, poc_lsb & 255)
    bw.u(1, 0)
    bw.ue(1); bw.ue(1)              # one negative + one positive pic
    bw.ue(0); bw.u(1, 1)            # POC-1
    bw.ue(0); bw.u(1, 1)            # POC+1
    bw.u(1, 0)                      # num_ref_idx_active_override (1/1)
    bw.u(1, 0)                      # mvd_l1_zero_flag
    bw.ue(4)                        # five_minus_max_num_merge_cand → 1
    bw.se(0)
    bw.u(1, 1)
    bw.align_zero()
    enc = _CabacEnc(bw, qp)
    enc.state = _ctx_states(qp, 2)  # B init rows
    n_w, n_h = width // 16, height // 16
    split_flags: dict[int, bool] = {}
    seed = 1
    for addr in range(n_w * n_h):
        rx, ry = addr % n_w, addr // n_w
        split = addr % 2 == 0
        inc = ((1 if rx > 0 and split_flags.get(addr - 1) else 0)
               + (1 if ry > 0 and split_flags.get(addr - n_w) else 0))
        enc.enc(_CTX_OFF["split_cu"] + inc, 1 if split else 0)
        split_flags[addr] = split
        if split:
            for _sub in range(4):
                enc.enc(_CTX_OFF["cu_skip"], 0)
                enc.enc(_CTX_OFF["pred_mode"], 0)
                enc.enc(_CTX_OFF["part_mode"], 0)
                enc.enc(_CTX_OFF["part_mode"] + 1, 1)  # 2NxN → 8x4 PUs
                # PU0: merge (max_merge 1 → idx 0, no bins); a BI
                # candidate must convert to L0 on this 8x4 PU
                enc.enc(_CTX_OFF["merge_flag"], 1)
                # PU1: AMVP, single-bin inter_pred_idc (no BI)
                enc.enc(_CTX_OFF["merge_flag"], 0)
                use_l1 = seed % 2
                enc.enc(_CTX_OFF["inter_dir"] + 4, use_l1)
                mx, my = _fixture_mvd(seed)
                _encode_mvd(enc, mx, my)
                enc.enc(_CTX_OFF["mvp_idx"], seed % 2)
                seed += 1
                enc.enc(_CTX_OFF["rqt_root_cbf"], 0)
        else:
            enc.enc(_CTX_OFF["cu_skip"], 0)
            enc.enc(_CTX_OFF["pred_mode"], 0)
            _enc_part_mode_16(enc, "Nx2N")
            for pidx in range(2):
                enc.enc(_CTX_OFF["merge_flag"], 0)
                kind = (seed + pidx) % 3  # 0:L0 1:L1 2:BI
                if kind == 2:
                    enc.enc(_CTX_OFF["inter_dir"], 1)  # ctx = depth 0
                else:
                    enc.enc(_CTX_OFF["inter_dir"], 0)
                    enc.enc(_CTX_OFF["inter_dir"] + 4, kind)
                for lst in ((0,) if kind == 0 else (1,) if kind == 1
                            else (0, 1)):
                    mx, my = _fixture_mvd(seed + lst)
                    _encode_mvd(enc, mx, my)
                    enc.enc(_CTX_OFF["mvp_idx"], (seed + lst) % 2)
                seed += 1
            enc.enc(_CTX_OFF["rqt_root_cbf"], 0)
        enc.terminate_enc(1 if addr == n_w * n_h - 1 else 0)
    bw.align_zero()
    return _hevc_nal(0, bw.done())  # TRAIL_N


def encode_hevc_gop_parts_b(width: int, height: int, qp: int,
                            c0: int) -> bytes:
    """Small-PU B tier GOP in decode order [IRAP(0), parts-P(2),
    small-B(1)]: the B sits between its anchors (reorder-capable
    VPS/SPS) and exercises 8x4 merge bi→L0 plus the single-bin
    inter_pred_idc."""
    if width % 16 or height % 16 or not width or not height:
        raise ValueError("hevc fixture: dimensions must be multiples of 16")
    if not 0 <= qp <= 51 or not 1 <= abs(c0) <= 1 << 14:
        raise ValueError("hevc fixture: qp/coefficient out of range")
    return (_hevc_nal(32, _fixture_vps(reorder=1))
            + _hevc_nal(33, _fixture_sps_parts(width, height, reorder=1))
            + _hevc_nal(34, _fixture_pps(qp, tq_bypass=False))
            + _fixture_iframe_parts(width, height, qp, c0)
            + _fixture_pslice_parts(width, height, qp, 2, ref_delta=2)
            + _fixture_bslice_small(width, height, qp, 1))


def encode_hevc_gop_parts_nxn(width: int, height: int, qp: int,
                              c0: int) -> bytes:
    """Inter-NxN tier GOP [IRAP(0), P(1)] on the CTB==minCB==16
    fixture SPS: at the minimum CB size above 8 the §9.3.3.7
    binarization grows the NxN row (bin 2 at ctx 2) — no production
    encoder in this container emits inter NxN, so libde265
    arbitrates the fixture wire."""
    if width % 16 or height % 16 or not width or not height:
        raise ValueError("hevc fixture: dimensions must be multiples of 16")
    if not 0 <= qp <= 51 or not 1 <= abs(c0) <= 1 << 14:
        raise ValueError("hevc fixture: qp/coefficient out of range")
    idr = encode_hevc_iframe_dc(width, height, qp, c0)
    bw = _BitWriter()
    bw.u(1, 1)
    bw.ue(0)
    bw.ue(1)                        # slice_type P
    bw.u(8, 1)                      # poc_lsb
    bw.u(1, 0)
    bw.ue(1); bw.ue(0)
    bw.ue(0); bw.u(1, 1)            # POC-1
    bw.u(1, 0)
    bw.ue(4)                        # max_merge 1
    bw.se(0)
    bw.u(1, 1)
    bw.align_zero()
    enc = _CabacEnc(bw, qp)
    enc.state = _ctx_states(qp, 1)
    n_w, n_h = width // 16, height // 16
    script = ("2Nx2N", "2NxN", "Nx2N", "NxN")
    seed = 2
    for addr in range(n_w * n_h):
        mode = script[addr % 4]
        enc.enc(_CTX_OFF["cu_skip"], 0)
        enc.enc(_CTX_OFF["pred_mode"], 0)
        # min-CB binarization: 1 / 01 / 001 / 000 (bin 2 at ctx 2)
        if mode == "2Nx2N":
            enc.enc(_CTX_OFF["part_mode"], 1)
        else:
            enc.enc(_CTX_OFF["part_mode"], 0)
            enc.enc(_CTX_OFF["part_mode"] + 1, 1 if mode == "2NxN" else 0)
            if mode != "2NxN":
                enc.enc(_CTX_OFF["part_mode"] + 2, 1 if mode == "Nx2N" else 0)
        for _pidx in range(1 if mode == "2Nx2N" else
                           2 if mode in ("2NxN", "Nx2N") else 4):
            _enc_pu_amvp_p(enc, seed)
            seed += 1
        enc.enc(_CTX_OFF["rqt_root_cbf"], 0)
        enc.terminate_enc(1 if addr == n_w * n_h - 1 else 0)
    bw.align_zero()
    return idr + _hevc_nal(1, bw.done())


def _fixture_pslice_modlist(width: int, height: int, qp: int,
                            poc_lsb: int, n_refs: int,
                            entries: list[int]) -> bytes:
    """All-skip P slice whose RPS holds `n_refs` used negative pics
    (POC-1..POC-n) and whose §7.3.6.2 list_entry indices reorder the
    §8.3.4 temp list — every CTU merge-copies RefPicList0[0], so the
    output plane IS the picture the modification selected."""
    bw = _BitWriter()
    bw.u(1, 1)
    bw.ue(0)
    bw.ue(1)                        # slice_type P
    bw.u(8, poc_lsb & 255)
    bw.u(1, 0)                      # short_term_ref_pic_set_sps_flag
    bw.ue(n_refs); bw.ue(0)         # num_negative, num_positive
    for _ in range(n_refs):
        bw.ue(0); bw.u(1, 1)        # each 1 below the previous, used
    bw.u(1, 1)                      # num_ref_idx_active_override
    bw.ue(len(entries) - 1)         # num_ref_idx_l0_active_minus1
    nbits = max(1, (n_refs - 1).bit_length())
    bw.u(1, 1)                      # ref_pic_list_modification_flag_l0
    for e in entries:
        bw.u(nbits, e)
    bw.ue(4)                        # five_minus_max_num_merge_cand → 1
    bw.se(0)
    bw.u(1, 1)
    bw.align_zero()
    enc = _CabacEnc(bw, qp)
    enc.state = _ctx_states(qp, 1)
    n_w, n_h = width // 16, height // 16
    for addr in range(n_w * n_h):
        rx, ry = addr % n_w, addr // n_w
        inc = (1 if rx > 0 else 0) + (1 if ry > 0 else 0)
        enc.enc(_CTX_OFF["cu_skip"] + inc, 1)
        enc.terminate_enc(1 if addr == n_w * n_h - 1 else 0)
    bw.align_zero()
    return _hevc_nal(1, bw.done())


def encode_hevc_gop_modlist(width: int, height: int, qp: int, c0: int,
                            c2: int) -> bytes:
    """Reference-list-modification GOP [IRAP(v0), residual-P(v0+d),
    modlist-P(=v0), modlist-P(=v0+d)]: picture 2's list_entry points
    refIdx 0 at the IRAP two POCs back (unmodified order would copy
    the residual-P), picture 3's 2-bit entries over a 3-pic RPS pick
    the residual-P again — each skip-copy output plane IS the list
    the modification built.  libde265 arbitrates in tests."""
    if width % 16 or height % 16 or not width or not height:
        raise ValueError("hevc fixture: dimensions must be multiples of 16")
    if not 0 <= qp <= 51 or not 1 <= abs(c0) <= 1 << 14 \
            or not 1 <= abs(c2) <= 1 << 14:
        raise ValueError("hevc fixture: qp/coefficient out of range")
    idr = encode_hevc_iframe_dc(width, height, qp, c0)
    nals = _split_nals(idr)
    out = b""
    for nal in nals:
        t = (nal[0] >> 1) & 63
        if t == 32:
            # DPB sized for the 3-pic RPS (max_dec_pic_buffering —
            # with the default 0, conforming decoders DROP the
            # multi-reference pictures; the r8 ordering-info lesson)
            out += _hevc_nal(32, _fixture_vps(reorder=1))
        elif t == 33:
            out += _hevc_nal(33, _fixture_sps(width, height, reorder=1))
        elif t == 34:
            out += _hevc_nal(34, _fixture_pps(qp, tq_bypass=False,
                                              lists_mod=True))
        else:
            out += b"\x00\x00\x00\x01" + nal
    return (out
            + _fixture_pslice(width, height, qp, 1, c2)
            + _fixture_pslice_modlist(width, height, qp, 2, 2, [1, 1])
            + _fixture_pslice_modlist(width, height, qp, 3, 3, [1]))


def _fixture_pslice_lt(width: int, height: int, qp: int, poc_lsb: int,
                       st_delta: int, n_lt_sps: int, n_lt_pics: int,
                       seed0: int, c_y: int | None = None) -> bytes:
    """P slice whose list L0 is [short-term POC-st_delta, LONG-TERM
    POC 0] (na 2, slice_temporal_mvp on): CTUs alternate explicit
    ref_idx 0/1 with scripted mvds, so spatial AMVP candidates mix
    ST- and LT-referencing neighbours and the §8.5.3.2.7/8/9
    mismatch/no-scale rules all fire.  The LT entry comes from the
    SPS candidate list (n_lt_sps=1) or is slice-explicit
    (n_lt_pics=1), both with delta_poc_msb_cycle 0."""
    bw = _BitWriter()
    bw.u(1, 1)
    bw.ue(0)
    bw.ue(1)                        # slice_type P
    bw.u(8, poc_lsb & 255)
    bw.u(1, 0)
    bw.ue(1); bw.ue(0)
    bw.ue(st_delta - 1); bw.u(1, 1)
    # long-term block (sps long_term on): num_long_term_sps only
    # coded when the SPS carries candidates
    bw.ue(n_lt_sps)
    bw.ue(n_lt_pics)
    for i in range(n_lt_sps + n_lt_pics):
        if i >= n_lt_sps:
            bw.u(8, 0)              # poc_lsb_lt = 0 (the IRAP)
            bw.u(1, 1)              # used_by_curr_pic_lt
        # (lt_idx_sps: 1 SPS candidate → zero bits)
        bw.u(1, 1)                  # delta_poc_msb_present
        bw.ue(0)                    # cycle 0
    bw.u(1, 1)                      # slice_temporal_mvp_enabled
    bw.u(1, 1)                      # num_ref_idx_active_override
    bw.ue(1)                        # na_l0 = 2
    bw.ue(0)                        # collocated_ref_idx = 0 (na > 1)
    bw.ue(4)                        # five_minus_max_num_merge_cand → 1
    bw.se(0)
    bw.u(1, 1)
    bw.align_zero()
    enc = _CabacEnc(bw, qp)
    enc.state = _ctx_states(qp, 1)
    n_w, n_h = width // 16, height // 16
    seed = seed0
    for addr in range(n_w * n_h):
        enc.enc(_CTX_OFF["cu_skip"], 0)
        enc.enc(_CTX_OFF["pred_mode"], 0)
        enc.enc(_CTX_OFF["part_mode"], 1)  # 2Nx2N
        enc.enc(_CTX_OFF["merge_flag"], 0)
        enc.enc(_CTX_OFF["ref_pic"], addr % 2)  # ST / LONG-TERM
        mx, my = _fixture_mvd(seed)
        _encode_mvd(enc, mx, my)
        enc.enc(_CTX_OFF["mvp_idx"], seed % 2)
        seed += 1
        if c_y is None:
            enc.enc(_CTX_OFF["rqt_root_cbf"], 0)
        else:
            # per-CTU varying DC residual keeps the reference
            # NON-FLAT — motion/candidate errors must be visible
            # (uniform fixtures hide them, the r7c lesson)
            enc.enc(_CTX_OFF["rqt_root_cbf"], 1)
            enc.enc(_CTX_OFF["cbf_chroma"], 0)
            enc.enc(_CTX_OFF["cbf_chroma"], 0)
            coeffs = np.zeros((16, 16), np.int64)
            coeffs[0, 0] = 1 + (addr * 7 + c_y) % 25
            _residual_encode(enc, coeffs, 4, 0)
        enc.terminate_enc(1 if addr == n_w * n_h - 1 else 0)
    bw.align_zero()
    return _hevc_nal(1, bw.done())


def encode_hevc_gop_lt(width: int, height: int, qp: int, c0: int,
                       c2: int) -> bytes:
    """Long-term-reference GOP [IRAP(0), residual-P(1), LT-P(2),
    LT-P(3)]: pictures 2 and 3 hold the IRAP as a LONG-TERM
    reference beside a short-term one — picture 2 via a
    slice-explicit entry, picture 3 via the SPS candidate list —
    with TMVP on and mixed per-CTU ST/LT ref_idx + nonzero mvds, so
    the long-term AMVP/TMVP matching and no-scaling rules are all
    live.  libde265 arbitrates in tests."""
    if width % 16 or height % 16 or not width or not height:
        raise ValueError("hevc fixture: dimensions must be multiples of 16")
    if not 0 <= qp <= 51 or not 1 <= abs(c0) <= 1 << 14 \
            or not 1 <= abs(c2) <= 1 << 14:
        raise ValueError("hevc fixture: qp/coefficient out of range")
    # NON-FLAT anchor: the PCM iframe's random content makes motion
    # and candidate-derivation errors visible (r7c uniform-fixture
    # lesson); re-head with a reorder-capable LT+TMVP SPS
    rng = np.random.default_rng(c0)
    y = rng.integers(0, 256, (height, width)).astype(np.uint8)
    cb = rng.integers(0, 256, (height // 2, width // 2)).astype(np.uint8)
    cr = rng.integers(0, 256, (height // 2, width // 2)).astype(np.uint8)
    idr = encode_hevc_iframe_pcm(width, height, qp, y.tobytes(),
                                 cb.tobytes(), cr.tobytes())
    out = b""
    for nal in _split_nals(idr):
        t = (nal[0] >> 1) & 63
        if t == 32:
            out += _hevc_nal(32, _fixture_vps(reorder=1))
        elif t == 33:
            out += _hevc_nal(33, _fixture_sps(
                width, height, reorder=1, pcm=True, lt_sps=1, tmvp=True))
        else:
            out += b"\x00\x00\x00\x01" + nal
    return (out
            + _fixture_pslice_lt(width, height, qp, 1, 1, 0, 0, 100,
                                 c_y=c2)
            + _fixture_pslice_lt(width, height, qp, 2, 1, 0, 1, 7)
            + _fixture_pslice_lt(width, height, qp, 3, 1, 1, 0, 23))


def encode_hevc_gop_dc_cabac_init(width: int, height: int, qp: int,
                                  c0: int, c2: int) -> bytes:
    """cabac_init_flag GOP [IRAP, swapped-init residual-P]: the P
    slice signals cabac_init_flag=1, so its contexts initialize from
    the B column (§9.3.1 init-type swap) — same closed forms as
    encode_hevc_gop_dc's pictures, different wire probabilities;
    libde265 arbitrates."""
    if width % 16 or height % 16 or not width or not height:
        raise ValueError("hevc fixture: dimensions must be multiples of 16")
    if not 0 <= qp <= 51 or not 1 <= abs(c0) <= 1 << 14 \
            or not 1 <= abs(c2) <= 1 << 14:
        raise ValueError("hevc fixture: qp/coefficient out of range")
    idr = encode_hevc_iframe_dc(width, height, qp, c0)
    out = b""
    for nal in _split_nals(idr):
        t = (nal[0] >> 1) & 63
        if t == 34:
            out += _hevc_nal(34, _fixture_pps(qp, tq_bypass=False,
                                              cabac_init=True))
        else:
            out += b"\x00\x00\x00\x01" + nal
    bw = _BitWriter()
    bw.u(1, 1)
    bw.ue(0)
    bw.ue(1)                        # slice_type P
    bw.u(8, 1)
    bw.u(1, 0)
    bw.ue(1); bw.ue(0)
    bw.ue(0); bw.u(1, 1)
    bw.u(1, 0)                      # num_ref_idx_active_override
    bw.u(1, 1)                      # cabac_init_flag → B column
    bw.ue(4)
    bw.se(0)
    bw.u(1, 1)
    bw.align_zero()
    enc = _CabacEnc(bw, qp)
    enc.state = _ctx_states(qp, 2)  # swapped: B init rows for a P slice
    coeffs = np.zeros((16, 16), np.int64)
    coeffs[0, 0] = c2
    n_w, n_h = width // 16, height // 16
    for addr in range(n_w * n_h):
        enc.enc(_CTX_OFF["cu_skip"], 0)
        enc.enc(_CTX_OFF["pred_mode"], 0)
        enc.enc(_CTX_OFF["part_mode"], 1)
        enc.enc(_CTX_OFF["merge_flag"], 1)
        enc.enc(_CTX_OFF["cbf_chroma"], 0)
        enc.enc(_CTX_OFF["cbf_chroma"], 0)
        _residual_encode(enc, coeffs, 4, 0)
        enc.terminate_enc(1 if addr == n_w * n_h - 1 else 0)
    bw.align_zero()
    return out + _hevc_nal(1, bw.done())
