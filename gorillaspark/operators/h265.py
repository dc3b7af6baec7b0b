"""From-scratch HEVC (Rec. ITU-T H.265) Main-profile codec —
formerly the last named media stub on the multimodal surface
(hev1/hvc1 MP4 tracks demuxed fine but their frame decode raised).

Scope (r8): Main profile, 4:2:0, 8-bit, I slices —
* NAL layer: Annex-B start codes, the 2-byte H.265 NAL header
  (§7.3.1.2: nal_unit_type(6) / nuh_layer_id(6) / temporal_id(3)),
  emulation-prevention handling shared with h264.py.
* Parameter sets: VPS/SPS/PPS parse + write with profile_tier_level
  (§7.3.3), and the ISO/IEC 14496-15 §8.3.3 HEVCDecoderConfiguration
  Record (hvcC) for hvc1 MP4 tracks.
* Coding structure: CTB 16x16, quadtree split to 8x8 CUs, intra
  part modes 2Nx2N and NxN (four 4x4 PUs at min CU size), residual
  quadtree collapsed to TU == CU (max_transform_hierarchy_depth_intra
  = 0; the NxN intra split forces 4x4 TUs per §7.4.9.8).
* Intra prediction (§8.4.4.2): planar / DC / the 33 angular modes,
  reference-sample substitution and the [1 2 1] smoothing filter.
* Lossless only: every CU is coded with cu_transquant_bypass (PPS
  transquant_bypass_enabled_flag 1), so the coded residual IS the
  sample difference and decode reproduces the source bit for bit.
  There is no transform, quantization or in-loop filter: the PPS
  disables deblocking and the slice header writes both SAO flags 0.
  A stream that would need any of them (bypass off in the PPS or in
  a CU, deblocking enabled, a slice SAO flag set) raises
  ``NotImplementedError``.
* Entropy: CABAC only (HEVC has no CAVLC slice data). The binary
  arithmetic engine is SHARED with h264_cabac.py — H.265 §9.3.4 is
  the same M-coder — and so is its honesty contract: the
  rangeTabLPS / transIdxLPS tables are REGENERATED from the
  published Marpe/Schwarz/Wiegand design formulas and contexts
  initialize uniformly instead of the spec's literal initValue
  tables (Tables 9-5..9-32 — pure data, unverifiable without
  conformance vectors in this sandbox). Literal CONTEXT-SELECTION
  maps (e.g. the 4x4 significance ctxIdxMap of §9.3.4.2.5) are
  likewise replaced by simple documented position maps. Both sides
  of THIS codec share every replaced table, so round-trips are
  exact, but a third-party HEVC stream WOULD desync — therefore
  decode only accepts streams carrying the gorillaspark SEI marker
  (``_GS_HEVC_UUID``, a prefix-SEI user_data_unregistered payload)
  and rejects foreign HEVC loudly with NotImplementedError rather
  than misdecode it. Substituting the spec's literal initValue /
  ctxIdxMap data is a pure data swap that would restore interop;
  every structural piece (engine, binarizations, syntax order,
  scans, prediction) is already here.

Intra only: every picture is an IDR I slice, and a stream carrying
inter (TRAIL P/B) pictures raises ``NotImplementedError``. The SPS
signals AMP off and an inter transform depth of 0.

Deliberately out of scope (reject loudly): PCM, scaling lists,
tiles, WPP, long-term refs, 4:2:2/4:4:4, >8-bit.

Scale note (same contract as h264.py): decode runs per-payload
inside mapInArrow batches on the media surface — embarrassingly
parallel, no shuffle — bounded by the plausibility caps of the
ingestion contract.

Reference parity: the Gorilla reference (burmanm/gorilla-tsc) has no
media surface; this extends SURVEY §2C's multimodal coverage.
"""

from __future__ import annotations

import numpy as np

from .h264 import _Bits, _BitW, _escape, _unescape
from .h264_cabac import _CabacDec, _CabacEnc

# gorillaspark HEVC marker (prefix SEI, user_data_unregistered):
# gates CABAC decode to own streams — see module docstring
_GS_HEVC_UUID = b"gorillaspark-hvc"

# H.265 NAL unit types (Table 7-1)
_NAL_TRAIL_N = 0
_NAL_TRAIL_R = 1
_NAL_IDR_W_RADL = 19
_NAL_IDR_N_LP = 20
_NAL_VPS = 32
_NAL_SPS = 33
_NAL_PPS = 34
_NAL_PREFIX_SEI = 39

# init_qp of the PPS: a fixed syntax value, unused by bypass CUs
_INIT_QP = 32


# ---------------------------------------------------------------------------
# NAL layer
# ---------------------------------------------------------------------------


def _split_annexb_h265(payload: bytes):
    """Yield (nal_unit_type, nuh_layer_id, temporal_id, rbsp) per
    Annex-B NAL unit. H.265 NAL headers are TWO bytes (§7.3.1.2):
    forbidden_zero_bit(1) nal_unit_type(6) nuh_layer_id(6)
    nuh_temporal_id_plus1(3)."""
    n = len(payload)
    i = 0
    starts = []
    while i + 2 < n:
        if payload[i] == 0 and payload[i + 1] == 0:
            if payload[i + 2] == 1:
                starts.append(i + 3)
                i += 3
                continue
            if i + 3 < n and payload[i + 2] == 0 and payload[i + 3] == 1:
                starts.append(i + 4)
                i += 4
                continue
        i += 1
    if not starts:
        raise ValueError("no Annex-B start code in H.265 stream")
    for si, s in enumerate(starts):
        e = starts[si + 1] - 3 if si + 1 < len(starts) else n
        while e > s and payload[e - 1] == 0:
            # trailing_zero_8bits (and the 4-byte start code's extra 0)
            e -= 1
        nal = payload[s:e]
        if len(nal) < 3:
            raise ValueError("truncated H.265 NAL unit")
        h = (nal[0] << 8) | nal[1]
        if h & 0x8000:
            raise ValueError("forbidden_zero_bit set in NAL header")
        nal_type = (h >> 9) & 0x3F
        layer_id = (h >> 3) & 0x3F
        tid = (h & 7) - 1
        if tid < 0:
            raise ValueError("nuh_temporal_id_plus1 is zero")
        yield nal_type, layer_id, tid, _unescape(nal[2:])


def _nal(nal_type: int, rbsp: bytes, tid: int = 0) -> bytes:
    """Wrap an RBSP as a start-coded H.265 NAL unit."""
    h = (nal_type << 9) | (tid + 1)
    return (b"\x00\x00\x00\x01" + bytes([h >> 8, h & 0xFF])
            + _escape(rbsp))


def _marker_sei() -> bytes:
    """The gorillaspark prefix-SEI NAL: payloadType 5
    (user_data_unregistered), the 16-byte UUID field carrying
    ``_GS_HEVC_UUID`` (§D.2.7)."""
    body = bytes([5, len(_GS_HEVC_UUID)]) + _GS_HEVC_UUID
    return _nal(_NAL_PREFIX_SEI, body + b"\x80")


# ---------------------------------------------------------------------------
# parameter sets
# ---------------------------------------------------------------------------


def _write_ptl(bw: _BitW):
    """profile_tier_level (§7.3.3), maxNumSubLayersMinus1 = 0:
    Main profile (general_profile_idc 1), Main tier, level 3.0."""
    bw.u(0, 2)                   # general_profile_space
    bw.u(0, 1)                   # general_tier_flag
    bw.u(1, 5)                   # general_profile_idc = Main
    bw.u(1 << 30, 32)            # compatibility: flag[1] set
    bw.u(1, 1)                   # general_progressive_source_flag
    bw.u(0, 1)                   # general_interlaced_source_flag
    bw.u(0, 1)                   # general_non_packed_constraint_flag
    bw.u(1, 1)                   # general_frame_only_constraint_flag
    bw.u(0, 32)                  # general_reserved_zero_43bits...
    bw.u(0, 11)                  # ...(43 bits total)
    bw.u(0, 1)                   # general_inbld_flag (reserved)
    bw.u(90, 8)                  # general_level_idc = level 3.0


def _parse_ptl(br: _Bits) -> dict:
    ptl = {
        "profile_space": br.u(2),
        "tier": br.u(1),
        "profile_idc": br.u(5),
        "compat": br.u(32),
    }
    br.u(4)                      # progressive/interlaced/non-packed/frame-only
    br.u(32)
    br.u(11)
    br.u(1)
    ptl["level_idc"] = br.u(8)
    return ptl


def _write_vps(bw: _BitW):
    """video_parameter_set_rbsp (§7.3.2.1), single layer, no
    sub-layers, no timing info."""
    bw.u(0, 4)                   # vps_video_parameter_set_id
    bw.u(3, 2)                   # vps_base_layer_internal/available (reserved 1s)
    bw.u(0, 6)                   # vps_max_layers_minus1
    bw.u(0, 3)                   # vps_max_sub_layers_minus1
    bw.u(1, 1)                   # vps_temporal_id_nesting_flag
    bw.u(0xFFFF, 16)             # vps_reserved_0xffff_16bits
    _write_ptl(bw)
    bw.u(0, 1)                   # vps_sub_layer_ordering_info_present_flag
    bw.ue(0)                     # vps_max_dec_pic_buffering_minus1
    bw.ue(0)                     # vps_max_num_reorder_pics
    bw.ue(0)                     # vps_max_latency_increase_plus1
    bw.u(0, 6)                   # vps_max_layer_id
    bw.ue(0)                     # vps_num_layer_sets_minus1
    bw.u(0, 1)                   # vps_timing_info_present_flag
    bw.u(0, 1)                   # vps_extension_flag
    bw.trailing()


def _parse_vps(br: _Bits) -> dict:
    vps = {"id": br.u(4)}
    br.u(2)
    br.u(6)
    n_sub = br.u(3)
    if n_sub:
        raise NotImplementedError("HEVC sub-layers unsupported")
    br.u(1)
    if br.u(16) != 0xFFFF:
        raise ValueError("vps_reserved_0xffff_16bits mismatch")
    vps["ptl"] = _parse_ptl(br)
    return vps


def _write_sps(bw: _BitW, w: int, h: int, crop=(0, 0, 0, 0)):
    """seq_parameter_set_rbsp (§7.3.2.2) for this codec's fixed
    coding structure: CTB 16, min CB 8, TB 4..16, rqt depth 0,
    4:2:0, 8-bit, no PCM/scaling lists/VUI. SAO is enabled here, so
    every slice header carries the two slice SAO flags (always 0).
    ``crop`` is the
    conformance window (left, right, top, bottom) in luma samples —
    pic_width/height must already be CTB-multiples."""
    if w % 16 or h % 16 or w == 0 or h == 0:
        raise ValueError("SPS dimensions must be non-zero CTB multiples")
    bw.u(0, 4)                   # sps_video_parameter_set_id
    bw.u(0, 3)                   # sps_max_sub_layers_minus1
    bw.u(1, 1)                   # sps_temporal_id_nesting_flag
    _write_ptl(bw)
    bw.ue(0)                     # sps_seq_parameter_set_id
    bw.ue(1)                     # chroma_format_idc = 4:2:0
    bw.ue(w)                     # pic_width_in_luma_samples
    bw.ue(h)                     # pic_height_in_luma_samples
    if any(crop):
        bw.u(1, 1)               # conformance_window_flag
        # window offsets are in chroma units for 4:2:0 (§7.4.3.2)
        for c in crop:
            if c % 2:
                raise ValueError("4:2:0 crop offsets must be even")
            bw.ue(c // 2)
    else:
        bw.u(0, 1)
    bw.ue(0)                     # bit_depth_luma_minus8
    bw.ue(0)                     # bit_depth_chroma_minus8
    bw.ue(4)                     # log2_max_pic_order_cnt_lsb_minus4
    bw.u(1, 1)                   # sps_sub_layer_ordering_info_present_flag
    bw.ue(1)                     # sps_max_dec_pic_buffering_minus1
    bw.ue(0)                     # sps_max_num_reorder_pics
    bw.ue(0)                     # sps_max_latency_increase_plus1
    bw.ue(0)                     # log2_min_luma_coding_block_size_minus3
    bw.ue(1)                     # log2_diff_max_min_luma_coding_block_size
    bw.ue(0)                     # log2_min_luma_transform_block_size_minus2
    bw.ue(2)                     # log2_diff_max_min_luma_transform_block_size
    bw.ue(0)                     # max_transform_hierarchy_depth_inter
    bw.ue(0)                     # max_transform_hierarchy_depth_intra
    bw.u(0, 1)                   # scaling_list_enabled_flag
    bw.u(0, 1)                   # amp_enabled_flag
    bw.u(1, 1)                   # sample_adaptive_offset_enabled_flag
    bw.u(0, 1)                   # pcm_enabled_flag
    bw.ue(0)                     # num_short_term_ref_pic_sets
    bw.u(0, 1)                   # long_term_ref_pics_present_flag
    bw.u(0, 1)                   # sps_temporal_mvp_enabled_flag
    bw.u(0, 1)                   # strong_intra_smoothing_enabled_flag
    bw.u(0, 1)                   # vui_parameters_present_flag
    bw.u(0, 1)                   # sps_extension_present_flag
    bw.trailing()


def _parse_sps(br: _Bits) -> dict:
    if br.u(4) != 0:
        raise NotImplementedError("non-zero sps_video_parameter_set_id")
    if br.u(3):
        raise NotImplementedError("HEVC sub-layers unsupported")
    br.u(1)
    ptl = _parse_ptl(br)
    sps = {"ptl": ptl, "id": br.ue()}
    chroma = br.ue()
    if chroma != 1:
        raise NotImplementedError(
            f"chroma_format_idc {chroma} unsupported (4:2:0 only)")
    w = br.ue()
    h = br.ue()
    if w == 0 or h == 0 or w > 1 << 16 or h > 1 << 16:
        raise ValueError("implausible SPS dimensions")
    crop = (0, 0, 0, 0)
    if br.u(1):
        crop = tuple(2 * br.ue() for _ in range(4))
    sps.update(w=w, h=h, crop=crop)
    if br.ue() or br.ue():
        raise NotImplementedError("bit depths beyond 8 unsupported")
    # log2_max_pic_order_cnt_lsb: IDR slice headers carry no POC lsb
    if br.ue() + 4 > 16:
        raise ValueError("log2_max_pic_order_cnt_lsb out of range")
    if br.u(1):                  # sub_layer_ordering_info_present
        br.ue(), br.ue(), br.ue()
    min_cb = br.ue() + 3
    ctb = min_cb + br.ue()
    min_tb = br.ue() + 2
    max_tb = min_tb + br.ue()
    if not (3 <= min_cb <= ctb <= 6) or not (2 <= min_tb <= max_tb <= 5):
        raise ValueError("illegal coding/transform block sizes")
    if (min_cb, ctb, min_tb, max_tb) != (3, 4, 2, 4):
        raise NotImplementedError(
            "coding structure beyond CTB16/CB8/TB4..16 unsupported")
    sps.update(log2_ctb=ctb, log2_min_cb=min_cb,
               log2_min_tb=min_tb, log2_max_tb=max_tb)
    if w % (1 << ctb) or h % (1 << ctb):
        raise NotImplementedError("pic size not a CTB multiple")
    br.ue()                      # max_transform_hierarchy_depth_inter
    if br.ue() != 0:             # max_transform_hierarchy_depth_intra
        raise NotImplementedError("residual quadtree depth unsupported")
    if br.u(1):
        raise NotImplementedError("scaling lists unsupported")
    br.u(1)                      # amp_enabled_flag (inter-only)
    sps["sao"] = br.u(1)         # sample-adaptive offset
    if br.u(1):
        raise NotImplementedError("PCM unsupported")
    if br.ue():
        raise NotImplementedError("short-term RPS unsupported")
    if br.u(1):
        raise NotImplementedError("long-term ref pics unsupported")
    br.u(1)                      # temporal MVP (inter-only)
    sps["strong_smoothing"] = br.u(1)
    if br.u(1):
        raise NotImplementedError("VUI parsing unsupported")
    if br.u(1):
        raise NotImplementedError("SPS extensions unsupported")
    return sps


def _write_pps(bw: _BitW):
    """pic_parameter_set_rbsp (§7.3.2.3): no tiles/WPP, chroma QP
    offsets 0, transquant bypass enabled and deblocking disabled.
    init_qp is written but never used: bypass CUs are not scaled."""
    bw.ue(0)                     # pps_pic_parameter_set_id
    bw.ue(0)                     # pps_seq_parameter_set_id
    bw.u(0, 1)                   # dependent_slice_segments_enabled_flag
    bw.u(0, 1)                   # output_flag_present_flag
    bw.u(0, 3)                   # num_extra_slice_header_bits
    bw.u(0, 1)                   # sign_data_hiding_enabled_flag
    bw.u(0, 1)                   # cabac_init_present_flag
    bw.ue(0)                     # num_ref_idx_l0_default_active_minus1
    bw.ue(0)                     # num_ref_idx_l1_default_active_minus1
    bw.se(_INIT_QP - 26)         # init_qp_minus26
    bw.u(0, 1)                   # constrained_intra_pred_flag
    bw.u(0, 1)                   # transform_skip_enabled_flag
    bw.u(0, 1)                   # cu_qp_delta_enabled_flag
    bw.se(0)                     # pps_cb_qp_offset
    bw.se(0)                     # pps_cr_qp_offset
    bw.u(0, 1)                   # pps_slice_chroma_qp_offsets_present_flag
    bw.u(0, 1)                   # weighted_pred_flag
    bw.u(0, 1)                   # weighted_bipred_flag
    bw.u(1, 1)                   # transquant_bypass_enabled_flag
    bw.u(0, 1)                   # tiles_enabled_flag
    bw.u(0, 1)                   # entropy_coding_sync_enabled_flag
    bw.u(0, 1)                   # pps_loop_filter_across_slices_enabled_flag
    bw.u(1, 1)                   # deblocking_filter_control_present_flag
    bw.u(0, 1)                   # deblocking_filter_override_enabled_flag
    bw.u(1, 1)                   # pps_deblocking_filter_disabled_flag
    bw.u(0, 1)                   # pps_scaling_list_data_present_flag
    bw.u(0, 1)                   # lists_modification_present_flag
    bw.ue(0)                     # log2_parallel_merge_level_minus2
    bw.u(0, 1)                   # slice_segment_header_extension_present_flag
    bw.u(0, 1)                   # pps_extension_present_flag
    bw.trailing()


def _parse_pps(br: _Bits) -> dict:
    if br.ue() or br.ue():
        raise NotImplementedError("non-zero PPS/SPS ids unsupported")
    if br.u(1):
        raise NotImplementedError("dependent slice segments unsupported")
    br.u(1)                      # output_flag_present
    if br.u(3):
        raise NotImplementedError("extra slice header bits unsupported")
    if br.u(1):
        raise NotImplementedError("sign data hiding unsupported")
    if br.u(1):
        raise NotImplementedError("cabac_init_flag unsupported")
    br.ue(), br.ue()             # default ref idx counts (inter-only)
    pps = {"qp": 26 + br.se()}
    if not 0 <= pps["qp"] <= 51:
        raise ValueError("init_qp out of range")
    br.u(1)                      # constrained_intra_pred (no inter: moot)
    if br.u(1):
        raise NotImplementedError("transform_skip unsupported")
    if br.u(1):
        raise NotImplementedError("cu_qp_delta unsupported")
    if br.se() or br.se():
        raise NotImplementedError("chroma QP offsets unsupported")
    if br.u(1):
        raise NotImplementedError("slice chroma QP offsets unsupported")
    br.u(1), br.u(1)             # weighted pred flags (inter-only)
    if not br.u(1):
        raise NotImplementedError(
            "lossy HEVC unsupported: transquant_bypass_enabled_flag is "
            "0, and this codec has no transform or quantization")
    if br.u(1):
        raise NotImplementedError("tiles unsupported")
    if br.u(1):
        raise NotImplementedError("wavefront (WPP) unsupported")
    br.u(1)                      # loop_filter_across_slices
    # control_present 0 infers pps_deblocking_filter_disabled_flag 0
    # (filter on); an override lets a slice header turn it on
    present = br.u(1)
    if not present or br.u(1) or not br.u(1):
        raise NotImplementedError(
            "HEVC deblocking filter unsupported: the PPS must set "
            "pps_deblocking_filter_disabled_flag (no override)")
    if br.u(1):
        raise NotImplementedError("PPS scaling lists unsupported")
    br.u(1)                      # lists_modification (inter-only)
    br.ue()                      # log2_parallel_merge_level (inter-only)
    if br.u(1):
        raise NotImplementedError("slice header extensions unsupported")
    return pps


def _write_slice_header(bw: _BitW):
    """slice_segment_header (§7.3.6.1) of a one-segment IDR I slice
    under this codec's fixed SPS/PPS."""
    bw.u(1, 1)                   # first_slice_segment_in_pic_flag
    bw.u(0, 1)                   # no_output_of_prior_pics_flag (IDR)
    bw.ue(0)                     # slice_pic_parameter_set_id
    bw.ue(2)                     # slice_type = I
    # SPS sample_adaptive_offset_enabled_flag is 1, so the per-slice
    # flags are present; both stay 0 (SAO would break losslessness)
    bw.u(0, 1)                   # slice_sao_luma_flag
    bw.u(0, 1)                   # slice_sao_chroma_flag
    bw.se(0)                     # slice_qp_delta
    bw.trailing()                # byte_alignment before slice data


def _parse_slice_header(br: _Bits, pps: dict,
                        sao_present: bool = True) -> int:
    """Parse the header of an IDR slice segment (the only picture
    type this codec decodes); returns the range-checked slice QP,
    which bypass CUs never use."""
    if not br.u(1):
        raise NotImplementedError("multi-segment slices unsupported")
    br.u(1)                      # no_output_of_prior_pics_flag
    if br.ue() != 0:
        raise NotImplementedError("non-zero slice PPS id unsupported")
    st = br.ue()
    if st not in (0, 1, 2):
        raise ValueError(f"illegal slice_type {st}")
    if st != 2:
        raise ValueError("IDR access unit with a non-I slice")
    if sao_present and br.u(1) + br.u(1):
        raise NotImplementedError(
            "HEVC sample-adaptive offset unsupported: a slice SAO flag "
            "is set, and this codec decodes lossless streams only")
    qp = pps["qp"] + br.se()
    if not 0 <= qp <= 51:
        raise ValueError("slice QP out of range")
    # byte_alignment: alignment_bit_equal_to_one + zeros
    if br.u(1) != 1:
        raise ValueError("slice header alignment bit missing")
    while br.pos % 8:
        if br.u(1):
            raise ValueError("slice header alignment padding not zero")
    return qp


# ---------------------------------------------------------------------------
# hvcC (HEVCDecoderConfigurationRecord, ISO/IEC 14496-15 §8.3.3)
# ---------------------------------------------------------------------------


def hevc_hvcc_config(annexb: bytes) -> bytes:
    """Build the hvcC box BODY from the VPS/SPS/PPS NALs of an
    Annex-B access unit. Length field size 4; parameter sets stored
    in-record per type (array_completeness = 1)."""
    psets: dict[int, list[bytes]] = {_NAL_VPS: [], _NAL_SPS: [],
                                     _NAL_PPS: []}
    sps = None
    for nal_type, _lid, _tid, rbsp in _split_annexb_h265(annexb):
        if nal_type in psets:
            psets[nal_type].append(_raw_nal(nal_type, rbsp))
        if nal_type == _NAL_SPS:
            sps = _parse_sps(_Bits(rbsp))
    if not psets[_NAL_SPS] or not psets[_NAL_PPS]:
        raise ValueError("Annex-B stream lacks SPS or PPS")
    ptl = sps["ptl"]
    out = bytearray()
    out.append(1)                                    # configurationVersion
    out.append((ptl["profile_space"] << 6) | (ptl["tier"] << 5)
               | ptl["profile_idc"])
    out += ptl["compat"].to_bytes(4, "big")          # compatibility flags
    out += b"\xb0\x00\x00\x00\x00\x00"               # constraint flags
    out.append(ptl["level_idc"])
    out += b"\xf0\x00"                               # min_spatial_seg
    out.append(0xFC)                                 # parallelismType
    out.append(0xFC | 1)                             # chromaFormat 4:2:0
    out.append(0xF8)                                 # bitDepthLumaMinus8
    out.append(0xF8)                                 # bitDepthChromaMinus8
    out += b"\x00\x00"                               # avgFrameRate
    out.append(3)                                    # lengthSizeMinusOne=3
    arrays = [(t, psets[t]) for t in (_NAL_VPS, _NAL_SPS, _NAL_PPS)
              if psets[t]]
    out.append(len(arrays))
    for t, nals in arrays:
        out.append(0x80 | t)                         # completeness | type
        out += len(nals).to_bytes(2, "big")
        for nal in nals:
            out += len(nal).to_bytes(2, "big") + nal
    return bytes(out)


def _raw_nal(nal_type: int, rbsp: bytes, tid: int = 0) -> bytes:
    """Escaped NAL unit WITHOUT a start code (hvcC / sample body)."""
    h = (nal_type << 9) | (tid + 1)
    return bytes([h >> 8, h & 0xFF]) + _escape(rbsp)


def hevc_to_hvc1_sample(annexb: bytes) -> bytes:
    """Length-prefix (4-byte) the non-parameter-set NALs of an
    Annex-B access unit — the hvc1 MP4 sample payload."""
    out = bytearray()
    for nal_type, _lid, tid, rbsp in _split_annexb_h265(annexb):
        if nal_type in (_NAL_VPS, _NAL_SPS, _NAL_PPS):
            continue
        nal = _raw_nal(nal_type, rbsp, tid)
        out += len(nal).to_bytes(4, "big") + nal
    if not out:
        raise ValueError("access unit has no sample NALs")
    return bytes(out)


def hevc_sample_to_annexb(sample: bytes, hvcc: bytes) -> bytes:
    """Rebuild a decodable Annex-B access unit from a
    length-prefixed hvc1 sample plus its track's hvcC record."""
    if len(hvcc) < 23 or hvcc[0] != 1:
        raise ValueError("corrupt hvcC record")
    length_size = (hvcc[21] & 3) + 1
    n_arrays = hvcc[22]
    sc = b"\x00\x00\x00\x01"
    out = bytearray()
    pos = 23
    for _ in range(n_arrays):
        if pos + 3 > len(hvcc):
            raise ValueError("truncated hvcC arrays")
        n_nals = int.from_bytes(hvcc[pos + 1:pos + 3], "big")
        pos += 3
        for _ in range(n_nals):
            if pos + 2 > len(hvcc):
                raise ValueError("truncated hvcC NAL length")
            ln = int.from_bytes(hvcc[pos:pos + 2], "big")
            pos += 2
            if ln == 0 or pos + ln > len(hvcc):
                raise ValueError("corrupt hvcC NAL")
            out += sc + hvcc[pos:pos + ln]
            pos += ln
    p = 0
    while p < len(sample):
        if p + length_size > len(sample):
            raise ValueError("truncated hvc1 sample length prefix")
        ln = int.from_bytes(sample[p:p + length_size], "big")
        p += length_size
        if ln == 0 or p + ln > len(sample):
            raise ValueError("corrupt hvc1 sample NAL length")
        out += sc + sample[p:p + ln]
        p += ln
    return bytes(out)


# ---------------------------------------------------------------------------
# CABAC context allocation (uniform init — see module docstring)
# ---------------------------------------------------------------------------

_SPLIT_CU = 0       # 3: + (depth_left > d) + (depth_above > d)
_TQ_BYPASS = 3      # 1: cu_transquant_bypass_flag
_PART_MODE = 4      # 1: intra part_mode at min CB size
_PREV_INTRA = 5     # 1: prev_intra_luma_pred_flag
_CHROMA_MODE = 6    # 1: intra_chroma_pred_mode bin0
_CBF_LUMA = 7       # 2: trafoDepth == 0 ? 1 : 0
_CBF_CHROMA = 9     # 2: min(trafoDepth, 1)
_LAST_X = 11        # 18: luma 15 (size-offset formula) + chroma 3
_LAST_Y = 29        # 18
_CSBF = 47          # 4: (chroma ? 2 : 0) + min(csbf_right+csbf_below, 1)
_SIG = 51           # 19: luma 0..10, chroma 11..18 (see _sig_ctx)
_GT1 = 70           # 24: luma sets 0..3, chroma sets 4..5, x4 each
_GT2 = 94           # 6: one per ctxSet
N_CTX5 = 100


class _Ctx5:
    """HEVC context variables: pStateIdx + valMPS, uniform init
    (same honesty contract as h264_cabac._Ctx — the spec's literal
    initValue tables are data this sandbox cannot validate)."""

    __slots__ = ("state", "mps")

    def __init__(self):
        self.state = bytearray(N_CTX5)
        self.mps = bytearray(N_CTX5)


# ---------------------------------------------------------------------------
# scan orders (§6.5.3): up-right diagonal / horizontal / vertical
# ---------------------------------------------------------------------------


def _scan_order(n: int, idx: int):
    """Scan position list [(x, y), ...] for an n×n block.
    idx: 0 diagonal (up-right), 1 horizontal, 2 vertical."""
    if idx == 1:
        return [(x, y) for y in range(n) for x in range(n)]
    if idx == 2:
        return [(x, y) for x in range(n) for y in range(n)]
    out = []
    for d in range(2 * n - 1):
        # up-right: start at the bottom of the diagonal
        for x in range(max(0, d - n + 1), min(d, n - 1) + 1):
            y = d - x
            if y < n:
                out.append((x, y))
    return out


_SCAN4 = {i: _scan_order(4, i) for i in range(3)}


def _scan_idx(intra_mode: int, log2_tb: int, is_luma: bool) -> int:
    """Mode-dependent coefficient scan (§7.4.9.11): 4x4/8x8 luma
    (and 4x4 chroma) intra TBs scan vertically for near-horizontal
    modes 6..14 and horizontally for near-vertical modes 22..30."""
    if log2_tb > 3 or (not is_luma and log2_tb > 2):
        return 0
    if 6 <= intra_mode <= 14:
        return 2
    if 22 <= intra_mode <= 30:
        return 1
    return 0


# ---------------------------------------------------------------------------
# intra prediction (§8.4.4.2)
# ---------------------------------------------------------------------------

# intraPredAngle per angular mode 2..34 (§8.4.4.2.6 Table 8-5,
# published spec table — transcription with citation, the same
# contract as h264.py's VLC tables) and invAngle for the negative
# angles (Table 8-6).
_ANGLE = [32, 26, 21, 17, 13, 9, 5, 2, 0, -2, -5, -9, -13, -17, -21,
          -26, -32, -26, -21, -17, -13, -9, -5, -2, 0, 2, 5, 9, 13,
          17, 21, 26, 32]
_INV_ANGLE = {-2: -4096, -5: -1638, -9: -910, -13: -630, -17: -482,
              -21: -390, -26: -315, -32: -256}


def _gather_refs(plane: np.ndarray, avail: np.ndarray, x0: int,
                 y0: int, n: int, g: int = 4):
    """Reference sample derivation (§8.4.4.2.2): the 4n+1 neighbours
    p[-1][-1..2n-1] (left column) and p[-1..2n-1][-1] (top row) with
    substitution for unavailable samples. ``avail`` is the decoded
    mask at 4x4-LUMA granularity; ``g`` maps plane coordinates onto
    it (4 for the luma plane, 2 for the half-resolution chroma
    planes). Returns (left[2n+1], top[2n+1]) with the shared corner
    at index 0."""
    H, W = plane.shape
    left = np.full(2 * n + 1, -1, dtype=np.int64)
    top = np.full(2 * n + 1, -1, dtype=np.int64)
    if x0 > 0 and y0 > 0 and avail[(y0 - 1) // g, (x0 - 1) // g]:
        left[0] = top[0] = plane[y0 - 1, x0 - 1]
    # vectorized neighbour walk: the left column reads (x0-1, y0+i)
    # for i < min(2n, H-y0), the top row (x0+i, y0-1) for
    # i < min(2n, W-x0); availability comes from the 4x4-granular
    # mask exactly as the scalar ok() did
    if x0 > 0 and y0 < H:
        kk = min(2 * n, H - y0)
        av = avail[(y0 + np.arange(kk)) // g, (x0 - 1) // g] \
            .astype(bool)
        vals = plane[y0:y0 + kk, x0 - 1]
        left[1:1 + kk][av] = vals[av]
    if y0 > 0 and x0 < W:
        kk = min(2 * n, W - x0)
        av = avail[(y0 - 1) // g, (x0 + np.arange(kk)) // g] \
            .astype(bool)
        vals = plane[y0 - 1, x0:x0 + kk]
        top[1:1 + kk][av] = vals[av]
    # substitution (§8.4.4.2.2): if nothing available -> 128; else
    # scan from the bottom-left end upward through the corner and
    # across the top, propagating the previous value (vectorized as a
    # last-valid-index maximum scan — identical fill values)
    seq = np.concatenate([left[::-1], top[1:]])     # bottom-left..top-right
    valid = seq >= 0
    if not valid.any():
        seq[:] = 128
    else:
        first = int(np.argmax(valid))
        seq[:first] = seq[first]
        idx = np.where(valid, np.arange(seq.size), 0)
        idx[:first + 1] = np.arange(first + 1)
        np.maximum.accumulate(idx, out=idx)
        seq = seq[idx]
    left = seq[:2 * n + 1][::-1].copy()
    top = seq[2 * n:].copy()
    top[0] = left[0]
    return left, top


def _filter_refs(left: np.ndarray, top: np.ndarray):
    """[1 2 1] intra reference smoothing (§8.4.4.2.3) — endpoints
    (bottom-left-most and top-right-most samples) pass unfiltered."""
    seq = np.concatenate([left[::-1], top[1:]]).astype(np.int64)
    sm = seq.copy()
    sm[1:-1] = (seq[:-2] + 2 * seq[1:-1] + seq[2:] + 2) >> 2
    n2 = len(left)
    fl = sm[:n2][::-1].copy()
    ft = sm[n2 - 1:].copy()
    return fl, ft


def _use_filter(mode: int, n: int, is_luma: bool) -> bool:
    """filterFlag (§8.4.4.2.3): luma only, never for DC or 4x4;
    size thresholds 7 (8x8) / 1 (16x16) on the distance to the
    pure horizontal/vertical modes; planar always filters at >4."""
    if not is_luma or n == 4 or mode == 1:
        return False
    if mode == 0:
        return True
    dist = min(abs(mode - 26), abs(mode - 10))
    return dist > (7 if n == 8 else 1)


def _pred_intra(left: np.ndarray, top: np.ndarray, mode: int, n: int,
                is_luma: bool) -> np.ndarray:
    """Predict an n×n block from (possibly filtered) reference
    arrays. left/top are length 2n+1 with the corner at index 0."""
    out = np.empty((n, n), dtype=np.int64)
    if mode == 0:                                 # planar (§8.4.4.2.4)
        l = left[1:n + 1]
        t = top[1:n + 1]
        tr = top[n + 1] if len(top) > n + 1 else top[n]
        bl = left[n + 1] if len(left) > n + 1 else left[n]
        x = np.arange(n)
        y = np.arange(n)
        # same per-element integer chain as the scalar row loop
        return ((n - 1 - x)[None, :] * l[:, None]
                + (x + 1)[None, :] * tr
                + (n - 1 - y)[:, None] * t[None, :]
                + (y + 1)[:, None] * bl + n) >> (int(np.log2(n)) + 1)
    if mode == 1:                                 # DC (§8.4.4.2.5)
        dc = (int(left[1:n + 1].sum() + top[1:n + 1].sum()) + n) >> \
            (int(np.log2(n)) + 1)
        out[:] = dc
        if is_luma and n < 32:
            # DC boundary smoothing
            out[0, 0] = (left[1] + 2 * dc + top[1] + 2) >> 2
            out[0, 1:] = (top[2:n + 1] + 3 * dc + 2) >> 2
            out[1:, 0] = (left[2:n + 1] + 3 * dc + 2) >> 2
        return out
    ang = _ANGLE[mode - 2]
    if mode >= 18:                                # vertical-ish
        main = top
        side = left
    else:                                         # horizontal-ish: swap
        main = left
        side = top
    # extended main reference (§8.4.4.2.6): ref[x] for x in -n..2n
    ref = np.zeros(3 * n + 1, dtype=np.int64)     # index x+n
    ref[n:] = main[:2 * n + 1]
    if ang < 0:
        inv = _INV_ANGLE[ang]
        last = (n * ang) >> 5
        xe = np.arange(-1, last - 1, -1)
        ref[xe + n] = side[np.minimum((xe * inv + 128) >> 8, 2 * n)]
    # all rows at once: idx/fact per row, gathered base/next slices;
    # the where() picks the unfiltered row exactly where fact == 0
    # (ref[pos + 1] is clamped there — never read, idx == n forces
    # fact == 0). Same integer arithmetic as the scalar row loop.
    yv = np.arange(1, n + 1)
    idx = (yv * ang) >> 5
    fact = (yv * ang) & 31
    pos = n + 1 + idx[:, None] + np.arange(n)[None, :]
    base = ref[pos]
    nxt = ref[np.minimum(pos + 1, 3 * n)]
    pr = np.where(fact[:, None],
                  ((32 - fact)[:, None] * base
                   + fact[:, None] * nxt + 16) >> 5,
                  base)
    if mode >= 18:
        out = pr
        if mode == 26 and is_luma and n < 32:     # vertical edge filter
            out = pr.copy()
            out[:, 0] = np.clip(
                top[1] + ((left[1:n + 1] - left[0]) >> 1), 0, 255)
    else:
        out = pr.T.copy()
        if mode == 10 and is_luma and n < 32:     # horizontal edge filter
            out[0, :] = np.clip(
                left[1] + ((top[1:n + 1] - top[0]) >> 1), 0, 255)
    return out


def _mpm_list(modes: np.ndarray, bx: int, by: int, ctb_log2: int):
    """The 3 most-probable-mode candidates (§8.4.2). ``modes`` is the
    per-4x4 luma mode grid (-1 where not intra-decoded); above
    candidates outside the current CTB row are unavailable."""
    cand_a = 1                                   # DC when unavailable
    if bx > 0 and modes[by, bx - 1] >= 0:
        cand_a = int(modes[by, bx - 1])
    cand_b = 1
    if by > 0 and modes[by - 1, bx] >= 0 and \
            (by * 4) % (1 << ctb_log2) != 0:
        cand_b = int(modes[by - 1, bx])
    if cand_a == cand_b:
        if cand_a < 2:
            return [0, 1, 26]
        return [cand_a, 2 + ((cand_a + 29) % 32), 2 + ((cand_a - 1) % 32)]
    third = 0 if 0 not in (cand_a, cand_b) else \
        (1 if 1 not in (cand_a, cand_b) else 26)
    return [cand_a, cand_b, third]


# ---------------------------------------------------------------------------
# residual coding (§7.3.8.11) — shared scan/context derivations
# ---------------------------------------------------------------------------

# last_sig_coeff group binarization (§9.3.3.2): groupIdx / minInGroup
_GROUP_IDX = [0, 1, 2, 3, 4, 4, 5, 5, 6, 6, 6, 6, 7, 7, 7, 7]
_MIN_IN_GROUP = [0, 1, 2, 3, 4, 6, 8, 12]


def _tb_scans(log2_tb: int, scan_idx: int):
    """(positions, sub-blocks) for an n×n TB: ``positions`` maps
    overall scan index -> (x, y) — sub-blocks in scan order, 16
    positions per sub-block in the same scan — and ``sub_blocks``
    is the sub-block coordinate list."""
    n = 1 << log2_tb
    if n == 4:
        return list(_SCAN4[scan_idx]), [(0, 0)]
    sbs = _scan_order(n // 4, scan_idx)
    inner = _SCAN4[scan_idx]
    pos = [(sx * 4 + x, sy * 4 + y) for sx, sy in sbs for x, y in inner]
    return pos, sbs


def _sig_ctx(x: int, y: int, log2_tb: int, is_luma: bool,
             prev_csbf: int, sb_idx: int) -> int:
    """significant_coeff_flag ctxIdx. The neighbour-sub-block
    pattern rules are the spec's (§9.3.4.2.5 formulas); the 4x4
    ctxIdxMap literal (Table 9-39) is replaced by a documented
    quadrant map (same honesty contract as the probability tables)."""
    base = _SIG if is_luma else _SIG + 11
    if x == 0 and y == 0:
        return base                       # DC context
    if log2_tb == 2:
        return base + 1 + (((y >> 1) << 1) | (x >> 1))
    xp, yp = x & 3, y & 3
    if prev_csbf == 0:
        s = 2 if xp + yp == 0 else (1 if xp + yp < 3 else 0)
    elif prev_csbf == 1:
        s = 2 if yp == 0 else (1 if yp == 1 else 0)
    elif prev_csbf == 2:
        s = 2 if xp == 0 else (1 if xp == 1 else 0)
    else:
        s = 2
    if is_luma:
        return base + 5 + (0 if sb_idx == 0 else 3) + s
    return base + 5 + s


def _last_ctx(bin_idx: int, log2_tb: int, is_luma: bool, base: int) -> int:
    """last_sig_coeff_{x,y}_prefix ctxIdx (§9.3.4.2.3 formulas)."""
    if is_luma:
        off = 3 * (log2_tb - 2) + ((log2_tb - 1) >> 2)
        shift = (log2_tb + 1) >> 2
    else:
        off = 15
        shift = log2_tb - 2
    return base + off + (bin_idx >> shift)


def _code_last_prefix(x, ctx, log2_tb: int, is_luma: bool,
                      base: int, v_in=None):
    """Code/parse one last-coordinate: TR prefix over group indices
    (ctx bins) + FL bypass suffix. Encoder: x=_CabacEnc, v = value.
    Decoder: x=_CabacDec, v ignored, returns value."""
    cmax = (log2_tb << 1) - 1
    enc = v_in is not None
    if enc:
        g = _GROUP_IDX[v_in]
        for i in range(g):
            x.bit(ctx, _last_ctx(i, log2_tb, is_luma, base), 1)
        if g < cmax:
            x.bit(ctx, _last_ctx(g, log2_tb, is_luma, base), 0)
        if g > 3:
            nbits = (g >> 1) - 1
            suf = v_in - _MIN_IN_GROUP[g]
            for i in range(nbits - 1, -1, -1):
                x.bypass((suf >> i) & 1)
        return v_in
    g = 0
    while g < cmax and x.bit(ctx, _last_ctx(g, log2_tb, is_luma, base)):
        g += 1
    if g <= 3:
        return g
    return _MIN_IN_GROUP[g] + x.bypass_n((g >> 1) - 1)


def _code_remaining(x, rice: int, v=None) -> int:
    """coeff_abs_level_remaining (§9.3.3.13 binarization): truncated
    Rice prefix (quotients 0..2) + suffix; quotient >= 3 escapes to
    exp-Golomb of order rice+1."""
    if v is not None:
        q = v >> rice
        if q < 3:
            for _ in range(q):
                x.bypass(1)
            x.bypass(0)
            for i in range(rice - 1, -1, -1):
                x.bypass((v >> i) & 1)
        else:
            x.bypass(1), x.bypass(1), x.bypass(1)
            rem = v - (3 << rice)
            k = rice + 1
            while rem >= (1 << k):
                x.bypass(1)
                rem -= 1 << k
                k += 1
            x.bypass(0)
            for i in range(k - 1, -1, -1):
                x.bypass((rem >> i) & 1)
        return v
    q = 0
    while q < 3 and x.bypass():
        q += 1
    if q < 3:
        return (q << rice) + x.bypass_n(rice)
    k = rice + 1
    v = 3 << rice
    while x.bypass():
        v += 1 << k
        k += 1
        if k > 30:
            raise ValueError("coeff_abs_level_remaining overflow")
    return v + x.bypass_n(k)


def _enc_residual5(enc: _CabacEnc, ctx: _Ctx5, coefs: np.ndarray,
                   log2_tb: int, is_luma: bool, scan_idx: int):
    """Encode one TB's residual_coding() — ``coefs`` is the n×n
    level matrix [y][x] with at least one non-zero."""
    n = 1 << log2_tb
    pos, sbs = _tb_scans(log2_tb, scan_idx)
    n_sb = len(sbs)
    sb_at = {sb: i for i, sb in enumerate(sbs)}
    last = max(s for s, (px, py) in enumerate(pos) if coefs[py, px])
    lx, ly = pos[last]
    if scan_idx == 2:
        lx, ly = ly, lx
    _code_last_prefix(enc, ctx, log2_tb, is_luma, _LAST_X, v_in=lx)
    _code_last_prefix(enc, ctx, log2_tb, is_luma, _LAST_Y, v_in=ly)
    last_sb = last >> 4
    csbf = np.zeros((n // 4, n // 4), dtype=bool)
    for s in range(last + 1):
        px, py = pos[s]
        if coefs[py, px]:
            csbf[py >> 2, px >> 2] = True
    prev_c1 = 1
    for si in range(last_sb, -1, -1):
        sx, sy = sbs[si]
        infer_dc = False
        if si == last_sb or si == 0:
            coded_sb = True
        else:
            coded_sb = bool(csbf[sy, sx])
            nb = int(sx + 1 < n // 4 and csbf[sy, sx + 1]) + \
                int(sy + 1 < n // 4 and csbf[sy + 1, sx])
            cc = _CSBF + (0 if is_luma else 2) + min(nb, 1)
            enc.bit(ctx, cc, int(coded_sb))
            infer_dc = coded_sb
        if not coded_sb:
            continue
        nbp = int(sx + 1 < n // 4 and csbf[sy, sx + 1]) + \
            2 * int(sy + 1 < n // 4 and csbf[sy + 1, sx])
        first = si << 4
        top = last if si == last_sb else first + 15
        sig_positions = []
        found = False
        for s in range(top, first - 1, -1):
            px, py = pos[s]
            sig = bool(coefs[py, px])
            if s == last and si == last_sb:
                sig_positions.append(s)
                found = True
                continue
            if s == first and infer_dc and not found:
                # inferred significant (inferSbDcSigCoeffFlag)
                if not sig:
                    raise ValueError("csbf set but sub-block empty")
                sig_positions.append(s)
                continue
            enc.bit(ctx, _sig_ctx(px & (n - 1), py & (n - 1), log2_tb,
                                  is_luma, nbp, si), int(sig))
            if sig:
                sig_positions.append(s)
                found = True
        levels = [int(abs(coefs[pos[s][1], pos[s][0]]))
                  for s in sig_positions]
        signs = [int(coefs[pos[s][1], pos[s][0]] < 0)
                 for s in sig_positions]
        ctx_set = (2 if si > 0 and is_luma else 0) + \
            (1 if prev_c1 == 0 else 0)
        if not is_luma:
            ctx_set += 4
        c1 = 1
        first_g1 = -1
        for k, lv in enumerate(levels[:8]):
            g1 = int(lv > 1)
            enc.bit(ctx, _GT1 + ctx_set * 4 + min(c1, 3), g1)
            if g1:
                if first_g1 < 0:
                    first_g1 = k
                c1 = 0
            elif c1:
                c1 = min(c1 + 1, 3)
        if first_g1 >= 0:
            enc.bit(ctx, _GT2 + ctx_set, int(levels[first_g1] > 2))
        prev_c1 = c1
        for sgn in signs:
            enc.bypass(sgn)
        rice = 0
        for k, lv in enumerate(levels):
            base = (2 + (1 if k == first_g1 else 0)) if k < 8 else 1
            if lv >= base:
                _code_remaining(enc, rice, v=lv - base)
            if lv > (3 << rice):
                rice = min(rice + 1, 4)


def _dec_residual5(dec: _CabacDec, ctx: _Ctx5, log2_tb: int,
                   is_luma: bool, scan_idx: int) -> np.ndarray:
    """Decode one TB's residual_coding() into an n×n level matrix."""
    n = 1 << log2_tb
    pos, sbs = _tb_scans(log2_tb, scan_idx)
    lx = _code_last_prefix(dec, ctx, log2_tb, is_luma, _LAST_X)
    ly = _code_last_prefix(dec, ctx, log2_tb, is_luma, _LAST_Y)
    if scan_idx == 2:
        lx, ly = ly, lx
    if lx >= n or ly >= n:
        raise ValueError("last significant coefficient out of range")
    pos_of = {p: s for s, p in enumerate(pos)}
    last = pos_of[(lx, ly)]
    last_sb = last >> 4
    out = np.zeros((n, n), dtype=np.int64)
    csbf = np.zeros((n // 4, n // 4), dtype=bool)
    csbf[sbs[last_sb][1], sbs[last_sb][0]] = True
    csbf[sbs[0][1], sbs[0][0]] = True
    prev_c1 = 1
    for si in range(last_sb, -1, -1):
        sx, sy = sbs[si]
        infer_dc = False
        if si == last_sb or si == 0:
            coded_sb = True
        else:
            nb = int(sx + 1 < n // 4 and csbf[sy, sx + 1]) + \
                int(sy + 1 < n // 4 and csbf[sy + 1, sx])
            cc = _CSBF + (0 if is_luma else 2) + min(nb, 1)
            coded_sb = bool(dec.bit(ctx, cc))
            csbf[sy, sx] = coded_sb
            infer_dc = coded_sb
        if not coded_sb:
            continue
        nbp = int(sx + 1 < n // 4 and csbf[sy, sx + 1]) + \
            2 * int(sy + 1 < n // 4 and csbf[sy + 1, sx])
        first = si << 4
        top = last if si == last_sb else first + 15
        sig_positions = []
        found = False
        for s in range(top, first - 1, -1):
            px, py = pos[s]
            if s == last and si == last_sb:
                sig_positions.append(s)
                found = True
                continue
            if s == first and infer_dc and not found:
                sig_positions.append(s)
                continue
            if dec.bit(ctx, _sig_ctx(px & (n - 1), py & (n - 1),
                                     log2_tb, is_luma, nbp, si)):
                sig_positions.append(s)
                found = True
        ctx_set = (2 if si > 0 and is_luma else 0) + \
            (1 if prev_c1 == 0 else 0)
        if not is_luma:
            ctx_set += 4
        c1 = 1
        first_g1 = -1
        g1_flags = []
        for k in range(min(len(sig_positions), 8)):
            g1 = dec.bit(ctx, _GT1 + ctx_set * 4 + min(c1, 3))
            g1_flags.append(g1)
            if g1:
                if first_g1 < 0:
                    first_g1 = k
                c1 = 0
            elif c1:
                c1 = min(c1 + 1, 3)
        g2 = 0
        if first_g1 >= 0:
            g2 = dec.bit(ctx, _GT2 + ctx_set)
        prev_c1 = c1
        nsig = len(sig_positions)
        sign_word = dec.bypass_n(nsig)
        signs = [(sign_word >> (nsig - 1 - i)) & 1
                 for i in range(nsig)]
        rice = 0
        for k, s in enumerate(sig_positions):
            if k < 8:
                lv = 1 + g1_flags[k] + (g2 if k == first_g1 else 0)
                base = 2 + (1 if k == first_g1 else 0)
                coded_max = lv == base
            else:
                lv = 1
                coded_max = True
            if coded_max:
                lv += _code_remaining(dec, rice)
            if lv > (3 << rice):
                rice = min(rice + 1, 4)
            px, py = pos[s]
            out[py, px] = -lv if signs[k] else lv
    return out


# ---------------------------------------------------------------------------
# coding units, quadtree, slice codec
# ---------------------------------------------------------------------------


class _Frame5:
    """Per-frame decode/encode state: recon planes plus the
    4x4-luma-granular availability / intra-mode / CU-depth grids the
    context and prediction derivations need."""

    __slots__ = ("Y", "Cb", "Cr", "avail", "modes", "depths")

    def __init__(self, W: int, H: int):
        self.Y = np.zeros((H, W), dtype=np.int64)
        self.Cb = np.full((H // 2, W // 2), 128, dtype=np.int64)
        self.Cr = np.full((H // 2, W // 2), 128, dtype=np.int64)
        self.avail = np.zeros((H // 4, W // 4), dtype=bool)
        self.modes = np.full((H // 4, W // 4), -1, dtype=np.int16)
        self.depths = np.zeros((H // 4, W // 4), dtype=np.int8)


def _split_ctx(fr: _Frame5, x0: int, y0: int, depth: int) -> int:
    """split_cu_flag ctxInc (§9.3.4.2.2): + (left CU deeper) +
    (above CU deeper), unavailable neighbours count 0."""
    bx, by = x0 // 4, y0 // 4
    inc = 0
    if x0 > 0 and fr.avail[by, bx - 1] and fr.depths[by, bx - 1] > depth:
        inc += 1
    if y0 > 0 and fr.avail[by - 1, bx] and fr.depths[by - 1, bx] > depth:
        inc += 1
    return _SPLIT_CU + inc


def _code_luma_mode(x, ctx, mpm: list, mode=None):
    """prev_intra_luma_pred_flag is coded by the CALLER (the spec
    batches the four NxN flags before the index/rem loop); this
    codes the second part: mpm_idx (TR, bypass) or
    rem_intra_luma_pred_mode (5-bit FL, bypass)."""
    if mode is not None:
        if mode in mpm:
            idx = mpm.index(mode)
            x.bypass(1 if idx else 0)
            if idx:
                x.bypass(idx - 1)
        else:
            rem = mode - sum(1 for c in sorted(mpm) if c < mode)
            for i in range(4, -1, -1):
                x.bypass((rem >> i) & 1)
        return mode
    raise AssertionError("decoder path uses _dec_luma_mode")


def _dec_luma_mode(dec, mpm: list, prev: int) -> int:
    if prev:
        idx = dec.bypass()
        if idx:
            idx += dec.bypass()
        return mpm[idx]
    rem = 0
    for _ in range(5):
        rem = (rem << 1) | dec.bypass()
    for c in sorted(mpm):
        if rem >= c:
            rem += 1
    if rem > 34:
        raise ValueError("rem_intra_luma_pred_mode out of range")
    return rem


_CHROMA_CANDS = [0, 26, 10, 1]


def _chroma_mode_from_idx(idx: int, luma_mode: int) -> int:
    if idx == 4:
        return luma_mode                      # DM
    c = _CHROMA_CANDS[idx]
    return 34 if c == luma_mode else c


def _predict_tb(fr: _Frame5, plane: np.ndarray, x0: int, y0: int,
                n: int, mode: int, is_luma: bool) -> np.ndarray:
    g = 4 if is_luma else 2
    left, top = _gather_refs(plane, fr.avail, x0, y0, n, g=g)
    if _use_filter(mode, n, is_luma):
        left, top = _filter_refs(left, top)
    return _pred_intra(left, top, mode, n, is_luma)


def _recon_tb(pred: np.ndarray, levels) -> np.ndarray:
    """pred + the bypass-coded residual, clipped to 8-bit."""
    if levels is None:
        return np.clip(pred, 0, 255)
    return np.clip(pred + levels, 0, 255)


def _mark(fr: _Frame5, x0: int, y0: int, size: int, depth: int,
          mode: int = -1):
    bs = size // 4
    bx, by = x0 // 4, y0 // 4
    fr.avail[by:by + bs, bx:bx + bs] = True
    fr.depths[by:by + bs, bx:bx + bs] = depth
    if mode >= 0:
        fr.modes[by:by + bs, bx:bx + bs] = mode


def _dec_cu(dec: _CabacDec, ctx: _Ctx5, fr: _Frame5, x0: int, y0: int,
            log2_cb: int, depth: int):
    """Intra coding_unit (§7.3.8.5): part modes 2Nx2N and NxN."""
    if not dec.bit(ctx, _TQ_BYPASS):
        raise NotImplementedError(
            "lossy HEVC CU unsupported: cu_transquant_bypass_flag is 0, "
            "and this codec has no transform or quantization")
    nxn = False
    if log2_cb == 3:
        nxn = not dec.bit(ctx, _PART_MODE)     # bin 1 -> PART_2Nx2N
    n_pu = 4 if nxn else 1
    pu = 1 << (log2_cb - (1 if nxn else 0))
    pu_xy = [(x0 + (i & 1) * pu, y0 + (i >> 1) * pu) for i in range(n_pu)]
    prevs = [dec.bit(ctx, _PREV_INTRA) for _ in range(n_pu)]
    modes = []
    for i, (px, py) in enumerate(pu_xy):
        mpm = _mpm_list(fr.modes, px // 4, py // 4, 4)
        m = _dec_luma_mode(dec, mpm, prevs[i])
        modes.append(m)
        bs = pu // 4
        fr.modes[py // 4:py // 4 + bs, px // 4:px // 4 + bs] = m
    if dec.bit(ctx, _CHROMA_MODE):
        ci = (dec.bypass() << 1) | dec.bypass()
    else:
        ci = 4
    cmode = _chroma_mode_from_idx(ci, modes[0])
    # transform_tree: cbf_cb / cbf_cr first (log2TrafoSize > 2 at
    # trafoDepth 0 always holds for CB >= 8)
    cbf_cb = dec.bit(ctx, _CBF_CHROMA + 0)
    cbf_cr = dec.bit(ctx, _CBF_CHROMA + 0)
    if not nxn:
        n = 1 << log2_cb
        cbf_l = dec.bit(ctx, _CBF_LUMA + 1)
        pred = _predict_tb(fr, fr.Y, x0, y0, n, modes[0], True)
        lv = None
        if cbf_l:
            lv = _dec_residual5(dec, ctx, log2_cb, True,
                                _scan_idx(modes[0], log2_cb, True))
        fr.Y[y0:y0 + n, x0:x0 + n] = _recon_tb(pred, lv)
        _mark(fr, x0, y0, n, depth, modes[0])
    else:
        for i, (px, py) in enumerate(pu_xy):
            cbf_l = dec.bit(ctx, _CBF_LUMA + 0)
            pred = _predict_tb(fr, fr.Y, px, py, 4, modes[i], True)
            lv = None
            if cbf_l:
                lv = _dec_residual5(dec, ctx, 2, True,
                                    _scan_idx(modes[i], 2, True))
            fr.Y[py:py + 4, px:px + 4] = _recon_tb(pred, lv)
            _mark(fr, px, py, 4, depth, modes[i])
    # chroma TB (log2_cb - 1; 4x4 when CB is 8)
    log2_c = log2_cb - 1
    nc = 1 << log2_c
    cx, cy = x0 // 2, y0 // 2
    for plane, cbf in ((fr.Cb, cbf_cb), (fr.Cr, cbf_cr)):
        pred = _predict_tb(fr, plane, cx, cy, nc, cmode, False)
        lv = None
        if cbf:
            lv = _dec_residual5(dec, ctx, log2_c, False,
                                _scan_idx(cmode, log2_c, False))
        plane[cy:cy + nc, cx:cx + nc] = _recon_tb(pred, lv)


def _dec_quadtree(dec, ctx, fr, x0, y0, log2_cb, depth):
    if log2_cb > 3:
        if dec.bit(ctx, _split_ctx(fr, x0, y0, depth)):
            h = 1 << (log2_cb - 1)
            for dy in (0, 1):
                for dx in (0, 1):
                    _dec_quadtree(dec, ctx, fr, x0 + dx * h, y0 + dy * h,
                                  log2_cb - 1, depth + 1)
            return
    _dec_cu(dec, ctx, fr, x0, y0, log2_cb, depth)


def _decode_slice(rbsp: bytes, sps: dict, pps: dict) -> _Frame5:
    """Decode one IDR slice segment to its reconstructed picture."""
    br = _Bits(rbsp)
    _parse_slice_header(br, pps, sao_present=bool(sps["sao"]))
    dec = _CabacDec(br)
    ctx = _Ctx5()
    fr = _Frame5(sps["w"], sps["h"])
    ctbs_w = sps["w"] // 16
    ctbs_h = sps["h"] // 16
    for cy in range(ctbs_h):
        for cx in range(ctbs_w):
            _dec_quadtree(dec, ctx, fr, cx * 16, cy * 16, 4, 0)
            eos = dec.terminate()
            last = (cy == ctbs_h - 1) and (cx == ctbs_w - 1)
            if bool(eos) != last:
                raise ValueError("end_of_slice_segment_flag mismatch")
    return fr


# ---------------------------------------------------------------------------
# encoder — commit-then-serialize per CU so context/grid state at
# every syntax element equals the decoder's parse-time state
# ---------------------------------------------------------------------------


def _sad(a: np.ndarray, b: np.ndarray) -> int:
    return int(np.abs(a - b).sum())


def _best_mode(fr: _Frame5, plane, src, x0, y0, n, is_luma, cands):
    # reference samples are identical for every candidate mode (the
    # plane/avail state does not change inside the loop) — gather
    # once, filter lazily, predict per mode: same preds as calling
    # _predict_tb per candidate
    left, top = _gather_refs(plane, fr.avail, x0, y0, n,
                             g=4 if is_luma else 2)
    fl = ft = None
    src_blk = src[y0:y0 + n, x0:x0 + n]
    best = (1 << 60, 0, None)
    for m in cands:
        if _use_filter(m, n, is_luma):
            if fl is None:
                fl, ft = _filter_refs(left, top)
            pred = _pred_intra(fl, ft, m, n, is_luma)
        else:
            pred = _pred_intra(left, top, m, n, is_luma)
        s = _sad(pred, src_blk)
        if s < best[0]:
            best = (s, m, pred)
    return best


def _residual(pred, src_blk):
    """The bypass-coded levels of a TB (the sample difference), or
    None when all-zero. The decoder reconstructs ``src_blk``."""
    res = src_blk - pred
    return res if res.any() else None


def _commit_cu(fr: _Frame5, srcY, srcCb, srcCr, x0: int, y0: int,
               log2_cb: int, depth: int, cands) -> dict:
    """Decide modes, reconstruct, update grids; return the syntax
    plan ``_serialize_cu`` writes. Greedy SAD mode decision (ties
    to the lowest mode index — deterministic)."""
    n = 1 << log2_cb
    nxn = False
    if log2_cb == 3:
        s8 = _best_mode(fr, fr.Y, srcY, x0, y0, 8, True, cands)[0]
        # NxN estimate assumes ideal sub-PU recon (source refs)
        est = 0
        save = fr.Y[y0:y0 + 8, x0:x0 + 8].copy()
        sava = fr.avail[y0 // 4:y0 // 4 + 2, x0 // 4:x0 // 4 + 2].copy()
        fr.Y[y0:y0 + 8, x0:x0 + 8] = srcY[y0:y0 + 8, x0:x0 + 8]
        fr.avail[y0 // 4:y0 // 4 + 2, x0 // 4:x0 // 4 + 2] = True
        for i in range(4):
            px, py = x0 + (i & 1) * 4, y0 + (i >> 1) * 4
            est += _best_mode(fr, fr.Y, srcY, px, py, 4, True, cands)[0]
        fr.Y[y0:y0 + 8, x0:x0 + 8] = save
        fr.avail[y0 // 4:y0 // 4 + 2, x0 // 4:x0 // 4 + 2] = sava
        nxn = est + 48 < s8
    n_pu = 4 if nxn else 1
    pu = n // (2 if nxn else 1)
    pu_xy = [(x0 + (i & 1) * pu, y0 + (i >> 1) * pu) for i in range(n_pu)]
    plan = {"nxn": nxn, "log2_cb": log2_cb, "pu": [], "luma": []}
    log2_tb = log2_cb - (1 if nxn else 0)
    for i, (px, py) in enumerate(pu_xy):
        mpm = _mpm_list(fr.modes, px // 4, py // 4, 4)
        _, m, pred = _best_mode(fr, fr.Y, srcY, px, py, pu, True, cands)
        plan["pu"].append((int(m in mpm), list(mpm), m))
        bs = pu // 4
        fr.modes[py // 4:py // 4 + bs, px // 4:px // 4 + bs] = m
        src_blk = srcY[py:py + pu, px:px + pu]
        plan["luma"].append((_residual(pred, src_blk),
                             _scan_idx(m, log2_tb, True), log2_tb))
        fr.Y[py:py + pu, px:px + pu] = src_blk
        _mark(fr, px, py, pu, depth, m)
    # chroma: best of DM + the 4 candidates (replacement rule applied)
    luma0 = plan["pu"][0][2]
    log2_c = log2_cb - 1
    nc = 1 << log2_c
    cx, cy = x0 // 2, y0 // 2
    # chroma never reference-filters (_use_filter is False off-luma),
    # so one gather per plane serves all 5 candidate modes
    lb, tb2 = _gather_refs(fr.Cb, fr.avail, cx, cy, nc, g=2)
    lr, tr2 = _gather_refs(fr.Cr, fr.avail, cx, cy, nc, g=2)
    best = (1 << 60, 4, None, None)
    for idx in (4, 0, 1, 2, 3):
        cm = _chroma_mode_from_idx(idx, luma0)
        pb = _pred_intra(lb, tb2, cm, nc, False)
        pr = _pred_intra(lr, tr2, cm, nc, False)
        s = _sad(pb, srcCb[cy:cy + nc, cx:cx + nc]) + \
            _sad(pr, srcCr[cy:cy + nc, cx:cx + nc])
        if s < best[0]:
            best = (s, idx, pb, pr)
    _, ci, pb, pr = best
    cm = _chroma_mode_from_idx(ci, luma0)
    src_cb = srcCb[cy:cy + nc, cx:cx + nc]
    src_cr = srcCr[cy:cy + nc, cx:cx + nc]
    fr.Cb[cy:cy + nc, cx:cx + nc] = src_cb
    fr.Cr[cy:cy + nc, cx:cx + nc] = src_cr
    plan.update(chroma_idx=ci, lv_cb=_residual(pb, src_cb),
                lv_cr=_residual(pr, src_cr),
                scan_c=_scan_idx(cm, log2_c, False), log2_c=log2_c)
    return plan


def _serialize_cu(enc: _CabacEnc, ctx: _Ctx5, plan: dict):
    enc.bit(ctx, _TQ_BYPASS, 1)
    if plan["log2_cb"] == 3:
        enc.bit(ctx, _PART_MODE, 0 if plan["nxn"] else 1)
    for prev, _mpm, _m in plan["pu"]:
        enc.bit(ctx, _PREV_INTRA, prev)
    for _prev, mpm, m in plan["pu"]:
        _code_luma_mode(enc, ctx, mpm, mode=m)
    ci = plan["chroma_idx"]
    if ci == 4:
        enc.bit(ctx, _CHROMA_MODE, 0)
    else:
        enc.bit(ctx, _CHROMA_MODE, 1)
        enc.bypass((ci >> 1) & 1)
        enc.bypass(ci & 1)
    enc.bit(ctx, _CBF_CHROMA + 0, int(plan["lv_cb"] is not None))
    enc.bit(ctx, _CBF_CHROMA + 0, int(plan["lv_cr"] is not None))
    cbf_ctx = _CBF_LUMA + (0 if plan["nxn"] else 1)
    for lv, scan, log2_tb in plan["luma"]:
        enc.bit(ctx, cbf_ctx, int(lv is not None))
        if lv is not None:
            _enc_residual5(enc, ctx, lv, log2_tb, True, scan)
    for lv in (plan["lv_cb"], plan["lv_cr"]):
        if lv is not None:
            _enc_residual5(enc, ctx, lv, plan["log2_c"], False,
                           plan["scan_c"])


def _enc_quadtree(enc, ctx, fr, srcY, srcCb, srcCr, x0, y0, log2_cb,
                  depth, cands, force_split):
    """Code one quadtree: each split flag with the ctxInc of the grid
    state the decoder sees when it parses it, then each CU's plan."""
    if log2_cb > 3:
        if force_split is not None:
            split = bool(force_split)
        else:
            n = 1 << log2_cb
            q = srcY[y0:y0 + n, x0:x0 + n].reshape(2, n // 2, 2,
                                                   n // 2)
            means = q.mean(axis=(1, 3))
            split = float(means.max() - means.min()) > 24.0
        enc.bit(ctx, _split_ctx(fr, x0, y0, depth), int(split))
        if split:
            h = 1 << (log2_cb - 1)
            for dy in (0, 1):
                for dx in (0, 1):
                    _enc_quadtree(enc, ctx, fr, srcY, srcCb, srcCr,
                                  x0 + dx * h, y0 + dy * h, log2_cb - 1,
                                  depth + 1, cands, force_split)
            return
    _serialize_cu(enc, ctx, _commit_cu(fr, srcY, srcCb, srcCr, x0, y0,
                                       log2_cb, depth, cands))


_ALL_MODES = tuple(range(35))


def _encode_frame(srcY, srcCb, srcCr, sps_w, sps_h, cands=_ALL_MODES,
                  force_split=None) -> bytes:
    """Encode one frame's IDR slice NAL (header + CABAC data)."""
    fr = _Frame5(sps_w, sps_h)
    bw = _BitW()
    _write_slice_header(bw)
    enc = _CabacEnc()
    ctx = _Ctx5()
    ctbs_w, ctbs_h = sps_w // 16, sps_h // 16
    for cy in range(ctbs_h):
        for cx in range(ctbs_w):
            _enc_quadtree(enc, ctx, fr, srcY, srcCb, srcCr, cx * 16,
                          cy * 16, 4, 0, cands, force_split)
            last = (cy == ctbs_h - 1) and (cx == ctbs_w - 1)
            enc.terminate(int(last))
    rbsp = bw.bytes() + enc.bytes()
    return _nal(_NAL_IDR_W_RADL, rbsp)


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def _pad_plane(p: np.ndarray, mult: int) -> np.ndarray:
    h, w = p.shape
    ph = (mult - h % mult) % mult
    pw = (mult - w % mult) % mult
    if ph or pw:
        p = np.pad(p, ((0, ph), (0, pw)), mode="edge")
    return p


def h265_encode_planes(Y, Cb, Cr, cands=_ALL_MODES,
                       force_split=None) -> bytes:
    """Encode 4:2:0 planes (uint8; Cb/Cr at half resolution) to a
    lossless Annex-B HEVC stream: VPS + SPS + PPS + gorillaspark
    marker SEI + one IDR access unit. Non-CTB-multiple sizes are
    edge-padded and signalled via the SPS conformance window.
    ``cands`` limits the luma intra modes tried; ``force_split``
    True/False overrides the quadtree split heuristic."""
    Y = np.asarray(Y, dtype=np.int64)
    Cb = np.asarray(Cb, dtype=np.int64)
    Cr = np.asarray(Cr, dtype=np.int64)
    h, w = Y.shape
    if h % 2 or w % 2 or h == 0 or w == 0:
        # the 4:2:0 conformance window counts in 2-sample units
        raise ValueError("4:2:0 frame dimensions must be even")
    if Cb.shape != (h // 2, w // 2) or Cb.shape != Cr.shape:
        raise ValueError("chroma planes must be half-resolution 4:2:0")
    pY = _pad_plane(Y, 16)
    pCb = _pad_plane(Cb, 8)
    pCr = _pad_plane(Cr, 8)
    H, W = pY.shape
    crop = (0, W - w, 0, H - h)
    bw = _BitW()
    _write_vps(bw)
    out = _nal(_NAL_VPS, bw.bytes())
    bw = _BitW()
    _write_sps(bw, W, H, crop=crop)
    out += _nal(_NAL_SPS, bw.bytes())
    bw = _BitW()
    _write_pps(bw)
    out += _nal(_NAL_PPS, bw.bytes())
    out += _marker_sei()
    return out + _encode_frame(pY, pCb, pCr, W, H, cands=cands,
                               force_split=force_split)


def h265_encode(y: np.ndarray, cb=None, cr=None, cands=_ALL_MODES,
                force_split=None) -> bytes:
    """Encode a grayscale (neutral-chroma) or YCbCr 4:2:0 image
    losslessly."""
    y = np.asarray(y)
    if y.ndim != 2:
        raise ValueError("h265_encode takes a 2-D luma array")
    h, w = y.shape
    ch, cw = (h + 1) // 2, (w + 1) // 2
    if cb is None:
        cb = np.full((ch, cw), 128, dtype=np.uint8)
    if cr is None:
        cr = np.full((ch, cw), 128, dtype=np.uint8)
    return h265_encode_planes(y, cb, cr, cands=cands,
                              force_split=force_split)


def h265_decode_gop_planes(payload: bytes):
    """Decode an Annex-B HEVC stream (VPS/SPS/PPS + IDR access
    units) to a list of uncropped (Y, Cb, Cr) int64 frame planes in
    stream order plus the SPS conformance-window crop. Inter (TRAIL
    P/B) pictures raise ``NotImplementedError``."""
    sps = pps = None
    slices = []                  # (is_idr, rbsp) in decode order
    marker = False
    for nal_type, layer_id, _tid, rbsp in _split_annexb_h265(payload):
        if layer_id:
            raise NotImplementedError("multi-layer HEVC unsupported")
        if nal_type == _NAL_VPS:
            _parse_vps(_Bits(rbsp))
        elif nal_type == _NAL_SPS:
            sps = _parse_sps(_Bits(rbsp))
        elif nal_type == _NAL_PPS:
            pps = _parse_pps(_Bits(rbsp))
        elif nal_type in (_NAL_IDR_W_RADL, _NAL_IDR_N_LP):
            slices.append((True, rbsp))
        elif nal_type in (_NAL_TRAIL_N, _NAL_TRAIL_R):
            slices.append((False, rbsp))
        elif nal_type in (39, 40):
            marker = marker or _GS_HEVC_UUID in rbsp
        elif nal_type < 32:
            raise NotImplementedError(
                f"HEVC NAL type {nal_type} unsupported (IDR only; "
                "CRA/RASL/BLA random-access structures are not "
                "modelled by this codec)")
        # AUD(35)/EOS(36)/EOB(37)/filler(38): ignored
    if sps is None or pps is None or not slices:
        raise ValueError("stream lacks SPS, PPS or a coded slice")
    if not slices[0][0]:
        raise ValueError("stream does not start with an IDR picture")
    if not marker:
        raise NotImplementedError(
            "third-party HEVC stream unsupported: this codec's CABAC "
            "context tables are regenerated, not the spec literals, "
            "so decode only accepts gorillaspark-marked streams "
            "rather than risk a silent misdecode (see module "
            "docstring; substituting the spec's initValue tables "
            "restores interop)")
    if not all(is_idr for is_idr, _rbsp in slices):
        raise NotImplementedError(
            "HEVC inter (TRAIL P/B) pictures unsupported: this codec "
            "decodes IDR intra pictures only")
    n_ctbs = (sps["w"] // 16) * (sps["h"] // 16)
    if n_ctbs > 1 << 20:
        raise ValueError("implausible frame dimensions")
    if n_ctbs > 8 * len(payload):
        raise ValueError("frame dimensions implausible for payload size")
    if n_ctbs * len(slices) > 1 << 22:
        raise ValueError("implausible stream size for frame dimensions")
    frames = []
    for _is_idr, rbsp in slices:
        fr = _decode_slice(rbsp, sps, pps)
        frames.append((fr.Y, fr.Cb, fr.Cr))
    return frames, sps["crop"]


def h265_decode_planes(payload: bytes):
    """Single-access-unit form of :func:`h265_decode_gop_planes`."""
    frames, crop = h265_decode_gop_planes(payload)
    if len(frames) != 1:
        raise ValueError(
            f"expected one access unit, stream holds {len(frames)}")
    Y, Cb, Cr = frames[0]
    return Y, Cb, Cr, crop


def h265_decode(payload: bytes) -> np.ndarray:
    """Decode an Annex-B HEVC access unit to (h, w, 3) uint8 RGB
    (same 4:2:0 upsample + JFIF conversion as the H.264/JPEG paths).
    h264._planes_to_rgb counts crop in 2-sample units; this codec's
    conformance window is kept in luma samples (always even)."""
    from .h264 import _planes_to_rgb
    Y, Cb, Cr, crop = h265_decode_planes(payload)
    return _planes_to_rgb(Y, Cb, Cr, tuple(c // 2 for c in crop))


def h265_decode_gop(payload: bytes) -> list:
    """Decode an HEVC stream of IDR pictures to a list of RGB frames
    in stream order."""
    from .h264 import _planes_to_rgb
    frames, crop = h265_decode_gop_planes(payload)
    crop2 = tuple(c // 2 for c in crop)
    return [_planes_to_rgb(Y, Cb, Cr, crop2) for Y, Cb, Cr in frames]
