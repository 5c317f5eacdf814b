"""H.264/AVC CAVLC decoder (I, P, B slices) — pure numpy, from spec.

The reference ingests only ``.mp4`` (/root/reference/watcher.js:25-29)
and ffmpeg decodes it (/root/reference/hasher.js:78-91). functions/mp4
demuxes the true sample table; this module entropy-decodes the frames
of the dominant web codec so G1's sampled pixels are real — keyframes
(r6), P frames (r7), B frames with spatial direct, multi-reference
lists of up to 8 pictures per list (r7 late wave), and the r8 wave:
implicit weighted biprediction (x264's B default), temporal direct,
ref_pic_list_modification, MMCO short-term unmark, MULTI-SLICE
pictures (decode_picture), constrained_intra_pred in inter slices,
long-term reference pictures (MMCO 2/3/4/6), and — the r8 late wave —
the High-profile CAVLC surface: scaling matrices (7.3.2.1.1 parse,
Table 7-2 fall-back rules A/B, weighted dequant on every residual
class incl. both DC paths) and the 8x8 transform (Intra_8x8 with
8.3.2.2.1 reference filtering, interleaved-CAVLC 8x8 residuals,
transform_size_8x8_flag on qualifying inter MBs, 8.5.13 inverse
transform, 8x8-aware deblocking bS/internal-edge rules). The
remaining refusal surface is CABAC entropy coding (see ROUND_NOTES:
the context-init tables cannot be transcribed or verified in this
container, so those streams keep the typed refusal and the labeled
stub sample path), plus interlaced coding, FMO, SP/SI slices, and
bit depths beyond 8 — all typed refusals.

Implemented (ITU-T H.264 / ISO 14496-10, CAVLC subset):

- Annex-B/avcC NAL handling: emulation-prevention unescape (03 strip),
  RBSP bit reader, ue(v)/se(v) Exp-Golomb;
- SPS/PPS parse (incl. POC types, direct_8x8_inference, per-list
  num_ref_idx defaults, weighted-prediction flags), the explicit
  pred_weight_table (8.4.2.3.2 uni + bi weighting) AND implicit
  POC-derived bipred weights (8.4.2.3.1, caller supplies POC
  context); ref_pic_list_modification (7.3.3.1/8.2.4.3, short-term)
  and MMCO op-1 short-term unmark (7.3.3.3, applied by the DPB
  owner);
- CAVLC entropy coding: complete coeff_token (incl. the deep
  TotalCoeff >= 13 tail) / trailing ones / level prefix-suffix /
  total_zeros / run_before tables, nC context with within-MB
  availability per 6.4.8/9.2.1;
- Intra_4x4 (all 9 modes), Intra_16x16 (V/H/DC/Plane + luma DC
  Hadamard), chroma 8x8 intra, I_PCM;
- inter prediction: per-list refIdx-matched median MV prediction with
  the 16x8/8x16 directional rules, grouped te(v) ref_idx fields,
  quarter-pel 6-tap luma + eighth-pel bilinear chroma interpolation,
  P_Skip, all P/B partitionings incl. sub-8x8, bi-prediction
  averaging, B_Skip/B_Direct via 8.4.1.2.2 spatial direct
  (direct_8x8_inference, MinPositive refs, colocated colZeroFlag)
  AND 8.4.1.2.3 temporal direct (POC-identity colocated-reference
  mapping, DistScaleFactor MV scaling); multi-slice pictures with
  6.4.8 slice-boundary availability and constrained_intra_pred
  sample rules (8.3.1.2) in inter slices;
- dequant (QP%6 scale tables, QP/6 shift) + the exact 4x4 integer
  inverse transform;
- the in-loop deblocking filter (8.7): bS derivation over intra /
  coded / motion (both lists; pred-flags mismatch = different
  refs/count), normal and strong luma filters, chroma filtering,
  per-MB QP averaging across edges, slice alpha/beta offsets, the
  I_PCM QPy=0 rule.

Verification strategy (no codec library exists in this environment to
produce ffmpeg goldens): tools/gen_avc_fixture.py is an independent
minimal ENCODER (prediction → forward transform → quant → CAVLC
write, its own MV/direct derivations and reconstruction loop) whose
committed streams decode back through this module; the spec makes
encoder reconstruction == decoder output mandatory, and the two
directions share no code. CAVLC code tables are additionally pinned
against worked examples from the standard text, and the B mode tables
are generated here from Table 7-14/7-18's structural rules vs
hardcoded in the encoder (agreement tested).
"""

from __future__ import annotations

import numpy as np


class AVCError(ValueError):
    """Malformed or unsupported (non-baseline-I) AVC input."""


# ---------------------------------------------------------------------------
# RBSP bit reader
# ---------------------------------------------------------------------------


def unescape_rbsp(nal: bytes) -> bytes:
    """Strip emulation-prevention bytes (00 00 03 -> 00 00)."""
    out = bytearray()
    i = 0
    n = len(nal)
    while i < n:
        if i + 2 < n and nal[i] == 0 and nal[i + 1] == 0 and nal[i + 2] == 3:
            out += b"\x00\x00"
            i += 3
        else:
            out.append(nal[i])
            i += 1
    return bytes(out)


class BitReader:
    __slots__ = ("d", "pos", "nbits", "_int")

    def __init__(self, d: bytes):
        self.d = d
        self.pos = 0  # bit position
        self.nbits = len(d) * 8
        # the whole RBSP as one big int: u(k) becomes shift+mask (RBSPs
        # are slice-sized — a few hundred KB at most — and the one-time
        # conversion beats per-bit byte indexing ~10x on the CAVLC loop)
        self._int = int.from_bytes(d, "big") if d else 0

    def bits_left(self) -> int:
        return self.nbits - self.pos

    def u(self, n: int) -> int:
        end = self.pos + n
        if end > self.nbits:
            raise AVCError("bitstream exhausted")
        self.pos = end
        return (self._int >> (self.nbits - end)) & ((1 << n) - 1)

    def peek(self, n: int) -> int:
        """Up to ``n`` bits without consuming; short reads near the end
        are 1-padded (T.81-style fill keeps VLC peeks total)."""
        end = self.pos + n
        if end <= self.nbits:
            return (self._int >> (self.nbits - end)) & ((1 << n) - 1)
        avail = self.nbits - self.pos
        if avail <= 0:
            return (1 << n) - 1
        v = self._int & ((1 << avail) - 1)
        pad = n - avail
        return (v << pad) | ((1 << pad) - 1)

    def flag(self) -> int:
        return self.u(1)

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 31:
                raise AVCError("ue(v) prefix too long")
        if zeros == 0:
            return 0
        return (1 << zeros) - 1 + self.u(zeros)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 == 1 else -(k // 2)

    def byte_align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def more_rbsp_data(self) -> bool:
        """True if data remains before the rbsp_stop_one_bit."""
        if self.bits_left() <= 0:
            return False
        # find last 1 bit in the stream (the stop bit)
        d = self.d
        last = len(d) * 8 - 1
        while last >= 0:
            if (d[last >> 3] >> (7 - (last & 7))) & 1:
                break
            last -= 1
        return self.pos < last


# ---------------------------------------------------------------------------
# Parameter sets
# ---------------------------------------------------------------------------


class SPS:
    __slots__ = (
        "profile_idc", "level_idc", "seq_parameter_set_id",
        "log2_max_frame_num", "pic_order_cnt_type",
        "log2_max_pic_order_cnt_lsb", "num_ref_frames",
        "delta_pic_order_always_zero", "direct_8x8_inference",
        "mb_width", "mb_height", "frame_mbs_only",
        "crop_left", "crop_right", "crop_top", "crop_bottom",
        "chroma_format_idc", "separate_colour_plane",
        "scal_raw",
    )

    @property
    def width(self) -> int:
        return self.mb_width * 16 - 2 * (self.crop_left + self.crop_right)

    @property
    def height(self) -> int:
        return self.mb_height * 16 - 2 * (self.crop_top + self.crop_bottom)


# --- scaling matrices (7.3.2.1.1, Table 7-2/7-3/7-4) -----------------

# 8x8 zigzag scan: scan position -> raster index (frame coding). The
# H.264 8x8 frame scan IS the classical JPEG zigzag; a test pins this
# table equal to jpegcodec.ZIGZAG (independently transcribed there).
ZIGZAG_8x8 = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Table 7-3 default lists, RASTER order (the spec specifies them in
# scan order; these are the unscanned matrices). Structural pins in
# tests: symmetric, monotone rows/cols, the (1,1) "11"/"13" quirk.
_DEFAULT_4x4_INTRA = np.array([
    [6, 13, 20, 28], [13, 20, 28, 32], [20, 28, 32, 37],
    [28, 32, 37, 42]], dtype=np.int64)
_DEFAULT_4x4_INTER = np.array([
    [10, 14, 20, 24], [14, 20, 24, 27], [20, 24, 27, 30],
    [24, 27, 30, 34]], dtype=np.int64)
_DEFAULT_8x8_INTRA = np.array([
    [6, 10, 13, 16, 18, 23, 25, 27],
    [10, 11, 16, 18, 23, 25, 27, 29],
    [13, 16, 18, 23, 25, 27, 29, 31],
    [16, 18, 23, 25, 27, 29, 31, 33],
    [18, 23, 25, 27, 29, 31, 33, 36],
    [23, 25, 27, 29, 31, 33, 36, 38],
    [25, 27, 29, 31, 33, 36, 38, 40],
    [27, 29, 31, 33, 36, 38, 40, 42]], dtype=np.int64)
_DEFAULT_8x8_INTER = np.array([
    [9, 13, 15, 17, 19, 21, 22, 24],
    [13, 13, 17, 19, 21, 22, 24, 25],
    [15, 17, 19, 21, 22, 24, 25, 27],
    [17, 19, 21, 22, 24, 25, 27, 28],
    [19, 21, 22, 24, 25, 27, 28, 30],
    [21, 22, 24, 25, 27, 28, 30, 32],
    [22, 24, 25, 27, 28, 30, 32, 33],
    [24, 25, 27, 28, 30, 32, 33, 35]], dtype=np.int64)

_FLAT_4 = np.full((4, 4), 16, dtype=np.int64)
_FLAT_8 = np.full((8, 8), 16, dtype=np.int64)


def _default_list(i: int) -> np.ndarray:
    """Designated default scaling list for slot i (0-2 intra 4x4,
    3-5 inter 4x4, 6 intra 8x8, 7 inter 8x8)."""
    if i < 3:
        return _DEFAULT_4x4_INTRA
    if i < 6:
        return _DEFAULT_4x4_INTER
    return _DEFAULT_8x8_INTRA if i == 6 else _DEFAULT_8x8_INTER


def _parse_scaling_list(r: BitReader, size: int):
    """scaling_list() (7.3.2.1.1). Returns a raster (4,4)/(8,8) int64
    array, or the string "D" when UseDefaultScalingMatrixFlag fired."""
    last, nxt = 8, 8
    scan = [0] * size
    for j in range(size):
        if nxt != 0:
            delta = r.se()
            nxt = (last + delta + 256) % 256
            if j == 0 and nxt == 0:
                return "D"
        scan[j] = last if nxt == 0 else nxt
        last = scan[j]
    n = 4 if size == 16 else 8
    zz = ZIGZAG_4x4 if size == 16 else ZIGZAG_8x8
    out = np.zeros(size, dtype=np.int64)
    for j in range(size):
        out[zz[j]] = scan[j]
    return out.reshape(n, n)


def _parse_scaling_raw(r: BitReader, n_lists: int) -> list:
    """The n_lists scaling_list_present/scaling_list pairs of an
    SPS/PPS. Entries: None (absent), "D" (use default), or a raster
    array. Always returned length-8 (missing tail slots = None)."""
    raw: list = [None] * 8
    for i in range(n_lists):
        if r.flag():
            raw[i] = _parse_scaling_list(r, 16 if i < 6 else 64)
    return raw


def resolve_scaling(sps: "SPS", pps: "PPS"):
    """Effective weightScale lists for a (SPS, PPS) pair per Table 7-2
    fall-back rules A (within the SPS, and within the PPS when the SPS
    carries no matrix) and B (PPS anchors inherit the resolved SPS
    lists). Returns None when every list is flat-16 (the fast path),
    else a list of 8 raster arrays."""
    sps_raw = sps.scal_raw
    pps_raw = pps.scal_raw
    if sps_raw is None and pps_raw is None:
        return None

    def _resolve(raw, anchor):
        out: list = [None] * 8
        for i in range(8):
            e = raw[i]
            if e is None:
                if i in (0, 3, 6, 7):
                    out[i] = anchor(i)
                else:
                    out[i] = out[i - 1]
            elif isinstance(e, str):
                out[i] = _default_list(i)
            else:
                out[i] = e
        return out

    if sps_raw is not None:
        sps_lists = _resolve(sps_raw, _default_list)  # rule A
    else:
        sps_lists = None
    if pps_raw is not None:
        if sps_lists is not None:
            final = _resolve(pps_raw, lambda i: sps_lists[i])  # rule B
        else:
            final = _resolve(pps_raw, _default_list)  # rule A
        if not pps.transform_8x8_mode and sps_lists is not None:
            final[6], final[7] = sps_lists[6], sps_lists[7]
    else:
        final = sps_lists
    flat = all(
        np.array_equal(final[i], _FLAT_4 if i < 6 else _FLAT_8)
        for i in range(8)
    )
    return None if flat else final


def parse_sps(nal: bytes) -> SPS:
    """Parse a seq_parameter_set_rbsp (input WITHOUT the NAL header
    byte stripped — pass the full NAL as demuxed from avcC)."""
    if not nal:
        raise AVCError("empty SPS NAL")
    if nal[0] & 0x1F != 7:
        raise AVCError(f"not an SPS NAL (type {nal[0] & 0x1F})")
    r = BitReader(unescape_rbsp(nal[1:]))
    s = SPS()
    s.profile_idc = r.u(8)
    r.u(8)  # constraint flags + reserved
    s.level_idc = r.u(8)
    s.seq_parameter_set_id = r.ue()
    s.chroma_format_idc = 1
    s.separate_colour_plane = 0
    s.scal_raw = None
    if s.profile_idc in (
        100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135,
    ):
        s.chroma_format_idc = r.ue()
        if s.chroma_format_idc == 3:
            s.separate_colour_plane = r.flag()
        bd_luma = r.ue()  # bit_depth_luma_minus8
        bd_chroma = r.ue()  # bit_depth_chroma_minus8
        if bd_luma or bd_chroma:
            raise AVCError("bit depths beyond 8 unsupported")
        r.flag()  # qpprime_y_zero_transform_bypass
        if r.flag():  # seq_scaling_matrix_present
            if s.chroma_format_idc == 3:
                raise AVCError(
                    "scaling matrices with chroma_format_idc 3"
                    " unsupported (4:2:0 only)")
            s.scal_raw = _parse_scaling_raw(r, 8)
    s.log2_max_frame_num = r.ue() + 4
    s.pic_order_cnt_type = r.ue()
    s.delta_pic_order_always_zero = 1
    if s.pic_order_cnt_type == 0:
        s.log2_max_pic_order_cnt_lsb = r.ue() + 4
    elif s.pic_order_cnt_type == 1:
        s.delta_pic_order_always_zero = r.flag()
        r.se()
        r.se()
        for _ in range(r.ue()):
            r.se()
        s.log2_max_pic_order_cnt_lsb = 0
    else:
        s.log2_max_pic_order_cnt_lsb = 0
    s.num_ref_frames = r.ue()
    r.flag()  # gaps_in_frame_num_value_allowed
    s.mb_width = r.ue() + 1
    s.mb_height = r.ue() + 1
    s.frame_mbs_only = r.flag()
    if not s.frame_mbs_only:
        raise AVCError("interlaced (frame_mbs_only=0) unsupported")
    s.direct_8x8_inference = r.flag()
    if r.flag():  # frame_cropping
        s.crop_left = r.ue()
        s.crop_right = r.ue()
        s.crop_top = r.ue()
        s.crop_bottom = r.ue()
    else:
        s.crop_left = s.crop_right = s.crop_top = s.crop_bottom = 0
    # vui ignored
    if s.chroma_format_idc != 1:
        raise AVCError(
            f"chroma_format_idc {s.chroma_format_idc} unsupported (4:2:0 only)"
        )
    return s


class PPS:
    __slots__ = (
        "pic_parameter_set_id", "seq_parameter_set_id",
        "entropy_coding_mode", "pic_init_qp",
        "chroma_qp_index_offset", "second_chroma_qp_index_offset",
        "deblocking_filter_control_present",
        "constrained_intra_pred", "transform_8x8_mode",
        "bottom_field_poc_present", "redundant_pic_cnt_present",
        "weighted_pred", "weighted_bipred_idc",
        "num_ref_idx_l0_default", "num_ref_idx_l1_default",
        "scal_raw", "_sm_cache",
    )


def parse_pps(nal: bytes) -> PPS:
    if not nal:
        raise AVCError("empty PPS NAL")
    if nal[0] & 0x1F != 8:
        raise AVCError(f"not a PPS NAL (type {nal[0] & 0x1F})")
    r = BitReader(unescape_rbsp(nal[1:]))
    p = PPS()
    p.pic_parameter_set_id = r.ue()
    p.seq_parameter_set_id = r.ue()
    p.scal_raw = None
    p.entropy_coding_mode = r.flag()
    if p.entropy_coding_mode:
        raise AVCError("CABAC unsupported (baseline CAVLC only)")
    p.bottom_field_poc_present = r.flag()
    n_slice_groups = r.ue() + 1
    if n_slice_groups != 1:
        raise AVCError("slice groups (FMO) unsupported")
    p.num_ref_idx_l0_default = r.ue() + 1
    p.num_ref_idx_l1_default = r.ue() + 1
    p.weighted_pred = r.flag()
    p.weighted_bipred_idc = r.u(2)
    p.pic_init_qp = r.se() + 26
    r.se()  # pic_init_qs
    p.chroma_qp_index_offset = r.se()
    p.deblocking_filter_control_present = r.flag()
    p.constrained_intra_pred = r.flag()
    p.redundant_pic_cnt_present = r.flag()
    p.transform_8x8_mode = 0
    p.second_chroma_qp_index_offset = p.chroma_qp_index_offset
    if r.more_rbsp_data():
        p.transform_8x8_mode = r.flag()
        if r.flag():  # pic_scaling_matrix_present
            p.scal_raw = _parse_scaling_raw(
                r, 6 + 2 * p.transform_8x8_mode)
        p.second_chroma_qp_index_offset = r.se()
    return p


# ---------------------------------------------------------------------------
# CAVLC tables (T-REC H.264 Table 9-5 / 9-7 / 9-8 / 9-9 / 9-10)
#
# Reconstructed from the published standard table. In-environment
# validation: import-time prefix-freeness asserts; Kraft-sum structure
# pinned in tests (every total_zeros/run_before/chroma-DC table is a
# COMPLETE prefix code summing to exactly 1 — a single wrong code
# length breaks the equality); the textbook worked example decoded
# bit-for-bit; and encoder round-trips. The three luma coeff_token
# columns each carry all 62 (TrailingOnes, TotalCoeff) combinations
# and share one structural invariant that pins the deep tail
# (TotalCoeff >= 13, completed in r7): each column is a prefix code
# complete EXCEPT for a single unused all-zeros slot — deficit 2^-15
# (0<=nC<2), 2^-13 (2<=nC<4), 2^-10 (4<=nC<8) — so a long run of
# zero bits can never decode as a coeff_token (start-code-adjacent
# robustness), and any transcription slip that moved a code length
# would break both the Kraft pin and prefix-freeness.
# ---------------------------------------------------------------------------

_COEFF_TOKEN_NC01 = """
0 0 1
0 1 000101
1 1 01
0 2 00000111
1 2 000100
2 2 001
0 3 000000111
1 3 00000110
2 3 0000101
3 3 00011
0 4 0000000111
1 4 000000110
2 4 00000101
3 4 000011
0 5 00000000111
1 5 0000000110
2 5 000000101
3 5 0000100
0 6 0000000001111
1 6 00000000110
2 6 0000000101
3 6 00000100
0 7 0000000001011
1 7 0000000001110
2 7 00000000101
3 7 000000100
0 8 0000000001000
1 8 0000000001010
2 8 0000000001101
3 8 0000000100
0 9 00000000001111
1 9 00000000001110
2 9 0000000001001
3 9 00000000100
0 10 00000000001011
1 10 00000000001010
2 10 00000000001101
3 10 0000000001100
0 11 000000000001111
1 11 000000000001110
2 11 00000000001001
3 11 00000000001100
0 12 000000000001011
1 12 000000000001010
2 12 000000000001101
3 12 00000000001000
0 13 0000000000001111
1 13 000000000000001
2 13 000000000001001
3 13 000000000001100
0 14 0000000000001011
1 14 0000000000001110
2 14 0000000000001101
3 14 000000000001000
0 15 0000000000000111
1 15 0000000000001010
2 15 0000000000001001
3 15 0000000000001100
0 16 0000000000000100
1 16 0000000000000110
2 16 0000000000000101
3 16 0000000000001000
"""

_COEFF_TOKEN_NC23 = """
0 0 11
0 1 001011
1 1 10
0 2 000111
1 2 00111
2 2 011
0 3 0000111
1 3 001010
2 3 001001
3 3 0101
0 4 00000111
1 4 000110
2 4 000101
3 4 0100
0 5 00000100
1 5 0000110
2 5 0000101
3 5 00110
0 6 000000111
1 6 00000110
2 6 00000101
3 6 001000
0 7 00000001111
1 7 000000110
2 7 000000101
3 7 000100
0 8 00000001011
1 8 00000001110
2 8 00000001101
3 8 0000100
0 9 000000001111
1 9 00000001010
2 9 00000001001
3 9 000000100
0 10 000000001011
1 10 000000001110
2 10 000000001101
3 10 00000001100
0 11 000000001000
1 11 000000001010
2 11 000000001001
3 11 00000001000
0 12 0000000001111
1 12 0000000001110
2 12 0000000001101
3 12 000000001100
0 13 0000000001011
1 13 0000000001010
2 13 0000000001001
3 13 0000000001100
0 14 0000000000111
1 14 00000000001011
2 14 0000000000110
3 14 0000000001000
0 15 00000000001001
1 15 00000000001000
2 15 00000000001010
3 15 0000000000001
0 16 00000000000111
1 16 00000000000110
2 16 00000000000101
3 16 00000000000100"""

_COEFF_TOKEN_NC47 = """
0 0 1111
0 1 001111
1 1 1110
0 2 001011
1 2 01111
2 2 1101
0 3 001000
1 3 01100
2 3 01110
3 3 1100
0 4 0001111
1 4 01010
2 4 01011
3 4 1011
0 5 0001011
1 5 01000
2 5 01001
3 5 1010
0 6 0001001
1 6 001110
2 6 001101
3 6 1001
0 7 0001000
1 7 001010
2 7 001001
3 7 1000
0 8 00001111
1 8 0001110
2 8 0001101
3 8 01101
0 9 00001011
1 9 00001110
2 9 0001010
3 9 001100
0 10 000001111
1 10 00001010
2 10 00001101
3 10 0001100
0 11 000001011
1 11 000001110
2 11 00001001
3 11 00001100
0 12 000001000
1 12 000001010
2 12 000001001
3 12 00001000
0 13 0000001101
1 13 000000111
2 13 000001101
3 13 000001100
0 14 0000001001
1 14 0000001100
2 14 0000001011
3 14 0000001010
0 15 0000000101
1 15 0000001000
2 15 0000000111
3 15 0000000110
0 16 0000000001
1 16 0000000100
2 16 0000000011
3 16 0000000010"""

_COEFF_TOKEN_CHROMA_DC = """
0 0 01
0 1 000111
1 1 1
0 2 000100
1 2 000110
2 2 001
0 3 000011
1 3 0000011
2 3 0000010
3 3 000101
0 4 000010
1 4 00000011
2 4 00000010
3 4 0000000
"""

_TOTAL_ZEROS_4x4 = {
    1: "1 011 010 0011 0010 00011 00010 000011 000010 0000011 0000010 00000011 00000010 000000011 000000010 000000001",
    2: "111 110 101 100 011 0101 0100 0011 0010 00011 00010 000011 000010 000001 000000",
    3: "0101 111 110 101 0100 0011 100 011 0010 00011 00010 000001 00001 000000",
    4: "00011 111 0101 0100 110 101 100 0011 011 0010 00010 00001 00000",
    5: "0101 0100 0011 111 110 101 100 011 0010 00001 0001 00000",
    6: "000001 00001 111 110 101 100 011 010 0001 001 000000",
    7: "000001 00001 101 100 011 11 010 0001 001 000000",
    8: "000001 0001 00001 011 11 10 010 001 000000",
    9: "000001 000000 0001 11 10 001 01 00001",
    10: "00001 00000 001 11 10 01 0001",
    11: "0000 0001 001 010 1 011",
    12: "0000 0001 01 1 001",
    13: "000 001 1 01",
    14: "00 01 1",
    15: "0 1",
}

_TOTAL_ZEROS_CHROMA_DC = {
    1: "1 01 001 000",
    2: "1 01 00",
    3: "1 0",
}

_RUN_BEFORE = {
    1: "1 0",
    2: "1 01 00",
    3: "11 10 01 00",
    4: "11 10 01 001 000",
    5: "11 10 011 010 001 000",
    6: "11 000 001 011 010 101 100",
    7: ("111 110 101 100 011 010 001 0001 00001 000001 0000001 "
        "00000001 000000001 0000000001 00000000001"),
}


def _parse_vlc(text: str) -> dict[tuple[int, int], tuple[int, int]]:
    """'t1 total bits' lines -> {(len, code): (t1, total)}; asserts the
    code set is prefix-free (a transposition in the reconstructed
    table would almost surely collide)."""
    out: dict[tuple[int, int], tuple[int, int]] = {}
    codes = []
    for line in text.strip().splitlines():
        t1s, total, bits = line.split()
        key = (len(bits), int(bits, 2))
        assert key not in out, f"duplicate code {bits}"
        out[key] = (int(t1s), int(total))
        codes.append(bits)
    for a in codes:
        for b in codes:
            if a is not b and b.startswith(a):
                raise AssertionError(f"not prefix-free: {a} prefixes {b}")
    return out


def _parse_runlen(table: dict[int, str]) -> dict[int, dict[tuple[int, int], int]]:
    out: dict[int, dict[tuple[int, int], int]] = {}
    for k, line in table.items():
        m: dict[tuple[int, int], int] = {}
        for val, bits in enumerate(line.split()):
            m[(len(bits), int(bits, 2))] = val
        out[k] = m
    return out


_CT_TABLES = {
    0: _parse_vlc(_COEFF_TOKEN_NC01),
    2: _parse_vlc(_COEFF_TOKEN_NC23),
    4: _parse_vlc(_COEFF_TOKEN_NC47),
    -1: _parse_vlc(_COEFF_TOKEN_CHROMA_DC),
}
_TZ_TABLES = _parse_runlen(_TOTAL_ZEROS_4x4)
_TZ_CHROMA = _parse_runlen(_TOTAL_ZEROS_CHROMA_DC)
_RB_TABLES = _parse_runlen(_RUN_BEFORE)


_VLC_LUTS: dict[int, list] = {}


def _vlc_lut(table: dict) -> list:
    """16-bit-prefix lookup table for a VLC dict: one peek + one list
    index per symbol instead of a per-bit walk (max code length in any
    CAVLC table is 16)."""
    lut = _VLC_LUTS.get(id(table))
    if lut is None:
        lut = [None] * (1 << 16)
        for (length, code), val in table.items():
            base = code << (16 - length)
            entry = (length, val)
            for i in range(1 << (16 - length)):
                lut[base + i] = entry
        _VLC_LUTS[id(table)] = lut
    return lut


def _read_vlc(r: BitReader, table: dict, what: str):
    """Table-dict form of :func:`_read_lut` (tests and one-off
    callers; the hot paths use the pre-resolved LUTs)."""
    return _read_lut(r, _vlc_lut(table), what)


def _read_lut(r: BitReader, lut: list, what: str):
    """_read_vlc over a PRE-RESOLVED lookup table (the hot CAVLC loop
    runs tens of thousands of symbol reads per frame; resolving the
    table->LUT map once at import removes a dict probe per symbol,
    and the 16-bit peek is inlined — one method call fewer per
    symbol, same 1-padded-tail semantics as BitReader.peek)."""
    pos = r.pos
    nbits = r.nbits
    end = pos + 16
    if end <= nbits:
        window = (r._int >> (nbits - end)) & 0xFFFF
    else:
        avail = nbits - pos
        if avail <= 0:
            window = 0xFFFF
        else:
            pad = 16 - avail
            window = (((r._int & ((1 << avail) - 1)) << pad)
                      | ((1 << pad) - 1))
    hit = lut[window]
    if hit is None:
        raise AVCError(f"invalid {what} code")
    length, val = hit
    if pos + length > nbits:
        raise AVCError("bitstream exhausted")
    r.pos = pos + length
    return val


# pre-resolved LUTs for every fixed CAVLC table (import-time)
_CT_LUTS = {k: _vlc_lut(t) for k, t in _CT_TABLES.items()}
_TZ_LUTS = {k: _vlc_lut(t) for k, t in _TZ_TABLES.items()}
_TZC_LUTS = {k: _vlc_lut(t) for k, t in _TZ_CHROMA.items()}
_RB_LUTS = {k: _vlc_lut(t) for k, t in _RB_TABLES.items()}


def read_coeff_token(r: BitReader, nc: int) -> tuple[int, int]:
    """(trailing_ones, total_coeff)."""
    if nc < 0:
        return _read_lut(r, _CT_LUTS[-1], "chroma-dc coeff_token")
    if nc < 2:
        return _read_lut(r, _CT_LUTS[0], "coeff_token")
    if nc < 4:
        return _read_lut(r, _CT_LUTS[2], "coeff_token")
    if nc < 8:
        return _read_lut(r, _CT_LUTS[4], "coeff_token")
    # nC >= 8: 6-bit FLC; 000011 means (0, 0)
    v = r.u(6)
    if v == 3:
        return 0, 0
    return v & 3, (v >> 2) + 1


def read_residual_block(
    r: BitReader, nc: int, max_coeff: int
) -> tuple[list[int], int]:
    """CAVLC residual_block_cavlc (9.2): returns (coefficients in scan
    order, total_coeff). ``max_coeff`` is 16 (luma/DC), 15 (AC), or 4
    (chroma DC, nc must be -1)."""
    t1s, total = read_coeff_token(r, nc)
    if total == 0:
        return [0] * max_coeff, 0
    if total > max_coeff:
        raise AVCError("coeff_token exceeds block size")
    levels = []
    for i in range(t1s):
        levels.append(-1 if r.u(1) else 1)
    suffix_length = 1 if (total > 10 and t1s < 3) else 0
    for i in range(t1s, total):
        # level_prefix: leading-zero count before the next 1 bit, via
        # one 32-bit peek (1-padding at stream end terminates the scan)
        window = r.peek(32)
        prefix = 32 - window.bit_length()
        if prefix >= 32:
            raise AVCError("level_prefix too long")
        if r.pos + prefix + 1 > r.nbits:
            raise AVCError("bitstream exhausted")
        r.pos += prefix + 1
        if prefix >= 15:
            suffix_size = prefix - 3
        elif prefix == 14 and suffix_length == 0:
            suffix_size = 4
        else:
            suffix_size = suffix_length
        level_code = min(15, prefix) << suffix_length
        if suffix_size > 0:
            level_code += r.u(suffix_size)
        if prefix >= 15 and suffix_length == 0:
            level_code += 15
        if prefix >= 16:
            level_code += (1 << (prefix - 3)) - 4096
        if i == t1s and t1s < 3:
            level_code += 2
        if level_code % 2 == 0:
            level = (level_code + 2) >> 1
        else:
            level = -((level_code + 1) >> 1)
        levels.append(level)
        if suffix_length == 0:
            suffix_length = 1
        if abs(level) > (3 << (suffix_length - 1)) and suffix_length < 6:
            suffix_length += 1

    if total < max_coeff:
        if nc < 0:
            tz = _read_lut(r, _TZC_LUTS[total], "chroma total_zeros")
        else:
            tz = _read_lut(r, _TZ_LUTS[total], "total_zeros")
    else:
        tz = 0
    zeros_left = tz
    runs = []
    for i in range(total - 1):
        if zeros_left > 0:
            lut = _RB_LUTS[min(zeros_left, 7)]
            run = _read_lut(r, lut, "run_before")
            if run > zeros_left:
                raise AVCError("run_before exceeds zeros_left")
        else:
            run = 0
        runs.append(run)
        zeros_left -= run
    runs.append(zeros_left)  # run before the lowest-frequency coefficient

    coeffs = [0] * max_coeff
    pos = total + tz - 1  # scan index of the highest-frequency coefficient
    for i in range(total):
        if pos >= max_coeff:
            raise AVCError("coefficient position out of range")
        coeffs[pos] = levels[i]
        pos -= 1 + runs[i]
    return coeffs, total


# ---------------------------------------------------------------------------
# Transforms and quantization (8.5)
# ---------------------------------------------------------------------------

# zigzag scan: scan position -> raster index within the 4x4 block
ZIGZAG_4x4 = [0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15]

# dequant scale per qp%6 for the three coefficient classes:
# A = positions (0,0),(0,2),(2,0),(2,2); B = (1,1),(1,3),(3,1),(3,3);
# C = the rest
_DEQUANT_ABC = [
    (10, 16, 13),
    (11, 18, 14),
    (13, 20, 16),
    (14, 23, 18),
    (16, 25, 20),
    (18, 29, 23),
]


_DEQUANT_CACHE: dict[int, np.ndarray] = {}


def _dequant_matrix(qp: int) -> np.ndarray:
    m = _DEQUANT_CACHE.get(qp)
    if m is None:
        a, b, c = _DEQUANT_ABC[qp % 6]
        m = np.full((4, 4), c, dtype=np.int64)
        for i in (0, 2):
            for j in (0, 2):
                m[i, j] = a
        for i in (1, 3):
            for j in (1, 3):
                m[i, j] = b
        m = m << (qp // 6)
        m.setflags(write=False)
        _DEQUANT_CACHE[qp] = m
    return m


def inverse_transform_4x4(block: np.ndarray) -> np.ndarray:
    """8.5.12.2 core transform on DEQUANTIZED coefficients; returns the
    residual BEFORE the (x+32)>>6 rounding. Accepts a single (4, 4)
    block or a BATCH (..., 4, 4) — per-MB batching is what keeps the
    numpy call overhead off the per-block decode loop."""
    d = block.astype(np.int64)
    e = np.empty_like(d)
    e[..., :, 0] = d[..., :, 0] + d[..., :, 2]
    e[..., :, 1] = d[..., :, 0] - d[..., :, 2]
    e[..., :, 2] = (d[..., :, 1] >> 1) - d[..., :, 3]
    e[..., :, 3] = d[..., :, 1] + (d[..., :, 3] >> 1)
    f = np.empty_like(d)
    f[..., :, 0] = e[..., :, 0] + e[..., :, 3]
    f[..., :, 1] = e[..., :, 1] + e[..., :, 2]
    f[..., :, 2] = e[..., :, 1] - e[..., :, 2]
    f[..., :, 3] = e[..., :, 0] - e[..., :, 3]
    g = np.empty_like(d)
    g[..., 0, :] = f[..., 0, :] + f[..., 2, :]
    g[..., 1, :] = f[..., 0, :] - f[..., 2, :]
    g[..., 2, :] = (f[..., 1, :] >> 1) - f[..., 3, :]
    g[..., 3, :] = f[..., 1, :] + (f[..., 3, :] >> 1)
    h = np.empty_like(d)
    h[..., 0, :] = g[..., 0, :] + g[..., 3, :]
    h[..., 1, :] = g[..., 1, :] + g[..., 2, :]
    h[..., 2, :] = g[..., 1, :] - g[..., 2, :]
    h[..., 3, :] = g[..., 0, :] - g[..., 3, :]
    return h


_ZIGZAG_ARR = None


def _residual_batch(coeff_rows, qp: int, dc_overrides=None,
                    weight=None) -> np.ndarray:
    """N scan-order coefficient lists -> (N, 4, 4) spatial residuals
    ((x+32)>>6 applied); ``dc_overrides`` replaces each block's (0,0)
    dequantized coefficient (the Intra16x16/chroma DC path).
    ``weight`` is a raster (4, 4) weightScale list (None = flat 16,
    the fast path — bit-equal to the weighted form at weight 16)."""
    global _ZIGZAG_ARR
    if _ZIGZAG_ARR is None:
        _ZIGZAG_ARR = np.array(ZIGZAG_4x4, dtype=np.int64)
    n = len(coeff_rows)
    scan = np.asarray(coeff_rows, dtype=np.int64)  # (N, <=16)
    blk = np.zeros((n, 16), dtype=np.int64)
    blk[:, _ZIGZAG_ARR[: scan.shape[1]]] = scan
    if weight is None:
        blk = blk.reshape(n, 4, 4) * _dequant_matrix(qp)
    else:
        blk = _dequant_weighted(blk.reshape(n, 4, 4), qp, weight,
                                _NORM4_MATS[qp % 6], 4)
    if dc_overrides is not None:
        blk[:, 0, 0] = dc_overrides
    return (inverse_transform_4x4(blk) + 32) >> 6


_ZIGZAG8_ARR = None


def _residual_batch8(coeff_rows, qp: int, weight=None) -> np.ndarray:
    """N 64-entry 8x8-scan coefficient lists -> (N, 8, 8) spatial
    residuals ((x+32)>>6 applied). ``weight`` is a raster (8, 8)
    weightScale list (None = flat 16)."""
    global _ZIGZAG8_ARR
    if _ZIGZAG8_ARR is None:
        _ZIGZAG8_ARR = np.array(ZIGZAG_8x8, dtype=np.int64)
    n = len(coeff_rows)
    scan = np.asarray(coeff_rows, dtype=np.int64)  # (N, 64)
    blk = np.zeros((n, 64), dtype=np.int64)
    blk[:, _ZIGZAG8_ARR[: scan.shape[1]]] = scan
    blk = _dequant_weighted(
        blk.reshape(n, 8, 8), qp,
        _FLAT_8 if weight is None else weight, _NORM8_MATS[qp % 6], 6)
    return (inverse_transform_8x8(blk) + 32) >> 6


def _hadamard_4x4(d: np.ndarray) -> np.ndarray:
    """Inverse luma-DC transform (8.5.10): +/-1 butterflies only."""
    m = np.array(
        [[1, 1, 1, 1], [1, 1, -1, -1], [1, -1, -1, 1], [1, -1, 1, -1]],
        dtype=np.int64,
    )
    return m @ d.astype(np.int64) @ m.T


def luma_dc_dequant(f: np.ndarray, qp: int, w00: int = 16) -> np.ndarray:
    """8.5.10 with the scaling-list DC weight ``w00`` (weightScale
    (0,0) of the Intra-Y 4x4 list); the general form reduces to the
    historical flat formula bit-for-bit at w00 = 16 for every qp
    (pinned by tests)."""
    a = _DEQUANT_ABC[qp % 6][0] * w00
    q6 = qp // 6
    if q6 >= 6:
        return (f * a) << (q6 - 6)
    return (f * a + (1 << (5 - q6))) >> (6 - q6)


def chroma_dc_dequant(f: np.ndarray, qp: int, w00: int = 16) -> np.ndarray:
    a = _DEQUANT_ABC[qp % 6][0] * w00
    return ((f * a) << (qp // 6)) >> 9


_CHROMA_QP_MAP = list(range(30)) + [
    29, 30, 31, 32, 32, 33, 34, 34, 35, 35, 36, 36, 37, 37, 37, 38, 38,
    38, 39, 39, 39, 39,
]


def chroma_qp(qp_y: int, offset: int) -> int:
    return _CHROMA_QP_MAP[max(0, min(51, qp_y + offset))]


# ---------------------------------------------------------------------------
# High-profile pieces: weighted (scaling-list) dequant and the 8x8
# transform (8.5.9 / 8.5.13)
# ---------------------------------------------------------------------------

# normAdjust8x8 (8.5.9): six position classes per qp%6. Structural
# pins in tests: class-0 equals exactly 2x the 4x4 "A" class per row,
# rows grow geometrically (~2^(m/6)), classes map per the (i%4, j%4)
# pattern below.
_NORM8 = [
    (20, 18, 32, 19, 25, 24),
    (22, 19, 35, 21, 28, 26),
    (26, 23, 42, 24, 33, 31),
    (28, 25, 45, 26, 35, 33),
    (32, 28, 51, 30, 40, 38),
    (36, 32, 58, 34, 46, 43),
]
# position-class index by (i % 4) * 4 + (j % 4)
_NORM8_CLASS = (0, 3, 4, 3, 3, 1, 5, 1, 4, 5, 2, 5, 3, 1, 5, 1)


def _norm8_matrix(m: int) -> np.ndarray:
    vals = _NORM8[m]
    out = np.empty((8, 8), dtype=np.int64)
    for i in range(8):
        for j in range(8):
            out[i, j] = vals[_NORM8_CLASS[(i % 4) * 4 + (j % 4)]]
    return out


_NORM8_MATS = [_norm8_matrix(m) for m in range(6)]


def _norm4_matrix(m: int) -> np.ndarray:
    a, b, c = _DEQUANT_ABC[m]
    out = np.full((4, 4), c, dtype=np.int64)
    for i in (0, 2):
        for j in (0, 2):
            out[i, j] = a
    for i in (1, 3):
        for j in (1, 3):
            out[i, j] = b
    return out


_NORM4_MATS = [_norm4_matrix(m) for m in range(6)]


def _dequant_weighted(blk: np.ndarray, qp: int, weight: np.ndarray,
                      norm: np.ndarray, bits: int) -> np.ndarray:
    """General scaling-list dequant (8.5.12.1 for 4x4 with bits=4,
    8.5.13.2 for 8x8 with bits=6): LevelScale = weight * normAdjust;
    d = (c*LS) << (qp/6 - bits) when qp/6 >= bits, else the rounded
    right shift. With flat weight 16 this equals the fast flat path
    bit-for-bit at every qp (the 2^4 in the weight cancels the spec's
    extra -4 in the shift exactly; pinned by tests)."""
    q6 = qp // 6
    ls = blk.astype(np.int64) * (weight * norm)
    if q6 >= bits:
        return ls << (q6 - bits)
    return (ls + (1 << (bits - 1 - q6))) >> (bits - q6)


def inverse_transform_8x8(block: np.ndarray) -> np.ndarray:
    """8.5.13.3 inverse 8x8 transform on DEQUANTIZED coefficients:
    horizontal 1-D pass then vertical (the 4x4 convention), returning
    the residual BEFORE the (x+32)>>6 rounding. Accepts (..., 8, 8)
    batches like :func:`inverse_transform_4x4`."""
    d = block.astype(np.int64)

    def _pass(d, row: bool):
        # index helper: rows (axis -2) when row else columns (axis -1)
        def g(i):
            return d[..., i, :] if row else d[..., :, i]

        e = [None] * 8
        e[0] = g(0) + g(4)
        e[1] = -g(3) + g(5) - g(7) - (g(7) >> 1)
        e[2] = g(0) - g(4)
        e[3] = g(1) + g(7) - g(3) - (g(3) >> 1)
        e[4] = (g(2) >> 1) - g(6)
        e[5] = -g(1) + g(7) + g(5) + (g(5) >> 1)
        e[6] = g(2) + (g(6) >> 1)
        e[7] = g(3) + g(5) + g(1) + (g(1) >> 1)
        f = [None] * 8
        f[0] = e[0] + e[6]
        f[1] = e[1] + (e[7] >> 2)
        f[2] = e[2] + e[4]
        f[3] = e[3] + (e[5] >> 2)
        f[4] = e[2] - e[4]
        f[5] = (e[3] >> 2) - e[5]
        f[6] = e[0] - e[6]
        f[7] = e[7] - (e[1] >> 2)
        o = [f[0] + f[7], f[2] + f[5], f[4] + f[3], f[6] + f[1],
             f[6] - f[1], f[4] - f[3], f[2] - f[5], f[0] - f[7]]
        return np.stack(o, axis=-2 if row else -1)

    # spec order: each ROW 1-D inverse first, then each COLUMN. A row
    # pass transforms along the row (mixes columns) = stacking over
    # the column axis of per-column gathers.
    h = _pass(d, row=False)   # horizontal: combine d[..., :, k]
    return _pass(h, row=True)  # vertical: combine h[..., k, :]


# ---------------------------------------------------------------------------
# In-loop deblocking filter (8.7), I-slice specialization
#
# For I slices every macroblock is intra-coded, which collapses the
# boundary-strength derivation (8.7.2.1) to: bS = 4 on macroblock
# edges, bS = 3 on internal 4x4 edges (frame coding). Threshold
# tables are Table 8-16 (alpha, beta) and Table 8-17 (tC0); alpha is
# additionally cross-checked at import against its generating formula
# alpha(x) = min(255, floor(0.8 * (2^(x/6) - 1))) — a transcription
# slip in any entry breaks the equality.
# ---------------------------------------------------------------------------

_DB_ALPHA = [0] * 16 + [
    4, 4, 5, 6, 7, 8, 9, 10, 12, 13, 15, 17, 20, 22, 25, 28,
    32, 36, 40, 45, 50, 56, 63, 71, 80, 90, 101, 113, 127, 144,
    162, 182, 203, 226, 255, 255,
]
_DB_BETA = [0] * 16 + [
    2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 6, 6, 7, 7, 8, 8,
    9, 9, 10, 10, 11, 11, 12, 12, 13, 13, 14, 14, 15, 15,
    16, 16, 17, 17, 18, 18,
]
# Table 8-17: tC0 as (bS=1, bS=2, bS=3) triples per indexA 16..51
# (below 16 all zero, like alpha/beta)
_DB_TC0_TRIPLES = (
    (0, 0, 0), (0, 0, 1), (0, 0, 1), (0, 0, 1), (0, 0, 1),
    (0, 1, 1), (0, 1, 1), (1, 1, 1), (1, 1, 1), (1, 1, 1),
    (1, 1, 1), (1, 1, 2), (1, 1, 2), (1, 1, 2), (1, 1, 2),
    (1, 2, 3), (1, 2, 3), (2, 2, 3), (2, 2, 4), (2, 3, 4),
    (2, 3, 4), (3, 3, 5), (3, 4, 6), (3, 4, 6), (4, 5, 7),
    (4, 5, 8), (4, 6, 9), (5, 7, 10), (6, 8, 11), (6, 8, 13),
    (7, 10, 14), (8, 11, 16), (9, 12, 18), (10, 13, 20),
    (11, 15, 23), (13, 17, 25),
)
_DB_TC0 = tuple(
    [0] * 16 + [t[i] for t in _DB_TC0_TRIPLES] for i in range(3)
)

assert len(_DB_ALPHA) == len(_DB_BETA) == 52
assert all(len(_t) == 52 for _t in _DB_TC0)
# structural pins: all three families are non-decreasing in the index,
# alpha tracks the exponential 0.8 * (2^(x/6) - 1) within 1.5% (the
# published table is a hand-rounded sampling of it), and tc0 rows are
# ordered bS1 <= bS2 <= bS3 pointwise
for _x in range(16, 52):
    _approx = min(255, 0.8 * (2 ** (_x / 6.0) - 1))
    assert abs(_DB_ALPHA[_x] - _approx) <= max(1.0, 0.015 * _approx), _x
    if _x > 16:
        assert _DB_ALPHA[_x] >= _DB_ALPHA[_x - 1]
        assert _DB_BETA[_x] >= _DB_BETA[_x - 1]
        assert all(_t[_x] >= _t[_x - 1] for _t in _DB_TC0)
    assert _DB_TC0[0][_x] <= _DB_TC0[1][_x] <= _DB_TC0[2][_x]
del _x, _approx


def _db_edge(plane: np.ndarray, vert: bool, pos: int, lo: int, n: int,
             bs: int, idx_a: int, idx_b: int, chroma: bool) -> None:
    """Filter one edge in place. ``pos`` is the q0 column (vertical
    edge) or row (horizontal); ``lo``..``lo+n`` spans the edge. All n
    lines are processed vectorized; sequencing between edges is the
    caller's job (8.7 mandates vertical-then-horizontal, macroblocks
    in raster order, each operating on the already-filtered output)."""
    alpha = _DB_ALPHA[idx_a]
    beta = _DB_BETA[idx_b]
    if alpha == 0 or beta == 0:
        return
    if vert:
        seg = plane[lo:lo + n, pos - 4:pos + 4]
    else:
        seg = plane[pos - 4:pos + 4, lo:lo + n].T
    s = seg.astype(np.int64)
    p3, p2, p1, p0, q0, q1, q2, q3 = (s[:, i] for i in range(8))
    filt = (np.abs(p0 - q0) < alpha) & (np.abs(p1 - p0) < beta) \
        & (np.abs(q1 - q0) < beta)
    if not filt.any():
        return
    ap = np.abs(p2 - p0)
    aq = np.abs(q2 - q0)
    if bs == 4:
        strong = np.abs(p0 - q0) < ((alpha >> 2) + 2)
        if chroma:
            np0 = (2 * p1 + p0 + q1 + 2) >> 2
            nq0 = (2 * q1 + q0 + p1 + 2) >> 2
            seg[:, 3] = np.where(filt, np0, p0)
            seg[:, 4] = np.where(filt, nq0, q0)
        else:
            sp = strong & (ap < beta)
            sq = strong & (aq < beta)
            np0 = np.where(
                sp, (p2 + 2 * p1 + 2 * p0 + 2 * q0 + q1 + 4) >> 3,
                (2 * p1 + p0 + q1 + 2) >> 2)
            np1 = np.where(sp, (p2 + p1 + p0 + q0 + 2) >> 2, p1)
            np2 = np.where(
                sp, (2 * p3 + 3 * p2 + p1 + p0 + q0 + 4) >> 3, p2)
            nq0 = np.where(
                sq, (q2 + 2 * q1 + 2 * q0 + 2 * p0 + p1 + 4) >> 3,
                (2 * q1 + q0 + p1 + 2) >> 2)
            nq1 = np.where(sq, (q2 + q1 + q0 + p0 + 2) >> 2, q1)
            nq2 = np.where(
                sq, (2 * q3 + 3 * q2 + q1 + q0 + p0 + 4) >> 3, q2)
            seg[:, 1] = np.where(filt, np2, p2)
            seg[:, 2] = np.where(filt, np1, p1)
            seg[:, 3] = np.where(filt, np0, p0)
            seg[:, 4] = np.where(filt, nq0, q0)
            seg[:, 5] = np.where(filt, nq1, q1)
            seg[:, 6] = np.where(filt, nq2, q2)
        return
    tc0 = _DB_TC0[bs - 1][idx_a]
    if chroma:
        tc = np.full(n, tc0 + 1, dtype=np.int64)
    else:
        tc = tc0 + (ap < beta).astype(np.int64) \
            + (aq < beta).astype(np.int64)
    delta = np.clip(((q0 - p0) * 4 + (p1 - q1) + 4) >> 3, -tc, tc)
    seg[:, 3] = np.where(filt, np.clip(p0 + delta, 0, 255), p0)
    seg[:, 4] = np.where(filt, np.clip(q0 - delta, 0, 255), q0)
    if not chroma and tc0 > 0:
        dp1 = np.clip(
            (p2 + ((p0 + q0 + 1) >> 1) - 2 * p1) >> 1, -tc0, tc0)
        dq1 = np.clip(
            (q2 + ((p0 + q0 + 1) >> 1) - 2 * q1) >> 1, -tc0, tc0)
        seg[:, 2] = np.where(filt & (ap < beta), p1 + dp1, seg[:, 2])
        seg[:, 5] = np.where(filt & (aq < beta), q1 + dq1, seg[:, 5])


def _bs_luma(st: "_IFrame", gxp: int, gyp: int, gxq: int, gyq: int,
             mb_edge: bool) -> int:
    """Boundary strength (8.7.2.1, frame coding) for the edge between
    luma 4x4 blocks p at (gxp, gyp) and q at (gxq, gyq). With a single
    reference per list, "different reference pictures or different
    number of motion vectors" collapses to a pred_flags mismatch (L0
    and L1 always name DIFFERENT pictures — a past and a future ref),
    so past the intra and coded-coefficient cases only the per-list
    MV-distance test remains."""
    mbp = (gyp >> 2) * st.mbw + (gxp >> 2)
    mbq = (gyq >> 2) * st.mbw + (gxq >> 2)
    if st.mb_intra[mbp] or st.mb_intra[mbq]:
        return 4 if mb_edge else 3
    # coded-coefficient test: an 8x8-transformed MB's 4x4 positions
    # answer with the CONTAINING 8x8 block's coded status (8.7.2.1)
    nzp = (st.nz8[gyp >> 1, gxp >> 1] if st.mb_t8[mbp]
           else st.nzY[gyp, gxp])
    nzq = (st.nz8[gyq >> 1, gxq >> 1] if st.mb_t8[mbq]
           else st.nzY[gyq, gxq])
    if nzp or nzq:
        return 2
    fp = int(st.pred_flags[gyp, gxp])
    fq = int(st.pred_flags[gyq, gxq])
    if fp != fq:
        return 1
    if fp & 1:
        if int(st.ref_idx0[gyp, gxp]) != int(st.ref_idx0[gyq, gxq]):
            return 1  # different reference pictures
        if (abs(int(st.mvx[gyp, gxp]) - int(st.mvx[gyq, gxq])) >= 4
                or abs(int(st.mvy[gyp, gxp])
                       - int(st.mvy[gyq, gxq])) >= 4):
            return 1
    if fp & 2:
        if int(st.ref_idx1[gyp, gxp]) != int(st.ref_idx1[gyq, gxq]):
            return 1
        if (abs(int(st.mvx1[gyp, gxp]) - int(st.mvx1[gyq, gxq])) >= 4
                or abs(int(st.mvy1[gyp, gxp])
                       - int(st.mvy1[gyq, gxq])) >= 4):
            return 1
    return 0


def _edge_bs_segments(st: "_IFrame", vert: bool, gq: int, gperp: int,
                      mb_edge: bool) -> list:
    """Per-4x4-segment bS along one luma MB-internal/MB-boundary edge:
    q blocks at column gq (vertical) or row gq (horizontal), the four
    segments starting at block row/col gperp. Adjacent equal-bS
    segments are merged into (start, count, bs) runs."""
    runs = []
    for s in range(4):
        if vert:
            bs = _bs_luma(st, gq - 1, gperp + s, gq, gperp + s, mb_edge)
        else:
            bs = _bs_luma(st, gperp + s, gq - 1, gperp + s, gq, mb_edge)
        if runs and runs[-1][2] == bs:
            runs[-1][1] += 1
        else:
            runs.append([s, 1, bs])
    return runs


def deblock_frame(st: "_IFrame", pps: PPS, alpha_off: int,
                  beta_off: int) -> None:
    """8.7 over a fully reconstructed frame, in place: macroblocks in
    raster order, per MB all vertical edges left-to-right then all
    horizontal edges top-to-bottom, luma and 4:2:0 chroma. All-intra
    frames use the collapsed bS (4 on MB edges, 3 inside); frames with
    inter MBs derive bS per 4x4 edge segment from intra/coefficient/MV
    state (8.7.2.1), with chroma edges inheriting the co-located luma
    blocks' bS."""
    mbw, mbh = st.mbw, st.mbh
    qps = [0 if st.mb_pcm[i] else st.mb_qp[i] for i in range(mbw * mbh)]
    qpcs = [chroma_qp(q, pps.chroma_qp_index_offset) for q in qps]
    inter = st.any_inter

    def idx(q_avg, off):
        return max(0, min(51, q_avg + off))

    for mb in range(mbw * mbh):
        mbx, mby = mb % mbw, mb // mbw
        # vertical luma edges at x = 0, 4, 8, 12 within the MB; an
        # 8x8-transformed MB has no transform boundary at 4/12, so
        # those internal edges are not filtered (8.7: filterInternal
        # edges per transform_size_8x8_flag)
        for k, xo in enumerate((0, 4, 8, 12)):
            if st.mb_t8[mb] and xo in (4, 12):
                continue
            if k == 0:
                if mbx == 0:
                    continue
                qa = (qps[mb] + qps[mb - 1] + 1) >> 1
            else:
                qa = qps[mb]
            ia, ib = idx(qa, alpha_off), idx(qa, beta_off)
            if not inter:
                _db_edge(st.Y, True, mbx * 16 + xo, mby * 16, 16,
                         4 if k == 0 else 3, ia, ib, False)
                continue
            gq = mbx * 4 + (xo >> 2)
            for s, n, bs in _edge_bs_segments(st, True, gq, mby * 4,
                                              k == 0):
                if bs:
                    _db_edge(st.Y, True, mbx * 16 + xo,
                             (mby * 4 + s) * 4, n * 4, bs, ia, ib, False)
        # vertical chroma edges at chroma x = 0, 4 (luma x = 0, 8)
        for k, xo in enumerate((0, 4)):
            if k == 0:
                if mbx == 0:
                    continue
                qa = (qpcs[mb] + qpcs[mb - 1] + 1) >> 1
            else:
                qa = qpcs[mb]
            ia, ib = idx(qa, alpha_off), idx(qa, beta_off)
            if not inter:
                for plane in (st.Cb, st.Cr):
                    _db_edge(plane, True, mbx * 8 + xo, mby * 8, 8,
                             4 if k == 0 else 3, ia, ib, True)
                continue
            gq = mbx * 4 + (xo >> 1)  # co-located luma block column
            for s, n, bs in _edge_bs_segments(st, True, gq, mby * 4,
                                              k == 0):
                if bs:
                    for plane in (st.Cb, st.Cr):
                        _db_edge(plane, True, mbx * 8 + xo,
                                 (mby * 4 + s) * 2, n * 2, bs, ia, ib,
                                 True)
        # horizontal luma edges at y = 0, 4, 8, 12
        for k, yo in enumerate((0, 4, 8, 12)):
            if st.mb_t8[mb] and yo in (4, 12):
                continue
            if k == 0:
                if mby == 0:
                    continue
                qa = (qps[mb] + qps[mb - mbw] + 1) >> 1
            else:
                qa = qps[mb]
            ia, ib = idx(qa, alpha_off), idx(qa, beta_off)
            if not inter:
                _db_edge(st.Y, False, mby * 16 + yo, mbx * 16, 16,
                         4 if k == 0 else 3, ia, ib, False)
                continue
            gq = mby * 4 + (yo >> 2)
            for s, n, bs in _edge_bs_segments(st, False, gq, mbx * 4,
                                              k == 0):
                if bs:
                    _db_edge(st.Y, False, mby * 16 + yo,
                             (mbx * 4 + s) * 4, n * 4, bs, ia, ib, False)
        # horizontal chroma edges at chroma y = 0, 4
        for k, yo in enumerate((0, 4)):
            if k == 0:
                if mby == 0:
                    continue
                qa = (qpcs[mb] + qpcs[mb - mbw] + 1) >> 1
            else:
                qa = qpcs[mb]
            ia, ib = idx(qa, alpha_off), idx(qa, beta_off)
            if not inter:
                for plane in (st.Cb, st.Cr):
                    _db_edge(plane, False, mby * 8 + yo, mbx * 8, 8,
                             4 if k == 0 else 3, ia, ib, True)
                continue
            gq = mby * 4 + (yo >> 1)
            for s, n, bs in _edge_bs_segments(st, False, gq, mbx * 4,
                                              k == 0):
                if bs:
                    for plane in (st.Cb, st.Cr):
                        _db_edge(plane, False, mby * 8 + yo,
                                 (mbx * 4 + s) * 2, n * 2, bs, ia, ib,
                                 True)


# ---------------------------------------------------------------------------
# Intra prediction (8.3)
# ---------------------------------------------------------------------------


def _pred4x4(mode: int, left, top, top_left, top_right) -> np.ndarray:
    """9 Intra_4x4 modes. left/top are length-4 int arrays or None;
    top_right length-4 or None (falls back per spec to top[3] repeat);
    returns (4,4) int array."""
    p = np.zeros((4, 4), dtype=np.int64)
    have_l = left is not None
    have_t = top is not None
    if mode == 0:  # Vertical
        if not have_t:
            raise AVCError("intra4x4 V without top")
        p[:, :] = np.asarray(top)[None, :]
    elif mode == 1:  # Horizontal
        if not have_l:
            raise AVCError("intra4x4 H without left")
        p[:, :] = np.asarray(left)[:, None]
    elif mode == 2:  # DC
        if have_l and have_t:
            p[:, :] = (int(np.sum(left)) + int(np.sum(top)) + 4) >> 3
        elif have_l:
            p[:, :] = (int(np.sum(left)) + 2) >> 2
        elif have_t:
            p[:, :] = (int(np.sum(top)) + 2) >> 2
        else:
            p[:, :] = 128
    elif mode == 8:  # Horizontal up (needs LEFT only)
        if not have_l:
            raise AVCError("intra4x4 HU without left")
        lf = list(np.asarray(left, dtype=np.int64))
        for y in range(4):
            for x in range(4):
                z = x + 2 * y
                if z > 5:
                    p[y, x] = lf[3]
                elif z == 5:
                    p[y, x] = (lf[2] + 3 * lf[3] + 2) >> 2
                elif z % 2 == 0:
                    i = y + (x >> 1)
                    p[y, x] = (lf[i] + lf[i + 1] + 1) >> 1
                else:
                    i = y + (x >> 1)
                    p[y, x] = (lf[i] + 2 * lf[i + 1] + lf[i + 2] + 2) >> 2
    else:
        if not have_t:
            raise AVCError("intra4x4 diagonal without top")
        t = list(np.asarray(top, dtype=np.int64))
        if top_right is not None:
            t += list(np.asarray(top_right, dtype=np.int64))
        else:
            t += [t[3]] * 4
        if mode == 3:  # Diagonal down-left
            for y in range(4):
                for x in range(4):
                    i = x + y
                    if i == 6:
                        p[y, x] = (t[6] + 3 * t[7] + 2) >> 2
                    else:
                        p[y, x] = (t[i] + 2 * t[i + 1] + t[i + 2] + 2) >> 2
        elif mode == 7:  # Vertical left
            for y in range(4):
                for x in range(4):
                    i = x + (y >> 1)
                    if y % 2 == 0:
                        p[y, x] = (t[i] + t[i + 1] + 1) >> 1
                    else:
                        p[y, x] = (t[i] + 2 * t[i + 1] + t[i + 2] + 2) >> 2
        else:
            if not have_l or top_left is None:
                raise AVCError("intra4x4 mode needs left+corner")
            lf = list(np.asarray(left, dtype=np.int64))
            tl = int(top_left)
            if mode == 4:  # Diagonal down-right (8.3.1.2.4)
                T = lambda i: tl if i == -1 else t[i]  # noqa: E731
                L = lambda i: tl if i == -1 else lf[i]  # noqa: E731
                for y in range(4):
                    for x in range(4):
                        if x > y:
                            p[y, x] = (
                                T(x - y - 2) + 2 * T(x - y - 1) + T(x - y) + 2
                            ) >> 2
                        elif x < y:
                            p[y, x] = (
                                L(y - x - 2) + 2 * L(y - x - 1) + L(y - x) + 2
                            ) >> 2
                        else:
                            p[y, x] = (t[0] + 2 * tl + lf[0] + 2) >> 2
            elif mode == 5:  # Vertical right (8.3.1.2.5)
                T = lambda i: tl if i == -1 else t[i]  # noqa: E731
                L = lambda i: tl if i == -1 else lf[i]  # noqa: E731
                for y in range(4):
                    for x in range(4):
                        z = 2 * x - y
                        i = x - (y >> 1)
                        if z >= 0 and z % 2 == 0:
                            p[y, x] = (T(i - 1) + T(i) + 1) >> 1
                        elif z >= 0:
                            p[y, x] = (
                                T(i - 2) + 2 * T(i - 1) + T(i) + 2
                            ) >> 2
                        elif z == -1:
                            p[y, x] = (lf[0] + 2 * tl + t[0] + 2) >> 2
                        else:
                            p[y, x] = (
                                L(y - 2 * x - 1) + 2 * L(y - 2 * x - 2)
                                + L(y - 2 * x - 3) + 2
                            ) >> 2
            elif mode == 6:  # Horizontal down (8.3.1.2.6)
                T = lambda i: tl if i == -1 else t[i]  # noqa: E731
                L = lambda i: tl if i == -1 else lf[i]  # noqa: E731
                for y in range(4):
                    for x in range(4):
                        z = 2 * y - x
                        i = y - (x >> 1)
                        if z >= 0 and z % 2 == 0:
                            p[y, x] = (L(i - 1) + L(i) + 1) >> 1
                        elif z >= 0:
                            p[y, x] = (
                                L(i - 2) + 2 * L(i - 1) + L(i) + 2
                            ) >> 2
                        elif z == -1:
                            p[y, x] = (t[0] + 2 * tl + lf[0] + 2) >> 2
                        else:
                            p[y, x] = (
                                T(x - 2 * y - 1) + 2 * T(x - 2 * y - 2)
                                + T(x - 2 * y - 3) + 2
                            ) >> 2
            else:
                raise AVCError(f"bad intra4x4 mode {mode}")
    return p


def _intra8_refs(left, top, top_left, top_right):
    """8.3.2.2.1 Intra_8x8 reference-sample filtering. Inputs are the
    RAW neighbor samples (None where unavailable): ``left`` 8, ``top``
    8, ``top_left`` scalar, ``top_right`` 8 (substituted with top[7]
    when absent, per 8.3.2.2). Returns (fl, ft, ftl): filtered left
    (8,), filtered top+top-right (16,), filtered corner scalar — None
    where the raw input was unavailable."""
    fl = ft = ftl = None
    tl = None if top_left is None else int(top_left)
    if top is not None:
        t = np.empty(16, dtype=np.int64)
        t[:8] = top
        t[8:] = top_right if top_right is not None else int(top[7])
        ft = np.empty(16, dtype=np.int64)
        if tl is not None:
            ft[0] = (tl + 2 * t[0] + t[1] + 2) >> 2
        else:
            ft[0] = (3 * t[0] + t[1] + 2) >> 2
        ft[1:15] = (t[0:14] + 2 * t[1:15] + t[2:16] + 2) >> 2
        ft[15] = (t[14] + 3 * t[15] + 2) >> 2
    if tl is not None:
        if top is not None and left is not None:
            ftl = (int(top[0]) + 2 * tl + int(left[0]) + 2) >> 2
        elif top is not None:
            ftl = (3 * tl + int(top[0]) + 2) >> 2
        elif left is not None:
            ftl = (3 * tl + int(left[0]) + 2) >> 2
        else:
            ftl = tl
    if left is not None:
        lf = np.asarray(left, dtype=np.int64)
        fl = np.empty(8, dtype=np.int64)
        if tl is not None:
            fl[0] = (tl + 2 * lf[0] + lf[1] + 2) >> 2
        else:
            fl[0] = (3 * lf[0] + lf[1] + 2) >> 2
        fl[1:7] = (lf[0:6] + 2 * lf[1:7] + lf[2:8] + 2) >> 2
        fl[7] = (lf[6] + 3 * lf[7] + 2) >> 2
    return fl, ft, ftl


def _pred8x8(mode: int, left, top, top_left, top_right) -> np.ndarray:
    """Intra_8x8 prediction (8.3.2.2.2-.2.10) on FILTERED reference
    samples assembled by :func:`_intra8_refs`; the mode geometry is
    the 4x4 family's at doubled size (same zVR/zHD/zHU walks)."""
    fl, ft, ftl = _intra8_refs(left, top, top_left, top_right)
    p = np.empty((8, 8), dtype=np.int64)
    if mode == 0:  # Vertical
        if ft is None:
            raise AVCError("intra8x8 V without top")
        p[:, :] = ft[None, :8]
    elif mode == 1:  # Horizontal
        if fl is None:
            raise AVCError("intra8x8 H without left")
        p[:, :] = fl[:, None]
    elif mode == 2:  # DC
        if fl is not None and ft is not None:
            p[:, :] = (int(fl.sum()) + int(ft[:8].sum()) + 8) >> 4
        elif fl is not None:
            p[:, :] = (int(fl.sum()) + 4) >> 3
        elif ft is not None:
            p[:, :] = (int(ft[:8].sum()) + 4) >> 3
        else:
            p[:, :] = 128
    elif mode == 3:  # Diagonal-down-left
        if ft is None:
            raise AVCError("intra8x8 DDL without top")
        for y in range(8):
            for x in range(8):
                if x == 7 and y == 7:
                    p[y, x] = (ft[14] + 3 * ft[15] + 2) >> 2
                else:
                    p[y, x] = (
                        ft[x + y] + 2 * ft[x + y + 1] + ft[x + y + 2] + 2
                    ) >> 2
    elif mode == 4:  # Diagonal-down-right
        if fl is None or ft is None or ftl is None:
            raise AVCError("intra8x8 DDR needs left+top+corner")
        for y in range(8):
            for x in range(8):
                if x > y:
                    p[y, x] = (
                        ft[x - y - 2] + 2 * ft[x - y - 1] + ft[x - y] + 2
                    ) >> 2 if x - y >= 2 else (
                        ftl + 2 * ft[0] + ft[1] + 2) >> 2
                elif x < y:
                    p[y, x] = (
                        fl[y - x - 2] + 2 * fl[y - x - 1] + fl[y - x] + 2
                    ) >> 2 if y - x >= 2 else (
                        ftl + 2 * fl[0] + fl[1] + 2) >> 2
                else:
                    p[y, x] = (ft[0] + 2 * ftl + fl[0] + 2) >> 2
    elif mode == 5:  # Vertical-right
        if fl is None or ft is None or ftl is None:
            raise AVCError("intra8x8 VR needs left+top+corner")
        for y in range(8):
            for x in range(8):
                z = 2 * x - y
                if z >= 0 and z % 2 == 0:
                    i = x - (y >> 1)
                    p[y, x] = ((ftl if i == 0 else ft[i - 1])
                               + ft[i] + 1) >> 1
                elif z >= 1:
                    i = x - (y >> 1)
                    a = ftl if i - 1 == 0 else ft[i - 2]
                    b = ftl if i == 0 else ft[i - 1]
                    p[y, x] = (a + 2 * b + ft[i] + 2) >> 2
                elif z == -1:
                    p[y, x] = (fl[0] + 2 * ftl + ft[0] + 2) >> 2
                else:
                    p[y, x] = (
                        fl[y - 2 * x - 1] + 2 * fl[y - 2 * x - 2]
                        + fl[y - 2 * x - 3] + 2
                    ) >> 2
    elif mode == 6:  # Horizontal-down
        if fl is None or ft is None or ftl is None:
            raise AVCError("intra8x8 HD needs left+top+corner")
        for y in range(8):
            for x in range(8):
                z = 2 * y - x
                if z >= 0 and z % 2 == 0:
                    i = y - (x >> 1)
                    p[y, x] = ((ftl if i == 0 else fl[i - 1])
                               + fl[i] + 1) >> 1
                elif z >= 1:
                    i = y - (x >> 1)
                    a = ftl if i - 1 == 0 else fl[i - 2]
                    b = ftl if i == 0 else fl[i - 1]
                    p[y, x] = (a + 2 * b + fl[i] + 2) >> 2
                elif z == -1:
                    p[y, x] = (ft[0] + 2 * ftl + fl[0] + 2) >> 2
                else:
                    p[y, x] = (
                        ft[x - 2 * y - 1] + 2 * ft[x - 2 * y - 2]
                        + ft[x - 2 * y - 3] + 2
                    ) >> 2
    elif mode == 7:  # Vertical-left
        if ft is None:
            raise AVCError("intra8x8 VL without top")
        for y in range(8):
            for x in range(8):
                i = x + (y >> 1)
                if y % 2 == 0:
                    p[y, x] = (ft[i] + ft[i + 1] + 1) >> 1
                else:
                    p[y, x] = (ft[i] + 2 * ft[i + 1] + ft[i + 2] + 2) >> 2
    elif mode == 8:  # Horizontal-up
        if fl is None:
            raise AVCError("intra8x8 HU without left")
        for y in range(8):
            for x in range(8):
                z = x + 2 * y
                if z < 13 and z % 2 == 0:
                    i = y + (x >> 1)
                    p[y, x] = (fl[i] + fl[i + 1] + 1) >> 1
                elif z < 13:
                    i = y + (x >> 1)
                    p[y, x] = (fl[i] + 2 * fl[i + 1] + fl[i + 2] + 2) >> 2
                elif z == 13:
                    p[y, x] = (fl[6] + 3 * fl[7] + 2) >> 2
                else:
                    p[y, x] = fl[7]
    else:
        raise AVCError(f"bad intra8x8 mode {mode}")
    return p


def _pred16x16(mode: int, left, top, top_left) -> np.ndarray:
    p = np.zeros((16, 16), dtype=np.int64)
    if mode == 0:  # Vertical
        if top is None:
            raise AVCError("intra16 V without top")
        p[:, :] = np.asarray(top)[None, :]
    elif mode == 1:  # Horizontal
        if left is None:
            raise AVCError("intra16 H without left")
        p[:, :] = np.asarray(left)[:, None]
    elif mode == 2:  # DC
        if left is not None and top is not None:
            p[:, :] = (int(np.sum(left)) + int(np.sum(top)) + 16) >> 5
        elif left is not None:
            p[:, :] = (int(np.sum(left)) + 8) >> 4
        elif top is not None:
            p[:, :] = (int(np.sum(top)) + 8) >> 4
        else:
            p[:, :] = 128
    elif mode == 3:  # Plane
        if left is None or top is None or top_left is None:
            raise AVCError("intra16 plane needs all neighbors")
        t = np.asarray(top, dtype=np.int64)
        lf = np.asarray(left, dtype=np.int64)
        tl = int(top_left)
        h = sum((x + 1) * (int(t[8 + x]) - (int(t[6 - x]) if 6 - x >= 0 else tl)) for x in range(8))
        v = sum((y + 1) * (int(lf[8 + y]) - (int(lf[6 - y]) if 6 - y >= 0 else tl)) for y in range(8))
        a = 16 * (int(lf[15]) + int(t[15]))
        b = (5 * h + 32) >> 6
        c = (5 * v + 32) >> 6
        yy, xx = np.mgrid[0:16, 0:16]
        p = np.clip((a + b * (xx - 7) + c * (yy - 7) + 16) >> 5, 0, 255)
    else:
        raise AVCError(f"bad intra16 mode {mode}")
    return p


def _pred_chroma(mode: int, left, top, top_left) -> np.ndarray:
    """Chroma 8x8 prediction; mode 0=DC, 1=Horizontal, 2=Vertical,
    3=Plane (NOTE the order differs from luma 16x16)."""
    p = np.zeros((8, 8), dtype=np.int64)
    if mode == 0:  # DC, per 4x4 quadrant rules (8.3.4.1)
        lf = None if left is None else np.asarray(left, dtype=np.int64)
        t = None if top is None else np.asarray(top, dtype=np.int64)
        for qy in (0, 4):
            for qx in (0, 4):
                lpart = lf[qy : qy + 4] if lf is not None else None
                tpart = t[qx : qx + 4] if t is not None else None
                if qx == 0 and qy == 0 or (qx == 4 and qy == 4):
                    if lpart is not None and tpart is not None:
                        v = (int(lpart.sum()) + int(tpart.sum()) + 4) >> 3
                    elif lpart is not None:
                        v = (int(lpart.sum()) + 2) >> 2
                    elif tpart is not None:
                        v = (int(tpart.sum()) + 2) >> 2
                    else:
                        v = 128
                elif qx == 4 and qy == 0:
                    if tpart is not None:
                        v = (int(tpart.sum()) + 2) >> 2
                    elif lpart is not None:
                        v = (int(lpart.sum()) + 2) >> 2
                    else:
                        v = 128
                else:  # qx == 0, qy == 4
                    if lpart is not None:
                        v = (int(lpart.sum()) + 2) >> 2
                    elif tpart is not None:
                        v = (int(tpart.sum()) + 2) >> 2
                    else:
                        v = 128
                p[qy : qy + 4, qx : qx + 4] = v
    elif mode == 1:  # Horizontal
        if left is None:
            raise AVCError("chroma H without left")
        p[:, :] = np.asarray(left)[:, None]
    elif mode == 2:  # Vertical
        if top is None:
            raise AVCError("chroma V without top")
        p[:, :] = np.asarray(top)[None, :]
    elif mode == 3:  # Plane
        if left is None or top is None or top_left is None:
            raise AVCError("chroma plane needs all neighbors")
        t = np.asarray(top, dtype=np.int64)
        lf = np.asarray(left, dtype=np.int64)
        tl = int(top_left)
        h = sum((x + 1) * (int(t[4 + x]) - (int(t[2 - x]) if 2 - x >= 0 else tl)) for x in range(4))
        v = sum((y + 1) * (int(lf[4 + y]) - (int(lf[2 - y]) if 2 - y >= 0 else tl)) for y in range(4))
        a = 16 * (int(lf[7]) + int(t[7]))
        b = (17 * h + 16) >> 5
        c = (17 * v + 16) >> 5
        yy, xx = np.mgrid[0:8, 0:8]
        p = np.clip((a + b * (xx - 3) + c * (yy - 3) + 16) >> 5, 0, 255)
    else:
        raise AVCError(f"bad chroma mode {mode}")
    return p


# ---------------------------------------------------------------------------
# I-slice decoding (7.3.4 / 7.3.5, CAVLC)
# ---------------------------------------------------------------------------

# Table 9-4: codeNum -> coded_block_pattern, Intra_4x4 column
_CBP_INTRA = [
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41,
]

# Table 9-4: codeNum -> coded_block_pattern, Inter column
_CBP_INTER = [
    0, 16, 1, 2, 4, 8, 32, 3, 5, 10, 12, 15, 47, 7, 11, 13,
    14, 6, 9, 31, 35, 37, 42, 44, 33, 34, 36, 40, 39, 43, 45, 46,
    17, 18, 20, 24, 19, 21, 26, 28, 23, 27, 29, 30, 22, 25, 38, 41,
]

# structural pin: both Table 9-4 columns are bijections onto 0..47
assert sorted(_CBP_INTRA) == list(range(48))
assert sorted(_CBP_INTER) == list(range(48))


def _blk_xy(idx: int) -> tuple[int, int]:
    """luma4x4BlkIdx -> (x, y) in 4x4-block units within the MB
    (6.4.3: blocks scan raster within each 8x8, 8x8s raster in MB)."""
    x = ((idx >> 2) & 1) * 2 + (idx & 1)
    y = ((idx >> 3) & 1) * 2 + ((idx >> 1) & 1)
    return x, y


_BLK_IDX_OF_XY = {}
for _i in range(16):
    _BLK_IDX_OF_XY[_blk_xy(_i)] = _i


class _IFrame:
    """Mutable decode state for one frame (I or single-ref P).

    The historical name predates P-slice support (r7); it is kept
    because tests and the fixture encoder address it directly."""

    def __init__(self, sps: SPS):
        self.mbw = sps.mb_width
        self.mbh = sps.mb_height
        self.Y = np.zeros((self.mbh * 16, self.mbw * 16), dtype=np.int64)
        self.Cb = np.zeros((self.mbh * 8, self.mbw * 8), dtype=np.int64)
        self.Cr = np.zeros((self.mbh * 8, self.mbw * 8), dtype=np.int64)
        # per-4x4 total_coeff (luma: 4*mb units; chroma: 2*mb per plane)
        self.nzY = np.zeros((self.mbh * 4, self.mbw * 4), dtype=np.int32)
        self.nzCb = np.zeros((self.mbh * 2, self.mbw * 2), dtype=np.int32)
        self.nzCr = np.zeros((self.mbh * 2, self.mbw * 2), dtype=np.int32)
        # per-4x4 intra pred mode for mode prediction; -1 = MB not yet
        # decoded; I16x16/I_PCM MBs store 2 (the DC convention)
        self.modes = np.full((self.mbh * 4, self.mbw * 4), -1, dtype=np.int32)
        self.n_decoded_mbs = 0
        # per-MB luma QP and I_PCM flag for the deblocking filter
        # (8.7.2: an I_PCM macroblock filters as QPy = 0)
        self.mb_qp = [0] * (self.mbw * self.mbh)
        self.mb_pcm = [False] * (self.mbw * self.mbh)
        # P-slice state: per-MB intra flag (bS derivation 8.7.2.1),
        # per-4x4-block L0 motion vectors in quarter-pel units, and a
        # per-4x4 "MV written" marker giving within-MB partition decode
        # order for the MV prediction neighbors (8.4.1.3.2/6.4.11.7).
        # Intra blocks keep mv (0,0) with mv_done False -> refIdx -1.
        self.mb_intra = [True] * (self.mbw * self.mbh)
        self.mvx = np.zeros((self.mbh * 4, self.mbw * 4), dtype=np.int32)
        self.mvy = np.zeros((self.mbh * 4, self.mbw * 4), dtype=np.int32)
        self.mv_done = np.zeros((self.mbh * 4, self.mbw * 4), dtype=bool)
        # B-slice state: list-1 motion field + per-4x4 list-usage
        # flags (bit0 = L0, bit1 = L1; P inter blocks carry 1); the
        # colocated picture's fields drive spatial-direct colZeroFlag
        self.mvx1 = np.zeros((self.mbh * 4, self.mbw * 4), dtype=np.int32)
        self.mvy1 = np.zeros((self.mbh * 4, self.mbw * 4), dtype=np.int32)
        self.mv_done1 = np.zeros((self.mbh * 4, self.mbw * 4), dtype=bool)
        self.pred_flags = np.zeros((self.mbh * 4, self.mbw * 4),
                                   dtype=np.uint8)
        # multi-reference state: per-4x4 reference index into each
        # list (-1 = list unused); single-ref streams only ever hold 0
        self.ref_idx0 = np.full((self.mbh * 4, self.mbw * 4), -1,
                                dtype=np.int8)
        self.ref_idx1 = np.full((self.mbh * 4, self.mbw * 4), -1,
                                dtype=np.int8)
        self.any_inter = False
        # slice-level explicit weighted-prediction table (set by
        # _decode_frame_inner; None = unweighted prediction)
        self.wp = None
        # implicit-bipred weight table [ri0][ri1] -> (w0, w1)
        # (weighted_bipred_idc == 2; bi-predicted partitions only)
        self.wp_imp = None
        # this picture's frame_num (set by _decode_frame_inner) —
        # list modification derives reference picNums from it
        self.frame_num = None
        # direct-mode context (set by _decode_frame_inner for B
        # slices): spatial vs temporal, this picture's POC and its
        # per-list reference POCs. ref0_pocs persists on the state so
        # a LATER temporal-direct B can map the colocated picture's
        # refIdx to a POC (pictures are identified by POC, never by
        # object retention — no frame-lifetime chains)
        self.direct_spatial = True
        self.poc = None
        self.ref0_pocs = None
        self.ref1_pocs = None
        # per-list LongTermPicNum metadata (None entry = short-term;
        # set by _decode_one_slice) — spatial-direct colZero needs
        # to know whether RefPicList1[0] is long-term
        self.ref0_lt = None
        self.ref1_lt = None
        # adaptive marking commands (7.3.3.3; op-1 unmark plus the
        # long-term ops 2/3/4/6) parsed from this picture's header —
        # applied by the DPB owner. IDR long_term_reference_flag
        # surfaces as idr_long_term.
        self.mmco = None
        self.idr_long_term = False
        # constrained_intra_pred in a P/B slice (r8): intra
        # prediction treats INTER neighbors' samples as unavailable
        self.constrained_intra = False
        # slice map: which slice decoded each MB (-1 = none yet) and
        # the slice currently decoding — prediction availability
        # (6.4.8) stops at slice boundaries, deblocking does not
        # (idc 2, the only mode that skips them, refuses multi-slice)
        self.mb_slice = np.full(self.mbh * self.mbw, -1,
                                dtype=np.int32)
        self.cur_slice = 0
        # High-profile 8x8 transform state (r8): per-MB
        # transform_size_8x8_flag and per-8x8-block any-coefficient
        # marker (8.7.2.1 tests the CONTAINING 8x8 block's coded
        # status for bS when the MB used the 8x8 transform; the
        # per-4x4 nzY then carries interleave-slot CAVLC totals whose
        # spatial meaning is only the nC context)
        self.mb_t8 = [False] * (self.mbw * self.mbh)
        self.nz8 = np.zeros((self.mbh * 2, self.mbw * 2), dtype=np.int32)
        # resolved scaling-list weights (resolve_scaling output; None
        # = flat-16 fast path), set by _decode_one_slice
        self.sm = None

    def mb_decoded(self, mbx: int, mby: int) -> bool:
        if mbx < 0 or mby < 0 or mbx >= self.mbw or mby >= self.mbh:
            return False
        mb = mby * self.mbw + mbx
        # decoded AND in the current slice (6.4.8: other slices'
        # macroblocks are unavailable for prediction)
        return (mb < self.n_decoded_mbs
                and self.mb_slice[mb] == self.cur_slice)

    def intra_mb_ok(self, mbx: int, mby: int) -> bool:
        """MB-level sample availability for INTRA prediction: decoded,
        same slice, and — under constrained_intra_pred in an inter
        slice (8.3.1.2) — itself intra-coded."""
        if not self.mb_decoded(mbx, mby):
            return False
        if self.constrained_intra:
            return bool(self.mb_intra[mby * self.mbw + mbx])
        return True

    def intra_blk4_ok(self, gx: int, gy: int, cur_mb: int,
                      cur_blk: int) -> bool:
        """4x4-level sample availability for INTRA prediction (the
        constrained_intra_pred variant of :meth:`blk4_available`;
        blocks inside the current — intra — MB are never affected)."""
        if not self.blk4_available(gx, gy, cur_mb, cur_blk):
            return False
        mb = (gy // 4) * self.mbw + (gx // 4)
        if mb == cur_mb or not self.constrained_intra:
            return True
        return bool(self.mb_intra[mb])

    def luma_nc(self, gx: int, gy: int, cur_mb: int, cur_blk: int) -> int:
        """nC for the luma 4x4 block at global block coords (gx, gy).

        Neighbor availability follows 6.4.8/9.2.1: a neighbor block
        INSIDE the current macroblock counts as available once decoded
        earlier in block order (mbAddrN == CurrMbAddr is available) —
        using only completed MBs here would pick the wrong coeff_token
        VLC table whenever the true nC crosses a table boundary."""
        na = nb = None
        if self.blk4_available(gx - 1, gy, cur_mb, cur_blk):
            na = int(self.nzY[gy, gx - 1])
        if self.blk4_available(gx, gy - 1, cur_mb, cur_blk):
            nb = int(self.nzY[gy - 1, gx])
        if na is not None and nb is not None:
            return (na + nb + 1) >> 1
        if na is not None:
            return na
        if nb is not None:
            return nb
        return 0

    def chroma_nc(
        self, grid: np.ndarray, gx: int, gy: int, cur_mb: int, cur_blk: int
    ) -> int:
        """nC for a chroma 4x4 AC block; same within-MB availability
        rule as :meth:`luma_nc` (chroma blocks parse in 2x2 raster
        order inside the MB)."""
        na = nb = None
        if self.cblk_available(gx - 1, gy, cur_mb, cur_blk):
            na = int(grid[gy, gx - 1])
        if self.cblk_available(gx, gy - 1, cur_mb, cur_blk):
            nb = int(grid[gy - 1, gx])
        if na is not None and nb is not None:
            return (na + nb + 1) >> 1
        if na is not None:
            return na
        if nb is not None:
            return nb
        return 0

    def cblk_available(self, gx: int, gy: int, cur_mb: int, cur_blk: int) -> bool:
        """Is the chroma 4x4 block at chroma-block coords (gx, gy)
        decoded before block ``cur_blk`` (raster 0..3) of MB
        ``cur_mb``?"""
        if gx < 0 or gy < 0 or gx >= self.mbw * 2 or gy >= self.mbh * 2:
            return False
        mb = (gy // 2) * self.mbw + (gx // 2)
        if mb < cur_mb:
            return self.mb_slice[mb] == self.cur_slice
        if mb > cur_mb:
            return False
        return (gy % 2) * 2 + (gx % 2) < cur_blk

    def blk4_available(self, gx: int, gy: int, cur_mb: int, cur_blk: int) -> bool:
        """Is the luma 4x4 block at (gx, gy) decoded before block
        ``cur_blk`` of MB ``cur_mb`` (raster index)?"""
        if gx < 0 or gy < 0 or gx >= self.mbw * 4 or gy >= self.mbh * 4:
            return False
        mb = (gy // 4) * self.mbw + (gx // 4)
        if mb < cur_mb:
            return self.mb_slice[mb] == self.cur_slice
        if mb > cur_mb:
            return False
        return _BLK_IDX_OF_XY[(gx % 4, gy % 4)] < cur_blk


def _parse_pred_weight_table(r: BitReader, n_ref0: int,
                             n_ref1: int) -> dict:
    """pred_weight_table (7.3.3.2) -> {"d": luma_log2_denom, "dc":
    chroma_log2_denom, "l0": [entry]*n_ref0, "l1": [entry]*n_ref1}
    with entry = (wY, oY, wCb, oCb, wCr, oCr); absent flags give the
    default (1 << denom, 0) identity weights."""
    d = r.ue()
    dc = r.ue()
    if d > 7 or dc > 7:
        raise AVCError("log2 weight denom out of range")

    def one_list(n):
        entries = []
        for _ in range(n):
            wy, oy = 1 << d, 0
            if r.flag():  # luma_weight_flag
                wy, oy = r.se(), r.se()
                if not (-128 <= wy <= 127 and -128 <= oy <= 127):
                    raise AVCError("luma weight/offset out of range")
            wcb, ocb, wcr, ocr = 1 << dc, 0, 1 << dc, 0
            if r.flag():  # chroma_weight_flag
                wcb, ocb = r.se(), r.se()
                wcr, ocr = r.se(), r.se()
                for v in (wcb, ocb, wcr, ocr):
                    if not -128 <= v <= 127:
                        raise AVCError(
                            "chroma weight/offset out of range")
            entries.append((wy, oy, wcb, ocb, wcr, ocr))
        return entries

    return {"d": d, "dc": dc, "l0": one_list(n_ref0),
            "l1": one_list(n_ref1)}


def parse_slice_header(r: BitReader, sps: SPS, pps: PPS, nal_type: int,
                       nal_ref_idc: int) -> dict:
    h: dict = {}
    h["first_mb_in_slice"] = r.ue()
    st = r.ue()
    h["slice_type"] = st
    if st % 5 not in (0, 1, 2):
        raise AVCError(f"not an I, P or B slice (slice_type {st})")
    h["is_p"] = st % 5 == 0
    h["is_b"] = st % 5 == 1
    h["pps_id"] = r.ue()
    h["frame_num"] = r.u(sps.log2_max_frame_num)
    if nal_type == 5:
        if h["is_p"] or h["is_b"]:
            # 7.4.3: an IDR picture contains only I/SI slices
            raise AVCError("P/B slice inside an IDR NAL")
        h["idr_pic_id"] = r.ue()
    if sps.pic_order_cnt_type == 0:
        h["pic_order_cnt_lsb"] = r.u(sps.log2_max_pic_order_cnt_lsb)
        if pps.bottom_field_poc_present:
            r.se()  # delta_pic_order_cnt_bottom (frame coding: parse only)
    elif sps.pic_order_cnt_type == 1 and not sps.delta_pic_order_always_zero:
        r.se()  # delta_pic_order_cnt[0]
        if pps.bottom_field_poc_present:
            r.se()  # delta_pic_order_cnt[1]
    if pps.redundant_pic_cnt_present:
        if r.ue() != 0:
            # a REDUNDANT coded picture duplicates a primary one;
            # decoding it is optional and we have no primary to prefer
            raise AVCError("redundant coded picture unsupported")
    if h["is_b"]:
        # spatial direct (x264's default) needs no POC arithmetic;
        # temporal direct (r8) scales colocated MVs by POC distances
        # — decode_frame then needs the caller's POC context
        h["direct_spatial"] = bool(r.flag())
        if not sps.direct_8x8_inference:
            raise AVCError("direct_8x8_inference_flag=0 unsupported")
    if h["is_p"] or h["is_b"]:
        n_ref0 = pps.num_ref_idx_l0_default
        n_ref1 = pps.num_ref_idx_l1_default
        if r.flag():  # num_ref_idx_active_override_flag
            n_ref0 = r.ue() + 1
            if h["is_b"]:
                n_ref1 = r.ue() + 1
        if not (1 <= n_ref0 <= 8) or (h["is_b"]
                                      and not (1 <= n_ref1 <= 8)):
            raise AVCError(
                f"{n_ref0}/{n_ref1} active references out of the"
                " supported range (1..8 per list)"
            )
        h["n_ref0"] = n_ref0
        h["n_ref1"] = n_ref1 if h["is_b"] else 0
        h["rplm0"] = (_parse_rplm(r)
                      if r.flag() else None)  # ..._flag_l0
        h["rplm1"] = (_parse_rplm(r)
                      if h["is_b"] and r.flag() else None)  # ..._l1
        h["wp"] = None
        if (pps.weighted_pred and h["is_p"]) or (
                h["is_b"] and pps.weighted_bipred_idc == 1):
            # explicit weighted prediction (7.3.3.2): per-ref
            # luma/chroma weight+offset pairs (x264's weightp emits
            # these on fades)
            h["wp"] = _parse_pred_weight_table(
                r, n_ref0, n_ref1 if h["is_b"] else 0)
        elif h["is_b"] and pps.weighted_bipred_idc == 2:
            # implicit weighted biprediction (8.4.2.3.1): weights
            # derive from POC distances — no table in the bitstream.
            # decode_frame needs POC context from the caller (the
            # GOP cursor tracks it per 8.2.1.1); flag it here.
            h["implicit_wp"] = True
        # constrained_intra_pred (r8): handled per slice — intra
        # prediction in P/B slices marks inter neighbors' samples
        # unavailable (_decode_one_slice sets st.constrained_intra)
    if nal_ref_idc != 0:
        if nal_type == 5:
            r.flag()  # no_output_of_prior_pics
            # IDR long_term_reference_flag: the IDR itself becomes a
            # long-term reference with LongTermFrameIdx 0 (8.2.5.1)
            h["idr_long_term"] = r.flag()
        else:
            if r.flag():  # adaptive_ref_pic_marking_mode
                # dec_ref_pic_marking (7.3.3.3): short-term unmark
                # (op 1) and the long-term family — op 2 (unmark LT
                # by long_term_pic_num), op 3 (short-term -> LT by
                # picNum + idx), op 4 (MaxLongTermFrameIdx), op 6
                # (mark current LT) — are supported; the DPB owner
                # (GOP cursor) applies them after this picture
                # decodes. Only the MMCO5 full reset refuses (it
                # also rewrites frame_num/POC state).
                ops = []
                while True:
                    op = r.ue()
                    if op == 0:
                        break
                    if op == 1:
                        ops.append((1, r.ue()))
                    elif op == 2:
                        ops.append((2, r.ue()))
                    elif op == 3:
                        ops.append((3, r.ue(), r.ue()))
                    elif op == 4:
                        ops.append((4, r.ue()))
                    elif op == 6:
                        ops.append((6, r.ue()))
                    elif op == 5:
                        raise AVCError(
                            "memory_management_control_operation 5"
                            " unsupported (frame_num/POC reset)"
                        )
                    else:
                        raise AVCError(
                            f"memory_management_control_operation"
                            f" {op} out of range"
                        )
                    if len(ops) > 32:
                        raise AVCError("MMCO run too long")
                h["mmco"] = ops
    h["slice_qp"] = pps.pic_init_qp + r.se()
    h["alpha_off"] = 0
    h["beta_off"] = 0
    if pps.deblocking_filter_control_present:
        h["disable_deblocking"] = r.ue()
        if h["disable_deblocking"] > 2:
            raise AVCError(
                f"disable_deblocking_filter_idc {h['disable_deblocking']}"
                " out of range"
            )
        if h["disable_deblocking"] != 1:
            h["alpha_off"] = 2 * r.se()
            h["beta_off"] = 2 * r.se()
    else:
        h["disable_deblocking"] = 0
    return h


def decode_iframe(sps: SPS, pps: PPS, slice_nal: bytes) -> np.ndarray:
    """Decode one coded I slice NAL (types 1/5) covering the whole
    frame into an (H, W, 3) RGB uint8 array (YCbCr planes converted
    with the same fixed-point jdcolor path as the JPEG decoder, so
    downstream descriptor parity holds across sources). Corrupt-stream
    failures surface as :class:`AVCError` (the parse_mp4 posture: one
    except clause for callers), never raw struct/index errors."""
    try:
        return _decode_iframe_inner(sps, pps, slice_nal)
    except AVCError:
        raise
    except (IndexError, ValueError, KeyError, OverflowError,
            MemoryError) as exc:
        raise AVCError(f"corrupt slice data: {exc}") from exc


def _decode_intra_mb(r, st, sps: SPS, pps: PPS, mbx, mby, mb,
                     intra_type, qp) -> int:
    """Decode one intra macroblock_layer given its I-slice-relative
    mb_type (0 = I_4x4, 1..24 = I_16x16, 25 = I_PCM); shared by I
    slices and intra MBs inside P slices (Table 7-13 maps P mb_type
    N >= 5 to intra type N - 5)."""
    if intra_type == 25:  # I_PCM
        r.byte_align()
        y0, x0 = mby * 16, mbx * 16
        for yy in range(16):
            for xx in range(16):
                st.Y[y0 + yy, x0 + xx] = r.u(8)
        c0y, c0x = mby * 8, mbx * 8
        for plane in (st.Cb, st.Cr):
            for yy in range(8):
                for xx in range(8):
                    plane[c0y + yy, c0x + xx] = r.u(8)
        st.nzY[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 16
        st.nzCb[mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 16
        st.nzCr[mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 16
        st.modes[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 2
        st.mb_pcm[mb] = True
        return qp
    if intra_type == 0:
        # 7.3.5: transform_size_8x8_flag directly follows mb_type for
        # I_NxN when the PPS enables the 8x8 transform
        if pps.transform_8x8_mode and r.flag():
            return _decode_i8x8_mb(r, st, sps, pps, mbx, mby, mb, qp)
        return _decode_i4x4_mb(r, st, sps, pps, mbx, mby, mb, qp)
    if 1 <= intra_type <= 24:
        return _decode_i16x16_mb(r, st, pps, mbx, mby, mb, intra_type, qp)
    raise AVCError(f"mb_type {intra_type} not valid in I slice")


def _decode_iframe_inner(sps: SPS, pps: PPS, slice_nal: bytes) -> np.ndarray:
    return _planes_to_rgb(_decode_frame_inner(sps, pps, slice_nal, None), sps)


def _decode_frame_inner(sps: SPS, pps: PPS, slice_nal: bytes,
                        ref: "_IFrame | None",
                        ref1: "_IFrame | None" = None,
                        poc: "int | None" = None,
                        ref_pocs: "list | None" = None,
                        ref1_pocs: "list | None" = None,
                        ref_lt: "list | None" = None,
                        ref1_lt: "list | None" = None) -> "_IFrame":
    nals = (list(slice_nal) if isinstance(slice_nal, (list, tuple))
            else [slice_nal])
    if not nals:
        raise AVCError("no slice NALs")
    st = None
    pos = 0
    deblock_params = None
    for si, nal in enumerate(nals):
        st, pos, dp = _decode_one_slice(
            sps, pps, nal, st, si, pos, ref, ref1, poc, ref_pocs,
            ref1_pocs, ref_lt, ref1_lt)
        if deblock_params is None:
            deblock_params = dp
        elif dp != deblock_params:
            raise AVCError(
                "per-slice deblocking parameters differ (unsupported)")
        if len(nals) > 1 and dp[0] == 2:
            raise AVCError(
                "disable_deblocking_filter_idc 2 (slice-boundary"
                " exemption) with multiple slices unsupported")
    if pos != st.mbw * st.mbh:
        raise AVCError(
            f"slices cover {pos}/{st.mbw * st.mbh} macroblocks")
    if deblock_params[0] != 1:
        # idc 0 filters everything including slice boundaries — the
        # only multi-slice mode admitted above, so one full 8.7 pass
        # over the finished picture is exact
        deblock_frame(st, pps, deblock_params[1], deblock_params[2])
    return st


def _decode_one_slice(sps: SPS, pps: PPS, slice_nal: bytes,
                      st: "_IFrame | None", slice_idx: int,
                      start_mb: int,
                      ref, ref1, poc, ref_pocs, ref1_pocs,
                      ref_lt=None, ref1_lt=None):
    """Parse + decode ONE coded slice into the shared picture state
    ``st`` (created at the first slice). Returns (st, end_mb,
    (disable_idc, alpha_off, beta_off))."""
    if not slice_nal:
        raise AVCError("empty slice NAL")
    nal_type = slice_nal[0] & 0x1F
    nal_ref_idc = (slice_nal[0] >> 5) & 3
    if nal_type not in (1, 5):
        raise AVCError(f"not a coded slice NAL (type {nal_type})")
    r = BitReader(unescape_rbsp(slice_nal[1:]))
    h = parse_slice_header(r, sps, pps, nal_type, nal_ref_idc)
    if h["first_mb_in_slice"] != start_mb:
        raise AVCError(
            f"slice starts at MB {h['first_mb_in_slice']}, expected"
            f" {start_mb} (slices must tile the picture in order)")
    if st is None:
        st = _IFrame(sps)
    elif h["frame_num"] != st.frame_num:
        raise AVCError("slices of one picture disagree on frame_num")
    st.cur_slice = slice_idx
    qp = h["slice_qp"]
    n_mbs = st.mbw * st.mbh
    refs0 = ([] if ref is None
             else (list(ref) if isinstance(ref, (list, tuple))
                   else [ref]))
    refs1 = ([] if ref1 is None
             else (list(ref1) if isinstance(ref1, (list, tuple))
                   else [ref1]))
    for rf in refs0 + refs1:
        if rf.mbw != st.mbw or rf.mbh != st.mbh:
            raise AVCError("reference frame geometry mismatch")
    st.wp = h.get("wp")
    st.constrained_intra = bool(
        pps.constrained_intra_pred and (h["is_p"] or h["is_b"]))
    st.frame_num = h["frame_num"]
    # resolved scaling lists (None = flat fast path), cached per
    # (sps, pps) pair on the PPS object
    cache = getattr(pps, "_sm_cache", None)
    if cache is None or cache[0] is not sps:
        cache = (sps, resolve_scaling(sps, pps))
        pps._sm_cache = cache
    st.sm = cache[1]
    # per-entry LongTermPicNum metadata (None = short-term), kept
    # aligned with the lists through modification
    lts0 = (list(ref_lt) if ref_lt is not None
            else [None] * len(refs0))
    lts1 = (list(ref1_lt) if ref1_lt is not None
            else [None] * len(refs1))
    if len(lts0) != len(refs0) or len(lts1) != len(refs1):
        raise AVCError("ref_lt length mismatch with reference list")
    # list modification BEFORE anything consumes list order (MC and
    # the implicit-WP table below both index the MODIFIED lists)
    max_fn = 1 << sps.log2_max_frame_num

    def _modify(refs, pocs, lts, cmds, n_active, which):
        if len(refs) < n_active:
            raise AVCError(
                f"slice activates {n_active} {which} refs; caller "
                f"supplied {len(refs)}"
            )
        pocs_in = pocs if pocs is not None else [None] * len(refs)
        packed = list(zip(pocs_in, lts))
        refs, packed = apply_ref_list_modification(
            refs, packed, cmds, h["frame_num"], max_fn, n_active,
            lt_pic_nums=lts)
        new_pocs = [p for p, _ in packed]
        new_lts = [l for _, l in packed]
        return (refs,
                new_pocs if pocs is not None else None,
                new_lts)

    if h.get("rplm0"):
        refs0, ref_pocs, lts0 = _modify(
            refs0, ref_pocs, lts0, h["rplm0"], h["n_ref0"], "L0")
    if h.get("rplm1"):
        refs1, ref1_pocs, lts1 = _modify(
            refs1, ref1_pocs, lts1, h["rplm1"], h["n_ref1"], "L1")
    st.ref0_lt = lts0
    st.ref1_lt = lts1
    if h.get("implicit_wp"):
        if poc is None or ref_pocs is None or ref1_pocs is None:
            raise AVCError(
                "implicit weighted biprediction needs POC context"
                " (pass poc/ref_pocs/ref1_pocs to decode_frame)"
            )
        if len(ref_pocs) < h["n_ref0"] or len(ref1_pocs) < h["n_ref1"]:
            raise AVCError(
                "POC context shorter than the active reference lists"
            )
        st.wp_imp = [
            [implicit_bipred_weights(poc, ref_pocs[i0], ref1_pocs[i1])
             for i1 in range(h["n_ref1"])]
            for i0 in range(h["n_ref0"])
        ]
    st.poc = poc
    st.ref0_pocs = list(ref_pocs) if ref_pocs is not None else None
    st.ref1_pocs = list(ref1_pocs) if ref1_pocs is not None else None
    # adaptive marking commands for the caller that owns the DPB
    # (7.4.3.3 requires identical marking in every slice of a
    # picture; keep the first slice's run)
    if h.get("mmco") is not None:
        st.mmco = h["mmco"]
    if h.get("idr_long_term"):
        st.idr_long_term = True
    if h["is_b"]:
        st.direct_spatial = h["direct_spatial"]
        if not st.direct_spatial and (
                poc is None or ref_pocs is None or ref1_pocs is None):
            raise AVCError(
                "temporal direct mode needs POC context (pass"
                " poc/ref_pocs/ref1_pocs to decode_frame)"
            )
        if not refs0 or not refs1:
            raise AVCError(
                "B slice needs both reference frames (ref=L0 past,"
                " ref1=L1 future)"
            )
        if len(refs0) < h["n_ref0"] or len(refs1) < h["n_ref1"]:
            raise AVCError(
                f"slice activates {h['n_ref0']}/{h['n_ref1']} refs; "
                f"caller supplied {len(refs0)}/{len(refs1)}"
            )
        _qp, end = _decode_b_slice_data(r, st, refs0, refs1, sps,
                                        pps, qp, h["n_ref0"],
                                        h["n_ref1"], start_mb)
    elif h["is_p"]:
        if not refs0:
            raise AVCError("P slice without a reference frame")
        if len(refs0) < h["n_ref0"]:
            raise AVCError(
                f"slice activates {h['n_ref0']} L0 refs; caller "
                f"supplied {len(refs0)}"
            )
        _qp, end = _decode_p_slice_data(r, st, refs0, sps, pps, qp,
                                        h["n_ref0"], start_mb)
    else:
        mb = start_mb
        while mb < n_mbs:
            mbx, mby = mb % st.mbw, mb // st.mbw
            qp = _decode_intra_mb(r, st, sps, pps, mbx, mby, mb,
                                  r.ue(), qp)
            st.mb_qp[mb] = qp
            st.mb_slice[mb] = st.cur_slice
            st.n_decoded_mbs += 1
            mb += 1
            if not r.more_rbsp_data():
                break
        end = mb
    if end <= start_mb:
        raise AVCError("slice decoded no macroblocks")
    return st, end, (h["disable_deblocking"], h["alpha_off"],
                     h["beta_off"])


def _planes_to_rgb(st: _IFrame, sps: SPS) -> np.ndarray:
    from .jpegcodec import _upsample, _ycc_to_rgb

    h, w = sps.height, sps.width
    x0, y0 = 2 * sps.crop_left, 2 * sps.crop_top
    y = st.Y[y0 : y0 + h, x0 : x0 + w]
    cb = _upsample(st.Cb[y0 // 2 :, x0 // 2 :].astype(np.int32), 2, 2, h, w)
    cr = _upsample(st.Cr[y0 // 2 :, x0 // 2 :].astype(np.int32), 2, 2, h, w)
    return _ycc_to_rgb(y.astype(np.int32), cb, cr)


def _mb_qp_delta(r: BitReader, qp: int) -> int:
    d = r.se()
    if d < -26 or d > 25:
        raise AVCError(f"mb_qp_delta {d} out of range")
    return (qp + d + 52) % 52


def _luma_neighbors(st: _IFrame, gx: int, gy: int, cur_mb: int, cur_blk: int):
    """(left[4], top[4], top_left, top_right[4]) reconstructed luma
    samples for the 4x4 block at block coords (gx, gy); None where
    unavailable."""
    px, py = gx * 4, gy * 4
    left = top = top_right = None
    top_left = None
    if st.intra_blk4_ok(gx - 1, gy, cur_mb, cur_blk):
        left = st.Y[py : py + 4, px - 1]
    if st.intra_blk4_ok(gx, gy - 1, cur_mb, cur_blk):
        top = st.Y[py - 1, px : px + 4]
    if st.intra_blk4_ok(gx - 1, gy - 1, cur_mb, cur_blk):
        top_left = st.Y[py - 1, px - 1]
    if st.intra_blk4_ok(gx + 1, gy - 1, cur_mb, cur_blk):
        top_right = st.Y[py - 1, px + 4 : px + 8]
    return left, top, top_left, top_right


def _intra_mxm_pred(st, gx, gy, mb, blk) -> int:
    """predIntraMxMPredMode (8.3.1.1 / 8.3.2.1) for the luma block
    whose left neighbor is cell (gx-1, gy) and top neighbor cell
    (gx, gy-1). dcPredModePredictedFlag structure: DC (2) when either
    neighbor is unavailable OR — under constrained_intra_pred in an
    inter slice — when an available neighbor macroblock is
    inter-coded (the CIP term makes the WHOLE prediction DC, it does
    not just feed 2 into the Min); otherwise Min of the neighbors'
    modes, where non-I4x4/I8x8 intra neighbors contribute 2 (the
    stored convention)."""
    avail_a = st.blk4_available(gx - 1, gy, mb, blk)
    avail_b = st.blk4_available(gx, gy - 1, mb, blk)
    if not (avail_a and avail_b):
        return 2
    if st.constrained_intra:
        mba = (gy // 4) * st.mbw + ((gx - 1) // 4)
        mbb = ((gy - 1) // 4) * st.mbw + (gx // 4)
        if not (st.mb_intra[mba] and st.mb_intra[mbb]):
            return 2
    return min(int(st.modes[gy, gx - 1]), int(st.modes[gy - 1, gx]))


def _decode_i4x4_mb(r, st, sps: SPS, pps: PPS, mbx, mby, mb, qp) -> int:
    # prediction modes for the 16 blocks (8.3.1.1)
    modes = [0] * 16
    for blk in range(16):
        x4, y4 = _blk_xy(blk)
        gx, gy = mbx * 4 + x4, mby * 4 + y4
        pred = _intra_mxm_pred(st, gx, gy, mb, blk)
        if r.flag():
            mode = pred
        else:
            rem = r.u(3)
            mode = rem if rem < pred else rem + 1
        modes[blk] = mode
        st.modes[gy, gx] = mode
    chroma_mode = r.ue()
    if chroma_mode > 3:
        raise AVCError(f"intra_chroma_pred_mode {chroma_mode} invalid")
    code = r.ue()
    if code > 47:
        raise AVCError("coded_block_pattern code out of range")
    cbp = _CBP_INTRA[code]
    cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
    if cbp != 0:
        qp = _mb_qp_delta(r, qp)

    # parse all 16 residual blocks first (parsing needs only the nC
    # totals, which are recorded as we go), batch the dequant+IDCT,
    # then run the sequential predict+add loop (prediction needs the
    # reconstructed pixels of earlier blocks)
    rows = []
    for blk in range(16):
        x4, y4 = _blk_xy(blk)
        gx, gy = mbx * 4 + x4, mby * 4 + y4
        if cbp_luma & (1 << (blk >> 2)):
            nc = st.luma_nc(gx, gy, mb, blk)
            coeffs, total = read_residual_block(r, nc, 16)
            st.nzY[gy, gx] = total
            rows.append(coeffs)
        else:
            st.nzY[gy, gx] = 0
            rows.append([0] * 16)
    residuals = _residual_batch(rows, qp, weight=_w4(st, True, 0))
    for blk in range(16):
        x4, y4 = _blk_xy(blk)
        gx, gy = mbx * 4 + x4, mby * 4 + y4
        left, top, tl, tr = _luma_neighbors(st, gx, gy, mb, blk)
        pred = _pred4x4(modes[blk], left, top, tl, tr)
        px, py = gx * 4, gy * 4
        st.Y[py : py + 4, px : px + 4] = np.clip(
            pred + residuals[blk], 0, 255
        )

    _decode_chroma(r, st, pps, mbx, mby, mb, chroma_mode, cbp_chroma, qp)
    return qp


def _w4(st, intra: bool, plane: int):
    """Effective 4x4 weightScale list for this block class (None =
    flat): plane 0 = Y, 1 = Cb, 2 = Cr; lists 0-2 intra, 3-5 inter."""
    if st.sm is None:
        return None
    return st.sm[(0 if intra else 3) + plane]


def _w8(st, intra: bool):
    if st.sm is None:
        return None
    return st.sm[6 if intra else 7]


def _read_luma8x8_residual(r, st, mb, mbx, mby, cbp_luma):
    """CAVLC residual of a transform_size_8x8 luma MB (7.3.5.3.2):
    each coded 8x8 block arrives as FOUR interleaved 4x4 CAVLC blocks
    — sub-block i4's scan position k carries 8x8-scan position
    4*k + i4. Per-4x4 totals land at the 6.4.3 spatial cells (the nC
    context the spec mandates); the per-8x8 any-coefficient marker
    feeds deblocking bS. Returns four 64-entry 8x8-scan lists."""
    rows64 = []
    for b8 in range(4):
        scan64 = [0] * 64
        any_nz = 0
        for i4 in range(4):
            blk = b8 * 4 + i4
            x4, y4 = _blk_xy(blk)
            gx, gy = mbx * 4 + x4, mby * 4 + y4
            if cbp_luma & (1 << b8):
                nc = st.luma_nc(gx, gy, mb, blk)
                coeffs, total = read_residual_block(r, nc, 16)
                st.nzY[gy, gx] = total
                any_nz |= total
                for k, v in enumerate(coeffs):
                    scan64[4 * k + i4] = v
            else:
                st.nzY[gy, gx] = 0
        st.nz8[mby * 2 + (b8 >> 1), mbx * 2 + (b8 & 1)] = 1 if any_nz else 0
        rows64.append(scan64)
    return rows64


def _decode_i8x8_mb(r, st, sps: SPS, pps: PPS, mbx, mby, mb, qp) -> int:
    """Intra_8x8 macroblock (High profile, transform_size_8x8_flag
    set): four 8x8 prediction modes (8.3.2.1 min-rule over the per-4x4
    mode map), filtered-reference prediction, interleaved-CAVLC 8x8
    residual, 8x8 dequant + inverse transform."""
    st.mb_t8[mb] = True
    modes8 = [0] * 4
    for b8 in range(4):
        bx, by = (b8 & 1) * 2, (b8 >> 1) * 2
        gx, gy = mbx * 4 + bx, mby * 4 + by
        cur_blk = b8 * 4
        pred = _intra_mxm_pred(st, gx, gy, mb, cur_blk)
        if r.flag():
            mode = pred
        else:
            rem = r.u(3)
            mode = rem if rem < pred else rem + 1
        modes8[b8] = mode
        st.modes[gy:gy + 2, gx:gx + 2] = mode
    chroma_mode = r.ue()
    if chroma_mode > 3:
        raise AVCError(f"intra_chroma_pred_mode {chroma_mode} invalid")
    code = r.ue()
    if code > 47:
        raise AVCError("coded_block_pattern code out of range")
    cbp = _CBP_INTRA[code]
    cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
    if cbp != 0:
        qp = _mb_qp_delta(r, qp)

    rows64 = _read_luma8x8_residual(r, st, mb, mbx, mby, cbp_luma)
    residuals = _residual_batch8(rows64, qp, weight=_w8(st, True))
    for b8 in range(4):
        bx, by = (b8 & 1) * 2, (b8 >> 1) * 2
        gx, gy = mbx * 4 + bx, mby * 4 + by
        cur_blk = b8 * 4
        px, py = gx * 4, gy * 4
        left = top = tr = None
        top_left = None
        if st.intra_blk4_ok(gx - 1, gy, mb, cur_blk):
            left = st.Y[py:py + 8, px - 1]
        if st.intra_blk4_ok(gx, gy - 1, mb, cur_blk):
            top = st.Y[py - 1, px:px + 8]
        if st.intra_blk4_ok(gx - 1, gy - 1, mb, cur_blk):
            top_left = st.Y[py - 1, px - 1]
        if top is not None and st.intra_blk4_ok(gx + 2, gy - 1, mb,
                                                cur_blk):
            tr = st.Y[py - 1, px + 8:px + 16]
        pred = _pred8x8(modes8[b8], left, top, top_left, tr)
        st.Y[py:py + 8, px:px + 8] = np.clip(
            pred + residuals[b8], 0, 255)

    _decode_chroma(r, st, pps, mbx, mby, mb, chroma_mode, cbp_chroma, qp)
    return qp


def _decode_i16x16_mb(r, st, pps: PPS, mbx, mby, mb, mb_type, qp) -> int:
    m = mb_type - 1
    pred_mode = m % 4
    cbp_chroma = (m // 4) % 3
    cbp_luma = 15 if m >= 12 else 0
    chroma_mode = r.ue()
    if chroma_mode > 3:
        raise AVCError(f"intra_chroma_pred_mode {chroma_mode} invalid")
    qp = _mb_qp_delta(r, qp)

    # prediction from MB-edge neighbors
    px, py = mbx * 16, mby * 16
    left = top = tl = None
    if mbx > 0 and st.intra_mb_ok(mbx - 1, mby):
        left = st.Y[py : py + 16, px - 1]
    if mby > 0 and st.intra_mb_ok(mbx, mby - 1):
        top = st.Y[py - 1, px : px + 16]
    if mbx > 0 and mby > 0 and st.intra_mb_ok(mbx - 1, mby - 1):
        tl = st.Y[py - 1, px - 1]
    pred = _pred16x16(pred_mode, left, top, tl)

    # luma DC block: nC as for blk 0
    nc = st.luma_nc(mbx * 4, mby * 4, mb, 0)
    dc_scan, _dc_total = read_residual_block(r, nc, 16)
    dc = np.zeros(16, dtype=np.int64)
    for pos, v in enumerate(dc_scan):
        dc[ZIGZAG_4x4[pos]] = v
    wmat = _w4(st, True, 0)
    dc = luma_dc_dequant(_hadamard_4x4(dc.reshape(4, 4)), qp,
                         16 if wmat is None else int(wmat[0, 0]))

    rows = []
    dcs = []
    for blk in range(16):
        x4, y4 = _blk_xy(blk)
        gx, gy = mbx * 4 + x4, mby * 4 + y4
        dcs.append(int(dc[y4, x4]))
        if cbp_luma:
            nc = st.luma_nc(gx, gy, mb, blk)
            coeffs, total = read_residual_block(r, nc, 15)
            st.nzY[gy, gx] = total
            rows.append([0] + coeffs)
        else:
            st.nzY[gy, gx] = 0
            rows.append([0] * 16)
    residuals = _residual_batch(rows, qp, dc_overrides=dcs, weight=wmat)
    recon = np.empty((16, 16), dtype=np.int64)
    for blk in range(16):
        x4, y4 = _blk_xy(blk)
        recon[y4 * 4 : y4 * 4 + 4, x4 * 4 : x4 * 4 + 4] = residuals[blk]
    st.Y[py : py + 16, px : px + 16] = np.clip(pred + recon, 0, 255)
    st.modes[mby * 4 : mby * 4 + 4, mbx * 4 : mbx * 4 + 4] = 2

    _decode_chroma(r, st, pps, mbx, mby, mb, chroma_mode, cbp_chroma, qp)
    return qp


def _decode_chroma(r, st, pps: PPS, mbx, mby, mb, chroma_mode, cbp_chroma, qp):
    px, py = mbx * 8, mby * 8
    for plane, grid in ((st.Cb, st.nzCb), (st.Cr, st.nzCr)):
        left = top = tl = None
        if mbx > 0 and st.intra_mb_ok(mbx - 1, mby):
            left = plane[py : py + 8, px - 1]
        if mby > 0 and st.intra_mb_ok(mbx, mby - 1):
            top = plane[py - 1, px : px + 8]
        if mbx > 0 and mby > 0 and st.intra_mb_ok(mbx - 1, mby - 1):
            tl = plane[py - 1, px - 1]
        plane[py : py + 8, px : px + 8] = _pred_chroma(
            chroma_mode, left, top, tl
        )
    _chroma_residual(r, st, pps, mbx, mby, mb, cbp_chroma, qp)


def _chroma_residual(r, st, pps: PPS, mbx, mby, mb, cbp_chroma, qp):
    """Parse and add the chroma residual (7.3.5.3.1) onto whatever
    prediction is already in the Cb/Cr planes — intra prediction for
    I MBs, motion compensation for P MBs."""
    qpc = chroma_qp(qp, pps.chroma_qp_index_offset)
    px, py = mbx * 8, mby * 8
    if cbp_chroma == 0:
        st.nzCb[mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 0
        st.nzCr[mby * 2 : mby * 2 + 2, mbx * 2 : mbx * 2 + 2] = 0
        return
    is_intra = bool(st.mb_intra[mb])

    # chroma DC: one 2x2 block per plane (Cb first), nC = -1
    dcs = []
    for pi in range(2):
        coeffs, _tot = read_residual_block(r, -1, 4)
        # raster scan for the 2x2 DC block: c00 c01 c10 c11 -- the scan
        # order IS (0,0),(0,1),(1,0),(1,1)
        f = np.array(
            [[coeffs[0], coeffs[1]], [coeffs[2], coeffs[3]]], dtype=np.int64
        )
        m = np.array([[1, 1], [1, -1]], dtype=np.int64)
        wmat = _w4(st, is_intra, pi + 1)
        dcs.append(chroma_dc_dequant(
            m @ f @ m, qpc, 16 if wmat is None else int(wmat[0, 0])))

    for pi, (plane, grid) in enumerate(((st.Cb, st.nzCb), (st.Cr, st.nzCr))):
        rows = []
        dcvals = []
        for blk in range(4):
            bx, by = blk & 1, blk >> 1
            gx, gy = mbx * 2 + bx, mby * 2 + by
            dcvals.append(int(dcs[pi][by, bx]))
            if cbp_chroma == 2:
                nc = st.chroma_nc(grid, gx, gy, mb, blk)
                coeffs, total = read_residual_block(r, nc, 15)
                grid[gy, gx] = total
                rows.append([0] + coeffs)
            else:
                grid[gy, gx] = 0
                rows.append([0] * 16)
        residuals = _residual_batch(rows, qpc, dc_overrides=dcvals,
                                    weight=_w4(st, is_intra, pi + 1))
        for blk in range(4):
            bx, by = blk & 1, blk >> 1
            cy, cx = py + by * 4, px + bx * 4
            plane[cy : cy + 4, cx : cx + 4] = np.clip(
                plane[cy : cy + 4, cx : cx + 4] + residuals[blk], 0, 255
            )


# ---------------------------------------------------------------------------
# P-slice decoding (8.4, single reference frame, CAVLC)
#
# Scope (correct-or-refuse, like the rest of the module): one active
# L0 reference — the previously decoded frame — with no list
# modification, no weighted prediction and no B slices; everything
# inside that scope (all partition shapes down to 4x4, quarter-pel
# luma / eighth-pel chroma interpolation, P_Skip, intra MBs in P
# slices, MV-aware deblocking strengths) decodes for real. The
# reference pipeline feeds every frame of a ~12 fps sample grid
# through ffmpeg (/root/reference/hasher.js:78-91); with this section
# the inter-coded samples of baseline streams reach real pixels too.
# ---------------------------------------------------------------------------


def _interp_luma(ref: np.ndarray, x: int, y: int, w: int, h: int,
                 mvx: int, mvy: int) -> np.ndarray:
    """8.4.2.2.1 quarter-sample luma interpolation: the w x h
    prediction block whose top-left anchor is full-pel (x, y),
    displaced by (mvx, mvy) in quarter-pel units. Out-of-picture
    fetches clamp to the nearest edge sample (the spec's Clip3 on
    every reference coordinate), so unrestricted MVs need no padded
    planes and hostile MVs cannot index out of bounds."""
    H, W = ref.shape
    x0 = x + (mvx >> 2)
    y0 = y + (mvy >> 2)
    fx = mvx & 3
    fy = mvy & 3
    if fx == 0 and fy == 0:
        ys = np.clip(np.arange(y0, y0 + h), 0, H - 1)
        xs = np.clip(np.arange(x0, x0 + w), 0, W - 1)
        return ref[np.ix_(ys, xs)].astype(np.int64)
    ys = np.clip(np.arange(y0 - 2, y0 + h + 3), 0, H - 1)
    xs = np.clip(np.arange(x0 - 2, x0 + w + 3), 0, W - 1)
    win = ref[np.ix_(ys, xs)].astype(np.int64)  # (h + 5, w + 5)

    def hhalf(rows):  # unclipped horizontal 6-tap: (n, w+5) -> (n, w)
        return (rows[:, 0:w] - 5 * rows[:, 1:w + 1]
                + 20 * rows[:, 2:w + 2] + 20 * rows[:, 3:w + 3]
                - 5 * rows[:, 4:w + 4] + rows[:, 5:w + 5])

    def vhalf(cols):  # unclipped vertical 6-tap: (h+5, n) -> (h, n)
        return (cols[0:h] - 5 * cols[1:h + 1] + 20 * cols[2:h + 2]
                + 20 * cols[3:h + 3] - 5 * cols[4:h + 4]
                + cols[5:h + 5])

    def c1(v, add, sh):
        return np.clip((v + add) >> sh, 0, 255)

    if fy == 0:  # a, b, c — horizontal halves only (8-250, 8-252/253)
        b = c1(hhalf(win[2:2 + h]), 16, 5)
        if fx == 1:
            return (win[2:2 + h, 2:2 + w] + b + 1) >> 1
        if fx == 2:
            return b
        return (win[2:2 + h, 3:3 + w] + b + 1) >> 1
    if fx == 0:  # d, h, n — vertical halves only
        hv = c1(vhalf(win[:, 2:2 + w]), 16, 5)
        if fy == 1:
            return (win[2:2 + h, 2:2 + w] + hv + 1) >> 1
        if fy == 2:
            return hv
        return (win[3:3 + h, 2:2 + w] + hv + 1) >> 1
    # mixed positions need j: vertical 6-tap over UNCLIPPED horizontal
    # halves, (j1 + 512) >> 10 (8-251 with 8-249 intermediates)
    b_un = hhalf(win)  # (h + 5, w)
    j = None
    if fx == 2 or fy == 2:
        j = c1(vhalf(b_un), 512, 10)
    if fx == 2 and fy == 2:
        return j
    if fy != 2:
        # b at the anchor row (fy == 1) or s one row below (fy == 3)
        ro = 2 + (fy >> 1)
        bb = c1(b_un[ro:ro + h], 16, 5)
    if fx != 2:
        # h at the anchor column (fx == 1) or m one column right
        co = 2 + (fx >> 1)
        hh = c1(vhalf(win[:, co:co + w]), 16, 5)
    if fx == 2:  # f (fy == 1) / q (fy == 3)
        return (j + bb + 1) >> 1
    if fy == 2:  # i (fx == 1) / k (fx == 3)
        return (j + hh + 1) >> 1
    return (bb + hh + 1) >> 1  # e, g, p, r


def _interp_chroma(ref: np.ndarray, cx: int, cy: int, w: int, h: int,
                   mvx: int, mvy: int) -> np.ndarray:
    """8.4.2.2.2 eighth-sample chroma interpolation (4:2:0 frame
    coding: the luma quarter-pel MV applies unscaled at chroma
    resolution, i.e. in eighth-chroma-pel units). Bilinear with the
    exact (...+32) >> 6 rounding; edge clamp as for luma."""
    H, W = ref.shape
    x0 = cx + (mvx >> 3)
    y0 = cy + (mvy >> 3)
    fx = mvx & 7
    fy = mvy & 7
    ys = np.clip(np.arange(y0, y0 + h + 1), 0, H - 1)
    xs = np.clip(np.arange(x0, x0 + w + 1), 0, W - 1)
    win = ref[np.ix_(ys, xs)].astype(np.int64)
    a = win[0:h, 0:w]
    b = win[0:h, 1:w + 1]
    c = win[1:h + 1, 0:w]
    d = win[1:h + 1, 1:w + 1]
    return ((8 - fx) * (8 - fy) * a + fx * (8 - fy) * b
            + (8 - fx) * fy * c + fx * fy * d + 32) >> 6


def _mv_nbr(st: _IFrame, gx: int, gy: int, cur_mb: int, lst: int = 0):
    """MV-prediction neighbor at 4x4-block coords (gx, gy) for
    reference list ``lst``: returns (geo_avail, mvx, mvy, refIdx).
    ``geo_avail`` is the 6.4.8 decode-order availability of the
    covering partition; intra blocks in available MBs — and inter
    blocks not using list ``lst`` — report refIdx -1 with mv (0, 0)
    (8.4.1.3.2)."""
    if gx < 0 or gy < 0 or gx >= st.mbw * 4 or gy >= st.mbh * 4:
        return False, 0, 0, -1
    mb = (gy >> 2) * st.mbw + (gx >> 2)
    if mb > cur_mb:
        return False, 0, 0, -1
    if mb < cur_mb and st.mb_slice[mb] != st.cur_slice:
        return False, 0, 0, -1  # other slice: unavailable (6.4.8)
    if mb == cur_mb:
        # within the current MB: available once the covering partition
        # has decoded its MVs (partition decode order, 6.4.11.7); intra
        # MBs never self-neighbor here (sub-partitions are inter-only)
        if not st.mv_done[gy, gx]:
            return False, 0, 0, -1
    elif st.mb_intra[mb]:
        return True, 0, 0, -1
    flags = int(st.pred_flags[gy, gx])
    if lst == 0:
        if flags & 1:
            return (True, int(st.mvx[gy, gx]), int(st.mvy[gy, gx]),
                    int(st.ref_idx0[gy, gx]))
    else:
        if flags & 2:
            return (True, int(st.mvx1[gy, gx]), int(st.mvy1[gy, gx]),
                    int(st.ref_idx1[gy, gx]))
    return True, 0, 0, -1


def _mv_pred(st: _IFrame, cur_mb: int, px4: int, py4: int,
             w4: int, h4: int, part_hint: str | None, lst: int = 0,
             cur_ref: int = 0):
    """Luma MV predictor (8.4.1.3) for the partition whose top-left
    4x4 block sits at block coords (px4, py4) spanning w4 x h4 blocks,
    over reference list ``lst`` with the partition's own reference
    index ``cur_ref``. ``part_hint`` names the 16x8/8x16 directional
    special cases (they fire when the named neighbor's refIdx equals
    the partition's); the median process of 8.4.1.3.1 applies
    otherwise, picking the single neighbor whose refIdx matches when
    exactly one does."""
    avail_a, ax, ay, ref_a = _mv_nbr(st, px4 - 1, py4, cur_mb, lst)
    avail_b, bx, by, ref_b = _mv_nbr(st, px4, py4 - 1, cur_mb, lst)
    avail_c, cx, cy, ref_c = _mv_nbr(st, px4 + w4, py4 - 1, cur_mb, lst)
    if not avail_c:
        avail_c, cx, cy, ref_c = _mv_nbr(st, px4 - 1, py4 - 1, cur_mb,
                                         lst)
    if part_hint == "16x8_0" and ref_b == cur_ref:
        return bx, by
    if part_hint == "16x8_1" and ref_a == cur_ref:
        return ax, ay
    if part_hint == "8x16_0" and ref_a == cur_ref:
        return ax, ay
    if part_hint == "8x16_1" and ref_c == cur_ref:
        return cx, cy
    # 8.4.1.3.1 step 1: B and C geometrically unavailable, A available
    # -> B and C copy A (making the outcome mvA or the all-A median)
    if not avail_b and not avail_c and avail_a:
        bx, by, ref_b = ax, ay, ref_a
        cx, cy, ref_c = ax, ay, ref_a
    refs = (ref_a, ref_b, ref_c)
    if refs.count(cur_ref) == 1:
        return ((ax, ay), (bx, by), (cx, cy))[refs.index(cur_ref)]
    return (sorted((ax, bx, cx))[1], sorted((ay, by, cy))[1])


def _pskip_mv(st: _IFrame, cur_mb: int, mbx: int, mby: int):
    """P_Skip luma MV (8.4.1.1): zero if either MB neighbor A/B is
    unavailable or is a zero-MV ref-0 block, else the 16x16 median
    predictor."""
    px4, py4 = mbx * 4, mby * 4
    avail_a, ax, ay, ref_a = _mv_nbr(st, px4 - 1, py4, cur_mb)
    avail_b, bx, by, ref_b = _mv_nbr(st, px4, py4 - 1, cur_mb)
    if (not avail_a or not avail_b
            or (ref_a == 0 and ax == 0 and ay == 0)
            or (ref_b == 0 and bx == 0 and by == 0)):
        return 0, 0
    return _mv_pred(st, cur_mb, px4, py4, 4, 4, None)


def _set_mv(st: _IFrame, px4: int, py4: int, w4: int, h4: int,
            mvx: int, mvy: int, ref: int = 0) -> None:
    """P-path partition MV write: list 0, usage flag 1."""
    st.mvx[py4:py4 + h4, px4:px4 + w4] = mvx
    st.mvy[py4:py4 + h4, px4:px4 + w4] = mvy
    st.ref_idx0[py4:py4 + h4, px4:px4 + w4] = ref
    st.pred_flags[py4:py4 + h4, px4:px4 + w4] = 1
    st.mv_done[py4:py4 + h4, px4:px4 + w4] = True


def _set_mv_b(st: _IFrame, px4: int, py4: int, w4: int, h4: int,
              mv0, mv1, use0: bool, use1: bool, ref0: int = 0,
              ref1: int = 0) -> None:
    """B-path partition MV write: both lists atomically (the 8.4.1.3
    per-partition derivation order — a later partition's list-X
    prediction may see this partition's list-X MV)."""
    ys, xs = slice(py4, py4 + h4), slice(px4, px4 + w4)
    flags = (1 if use0 else 0) | (2 if use1 else 0)
    if use0:
        st.mvx[ys, xs] = mv0[0]
        st.mvy[ys, xs] = mv0[1]
        st.ref_idx0[ys, xs] = ref0
    else:
        st.mvx[ys, xs] = 0
        st.mvy[ys, xs] = 0
        st.ref_idx0[ys, xs] = -1
    if use1:
        st.mvx1[ys, xs] = mv1[0]
        st.mvy1[ys, xs] = mv1[1]
        st.ref_idx1[ys, xs] = ref1
    else:
        st.mvx1[ys, xs] = 0
        st.mvy1[ys, xs] = 0
        st.ref_idx1[ys, xs] = -1
    st.pred_flags[ys, xs] = flags
    st.mv_done[ys, xs] = True


def _weight_uni(patch: np.ndarray, w: int, o: int, d: int) -> np.ndarray:
    """8.4.2.3.2 explicit uni-directional weighting of a prediction
    patch (Clip1 back to the sample range)."""
    if d >= 1:
        out = ((patch * w + (1 << (d - 1))) >> d) + o
    else:
        out = patch * w + o
    return np.clip(out, 0, 255)


def _weight_bi(p0: np.ndarray, p1: np.ndarray, e0, e1, d: int,
               plane: int) -> np.ndarray:
    """8.4.2.3.2 explicit bi-directional weighting (plane 0 = luma
    entry slots, 1 = Cb, 2 = Cr)."""
    w0, o0 = e0[2 * plane], e0[2 * plane + 1]
    w1, o1 = e1[2 * plane], e1[2 * plane + 1]
    out = (((p0 * w0 + p1 * w1 + (1 << d)) >> (d + 1))
           + ((o0 + o1 + 1) >> 1))
    return np.clip(out, 0, 255)


def _parse_rplm(r: BitReader) -> list:
    """ref_pic_list_modification command run (7.3.3.1): a list of
    (modification_of_pic_nums_idc, abs_diff_pic_num_minus1) pairs —
    idc 0/1 short-term picNum commands, idc 2 long-term commands
    recorded as ("lt", long_term_pic_num) — terminated by idc 3.
    Out-of-range idc refuses."""
    cmds = []
    while True:
        idc = r.ue()
        if idc == 3:
            return cmds
        if idc == 2:
            # long-term command: the operand is long_term_pic_num
            # (r8 late wave: long-term marking is supported end to
            # end — the DPB owner supplies per-entry LT pic nums)
            cmds.append(("lt", r.ue()))
        elif idc > 3:
            raise AVCError(
                f"modification_of_pic_nums_idc {idc} out of range")
        else:
            cmds.append((idc, r.ue()))
        if len(cmds) > 32:
            raise AVCError("ref_pic_list_modification run too long")


def apply_ref_list_modification(init_states: list, init_aux,
                                cmds: list, cur_frame_num: int,
                                max_frame_num: int,
                                n_active: int,
                                lt_pic_nums=None) -> tuple:
    """RefPicList modification (8.2.4.3): start from the initial
    list; short-term commands derive picNumLX with the wrap rules

        picNumLXNoWrap = picNumLXPred -/+ (abs_diff_pic_num_minus1+1)
                         (+/- MaxFrameNum on under/overflow)
        picNumLX = picNumLXNoWrap - MaxFrameNum
                   if picNumLXNoWrap > CurrPicNum else picNumLXNoWrap

    and long-term ("lt", long_term_pic_num) commands look up by the
    per-entry ``lt_pic_nums`` (parallel to ``init_states``: the
    entry's LongTermPicNum, or None for short-term pictures). Each
    command places its picture at the next refIdx, shifting the rest
    back and dropping the later duplicate OF THE SAME KIND (the
    spec's PicNumF/LongTermPicNumF sentinels make a short-term
    command never evict a long-term entry and vice versa). Each
    short-term init state must carry ``frame_num`` (decode_frame
    sets it). Returns the modified (states, aux) truncated to
    ``n_active`` — ``aux`` is an optional parallel list (e.g. POC
    values, or (poc, lt) tuples) kept aligned, or None."""
    lts = (list(lt_pic_nums) if lt_pic_nums is not None
           else [None] * len(init_states))
    if len(lts) != len(init_states):
        raise AVCError("lt_pic_nums length mismatch")

    def pic_num(stt):
        fn = getattr(stt, "frame_num", None)
        if fn is None:
            raise AVCError(
                "reference state lacks frame_num (not produced by"
                " decode_frame?)")
        return fn - max_frame_num if fn > cur_frame_num else fn

    aux = list(init_aux) if init_aux is not None else None
    # entry = (state, aux_i, lt_pic_num_or_None)
    entries = [(s, aux[i] if aux is not None else None, lts[i])
               for i, s in enumerate(init_states)]
    by_picnum = {}
    by_ltpn = {}
    for e in entries:
        if e[2] is None:
            by_picnum.setdefault(pic_num(e[0]), e)
        else:
            by_ltpn.setdefault(e[2], e)

    def same_kind_match(entry, key, is_lt):
        if is_lt:
            return entry[2] is not None and entry[2] == key
        return entry[2] is None and pic_num(entry[0]) == key

    # working list one slot longer than the active size (the spec's
    # temporary length n_active + 1)
    lst = entries[:n_active] + [None]
    pred = cur_frame_num
    ref_idx = 0
    for cmd in cmds:
        if cmd[0] == "lt":
            key = cmd[1]
            is_lt = True
            target = by_ltpn.get(key)
            if target is None:
                raise AVCError(
                    f"ref_pic_list_modification names LongTermPicNum"
                    f" {key} not in the supplied reference window")
        else:
            idc, abs_m1 = cmd
            if idc == 0:
                nowrap = pred - (abs_m1 + 1)
                if nowrap < 0:
                    nowrap += max_frame_num
            else:
                nowrap = pred + (abs_m1 + 1)
                if nowrap >= max_frame_num:
                    nowrap -= max_frame_num
            pred = nowrap
            key = (nowrap - max_frame_num if nowrap > cur_frame_num
                   else nowrap)
            is_lt = False
            target = by_picnum.get(key)
            if target is None:
                raise AVCError(
                    f"ref_pic_list_modification names picNum {key}"
                    " not in the supplied reference window")
        for c in range(min(len(lst) - 1, n_active), ref_idx, -1):
            lst[c] = lst[c - 1]
        lst[ref_idx] = target
        ref_idx += 1
        keep = ref_idx
        for c in range(ref_idx, n_active + 1):
            if lst[c] is not None and not same_kind_match(
                    lst[c], key, is_lt):
                lst[keep] = lst[c]
                keep += 1
        for c in range(keep, n_active + 1):
            lst[c] = None
    out = [e for e in lst[:n_active] if e is not None]
    if len(out) < n_active:
        raise AVCError(
            "ref_pic_list_modification left the list shorter than"
            " the active count")
    return ([e[0] for e in out],
            [e[1] for e in out] if aux is not None else None)


def implicit_bipred_weights(poc_cur: int, poc0: int,
                            poc1: int) -> tuple:
    """(w0, w1) implicit B-prediction weights (8.4.2.3.1) for one
    (RefPicList0, RefPicList1) picture pair, derived from POC
    distances exactly as the temporal-direct DistScaleFactor:

        tb = Clip3(-128, 127, poc_cur - poc0)
        td = Clip3(-128, 127, poc1  - poc0)
        tx = (16384 + Abs(td / 2)) / td       (trunc-toward-zero div)
        DistScaleFactor = Clip3(-1024, 1023, (tb * tx + 32) >> 6)

    w1 = DistScaleFactor >> 2, w0 = 64 - w1, EXCEPT the spec's
    fall-back-to-default cases (equal POCs, or DistScaleFactor >> 2
    outside [-64, 128]) which yield (32, 32) — the plain average.
    logWD is fixed at 5 and both offsets at 0, so the combine is
    ``(p0*w0 + p1*w1 + 32) >> 6`` for luma AND chroma."""
    if poc0 == poc1:
        return (32, 32)
    tb = min(127, max(-128, poc_cur - poc0))
    td = min(127, max(-128, poc1 - poc0))
    num = 16384 + (abs(td) >> 1)
    tx = num // td if td > 0 else -(num // -td)
    dsf = min(1023, max(-1024, (tb * tx + 32) >> 6))
    w1 = dsf >> 2
    if w1 < -64 or w1 > 128:
        return (32, 32)
    return (64 - w1, w1)


def _mc_partition(st: _IFrame, ref: _IFrame, px4: int, py4: int,
                  w4: int, h4: int, mvx: int, mvy: int,
                  lst: int = 0, ridx: int = 0) -> None:
    """Motion-compensate one partition from the reference frame into
    the current frame's planes (prediction only; residuals add on
    top), applying the slice's explicit weights when present. Units:
    (px4, py4, w4, h4) in 4x4 luma blocks, MV in quarter-pel luma."""
    x, y, w, h = px4 * 4, py4 * 4, w4 * 4, h4 * 4
    cx, cy, cw, ch = x >> 1, y >> 1, w >> 1, h >> 1
    py = _interp_luma(ref.Y, x, y, w, h, mvx, mvy)
    pcb = _interp_chroma(ref.Cb, cx, cy, cw, ch, mvx, mvy)
    pcr = _interp_chroma(ref.Cr, cx, cy, cw, ch, mvx, mvy)
    if st.wp is not None:
        e = st.wp["l0" if lst == 0 else "l1"][ridx]
        py = _weight_uni(py, e[0], e[1], st.wp["d"])
        pcb = _weight_uni(pcb, e[2], e[3], st.wp["dc"])
        pcr = _weight_uni(pcr, e[4], e[5], st.wp["dc"])
    st.Y[y:y + h, x:x + w] = py
    st.Cb[cy:cy + ch, cx:cx + cw] = pcb
    st.Cr[cy:cy + ch, cx:cx + cw] = pcr


def _finish_inter_mb(st: _IFrame, mbx: int, mby: int, mb: int) -> None:
    st.modes[mby * 4:mby * 4 + 4, mbx * 4:mbx * 4 + 4] = 2
    st.mb_intra[mb] = False
    st.any_inter = True


def _te(r: BitReader, cmax: int) -> int:
    """te(v): truncated Exp-Golomb — a single inverted bit when the
    range is 0..1, plain ue(v) otherwise (9.1.1)."""
    if cmax == 1:
        return 1 - r.u(1)
    return r.ue()


def _decode_pskip(st: _IFrame, refs0: list, mb: int, qp: int) -> None:
    mbx, mby = mb % st.mbw, mb // st.mbw
    mvx, mvy = _pskip_mv(st, mb, mbx, mby)
    _set_mv(st, mbx * 4, mby * 4, 4, 4, mvx, mvy)  # P_Skip: refIdx 0
    _mc_partition(st, refs0[0], mbx * 4, mby * 4, 4, 4, mvx, mvy)
    _finish_inter_mb(st, mbx, mby, mb)
    st.mb_qp[mb] = qp  # no mb_qp_delta: running QP carries through
    st.mb_slice[mb] = st.cur_slice
    st.n_decoded_mbs += 1


# P-slice macroblock partitionings (Table 7-13) as lists of
# (dx4, dy4, w4, h4, part_hint) in 4x4-block units within the MB
_P_MB_PARTS = {
    0: [(0, 0, 4, 4, None)],
    1: [(0, 0, 4, 2, "16x8_0"), (0, 2, 4, 2, "16x8_1")],
    2: [(0, 0, 2, 4, "8x16_0"), (2, 0, 2, 4, "8x16_1")],
}
# sub-macroblock partitionings (Table 7-17), relative to the 8x8
_P_SUB_PARTS = {
    0: [(0, 0, 2, 2)],
    1: [(0, 0, 2, 1), (0, 1, 2, 1)],
    2: [(0, 0, 1, 2), (1, 0, 1, 2)],
    3: [(0, 0, 1, 1), (1, 0, 1, 1), (0, 1, 1, 1), (1, 1, 1, 1)],
}


def _decode_p_mb(r: BitReader, st: _IFrame, refs0: list, pps: PPS,
                 mbx: int, mby: int, mb: int, mb_type: int,
                 qp: int, n_ref0: int) -> int:
    """One inter macroblock_layer (P_L0_16x16 / 16x8 / 8x16 / P_8x8 /
    P_8x8ref0): grouped ref_idx_l0 parse (te(v), absent with one
    active reference or in P_8x8ref0), grouped mvd parse, MV
    prediction per partition in decode order with refIdx matching,
    motion compensation from the indexed reference, then the CAVLC
    residual on top."""
    px4, py4 = mbx * 4, mby * 4
    # geometry first: (bx4, by4, w4, h4, hint, ref_slot); P_8x8 codes
    # ONE ref_idx per 8x8 shared by its sub-partitions
    geo: list = []
    if mb_type in (0, 1, 2):
        for slot, (dx4, dy4, w4, h4, hint) in enumerate(
                _P_MB_PARTS[mb_type]):
            geo.append((px4 + dx4, py4 + dy4, w4, h4, hint, slot))
        n_slots = len(_P_MB_PARTS[mb_type])
    else:  # P_8x8 (3) / P_8x8ref0 (4)
        subs = [r.ue() for _ in range(4)]
        if any(s > 3 for s in subs):
            raise AVCError(f"sub_mb_type {max(subs)} not valid in P slice")
        for s_i in range(4):
            sx4 = px4 + (s_i & 1) * 2
            sy4 = py4 + (s_i >> 1) * 2
            for dx4, dy4, w4, h4 in _P_SUB_PARTS[subs[s_i]]:
                geo.append((sx4 + dx4, sy4 + dy4, w4, h4, None, s_i))
        n_slots = 4
    if n_ref0 > 1 and mb_type != 4:  # P_8x8ref0 pins every ref to 0
        slot_refs = [_te(r, n_ref0 - 1) for _ in range(n_slots)]
        if any(ri >= n_ref0 for ri in slot_refs):
            raise AVCError("ref_idx_l0 out of the active range")
    else:
        slot_refs = [0] * n_slots
    mvds = [(r.se(), r.se()) for _ in geo]
    parts: list[tuple[int, int, int, int, int]] = []
    for (bx4, by4, w4, h4, hint, slot), (dx, dy) in zip(geo, mvds):
        ri = slot_refs[slot]
        mvpx, mvpy = _mv_pred(st, mb, bx4, by4, w4, h4, hint,
                              cur_ref=ri)
        mvx, mvy = mvpx + dx, mvpy + dy
        _set_mv(st, bx4, by4, w4, h4, mvx, mvy, ref=ri)
        parts.append((bx4, by4, w4, h4, ri))
    for bx4, by4, w4, h4, ri in parts:
        _mc_partition(st, refs0[ri], bx4, by4, w4, h4,
                      int(st.mvx[by4, bx4]), int(st.mvy[by4, bx4]),
                      ridx=ri)
    _finish_inter_mb(st, mbx, mby, mb)
    # 7.3.5 noSubMbPartSizeLessThan8x8Flag: every partition >= 8x8
    t8_allowed = mb_type in (0, 1, 2) or all(s == 0 for s in subs)
    return _b_inter_residual(r, st, pps, mbx, mby, mb, qp,
                             t8_allowed=t8_allowed)


def _decode_p_slice_data(r: BitReader, st: _IFrame, refs0: list,
                         sps: SPS, pps: PPS, qp: int,
                         n_ref0: int, start_mb: int = 0) -> tuple:
    """slice_data (7.3.4) for a CAVLC P slice starting at
    ``start_mb``: interleaved mb_skip_run / macroblock_layer. Returns
    (qp, end_mb) — the picture level validates slice tiling."""
    n_mbs = st.mbw * st.mbh
    mb = start_mb
    while True:
        skip_run = r.ue()
        if mb + skip_run > n_mbs:
            raise AVCError("mb_skip_run overruns the frame")
        for _ in range(skip_run):
            _decode_pskip(st, refs0, mb, qp)
            mb += 1
        if mb >= n_mbs or not r.more_rbsp_data():
            break
        mbx, mby = mb % st.mbw, mb // st.mbw
        mb_type = r.ue()
        if mb_type <= 4:
            qp = _decode_p_mb(r, st, refs0, pps, mbx, mby, mb, mb_type,
                              qp, n_ref0)
        elif mb_type <= 30:
            qp = _decode_intra_mb(r, st, sps, pps, mbx, mby, mb,
                                  mb_type - 5, qp)
        else:
            raise AVCError(f"mb_type {mb_type} not valid in P slice")
        st.mb_qp[mb] = qp
        st.mb_slice[mb] = st.cur_slice
        st.n_decoded_mbs += 1
        mb += 1
        if mb >= n_mbs:
            break
    return qp, mb


# ---------------------------------------------------------------------------
# B slices (single reference per list, CAVLC, spatial direct)
# ---------------------------------------------------------------------------

def _b_mb_part_modes() -> dict:
    """Table 7-14 B macroblock types 0..22, GENERATED from the
    table's structural rule (16x16 direct/L0/L1/Bi, then the nine
    (mode0, mode1) pairs each as 16x8 followed by 8x16, then B_8x8).
    The fixture encoder hardcodes the same table independently;
    tests assert the two agree."""
    modes = {0: ("direct", None), 1: ("16x16", ("l0",)),
             2: ("16x16", ("l1",)), 3: ("16x16", ("bi",))}
    pairs = (("l0", "l0"), ("l1", "l1"), ("l0", "l1"), ("l1", "l0"),
             ("l0", "bi"), ("l1", "bi"), ("bi", "l0"), ("bi", "l1"),
             ("bi", "bi"))
    t = 4
    for m0, m1 in pairs:
        modes[t] = ("16x8", (m0, m1))
        modes[t + 1] = ("8x16", (m0, m1))
        t += 2
    modes[22] = ("8x8", None)
    return modes


_B_MB_MODES = _b_mb_part_modes()


def _b_sub_modes() -> dict:
    """Table 7-18 B sub-macroblock types 0..12, generated from the
    structural rule (direct, 8x8 by mode, 8x4/4x8 interleaved by
    mode, 4x4 by mode)."""
    sub = {0: ("direct", None)}
    for i, m in enumerate(("l0", "l1", "bi")):
        sub[1 + i] = ("8x8", m)
    t = 4
    for m in ("l0", "l1", "bi"):
        sub[t] = ("8x4", m)
        sub[t + 1] = ("4x8", m)
        t += 2
    for i, m in enumerate(("l0", "l1", "bi")):
        sub[10 + i] = ("4x4", m)
    return sub


_B_SUB_MODES = _b_sub_modes()

_B_SHAPES = {"8x8": [(0, 0, 2, 2)],
             "8x4": [(0, 0, 2, 1), (0, 1, 2, 1)],
             "4x8": [(0, 0, 1, 2), (1, 0, 1, 2)],
             "4x4": [(0, 0, 1, 1), (1, 0, 1, 1), (0, 1, 1, 1),
                     (1, 1, 1, 1)]}


def _mc_partition_b(st: _IFrame, ref0, ref1, px4: int, py4: int,
                    w4: int, h4: int, mv0, mv1, use0: bool,
                    use1: bool, ri0: int = 0, ri1: int = 0) -> None:
    """Motion-compensate one B partition: uni-directional from either
    list, or bi-prediction — the default average (8.4.2.3,
    weighted_bipred_idc 0: (p0 + p1 + 1) >> 1 per sample) or the
    explicit weighted combine when the slice carries a table."""
    x, y, w, h = px4 * 4, py4 * 4, w4 * 4, h4 * 4
    cx, cy, cw, ch = x >> 1, y >> 1, w >> 1, h >> 1
    if use0 and use1:
        y0 = _interp_luma(ref0.Y, x, y, w, h, mv0[0], mv0[1])
        y1 = _interp_luma(ref1.Y, x, y, w, h, mv1[0], mv1[1])
        c0b = _interp_chroma(ref0.Cb, cx, cy, cw, ch, mv0[0], mv0[1])
        c1b = _interp_chroma(ref1.Cb, cx, cy, cw, ch, mv1[0], mv1[1])
        c0r = _interp_chroma(ref0.Cr, cx, cy, cw, ch, mv0[0], mv0[1])
        c1r = _interp_chroma(ref1.Cr, cx, cy, cw, ch, mv1[0], mv1[1])
        if st.wp is not None:
            e0 = st.wp["l0"][ri0]
            e1 = st.wp["l1"][ri1]
            st.Y[y:y + h, x:x + w] = _weight_bi(
                y0, y1, e0, e1, st.wp["d"], 0)
            st.Cb[cy:cy + ch, cx:cx + cw] = _weight_bi(
                c0b, c1b, e0, e1, st.wp["dc"], 1)
            st.Cr[cy:cy + ch, cx:cx + cw] = _weight_bi(
                c0r, c1r, e0, e1, st.wp["dc"], 2)
        elif st.wp_imp is not None:
            # implicit combine (8.4.2.3.1): logWD=5, zero offsets,
            # same weight pair for luma and both chroma planes
            w0, w1 = st.wp_imp[ri0][ri1]
            st.Y[y:y + h, x:x + w] = np.clip(
                (y0 * w0 + y1 * w1 + 32) >> 6, 0, 255)
            st.Cb[cy:cy + ch, cx:cx + cw] = np.clip(
                (c0b * w0 + c1b * w1 + 32) >> 6, 0, 255)
            st.Cr[cy:cy + ch, cx:cx + cw] = np.clip(
                (c0r * w0 + c1r * w1 + 32) >> 6, 0, 255)
        else:
            st.Y[y:y + h, x:x + w] = (y0 + y1 + 1) >> 1
            st.Cb[cy:cy + ch, cx:cx + cw] = (c0b + c1b + 1) >> 1
            st.Cr[cy:cy + ch, cx:cx + cw] = (c0r + c1r + 1) >> 1
    elif use0:
        _mc_partition(st, ref0, px4, py4, w4, h4, mv0[0], mv0[1],
                      lst=0, ridx=ri0)
    else:
        _mc_partition(st, ref1, px4, py4, w4, h4, mv1[0], mv1[1],
                      lst=1, ridx=ri1)


def _spatial_direct(st: _IFrame, col: _IFrame, mb: int, mbx: int,
                    mby: int):
    """Spatial direct motion derivation (8.4.1.2.2) for the current
    MB, with direct_8x8_inference: MB-level reference selection
    (MinPositive over the neighbors' refIdx per list) + median MV
    prediction at the derived refIdx, then per-8x8 colZeroFlag from
    the corner 4x4 of the colocated MB in RefPicList1[0] (``col``).

    Returns (ref0, ref1, [((mv0x, mv0y), (mv1x, mv1y)) per 8x8]) with
    refX = -1 when list X is unused."""
    px4, py4 = mbx * 4, mby * 4
    refs = []
    mvp = []
    for lst in (0, 1):
        _aa, _ax, _ay, ra = _mv_nbr(st, px4 - 1, py4, mb, lst)
        _ab, _bx, _by, rb = _mv_nbr(st, px4, py4 - 1, mb, lst)
        ac, _cx, _cy, rc = _mv_nbr(st, px4 + 4, py4 - 1, mb, lst)
        if not ac:
            _ad, _cx, _cy, rc = _mv_nbr(st, px4 - 1, py4 - 1, mb, lst)
        pos = [ri for ri in (ra, rb, rc) if ri >= 0]
        ref = min(pos) if pos else -1  # MinPositive (8.4.1.2.2)
        refs.append(ref)
        mvp.append(
            _mv_pred(st, mb, px4, py4, 4, 4, None, lst,
                     cur_ref=max(ref, 0))
        )
    if refs[0] < 0 and refs[1] < 0:
        # directZeroPredictionFlag: both lists at refIdx 0, zero MVs
        return 0, 0, [((0, 0), (0, 0))] * 4
    out = []
    corners = ((0, 0), (3, 0), (0, 3), (3, 3))
    for i8 in range(4):
        dx, dy = corners[i8]
        gx, gy = px4 + dx, py4 + dy
        col_mb = (gy >> 2) * col.mbw + (gx >> 2)
        if col.mb_intra[col_mb]:
            col_zero = False
        else:
            cf = int(col.pred_flags[gy, gx])
            if cf & 1:
                cmx, cmy = int(col.mvx[gy, gx]), int(col.mvy[gy, gx])
                ref_col = int(col.ref_idx0[gy, gx])
            elif cf & 2:
                cmx, cmy = int(col.mvx1[gy, gx]), int(col.mvy1[gy, gx])
                ref_col = int(col.ref_idx1[gy, gx])
            else:
                cmx = cmy = 0
                ref_col = -1
            # 8.4.1.2.2: colZeroFlag additionally requires the
            # colocated picture (RefPicList1[0]) to be SHORT-term
            col_pic_st = (st.ref1_lt is None
                          or not st.ref1_lt
                          or st.ref1_lt[0] is None)
            col_zero = (col_pic_st and ref_col == 0
                        and abs(cmx) <= 1 and abs(cmy) <= 1)
        mv0 = (0, 0) if (col_zero and refs[0] == 0) else mvp[0]
        mv1 = (0, 0) if (col_zero and refs[1] == 0) else mvp[1]
        out.append((mv0 if refs[0] >= 0 else (0, 0),
                    mv1 if refs[1] >= 0 else (0, 0)))
    return refs[0], refs[1], out


def _temporal_direct(st: _IFrame, refs0: list, refs1: list, mb: int,
                     mbx: int, mby: int) -> list:
    """Temporal direct motion derivation (8.4.1.2.3, frame coding,
    direct_8x8_inference): per 8x8, take the colocated corner 4x4 of
    RefPicList1[0], map its reference picture into the CURRENT L0 by
    POC identity, and scale the colocated MV by POC distances:

        mvL0 = (DistScaleFactor * mvCol + 128) >> 8
        mvL1 = mvL0 - mvCol          (refIdxL1 = 0, always bi-pred)

    Intra colocated blocks contribute mvCol = 0 at refIdxL0 = 0;
    equal-POC pairs (td = 0) take mvL0 = mvCol, mvL1 = 0. Returns the
    uniform per-8x8 direct shape [(ref0, ref1, mv0, mv1)] * 4."""
    if (st.ref1_lt and st.ref1_lt[0] is not None) or (
            st.ref0_lt and any(l is not None for l in st.ref0_lt)):
        # bounded scope: the LT branches of 8.4.1.2.3 (scaling
        # disabled when the mapped reference is long-term) are not
        # implemented — refuse rather than scale wrongly
        raise AVCError(
            "temporal direct over long-term references unsupported")
    col = refs1[0]
    poc_cur = st.poc
    poc_col = st.ref1_pocs[0]
    px4, py4 = mbx * 4, mby * 4
    # direct_8x8_inference: each 8x8 samples the OUTER corner 4x4 of
    # the macroblock (same corners _spatial_direct's colZero uses)
    corners = ((0, 0), (3, 0), (0, 3), (3, 3))
    out = []
    for i8 in range(4):
        dx, dy = corners[i8]
        gx = px4 + dx
        gy = py4 + dy
        col_mb = (gy >> 2) * col.mbw + (gx >> 2)
        if col.mb_intra[col_mb]:
            ref0 = 0
            cmx = cmy = 0
        else:
            cf = int(col.pred_flags[gy, gx])
            if cf & 1:
                cmx, cmy = int(col.mvx[gy, gx]), int(col.mvy[gy, gx])
                ref_col = int(col.ref_idx0[gy, gx])
                col_pocs = col.ref0_pocs
            elif cf & 2:
                cmx, cmy = int(col.mvx1[gy, gx]), int(col.mvy1[gy, gx])
                ref_col = int(col.ref_idx1[gy, gx])
                col_pocs = col.ref1_pocs
            else:
                ref_col = 0
                cmx = cmy = 0
                col_pocs = col.ref0_pocs
            if col_pocs is None or ref_col >= len(col_pocs):
                raise AVCError(
                    "temporal direct: colocated reference POC"
                    " unavailable"
                )
            poc_ref = col_pocs[ref_col]
            try:
                ref0 = st.ref0_pocs.index(poc_ref)
            except ValueError:
                raise AVCError(
                    f"temporal direct: colocated reference (POC"
                    f" {poc_ref}) is not in the current RefPicList0"
                ) from None
        poc_ref0 = st.ref0_pocs[ref0]
        if poc_col == poc_ref0:
            mv0 = (cmx, cmy)
            mv1 = (0, 0)
        else:
            tb = min(127, max(-128, poc_cur - poc_ref0))
            td = min(127, max(-128, poc_col - poc_ref0))
            num = 16384 + (abs(td) >> 1)
            tx = num // td if td > 0 else -(num // -td)
            dsf = min(1023, max(-1024, (tb * tx + 32) >> 6))
            mv0 = ((dsf * cmx + 128) >> 8, (dsf * cmy + 128) >> 8)
            mv1 = (mv0[0] - cmx, mv0[1] - cmy)
        out.append((ref0, 0, mv0, mv1))
    return out


def _direct_mb_state(st: _IFrame, refs0: list, refs1: list, mb: int,
                     mbx: int, mby: int) -> list:
    """Direct motion for one MB in the uniform per-8x8 shape
    [(ref0, ref1, mv0, mv1)] * 4 (refX = -1 when list X unused) —
    spatial or temporal per the slice header flag."""
    if st.direct_spatial:
        d0, d1, mvs = _spatial_direct(st, refs1[0], mb, mbx, mby)
        return [(d0, d1, mv0, mv1) for (mv0, mv1) in mvs]
    return _temporal_direct(st, refs0, refs1, mb, mbx, mby)


def _apply_direct_8x8(st: _IFrame, refs0, refs1, mbx: int, mby: int,
                      i8: int, direct8) -> None:
    """Write + motion-compensate one direct-predicted 8x8 from the
    uniform per-8x8 direct entry (ref0, ref1, mv0, mv1)."""
    bx4 = mbx * 4 + (i8 & 1) * 2
    by4 = mby * 4 + (i8 >> 1) * 2
    dref0, dref1, mv0, mv1 = direct8
    use0, use1 = dref0 >= 0, dref1 >= 0
    _set_mv_b(st, bx4, by4, 2, 2, mv0, mv1, use0, use1,
              ref0=max(dref0, 0), ref1=max(dref1, 0))
    _mc_partition_b(st, refs0[max(dref0, 0)] if use0 else None,
                    refs1[max(dref1, 0)] if use1 else None,
                    bx4, by4, 2, 2, mv0, mv1, use0, use1,
                    ri0=max(dref0, 0), ri1=max(dref1, 0))


def _decode_bskip(st: _IFrame, refs0: list, refs1: list, mb: int,
                  qp: int) -> None:
    mbx, mby = mb % st.mbw, mb // st.mbw
    d8 = _direct_mb_state(st, refs0, refs1, mb, mbx, mby)
    for i8 in range(4):
        _apply_direct_8x8(st, refs0, refs1, mbx, mby, i8, d8[i8])
    _finish_inter_mb(st, mbx, mby, mb)
    st.mb_qp[mb] = qp
    st.mb_slice[mb] = st.cur_slice
    st.n_decoded_mbs += 1


def _b_inter_residual(r: BitReader, st: _IFrame, pps: PPS, mbx: int,
                      mby: int, mb: int, qp: int,
                      t8_allowed: bool = False) -> int:
    """coded_block_pattern (+ transform_size_8x8_flag when the MB
    geometry allows it, 7.3.5) + residuals for an inter MB — the
    shared tail of the P and B macroblock layers."""
    px4, py4 = mbx * 4, mby * 4
    code = r.ue()
    if code > 47:
        raise AVCError("coded_block_pattern code out of range")
    cbp = _CBP_INTER[code]
    cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
    t8 = False
    if cbp_luma and t8_allowed and pps.transform_8x8_mode:
        t8 = bool(r.flag())
    if cbp != 0:
        qp = _mb_qp_delta(r, qp)
    if t8:
        st.mb_t8[mb] = True
        rows64 = _read_luma8x8_residual(r, st, mb, mbx, mby, cbp_luma)
        residuals = _residual_batch8(rows64, qp, weight=_w8(st, False))
        for b8 in range(4):
            x = (px4 + (b8 & 1) * 2) * 4
            y = (py4 + (b8 >> 1) * 2) * 4
            st.Y[y:y + 8, x:x + 8] = np.clip(
                st.Y[y:y + 8, x:x + 8] + residuals[b8], 0, 255)
        _chroma_residual(r, st, pps, mbx, mby, mb, cbp_chroma, qp)
        return qp
    rows = []
    for blk in range(16):
        x4, y4 = _blk_xy(blk)
        gx, gy = px4 + x4, py4 + y4
        if cbp_luma & (1 << (blk >> 2)):
            nc = st.luma_nc(gx, gy, mb, blk)
            coeffs, total = read_residual_block(r, nc, 16)
            st.nzY[gy, gx] = total
            rows.append(coeffs)
        else:
            st.nzY[gy, gx] = 0
            rows.append([0] * 16)
    if cbp_luma:
        residuals = _residual_batch(rows, qp, weight=_w4(st, False, 0))
        for blk in range(16):
            x4, y4 = _blk_xy(blk)
            x, y = (px4 + x4) * 4, (py4 + y4) * 4
            st.Y[y:y + 4, x:x + 4] = np.clip(
                st.Y[y:y + 4, x:x + 4] + residuals[blk], 0, 255)
    _chroma_residual(r, st, pps, mbx, mby, mb, cbp_chroma, qp)
    return qp


def _decode_b_mb(r: BitReader, st: _IFrame, refs0: list,
                 refs1: list, pps: PPS, mbx: int, mby: int, mb: int,
                 mb_type: int, qp: int, n_ref0: int,
                 n_ref1: int) -> int:
    """One B macroblock_layer: direct / 16x16 / 16x8 / 8x16 / B_8x8
    with per-partition prediction modes, grouped ref_idx_l0/l1 parse
    (te(v), absent with one active reference; one per 8x8 in B_8x8,
    none for direct subs), grouped-by-list mvd parse (7.3.5.1),
    per-partition per-list MV prediction in decode order with refIdx
    matching, motion compensation from the indexed references
    (bi = average), then the CAVLC residual."""
    px4, py4 = mbx * 4, mby * 4
    shape, modes = _B_MB_MODES[mb_type]
    # (bx4, by4, w4, h4, hint, mode, slot) in partition decode order;
    # `slot` indexes the ref_idx fields (partition for 16x16/16x8/
    # 8x16, the 8x8 for B_8x8)
    plist: list = []
    slot_modes: list = []
    direct_state = None
    if shape == "direct":
        direct_state = _direct_mb_state(st, refs0, refs1, mb, mbx, mby)
    elif shape == "16x16":
        plist.append((px4, py4, 4, 4, None, modes[0], 0))
        slot_modes = [modes[0]]
    elif shape == "16x8":
        plist.append((px4, py4, 4, 2, "16x8_0", modes[0], 0))
        plist.append((px4, py4 + 2, 4, 2, "16x8_1", modes[1], 1))
        slot_modes = list(modes)
    elif shape == "8x16":
        plist.append((px4, py4, 2, 4, "8x16_0", modes[0], 0))
        plist.append((px4 + 2, py4, 2, 4, "8x16_1", modes[1], 1))
        slot_modes = list(modes)
    else:  # B_8x8
        subs = [r.ue() for _ in range(4)]
        if any(s > 12 for s in subs):
            raise AVCError(
                f"sub_mb_type {max(subs)} not valid in B slice"
            )
        for s_i in range(4):
            sx4 = px4 + (s_i & 1) * 2
            sy4 = py4 + (s_i >> 1) * 2
            sshape, smode = _B_SUB_MODES[subs[s_i]]
            if sshape == "direct":
                plist.append((sx4, sy4, 2, 2, None, f"direct{s_i}",
                              s_i))
                slot_modes.append("direct")
                if direct_state is None:
                    direct_state = _direct_mb_state(st, refs0, refs1,
                                                    mb, mbx, mby)
                continue
            slot_modes.append(smode)
            for dx4, dy4, w4, h4 in _B_SHAPES[sshape]:
                plist.append((sx4 + dx4, sy4 + dy4, w4, h4, None,
                              smode, s_i))
    # grouped ref_idx parse: every L0 index in slot order, then L1
    ref0_slot = [0] * len(slot_modes)
    ref1_slot = [0] * len(slot_modes)
    if n_ref0 > 1:
        for si, m in enumerate(slot_modes):
            if m in ("l0", "bi"):
                ref0_slot[si] = _te(r, n_ref0 - 1)
    if n_ref1 > 1:
        for si, m in enumerate(slot_modes):
            if m in ("l1", "bi"):
                ref1_slot[si] = _te(r, n_ref1 - 1)
    if (max(ref0_slot, default=0) >= n_ref0
            or max(ref1_slot, default=0) >= max(n_ref1, 1)):
        raise AVCError("ref_idx out of the active range")
    # grouped mvd parse: every L0 mvd in partition order, then L1
    mvd0 = [
        (r.se(), r.se()) if p[5] in ("l0", "bi") else None
        for p in plist
    ]
    mvd1 = [
        (r.se(), r.se()) if p[5] in ("l1", "bi") else None
        for p in plist
    ]
    # per-partition derivation + MC in decode order
    for k, (bx4, by4, w4, h4, hint, mode, slot) in enumerate(plist):
        if isinstance(mode, str) and mode.startswith("direct"):
            i8 = int(mode[6:])
            _apply_direct_8x8(st, refs0, refs1, mbx, mby, i8,
                              direct_state[i8])
            continue
        use0 = mode in ("l0", "bi")
        use1 = mode in ("l1", "bi")
        ri0, ri1 = ref0_slot[slot], ref1_slot[slot]
        mv0 = (0, 0)
        mv1 = (0, 0)
        if use0:
            mvpx, mvpy = _mv_pred(st, mb, bx4, by4, w4, h4, hint, 0,
                                  cur_ref=ri0)
            mv0 = (mvpx + mvd0[k][0], mvpy + mvd0[k][1])
        if use1:
            mvpx, mvpy = _mv_pred(st, mb, bx4, by4, w4, h4, hint, 1,
                                  cur_ref=ri1)
            mv1 = (mvpx + mvd1[k][0], mvpy + mvd1[k][1])
        _set_mv_b(st, bx4, by4, w4, h4, mv0, mv1, use0, use1,
                  ref0=ri0 if use0 else 0, ref1=ri1 if use1 else 0)
        _mc_partition_b(st, refs0[ri0] if use0 else None,
                        refs1[ri1] if use1 else None,
                        bx4, by4, w4, h4, mv0, mv1, use0, use1,
                        ri0=ri0, ri1=ri1)
    if shape == "direct":
        for i8 in range(4):
            _apply_direct_8x8(st, refs0, refs1, mbx, mby, i8,
                              direct_state[i8])
    _finish_inter_mb(st, mbx, mby, mb)
    # 7.3.5: B_Direct_16x16 admits the flag only with
    # direct_8x8_inference (guaranteed 1 here — the decoder refuses
    # B slices without it); B_8x8 needs every sub-partition >= 8x8
    if shape == "8x8":
        t8_allowed = all(
            _B_SUB_MODES[s][0] in ("direct", "8x8") for s in subs)
    else:
        t8_allowed = True
    return _b_inter_residual(r, st, pps, mbx, mby, mb, qp,
                             t8_allowed=t8_allowed)


def _decode_b_slice_data(r: BitReader, st: _IFrame, refs0: list,
                         refs1: list, sps: SPS, pps: PPS,
                         qp: int, n_ref0: int, n_ref1: int,
                         start_mb: int = 0) -> tuple:
    """slice_data (7.3.4) for a CAVLC B slice starting at
    ``start_mb``: interleaved mb_skip_run (B_Skip = direct, no
    residual) / macroblock_layer. Returns (qp, end_mb)."""
    n_mbs = st.mbw * st.mbh
    mb = start_mb
    while True:
        skip_run = r.ue()
        if mb + skip_run > n_mbs:
            raise AVCError("mb_skip_run overruns the frame")
        for _ in range(skip_run):
            _decode_bskip(st, refs0, refs1, mb, qp)
            mb += 1
        if mb >= n_mbs or not r.more_rbsp_data():
            break
        mbx, mby = mb % st.mbw, mb // st.mbw
        mb_type = r.ue()
        if mb_type <= 22:
            qp = _decode_b_mb(r, st, refs0, refs1, pps, mbx, mby, mb,
                              mb_type, qp, n_ref0, n_ref1)
        elif mb_type <= 48:
            qp = _decode_intra_mb(r, st, sps, pps, mbx, mby, mb,
                                  mb_type - 23, qp)
        else:
            raise AVCError(f"mb_type {mb_type} not valid in B slice")
        st.mb_qp[mb] = qp
        st.mb_slice[mb] = st.cur_slice
        st.n_decoded_mbs += 1
        mb += 1
        if mb >= n_mbs:
            break
    return qp, mb


def decode_frame(sps: SPS, pps: PPS, slice_nal: bytes,
                 ref=None, ref1=None, poc=None, ref_pocs=None,
                 ref1_pocs=None, ref_lt=None,
                 ref1_lt=None) -> "_IFrame":
    """Decode one coded slice NAL (I, P, or B) into its reconstructed
    frame state (post-deblock, full macroblock grid). ``ref`` is the
    L0 reference list — a single _IFrame or a list in RefPicList0
    order (for P: most recent first; the slice may activate up to 8);
    ``ref1`` the L1 list (B only — future-first by POC; the caller
    supplies frames in DECODE order, so they are already
    reconstructed). For implicit weighted biprediction
    (PPS weighted_bipred_idc == 2, x264's B default) the caller must
    also supply ``poc`` (current picture) and ``ref_pocs`` /
    ``ref1_pocs`` (per-list POCs aligned with ref/ref1) — without
    them such slices raise the typed refusal. Convert to RGB with
    :func:`frame_rgb`. Error posture as :func:`decode_iframe`:
    anything corrupt raises :class:`AVCError`."""
    try:
        return _decode_frame_inner(sps, pps, slice_nal, ref, ref1,
                                   poc, ref_pocs, ref1_pocs,
                                   ref_lt, ref1_lt)
    except AVCError:
        raise
    except (IndexError, ValueError, KeyError, OverflowError,
            MemoryError) as exc:
        raise AVCError(f"corrupt slice data: {exc}") from exc


def decode_picture(sps: SPS, pps: PPS, slice_nals: list,
                   ref=None, ref1=None, poc=None, ref_pocs=None,
                   ref1_pocs=None, ref_lt=None,
                   ref1_lt=None) -> "_IFrame":
    """Decode one coded PICTURE from its slice NALs in order (r8:
    multi-slice pictures — RTP/low-latency encoders tile a frame
    into several slices). Slices must tile the macroblocks in raster
    order; prediction availability stops at slice boundaries (6.4.8)
    while the in-loop filter still crosses them (the
    disable_deblocking_filter_idc 2 exemption refuses). Reference
    and POC arguments as :func:`decode_frame`, which is the
    single-slice special case of this call."""
    return decode_frame(sps, pps, slice_nals, ref=ref, ref1=ref1,
                        poc=poc, ref_pocs=ref_pocs,
                        ref1_pocs=ref1_pocs, ref_lt=ref_lt,
                        ref1_lt=ref1_lt)


def slice_kind(slice_nal: bytes) -> str:
    """Cheap slice-type peek for callers that must route references
    BEFORE decoding (the G1 GOP cursor): "i", "p" or "b". Raises
    AVCError on non-slice NALs or exotic types (SP/SI)."""
    if not slice_nal or (slice_nal[0] & 0x1F) not in (1, 5):
        raise AVCError("not a coded slice NAL")
    r = BitReader(unescape_rbsp(slice_nal[1:9]))
    r.ue()  # first_mb_in_slice
    st = r.ue() % 5
    if st == 0:
        return "p"
    if st == 1:
        return "b"
    if st == 2:
        return "i"
    raise AVCError(f"SP/SI slice type {st} unsupported")


def slice_poc_lsb(slice_nal: bytes, sps: SPS) -> "int | None":
    """Cheap pic_order_cnt_lsb peek from a coded slice NAL header
    (the GOP cursor's POC tracking, 8.2.1.1, needs it BEFORE
    decoding). Returns None for pic_order_cnt_type != 0 streams
    (their POC doesn't live in the slice header). Raises AVCError on
    non-slice NALs."""
    if not slice_nal or (slice_nal[0] & 0x1F) not in (1, 5):
        raise AVCError("not a coded slice NAL")
    if sps.pic_order_cnt_type != 0:
        return None
    nal_type = slice_nal[0] & 0x1F
    r = BitReader(unescape_rbsp(slice_nal[1:33]))
    r.ue()  # first_mb_in_slice
    r.ue()  # slice_type
    r.ue()  # pps id
    r.u(sps.log2_max_frame_num)  # frame_num
    if nal_type == 5:
        r.ue()  # idr_pic_id
    return r.u(sps.log2_max_pic_order_cnt_lsb)


def frame_rgb(st: "_IFrame", sps: SPS) -> np.ndarray:
    """Convert a decoded frame state to cropped (H, W, 3) RGB uint8
    (same fixed-point YCbCr conversion as the JPEG decoder)."""
    return _planes_to_rgb(st, sps)
