"""Multimodal kernels — the three Arrow UDFs of SURVEY §2.10 (G1-G3).

The reference delegates these to external processes: ffmpeg frame
sampling (/root/reference/hasher.js:78-91), the LIRE Java descriptor
extractor (/root/reference/hasher.js:114-135), and Solr query-image
extraction (/root/reference/searcher.js:203-213). In this engine they are
the ONLY Python UDFs, all Arrow-vectorized; everything downstream
(dedup, normalize, index, search) consumes their output through ordinary
DataFrame plans, so changing a kernel changes no plan shape.

Kernel reality, per stage:

- G2/G3 descriptor (`embed_images` / `embed_query_image`): REAL — the
  MPEG-7 ColorLayout of `functions/colorlayout.py`, bit-exact against
  the reference's own lire.jar, computed on images decoded by the
  pure-stdlib PNG/JPEG/PPM codecs (`functions/imagecodec.py`,
  `functions/jpegcodec.py` — JPEG is the reference's own wire format,
  decoded bit-exact vs the JRE codec). Bytes that are not decodable
  images fall back to the legacy blake2 fake so the plumbing stays
  total.
- Image resize (`resize_images`): REAL bilinear resample + PPM re-encode
  for decodable images; stub fallback otherwise.
- G1 video demux/decode: REAL for Y4M (YUV4MPEG2) containers — pure
  stdlib demux + numpy BT.601 decode (`functions/videocodec.py`) — for
  MJPEG AVI (RIFF demux + the bit-exact JPEG decoder), and for animated
  GIF (`functions/gifcodec.py`, variable-frame-rate timeline), sampled
  and scaled like the reference's ffmpeg invocation. Real `.mp4` (the
  reference's only accepted input) DEMUXES for real —
  `functions/mp4`, progressive AND fragmented/moof — and since r6 its
  AVC KEYFRAMES decode to REAL pixels (`functions/avc`, baseline
  CAVLC I-frame decoder). Inter-coded samples (P/B need cross-GOP
  motion compensation) and streams the correct-or-refuse decoder
  declines fall back to the deterministic stub, seeded from each
  sample's actual bitstream bytes. Unrecognized container
  bytes fall back entirely;
  the fake emits REAL PPM images (seeded block scenes) so downstream
  stays on the real image path either way. With PyAV the fallback
  becomes open-container → sample at fps → scale → encode; signature
  unchanged.
- Audio features: REAL for WAV and AIFF/AIFF-C (functions/wavcodec —
  PCM, float, G.711, IMA/MS ADPCM, extensible; AIFF 80-bit COMM
  rate, NONE/sowt/twos/fl32/fl64/alaw/ulaw) and FLAC
  (functions/flac, spec-built lossless decode); stub fallback for
  other bytes.

Multimodal data model (SURVEY §1.3): media is an opaque `binary` column
with typed metadata columns beside it; provenance stays in `path`.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from . import accid as AD
from . import autocorrelogram as AC
from . import bitsampling as BS
from . import cedd as CE
from . import colorlayout as CL
from . import edgehistogram as EH
from . import fcth as FC
from . import fuzzyopponent as FO
from . import imagecodec as IC
from . import jointhistogram as JH
from . import opponenthistogram as OH
from . import phog as PH
from . import scalablecolor as SCD
from . import videocodec as VC
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FRAME_FPS = 12.0  # reference sampling rate (hasher.js:87)
# hostile-input ceilings for the mp4 sampling grid (_sample_mp4): an
# attacker-controlled stts timeline must never turn into an unbounded
# driver/executor loop. 24 h of output frames, or 10 min of duplicated
# stills per real sample, whichever is smaller.
_MAX_MEDIA_SECONDS = 24 * 3600
_MAX_DUP_PER_SAMPLE = int(600 * FRAME_FPS)
FRAME_HEIGHT = 180  # scale=-2:180 (hasher.js:87)

FRAME_SCHEMA = StructType(
    [
        StructField("file", StringType(), False),
        StructField("frame_no", LongType(), False),
        StructField("time", DoubleType(), False),
        StructField("image", BinaryType(), False),
    ]
)

# Real demux/decode: Y4M, MJPEG-AVI, animated GIF; real DEMUX for .mp4
# (functions/mp4 — progressive AND fragmented) and, since r6, REAL
# PIXELS for AVC KEYFRAMES (functions/avc — baseline CAVLC I-frame
# decoder; since r7 including deblocking-enabled streams, the
# real-world default, via the in-loop filter). The stub remains only
# for inter-coded samples (P/B frames need motion compensation across
# the GOP) and for streams the correct-or-refuse decoder declines
# (CABAC, non-baseline features) — see the avc module docstring.
_STUB_INTERFRAME_CODECS = True

_SYN_FRAME_H = 48  # synthetic thumbnail geometry (aspect 5:3, like
_SYN_FRAME_W = 80  # scale=-2:180 output halved twice)


def _fake_video_params(content: bytes) -> tuple[int, float]:
    """Deterministic (n_frames, duration) derived from the blob bytes.

    Stands in for demuxing the container header. Duration 1-5 s at 12
    fps — small enough for tests, shaped like the real thing.
    """
    h = hashlib.blake2b(content, digest_size=8).digest()
    duration = 1.0 + (int.from_bytes(h[:4], "big") % 4000) / 1000.0
    n_frames = max(1, int(duration * FRAME_FPS))
    return n_frames, duration


def _synthetic_frame_image(
    content: bytes, frame_no: int, encoder=None
) -> bytes:
    """Deterministic stand-in for one decoded thumbnail — a REAL PPM
    image (seeded 8×8-block scene upscaled to 80×48), so the downstream
    descriptor/resize kernels run their real code paths on it."""
    seed = int.from_bytes(
        hashlib.blake2b(
            content + frame_no.to_bytes(8, "big"), digest_size=8
        ).digest(),
        "big",
    )
    rng = np.random.default_rng(seed)
    blocks = rng.integers(0, 256, (6, 10, 3), dtype=np.uint8)
    img = np.kron(blocks, np.ones((8, 8, 1), dtype=np.uint8))
    return (encoder or IC.encode_ppm)(img)


def _sample_decoded(
    n_src: int,
    src_fps: float,
    src_w: int,
    src_h: int,
    payloads: Iterator[bytes],
    decode: Callable[[bytes], np.ndarray],
    fps: float,
    encoder=None,
) -> Iterator[tuple[int, float, bytes]]:
    """Shared G1 sampling core for constant-rate containers: sample a
    demuxed frame stream at `fps`, scale to height FRAME_HEIGHT with
    even width (ffmpeg's `fps=12,scale=-2:180`, hasher.js:87),
    PPM-encode.

    Sampling mirrors the stub's ffmpeg-fps-filter convention: output
    timestamps (i + 0.5)/fps for i in [0, floor(duration·fps)), each
    served by the source frame whose display interval contains it.
    `payloads` yields each source frame's undecoded bytes in one forward
    pass; `decode` runs once per source frame that some output slot
    samples, so a skipped frame costs only its demux."""
    duration = n_src / src_fps
    n_out = max(1, int(duration * fps))
    # source index for each output slot; clamp to the last real frame
    wanted: dict[int, list[int]] = {}
    for i in range(n_out):
        t = (i + 0.5) / fps
        j = min(n_src - 1, int(t * src_fps))
        wanted.setdefault(j, []).append(i)
    out_w = max(2, 2 * round(src_w * FRAME_HEIGHT / src_h / 2))
    for j, raw in enumerate(payloads):
        if j not in wanted:
            continue
        scaled = _bilinear_resize(decode(raw), FRAME_HEIGHT, out_w)
        blob = (encoder or IC.encode_ppm)(scaled)
        for i in wanted[j]:
            yield i, round((i + 0.5) / fps, 4), blob


def _sample_varrate(
    width: int,
    height: int,
    delays: "list[float]",
    frames: Iterator[np.ndarray],
    fps: float,
    encoder=None,
) -> Iterator[tuple[int, float, bytes]]:
    """Shared G1 core for VARIABLE-frame-rate containers (animated
    GIF / APNG / animated WebP — per-frame delays): output slots at
    t=(i+0.5)/fps map onto the source frame whose display interval
    [start_j, start_{j+1}) contains t. Decodes each source frame at
    most once, and only the frames actually sampled."""
    import bisect
    import itertools

    if not delays:
        return
    starts = list(itertools.accumulate([0.0] + list(delays[:-1])))
    duration = sum(delays)
    n_out = max(1, int(duration * fps))
    wanted: dict[int, list[int]] = {}
    for i in range(n_out):
        t = (i + 0.5) / fps
        j = max(0, min(len(starts) - 1, bisect.bisect_right(starts, t) - 1))
        wanted.setdefault(j, []).append(i)
    out_w = max(2, 2 * round(width * FRAME_HEIGHT / height / 2))
    for j, rgb in enumerate(frames):
        if j not in wanted:
            continue
        scaled = _bilinear_resize(rgb, FRAME_HEIGHT, out_w)
        blob = (encoder or IC.encode_ppm)(scaled)
        for i in wanted[j]:
            yield i, round((i + 0.5) / fps, 4), blob


def _sample_gif(
    content: bytes, fps: float, encoder=None
) -> Iterator[tuple[int, float, bytes]]:
    """REAL G1 for animated GIF (per-frame centisecond delays,
    functions/gifcodec.py)."""
    from . import gifcodec as GC

    info = GC.parse_gif_info(content)
    # the same 1 cs floor gif_frame_times/duration apply
    delays = [max(d, 1) / 100.0 for d in info.delays_cs]
    yield from _sample_varrate(
        info.width, info.height, delays, GC.iter_gif_frames(content), fps,
        encoder,
    )


def _sample_apng(
    content: bytes, fps: float, encoder=None
) -> Iterator[tuple[int, float, bytes]]:
    """REAL G1 for APNG (acTL/fcTL/fdAT demux + spec compositing,
    functions/apng.py)."""
    from . import apng as AP

    w, h, _n, delays = AP.apng_info(content)
    yield from _sample_varrate(
        w, h, list(delays), AP.iter_apng_frames(content), fps, encoder,
    )


def _sample_webp_anim(
    content: bytes, fps: float, encoder=None
) -> Iterator[tuple[int, float, bytes]]:
    """REAL G1 for animated WebP (VP8X/ANIM/ANMF demux + spec
    compositing, functions/webp.py; VP8L frames only)."""
    from . import webp as WB

    w, h, _n, delays = WB.webp_anim_info(content)
    yield from _sample_varrate(
        w, h, list(delays), WB.iter_webp_anim_frames(content), fps, encoder,
    )


def _sample_y4m(
    content: bytes, fps: float, encoder=None
) -> Iterator[tuple[int, float, bytes]]:
    """REAL G1 for Y4M containers (demux: functions/videocodec.py)."""
    hdr = VC.parse_header(content)
    n_src = VC.frame_count(content)
    yield from _sample_decoded(
        n_src, hdr.fps, hdr.width, hdr.height, VC.iter_frame_payloads(content),
        lambda raw: VC.decode_frame(hdr, raw), fps, encoder,
    )


def _sample_avi(
    content: bytes, fps: float, encoder=None
) -> Iterator[tuple[int, float, bytes]]:
    """REAL G1 for MJPEG AVI (RIFF demux + bit-exact jpegcodec)."""
    info = VC.parse_mjpeg_avi(content)
    n_src = VC.avi_frame_count(content)
    if n_src == 0:
        return
    yield from _sample_decoded(
        n_src, info.fps, info.width, info.height,
        VC.iter_avi_video_chunks(content), VC.decode_avi_frame, fps, encoder,
    )


def _sample_mp4(
    content: bytes, fps: float, encoder=None, track=None
) -> Iterator[tuple[int, float, bytes]]:
    """G1 for real .mp4 (the reference's ONLY accepted input,
    watcher.js:25-29): the ISOBMFF demux is REAL (functions/mp4 —
    sample table, stts/ctts timeline, stss keyframes, per-sample NAL
    payloads), so the sampling grid maps output slots onto the TRUE
    presentation timeline exactly as ffmpeg's fps filter would, and
    (r6) KEYFRAME samples of AVC tracks decode to REAL pixels through
    functions/avc. Inter-coded samples (and streams the correct-or-
    refuse decoder declines) keep the labeled deterministic stub —
    seeded from each sample's ACTUAL payload bytes, so frame identity
    still tracks the real bitstream there.

    ``track`` reuses a caller's parse (decode_frames probes the file
    first — a feature-length sample table shouldn't be built twice);
    parse_mp4 bounds-checks every sample at parse time, so truncated
    files were rejected to the stub before this generator runs."""
    import bisect

    from . import mp4 as MP

    if track is None:
        track = MP.parse_mp4(content)
    if not track.samples:
        return
    order = sorted(track.samples, key=lambda s: (s.pts, s.index))
    pts = [s.pts for s in order]
    # Duration is bounded by the SAMPLE timeline, never by the mdhd
    # header alone: a hostile/corrupt file declaring a huge duration
    # over one sample would otherwise make n_out explode (billions of
    # output slots). The last sample may display at most one generous
    # frame interval past its pts; mdhd only wins within that bound.
    tail = pts[-1] - pts[-2] if len(pts) > 1 else 1.0 / fps
    tail = min(max(tail, 1.0 / fps), 10.0)
    duration = min(max(track.duration, 0.0), pts[-1] + tail)
    duration = max(duration, pts[-1] + 1.0 / fps)
    # The SAMPLE timeline itself can be hostile too: stts deltas are
    # attacker-controlled 32-bit counts, so two samples with
    # delta≈2^31 at timescale=1 put pts[-1] in the billions of seconds
    # and the mdhd clamp above never engages. Bound the emitted grid
    # absolutely (no real ffmpeg input exceeds ~24 h) AND relatively
    # (a legitimate slideshow duplicates each source frame a bounded
    # number of times — 10 min of stills per sample at fps=12 is
    # already absurd); past either bound the tail slots are dropped
    # rather than looped over.
    n_out = max(1, int(duration * fps))
    n_out = min(
        n_out,
        int(_MAX_MEDIA_SECONDS * fps),
        len(order) * _MAX_DUP_PER_SAMPLE,
    )
    # r6 decoded KEYFRAME samples of AVC tracks for real (functions/avc
    # — baseline CAVLC I-frame decoder + the 8.7 in-loop filter); r7
    # adds single-reference P-slice decode AND single-ref-per-list
    # B-slice decode (spatial direct), so inter samples of CAVLC
    # streams carry real pixels for every frame type: a GOP cursor
    # walks samples in decode order from the governing keyframe with
    # a small reference DPB, exactly the all-frames sampling the
    # reference gets from ffmpeg's fps filter
    # (/root/reference/hasher.js:78-91). Parameter sets come from the
    # avcC config; any failure in a GOP's chain (CABAC, multi-ref,
    # weighted/temporal-direct B, corrupt data) falls back to the
    # labeled stub for the rest of that GOP only — the next keyframe
    # resets the cursor and the timeline never breaks.
    cursor = None
    if track.sps and track.pps and track.nal_length_size:
        try:
            cursor = _AvcGopCursor(content, track)
        except Exception:
            cursor = None
    img_cache: dict[int, bytes] = {}
    for i in range(n_out):
        t = (i + 0.5) / fps
        j = max(0, min(len(pts) - 1, bisect.bisect_right(pts, t) - 1))
        s = order[j]
        img = img_cache.get(j)
        if img is None:
            img = None
            if cursor is not None:
                img = cursor.decode_sample(s, encoder)
            if img is None:
                payload = MP.read_sample(content, s)
                img = _synthetic_frame_image(payload, s.index, encoder)
            img_cache[j] = img
        yield i, round(t, 4), img


class _AvcGopCursor:
    """Sequential AVC GOP decoder over an .mp4 sample table: decodes
    forward in decode (stsz/index) order, restarting at the governing
    keyframe when a target precedes the cursor, and keeps a small DPB
    of the most recent REFERENCE reconstructions (nal_ref_idc != 0)
    keyed by presentation time. P samples take the latest reference;
    B samples take the nearest past/future references by pts (the
    single-ref-per-list default lists). A decode failure poisons the
    remainder of its GOP (every later sample up to the next keyframe
    returns None -> the caller's stub) instead of re-walking the
    broken chain per sample."""

    def __init__(self, content: bytes, track):
        from . import avc as AV

        self._content = content
        self._nls = track.nal_length_size
        self.sps = AV.parse_sps(track.sps[0])
        self.pps = AV.parse_pps(track.pps[0])
        # DPB capacity: honor the stream's declared sliding-window
        # size (SPS max_num_ref_frames, §8.2.5.3 keeps the N most
        # recent references) up to the spec ceiling of 16, with a
        # floor of 8 so a slice activating up to the decoder's
        # 8-refs-per-list support always finds its references even
        # when the SPS under-declares. Keeping MORE than the window
        # is harmless: default lists order by recency/pts, so the
        # head entries a slice can activate are unchanged.
        self._dpb = max(8, min(16, self.sps.num_ref_frames))
        self._decode_list = sorted(track.samples, key=lambda s: s.index)
        self._pos_of_index = {
            s.index: p for p, s in enumerate(self._decode_list)
        }
        self._key_positions = [
            p for p, s in enumerate(self._decode_list) if s.keyframe
        ]
        self._pos = -1
        self._state = None
        # (pts, poc, state) of recent reference pics
        self._refs: list = []
        self._broken_key = None
        # POC predictor per 8.2.1.1: (PicOrderCntMsb, lsb) of the
        # previous reference picture in decode order; None = fresh
        self._poc_prev = None

    def _poc_of(self, nal: bytes, is_idr: bool) -> "int | None":
        """PicOrderCnt for the next picture in decode order
        (8.2.1.1, pic_order_cnt_type 0 with MSB wrap tracking; None
        for other POC types — only implicit weighted biprediction
        needs the value, and it refuses without one). MUST be called
        exactly once per decoded sample, in decode order."""
        from . import avc as AV

        lsb = AV.slice_poc_lsb(nal, self.sps)
        if lsb is None:
            return None
        max_lsb = 1 << self.sps.log2_max_pic_order_cnt_lsb
        if is_idr or self._poc_prev is None:
            prev_msb, prev_lsb = 0, 0
        else:
            prev_msb, prev_lsb = self._poc_prev
        if lsb < prev_lsb and prev_lsb - lsb >= max_lsb // 2:
            msb = prev_msb + max_lsb
        elif lsb > prev_lsb and lsb - prev_lsb > max_lsb // 2:
            msb = prev_msb - max_lsb
        else:
            msb = prev_msb
        if nal[0] >> 5:  # reference pictures update the predictor
            self._poc_prev = (msb, lsb)
        return msb + lsb

    def _slice_nal(self, sample) -> "list[bytes] | None":
        """ALL coded slice NALs of the sample in order (r8: real
        streams may tile a picture into several slices); None when
        the sample carries none."""
        from . import mp4 as MP

        payload = MP.read_sample(self._content, sample)
        nals = [nal for nal in MP.iter_nals(payload, self._nls)
                if nal and (nal[0] & 0x1F) in (1, 5)]
        return nals or None

    def decode_sample(self, sample, encoder) -> bytes | None:
        """Decode the given sample's frame (scaled + encoded like every
        other G1 source); None on any failure in its reference chain."""
        import bisect as _b

        from . import avc as AV
        from . import mp4 as MP

        target = self._pos_of_index.get(sample.index)
        if target is None:
            return None
        ki = _b.bisect_right(self._key_positions, target) - 1
        if ki < 0:
            return None  # no keyframe governs this sample
        key = self._key_positions[ki]
        if key == self._broken_key:
            return None  # this GOP's chain already failed
        if self._state is not None and key <= self._pos <= target:
            start = self._pos + 1
        else:
            start = key  # jumped GOPs or went backward: restart
            self._state = None
            self._refs = []
            self._poc_prev = None
        try:
            for p in range(start, target + 1):
                s = self._decode_list[p]
                nal = self._slice_nal(s)
                if nal is None:
                    raise AV.AVCError("sample carries no coded slice")
                kind = AV.slice_kind(nal[0])
                poc = self._poc_of(nal[0], s.keyframe)
                if s.keyframe or kind == "i":
                    st = AV.decode_frame(self.sps, self.pps, nal,
                                         poc=poc)
                elif kind == "p":
                    if not self._refs:
                        raise AV.AVCError("P sample without a stored"
                                          " reference")
                    # default RefPicList0 (8.2.4.2.1): short-term by
                    # decode recency, then LONG-term by
                    # LongTermFrameIdx ascending; POC context
                    # recorded so a later temporal-direct B can map
                    # this picture's references
                    st_refs = [r for r in self._refs if r[3] is None]
                    lt_refs = sorted(
                        (r for r in self._refs if r[3] is not None),
                        key=lambda r: r[3])
                    l0 = list(reversed(st_refs)) + lt_refs
                    st = AV.decode_frame(
                        self.sps, self.pps, nal,
                        ref=[r[2] for r in l0],
                        poc=poc,
                        ref_pocs=[r[1] for r in l0],
                        ref_lt=[r[3] for r in l0],
                    )
                else:  # B: default lists around this pts (8.2.4.2.3)
                    st_pool = [r for r in self._refs if r[3] is None]
                    lt_refs = sorted(
                        (r for r in self._refs if r[3] is not None),
                        key=lambda r: r[3])
                    past = sorted((r for r in st_pool
                                   if r[0] < s.pts),
                                  key=lambda r: -r[0])
                    future = sorted((r for r in st_pool
                                     if r[0] > s.pts),
                                    key=lambda r: r[0])
                    if not past or not future:
                        raise AV.AVCError("B sample without both"
                                          " references in the DPB")
                    # long-term refs append AFTER short-term in BOTH
                    # lists, ordered by LongTermFrameIdx (8.2.4.2.4)
                    l0 = past + future + lt_refs
                    l1 = future + past + lt_refs
                    st = AV.decode_frame(
                        self.sps, self.pps, nal,
                        ref=[r[2] for r in l0],
                        ref1=[r[2] for r in l1],
                        poc=poc,
                        ref_pocs=[r[1] for r in l0],
                        ref1_pocs=[r[1] for r in l1],
                        ref_lt=[r[3] for r in l0],
                        ref1_lt=[r[3] for r in l1],
                    )
                if nal[0][0] >> 5:  # nal_ref_idc != 0: a ref pic
                    if s.keyframe:
                        self._refs = []  # IDR empties the DPB
                    cur_lt = 0 if (s.keyframe
                                   and st.idr_long_term) else None
                    max_fn = 1 << self.sps.log2_max_frame_num

                    def pic_num_of(entry):
                        fn = entry[2].frame_num
                        fn = fn if fn <= st.frame_num else fn - max_fn
                        return fn

                    for op in (st.mmco or ()):
                        # 8.2.5.4: marking ops against this DPB;
                        # frames, so LongTermPicNum == FrameIdx
                        if op[0] == 1:
                            pnx = st.frame_num - (op[1] + 1)
                            if pnx < 0:
                                pnx += max_fn
                            pnx = (pnx if pnx <= st.frame_num
                                   else pnx - max_fn)
                            self._refs = [
                                r for r in self._refs
                                if r[3] is not None
                                or pic_num_of(r) != pnx
                            ]
                        elif op[0] == 2:
                            self._refs = [
                                r for r in self._refs if r[3] != op[1]
                            ]
                        elif op[0] == 3:
                            pnx = st.frame_num - (op[1] + 1)
                            if pnx < 0:
                                pnx += max_fn
                            pnx = (pnx if pnx <= st.frame_num
                                   else pnx - max_fn)
                            self._refs = [
                                r for r in self._refs if r[3] != op[2]
                            ]
                            self._refs = [
                                (r[0], r[1], r[2], op[2])
                                if (r[3] is None
                                    and pic_num_of(r) == pnx)
                                else r
                                for r in self._refs
                            ]
                        elif op[0] == 4:
                            self._refs = [
                                r for r in self._refs
                                if r[3] is None or r[3] <= op[1] - 1
                            ]
                        elif op[0] == 6:
                            self._refs = [
                                r for r in self._refs if r[3] != op[1]
                            ]
                            cur_lt = op[1]
                    self._refs.append((s.pts, poc, st, cur_lt))
                    # sliding window (8.2.5.3): long-term pictures
                    # are never evicted implicitly; trim the OLDEST
                    # short-term entries past capacity
                    excess = len(self._refs) - self._dpb
                    if excess > 0:
                        kept = []
                        for r in self._refs:
                            if excess > 0 and r[3] is None:
                                excess -= 1
                                continue
                            kept.append(r)
                        self._refs = kept
                self._state = st
                self._pos = p
        except (AV.AVCError, MP.MP4Error):
            self._broken_key = key
            self._state = None
            self._refs = []
            self._pos = -1
            return None
        rgb = AV.frame_rgb(self._state, self.sps)
        h, w = rgb.shape[:2]
        out_w = max(2, 2 * round(w * FRAME_HEIGHT / h / 2))
        scaled = _bilinear_resize(rgb, FRAME_HEIGHT, out_w)
        return (encoder or IC.encode_ppm)(scaled)


def _video_rows(
    content: bytes, fps: float, encoder=None
) -> Iterator[tuple[int, float, bytes]]:
    """G1 for one video blob: (frame_no, time, image) rows, from the
    container's real demux + decode where it is supported, else from the
    deterministic synthetic-scene stub."""
    sampler = None
    if VC.is_y4m(content):
        sampler = _sample_y4m
    elif content[:6] in (b"GIF87a", b"GIF89a"):
        from . import gifcodec as GC

        try:  # multi-frame GIFs sample like video; damaged fall to stub
            if GC.parse_gif_info(content).n_frames >= 1:
                sampler = _sample_gif
        except GC.GIFError:
            sampler = None
    elif content[:8] == b"\x89PNG\r\n\x1a\n":
        from . import apng as AP

        try:  # APNG animates; static PNG keeps the stub
            # (a still image is not a video timeline)
            if AP.is_apng(content):
                AP.apng_info(content)  # full validation
                sampler = _sample_apng
        except AP.APNGError:
            sampler = None
    elif content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        from . import webp as WB

        try:  # animated WebP only; static/lossy -> stub
            if WB.is_animated_webp(content):
                WB.webp_anim_info(content)
                sampler = _sample_webp_anim
        except WB.WebPError:
            sampler = None
    elif VC.is_avi(content):
        # MJPEG only: another codec, no video chunk, or a first sampled
        # frame that fails to decode falls to the stub. That first
        # decode is the probe, so no frame is decoded twice.
        rows = _sample_avi(content, fps, encoder)
        try:
            first = next(rows, None)
        except VC.AVIError:
            first = None
        if first is not None:
            yield first
            yield from rows
            return
    else:
        from . import mp4 as MP

        if MP.is_mp4(content):
            try:  # real demux; damaged/fragmented/truncated
                # → stub (parse_mp4 wraps corrupt-box errors
                # and bounds-checks samples at parse time)
                track = MP.parse_mp4(content)
                if track.samples:
                    def sampler(c, f, e=None, _t=track):
                        return _sample_mp4(c, f, e, track=_t)
            except MP.MP4Error:
                sampler = None
    if sampler is not None:
        yield from sampler(content, fps, encoder)
        return
    n_frames, _ = _fake_video_params(content)
    for i in range(n_frames):
        # first sample at half the frame interval, like ffmpeg's
        # fps filter; toFixed(4) parity via round
        yield i, round((i + 0.5) / fps, 4), _synthetic_frame_image(content, i, encoder)


def decode_frames(
    videos: DataFrame, fps: float = FRAME_FPS, thumb_format: str = "ppm"
) -> DataFrame:
    """G1 — video → frame explode (1 video row → N frame rows).

    Input: a `binaryFile`-shaped DataFrame (path, content, ...). Output:
    FRAME_SCHEMA rows, timecodes at 1/fps spacing mirroring ffmpeg's
    `fps=12,scale=-2:180,showinfo` sampling + pts_time parse
    (/root/reference/hasher.js:78-99), times rounded to 4 decimals like
    the reference's toFixed(4).

    Container support: Y4M (YUV4MPEG2) and MJPEG AVI blobs demux +
    decode FOR REAL — pure-stdlib slicing + numpy color conversion /
    the bit-exact baseline JPEG decoder (_sample_y4m, _sample_avi);
    the animated-image trio — GIF, APNG, animated WebP (VP8L) — plays
    its variable-rate timeline through the spec compositors
    (functions/{gifcodec,apng,webp}, _sample_varrate), while STATIC
    image bytes keep the stub (a still image is not a timeline);
    real .mp4 demuxes FOR REAL too (functions/mp4: ISOBMFF sample
    tables incl. fragmented/moof, stts/ctts timeline, stss keyframes)
    and AVC KEYFRAMES decode to real pixels (functions/avc, r6);
    inter-coded samples keep the deterministic stub seeded from the
    true per-sample NAL payloads (P/B decode needs cross-GOP motion
    compensation — with PyAV the stub body becomes open-container →
    sample → scale → encode, signature unchanged);
    other bytes fall back to the deterministic synthetic-scene stub.

    `thumb_format`: "ppm" (default; uncompressed, cheapest to re-decode
    downstream) or "jpeg" — the reference's own thumbnail wire format
    (`-q:v 2` ffmpeg output, hasher.js:83-85), written by the
    interoperable encoder in functions/jpegcodec (~10× smaller frames
    when the frame table itself is persisted or shipped).

    mapInPandas: each Arrow batch of videos yields frame batches without
    materializing all frames of a partition at once. Partition by video
    file upstream for even work distribution (one ~2h video ≈ 86k
    frames ≈ one task's worth).
    """
    if thumb_format == "ppm":
        encoder = IC.encode_ppm
    elif thumb_format == "jpeg":
        from .jpegcodec import encode_jpeg

        # -q:v 2 is near the top of ffmpeg's mjpeg quality ladder;
        # quality 93 lands in the same quant-table ballpark
        def encoder(img):
            return encode_jpeg(img, quality=93)
    else:
        raise ValueError(f"unknown thumb_format {thumb_format!r}")

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"file": [], "frame_no": [], "time": [], "image": []}
            for path, content in zip(pdf["path"], pdf["content"]):
                rel = "/".join(str(path).split("/")[-2:])  # imdbID/fileName (P1)
                for i, t, image in _video_rows(bytes(content), fps, encoder):
                    out["file"].append(rel)
                    out["frame_no"].append(i)
                    out["time"].append(t)
                    out["image"].append(image)
            yield pd.DataFrame(out)

    return videos.mapInPandas(_decode, schema=FRAME_SCHEMA)


EMBED_DIM = 100  # reference collection dim (loader.js:44)


def _fake_descriptor(image: bytes, dim: int) -> tuple[str, list[float]]:
    """Fallback descriptor for bytes that are not decodable images:
    deterministic blake2 expansion, hi = hex identity. Keeps the
    pipeline total on arbitrary binary input (e.g. corrupt thumbnails),
    mirroring the reference's behavior of still indexing whatever LIRE
    emits for odd inputs."""
    h = hashlib.blake2b(image, digest_size=16).hexdigest()
    vals: list[float] = []
    counter = 0
    raw = b""
    while len(vals) < dim:
        raw = hashlib.blake2b(
            image + counter.to_bytes(4, "big"), digest_size=64
        ).digest()
        vals.extend(float(b) for b in raw)
        counter += 1
    return h, vals[:dim]


def reference_feature_vector(rgb: np.ndarray, algo: str) -> np.ndarray:
    """The EXACT per-algo feature vector the reference's indexer feeds
    BitSampling (each jar class's getFeatureVector with its default
    constructor): cl = ColorLayout(21, 6) -> 33 dims, eh = 80 bins,
    oh = 64 bins, sc = 64 coeffs (head zeroed), ce = 144, fc = 192,
    jc = 168 (raw half-integer averages)."""
    if algo == "cl":
        y, cb, cr = CL.color_layout(rgb, n_y=21, n_c=6)
        return np.concatenate([y, cb, cr]).astype(np.float64)
    if algo == "eh":
        return EH.edge_histogram(rgb).astype(np.float64)
    if algo == "oh":
        return OH.opponent_histogram(rgb).astype(np.float64)
    if algo == "sc":
        return SCD.scalable_color(rgb).astype(np.float64)
    if algo == "ce":
        return CE.cedd(rgb).astype(np.float64)
    if algo == "fc":
        return FC.fcth(rgb).astype(np.float64)
    if algo == "jc":
        return FC.jcd(rgb)
    if algo == "fo":
        return FO.fuzzy_opponent_histogram(rgb)
    if algo == "jh":
        return JH.joint_histogram(rgb)
    if algo == "ac":
        return AC.auto_color_correlogram(rgb)
    if algo == "ph":
        return PH.phog(rgb)
    if algo == "ad":
        return AD.accid(rgb)
    raise ValueError(
        f"unsupported descriptor algo {algo!r} "
        "(cl, eh, oh, sc, ce, fc, jc, fo, jh, ac, ph, ad)"
    )


def _describe(
    image: bytes, dim: int, algo: str = "cl"
) -> tuple[str, list[float], str]:
    """G2 kernel: one decode and one descriptor pass give an image's
    (hi, vector, ha) — the reference's hasher likewise extracts one LIRE
    feature per thumbnail and writes both `_hi` and `_ha` from it
    (hasher.js:114-135). `algo` selects from the reference's whitelist
    (hasher.js:28-43); every kernel is bit-exact vs the reference's
    lire.jar.

    - vector: the engine's descriptor (120 ColorLayout coefficients at
      the full 64/28 grid for `cl`, the jar's feature vector otherwise)
      padded/truncated to `dim`, the same P10 pad/truncate the
      reference's loader applies to hash-token vectors (loader.js
      getNormalizedCharCodesVector(…, 100, 1)).
    - hi: hex of the full quantized descriptor — the `_hi`
      feature-identity role (exact-dup detection in D1).
    - ha: BitSampling tokens of the jar's feature vector
      (`reference_feature_vector`; for `cl` the 21/6 prefix of the
      64/28 coefficients).

    Bytes that are not decodable images fall back to the blake2
    `_fake_descriptor` (hi and vector at `dim`, ha over EMBED_DIM)."""
    try:
        rgb = IC.decode_image(image)
    except IC.UnsupportedImageError:
        hi, out = _fake_descriptor(image, dim)
        _, vals = _fake_descriptor(image, EMBED_DIM)
        return hi, out, BS.ha_tokens(np.asarray(vals, dtype=np.float64))
    if algo == "cl":
        y, cb, cr = CL.color_layout(rgb, n_y=64, n_c=28)
        vec = np.concatenate([y, cb, cr]).astype(np.float64)
        ref_vec = np.concatenate([y[:21], cb[:6], cr[:6]]).astype(np.float64)
    else:
        ref_vec = reference_feature_vector(rgb, algo)
        if algo == "sc":
            # ScalableColor coefficients are SIGNED (-255..255). The
            # generic embedding/hash-token pipeline requires non-negative
            # integer tokens (P9 hex decode has no sign convention — the
            # reference's own tokens are BitSampling hashes, never
            # negative), so this adapter shifts by +255 on BOTH ingest and
            # query paths — self-consistent for the J2 cosine/IP pipeline.
            # The true signed LIRE metric (L1) lives in
            # operators/similarity.descriptor_topk metric='sc' over the
            # raw sc_bins column.
            vec = ref_vec + 255
        elif algo == "jc":
            # JCD averages CEDD/FCTH bands into half-integers; double them
            # so the hex-token round-trip stays lossless (the jar's own
            # byte serialization stores JCD values x2 for the same reason).
            vec = ref_vec * 2.0
        else:
            vec = ref_vec
    # Identity hex of the quantized descriptor (the `_hi` role). Bytes are
    # the low 8 bits of each coefficient — sc coefficients can be negative,
    # so wrap explicitly (two's complement) instead of a float->uint8 cast.
    hi = bytes((vec.astype(np.int64) & 0xFF).astype(np.uint8)).hex()
    if len(vec) >= dim:
        out = vec[:dim]
    else:
        out = np.zeros(dim, dtype=np.float64)
        out[: len(vec)] = vec
    return hi, [float(x) for x in out], BS.ha_tokens(ref_vec)


DESCRIPTOR_COLUMN_SCHEMAS = {
    "cl": "cl_y array<int>, cl_cb array<int>, cl_cr array<int>",
    "eh": "eh_bins array<int>",
    "oh": "oh_bins array<int>",
    "sc": "sc_bins array<int>",
    "ce": "ce_bins array<int>",
    "fc": "fc_bins array<int>",
    "jc": "jc_bins array<double>",
    "fo": "fo_bins array<double>",
    "jh": "jh_bins array<double>",
    "ac": "ac_bins array<double>",
    "ph": "ph_bins array<int>",
    "ad": "ad_bins array<double>",
}


def descriptor_columns(
    frames: DataFrame,
    algo: str = "cl",
    image_col: str = "image",
    n_y: int = 64,
    n_c: int = 28,
) -> DataFrame:
    """Append the TYPED raw-descriptor column(s) that
    operators/similarity.descriptor_topk scores with the reference's
    own matching metrics: `cl` -> (cl_y, cl_cb, cl_cr) coefficient
    arrays; every other algo -> a single `{algo}_bins` array (for `sc`
    the stored state is haar[0:64], the serialized form getDistance
    compares). Undecodable bytes yield NULL columns — descriptor_topk
    sorts them last.

    Arrow-vectorized pandas UDF over the binary column; the descriptor
    columns parquet-prune independently of the embedding columns, so a
    descriptor-space search scans only what it scores."""
    if algo not in DESCRIPTOR_COLUMN_SCHEMAS:
        raise ValueError(
            f"unsupported descriptor algo {algo!r} "
            f"({', '.join(DESCRIPTOR_COLUMN_SCHEMAS)})"
        )
    schema = DESCRIPTOR_COLUMN_SCHEMAS[algo]
    out_t = schema  # pandas_udf accepts the DDL string

    @F.pandas_udf(out_t)
    def _desc(images: pd.Series) -> pd.DataFrame:
        cols: dict[str, list] = {}
        names = [c.split()[0] for c in schema.split(", ")]
        for n in names:
            cols[n] = []
        for img in images:
            try:
                rgb = IC.decode_image(bytes(img))
            except IC.UnsupportedImageError:
                for n in names:
                    cols[n].append(None)
                continue
            if algo == "cl":
                y, cb, cr = CL.color_layout(rgb, n_y=n_y, n_c=n_c)
                cols["cl_y"].append([int(v) for v in y])
                cols["cl_cb"].append([int(v) for v in cb])
                cols["cl_cr"].append([int(v) for v in cr])
            elif algo == "sc":
                cols["sc_bins"].append(
                    [int(v) for v in SCD.haar_histogram(rgb)[:64]]
                )
            else:
                vec = reference_feature_vector(rgb, algo)
                if schema.endswith("array<int>"):
                    cols[names[0]].append([int(v) for v in vec])
                else:
                    cols[names[0]].append([float(v) for v in vec])
        return pd.DataFrame(cols)

    d = _desc(F.col(image_col))
    out = frames
    for c in [c.split()[0] for c in schema.split(", ")]:
        out = out.withColumn(c, d[c])
    return out


def image_ha_tokens(image: bytes, algo: str = "cl") -> str:
    """Reference-compatible `_ha` token string for one image: the jar's
    per-algo feature vector through BitSampling (functions/bitsampling),
    rendered as space-joined lowercase hex — value-compatible with an
    artifact produced by the reference's own indexer for the same
    image. Total: undecodable bytes hash the blake2 fallback vector
    (deterministic, engine-internal)."""
    return _describe(image, EMBED_DIM, algo)[2]


def embed_images(
    frames: DataFrame,
    image_col: str = "image",
    dim: int = EMBED_DIM,
    algo: str = "cl",
) -> DataFrame:
    """G2/G3 — image → (hi, vector, ha) descriptor extraction: REAL
    MPEG-7/LIRE descriptors for decodable images (see `_describe`).

    One code path for ingest and query (the reference splits G2/G3
    between the LIRE indexer and Solr only as a deployment artifact —
    SURVEY §2.4). Appends `hi: string` (descriptor identity hex),
    `vector: array<float>` (the descriptor-space embedding), and
    `ha: string` — the reference-compatible BitSampling token string
    (`image_ha_tokens`), value-identical to what the reference's own
    indexer emits for the same image.

    Arrow-vectorized pandas UDF over the binary column; at bulk-ingest
    scale this is the CPU-bound stage, parallelized by input partitioning
    (the reference's `-n 16` thread pool becomes executor cores). One
    decode serves descriptor, identity, and hash outputs.
    """
    out_t = StructType(
        [
            StructField("hi", StringType(), False),
            StructField("vector", ArrayType(FloatType()), False),
            StructField("ha", StringType(), False),
        ]
    )

    @F.pandas_udf(out_t)
    def _embed(images: pd.Series) -> pd.DataFrame:
        his: list[str] = []
        vecs: list[list[float]] = []
        has: list[str] = []
        for img in images:
            hi, vec, ha = _describe(bytes(img), dim, algo)
            his.append(hi)
            vecs.append(vec)
            has.append(ha)
        return pd.DataFrame({"hi": his, "vector": vecs, "ha": has})

    desc = _embed(F.col(image_col))
    return (
        frames.withColumn("hi", desc["hi"])
        .withColumn("vector", desc["vector"])
        .withColumn("ha", desc["ha"])
    )


def embed_query_image(
    image: bytes,
    dim: int = EMBED_DIM,
    algo: str = "cl",
    space: str = "hash",
) -> np.ndarray:
    """Driver-side single-image embed for the query path (G3),
    L2-normalized — mirrors searcher.js:40-60. One query image is one
    row; running a Spark job for it would be overhead theater.

    space='hash' (default, reference parity): the BitSampling hash
    values (`image_ha_tokens`), padded/truncated to `dim` and
    normalized — EXACTLY the vector the reference's loader builds from
    `_ha` (getNormalizedCharCodesVector, loader.js:108-130), so queries
    match an index ingested through `frames_to_hashes`.
    space='descriptor': the raw descriptor-space embedding (the
    engine's `vector` column) for descriptor-space search."""
    if space == "hash":
        v = BS.decode_ha(image_ha_tokens(image, algo))
        if len(v) >= dim:
            v = v[:dim]
        else:
            v = np.concatenate([v, np.zeros(dim - len(v))])
    elif space == "descriptor":
        _, vec, _ = _describe(image, dim, algo)
        v = np.asarray(vec, dtype=np.float64)
    else:
        raise ValueError(f"unknown embed space {space!r} (hash, descriptor)")
    norm = float(np.sqrt((v * v).sum()))
    return v / norm if norm > 0 else v


def sample_frames(
    frames: DataFrame,
    target_fps: float,
    source_fps: float = FRAME_FPS,
    frame_no_col: str = "frame_no",
) -> DataFrame:
    """Frame sampling as a pure relational filter: keep every
    round(source_fps/target_fps)-th frame. No UDF — the predicate
    reaches the scan, so a 12→1 fps downsample prunes 11/12 of the rows
    before any downstream (embed) work runs. Use AFTER decode when
    frames are materialized; to skip decode work entirely, pass a lower
    `fps` to decode_frames instead (ffmpeg-side sampling)."""
    if target_fps >= source_fps:
        return frames
    step = max(1, int(round(source_fps / target_fps)))
    return frames.filter((F.col(frame_no_col) % step) == 0)


def resize_images(
    frames: DataFrame,
    height: int = FRAME_HEIGHT,
    image_col: str = "image",
    out_format: str = "ppm",
) -> DataFrame:
    """Image resize (scale=-2:height, the reference's ffmpeg geometry —
    hasher.js:87): binary in → binary + (width, height) metadata out.

    REAL for decodable images: bilinear resample to `height`, width
    chosen to keep aspect and forced even (ffmpeg's -2), re-encoded as
    PPM or JPEG (`out_format` — "jpeg" is the reference's own thumbnail
    format, ~10× smaller when the resized table persists). Undecodable
    bytes fall back to a deterministic stub so the column stays total.
    Arrow-vectorized pandas UDF returning a struct.
    """
    if out_format == "ppm":
        _enc = IC.encode_ppm
    elif out_format == "jpeg":
        from .jpegcodec import encode_jpeg

        def _enc(img):
            return encode_jpeg(img, quality=93)
    else:
        raise ValueError(f"unknown out_format {out_format!r}")
    out_t = StructType(
        [
            StructField("image", BinaryType(), False),
            StructField("width", LongType(), False),
            StructField("height", LongType(), False),
        ]
    )

    @F.pandas_udf(out_t)
    def _resize(images: pd.Series) -> pd.DataFrame:
        imgs: list[bytes] = []
        ws: list[int] = []
        hs: list[int] = []
        for img in images:
            img = bytes(img)
            try:
                rgb = IC.decode_image(img)
                src_h, src_w = rgb.shape[:2]
                w = max(2, int(round(src_w * height / src_h / 2)) * 2)
                resized = _bilinear_resize(rgb, height, w)
                imgs.append(_enc(resized))
            except IC.UnsupportedImageError:
                # fake source aspect in [4:3, ~21:9], even width
                h8 = hashlib.blake2b(img, digest_size=8).digest()
                aspect = 4 / 3 + (int.from_bytes(h8[:2], "big") % 1000) / 1000.0
                w = int(round(height * aspect / 2)) * 2
                imgs.append(
                    hashlib.blake2b(
                        img + b"resize" + height.to_bytes(4, "big"),
                        digest_size=32,
                    ).digest()
                )
            ws.append(w)
            hs.append(height)
        return pd.DataFrame({"image": imgs, "width": ws, "height": hs})

    resized = _resize(F.col(image_col))
    return (
        frames.withColumn("__r", resized)
        .withColumn(image_col, F.col("__r.image"))
        .withColumn("width", F.col("__r.width"))
        .withColumn("height", F.col("__r.height"))
        .drop("__r")
    )


def _bilinear_resize(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Pixel-center-aligned bilinear resample, (H, W, 3) uint8 → same.

    Row-major: the image is viewed as (H, W·3), the source rows the
    output needs are interpolated horizontally, then the rows of that
    result vertically — every output element gets the float64 operations
    (a·(1-wx) + b·wx, then top·(1-wy) + bot·wy) of the textbook
    formula, in the same order, while numpy's inner loops run over whole
    rows instead of 3-element pixels."""
    h, w, c = img.shape
    ys = (np.arange(out_h, dtype=np.float64) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w, dtype=np.float64) + 0.5) * w / out_w - 0.5
    y0f = np.floor(ys)
    x0f = np.floor(xs)
    wy = (ys - y0f)[:, None]
    wx = np.repeat(xs - x0f, c)
    y0 = np.clip(y0f.astype(np.int64), 0, h - 1)
    y1 = np.clip(y0f.astype(np.int64) + 1, 0, h - 1)
    x0 = np.clip(x0f.astype(np.int64), 0, w - 1)
    x1 = np.clip(x0f.astype(np.int64) + 1, 0, w - 1)
    # flat (W·3) column of each output element's left/right source sample
    cx0 = (x0[:, None] * c + np.arange(c)).ravel()
    cx1 = (x1[:, None] * c + np.arange(c)).ravel()
    # only the source rows some output row reads (all of them when
    # upscaling, at most 2·out_h when downscaling)
    rows, at = np.unique(np.concatenate([y0, y1]), return_inverse=True)
    src = img.reshape(h, w * c)[rows]
    # uint8 samples promote exactly to float64 in the products
    horiz = src[:, cx0] * (1 - wx) + src[:, cx1] * wx
    out = horiz[at[:out_h]] * (1 - wy) + horiz[at[out_h:]] * wy
    return np.clip(np.rint(out), 0, 255).astype(np.uint8).reshape(out_h, out_w, c)


AUDIO_FEATURE_DIM = 32


def audio_features(
    audio: DataFrame,
    dim: int = AUDIO_FEATURE_DIM,
    content_col: str = "content",
    path_col: str = "path",
    resample_to: int | None = None,
) -> DataFrame:
    """Audio → fixed-dim feature row (the audio leg of the multimodal
    surface): (file, duration_sec, sample_rate, features: array<float>).

    mapInPandas over binaryFile rows, one row per clip. WAV
    (functions/wavcodec — integer PCM 8/16/24/32, IEEE float, G.711
    A-law/mu-law, IMA + MS ADPCM, extensible), AIFF/AIFF-C (same
    module — 80-bit COMM rate, PCM both byte orders, floats, G.711),
    and FLAC (functions/flac — in-engine lossless decode,
    MD5-verified) decode FOR REAL — then a numpy Hann-windowed average power spectrum
    pooled into `dim` log-energy bands (_wav_features /
    _aiff_features / _flac_features). Other bytes keep the deterministic
    blake2 stub so the plumbing stays total; with librosa/soundfile
    that fallback becomes load → resample → log-mel pooling at the
    same schema. Features feed the same similarity/dedup operators as
    image vectors.

    ``resample_to``: convert every really-decoded clip to one common
    rate (windowed-sinc, wavcodec.resample) before pooling — band
    energies are rate-relative, so cross-rate dedup/similarity needs
    this; the reported sample_rate becomes the common rate. None
    keeps each clip's native rate (the historical behavior).
    """
    out_t = StructType(
        [
            StructField("file", StringType(), False),
            StructField("duration_sec", DoubleType(), False),
            StructField("sample_rate", LongType(), False),
            StructField("features", ArrayType(FloatType()), False),
        ]
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "file": [], "duration_sec": [], "sample_rate": [], "features": []
            }
            for path, content in zip(pdf[path_col], pdf[content_col]):
                content = bytes(content)
                out["file"].append("/".join(str(path).split("/")[-2:]))
                real = None
                if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
                    try:
                        real = _wav_features(content, dim, resample_to)
                    except Exception:
                        real = None  # malformed RIFF → stub fallback
                elif content[:4] == b"FORM" and content[8:12] in (
                    b"AIFF", b"AIFC",
                ):
                    try:
                        real = _aiff_features(content, dim, resample_to)
                    except Exception:
                        real = None  # malformed/compressed → stub
                elif content[:4] == b"fLaC":
                    try:
                        real = _flac_features(content, dim, resample_to)
                    except Exception:
                        real = None  # malformed stream → stub
                if real is not None:
                    duration, sr, feats = real
                    out["duration_sec"].append(duration)
                    out["sample_rate"].append(sr)
                    out["features"].append(feats)
                    continue
                h = hashlib.blake2b(content, digest_size=16).digest()
                out["duration_sec"].append(
                    1.0 + (int.from_bytes(h[:4], "big") % 30000) / 1000.0
                )
                out["sample_rate"].append(
                    [16000, 22050, 44100][int.from_bytes(h[4:6], "big") % 3]
                )
                raw = hashlib.blake2b(content + b"mfcc", digest_size=dim).digest()
                out["features"].append([float(b) / 255.0 for b in raw])
            yield pd.DataFrame(out)

    return audio.mapInPandas(_extract, schema=out_t)


_WAV_WIN = 1024  # analysis window (Hann) — ~23 ms at 44.1 kHz
_WAV_HOP = 512


def _wav_features(content: bytes, dim: int,
        resample_to: int | None = None) -> tuple[float, int, list[float]]:
    """REAL audio kernel for WAV: in-engine RIFF decode
    (functions/wavcodec — integer PCM 8/16/24/32, IEEE float, G.711
    A-law/mu-law, IMA and MS ADPCM, WAVE_FORMAT_EXTENSIBLE) → mono
    mix → Hann-windowed average power spectrum (numpy rfft) → `dim`
    equal frequency bands of log10(1 + mean power). Returns
    (duration_sec, sample_rate, features). Raises WavError on
    malformed/unsupported payloads (caller falls back to the stub).
    PCM normalization conventions are identical to the former stdlib
    `wave` path, so features are unchanged for PCM inputs."""
    from .wavcodec import decode_wav

    sr, samples = decode_wav(content)
    return _pool_clip(samples, sr, dim, resample_to)


def _aiff_features(content: bytes, dim: int,
        resample_to: int | None = None) -> tuple[float, int, list[float]]:
    """REAL audio kernel for AIFF/AIFF-C: in-engine FORM decode
    (functions/wavcodec.decode_aiff — PCM NONE/sowt/twos at
    8/16/24/32-bit, fl32/fl64 floats, G.711 alaw/ulaw; the 80-bit
    extended-float COMM rate parsed from spec), same spectral pooling
    as WAV. Formerly stdlib `aifc`, which is removed in Python 3.13;
    PCM normalization conventions are unchanged, so features are
    identical for the widths aifc handled."""
    from .wavcodec import decode_aiff

    sr, samples = decode_aiff(content)
    return _pool_clip(samples, sr, dim, resample_to)


def _flac_features(content: bytes, dim: int,
        resample_to: int | None = None) -> tuple[float, int, list[float]]:
    """REAL audio kernel for FLAC: in-engine lossless decode
    (functions/flac, spec-built, MD5-verified against STREAMINFO) →
    mono mix normalized by the stream's bit depth → the same spectral
    pooling as WAV/AIFF. Raises on malformed streams (caller falls
    back to the stub)."""
    from .flac import decode_flac, flac_streaminfo

    bps = flac_streaminfo(content)["bits_per_sample"]
    sr, samples = decode_flac(content)
    if samples.shape[0] == 0:
        raise ValueError("empty FLAC stream")
    # full-scale normalization, same convention as the WAV/AIFF kernels
    x = samples.astype(np.float64) / float(1 << (bps - 1))
    return _pool_clip(x, sr, dim, resample_to)


def _pool_clip(
    samples: np.ndarray, sr: int, dim: int, resample_to: int | None
) -> tuple[float, int, list[float]]:
    """Shared decode tail: optional common-rate conversion
    (wavcodec.resample) then mono mix + spectral pooling. Duration is
    measured at the NATIVE rate (conversion must not change it)."""
    n_native = samples.shape[0]
    duration = n_native / float(sr)
    if resample_to and resample_to != sr:
        from .wavcodec import resample as _rs

        samples = _rs(samples, sr, resample_to)
        sr = resample_to
    d, srr, feats = _spectral_features(
        samples.mean(axis=1), samples.shape[0], sr, dim
    )
    return duration, srr, feats


def _spectral_features(
    x: np.ndarray, n: int, sr: int, dim: int
) -> tuple[float, int, list[float]]:
    """Shared spectral pooling: Hann-windowed average power spectrum →
    `dim` equal log-energy bands (see _wav_features docstring)."""
    duration = n / float(sr)
    if len(x) < _WAV_WIN:
        x = np.pad(x, (0, _WAV_WIN - len(x)))
    n_frames = 1 + (len(x) - _WAV_WIN) // _WAV_HOP
    idx = np.arange(_WAV_WIN)[None, :] + _WAV_HOP * np.arange(n_frames)[:, None]
    frames = x[idx] * np.hanning(_WAV_WIN)[None, :]
    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    mean_power = power.mean(axis=0)  # (513,)
    # pool into dim equal bands (drop the tail remainder bins)
    per = len(mean_power) // dim
    banded = mean_power[: per * dim].reshape(dim, per).mean(axis=1)
    feats = [float(v) for v in np.log10(1.0 + banded).astype(np.float32)]
    return duration, int(sr), feats


def frames_to_hashes(frames_with_desc: DataFrame) -> DataFrame:
    """Bridge G1+G2 output into the loader's hash-row shape
    (file, time, hi, ha) — `ha` as space-joined hex tokens, exactly what
    the XML hash docs carry (/root/reference/loader.js:188-198).

    When the input carries the `ha` column from `embed_images`, those
    are REAL BitSampling tokens — value-compatible with
    reference-produced artifacts for the same image. A legacy input
    without `ha` falls back to hex-encoding the descriptor vector
    (engine-internal, self-consistent but not reference-valued)."""
    if "ha" in frames_with_desc.columns:
        return frames_with_desc.select("file", "time", "hi", "ha")
    return frames_with_desc.select(
        "file",
        "time",
        "hi",
        F.concat_ws(
            " ",
            F.transform(
                F.col("vector"),
                lambda x: F.lower(F.conv(x.cast("bigint").cast("string"), 10, 16)),
            ),
        ).alias("ha"),
    )
