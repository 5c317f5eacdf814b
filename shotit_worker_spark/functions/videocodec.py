"""Pure-stdlib Y4M (YUV4MPEG2) demuxer/decoder — the one container the
environment lets G1 decode for real (VERDICT r3 #3).

The reference samples frames with ffmpeg (`fps=12,scale=-2:180`,
/root/reference/hasher.js:78-91). Y4M is ffmpeg's own uncompressed
interchange format (`ffmpeg -i in.mp4 out.y4m`): a one-line ASCII
header, then `FRAME\n` + raw planar YUV per frame — demuxable with
slicing alone, no codec.

Supported: C420 family (C420, C420jpeg, C420mpeg2, C420paldv — all
share the plane layout; the sited-chroma distinctions only matter to a
resampling filter), C422, C444, and Cmono. Color conversion is
ITU-R BT.601 limited range (the ffmpeg default for yuv420p), chroma
upsampled nearest-neighbor.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np

__all__ = [
    "Y4MError",
    "Y4MHeader",
    "is_y4m",
    "parse_header",
    "iter_frame_payloads",
    "decode_frame",
    "iter_frames",
    "AVIError",
    "AVIInfo",
    "is_avi",
    "parse_avi",
    "parse_mjpeg_avi",
    "decode_avi_frame",
    "iter_avi_frames",
    "avi_frame_count",
]

MAGIC = b"YUV4MPEG2 "


class Y4MError(ValueError):
    pass


@dataclass(frozen=True)
class Y4MHeader:
    width: int
    height: int
    fps_num: int
    fps_den: int
    colorspace: str  # normalized: "420", "422", "444", "mono"
    data_offset: int  # first byte after the stream header's \n

    @property
    def fps(self) -> float:
        return self.fps_num / self.fps_den

    @property
    def frame_bytes(self) -> int:
        y = self.width * self.height
        if self.colorspace == "mono":
            return y
        if self.colorspace == "420":
            return y + 2 * ((self.width // 2) * (self.height // 2))
        if self.colorspace == "422":
            return y + 2 * ((self.width // 2) * self.height)
        return 3 * y  # 444


def is_y4m(content: bytes) -> bool:
    return content[: len(MAGIC)] == MAGIC


def parse_header(content: bytes) -> Y4MHeader:
    if not is_y4m(content):
        raise Y4MError("not a YUV4MPEG2 stream")
    nl = content.find(b"\n")
    if nl < 0:
        raise Y4MError("unterminated Y4M stream header")
    width = height = None
    fps_num, fps_den = 25, 1  # Y4M default when F is absent
    colorspace = "420"  # spec default C420
    for tok in content[len(MAGIC) : nl].split(b" "):
        if not tok:
            continue
        tag, val = tok[:1], tok[1:].decode("ascii", "replace")
        if tag == b"W":
            width = int(val)
        elif tag == b"H":
            height = int(val)
        elif tag == b"F":
            num, den = val.split(":")
            fps_num, fps_den = int(num), int(den)
        elif tag == b"C":
            if val.startswith("420"):
                colorspace = "420"
            elif val.startswith("422"):
                colorspace = "422"
            elif val.startswith("444"):
                colorspace = "444"
            elif val.startswith("mono"):
                colorspace = "mono"
            else:
                raise Y4MError(f"unsupported Y4M colorspace C{val}")
        # X/I/A params are metadata — ignored
    if not width or not height:
        raise Y4MError("Y4M header missing W/H")
    if fps_num <= 0 or fps_den <= 0:
        raise Y4MError("Y4M header has non-positive frame rate")
    return Y4MHeader(width, height, fps_num, fps_den, colorspace, nl + 1)


def _yuv_to_rgb(
    y: np.ndarray, u: np.ndarray | None, v: np.ndarray | None
) -> np.ndarray:
    """BT.601 limited-range YUV → uint8 RGB; chroma already full-size."""
    c = (y.astype(np.float64) - 16.0) * (255.0 / 219.0)
    if u is None:
        g = np.clip(np.round(c), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    d = u.astype(np.float64) - 128.0
    e = v.astype(np.float64) - 128.0
    r = c + 1.402 * (255.0 / 224.0) * e
    g = c - (0.114 * 1.772 / 0.587) * (255.0 / 224.0) * d \
        - (0.299 * 1.402 / 0.587) * (255.0 / 224.0) * e
    b = c + 1.772 * (255.0 / 224.0) * d
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _upsample(plane: np.ndarray, h: int, w: int) -> np.ndarray:
    """Nearest-neighbor chroma upsample to (h, w)."""
    ry = h // plane.shape[0]
    rx = w // plane.shape[1]
    return np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)


def iter_frame_payloads(content: bytes) -> Iterator[memoryview]:
    """Demux only: yield each FRAME chunk's raw planar YUV payload, as a
    view into `content` (no copy)."""
    hdr = parse_header(content)
    view = memoryview(content)
    pos = hdr.data_offset
    while pos < len(content):
        nl = content.find(b"\n", pos)
        if nl < 0 or content[pos : pos + 5] != b"FRAME":
            raise Y4MError(f"bad FRAME marker at byte {pos}")
        pos = nl + 1
        raw = view[pos : pos + hdr.frame_bytes]
        if len(raw) < hdr.frame_bytes:
            raise Y4MError("truncated Y4M frame payload")
        pos += hdr.frame_bytes
        yield raw


def decode_frame(hdr: Y4MHeader, raw: bytes | memoryview) -> np.ndarray:
    """One FRAME payload (from `iter_frame_payloads`) → (H, W, 3) uint8
    RGB."""
    w, h = hdr.width, hdr.height
    n_y = w * h
    y = np.frombuffer(raw, np.uint8, n_y).reshape(h, w)
    if hdr.colorspace == "mono":
        return _yuv_to_rgb(y, None, None)
    if hdr.colorspace == "420":
        cw, ch = w // 2, h // 2
    elif hdr.colorspace == "422":
        cw, ch = w // 2, h
    else:
        cw, ch = w, h
    n_c = cw * ch
    u = np.frombuffer(raw, np.uint8, n_c, n_y).reshape(ch, cw)
    v = np.frombuffer(raw, np.uint8, n_c, n_y + n_c).reshape(ch, cw)
    return _yuv_to_rgb(y, _upsample(u, h, w), _upsample(v, h, w))


def iter_frames(content: bytes) -> Iterator[np.ndarray]:
    """Yield (H, W, 3) uint8 RGB arrays, one per FRAME chunk."""
    hdr = parse_header(content)
    for raw in iter_frame_payloads(content):
        yield decode_frame(hdr, raw)


def frame_count(content: bytes) -> int:
    """Number of FRAME chunks, by arithmetic on the fixed frame size —
    no decode (each chunk is len('FRAME\\n') + frame_bytes)."""
    hdr = parse_header(content)
    body = len(content) - hdr.data_offset
    per = 6 + hdr.frame_bytes
    if body % per:
        # tolerate frame-header params (rare): fall back to a scan
        n, pos = 0, hdr.data_offset
        while pos < len(content):
            nl = content.find(b"\n", pos)
            if nl < 0:
                break
            n += 1
            pos = nl + 1 + hdr.frame_bytes
        return n
    return body // per


# ---------------------------------------------------------------------------
# AVI / MJPEG (RIFF container, '00dc' chunks of baseline JPEG)
# ---------------------------------------------------------------------------
#
# The second real-G1 container: ffmpeg's `-c:v mjpeg out.avi` wraps one
# standalone JPEG per frame in a RIFF AVI — demuxable with struct
# slicing, decodable with the bit-exact jpegcodec. Covers the reference
# shape directly: its own thumbnails ARE JPEGs (hasher.js:83-85), so an
# MJPEG AVI is "the reference's frame stream in a box".

AVI_MAGIC_RIFF = b"RIFF"
AVI_MAGIC_TYPE = b"AVI "


class AVIError(ValueError):
    pass


@dataclass(frozen=True)
class AVIInfo:
    width: int
    height: int
    fps_num: int  # dwRate
    fps_den: int  # dwScale
    codec: str  # fccHandler of the vids stream, lowercased
    stream_no: int  # index of the vids stream among all streams

    @property
    def fps(self) -> float:
        return self.fps_num / self.fps_den


def is_avi(content: bytes) -> bool:
    return (
        len(content) >= 12
        and content[:4] == AVI_MAGIC_RIFF
        and content[8:12] == AVI_MAGIC_TYPE
    )


def _riff_chunks(data: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_len) for sibling chunks."""
    while pos + 8 <= end:
        fcc = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        yield fcc, pos + 8, size
        pos += 8 + size + (size & 1)  # chunks are word-aligned


def parse_avi(content: bytes) -> AVIInfo:
    if not is_avi(content):
        raise AVIError("not a RIFF AVI")
    width = height = 0
    stream_idx = -1
    vids = None
    for fcc, start, size in _riff_chunks(content, 12, len(content)):
        if fcc != b"LIST" or content[start : start + 4] != b"hdrl":
            continue
        for f2, s2, z2 in _riff_chunks(content, start + 4, start + size):
            if f2 == b"avih":
                width = int.from_bytes(content[s2 + 32 : s2 + 36], "little")
                height = int.from_bytes(content[s2 + 36 : s2 + 40], "little")
            elif f2 == b"LIST" and content[s2 : s2 + 4] == b"strl":
                stream_idx += 1
                for f3, s3, z3 in _riff_chunks(content, s2 + 4, s2 + z2):
                    if f3 != b"strh":
                        continue
                    if content[s3 : s3 + 4] == b"vids" and vids is None:
                        handler = content[s3 + 4 : s3 + 8].decode("ascii", "replace")
                        scale = int.from_bytes(content[s3 + 20 : s3 + 24], "little")
                        rate = int.from_bytes(content[s3 + 24 : s3 + 28], "little")
                        vids = (stream_idx, handler.strip("\x00").lower(), scale, rate)
    if vids is None:
        raise AVIError("no video (vids) stream in AVI")
    sno, handler, scale, rate = vids
    if not scale or not rate:
        raise AVIError("vids stream missing dwScale/dwRate")
    return AVIInfo(width, height, rate, scale, handler, sno)


def iter_avi_video_chunks(content: bytes) -> Iterator[bytes]:
    """Yield the raw payload of each video frame chunk ('NNdc'/'NNdb'
    for the vids stream), in stream order. Handles 'rec ' sub-lists."""
    info = parse_avi(content)
    tag = b"%02d" % info.stream_no

    def _walk(pos: int, end: int) -> Iterator[bytes]:
        for fcc, start, size in _riff_chunks(content, pos, end):
            if fcc == b"LIST" and content[start : start + 4] == b"rec ":
                yield from _walk(start + 4, start + size)
            elif fcc[:2] == tag and fcc[2:4] in (b"dc", b"db"):
                yield content[start : start + size]

    for fcc, start, size in _riff_chunks(content, 12, len(content)):
        if fcc == b"LIST" and content[start : start + 4] == b"movi":
            yield from _walk(start + 4, start + size)


def parse_mjpeg_avi(content: bytes) -> AVIInfo:
    """`parse_avi`, refusing codecs other than MJPEG with AVIError (only
    intra-frame JPEG is decodable without codec libs)."""
    info = parse_avi(content)
    if info.codec not in ("mjpg", "mjpeg", ""):
        raise AVIError(f"unsupported AVI codec {info.codec!r} (MJPEG only)")
    return info


def decode_avi_frame(chunk: bytes) -> np.ndarray:
    """One MJPEG video chunk (from `iter_avi_video_chunks`) → RGB."""
    from .jpegcodec import JPEGError, decode_jpeg

    try:
        return decode_jpeg(chunk)
    except JPEGError as e:
        raise AVIError(f"bad MJPEG frame: {e}") from e


def iter_avi_frames(content: bytes) -> Iterator[np.ndarray]:
    """Decode an MJPEG AVI to RGB frames. Non-MJPEG codecs raise
    AVIError."""
    parse_mjpeg_avi(content)
    for chunk in iter_avi_video_chunks(content):
        yield decode_avi_frame(chunk)


def avi_frame_count(content: bytes) -> int:
    """Frame count by chunk scan — no decode."""
    return sum(1 for _ in iter_avi_video_chunks(content))
