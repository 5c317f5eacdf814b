"""Pure-stdlib image codec: PNG, JPEG, and PPM decode to numpy RGB.

The container has no image libraries, but PNG (zlib + per-scanline
filters, RFC 2083), baseline JPEG (see jpegcodec — bit-exact against
the JRE's libjpeg-derived decoder), and binary PPM are decodable with
the standard library + numpy alone. This gives the media pipeline REAL
image bytes end to end, in the reference's own wire format: its ffmpeg
stage emits JPEG thumbnails and its search API accepts jpeg/png bodies
(/root/reference/hasher.js:83-85, searcher.js:133-141).

Supported PNG subset: 8-bit depth, color types 0 (gray), 2 (RGB),
4 (gray+alpha), 6 (RGBA), 3 (palette), every legal bit depth
(1/2/4/8/16 per spec table 11.1), Adam7 interlace. Gray expands to
RGB; alpha is dropped (descriptors are RGB-only); 16-bit samples take
the high byte. Malformed streams raise ``UnsupportedImageError`` —
callers fall back to the stub kernel.
JPEG: baseline/extended-sequential AND progressive huffman (see
functions/jpegcodec); lossless/arithmetic raise.
WebP: lossless VP8L (see functions/webp); lossy VP8 and animation
raise — beyond-reference coverage, the reference sniffs only png/jpg
(searcher.js:151-155). TIFF: baseline strips (see functions/tiffcodec).
BMP: 1/4/8-bit palette (incl. RLE8/RLE4), 16-bit bitfields, 24/32-bit,
top-down and bottom-up (_decode_bmp below).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

__all__ = [
    "UnsupportedImageError",
    "decode_image",
    "encode_ppm",
    "encode_png",
    "sniff_format",
]

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


class UnsupportedImageError(ValueError):
    """Bytes are not a decodable PNG/PPM image."""


def sniff_format(data: bytes) -> str | None:
    if data[:8] == _PNG_MAGIC:
        return "png"
    if data[:2] == b"P6":
        return "ppm"
    if data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return "webp"
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if data[:2] == b"BM" and len(data) >= 26:
        return "bmp"
    return None


def decode_image(data: bytes) -> np.ndarray:
    """Decode PNG or PPM bytes to an (H, W, 3) uint8 RGB array.

    Total on arbitrary binary input: every parse failure — not just the
    structural ones — surfaces as ``UnsupportedImageError`` so callers
    (media._describe, resize_images) can fall back instead of crashing
    the Spark task on e.g. a 'P6' blob with a non-numeric header
    (ValueError) or a PNG with corrupt IDAT (zlib.error).
    """
    try:
        fmt = sniff_format(bytes(data))
        if fmt == "png":
            return _decode_png(bytes(data))
        if fmt == "ppm":
            return _decode_ppm(bytes(data))
        if fmt == "jpeg":
            from .jpegcodec import decode_jpeg

            return decode_jpeg(bytes(data))
        if fmt == "gif":
            from .gifcodec import iter_gif_frames

            # still-image semantics: the first composited frame
            frame = next(iter_gif_frames(bytes(data)), None)
            if frame is None:
                raise UnsupportedImageError("GIF with no image blocks")
            return frame
        if fmt == "webp":
            from .webp import (
                decode_webp, is_animated_webp, iter_webp_anim_frames,
            )

            # still-image semantics for animations: first composited
            # frame (like the GIF branch; an APNG needs no special
            # case — its IDAT default image IS the still image).
            # Lossless (VP8L) only; lossy raises WebPError (a
            # ValueError) -> UnsupportedImageError fallback below
            if is_animated_webp(bytes(data)):
                frame = next(iter_webp_anim_frames(bytes(data)), None)
                if frame is None:
                    raise UnsupportedImageError("animation with no frames")
                return frame
            return decode_webp(bytes(data))
        if fmt == "tiff":
            from .tiffcodec import decode_tiff

            return decode_tiff(bytes(data))
        if fmt == "bmp":
            return _decode_bmp(bytes(data))
    except UnsupportedImageError:
        raise
    except (ValueError, IndexError, struct.error, zlib.error) as exc:
        # includes jpegcodec.JPEGError (a ValueError): unsupported
        # process / corrupt stream both mean "fall back", not "crash"
        raise UnsupportedImageError(f"malformed image bytes: {exc}") from exc
    raise UnsupportedImageError(
        "not a PNG, JPEG, GIF, WebP, TIFF, BMP, or PPM image")


# -- PPM (P6, maxval 255) ---------------------------------------------------


def _decode_ppm(data: bytes) -> np.ndarray:
    # header: "P6" <ws> width <ws> height <ws> maxval <single ws> raster
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise UnsupportedImageError(f"PPM maxval {maxval} != 255")
    need = w * h * 3
    raster = data[pos : pos + need]
    if len(raster) != need:
        raise UnsupportedImageError("PPM raster truncated")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


def encode_ppm(rgb: np.ndarray) -> bytes:
    h, w = rgb.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + rgb.astype(np.uint8).tobytes()


# -- PNG --------------------------------------------------------------------

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# legal bit depths per color type (PNG spec table 11.1)
_PNG_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}
# Adam7 pass grid: (x0, y0, dx, dy)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _decode_png(data: bytes, keep_alpha: bool = False) -> np.ndarray:
    """PNG -> (H, W, 3) uint8 RGB, or RGBA with ``keep_alpha=True``
    (the APNG compositor needs the alpha plane). tRNS transparency:
    the RGB path keeps the stored colors (same convention as the
    alpha channel of color types 4/6 — and as javax.imageio's
    getRGB, which the q75 goldens pin); the RGBA path materializes
    it (palette alpha table / gray / RGB color key, keys compared at
    the source bit depth)."""
    pos = 8
    width = height = None
    depth = color_type = interlace = None
    plte = None
    trns = None
    idat = []
    while pos + 8 <= len(data):
        (length,), typ = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + type + body + crc
        if typ == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if (
                color_type not in _PNG_DEPTHS
                or depth not in _PNG_DEPTHS[color_type]
                or comp != 0
                or filt != 0
                or interlace > 1
            ):
                raise UnsupportedImageError(
                    f"PNG depth={depth} color_type={color_type} "
                    f"comp={comp} filt={filt} interlace={interlace} "
                    "unsupported"
                )
        elif typ == b"PLTE":
            if length % 3:
                raise UnsupportedImageError("PNG PLTE length not 3n")
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif typ == b"tRNS":
            trns = body
        elif typ == b"IDAT":
            idat.append(body)
        elif typ == b"IEND":
            break
    if width is None or not idat:
        raise UnsupportedImageError("PNG missing IHDR/IDAT")
    nch = _CHANNELS[color_type]
    raw = zlib.decompress(b"".join(idat))
    img = np.zeros((height, width, nch), dtype=np.uint16)
    passes = _ADAM7 if interlace else ((0, 0, 1, 1),)
    off = 0
    for x0, y0, dx, dy in passes:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        stride = (pw * nch * depth + 7) // 8
        bpp = max(1, nch * depth // 8)
        need = ph * (stride + 1)
        if off + need > len(raw):
            raise UnsupportedImageError("PNG scanline data size mismatch")
        sub = np.frombuffer(raw[off : off + need], dtype=np.uint8).reshape(
            ph, stride + 1
        )
        off += need
        img[y0::dy, x0::dx] = _png_samples(
            _defilter_pass(sub, bpp), pw, nch, depth
        )
    if off != len(raw):
        raise UnsupportedImageError("PNG scanline data size mismatch")
    if trns is not None and color_type in (4, 6):
        raise UnsupportedImageError(
            "tRNS is invalid with an alpha color type"
        )
    if color_type == 3:
        if plte is None:
            raise UnsupportedImageError("PNG palette image missing PLTE")
        idx = img[..., 0].astype(np.int64)
        if idx.max(initial=0) >= len(plte):
            raise UnsupportedImageError("PNG palette index out of range")
        rgb = plte[idx]
        if keep_alpha:
            # tRNS holds one alpha byte per leading palette entry;
            # entries past its end are fully opaque
            atab = np.full(len(plte), 255, dtype=np.uint8)
            if trns is not None:
                n = min(len(trns), len(plte))
                atab[:n] = np.frombuffer(trns[:n], dtype=np.uint8)
            return np.dstack([rgb, atab[idx]])
        return rgb
    if depth == 16:
        px = (img >> 8).astype(np.uint8)  # high byte (v*255//65535)
    elif depth < 8:  # gray: expand to the full 8-bit range
        px = (img * (255 // ((1 << depth) - 1))).astype(np.uint8)
    else:
        px = img.astype(np.uint8)
    if color_type == 0:
        rgb, alpha = np.repeat(px, 3, axis=2), None
        if keep_alpha and trns is not None and len(trns) >= 2:
            # gray color key, compared at the SOURCE depth (img holds
            # raw pre-scaling samples)
            key = struct.unpack(">H", trns[:2])[0]
            alpha = np.where(
                img[..., 0] == key, 0, 255
            ).astype(np.uint8)
    elif color_type == 2:
        rgb, alpha = px, None
        if keep_alpha and trns is not None and len(trns) >= 6:
            kr, kg, kb = struct.unpack(">HHH", trns[:6])
            keyed = (
                (img[..., 0] == kr) & (img[..., 1] == kg)
                & (img[..., 2] == kb)
            )
            alpha = np.where(keyed, 0, 255).astype(np.uint8)
    elif color_type == 4:
        rgb, alpha = np.repeat(px[..., :1], 3, axis=2), px[..., 1]
    else:  # 6
        rgb, alpha = px[..., :3], px[..., 3]
    if not keep_alpha:
        return rgb
    if alpha is None:
        alpha = np.full(rgb.shape[:2], 255, dtype=np.uint8)
    return np.dstack([rgb, alpha])


def _defilter_pass(sub: np.ndarray, bpp: int) -> np.ndarray:
    """Undo per-scanline filtering for one (sub)image: sub is
    (rows, 1+stride) uint8 with the filter byte leading each row."""
    rows, stride = sub.shape[0], sub.shape[1] - 1
    out = np.zeros((rows, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(rows):
        ftype, line = sub[y, 0], sub[y, 1:].copy()
        if ftype == 0:
            pass
        elif ftype == 2:  # Up
            line += prev
        elif ftype == 1:  # Sub: per-lane wrapping prefix sum
            for lane in range(bpp):
                np.add.accumulate(line[lane::bpp], out=line[lane::bpp])
        elif ftype in (3, 4):  # Average / Paeth need left-to-right
            line = _defilter_serial(ftype, line, prev, bpp)
        else:
            raise UnsupportedImageError(f"PNG filter type {ftype}")
        out[y] = line
        prev = out[y]
    return out


def _png_samples(
    lines: np.ndarray, pw: int, nch: int, depth: int
) -> np.ndarray:
    """(rows, stride) defiltered bytes -> (rows, pw, nch) uint16
    samples at the stored depth (packed sub-byte fields MSB-first,
    16-bit big-endian, per PNG spec 7.2)."""
    ph = lines.shape[0]
    if depth == 8:
        return lines[:, : pw * nch].reshape(ph, pw, nch).astype(np.uint16)
    if depth == 16:
        b = lines[:, : pw * nch * 2].reshape(ph, pw, nch, 2).astype(np.uint16)
        return (b[..., 0] << 8) | b[..., 1]
    bits = np.unpackbits(lines, axis=1)[:, : pw * nch * depth]
    fields = bits.reshape(ph, pw, nch, depth).astype(np.uint16)
    weights = (1 << np.arange(depth - 1, -1, -1, dtype=np.uint16))
    return (fields * weights).sum(axis=3, dtype=np.uint16)


def _defilter_serial(
    ftype: int, line: np.ndarray, prev: np.ndarray, nch: int
) -> np.ndarray:
    # plain-python lists: ~4x faster than per-element numpy indexing
    # in this inherently sequential recurrence (left-neighbor feedback)
    cur = line.tolist()
    up = prev.tolist()
    n = len(cur)
    out = [0] * n
    if ftype == 1:  # Sub (kept for callers; the Up-free fast path
        for i in range(n):  # in _defilter_pass vectorizes this case)
            a = out[i - nch] if i >= nch else 0
            out[i] = (cur[i] + a) & 0xFF
    elif ftype == 3:  # Average
        for i in range(n):
            a = out[i - nch] if i >= nch else 0
            out[i] = (cur[i] + ((a + up[i]) >> 1)) & 0xFF
    else:  # Paeth
        for i in range(n):
            a = out[i - nch] if i >= nch else 0
            b = up[i]
            c = up[i - nch] if i >= nch else 0
            p = a + b - c
            pa = p - a if p >= a else a - p
            pb = p - b if p >= b else b - p
            pc = p - c if p >= c else c - p
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (cur[i] + pred) & 0xFF
    return np.asarray(out, dtype=np.uint8)


def encode_png(rgb: np.ndarray) -> bytes:
    """Minimal RGB8 PNG (filter 0 scanlines) — enough for ImageIO/browser
    consumption and for the LIRE golden harness."""
    h, w = rgb.shape[:2]

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    arr = rgb.astype(np.uint8)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


# -- BMP --------------------------------------------------------------------


def _mask_shift(mask: int) -> tuple[int, int]:
    """(right shift, field width) for a contiguous bitfield mask."""
    if mask == 0:
        raise UnsupportedImageError("BMP zero channel mask")
    shift = (mask & -mask).bit_length() - 1
    width = (mask >> shift).bit_length()
    if (mask >> shift) != (1 << width) - 1:
        raise UnsupportedImageError("BMP non-contiguous channel mask")
    return shift, width


def _decode_bmp(data: bytes) -> np.ndarray:
    """Windows BMP (BITMAPINFOHEADER and the V4/V5 supersets):
    1/4/8-bit palette (BI_RGB + RLE4/RLE8), 16-bit (RGB555 default or
    BI_BITFIELDS with contiguous masks), 24-bit BGR, 32-bit BGRX,
    bottom-up and top-down rows, 4-byte row padding. OS/2 core
    headers and embedded PNG/JPEG (BI_PNG/BI_JPEG) raise."""
    if len(data) < 54 or data[:2] != b"BM":
        raise UnsupportedImageError("not a BMP")
    (data_off,) = struct.unpack("<I", data[10:14])
    (hdr_size,) = struct.unpack("<I", data[14:18])
    if hdr_size < 40:
        raise UnsupportedImageError(f"BMP header size {hdr_size} (OS/2?)")
    w, h_raw, planes, bpp, comp, _isz, _xr, _yr, ncol, _imp = struct.unpack(
        "<iiHHIIiiII", data[18:54]
    )
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    if w <= 0 or h == 0 or w * h > (1 << 26):
        raise UnsupportedImageError(f"BMP geometry {w}x{h_raw}")
    if planes != 1:
        raise UnsupportedImageError(f"BMP planes {planes}")
    if comp not in (0, 1, 2, 3):
        raise UnsupportedImageError(f"BMP compression {comp} (PNG/JPEG?)")

    # palette sits after the header (+ 12 mask bytes for old-style
    # BI_BITFIELDS where hdr_size == 40)
    pal_off = 14 + hdr_size + (12 if comp == 3 and hdr_size == 40 else 0)
    if bpp in (1, 4, 8):
        n = ncol or (1 << bpp)
        raw = data[pal_off : pal_off + 4 * n]
        if len(raw) != 4 * n:
            raise UnsupportedImageError("BMP palette truncated")
        bgra = np.frombuffer(raw, dtype=np.uint8).reshape(n, 4)
        pal = bgra[:, [2, 1, 0]].copy()  # BGRX -> RGB

    if comp in (1, 2):  # RLE8 / RLE4
        if (comp == 1 and bpp != 8) or (comp == 2 and bpp != 4):
            raise UnsupportedImageError("BMP RLE bpp mismatch")
        if top_down:
            raise UnsupportedImageError("BMP RLE top-down")
        idx = _bmp_rle(data[data_off:], w, h, comp == 2)
        if idx.max(initial=0) >= len(pal):
            raise UnsupportedImageError("BMP palette index out of range")
        return pal[idx[::-1]]  # bottom-up

    stride = ((w * bpp + 31) // 32) * 4
    need = stride * h
    raw = data[data_off : data_off + need]
    if len(raw) != need:
        raise UnsupportedImageError("BMP pixel data truncated")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
    if not top_down:
        rows = rows[::-1]

    if bpp in (1, 4, 8):
        if bpp == 8:
            idx = rows[:, :w].astype(np.int64)
        else:
            bits = np.unpackbits(rows, axis=1)
            fields = bits[:, : w * bpp].reshape(h, w, bpp)
            weights = 1 << np.arange(bpp - 1, -1, -1)
            idx = (fields * weights).sum(axis=2)
        if idx.max(initial=0) >= len(pal):
            raise UnsupportedImageError("BMP palette index out of range")
        return pal[idx]
    if bpp == 24:
        px = rows[:, : w * 3].reshape(h, w, 3)
        return px[:, :, ::-1].copy()  # BGR -> RGB
    if bpp == 32:
        px = rows[:, : w * 4].reshape(h, w, 4)
        if comp == 3:
            # RGB masks live at byte 54 for both the old-style
            # (40-byte header + 12 mask bytes) and V4/V5 layouts
            masks = struct.unpack("<III", data[54:66])
            v = np.frombuffer(px.tobytes(), dtype="<u4").reshape(h, w)
            return _apply_masks(v, masks)
        return px[:, :, [2, 1, 0]].copy()
    if bpp == 16:
        v = np.frombuffer(
            rows[:, : w * 2].tobytes(), dtype="<u2"
        ).reshape(h, w).astype(np.uint32)
        masks = (
            struct.unpack("<III", data[54:66])
            if comp == 3
            else (0x7C00, 0x03E0, 0x001F)  # RGB555 default
        )
        return _apply_masks(v, masks)
    raise UnsupportedImageError(f"BMP {bpp} bpp unsupported")


def _apply_masks(v: np.ndarray, masks: tuple[int, int, int]) -> np.ndarray:
    out = np.empty(v.shape + (3,), dtype=np.uint8)
    for i, mask in enumerate(masks):
        shift, width = _mask_shift(mask)
        field = (v >> shift) & ((1 << width) - 1)
        if width >= 8:
            out[..., i] = (field >> (width - 8)).astype(np.uint8)
        else:
            # scale to full range with bit replication (v*255/(2^w-1))
            out[..., i] = (
                field * 255 // ((1 << width) - 1)
            ).astype(np.uint8)
    return out


def _bmp_rle(data: bytes, w: int, h: int, rle4: bool) -> np.ndarray:
    """Decode BI_RLE8/BI_RLE4 into an (h, w) index array in FILE row
    order (bottom-up; caller flips)."""
    out = np.zeros((h, w), dtype=np.uint8)
    x = y = pos = 0
    n = len(data)
    while True:
        if pos + 2 > n:
            raise UnsupportedImageError("BMP RLE truncated")
        cnt, val = data[pos], data[pos + 1]
        pos += 2
        if cnt:  # encoded run
            if y >= h:
                raise UnsupportedImageError("BMP RLE row overflow")
            end = min(x + cnt, w)
            if rle4:
                pair = [(val >> 4) & 0xF, val & 0xF]
                for i in range(end - x):
                    out[y, x + i] = pair[i & 1]
            else:
                out[y, x:end] = val
            x = end
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            return out
        elif val == 2:  # delta
            if pos + 2 > n:
                raise UnsupportedImageError("BMP RLE truncated delta")
            x = min(x + data[pos], w)
            y += data[pos + 1]
            pos += 2
        else:  # absolute mode: val pixels, padded to 16-bit boundary
            if y >= h:
                raise UnsupportedImageError("BMP RLE row overflow")
            if rle4:
                nbytes = (val + 1) // 2
                chunk = data[pos : pos + nbytes]
                if len(chunk) != nbytes:
                    raise UnsupportedImageError("BMP RLE truncated")
                for i in range(min(val, w - x)):
                    b = chunk[i // 2]
                    out[y, x + i] = (b >> 4) & 0xF if i % 2 == 0 else b & 0xF
                x = min(x + val, w)
                pos += nbytes + (nbytes & 1)
            else:
                chunk = data[pos : pos + val]
                if len(chunk) != val:
                    raise UnsupportedImageError("BMP RLE truncated")
                take = min(val, w - x)
                out[y, x : x + take] = np.frombuffer(
                    chunk[:take], dtype=np.uint8
                )
                x = min(x + val, w)
                pos += val + (val & 1)
