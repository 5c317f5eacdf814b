"""Bit-identity of the ingest kernels (no Spark).

`media._bilinear_resize` runs row-major and `media._describe` extracts
(hi, vector, ha) from one decode and one descriptor pass. Both must give
exactly what the straightforward per-pixel resize and the separate
descriptor and BitSampling passes give; those are frozen below as the
oracles. The G1 samplers must decode only the source frames an output
slot samples, with unchanged output.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

from shotit_worker_spark.functions import accid as AD
from shotit_worker_spark.functions import autocorrelogram as AC
from shotit_worker_spark.functions import bitsampling as BS
from shotit_worker_spark.functions import cedd as CE
from shotit_worker_spark.functions import colorlayout as CL
from shotit_worker_spark.functions import edgehistogram as EH
from shotit_worker_spark.functions import fcth as FC
from shotit_worker_spark.functions import fuzzyopponent as FO
from shotit_worker_spark.functions import imagecodec as IC
from shotit_worker_spark.functions import jointhistogram as JH
from shotit_worker_spark.functions import jpegcodec as JC
from shotit_worker_spark.functions import media as M
from shotit_worker_spark.functions import opponenthistogram as OH
from shotit_worker_spark.functions import phog as PH
from shotit_worker_spark.functions import scalablecolor as SCD
from shotit_worker_spark.functions import videocodec as VC

ALGOS = ("cl", "eh", "oh", "sc", "ce", "fc", "jc", "fo", "jh", "ac", "ph", "ad")


# ---------------------------------------------------------------------------
# Oracles: the per-pixel resize and the two-pass descriptor + ha kernels
# ---------------------------------------------------------------------------


def _oracle_resize(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    h, w = img.shape[:2]
    ys = (np.arange(out_h, dtype=np.float64) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w, dtype=np.float64) + 0.5) * w / out_w - 0.5
    y0f = np.floor(ys)
    x0f = np.floor(xs)
    wy = (ys - y0f)[:, None, None]
    wx = (xs - x0f)[None, :, None]
    y0 = np.clip(y0f.astype(np.int64), 0, h - 1)
    y1 = np.clip(y0f.astype(np.int64) + 1, 0, h - 1)
    x0 = np.clip(x0f.astype(np.int64), 0, w - 1)
    x1 = np.clip(x0f.astype(np.int64) + 1, 0, w - 1)
    f = img.astype(np.float64)
    top = f[y0][:, x0] * (1 - wx) + f[y0][:, x1] * wx
    bot = f[y1][:, x0] * (1 - wx) + f[y1][:, x1] * wx
    out = top * (1 - wy) + bot * wy
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def _oracle_reference_vector(rgb: np.ndarray, algo: str) -> np.ndarray:
    if algo == "cl":
        y, cb, cr = CL.color_layout(rgb, n_y=21, n_c=6)
        return np.concatenate([y, cb, cr]).astype(np.float64)
    return {
        "eh": lambda: EH.edge_histogram(rgb).astype(np.float64),
        "oh": lambda: OH.opponent_histogram(rgb).astype(np.float64),
        "sc": lambda: SCD.scalable_color(rgb).astype(np.float64),
        "ce": lambda: CE.cedd(rgb).astype(np.float64),
        "fc": lambda: FC.fcth(rgb).astype(np.float64),
        "jc": lambda: FC.jcd(rgb),
        "fo": lambda: FO.fuzzy_opponent_histogram(rgb),
        "jh": lambda: JH.joint_histogram(rgb),
        "ac": lambda: AC.auto_color_correlogram(rgb),
        "ph": lambda: PH.phog(rgb),
        "ad": lambda: AD.accid(rgb),
    }[algo]()


def _oracle_descriptor(image: bytes, dim: int, algo: str):
    try:
        rgb = IC.decode_image(image)
    except IC.UnsupportedImageError:
        return M._fake_descriptor(image, dim)
    if algo == "cl":
        vec = CL.descriptor_vector(rgb, n_y=64, n_c=28)
    elif algo == "sc":
        vec = (SCD.scalable_color(rgb) + 255).astype(np.float64)
    elif algo == "jc":
        vec = FC.jcd(rgb) * 2.0
    else:
        vec = _oracle_reference_vector(rgb, algo)
    hi = bytes((vec.astype(np.int64) & 0xFF).astype(np.uint8)).hex()
    if len(vec) >= dim:
        out = vec[:dim]
    else:
        out = np.zeros(dim, dtype=np.float64)
        out[: len(vec)] = vec
    return hi, [float(x) for x in out]


def _oracle_ha(image: bytes, algo: str) -> str:
    try:
        ref_vec = _oracle_reference_vector(IC.decode_image(image), algo)
    except IC.UnsupportedImageError:
        _, vals = M._fake_descriptor(image, M.EMBED_DIM)
        ref_vec = np.asarray(vals, dtype=np.float64)
    return BS.ha_tokens(ref_vec)


# ---------------------------------------------------------------------------
# Row-major bilinear resize
# ---------------------------------------------------------------------------


def _resize_cases():
    rng = np.random.default_rng(20261019)
    fixed = [(1, 1), (1, 9), (9, 1), (7, 9), (5, 13), (108, 192), (36, 64)]
    shapes = fixed + [
        (int(rng.integers(1, 120)), int(rng.integers(1, 120))) for _ in range(40)
    ]
    cases = []
    for h, w in shapes:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        outs = [
            (M.FRAME_HEIGHT, max(2, 2 * round(w * M.FRAME_HEIGHT / h / 2))),
            (max(1, h // 3), max(1, w // 3)),  # down
            (2 * h + 1, 2 * w + 3),  # up, odd widths
            (1, 1),
            (int(rng.integers(1, 200)), int(rng.integers(1, 200))),
        ]
        cases.extend((img, oh, ow) for oh, ow in outs)
    return cases


def test_resize_is_bit_identical_to_the_per_pixel_oracle():
    for img, oh, ow in _resize_cases():
        got = M._bilinear_resize(img, oh, ow)
        want = _oracle_resize(img, oh, ow)
        assert got.dtype == np.uint8 and got.shape == (oh, ow, 3)
        assert np.array_equal(got, want), (img.shape, oh, ow)


def test_resize_accepts_a_non_contiguous_view():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (40, 60, 3), dtype=np.uint8)[::2, 1::3]
    assert not img.flags.c_contiguous
    assert np.array_equal(
        M._bilinear_resize(img, 31, 47), _oracle_resize(img, 31, 47)
    )


# ---------------------------------------------------------------------------
# One descriptor pass per image
# ---------------------------------------------------------------------------


def _images() -> list[bytes]:
    rng = np.random.default_rng(8)
    blocks = rng.integers(0, 256, (6, 10, 3), dtype=np.uint8)
    scene = np.kron(blocks, np.ones((8, 8, 1), dtype=np.uint8))  # 48x80
    noise = rng.integers(0, 256, (45, 37, 3), dtype=np.uint8)
    ramp = np.broadcast_to(
        np.linspace(0, 255, 64).astype(np.uint8)[None, :, None], (36, 64, 3)
    ).copy()
    return [
        IC.encode_ppm(scene),
        IC.encode_ppm(noise),
        IC.encode_png(ramp),
        JC.encode_jpeg(scene, quality=90),
        b"\x00not an image at all" * 7,
    ]


@pytest.mark.parametrize("algo", ALGOS)
def test_one_pass_matches_descriptor_plus_ha(algo):
    for image in _images():
        want_ha = _oracle_ha(image, algo)
        for dim in (64, 100, 128):
            hi, vec, ha = M._describe(image, dim, algo)
            assert (hi, vec) == _oracle_descriptor(image, dim, algo), (algo, dim)
            assert ha == want_ha, (algo, dim)
        assert M.image_ha_tokens(image, algo) == want_ha


def test_one_pass_keeps_the_undecodable_fallback():
    blob = b"\x89PNG but broken" * 3
    for dim in (64, 100, 128):
        hi, vec, ha = M._describe(blob, dim, "cl")
        assert (hi, vec) == M._fake_descriptor(blob, dim)
        _, vals = M._fake_descriptor(blob, M.EMBED_DIM)
        assert ha == BS.ha_tokens(np.asarray(vals, dtype=np.float64))


def test_one_pass_rejects_an_unknown_algo():
    with pytest.raises(ValueError, match="unsupported descriptor algo"):
        M._describe(_images()[0], 100, "zz")


# ---------------------------------------------------------------------------
# G1 decodes only the sampled source frames
# ---------------------------------------------------------------------------


def _y4m(n_frames: int, fps: int, w: int = 24, h: int = 16) -> bytes:
    rng = np.random.default_rng(fps)
    chunks = [f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C420jpeg\n".encode()]
    for _ in range(n_frames):
        n = w * h + 2 * (w // 2) * (h // 2)
        chunks.append(b"FRAME\n" + rng.integers(0, 256, n, dtype=np.uint8).tobytes())
    return b"".join(chunks)


def _decode_every_frame(n_src, src_fps, src_w, src_h, frames, fps):
    """The sampler's output computed by decoding every source frame."""
    frames = list(frames)
    n_out = max(1, int(n_src / src_fps * fps))
    out_w = max(2, 2 * round(src_w * M.FRAME_HEIGHT / src_h / 2))
    out = []
    for i in range(n_out):
        j = min(n_src - 1, int((i + 0.5) / fps * src_fps))
        blob = IC.encode_ppm(M._bilinear_resize(frames[j], M.FRAME_HEIGHT, out_w))
        out.append((i, round((i + 0.5) / fps, 4), blob))
    return sorted(out)


def _distinct_sources(n_src, src_fps, fps):
    n_out = max(1, int(n_src / src_fps * fps))
    return len({min(n_src - 1, int((i + 0.5) / fps * src_fps)) for i in range(n_out)})


def _counting(monkeypatch, module, name):
    calls = []
    real = getattr(module, name)

    def wrapper(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(module, name, wrapper)
    return calls


@pytest.mark.parametrize("src_fps", [12, 24, 30])
def test_y4m_converts_only_the_sampled_frames(monkeypatch, src_fps):
    blob = _y4m(n_frames=4 * src_fps, fps=src_fps)
    hdr = VC.parse_header(blob)
    want = _decode_every_frame(
        4 * src_fps, hdr.fps, hdr.width, hdr.height, VC.iter_frames(blob),
        M.FRAME_FPS,
    )
    conversions = _counting(monkeypatch, VC, "_yuv_to_rgb")
    got = sorted(M._sample_y4m(blob, M.FRAME_FPS))
    assert got == want
    assert len(conversions) == _distinct_sources(4 * src_fps, src_fps, M.FRAME_FPS)
    assert len(conversions) == 48 and len(got) == 48


def test_mjpeg_avi_decodes_only_the_sampled_frames(monkeypatch):
    path = os.path.join(os.path.dirname(__file__), "goldens", "mjpeg_32f_25fps.avi")
    with open(path, "rb") as f:
        data = f.read()
    info = VC.parse_avi(data)
    n_src = VC.avi_frame_count(data)
    want = _decode_every_frame(
        n_src, info.fps, info.width, info.height, VC.iter_avi_frames(data),
        M.FRAME_FPS,
    )
    decodes = _counting(monkeypatch, JC, "decode_jpeg")
    got = sorted(M._sample_avi(data, M.FRAME_FPS))
    assert got == want
    assert len(decodes) == _distinct_sources(n_src, info.fps, M.FRAME_FPS) == 15
    assert n_src == 32
    # decode_frames' per-video path probes the stream with its first
    # sampled decode, so it decodes no frame twice and no extra frame
    decodes.clear()
    assert sorted(M._video_rows(data, M.FRAME_FPS)) == want
    assert len(decodes) == 15


def test_avi_whose_first_frame_fails_to_decode_takes_the_stub():
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    from gen_mjpeg_fixture import build_avi

    path = os.path.join(os.path.dirname(__file__), "goldens", "mjpeg_32f_25fps.avi")
    with open(path, "rb") as f:
        good = next(VC.iter_avi_video_chunks(f.read()))
    bad = build_avi([good[:200]])  # one frame, truncated before its SOF
    with pytest.raises(VC.AVIError):
        list(M._sample_avi(bad, M.FRAME_FPS))
    n_frames, _ = M._fake_video_params(bad)
    stub = [(i, round((i + 0.5) / M.FRAME_FPS, 4),
             M._synthetic_frame_image(bad, i, IC.encode_ppm))
            for i in range(n_frames)]
    assert n_frames > 0
    assert list(M._video_rows(bad, M.FRAME_FPS, IC.encode_ppm)) == stub
