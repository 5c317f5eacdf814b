"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and sizes: the same seed
gives byte-identical inputs, another seed gives different ones. Only
numpy and the engine's own encoders are used — Y4M is written directly,
JPEG goes through ``functions.jpegcodec.encode_jpeg`` and hash rows are
hex ``ha`` token strings, the loader's wire format.
"""

from __future__ import annotations

import numpy as np

HA_TOKENS = 100  # BitSampling hashes per image (the `_ha` field)
HA_VALUES = 4096  # each hash is a 12-bit value
_HEX = np.array([format(i, "x") for i in range(HA_VALUES)])

# ingest videos: Y4M source geometry; decode_frames scales to 180 rows
VIDEO_W, VIDEO_H, VIDEO_FPS = 192, 108, 12


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *stream])


def ha_strings(tokens: np.ndarray) -> list[str]:
    """(n, 100) ints in [0, 4096) -> space-joined lowercase hex rows."""
    return [" ".join(row) for row in _HEX[tokens]]


def ha_tokens(ha: list[str]) -> np.ndarray:
    """Space-joined hex rows -> (n, 100) ints; inverse of :func:`ha_strings`."""
    return np.array([[int(t, 16) for t in row.split()] for row in ha], dtype=np.int64)


def ha_unit_vector(ha: str) -> np.ndarray:
    """The loader's vector for one ``ha`` row, in numpy: hex decode,
    then L2 normalize (100 tokens need no padding)."""
    v = ha_tokens([ha])[0].astype(np.float64)
    return v / np.linalg.norm(v)


# ---------------------------------------------------------------------------
# ingest: Y4M videos with static holds, moving scenes and shared scenes
# ---------------------------------------------------------------------------


def _still(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One blocky 4:2:0 scene: luma and chroma in 12-pixel blocks."""
    by, bx = VIDEO_H // 12, VIDEO_W // 12
    y = rng.integers(16, 236, size=(by, bx), dtype=np.uint8)
    u = rng.integers(16, 241, size=(by, bx), dtype=np.uint8)
    v = rng.integers(16, 241, size=(by, bx), dtype=np.uint8)
    y = np.repeat(np.repeat(y, 12, axis=0), 12, axis=1)
    u = np.repeat(np.repeat(u, 6, axis=0), 6, axis=1)
    v = np.repeat(np.repeat(v, 6, axis=0), 6, axis=1)
    return y, u, v


def _frame_bytes(planes) -> bytes:
    y, u, v = planes
    return b"FRAME\n" + y.tobytes() + u.tobytes() + v.tobytes()


def _moving(planes, step: int):
    """The scene panned left by 2*step luma pixels (chroma by step)."""
    y, u, v = planes
    return (
        np.roll(y, -2 * step, axis=1),
        np.roll(u, -step, axis=1),
        np.roll(v, -step, axis=1),
    )


def video_frames(seed: int, file_no: int, n_frames: int, shared: list) -> list[bytes]:
    """Frame payloads of one video: a run of scenes until ``n_frames``.

    Scene kinds, drawn per scene:
    - static hold of 3-40 identical frames (some longer than D1's 2 s
      window at 12 fps);
    - moving scene of 6-20 frames, every frame distinct;
    - re-appearance of an earlier still of this file after a gap;
    - one of the ``shared`` stills, which several files show.
    """
    rng = _rng(seed, 1, file_no)
    frames: list[bytes] = []
    own: list = []
    while len(frames) < n_frames:
        kind = rng.choice(4, p=[0.45, 0.3, 0.15, 0.1])
        if kind == 1:
            base = _still(rng)
            for t in range(int(rng.integers(6, 21))):
                frames.append(_frame_bytes(_moving(base, t + 1)))
            continue
        if kind == 2 and own:
            planes = own[int(rng.integers(len(own)))]
        elif kind == 3:
            planes = shared[int(rng.integers(len(shared)))]
        else:
            planes = _still(rng)
            own.append(planes)
        frames.extend([_frame_bytes(planes)] * int(rng.integers(3, 41)))
    return frames[:n_frames]


def ingest_videos(seed: int, n_videos: int, seconds: float) -> dict[str, bytes]:
    """``{file name: Y4M bytes}`` for ``n_videos`` videos of ``seconds``."""
    shared_rng = _rng(seed, 0)
    shared = [_still(shared_rng) for _ in range(4)]
    n_frames = int(round(seconds * VIDEO_FPS))
    header = (
        f"YUV4MPEG2 W{VIDEO_W} H{VIDEO_H} F{VIDEO_FPS}:1 Ip A1:1 C420jpeg\n"
    ).encode("ascii")
    return {
        f"ep{i:02d}.y4m": header + b"".join(video_frames(seed, i, n_frames, shared))
        for i in range(n_videos)
    }


# ---------------------------------------------------------------------------
# search: clustered hash-token corpus plus JPEG query images
# ---------------------------------------------------------------------------


def search_corpus(
    seed: int, n_scenes: int, scene_rows: int, planted: np.ndarray
) -> np.ndarray:
    """(n_scenes * scene_rows, 100) hash tokens, scene by scene.

    Frames of one scene share most hash bits, as consecutive video
    frames do: each row is its scene's centre with every bit flipped
    with probability 0.04. The first ``len(planted)`` scenes are centred
    on the ``planted`` token rows and start with the centre itself; the
    others are centred on random tokens. Rows are distinct."""
    rng = _rng(seed, 2)
    centers = np.vstack(
        [planted, rng.integers(0, HA_VALUES, size=(n_scenes - len(planted), HA_TOKENS))]
    )
    bits = rng.random((n_scenes * scene_rows, HA_TOKENS, 12)) < 0.04
    flips = (bits * (1 << np.arange(12))).sum(axis=2)
    tokens = np.repeat(centers, scene_rows, axis=0) ^ flips
    tokens[: len(planted) * scene_rows : scene_rows] = planted
    # a row equal to an earlier one would tie on score; nudge repeats apart
    _, first = np.unique(tokens, axis=0, return_index=True)
    dup = np.setdiff1d(np.arange(len(tokens)), first)
    tokens[dup, 0] = (tokens[dup, 0] + 1 + dup) % HA_VALUES
    return tokens


def _query_scene(rng: np.random.Generator) -> np.ndarray:
    """A 240p screenshot-like RGB image: coloured blocks plus a soft
    gradient."""
    h, w = 240, 432
    blocks = rng.integers(0, 256, size=(h // 12, w // 12, 3))
    img = np.repeat(np.repeat(blocks, 12, axis=0), 12, axis=1).astype(np.float64)
    img += np.linspace(0, 40, w)[None, :, None]
    return np.clip(img, 0, 255).astype(np.uint8)


def query_images(seed: int, n_planted: int) -> list[tuple[bool, bytes]]:
    """``2 * n_planted`` JPEG query images as (planted, bytes).

    Planted images have their own hash row in the index, at the head of
    a scene of near frames; each is followed by a perturbed copy
    (brightness shift, pixel noise, another JPEG quality) that is not
    in the index."""
    from shotit_worker_spark.functions.jpegcodec import encode_jpeg

    rng = _rng(seed, 3)
    out: list[tuple[bool, bytes]] = []
    for _ in range(n_planted):
        img = _query_scene(rng)
        noisy = img.astype(np.int16) + 12 + rng.integers(-6, 7, size=img.shape)
        out.append((True, encode_jpeg(img, quality=90)))
        out.append(
            (False, encode_jpeg(np.clip(noisy, 0, 255).astype(np.uint8), quality=75))
        )
    return out


# ---------------------------------------------------------------------------
# live: micro-batches of (vec_id, ha) with ~20% near-duplicates
# ---------------------------------------------------------------------------


def live_batches(
    seed: int, n_batches: int, rows: int, dup_frac: float = 0.2
) -> list[tuple[np.ndarray, list[str]]]:
    """``n_batches`` id-ordered batches of (vec_ids, ha strings).

    About ``dup_frac`` of the rows are near-duplicates of an earlier row
    — of an earlier batch or earlier in the same batch — with 1-2 of the
    100 tokens redrawn. vec_ids increase across batches, the order the
    LSH fold's batching invariance is stated over."""
    rng = _rng(seed, 4)
    history = np.empty((0, HA_TOKENS), dtype=np.int64)
    out = []
    for b in range(n_batches):
        tokens = rng.integers(0, HA_VALUES, size=(rows, HA_TOKENS))
        for i in np.flatnonzero(rng.random(rows) < dup_frac):
            pool = len(history) + i
            if pool == 0:
                continue
            src = int(rng.integers(pool))
            row = history[src] if src < len(history) else tokens[src - len(history)]
            row = row.copy()
            pos = rng.choice(HA_TOKENS, size=int(rng.integers(1, 3)), replace=False)
            row[pos] = rng.integers(0, HA_VALUES, size=len(pos))
            tokens[i] = row
        history = np.concatenate([history, tokens])
        ids = np.arange(b * rows, (b + 1) * rows, dtype=np.int64)
        out.append((ids, ha_strings(tokens)))
    return out
